"""A class-data archive for the gateway JVM, kept between runs.

A fresh driver JVM spends most of its start loading, parsing and verifying
the classes of ``$SPARK_HOME/jars``.  JDK 13+ can write the classes a run
loaded into an AppCDS archive when the JVM exits
(``-XX:ArchiveClassesAtExit``) and map that archive on later starts
(``-XX:SharedArchiveFile``), which skips the parsing and verification.
:func:`get_or_create` does this for
:func:`scholarmind_spark.session.get_spark` whenever it launches a new
gateway JVM.  Nothing else changes: no query, plan or job, and no conf
but :data:`MODE_CONF`, which says what the launch did.

**Where.**  ``$XDG_CACHE_HOME/scholarmind_spark/`` (``~/.cache/...`` by
default), created with mode 0700.  A cache dir that is group- or
world-writable, owned by another uid or not writable is ignored.  Each
archive is keyed by a digest of the ``java`` binary (and the JDK image
beside it), ``SPARK_HOME``, the name, size and mtime of every jar in
``$SPARK_HOME/jars`` and the caller's ``spark.driver.extraClassPath``:

- ``<key>.jsa``: the published archive; ``<key>.size``: its manifest, the
  archive's size in bytes;
- ``<key>.<pid>.part``: the archive process ``pid`` is recording;
- ``<key>.lock``: an empty file the one recording process holds an
  exclusive ``flock`` on;
- ``conf/``: an empty directory, the launch's ``SPARK_CONF_DIR``.

**Eligibility.**  The JVM prints some of its archive errors on stdout,
whatever ``-Xlog`` says: "Cannot have non-empty directory in paths" and
the crash banner of a truncated archive (JDK 17 dies with SIGBUS in
``FileMapInfo::relocate_pointers_in_core_regions``).  A CLI whose stdout
is its output cannot have either, so the cache is used only when:

- the effective conf dir (``SPARK_CONF_DIR`` or ``$SPARK_HOME/conf``)
  holds only ``*.template`` files.  Spark's launcher puts that directory
  on the driver's class path and the JVM refuses to archive a class path
  with a non-empty directory, so the launch points ``SPARK_CONF_DIR`` at
  ``conf/`` and restores it afterwards; with templates only, the launch
  reads nothing from the real one either;
- ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``, ``SPARK_DIST_CLASSPATH`` and
  ``SPARK_PREPEND_CLASSES`` are unset (each puts more on the class path);
- the caller passes no ``-Xshare``, ``SharedArchiveFile``,
  ``ArchiveClassesAtExit`` or ``-Xlog`` option (ours would override or
  switch off the caller's), in ``spark.driver.extraJavaOptions``,
  ``spark.driver.defaultJavaOptions`` or the JVM option variables, and
  ``PYSPARK_SUBMIT_ARGS`` is unset or the default ``pyspark-shell``;
- the cache dir passes the checks above and its path needs no quoting.

Otherwise the launch is exactly what it would be without this module.
Passing any ``-Xshare`` option is how a caller keeps it off.

**Mapping.**  If ``<key>.jsa`` exists and its size matches its manifest,
``-Xlog:disable -Xlog:all=warning:stderr -XX:SharedArchiveFile=<key>.jsa``
is appended to the caller's ``spark.driver.extraJavaOptions``.  An archive
whose size differs, or that has no manifest, is deleted first and never
reaches the JVM.  If the gateway still fails to start, the launch is
retried once without the archive; only when that succeeds is the archive
deleted (it was the cause), otherwise the plain launch's error is raised
and the archive kept.

**Recording.**  Otherwise one process at a time holds ``<key>.lock``
(a non-blocking ``flock``, which the kernel drops when its process dies,
so a crashed recorder leaves no lock to recover), deletes the ``.part``
files a dead recorder left and launches with
``-XX:ArchiveClassesAtExit=<key>.<pid>.part`` (its ``cds`` warnings, one
per class the dump skips, are dropped; everything else warns on stderr).
A process that finds the lock held launches without the cache.  An
``atexit`` hook closes the gateway's stdin, waits for the JVM's exit dump
and publishes the ``.part`` by atomic rename, after writing its size
manifest, only if the JVM exited 0 and a verification JVM maps it with
``-Xshare:on`` and the recorded ``java.class.path`` (stdout captured,
``-XX:ErrorFile`` inside the cache dir).  Then it deletes the ``.part``
and releases the lock.  The recording run pays for it once: on a 4-vCPU
host its start and cold pass take ~20-35% longer and the dump takes
5-13 s at exit, for an archive of ~150-200 MB.  Every later start maps
the archive.  A host whose cache does not persist (an ephemeral
``HOME``, a fresh container) pays the recording run every time;
``-Xshare:auto`` in the JVM options keeps the cache off there.

**Which case applied.**  Every launch through the cache prints one line
on stderr (``scholarmind_spark: class-data cache <mode>: <archive>``)
and sets :data:`MODE_CONF` on the session to its mode: ``mapped``,
``recording``, ``busy`` (another process is recording; this launch is as
without the cache) or ``discarded`` (the gateway failed to start with
the archive and started without it).  A launch that is not eligible
prints nothing and leaves the conf unset.
"""

from __future__ import annotations

import atexit
import fcntl
import glob
import hashlib
import logging
import os
import shutil
import stat
import subprocess
import sys
from dataclasses import dataclass

_log = logging.getLogger(__name__)

JAVA_OPTIONS = "spark.driver.extraJavaOptions"
MODE_CONF = "spark.scholarmind.classcache"
_QUIET = "-Xlog:disable -Xlog:all=warning:stderr"
_QUIET_DUMP = "-Xlog:disable -Xlog:all=warning,cds*=error:stderr"
_CALLER_CDS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit", "-Xlog")
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES")
_JVM_OPTION_ENV = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")
_MIN_FREE_BYTES = 1 << 30  # room for the exit dump
_EXIT_TIMEOUT_S = 120  # the dump takes seconds
_VERIFY_TIMEOUT_S = 60


@dataclass
class Launch:
    """One gateway launch through the cache: its mode, the
    ``extraJavaOptions`` to pass, the empty conf dir, and for a recording
    run the ``.part`` path and the descriptor that holds the lock."""

    cache: str
    key: str
    mode: str
    java_options: str | None
    caller_options: str | None
    part: str | None = None
    lock_fd: int | None = None

    @property
    def archive(self) -> str:
        return os.path.join(self.cache, f"{self.key}.jsa")

    @property
    def manifest(self) -> str:
        return os.path.join(self.cache, f"{self.key}.size")

    @property
    def lock(self) -> str:
        return os.path.join(self.cache, f"{self.key}.lock")

    @property
    def conf_dir(self) -> str:
        return os.path.join(self.cache, "conf")

    def release(self) -> None:
        """Delete this run's ``.part`` and crash reports and drop the lock
        (recording runs only)."""
        if self.part is None:
            return
        _unlink(self.part)
        for p in glob.glob(os.path.join(self.cache, f"{self.key}.hs_err_*.log")):
            _unlink(p)
        if self.lock_fd is not None:
            os.close(self.lock_fd)  # closing the last descriptor drops the flock
            self.lock_fd = None


def get_or_create(builder, extra_conf: dict[str, str]):
    """``builder.getOrCreate()``, launching a new gateway JVM through the
    class-data cache when it is eligible (see the module docstring).
    ``extra_conf`` is what the caller put on the builder; a running
    gateway leaves everything as it is."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder.getOrCreate()
    launch = plan(extra_conf)
    if launch is None:
        return builder.getOrCreate()
    if launch.mode == "busy":
        spark = builder.getOrCreate()
    else:
        spark = _launch_through(builder, launch)
    _report(spark, launch)
    return spark


def _launch_through(builder, launch: Launch):
    """Launch with the cache's options and conf dir.  A gateway that fails
    to start while mapping is relaunched once without the archive, which is
    deleted only if that relaunch starts."""
    from pyspark import SparkContext

    try:
        spark = _launch(builder.config(JAVA_OPTIONS, launch.java_options), launch.conf_dir)
    except BaseException as e:
        launch.release()
        if not isinstance(e, Exception) or launch.part or SparkContext._gateway is not None:
            raise
        # raises the plain launch's own error, and keeps the archive, when
        # the archive was not what stopped the gateway
        spark = builder.config(JAVA_OPTIONS, launch.caller_options or "").getOrCreate()
        _log.warning("gateway failed to start with the class-data archive %s and started "
                     "without it; archive deleted", launch.archive, exc_info=True)
        _unlink(launch.archive)
        _unlink(launch.manifest)
        launch.mode = "discarded"
        return spark
    if launch.part is not None:
        sc = spark.sparkContext
        java = os.path.join(sc._jvm.System.getProperty("java.home"), "bin", "java")
        class_path = sc._jvm.System.getProperty("java.class.path")
        atexit.register(_at_exit, launch, sc._gateway.proc, java, class_path)
    return spark


def _report(spark, launch: Launch) -> None:
    """Say which case applied: one stderr line and :data:`MODE_CONF`."""
    print(f"scholarmind_spark: class-data cache {launch.mode}: {launch.archive}",
          file=sys.stderr, flush=True)
    spark.conf.set(MODE_CONF, launch.mode)


def _at_exit(launch: Launch, proc, java: str, class_path: str) -> None:
    """Stop a context the caller left running, from Python, so its
    accumulator server shuts down instead of seeing the JVM's end of the
    socket close under it; then finish the recording."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # the JVM still exits and dumps on EOF
            _log.debug("stopping the context before the dump failed", exc_info=True)
    finish_recording(launch, proc, java, class_path)


def _launch(builder, conf_dir: str):
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def plan(extra_conf: dict[str, str]) -> Launch | None:
    """Decide how the next gateway launch uses the cache: a ``mapped``,
    ``recording`` or ``busy`` :class:`Launch` (another process holds the
    lock: launch as without the cache), or None when not eligible."""
    env = os.environ
    spark_home = _spark_home()
    java = _java()
    if spark_home is None or java is None:
        return None
    if any(env.get(k) for k in _CLASSPATH_ENV):
        return None
    if env.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell").strip() != "pyspark-shell":
        return None
    caller = extra_conf.get(JAVA_OPTIONS)
    options = [caller, extra_conf.get("spark.driver.defaultJavaOptions")]
    options += [env.get(k) for k in _JVM_OPTION_ENV]
    if any(flag in o for o in options if o for flag in _CALLER_CDS):
        return None
    if not _only_templates(env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")):
        return None
    cache = cache_dir()
    if cache is None:
        return None
    conf_dir = os.path.join(cache, "conf")
    try:
        os.makedirs(conf_dir, mode=0o700, exist_ok=True)
        if os.listdir(conf_dir):
            return None
        key = _key(java, spark_home, extra_conf.get("spark.driver.extraClassPath", ""))
    except OSError:
        return None
    before = f"{caller} " if caller else ""  # append to the caller's, never replace
    launch = Launch(cache, key, "mapped", None, caller)
    if _published(launch):
        launch.java_options = f"{before}{_QUIET} -XX:SharedArchiveFile={launch.archive}"
        return launch
    if shutil.disk_usage(cache).free < _MIN_FREE_BYTES:
        return None
    launch.lock_fd = _take_lock(launch.lock)
    if launch.lock_fd is None:
        launch.mode = "busy"
        return launch
    for p in glob.glob(os.path.join(cache, f"{key}.*.part")):
        _unlink(p)  # we hold the lock: every .part is a dead recorder's
    launch.mode = "recording"
    launch.part = os.path.join(cache, f"{key}.{os.getpid()}.part")
    launch.java_options = f"{before}{_QUIET_DUMP} -XX:ArchiveClassesAtExit={launch.part}"
    return launch


def finish_recording(launch: Launch, proc, java: str, class_path: str) -> None:
    """The recording run's exit hook: close the gateway's stdin (the JVM
    exits on EOF), wait for its exit dump, verify and publish."""
    try:
        if proc.stdin is not None and not proc.stdin.closed:
            proc.stdin.close()
        try:
            rc = proc.wait(timeout=_EXIT_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
        if rc != 0:
            _log.info("class-data recording JVM exited %s; nothing published", rc)
        elif verify(java, launch.part, class_path, launch.cache, launch.key):
            _write_atomic(launch.manifest, str(os.stat(launch.part).st_size))
            os.replace(launch.part, launch.archive)
        else:
            _log.info("class-data archive %s failed verification; discarded", launch.part)
    except OSError:
        _log.info("class-data recording not published", exc_info=True)
    finally:
        launch.release()


def verify(java: str, archive: str, class_path: str, cache: str, key: str) -> bool:
    """True when a JVM maps ``archive`` with ``-Xshare:on`` (which fails
    instead of falling back) for ``class_path``.  Its stdout and stderr
    are captured and a crash report lands in the cache dir."""
    error_file = os.path.join(cache, f"{key}.hs_err_%p.log")
    cmd = [java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
           f"-XX:ErrorFile={error_file}", *_QUIET.split(), "-cp", class_path, "-version"]
    try:
        done = subprocess.run(cmd, stdin=subprocess.DEVNULL, capture_output=True,
                              timeout=_VERIFY_TIMEOUT_S, check=False)
    except (OSError, subprocess.TimeoutExpired):
        return False
    return done.returncode == 0


def cache_dir() -> str | None:
    """The cache directory, created 0700 if missing, or None when it is
    unsafe or unusable: group- or world-writable, owned by another uid,
    not a directory, not writable, or a path the launcher would split."""
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    path = os.path.join(base, "scholarmind_spark")
    if any(c.isspace() or c in "\"'\\" for c in path):
        return None
    try:
        os.makedirs(path, mode=0o700, exist_ok=True)
        st = os.lstat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid() or st.st_mode & 0o022:
        return None
    return path if os.access(path, os.W_OK | os.X_OK) else None


def _spark_home() -> str | None:
    from pyspark.find_spark_home import _find_spark_home

    home = _find_spark_home()  # the lookup the gateway launch makes
    return home if os.path.isdir(os.path.join(home, "jars")) else None


def _java() -> str | None:
    """The ``java`` Spark's launcher runs: ``$JAVA_HOME/bin/java``, else the
    one on ``PATH``."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _key(java: str, spark_home: str, extra_class_path: str) -> str:
    h = hashlib.sha256()
    with open(java, "rb") as f:
        h.update(f.read())
    java_home = os.path.dirname(os.path.dirname(java))
    lines = [java, os.path.realpath(spark_home), extra_class_path]
    for rel in ("lib/modules", "lib/server/libjvm.so"):
        try:
            st = os.stat(os.path.join(java_home, rel))
            lines.append(f"{rel} {st.st_size} {st.st_mtime_ns}")
        except OSError:
            lines.append(rel)
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        lines.append(f"{name} {st.st_size} {st.st_mtime_ns}")
    h.update("\n".join(lines).encode())
    return h.hexdigest()[:20]


def _only_templates(conf_dir: str) -> bool:
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return True
    except OSError:
        return False
    return all(
        n.endswith(".template") and os.path.isfile(os.path.join(conf_dir, n)) for n in names
    )


def _published(launch: Launch) -> bool:
    """True when the archive exists and its size matches its manifest; a
    mismatched or manifest-less archive is deleted."""
    try:
        size = os.stat(launch.archive).st_size
    except FileNotFoundError:
        return False
    try:
        ok = int(_read(launch.manifest)) == size
    except ValueError:
        ok = False
    if not ok:
        _log.warning("class-data archive %s does not match its manifest; deleted", launch.archive)
        _unlink(launch.archive)
        _unlink(launch.manifest)
    return ok


def _take_lock(path: str) -> int | None:
    """An open descriptor holding an exclusive ``flock`` on the recorder
    lock, or None when another process holds it.  The kernel drops the
    lock when its holder exits, however it exits."""
    try:
        fd = os.open(path, os.O_RDWR | os.O_CREAT, 0o600)
    except OSError:
        return None
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(fd)
        return None
    return fd


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


def _write_atomic(path: str, text: str) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _unlink(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass
