"""A class-data archive for the gateway JVM, built once and mapped by every run.

A fresh driver JVM spends most of its start loading, parsing and verifying
the classes of ``$SPARK_HOME/jars``.  JDK 13+ can write the classes a JVM
loaded into an AppCDS archive at exit (``-XX:ArchiveClassesAtExit``) and
map it on later starts (``-XX:SharedArchiveFile``), skipping that work.
``python -m scholarmind_spark.classcache build`` records the archive
(:func:`build`), and :func:`get_or_create` maps it whenever
:func:`scholarmind_spark.session.get_spark` launches a new gateway JVM.
Without a published archive the launch is exactly
``builder.getOrCreate()``: no run records, writes to the cache or waits
at exit.  No query, plan, job or conf changes but :data:`MODE_CONF`.

**Where.**  ``$XDG_CACHE_HOME/scholarmind_spark/`` (``~/.cache/...`` by
default), made 0700 by the build and ignored when group- or
world-writable, owned by another uid or not writable.  The key digests
the ``java`` binary and JDK image, ``SPARK_HOME``, the name, size and
mtime of each jar in ``$SPARK_HOME/jars`` and the caller's
``spark.driver.extraClassPath``.  Files: ``<key>.jsa`` (the archive),
``<key>.size`` (its manifest: its size in bytes), ``<key>.<pid>.part``
(a build's recording), ``<key>.lock`` (the build's ``flock``) and
``conf/`` (empty: the launch's ``SPARK_CONF_DIR``).

**An archive belongs to its cache directory's path.**  The launch's class
path starts with ``<cache>/conf/`` and the JVM maps an archive only for
the class path it was recorded with, so a copied or moved cache, or the
same files under another ``XDG_CACHE_HOME`` path, maps nothing (``java
-Xshare:on`` fails with "shared class paths mismatch"; the default
``-Xshare:auto`` starts without it) while the stderr line still says
``mapped``.  Build the archive where it is used.

**Eligibility.**  The JVM prints some archive errors on stdout whatever
``-Xlog`` says ("Cannot have non-empty directory in paths"; JDK 17's
SIGBUS banner for a truncated archive), which a CLI whose stdout is its
output cannot have.  So the cache is used only when:

- the effective conf dir (``SPARK_CONF_DIR`` or ``$SPARK_HOME/conf``)
  holds only ``*.template`` files.  The launcher puts it on the class
  path and the JVM refuses a non-empty directory there, so the launch
  points ``SPARK_CONF_DIR`` at ``conf/`` and restores it afterwards;
- ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``, ``SPARK_DIST_CLASSPATH`` and
  ``SPARK_PREPEND_CLASSES`` are unset (each adds to the class path);
- the caller passes no ``-Xshare``, ``SharedArchiveFile``,
  ``ArchiveClassesAtExit`` or ``-Xlog`` option (in
  ``spark.driver.extraJavaOptions``, ``spark.driver.defaultJavaOptions``
  or the JVM option variables) and ``PYSPARK_SUBMIT_ARGS`` is unset or
  ``pyspark-shell``.  Any ``-Xshare`` option keeps the cache off;
- the cache dir exists and passes the checks above, its path needs no
  quoting and its ``conf/`` is empty.  Otherwise the launch is exactly
  what it would be without this module.

**Mapping.**  If ``<key>.jsa`` exists and its size matches its manifest,
``-Xlog:disable -Xlog:all=warning:stderr -XX:SharedArchiveFile=<key>.jsa``
is appended to the caller's ``spark.driver.extraJavaOptions``.  A
mismatched or manifest-less archive is deleted first and never reaches
the JVM.  A gateway that still fails to start is relaunched once without
the archive, which is deleted only if that relaunch starts; otherwise
the plain launch's error is raised and the archive kept.  The launch
prints one stderr line (``scholarmind_spark: class-data cache <mode>:
<archive>``) and sets :data:`MODE_CONF` to its mode, ``mapped`` or
``discarded``.  Any other launch prints nothing and leaves it unset.

**Building.**  The build takes ``<key>.lock`` with a non-blocking
``flock``, which the kernel drops when its holder dies (a build that
finds it held exits 1 and changes nothing), deletes dead builds'
``.part`` files and the archive, and starts a session through
``get_spark`` and the same ``conf/`` redirect with
``-XX:ArchiveClassesAtExit=<key>.<pid>.part`` (``cds`` warnings
dropped).  It runs the engine warm-up query, a pass-through
``mapInPandas`` job and a parquet write and read, stops the session,
closes the gateway's stdin and waits for the exit dump.  If the JVM
exited 0 and a JVM maps the ``.part`` with ``-Xshare:on`` and the
recorded class path (output captured, ``-XX:ErrorFile`` in the cache),
it writes the manifest, publishes by rename and prints the archive's
size and its own wall time; else it exits 1.
"""

from __future__ import annotations

import fcntl
import glob
import hashlib
import logging
import os
import shutil
import stat
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass

_log = logging.getLogger(__name__)

JAVA_OPTIONS = "spark.driver.extraJavaOptions"
MODE_CONF = "spark.scholarmind.classcache"
_QUIET = "-Xlog:disable -Xlog:all=warning:stderr"
_QUIET_DUMP = "-Xlog:disable -Xlog:all=warning,cds*=error:stderr"
_CALLER_CDS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit", "-Xlog")
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES")
_JVM_OPTION_ENV = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")
_EXIT_TIMEOUT_S = 120  # the dump takes seconds
_VERIFY_TIMEOUT_S = 60


@dataclass
class Launch:
    """A gateway launch through the cache: its mode, JVM options and the caller's own."""

    cache: str
    key: str
    caller_options: str | None
    java_options: str | None = None
    mode: str = "mapped"

    @property
    def archive(self) -> str:
        return os.path.join(self.cache, f"{self.key}.jsa")

    @property
    def manifest(self) -> str:
        return os.path.join(self.cache, f"{self.key}.size")

    @property
    def conf_dir(self) -> str:
        return os.path.join(self.cache, "conf")


def get_or_create(builder, extra_conf: dict[str, str]):
    """``builder.getOrCreate()``, mapping the published archive when the
    launch is eligible (see the module docstring).  ``extra_conf`` is what
    the caller put on the builder; a running gateway changes nothing."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder.getOrCreate()
    launch = plan(extra_conf)
    if launch is None:
        return builder.getOrCreate()
    spark = _launch_through(builder, launch)
    print(f"scholarmind_spark: class-data cache {launch.mode}: {launch.archive}",
          file=sys.stderr, flush=True)
    spark.conf.set(MODE_CONF, launch.mode)
    return spark


def _launch_through(builder, launch: Launch):
    """Launch with the archive and the cache's conf dir.  A gateway that
    fails to start is relaunched once without the archive, which is
    deleted only if that relaunch starts."""
    from pyspark import SparkContext

    try:
        with _conf_dir(launch.conf_dir):
            return builder.config(JAVA_OPTIONS, launch.java_options).getOrCreate()
    except Exception:
        if SparkContext._gateway is not None:
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


@contextmanager
def _conf_dir(conf_dir: str):
    """Point ``SPARK_CONF_DIR`` at ``conf_dir`` for a launch, then restore it."""
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        os.environ.pop("SPARK_CONF_DIR")
        if saved is not None:
            os.environ["SPARK_CONF_DIR"] = saved


def plan(extra_conf: dict[str, str]) -> Launch | None:
    """A ``mapped`` :class:`Launch` when the launch is eligible and the
    archive is published, else None.  Creates nothing."""
    launch = _target(extra_conf, create=False)
    if launch is None or not _published(launch):
        return None
    before = f"{launch.caller_options} " if launch.caller_options else ""  # never replace
    launch.java_options = f"{before}{_QUIET} -XX:SharedArchiveFile={launch.archive}"
    return launch


def _target(extra_conf: dict[str, str], create: bool) -> Launch | None:
    """The cache and key a launch with ``extra_conf`` uses, or None when not
    eligible.  ``create`` (the build) makes the cache and conf dirs."""
    env = os.environ
    spark_home = _spark_home()
    java = _java()
    if spark_home is None or java is None or any(env.get(k) for k in _CLASSPATH_ENV):
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
    cache = cache_dir(create)
    if cache is None:
        return None
    conf_dir = os.path.join(cache, "conf")
    try:
        if create:
            os.makedirs(conf_dir, mode=0o700, exist_ok=True)
        if os.listdir(conf_dir):
            return None
        key = _key(java, spark_home, extra_conf.get("spark.driver.extraClassPath", ""))
    except OSError:
        return None
    return Launch(cache, key, caller)


def build() -> int:
    """Record, verify and publish the archive (module docstring); 0 when published."""
    start = time.perf_counter()
    launch = _target({}, create=True)
    if launch is None:
        print("scholarmind_spark: the class-data cache is off here; nothing built",
              file=sys.stderr)
        return 1
    lock = os.path.join(launch.cache, f"{launch.key}.lock")
    lock_fd = _take_lock(lock)
    if lock_fd is None:
        print(f"scholarmind_spark: another build holds {lock}; nothing built", file=sys.stderr)
        return 1
    part = os.path.join(launch.cache, f"{launch.key}.{os.getpid()}.part")
    try:
        for p in glob.glob(os.path.join(launch.cache, f"{launch.key}.*.part")):
            _unlink(p)  # we hold the lock: every .part is a dead build's
        # launches run plain until the new archive is published
        _unlink(launch.archive)
        _unlink(launch.manifest)
        launch.java_options = f"{_QUIET_DUMP} -XX:ArchiveClassesAtExit={part}"
        if not finish_recording(launch, part, *_record(launch)):
            return 1
    finally:
        _unlink(part)
        for p in glob.glob(os.path.join(launch.cache, f"{launch.key}.hs_err_*.log")):
            _unlink(p)
        os.close(lock_fd)  # closing the last descriptor drops the flock
    size = os.stat(launch.archive).st_size
    print(f"scholarmind_spark: built {launch.archive} ({size / 1e6:.1f} MB) "
          f"in {time.perf_counter() - start:.1f} s")
    return 0


def _record(launch: Launch):
    """Run a session that records its classes at exit over jobs most runs'
    classes load; return its gateway process, ``java`` and class path."""
    from pyspark.sql import Window, functions as F
    from pyspark.sql.types import DecimalType, StringType

    from scholarmind_spark.pipeline import _WARMUP_SCHEMA, _pass_batches
    from scholarmind_spark.session import get_spark

    with _conf_dir(launch.conf_dir):
        spark = get_spark(app_name="scholarmind-classcache-build", master="local[*]",
                          extra_conf={JAVA_OPTIONS: launch.java_options})
    try:
        sc = spark.sparkContext
        sc._engine_warmup.join()  # session._warmup_frame
        n = sc.defaultParallelism
        spark.range(0, n, 1, n).mapInPandas(_pass_batches, schema=_WARMUP_SCHEMA).collect()
        with tempfile.TemporaryDirectory() as tmp:  # string, date, decimal; sort, window
            path = os.path.join(tmp, "t.parquet")
            t = spark.range(0, 1 << 12, 1, n)
            t.select("id", (t.id % 7).cast(StringType()).alias("s"), F.current_date().alias("d"),
                     (t.id / 8).cast(DecimalType(12, 2)).alias("m")).write.parquet(path)
            rank = F.row_number().over(Window.partitionBy("s").orderBy("m"))
            spark.read.parquet(path).withColumn("r", rank).orderBy("d", "id").collect()
        java = os.path.join(sc._jvm.System.getProperty("java.home"), "bin", "java")
        class_path = sc._jvm.System.getProperty("java.class.path")
        proc = sc._gateway.proc
    finally:
        spark.stop()
    return proc, java, class_path


def finish_recording(launch: Launch, part: str, proc, java: str, class_path: str) -> bool:
    """Close the recording gateway's stdin (the JVM exits on EOF), wait for
    its exit dump, verify ``part`` and publish it; True when published."""
    if proc.stdin is not None and not proc.stdin.closed:
        proc.stdin.close()
    try:
        rc = proc.wait(timeout=_EXIT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = None
    if rc != 0:
        print(f"scholarmind_spark: recording JVM exited {rc}; nothing published", file=sys.stderr)
        return False
    if not verify(java, part, class_path, launch.cache, launch.key):
        print(f"scholarmind_spark: {part} failed verification; nothing published", file=sys.stderr)
        return False
    _write_atomic(launch.manifest, str(os.stat(part).st_size))
    os.replace(part, launch.archive)
    return True


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


def cache_dir(create: bool = True) -> str | None:
    """The cache directory, created 0700 if missing and ``create``, or None
    when it is missing, unsafe or unusable: group- or world-writable,
    owned by another uid, not a directory, not writable, or a path the
    launcher would split."""
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    path = os.path.join(base, "scholarmind_spark")
    if any(c.isspace() or c in "\"'\\" for c in path):
        return None
    try:
        if create:
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
        with open(launch.manifest) as f:
            ok = int(f.read()) == size
    except (OSError, ValueError):
        ok = False
    if not ok:
        _log.warning("class-data archive %s does not match its manifest; deleted", launch.archive)
        _unlink(launch.archive)
        _unlink(launch.manifest)
    return ok


def _take_lock(path: str) -> int | None:
    """An open descriptor holding an exclusive ``flock`` on the build lock,
    or None when another process holds it.  The kernel drops the lock
    when its holder exits, however it exits."""
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


if __name__ == "__main__":
    if sys.argv[1:] != ["build"]:
        sys.exit("usage: python -m scholarmind_spark.classcache build")
    sys.exit(build())
