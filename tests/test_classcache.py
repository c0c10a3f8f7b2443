"""The gateway JVM's class-data cache (``scholarmind_spark.classcache``):
eligibility, the archive's build and lifecycle, and a CLI whose stdout
stays its own.

Most tests run against a stand-in Spark home and ``java`` and launch no
JVM (the build's recording session is faked); the CLI test runs the real
thing against a fresh cache: a plain CLI run, a build, a mapped CLI run."""

from __future__ import annotations

import atexit
import os
import re
import stat
import subprocess
import sys

import pytest

from scholarmind_spark import classcache

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIX = os.path.join(ROOT, "tests", "fixtures")
_ENV_OFF = (
    "SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES", "PYSPARK_SUBMIT_ARGS", "JAVA_TOOL_OPTIONS",
    "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS",
)


@pytest.fixture
def host(tmp_path, monkeypatch):
    """An eligible host: a Spark home whose conf dir holds templates only,
    a ``java`` that exits 0, an empty cache home and no class-path or JVM
    option variables.  Returns the tmp dir."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    java = tmp_path / "jdk" / "bin" / "java"
    java.parent.mkdir(parents=True)
    java.write_text("#!/bin/sh\nexit 0\n")
    java.chmod(0o755)
    for k in _ENV_OFF:
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(java.parent.parent))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return tmp_path


def _cache(host) -> str:
    return str(host / "cache" / "scholarmind_spark")


def _key() -> str:
    """Create the cache and its conf dir as a build does; return the key."""
    return classcache._target({}, create=True).key


def _publish(host, key: str, size: int, manifest: int | None = None) -> str:
    path = os.path.join(_cache(host), f"{key}.jsa")
    with open(path, "wb") as f:
        f.write(b"\0" * size)
    with open(os.path.join(_cache(host), f"{key}.size"), "w") as f:
        f.write(str(size if manifest is None else manifest))
    return path


def _snapshot(cache: str) -> dict[str, tuple[int, int, int]]:
    stats = {n: os.stat(os.path.join(cache, n)) for n in os.listdir(cache)}
    return {n: (st.st_ino, st.st_size, st.st_mtime_ns) for n, st in stats.items()}


class FakeProc:
    """The recording gateway's ``Popen`` as the build sees it."""

    def __init__(self, rc: int):
        self.rc = rc
        self.stdin = open(os.devnull, "w")

    def wait(self, timeout=None):
        return self.rc

    def kill(self):
        pass


def _fake_recording(monkeypatch, rc: int = 0, java: str | None = None) -> list[FakeProc]:
    """Replace the build's recording session: it writes a 10-byte ``.part``
    where the JVM options say and returns a gateway that exits ``rc``;
    verification runs ``java`` (the host's stand-in by default)."""
    procs: list[FakeProc] = []

    def record(launch):
        part = launch.java_options.rsplit("-XX:ArchiveClassesAtExit=", 1)[1]
        assert part == os.path.join(launch.cache, f"{launch.key}.{os.getpid()}.part")
        assert launch.java_options.startswith("-Xlog:disable ")
        with open(part, "wb") as f:
            f.write(b"\0" * 10)
        procs.append(FakeProc(rc))
        return procs[-1], java or os.path.join(os.environ["JAVA_HOME"], "bin", "java"), "cp"

    monkeypatch.setattr(classcache, "_record", record)
    return procs


class FakeConf(dict):
    def set(self, k, v):
        self[k] = v


class FakeSession:
    """What a launch returns: a session whose runtime conf is a dict."""

    def __init__(self):
        self.conf = FakeConf()


class FakeBuilder:
    """A session builder that records the conf and ``SPARK_CONF_DIR`` each
    launch sees; the first ``fail`` launches raise."""

    def __init__(self, fail: int = 0):
        self.conf: dict[str, str] = {}
        self.launches: list[tuple[dict[str, str], str | None]] = []
        self.fail = fail

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        self.launches.append((dict(self.conf), os.environ.get("SPARK_CONF_DIR")))
        if self.fail:
            self.fail -= 1
            raise RuntimeError("Java gateway process exited before sending its port number")
        return FakeSession()


@pytest.fixture
def no_gateway(monkeypatch):
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)


def test_launch_without_archive_is_plain(host, monkeypatch, no_gateway, capsys):
    """No published archive: the launch sees the caller's options and
    ``SPARK_CONF_DIR``, prints nothing, registers no exit hook and writes
    nothing, on a fresh cache and on one a build has set up."""
    hooks = []
    monkeypatch.setattr(atexit, "register", lambda *a, **k: hooks.append(a))
    conf = str(host / "spark" / "conf")
    monkeypatch.setenv("SPARK_CONF_DIR", conf)
    caller = {classcache.JAVA_OPTIONS: "-Dcaller=1"}
    for fresh in (True, False):
        if not fresh:
            _key()
            assert os.listdir(_cache(host)) == ["conf"]
        builder = FakeBuilder()
        builder.conf.update(caller)
        assert classcache.get_or_create(builder, caller).conf == {}
        assert builder.launches == [(caller, conf)]
        assert capsys.readouterr().err == ""
        assert hooks == []
        assert os.path.exists(_cache(host)) is not fresh
    assert os.listdir(_cache(host)) == ["conf"]
    assert stat.S_IMODE(os.stat(_cache(host)).st_mode) == 0o700


def test_truncated_part_and_mismatched_archive_never_reach_the_jvm(host, monkeypatch):
    """A published archive whose size differs from its manifest is deleted
    and the launch is plain; the next build deletes a dead build's
    ``.part``."""
    key = _key()
    cache = _cache(host)
    part = os.path.join(cache, f"{key}.4194000.part")
    with open(part, "wb") as f:
        f.write(b"\0" * 10)
    archive = _publish(host, key, 10, manifest=20)
    assert classcache.plan({}) is None
    assert not os.path.exists(archive)
    assert not os.path.exists(os.path.join(cache, f"{key}.size"))
    _fake_recording(monkeypatch)
    assert classcache.build() == 0
    assert not os.path.exists(part)
    assert sorted(os.listdir(cache)) == sorted(
        ["conf", f"{key}.jsa", f"{key}.size", f"{key}.lock"])


def test_archive_without_manifest_is_deleted(host):
    key = _key()
    archive = _publish(host, key, 10)
    os.unlink(os.path.join(_cache(host), f"{key}.size"))
    assert classcache.plan({}) is None
    assert not os.path.exists(archive)


def test_published_archive_is_mapped_after_the_callers_options(host):
    key = _key()
    archive = _publish(host, key, 10)
    launch = classcache.plan({classcache.JAVA_OPTIONS: "-Dcaller=1 -Xss4m"})
    assert launch.mode == "mapped"
    assert launch.java_options == (
        "-Dcaller=1 -Xss4m -Xlog:disable -Xlog:all=warning:stderr "
        f"-XX:SharedArchiveFile={archive}"
    )
    assert not os.path.exists(os.path.join(_cache(host), f"{key}.lock"))  # mapping takes no lock


def test_failed_recording_publishes_nothing(host, monkeypatch, capsys):
    procs = _fake_recording(monkeypatch, rc=1)
    assert classcache.build() == 1
    assert procs[0].stdin.closed
    key = _key()
    assert sorted(os.listdir(_cache(host))) == sorted(["conf", f"{key}.lock"])
    assert "recording JVM exited 1; nothing published" in capsys.readouterr().err


def test_unverified_recording_publishes_nothing(host, monkeypatch, capsys):
    _fake_recording(monkeypatch, java="/bin/false")
    assert classcache.build() == 1
    key = _key()
    assert sorted(os.listdir(_cache(host))) == sorted(["conf", f"{key}.lock"])
    assert "failed verification; nothing published" in capsys.readouterr().err


def test_verified_recording_is_published_with_its_manifest(host, monkeypatch, capsys):
    """The build stops the recording gateway, publishes the verified
    archive with its manifest and says so; the next launch maps it."""
    procs = _fake_recording(monkeypatch)
    assert classcache.build() == 0
    [proc] = procs
    assert proc.stdin.closed
    key = _key()
    cache = _cache(host)
    assert sorted(os.listdir(cache)) == sorted(
        ["conf", f"{key}.jsa", f"{key}.size", f"{key}.lock"])
    with open(os.path.join(cache, f"{key}.size")) as f:
        assert f.read() == "10"
    archive = os.path.join(cache, f"{key}.jsa")
    assert re.fullmatch(rf"scholarmind_spark: built {re.escape(archive)} \(0\.0 MB\) "
                        r"in \d+\.\d s\n", capsys.readouterr().out)
    assert classcache.plan({}).mode == "mapped"


def test_second_recorder_finds_the_lock_held(host, monkeypatch, capsys):
    """A build that finds another build's lock held exits 1, records
    nothing and leaves every file in the cache as it was."""
    key = _key()
    _publish(host, key, 10)
    with open(os.path.join(_cache(host), f"{key}.4194000.part"), "wb") as f:
        f.write(b"\0" * 3)
    fd = classcache._take_lock(os.path.join(_cache(host), f"{key}.lock"))
    before = _snapshot(_cache(host))
    monkeypatch.setattr(classcache, "_record", lambda launch: pytest.fail("recorded"))
    try:
        assert classcache.build() == 1
    finally:
        os.close(fd)
    assert _snapshot(_cache(host)) == before
    assert "another build holds" in capsys.readouterr().err


def test_dead_recorders_lock_is_free(host, monkeypatch):
    """The kernel drops the lock of a build that is killed: the next build
    records."""
    lock = os.path.join(_cache(host), f"{_key()}.lock")
    open(lock, "w").close()
    holder = subprocess.Popen(
        [sys.executable, "-c",
         "import fcntl, os, sys; fd = os.open(sys.argv[1], os.O_RDWR); "
         "fcntl.flock(fd, fcntl.LOCK_EX); print('held', flush=True); sys.stdin.read()", lock],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    procs = _fake_recording(monkeypatch)
    try:
        assert holder.stdout.readline() == "held\n"
        assert classcache.build() == 1
        assert procs == []
    finally:
        holder.kill()
        holder.wait()
    assert classcache.build() == 0
    assert len(procs) == 1


@pytest.mark.parametrize("case", [
    "spark_defaults", "hadoop_conf_dir", "caller_xshare", "tool_options_xlog", "submit_args",
])
def test_ineligible_host_launches_unchanged(host, monkeypatch, no_gateway, case):
    """A real conf file, a class-path variable or a caller's own CDS/log
    option: the launch sees neither a new ``SPARK_CONF_DIR`` nor new
    options, and nothing is written to the cache."""
    extra = {}
    if case == "spark_defaults":
        (host / "spark" / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    elif case == "hadoop_conf_dir":
        monkeypatch.setenv("HADOOP_CONF_DIR", str(host))
    elif case == "caller_xshare":
        extra = {classcache.JAVA_OPTIONS: "-Xshare:off"}
    elif case == "tool_options_xlog":
        monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-Xlog:gc")
    else:
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--driver-java-options -Dx=1 pyspark-shell")
    monkeypatch.setenv("SPARK_CONF_DIR", str(host / "spark" / "conf"))
    builder = FakeBuilder()
    builder.conf.update(extra)
    assert classcache.get_or_create(builder, extra).conf == {}
    assert builder.launches == [(extra, str(host / "spark" / "conf"))]
    assert not os.path.exists(_cache(host))


def test_running_gateway_is_a_no_op(host, monkeypatch):
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", object())
    builder = FakeBuilder()
    assert classcache.get_or_create(builder, {}).conf == {}
    assert builder.launches == [({}, None)]
    assert not os.path.exists(_cache(host))


@pytest.mark.parametrize("unsafe", ["group_writable", "world_writable", "other_uid"])
def test_unsafe_cache_dir_is_ignored(host, monkeypatch, unsafe):
    cache = _cache(host)
    os.makedirs(cache, mode=0o700)
    if unsafe == "group_writable":
        os.chmod(cache, 0o770)
    elif unsafe == "world_writable":
        os.chmod(cache, 0o707)
    else:
        uid = os.getuid()
        monkeypatch.setattr(os, "getuid", lambda: uid + 1)
    assert classcache.cache_dir() is None
    assert classcache.plan({}) is None
    assert classcache.build() == 1
    assert os.listdir(cache) == []


def test_mapped_launch_sees_the_empty_conf_dir_then_restores_it(
        host, monkeypatch, no_gateway, capsys):
    key = _key()
    archive = _publish(host, key, 10)
    monkeypatch.setenv("SPARK_CONF_DIR", str(host / "spark" / "conf"))
    builder = FakeBuilder()
    builder.conf[classcache.JAVA_OPTIONS] = "-Dcaller=1"
    session = classcache.get_or_create(builder, {classcache.JAVA_OPTIONS: "-Dcaller=1"})
    assert session.conf == {classcache.MODE_CONF: "mapped"}
    assert capsys.readouterr().err == f"scholarmind_spark: class-data cache mapped: {archive}\n"
    [(conf, conf_dir)] = builder.launches
    assert conf_dir == os.path.join(_cache(host), "conf")
    assert conf[classcache.JAVA_OPTIONS].startswith("-Dcaller=1 -Xlog:disable ")
    assert conf[classcache.JAVA_OPTIONS].endswith(f"-XX:SharedArchiveFile={archive}")
    assert os.environ["SPARK_CONF_DIR"] == str(host / "spark" / "conf")


def test_gateway_that_dies_on_the_archive_is_relaunched_without_it(host, no_gateway):
    """The gateway fails with the archive and starts without it: the
    archive was the cause and is deleted."""
    key = _key()
    archive = _publish(host, key, 10)
    builder = FakeBuilder(fail=1)
    assert classcache.get_or_create(builder, {}).conf == {classcache.MODE_CONF: "discarded"}
    assert "SharedArchiveFile" in builder.launches[0][0][classcache.JAVA_OPTIONS]
    assert builder.launches[1] == ({classcache.JAVA_OPTIONS: ""}, None)
    assert not os.path.exists(archive)
    assert "SPARK_CONF_DIR" not in os.environ


def test_gateway_that_dies_without_the_archive_too_keeps_it(host, no_gateway):
    """A launch that fails with and without the archive (a bad driver
    memory, a port) raises the plain launch's error; the archive stays."""
    key = _key()
    archive = _publish(host, key, 10)
    builder = FakeBuilder(fail=2)
    with pytest.raises(RuntimeError, match="gateway process exited"):
        classcache.get_or_create(builder, {})
    assert len(builder.launches) == 2
    assert os.path.exists(archive)
    assert classcache.plan({}).mode == "mapped"


def _run(cache_home: str, *args: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, XDG_CACHE_HOME=cache_home)
    return subprocess.run([sys.executable, "-m", *args], cwd=ROOT, env=env,
                          capture_output=True, text=True, timeout=600)


def _cli(cache_home: str, out_dir: str) -> subprocess.CompletedProcess:
    return _run(
        cache_home, "scholarmind_spark.cli",
        "--pubmed", f"{FIX}/pubmed.txt",
        "--wos", f"{FIX}/wos.txt",
        "--sciencedirect", f"{FIX}/sciencedirect.txt",
        "--template", f"{FIX}/template.yaml",
        "--mock-llm",
        "--output", f"{out_dir}/corpus",
        "--sheets", f"{out_dir}/sheets",
    )


def test_cli_runs_plain_then_maps_the_built_archive_and_stdout_stays_its_own(
        spark, tmp_path, monkeypatch, capfd):
    """On a fresh cache a CLI run launches plain and writes nothing there;
    ``build`` publishes the archive; the next CLI run maps it.  Each CLI
    run prints exactly its own lines on stdout.  Then a truncated copy of
    the real archive (which crashes a JDK 17 that maps it) fails
    verification without a byte on our stdout, and a published truncated
    archive is deleted before any launch sees it."""
    cache_home = str(tmp_path / "cache")
    cache = os.path.join(cache_home, "scholarmind_spark")

    def expected(out_dir):
        return (
            f"wrote 3 records to {out_dir}/corpus\n"
            "wrote sheets: PubMed, Results, ScienceDirect, WOS\n"
        )

    first = _cli(cache_home, str(tmp_path / "a"))
    assert first.returncode == 0, first.stderr[-3000:]
    assert first.stdout == expected(tmp_path / "a")
    assert "class-data cache" not in first.stderr
    assert not os.path.exists(cache_home)

    built = _run(cache_home, "scholarmind_spark.classcache", "build")
    assert built.returncode == 0, built.stderr[-3000:]
    names = sorted(os.listdir(cache))
    [archive] = [n for n in names if n.endswith(".jsa")]
    key = archive[: -len(".jsa")]
    assert names == sorted(["conf", archive, f"{key}.size", f"{key}.lock"])
    archive = os.path.join(cache, archive)
    size = os.stat(archive).st_size
    assert re.fullmatch(rf"scholarmind_spark: built {re.escape(archive)} \(\d+\.\d MB\) "
                        r"in \d+\.\d s\n", built.stdout)
    with open(os.path.join(cache, f"{key}.size")) as f:
        assert int(f.read()) == size > 0
    recorded = os.stat(archive)

    second = _cli(cache_home, str(tmp_path / "b"))
    assert second.returncode == 0, second.stderr[-3000:]
    assert second.stdout == expected(tmp_path / "b")
    assert f"scholarmind_spark: class-data cache mapped: {archive}" in second.stderr
    assert "[cds]" not in second.stderr  # a refused archive warns here
    assert sorted(os.listdir(cache)) == names
    now = os.stat(archive)
    assert (now.st_ino, now.st_mtime_ns) == (recorded.st_ino, recorded.st_mtime_ns)

    # The CLI's class path: this session's, behind the cache's conf dir.
    entries = spark._jvm.System.getProperty("java.class.path").split(os.pathsep)
    class_path = os.pathsep.join([os.path.join(cache, "conf", "")] + entries[1:])
    java = classcache._java()
    truncated = str(tmp_path / "truncated.jsa")
    with open(archive, "rb") as src, open(truncated, "wb") as dst:
        dst.write(src.read(size * 2 // 3))
    capfd.readouterr()
    assert classcache.verify(java, archive, class_path, str(tmp_path), key)
    assert not classcache.verify(java, truncated, class_path, str(tmp_path), key)
    assert capfd.readouterr().out == ""

    os.replace(truncated, archive)
    monkeypatch.setenv("XDG_CACHE_HOME", cache_home)
    assert classcache.plan({}) is None
    assert sorted(os.listdir(cache)) == sorted(["conf", f"{key}.lock"])
