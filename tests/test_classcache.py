"""The gateway JVM's class-data cache (``scholarmind_spark.classcache``):
eligibility, the archive's lifecycle and a CLI whose stdout stays its own.

Most tests run against a stand-in Spark home and ``java`` and launch no
JVM; the CLI test runs the real thing twice against a fresh cache."""

from __future__ import annotations

import os
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


def _recorded_key() -> str:
    """Take and drop the recording lock once; return the archive key."""
    launch = classcache.plan({})
    assert launch is not None and launch.part is not None
    launch.release()
    return launch.key


def _publish(host, key: str, size: int, manifest: int | None = None) -> str:
    path = os.path.join(_cache(host), f"{key}.jsa")
    with open(path, "wb") as f:
        f.write(b"\0" * size)
    with open(os.path.join(_cache(host), f"{key}.size"), "w") as f:
        f.write(str(size if manifest is None else manifest))
    return path


class FakeProc:
    """The gateway ``Popen`` as the exit hook sees it."""

    def __init__(self, rc: int):
        self.rc = rc
        self.stdin = open(os.devnull, "w")

    def wait(self, timeout=None):
        return self.rc

    def kill(self):
        pass


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


def test_first_launch_records_under_a_lock(host):
    launch = classcache.plan({})
    cache = _cache(host)
    assert launch.mode == "recording"
    assert launch.part == os.path.join(cache, f"{launch.key}.{os.getpid()}.part")
    assert launch.java_options.endswith(f"-XX:ArchiveClassesAtExit={launch.part}")
    assert "SharedArchiveFile" not in launch.java_options
    assert stat.S_IMODE(os.stat(cache).st_mode) == 0o700
    assert os.listdir(launch.conf_dir) == []
    assert classcache._take_lock(launch.lock) is None  # held
    launch.release()
    fd = classcache._take_lock(launch.lock)  # free again
    assert fd is not None
    os.close(fd)


def test_truncated_part_and_mismatched_archive_never_reach_the_jvm(host):
    """A dead recorder's ``.part`` and a published archive whose size
    differs from its manifest are deleted; the launch records afresh."""
    key = _recorded_key()
    cache = _cache(host)
    part = os.path.join(cache, f"{key}.4194000.part")
    with open(part, "wb") as f:
        f.write(b"\0" * 10)
    archive = _publish(host, key, 10, manifest=20)
    launch = classcache.plan({})
    try:
        assert not os.path.exists(part)
        assert not os.path.exists(archive)
        assert not os.path.exists(os.path.join(cache, f"{key}.size"))
        assert "SharedArchiveFile" not in launch.java_options
        assert launch.part is not None
    finally:
        launch.release()


def test_archive_without_manifest_is_deleted(host):
    key = _recorded_key()
    archive = _publish(host, key, 10)
    os.unlink(os.path.join(_cache(host), f"{key}.size"))
    launch = classcache.plan({})
    launch.release()
    assert not os.path.exists(archive)
    assert launch.part is not None


def test_published_archive_is_mapped_after_the_callers_options(host):
    key = _recorded_key()
    archive = _publish(host, key, 10)
    launch = classcache.plan({classcache.JAVA_OPTIONS: "-Dcaller=1 -Xss4m"})
    assert (launch.mode, launch.part, launch.lock_fd) == ("mapped", None, None)  # no lock
    assert launch.java_options == (
        "-Dcaller=1 -Xss4m -Xlog:disable -Xlog:all=warning:stderr "
        f"-XX:SharedArchiveFile={archive}"
    )


def test_failed_recording_publishes_nothing(host):
    launch = classcache.plan({})
    with open(launch.part, "wb") as f:
        f.write(b"\0" * 10)
    proc = FakeProc(rc=1)
    classcache.finish_recording(launch, proc, str(host / "jdk" / "bin" / "java"), "cp")
    assert proc.stdin.closed
    assert sorted(os.listdir(_cache(host))) == sorted(["conf", f"{launch.key}.lock"])


def test_unverified_recording_publishes_nothing(host):
    launch = classcache.plan({})
    with open(launch.part, "wb") as f:
        f.write(b"\0" * 10)
    classcache.finish_recording(launch, FakeProc(rc=0), "/bin/false", "cp")
    assert sorted(os.listdir(_cache(host))) == sorted(["conf", f"{launch.key}.lock"])


def test_verified_recording_is_published_with_its_manifest(host):
    launch = classcache.plan({})
    with open(launch.part, "wb") as f:
        f.write(b"\0" * 10)
    classcache.finish_recording(launch, FakeProc(rc=0), str(host / "jdk" / "bin" / "java"), "cp")
    key = launch.key
    assert sorted(os.listdir(_cache(host))) == sorted(
        ["conf", f"{key}.jsa", f"{key}.size", f"{key}.lock"])
    with open(launch.manifest) as f:
        assert f.read() == "10"
    assert classcache.plan({}).part is None  # the next launch maps it


def test_second_recorder_finds_the_lock_held(host, no_gateway, capsys):
    """A second process finds the lock held: its launch is exactly as
    without the cache, and it says so."""
    first = classcache.plan({})
    try:
        second = classcache.plan({})
        assert (second.mode, second.part, second.java_options) == ("busy", None, None)
        builder = FakeBuilder()
        session = classcache.get_or_create(builder, {})
        assert builder.launches == [({}, None)]
        assert session.conf == {classcache.MODE_CONF: "busy"}
        assert capsys.readouterr().err == (
            f"scholarmind_spark: class-data cache busy: {first.archive}\n")
    finally:
        first.release()


def test_dead_recorders_lock_is_free(host):
    """The kernel drops the lock of a recorder that is killed: the next
    launch records."""
    key = _recorded_key()
    lock = os.path.join(_cache(host), f"{key}.lock")
    holder = subprocess.Popen(
        [sys.executable, "-c",
         "import fcntl, os, sys; fd = os.open(sys.argv[1], os.O_RDWR); "
         "fcntl.flock(fd, fcntl.LOCK_EX); print('held', flush=True); sys.stdin.read()", lock],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        assert holder.stdout.readline() == "held\n"
        assert classcache.plan({}).mode == "busy"
    finally:
        holder.kill()
        holder.wait()
    launch = classcache.plan({})
    assert launch.mode == "recording"
    launch.release()


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
    assert os.listdir(cache) == []


def test_mapped_launch_sees_the_empty_conf_dir_then_restores_it(
        host, monkeypatch, no_gateway, capsys):
    key = _recorded_key()
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
    key = _recorded_key()
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
    key = _recorded_key()
    archive = _publish(host, key, 10)
    builder = FakeBuilder(fail=2)
    with pytest.raises(RuntimeError, match="gateway process exited"):
        classcache.get_or_create(builder, {})
    assert len(builder.launches) == 2
    assert os.path.exists(archive)
    assert classcache.plan({}).mode == "mapped"


def _cli(cache_home: str, out_dir: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, XDG_CACHE_HOME=cache_home)
    cmd = [
        sys.executable, "-m", "scholarmind_spark.cli",
        "--pubmed", f"{FIX}/pubmed.txt",
        "--wos", f"{FIX}/wos.txt",
        "--sciencedirect", f"{FIX}/sciencedirect.txt",
        "--template", f"{FIX}/template.yaml",
        "--mock-llm",
        "--output", f"{out_dir}/corpus",
        "--sheets", f"{out_dir}/sheets",
    ]
    return subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)


def test_cli_records_then_maps_and_stdout_stays_its_own(spark, tmp_path, monkeypatch, capfd):
    """Two CLI runs on one fresh cache: the first records and publishes the
    archive at exit, the second maps it.  Each prints exactly the CLI's
    own lines on stdout.  Then a truncated copy of the real archive (which
    crashes a JDK 17 that maps it) fails verification without a byte on
    our stdout, and a published truncated archive is deleted before any
    launch sees it."""
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
    assert "scholarmind_spark: class-data cache recording: " in first.stderr
    names = sorted(os.listdir(cache))
    [archive] = [n for n in names if n.endswith(".jsa")]
    key = archive[: -len(".jsa")]
    assert names == sorted(["conf", archive, f"{key}.size", f"{key}.lock"])
    archive = os.path.join(cache, archive)
    size = os.stat(archive).st_size
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
    launch = classcache.plan({})
    launch.release()
    assert launch.part is not None
    assert "SharedArchiveFile" not in launch.java_options
    assert sorted(os.listdir(cache)) == sorted(["conf", f"{key}.lock"])
