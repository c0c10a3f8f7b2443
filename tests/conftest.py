from __future__ import annotations

import atexit
import os
import shutil
import tempfile

import pytest

from scholarmind_spark.session import get_spark

# The JVM class-data cache (scholarmind_spark.classcache) lives under
# $XDG_CACHE_HOME.  Give the test session, and every CLI subprocess it
# starts, a cache of its own, so a test run never writes the developer's
# ~/.cache.  Registered before any get_spark can register a recording
# hook, so the directory is removed after that JVM's exit dump is done.
_CACHE_HOME = tempfile.mkdtemp(prefix="scholarmind-test-cache-")
os.environ["XDG_CACHE_HOME"] = _CACHE_HOME
atexit.register(shutil.rmtree, _CACHE_HOME, True)


@pytest.fixture(scope="session")
def spark():
    # -Xshare:auto (the JVM's default) keeps the cache off for the shared
    # session: recording in it would cost an exit dump and test nothing
    # that tests/test_classcache.py's CLI runs do not.
    s = get_spark(app_name="scholarmind-tests", master="local[4]", shuffle_partitions=4,
                  extra_conf={"spark.driver.extraJavaOptions": "-Xshare:auto"})
    yield s
    s.stop()
