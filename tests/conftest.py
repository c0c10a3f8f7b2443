from __future__ import annotations

import atexit
import os
import shutil
import tempfile

import pytest

from scholarmind_spark.session import get_spark

# The JVM class-data cache (scholarmind_spark.classcache) lives under
# $XDG_CACHE_HOME.  Give the test session, and every CLI subprocess it
# starts, an empty cache of its own, so a test run never maps or deletes
# the developer's archive in ~/.cache.
_CACHE_HOME = tempfile.mkdtemp(prefix="scholarmind-test-cache-")
os.environ["XDG_CACHE_HOME"] = _CACHE_HOME
atexit.register(shutil.rmtree, _CACHE_HOME, True)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="scholarmind-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()
