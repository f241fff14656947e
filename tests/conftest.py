import os

import pytest

from backend_spark.session import get_session

# frozen slow-tier membership (see pytest.ini and tests/slow_tests.txt),
# keyed by path relative to this directory
_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
_SLOW_FILE = os.path.join(_TESTS_DIR, "slow_tests.txt")
with open(_SLOW_FILE) as _f:
    _SLOW = {ln.strip() for ln in _f if ln.strip() and not ln.startswith("#")}


def _collects_whole_dir(config) -> bool:
    """True when an argument names this directory or one above it."""
    for arg in config.args:
        path = os.path.abspath(os.path.join(str(config.invocation_params.dir), arg.split("::")[0]))
        if os.path.isdir(path) and os.path.commonpath([path, _TESTS_DIR]) == path:
            return True
    return False


def pytest_collection_modifyitems(session, config, items):
    seen = set()
    for item in items:
        rel = os.path.relpath(item.fspath.strpath, _TESTS_DIR).replace(os.sep, "/")
        key = rel + "::" + item.nodeid.split("::", 1)[1]
        seen.add(key)
        if key in _SLOW:
            item.add_marker(pytest.mark.slow)
    # a stale entry silently moves nothing to the slow tier; only a
    # complete, error-free collection of this directory can prove one
    if session.testsfailed == 0 and _collects_whole_dir(config):
        stale = sorted(_SLOW - seen)
        if stale:
            raise pytest.UsageError(
                f"{os.path.basename(_SLOW_FILE)} names tests that were not collected: "
                + ", ".join(stale)
            )


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", cpus=4)
    yield s
