from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from entangledb_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("ENTANGLE_TEST_SF_DIR", "/root/testdata/sf0.001")

# Slow-tier manifest: node ids (relative to the repo root) of the
# multi-minute stress/fuzz/e2e tests. pyproject's addopts deselects them by
# default so the standard invocation finishes inside a CI/verify window;
# `pytest -m slow` runs just this tier. Regenerate with
# `pytest --durations=0` and a >=5s cutoff (keep oracle-parity tests fast —
# they are the correctness mirror).
_SLOW_MANIFEST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "slow_tests.txt")


def _slow_node_ids() -> frozenset[str]:
    try:
        with open(_SLOW_MANIFEST, encoding="utf-8") as f:
            return frozenset(ln.strip() for ln in f if ln.strip() and not ln.startswith("#"))
    except OSError:
        return frozenset()


def manifest_id(nodeid: str) -> str:
    """``nodeid`` in the manifest's repo-root-relative form. Pytest names a
    test relative to its rootdir: run from outside the repo root, the path
    carries a prefix; run from inside ``tests/``, it lacks ``tests/``."""
    path, sep, rest = nodeid.partition("::")
    if not path.startswith("tests/"):
        cut = path.find("/tests/")
        path = path[cut + 1 :] if cut >= 0 else "tests/" + path
    return path + sep + rest


def pytest_collection_modifyitems(config, items):
    slow = _slow_node_ids()
    if not slow:
        return
    marker = pytest.mark.slow
    for item in items:
        if item.nodeid in slow or manifest_id(item.nodeid) in slow:
            item.add_marker(marker)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("entangledb-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_ORACLE
