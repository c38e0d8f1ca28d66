"""The slow-tier manifest matches node ids from every invocation directory."""

from __future__ import annotations

import pytest

from conftest import manifest_id


@pytest.mark.parametrize(
    "nodeid",
    [
        # from the repo root
        "tests/test_optimize.py::test_plain_optimize_compacts",
        # from inside tests/
        "test_optimize.py::test_plain_optimize_compacts",
        # from a parent of the repo root
        "repo/tests/test_optimize.py::test_plain_optimize_compacts",
    ],
)
def test_manifest_id_normalizes_invocation_dir(nodeid):
    assert manifest_id(nodeid) == "tests/test_optimize.py::test_plain_optimize_compacts"


def test_manifest_id_leaves_params_alone():
    assert (
        manifest_id("test_classifier.py::test_nb_gate_margins[/data/tests/sf0.1]")
        == "tests/test_classifier.py::test_nb_gate_margins[/data/tests/sf0.1]"
    )
    # a directory merely ending in "tests" is not the tests/ directory
    assert manifest_id("mytests/test_a.py::t") == "tests/mytests/test_a.py::t"
