"""Change data feed: net row-level changes between two catalog versions
(extension — the reference keeps MVCC versions, storage/mvcc.rs:119-122,
but exposes no changed-rows API). Covers the O(changed-rows) delta fast
path, the post-compaction snapshot-diff fallback, create-in-range, and
error cases."""

from __future__ import annotations

import pytest

from entangledb_spark.engine import Engine, EngineError


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "db"))
    e.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v STRING)")
    e.execute("INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    return e


def changes(eng, name, from_v, to_v=None):
    rows, _ = eng.table_changes(name, from_v, to_v).fetch(1000)
    return sorted(rows)


def test_insert_update_delete_fast_path(eng):
    v0 = eng.catalog.current_version()
    eng.execute("INSERT INTO t VALUES (4, 'd')")
    eng.execute("UPDATE t SET v = 'B' WHERE id = 2")
    eng.execute("DELETE FROM t WHERE id = 3")
    got = changes(eng, "t", v0)
    assert got == [
        (2, "B", "update"),
        (3, "c", "delete"),  # delete carries the pre-image
        (4, "d", "insert"),
    ]


def test_net_changes_collapse_within_range(eng):
    # insert-then-delete inside the range nets out; double update keeps last
    v0 = eng.catalog.current_version()
    eng.execute("INSERT INTO t VALUES (9, 'x')")
    eng.execute("DELETE FROM t WHERE id = 9")
    eng.execute("UPDATE t SET v = 'b1' WHERE id = 2")
    eng.execute("UPDATE t SET v = 'b2' WHERE id = 2")
    got = changes(eng, "t", v0)
    assert got == [(2, "b2", "update")]


def test_empty_range_and_bad_range(eng):
    v = eng.catalog.current_version()
    assert changes(eng, "t", v, v) == []
    with pytest.raises(EngineError, match="from_version"):
        eng.table_changes("t", v + 1, v)
    with pytest.raises(EngineError, match="does not exist"):
        eng.table_changes("nope", 0, v)


def test_created_in_range_is_all_inserts(eng):
    v0 = eng.catalog.current_version()
    eng.execute("CREATE TABLE fresh (id INTEGER PRIMARY KEY)")
    eng.execute("INSERT INTO fresh VALUES (1), (2)")
    got = changes(eng, "fresh", v0)
    assert got == [(1, "insert"), (2, "insert")]


def test_snapshot_diff_after_compaction(eng):
    # force compaction (COMPACT_AFTER deltas) so the base path rewrites and
    # the fallback full-outer diff engages; results must be identical in
    # spirit: net change between the two snapshots
    v0 = eng.catalog.current_version()
    base0 = eng.catalog.manifest(v0)["tables"]["t"]["data"]
    eng.execute("UPDATE t SET v = 'zz' WHERE id = 1")
    for i in range(10, 10 + eng.catalog.COMPACT_AFTER):
        eng.execute(f"INSERT INTO t VALUES ({i}, 'p{i}')")
    man = eng.catalog.manifest()
    assert man["tables"]["t"]["data"] != base0  # compaction rewrote the base
    got = changes(eng, "t", v0)
    assert (1, "zz", "update") in got
    inserts = [r for r in got if r[2] == "insert"]
    assert len(inserts) == eng.catalog.COMPACT_AFTER
    assert all(r[0] >= 10 for r in inserts)


def test_unchanged_rows_never_reported(eng):
    v0 = eng.catalog.current_version()
    eng.execute("UPDATE t SET v = 'B' WHERE id = 2")
    got = changes(eng, "t", v0)
    assert {r[0] for r in got} == {2}


@pytest.mark.parametrize("compact", [False, True])
def test_unchanged_rewrite_is_no_change_on_both_paths(eng, compact):
    """A rewrite that leaves a row as it was reports nothing, whether the
    delta fast path or the post-compaction snapshot diff answers; NULL
    and NaN values compare null-safely."""
    eng.execute("CREATE TABLE c (id INTEGER PRIMARY KEY, a INTEGER, f FLOAT)")
    eng.execute("INSERT INTO c VALUES (1, NULL, NAN), (2, 2, 2.0)")
    v0 = eng.catalog.current_version()
    eng.execute("UPDATE c SET a = a WHERE id = 1")
    eng.execute("UPDATE c SET f = f, a = 3 WHERE id = 2")
    if compact:
        eng.execute("OPTIMIZE c FILES 1")
        assert not eng.catalog.manifest()["tables"]["c"]["deltas"]
    assert changes(eng, "c", v0) == [(2, 3, 2.0, "update")]


def test_cli_changes_command(eng):
    from entangledb_spark.cli import run_command

    v0 = eng.catalog.current_version()
    eng.execute("INSERT INTO t VALUES (7, 'g')")
    out = run_command(eng, f"!changes t {v0}")
    assert "insert" in out and "7" in out
    assert "usage" in run_command(eng, "!changes t")


# --- vacuum: retention GC over the snapshot store ---------------------------


def test_vacuum_prunes_history_keeps_current(eng, tmp_path):
    import os

    for i in range(20, 26):
        eng.execute(f"INSERT INTO t VALUES ({i}, 'x{i}')")
    v_now = eng.catalog.current_version()
    r = eng.vacuum(keep_last=2)
    assert f"v{v_now - 1}..v{v_now}" in r.status
    # current view intact
    assert eng.execute("SELECT count(*) FROM t").fetch(1)[0][0][0] == 9
    # time travel below the cutoff errors cleanly; within the window works
    with pytest.raises(EngineError, match="does not exist"):
        eng.execute(f"BEGIN READ ONLY AS OF SYSTEM TIME {v_now - 2}")
    eng.execute(f"BEGIN READ ONLY AS OF SYSTEM TIME {v_now - 1}")
    eng.execute("ROLLBACK")
    # old manifests physically removed
    mdir = os.path.join(eng.catalog.base, "manifests")
    vs = sorted(int(f[1:-5]) for f in os.listdir(mdir) if f.endswith(".json"))
    assert vs[0] == v_now - 1
    # every remaining data dir is referenced by a kept manifest
    referenced = set()
    for v in vs:
        for t in eng.catalog.manifest(v)["tables"].values():
            if t.get("data"):
                referenced.add(t["data"])
            for d in t.get("deltas", []):
                referenced.update(p for p in (d.get("upserts"), d.get("deletes")) if p)
    ddir = os.path.join(eng.catalog.base, "data")
    on_disk = {
        os.path.join("data", tn, s)
        for tn in os.listdir(ddir)
        for s in os.listdir(os.path.join(ddir, tn))
    }
    assert on_disk == referenced


def test_vacuum_rejected_inside_transaction(eng):
    eng.execute("BEGIN")
    with pytest.raises(EngineError, match="transaction"):
        eng.vacuum()
    eng.execute("ROLLBACK")


def test_cli_vacuum(eng):
    from entangledb_spark.cli import run_command

    out = run_command(eng, "!vacuum 3")
    assert out.startswith("VACUUM kept")


def test_merge_changes_classify_per_row(eng):
    """One MERGE statement emits all three change types in a single
    version — the CDF classifies each affected row by key existence,
    deletes carrying the pre-image, untouched rows absent."""
    eng.execute("CREATE TABLE src (id INTEGER PRIMARY KEY, v STRING NULL)")
    eng.execute("INSERT INTO src VALUES (2, 'B'), (3, NULL), (4, 'D')")
    v0 = eng.catalog.current_version()
    eng.execute(
        "MERGE INTO t USING src ON t.id = src.id "
        "WHEN MATCHED AND src.v IS NULL THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = src.v "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.v)"
    )
    assert changes(eng, "t", v0) == [
        (2, "B", "update"),
        (3, "c", "delete"),
        (4, "D", "insert"),
    ]
