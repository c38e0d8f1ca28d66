"""Driver-local rows become Arrow LocalRelations (``session.local_df``): an
INSERT … VALUES stages a LocalRelation and writes it in one JVM job, its
values round-trip exactly, and out-of-range integers are engine errors.
Also: a MERGE counts its rows from the written files' footers, a SELECT
page is one bounded collect, and rows are written through the catalog."""

from __future__ import annotations

import ast
import math
import os
import uuid

import pytest

from entangledb_spark.engine import Engine, EngineError

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "entangledb_spark")


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, str(tmp_path / "db"))


def jobs(spark, fn) -> int:
    """Spark jobs launched by ``fn()``, counted through a job group."""
    sc = spark.sparkContext
    group = f"local-relation-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_create_dataframe_only_in_helper():
    """Every driver-local frame goes through ``session.local_df``; a
    ``createDataFrame`` over a Python list would be a pickled RDD."""
    calls = []
    for d, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read())
                calls += [
                    (os.path.relpath(path, PKG), node.lineno)
                    for node in ast.walk(tree)
                    if isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ]
    with open(os.path.join(PKG, "session.py"), encoding="utf-8") as fh:
        helper = next(
            n for n in ast.parse(fh.read()).body
            if isinstance(n, ast.FunctionDef) and n.name == "local_df"
        )
    assert len(calls) == 1, calls
    path, line = calls[0]
    assert path == "session.py" and helper.lineno <= line <= helper.end_lineno, calls


def test_write_snapshot_only_in_catalog_ctas_and_matviews():
    """Every write of a managed table's rows goes through the catalog's
    ``write_delta`` (stored names, partition layout); the only other
    callers of ``write_snapshot`` write a table's first base (CREATE
    TABLE AS) or a materialized view's snapshot."""
    calls = []
    for d, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, PKG)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                calls += [
                    (rel, fn.name)
                    for node in ast.walk(fn)
                    if isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "write_snapshot"
                ]
    outside = {
        (rel, name)
        for rel, name in calls
        if rel not in (os.path.join("sources", "catalog.py"), "engine_matview.py")
    }
    assert outside == {("engine_dml.py", "_create_table_as")}, outside


def test_values_insert_stages_a_local_relation(eng, monkeypatch):
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, s STRING)")
    staged = []
    stage = eng.catalog.stage_delta

    def record(manifest, name, upserts=None, deletes=None):
        staged.append(upserts)
        return stage(manifest, name, upserts=upserts, deletes=deletes)

    monkeypatch.setattr(eng.catalog, "stage_delta", record)
    eng.execute("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    (frame,) = staged
    plan = frame._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan, plan
    assert "LogicalRDD" not in plan, plan


def test_insert_into_fresh_table_runs_one_job(spark, eng):
    """The constraint probe of an empty pre-image runs on the driver; the
    write is the statement's only job."""
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, s STRING NOT NULL, u INTEGER UNIQUE)")
    assert jobs(spark, lambda: eng.execute("INSERT INTO t VALUES (1, 'a', 10)")) == 1
    assert eng.execute("SELECT * FROM t").rows == [(1, "a", 10)]


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)
    return type(a) is type(b) and a == b


def test_values_round_trip(eng):
    eng.execute(
        "CREATE TABLE t (id INTEGER PRIMARY KEY, f FLOAT, s STRING, b BOOLEAN, i INTEGER)"
    )
    wide = "é" * 512  # 1,024 UTF-8 bytes, the limit
    rows = [
        (1, float("nan"), "naïve ☃ 日本語 🙂", True, -(2**63)),
        (2, float("inf"), wide, False, 2**63 - 1),
        (3, float("-inf"), "x" * 1024, None, 0),
        (4, -0.0, None, True, None),
        (5, None, "", False, -1),
    ]
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, float):
            if math.isnan(v):
                return "NAN"
            if math.isinf(v):
                return "INFINITY" if v > 0 else "-INFINITY"
            return "-0.0" if math.copysign(1.0, v) < 0 else repr(v)
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    values = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    assert eng.execute(f"INSERT INTO t VALUES {values}").status == "INSERT 5"
    got = sorted(eng.execute("SELECT * FROM t").rows)
    assert len(got) == len(rows)
    for want, have in zip(rows, got):
        assert all(_same(w, h) for w, h in zip(want, have)), (want, have)


def test_integer_overflow_is_an_engine_error(eng):
    """Out-of-range integers fail like the same SELECT does, including an
    intermediate result that a later operation would bring back in range."""
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER, f FLOAT)")
    for v in ("9223372036854775808", "9223372036854775807 + 1", "9223372036854775807 + 1 - 1"):
        with pytest.raises(EngineError, match="integer overflow"):
            eng.execute(f"INSERT INTO t VALUES (1, {v}, 0.0)")
    with pytest.raises(EngineError, match="integer overflow"):
        eng.execute(f"INSERT INTO t VALUES (1, 0, 1{'0' * 400})")
    eng.execute(
        "INSERT INTO t VALUES (1, -9223372036854775808, 0.0), (2, 9223372036854775807, 0.0)"
    )
    assert sorted(eng.execute("SELECT id, v FROM t").rows) == [(1, -(2**63)), (2, 2**63 - 1)]


def test_select_integer_literal_outside_i64(eng):
    """A SELECT literal outside i64 is an engine error, as in INSERT
    VALUES; the i64 minimum, which parses as NEG of 2^63, is a value."""
    for lit in ("9223372036854775808", "-9223372036854775809", "1" + "0" * 30):
        with pytest.raises(EngineError, match="integer overflow"):
            eng.execute(f"SELECT {lit}")
    r = eng.execute("SELECT -9223372036854775808, 9223372036854775807, -(5)")
    assert r.rows == [(-(2**63), 2**63 - 1, -5)]
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY)")
    eng.execute("INSERT INTO t VALUES (-9223372036854775808), (0)")
    assert eng.execute("SELECT id FROM t WHERE id = -9223372036854775808").rows == [(-(2**63),)]


def test_merge_counts_from_footers(spark, eng):
    """MERGE statuses come from the staged files' footers: only a MERGE
    that both updates and inserts runs one job to split its upserts."""
    eng.execute("CREATE TABLE tgt (id INTEGER PRIMARY KEY, n INTEGER)")
    eng.execute("CREATE TABLE src (id INTEGER PRIMARY KEY, m INTEGER)")
    eng.execute("INSERT INTO tgt VALUES (1, 10), (2, 20), (3, 30)")
    eng.execute("INSERT INTO src VALUES (2, 5), (3, 6), (4, 7)")
    statuses = {}

    def merge(whens: str) -> int:
        def run():
            statuses[whens] = eng.execute(
                f"MERGE INTO tgt USING src ON tgt.id = src.id {whens}"
            ).status

        return jobs(spark, run)

    both = "WHEN MATCHED THEN UPDATE SET n = src.m WHEN NOT MATCHED THEN INSERT VALUES (src.id, src.m)"
    update = "WHEN MATCHED THEN UPDATE SET n = src.m + 1"
    insert = "WHEN NOT MATCHED THEN INSERT VALUES (src.id + 10, src.m)"
    delete = "WHEN MATCHED AND src.m > 5 THEN DELETE"
    # without AQE every action is a fixed number of jobs (AQE runs each
    # query stage as its own job, and how many varies between runs)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        counted = {w: merge(w) for w in (insert, both, update, delete)}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert statuses == {
        insert: "MERGE 0 updated, 1 inserted, 0 deleted",
        both: "MERGE 2 updated, 1 inserted, 0 deleted",
        update: "MERGE 3 updated, 0 inserted, 0 deleted",
        delete: "MERGE 0 updated, 0 inserted, 2 deleted",
    }
    assert sorted(eng.execute("SELECT * FROM tgt").rows) == [(1, 10), (2, 6), (14, 7)]
    # checks, cardinality probe and write(s), plus the split count for
    # `both`; counting rows with count() cost two more jobs in each. A
    # plan that reads a view with deltas broadcasts the chain's keys, and
    # without AQE each broadcast is a job of its own (with AQE on the
    # four MERGEs run 13, 30, 23 and 8 jobs)
    assert counted == {insert: 10, both: 24, update: 18, delete: 6}, counted


def test_fetch_truncates_and_keeps_order(eng):
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)")
    eng.execute("INSERT INTO t VALUES (1, 30), (2, 10), (3, 20)")
    r = eng.execute("SELECT id FROM t ORDER BY v DESC")
    assert r.fetch(2) == ([(1,), (3,)], True)
    assert r.fetch(3) == ([(1,), (3,), (2,)], False)
    assert r.fetch(0) == ([], True)


def test_fetch_raises_runtime_error_within_the_page(eng):
    """An ANSI error in a row the page holds still surfaces."""
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)")
    eng.execute("INSERT INTO t VALUES (1, 1), (2, 0), (3, 9223372036854775807)")
    for sql in ("SELECT id / v FROM t", "SELECT v + 1 FROM t ORDER BY id"):
        r = eng.execute(sql)
        with pytest.raises(Exception, match="(?i)divide|zero|overflow"):
            r.fetch(3)
