"""Merge-on-read storage: mutations write O(changed rows) deltas; reads
resolve latest-per-PK; compaction bounds the delta chain."""

from __future__ import annotations

import os

import pytest

from entangledb_spark.engine import Engine


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "db"))
    e.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, a INTEGER, b INTEGER)")
    e.execute("INSERT INTO t VALUES (1, 10, 100), (2, 20, 200), (3, 30, 300)")
    return e


def meta(eng):
    return eng.catalog.manifest()["tables"]["t"]


def test_mutations_append_deltas_not_bases(eng):
    m0 = meta(eng)
    assert len(m0.get("deltas", [])) == 1  # the INSERT
    base0 = m0["data"]
    eng.execute("UPDATE t SET a = a + 1 WHERE id = 1")
    eng.execute("DELETE FROM t WHERE id = 3")
    m1 = meta(eng)
    assert m1["data"] == base0  # base untouched
    assert len(m1["deltas"]) == 3
    assert "upserts" in m1["deltas"][1] and "deletes" in m1["deltas"][2]
    rows = sorted(eng.execute("SELECT id, a FROM t").rows)
    assert rows == [(1, 11), (2, 20)]


def test_values_insert_stages_one_file(eng):
    """A VALUES delta is one parquet file: later reads scan each file as
    its own split until the next compaction."""
    for values in ("(4, 40, 400)", "(5, 50, 500), (6, 60, 600)"):
        eng.execute(f"INSERT INTO t VALUES {values}")
        up = os.path.join(eng.catalog.base, meta(eng)["deltas"][-1]["upserts"])
        assert len([f for f in os.listdir(up) if f.endswith(".parquet")]) == 1


def test_update_delta_contains_only_changed_rows(eng, spark):
    eng.execute("UPDATE t SET a = 0 WHERE id = 2")
    m = meta(eng)
    up = m["deltas"][-1]["upserts"]
    delta_df = spark.read.parquet(f"{eng.catalog.base}/{up}")
    assert delta_df.count() == 1  # only the matched row, not the table
    assert delta_df.first()["id"] == 2


def test_predicate_evaluated_on_old_values(eng):
    # SET flips its own WHERE condition: row must still be written
    eng.execute("UPDATE t SET a = 999 WHERE a < 15")
    rows = sorted(eng.execute("SELECT id, a FROM t").rows)
    assert rows == [(1, 999), (2, 20), (3, 30)]


def test_simultaneous_set_sees_old_values(eng):
    eng.execute("UPDATE t SET a = 1, b = a WHERE id = 1")
    r = eng.execute("SELECT a, b FROM t WHERE id = 1").rows
    assert r == [(1, 10)]  # b got OLD a, not the new 1


def test_pk_update_overlap(eng):
    eng.execute("UPDATE t SET id = id + 1")  # 1,2,3 -> 2,3,4 with overlaps
    rows = sorted(eng.execute("SELECT id, a FROM t").rows)
    assert rows == [(2, 10), (3, 20), (4, 30)]


def test_compaction_bounds_delta_chain(eng):
    for i in range(10):
        eng.execute(f"UPDATE t SET a = {i} WHERE id = 1")
    m = meta(eng)
    assert len(m.get("deltas", [])) < eng.catalog.COMPACT_AFTER  # compacted
    assert eng.execute("SELECT a FROM t WHERE id = 1").rows == [(9,)]
    # history still intact: AS OF before the updates
    v_first = 2  # v1 = create, v2 = insert
    eng.execute(f"BEGIN READ ONLY AS OF SYSTEM TIME {v_first}")
    assert eng.execute("SELECT a FROM t WHERE id = 1").rows == [(10,)]
    eng.execute("COMMIT")


def test_chain_past_the_key_cap_compacts(eng, monkeypatch):
    """Every read holds the chain's keys on the driver, so a chain whose
    delta rows pass COMPACT_KEYS folds into a base however short it is."""
    monkeypatch.setattr(eng.catalog, "COMPACT_KEYS", 4)
    eng.execute("INSERT INTO t VALUES (4, 40, 400)")
    assert len(meta(eng)["deltas"]) == 2  # 4 delta rows: at the cap
    eng.execute("DELETE FROM t WHERE id = 2")
    m = meta(eng)
    assert m["data"] is not None and m["deltas"] == []
    assert sorted(eng.execute("SELECT id, a FROM t").rows) == [(1, 10), (3, 30), (4, 40)]


def test_compaction_of_multi_file_deltas_writes_one_base_file(spark, tmp_path):
    """Compaction shuffles the view on the PK, so a small table's new base
    is one file however many files its deltas held."""
    eng = Engine(spark, str(tmp_path / "db"))
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, a INTEGER)")
    cat = eng.catalog
    for i in range(cat.COMPACT_AFTER):
        man = cat.manifest()
        rows = spark.range(i * 40, (i + 1) * 40).selectExpr("id", "id * 2 AS a").repartition(4)
        cat.stage_delta(man, "t", upserts=rows)
        cat.publish(man)
        if i == 0:
            up = os.path.join(cat.base, man["tables"]["t"]["deltas"][0]["upserts"])
            assert len([f for f in os.listdir(up) if f.endswith(".parquet")]) == 4
    m = cat.manifest()["tables"]["t"]
    assert m["deltas"] == []
    base = os.path.join(cat.base, m["data"])
    assert len([f for f in os.listdir(base) if f.endswith(".parquet")]) == 1
    assert eng.execute("SELECT count(*), sum(a) FROM t").rows == [
        (40 * cat.COMPACT_AFTER, sum(2 * i for i in range(40 * cat.COMPACT_AFTER)))
    ]


# ----------------------------------------------- MERGE USING query / view


def test_merge_using_derived_table(eng):
    from entangledb_spark.engine import EngineError

    eng.execute("CREATE TABLE src (id INTEGER PRIMARY KEY, a INTEGER)")
    eng.execute("INSERT INTO src VALUES (2, 99), (4, 40), (5, -1)")
    r = eng.execute(
        "MERGE INTO t USING (SELECT id, a FROM src WHERE a > 0) AS s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET a = s.a "
        "WHEN NOT MATCHED THEN INSERT (id, a) VALUES (s.id, s.a)"
    )
    assert "1 updated, 1 inserted" in r.status
    assert sorted(eng.execute("SELECT id, a FROM t").rows) == [
        (1, 10), (2, 99), (3, 30), (4, 40),
    ]
    with pytest.raises(EngineError, match="requires an alias"):
        eng.execute(
            "MERGE INTO t USING (SELECT 1 AS id, 1 AS a) ON t.id = id "
            "WHEN MATCHED THEN DELETE"
        )


def test_merge_using_with_cte_source(eng):
    eng.execute("CREATE TABLE src (id INTEGER PRIMARY KEY, a INTEGER)")
    eng.execute("INSERT INTO src VALUES (1, 5), (2, 7)")
    r = eng.execute(
        "MERGE INTO t USING (WITH m AS (SELECT max(a) AS a FROM src) "
        "SELECT 1 AS id, a FROM m) AS w ON t.id = w.id "
        "WHEN MATCHED THEN UPDATE SET a = w.a"
    )
    assert "1 updated" in r.status
    assert eng.execute("SELECT a FROM t WHERE id = 1").rows == [(7,)]


def test_merge_using_view(eng):
    eng.execute("CREATE VIEW v_new AS SELECT id + 10 AS id, a FROM t")
    r = eng.execute(
        "MERGE INTO t USING v_new ON t.id = v_new.id "
        "WHEN NOT MATCHED THEN INSERT (id, a) VALUES (v_new.id, v_new.a)"
    )
    assert "3 inserted" in r.status
    assert eng.execute("SELECT count(*) AS n FROM t").rows == [(6,)]


# ------------------------------------- chain resolve against a DuckDB mirror


class Mirror:
    """Runs each statement on the engine and on a DuckDB copy of the table,
    then compares ``SELECT *`` of the two (rows keyed by the PK ``id``)."""

    def __init__(self, eng, table: str, ddl: str):
        import duckdb

        self.eng, self.table = eng, table
        self.duck = duckdb.connect()
        self.duck.execute("SET threads TO 1")
        self.duck.execute(ddl)

    def run(self, sql: str, duck_sql: str | None = None) -> None:
        self.eng.execute(sql)
        self.duck.execute(duck_sql or sql)
        self.check()

    def check(self) -> None:
        got = self.eng.execute(f"SELECT * FROM {self.table}")
        want = self.duck.execute(f"SELECT * FROM {self.table}")
        assert got.columns == [d[0] for d in want.description]
        assert sorted(got.rows, key=lambda r: r[0]) == sorted(
            want.fetchall(), key=lambda r: r[0]
        )

    def chain_len(self) -> int:
        return len(self.eng.catalog.manifest()["tables"][self.table].get("deltas", []))


def _values(rows) -> str:
    return ", ".join("(" + ", ".join(repr(v) for v in r) + ")" for r in rows)


def test_chain_matches_duckdb_at_every_length(spark, tmp_path):
    """A seeded INSERT/UPDATE/DELETE sequence builds delta chains of 1 to
    COMPACT_AFTER-1, with an ADD COLUMN NOT NULL DEFAULT and a RENAME
    COLUMN in the middle; after every statement the view equals DuckDB's.
    ``SET id = id + 1`` writes an upsert and a tombstone in one delta."""
    import random

    rng = random.Random(7)
    eng = Engine(spark, str(tmp_path / "db"))
    m = Mirror(eng, "t", "CREATE TABLE t (id BIGINT, a BIGINT, s VARCHAR)")
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, a INTEGER, s STRING)")
    rows = [(i, rng.randrange(100), rng.choice("xyz")) for i in range(1, 21)]
    m.run(f"INSERT INTO t VALUES {_values(rows)}")
    k = rng.randrange(5, 15)
    m.run(f"UPDATE t SET id = id + 1 WHERE id > {k}")
    m.run(f"UPDATE t SET a = a * 2 WHERE a < {rng.randrange(20, 80)}")
    m.run(
        "ALTER TABLE t ADD COLUMN d INTEGER NOT NULL DEFAULT 7",
        "ALTER TABLE t ADD COLUMN d BIGINT DEFAULT 7",
    )
    m.run(f"DELETE FROM t WHERE a > {rng.randrange(100, 150)}")
    m.run("ALTER TABLE t RENAME COLUMN a TO alpha")
    m.run(f"INSERT INTO t VALUES {_values([(1000, 5, 'w', 8), (1001, 6, 'v', 9)])}")
    m.run(f"UPDATE t SET id = id + 1, d = d + 1 WHERE id > {rng.randrange(2, 10)}")
    m.run(f"DELETE FROM t WHERE s = '{rng.choice('xyz')}'")
    assert m.chain_len() == eng.catalog.COMPACT_AFTER - 1


def test_ctas_table_is_a_base_with_deltas_on_top(spark, tmp_path):
    """CREATE TABLE AS writes the base, not a first delta, and reports the
    row count; later DML stacks deltas on that base."""
    eng = Engine(spark, str(tmp_path / "db"))
    eng.execute("CREATE TABLE src (id INTEGER PRIMARY KEY, a INTEGER)")
    eng.execute(f"INSERT INTO src VALUES {_values([(i, i % 7) for i in range(1, 31)])}")
    r = eng.execute("CREATE TABLE c AS SELECT id, a FROM src WHERE a > 1")
    meta = eng.catalog.manifest()["tables"]["c"]
    assert meta["data"] is not None and meta.get("deltas") == []
    assert r.status == "CREATE TABLE c AS (21 rows)"
    m = Mirror(eng, "c", "CREATE TABLE c (id BIGINT, a BIGINT)")
    m.duck.execute(f"INSERT INTO c VALUES {_values([(i, i % 7) for i in range(1, 31) if i % 7 > 1])}")
    m.check()
    m.run("UPDATE c SET id = id + 100 WHERE a = 3")
    m.run("DELETE FROM c WHERE a = 4")
    m.run("INSERT INTO c VALUES (500, 1)")
    assert m.chain_len() == 3


def test_partitioned_table_chain_and_pruned_read(spark, tmp_path):
    """Every delta of a PARTITION BY table is its own Hive partition root;
    one scan reads them all, and the pruned read agrees with a filter."""
    from pyspark.sql import functions as F

    eng = Engine(spark, str(tmp_path / "db"))
    eng.execute(
        "CREATE TABLE pt (id INTEGER PRIMARY KEY, grp STRING, v INTEGER) "
        "PARTITION BY (grp)"
    )
    m = Mirror(eng, "pt", "CREATE TABLE pt (id BIGINT, grp VARCHAR, v BIGINT)")
    m.run(f"INSERT INTO pt VALUES {_values([(i, 'abc'[i % 3], i) for i in range(30)])}")
    m.run(f"INSERT INTO pt VALUES {_values([(i, 'abd'[i % 3], i) for i in range(30, 40)])}")
    m.run("UPDATE pt SET v = v + 1000 WHERE v % 4 = 0")
    m.run("DELETE FROM pt WHERE v % 5 = 0")
    m.run("UPDATE pt SET id = id + 1 WHERE id > 35")
    assert m.chain_len() == 5
    man = eng.catalog.manifest()
    for g in "abd":
        pruned = eng.catalog.read_df_pruned(man, "pt", F.col("grp") == g)
        full = eng.catalog.read_df(man, "pt").filter(F.col("grp") == g)
        assert sorted(pruned.collect()) == sorted(full.collect())
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(grp" in plan


def test_user_column_named_metadata(spark, tmp_path):
    """A user column called ``_metadata`` does not shadow the file path the
    chain resolve ranks rows by."""
    eng = Engine(spark, str(tmp_path / "db"))
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, _metadata STRING, n INTEGER)")
    m = Mirror(eng, "t", "CREATE TABLE t (id BIGINT, _metadata VARCHAR, n BIGINT)")
    m.run(f"INSERT INTO t VALUES {_values([(i, f'm{i}', i) for i in range(10)])}")
    m.run("UPDATE t SET _metadata = 'changed', n = n + 1 WHERE id < 5")
    m.run("UPDATE t SET id = id + 20 WHERE id > 6")
    m.run("DELETE FROM t WHERE n = 3")
    assert m.chain_len() == 4


def _file_scans(df) -> tuple[int, str]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum("parquet" in ln and "Relation" in ln for ln in plan.splitlines()), plan


def _shuffles(df) -> list[str]:
    """The shuffle ``Exchange`` nodes of ``df``'s executed plan (a
    ``BroadcastExchange`` is not a shuffle)."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return [ln for ln in plan.splitlines() if re.search(r"\bExchange\b", ln)]


def test_resolved_view_plan_is_one_scan_and_a_local_anti_join(spark, tmp_path):
    """However long the chain, a resolved view is ONE file scan of the base
    and every upsert, anti-joined against a LocalRelation of the chain's
    keys: no window, no shuffle, no RDD."""
    from pyspark.sql import functions as F

    eng = Engine(spark, str(tmp_path / "db"))
    eng.execute("CREATE TABLE src (id INTEGER PRIMARY KEY, a INTEGER)")
    eng.execute(f"INSERT INTO src VALUES {_values([(i, i) for i in range(1, 21)])}")
    eng.execute("CREATE TABLE t AS SELECT id, a FROM src")
    cat = eng.catalog
    # a table with no base and no deltas: an empty local relation, no scan
    eng.execute("CREATE TABLE e (id INTEGER PRIMARY KEY, a STRING)")
    v_e = cat.current_version()
    for view in (cat.read_df(cat.manifest(), "e"), cat.changes_df("e", v_e, v_e)):
        scans, plan = _file_scans(view)
        assert scans == 0 and "LocalRelation" in plan, plan
        assert "LogicalRDD" not in plan, plan
    for n in range(1, cat.COMPACT_AFTER):
        # each UPDATE of the PK writes an upsert and a tombstone directory
        eng.execute(f"UPDATE t SET id = id + 1 WHERE id > {n}")
        man = cat.manifest()
        assert len(man["tables"]["t"]["deltas"]) == n
        for view in (cat.read_df(man, "t"), cat.read_df_pruned(man, "t", F.col("id") > 3)):
            scans, plan = _file_scans(view)
            assert scans == 1, plan
            assert "Window" not in plan and "LogicalRDD" not in plan, plan
            assert "Join LeftAnti" in plan, plan
            anti = plan[plan.index("Join LeftAnti"):].splitlines()
            assert anti[-1].lstrip(" +-").startswith("LocalRelation"), plan
            assert _shuffles(view) == [], _shuffles(view)
    assert max(r[0] for r in eng.execute("SELECT id FROM t").rows) == 20 + cat.COMPACT_AFTER - 1


def test_change_feed_reads_each_side_once(spark, tmp_path):
    """The change feed's fast path scans the tail's upserts and the from_v
    view once each, with no window, at every tail length; its rows match
    a full diff of the two snapshots."""
    eng = Engine(spark, str(tmp_path / "db"))
    eng.execute("CREATE TABLE src (id INTEGER PRIMARY KEY, a INTEGER)")
    eng.execute(f"INSERT INTO src VALUES {_values([(i, i) for i in range(1, 21)])}")
    eng.execute("CREATE TABLE t AS SELECT id, a FROM src")
    cat = eng.catalog
    v0 = cat.current_version()
    before = {r[0]: r for r in eng.execute("SELECT id, a FROM t").rows}
    writes = [
        "UPDATE t SET id = id + 100 WHERE id > 17",
        "DELETE FROM t WHERE id = 2",
        "INSERT INTO t VALUES (50, 5), (2, 22)",
        "UPDATE t SET a = a + 1000 WHERE id < 5",
        "DELETE FROM t WHERE id = 50",
        "DELETE FROM t WHERE id = 999",
        "UPDATE t SET id = id + 1 WHERE id > 15",
    ]
    for n, sql in enumerate(writes, start=1):
        eng.execute(sql)
        assert len(cat.manifest()["tables"]["t"]["deltas"]) == n
        feed = cat.changes_df("t", v0, cat.current_version())
        scans, plan = _file_scans(feed)
        assert scans <= 3 and "Window" not in plan and "LogicalRDD" not in plan, plan
        after = {r[0]: r for r in eng.execute("SELECT id, a FROM t").rows}
        want = sorted(
            [(*after[k], "insert") for k in after.keys() - before.keys()]
            + [(*before[k], "delete") for k in before.keys() - after.keys()]
            + [(*after[k], "update") for k in after.keys() & before.keys() if after[k] != before[k]]
        )
        assert sorted(tuple(r) for r in feed.collect()) == want, sql
