"""Key-addressed writes on the driver: INSERT … VALUES, and an UPDATE or
DELETE whose WHERE pins the primary key to literals, read their pre-image
by KeyLookup, build their delta as Arrow rows and write it with pyarrow
(``SnapshotCatalog.driver_write``), running no Spark job.

Every statement must do on the driver path what it does on the Spark path
(the same engine with ``driver_write`` switched off) and what a DuckDB
mirror does: the same status or the same error, and the same table
afterwards, at every delta-chain length and across ALTER TABLE, re-keys,
transactions and the values that are easy to get wrong in a parquet file.
A chain that mixes pyarrow-written and Spark-written deltas compacts to
the rows of the Spark path."""

from __future__ import annotations

import ast
import math
import os
import uuid

from entangledb_spark.engine import Engine
from entangledb_spark.plans.parser import parse

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "entangledb_spark")

WIDE = "é" * 511 + "xy"  # 1,024 UTF-8 bytes, the limit


def jobs(spark, fn) -> int:
    """Spark jobs launched by ``fn()``, counted through a job group."""
    sc = spark.sparkContext
    group = f"driver-write-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _norm(v):
    """A comparable stand-in: NaN equals NaN, and -0.0 differs from 0.0."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else (v, math.copysign(1.0, v))
    return v


def _rows(rows) -> list:
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def outcome(eng, sql: str) -> tuple:
    """``sql``'s status, or its error's type and first line."""
    try:
        return ("ok", eng.execute(sql).status)
    except Exception as e:  # both paths must fail alike
        return ("error", type(e).__name__, str(e).splitlines()[0])


def chain(eng, name: str = "t") -> int:
    return len(eng._manifest_for_read()["tables"][name]["deltas"])


class Paths:
    """The same statements on the driver path (``drv``), on the Spark path
    (``spk``, ``driver_write`` switched off) and on a DuckDB mirror."""

    def __init__(self, spark, tmp_path, monkeypatch, ddl: str, duck_ddl: str):
        import duckdb

        self.spark = spark
        self.drv = Engine(spark, str(tmp_path / "drv"))
        self.spk = Engine(spark, str(tmp_path / "spk"))
        monkeypatch.setattr(self.spk.catalog, "driver_write", lambda manifest, stmt: None)
        self.duck = duckdb.connect()
        self.duck.execute("SET threads TO 1")
        self.run(ddl, duck_ddl, driver=False)

    def run(self, sql: str, duck_sql: str | None = None, driver: bool = True) -> tuple:
        """Run ``sql`` on both engines, and on the mirror if it succeeds;
        ``driver``: the driver path must serve it and, unless the write
        compacts the chain (a Spark rewrite), run no job."""
        if driver:
            stmt = parse(sql)
            assert self.drv.catalog.driver_write(self.drv._manifest_for_read(), stmt), sql
        got = []
        n = jobs(self.spark, lambda: got.append(outcome(self.drv, sql)))
        assert got[0] == outcome(self.spk, sql), sql
        if got[0][0] == "ok" and duck_sql != "":
            self.duck.execute(duck_sql or sql)
        if driver and chain(self.drv) > 0:
            assert n == 0, (sql, n)
        return got[0]

    def check(self, keys: list) -> None:
        """The whole table, and its rows pinned by ``keys``, agree on the
        two paths and the mirror."""
        for sql in ("SELECT * FROM t", f"SELECT * FROM t WHERE id IN ({', '.join(map(str, keys))})"):
            want = _rows(self.duck.execute(sql).fetchall())
            for eng in (self.drv, self.spk):
                assert _rows(eng.execute(sql).fetch(10_000)[0]) == want, sql


def test_driver_writes_match_spark_and_duckdb_at_every_chain_length(spark, tmp_path, monkeypatch):
    p = Paths(
        spark, tmp_path, monkeypatch,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, a INTEGER, f FLOAT, s STRING)",
        "CREATE TABLE t (id BIGINT, a BIGINT, f DOUBLE, s VARCHAR)",
    )
    # eight INSERTs fill the chain, so the table compacts to a bare base
    base = [1, 2, 4, 6, 8, 10, 20, 30]
    for k in base:
        p.run(f"INSERT INTO t VALUES ({k}, {k * 10}, {k / 4}, 's{k}')")
    assert chain(p.drv) == chain(p.spk) == 0
    keys = base + [3, 7, 9, 11, 101, 102, 103, 104, 999]
    p.check(keys)
    steps = [
        # a multibyte SET, and a pinned key that a range conjunct drops
        ("UPDATE t SET a = a + 1, s = 'é☃🙂' WHERE id IN (2, 4) AND a < 30", None),
        (
            f"INSERT INTO t VALUES (101, NULL, NAN, '{WIDE}'), (102, 5, -0.0, NULL),"
            " (103, 7, 0.0, '')",
            f"INSERT INTO t VALUES (101, NULL, 'nan'::DOUBLE, '{WIDE}'),"
            " (102, 5, '-0.0'::DOUBLE, NULL), (103, 7, 0.0, '')",
        ),
        ("DELETE FROM t WHERE id IN (4, 999)", None),  # 999 does not exist
        ("ALTER TABLE t ADD COLUMN d INTEGER NOT NULL DEFAULT 7", "ALTER TABLE t ADD COLUMN d BIGINT DEFAULT 7"),
        (
            "UPDATE t SET f = -0.0, d = d * 2 WHERE id IN (101, 6, 998)",
            "UPDATE t SET f = '-0.0'::DOUBLE, d = d * 2 WHERE id IN (101, 6, 998)",
        ),
        ("ALTER TABLE t RENAME COLUMN a TO b", None),
        # a re-key onto a key the statement frees itself
        ("UPDATE t SET id = id + 1 WHERE id IN (1, 2)", None),
        (
            "UPDATE t SET b = NULL, f = NAN WHERE t.id = 12345",
            "UPDATE t SET b = NULL, f = 'nan'::DOUBLE WHERE t.id = 12345",
        ),
        ("DELETE FROM t WHERE id = 12345 OR id = 30", None),  # no conjunct pins: the Spark path
    ]
    statuses = []
    length = 0
    for sql, duck_sql in steps:
        pinned = not sql.startswith("ALTER") and " OR " not in sql
        statuses.append(p.run(sql, duck_sql, driver=pinned))
        if not sql.startswith("ALTER"):
            length += 1
        assert chain(p.drv) == chain(p.spk) == length, sql
        p.check(keys)
    assert length == 8 - 1  # every length 0..7 was checked
    assert [s[1] for s in statuses if not s[1].startswith("ALTER")] == [
        "UPDATE 1", "INSERT 3", "DELETE 1", "UPDATE 2", "UPDATE 2", "UPDATE 0", "DELETE 1",
    ]
    got = p.drv.execute("SELECT id, s FROM t WHERE id IN (2, 3)").fetch(9)[0]
    assert sorted(got) == [(2, "s1"), (3, "é☃🙂")]
    # rejected on both paths alike, and nothing is written
    rejected = [
        "UPDATE t SET b = b + 9223372036854775807 WHERE id = 102",  # INTEGER overflow
        "UPDATE t SET id = 20 WHERE id = 10",  # a clash with an untouched row
        f"UPDATE t SET s = '{WIDE}x' WHERE id = 6",
        "UPDATE t SET d = NULL WHERE id = 6",
        "INSERT INTO t VALUES (6, 1, 1.0, 'dup', 1)",
        "INSERT INTO t VALUES (9223372036854775807 + 1, 1, 1.0, 'o', 1)",
    ]
    for sql in rejected:
        got = p.run(sql, "")
        assert got[0] == "error", (sql, got)
    assert "ARITHMETIC_OVERFLOW" in outcome(p.drv, rejected[0])[2]
    assert outcome(p.drv, rejected[1])[2] == "duplicate primary key 20 for column id in table t"
    assert chain(p.drv) == 7
    p.check(keys)


def test_transactions_commit_and_roll_back(spark, tmp_path, monkeypatch):
    p = Paths(
        spark, tmp_path, monkeypatch,
        "CREATE TABLE t (id STRING PRIMARY KEY, v INTEGER, f FLOAT)",
        "CREATE TABLE t (id VARCHAR, v BIGINT, f DOUBLE)",
    )
    p.run("INSERT INTO t VALUES ('é', 1, 0.5), ('日本', 2, NAN), ('', 3, NULL)",
          "INSERT INTO t VALUES ('é', 1, 0.5), ('日本', 2, 'nan'::DOUBLE), ('', 3, NULL)")
    keys = ["'é'", "'日本'", "''", "'x'", "'🙂'"]
    for eng in (p.drv, p.spk):
        eng.execute("BEGIN")
    p.duck.execute("BEGIN")
    p.run("INSERT INTO t VALUES ('🙂', 4, -0.0)", "INSERT INTO t VALUES ('🙂', 4, '-0.0'::DOUBLE)")
    p.run("UPDATE t SET v = v * 10 WHERE id IN ('日本', '🙂', 'x')")
    p.run("UPDATE t SET id = 'x' WHERE id = ''")  # a re-key inside the transaction
    p.run("DELETE FROM t WHERE id = 'é'")
    p.check(keys)  # its own pending writes
    for eng in (p.drv, p.spk):
        eng.execute("COMMIT")
    p.duck.execute("COMMIT")
    p.check(keys)
    for eng in (p.drv, p.spk):
        eng.execute("BEGIN")
    p.run("UPDATE t SET f = 1.0 WHERE id = 'x'", "")
    p.run("DELETE FROM t WHERE id = '日本'", "")
    for eng in (p.drv, p.spk):
        eng.execute("ROLLBACK")
    p.check(keys)
    assert chain(p.drv) == chain(p.spk) == 5


def test_mixed_chain_compacts_to_the_spark_rows(spark, tmp_path, monkeypatch):
    """Deltas written by pyarrow and by Spark alternate in one chain; its
    compaction gives the rows the Spark path gives."""
    mixed = Engine(spark, str(tmp_path / "mixed"))
    spk = Engine(spark, str(tmp_path / "spk"))
    monkeypatch.setattr(spk.catalog, "driver_write", lambda manifest, stmt: None)
    decide = mixed.catalog.driver_write
    ddl = "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER, f FLOAT, s STRING)"
    statements = [
        "INSERT INTO t VALUES (1, 1, NAN, 'a'), (2, 2, -0.0, NULL), (3, 3, 1.5, 'é')",
        "UPDATE t SET v = v + 10, f = NAN WHERE id = 2",
        "INSERT INTO t VALUES (4, NULL, 0.0, '日本')",
        "UPDATE t SET id = id + 1 WHERE id IN (3, 4)",
        "DELETE FROM t WHERE id = 1",
        "INSERT INTO t VALUES (1, 100, NULL, 'back')",
        f"UPDATE t SET s = '{WIDE}' WHERE id IN (1, 5)",
        "UPDATE t SET v = v * 2 WHERE id = 4",
        "INSERT INTO t VALUES (9, 9, 9.0, 'nine')",
    ]
    for eng in (mixed, spk):
        eng.execute(ddl)
    for i, sql in enumerate(statements):
        use_driver = i % 2 == 0
        monkeypatch.setattr(
            mixed.catalog, "driver_write", decide if use_driver else (lambda m, s: None)
        )
        assert outcome(mixed, sql) == outcome(spk, sql), sql
        if i == 6:  # the chain before its compaction
            man = mixed.catalog.manifest()["tables"]["t"]
            kinds = {
                os.path.exists(os.path.join(mixed.catalog.base, d[k], "_SUCCESS"))
                for d in man["deltas"]
                for k in ("upserts", "deletes")
                if d.get(k)
            }
            assert kinds == {True, False}  # Spark-written and pyarrow-written
            assert len(man["deltas"]) == 8 - 1
        if i == 7:
            assert chain(mixed) == chain(spk) == 0  # both compacted
        for q in ("SELECT * FROM t", "SELECT * FROM t WHERE f = NAN", "SELECT * FROM t WHERE f = 0.0"):
            assert _rows(mixed.execute(q).fetch(100)[0]) == _rows(spk.execute(q).fetch(100)[0]), q
    assert chain(mixed) == chain(spk) == 1
    assert _rows(mixed.execute("SELECT * FROM t").fetch(100)[0]) == _rows(
        [(1, 100, None, WIDE), (2, 12, float("nan"), None), (4, 6, 1.5, "é"),
         (5, None, 0.0, WIDE), (9, 9, 9.0, "nine")]
    )


def test_pyarrow_writes_only_in_catalog():
    """Every pyarrow parquet write of a table's rows is the catalog's
    ``_write_arrow``, behind ``write_delta``."""
    writers = {"write_table", "write_to_dataset", "ParquetWriter", "write_dataset"}
    calls = []
    for d, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            calls += [
                (os.path.relpath(path, PKG), node.lineno)
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, (ast.Attribute, ast.Name))
                and getattr(node.func, "attr", getattr(node.func, "id", None)) in writers
            ]
    assert [rel for rel, _ in calls] == [os.path.join("sources", "catalog.py")], calls
