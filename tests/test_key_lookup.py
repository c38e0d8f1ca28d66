"""KeyLookup: a SELECT that pins the primary key to literals reads just
those keys' rows on the driver (``SnapshotCatalog.key_lookup`` and
``lookup_df``) and runs no Spark job.

Every pinned SELECT must return what the Spark scan returns (the same
engine with the KeyLookup switched off) and what a DuckDB mirror returns,
at every delta-chain length and across the writes that make a chain hard
to resolve: updates, tombstones, re-keys, ALTER TABLE. Statements the
KeyLookup does not serve fall back to the Spark scan and return the same
rows."""

from __future__ import annotations

import math
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from entangledb_spark.engine import Engine, EngineError
from entangledb_spark.plans.parser import parse
from entangledb_spark.sources.catalog import SnapshotCatalog


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, str(tmp_path / "db"))


def jobs(spark, fn) -> int:
    """Spark jobs launched by ``fn()``, counted through a job group."""
    sc = spark.sparkContext
    group = f"key-lookup-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def lookup(eng, sql: str):
    return eng.catalog.key_lookup(eng._manifest_for_read(), parse(sql))


def _norm(v):
    """A comparable stand-in: NaN equals NaN, and -0.0 differs from 0.0."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else (v, math.copysign(1.0, v))
    return v


def _rows(rows) -> list:
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def fetch(eng, sql: str) -> list:
    return eng.execute(sql).fetch(10_000)[0]


def scanned(eng, sql: str, monkeypatch) -> list:
    """``sql``'s rows from the Spark scan: the engine without KeyLookup."""
    with monkeypatch.context() as m:
        m.setattr(eng.catalog, "key_lookup", lambda manifest, stmt: None)
        return fetch(eng, sql)


class Mirror:
    """Runs each write on the engine and on a DuckDB copy of the table."""

    def __init__(self, eng, ddl: str, duck_ddl: str):
        import duckdb

        self.eng = eng
        self.duck = duckdb.connect()
        self.duck.execute("SET threads TO 1")
        eng.execute(ddl)
        self.duck.execute(duck_ddl)

    def run(self, sql: str, duck_sql: str | None = None) -> None:
        self.eng.execute(sql)
        self.duck.execute(duck_sql or sql)

    def check(self, sql: str, monkeypatch) -> None:
        """``sql`` is served by a KeyLookup and agrees with the scan and
        the mirror."""
        assert lookup(self.eng, sql) is not None, sql
        got = _rows(fetch(self.eng, sql))
        assert got == _rows(scanned(self.eng, sql, monkeypatch)), sql
        assert got == _rows(self.duck.execute(sql).fetchall()), sql


def _pinned(keys: list) -> list[str]:
    listed = ", ".join(str(k) for k in keys + keys[:2])  # with repeats
    return [
        *(f"SELECT * FROM t WHERE id = {k}" for k in keys),
        f"SELECT * FROM t WHERE {keys[0]} = id",
        f"SELECT * FROM t WHERE id IN ({listed})",
        f"SELECT x.id, x.s FROM t AS x WHERE x.id IN ({listed}) AND x.s IS NOT NULL",
        f"SELECT id, f FROM t WHERE s <> 'zz' AND t.id IN ({listed}) ORDER BY id LIMIT 3",
    ]


def test_pinned_reads_match_scan_and_duckdb_at_every_chain_length(eng, monkeypatch):
    m = Mirror(
        eng,
        "CREATE TABLE t (id INTEGER PRIMARY KEY, a INTEGER, f FLOAT, s STRING)",
        "CREATE TABLE t (id BIGINT, a BIGINT, f DOUBLE, s VARCHAR)",
    )
    # eight INSERTs fill the chain, so the table compacts to a bare base
    for i in range(eng.catalog.COMPACT_AFTER):
        m.run(
            "INSERT INTO t VALUES "
            + ", ".join(f"({k}, {k}, {k / 4}, 's{k}')" for k in range(2 + 8 * i, 10 + 8 * i, 2))
        )
    chain = lambda: len(eng.catalog.manifest()["tables"]["t"]["deltas"])  # noqa: E731
    assert chain() == 0 and eng.catalog.manifest()["tables"]["t"]["data"]
    base_only, absent = 4, 999
    writes = [
        ("UPDATE t SET a = a + 1 WHERE id = 2", None),
        ("INSERT INTO t VALUES (101, 1, 0.5, 'new')", None),  # a key in a delta only
        ("DELETE FROM t WHERE id = 8", None),  # tombstoned
        ("UPDATE t SET id = id + 1 WHERE id = 10", None),  # re-keyed 10 -> 11
        (
            "INSERT INTO t VALUES (102, 2, NAN, NULL, 1), (103, NULL, -0.0, 'é', 2),"
            " (104, 4, 0.0, NULL, 3)",
            "INSERT INTO t VALUES (102, 2, 'nan'::DOUBLE, NULL, 1),"
            " (103, NULL, '-0.0'::DOUBLE, 'é', 2), (104, 4, 0.0, NULL, 3)",
        ),
        (
            "UPDATE t SET s = 'upd', f = -0.0 WHERE id IN (2, 101, 11)",
            "UPDATE t SET s = 'upd', f = '-0.0'::DOUBLE WHERE id IN (2, 101, 11)",
        ),
        ("INSERT INTO t VALUES (8, 80, 8.5, 'back', 9)", None),  # re-inserts a tombstoned key
    ]
    keys = [base_only, 2, 101, 8, 10, 11, 102, 103, 104, absent]
    for q in _pinned(keys):
        m.check(q, monkeypatch)
    for n, (sql, duck_sql) in enumerate(writes, start=1):
        m.run(sql, duck_sql)
        if n == 3:
            m.run(
                "ALTER TABLE t ADD COLUMN d INTEGER NOT NULL DEFAULT 7",
                "ALTER TABLE t ADD COLUMN d BIGINT DEFAULT 7",
            )
        if n == 5:
            m.run("ALTER TABLE t RENAME COLUMN a TO b")
        assert chain() == n
        for q in _pinned(keys):
            m.check(q, monkeypatch)
    assert fetch(eng, "SELECT id, s, d FROM t WHERE id = 11") == [(11, "upd", 7)]


def test_string_key_with_multibyte_values(eng, monkeypatch):
    m = Mirror(
        eng,
        "CREATE TABLE t (id STRING PRIMARY KEY, v INTEGER, s STRING)",
        "CREATE TABLE t (id VARCHAR, v BIGINT, s VARCHAR)",
    )
    m.run("INSERT INTO t VALUES ('é', 1, 'a'), ('日本', 2, 'b'), ('🙂', 3, NULL), ('', 4, 'd')")
    m.run("UPDATE t SET v = v + 10 WHERE id = '日本'")
    m.run("DELETE FROM t WHERE id = 'é'")
    m.run("INSERT INTO t VALUES ('e', 5, 'e'), ('日本語', 6, 'f')")
    for q in [
        "SELECT * FROM t WHERE id = '日本'",
        "SELECT * FROM t WHERE id = 'é'",
        "SELECT * FROM t WHERE id = ''",
        "SELECT * FROM t WHERE id IN ('🙂', 'e', '日本語', '日本', 'zz', 'e')",
        "SELECT id, v FROM t WHERE '🙂' = id AND v > 0",
    ]:
        m.check(q, monkeypatch)


def test_transactions_see_their_pinned_snapshot(eng, monkeypatch):
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, s STRING)")
    eng.execute("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    v1 = eng.catalog.current_version()
    q = "SELECT * FROM t WHERE id IN (1, 2, 3)"

    def both() -> list:
        assert lookup(eng, q) is not None
        got = _rows(fetch(eng, q))
        assert got == _rows(scanned(eng, q, monkeypatch))
        return got

    eng.execute("BEGIN")
    eng.execute("INSERT INTO t VALUES (3, 'c')")
    eng.execute("UPDATE t SET s = 'B' WHERE id = 2")
    assert both() == [(1, "a"), (2, "B"), (3, "c")]  # its own pending writes
    eng.execute("ROLLBACK")
    assert both() == [(1, "a"), (2, "b")]
    eng.execute("BEGIN")
    eng.execute("DELETE FROM t WHERE id = 1")
    eng.execute("COMMIT")
    assert both() == [(2, "b")]
    eng.execute(f"BEGIN READ ONLY AS OF SYSTEM TIME {v1}")
    assert both() == [(1, "a"), (2, "b")]
    eng.execute("COMMIT")


def test_pinned_select_runs_no_job(spark, eng):
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, a INTEGER, s STRING)")
    eng.execute("INSERT INTO t VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'c')")
    eng.execute("UPDATE t SET a = a + 1 WHERE id = 2")
    eng.execute("DELETE FROM t WHERE id = 3")
    got = []
    sql = "SELECT s, a * 2 AS a2 FROM t WHERE id IN (2, 3) ORDER BY s LIMIT 5"
    assert jobs(spark, lambda: got.extend(eng.execute(sql).fetch(10)[0])) == 0
    assert got == [("b", 42)]


def test_values_insert_into_a_chain_runs_no_job(spark, eng):
    """Its primary-key probe reads the pinned keys on the driver, and the
    driver writes its delta with pyarrow."""
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, s STRING)")
    eng.execute("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    eng.execute("DELETE FROM t WHERE id = 2")
    assert jobs(spark, lambda: eng.execute("INSERT INTO t VALUES (3, 'c')")) == 0
    # the probe sees base, delta and tombstone alike
    with pytest.raises(EngineError, match="duplicate primary key 1"):
        eng.execute("INSERT INTO t VALUES (1, 'x')")
    with pytest.raises(EngineError, match="duplicate primary key 3"):
        eng.execute("INSERT INTO t VALUES (3, 'x')")
    eng.execute("INSERT INTO t VALUES (2, 'again')")
    assert sorted(fetch(eng, "SELECT * FROM t")) == [(1, "a"), (2, "again"), (3, "c")]


def test_literal_foreign_keys_probe_the_parent_by_key(eng):
    eng.execute("CREATE TABLE p (id INTEGER PRIMARY KEY)")
    eng.execute("CREATE TABLE c (id INTEGER PRIMARY KEY, p INTEGER REFERENCES p)")
    eng.execute("INSERT INTO p VALUES (1), (2)")
    eng.execute("DELETE FROM p WHERE id = 2")
    eng.execute("INSERT INTO c VALUES (1, 1), (2, NULL)")
    with pytest.raises(EngineError, match="referenced primary key 2"):
        eng.execute("INSERT INTO c VALUES (3, 2)")


def _check_fallback(eng, sql: str, want: list) -> None:
    assert lookup(eng, sql) is None, sql
    assert _rows(fetch(eng, sql)) == _rows(want), sql


def test_fallbacks_return_the_same_rows(eng, tmp_path, monkeypatch):
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, s STRING)")
    eng.execute("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    v1 = eng.catalog.current_version()
    eng.execute("UPDATE t SET s = 'B' WHERE id = 2")
    eng.execute("CREATE VIEW v AS SELECT * FROM t")
    eng.execute("CREATE MATERIALIZED VIEW mv AS SELECT id, s FROM t")
    path = str(tmp_path / "ext.parquet")
    pq.write_table(pa.table({"id": [1, 2], "s": ["x", "y"]}), path)
    eng.attach_parquet("ext", path)
    eng.execute("CREATE TABLE pt (id INTEGER PRIMARY KEY, g STRING) PARTITION BY (g)")
    eng.execute("INSERT INTO pt VALUES (1, 'p'), (2, 'q')")
    eng.execute("CREATE TABLE ft (id FLOAT PRIMARY KEY, s STRING)")
    eng.execute("INSERT INTO ft VALUES (1.5, 'f')")

    _check_fallback(eng, "SELECT * FROM v WHERE id = 2", [(2, "B")])
    _check_fallback(eng, "SELECT * FROM mv WHERE id = 2", [(2, "B")])
    _check_fallback(eng, "SELECT * FROM ext WHERE id = 2", [(2, "y")])
    _check_fallback(eng, "SELECT * FROM pt WHERE id = 2", [(2, "q")])
    _check_fallback(eng, "SELECT * FROM ft WHERE id = 1.5", [(1.5, "f")])
    _check_fallback(eng, f"SELECT * FROM t AS OF SYSTEM TIME {v1} WHERE id = 2", [(2, "b")])
    _check_fallback(eng, "SELECT * FROM t WHERE id = 2.0", [(2, "B")])
    _check_fallback(eng, "SELECT * FROM t WHERE id BETWEEN 2 AND 2", [(2, "B")])
    _check_fallback(eng, "SELECT * FROM t WHERE id = 2 OR id = 5", [(2, "B")])
    _check_fallback(
        eng, "SELECT t.id, u.s FROM t JOIN t AS u ON t.id = u.id WHERE t.id = 2", [(2, "B")]
    )
    _check_fallback(
        eng, "SELECT * FROM t WHERE id = 2 AND s IN (SELECT s FROM t)", [(2, "B")]
    )
    # a string literal against an INTEGER key is the compiler's type error
    sql = "SELECT * FROM t WHERE id = '2'"
    assert lookup(eng, sql) is None
    with pytest.raises(EngineError, match="can't compare"):
        fetch(eng, sql)
    # above the byte bound the Spark scan serves the same keys
    pinned = "SELECT * FROM t WHERE id IN (1, 2)"
    assert lookup(eng, pinned) is not None
    want = fetch(eng, pinned)
    monkeypatch.setattr(SnapshotCatalog, "LOOKUP_BYTES", 0)
    _check_fallback(eng, pinned, want)
    with pytest.raises(EngineError):
        fetch(eng, "SELECT * FROM t WHERE id = 9223372036854775808")


def test_explain_names_the_access_path(eng):
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, s STRING)")
    eng.execute("INSERT INTO t VALUES (1, 'a')")
    assert "KeyLookup t as x keys=[1, 2]" in eng.explain(
        "SELECT * FROM t x WHERE x.id IN (1, 2)"
    )
    text = eng.explain("SELECT * FROM t WHERE id = 1.0")
    assert "Scan t" in text and "KeyLookup" not in text
