"""Differential test of the delta-scoped constraint checks.

Every write checks only what its delta can newly violate
(``sources.constraints.check_delta``). This test runs Hypothesis-generated
DML streams through two engines over identical catalogs: the real one,
and one with ``validate_view`` below patched in — the full-view check
that validates the whole candidate table (kept pre-image rows plus
upserts) and, for removed keys, every referencing row. Both must accept
or reject every statement alike, with the same error kind and column,
and leave the same tables. After every statement the tables are also
checked against the constraints row by row in Python, which does not
trust either engine's notion of the delta.

Schema: ``parent`` (INTEGER PK, UNIQUE STRING, NOT NULL STRING),
``child`` (FK to the parent, a self-referencing FK, a UNIQUE FLOAT FK to
the parent that takes NaN) and a read-only MERGE source ``src``.
Predicates reuse the comparison operators of test_statement_fuzz, MERGE
clauses the conditions and expressions of test_merge_fuzz.
"""

from __future__ import annotations

import copy
import math
import re
import shutil

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from test_merge_fuzz import CONDS, INS_VALS, SETS, SRC_CONDS
from test_statement_fuzz import cmp_ops

from entangledb_spark.engine import Engine, EngineError
from entangledb_spark.sources import constraints as con

SETUP = [
    "CREATE TABLE parent (id INTEGER PRIMARY KEY, u STRING NULL UNIQUE, "
    "s STRING NOT NULL)",
    "CREATE TABLE child (id INTEGER PRIMARY KEY, pid INTEGER NULL REFERENCES parent, "
    "sid INTEGER NULL REFERENCES child, f FLOAT NULL UNIQUE REFERENCES parent, "
    "n INTEGER NULL)",
    "CREATE TABLE src (id INTEGER PRIMARY KEY, m INTEGER NULL, pid INTEGER NULL)",
    "INSERT INTO parent VALUES (0, 'u0', 's'), (1, 'u1', 's'), (2, NULL, 's'), "
    "(3, 'u3', 's'), (4, NULL, 's'), (5, 'u5', 's')",
    "INSERT INTO child VALUES (0, 1, NULL, 1.0, 3), (1, 1, 0, NAN, NULL), "
    "(2, 3, 1, NULL, 7), (3, NULL, 3, 2.0, 1), (4, 5, NULL, NULL, 0)",
    "INSERT INTO src VALUES (0, 4, 2), (2, NULL, 9), (4, 7, 0), (5, 6, NULL), "
    "(6, 2, 3), (8, 1, 8)",
]


# ------------------------------------------------------------ the reference


def check_delete_references(deleted_table, remaining_target, target_pk, referencing):
    """No row in ``referencing`` [(table, column dict, DataFrame)] may hold
    a key that ``remaining_target`` lacks (NaN references nothing)."""
    target_keys = remaining_target.select(F.col(target_pk).alias("__v"))
    for rtable, c, rdf in referencing:
        rcol = c["name"]
        vals = rdf.select(F.col(rcol).alias("__v")).filter(F.col("__v").isNotNull())
        if c["datatype"] == "FLOAT":
            vals = vals.filter(~F.isnan("__v"))
        orphan = vals.join(target_keys, on="__v", how="left_anti").limit(1).collect()
        if orphan:
            raise con.ConstraintError(
                f"primary key {orphan[0][0]!r} referenced by table {rtable} "
                f"(column {rcol}) cannot be removed from {deleted_table}"
            )


def validate_view(engine, manifest, name, delta):
    """Full-view reference for ``SnapshotCatalog.check_delta``: every constraint
    over the whole candidate table ``kept ∪ upserts``, then every row of
    the other tables that reference it."""
    tables = manifest["tables"]

    def pk_of(table):
        return next(c["name"] for c in tables[table]["columns"] if c["primary_key"])

    def read(table):
        return engine.catalog.read_df(manifest, table)

    parts = [d for d in (delta.kept, delta.upserts) if d is not None]
    candidate = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    cols, pk = tables[name]["columns"], pk_of(name)
    referencing = [
        (t, c, candidate if t == name else read(t))
        for t, meta in tables.items()
        for c in meta["columns"]
        if c["references"] == name and (delta.deleting or t != name)
    ]
    if not delta.deleting:
        con.check_not_null_and_length(name, candidate, cols)
        con.check_unique(name, candidate, cols)
        con.check_foreign_keys(
            name,
            candidate,
            cols,
            lambda t: (candidate, pk) if t == name else (read(t), pk_of(t)),
        )
    check_delete_references(name, candidate, pk, referencing)


class FullViewEngine(Engine):
    def __init__(self, spark, base_dir):
        super().__init__(spark, base_dir)
        self.catalog.check_delta = lambda manifest, name, delta: validate_view(
            self, manifest, name, delta
        )


# ------------------------------------------------------------ statements

keys = st.integers(0, 9)
maybe_key = st.one_of(st.none(), keys)
where = st.tuples(cmp_ops, st.integers(0, 9)).map(lambda t: f"id {t[0]} {t[1]}")


def _bytes_long(n: int, multibyte: bool) -> str:
    """A string of exactly ``n`` UTF-8 bytes."""
    return "é" * (n // 2) + "x" * (n % 2) if multibyte else "x" * n


strings = st.one_of(
    st.sampled_from(["a", "b", "u1", "u3", "ü", "漢字"]),
    st.builds(_bytes_long, st.integers(1020, 1030), st.booleans()),
)


def sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NAN" if math.isnan(v) else repr(v)
    if isinstance(v, str):
        return f"'{v}'"
    return str(v)


floats = st.sampled_from([None, float("nan"), 1.0, 2.0, 3.0, 2.5])
parent_row = st.tuples(st.one_of(st.none(), keys), st.one_of(st.none(), strings),
                       st.one_of(st.none(), strings))
child_row = st.tuples(keys, maybe_key, maybe_key, floats, maybe_key)


def values(rows) -> str:
    return ", ".join("(" + ", ".join(sql_lit(v) for v in r) + ")" for r in rows)


def _when(c) -> str:
    return f" AND {c[0]}" if c[0] else ""


@st.composite
def merge_stmt(draw):
    if draw(st.booleans()):
        # child: SET n like test_merge_fuzz, plus a possibly dangling pid
        matched = draw(st.sampled_from(["update", "delete", None]))
        parts = []
        if matched == "update":
            expr = draw(st.sampled_from(SETS))[0]
            parts.append(
                f"WHEN MATCHED{_when(draw(st.sampled_from(CONDS)))} THEN UPDATE "
                f"SET n = {expr}, pid = src.pid"
            )
        elif matched == "delete":
            parts.append(f"WHEN MATCHED{_when(draw(st.sampled_from(CONDS)))} THEN DELETE")
        if matched is None or draw(st.booleans()):
            v = draw(st.sampled_from(INS_VALS))[0]
            parts.append(
                f"WHEN NOT MATCHED{_when(draw(st.sampled_from(SRC_CONDS)))} THEN "
                f"INSERT (id, pid, n) VALUES (src.id, src.pid, {v})"
            )
        return "MERGE INTO child AS tgt USING src ON tgt.id = src.id " + " ".join(parts)
    cond = _when(draw(st.sampled_from(SRC_CONDS)))
    matched = draw(
        st.sampled_from(
            [
                f"WHEN MATCHED{cond} THEN DELETE",
                f"WHEN MATCHED{cond} THEN UPDATE SET u = {sql_lit(draw(strings))}",
                f"WHEN MATCHED{cond} THEN UPDATE SET u = NULL",
            ]
        )
    )
    return (
        f"MERGE INTO parent AS tgt USING src ON tgt.id = src.id {matched} "
        "WHEN NOT MATCHED THEN INSERT (id, s) VALUES (src.id, 'm')"
    )


statement = st.one_of(
    st.lists(parent_row, min_size=1, max_size=3).map(
        lambda rs: f"INSERT INTO parent VALUES {values(rs)}"
    ),
    st.lists(child_row, min_size=1, max_size=3).map(
        lambda rs: f"INSERT INTO child VALUES {values(rs)}"
    ),
    st.tuples(st.integers(0, 6), where, st.booleans()).map(
        lambda t: f"INSERT INTO parent (id, s{', u' if t[2] else ''}) "
        f"SELECT id + {t[0]}, s{', u' if t[2] else ''} FROM parent WHERE {t[1]}"
    ),
    st.tuples(st.integers(0, 6), where).map(
        lambda t: f"INSERT INTO child (id, pid, sid, n) "
        f"SELECT id + {t[0]}, pid, id, m FROM src WHERE {t[1]}"
    ),
    st.tuples(
        st.sampled_from(["parent", "child"]), st.integers(-2, 3), where
    ).map(lambda t: f"UPDATE {t[0]} SET id = id + {t[1]} WHERE {t[2]}"),
    st.tuples(st.one_of(st.none(), strings), where).map(
        lambda t: f"UPDATE parent SET u = {sql_lit(t[0])} WHERE {t[1]}"
    ),
    st.tuples(st.one_of(st.none(), strings), where).map(
        lambda t: f"UPDATE parent SET s = {sql_lit(t[0])} WHERE {t[1]}"
    ),
    where.map(lambda w: f"UPDATE parent SET u = s WHERE {w}"),
    st.tuples(st.sampled_from(["pid", "sid"]), maybe_key, where).map(
        lambda t: f"UPDATE child SET {t[0]} = {sql_lit(t[1])} WHERE {t[2]}"
    ),
    st.tuples(floats, where).map(
        lambda t: f"UPDATE child SET f = {sql_lit(t[0])} WHERE {t[1]}"
    ),
    st.tuples(st.integers(-1, 2), where).map(
        lambda t: f"UPDATE child SET sid = id + {t[0]} WHERE {t[1]}"
    ),
    st.tuples(st.sampled_from(["parent", "child"]), where).map(
        lambda t: f"DELETE FROM {t[0]} WHERE {t[1]}"
    ),
    merge_stmt(),
)


@st.composite
def stream(draw):
    stmts = draw(st.lists(statement, min_size=2, max_size=3))
    if draw(st.booleans()):
        lo = draw(st.integers(0, len(stmts) - 1))
        hi = draw(st.integers(lo + 1, len(stmts)))
        stmts = stmts[:lo] + ["BEGIN"] + stmts[lo:hi] + ["COMMIT"] + stmts[hi:]
    return stmts


# ------------------------------------------------------------ comparison

KINDS = [
    (r"NULL value not allowed for column (\w+) in table (\w+)", "null"),
    (r"string value in column (\w+) of table (\w+) exceeds", "length"),
    (r"duplicate (?:primary key|unique value) .* for column (\w+) in table (\w+)$", "duplicate"),
    (r"referenced primary key .* does not exist \(column (\w+) of (\w+)\)$", "missing"),
    (r"referenced by table (\w+) \(column (\w+)\) cannot be removed from (\w+)$", "removal"),
]


def outcome(eng, sql):
    try:
        eng.execute(sql)
        return ("ok",)
    except EngineError as e:
        msg = str(e)
        for pattern, kind in KINDS:
            m = re.search(pattern, msg, re.S)
            if m:
                return (kind, *m.groups())
        return ("error", msg)


def snapshot(eng) -> dict:
    def norm(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    return {
        t: sorted(
            (tuple(norm(v) for v in r) for r in eng.execute(f"SELECT * FROM {t}").fetch(10_000)[0]),
            key=repr,
        )
        for t in ("parent", "child")
    }


def assert_constraints_hold(tables: dict) -> None:
    """The constraints, row by row, over the collected tables."""
    parent, child = tables["parent"], tables["child"]
    pids = [r[0] for r in parent]
    cids = [r[0] for r in child]
    assert len(set(pids)) == len(pids) and len(set(cids)) == len(cids)
    us = [r[1] for r in parent if r[1] is not None]
    assert len(set(us)) == len(us)
    fs = [r[3] for r in child if r[3] is not None]
    assert len(set(fs)) == len(fs)
    for _, u, s in parent:
        assert s is not None
        for v in (u, s):
            assert v is None or len(v.encode("utf-8")) <= con.MAX_STRING_BYTES
    for _, pid, sid, f, _ in child:
        assert pid is None or pid in pids
        assert sid is None or sid in cids
        assert f is None or f == "NaN" or f in pids


def tables_of(eng) -> dict:
    """The table entries a statement sees: the open transaction's or the
    committed ones."""
    return eng._manifest_for_read()["tables"]


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("constraint_delta")
    seeded = Engine(spark, str(root / "delta"))
    for sql in SETUP:
        seeded.execute(sql)
    # the catalog is a directory of relative paths: a copy is identical
    shutil.copytree(root / "delta", root / "full")
    pair = (seeded, FullViewEngine(spark, str(root / "full")))
    return pair, seeded.catalog.current_version()


def reset(pair, version: int) -> None:
    for eng in pair:
        eng.catalog.publish(eng.catalog.manifest(version))


@settings(
    max_examples=3,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(stmts=stream())
def test_delta_checks_match_full_view(engines, stmts):
    pair, seed = engines
    reset(pair, seed)
    for sql in stmts:
        before = [copy.deepcopy(tables_of(eng)) for eng in pair]
        got = [outcome(eng, sql) for eng in pair]
        assert got[0] == got[1], sql
        if got[0][0] != "ok":
            # a rejected statement stages nothing
            assert [tables_of(eng) for eng in pair] == before, sql
            continue
        tables = [snapshot(eng) for eng in pair]
        assert tables[0] == tables[1], sql
        assert_constraints_hold(tables[0])


def test_examples(engines):
    """One fixed statement per rule, each from the seeded tables; the
    expected outcome is spelled out, so the delta checks alone run."""
    pair, seed = engines
    cases = [
        # a re-keying UPDATE may move onto keys it frees itself
        ("UPDATE parent SET id = id + 1 WHERE id >= 4", ("ok",)),
        # but not onto a kept key, nor away from a referenced one
        ("UPDATE parent SET id = id + 1 WHERE id = 0", ("duplicate", "id", "parent")),
        ("UPDATE parent SET id = 9 WHERE id = 1", ("removal", "child", "pid", "parent")),
        ("UPDATE child SET id = id + 10 WHERE id = 3", ("missing", "sid", "child")),
        ("INSERT INTO parent VALUES (7, 'u1', 's')", ("duplicate", "u", "parent")),
        ("INSERT INTO parent VALUES (7, 'v', 's'), (8, 'v', 's')", ("duplicate", "u", "parent")),
        ("INSERT INTO parent VALUES (7, NULL, NULL)", ("null", "s", "parent")),
        (f"INSERT INTO parent VALUES (7, NULL, '{'é' * 512}x')", ("length", "s", "parent")),
        (f"INSERT INTO parent VALUES (7, NULL, '{'é' * 512}')", ("ok",)),
        ("INSERT INTO child VALUES (9, 8, NULL, NULL, NULL)", ("missing", "pid", "child")),
        ("INSERT INTO child VALUES (9, NULL, 9, NULL, NULL)", ("ok",)),
        ("INSERT INTO child VALUES (9, NULL, NULL, NAN, NULL)", ("duplicate", "f", "child")),
        ("UPDATE child SET f = NAN WHERE id = 4", ("duplicate", "f", "child")),
        ("DELETE FROM parent WHERE id = 3", ("removal", "child", "pid", "parent")),
        # a NaN reference points at no key, so it blocks no removal
        ("DELETE FROM parent WHERE id = 4", ("ok",)),
        ("DELETE FROM child WHERE id = 0", ("removal", "child", "sid", "child")),
        ("UPDATE parent SET s = NULL WHERE id > 100", ("ok",)),
        ("UPDATE parent SET u = 'u0' WHERE id > 100", ("ok",)),
        ("UPDATE parent SET u = 'u0' WHERE id = 2", ("duplicate", "u", "parent")),
        (
            "MERGE INTO parent AS tgt USING src ON tgt.id = src.id "
            "WHEN MATCHED AND src.m = 7 THEN DELETE",
            ("ok",),
        ),
        (
            "MERGE INTO parent AS tgt USING src ON tgt.id = src.id "
            "WHEN MATCHED AND src.m IS NULL THEN DELETE",
            ("removal", "child", "f", "parent"),
        ),
        (
            "MERGE INTO child AS tgt USING src ON tgt.id = src.id "
            "WHEN MATCHED THEN UPDATE SET pid = src.pid",
            ("missing", "pid", "child"),
        ),
        # a target row matched twice by an insert-only MERGE is no duplicate
        (
            "MERGE INTO parent AS tgt USING (SELECT 1 AS id UNION ALL SELECT 1 AS id "
            "UNION ALL SELECT 7 AS id) AS src ON tgt.id = src.id "
            "WHEN NOT MATCHED THEN INSERT (id, s) VALUES (src.id, 'm')",
            ("ok",),
        ),
    ]
    eng = pair[0]
    for sql, want in cases:
        reset([eng], seed)
        assert outcome(eng, sql) == want, sql
        if want == ("ok",):
            assert_constraints_hold(snapshot(eng))
