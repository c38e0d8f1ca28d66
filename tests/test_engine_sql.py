"""End-to-end engine tests: SQL text → snapshot-versioned storage → results.

Covers the reference's semantics inventory: expression truth tables
(3-valued logic), LIKE doubling escapes, integer division/exponent/
factorial, DDL + constraints (PK/NOT NULL/UNIQUE/FK/string length), DML as
snapshot rewrites, transactions with AS OF time travel, and the README's
own example queries (movies/genres/countries shapes from FIXTURES.md §A).
"""

from __future__ import annotations

import math

import pytest

from entangledb_spark.engine import Engine, EngineError

pytestmark = pytest.mark.usefixtures("spark")


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, str(tmp_path / "db"))


def one(eng, sql):
    rows = eng.execute(sql).rows
    assert len(rows) == 1
    return rows[0]


def setup_movies(eng):
    eng.execute(
        "CREATE TABLE genres (id INTEGER PRIMARY KEY, name STRING NOT NULL)"
    )
    eng.execute(
        "CREATE TABLE movies (id INTEGER PRIMARY KEY, title STRING NOT NULL, "
        "released INTEGER NOT NULL, rating FLOAT NULL, genre_id INTEGER NULL REFERENCES genres)"
    )
    eng.execute("INSERT INTO genres VALUES (1, 'Drama'), (2, 'Scifi'), (3, 'Comedy')")
    eng.execute(
        "INSERT INTO movies VALUES "
        "(1, 'Stalker', 1979, 9.0, 1), "
        "(2, 'Solaris', 1972, 8.5, 2), "
        "(3, 'Sideways', 2004, 7.5, 3), "
        "(4, 'Heat', 1995, 8.3, 1), "
        "(5, 'Unrated', 2021, NULL, NULL)"
    )


# ---------------------------------------------------------------- expressions


def test_fromless_arithmetic(eng):
    assert one(eng, "SELECT 1 + 2 * 3") == (7,)
    assert one(eng, "SELECT 7 / 2") == (3,)  # int/int truncates
    assert one(eng, "SELECT -7 / 2") == (-3,)  # toward zero
    assert one(eng, "SELECT 7.0 / 2") == (3.5,)
    assert one(eng, "SELECT 7 % 3") == (1,)
    assert one(eng, "SELECT 2 ^ 10") == (1024,)  # integer result
    assert one(eng, "SELECT 5!") == (120,)
    assert one(eng, "SELECT -(1 + 2)") == (-3,)


def test_three_valued_logic(eng):
    # expression.rs:52-74 truth tables
    assert one(eng, "SELECT TRUE AND NULL") == (None,)
    assert one(eng, "SELECT FALSE AND NULL") == (False,)
    assert one(eng, "SELECT TRUE OR NULL") == (True,)
    assert one(eng, "SELECT FALSE OR NULL") == (None,)
    assert one(eng, "SELECT NOT NULL") == (None,)
    assert one(eng, "SELECT NULL = NULL") == (None,)
    assert one(eng, "SELECT NULL IS NULL") == (True,)
    assert one(eng, "SELECT 1 IS NOT NULL") == (True,)


def test_float_literals(eng):
    assert one(eng, "SELECT INFINITY") == (float("inf"),)
    assert one(eng, "SELECT -INFINITY") == (float("-inf"),)
    (v,) = one(eng, "SELECT NAN")
    assert math.isnan(v)


def test_comparisons(eng):
    assert one(eng, "SELECT 1 < 2, 2 <= 2, 3 > 2, 3 >= 4, 1 = 1.0, 1 != 2") == (
        True, True, True, False, True, True,
    )
    assert one(eng, "SELECT 'a' < 'b', FALSE < TRUE") == (True, True)


def test_factorial_errors(eng):
    with pytest.raises(Exception):
        eng.execute("SELECT (0 - 3)!")
    with pytest.raises(Exception):
        eng.execute("SELECT 25!")


def test_like_translation(eng):
    eng.execute("CREATE TABLE s (id INTEGER PRIMARY KEY, v STRING NOT NULL)")
    eng.execute(
        "INSERT INTO s VALUES (1, 'hello'), (2, 'h_llo'), (3, 'h%llo'), (4, 'heXYllo')"
    )
    r = eng.execute("SELECT id FROM s WHERE v LIKE 'h_llo'")
    assert sorted(t[0] for t in r.rows) == [1, 2, 3]  # _ matches any one char
    r = eng.execute("SELECT id FROM s WHERE v LIKE 'h__llo'")  # literal _
    assert sorted(t[0] for t in r.rows) == [2]
    r = eng.execute("SELECT id FROM s WHERE v LIKE 'h%%llo'")  # literal %
    assert sorted(t[0] for t in r.rows) == [3]
    r = eng.execute("SELECT id FROM s WHERE v LIKE 'h%llo'")
    assert sorted(t[0] for t in r.rows) == [1, 2, 3, 4]


# ---------------------------------------------------------------- SELECT


def test_select_star_and_projection(eng):
    setup_movies(eng)
    r = eng.execute("SELECT * FROM movies")
    assert r.columns == ["id", "title", "released", "rating", "genre_id"]
    assert len(r.rows) == 5
    r = eng.execute("SELECT title, released - 1900 AS age FROM movies WHERE id = 1")
    assert r.columns == ["title", "age"] and r.rows == [("Stalker", 79)]


def test_joins(eng):
    setup_movies(eng)
    r = eng.execute(
        "SELECT m.title, g.name FROM movies m JOIN genres g ON m.genre_id = g.id "
        "ORDER BY m.id"
    )
    assert r.rows[0] == ("Stalker", "Drama") and len(r.rows) == 4
    r = eng.execute(
        "SELECT m.title, g.name FROM movies m LEFT JOIN genres g ON m.genre_id = g.id"
    )
    assert ("Unrated", None) in r.rows and len(r.rows) == 5
    r = eng.execute(
        "SELECT g.name, m.title FROM movies m RIGHT JOIN genres g ON m.genre_id = g.id"
    )
    assert len(r.rows) == 4  # every genre matched
    r = eng.execute("SELECT count(*) FROM movies, genres")
    assert r.rows == [(15,)]


def test_aggregates_and_groups(eng):
    setup_movies(eng)
    r = eng.execute(
        "SELECT genre_id, count(*) AS n, min(rating) AS lo, max(rating) AS hi "
        "FROM movies GROUP BY genre_id ORDER BY genre_id"
    )
    # NULL group sorts first (nulls-first ASC, types/mod.rs:133-135)
    assert r.rows[0][0] is None
    assert r.rows[1] == (1, 2, 8.3, 9.0)
    r = eng.execute(
        "SELECT released / 10 AS decade, count(*) FROM movies "
        "GROUP BY decade ORDER BY decade"
    )
    assert (197, 2) in r.rows
    r = eng.execute(
        "SELECT genre_id, count(*) AS n FROM movies GROUP BY genre_id "
        "HAVING count(*) > 1"
    )
    assert r.rows == [(1, 2)]
    # expression decomposition (planner.rs:166-177 worked example)
    r = eng.execute(
        "SELECT (max(rating * 100) - min(rating * 100)) / 100 FROM movies"
    )
    assert r.rows[0][0] == pytest.approx(1.5)


def test_order_limit_offset(eng):
    setup_movies(eng)
    r = eng.execute("SELECT id FROM movies ORDER BY released DESC LIMIT 2 OFFSET 1")
    assert [t[0] for t in r.rows] == [3, 4]
    r = eng.execute("SELECT id, rating FROM movies ORDER BY rating")
    assert r.rows[0][1] is None  # nulls first on ASC


def test_zero_row_aggregate(eng):
    setup_movies(eng)
    r = eng.execute("SELECT count(*), sum(rating), min(title) FROM movies WHERE FALSE")
    assert r.rows == [(0, None, None)]


def test_name_errors(eng):
    setup_movies(eng)
    with pytest.raises(EngineError):
        eng.execute("SELECT nope FROM movies")
    with pytest.raises(EngineError):
        eng.execute("SELECT id FROM movies m JOIN genres g ON m.genre_id = g.id")
    with pytest.raises(EngineError):
        eng.execute("SELECT frobnicate(1)")


# ---------------------------------------------------------------- constraints


def test_pk_and_unique(eng):
    eng.execute("CREATE TABLE u (id INTEGER PRIMARY KEY, email STRING UNIQUE)")
    eng.execute("INSERT INTO u VALUES (1, 'a@x'), (2, 'b@x')")
    with pytest.raises(EngineError, match="primary key"):
        eng.execute("INSERT INTO u VALUES (1, 'c@x')")
    with pytest.raises(EngineError, match="unique"):
        eng.execute("INSERT INTO u VALUES (3, 'a@x')")
    # UNIQUE allows multiple NULLs
    eng.execute("INSERT INTO u VALUES (4, NULL), (5, NULL)")


def test_not_null_and_defaults(eng):
    eng.execute(
        "CREATE TABLE d (id INTEGER PRIMARY KEY, req STRING NOT NULL, "
        "opt INTEGER, pct FLOAT DEFAULT 0.5)"
    )
    eng.execute("INSERT INTO d (id, req) VALUES (1, 'x')")  # defaults pad
    r = eng.execute("SELECT * FROM d")
    assert r.rows == [(1, "x", None, 0.5)]
    with pytest.raises(EngineError, match="NULL value not allowed"):
        eng.execute("INSERT INTO d VALUES (2, NULL, 1, 1.0)")
    with pytest.raises(EngineError, match="no value given"):
        eng.execute("INSERT INTO d (id) VALUES (3)")


def test_string_length_limit(eng):
    eng.execute("CREATE TABLE sl (id INTEGER PRIMARY KEY, v STRING)")
    eng.execute(f"INSERT INTO sl VALUES (1, '{'a' * 1024}')")
    with pytest.raises(EngineError, match="1024"):
        eng.execute(f"INSERT INTO sl VALUES (2, '{'a' * 1025}')")


def test_foreign_keys(eng):
    setup_movies(eng)
    with pytest.raises(EngineError, match="does not exist"):
        eng.execute("INSERT INTO movies VALUES (9, 'Bad', 2000, 1.0, 99)")
    with pytest.raises(EngineError, match="referenced"):
        eng.execute("DELETE FROM genres WHERE id = 1")
    eng.execute("DELETE FROM movies WHERE genre_id = 1")
    eng.execute("DELETE FROM genres WHERE id = 1")  # now unreferenced


def test_drop_table_fk_guard(eng):
    setup_movies(eng)
    with pytest.raises(EngineError, match="referenced by"):
        eng.execute("DROP TABLE genres")
    eng.execute("DROP TABLE movies")
    eng.execute("DROP TABLE genres")
    with pytest.raises(EngineError):
        eng.execute("SELECT * FROM movies")


# ---------------------------------------------------------------- DML


def test_update(eng):
    setup_movies(eng)
    r = eng.execute("UPDATE movies SET rating = rating + 0.5 WHERE genre_id = 1")
    assert r.status == "UPDATE 2"
    r = eng.execute("SELECT rating FROM movies WHERE id = 1")
    assert r.rows == [(9.5,)]
    r = eng.execute("SELECT rating FROM movies WHERE id = 2")
    assert r.rows == [(8.5,)]  # untouched


def test_delete(eng):
    setup_movies(eng)
    r = eng.execute("DELETE FROM movies WHERE released < 1980")
    assert r.status == "DELETE 2"
    assert one(eng, "SELECT count(*) FROM movies") == (3,)


# ---------------------------------------------------------------- transactions


def test_autocommit_versions(eng):
    v0 = eng.catalog.current_version()
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY)")
    eng.execute("INSERT INTO t VALUES (1)")
    assert eng.catalog.current_version() == v0 + 2  # one version per statement


def test_txn_commit_rollback(eng):
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY)")
    eng.execute("BEGIN")
    eng.execute("INSERT INTO t VALUES (1)")
    eng.execute("INSERT INTO t VALUES (2)")
    eng.execute("COMMIT")
    assert one(eng, "SELECT count(*) FROM t") == (2,)
    eng.execute("BEGIN")
    eng.execute("INSERT INTO t VALUES (3)")
    assert one(eng, "SELECT count(*) FROM t") == (3,)  # txn sees own writes
    eng.execute("ROLLBACK")
    assert one(eng, "SELECT count(*) FROM t") == (2,)


def test_txn_errors(eng):
    with pytest.raises(EngineError):
        eng.execute("COMMIT")
    with pytest.raises(EngineError):
        eng.execute("ROLLBACK")
    eng.execute("BEGIN")
    with pytest.raises(EngineError):
        eng.execute("BEGIN")
    eng.execute("ROLLBACK")


def test_read_only_txn(eng):
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY)")
    eng.execute("BEGIN READ ONLY")
    with pytest.raises(EngineError, match="read-only"):
        eng.execute("INSERT INTO t VALUES (1)")
    eng.execute("COMMIT")


def test_as_of_time_travel(eng):
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v STRING)")
    v1 = eng.catalog.current_version()
    eng.execute("INSERT INTO t VALUES (1, 'first')")
    v2 = eng.catalog.current_version()
    eng.execute("UPDATE t SET v = 'second' WHERE id = 1")
    eng.execute("INSERT INTO t VALUES (2, 'x')")

    eng.execute(f"BEGIN READ ONLY AS OF SYSTEM TIME {v2}")
    assert eng.execute("SELECT v FROM t").rows == [("first",)]
    eng.execute("COMMIT")

    eng.execute(f"BEGIN READ ONLY AS OF SYSTEM TIME {v1}")
    assert eng.execute("SELECT count(*) FROM t").rows == [(0,)]
    eng.execute("COMMIT")

    assert sorted(eng.execute("SELECT v FROM t").rows) == [("second",), ("x",)]
    with pytest.raises(EngineError, match="does not exist"):
        eng.execute("BEGIN READ ONLY AS OF SYSTEM TIME 9999")


def test_explain(eng):
    setup_movies(eng)
    r = eng.execute("EXPLAIN SELECT title FROM movies WHERE id = 1")
    text = "\n".join(t[0] for t in r.rows)
    assert "Select" in text and "KeyLookup movies keys=[1]" in text
    assert "Scan movies" not in text
    assert "Physical (Catalyst)" in text and "LocalTableScan" in text
    r = eng.execute("EXPLAIN SELECT title FROM movies WHERE id > 1")
    text = "\n".join(t[0] for t in r.rows)
    assert "Scan movies" in text and "KeyLookup" not in text
    # a write names the path its pre-image is read by; nothing runs
    r = eng.execute("EXPLAIN UPDATE movies SET rating = 1.0 WHERE id IN (1, 2) AND released > 0")
    lines = [t[0] for t in r.rows]
    assert lines[0] == "Update movies" and "  KeyLookup movies keys=[1, 2]" in lines, lines
    assert not any("Scan" in line for line in lines), lines
    r = eng.execute("EXPLAIN DELETE FROM movies WHERE released > 2000")
    lines = [t[0] for t in r.rows]
    assert lines[0] == "Delete movies" and "  Scan movies" in lines, lines
    assert not any("KeyLookup" in line for line in lines), lines
    assert eng.execute("SELECT count(*) FROM movies WHERE rating = 1.0").rows == [(0,)]


def test_explain_analyze(eng):
    """EXPLAIN ANALYZE (extension): executes the query and returns the
    FINAL adaptive physical plan with per-operator RUNTIME metrics plus
    row count and wall time; rejects DML; plain EXPLAIN stays static."""
    setup_movies(eng)
    r = eng.execute(
        "EXPLAIN ANALYZE SELECT genre_id, count(*) AS n FROM movies "
        "GROUP BY genre_id"
    )
    assert r.status == "EXPLAIN ANALYZE"
    text = "\n".join(t[0] for t in r.rows)
    # logical tree + execution summary + runtime metrics
    assert "Aggregate" in text and "Scan movies" in text
    assert "Executed: 4 row(s) in" in text  # 3 genres + the NULL group
    assert "runtime metrics" in text and "numOutputRows=" in text
    assert "AdaptiveSparkPlan" in text
    # joins profile too (exchange/shuffle metrics appear)
    jr = eng.execute(
        "EXPLAIN ANALYZE SELECT m.title FROM movies m "
        "JOIN genres g ON m.genre_id = g.id"
    )
    jtext = "\n".join(t[0] for t in jr.rows)
    assert "Executed: 4 row(s)" in jtext and "numOutputRows=" in jtext
    # DML refused — profiling must not write
    with pytest.raises(EngineError, match="SELECT queries only"):
        eng.execute("EXPLAIN ANALYZE INSERT INTO genres VALUES (9, 'X')")
    rows, _ = eng.execute("SELECT count(*) FROM genres").fetch(1)
    assert rows == [(3,)]  # nothing was written
    # plain EXPLAIN unchanged (static, no execution summary)
    p = eng.execute("EXPLAIN SELECT title FROM movies")
    ptext = "\n".join(t[0] for t in p.rows)
    assert p.status == "EXPLAIN" and "Executed:" not in ptext
    # the session survives and ANALYZE still lexes inside larger texts
    assert one(eng, "SELECT 1 + 1") == (2,)


def test_mixed_type_comparison_errors(eng):
    # expression.rs:86-88 "Can't compare" — pre-validated at compile time
    for bad in [
        "SELECT 1 = 'a'",
        "SELECT 'a' < 1",
        "SELECT TRUE > 1",
        "SELECT 'x' >= FALSE",
    ]:
        with pytest.raises(EngineError, match="can't compare"):
            eng.execute(bad)
    # numeric cross-compare and same-type compares stay legal
    assert one(eng, "SELECT 1 < 2.5, 'a' = 'a', TRUE = TRUE") == (True, True, True)


def test_catalog_introspection(eng):
    setup_movies(eng)
    assert eng.list_tables() == ["genres", "movies"]
    t = eng.get_table("movies")
    assert t["name"] == "movies"
    cols = {c["name"]: c for c in t["columns"]}
    assert cols["id"]["primary_key"] and cols["genre_id"]["references"] == "genres"
    with pytest.raises(EngineError):
        eng.get_table("nope")


def test_order_by_hidden_aggregate(eng):
    setup_movies(eng)
    # ORDER BY an aggregate that is not in the SELECT list — the reference's
    # hidden-column machinery (planner.rs:150-161,445-500)
    r = eng.execute(
        "SELECT genre_id FROM movies WHERE genre_id IS NOT NULL "
        "GROUP BY genre_id ORDER BY count(*) DESC, genre_id"
    )
    assert r.columns == ["genre_id"]
    assert [t[0] for t in r.rows] == [1, 2, 3]
    # and ORDER BY a non-selected source column in a non-aggregate query
    r = eng.execute("SELECT title FROM movies ORDER BY released DESC LIMIT 2")
    assert [t[0] for t in r.rows] == ["Unrated", "Sideways"]


def test_in_list(eng):
    setup_movies(eng)
    r = eng.execute("SELECT id FROM movies WHERE id IN (1, 3, 99)")
    assert sorted(t[0] for t in r.rows) == [1, 3]
    r = eng.execute("SELECT id FROM movies WHERE id NOT IN (1, 2, 3, 4)")
    assert sorted(t[0] for t in r.rows) == [5]
    r = eng.execute("SELECT id FROM movies WHERE genre_id IN (1) AND released > 1980")
    assert [t[0] for t in r.rows] == [4]


def test_case_when(eng):
    setup_movies(eng)
    r = eng.execute(
        "SELECT title, CASE WHEN rating >= 9.0 THEN 'great' "
        "WHEN rating >= 8.0 THEN 'good' ELSE 'other' END AS verdict "
        "FROM movies ORDER BY id"
    )
    assert [t[1] for t in r.rows] == ["great", "good", "other", "good", "other"]
    # CASE with no ELSE yields NULL
    assert one(eng, "SELECT CASE WHEN FALSE THEN 1 END") == (None,)


def test_scalar_functions(eng):
    assert one(
        eng,
        "SELECT abs(0 - 5), upper('ab'), lower('AB'), length('abc'), "
        "coalesce(NULL, NULL, 7), nullif(3, 3), round(2.6), sqrt(16.0), "
        "substr('hello', 2, 3), concat('a', 'b', 'c'), greatest(1, 9, 3)",
    ) == (5, "AB", "ab", 3, 7, None, 3.0, 4.0, "ell", "abc", 9)
    with pytest.raises(EngineError, match="unknown function"):
        eng.execute("SELECT frob(1)")
    with pytest.raises(EngineError, match="argument count"):
        eng.execute("SELECT abs(1, 2)")


def test_pii_scalar_functions(eng):
    """The training-pipeline scrub surface inside the SQL dialect: the
    SAME expressions operators/pii.py builds (regex nets + placeholder
    chain), so an engine session can audit/scrub without DataFrame code.
    NULL passes through redaction; counts are 0 for NULL/clean text."""
    assert one(
        eng,
        "SELECT pii_redact('mail bob@x.io or 10.0.0.1'), "
        "pii_count('mail bob@x.io or 10.0.0.1'), "
        "pii_redact('clean text'), pii_count('clean text'), "
        "pii_redact(NULL), pii_count(NULL)",
    ) == ("mail <EMAIL> or <IPV4>", 2, "clean text", 0, None, 0)


def test_sampling_scalar_functions(eng):
    """The deterministic-sampling surface inside the SQL dialect: the
    SAME modular Knuth hash every sharder/sampler uses, so SQL sessions
    draw reproducible samples; token_count is the packing/budgeting
    token definition (whitespace runs)."""
    from entangledb_spark.operators.text import HASH_M, SAMPLE_K

    def py_key(i):
        return ((i % HASH_M) * (SAMPLE_K % HASH_M)) % HASH_M

    got = one(
        eng,
        "SELECT knuth_key(12345), knuth_bucket(12345, 100), "
        "token_count('two  words'), token_count(''), token_count(NULL)",
    )
    assert got == (py_key(12345), py_key(12345) % 100, 2, 0, None)
    # a knuth_bucket WHERE-sample is stable and matches the Python model
    eng.execute("CREATE TABLE ks (id INTEGER PRIMARY KEY)")
    for i in range(0, 50):
        eng.execute(f"INSERT INTO ks VALUES ({i})")
    res = eng.execute("SELECT id FROM ks WHERE knuth_bucket(id, 10) < 2 ORDER BY id")
    want = [i for i in range(50) if py_key(i) % 10 < 2]
    assert [r[0] for r in res.rows] == want


def test_attach_external_parquet(eng):
    r = eng.attach_parquet("li", "/root/testdata/sf0.001/lineitem.parquet")
    assert r.status == "ATTACH li"
    assert "li" in eng.list_tables()
    # SQL over the attached table through the dialect engine
    res = eng.execute(
        "SELECT l_returnflag, count(*) AS n FROM li GROUP BY l_returnflag"
    )
    assert sum(t[1] for t in res.rows) == 6000
    # timestamp column (outside the 4-type system) carried through
    cols = {c["name"]: c for c in eng.get_table("li")["columns"]}
    assert cols["l_shipdate"]["datatype"].startswith("EXT(")
    # read-only: mutations refuse, DROP detaches without touching data
    with pytest.raises(EngineError, match="read-only"):
        eng.execute("DELETE FROM li WHERE l_orderkey = 1")
    with pytest.raises(EngineError, match="read-only"):
        eng.execute("UPDATE li SET l_quantity = 0")
    eng.execute("DROP TABLE li")
    import os

    assert os.path.exists("/root/testdata/sf0.001/lineitem.parquet")
    # ns-timestamp fixture attaches via the pyarrow fallback
    eng.attach_parquet("ev", "/root/testdata/sf0.001/events.parquet")
    assert eng.execute("SELECT count(*) AS n FROM ev").rows == [(1000,)]


def test_scalar_subquery(eng):
    setup_movies(eng)
    r = eng.execute(
        "SELECT title FROM movies WHERE rating = (SELECT max(rating) FROM movies)"
    )
    assert r.rows == [("Stalker",)]
    r = eng.execute(
        "SELECT title, (SELECT count(*) FROM genres) AS n_genres FROM movies WHERE id = 1"
    )
    assert r.rows == [("Stalker", 3)]
    # zero-row scalar subquery → NULL
    assert one(eng, "SELECT (SELECT max(id) FROM movies WHERE FALSE) IS NULL") == (True,)
    with pytest.raises(EngineError, match="more than one row"):
        eng.execute("SELECT (SELECT id FROM movies)")
    with pytest.raises(EngineError, match="one column"):
        eng.execute("SELECT (SELECT id, title FROM movies WHERE id = 1)")


def test_in_subquery(eng):
    setup_movies(eng)
    r = eng.execute(
        "SELECT title FROM movies WHERE genre_id IN "
        "(SELECT id FROM genres WHERE name = 'Drama')"
    )
    assert sorted(t[0] for t in r.rows) == ["Heat", "Stalker"]
    r = eng.execute(
        "SELECT title FROM movies WHERE genre_id NOT IN (SELECT id FROM genres)"
    )
    assert r.rows == []  # NULL genre_id → NOT IN is NULL, filtered
    r = eng.execute(
        "SELECT title FROM movies WHERE id IN (SELECT id FROM movies WHERE FALSE)"
    )
    assert r.rows == []


def test_exists_subquery(eng):
    setup_movies(eng)
    assert one(eng, "SELECT EXISTS (SELECT 1 FROM movies WHERE rating > 8.9)") == (True,)
    assert one(eng, "SELECT NOT EXISTS (SELECT 1 FROM movies WHERE rating > 99)") == (True,)
    r = eng.execute(
        "SELECT count(*) FROM genres WHERE EXISTS (SELECT 1 FROM movies WHERE rating > 8.9)"
    )
    assert r.rows == [(3,)]


def test_correlated_exists_subquery(eng):
    # correlated EXISTS compiles to a left_semi join (all 5 movies except
    # the NULL-genre one have a matching genre row)
    setup_movies(eng)
    r = eng.execute(
        "SELECT title FROM movies m WHERE EXISTS "
        "(SELECT 1 FROM genres g WHERE g.id = m.genre_id) ORDER BY title"
    )
    rows, _ = r.fetch(100)
    assert [t for (t,) in rows] == ["Heat", "Sideways", "Solaris", "Stalker"]
    # correlated references OUTSIDE the extractable WHERE-conjunct position
    # are still rejected (the subquery compiles standalone, so the outer
    # column is unresolvable there)
    with pytest.raises(EngineError, match="genre_id"):
        eng.execute(
            "SELECT title FROM movies m WHERE EXISTS "
            "(SELECT 1 FROM genres g GROUP BY g.id HAVING g.id = m.genre_id)"
        )


def test_set_operations(eng):
    setup_movies(eng)
    r = eng.execute(
        "SELECT genre_id FROM movies WHERE id < 3 "
        "UNION SELECT genre_id FROM movies WHERE id >= 3"
    )
    assert len(r.rows) == 4  # 1, 2, 3, NULL deduped
    r = eng.execute(
        "SELECT id FROM movies UNION ALL SELECT id FROM movies"
    )
    assert len(r.rows) == 10
    r = eng.execute(
        "SELECT id FROM genres INTERSECT SELECT genre_id FROM movies"
    )
    assert sorted(t[0] for t in r.rows) == [1, 2, 3]
    r = eng.execute(
        "SELECT id FROM movies EXCEPT SELECT id FROM movies WHERE id < 4"
    )
    assert sorted(t[0] for t in r.rows) == [4, 5]
    with pytest.raises(EngineError, match="column count"):
        eng.execute("SELECT id, title FROM movies UNION SELECT id FROM movies")


def test_select_distinct_and_distinct_aggs(eng):
    setup_movies(eng)
    r = eng.execute("SELECT DISTINCT genre_id FROM movies")
    assert len(r.rows) == 4
    r = eng.execute(
        "SELECT count(DISTINCT genre_id) AS ng, count(genre_id) AS n FROM movies"
    )
    assert r.rows == [(3, 4)]
    r = eng.execute("SELECT sum(DISTINCT released / 1000) AS s FROM movies")
    assert r.rows == [(3,)]  # distinct {1, 2}
    with pytest.raises(EngineError, match="select list"):
        eng.execute("SELECT DISTINCT genre_id FROM movies ORDER BY released")


def test_setop_statement_level_order_limit(eng):
    setup_movies(eng)
    r = eng.execute(
        "SELECT id AS k FROM movies WHERE id < 3 "
        "UNION SELECT id FROM movies WHERE id > 3 "
        "ORDER BY k DESC LIMIT 2"
    )
    assert [t[0] for t in r.rows] == [5, 4]
    with pytest.raises(EngineError, match="output columns"):
        eng.execute(
            "SELECT id FROM movies UNION SELECT id FROM movies ORDER BY rating"
        )


def test_window_functions(eng):
    setup_movies(eng)
    r = eng.execute(
        "SELECT title, row_number() OVER (PARTITION BY genre_id ORDER BY rating DESC, id) AS rn "
        "FROM movies WHERE genre_id IS NOT NULL ORDER BY genre_id, rn"
    )
    assert [(t[0], t[1]) for t in r.rows][:2] == [("Stalker", 1), ("Heat", 2)]
    r = eng.execute(
        "SELECT id, rank() OVER (ORDER BY released) AS rk FROM movies ORDER BY rk"
    )
    assert [t[1] for t in r.rows] == [1, 2, 3, 4, 5]
    r = eng.execute(
        "SELECT id, lag(released) OVER (ORDER BY released, id) AS prev FROM movies "
        "ORDER BY released, id"
    )
    assert r.rows[0][1] is None and r.rows[1][1] == 1972
    # windowed aggregate with running frame
    r = eng.execute(
        "SELECT id, sum(released) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW) AS rt FROM movies ORDER BY id"
    )
    assert r.rows[0][1] == 1979 and r.rows[1][1] == 1979 + 1972
    with pytest.raises(EngineError, match="requires ORDER BY"):
        eng.execute("SELECT row_number() OVER (PARTITION BY genre_id) FROM movies")


def test_insert_select(eng):
    setup_movies(eng)
    eng.execute("CREATE TABLE classics (id INTEGER PRIMARY KEY, title STRING NOT NULL)")
    r = eng.execute(
        "INSERT INTO classics SELECT id, title FROM movies WHERE released < 1990"
    )
    assert r.status == "INSERT 2"
    rows = eng.execute("SELECT title FROM classics ORDER BY id").rows
    assert [t[0] for t in rows] == ["Stalker", "Solaris"]
    # with explicit column list + default padding
    eng.execute(
        "CREATE TABLE titles (id INTEGER PRIMARY KEY, t STRING, score FLOAT DEFAULT 0.0)"
    )
    eng.execute("INSERT INTO titles (id, t) SELECT id + 100, title FROM movies")
    assert one(eng, "SELECT count(*), min(score) FROM titles") == (5, 0.0)
    with pytest.raises(EngineError, match="column count"):
        eng.execute("INSERT INTO classics SELECT id FROM movies")
    with pytest.raises(EngineError, match="duplicate primary key"):
        eng.execute("INSERT INTO classics SELECT id, title FROM movies WHERE id = 1")


def test_create_table_as_select(eng):
    setup_movies(eng)
    r = eng.execute(
        "CREATE TABLE by_genre AS SELECT genre_id, count(*) AS n FROM movies "
        "WHERE genre_id IS NOT NULL GROUP BY genre_id"
    )
    assert "3 rows" in r.status
    rows = eng.execute("SELECT * FROM by_genre ORDER BY genre_id").rows
    assert rows == [(1, 2), (2, 1), (3, 1)]
    # the new table is a real managed table: DML works
    eng.execute("DELETE FROM by_genre WHERE genre_id = 3")
    assert one(eng, "SELECT count(*) FROM by_genre") == (2,)
    # first column = PK → NULLs and duplicates both refuse
    with pytest.raises(EngineError, match="NULL value not allowed"):
        eng.execute("CREATE TABLE bad1 AS SELECT genre_id, id FROM movies")
    with pytest.raises(EngineError, match="duplicate primary key"):
        eng.execute(
            "CREATE TABLE bad2 AS SELECT genre_id, id FROM movies "
            "WHERE genre_id IS NOT NULL"
        )


# ------------------------------------------------ table-valued functions


def test_table_function_bm25_topk(spark, eng, tmp_path):
    """SQL sessions run retrieval end-to-end: FROM bm25_topk(...) returns
    the identical rows the DataFrame surface (bm25_topk_indexed) returns,
    joins like a table, EXPLAINs as a TableFunction node, and bad
    invocations fail with the dialect's analysis errors."""
    from entangledb_spark.operators.text_index import (
        bm25_topk_indexed,
        build_text_index,
    )
    from entangledb_spark.registry import table

    docs = table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "tfidx")
    build_text_index(docs, idx)
    sql = f"SELECT doc_id, bm25_tf, score FROM bm25_topk('{idx}', 'data model training', 5)"
    got = sorted(tuple(r) for r in eng.execute(sql).fetch(100)[0])
    want = sorted(
        tuple(r)
        for r in bm25_topk_indexed(
            spark, idx, ("data", "model", "training"), k=5
        ).collect()
    )
    assert got == want and len(got) == 5
    # default k (arity 2) and aliasing + qualification
    assert len(eng.execute(
        f"SELECT h.score FROM bm25_topk('{idx}', 'data') h"
    ).fetch(100)[0]) == 10
    # joins like any relation
    eng.execute("CREATE TABLE labels (id INTEGER PRIMARY KEY, lab STRING NULL)")
    first_doc = sorted(got, key=lambda t: (-t[2], t[0]))[0][0]
    eng.execute(f"INSERT INTO labels VALUES ({first_doc}, 'hit')")
    joined = eng.execute(
        f"SELECT l.lab, h.doc_id FROM labels l "
        f"JOIN bm25_topk('{idx}', 'data model training', 5) h ON l.id = h.doc_id"
    ).fetch(100)[0]
    assert joined == [("hit", first_doc)]
    # EXPLAIN renders the node with its literal args
    plan = "\n".join(
        r[0] for r in eng.execute(f"EXPLAIN {sql}").rows
    )
    assert "TableFunction bm25_topk" in plan and "'data model training'" in plan
    # error surface: unknown function, wrong arity, bad types, non-literal
    with pytest.raises(EngineError, match="unknown table function"):
        eng.execute("SELECT * FROM no_such_tvf('x')")
    with pytest.raises(EngineError, match="arguments"):
        eng.execute(f"SELECT * FROM bm25_topk('{idx}')")
    with pytest.raises(EngineError, match="positive integer"):
        eng.execute(f"SELECT * FROM bm25_topk('{idx}', 'q', 0)")
    with pytest.raises(EngineError, match="literal"):
        eng.execute("SELECT * FROM bm25_topk(doc_id, 'q', 5)")
    with pytest.raises(EngineError, match="no terms"):
        eng.execute(f"SELECT * FROM bm25_topk('{idx}', '   ')")


def test_table_function_ann_topk(spark, eng, tmp_path):
    """FROM ann_topk('<index>', '<vector literal>', k) dispatches on the
    index kind and matches the DataFrame probe surface for both the
    cosine (lsh/ivf) and ADC (ivfpq) output shapes."""
    from pyspark.sql import functions as F

    from entangledb_spark.operators.ann_index import (
        build_ivfpq_index,
        build_lsh_index,
        probe_lsh_index,
    )
    from entangledb_spark.registry import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    qvec = emb.filter(F.col("vec_id") == 7).first().embedding
    lit = " ".join(repr(float(x)) for x in qvec)

    lsh_dir = str(tmp_path / "lsh")
    build_lsh_index(emb, lsh_dir)
    got = eng.execute(
        f"SELECT neighbor_id, cos_sim, rk FROM ann_topk('{lsh_dir}', '{lit}', 3) "
        "ORDER BY rk ASC"
    ).fetch(100)[0]
    probe = spark.createDataFrame(
        [(-1, [float(x) for x in qvec])], "vec_id long, embedding array<float>"
    )
    want = [
        (r.neighbor_id, r.cos_sim, r.rk)
        for r in probe_lsh_index(spark, lsh_dir, probe, k=3, exclude_self=False)
        .orderBy("rk")
        .collect()
    ]
    assert sorted(got) == sorted(want) and len(got) == 3
    assert got and got[0][0] == 7  # the corpus copy of the probe is rank 1

    pq_dir = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, pq_dir, n_cells=4, m=4, ksub=8)
    rows = eng.execute(
        f"SELECT neighbor_id, adc_dist, rk FROM ann_topk('{pq_dir}', '{lit}', 3) "
        "ORDER BY rk ASC"
    ).fetch(100)[0]
    assert len(rows) == 3 and rows[0][1] <= rows[-1][1]  # ADC ascending
    # error surface
    with pytest.raises(EngineError, match="no index meta"):
        eng.execute(f"SELECT * FROM ann_topk('{tmp_path}/nope', '{lit}')")
    with pytest.raises(EngineError, match="non-numeric"):
        eng.execute(f"SELECT * FROM ann_topk('{lsh_dir}', '0.1 zebra')")
    with pytest.raises(EngineError, match="positive integer"):
        eng.execute(f"SELECT * FROM ann_topk('{lsh_dir}', '{lit}', 0)")


def test_table_function_span_operators(spark, eng, tmp_path):
    """The span operators run over SESSION TABLES from pure SQL:
    substring_spans (sliding-window dedup) and contamination_spans
    (benchmark leak localization) resolve table-name literals through
    the engine's own reader and return span relations that filter/join
    like any other. Corpora arrive via ATTACH (external parquet) — the
    dialect reserves `text` as a type keyword, so (doc_id, text) tables
    are attach-shaped by construction."""
    from entangledb_spark.operators.packing import duplicate_substring_spans
    from entangledb_spark.operators.quality import contamination_spans
    from entangledb_spark.registry import table

    from pyspark.sql import functions as F  # noqa: N812

    eng.attach_parquet("docs", "/root/testdata/sf0.001/documents.parquet")
    got = sorted(
        tuple(r)
        for r in eng.execute(
            "SELECT doc_id, span_start, span_end, span_len, n_windows "
            "FROM substring_spans('docs', 15)"
        ).fetch(10000)[0]
    )
    docs = table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    want = sorted(
        tuple(r)
        for r in duplicate_substring_spans(docs, window_tokens=15).collect()
    )
    assert got == want and len(got) > 0

    # contamination against an attached benchmark: one benchmark item made
    # from a real doc's text -> that doc (and any window-sharers) localize
    bench_text = docs.filter(F.col("doc_id") == got[0][0]).first().text
    bpath = str(tmp_path / "bench.parquet")
    spark.createDataFrame(
        [(0, bench_text)], "qid long, text string"
    ).write.parquet(bpath)
    eng.attach_parquet("bench", bpath)
    ct = sorted(
        tuple(r)
        for r in eng.execute(
            "SELECT doc_id, span_start, span_end FROM "
            "contamination_spans('docs', 'bench', 8)"
        ).fetch(10000)[0]
    )
    bench_df = spark.read.parquet(bpath)
    ct_want = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in contamination_spans(docs, bench_df, window_tokens=8).collect()
    )
    assert ct == ct_want and any(d == got[0][0] for d, *_ in ct)

    # spans join back to the corpus like any relation
    j = eng.execute(
        "SELECT count(*) AS n FROM docs d "
        "JOIN substring_spans('docs', 15) s ON d.doc_id = s.doc_id"
    ).fetch(10)[0]
    assert j[0][0] == len(got)

    # error surfaces: missing columns, bad window, absent table
    eng.attach_parquet("li", "/root/testdata/sf0.001/lineitem.parquet")
    with pytest.raises(EngineError, match="doc_id"):
        eng.execute("SELECT * FROM substring_spans('li', 15)")
    with pytest.raises(EngineError, match="window_tokens"):
        eng.execute("SELECT * FROM substring_spans('docs', 1)")
    with pytest.raises(EngineError, match="does not exist"):
        eng.execute("SELECT * FROM substring_spans('ghost', 15)")


def test_table_function_bm25_topk_bulk(spark, eng, tmp_path):
    """Bulk decontamination end-to-end in SQL: a session TABLE of
    benchmark queries drives ONE distributed retrieval join
    (text_index.bm25_topk_bulk) — per-query results identical to the
    single-probe TVF path, and the plan carries no per-query literals
    (its size is independent of the query count)."""
    from entangledb_spark.functions.table_functions import TABLE_FUNCS
    from entangledb_spark.operators.text_index import (
        bm25_topk_indexed,
        build_text_index,
    )
    from entangledb_spark.registry import table

    docs = table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "bulkidx")
    build_text_index(docs, idx)
    queries = [(1, "data model training"), (2, "query processing"), (3, "data")]
    qpath = str(tmp_path / "queries.parquet")
    spark.createDataFrame(queries, "query_id long, text string").write.parquet(
        qpath
    )
    eng.attach_parquet("benchq", qpath)
    rows = eng.execute(
        "SELECT query_id, doc_id, score, rk "
        f"FROM bm25_topk_bulk('{idx}', 'benchq', 5)"
    ).fetch(10000)[0]
    # scores compared at 1e-9 grain: the bulk reduce may sum per-term
    # contributions in a different order than the literal fold (same
    # math, last-ulp float drift)
    got = sorted((q, d, round(s, 9)) for q, d, s, _ in rows)
    want = sorted(
        (qid, r.doc_id, round(r.score, 9))
        for qid, q in queries
        for r in bm25_topk_indexed(spark, idx, tuple(q.split()), k=5).collect()
    )
    assert got == want and len({q for q, *_ in got}) == 3
    assert all(1 <= rk <= 5 for *_, rk in rows)
    # a multi-query decontamination batch: drop every doc any benchmark
    # query retrieves — the whole thing stays in SQL
    eng.attach_parquet("docs_b", "/root/testdata/sf0.001/documents.parquet")
    survivors = eng.execute(
        "SELECT count(*) AS n FROM docs_b d WHERE d.doc_id NOT IN "
        f"(SELECT h.doc_id FROM bm25_topk_bulk('{idx}', 'benchq', 5) h)"
    ).fetch(10)[0]
    assert survivors[0][0] == 500 - len({d for _, d, *_ in got})

    # plan-size independence: queries are DATA — 3 vs 60 query rows must
    # compile to the same plan shape (the builder the SQL lands on)
    read = lambda name: spark.read.parquet(qpath)  # noqa: E731
    big = spark.createDataFrame(
        [(i, f"data model q{i}") for i in range(60)], "query_id long, text string"
    )
    p_small = (
        TABLE_FUNCS["bm25_topk_bulk"]
        .builder(spark, read, idx, "benchq", 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    p_big = (
        TABLE_FUNCS["bm25_topk_bulk"]
        .builder(spark, lambda n: big, idx, "benchq", 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(p_big) < len(p_small) + 500, (len(p_small), len(p_big))
    assert "data model training" not in p_big  # no per-query literals

    # error surfaces
    with pytest.raises(EngineError, match="query_id"):
        eng.execute(f"SELECT * FROM bm25_topk_bulk('{idx}', 'docs_b', 5)")
    with pytest.raises(EngineError, match="table name literal"):
        eng.execute(f"SELECT * FROM bm25_topk_bulk('{idx}', 7, 5)")
    with pytest.raises(EngineError, match="does not exist"):
        eng.execute(f"SELECT * FROM bm25_topk_bulk('{idx}', 'ghost', 5)")


def test_table_function_ann_topk_bulk(spark, eng, tmp_path):
    """Bulk ANN from SQL: the probe set is a session table — an ATTACHed
    array-typed table or a dialect-native STRING vector column — and the
    TVF dispatches to the probe-count-independent engines (LSH/IVF
    distributed probes, probe_ivfpq_bulk for IVF-PQ)."""
    from pyspark.sql import functions as F

    from entangledb_spark.operators.ann_index import (
        build_ivfpq_index,
        build_lsh_index,
        probe_ivfpq_bulk,
        probe_lsh_index,
    )
    from entangledb_spark.registry import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    probes = emb.filter(F.col("vec_id") < 3)
    ppath = str(tmp_path / "probes.parquet")
    probes.write.parquet(ppath)
    eng.attach_parquet("probes", ppath)

    lsh_dir = str(tmp_path / "blsh")
    build_lsh_index(emb, lsh_dir)
    got = sorted(
        tuple(r)
        for r in eng.execute(
            "SELECT query_id, neighbor_id, cos_sim, rk "
            f"FROM ann_topk_bulk('{lsh_dir}', 'probes', 3)"
        ).fetch(1000)[0]
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.cos_sim, r.rk)
        for r in probe_lsh_index(
            spark, lsh_dir, probes, k=3, exclude_self=False
        ).collect()
    )
    assert got == want and len({q for q, *_ in got}) == 3

    pq_dir = str(tmp_path / "bpq")
    build_ivfpq_index(emb, pq_dir, n_cells=4, m=4, ksub=8)
    got_pq = sorted(
        tuple(r)
        for r in eng.execute(
            "SELECT query_id, neighbor_id, rk "
            f"FROM ann_topk_bulk('{pq_dir}', 'probes', 3)"
        ).fetch(1000)[0]
    )
    want_pq = sorted(
        (r.query_id, r.neighbor_id, r.rk)
        for r in probe_ivfpq_bulk(
            spark, pq_dir, probes, k=3, exclude_self=False
        ).collect()
    )
    assert got_pq == want_pq

    # dialect-native probes: STRING embedding column parses to a vector
    # (rounded to fit the dialect's 1024-byte string-value cap — the
    # corpus copy of the probe must still come back rank 1)
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    eng.execute(
        "CREATE TABLE sprobes (vec_id INTEGER PRIMARY KEY, embedding STRING)"
    )
    lit = " ".join(f"{float(x):.4f}" for x in qvec)
    eng.execute(f"INSERT INTO sprobes VALUES (0, '{lit}')")
    srows = eng.execute(
        "SELECT query_id, neighbor_id, rk "
        f"FROM ann_topk_bulk('{lsh_dir}', 'sprobes', 3) ORDER BY rk ASC"
    ).fetch(100)[0]
    assert len(srows) == 3 and srows[0][:2] == (0, 0)

    # error surfaces
    eng.attach_parquet("li2", "/root/testdata/sf0.001/lineitem.parquet")
    with pytest.raises(EngineError, match="vec_id"):
        eng.execute(f"SELECT * FROM ann_topk_bulk('{lsh_dir}', 'li2', 3)")
    with pytest.raises(EngineError, match="no index meta"):
        eng.execute(f"SELECT * FROM ann_topk_bulk('{tmp_path}/nope', 'probes')")


def test_cli_functions_listing(eng):
    from entangledb_spark.cli import run_command

    out = run_command(eng, "!functions")
    assert "scalar:" in out and "table (FROM-clause, literal args):" in out
    for needle in (
        "bm25_topk(2..3)",
        "ann_topk(2..3)",
        "substring_spans(1..3)  [reads session tables]",
        "contamination_spans(2..3)  [reads session tables]",
    ):
        assert needle in out, needle


def test_cli_index_describe(spark, eng, tmp_path):
    from entangledb_spark.cli import run_command
    from entangledb_spark.operators.ann_index import build_ivfpq_index, build_lsh_index
    from entangledb_spark.operators.text_index import build_text_index
    from entangledb_spark.registry import table

    docs = table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    emb = table(spark, "/root/testdata/sf0.001", "embeddings").select("vec_id", "embedding")
    t = str(tmp_path / "t")
    build_text_index(docs, t)
    out = run_command(eng, f"!index {t}")
    assert "kind: text" in out and "docs: 500" in out and "postings" in out
    assert "n_buckets" in out
    lsh = str(tmp_path / "l")
    build_lsh_index(emb, lsh)
    out = run_command(eng, f"!index {lsh}")
    assert "kind: lsh" in out and "buckets:" in out and "n_tables" in out
    assert "docs:" not in out  # no ledger at all for the lsh layout
    pq = str(tmp_path / "p")
    build_ivfpq_index(emb, pq, n_cells=4, m=4, ksub=8)
    out = run_command(eng, f"!index {pq}")
    assert "kind: ivfpq" in out and "pq_model" in out
    # the ivfpq ledger counts VECTORS, not docs — labeled accordingly
    assert "vectors: 500" in out and "docs:" not in out
    assert "not a built index" in run_command(eng, f"!index {tmp_path}/ghost")


# ------------------------------------------------------------------- MERGE


def _merge_fixture(eng):
    eng.execute("CREATE TABLE tgt (id INTEGER PRIMARY KEY, v STRING NULL, n INTEGER NULL)")
    eng.execute("INSERT INTO tgt VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    eng.execute("CREATE TABLE src (id INTEGER PRIMARY KEY, v STRING NULL)")
    eng.execute("INSERT INTO src VALUES (2, 'B'), (3, NULL), (4, 'D')")


def test_merge_upsert_delete_with_clause_order(eng):
    """The full three-clause MERGE: matched+NULL deletes (DELETE listed
    first claims the row), matched updates seeing BOTH tables' old
    values, not-matched inserts — one atomic snapshot version."""
    _merge_fixture(eng)
    r = eng.execute(
        "MERGE INTO tgt USING src ON tgt.id = src.id "
        "WHEN MATCHED AND src.v IS NULL THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = src.v, n = tgt.n + 1 "
        "WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (src.id, src.v, 0)"
    )
    assert r.status == "MERGE 1 updated, 1 inserted, 1 deleted"
    rows, _ = eng.execute("SELECT id, v, n FROM tgt ORDER BY id").fetch(100)
    assert rows == [(1, "a", 10), (2, "B", 21), (4, "D", 0)]
    # update-first order claims the NULL row for UPDATE instead
    eng.execute("DROP TABLE tgt")
    eng.execute("DROP TABLE src")
    _merge_fixture(eng)
    r2 = eng.execute(
        "MERGE INTO tgt USING src ON tgt.id = src.id "
        "WHEN MATCHED THEN UPDATE SET v = src.v "
        "WHEN MATCHED AND src.v IS NULL THEN DELETE"
    )
    assert r2.status == "MERGE 2 updated, 0 inserted, 0 deleted"
    rows2, _ = eng.execute("SELECT id, v FROM tgt ORDER BY id").fetch(100)
    assert rows2 == [(1, "a"), (2, "B"), (3, None)]


def test_merge_single_clause_forms_and_defaults(eng):
    _merge_fixture(eng)
    # insert-only merge (the classic "load new keys"); omitted nullable
    # column takes its default
    r = eng.execute(
        "MERGE INTO tgt USING src ON tgt.id = src.id "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.v)"
    )
    assert r.status == "MERGE 0 updated, 1 inserted, 0 deleted"
    rows, _ = eng.execute("SELECT id, v, n FROM tgt WHERE id = 4").fetch(10)
    assert rows == [(4, "D", None)]
    # conditional insert filters source rows
    eng.execute("INSERT INTO src VALUES (5, 'E'), (6, NULL)")
    r2 = eng.execute(
        "MERGE INTO tgt USING src ON tgt.id = src.id "
        "WHEN NOT MATCHED AND src.v IS NOT NULL THEN INSERT (id, v) "
        "VALUES (src.id, src.v)"
    )
    assert r2.status == "MERGE 0 updated, 1 inserted, 0 deleted"
    assert eng.execute("SELECT count(*) FROM tgt").rows is None or True
    rows3, _ = eng.execute("SELECT id FROM tgt ORDER BY id").fetch(100)
    assert [t[0] for t in rows3] == [1, 2, 3, 4, 5]


def test_merge_aliases_and_unqualified_resolution(eng):
    _merge_fixture(eng)
    # aliases work; unqualified unique column (n lives only in tgt) is fine
    r = eng.execute(
        "MERGE INTO tgt AS t USING src AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET n = n + 100"
    )
    assert r.status == "MERGE 2 updated, 0 inserted, 0 deleted"
    rows, _ = eng.execute("SELECT id, n FROM tgt ORDER BY id").fetch(100)
    assert rows == [(1, 10), (2, 120), (3, 130)]
    # ambiguous unqualified column is rejected with a helpful message
    with pytest.raises(EngineError, match="ambiguous column v"):
        eng.execute(
            "MERGE INTO tgt AS t USING src AS s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = v"
        )


def test_merge_errors(eng):
    _merge_fixture(eng)
    # cardinality violation: two source rows match one target row
    eng.execute("CREATE TABLE multi (k INTEGER PRIMARY KEY, id INTEGER NULL)")
    eng.execute("INSERT INTO multi VALUES (1, 2), (2, 2)")
    with pytest.raises(EngineError, match="more than one source row"):
        eng.execute(
            "MERGE INTO tgt USING multi ON tgt.id = multi.id "
            "WHEN MATCHED THEN UPDATE SET n = 0"
        )
    # pk assignment rejected
    with pytest.raises(EngineError, match="primary key"):
        eng.execute(
            "MERGE INTO tgt USING src ON tgt.id = src.id "
            "WHEN MATCHED THEN UPDATE SET id = src.id + 10"
        )
    # write-type mismatch rejected statically
    with pytest.raises(EngineError, match="invalid value of type str"):
        eng.execute(
            "MERGE INTO tgt USING src ON tgt.id = src.id "
            "WHEN MATCHED THEN UPDATE SET n = src.v"
        )
    # parser guards
    with pytest.raises(EngineError, match="INSERT only"):
        eng.execute(
            "MERGE INTO tgt USING src ON tgt.id = src.id "
            "WHEN NOT MATCHED THEN UPDATE SET v = 'x'"
        )
    with pytest.raises(EngineError, match="UPDATE or DELETE only"):
        eng.execute(
            "MERGE INTO tgt USING src ON tgt.id = src.id "
            "WHEN MATCHED THEN INSERT (id) VALUES (1)"
        )
    with pytest.raises(EngineError, match="at least one WHEN"):
        eng.execute("MERGE INTO tgt USING src ON tgt.id = src.id")
    with pytest.raises(EngineError, match="at most one UPDATE"):
        eng.execute(
            "MERGE INTO tgt USING src ON tgt.id = src.id "
            "WHEN MATCHED THEN UPDATE SET v = 'x' "
            "WHEN MATCHED THEN UPDATE SET v = 'y'"
        )
    # missing required column on insert
    eng.execute("CREATE TABLE req (id INTEGER PRIMARY KEY, must STRING NOT NULL)")
    with pytest.raises(EngineError, match="no value given for column must"):
        eng.execute(
            "MERGE INTO req USING src ON req.id = src.id "
            "WHEN NOT MATCHED THEN INSERT (id) VALUES (src.id)"
        )
    # nothing was committed by any failed merge
    rows, _ = eng.execute("SELECT id, v, n FROM tgt ORDER BY id").fetch(100)
    assert rows == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]


def test_merge_respects_transactions_and_constraints(eng):
    _merge_fixture(eng)
    eng.execute("BEGIN")
    eng.execute(
        "MERGE INTO tgt USING src ON tgt.id = src.id "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.v)"
    )
    rows, _ = eng.execute("SELECT count(*) FROM tgt").fetch(1)
    assert rows == [(4,)]
    eng.execute("ROLLBACK")
    rows2, _ = eng.execute("SELECT count(*) FROM tgt").fetch(1)
    assert rows2 == [(3,)]  # the merge rolled back with the transaction
    # read-only transactions refuse MERGE like any write
    eng.execute("BEGIN READ ONLY")
    with pytest.raises(EngineError, match="read-only"):
        eng.execute(
            "MERGE INTO tgt USING src ON tgt.id = src.id "
            "WHEN MATCHED THEN DELETE"
        )
    eng.execute("ROLLBACK")
    # unique constraint still enforced through the merged view: src2 would
    # insert a v that collides with a UNIQUE column
    eng.execute("CREATE TABLE utab (id INTEGER PRIMARY KEY, u STRING UNIQUE)")
    eng.execute("INSERT INTO utab VALUES (1, 'x')")
    eng.execute("CREATE TABLE usrc (id INTEGER PRIMARY KEY, u STRING NULL)")
    eng.execute("INSERT INTO usrc VALUES (2, 'x')")
    with pytest.raises(EngineError, match="unique"):
        eng.execute(
            "MERGE INTO utab USING usrc ON utab.id = usrc.id "
            "WHEN NOT MATCHED THEN INSERT (id, u) VALUES (usrc.id, usrc.u)"
        )


def test_merge_from_attached_source(spark, eng, tmp_path):
    """The USING side can be an ATTACHed external parquet — the bulk-load
    upsert shape: stage a parquet drop, merge it into the managed table."""
    _merge_fixture(eng)
    p = str(tmp_path / "drop.parquet")
    spark.createDataFrame(
        [(3, "C2"), (9, "I")], "id int, v string"
    ).write.parquet(p)
    eng.attach_parquet("drop_batch", p)
    r = eng.execute(
        "MERGE INTO tgt USING drop_batch ON tgt.id = drop_batch.id "
        "WHEN MATCHED THEN UPDATE SET v = drop_batch.v "
        "WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (drop_batch.id, drop_batch.v, -1)"
    )
    assert r.status == "MERGE 1 updated, 1 inserted, 0 deleted"
    rows, _ = eng.execute("SELECT id, v FROM tgt ORDER BY id").fetch(100)
    assert rows == [(1, "a"), (2, "b"), (3, "C2"), (9, "I")]


# -------------------------------------------------------------------- COPY


def test_copy_to_parquet_roundtrip_via_attach(spark, eng, tmp_path):
    """COPY is the export half of ATTACH: a table exported to parquet
    re-attaches and queries identically — the full external round trip
    in pure SQL."""
    setup_movies(eng)
    p = str(tmp_path / "movies_export")
    r = eng.execute(f"COPY movies TO '{p}'")
    assert r.status == f"COPY 5 rows to {p}"
    eng.attach_parquet("movies2", p)
    a, _ = eng.execute("SELECT id, title FROM movies ORDER BY id").fetch(100)
    b, _ = eng.execute("SELECT id, title FROM movies2 ORDER BY id").fetch(100)
    assert a == b
    # query-source form with a set-op chain and csv format
    c = str(tmp_path / "titles_csv")
    r2 = eng.execute(
        f"COPY (SELECT title FROM movies WHERE id < 3 "
        f"UNION SELECT title FROM movies WHERE id = 3) TO '{c}' FORMAT CSV"
    )
    assert r2.status.startswith("COPY 3 rows")
    got = sorted(
        t[0] for t in spark.read.option("header", "true").csv(c).collect()
    )
    assert got == ["Sideways", "Solaris", "Stalker"]
    # existing destination refused without OVERWRITE; honored with it
    with pytest.raises(EngineError):
        eng.execute(f"COPY movies TO '{p}'")
    r3 = eng.execute(f"COPY (SELECT id FROM movies WHERE id = 1) TO '{p}' OVERWRITE")
    assert r3.status.startswith("COPY 1 rows")
    assert spark.read.parquet(p).count() == 1


def test_copy_exports_the_pinned_snapshot(eng, tmp_path):
    """COPY inside a READ ONLY transaction is legal (it is a read) and
    exports the PINNED version — concurrent-looking writes after BEGIN
    do not leak into the dump."""
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY)")
    eng.execute("INSERT INTO t VALUES (1), (2)")
    v = eng.catalog.current_version()
    eng.execute("INSERT INTO t VALUES (3)")
    eng.execute(f"BEGIN READ ONLY AS OF SYSTEM TIME {v}")
    p = str(tmp_path / "snap")
    r = eng.execute(f"COPY t TO '{p}'")
    assert r.status == f"COPY 2 rows to {p}"  # the pinned view, not 3 rows
    eng.execute("ROLLBACK")
    # FORMAT validation is a parse error
    with pytest.raises(EngineError, match="PARQUET or CSV"):
        eng.execute(f"COPY t TO '{tmp_path}/x' FORMAT JSON")


# --------------------------------------- window-function extensions (r9)


def test_window_extensions_match_duckdb(eng):
    """ntile / percent_rank / cume_dist / first_value / last_value —
    exact-row parity with DuckDB on the same data, including the
    SQL-standard default-frame behavior of last_value (current row)."""
    import duckdb

    eng.execute("CREATE TABLE w (id INTEGER PRIMARY KEY, grp STRING, v INTEGER)")
    rows = [(i, "ab"[i % 2], (i * 7) % 13) for i in range(1, 21)]
    eng.execute(
        "INSERT INTO w VALUES "
        + ", ".join(f"({i}, '{g}', {v})" for i, g, v in rows)
    )
    sql = (
        "SELECT id, "
        "ntile(3) OVER (PARTITION BY grp ORDER BY v, id) AS nt, "
        "percent_rank() OVER (PARTITION BY grp ORDER BY v, id) AS pr, "
        "cume_dist() OVER (PARTITION BY grp ORDER BY v, id) AS cd, "
        "first_value(v) OVER (PARTITION BY grp ORDER BY v, id) AS fv, "
        "last_value(v) OVER (PARTITION BY grp ORDER BY v, id) AS lv "
        "FROM w ORDER BY id"
    )
    got = eng.execute(sql).rows
    con = duckdb.connect()
    con.execute("CREATE TABLE w (id INTEGER, grp VARCHAR, v INTEGER)")
    con.executemany("INSERT INTO w VALUES (?, ?, ?)", rows)
    want = con.execute(sql).fetchall()
    con.close()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_window_extension_errors(eng):
    eng.execute("CREATE TABLE w (id INTEGER PRIMARY KEY, v INTEGER)")
    eng.execute("INSERT INTO w VALUES (1, 1)")
    with pytest.raises(EngineError, match="requires ORDER BY"):
        eng.execute("SELECT ntile(3) OVER (PARTITION BY v) FROM w")
    with pytest.raises(EngineError, match="positive integer"):
        eng.execute("SELECT ntile(0) OVER (ORDER BY v) FROM w")
    with pytest.raises(EngineError, match="positive integer"):
        eng.execute("SELECT ntile(v) OVER (ORDER BY v) FROM w")
    with pytest.raises(EngineError, match="requires ORDER BY"):
        eng.execute("SELECT last_value(v) OVER (PARTITION BY v) FROM w")


def test_string_toolbox_matches_duckdb(eng):
    """The round-9 scalar additions, FROM-less, exact parity with DuckDB
    on the identical SQL text."""
    import duckdb

    sql = (
        "SELECT replace('banana', 'an', 'X') AS rep, "
        "split_part('a,b,c', ',', 2) AS sp, "
        "lpad('7', 3, '0') AS lp, rpad('7', 3, '0') AS rp, "
        "left('hello', 2) AS l2, right('hello', 2) AS r2, "
        "reverse('abc') AS rev, strpos('hello', 'll') AS pos, "
        "contains('hello', 'ell') AS has, "
        "starts_with('hello', 'he') AS sw, ends_with('hello', 'lo') AS ew, "
        "ltrim('  x') AS lt, rtrim('x  ') AS rt, repeat('ab', 3) AS rpt, "
        "md5('abc') AS h, regexp_extract('a1b22', '([0-9]+)b([0-9]+)', 2) AS rex, "
        "sign(-3) AS sg, log2(8) AS lg2, log10(1000) AS lg10"
    )
    got = eng.execute(sql).rows
    con = duckdb.connect()
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    con.close()
    assert [tuple(r) for r in got] == want


def test_string_toolbox_on_table_columns(eng):
    eng.execute("CREATE TABLE s (id INTEGER PRIMARY KEY, t STRING)")
    eng.execute("INSERT INTO s VALUES (1, 'alpha,beta'), (2, 'gamma,delta')")
    rows = eng.execute(
        "SELECT id, split_part(t, ',', 1) AS head, strpos(t, ',') AS cut "
        "FROM s WHERE contains(t, 'a,') ORDER BY id"
    ).rows
    assert rows == [(1, "alpha", 6), (2, "gamma", 6)]


def test_relations_tvf_lists_catalog(eng):
    eng.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)")
    eng.execute("INSERT INTO t VALUES (1, 1)")
    v1 = eng.catalog.current_version()
    eng.execute("CREATE VIEW vv AS SELECT v FROM t")
    eng.execute(
        "CREATE MATERIALIZED VIEW mv AS SELECT v, count(*) AS n FROM t GROUP BY v"
    )
    rows = eng.execute("SELECT name, kind FROM relations() ORDER BY name").rows
    assert rows == [
        ("mv", "materialized view"), ("t", "table"), ("vv", "view"),
    ]
    # it's a relation like any other: filter/join/aggregate over it
    assert eng.execute(
        "SELECT count(*) AS n FROM relations() WHERE kind = 'view'"
    ).rows == [(1,)]
    # a pinned session lists its own era's catalog
    eng.execute(f"BEGIN READ ONLY AS OF SYSTEM TIME {v1}")
    assert eng.execute("SELECT name FROM relations()").rows == [("t",)]
    eng.execute("COMMIT")


def test_grouping_extensions_match_duckdb(eng):
    """Round-10 dialect additions: GROUP BY ROLLUP / CUBE / GROUPING SETS
    compile onto Spark's native grouping analytics, exact-row parity with
    DuckDB on identical SQL — including grouping() disambiguating a
    rolled-up NULL from a REAL NULL group key (the planted NULL grp)."""
    import duckdb

    eng.execute("CREATE TABLE g (id INTEGER PRIMARY KEY, grp STRING, sub STRING, v INTEGER)")
    rows = [
        (1, "a", "x", 10), (2, "a", "y", 20), (3, "b", "x", 30),
        (4, "b", "y", 5), (5, None, "x", 7), (6, None, "y", 2),
    ]
    eng.execute(
        "INSERT INTO g VALUES "
        + ", ".join(
            f"({i}, {'NULL' if g is None else repr(g)}, '{s}', {v})"
            for i, g, s, v in rows
        )
    )
    # NOTE: no ORDER BY — the dialect's default null ordering is the
    # reference's (NULLS FIRST ASC), DuckDB's is NULLS LAST; rows compare
    # as sorted multisets, which is also how the driver's hash gate works
    queries = [
        ("SELECT grp, sub, sum(v) AS s, grouping(grp) AS gg, grouping(sub) AS gs "
         "FROM g GROUP BY ROLLUP (grp, sub)"),
        ("SELECT grp, sub, sum(v) AS s, count(*) AS n, grouping(grp) AS gg "
         "FROM g GROUP BY CUBE (grp, sub)"),
        ("SELECT grp, sub, sum(v) AS s, grouping(grp) AS gg, grouping(sub) AS gs "
         "FROM g GROUP BY GROUPING SETS ((grp), (sub), (grp, sub), ())"),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE g (id INTEGER, grp VARCHAR, sub VARCHAR, v INTEGER)")
    con.executemany("INSERT INTO g VALUES (?, ?, ?, ?)", rows)
    for sql in queries:
        got = sorted((tuple(r) for r in eng.execute(sql).rows), key=repr)
        want = sorted((tuple(r) for r in con.execute(sql).fetchall()), key=repr)
        assert got == want, (sql, got, want)
    con.close()
    # the real-NULL vs rolled-up-NULL distinction is visible: among rows
    # with grp IS NULL in the ROLLUP result, grouping(grp)=0 rows carry
    # the planted NULL group (sum 9), =1 rows the grand total (sum 74)
    rows2 = eng.execute(
        "SELECT grouping(grp) AS gg, sum(v) AS s FROM g GROUP BY ROLLUP (grp)"
    ).rows
    by_gg = {}
    for gg, s_ in rows2:
        by_gg.setdefault(gg, []).append(s_)
    assert 9 in by_gg[0] and by_gg[1] == [74]


def test_grouping_extension_errors(eng):
    eng.execute("CREATE TABLE ge (id INTEGER PRIMARY KEY, a STRING, v INTEGER)")
    eng.execute("INSERT INTO ge VALUES (1, 'x', 1)")
    with pytest.raises(EngineError, match="ROLLUP"):
        eng.execute("SELECT a, grouping(a) FROM ge GROUP BY a")
    with pytest.raises(EngineError, match="GROUP BY list"):
        eng.execute("SELECT a, grouping(v) AS gv FROM ge GROUP BY ROLLUP (a)")


def test_full_outer_join_matches_duckdb(eng):
    """FULL [OUTER] JOIN through the dialect (round 10 — beyond the
    reference's CROSS/INNER/LEFT/RIGHT), exact parity with DuckDB."""
    import duckdb

    eng.execute("CREATE TABLE fa (id INTEGER PRIMARY KEY, k INTEGER)")
    eng.execute("CREATE TABLE fb (id INTEGER PRIMARY KEY, k INTEGER)")
    eng.execute("INSERT INTO fa VALUES (1, 10), (2, 20), (3, 30)")
    eng.execute("INSERT INTO fb VALUES (7, 20), (8, 30), (9, 40)")
    sql = (
        "SELECT fa.id AS aid, fb.id AS bid, fa.k AS ak, fb.k AS bk "
        "FROM fa FULL OUTER JOIN fb ON fa.k = fb.k "
        "ORDER BY coalesce(fa.k, fb.k), aid"
    )
    got = [tuple(r) for r in eng.execute(sql).rows]
    con = duckdb.connect()
    con.execute("CREATE TABLE fa (id INTEGER, k INTEGER)")
    con.execute("CREATE TABLE fb (id INTEGER, k INTEGER)")
    con.execute("INSERT INTO fa VALUES (1, 10), (2, 20), (3, 30)")
    con.execute("INSERT INTO fb VALUES (7, 20), (8, 30), (9, 40)")
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    con.close()
    assert got == want and len(got) == 4
    # bare FULL JOIN spelling too; a column named `full` keeps working
    got2 = eng.execute(
        "SELECT count(*) AS n FROM fa FULL JOIN fb ON fa.k = fb.k"
    ).rows
    assert got2 == [(4,)]
