"""Exactly-once streaming ingest into the snapshot catalog
(streaming/ingest.py): a file stream lands in a catalog table through
foreachBatch + manifest CAS; redelivered batches are no-ops; a restarted
stream with the same checkpoint adds nothing; concurrent SQL writers and
the stream interleave without lost updates.
"""

from __future__ import annotations

import pytest

from entangledb_spark.engine import Engine
from entangledb_spark.streaming.ingest import commit_stream_batch, stream_upsert_writer


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "db"))


def _mk_table(engine):
    engine.execute("CREATE TABLE ev (id INTEGER PRIMARY KEY, v INTEGER)")


def _rows(engine):
    r = engine.execute("SELECT id, v FROM ev ORDER BY id")
    rows, _ = r.fetch(10_000)
    return [tuple(t) for t in rows]


def _write_files(spark, src_dir, parts):
    """One parquet file per (id-range) part — maxFilesPerTrigger=1 then
    yields one micro-batch per file."""
    for rng in parts:
        spark.createDataFrame([(j, j * 10) for j in rng], "id long, v long").coalesce(
            1
        ).write.mode("append").parquet(src_dir)


def _stream(spark, src_dir):
    return (
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def test_stream_lands_in_catalog_and_restart_is_noop(spark, engine, tmp_path):
    _mk_table(engine)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _write_files(spark, src, [range(0, 5), range(5, 10)])

    w = stream_upsert_writer(engine.catalog, "ev", _stream(spark, src), "s1", ckpt)
    w.trigger(availableNow=True).start().awaitTermination()
    assert _rows(engine) == [(i, i * 10) for i in range(10)]
    assert engine.catalog.manifest().get("streams", {}).get("s1", -1) >= 0

    # restart with the SAME checkpoint and no new input: nothing replays
    v_before = engine.catalog.current_version()
    w2 = stream_upsert_writer(engine.catalog, "ev", _stream(spark, src), "s1", ckpt)
    w2.trigger(availableNow=True).start().awaitTermination()
    assert engine.catalog.current_version() == v_before
    assert _rows(engine) == [(i, i * 10) for i in range(10)]

    # new files after restart: only the new rows land (incremental resume)
    _write_files(spark, src, [range(10, 12)])
    w3 = stream_upsert_writer(engine.catalog, "ev", _stream(spark, src), "s1", ckpt)
    w3.trigger(availableNow=True).start().awaitTermination()
    assert _rows(engine) == [(i, i * 10) for i in range(12)]


def test_redelivered_batch_is_noop(spark, engine, tmp_path):
    _mk_table(engine)
    batch = spark.createDataFrame([(1, 10), (2, 20)], "id long, v long")
    v1 = commit_stream_batch(engine.catalog, "ev", "s1", batch, 0)
    assert v1 is not None
    # crash-before-ack replay: same batch id arrives again
    assert commit_stream_batch(engine.catalog, "ev", "s1", batch, 0) is None
    assert engine.catalog.current_version() == v1
    assert _rows(engine) == [(1, 10), (2, 20)]
    # a LATER batch with overlapping PKs upserts (latest-wins on read)
    nxt = spark.createDataFrame([(2, 99), (3, 30)], "id long, v long")
    assert commit_stream_batch(engine.catalog, "ev", "s1", nxt, 1) == v1 + 1
    assert _rows(engine) == [(1, 10), (2, 99), (3, 30)]


def test_stream_interleaves_with_sql_writers(spark, engine, tmp_path):
    """The stream's CAS loop must absorb a concurrent SQL commit landing
    between its manifest read and publish — and vice versa: neither
    writer's rows are lost."""
    _mk_table(engine)
    commit_stream_batch(
        engine.catalog, "ev", "s1", spark.createDataFrame([(1, 10)], "id long, v long"), 0
    )
    engine.execute("INSERT INTO ev VALUES (100, 1)")
    commit_stream_batch(
        engine.catalog, "ev", "s1", spark.createDataFrame([(2, 20)], "id long, v long"), 1
    )
    engine.execute("UPDATE ev SET v = 2 WHERE id = 100")
    assert _rows(engine) == [(1, 10), (2, 20), (100, 2)]
    # two independent streams into one table keep independent positions
    commit_stream_batch(
        engine.catalog, "ev", "s2", spark.createDataFrame([(3, 30)], "id long, v long"), 0
    )
    streams = engine.catalog.manifest()["streams"]
    assert streams["s1"] == 1 and streams["s2"] == 0
    assert _rows(engine) == [(1, 10), (2, 20), (3, 30), (100, 2)]


def test_crash_between_snapshot_and_publish_is_exactly_once(
    spark, engine, tmp_path, monkeypatch
):
    """Crash injection at the worst moment: the writer dies AFTER the
    batch's parquet snapshot is written but BEFORE the manifest CAS that
    would make it visible. Requirements proven here:
      - the crashed attempt publishes NOTHING (atomicity: data+position
        move only together);
      - the restarted stream replays the batch and commits it exactly
        once (no duplicate rows, no skipped batch);
      - the crashed attempt's snapshot dir is an unreferenced orphan —
        invisible to every reader — and vacuum reclaims it while leaving
        every referenced snapshot intact."""
    import os

    _mk_table(engine)
    cat = engine.catalog
    data_dir = os.path.join(cat.base, "data", "ev")

    def _snaps():
        return set(os.listdir(data_dir)) if os.path.isdir(data_dir) else set()

    before = _snaps()
    batch = spark.createDataFrame([(1, 10), (2, 20)], "id long, v long")
    monkeypatch.setattr(
        cat,
        "publish",
        lambda manifest, expected_version=None: (_ for _ in ()).throw(
            RuntimeError("simulated crash before manifest publish")
        ),
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        commit_stream_batch(cat, "ev", "s1", batch, 0)
    monkeypatch.undo()

    # nothing became visible; the crashed attempt left exactly one orphan
    assert _rows(engine) == []
    assert cat.manifest().get("streams", {}).get("s1", -1) == -1
    orphans = _snaps() - before
    assert len(orphans) == 1

    # restart: the replayed batch (same id — replayable-source contract)
    # commits exactly once
    v = commit_stream_batch(cat, "ev", "s1", batch, 0)
    assert v is not None
    assert _rows(engine) == [(1, 10), (2, 20)]
    # a second replay is still a no-op
    assert commit_stream_batch(cat, "ev", "s1", batch, 0) is None
    assert _rows(engine) == [(1, 10), (2, 20)]

    # vacuum reclaims the orphan (referenced by NO manifest version) and
    # keeps every referenced snapshot readable
    stats = cat.vacuum(keep_last=8)
    assert stats["removed_data_dirs"] >= 1
    assert orphans.isdisjoint(_snaps())
    assert _rows(engine) == [(1, 10), (2, 20)]


def test_stream_query_crash_and_restart_exactly_once(
    spark, engine, tmp_path, monkeypatch
):
    """E2E through the real writeStream machinery: the streaming QUERY
    dies when its sink crashes on the second micro-batch; a restarted
    query with the same checkpoint replays that batch (same batch_id —
    the replayable-source contract) and the table converges with every
    row exactly once."""
    import entangledb_spark.streaming.ingest as ingest_mod

    _mk_table(engine)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _write_files(spark, src, [range(0, 5), range(5, 10)])

    real = ingest_mod.commit_stream_batch
    crashed = {"n": 0}

    def flaky(cat, tbl, sid, df, bid):
        if bid == 1 and crashed["n"] == 0:
            crashed["n"] += 1
            raise RuntimeError("injected sink crash")
        return real(cat, tbl, sid, df, bid)

    monkeypatch.setattr(ingest_mod, "commit_stream_batch", flaky)
    w = stream_upsert_writer(engine.catalog, "ev", _stream(spark, src), "s1", ckpt)
    with pytest.raises(Exception, match="injected sink crash"):
        w.trigger(availableNow=True).start().awaitTermination()
    assert crashed["n"] == 1
    assert _rows(engine) == [(i, i * 10) for i in range(5)]  # batch 0 only

    w2 = stream_upsert_writer(engine.catalog, "ev", _stream(spark, src), "s1", ckpt)
    w2.trigger(availableNow=True).start().awaitTermination()
    assert _rows(engine) == [(i, i * 10) for i in range(10)]
    assert engine.catalog.manifest()["streams"]["s1"] == 1


def test_cas_retry_is_bounded(spark, engine, tmp_path, monkeypatch):
    """A wedged manifest (every CAS attempt loses) must fail the stream
    LOUDLY after MAX_CAS_ATTEMPTS instead of spinning forever."""
    from entangledb_spark.sources.catalog import ConflictError
    import entangledb_spark.streaming.ingest as ingest_mod

    _mk_table(engine)
    cat = engine.catalog
    monkeypatch.setattr(ingest_mod, "MAX_CAS_ATTEMPTS", 3)
    monkeypatch.setattr(
        cat,
        "publish",
        lambda manifest, expected_version=None: (_ for _ in ()).throw(
            ConflictError("always loses")
        ),
    )
    batch = spark.createDataFrame([(1, 10)], "id long, v long")
    monkeypatch.setattr(ingest_mod.time, "sleep", lambda s: None)
    with pytest.raises(ConflictError, match="3 times in a row"):
        commit_stream_batch(cat, "ev", "s1", batch, 0)


def test_many_batches_trigger_compaction(spark, engine, tmp_path):
    """COMPACT_AFTER micro-batches fold into a fresh base so read
    amplification stays bounded under a long-running stream."""
    _mk_table(engine)
    for b in range(engine.catalog.COMPACT_AFTER + 2):
        commit_stream_batch(
            engine.catalog,
            "ev",
            "s1",
            spark.createDataFrame([(b, b)], "id long, v long"),
            b,
        )
    meta = engine.catalog.manifest()["tables"]["ev"]
    assert len(meta.get("deltas", [])) < engine.catalog.COMPACT_AFTER
    n = engine.catalog.COMPACT_AFTER + 2
    assert _rows(engine) == [(i, i) for i in range(n)]


@pytest.mark.parametrize(
    "rows, error",
    [
        ([(1, 10), (2, 20), (1, 11)], "duplicate primary key 1 for column id in table ev"),
        ([(1, 10), (None, 20)], "NULL value not allowed for column id in table ev"),
    ],
    ids=["rows0-2 rows with primary key id = 1", "rows1-NULL primary key id"],
)
def test_batch_with_duplicate_or_null_pk_is_rejected(spark, engine, rows, error):
    """A delta's upserts must be unique and non-null on the PK: a
    micro-batch that is not fails loudly before any file is written."""
    import os

    from entangledb_spark.sources.constraints import ConstraintError

    _mk_table(engine)
    v0 = engine.catalog.current_version()
    data = os.path.join(engine.catalog.base, "data")
    files = sorted(os.walk(data))
    batch = spark.createDataFrame(rows, "id long, v long")
    with pytest.raises(ConstraintError, match=error):
        commit_stream_batch(engine.catalog, "ev", "s1", batch, 0)
    assert engine.catalog.current_version() == v0
    assert "s1" not in engine.catalog.manifest().get("streams", {})
    assert sorted(os.walk(data)) == files
    assert _rows(engine) == []


# --- a batch is typed and checked like an INSERT ---------------------------


def _rejected(engine, table, batch, error):
    """Commit ``batch`` into ``table``: it must fail with ``error`` before
    anything is published or written."""
    import os

    from entangledb_spark.sources.constraints import ConstraintError

    cat = engine.catalog
    v0 = cat.current_version()
    data = os.path.join(cat.base, "data")
    files = sorted(os.walk(data))
    with pytest.raises(ConstraintError, match=error):
        commit_stream_batch(cat, table, "s1", batch, 0)
    assert cat.current_version() == v0
    assert "s1" not in cat.manifest().get("streams", {})
    assert sorted(os.walk(data)) == files


def test_null_in_not_null_column_is_rejected(spark, engine):
    engine.execute("CREATE TABLE nn (id INTEGER PRIMARY KEY, v INTEGER NOT NULL)")
    batch = spark.createDataFrame([(1, 10), (2, None)], "id long, v long")
    _rejected(engine, "nn", batch, "NULL value not allowed for column v in table nn")
    assert engine.execute("SELECT * FROM nn").rows == []


def test_overlong_string_is_rejected(spark, engine):
    engine.execute("CREATE TABLE st (id INTEGER PRIMARY KEY, s STRING)")
    batch = spark.createDataFrame([(1, "x" * 2000)], "id long, s string")
    _rejected(engine, "st", batch, "column s of table st exceeds 1024 bytes")
    assert engine.execute("SELECT * FROM st").rows == []


def test_foreign_key_without_parent_is_rejected(spark, engine):
    engine.execute("CREATE TABLE p (id INTEGER PRIMARY KEY)")
    engine.execute("CREATE TABLE c (id INTEGER PRIMARY KEY, pid INTEGER REFERENCES p)")
    engine.execute("INSERT INTO p VALUES (1)")
    batch = spark.createDataFrame([(1, 1), (2, 99)], "id long, pid long")
    _rejected(engine, "c", batch, "referenced primary key 99 in table p does not exist")
    assert engine.execute("SELECT * FROM c").rows == []
    ok = spark.createDataFrame([(1, 1), (2, None)], "id long, pid long")
    commit_stream_batch(engine.catalog, "c", "s1", ok, 0)
    assert engine.execute("SELECT * FROM c ORDER BY id").rows == [(1, 1), (2, None)]


@pytest.mark.parametrize("vtype", ["double", "string"])
def test_mistyped_batch_is_rejected_and_table_still_reads(spark, engine, vtype):
    """A batch is not cast into an INTEGER column: a ``double`` or
    ``string`` written as is would make every read of the table fail."""
    _mk_table(engine)
    engine.execute("INSERT INTO ev VALUES (1, 10)")
    batch = spark.createDataFrame([(2, "20" if vtype == "string" else 20.5)], f"id long, v {vtype}")
    _rejected(engine, "ev", batch, f"invalid value of type {vtype} for integer column v in table ev")
    assert _rows(engine) == [(1, 10)]


def test_batch_after_rename_column_reads_back(spark, engine):
    engine.execute("CREATE TABLE rn (id INTEGER PRIMARY KEY, a INTEGER NOT NULL)")
    engine.execute("INSERT INTO rn VALUES (1, 10)")
    engine.execute("ALTER TABLE rn RENAME COLUMN a TO alpha")
    batch = spark.createDataFrame([(2, 20)], "id long, alpha long")
    commit_stream_batch(engine.catalog, "rn", "s1", batch, 0)
    rows = engine.execute("SELECT id, alpha FROM rn ORDER BY id").rows
    assert rows == [(1, 10), (2, 20)]


def test_partitioned_batch_reads_back(spark, engine):
    """A batch into a PARTITION BY table is written in the table's
    partition layout: an upsert of key 1 and a new key 3 read back by a
    full scan, a partition-pruned scan and a primary-key read."""
    engine.execute(
        "CREATE TABLE pt (id INTEGER PRIMARY KEY, grp INTEGER, v INTEGER) PARTITION BY (grp)"
    )
    engine.execute("INSERT INTO pt VALUES (1, 1, 10), (2, 2, 20)")
    batch = spark.createDataFrame([(1, 1, 11), (3, 1, 30)], "id long, grp long, v long")
    commit_stream_batch(engine.catalog, "pt", "s1", batch, 0)

    def read(where=""):
        return engine.execute(f"SELECT id, grp, v FROM pt {where} ORDER BY id").rows

    assert read() == [(1, 1, 11), (2, 2, 20), (3, 1, 30)]
    assert read("WHERE grp = 1") == [(1, 1, 11), (3, 1, 30)]
    assert read("WHERE id = 1") == [(1, 1, 11)]
