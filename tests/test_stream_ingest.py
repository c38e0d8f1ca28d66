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
        ([(1, 10), (2, 20), (1, 11)], "2 rows with primary key id = 1"),
        ([(1, 10), (None, 20)], "NULL primary key id"),
    ],
)
def test_batch_with_duplicate_or_null_pk_is_rejected(spark, engine, rows, error):
    """A delta's upserts must be unique and non-null on the PK: a
    micro-batch that is not fails loudly before any file is written."""
    import os

    from entangledb_spark.sources.catalog import CatalogError

    _mk_table(engine)
    v0 = engine.catalog.current_version()
    data = os.path.join(engine.catalog.base, "data")
    files = sorted(os.walk(data))
    batch = spark.createDataFrame(rows, "id long, v long")
    with pytest.raises(CatalogError, match=error):
        commit_stream_batch(engine.catalog, "ev", "s1", batch, 0)
    assert engine.catalog.current_version() == v0
    assert "s1" not in engine.catalog.manifest().get("streams", {})
    assert sorted(os.walk(data)) == files
    assert _rows(engine) == []
