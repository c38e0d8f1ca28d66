"""Cross-batch streaming corpus dedup (streaming/corpus_dedup.py):
content seen in ANY earlier batch — or earlier in the same batch — never
lands twice; redelivery is a no-op; a lost manifest CAS re-derives the
dedup decision against the winner's state."""

from __future__ import annotations

import pytest

from entangledb_spark.engine import Engine
from entangledb_spark.sources.catalog import ConflictError
from entangledb_spark.sources.constraints import ConstraintError
from entangledb_spark.streaming.corpus_dedup import (
    commit_dedup_batch,
    stream_dedup_writer,
)


@pytest.fixture()
def engine(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "db"))
    e.execute("CREATE TABLE corpus (doc_id INTEGER PRIMARY KEY, body STRING)")
    e.execute("CREATE TABLE corpus_fp (fp STRING PRIMARY KEY, doc_id INTEGER)")
    return e


def _docs(engine):
    rows, _ = engine.execute("SELECT doc_id, body FROM corpus ORDER BY doc_id").fetch(
        10_000
    )
    return [tuple(t) for t in rows]


def _fps(engine):
    rows, _ = engine.execute("SELECT fp, doc_id FROM corpus_fp ORDER BY doc_id").fetch(
        10_000
    )
    return [tuple(t) for t in rows]


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, body string")


def test_within_batch_dedup_keeps_lowest_pk(spark, engine):
    out = commit_dedup_batch(
        engine.catalog,
        "corpus",
        "corpus_fp",
        "s1",
        _batch(spark, [(3, "same text"), (1, "same text"), (2, "other")]),
        0,
    )
    assert out is not None and out["n_new"] == 2
    assert _docs(engine) == [(1, "same text"), (2, "other")]
    assert len(_fps(engine)) == 2


def test_cross_batch_dedup_and_normalization(spark, engine):
    commit_dedup_batch(
        engine.catalog, "corpus", "corpus_fp", "s1", _batch(spark, [(1, "Hello  World")]), 0
    )
    # same content later: different id, different whitespace/case — the
    # normalized fingerprint matches and the doc is dropped
    out = commit_dedup_batch(
        engine.catalog,
        "corpus",
        "corpus_fp",
        "s1",
        _batch(spark, [(2, "hello world"), (3, "brand new")]),
        1,
    )
    assert out["n_new"] == 1
    assert _docs(engine) == [(1, "Hello  World"), (3, "brand new")]


def test_redelivery_is_noop(spark, engine):
    b = _batch(spark, [(1, "a"), (2, "b")])
    v = commit_dedup_batch(engine.catalog, "corpus", "corpus_fp", "s1", b, 0)
    assert v is not None
    assert commit_dedup_batch(engine.catalog, "corpus", "corpus_fp", "s1", b, 0) is None
    assert engine.catalog.current_version() == v["version"]
    assert len(_docs(engine)) == 2


def test_lost_cas_rederives_dedup_against_winner(spark, engine, monkeypatch):
    """A concurrent writer lands the same content between this batch's
    read and its publish: the first CAS must fail, and the retry must
    DROP the now-duplicate doc instead of replaying its stale decision."""
    cat = engine.catalog
    real_publish = type(cat).publish
    calls = {"n": 0}

    def racing_publish(self, manifest, expected_version=None):
        if calls["n"] == 0:
            calls["n"] += 1
            # sneak a writer in: doc 100 with the contended content wins
            engine.execute("INSERT INTO corpus VALUES (100, 'contended')")
            ok = commit_dedup_batch(
                cat, "corpus", "corpus_fp", "other", _batch(spark, [(100, "contended")]), 0
            )
            assert ok is None or ok  # other stream committed (or deduped)
            # now the original publish must lose its CAS
            return real_publish(self, manifest, expected_version=expected_version)
        return real_publish(self, manifest, expected_version=expected_version)

    monkeypatch.setattr(type(cat), "publish", racing_publish)
    out = commit_dedup_batch(
        cat,
        "corpus",
        "corpus_fp",
        "s1",
        _batch(spark, [(1, "contended"), (2, "fresh")]),
        0,
    )
    monkeypatch.undo()
    assert out is not None and out["n_new"] == 1
    docs = _docs(engine)
    assert (2, "fresh") in docs
    # exactly ONE row holds the contended content — the racing winner's
    texts = [t for _, t in docs if t == "contended"]
    assert len(texts) == 1
    fps = _fps(engine)
    assert len(fps) == len(docs)


def test_end_to_end_file_stream(spark, engine, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    # file 1: docs 0-4; file 2 repeats two texts under new ids + one new
    _batch(spark, [(i, f"doc number {i}") for i in range(5)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _batch(
        spark, [(10, "doc number 1"), (11, "doc number 3"), (12, "genuinely new")]
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, body string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    w = stream_dedup_writer(engine.catalog, "corpus", "corpus_fp", stream, "s1", ckpt)
    w.trigger(availableNow=True).start().awaitTermination()
    docs = _docs(engine)
    assert [d for d, _ in docs] == [0, 1, 2, 3, 4, 12]
    assert len(_fps(engine)) == 6
    # restart with the same checkpoint: nothing replays
    v = engine.catalog.current_version()
    w2 = stream_dedup_writer(engine.catalog, "corpus", "corpus_fp", stream, "s1", ckpt)
    w2.trigger(availableNow=True).start().awaitTermination()
    assert engine.catalog.current_version() == v


def test_missing_fp_table_fails_loudly(spark, engine):
    with pytest.raises(ConflictError):
        commit_dedup_batch(
            engine.catalog, "corpus", "nope", "s1", _batch(spark, [(1, "x")]), 0
        )


def test_lost_cas_orphans_are_vacuumed(spark, engine, monkeypatch):
    """A lost CAS abandons the attempt's freshly written doc + fp
    snapshots (they are never referenced by any manifest); vacuum must
    reclaim exactly those files while the committed state survives."""
    cat = engine.catalog
    commit_dedup_batch(
        engine.catalog, "corpus", "corpus_fp", "s1", _batch(spark, [(1, "a")]), 0
    )
    real_publish = type(cat).publish
    fails = {"left": 1}

    def flaky_publish(self, manifest, expected_version=None):
        if fails["left"]:
            fails["left"] -= 1
            raise ConflictError("injected lost CAS")
        return real_publish(self, manifest, expected_version=expected_version)

    monkeypatch.setattr(type(cat), "publish", flaky_publish)
    out = commit_dedup_batch(
        cat, "corpus", "corpus_fp", "s1", _batch(spark, [(2, "b")]), 1
    )
    monkeypatch.undo()
    assert out is not None and out["n_new"] == 1
    # keep ALL manifests: removed dirs are purely the unreferenced orphans
    stats = cat.vacuum(keep_last=1000)
    assert stats["removed_data_dirs"] == 2, stats  # docs + fp attempt files
    assert _docs(engine) == [(1, "a"), (2, "b")]
    assert len(_fps(engine)) == 2


def test_null_text_docs_dedup_as_one_class(spark, engine):
    """NULL text must not bypass cross-batch dedup: the sentinel
    fingerprint makes all null-text docs one content class — the first
    lands, every later one (same or later batch) is dropped."""
    out = commit_dedup_batch(
        engine.catalog,
        "corpus",
        "corpus_fp",
        "s1",
        _batch(spark, [(1, None), (2, None), (3, "real")]),
        0,
    )
    assert out["n_new"] == 2  # one null-class representative + "real"
    out2 = commit_dedup_batch(
        engine.catalog, "corpus", "corpus_fp", "s1", _batch(spark, [(9, None)]), 1
    )
    assert out2["n_new"] == 0  # later batches never re-ingest null text
    assert [d for d, _ in _docs(engine)] == [1, 3]


@pytest.mark.parametrize(
    "rows", [[(1, "a"), (1, "b")], [(1, "a"), (None, "b")]], ids=["duplicate", "null"]
)
def test_batch_pk_must_be_unique_and_non_null(spark, engine, rows):
    """Two docs with one PK (different text, so different fingerprints)
    would both land in the docs delta; the batch is rejected instead."""
    v0 = engine.catalog.current_version()
    with pytest.raises(ConstraintError, match="for column doc_id in table corpus"):
        commit_dedup_batch(engine.catalog, "corpus", "corpus_fp", "s1", _batch(spark, rows), 0)
    assert engine.catalog.current_version() == v0
    assert _docs(engine) == [] and _fps(engine) == []


def test_null_in_not_null_text_column_is_rejected(spark, tmp_path):
    """The docs delta is checked like an INSERT: a NULL body in a NOT NULL
    text column fails the batch before anything is written."""
    e = Engine(spark, str(tmp_path / "nn"))
    e.execute("CREATE TABLE corpus (doc_id INTEGER PRIMARY KEY, body STRING NOT NULL)")
    e.execute("CREATE TABLE corpus_fp (fp STRING PRIMARY KEY, doc_id INTEGER)")
    v0 = e.catalog.current_version()
    with pytest.raises(ConstraintError, match="NULL value not allowed for column body in table corpus"):
        commit_dedup_batch(
            e.catalog, "corpus", "corpus_fp", "s1", _batch(spark, [(1, "a"), (2, None)]), 0
        )
    assert e.catalog.current_version() == v0
    assert _docs(e) == [] and _fps(e) == []


def test_delta_chains_are_compacted(spark, engine):
    """Per-batch deltas on BOTH tables must not grow unboundedly — the
    shared post-publish compaction bounds the chains at COMPACT_AFTER."""
    cat = engine.catalog
    for b in range(cat.COMPACT_AFTER + 3):
        commit_dedup_batch(
            cat, "corpus", "corpus_fp", "s1", _batch(spark, [(b, f"text {b}")]), b
        )
    m = cat.manifest()
    for t in ("corpus", "corpus_fp"):
        assert len(m["tables"][t].get("deltas", [])) < cat.COMPACT_AFTER, t
    # all rows intact after compaction
    assert len(_docs(engine)) == cat.COMPACT_AFTER + 3


def test_no_string_column_raises_descriptive_error(spark, engine):
    """A docs table with no non-pk STRING column must fail with a clear
    ConflictError, not a bare StopIteration from text_col auto-detect."""
    engine.execute("CREATE TABLE nums (k INTEGER PRIMARY KEY, v INTEGER)")
    engine.execute("CREATE TABLE nums_fp (fp STRING PRIMARY KEY, k INTEGER)")
    with pytest.raises(ConflictError, match="no non-pk STRING column"):
        commit_dedup_batch(
            engine.catalog,
            "nums",
            "nums_fp",
            "s1",
            spark.createDataFrame([(1, 2)], "k long, v long"),
            0,
        )


# --- partition-pruned (bucketed) fingerprint table --------------------------


@pytest.fixture()
def bucketed_engine(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "bdb"))
    e.execute("CREATE TABLE corpus (doc_id INTEGER PRIMARY KEY, body STRING)")
    e.execute(
        "CREATE TABLE corpus_fp (fp STRING PRIMARY KEY, doc_id INTEGER,"
        " bucket INTEGER)"
    )
    return e


def test_bucketed_fp_table_dedups_and_partitions(spark, bucketed_engine):
    """With a declared bucket column the fp table is maintained
    partitioned-by-bucket on disk and dedup semantics are unchanged."""
    import os

    cat = bucketed_engine.catalog
    out = commit_dedup_batch(
        cat, "corpus", "corpus_fp", "s1",
        spark.createDataFrame(
            [(3, "same text"), (1, "same text"), (2, "other")],
            "doc_id long, body string",
        ), 0,
    )
    assert out["n_new"] == 2
    out2 = commit_dedup_batch(
        cat, "corpus", "corpus_fp", "s1",
        spark.createDataFrame([(9, "SAME  text"), (4, "new")],
                              "doc_id long, body string"), 1,
    )
    assert out2["n_new"] == 1  # normalized dup dropped cross-batch
    m = cat.manifest()
    assert m["tables"]["corpus_fp"]["partition_by"] == ["bucket"]
    # on-disk layout: every fp delta is bucket-partitioned
    rels = [d["upserts"] for d in m["tables"]["corpus_fp"].get("deltas", [])]
    if m["tables"]["corpus_fp"]["data"]:
        rels.append(m["tables"]["corpus_fp"]["data"])
    assert rels
    for rel in rels:
        subdirs = [
            d for d in os.listdir(os.path.join(cat.base, rel))
            if d.startswith("bucket=")
        ]
        assert subdirs, rel
    # bucket values consistent with the fp prefix
    rows, _ = bucketed_engine.execute(
        "SELECT fp, bucket FROM corpus_fp"
    ).fetch(100)
    assert all(int(fp[:2], 16) == b for fp, b in rows)


def test_bucketed_read_is_partition_pruned(spark, bucketed_engine):
    """The per-batch fp read must push a bucket partition filter into the
    parquet scan — the ann_index-style file-level pruning assertion."""
    from pyspark.sql import functions as F

    from entangledb_spark.streaming.corpus_dedup import fp_bucket

    cat = bucketed_engine.catalog
    for b in range(3):
        commit_dedup_batch(
            cat, "corpus", "corpus_fp", "s1",
            spark.createDataFrame(
                [(b * 10 + i, f"doc {b} {i}") for i in range(5)],
                "doc_id long, body string",
            ), b,
        )
    m = cat.manifest()
    probe = cat.read_df_pruned(m, "corpus_fp", F.col("bucket").isin([7, 9]))
    probe.collect()
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    # every scan of the fp table carries the partition filter (base +
    # upsert deltas); none scans all buckets
    scans = [l for l in plan.splitlines() if "Scan parquet" in l]
    assert scans
    assert all("PartitionFilters: [" in l for l in scans), plan
    assert not any("PartitionFilters: []" in l for l in scans), plan


def test_bucketed_compaction_preserves_layout_and_rows(spark, bucketed_engine):
    import os

    cat = bucketed_engine.catalog
    for b in range(cat.COMPACT_AFTER + 2):
        commit_dedup_batch(
            cat, "corpus", "corpus_fp", "s1",
            spark.createDataFrame([(b, f"text {b}")], "doc_id long, body string"),
            b,
        )
    m = cat.manifest()
    meta = m["tables"]["corpus_fp"]
    assert len(meta.get("deltas", [])) < cat.COMPACT_AFTER
    assert meta["data"] is not None
    base_dirs = os.listdir(os.path.join(cat.base, meta["data"]))
    assert any(d.startswith("bucket=") for d in base_dirs)
    rows, _ = bucketed_engine.execute("SELECT fp FROM corpus_fp").fetch(1000)
    assert len(rows) == cat.COMPACT_AFTER + 2
