"""Cross-batch streaming NEAR-dup closure (streaming/near_dedup.py):
a document LSH-colliding with anything the corpus HOLDS — or with a
lower-pk doc of the same batch (chain-closed) — never lands; dropped
docs contribute no band keys (the module's stated contract: no two
STORED docs share a band; content colliding only with dropped docs may
land); redelivery is a no-op; a lost manifest CAS re-derives the
decision against the winner."""

from __future__ import annotations

import pytest

from entangledb_spark.engine import Engine
from entangledb_spark.sources.catalog import ConflictError
from entangledb_spark.streaming.near_dedup import (
    commit_near_dedup_batch,
    stream_near_dedup_writer,
)

LONG = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "researchers carefully measure corpus duplication rates across "
    "large web crawls every single afternoon"
)
NEAR = LONG.replace("afternoon", "evening")  # one-token edit, J ~ 0.9
FRESH = (
    "completely unrelated content about submarine cable maintenance "
    "schedules and the tidal windows that constrain splicing operations "
    "in the north atlantic shipping lanes"
)


@pytest.fixture()
def engine(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "db"))
    e.execute("CREATE TABLE corpus (doc_id INTEGER PRIMARY KEY, body STRING)")
    e.execute("CREATE TABLE corpus_bands (band STRING PRIMARY KEY, doc_id INTEGER)")
    return e


def _docs(engine):
    rows, _ = engine.execute(
        "SELECT doc_id, body FROM corpus ORDER BY doc_id"
    ).fetch(10_000)
    return [tuple(t) for t in rows]


def _bands(engine):
    rows, _ = engine.execute(
        "SELECT band, doc_id FROM corpus_bands ORDER BY doc_id, band"
    ).fetch(10_000)
    return [tuple(t) for t in rows]


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, body string")


def _commit(engine, spark, rows, batch_id, stream="s1"):
    return commit_near_dedup_batch(
        engine.catalog, "corpus", "corpus_bands", stream,
        _batch(spark, rows), batch_id,
    )


def test_within_batch_keep_first_and_band_invariant(spark, engine):
    out = _commit(engine, spark, [(3, LONG), (1, LONG), (2, FRESH)], 0)
    assert out is not None and out["n_new"] == 2
    assert [d for d, _ in _docs(engine)] == [1, 2]
    bands = _bands(engine)
    # LSH_BANDS rows per surviving doc, all keys pairwise distinct (the
    # PRIMARY KEY invariant: survivors never share a bucket)
    assert len(bands) == 2 * 4 and len({b for b, _ in bands}) == len(bands)


def test_cross_batch_near_dup_is_dropped(spark, engine):
    _commit(engine, spark, [(1, LONG)], 0)
    out = _commit(engine, spark, [(2, NEAR), (3, FRESH)], 1)
    # NEAR differs from LONG by one token: at (16 perms, 4x4 bands) the
    # signatures collide in at least one band for this fixture —
    # deterministic because the hash family is seeded constants
    assert out["n_new"] == 1
    assert [d for d, _ in _docs(engine)] == [1, 3]
    # the dropped doc contributed NO band rows
    assert {d for _, d in _bands(engine)} == {1, 3}


def test_exact_duplicate_is_also_near_dup(spark, engine):
    _commit(engine, spark, [(1, LONG)], 0)
    out = _commit(engine, spark, [(5, LONG)], 1)
    assert out["n_new"] == 0
    assert [d for d, _ in _docs(engine)] == [1]


def test_short_docs_bypass_near_layer(spark, engine):
    """Docs below the shingle width emit no band keys: they must all
    survive (collapsing every short doc into one class would be wrong),
    including across batches."""
    out = _commit(engine, spark, [(1, "hi there"), (2, "hi there")], 0)
    assert out["n_new"] == 2
    out2 = _commit(engine, spark, [(3, "hi there")], 1)
    assert out2["n_new"] == 1
    assert [d for d, _ in _docs(engine)] == [1, 2, 3]
    assert _bands(engine) == []  # nothing shinglable ever landed keys


def test_redelivery_is_noop(spark, engine):
    v = _commit(engine, spark, [(1, LONG)], 0)
    assert v is not None
    assert _commit(engine, spark, [(1, LONG)], 0) is None
    assert engine.catalog.current_version() == v["version"]


def test_lost_cas_rederives_against_winner(spark, engine, monkeypatch):
    """A concurrent writer lands a near-duplicate between this batch's
    read and its publish: the retry must DROP the now-near-dup doc."""
    cat = engine.catalog
    real_publish = type(cat).publish
    calls = {"n": 0}

    def racing_publish(self, manifest, expected_version=None):
        if calls["n"] == 0:
            calls["n"] += 1
            ok = commit_near_dedup_batch(
                cat, "corpus", "corpus_bands", "other",
                _batch(spark, [(100, LONG)]), 0,
            )
            assert ok is not None
            return real_publish(self, manifest, expected_version=expected_version)
        return real_publish(self, manifest, expected_version=expected_version)

    monkeypatch.setattr(type(cat), "publish", racing_publish)
    out = _commit(engine, spark, [(1, NEAR), (2, FRESH)], 0)
    monkeypatch.undo()
    assert out is not None and out["n_new"] == 1
    docs = _docs(engine)
    assert (2, FRESH) in docs and (100, LONG) in docs
    assert not any(d == 1 for d, _ in docs)  # near-dup of the racing winner
    # band table consistent: only the two survivors hold keys
    assert {d for _, d in _bands(engine)} == {2, 100}


def test_end_to_end_file_stream_with_restart(spark, engine, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _batch(spark, [(0, LONG), (1, FRESH)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _batch(spark, [(10, NEAR), (11, FRESH + " with a tail"), (12, "tiny")]).coalesce(
        1
    ).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, body string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    w = stream_near_dedup_writer(
        engine.catalog, "corpus", "corpus_bands", stream, "s1", ckpt
    )
    w.trigger(availableNow=True).start().awaitTermination()
    docs = _docs(engine)
    # NEAR ~ LONG dropped; "FRESH with a tail" ~ FRESH dropped; tiny
    # bypasses the near layer and lands
    assert [d for d, _ in docs] == [0, 1, 12]
    # restart with the same checkpoint: nothing replays
    v = engine.catalog.current_version()
    w2 = stream_near_dedup_writer(
        engine.catalog, "corpus", "corpus_bands", stream, "s1", ckpt
    )
    w2.trigger(availableNow=True).start().awaitTermination()
    assert engine.catalog.current_version() == v


def test_bucketed_band_table(spark, tmp_path):
    """With a non-pk INTEGER bucket column the band table is written
    PARTITIONED BY bucket and batch reads prune to the batch's buckets;
    survivors must be identical to the unbucketed run."""
    e = Engine(spark, str(tmp_path / "db"))
    e.execute("CREATE TABLE corpus (doc_id INTEGER PRIMARY KEY, body STRING)")
    e.execute(
        "CREATE TABLE corpus_bands (band STRING PRIMARY KEY, doc_id INTEGER, "
        "bucket INTEGER)"
    )
    commit_near_dedup_batch(
        e.catalog, "corpus", "corpus_bands", "s1",
        _batch(spark, [(1, LONG), (2, FRESH)]), 0,
    )
    out = commit_near_dedup_batch(
        e.catalog, "corpus", "corpus_bands", "s1",
        _batch(spark, [(3, NEAR), (4, "entirely distinct new words here")]), 1,
    )
    assert out["n_new"] == 1
    rows, _ = e.execute("SELECT doc_id FROM corpus ORDER BY doc_id").fetch(100)
    assert [t[0] for t in rows] == [1, 2, 4]
    assert e.catalog.manifest()["tables"]["corpus_bands"].get("partition_by") == [
        "bucket"
    ]


# -------------------------------------------- two-stage signature verify
#
# FP_A / FP_B: a deterministic FALSE-POSITIVE LSH pair found by searching
# seeded fixtures against the REAL production minhash path: their
# signatures agree on one full band (band 3) yet only 6 of 16 positions
# overall (est_jaccard = 0.375 < 0.5) — band-only dropping would delete a
# unique document; two-stage verification must keep it.
FP_A = (
    "w82 w38 w101 w166 w12 w18 w137 w24 w93 w149 w14 w129 w54 w9 w22 "
    "w111 w107 w98 w156 w70 w182 w17 w197 w154 w154 w130 w69 w155 w54 "
    "w57 w79 w24 w92 w173 w145 w20 w92 w5 w179 w132 w18 w31"
)
FP_B = (
    "w82 w38 w101 w166 w12 w18 w137 w24 w93 w149 w14 w129 w54 w9 w22 "
    "w111 w107 w83 w55 w0 w117 w161 w195 w35 w114 w70 w128 w15 w114 "
    "w151 w142 w152 w8 w10 w137 w119 w28 w123 w57 w75 w161 w87"
)


@pytest.fixture()
def verified_engine(spark, tmp_path):
    """Band table with the non-pk STRING ``sig`` column: two-stage on."""
    e = Engine(spark, str(tmp_path / "vdb"))
    e.execute("CREATE TABLE corpus (doc_id INTEGER PRIMARY KEY, body STRING)")
    e.execute(
        "CREATE TABLE corpus_bands (band STRING PRIMARY KEY, doc_id INTEGER, "
        "sig STRING)"
    )
    return e


def _fixture_pair_properties(spark):
    """Assert the fixture IS what it claims: one colliding band, est < 0.5
    — recomputed through the production signature path so a constant
    change in _minhash_params fails HERE, not in a mysterious test."""
    from entangledb_spark.operators._minhash_params import (
        LSH_BANDS,
        MINHASH_PERMS,
    )
    from entangledb_spark.operators.dedup import minhash_signature

    rows = [(1, FP_A), (2, FP_B)]
    sigs = {
        r.doc_id: r.minhash
        for r in minhash_signature(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    rpb = MINHASH_PERMS // LSH_BANDS
    bands = {
        d: [tuple(s[b * rpb : (b + 1) * rpb]) for b in range(LSH_BANDS)]
        for d, s in sigs.items()
    }
    colliding = [b for b in range(LSH_BANDS) if bands[1][b] == bands[2][b]]
    est = sum(a == b for a, b in zip(sigs[1], sigs[2])) / MINHASH_PERMS
    return colliding, est


def test_false_positive_collision_survives_with_verify(spark, verified_engine):
    colliding, est = _fixture_pair_properties(spark)
    assert len(colliding) >= 1 and est < 0.5  # fixture sanity
    e = verified_engine
    commit_near_dedup_batch(
        e.catalog, "corpus", "corpus_bands", "s1", _batch(spark, [(1, FP_A)]), 0
    )
    out = commit_near_dedup_batch(
        e.catalog, "corpus", "corpus_bands", "s1", _batch(spark, [(2, FP_B)]), 1
    )
    # band-only would have dropped doc 2; the signature check keeps it
    assert out["n_new"] == 1
    rows, _ = e.execute("SELECT doc_id FROM corpus ORDER BY doc_id").fetch(10)
    assert [t[0] for t in rows] == [1, 2]
    # band stays a true PRIMARY KEY: the colliding key is persisted once
    # (held by doc 1); doc 2 keeps only its non-colliding keys
    bands, _ = e.execute(
        "SELECT band, doc_id FROM corpus_bands ORDER BY doc_id, band"
    ).fetch(100)
    keys = [tuple(t) for t in bands]
    assert len({b for b, _ in keys}) == len(keys)  # pairwise distinct
    assert sum(1 for _, d in keys if d == 1) == 4
    assert sum(1 for _, d in keys if d == 2) == 4 - len(colliding)


def test_false_positive_collision_drops_without_sig_column(spark, engine):
    """The same fixture on a LEGACY (band-only) table over-drops — the
    gap the sig column closes, demonstrated side by side."""
    _commit(engine, spark, [(1, FP_A)], 0)
    out = _commit(engine, spark, [(2, FP_B)], 1)
    assert out["n_new"] == 0
    assert [d for d, _ in _docs(engine)] == [1]


def test_true_near_dup_still_dropped_with_verify(spark, verified_engine):
    e = verified_engine
    commit_near_dedup_batch(
        e.catalog, "corpus", "corpus_bands", "s1", _batch(spark, [(1, LONG)]), 0
    )
    out = commit_near_dedup_batch(
        e.catalog, "corpus", "corpus_bands", "s1",
        _batch(spark, [(2, NEAR), (3, FRESH)]), 1,
    )
    assert out["n_new"] == 1
    rows, _ = e.execute("SELECT doc_id FROM corpus ORDER BY doc_id").fetch(10)
    assert [t[0] for t in rows] == [1, 3]


def test_stream_survivors_match_batch_lsh_verify(spark, tmp_path):
    """End-to-end equivalence with the batch family where band-only
    over-drops: stream survivors (two batches, verify on, bucketed +
    sig) equal the batch LSH-then-verify pipeline's survivors computed
    from the same signatures (candidate pairs from band collisions,
    edges kept at est >= 0.5, union-find components, keep-min)."""
    from entangledb_spark.operators._minhash_params import (
        LSH_BANDS,
        MINHASH_PERMS,
    )
    from entangledb_spark.operators.dedup import minhash_signature

    fixture = [(1, LONG), (2, FRESH), (3, FP_A), (4, NEAR), (5, FP_B)]
    batches = [fixture[:3], fixture[3:]]  # ingestion order = pk order

    # batch-family expectation from the SAME production signatures
    sigs = {
        r.doc_id: r.minhash
        for r in minhash_signature(
            spark.createDataFrame(fixture, "doc_id long, text string")
        ).collect()
    }
    rpb = MINHASH_PERMS // LSH_BANDS
    parent = {d: d for d, _ in fixture}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            collide = any(
                sigs[a][k * rpb : (k + 1) * rpb] == sigs[b][k * rpb : (k + 1) * rpb]
                for k in range(LSH_BANDS)
            )
            est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / MINHASH_PERMS
            if collide and est >= 0.5:
                parent[find(b)] = find(a)
    comps: dict[int, list[int]] = {}
    for d, _ in fixture:
        comps.setdefault(find(d), []).append(d)
    batch_survivors = {min(members) for members in comps.values()}

    e = Engine(spark, str(tmp_path / "eqdb"))
    e.execute("CREATE TABLE corpus (doc_id INTEGER PRIMARY KEY, body STRING)")
    e.execute(
        "CREATE TABLE corpus_bands (band STRING PRIMARY KEY, doc_id INTEGER, "
        "bucket INTEGER, sig STRING)"
    )
    for bid, rows in enumerate(batches):
        commit_near_dedup_batch(
            e.catalog, "corpus", "corpus_bands", "s1", _batch(spark, rows), bid
        )
    got, _ = e.execute("SELECT doc_id FROM corpus ORDER BY doc_id").fetch(100)
    assert {t[0] for t in got} == batch_survivors
    # the fixture exercises the interesting case: FP_B (5) survives
    assert 5 in batch_survivors and 4 not in batch_survivors
    # bucketed + verified: partitioning engaged and band PK held
    assert e.catalog.manifest()["tables"]["corpus_bands"].get("partition_by") == [
        "bucket"
    ]
    bands, _ = e.execute("SELECT band FROM corpus_bands").fetch(1000)
    assert len({t[0] for t in bands}) == len(bands)


def test_verify_redelivery_is_noop(spark, verified_engine):
    e = verified_engine
    v = commit_near_dedup_batch(
        e.catalog, "corpus", "corpus_bands", "s1", _batch(spark, [(1, FP_A)]), 0
    )
    assert v is not None
    assert (
        commit_near_dedup_batch(
            e.catalog, "corpus", "corpus_bands", "s1", _batch(spark, [(1, FP_A)]), 0
        )
        is None
    )
    assert e.catalog.current_version() == v["version"]


def test_missing_band_table_fails_loudly(spark, engine):
    with pytest.raises(ConflictError):
        commit_near_dedup_batch(
            engine.catalog, "corpus", "nope", "s1", _batch(spark, [(1, LONG)]), 0
        )


def test_null_in_not_null_text_column_is_rejected(spark, tmp_path):
    """The docs delta is checked like an INSERT: a NULL body in a NOT NULL
    text column fails the batch before anything is written."""
    from entangledb_spark.sources.constraints import ConstraintError

    e = Engine(spark, str(tmp_path / "nn"))
    e.execute("CREATE TABLE corpus (doc_id INTEGER PRIMARY KEY, body STRING NOT NULL)")
    e.execute("CREATE TABLE corpus_bands (band STRING PRIMARY KEY, doc_id INTEGER)")
    v0 = e.catalog.current_version()
    with pytest.raises(ConstraintError, match="NULL value not allowed for column body in table corpus"):
        _commit(e, spark, [(1, LONG), (2, None)], 0)
    assert e.catalog.current_version() == v0
    assert _docs(e) == [] and _bands(e) == []


OTHER = (
    "an entirely new revision discussing glacier mass balance models and "
    "the satellite altimetry campaigns that calibrate them across both "
    "polar ice sheets during the melt season window"
)
OTHER_NEAR = OTHER.replace("window", "period")  # one-token edit of OTHER


def test_changed_body_upsert_retracts_old_bands(spark, verified_engine):
    """Round-10 contract (verdict ask #2): redelivering an EXISTING pk
    with a CHANGED body upserts the doc AND retracts the old body's band
    keys in the same CAS commit — the old keys are gone, the new keys
    present, the band-PK invariant holds, no unrelated doc is dropped,
    and a future doc similar to the RETIRED body lands while one similar
    to the NEW body is dropped."""
    e = verified_engine

    def commit(rows, bid):
        return commit_near_dedup_batch(
            e.catalog, "corpus", "corpus_bands", "s1", _batch(spark, rows), bid
        )

    commit([(1, LONG), (2, FRESH)], 0)
    old_bands = {b for b, d in _bands(e) if d == 1}
    assert len(old_bands) == 4
    # redeliver pk 1 with a completely different body (new batch id)
    out = commit([(1, OTHER)], 1)
    assert out is not None and out["n_new"] == 1
    docs = dict(_docs(e))
    assert docs[1] == OTHER and docs[2] == FRESH  # upserted; 2 untouched
    bands_now = _bands(e)
    new_bands = {b for b, d in bands_now if d == 1}
    assert len(new_bands) == 4 and not (new_bands & old_bands)
    assert not (old_bands & {b for b, _ in bands_now})  # old keys GONE
    assert len({b for b, _ in bands_now}) == len(bands_now)  # band PK
    assert sum(1 for _, d in bands_now if d == 2) == 4  # unrelated intact
    # a near-dup of the RETIRED body now lands (stale keys can't drop it)
    out = commit([(9, NEAR)], 2)
    assert out["n_new"] == 1 and 9 in dict(_docs(e))
    # a near-dup of the NEW body is dropped against the new keys
    out = commit([(10, OTHER_NEAR)], 3)
    assert out["n_new"] == 0 and 10 not in dict(_docs(e))


def test_cross_doc_collision_with_just_retracted_row_survives(spark, verified_engine):
    """Round 11 (verdict ask #4): a batch doc colliding with ANOTHER
    batch doc's about-to-be-retracted old band rows must SURVIVE — the
    colliding content leaves the corpus in this very commit. Here pk 1
    is redelivered with a completely new body (retracting LONG's keys)
    while new doc 9 arrives as a near-dup of that departing LONG body,
    in the SAME batch."""
    e = verified_engine

    def commit(rows, bid):
        return commit_near_dedup_batch(
            e.catalog, "corpus", "corpus_bands", "s1", _batch(spark, rows), bid
        )

    commit([(1, LONG), (2, FRESH)], 0)
    out = commit([(1, OTHER), (9, NEAR)], 1)
    assert out is not None and out["n_new"] == 2, out
    docs = dict(_docs(e))
    assert docs == {1: OTHER, 2: FRESH, 9: NEAR}
    bands_now = _bands(e)
    # band stays a true PRIMARY KEY, and 9 holds its full key set (the
    # stored rows it collided with left with pk 1's retraction)
    assert len({b for b, _ in bands_now}) == len(bands_now)
    assert sum(1 for _, d in bands_now if d == 9) == 4


def test_collision_with_unretracted_row_of_dropped_holder_over_keeps(spark, verified_engine):
    """The documented residual corner of the round-11 exemption: when the
    would-be retractor is ITSELF dropped this batch (its new body is a
    true near-dup of other stored content), its old rows in fact stay —
    the exempted collider is over-KEPT (biased toward keeping content),
    and the band-PK invariant still holds because the kept doc's
    colliding keys are withheld from persistence."""
    e = verified_engine

    def commit(rows, bid):
        return commit_near_dedup_batch(
            e.catalog, "corpus", "corpus_bands", "s1", _batch(spark, rows), bid
        )

    commit([(1, LONG), (5, OTHER)], 0)
    # pk 1's new body near-dups STORED doc 5 -> the redelivery is dropped
    # (holder keeps LONG); doc 9 collides with pk 1's old rows but pk 1
    # is a batch pk -> exempt -> kept although LONG remains stored
    out = commit([(1, OTHER_NEAR), (9, NEAR)], 1)
    assert out is not None and out["n_new"] == 1, out
    docs = dict(_docs(e))
    assert docs == {1: LONG, 5: OTHER, 9: NEAR}
    bands_now = _bands(e)
    # invariant: pairwise-distinct band keys; 9's colliding keys withheld
    assert len({b for b, _ in bands_now}) == len(bands_now)
    assert sum(1 for _, d in bands_now if d == 1) == 4  # holder's keys stay
    assert sum(1 for _, d in bands_now if d == 9) < 4


def test_changed_body_same_batch_similar_revision_upserts(spark, verified_engine):
    """A redelivered pk whose new body is a NEAR-DUP of its own old body
    (the common small-edit revision) must UPSERT — with retraction on, a
    doc never collides with its own old band rows — while a distinct doc
    near the same content is still dropped."""
    e = verified_engine

    def commit(rows, bid):
        return commit_near_dedup_batch(
            e.catalog, "corpus", "corpus_bands", "s1", _batch(spark, rows), bid
        )

    commit([(1, LONG)], 0)
    out = commit([(1, NEAR)], 1)  # small revision of its own body
    assert out["n_new"] == 1
    assert dict(_docs(e))[1] == NEAR
    bands_now = _bands(e)
    assert {d for _, d in bands_now} == {1}
    assert len({b for b, _ in bands_now}) == len(bands_now)
    # pk-immutable legacy mode keeps the old behavior: self-collision
    # drops the redelivery, old row and keys stay
    out = commit_near_dedup_batch(
        e.catalog, "corpus", "corpus_bands", "s2",
        _batch(spark, [(1, LONG)]), 0,
    )
    out = commit_near_dedup_batch(
        e.catalog, "corpus", "corpus_bands", "s2",
        _batch(spark, [(1, NEAR)]), 1,
        retract_upserted_bands=False,
    )
    assert out["n_new"] == 0
