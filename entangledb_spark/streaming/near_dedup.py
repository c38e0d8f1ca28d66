"""Streaming corpus construction with cross-batch NEAR-dup closure.

corpus_dedup.py keeps the corpus closed under EXACT duplicates; this
module does the same for MinHash-LSH near-duplicates. The guarantee,
stated precisely: **no two STORED documents ever share an LSH band** —
a new doc is dropped when it band-collides with any document the corpus
actually HOLDS. A doc colliding only with previously DROPPED content
survives (its near-duplicate is not in the corpus, so storing it
violates nothing); dropped docs therefore contribute no band keys, and
the survivor set can depend on micro-batch boundaries in that one case
(within a single batch the chain-closed rule below drops the whole
collision chain — the distributable over-approximation).
Corpus-lifetime state is a catalog TABLE — of LSH BAND KEYS
(band_idx + hash of the band's signature slice, the exact banding q62's
batch operator uses) — maintained transactionally next to the document
table through the shared exactly-once CAS loop (ingest.cas_commit).

Drop policy (chain-closed keep-first, matching the batch family's
connected-components survivor election):

- within a batch, a doc is dropped iff ANY of its band buckets contains
  a lower-pk doc of the batch (chains collapse: if A beats B in one
  bucket and B beats C in another, C drops too — the transitive closure
  LSH dedup normally applies);
- across batches, a surviving doc is dropped iff ANY of its band keys is
  already in the band table (some earlier-ingested doc collided there).

The invariant these two rules maintain: persisted band keys are
pairwise DISJOINT across surviving docs — two survivors can never share
a bucket (both would have to be its minimum) and new survivors match no
persisted key — so ``band`` is a true PRIMARY KEY of the band table.

Precision — TWO-STAGE verify (round 9): declare a non-pk STRING ``sig``
column on the band table and every band row carries its doc's
serialized MinHash signature; a cross-batch band collision is then
CONFIRMED with signature-estimated Jaccard >= ``min_est_jaccard``
(default 0.5 — the exact operating point the batch family verifies at,
dedup.minhash_lsh_dedup) before dropping. This is the batch pipeline's
LSH-then-verify shape adapted to a stream that cannot re-read bodies:
the signature (16 longs, ~150 B serialized) is the retained evidence.
A FALSE-POSITIVE band collision (same band, low estimated Jaccard) now
keeps the document — and, to preserve the band-PK invariant, the
survivor's COLLIDING band keys are simply not persisted (the stored
doc already holds them). The precision loss this leaves behind is the
same class the module always had for dropped content: a future true
near-dup of the kept doc that collides ONLY on the unpersisted band is
checked against the OLD holder's signature instead — bounded, and
strictly better than band-only, which deleted a unique document
irrecoverably. Without a ``sig`` column the legacy band-only rule
applies unchanged. Docs too short to shingle (< SHINGLE_N word tokens)
emit NO band keys and always survive this layer — an empty signature
would otherwise collapse ALL short docs into one content class; exact
duplicates among them are corpus_dedup.py's job (compose both writers
on the same stream for full closure).

Changed-body redelivery (round 10): redelivering an EXISTING pk with
a CHANGED body UPSERTS the document and, in the same CAS commit,
RETRACTS the old body's band keys (a delete tombstone on the band
table, whose rows carry the doc pk) and inserts the new body's keys —
the band table never holds keys for content the corpus no longer
stores, so stale keys can never drop unrelated future docs. With
retraction on, a doc is also never dropped by ITS OWN old band rows
(the upsert replaces that content). The rejected-collision anti-join
likewise targets only band rows that REMAIN after the commit. Cost:
one column-pruned, bucket-UNPRUNED scan of the band table per batch
(old keys live in arbitrary buckets); sources that guarantee
pk-immutable bodies can pass ``retract_upserted_bands=False`` to keep
the legacy zero-extra-scan path, where a changed-body upsert leaves
the old keys behind (the pre-round-10 documented gap). Round 11 closed
the remaining precision caveat: a batch doc colliding with ANOTHER
batch doc's about-to-be-retracted old row is no longer dropped against
that departing content — stored rows held by any pk of the batch are
exempt from the drop decision (the comparison against the holder's NEW
content already happened within-batch). The one residual corner: when
the holding doc is ITSELF dropped this batch (so its old rows in fact
stay), the exemption over-KEEPS the collider — bounded, biased to
keeping unique-looking content, and the band-PK invariant still holds
(the kept doc's colliding key is withheld from persistence).

Band keys are parameter-bound: they are only comparable across runs
because MINHASH_PERMS / LSH_BANDS / the shingle hash are module
constants of operators/dedup.py — changing those constants invalidates
persisted band tables (rebuild them), exactly like changing a persistent
index's saved hash family.

100 TB shape: per-batch cost is O(batch signatures) + a key join that
reads only the band-table BUCKETS the batch hashes to (declare a non-pk
INTEGER ``bucket`` column and deltas are written PARTITIONED BY bucket,
read back with partition pruning — the corpus_dedup recipe with
pmod(xxhash64(band), 256) as the bucket, since band keys are not hex).
Historical document BODIES are never re-read.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from entangledb_spark.operators._minhash_params import (
    LSH_BANDS,
    MINHASH_PERMS,
    SHINGLE_N,
)
from entangledb_spark.operators.dedup import minhash_signature, word_tokens
from entangledb_spark.sources.catalog import ConflictError, SnapshotCatalog, typed_rows
from entangledb_spark.streaming.ingest import cas_commit, check_upserts

BAND_N_BUCKETS = 256


def band_bucket(band):
    """Partition bucket of a band key (uniform: xxhash64 of the key)."""
    return F.pmod(F.xxhash64(band), F.lit(BAND_N_BUCKETS)).cast("int")


def _band_keys(batch_df: DataFrame, pk: str, text_col: str) -> DataFrame:
    """(pk, band, sig) rows: LSH_BANDS string keys per doc through the
    REAL minhash_signature path (production xxhash64 base) — 'idx:hash'
    so a hash colliding across band positions never aliases. ``sig`` is
    the full serialized signature (comma-joined MINHASH_PERMS longs),
    repeated per band row: with LSH_BANDS=4 that is ~600 B/doc, the
    price of answering "how similar, really?" at collision time without
    a second table or a body re-read."""
    from entangledb_spark.operators.dedup import repartition_for_cpu

    rows_per_band = MINHASH_PERMS // LSH_BANDS
    shinglable = batch_df.select(
        pk, F.coalesce(F.col(text_col), F.lit("")).alias("text")
    ).filter(F.size(word_tokens(F.col("text"))) >= SHINGLE_N)
    # micro-batches often arrive as one or two file partitions; the
    # signature map is the CPU-bound step (guarded no-op at real widths)
    sig = minhash_signature(
        repartition_for_cpu(shinglable, batch_df.sparkSession)
    )
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
        lambda b: F.concat_ws(
            ":",
            b.cast("string"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col("minhash"), b * rows_per_band + 1, rows_per_band),
                        lambda v: v.cast("string"),
                    ),
                )
            ).cast("string"),
        ),
    )
    sig_str = F.concat_ws(
        ",", F.transform(F.col("minhash"), lambda v: v.cast("string"))
    )
    return sig.select(
        F.col(pk), F.explode(bands).alias("band"), sig_str.alias("sig")
    )


def _est_jaccard(sig_a, sig_b):
    """Signature-estimated Jaccard of two serialized signatures: the
    fraction of agreeing permutation minima — the standard MinHash
    estimator, identical to dedup.py's batch est_jaccard but over the
    persisted strings."""
    matches = F.size(
        F.filter(
            F.zip_with(
                F.split(sig_a, ","), F.split(sig_b, ","), lambda x, y: x == y
            ),
            lambda v: v,
        )
    )
    return matches / F.lit(float(MINHASH_PERMS))


def commit_near_dedup_batch(
    catalog: SnapshotCatalog,
    docs_table: str,
    band_table: str,
    stream_id: str,
    batch_df: DataFrame,
    batch_id: int,
    text_col: str | None = None,
    min_est_jaccard: float = 0.5,
    retract_upserted_bands: bool = True,
) -> Optional[dict]:
    """Commit one micro-batch with corpus-lifetime NEAR-dup closure,
    exactly once. Returns {"version", "n_new"} or None on redelivery.

    ``band_table`` must exist with a STRING primary key named ``band``
    and a second column matching ``docs_table``'s primary key; add a
    non-pk INTEGER ``bucket`` column for partition-pruned key reads,
    and a non-pk STRING ``sig`` column to enable TWO-STAGE verification
    of cross-batch collisions at ``min_est_jaccard`` (module docstring;
    tests/test_near_dedup_stream.py has the CREATE TABLEs).
    ``retract_upserted_bands`` (default True) implements the
    changed-body redelivery contract — see the module docstring."""
    checked = catalog.current_version()
    m = catalog.manifest(checked)
    if batch_id <= m.get("streams", {}).get(stream_id, -1):
        return None
    for name in (docs_table, band_table):
        if m["tables"].get(name) is None:
            raise ConflictError(f"dedup ingest table {name} does not exist")
    pk = catalog._pk_of(m["tables"][docs_table])
    doc_cols = [c["name"] for c in m["tables"][docs_table]["columns"]]
    if text_col is None:
        text_col = next(
            (
                c["name"]
                for c in m["tables"][docs_table]["columns"]
                if not c["primary_key"] and c["datatype"] == "STRING"
            ),
            None,
        )
        if text_col is None:
            raise ConflictError(
                f"dedup ingest table {docs_table} has no non-pk STRING column "
                f"to dedup on — pass text_col explicitly"
            )
    # DETERMINISTIC row per pk (min over the full-row struct ordering):
    # band keys and the persisted doc body must come from the SAME
    # duplicate row even though they are evaluated in separate jobs — a
    # dropDuplicates([pk]) picks an arbitrary row per action and could
    # persist one row's body with another row's band keys (the exact
    # module's min_by lesson, corpus_dedup._dedup_within_batch)
    batch = (
        typed_rows(docs_table, batch_df, m["tables"][docs_table]["columns"])
        .groupBy(pk)
        .agg(F.min(F.struct(*doc_cols)).alias("__row"))
        .select(*[F.col(f"__row.{c}").alias(c) for c in doc_cols])
    )
    # the group-by makes the batch PK-unique, and it is checked like an
    # INSERT (a NULL PK is rejected). The docs delta is a subset of the
    # batch, so it is unique on the PK; the band delta is unique on
    # ``band``: a band key names its band index, and two survivors never
    # share a bucket (module docstring)
    check_upserts(catalog, m, docs_table, batch)
    # the signature pipeline is the CPU-bound step and three actions read
    # it (bucket collect, docs write, band write — times CAS retries):
    # persist once per commit, release before returning
    keys = _band_keys(batch, pk, text_col).persist()
    try:
        # within-batch chain-closed keep-first: drop every doc beaten (pk
        # not minimal) in ANY of its buckets — min-per-bucket is map-side
        # combinable, and the beaten set is small (collisions only)
        winners = keys.groupBy("band").agg(F.min(pk).alias("__win"))
        beaten = (
            keys.join(winners, "band")
            .filter(F.col(pk) != F.col("__win"))
            .select(pk)
            .distinct()
        )
        batch_docs = batch.join(beaten, pk, "left_anti")
        surv_keys = keys.join(batch_docs.select(pk), pk, "left_semi")
        return _commit_with_keys(
            catalog, docs_table, band_table, stream_id, batch_id,
            pk, batch, checked, batch_docs, surv_keys, min_est_jaccard,
            retract_upserted_bands,
        )
    finally:
        keys.unpersist()


def _commit_with_keys(
    catalog, docs_table, band_table, stream_id, batch_id, pk, batch, checked,
    batch_docs, surv_keys, min_est_jaccard, retract_upserted_bands,
):

    def attempt(m):
        docs_meta, band_meta = m["tables"][docs_table], m["tables"][band_table]
        band_col_names = [c["name"] for c in band_meta["columns"]]
        bucketed = any(
            c["name"] == "bucket" and not c["primary_key"]
            for c in band_meta["columns"]
        )
        verified = any(
            c["name"] == "sig" and not c["primary_key"]
            for c in band_meta["columns"]
        )
        read_cols = (["band", "sig"] if verified else ["band"]) + [pk]
        if bucketed:
            band_meta["partition_by"] = ["bucket"]
            batch_buckets = [
                r["b"]
                for r in surv_keys.select(band_bucket(F.col("band")).alias("b"))
                .distinct()
                .collect()
            ]
            existing = catalog.read_df_pruned(
                m, band_table, F.col("bucket").isin(batch_buckets)
            ).select(*read_cols)
        else:
            existing = catalog.read_df(m, band_table).select(*read_cols)
        stored = existing.withColumnRenamed(pk, "_stored_pk")
        if verified:
            stored = stored.withColumnRenamed("sig", "_stored_sig")
        cand = surv_keys.join(stored, "band")
        if retract_upserted_bands:
            # a doc never collides with a band row held by ANY pk of this
            # batch — its own old rows (that content is being replaced by
            # this very commit) or ANOTHER batch doc's old rows (round 11:
            # if that doc survives, its old rows leave in this same
            # commit, so dropping against them dropped a doc against
            # content the corpus no longer stores; the comparison against
            # the holder's NEW content already happened within-batch). In
            # the rare case the holder is itself dropped, its old rows
            # stay stored and the exemption over-keeps — bounded, and the
            # band-PK invariant still holds because the kept doc's
            # colliding key is then withheld via reject_target below.
            # (Without retraction the self-collision drop is the
            # idempotent redelivery skip of the pk-immutable contract —
            # keep it there.)
            batch_pks = batch_docs.select(F.col(pk).alias("_batch_pk"))
            cand = cand.join(
                F.broadcast(batch_pks),
                F.col("_stored_pk") == F.col("_batch_pk"),
                "left_anti",
            )
        if verified:
            # TWO-STAGE: a band collision is only a CANDIDATE; drop iff
            # the stored holder's signature estimates Jaccard >= the
            # threshold (the batch family's LSH-then-verify shape).
            # Collisions are rare by construction, so the pair relation
            # is tiny; the estimator is a narrow array expression.
            hit_docs = (
                cand.withColumnRenamed("sig", "_new_sig")
                .filter(
                    _est_jaccard(F.col("_new_sig"), F.col("_stored_sig"))
                    >= F.lit(min_est_jaccard)
                )
                .select(pk)
                .distinct()
            )
        else:
            # band-only legacy rule: ANY persisted key drops the doc
            hit_docs = cand.select(pk).distinct()
        survivors = batch_docs.join(hit_docs, pk, "left_anti")
        docs = catalog.write_delta(docs_meta, docs_table, upserts=survivors)
        # band rows come from the files just written — one source of truth
        # _read_path takes the COLUMN LIST (it maps stored->logical names
        # and fills ALTER-added columns itself)
        written = catalog._read_path(docs["upserts"], docs_meta["columns"])
        band_rows = written.select(pk).join(surv_keys, pk)
        old_rows = None
        reject_target = stored
        if retract_upserted_bands:
            # the changed-body contract: every UPSERTED pk's old band
            # rows leave in this same commit (delete tombstones on the
            # band pk). Bucket-UNPRUNED read: old keys live anywhere.
            upserted = written.select(F.col(pk).alias("_w"))
            old_rows = (
                catalog.read_df(m, band_table)
                .select("band", F.col(pk).alias("_w"))
                .join(upserted, "_w", "left_semi")
                .select("band")
            )
            # rejected-collision keys must stay out only of buckets that
            # REMAIN held after this commit
            reject_target = stored.join(
                upserted, F.col("_stored_pk") == F.col("_w"), "left_anti"
            )
            if old_rows.isEmpty():
                old_rows = None
        if verified:
            # a verification-rejected collision keeps the doc but must
            # NOT persist the colliding key: ``band`` stays a true
            # PRIMARY KEY (the stored doc already holds that bucket)
            band_rows = band_rows.join(
                reject_target.select("band"), "band", "left_anti"
            )
        if bucketed:
            band_rows = band_rows.withColumn("bucket", band_bucket(F.col("band")))
        bands = catalog.write_delta(
            band_meta, band_table, upserts=band_rows.select(*band_col_names), deletes=old_rows
        )
        catalog.append_delta(m, docs_table, docs)
        catalog.append_delta(m, band_table, bands)
        return docs["upserts"]

    out = cas_commit(
        catalog, stream_id, batch_id, (docs_table, band_table), batch, checked, attempt
    )
    if out is None:
        return None
    return {"version": out[0], "n_new": catalog.count_rows(out[1])}


def stream_near_dedup_writer(
    catalog: SnapshotCatalog,
    docs_table: str,
    band_table: str,
    stream_df: DataFrame,
    stream_id: str,
    checkpoint_dir: str,
    text_col: str | None = None,
    min_est_jaccard: float = 0.5,
    retract_upserted_bands: bool = True,
):
    """``writeStream`` builder for near-dup ingest; caller picks the
    trigger:

        q = stream_near_dedup_writer(cat, "corpus", "corpus_bands", src,
                                     "s1", ckpt)
        q.trigger(availableNow=True).start().awaitTermination()
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        commit_near_dedup_batch(
            catalog, docs_table, band_table, stream_id, batch_df, batch_id,
            text_col, min_est_jaccard, retract_upserted_bands,
        )

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
