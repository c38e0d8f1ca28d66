"""Streaming corpus construction with cross-batch EXACT dedup.

``dedup_stream`` (streaming/events.py) deduplicates within a watermark
window — right for replayed event ids, useless for building a training
corpus where a document seen TODAY must be dropped if any batch EVER
ingested the same content. This module keeps corpus-lifetime state the
scalable way: not in streaming state (unbounded), but as a catalog
TABLE of content fingerprints maintained transactionally next to the
document table.

Protocol (per micro-batch, OCC read-modify-write):

1. fingerprint each incoming doc (md5 over normalized text — the same
   content key as dedup.exact_dedup) and keep the lowest-pk row per
   fingerprint WITHIN the batch;
2. read the fingerprint table AT THE MANIFEST VERSION the commit will
   CAS against, anti-join the batch against it (new content only);
3. write the surviving docs as an upsert delta, derive their (fp, pk)
   rows FROM THE WRITTEN FILES (one compute, no drift between the two
   tables), write those as a delta on the fingerprint table;
4. publish doc delta + fingerprint delta + stream position in ONE
   manifest CAS.

Why it is correct under concurrency: the dedup decision is only valid
against the manifest version it read — so losing the CAS re-runs the
anti-join against the NEW version (a concurrent writer may have landed
the same content first) and rewrites the deltas. Losers never publish;
orphaned attempt files are unreferenced and vacuumed. Redelivered
batches (crash after commit, before checkpoint ack) see their position
already recorded and no-op — the exactly-once recipe of
streaming/ingest.py, extended from append-only to read-modify-write.

100 TB shape: the anti-join touches the FINGERPRINT table (a ~50 B/doc
relation with a uniform md5 key — broadcastable for small corpora,
hash-partitioned equi-join beyond), never the historical document
bodies; per-batch cost is O(batch + fingerprints), and the corpus
itself is written once and only grows by genuinely new content.

Partition-pruned fingerprint reads: declare an extra non-pk INTEGER
column named ``bucket`` on the fp table and this module maintains it as
the fp's leading-hex-byte bucket (0..255), writes every snapshot/delta
PARTITIONED BY bucket (SnapshotCatalog partition_by), and reads back
only the buckets the batch's fingerprints hash to
(catalog.read_df_pruned — partition filters reach the parquet source).
md5 buckets are uniform, so a batch touching B distinct buckets reads
~B/256 of the table instead of all of it — the regime that matters is
small/steady batches against a corpus-lifetime fp table. Without the
column the table stays unpartitioned (legacy full-read behavior).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from pyspark.sql import Column

from entangledb_spark.operators.text import fingerprint
from entangledb_spark.sources.catalog import ConflictError, SnapshotCatalog, typed_rows
from entangledb_spark.streaming.ingest import cas_commit, check_upserts

FP_N_BUCKETS = 256


def fp_bucket(fp: Column) -> Column:
    """Partition bucket of a fingerprint: its leading hex byte (0..255).
    Deterministic, layout-stable, uniform for md5 keys."""
    return F.conv(F.substring(fp, 1, 2), 16, 10).cast("int")


def _dedup_within_batch(batch_df: DataFrame, pk: str, text_col: str) -> DataFrame:
    """Lowest-pk row per content fingerprint inside one micro-batch —
    min_by aggregation (map-side combinable), no window sort.

    NULL text gets a sentinel fingerprint instead of NULL: a NULL fp
    would compare null in the cross-batch anti-join (always surviving —
    every batch would re-ingest its null-text docs forever) while the
    within-batch groupBy treats NULLs as equal; the sentinel makes both
    stages agree that all null-text docs are one content class."""
    cols = batch_df.columns
    fp = F.coalesce(fingerprint(F.col(text_col)), F.lit("__fp_null_text__"))
    return (
        batch_df.withColumn("__fp", fp)
        .groupBy("__fp")
        .agg(F.min_by(F.struct(*cols), F.col(pk)).alias("__row"))
        .select("__fp", *[F.col(f"__row.{c}").alias(c) for c in cols])
    )


def commit_dedup_batch(
    catalog: SnapshotCatalog,
    docs_table: str,
    fp_table: str,
    stream_id: str,
    batch_df: DataFrame,
    batch_id: int,
    text_col: str | None = None,
) -> Optional[dict]:
    """Commit one micro-batch with corpus-lifetime exact dedup, exactly
    once. Returns {"version", "n_new"} for a committed batch, or None
    for a redelivery no-op.

    ``fp_table`` must exist with a STRING primary key named ``fp`` and a
    second column matching ``docs_table``'s primary key (see
    tests/test_corpus_dedup_stream.py for the two CREATE TABLEs).
    ``text_col`` defaults to the docs table's first non-pk STRING column
    — the content column dedup keys on.
    """
    checked = catalog.current_version()
    m = catalog.manifest(checked)
    if batch_id <= m.get("streams", {}).get(stream_id, -1):
        return None
    for name in (docs_table, fp_table):
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
    # the whole batch is checked like an INSERT, rows the dedup drops too.
    # Unique and non-null docs keep the fp delta unique as well: one row
    # per written doc, with the fp the within-batch dedup made unique
    # (NULL text maps to a sentinel fp)
    batch = typed_rows(docs_table, batch_df, m["tables"][docs_table]["columns"])
    check_upserts(catalog, m, docs_table, batch)
    deduped = _dedup_within_batch(batch, pk, text_col)

    # The write lives INSIDE the retry loop (unlike append-only ingest):
    # the survivor set depends on the fingerprint state the CAS protects,
    # so a lost CAS invalidates the written files, not just the pointer.
    # Each attempt costs O(batch); abandoned files are vacuum-reclaimed.
    def attempt(m):
        docs_meta, fp_meta = m["tables"][docs_table], m["tables"][fp_table]
        bucketed = any(
            c["name"] == "bucket" and not c["primary_key"]
            for c in fp_meta["columns"]
        )
        if bucketed:
            fp_meta["partition_by"] = ["bucket"]
            # only the buckets this batch's fingerprints hash to are read
            # — the partition filter reaches the parquet source via
            # read_df_pruned (bucket is pk-functional: bucket = f(fp))
            batch_buckets = [
                r["b"]
                for r in deduped.select(fp_bucket(F.col("__fp")).alias("b"))
                .distinct()
                .collect()
            ]
            existing = catalog.read_df_pruned(
                m, fp_table, F.col("bucket").isin(batch_buckets)
            ).select("fp")
        else:
            existing = catalog.read_df(m, fp_table).select("fp")
        survivors = deduped.join(
            existing, deduped["__fp"] == existing["fp"], "left_anti"
        ).select(*doc_cols, "__fp")
        docs = catalog.write_delta(docs_meta, docs_table, upserts=survivors.select(*doc_cols))
        # (fp, pk) rows come from the files just written, joined back to
        # the deduped batch for the fingerprint — one source of truth
        # _read_path takes the COLUMN LIST (it maps stored->logical names
        # and fills ALTER-added columns itself)
        written = catalog._read_path(docs["upserts"], docs_meta["columns"])
        fp_cols = [c["name"] for c in fp_meta["columns"]]
        fp_rows = (
            written.select(pk)
            .join(deduped.select("__fp", pk), pk)
            .select(F.col("__fp").alias("fp"), F.col(pk))
        )
        if bucketed:
            fp_rows = fp_rows.withColumn("bucket", fp_bucket(F.col("fp")))
        fps = catalog.write_delta(fp_meta, fp_table, upserts=fp_rows.select(*fp_cols))
        catalog.append_delta(m, docs_table, docs)
        catalog.append_delta(m, fp_table, fps)
        return docs["upserts"]

    out = cas_commit(
        catalog, stream_id, batch_id, (docs_table, fp_table), batch, checked, attempt
    )
    if out is None:
        return None
    return {"version": out[0], "n_new": catalog.count_rows(out[1])}


def stream_dedup_writer(
    catalog: SnapshotCatalog,
    docs_table: str,
    fp_table: str,
    stream_df: DataFrame,
    stream_id: str,
    checkpoint_dir: str,
    text_col: str | None = None,
):
    """``writeStream`` builder for dedup ingest; caller picks the trigger:

        q = stream_dedup_writer(cat, "corpus", "corpus_fp", src, "s1", ckpt)
        q.trigger(availableNow=True).start().awaitTermination()
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        commit_dedup_batch(
            catalog, docs_table, fp_table, stream_id, batch_df, batch_id, text_col
        )

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
