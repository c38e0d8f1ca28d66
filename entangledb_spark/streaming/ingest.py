"""Exactly-once streaming ingest into the snapshot catalog.

Bridges Structured Streaming and the engine's merge-on-read storage: a
``foreachBatch`` sink commits each micro-batch as an upsert delta plus a
stream-position update in ONE atomic manifest CAS. This is the standard
Delta-Lake-style idempotent-sink recipe (txn appId/version), built on the
same optimistic-concurrency publish every other writer uses.

Why exactly-once holds:
- foreachBatch guarantees at-least-once batch delivery with a stable,
  monotonically increasing ``batch_id`` per checkpoint (replays reuse the
  SAME id — Structured Streaming's replayable-source contract).
- The manifest stores ``streams[stream_id] = last committed batch_id``.
  Batch data and position move together in one CAS, so a batch is
  visible iff its position is recorded.
- A redelivered batch (crash after commit, before checkpoint ack) sees
  ``batch_id <= position`` and returns without writing — duplicates are
  impossible, no matter how many times the batch is replayed.
- A concurrent writer (another stream, a SQL session) losing the CAS just
  re-reads and retries; losers never publish partial state. Orphaned
  snapshot files from abandoned attempts are invisible (unreferenced) and
  reclaimed by vacuum.

At cluster scale this is the metastore-pointer protocol: micro-batch data
lands as immutable parquet (distributed write, O(batch) not O(table));
only the manifest pointer contends, and content never re-runs on retry.
"""

from __future__ import annotations

import random
import time
from typing import Optional

from pyspark.sql import DataFrame

from entangledb_spark.sources.catalog import CatalogError, ConflictError, SnapshotCatalog

# CAS publish attempts per micro-batch before failing the stream loudly.
# 50 attempts ≈ tens of seconds of capped-backoff contention — far beyond
# any sane writer mix; hitting it means something is genuinely wedged.
MAX_CAS_ATTEMPTS = 50


def commit_stream_batch(
    catalog: SnapshotCatalog,
    table_name: str,
    stream_id: str,
    batch_df: DataFrame,
    batch_id: int,
) -> Optional[int]:
    """Commit one micro-batch as an upsert delta, exactly once.

    Returns the published catalog version, or None when the batch was
    already committed (redelivery no-op). Safe to call concurrently with
    other catalog writers — commit-time CAS with re-read-and-retry.
    """
    # cheap pre-check: a redelivered batch never rewrites its data files
    m = catalog.manifest()
    if batch_id <= m.get("streams", {}).get(stream_id, -1):
        return None
    meta = m["tables"].get(table_name)
    if meta is None:
        raise ConflictError(f"ingest target table {table_name} does not exist")
    # align to the table schema (order + names); analyzer and key errors
    # surface here, before any files are written
    cols = [c["name"] for c in meta["columns"]]
    batch_df = batch_df.select(*cols)
    check_batch_keys(batch_df, catalog._pk_of(meta))
    rel = catalog.write_snapshot(table_name, batch_df)
    delta = {"upserts": rel}
    # Bounded CAS retry: each attempt is cheap (manifest re-read + one
    # publish), but an UNBOUNDED loop under sustained writer contention
    # would spin a micro-batch forever and stall the stream with nothing
    # surfaced. Exponential backoff with full jitter (capped) de-correlates
    # contending writers; after MAX_CAS_ATTEMPTS the stream fails LOUDLY
    # with ConflictError — foreachBatch propagates it, the query dies, and
    # the replayed batch is still exactly-once on restart (its data files
    # are unreferenced orphans reclaimed by vacuum).
    for attempt in range(MAX_CAS_ATTEMPTS):
        v0 = catalog.current_version()
        m = catalog.manifest(v0)
        if batch_id <= m.get("streams", {}).get(stream_id, -1):
            return None  # lost to another attempt of this same batch
        meta = m["tables"].get(table_name)
        if meta is None:  # table dropped between retries
            raise ConflictError(f"ingest target table {table_name} does not exist")
        meta.setdefault("deltas", []).append(delta)
        m.setdefault("streams", {})[stream_id] = batch_id
        try:
            v = catalog.publish(m, expected_version=v0)
            break
        except ConflictError:
            # full-jitter exponential backoff: U(0, base·2^attempt), capped
            time.sleep(random.random() * min(0.01 * (2**attempt), 1.0))
    else:
        raise ConflictError(
            f"stream {stream_id} batch {batch_id}: lost the manifest CAS "
            f"{MAX_CAS_ATTEMPTS} times in a row — giving up so the stream "
            "fails loudly instead of spinning (safe to restart: the batch "
            "will be replayed and committed exactly once)"
        )
    # Compaction runs AFTER the batch is durably published (see
    # maybe_compact for why it must not sit inside the retry loop).
    maybe_compact(catalog, table_name)
    return v


def check_batch_keys(batch_df: DataFrame, pk: str) -> None:
    """Reject a micro-batch holding a NULL or a duplicate primary key
    with a CatalogError. A delta's upserts must be unique and non-null on
    the PK — the merge-on-read resolve keeps every row of a delta no later
    write touches, so two rows with one PK would both be read back. One
    aggregate over the batch; run it before writing any file."""
    from pyspark.sql import functions as F

    bad = (
        batch_df.groupBy(pk)
        .count()
        .filter(F.col(pk).isNull() | (F.col("count") > 1))
        .take(1)
    )
    if bad:
        key, n = bad[0]
        if key is None:
            raise CatalogError(f"micro-batch has a NULL primary key {pk}")
        raise CatalogError(f"micro-batch has {n} rows with primary key {pk} = {key!r}")


def maybe_compact(catalog: SnapshotCatalog, table_name: str) -> None:
    """Best-effort post-publish compaction, shared by the streaming
    commit paths (ingest + corpus_dedup): runs as its OWN CAS after the
    batch is durable — inside a retry loop a lost CAS would discard a
    full O(table) rewrite and redo it every iteration (conflict storm =
    N full-table rewrites for one micro-batch). A lost compaction CAS is
    simply skipped: the delta chain is still bounded because whichever
    writer lands next re-checks the same threshold."""
    v1 = catalog.current_version()
    m1 = catalog.manifest(v1)
    meta1 = m1["tables"].get(table_name)
    if meta1 is not None and catalog.chain_full(meta1):
        catalog.compact(m1, table_name)
        try:
            catalog.publish(m1, expected_version=v1)
        except ConflictError:
            pass  # someone else won; they (or the next writer) compact


def stream_upsert_writer(
    catalog: SnapshotCatalog,
    table_name: str,
    stream_df: DataFrame,
    stream_id: str,
    checkpoint_dir: str,
):
    """``writeStream`` builder for exactly-once ingest into a catalog
    table. Caller picks the trigger and calls ``.start()``:

        q = stream_upsert_writer(cat, "events_tbl", src, "s1", ckpt)
        q.trigger(availableNow=True).start().awaitTermination()
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        commit_stream_batch(catalog, table_name, stream_id, batch_df, batch_id)

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
