"""Exactly-once streaming ingest into the snapshot catalog.

Bridges Structured Streaming and the engine's merge-on-read storage: a
``foreachBatch`` sink commits each micro-batch as an upsert delta plus a
stream-position update in ONE atomic manifest CAS. This is the standard
Delta-Lake-style idempotent-sink recipe (txn appId/version), built on the
same optimistic-concurrency publish every other writer uses.

A micro-batch is typed and checked like an INSERT: its columns take the
table's stored types under the write typing of INSERT … SELECT
(``catalog.typed_rows``; a ``double`` or ``string`` for an INTEGER column
is an error, never a cast), and ``SnapshotCatalog.check_delta`` checks it
as an upsert by primary key — NOT NULL, string length, PRIMARY KEY and
UNIQUE, FOREIGN KEY — before any file is written. The catalog writes it
(``write_delta``) in the table's stored layout: physical column names
after RENAME COLUMN, and the ``partition_by`` directories.

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
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame

from entangledb_spark.sources.catalog import ConflictError, SnapshotCatalog, typed_rows
from entangledb_spark.sources.constraints import Delta

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
    checked = catalog.current_version()
    m = catalog.manifest(checked)
    if batch_id <= m.get("streams", {}).get(stream_id, -1):
        return None
    meta = m["tables"].get(table_name)
    if meta is None:
        raise ConflictError(f"stream target table {table_name} does not exist")
    # typing and constraint errors surface here, before any file is written
    batch = typed_rows(table_name, batch_df, meta["columns"])
    check_upserts(catalog, m, table_name, batch)
    # the files are written once; a retry only appends the same entry
    delta = catalog.write_delta(meta, table_name, upserts=batch)
    out = cas_commit(
        catalog, stream_id, batch_id, (table_name,), batch, checked,
        lambda m: catalog.append_delta(m, table_name, delta),
    )
    return None if out is None else out[0]


def check_upserts(catalog: SnapshotCatalog, manifest: dict, name: str, rows: DataFrame) -> None:
    """Check typed ``rows`` (``typed_rows``), upserted into table ``name``
    by primary key, with the SQL path's ``check_delta`` against
    ``manifest``: the rows of the view whose key they do not write stay.
    Rows must be unique and non-null on the PK — the merge-on-read resolve
    keeps every row of a delta no later write touches."""
    pk = catalog._pk_of(manifest["tables"][name])
    catalog.check_delta(
        manifest,
        name,
        Delta(
            upserts=rows,
            # read only by a check that needs it: a non-PK UNIQUE column or
            # a self-referencing FOREIGN KEY
            kept=lambda: catalog.read_df(manifest, name).join(rows.select(pk), pk, "left_anti"),
            upserting=True,
        ),
    )


def cas_commit(
    catalog: SnapshotCatalog,
    stream_id: str,
    batch_id: int,
    tables: tuple,
    batch: DataFrame,
    checked: int,
    attempt: Callable[[dict], Any],
) -> Optional[tuple]:
    """Publish micro-batch ``batch_id`` of stream ``stream_id`` exactly
    once; the one CAS loop of every streaming writer. ``batch`` holds the
    typed rows the stream upserts into ``tables[0]``, checked
    (``check_upserts``) against version ``checked``. Each round pins a
    version and its manifest ``m``, returns None if the stream already
    recorded the batch (redelivery, or another attempt of it won), fails
    if one of ``tables`` is gone, checks ``batch`` again if the version is
    not ``checked`` (a writer landed since: its rows may clash), lets
    ``attempt(m)`` stage the batch's deltas into ``m`` (appending
    pre-written files, or re-deciding against ``m`` and writing new ones),
    records the stream position and publishes with compare-and-swap.
    Returns (published version, ``attempt``'s result).

    Bounded: each round is cheap, but an UNBOUNDED loop under sustained
    contention would spin a micro-batch forever with nothing surfaced.
    Exponential backoff with full jitter (capped) de-correlates contending
    writers; after MAX_CAS_ATTEMPTS the stream fails LOUDLY with
    ConflictError — foreachBatch propagates it, the query dies, and the
    replayed batch is still exactly-once on restart (its data files are
    unreferenced orphans reclaimed by vacuum). After a durable publish
    every table's chain is compacted best-effort (``maybe_compact``)."""
    for i in range(MAX_CAS_ATTEMPTS):
        v0 = catalog.current_version()
        m = catalog.manifest(v0)
        if batch_id <= m.get("streams", {}).get(stream_id, -1):
            return None
        for name in tables:
            if name not in m["tables"]:  # dropped between rounds
                raise ConflictError(f"stream target table {name} does not exist")
        if v0 != checked:
            check_upserts(catalog, m, tables[0], batch)
            checked = v0
        out = attempt(m)
        m.setdefault("streams", {})[stream_id] = batch_id
        try:
            v = catalog.publish(m, expected_version=v0)
        except ConflictError:
            # full-jitter exponential backoff: U(0, base·2^i), capped
            time.sleep(random.random() * min(0.01 * (2**i), 1.0))
            continue
        for name in tables:
            maybe_compact(catalog, name)
        return v, out
    raise ConflictError(
        f"stream {stream_id} batch {batch_id}: lost the manifest CAS "
        f"{MAX_CAS_ATTEMPTS} times in a row — giving up so the stream "
        "fails loudly instead of spinning (safe to restart: the batch "
        "will be replayed and committed exactly once)"
    )


def maybe_compact(catalog: SnapshotCatalog, table_name: str) -> None:
    """Best-effort post-publish compaction (``cas_commit``): runs as its
    OWN CAS after the batch is durable — inside a retry loop a lost CAS
    would discard a full O(table) rewrite and redo it every iteration
    (conflict storm = N full-table rewrites for one micro-batch). A lost
    compaction CAS is simply skipped: the delta chain is still bounded
    because whichever writer lands next re-checks the same threshold."""
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
