"""Persistent inverted text index: build once, BM25-probe many.

The inline retrieval path (retrieval.bm25_scores) scans the corpus per
query — right for a one-shot ranking job, wrong for the repeated-probe
workloads retrieval serves in a curation pipeline (decontaminating
against hundreds of benchmark queries, auditing dozens of probe
queries). This module is the text twin of ann_index.py: the corpus is
tokenized ONCE into a posting-list table partitioned by a token-hash
bucket, and a probe touches only its query terms' bucket directories —
partition pruning at the source, before any I/O. Probe cost is
O(sum of the query terms' posting lists), independent of corpus size.

Layout under ``index_dir``:

- ``postings/`` parquet PARTITIONED BY (batch, bucket) — (token, doc_id,
  tf, dl): document length is DENORMALIZED into every posting (+8
  bytes/row) so scoring never joins a doc-stats table — the probe plan
  is scan → tiny-map join → one aggregation → top-k. The batch level
  exists for idempotent appends (see build_text_index); probes filter
  the bucket level only, and compact_index folds batches back into one.
- ``lexicon/``  parquet PARTITIONED BY bucket — (token, df): document
  frequencies, read pruned at probe time to price each term's idf.
- ``stats/``    one row — (n_docs, sum_dl): the corpus-level BM25
  constants. n_docs counts ALL documents (token-less ones too), matching
  retrieval.bm25_stats.
- ``_index_meta.json`` — n_buckets + token_re are PERSISTED and
  authoritative at probe/append time (a probe hashed with a different
  bucket count would silently read the wrong directories; appends with
  mismatched parameters are rejected outright — the ann_index contract).
  The meta also carries the ACTIVE postings directory pointer
  (``postings_dir``; compact_index commits a rewrite by atomically
  swapping this file) and the ``folded`` batch ledger that keeps
  streaming replays exactly-once across compactions.

The bucket hash is crc32(token) % n_buckets — computed by F.crc32 on
the build side and zlib.crc32 on the (driver-side) probe term list;
byte-identical (the langid.py precedent). Token buckets are md5-class
uniform, so no bucket concentrates Zipf mass — 'the' is one hot TOKEN
inside its bucket, and probes prune by bucket then filter by token, so
a probe for a rare term never pays for a hot neighbor's postings beyond
the shared directory scan.

Append-only maintenance: new documents tokenize to the same
deterministic buckets and land as new files in existing partitions.
``refresh_stats`` (one aggregation pass over postings) rebuilds
lexicon/stats — run by default after every build/append, deferrable
with ``refresh=False`` when batching many appends (df/avgdl drift
until the next refresh is the standard serving trade).

Differences from the inline path, stated: an inverted index only sees
documents containing >= 1 query term, so probe results exclude
zero-score documents (the inline top-k would surface them only when k
exceeds the matching-doc count). Scoring sums per-term contributions in
aggregation order rather than the inline path's fixed fold order — a
~1e-16 float difference; route equivalence is asserted at the r4 grain
in tests (the measured flip margins dwarf it).
"""

from __future__ import annotations

import os
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entangledb_spark.operators.retrieval import (
    BM25_B,
    BM25_K1,
    BM25_TOKEN_RE,
    bm25_idf,
    normalize_terms,
)

from entangledb_spark.operators.index_commit import (
    META_FILE as _META_FILE,
)
from entangledb_spark.operators.index_commit import (
    active_dir,
    append_precheck,
    compact_commit,
    drop_replaced_batch,
    read_meta,
    resolve_batch,
    staging_dir,
    write_meta,
)
from entangledb_spark.session import local_df

N_TOKEN_BUCKETS = 64

# Commit protocol / ledger primitives live in index_commit.py — ONE
# implementation shared with the vector indexes (ann_index.py) so the
# three indexes cannot drift on atomicity or exactly-once semantics.
_write_meta = write_meta


def _read_meta(index_dir: str) -> dict:
    return read_meta(index_dir, "text")


def _posts_path(index_dir: str, meta: dict) -> str:
    """The ACTIVE postings directory (meta pointer — index_commit
    contract: compact_index swaps the whole postings layout with one
    atomic meta replace instead of two non-atomic directory renames)."""
    return active_dir(index_dir, meta, "postings_dir", "postings")


def _term_bucket(term: str, n_buckets: int) -> int:
    """Driver-side bucket of a probe term — must equal F.crc32's value on
    the build side (zlib.crc32 == F.crc32 on UTF-8 bytes)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def build_text_index(
    docs: DataFrame,
    index_dir: str,
    n_buckets: int = N_TOKEN_BUCKETS,
    token_re: str = BM25_TOKEN_RE,
    mode: str = "overwrite",
    text_col: str = "text",
    id_col: str = "doc_id",
    refresh: bool = True,
    batch: str | None = None,
) -> None:
    """One corpus pass builds postings; lexicon/stats reduce from them.

    Shape: dl = size(tokens) computed NARROWLY per document before the
    explode and carried through it, so the (doc, token) count with
    map-side combine is the build's only data shuffle (a window over the
    doc key would re-exchange: hash partitioning on (doc_id, token) does
    not colocate doc_id) — postings carry (token, doc_id, tf, dl) and
    are repartitioned on the bucket key for the partitioned write (one
    compacted file per directory, the ann_index build lesson).
    Token-less documents appear only in stats (their dl=0 still prices
    avgdl).

    Postings live under a two-level (batch, bucket) partition layout.
    ``batch`` names the increment; appends write THEIR batch's
    partition directories with dynamic partition overwrite, so
    re-running an append with the same batch name REPLACES its own data
    instead of duplicating it — appends are IDEMPOTENT, which is what
    makes the streaming writer (stream_index_writer) exactly-once under
    foreachBatch's at-least-once replay. The meta ledger records each
    batch's doc count keyed by batch name (replay overwrites the same
    entry), so n_docs is idempotent too. Batches are assumed
    id-disjoint and each document whole within one batch (dl is
    denormalized per batch). Probes filter the bucket level only;
    pruning is unaffected by the batch level.

    ``batch`` defaults to "base" on build and a UNIQUE name on append —
    an append aimed at an existing batch name (deliberately, e.g. a
    streaming replay) replaces that batch's data rather than appending
    beside it: its old partition directories are removed first, so the
    replacement is complete even when the new data misses buckets the
    old data touched (dynamic partition overwrite alone would leave
    those buckets stale). An append whose batch name appears in the
    FOLDED ledger (compact_index absorbed it into base) is a replay of
    data the index already holds and is skipped outright — that is what
    keeps the streaming writer exactly-once ACROSS compactions."""
    import shutil

    batch = resolve_batch(mode, batch)
    if mode == "append":
        meta = _read_meta(index_dir)
        if (meta["n_buckets"], meta["token_re"]) != (n_buckets, token_re):
            raise ValueError(
                f"append with (n_buckets={n_buckets}, token_re={token_re!r}) "
                f"against an index built with (n_buckets={meta['n_buckets']}, "
                f"token_re={meta['token_re']!r})"
            )
        if not append_precheck(meta, batch):
            # a replayed stream batch whose data compact_index already
            # folded into base — writing it again would duplicate postings
            return
        if batch in meta.get("batches", {}):
            # full replacement semantics: drop the old batch's partitions
            # so buckets absent from the new data don't keep stale rows
            drop_replaced_batch(_posts_path(index_dir, meta), batch)
    # Ledger count rides the SAME action as the postings write (observe on
    # the pre-explode node, so token-less docs still count): a separate
    # docs.count() after the write would re-evaluate the input, and a
    # nondeterministic upstream could then record a ledger count differing
    # from the rows actually written.
    from pyspark.sql import Observation

    obs = Observation()
    docs = docs.observe(obs, F.count(F.lit(1)).alias("n_docs"))
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(token_re), 0).alias(
            "_toks"
        ),
    ).select(
        "doc_id",
        F.size("_toks").cast("long").alias("dl"),
        F.explode("_toks").alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    postings = (
        tf.withColumn("bucket", (F.crc32(F.col("token")) % n_buckets).cast("long"))
        .withColumn("batch", F.lit(batch))
        .select("token", "doc_id", "tf", "dl", "bucket", "batch")
    )
    writer = postings.repartition("bucket").write.partitionBy("batch", "bucket")
    prev = old_posts = None
    if mode == "append":
        # overwrite ONLY this batch's partitions — the idempotence trick
        writer = writer.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        posts_dir = _posts_path(index_dir, meta)
        posts_name = meta.get("postings_dir", "postings")
    elif os.path.exists(os.path.join(index_dir, _META_FILE)):
        # a committed index exists: honor Spark save-mode intent FIRST —
        # the staged rebuild below never writes into the active dir, so
        # without this check mode='error' would silently REPLACE the
        # committed index and 'ignore' would too
        if mode in ("error", "errorifexists"):
            raise ValueError(
                f"build_text_index(mode={mode!r}): an index is already "
                f"committed at {index_dir} — pass mode='overwrite' to "
                "rebuild or mode='append' to add a batch"
            )
        if mode == "ignore":
            return
        # rebuild over a LIVE index: stage into a fresh versioned dir and
        # flip the pointer at the meta commit — writing mode='overwrite'
        # into the ACTIVE directory would destroy the committed layout
        # BEFORE the commit (a crash mid-write leaves the persisted meta
        # pointing at torn postings — the exact bug class index_commit.py
        # exists to prevent; same ordering as compact_index/build_ivfpq)
        prev = _read_meta(index_dir)
        version = int(prev.get("version", 0)) + 1
        posts_name, posts_dir = staging_dir(index_dir, "postings", version)
        old_posts = _posts_path(index_dir, prev)
        writer = writer.mode(mode)
    else:
        # fresh build: nothing committed yet, the plain layout is fine
        writer = writer.mode(mode)
        posts_name = "postings"
        posts_dir = os.path.join(index_dir, posts_name)
    writer.parquet(posts_dir)
    spark = docs.sparkSession
    # n_docs lives in the meta ledger (token-less docs appear in no
    # posting, so it cannot be re-derived from the index); keyed by
    # batch name so replays overwrite rather than double-count
    n_new = int(obs.get["n_docs"])
    if mode == "append":
        meta = _read_meta(index_dir)
        meta["batches"][batch] = int(n_new)
    else:
        # the rebuild's previous active dir (plain OR versioned) is
        # reclaimed only AFTER the meta commit below — reclaiming (or
        # overwriting) first would leave a crashed rebuild's persisted
        # meta pointing at a deleted/torn directory (the
        # build_ivfpq_index commit ordering)
        meta = {
            "kind": "text",
            "n_buckets": n_buckets,
            "token_re": token_re,
            "postings_dir": posts_name,
            "batches": {batch: int(n_new)},
            "folded": [],
        }
        if prev is not None:
            meta["version"] = int(prev.get("version", 0)) + 1
    _write_meta(index_dir, meta)
    if old_posts is not None and old_posts != posts_dir:
        shutil.rmtree(old_posts, ignore_errors=True)
    if refresh:
        refresh_stats(spark, index_dir)


def refresh_stats(spark: SparkSession, index_dir: str) -> None:
    """(Re)build lexicon + stats from the postings table — runs at build
    time and after appends (one aggregation pass over postings; callers
    batching many appends pass refresh=False and run this once at the
    end — df/avgdl drift until then is the standard serving trade)."""
    meta = _read_meta(index_dir)
    n_docs = sum(int(v) for v in meta["batches"].values())
    posts = spark.read.parquet(_posts_path(index_dir, meta))
    lex = posts.groupBy("bucket", "token").agg(F.count(F.lit(1)).alias("df"))
    lex.repartition("bucket").write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(index_dir, "lexicon")
    )
    row = posts.groupBy().agg(F.sum("tf").alias("sum_dl")).collect()[0]
    local_df(
        spark, [(n_docs, int(row.sum_dl or 0))], "n_docs long, sum_dl long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(index_dir, "stats"))


def stream_index_writer(
    index_dir: str,
    stream_df: DataFrame,
    stream_id: str,
    checkpoint_dir: str,
    refresh: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """``writeStream`` builder maintaining the index from a document
    stream — the corpus_dedup writer pattern:

        q = stream_index_writer(idx, src, "s1", ckpt)
        q.trigger(availableNow=True).start().awaitTermination()

    EXACTLY-ONCE despite foreachBatch's at-least-once delivery: each
    micro-batch appends under batch name ``{stream_id}-{batch_id}``,
    and appends are idempotent by construction (dynamic partition
    overwrite of the batch's own directories + the batch-keyed doc
    ledger) — a replayed batch rewrites identical data over itself.
    The index must already exist (build_text_index the base corpus
    first); per-batch lexicon/stats refresh is ON by default, pass
    refresh=False and run refresh_stats on a cadence for high-rate
    streams (each refresh re-aggregates the postings table)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        meta = _read_meta(index_dir)
        build_text_index(
            batch_df,
            index_dir,
            n_buckets=meta["n_buckets"],
            token_re=meta["token_re"],
            mode="append",
            text_col=text_col,
            id_col=id_col,
            refresh=refresh,
            batch=f"{stream_id}-{batch_id}",
        )

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def bm25_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    terms: tuple[str, ...],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k BM25 against a prebuilt index — no corpus scan.

    The probe reads ONLY the query terms' bucket directories (partition
    pruning on the bucket filter, asserted in tests) and filters to the
    terms inside them; idf/avgdl come from the pruned lexicon + the
    1-row stats table (a bounded driver-side collect, the bm25_stats
    class). Scoring folds the per-term idf into a literal map and
    reduces per doc in one aggregation; orderBy+limit fuses to
    TakeOrderedAndProject. Returns (doc_id, bm25_tf, score) for docs
    containing >= 1 query term."""
    meta = _read_meta(index_dir)
    n_buckets = meta["n_buckets"]
    # same normalization the build side applies to document text — an
    # un-normalized term would hash to the WRONG bucket directory
    terms = normalize_terms(terms, meta["token_re"])
    terms = tuple(dict.fromkeys(terms))  # dedupe, keep order
    buckets = sorted({_term_bucket(t, n_buckets) for t in terms})
    stats = spark.read.parquet(os.path.join(index_dir, "stats")).collect()[0]
    n_docs, sum_dl = int(stats.n_docs), int(stats.sum_dl)
    avgdl = (sum_dl / n_docs) if n_docs else 0.0
    lex = (
        spark.read.parquet(os.path.join(index_dir, "lexicon"))
        .filter(F.col("bucket").isin(buckets) & F.col("token").isin(list(terms)))
        .collect()
    )
    df_by_term = {r.token: int(r.df) for r in lex}
    idf_pairs = []
    for t in terms:
        idf_pairs.append(F.lit(t))
        idf_pairs.append(F.lit(bm25_idf(n_docs, df_by_term.get(t, 0))))
    idf_map = F.create_map(*idf_pairs)
    k1p1 = k1 + 1.0
    c0 = k1 * (1.0 - b)
    c1 = (k1 * b) / avgdl if avgdl else 0.0
    posts = (
        spark.read.parquet(_posts_path(index_dir, meta))
        .filter(F.col("bucket").isin(buckets) & F.col("token").isin(list(terms)))
    )
    contrib = idf_map[F.col("token")] * (
        (F.col("tf") * F.lit(k1p1))
        / (F.col("tf") + (F.lit(c0) + F.lit(c1) * F.col("dl")))
    )
    scored = posts.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("bm25_tf"),
        F.sum(contrib).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


def bm25_topk_bulk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    query_id_col: str = "query_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k retrieval for MANY queries in ONE distributed join — the
    decontamination shape: hundreds or thousands of benchmark items at
    once, where a per-query literal fold would compile a plan per query.

    The query set tokenizes (saved token_re, distinct per query — the
    same dedup the single-probe path applies) into a tiny (query_id,
    token) relation that BROADCASTS against the postings on token; idf
    is priced engine-side from a broadcast of the pruned lexicon plus
    the stats constants. Partition pruning still applies: the DISTINCT
    BUCKETS of the query vocabulary are a bounded collect (<= n_buckets
    values however many queries there are) and become a static bucket
    filter on the postings scan. Scores reduce per (query_id, doc_id);
    a per-query window keeps rank <= k.

    Returns (query_id, doc_id, bm25_tf, score, rk), rk 1..k per query —
    only documents containing >= 1 of that query's terms (the inverted-
    index semantics, as bm25_topk_indexed)."""
    from pyspark.sql import Window

    meta = _read_meta(index_dir)
    n_buckets = meta["n_buckets"]
    stats = spark.read.parquet(os.path.join(index_dir, "stats")).collect()[0]
    n_docs, sum_dl = int(stats.n_docs), int(stats.sum_dl)
    avgdl = (sum_dl / n_docs) if n_docs else 0.0
    k1p1 = k1 + 1.0
    c0 = k1 * (1.0 - b)
    c1 = (k1 * b) / avgdl if avgdl else 0.0

    qtok = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit(meta["token_re"]), 0
                )
            ).alias("token"),
        )
        .distinct()
        .withColumn("bucket", (F.crc32(F.col("token")) % n_buckets).cast("long"))
    )
    buckets = [int(r.bucket) for r in qtok.select("bucket").distinct().collect()]
    lex = F.broadcast(
        spark.read.parquet(os.path.join(index_dir, "lexicon"))
        .filter(F.col("bucket").isin(buckets))
        .select("token", "df")
    )
    posts = (
        spark.read.parquet(_posts_path(index_dir, meta))
        .filter(F.col("bucket").isin(buckets))
        .select("token", "doc_id", "tf", "dl")
    )
    idf = F.log(
        1.0 + ((F.lit(n_docs) - F.col("df")) + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * (
        (F.col("tf") * F.lit(k1p1))
        / (F.col("tf") + (F.lit(c0) + F.lit(c1) * F.col("dl")))
    )
    scored = (
        posts.join(F.broadcast(qtok.select("query_id", "token")), "token")
        .join(lex, "token")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("tf").cast("long").alias("bm25_tf"),
            F.sum(contrib).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= k
    )


def retrieval_contamination(
    spark: SparkSession,
    index_dir: str,
    benchmark: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    text_col: str = "text",
) -> DataFrame:
    """Retrieval-based decontamination: for every benchmark item, the
    top-k BM25 corpus documents are contamination SUSPECTS — this finds
    paraphrased/partial overlap that quality.contamination's exact
    8-gram matching misses (the two compose: exact n-grams to auto-drop,
    retrieval hits to audit or threshold).

    Returns one row per suspect document: (doc_id, n_bench_hits — how
    many benchmark items rank it top-k, best_rank, max_score)."""
    hits = bm25_topk_bulk(
        spark,
        index_dir,
        benchmark,
        k=k,
        query_id_col=query_id_col,
        text_col=text_col,
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bench_hits"),
        F.min("rk").cast("long").alias("best_rank"),
        F.max("score").alias("max_score"),
    )


def compact_index(spark: SparkSession, index_dir: str) -> None:
    """Fold all append batches back into one ``base`` batch — the
    maintenance pass for long-running streams, whose many small per-batch
    files otherwise accumulate open-file and listing cost at probe time.

    Commit protocol: one read → one partitioned rewrite into a fresh
    VERSIONED directory (``postings_v{N}``), then ONE atomic commit —
    os.replace of the meta file, whose ``postings_dir`` pointer flips
    every subsequent reader to the new layout. A crash at any point
    leaves the index fully consistent: before the meta swap the old
    layout is still pointed to (the half-written new dir is garbage,
    reclaimed by the next compaction); after it the new layout is live
    and only the old dir lingers until the best-effort cleanup.

    Exactly-once across streams: the names of the folded batches move to
    ``meta["folded"]``, and build_text_index SKIPS an append whose batch
    name is in that ledger — so a foreachBatch replay of a micro-batch
    that was committed and then compacted does NOT re-duplicate its
    postings. Serialize compaction against an ACTIVELY COMMITTING
    trigger, though (run it between triggers or with the stream
    stopped): a batch that lands after the compaction's read but before
    its meta swap would be silently dropped. In-flight probes that
    resolved the OLD pointer may fail once the old dir is removed —
    retry reads the new pointer (keep a grace copy externally if the
    serving layer needs zero-error swaps).

    Probe results are identical before and after — compaction moves
    bytes, not data."""
    import shutil

    meta = _read_meta(index_dir)
    cur = _posts_path(index_dir, meta)
    version = int(meta.get("version", 0)) + 1
    new_name, staging = staging_dir(index_dir, "postings", version)
    (
        spark.read.parquet(cur)
        .select("token", "doc_id", "tf", "dl", "bucket")
        .withColumn("batch", F.lit("base"))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("batch", "bucket")
        .parquet(staging)
    )
    # THE commit point (one atomic meta replace: pointer + ledger + folded)
    old = compact_commit(index_dir, meta, "postings_dir", "postings", new_name, version)
    shutil.rmtree(old, ignore_errors=True)
