"""Hybrid retrieval: reciprocal-rank fusion of lexical (BM25) and vector
(ANN) rankings — the standard two-tower retrieval shape (Cormack et al.,
"Reciprocal Rank Fusion outperforms Condorcet and individual Rank Learning
Methods", SIGIR 2009): rrf(d) = Σ_lists 1 / (rrf_k + rank_list(d)).

RRF needs only RANKS, never calibrated scores, which is exactly why it is
the production default for fusing BM25 (unbounded, corpus-dependent) with
cosine/ADC (bounded, metric-dependent) — no score normalization step, no
tuning beyond the damping constant rrf_k=60 from the paper.

Spark-first shape: every input ranking is already a bounded per-query
top-``candidates`` relation from the persistent-index probes (partition-
pruned scans, no corpus pass), so fusion is one union + one groupBy on
(query, doc) + one per-query window — O(lists × candidates × queries)
rows end to end, independent of corpus size. The single-query serving
path fuses two ≤candidates-row frames; the bulk path is the
decontamination shape (one plan however many queries).

The reference (a SQL/KV engine) has no retrieval surface at all; parity
cites are the repo's own bm25/ann operators (text_index.py, ann_index.py)
whose outputs this module composes unchanged.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from entangledb_spark.session import local_df

# SIGIR'09 damping constant: large enough that a #1 hit in one list can't
# drown broad agreement at ranks 5-10 across lists.
RRF_K = 60


def rrf_fuse(
    rankings: Sequence[tuple[str, DataFrame]],
    k: int = 10,
    rrf_k: int = RRF_K,
    id_col: str = "doc_id",
    rank_col: str = "rk",
    query_col: Optional[str] = None,
) -> DataFrame:
    """Fuse named, pre-ranked lists by reciprocal-rank fusion.

    ``rankings``: (label, DataFrame) pairs; each frame carries ``id_col``,
    a 1-based ``rank_col``, and — when ``query_col`` is given — the query
    key, for fusing many queries at once. A document absent from a list
    simply contributes nothing for it (the RRF convention).

    Returns one row per surviving (query,) document:
      ([query_col,] id_col, rrf_score, n_lists, ranks, rk)
    where ``ranks`` is a map<label, rank> for explainability and ``rk``
    re-ranks by (rrf_score desc, id asc) — fully deterministic.

    Plan: union of the (already bounded) inputs → one groupBy on the
    (query, id) key → one per-query window for the final top-k. No input
    is re-scored or re-scanned; fusion cost is rows-in, not corpus."""
    if not rankings:
        raise ValueError("rrf_fuse: at least one ranking is required")
    if isinstance(k, bool) or not isinstance(k, int) or k < 1:
        raise ValueError("rrf_fuse: k must be a positive int")
    labels = [lbl for lbl, _ in rankings]
    if len(set(labels)) != len(labels):
        raise ValueError(f"rrf_fuse: duplicate ranking labels in {labels}")
    parts = []
    for label, df in rankings:
        cols = []
        if query_col is not None:
            cols.append(F.col(query_col).alias("__q"))
        cols += [
            F.col(id_col).alias("__id"),
            F.col(rank_col).cast("long").alias("__rk"),
            F.lit(label).alias("__src"),
        ]
        parts.append(df.select(*cols))
    u = reduce(lambda a, b: a.unionByName(b), parts)
    keys = (["__q"] if query_col is not None else []) + ["__id"]
    fused = u.groupBy(*keys).agg(
        F.sum(1.0 / (F.lit(float(rrf_k)) + F.col("__rk"))).alias("rrf_score"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("__src", "__rk")))
        ).alias("ranks"),
    )
    w = Window.partitionBy(*(["__q"] if query_col is not None else [])).orderBy(
        F.col("rrf_score").desc(), F.col("__id")
    )
    out = fused.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= k
    )
    renames = {"__id": id_col}
    if query_col is not None:
        renames["__q"] = query_col
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    front = ([query_col] if query_col is not None else []) + [id_col]
    return out.select(*front, "rrf_score", "n_lists", "ranks", "rk")


def probe_ann_index(
    spark: SparkSession,
    index_dir: str,
    probes: DataFrame,
    k: int = 5,
    exclude_self: bool = False,
    **kw,
) -> DataFrame:
    """Kind-dispatched probe of a persistent vector index (lsh / ivf /
    ivfpq — read from the committed meta), normalized to
    (query_id, neighbor_id, rk) plus the kind's native score column
    (cos_sim for lsh/ivf — similarity; adc_dist for ivfpq — distance).
    Extra kwargs pass through to the kind's prober (nprobe, route, ...)."""
    import json
    import os

    from entangledb_spark.operators import ann_index
    from entangledb_spark.operators.index_commit import META_FILE

    try:
        with open(os.path.join(index_dir, META_FILE)) as f:
            kind = json.load(f).get("kind")
    except OSError:
        raise ValueError(f"probe_ann_index: no index meta under {index_dir}")
    if kind == "lsh":
        kw.pop("route", None)  # serving hints are ivfpq-only; lsh/ivf
        kw.pop("n_probes", None)  # probes are already distributed joins
        kw.pop("nprobe", None)
        return ann_index.probe_lsh_index(
            spark, index_dir, probes, k=k, exclude_self=exclude_self, **kw
        )
    if kind == "ivf":
        kw.pop("route", None)
        kw.pop("n_probes", None)
        return ann_index.probe_ivf_index(
            spark, index_dir, probes, k=k, exclude_self=exclude_self, **kw
        ).drop("cell")
    if kind == "ivfpq":
        return ann_index.probe_ivfpq_index(
            spark, index_dir, probes, k=k, exclude_self=exclude_self, **kw
        )
    raise ValueError(f"probe_ann_index: unsupported index kind {kind!r}")


def _ranked_bm25(bm: DataFrame) -> DataFrame:
    """Attach the deterministic 1-based rank bm25_topk_indexed's ORDER BY
    implies (score desc, doc_id asc) — the single-query probe returns an
    ordered LIMIT, not a rank column."""
    w = Window.partitionBy().orderBy(F.col("score").desc(), F.col("doc_id"))
    return bm.withColumn("rk", F.row_number().over(w).cast("long"))


def hybrid_topk(
    spark: SparkSession,
    text_index_dir: str,
    ann_index_dir: str,
    terms: tuple[str, ...],
    vector: Sequence[float],
    k: int = 10,
    candidates: int = 50,
    rrf_k: int = RRF_K,
    **ann_kw,
) -> DataFrame:
    """Single-query hybrid retrieval: BM25 top-``candidates`` from the
    text index ∪ ANN top-``candidates`` from the vector index, RRF-fused
    to top-k. Both probes are the persistent-index serving paths (pruned
    bucket/cell scans; the ANN probe takes the zero-join literal route
    for one vector). Requires the two indexes to share ONE document id
    space — the ann index's vec_id IS the text index's doc_id.

    Returns (doc_id, rrf_score, n_lists, ranks, rk) with ranks a
    map('bm25'|'ann' → rank in that list)."""
    from entangledb_spark.operators.text_index import bm25_topk_indexed

    bm = _ranked_bm25(
        bm25_topk_indexed(spark, text_index_dir, tuple(terms), k=candidates)
    )
    probe = local_df(
        spark, [(-1, [float(x) for x in vector])], "vec_id long, embedding array<float>"
    )
    ann_kw.setdefault("route", "literal")  # one probe: skip the auto take
    ann = probe_ann_index(
        spark, ann_index_dir, probe, k=candidates, exclude_self=False, **ann_kw
    ).select(F.col("neighbor_id").alias("doc_id"), "rk")
    return rrf_fuse(
        [("bm25", bm), ("ann", ann)], k=k, rrf_k=rrf_k, id_col="doc_id"
    )


def hybrid_topk_bulk(
    spark: SparkSession,
    text_index_dir: str,
    ann_index_dir: str,
    queries: DataFrame,
    k: int = 10,
    candidates: int = 50,
    rrf_k: int = RRF_K,
    query_id_col: str = "query_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    **ann_kw,
) -> DataFrame:
    """Bulk hybrid retrieval — the decontamination/eval-harness shape:
    ``queries`` carries (query_id, text, embedding) and EVERY query
    retrieves in one composed plan: bm25_topk_bulk's broadcast token
    join + the kind's distributed ANN probe (ivfpq takes the bulk
    broadcast-LUT route — plan size independent of the query count),
    then one fusion groupBy. Returns
    (query_id, doc_id, rrf_score, n_lists, ranks, rk)."""
    from entangledb_spark.operators.text_index import bm25_topk_bulk

    bm = bm25_topk_bulk(
        spark,
        text_index_dir,
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(text_col).alias("text")
        ),
        k=candidates,
    ).select("query_id", "doc_id", "rk")
    probes = queries.select(
        F.col(query_id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<float>").alias("embedding"),
    )
    ann_kw.setdefault("route", "bulk")  # plan size independent of |queries|
    ann = probe_ann_index(
        spark, ann_index_dir, probes, k=candidates, exclude_self=False, **ann_kw
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rk")
    return rrf_fuse(
        [("bm25", bm), ("ann", ann)],
        k=k,
        rrf_k=rrf_k,
        id_col="doc_id",
        query_col="query_id",
    )
