"""Table-valued function library for the SQL dialect (extension — the
reference's FROM accepts only table names, planner.rs:260-280).

These bridge the dialect to the persistent-index operators so a SQL
session can run retrieval end-to-end without leaving the engine:

    SELECT doc_id, score FROM bm25_topk('/path/to/index', 'query terms', 10);
    SELECT d.doc_id FROM docs d
      JOIN bm25_topk('/idx', 'benchmark item text', 10) h ON d.doc_id = h.doc_id;

Two TVF families:

- index probes (bm25_topk, ann_topk): the first literal names a
  persistent-index DIRECTORY on shared storage;
- BULK index probes (bm25_topk_bulk, ann_topk_bulk): the query/probe
  set is a session TABLE (name passed as a string literal), compiled
  straight onto the distributed bulk engines (text_index.bm25_topk_bulk
  / ann_index.probe_ivfpq_bulk and the already-distributed LSH/IVF
  probes) — one plan however many queries, the decontamination shape:

      SELECT * FROM bm25_topk_bulk('/idx', 'benchmark_queries', 10);
      SELECT * FROM ann_topk_bulk('/vidx', 'probe_vectors', 5);

- operator invocations (substring_spans, contamination_spans): literals
  name session TABLES, resolved through the same reader the FROM clause
  uses (snapshot semantics included), so the LLM-pipeline operators run
  over engine-managed data without leaving SQL:

      SELECT * FROM substring_spans('docs', 15) WHERE span_len > 30;
      SELECT doc_id FROM contamination_spans('docs', 'benchmark', 8);

Arguments are LITERAL constants (parser-enforced): a FROM-clause function
materializes before the query's frame exists, so column references could
never resolve — a TABLE-valued argument is therefore spelled as a table
NAME literal and resolved through the session reader. Builders raise
ValueError on bad argument types/values, which the compiler surfaces as
CompileError — the dialect's analysis-error class; table-name resolution
errors keep their own catalog-error class.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from entangledb_spark.session import local_df


@dataclass(frozen=True)
class TvfSpec:
    min_arity: int
    max_arity: Optional[int]
    builder: Callable[..., DataFrame]
    # reads_tables builders receive (spark, read, *args) where read maps a
    # session table name to its DataFrame; others receive (spark, *args)
    reads_tables: bool = False


def _bm25_topk(spark: SparkSession, index_dir, query, k=10) -> DataFrame:
    """Top-k BM25 against a prebuilt text index (text_index.build_text_index
    / bm25_topk_indexed — the identical scoring path the DataFrame surface
    uses, so SQL and DataFrame results cannot diverge). Columns:
    (doc_id, bm25_tf, score)."""
    from entangledb_spark.operators.text_index import bm25_topk_indexed

    if not isinstance(index_dir, str):
        raise ValueError("bm25_topk: index path must be a string literal")
    if not isinstance(query, str):
        raise ValueError("bm25_topk: query must be a string literal")
    if isinstance(k, bool) or not isinstance(k, int) or k < 1:
        raise ValueError("bm25_topk: k must be a positive integer literal")
    terms = tuple(query.split())
    if not terms:
        # mirror ann_topk's empty-vector error: a typo'd empty literal
        # must not masquerade as "no documents matched"
        raise ValueError("bm25_topk: query has no terms")
    return bm25_topk_indexed(spark, index_dir, terms, k=k)


def _ann_topk(spark: SparkSession, index_dir, vec, k=5) -> DataFrame:
    """Top-k ANN against a prebuilt persistent vector index (LSH, IVF, or
    IVF-PQ — dispatched on the index meta's kind, so one SQL spelling
    serves all three). ``vec`` is the query vector as a whitespace- or
    comma-separated numeric string literal ('0.12 -0.4 ...'); a single
    probe always takes the literal (zero-join) route. Columns:
    (neighbor_id, cos_sim, rk) for lsh/ivf; (neighbor_id, adc_dist, rk)
    for ivfpq — ADC is a DISTANCE (ascending), cosine a similarity."""
    import json
    import os

    from entangledb_spark.operators import ann_index
    from entangledb_spark.operators.index_commit import META_FILE

    if not isinstance(index_dir, str):
        raise ValueError("ann_topk: index path must be a string literal")
    if not isinstance(vec, str):
        raise ValueError(
            "ann_topk: query vector must be a numeric string literal "
            "('0.1 -0.4 ...')"
        )
    if isinstance(k, bool) or not isinstance(k, int) or k < 1:
        raise ValueError("ann_topk: k must be a positive integer literal")
    try:
        floats = [float(x) for x in vec.replace(",", " ").split()]
    except ValueError:
        raise ValueError(f"ann_topk: non-numeric component in vector {vec!r}")
    if not floats:
        raise ValueError("ann_topk: empty query vector")
    meta_path = os.path.join(index_dir, META_FILE)
    try:
        with open(meta_path) as f:
            kind = json.load(f).get("kind")
    except OSError:
        raise ValueError(f"ann_topk: no index meta at {meta_path}")
    probe = local_df(spark, [(-1, floats)], "vec_id long, embedding array<float>")
    if kind == "lsh":
        out = ann_index.probe_lsh_index(
            spark, index_dir, probe, k=k, exclude_self=False
        )
    elif kind == "ivf":
        out = ann_index.probe_ivf_index(
            spark, index_dir, probe, k=k, exclude_self=False
        ).drop("cell")
    elif kind == "ivfpq":
        return ann_index.probe_ivfpq_index(
            spark, index_dir, probe, k=k, exclude_self=False, route="literal"
        ).select("neighbor_id", "adc_dist", "rk")
    else:
        raise ValueError(f"ann_topk: unsupported index kind {kind!r}")
    return out.select("neighbor_id", "cos_sim", "rk")


def _index_kind(index_dir: str, fn: str) -> str:
    """Read the persistent vector index's kind from its committed meta."""
    import json
    import os

    from entangledb_spark.operators.index_commit import META_FILE

    meta_path = os.path.join(index_dir, META_FILE)
    try:
        with open(meta_path) as f:
            return json.load(f).get("kind")
    except OSError:
        raise ValueError(f"{fn}: no index meta at {meta_path}")


def _check_k(fn: str, k) -> None:
    if isinstance(k, bool) or not isinstance(k, int) or k < 1:
        raise ValueError(f"{fn}: k must be a positive integer literal")


def _bm25_topk_bulk(spark: SparkSession, read, index_dir, queries, k=10) -> DataFrame:
    """Bulk top-k BM25: the query set is a session TABLE with columns
    (query_id, text) — hundreds or thousands of benchmark items retrieve
    in ONE distributed join (text_index.bm25_topk_bulk; partition
    pruning to the query vocabulary's buckets included), where the
    single-probe TVF would compile one plan per query string. Columns:
    (query_id, doc_id, bm25_tf, score, rk)."""
    from entangledb_spark.operators.text_index import bm25_topk_bulk

    if not isinstance(index_dir, str):
        raise ValueError("bm25_topk_bulk: index path must be a string literal")
    if not isinstance(queries, str):
        raise ValueError(
            "bm25_topk_bulk: queries must be a session table name literal"
        )
    _check_k("bm25_topk_bulk", k)
    qdf = read(queries)
    missing = {"query_id", "text"} - set(qdf.columns)
    if missing:
        raise ValueError(
            f"bm25_topk_bulk: table {queries!r} lacks required column(s) "
            f"{sorted(missing)} — the query set needs (query_id, text)"
        )
    return bm25_topk_bulk(spark, index_dir, qdf.select("query_id", "text"), k=k)


def _ann_topk_bulk(spark: SparkSession, read, index_dir, probes, k=5) -> DataFrame:
    """Bulk top-k ANN: the probe set is a session TABLE with columns
    (vec_id, embedding) — embedding either a native array column (an
    ATTACHed parquet table) or a numeric string ('0.1 -0.4 ...', the
    4-type dialect spelling). Dispatches on the index kind: LSH/IVF
    probes are already probe-count-independent distributed joins;
    IVF-PQ routes through probe_ivfpq_bulk. Columns:
    (query_id, neighbor_id, cos_sim, rk) for lsh/ivf,
    (query_id, neighbor_id, adc_dist, rk) for ivfpq."""
    from pyspark.sql import functions as F

    from entangledb_spark.operators import ann_index

    if not isinstance(index_dir, str):
        raise ValueError("ann_topk_bulk: index path must be a string literal")
    if not isinstance(probes, str):
        raise ValueError(
            "ann_topk_bulk: probes must be a session table name literal"
        )
    _check_k("ann_topk_bulk", k)
    pdf = read(probes)
    missing = {"vec_id", "embedding"} - set(pdf.columns)
    if missing:
        raise ValueError(
            f"ann_topk_bulk: table {probes!r} lacks required column(s) "
            f"{sorted(missing)} — the probe set needs (vec_id, embedding)"
        )
    emb_type = dict(pdf.dtypes)["embedding"]
    if emb_type.startswith("array"):
        emb = F.col("embedding").cast("array<float>")
    elif emb_type == "string":
        emb = F.split(F.trim(F.col("embedding")), r"[,\s]+").cast("array<float>")
    else:
        raise ValueError(
            f"ann_topk_bulk: embedding column must be an array or a numeric "
            f"string, got {emb_type}"
        )
    probe_df = pdf.select(
        F.col("vec_id").cast("long").alias("vec_id"), emb.alias("embedding")
    )
    kind = _index_kind(index_dir, "ann_topk_bulk")
    if kind == "lsh":
        out = ann_index.probe_lsh_index(
            spark, index_dir, probe_df, k=k, exclude_self=False
        )
    elif kind == "ivf":
        out = ann_index.probe_ivf_index(
            spark, index_dir, probe_df, k=k, exclude_self=False
        ).drop("cell")
    elif kind == "ivfpq":
        return ann_index.probe_ivfpq_bulk(
            spark, index_dir, probe_df, k=k, exclude_self=False
        ).select("query_id", "neighbor_id", "adc_dist", "rk")
    else:
        raise ValueError(f"ann_topk_bulk: unsupported index kind {kind!r}")
    return out.select("query_id", "neighbor_id", "cos_sim", "rk")


def _docs_relation(read, name: str, fn: str) -> DataFrame:
    """Resolve + validate a (doc_id, text) relation for the span TVFs."""
    if not isinstance(name, str):
        raise ValueError(f"{fn}: table name must be a string literal")
    df = read(name)
    missing = {"doc_id", "text"} - set(df.columns)
    if missing:
        raise ValueError(
            f"{fn}: table {name!r} lacks required column(s) "
            f"{sorted(missing)} — span operators need (doc_id, text)"
        )
    return df.select("doc_id", "text")


def _check_window(fn: str, w) -> None:
    if isinstance(w, bool) or not isinstance(w, int) or w < 2:
        raise ValueError(f"{fn}: window_tokens must be an integer literal >= 2")


def _substring_spans(spark: SparkSession, read, table, w=None, min_count=2) -> DataFrame:
    """Sliding-window exact substring dedup over a session table
    (packing.duplicate_substring_spans — identical code path as the
    DataFrame surface). Columns:
    (doc_id, span_start, span_end, span_len, n_windows)."""
    from entangledb_spark.operators.packing import (
        SS_WINDOW_TOKENS,
        duplicate_substring_spans,
    )

    w = SS_WINDOW_TOKENS if w is None else w
    _check_window("substring_spans", w)
    if isinstance(min_count, bool) or not isinstance(min_count, int) or min_count < 2:
        raise ValueError(
            "substring_spans: min_count must be an integer literal >= 2"
        )
    docs = _docs_relation(read, table, "substring_spans")
    return duplicate_substring_spans(docs, window_tokens=w, min_count=min_count)


def _contamination_spans(spark: SparkSession, read, corpus, bench, w=8) -> DataFrame:
    """Contamination span localization over session tables
    (quality.contamination_spans): maximal spans of ``corpus`` matching
    any w-token window of ``bench``. Columns:
    (doc_id, span_start, span_end, span_len, n_windows)."""
    from entangledb_spark.operators.quality import contamination_spans

    _check_window("contamination_spans", w)
    docs = _docs_relation(read, corpus, "contamination_spans")
    if not isinstance(bench, str):
        raise ValueError(
            "contamination_spans: benchmark table name must be a string literal"
        )
    bdf = read(bench)
    if "text" not in bdf.columns:
        raise ValueError(
            f"contamination_spans: table {bench!r} lacks a 'text' column"
        )
    return contamination_spans(docs, bdf, window_tokens=w)


def _parse_vec(fn: str, vec) -> list[float]:
    if not isinstance(vec, str):
        raise ValueError(
            f"{fn}: query vector must be a numeric string literal ('0.1 -0.4 ...')"
        )
    try:
        floats = [float(x) for x in vec.replace(",", " ").split()]
    except ValueError:
        raise ValueError(f"{fn}: non-numeric component in vector {vec!r}")
    if not floats:
        raise ValueError(f"{fn}: empty query vector")
    return floats


def _hybrid_topk(
    spark: SparkSession, text_idx, ann_idx, query, vec, k=10, candidates=50
) -> DataFrame:
    """Hybrid retrieval in SQL: BM25 + ANN reciprocal-rank fusion over two
    persistent indexes sharing one doc id space (operators/hybrid.py —
    identical fusion path as the DataFrame surface). Columns:
    (doc_id, rrf_score, n_lists, rk); the per-list ranks map is a
    DataFrame-surface extra (map types sit outside the dialect's 4-type
    system)."""
    from entangledb_spark.operators.hybrid import hybrid_topk

    for nm, v in (("text index", text_idx), ("ann index", ann_idx)):
        if not isinstance(v, str):
            raise ValueError(f"hybrid_topk: {nm} path must be a string literal")
    if not isinstance(query, str) or not query.split():
        raise ValueError("hybrid_topk: query must be a non-empty string literal")
    floats = _parse_vec("hybrid_topk", vec)
    _check_k("hybrid_topk", k)
    _check_k("hybrid_topk", candidates)
    return hybrid_topk(
        spark, text_idx, ann_idx, tuple(query.split()), floats,
        k=k, candidates=candidates,
    ).drop("ranks")


def _hybrid_topk_bulk(
    spark: SparkSession, read, text_idx, ann_idx, queries, k=10, candidates=50
) -> DataFrame:
    """Bulk hybrid retrieval: the query set is a session TABLE with
    (query_id, text, embedding) — embedding an array column or a numeric
    string — and every query retrieves + fuses in one composed plan.
    Columns: (query_id, doc_id, rrf_score, n_lists, rk)."""
    from pyspark.sql import functions as F

    from entangledb_spark.operators.hybrid import hybrid_topk_bulk

    for nm, v in (("text index", text_idx), ("ann index", ann_idx)):
        if not isinstance(v, str):
            raise ValueError(f"hybrid_topk_bulk: {nm} path must be a string literal")
    if not isinstance(queries, str):
        raise ValueError(
            "hybrid_topk_bulk: queries must be a session table name literal"
        )
    _check_k("hybrid_topk_bulk", k)
    _check_k("hybrid_topk_bulk", candidates)
    qdf = read(queries)
    missing = {"query_id", "text", "embedding"} - set(qdf.columns)
    if missing:
        raise ValueError(
            f"hybrid_topk_bulk: table {queries!r} lacks required column(s) "
            f"{sorted(missing)} — the query set needs (query_id, text, embedding)"
        )
    emb_type = dict(qdf.dtypes)["embedding"]
    if emb_type.startswith("array"):
        emb = F.col("embedding").cast("array<float>")
    elif emb_type == "string":
        emb = F.split(F.trim(F.col("embedding")), r"[,\s]+").cast("array<float>")
    else:
        raise ValueError(
            f"hybrid_topk_bulk: embedding column must be an array or a "
            f"numeric string, got {emb_type}"
        )
    qdf = qdf.select(
        F.col("query_id").cast("long").alias("query_id"),
        "text",
        emb.alias("embedding"),
    )
    return hybrid_topk_bulk(
        spark, text_idx, ann_idx, qdf, k=k, candidates=candidates
    ).drop("ranks")


def _relations(spark: SparkSession, read) -> DataFrame:
    """Catalog introspection in SQL: one row per relation visible to THIS
    session's snapshot — `SELECT * FROM relations()` lists tables
    (managed/ATTACHed), views, and materialized views with their column
    lists; inside BEGIN READ ONLY AS OF SYSTEM TIME it lists that
    version's catalog. Columns: (name, kind, n_columns, columns)."""
    rels = getattr(read, "relations", None)
    if rels is None:
        raise ValueError(
            "relations(): no catalog behind this session's reader"
        )
    return local_df(
        spark, rels(), "name string, kind string, n_columns long, columns string"
    )


TABLE_FUNCS: dict[str, TvfSpec] = {
    "bm25_topk": TvfSpec(2, 3, _bm25_topk),
    "ann_topk": TvfSpec(2, 3, _ann_topk),
    "bm25_topk_bulk": TvfSpec(2, 3, _bm25_topk_bulk, reads_tables=True),
    "ann_topk_bulk": TvfSpec(2, 3, _ann_topk_bulk, reads_tables=True),
    "substring_spans": TvfSpec(1, 3, _substring_spans, reads_tables=True),
    "contamination_spans": TvfSpec(2, 3, _contamination_spans, reads_tables=True),
    "relations": TvfSpec(0, 0, _relations, reads_tables=True),
    "hybrid_topk": TvfSpec(4, 6, _hybrid_topk),
    "hybrid_topk_bulk": TvfSpec(3, 5, _hybrid_topk_bulk, reads_tables=True),
}
