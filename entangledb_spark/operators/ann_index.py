"""Persistent ANN index: build once, probe many.

The inline LSH path (similarity.ann_lsh_bucketed) recomputes every
vector's bucket codes per query run — right for a one-shot batch job,
wrong for a serving/repeated-probe workload over a 100 TB corpus. This
module splits the pipeline the way a production vector store does:

- **build_lsh_index**: one distributed pass computes each vector's
  sign-LSH bucket per hash table and writes the index as parquet
  PARTITIONED BY (tbl, bucket) — the bucket id is encoded in the
  directory layout, so probes touch only their buckets' files (partition
  pruning at the source, before any I/O).
- **probe_lsh_index**: computes bucket codes for the (small) probe set
  only, equi-joins against the index on the partition columns, and
  exact-cosine re-ranks the candidates to top-k. Probe cost is
  O(|probes| · bucket_size), independent of corpus size.

Incremental maintenance is append-only: new corpus vectors bucket into
the same deterministic (seeded-hash) codes and land as new files in
existing partitions — no global rebuild, no RNG state to version.

The IVF variant (build_ivf_index / probe_ivf_index) persists BOTH the
centroid table and the cell-partitioned assignments; probes route through
the saved centroids so cell boundaries never shift under appends.

Probe-scale contract: probe_lsh_index and probe_ivf_index compute probe
codes/cells as COLUMN expressions and join — their plans are independent
of the probe count by construction (pinned in tests), so they serve both
the handful-of-probes and the decontamination-scale regimes with one
route. The IVF-PQ probe has two routes: a per-probe LITERAL plan (zero
joins — lowest latency for bounded serving probe sets, guarded by
PROBE_LITERAL_MAX) and probe_ivfpq_bulk (broadcast-LUT join — plan size
independent of probe count, the bm25_topk_bulk shape applied to
vectors); route="auto" picks by a bounded take() of the probe set.

Hash-family parameters are PERSISTED in `_index_meta.json` at build time
and are authoritative at probe/append time: a probe computed with a
different table/plane count would silently match nothing (different hash
family), so callers cannot supply parameters that disagree with the
index — appends with mismatched parameters are rejected outright.

All bucket/centroid/assignment math lives in similarity.py
(lsh_bucket_codes / ivf_centroids / ivf_assign) and is SHARED with the
inline ANN paths, so index and inline semantics cannot diverge.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from entangledb_spark.functions.exprmemo import expr_template
from entangledb_spark.functions.numeric import r4
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
from entangledb_spark.operators.similarity import (
    N_HYPERPLANES,
    N_LSH_TABLES,
    cosine_sim,
    expand_multiprobe,
    ivf_assign,
    ivf_centroids,
    lsh_bucket_codes,
)
from entangledb_spark.session import local_df
from entangledb_spark.sources.parquet_io import _read_cached_schema

# Ceiling on the per-probe LITERAL route of probe_ivfpq_index: each probe
# folds an m x width ADC lookup table (plus, under by_residual, one table
# per probed cell) into the plan text at ~20 chars per double, so 32
# probes x 8 subspaces x 16 codes ~ 80 KB of plan is the comfortable
# edge — past it the plan compiles per probe what the bulk route ships
# as DATA. route="auto" counts the probe set with a bounded take() and
# switches to probe_ivfpq_bulk above this (the PQ_FOLD_MAX pattern).
PROBE_LITERAL_MAX = 32


# Commit protocol / ledger primitives live in index_commit.py — ONE
# implementation shared with the inverted text index (text_index.py) so
# the three indexes cannot drift on atomicity or exactly-once semantics.
_write_meta = write_meta
_read_meta = read_meta


# --- construction templates (round 11, guide §5 driver cost) ---------------
# The probe functions run once per serving request; each Window spec +
# row_number chain costs ~50 py4j round-trips and each multi-column join
# condition ~23, all over FIXED column names — exactly the expr_template
# shape. Live-Column inputs (probe vectors, cell lists) stay out of the
# memo by construction.


@expr_template
def _probe_topk_rank(order_col: str, descending: bool):
    """Per-query rank column: row_number over (order_col, neighbor_id)
    within each query_id partition — the top-k scaffold every probe
    shares (cos_sim DESC for similarity scores, dist ASC for L2/ADC)."""
    key = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w = Window.partitionBy("query_id").orderBy(key, F.col("neighbor_id"))
    return F.row_number().over(w)


@expr_template
def _lsh_probe_cond(exclude_self: bool):
    """probe_lsh_index's (tbl, bucket) equi-join condition."""
    cond = (F.col("q.tbl") == F.col("n.tbl")) & (
        F.col("q.bucket") == F.col("n.bucket")
    )
    if exclude_self:
        cond = cond & (F.col("q.vec_id") != F.col("n.vec_id"))
    return cond


@expr_template
def _ivf_probe_cond(exclude_self: bool):
    """probe_ivf_index's cell equi-join condition."""
    cond = F.col("q.cell") == F.col("n.cell")
    if exclude_self:
        cond = cond & (F.col("q.vec_id") != F.col("n.vec_id"))
    return cond


@expr_template
def _probe_cand_cols(with_cell: bool) -> tuple:
    """The scored-candidate projection shared by the LSH and IVF probes."""
    cols = (
        F.col("q.vec_id").alias("query_id"),
        F.col("n.vec_id").alias("neighbor_id"),
    ) + ((F.col("q.cell").alias("cell"),) if with_cell else ())
    return cols + (r4(cosine_sim("q.embedding", "n.embedding")).alias("cos_sim"),)


def _centroid_rows_local(path: str, spark: SparkSession):
    """Centroid rows read ON THE DRIVER via pyarrow — no Spark job.

    Every probe needs the saved centroids *collected to the driver* anyway
    (they parameterize the literal assignment fold / ADC tables), so the
    prior ``spark.read.parquet(...).collect()`` spent a full Spark job +
    scheduler round-trip per probe to move data that ends up driver-local
    regardless. The relation is bounded by n_cells (16 here; even 50k
    cells × 768 dims is a few hundred MB — the same bytes collect()
    shipped). Round-11 measurement: the IVF-PQ probe ran 2 such jobs per
    rep (centroids for routing + centroids for ADC), each ~60-100 ms of
    pure fixed cost at bench scale. Falls back to the Spark collect for
    non-local filesystems (object stores), where pyarrow-on-driver may
    not have credentials plumbed."""
    try:
        import glob as _glob

        import pyarrow.parquet as _pq
        from pyspark.sql import Row

        files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            raise FileNotFoundError(f"no parquet files under {path}")
        rows = []
        for f in files:
            for rec in _pq.read_table(f).to_pylist():
                rows.append(Row(**rec))
        return rows
    except Exception:  # noqa: BLE001 — remote fs / layout surprises
        return spark.read.parquet(path).collect()


def _codes_path(index_dir: str, meta: dict) -> str:
    """The ACTIVE IVF-PQ codes directory (meta pointer — the index_commit
    compaction-commit recipe)."""
    return active_dir(index_dir, meta, "codes_dir", "codes")


def _cents_path(index_dir: str, meta: dict) -> str:
    """The ACTIVE IVF-PQ centroids directory (meta pointer — rebuilds
    commit new centroids+codes together via one meta swap)."""
    return active_dir(index_dir, meta, "cents_dir", "centroids")


def build_lsh_index(
    embeddings: DataFrame,
    index_dir: str,
    n_tables: int = N_LSH_TABLES,
    n_planes: int = N_HYPERPLANES,
    mode: str = "overwrite",
    sign: str = "xxhash64",
) -> None:
    """One distributed pass: codegen'd bucket computation (no shuffle for
    the codes — the only exchange is the partitioned write's file routing),
    then parquet partitioned by (tbl, bucket). Pass mode='append' to add
    new vectors incrementally — deterministic seeds keep codes stable, and
    the saved hash-family parameters must match or the append is refused
    (mismatched codes would corrupt the index silently).

    ``sign`` picks the hyperplane family (similarity.srp_bucket — the
    TWINS.md primitive seam): "xxhash64" (production) or "md5" (the q71
    gate twin DuckDB re-derives). It is SAVED in the meta and probes
    always recompute probe-side codes with the saved family — a probe
    hashed with the wrong family would silently miss every bucket."""
    if mode == "append":
        meta = _read_meta(index_dir, "lsh")
        saved_sign = meta.get("sign", "xxhash64")
        if (meta["n_tables"], meta["n_planes"], saved_sign) != (
            n_tables,
            n_planes,
            sign,
        ):
            raise ValueError(
                f"append with (n_tables={n_tables}, n_planes={n_planes}, "
                f"sign={sign}) against an index built with "
                f"(n_tables={meta['n_tables']}, n_planes={meta['n_planes']}, "
                f"sign={saved_sign})"
            )
    # repartition on the partition keys before writing: every (tbl, bucket)
    # group lands in one task → ONE file per partition directory instead of
    # one per input partition (96 dirs × 32 input partitions of tiny files
    # measured 1.7× slower to probe than the compacted layout). For
    # mega-buckets at corpus scale, raise spark.sql.shuffle.partitions or
    # add a salt column to split a bucket across several files.
    lsh_bucket_codes(embeddings, n_tables, n_planes, sign=sign).repartition(
        "tbl", "bucket"
    ).write.mode(mode).partitionBy("tbl", "bucket").parquet(
        os.path.join(index_dir, "buckets")
    )
    if mode != "append":
        _write_meta(
            index_dir,
            {
                "kind": "lsh",
                "n_tables": n_tables,
                "n_planes": n_planes,
                "sign": sign,
            },
        )


def probe_lsh_index(
    spark: SparkSession,
    index_dir: str,
    probes: DataFrame,
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k ANN for each probe against a prebuilt index.

    Probe-side codes are recomputed (tiny) with the SAVED hash-family
    parameters; the join on the index's PARTITION columns (tbl, bucket)
    lets the source prune to the touched buckets. Candidates sharing a
    bucket in ANY table are deduped, then exact cosine re-ranks —
    identical semantics (and results) to the inline ann_lsh_bucketed, at
    probe-proportional cost.

    ``exclude_self`` (default True) assumes probe ids and index ids share
    ONE id space and drops candidates with q.vec_id == n.vec_id — right
    when probing the corpus against itself (the inline-path semantics).
    Pass False for an EXTERNAL probe set whose ids are unrelated to the
    corpus ids: a coincidental id collision would otherwise silently drop
    a true nearest neighbor."""
    meta = _read_meta(index_dir, "lsh")
    # cached-schema read: the index layout is immutable between commits
    # (mtime-keyed), so repeated probes skip the per-plan schema-inference
    # job (round-11: one such job per index dir per probe)
    idx = _read_cached_schema(spark, os.path.join(index_dir, "buckets")).alias("n")
    # probe-side multi-probe (one-bit flips) — same expansion as the inline
    # path, applied to the tiny probe relation only; each extra bucket still
    # prunes to its own partition directory at the source
    q = expand_multiprobe(
        lsh_bucket_codes(
            probes,
            meta["n_tables"],
            meta["n_planes"],
            sign=meta.get("sign", "xxhash64"),
        ),
        meta["n_planes"],
    ).alias("q")
    cond = _lsh_probe_cond(exclude_self)
    # round 11 (guide §2.3 "project before the exchange" / "aggregate
    # before you shuffle"): score candidates in the join projection and
    # dedup via groupBy instead of dropDuplicates on rows still carrying
    # both embedding arrays. The multi-table duplicates of a (query,
    # neighbor) pair are identical rows, so min(cos_sim) IS the score;
    # partial aggregation collapses them map-side and the exchange moves
    # (long, long, double) instead of two embedding vectors per row —
    # at corpus scale the same candidate surfacing in several hash
    # tables no longer ships its payload once per table.
    # ONE probe-side exchange serves both the dedup aggregate and the
    # top-k window (round 11): hash-repartitioning the scored candidates
    # by query_id satisfies ClusteredDistribution for the (query_id,
    # neighbor_id) groupBy AND the query_id window, so the plan carries a
    # single Exchange after the join instead of two (groupBy's
    # all-keys hash + the window's re-exchange). The trade — multi-table
    # duplicate candidate rows now cross the exchange un-combined — is
    # bounded by n_tables × multiprobe on a relation that is
    # probe-bounded by construction (O(probes × bucket size), never
    # O(corpus)), while the saved exchange is a whole serving-path stage
    # round at any scale.
    cands = (
        q.join(idx, cond)
        .select(*_probe_cand_cols(False))
        .repartition("query_id")
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("cos_sim").alias("cos_sim"))
    )
    return (
        cands.withColumn("rk", _probe_topk_rank("cos_sim", True).cast("long"))
        .filter(F.col("rk") <= k)
    )


def _cell_expr_for(cell_base: str, n_cells: int):
    """The TWINS.md seam for IVF medoid seeding: None keeps ivf_centroids'
    production default (xxhash64(vec_id) mod n_cells); "knuth" swaps in
    the DuckDB-re-derivable knuth bucket (q71 gate). Only the BUILD uses
    it — probes always route through the SAVED centroid vectors, so the
    probe path is primitive-agnostic."""
    if cell_base == "xxhash64":
        return None
    if cell_base == "knuth":
        from entangledb_spark.operators.text import knuth_bucket

        return knuth_bucket(F.col("vec_id"), n_cells)
    raise ValueError(f"cell_base must be xxhash64|knuth, got {cell_base!r}")


def build_ivf_index(
    embeddings: DataFrame,
    index_dir: str,
    n_cells: int = 16,
    refine: int = 0,
    cell_base: str = "xxhash64",
) -> None:
    """IVF index build: centroids persisted under <dir>/centroids, cell
    assignments under <dir>/cells PARTITIONED BY cell — probes read one
    cell's files, pruned at the source. (Unlike LSH, IVF appends must
    reuse the SAVED centroids or cell boundaries shift — probe-side code
    reads them back for exactly that reason.) ``refine`` Lloyd rounds
    (see ivf_centroids) sharpen the centroids at build time; probes are
    unaffected because they always route through the SAVED centroids.
    ``cell_base`` picks the medoid-seed primitive (_cell_expr_for)."""
    cents = ivf_centroids(
        embeddings, n_cells, refine=refine, cell_expr=_cell_expr_for(cell_base, n_cells)
    )
    cents.coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/centroids")
    spark = embeddings.sparkSession
    saved = spark.read.parquet(f"{index_dir}/centroids")
    ivf_assign(embeddings, saved).repartition("cell").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{index_dir}/cells")
    _write_meta(
        index_dir, {"kind": "ivf", "n_cells": n_cells, "cell_base": cell_base}
    )


def probe_ivf_index(
    spark: SparkSession,
    index_dir: str,
    probes: DataFrame,
    k: int = 5,
    exclude_self: bool = True,
    nprobe: int = 2,
) -> DataFrame:
    """Top-k ANN against a prebuilt IVF index: probes route through the
    SAVED centroids (broadcast) into their ``nprobe`` nearest cells (same
    default as the inline path), candidates equi-join on the cell
    partition column (each probed cell prunes to its own partition
    directory), exact cosine re-ranks. Identical semantics to the inline
    similarity.ann_ivf.

    ``exclude_self`` carries the same shared-id-space assumption as
    probe_lsh_index — pass False for external probe sets whose ids are
    unrelated to the indexed corpus ids."""
    _read_meta(index_dir, "ivf")
    cents = _centroid_rows_local(f"{index_dir}/centroids", spark)
    q = ivf_assign(probes, cents, nprobe=nprobe).alias("q")
    n = _read_cached_schema(spark, f"{index_dir}/cells").alias("n")
    return (
        q.join(n, _ivf_probe_cond(exclude_self))
        .select(*_probe_cand_cols(True))
        .withColumn("rk", _probe_topk_rank("cos_sim", True).cast("long"))
        .filter(F.col("rk") <= k)
    )


def _residual_expr(cent_rows) -> "F.Column":
    """embedding − raw_centroid(cell), as one literal-folded CASE map —
    the residual the by_residual IVF-PQ variant quantizes. Bounded by
    n_cells (the ivf_assign literal-route economics)."""
    from entangledb_spark.operators.pq import _vec_sql

    cases = " ".join(
        f"WHEN {int(r.cell)} THEN {_vec_sql(r.centroid)}"
        for r in sorted(cent_rows, key=lambda r: r.cell)
    )
    return F.expr(
        f"zip_with(embedding, CASE cell {cases} END, "
        "(x, y) -> CAST(x AS DOUBLE) - y)"
    )


def build_ivfpq_index(
    embeddings: DataFrame,
    index_dir: str,
    n_cells: int | None = None,
    refine: int = 0,
    m: int | None = None,
    ksub: int | None = None,
    pq_refine: int = 1,
    mode: str = "overwrite",
    batch: str | None = None,
    by_residual: bool | None = None,
    cell_base: str = "xxhash64",
) -> None:
    """IVF-PQ index: the serving architecture vector stores actually run
    at 100 TB (FAISS's IVFPQ) — IVF cells prune WHICH files a probe
    reads, PQ codes shrink WHAT the files hold to m small ints per
    vector (the corpus embeddings themselves never sit in the index).

    Layout: the ACTIVE centroids and codes dirs (meta pointers
    ``cents_dir``/``codes_dir``, default <dir>/centroids, <dir>/codes);
    codes are parquet PARTITIONED BY (batch, cell) carrying
    (vec_id, pq_code), and the trained PQ codebooks persist INSIDE
    _index_meta.json (m·ksub·dsub doubles — codebooks are model state,
    the ann_index centroid contract: probes and appends must use the
    SAVED model or codes/boundaries shift). This is the global-codebook
    IVFPQ variant (FAISS by_residual=false): one PQ model for the whole
    corpus, so a probe's ADC tables depend only on the probe —
    per-cell residual tables are the other variant, traded away here
    to keep probe scoring one literal fold.

    ``by_residual=True`` is FAISS's default variant: quantize
    x − centroid(cell) instead of x, and price probes with per-(probe,
    cell) lookup tables (probes × nprobe guarded branches instead of
    one per probe). Measured honestly on the fixtures (deterministic,
    pinned in tests/test_pq.py::test_ivfpq_residual_vs_plain_measured):
    with TRAINED centroids (refine >= 1) residual recall beats plain
    (0.34 vs 0.30 raw-ADC recall@10 at sf0.001, refine=2) because
    members sit near their centroid and the residual distribution is
    tighter; with the RAW hash-medoid seeds (refine=0) it is WORSE
    (0.28 vs 0.38) — the "centroid" is an arbitrary member, so
    x − c is ~√2 LARGER than x on near-uniform unit vectors. Default
    False: pair by_residual=True with refine >= 1.

    Build-parameter defaults: n_cells 16, m 8, ksub 16 when omitted.
    ``mode="append"`` encodes new vectors with the SAVED centroids +
    codebooks; parameters are the meta's — omit them (None), or pass
    values that MATCH the saved ones, anything else is rejected (the
    build_lsh_index/build_text_index contract). A REBUILD over an
    existing IVF-PQ index commits like compaction does: new centroids
    + codes land in fresh VERSIONED directories and the atomic meta
    replace is the single commit point, so a crash mid-rebuild leaves
    the OLD index fully live (old centroids and codes untouched,
    still mutually consistent); the old dirs are reclaimed after the
    commit. The batch level carries the text_index exactly-once
    contract: appends land under their own batch partitions with
    dynamic partition overwrite (a same-name replay rewrites identical
    data over itself; a same-name append with DIFFERENT data first
    drops the old batch's partitions), the meta ledger counts vectors
    per batch name, and a batch folded by compact_ivfpq_index is
    SKIPPED on replay — which is what makes stream_ivfpq_writer
    exactly-once under foreachBatch, across compactions. Probes filter
    the cell level only; pruning is unaffected by the batch level."""
    import shutil

    from entangledb_spark.operators.pq import pq_encode, pq_train

    spark = embeddings.sparkSession
    batch = resolve_batch(mode, batch)
    if mode == "append":
        meta = _read_meta(index_dir, "ivfpq")
        model = meta["pq_model"]
        saved = (
            meta["n_cells"],
            model["m"],
            model["ksub"],
            meta.get("by_residual", False),
        )
        asked = (n_cells, m, ksub, by_residual)
        if cell_base != meta.get("cell_base", "xxhash64"):
            raise ValueError(
                f"append with cell_base={cell_base} against an index built "
                f"with cell_base={meta.get('cell_base', 'xxhash64')}"
            )
        if any(a is not None and a != s for a, s in zip(asked, saved)):
            raise ValueError(
                f"append with (n_cells={n_cells}, m={m}, ksub={ksub}, "
                f"by_residual={by_residual}) against an index built with "
                f"(n_cells={saved[0]}, m={saved[1]}, ksub={saved[2]}, "
                f"by_residual={saved[3]}) — appends always use the saved "
                "model; omit the parameters or pass matching values"
            )
        if not append_precheck(meta, batch):
            # a replayed stream batch whose vectors compact_ivfpq_index
            # already folded into base — re-appending would duplicate them
            return
        if batch in meta.get("batches", {}):
            drop_replaced_batch(_codes_path(index_dir, meta), batch)
        cent_rows = spark.read.parquet(_cents_path(index_dir, meta)).collect()
        assigned = ivf_assign(embeddings, cent_rows)
        enc_col = "embedding"
        if meta.get("by_residual", False):
            assigned = assigned.withColumn("_res", _residual_expr(cent_rows))
            enc_col = "_res"
        coded = (
            pq_encode(assigned, model, emb_col=enc_col, out_col="pq_code")
            .select("vec_id", "cell", "pq_code")
            .withColumn("batch", F.lit(batch))
        )
        # ledger count rides the SAME action as the codes write (one code
        # row per vector): a separate embeddings.count() would re-evaluate
        # the input, and a nondeterministic upstream could then record a
        # ledger count differing from the rows actually written
        from pyspark.sql import Observation

        obs = Observation()
        coded = coded.observe(obs, F.count(F.lit(1)).alias("n_vecs"))
        (
            coded.repartition("cell")
            .write.partitionBy("batch", "cell")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(_codes_path(index_dir, meta))
        )
        n_new = int(obs.get["n_vecs"])
        meta = _read_meta(index_dir, "ivfpq")
        meta["batches"][batch] = int(n_new)
        _write_meta(index_dir, meta)
        return
    # ---- fresh build / rebuild: versioned-dir commit protocol --------
    n_cells = 16 if n_cells is None else n_cells
    m = 8 if m is None else m
    ksub = 16 if ksub is None else ksub
    by_residual = False if by_residual is None else by_residual
    prev = None
    prev_path = os.path.join(index_dir, _META_FILE)
    if os.path.exists(prev_path):
        with open(prev_path) as f:
            cand = json.load(f)  # tolerant: rebuild over any prior kind
        if cand.get("kind") == "ivfpq":
            prev = cand
    version = int(prev.get("version", 0)) + 1 if prev else 0
    if prev is None:
        cents_name, codes_name = "centroids", "codes"
        cents_dir = os.path.join(index_dir, cents_name)
        codes_dir = os.path.join(index_dir, codes_name)
    else:  # versioned staging; any crashed earlier attempt is removed
        cents_name, cents_dir = staging_dir(index_dir, "centroids", version)
        codes_name, codes_dir = staging_dir(index_dir, "codes", version)
    cents_df = ivf_centroids(
        embeddings, n_cells, refine=refine, cell_expr=_cell_expr_for(cell_base, n_cells)
    )
    cents_df.coalesce(1).write.mode("overwrite").parquet(cents_dir)
    cent_rows = spark.read.parquet(cents_dir).collect()
    assigned = ivf_assign(embeddings, cent_rows)
    enc_col = "embedding"
    if by_residual:
        # FAISS by_residual=true: quantize x − centroid(cell) — residual
        # magnitudes are smaller than raw coordinates, so the same m/ksub
        # budget spends its codewords on a tighter distribution
        assigned = assigned.withColumn("_res", _residual_expr(cent_rows))
        enc_col = "_res"
        train_input = assigned.select("vec_id", F.col("_res").alias("embedding"))
    else:
        # plain codes don't depend on the assignment — train on the raw
        # relation so pq_train's corpus passes skip the argmin fold
        train_input = embeddings
    model = pq_train(train_input, m=m, ksub=ksub, refine=pq_refine)
    coded = (
        pq_encode(assigned, model, emb_col=enc_col, out_col="pq_code")
        .select("vec_id", "cell", "pq_code")
        .withColumn("batch", F.lit(batch))
    )
    # same count-once contract as the append path above
    from pyspark.sql import Observation

    obs = Observation()
    coded = coded.observe(obs, F.count(F.lit(1)).alias("n_vecs"))
    (
        coded.repartition("cell")
        .write.partitionBy("batch", "cell")
        .mode("overwrite")
        # pin static: a session-level dynamic partitionOverwriteMode
        # would otherwise leave stale partitions from a prior layout
        .option("partitionOverwriteMode", "static")
        .parquet(codes_dir)
    )
    n_new = int(obs.get["n_vecs"])
    meta = {
        "kind": "ivfpq",
        "n_cells": n_cells,
        "pq_model": model,
        "by_residual": bool(by_residual),
        "cell_base": cell_base,
        "cents_dir": cents_name,
        "codes_dir": codes_name,
        "version": version,
        "batches": {batch: int(n_new)},
        "folded": [],
    }
    _write_meta(index_dir, meta)  # THE commit point (atomic os.replace)
    if prev is not None:
        for old in (_cents_path(index_dir, prev), _codes_path(index_dir, prev)):
            if old not in (cents_dir, codes_dir):
                shutil.rmtree(old, ignore_errors=True)


def probe_ivfpq_index(
    spark: SparkSession,
    index_dir: str,
    probes: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    exclude_self: bool = True,
    rerank_with: DataFrame | None = None,
    shortlist: int = 50,
    route: str = "auto",
    n_probes: int | None = None,
    probe_rows: list | None = None,
) -> DataFrame:
    """Top-k ANN against a prebuilt IVF-PQ index, no corpus vectors read:

    1. probes route through the SAVED centroids into their ``nprobe``
       nearest cells (ivf_assign — the identical router the build used);
    2. the probed cells' DISTINCT ids become a static partition filter
       on the codes scan (pruning at the source — a probe reads only
       its cells' directories, asserted in tests);
    3. each candidate is ADC-priced by the probes that probed ITS cell:
       per-(probe, cell) guarded literal branches (CASE cell → LUT
       fold, adc_score_sql), one explode, no join;
    4. top-k per probe by (adc_dist, neighbor_id) via the row_number
       window (WindowGroupLimit).

    ``route``: "literal" is the per-probe driver-compiled plan above
    (right for a handful of serving probes — zero joins); "bulk" is
    probe_ivfpq_bulk's distributed broadcast-join plan (right for
    decontamination-scale probe sets — plan size independent of the
    probe count); "auto" (default) counts the probe set with a bounded
    take(PROBE_LITERAL_MAX + 1) and picks — a large probe DataFrame can
    never silently compile a multi-MB literal plan.

    ``n_probes``: optional caller-supplied probe COUNT hint — when given,
    auto mode picks its route arithmetically and spends NO Spark job on
    the take. Serving paths that know their probe cardinality (the
    ann_topk TVF's single vector, a fixed probe slice) should pass it or
    pass route='literal' outright: besides the extra driver round-trip,
    the auto take also EVALUATES the probe lineage once more than the
    chosen route needs — expensive or nondeterministic probe inputs
    should be cached (or counted) by the caller. The hint only selects
    the route; a wrong hint still returns correct results, just on the
    less efficient plan (asserted in tests/test_pq.py).

    ``rerank_with``: the original embeddings relation — when given, the
    per-probe ADC ``shortlist`` joins back on vec_id (a bounded
    shortlist-sized shuffle) and EXACT squared L2 reranks to top-k; the
    recall then equals shortlist coverage (the pq_adc_rerank_topk
    two-stage contract). Returns (query_id, neighbor_id, adc_dist
    [, exact_dist], rk).

    ``probe_rows``: PREPARED-PROBE internal path (round 12, guide §5) —
    (pid, vector) pairs whose vectors are already driver-local doubles
    (exactly what ``probes`` would evaluate to; for unit-normalized
    probes use similarity.unit_vec_local). The literal route collects
    the probe relation to the driver anyway (the vectors parameterize
    the ADC/rerank literals), so a caller that already holds them skips
    the routing Spark job + probe-plan construction outright; cell
    routing runs through ivf_assign_local, the bit-exact driver twin of
    the literal assignment fold. Bounded by PROBE_LITERAL_MAX (it IS the
    literal route); ``probes`` may then be None. Results are identical
    to the collect route by construction (same doubles → same literal
    plan text), asserted in tests."""
    from entangledb_spark.operators.pq import adc_score_sql, exact_l2_case_sql

    if route not in ("auto", "literal", "bulk"):
        raise ValueError(f"route must be auto|literal|bulk, got {route!r}")
    if probe_rows is not None:
        if route == "bulk":
            raise ValueError(
                "probe_rows is the prepared literal route — it cannot be "
                "combined with route='bulk' (pass the probes DataFrame)"
            )
        if len(probe_rows) > PROBE_LITERAL_MAX:
            raise ValueError(
                f"probe_rows carries {len(probe_rows)} probes, over the "
                f"literal-route ceiling PROBE_LITERAL_MAX={PROBE_LITERAL_MAX}"
                " — use the bulk route with a probes DataFrame"
            )
        route = "literal"
    elif route == "auto":
        if n_probes is not None:
            if isinstance(n_probes, bool) or n_probes < 0:
                raise ValueError(f"n_probes must be a nonnegative int, got {n_probes!r}")
            route = "literal" if n_probes <= PROBE_LITERAL_MAX else "bulk"
        else:
            head = probes.select("vec_id").take(PROBE_LITERAL_MAX + 1)
            route = "literal" if len(head) <= PROBE_LITERAL_MAX else "bulk"
    if route == "bulk":
        return probe_ivfpq_bulk(
            spark,
            index_dir,
            probes,
            k=k,
            nprobe=nprobe,
            exclude_self=exclude_self,
            rerank_with=rerank_with,
            shortlist=shortlist,
        )
    meta = _read_meta(index_dir, "ivfpq")
    model = meta["pq_model"]
    by_residual = meta.get("by_residual", False)
    cent_rows = _centroid_rows_local(_cents_path(index_dir, meta), spark)
    raw_cents = {
        int(r.cell): [float(x) for x in r.centroid] for r in cent_rows
    }
    by_pid: dict = {}
    if probe_rows is not None:
        # prepared probes: cell routing runs driver-local (bit-exact twin
        # of the literal assignment fold) — no Spark job in the build
        from entangledb_spark.operators.similarity import ivf_assign_local

        for pid, vec, pcells in ivf_assign_local(
            probe_rows, cent_rows, nprobe=nprobe
        ):
            by_pid[int(pid)] = ([float(x) for x in vec], [int(c) for c in pcells])
    else:
        q = ivf_assign(probes, cent_rows, nprobe=nprobe).select(
            F.col("vec_id").alias("pid"), "embedding", "cell"
        )
        for r in q.collect():
            ent = by_pid.setdefault(
                int(r.pid), ([float(x) for x in r.embedding], [])
            )
            ent[1].append(int(r.cell))
    if not by_pid:  # legitimate empty probe set → typed empty result
        schema = "query_id long, neighbor_id long, adc_dist double, rk long"
        if rerank_with is not None:
            schema = (
                "query_id long, neighbor_id long, adc_dist double, "
                "exact_dist double, rk long"
            )
        return local_df(spark, [], schema)
    cells = sorted({c for _, pcells in by_pid.values() for c in pcells})
    # IN as ONE parsed SQL string: Column.isin() lifts every element
    # through its own py4j literal (~4 round-trips each — 136 for 32
    # cells, measured round 11); F.expr parses the same predicate in one.
    codes = _read_cached_schema(spark, _codes_path(index_dir, meta)).filter(
        F.expr(f"cell IN ({','.join(str(c) for c in cells)})")
    )
    branches = []
    for pid, (pvec, pcells) in sorted(by_pid.items()):
        if by_residual:
            # residual codes: the LUT depends on (probe − centroid_cell),
            # so each probed cell gets its own guarded branch — still at
            # most ONE non-null per (candidate, probe) since cells are
            # disjoint, and still probes × nprobe bounded branches
            for c in sorted(set(pcells)):
                pres = [a - b for a, b in zip(pvec, raw_cents[c])]
                branches.append(
                    f"CASE WHEN cell = {c} THEN "
                    f"struct(CAST({pid} AS BIGINT) AS probe_id, "
                    f"{adc_score_sql(model, pres, 'pq_code')} AS adc_dist) END"
                )
        else:
            guard = ",".join(str(c) for c in sorted(set(pcells)))
            branches.append(
                f"CASE WHEN cell IN ({guard}) THEN "
                f"struct(CAST({pid} AS BIGINT) AS probe_id, "
                f"{adc_score_sql(model, pvec, 'pq_code')} AS adc_dist) END"
            )
    scored = (
        codes.select(
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            F.explode(F.expr("array(" + ",".join(branches) + ")")).alias("_s"),
        )
        .filter(F.col("_s").isNotNull())
        .select(
            F.col("_s.probe_id").alias("query_id"),
            "neighbor_id",
            F.col("_s.adc_dist"),
        )
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    adc_rank = _probe_topk_rank("adc_dist", False)
    if rerank_with is None:
        return (
            scored.withColumn("rk", adc_rank.cast("long"))
            .filter(F.col("rk") <= k)
        )
    short = scored.withColumn("_ark", adc_rank).filter(
        F.col("_ark") <= shortlist
    )
    # the SHARED rerank expression (pq.exact_l2_case_sql) — the inline
    # two-stage search and this index probe cannot diverge on the math.
    # BROADCAST the shortlist side (round 11, guide §3.1): it is bounded
    # by |probes| × shortlist rows of (long, long, double) by
    # construction — the literal route itself caps probes at
    # PROBE_LITERAL_MAX — while ``rerank_with`` is the full corpus
    # relation. Without the hint Catalyst has no size estimate for the
    # windowed shortlist subtree and plans a sort-merge join that
    # SHUFFLES the corpus embeddings by vec_id; with it the corpus side
    # streams straight into a BroadcastHashJoin (no corpus exchange).
    rerank_rows = [(pid, pvec) for pid, (pvec, _) in sorted(by_pid.items())]
    # The stream side of this broadcast join evaluates the per-probe
    # 64-dim exact-distance CASE for every candidate, so its parallelism
    # is the corpus scan's split count — 2 splits for a single small
    # parquet file, which serialized ~90% of the probe's wall time at the
    # sf1 scaling fixture (2-task stage, ~2.7 s/task; guide §2: CPU-heavy
    # narrow map behind a narrow scan). repartition_for_cpu widens it to
    # the core count when (and only when) the scan is narrower than the
    # cluster; at production scale the byte guard makes it a no-op.
    from entangledb_spark.operators.dedup import repartition_for_cpu

    exact = (
        F.broadcast(short)
        .join(
            repartition_for_cpu(
                rerank_with.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
                spark,
            ),
            "neighbor_id",
        )
        .withColumn(
            "exact_dist",
            F.expr(exact_l2_case_sql(rerank_rows, "embedding", "query_id")),
        )
        .drop("embedding", "_ark")
    )
    return (
        exact.withColumn("rk", _probe_topk_rank("exact_dist", False).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "exact_dist", "rk")
    )


def probe_ivfpq_bulk(
    spark: SparkSession,
    index_dir: str,
    probes: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    exclude_self: bool = True,
    rerank_with: DataFrame | None = None,
    shortlist: int = 50,
) -> DataFrame:
    """Bulk-probe route: top-k ANN for MANY probes in one distributed
    join — the bm25_topk_bulk shape applied to vectors. Same semantics
    and results as probe_ivfpq_index's literal route (asserted at the r4
    grain in tests), but the probes stay DATA end to end, so the plan
    size is independent of the probe count:

    1. probes assign to their ``nprobe`` cells via the SAVED centroids
       (ivf_assign — literal fold under IVF_FOLD_MAX_CELLS, Arrow matmul
       above; the probe relation is never collected);
    2. each (probe, cell) row computes its ADC lookup tables as a COLUMN
       value (adc_lut_sql — the codebook is the only literal, ONE
       model-sized fold shared by all probes; Arrow above PQ_FOLD_MAX);
    3. the probed cells' DISTINCT ids (a bounded collect — at most
       n_cells ints however many probes there are, the bm25_topk_bulk
       bucket collect) become a static partition filter on the codes
       scan, so pruning is identical to the literal route;
    4. candidates broadcast-join the (query_id, cell, luts) relation on
       cell — a candidate is priced only by probes that probed ITS cell,
       exactly the literal route's guarded branches — and the ADC score
       is m element_at's against the joined LUT column
       (adc_lut_lookup_sql);
    5. per-probe top-k via the row_number window; with ``rerank_with``,
       the ADC ``shortlist`` joins back to the corpus embeddings and to
       a broadcast of the probe vectors for the EXACT squared-L2 rerank
       (the same fold the literal route compiles per probe).

    ``by_residual`` indexes work unchanged: the LUT input is the probe's
    residual against its probed cell's centroid (_residual_expr — the
    n_cells-bounded CASE), computed per (probe, cell) row.

    Broadcast budget, stated: the probe side ships |probes| x nprobe
    rows of (LUT = m x ksub doubles + id + cell) — ~1 KB/row at the
    default model, so ~100k probes x nprobe fit a 256 MB broadcast
    comfortably. Past that, drop to several bulk calls over probe
    slices; the per-slice results are independent (per-probe top-k).
    """
    from entangledb_spark.operators.pq import (
        PQ_FOLD_MAX,
        adc_lut_arrow,
        adc_lut_lookup_sql,
        adc_lut_sql,
    )

    meta = _read_meta(index_dir, "ivfpq")
    model = meta["pq_model"]
    by_residual = meta.get("by_residual", False)
    cent_rows = _centroid_rows_local(_cents_path(index_dir, meta), spark)
    assigned = ivf_assign(probes, cent_rows, nprobe=nprobe).select(
        F.col("vec_id").alias("query_id"), "embedding", "cell"
    )
    # distinct probed cells BEFORE the LUT attach (so this bounded collect
    # never evaluates LUT math); recomputing the narrow assignment for the
    # join below is one extra zero-shuffle pass over the probe relation
    cells = sorted(
        int(r.cell) for r in assigned.select("cell").distinct().collect()
    )
    if not cells:  # legitimate empty probe set → typed empty result
        schema = "query_id long, neighbor_id long, adc_dist double, rk long"
        if rerank_with is not None:
            schema = (
                "query_id long, neighbor_id long, adc_dist double, "
                "exact_dist double, rk long"
            )
        return local_df(spark, [], schema)
    if by_residual:
        # the LUT input is the residual vs the probed cell's RAW centroid
        # — per (probe, cell) row, matching the literal route's
        # per-(probe, cell) branches
        q = assigned.withColumn("_pvec", _residual_expr(cent_rows))
    else:
        q = assigned.withColumn(
            "_pvec", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        )
    dsub = model["dsub"]
    n_floats = sum(len(cb) * dsub for cb in model["codebooks"])
    if n_floats <= PQ_FOLD_MAX:
        q = q.withColumn("_luts", F.expr(adc_lut_sql(model, "_pvec")))
    else:
        q = adc_lut_arrow(q, model, "_pvec", "_luts")
    lutrel = q.select("query_id", "cell", "_luts")
    # one parsed IN predicate, not Column.isin — same rationale as the
    # literal route (isin lifts each cell id through its own py4j literal)
    codes = _read_cached_schema(spark, _codes_path(index_dir, meta)).filter(
        F.expr(f"cell IN ({','.join(str(c) for c in cells)})")
    )
    scored = codes.join(F.broadcast(lutrel), "cell").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(adc_lut_lookup_sql("pq_code", "_luts")).alias("adc_dist"),
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    adc_rank = _probe_topk_rank("adc_dist", False)
    if rerank_with is None:
        return (
            scored.withColumn("rk", adc_rank.cast("long"))
            .filter(F.col("rk") <= k)
        )
    short = scored.withColumn("_ark", adc_rank).filter(
        F.col("_ark") <= shortlist
    )
    pemb = probes.select(
        F.col("vec_id").alias("query_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("_qemb"),
    )
    exact = (
        short.join(
            rerank_with.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            "neighbor_id",
        )
        .join(F.broadcast(pemb), "query_id")
        .withColumn(
            "exact_dist",
            F.expr(
                "aggregate(zip_with(embedding, _qemb, "
                "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
                "CAST(0 AS DOUBLE), (a, v) -> a + v)"
            ),
        )
        .drop("embedding", "_qemb", "_ark")
    )
    return (
        exact.withColumn("rk", _probe_topk_rank("exact_dist", False).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "exact_dist", "rk")
    )


def stream_ivfpq_writer(
    index_dir: str,
    stream_df: DataFrame,
    stream_id: str,
    checkpoint_dir: str,
):
    """``writeStream`` builder maintaining the IVF-PQ index from an
    embedding stream (the text_index stream writer, vector edition):

        q = stream_ivfpq_writer(idx, src, "s1", ckpt)
        q.trigger(availableNow=True).start().awaitTermination()

    EXACTLY-ONCE despite foreachBatch's at-least-once delivery: each
    micro-batch appends under batch name ``{stream_id}-{batch_id}`` —
    idempotent by construction (dynamic partition overwrite of the
    batch's own directories + the batch-keyed vector ledger), and
    batches already folded by compact_ivfpq_index are skipped on
    replay. The index must already exist (build_ivfpq_index the base
    corpus first); new vectors encode with the SAVED centroids and
    codebooks, so existing codes never shift."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        build_ivfpq_index(
            batch_df,
            index_dir,
            mode="append",
            batch=f"{stream_id}-{batch_id}",
        )

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def compact_ivfpq_index(spark: SparkSession, index_dir: str) -> None:
    """Fold all append batches back into one ``base`` batch — the
    maintenance pass for long-running embedding streams (many small
    per-batch files accumulate listing cost at probe time).

    The text_index commit protocol: one read → one partitioned rewrite
    into a fresh versioned directory (``codes_v{N}``), then ONE atomic
    commit — os.replace of the meta file flips the ``codes_dir``
    pointer. A crash at any point leaves the index consistent (before
    the swap the old layout is live; after it only the old dir lingers
    until best-effort cleanup). Folded batch names move to
    ``meta["folded"]`` so a foreachBatch replay of a compacted batch is
    skipped — exactly-once across compactions. Serialize against an
    actively COMMITTING stream trigger (run between triggers or with
    the stream stopped). Probe results are identical before and after."""
    import shutil

    meta = _read_meta(index_dir, "ivfpq")
    cur = _codes_path(index_dir, meta)
    version = int(meta.get("version", 0)) + 1
    new_name, staging = staging_dir(index_dir, "codes", version)
    (
        spark.read.parquet(cur)
        .select("vec_id", "cell", "pq_code")
        .withColumn("batch", F.lit("base"))
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("batch", "cell")
        .parquet(staging)
    )
    # THE commit point (one atomic meta replace: pointer + ledger + folded)
    old = compact_commit(index_dir, meta, "codes_dir", "codes", new_name, version)
    shutil.rmtree(old, ignore_errors=True)
