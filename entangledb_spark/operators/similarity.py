"""Similarity search over embedding columns (beyond parity).

Brute-force cosine top-k is the correctness baseline; sign-random-projection
LSH bucketing and IVF (inverted-file, centroid-routed) are the scale paths.

All vector math uses built-in higher-order functions (zip_with + aggregate)
— JVM codegen, Arrow-free, no Python in the hot path. At 100 TB the
brute-force path is only ever run with a small probe set (it's O(|Q|·|N|));
the LSH/IVF paths bound the candidate set per query to one bucket/cell.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from entangledb_spark.functions.exprmemo import expr_template
from entangledb_spark.functions.numeric import r4, r6
from entangledb_spark.operators.text import knuth_key_sql as _knuth_key_sql
from entangledb_spark.registry import query, table
from entangledb_spark.session import local_df

N_HYPERPLANES = 4  # sign-LSH code width per table → 16 buckets
N_LSH_TABLES = 6  # independent hash tables; candidates = union over tables
N_IVF_CELLS = 16  # IVF coarse cells


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate — stays in codegen."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


@expr_template
def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity between two float-array columns (cast to double
    element-wise first so accumulation matches the DuckDB oracle).
    Accepts column NAMES (template memoized — the fold is ~150 py4j
    round-trips to construct) or live Columns.

    The casted arrays are let-bound (fingerprints._let): each feeds both
    the dot product and its own norm, and HOF expressions get no codegen
    subexpression elimination, so the inline form ran every cast
    transform twice per pair — ~20% of the LSH-probe candidate stage's
    CPU at the sf1 scaling fixture. Same element ops and fold order,
    bit-identical values."""
    from entangledb_spark.operators.fingerprints import _let

    if isinstance(a, str):
        a = F.col(a)
    if isinstance(b, str):
        b = F.col(b)
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _let(
        ad,
        lambda A: _let(bd, lambda B: dot(A, B) / (norm(A) * norm(B))),
    )


@query(
    "q70_ann_bruteforce_topk",
    oracle="""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    sims AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             r4(list_dot_product(q.emb, n.emb)
                / (sqrt(list_dot_product(q.emb, q.emb))
                   * sqrt(list_dot_product(n.emb, n.emb)))) AS cos_sim
      FROM vecs q JOIN vecs n ON q.vec_id <> n.vec_id
      WHERE q.vec_id < 5
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM sims
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    """,
)
def q70_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for a fixed probe set (vec_id < 5).

    Ranking is on the ROUNDED similarity with neighbor_id tiebreak so both
    engines rank identically despite last-bit float differences.
    Scale: probe set broadcasts; each corpus partition computes its local
    candidates; WindowGroupLimit keeps per-partition top-k before the final
    per-query merge."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = F.broadcast(e.filter(F.col("vec_id") < 5)).alias("q")
    n = e.alias("n")
    sim = (
        q.join(n, F.col("q.vec_id") != F.col("n.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("n.vec_id").alias("neighbor_id"),
            r4(cosine_sim("q.embedding", "n.embedding")).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        sim.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
    )


def srp_bucket(
    vec: Column,
    n_planes: int = N_HYPERPLANES,
    table_seed: int = 0,
    sign: str = "xxhash64",
) -> Column:
    """Sign-random-projection LSH bucket id for one hash table.

    Hyperplane h's component for dimension i is a deterministic
    pseudo-random ±1 — reproducible on any cluster, no RNG state to
    ship. Bucket = integer of sign bits. ``sign`` picks the derivation:
    "xxhash64" (production — xxhash64(table_seed, h, i) parity) or "md5"
    (the q73 gate twin: parity of the first 8 md5 hex chars of
    '"seed,h,i"', which DuckDB re-derives exactly; the dot product folds
    left-to-right on BOTH engines over identical ±vec elements, so the
    sign comparison is bit-deterministic — no float-margin caveat)."""
    dims = F.sequence(F.lit(0), F.size(vec) - 1)
    planes = F.sequence(F.lit(0), F.lit(n_planes - 1))
    if sign == "md5":
        def plane_sign(h, i):
            key = F.concat_ws(
                ",", F.lit(str(table_seed)), h.cast("string"), i.cast("string")
            )
            parity = F.pmod(
                F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long"), F.lit(2)
            )
            return F.when(parity == 0, 1.0).otherwise(-1.0)
    else:
        def plane_sign(h, i):
            return F.when(
                F.pmod(F.xxhash64(F.lit(table_seed), h, i), F.lit(2)) == 0, 1.0
            ).otherwise(-1.0)

    return F.aggregate(
        planes,
        F.lit(0).cast("long"),
        lambda acc, h: acc * 2
        + F.when(
            F.aggregate(
                F.zip_with(
                    vec, dims, lambda x, i: x.cast("double") * plane_sign(h, i)
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            )
            > 0,
            1,
        ).otherwise(0),
    )


@expr_template
def _bucket_array(n_tables: int, n_planes: int, sign: str) -> Column:
    """Template: per-table (tbl, bucket) struct array over `embedding` —
    ~1,400 py4j round-trips to build (srp_bucket's nested HOFs × tables),
    identical every time, so it is built once per process (exprmemo)."""
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                srp_bucket(
                    F.col("embedding"), n_planes=n_planes, table_seed=t, sign=sign
                ).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )


def lsh_bucket_codes(
    df: DataFrame,
    n_tables: int = N_LSH_TABLES,
    n_planes: int = N_HYPERPLANES,
    sign: str = "xxhash64",
) -> DataFrame:
    """(vec_id, embedding) → one row per (vec_id, tbl, bucket): each
    vector's sign-LSH bucket id in every hash table, as a codegen'd narrow
    map + explode. Shared by the inline ANN path and the persistent index
    builder (operators/ann_index.py) so the hash family can never diverge
    between them. ``sign`` = "md5" swaps in the DuckDB-derivable plane
    family for the q73 gate twin (srp_bucket)."""
    buckets = _bucket_array(n_tables, n_planes, sign)
    return df.select("vec_id", "embedding", F.explode(buckets).alias("tb")).select(
        "vec_id", "embedding", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
    )


def expand_multiprobe(
    codes: DataFrame, n_planes: int = N_HYPERPLANES, n_flips: int = 1
) -> DataFrame:
    """Multi-probe expansion of PROBE-side bucket codes: each (tbl, bucket)
    row additionally probes every bucket within Hamming distance
    ``n_flips`` of its code (n_flips=1 → the n_planes single-bit flips —
    the standard multi-probe LSH trick: a vector near a hyperplane falls
    on the wrong side of exactly that one sign bit, so its true neighbors
    sit one bit away; n_flips=2 adds all two-bit flips for another recall
    step at C(n_planes,2) more probe buckets). Probe cost grows
    ×Σ C(n_planes, r) on the TINY probe side only; the corpus/index side
    is untouched — recall rises without re-hashing or growing the
    index."""
    if n_flips <= 0:
        return codes
    return codes.withColumn("bucket", F.explode(_flips_array(n_planes, n_flips)))


@expr_template
def _flips_array(n_planes: int, n_flips: int) -> Column:
    """Template: the Hamming-ball bucket-flip array over `bucket`."""
    from itertools import combinations

    masks = [0]
    for r in range(1, n_flips + 1):
        for bits in combinations(range(n_planes), r):
            masks.append(sum(1 << b for b in bits))
    return F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])


def ann_lsh_bucketed(
    spark: SparkSession, sf_dir: str, sign: str = "xxhash64"
) -> DataFrame:
    """Multi-table LSH ANN: each vector gets N_LSH_TABLES independent
    sign-LSH bucket ids (exploded to one row per table); candidates are
    pairs sharing a bucket in ANY table (distinct-deduped), then exact
    cosine re-ranks the candidates. The probe side is multi-probe-expanded
    (one-bit flips; see expand_multiprobe) — measured at sf0.001 this
    lifts average top-5 recall from 0.44 to the level asserted in
    tests/test_skew_bucketing.py.

    The candidate join is an equi-join on (table, bucket) → hash-
    partitioned, no cross product anywhere. This is the 100 TB shape:
    recall tunes with table count / plane count / multi-probe, cost stays
    O(collisions)."""
    from entangledb_spark.operators.dedup import repartition_for_cpu

    e = repartition_for_cpu(
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding"), spark
    )
    with_b = lsh_bucket_codes(e, sign=sign)
    q = expand_multiprobe(with_b.filter(F.col("vec_id") < 20)).alias("q")
    n = with_b.alias("n")
    cands = (
        q.join(
            n,
            (F.col("q.tbl") == F.col("n.tbl"))
            & (F.col("q.bucket") == F.col("n.bucket"))
            & (F.col("q.vec_id") != F.col("n.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("n.vec_id").alias("neighbor_id"),
            F.col("q.embedding").alias("q_emb"),
            F.col("n.embedding").alias("n_emb"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        cands.withColumn("cos_sim", r4(cosine_sim("q_emb", "n_emb")))
        .drop("q_emb", "n_emb")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
    )


# Per-process cache of built LSH index dirs, keyed by (sf_dir, primitive
# variant): the gate query may be invoked several times in one session
# (plan-invariant fixtures, driver re-runs) — the index builds once and
# every later call goes straight to the probe.
_LSH_INDEX_CACHE: dict[tuple[str, str], str] = {}

# Prepared-probe PLAN cache (round 12 — the VERDICT q71 item: "bind probe
# vectors into a reusable plan"): the q71 branch probes are fixed
# statements (same index dir, same vec_id < 20 probe slice), yet each call
# re-assembled an identical ~100-500-round-trip probe plan. The cache
# holds the lazy DataFrame only — every action re-scans the parquet
# inputs — keyed by (sf_dir, primitive, session identity, embeddings
# mtime) so a rewritten fixture or a new session rebuilds. This is the
# serving-path prepared statement; the dialect front-end got the same
# treatment (operators/dialect._PLAN_CACHE).
_PROBE_PLAN_CACHE: dict[tuple, DataFrame] = {}


def _emb_mtime(sf_dir: str) -> float:
    import os

    try:
        return os.path.getmtime(os.path.join(sf_dir, "embeddings.parquet"))
    except OSError:
        return -1.0


def ann_lsh_indexed(
    spark: SparkSession, sf_dir: str, sign: str = "xxhash64"
) -> DataFrame:
    """LSH ANN routed through the PERSISTENT index (operators/ann_index):
    build_lsh_index writes bucket codes as parquet PARTITIONED BY
    (tbl, bucket) into a per-run tmp dir, then probe_lsh_index joins the
    probe set against it with file-level partition pruning. Row-identical
    to the inline ann_lsh_bucketed at the same ``sign`` (asserted in
    tests/test_ann_index.py) — this is the build-once/probe-many serving
    shape, and routing the gate query through it keeps the index
    machinery on the driver gate. ``sign`` is the hyperplane primitive
    (srp_bucket): production xxhash64, or the q71 gate's md5 twin."""
    import tempfile

    from entangledb_spark.operators.ann_index import build_lsh_index, probe_lsh_index
    from entangledb_spark.operators.dedup import repartition_for_cpu

    pkey = ("lsh", sf_dir, sign, spark, _emb_mtime(sf_dir))
    plan = _PROBE_PLAN_CACHE.get(pkey)
    if plan is not None:
        return plan
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = _LSH_INDEX_CACHE.get((sf_dir, sign))
    if idx is None:
        idx = tempfile.mkdtemp(prefix="entangledb-lsh-index-")
        # the BUILD is the corpus-wide CPU pass — spread it across cores;
        # the probe side below never needs that shuffle
        build_lsh_index(repartition_for_cpu(e, spark), idx, sign=sign)
        _LSH_INDEX_CACHE[(sf_dir, sign)] = idx
    # probe relation from the RAW scan: vec_id < 20 reaches the parquet
    # reader as a PushedFilter, so a probe reads ~20 rows instead of
    # round-robin-shuffling the whole corpus first (round 11 — the old
    # probe lineage went through repartition_for_cpu; at 100 TB that is
    # a full-corpus exchange to extract a handful of probe vectors)
    plan = probe_lsh_index(spark, idx, e.filter(F.col("vec_id") < 20), k=5)
    _PROBE_PLAN_CACHE[pkey] = plan
    return plan


_IVF_INDEX_CACHE: dict[tuple[str, str], str] = {}


def ann_ivf_indexed(
    spark: SparkSession, sf_dir: str, cell_base: str = "xxhash64"
) -> DataFrame:
    """IVF ANN routed through the PERSISTENT index (operators/ann_index):
    build_ivf_index saves centroids + cell-partitioned assignments to a
    per-run tmp dir once per process; probes route through the SAVED
    centroids into pruned cell partitions. Row-identical to the inline
    ann_ivf (tests/test_ann_index.py::test_ivf_probe_matches_inline_
    pipeline), so routing q71's IVF branch through it — symmetric with
    the round-4 LSH routing — keeps BOTH persistent-index paths on the
    driver gate. ``cell_base`` picks the medoid-seed primitive
    (ann_index._cell_expr_for): production xxhash64 or the q71 gate's
    knuth twin."""
    import tempfile

    from entangledb_spark.operators.ann_index import build_ivf_index, probe_ivf_index
    from entangledb_spark.operators.dedup import repartition_for_cpu

    pkey = ("ivf", sf_dir, cell_base, spark, _emb_mtime(sf_dir))
    plan = _PROBE_PLAN_CACHE.get(pkey)
    if plan is not None:
        return plan
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = _IVF_INDEX_CACHE.get((sf_dir, cell_base))
    if idx is None:
        idx = tempfile.mkdtemp(prefix="entangledb-ivf-index-")
        # build = corpus-wide assignment pass → spread across cores; the
        # probe path reads ~20 rows via the pushed vec_id filter instead
        # (see ann_lsh_indexed)
        build_ivf_index(
            repartition_for_cpu(e, spark), idx, n_cells=N_IVF_CELLS, cell_base=cell_base
        )
        _IVF_INDEX_CACHE[(sf_dir, cell_base)] = idx
    plan = probe_ivf_index(spark, idx, e.filter(F.col("vec_id") < 20), k=5)
    _PROBE_PLAN_CACHE[pkey] = plan
    return plan


def _unit_probe_rows_local(sf_dir: str):
    """q71's probe slice (vec_id < 20) read ON THE DRIVER via pyarrow and
    unit-normalized with unit_vec_local — _centroid_rows_local's rationale
    applied to the probe side: the literal IVF-PQ probe route collects
    exactly these rows to the driver regardless (they parameterize the
    ADC/rerank literals), so evaluating the 20-row lineage as a Spark job
    per probe build spent a full job + scheduler round on data that ends
    up driver-local anyway. Bounded by the probe predicate (20 rows) at
    any corpus scale — the predicate IS the pyarrow filter. Returns None
    on any surprise (remote fs, missing file, zero-norm vector): callers
    fall back to the Spark-evaluated probe relation."""
    import os

    try:
        import pyarrow.parquet as _pq

        t = _pq.read_table(
            os.path.join(sf_dir, "embeddings.parquet"),
            columns=["vec_id", "embedding"],
            filters=[("vec_id", "<", 20)],
        )
        out = []
        for rec in t.to_pylist():
            u = unit_vec_local(rec["embedding"])
            if u is None:
                return None
            out.append((int(rec["vec_id"]), u))
        return sorted(out)
    except Exception:  # noqa: BLE001 — remote fs / layout surprises
        return None


_IVFPQ_INDEX_CACHE: dict[tuple[str, str], str] = {}


@expr_template
def _unit_embedding_expr() -> Column:
    """Template: unit-normalize the `embedding` float array. Cast to
    double BEFORE squaring so the norm is the double-precision fold the
    DuckDB oracle re-derives bit-identically (squaring the raw float32
    elements would round each square to float32 first — a ~1e-8 relative
    divergence that the q71 gate's raw-distance rank ordering cannot
    tolerate; r4-rounded outputs never saw it).

    Both the casted array and its norm are LET-BOUND (fingerprints._let):
    capturing ``norm(emb_d)`` inside the division lambda re-evaluates the
    whole cast+square+fold pipeline once PER ELEMENT — O(dim²) per row,
    measured as ~90% of the warm IVF-PQ probe wall at the sf1 scaling
    fixture (6.5 s of CPU on a 2-task stage to normalize 20k vectors).
    Same doubles, same fold order — bit-identical results, ~dim× less
    work."""
    from entangledb_spark.operators.fingerprints import _let

    emb_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return _let(
        emb_d, lambda e: _let(norm(e), lambda n: F.transform(e, lambda x: x / n))
    )


def ann_ivfpq_indexed(
    spark: SparkSession,
    sf_dir: str,
    cell_base: str = "xxhash64",
    shortlist: int = 100,
) -> DataFrame:
    """IVF-PQ ANN through the persistent code index (the FAISS serving
    architecture, operators/ann_index.build/probe_ivfpq_index): the
    corpus is UNIT-NORMALIZED first (the standard cosine-ANN prep —
    on unit vectors ‖a−b‖² = 2 − 2·cos, so the ADC/rerank L2 ordering
    IS the cosine ordering and cos_sim = 1 − d/2 exactly), codes live
    parquet-partitioned by IVF cell with the trained codebooks persisted
    as index meta, and probes prune to their nprobe cells then exact-
    rerank the bounded ADC shortlist. Same (query_id, neighbor_id,
    cos_sim, rk) shape as the other two strategies."""
    import tempfile

    from entangledb_spark.operators.ann_index import (
        build_ivfpq_index,
        probe_ivfpq_index,
    )
    from entangledb_spark.operators.dedup import repartition_for_cpu

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def _unit(df: DataFrame) -> DataFrame:
        return df.select("vec_id", _unit_embedding_expr().alias("embedding"))

    pkey = ("ivfpq", sf_dir, cell_base, shortlist, spark, _emb_mtime(sf_dir))
    plan = _PROBE_PLAN_CACHE.get(pkey)
    if plan is not None:
        return plan
    idx = _IVFPQ_INDEX_CACHE.get((sf_dir, cell_base))
    if idx is None:
        from entangledb_spark.operators.dedup import repartition_for_cpu

        idx = tempfile.mkdtemp(prefix="entangledb-ivfpq-index-")
        # build normalizes + encodes the WHOLE corpus → spread across cores
        build_ivfpq_index(
            _unit(repartition_for_cpu(e, spark)),
            idx,
            n_cells=N_IVF_CELLS,
            m=4,
            ksub=16,
            pq_refine=1,
            cell_base=cell_base,
        )
        _IVFPQ_INDEX_CACHE[(sf_dir, cell_base)] = idx
    # probe + rerank sides normalize per row, so filter-then-normalize is
    # row-identical to the old normalize-then-filter; both now read the
    # RAW scan (probe: PushedFilter vec_id < 20; rerank: the shortlist
    # join bounds what is evaluated) instead of a full-corpus round-robin
    # exchange per probe. Round 12 (guide §5, the VERDICT prepared-probe
    # item): the probe vectors are read ON THE DRIVER via pyarrow and
    # unit-normalized with the bit-exact local twin — the literal probe
    # route collects exactly these rows to the driver anyway (they
    # parameterize the ADC/rerank literals), so the prepared path drops
    # the per-build routing Spark job AND the probe-plan construction
    # round-trips; results are byte-identical (same doubles → same
    # literal plan text, asserted in tests). Falls back to the Spark-
    # evaluated probe relation on any surprise (remote fs, zero-norm row),
    # where n_probes=20 keeps route=auto's bounded take() job skipped.
    prepared = _unit_probe_rows_local(sf_dir)
    if prepared is not None:
        hits = probe_ivfpq_index(
            spark,
            idx,
            None,
            k=5,
            nprobe=2,
            rerank_with=_unit(e),
            shortlist=shortlist,
            probe_rows=prepared,
        )
    else:
        hits = probe_ivfpq_index(
            spark,
            idx,
            _unit(e.filter(F.col("vec_id") < 20)),
            k=5,
            nprobe=2,
            rerank_with=_unit(e),
            shortlist=shortlist,
            n_probes=20,
        )
    plan = hits.select(
        "query_id",
        "neighbor_id",
        r4(1.0 - F.col("exact_dist") / 2.0).alias("cos_sim"),
        "rk",
    )
    _PROBE_PLAN_CACHE[pkey] = plan
    return plan


def ivf_centroids(
    e: DataFrame, n_cells: int = N_IVF_CELLS, refine: int = 0, cell_expr=None
) -> DataFrame:
    """Deterministic medoid centroids: per cell (xxhash64(vec_id) mod
    n_cells), the lowest-vec_id member — reproducible without k-means
    iterations or RNG state. Shared by the inline path and the persistent
    index builder.

    The hash pick is effectively a random sample — fine for routing
    determinism, weak for clustered embeddings. ``refine`` > 0 runs that
    many Lloyd rounds on top: assign every vector to its nearest current
    centroid (broadcast join, one narrow pass) and replace each centroid
    with its cell's component-wise mean. Each round is one corpus pass +
    one tiny aggregation; the refined centroids are rounded to 6 decimals
    (the r6 floor formula, NOT engine ROUND — so DuckDB's ``floor(avg(x)
    * 1e6 + 0.5)/1e6`` re-derives the identical grid double and the
    refined assignment can sit on a hash gate) so distributed-summation
    float noise (order-dependent at ~1e-15 relative) cannot make re-runs
    diverge. Cells that lose every member simply disappear (fewer,
    denser cells).

    ``cell_expr`` overrides the seed-bucketing Column (default
    xxhash64(vec_id) mod n_cells) — pass a knuth_bucket expression when
    the medoid pick must be re-derivable in DuckDB SQL (xxhash64 is not;
    the q73 semantic-dedup gate columns use this)."""
    cell_of = (
        cell_expr
        if cell_expr is not None
        else F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_cells))
    )
    # min_by, not a row_number window: the medoid pick is a declarative
    # aggregate with MAP-SIDE partial combine — each input partition
    # reduces to ≤ n_cells rows before the (tiny) shuffle, where the
    # window form sort-shuffles the whole corpus by cell first.
    cents = (
        e.withColumn("cell", cell_of)
        .groupBy("cell")
        .agg(F.min_by("embedding", "vec_id").alias("centroid"))
    )
    for _ in range(refine):
        assigned = ivf_assign(e, cents)
        cents = (
            assigned.select("cell", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(r6(F.avg("v")).alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("centroid")
            )
        )
    return cents


def _unit_centroid_floats(vec) -> list[float]:
    """The exact unit-centroid doubles _unit_vec_sql folds into literal
    plans — ONE implementation so the driver-local assignment twin
    (ivf_assign_local) and the SQL literal route cannot drift by a bit."""
    import math

    n = math.sqrt(sum(float(x) * float(x) for x in vec)) or 1.0
    return [float(x) / n for x in vec]


def _unit_vec_sql(vec) -> str:
    """SQL literal for the unit-normalized vector — the centroid-folding
    building block shared by ivf_assign and the semantic-dedup cent_sim
    lookup (assembled as ONE string; see ivf_assign's driver-cost note).
    ``repr`` round-trips shortest-exact, and the JVM's string→double cast
    is correctly rounded, so the parsed literal is bit-identical to the
    Python double."""
    return (
        "array("
        + ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in _unit_centroid_floats(vec))
        + ")"
    )


def unit_vec_local(vec) -> list[float] | None:
    """Driver-local twin of _unit_embedding_expr's float math (cast each
    float32 element to double — exact — then divide by the left-to-right
    IEEE fold of squares). +, *, / and sqrt are correctly rounded in both
    runtimes, so same inputs + same operation order = identical bits;
    asserted as EQUALITY (no tolerance) against the Spark expression in
    tests/test_ann_index.py. Returns None for a zero/non-finite norm —
    callers must fall back to the Spark expression there (Spark's x/0.0
    semantics are not replicated)."""
    import math

    ed = [float(x) for x in vec]
    acc = 0.0
    for x in ed:
        acc = acc + x * x
    n = math.sqrt(acc)
    if n == 0.0 or n != n or n == float("inf"):
        return None
    return [x / n for x in ed]


def ivf_assign_local(vecs, centroids, nprobe: int = 1):
    """Driver-local twin of ivf_assign's LITERAL route, for probe vectors
    that are ALREADY on the driver (the prepared-probe serving path —
    probe_ivfpq_index(probe_rows=...)). Replicates the fold bit for bit:
    unit centroids via _unit_centroid_floats (the same doubles the SQL
    literal parses back), dist = -(left-to-right IEEE sum of x·y), order
    by (dist, cell) ascending — exactly array_sort's struct ordering.
    Route equivalence is asserted as EQUALITY on the fixtures
    (tests/test_ann_index.py::test_prepared_probe_rows_match_spark_route).

    ``vecs``: iterable of (pid, vector) with vector elements already the
    doubles the Spark probe relation would carry (unit_vec_local output
    for unit-normalized probes). Returns [(pid, vector, [top-nprobe
    cells])] in input order."""
    rows = sorted(centroids, key=lambda r: r.cell)
    cents = [(int(r.cell), _unit_centroid_floats(r.centroid)) for r in rows]
    out = []
    for pid, v in vecs:
        scored = []
        for cell, uc in cents:
            acc = 0.0
            for x, y in zip(v, uc):
                acc = acc + float(x) * y
            if acc != acc:  # NaN would corrupt the tuple sort silently
                raise ValueError("non-finite distance in ivf_assign_local")
            scored.append((-acc, cell))
        scored.sort()
        out.append((pid, v, [c for _, c in scored[: int(nprobe)]]))
    return out


# Literal-folding ceiling for nearest-centroid assignment: each folded
# centroid costs ~20 chars per dimension of SQL text and O(1) codegen'd
# work per row, so 256 cells x 1000 dims ~ 5 MB of plan text is the
# practical edge (Janino method-size limits and plan-transfer cost bite
# well before correctness does). Above it, ivf_assign auto-routes to the
# Arrow matmul path (_ivf_assign_arrow) — SemDeDup's own operating point
# (the paper runs 50k clusters) lives on that route.
IVF_FOLD_MAX_CELLS = 256


def ivf_assign(
    df: DataFrame,
    centroids,
    nprobe: int = 1,
    route: str = "auto",
    emb_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment; two physical routes, same semantics.

    ``route="literal"`` (default below IVF_FOLD_MAX_CELLS cells) — ONE
    narrow codegen'd map: the ≤ n_cells centroid rows are constant-folded
    into a literal struct-array expression (the same bounded-collect
    pattern the plan compiler uses for scalar subqueries), per-row
    distances are sorted with array_sort — dist then cell, the exact
    (dist, cell) ordering the previous window form used — and the top
    ``nprobe`` cells keep the row.

    ``route="arrow"`` (auto above the ceiling) — the centroids become a
    broadcast numpy matrix and assignment is one Arrow-batched mapInPandas
    matmul (BLAS (batch x d) @ (d x cells), stable argsort with the same
    (dist, cell) tie order). Still zero Exchange and embarrassingly
    parallel; the Python boundary costs one Arrow hop, which at 50k cells
    is orders cheaper than a multi-MB literal plan — and the only
    built-in-free piece is the argmin itself. Route equivalence is
    asserted on fixtures in test_embedding_dedup.py::test_ivf_assign_routes
    (identical cells; float summation order differs between a BLAS matmul
    and a SQL fold, so equality holds because assignment margins are
    measured >> 1e-12, see test_semdedup_gate_assignment_margin).

    The earlier shape (broadcast crossJoin + row_number window) expanded
    the corpus ×n_cells and then SHUFFLED the expansion by vec_id to
    rank it — at 100 TB that's a full-corpus sort exchange for what is
    an O(n_cells) per-row argmin. Now there is no exchange at all:
    corpus assignment is embarrassingly parallel, and ``nprobe`` > 1
    (probe side only — corpus vectors always live in exactly their
    top-1 cell) costs only the slice width.

    Distances are NEGATIVE DOT PRODUCTS against UNIT-NORMALIZED
    centroids — the row's own norm is a positive per-row constant, so
    the (dist, cell) ordering is exactly the cosine ordering while the
    centroid norms fold into the literals (the standard FAISS
    inner-product trick); per row that halves the array passes AND the
    expression is assembled as ONE SQL string (hundreds of nested
    Column-API calls cost ~3 s of driver round-trips per plan).

    ``centroids`` may be the centroid DataFrame or an already-collected
    row list — callers assigning BOTH a corpus and a probe side against
    the same centroids should collect once and pass the rows to both
    calls (a DataFrame is lazily recomputed per collect).

    All input columns are PRESERVED (output = df's columns + ``cell``;
    with nprobe > 1 each row repeats once per probed cell) — callers
    that shuffle the assignment afterwards should pre-project to the
    columns they need so the exchange stays narrow."""
    if "cell" in df.columns:
        raise ValueError(
            "ivf_assign appends a 'cell' column but the input already has "
            "one — rename or drop it first (a silent duplicate name would "
            "break every downstream selection)"
        )
    if isinstance(centroids, DataFrame):
        centroids = centroids.select("cell", "centroid").collect()
    rows = sorted(centroids, key=lambda r: r.cell)
    if route == "auto":
        route = "literal" if len(rows) <= IVF_FOLD_MAX_CELLS else "arrow"
    if route == "arrow":
        return _ivf_assign_arrow(df, rows, nprobe, emb_col)
    unit_lit = _unit_vec_sql

    structs = ",".join(
        f"struct(-aggregate(zip_with({emb_col}, "
        f"{unit_lit(r.centroid)}, (x, y) -> CAST(x AS DOUBLE) * y), "
        "CAST(0 AS DOUBLE), (a, v) -> a + v) AS dist, "
        f"CAST({int(r.cell)} AS BIGINT) AS cell)"
        for r in rows
    )
    top = F.expr(f"slice(array_sort(array({structs})), 1, {int(nprobe)})")
    return df.select("*", F.explode(top).alias("_tc")).select(
        *df.columns, F.col("_tc.cell").alias("cell")
    )


def _ivf_assign_arrow(df: DataFrame, rows, nprobe: int, emb_col: str = "embedding") -> DataFrame:
    """Large-n_cells assignment route (see ivf_assign): broadcast the
    unit-centroid matrix once per job, then one Arrow-batched matmul per
    input batch. Tie order matches the literal route exactly: the matrix
    columns are sorted by ascending cell id, so a STABLE argsort on
    distance breaks ties to the lower cell — the literal route's
    (dist, cell) struct ordering."""
    import math

    import numpy as np
    from pyspark.sql import types as T

    from entangledb_spark.deploy import ensure_shipped

    spark = df.sparkSession
    ensure_shipped(spark)
    cells = np.array([int(r.cell) for r in rows], dtype=np.int64)
    mats = []
    for r in rows:
        v = [float(x) for x in r.centroid]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        mats.append([x / n for x in v])
    mat = np.array(mats, dtype=np.float64).T  # (d, n_cells), cell-ascending
    bc = spark.sparkContext.broadcast((cells, mat))
    p = int(nprobe)

    schema = T.StructType(
        list(df.schema.fields) + [T.StructField("cell", T.LongType())]
    )

    def assign_batches(batches):
        import numpy as _np

        b_cells, b_mat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = _np.array(pdf[emb_col].tolist(), dtype=_np.float64)
            dist = -(v @ b_mat)  # (batch, n_cells)
            order = _np.argsort(dist, axis=1, kind="stable")[:, :p]
            out = pdf.iloc[_np.arange(len(pdf)).repeat(p)].copy()
            out["cell"] = b_cells[order].ravel()
            yield out

    return df.mapInPandas(assign_batches, schema)


def ann_ivf(
    spark: SparkSession, sf_dir: str, refine: int = 0, nprobe: int = 2
) -> DataFrame:
    """IVF-style ANN: N_IVF_CELLS deterministic seed vectors act as coarse
    centroids (medoid = the vector whose xxhash64(vec_id) mod cells == cell
    with the lowest vec_id — reproducible without k-means iterations);
    every vector is assigned to its nearest centroid; queries search their
    ``nprobe`` nearest cells (default 2 — measured avg top-5 recall at
    sf0.001: 0.88/0.92/0.96 for nprobe 1/2/3; the extra cells cost only
    probe-proportional work).

    ``refine`` runs Lloyd rounds on the centroids (see ivf_centroids).
    Measured honestly: on this fixture's near-uniform embeddings
    refinement LOWERS recall (0.88→0.72 at nprobe=1) — tighter cells push
    boundary queries' neighbors into adjacent cells; it exists for
    genuinely clustered corpora where the hash-medoid Voronoi partition
    is far from the data's true clusters. tests/test_skew_bucketing.py
    pins both measurements.

    At scale the cell assignment is one broadcast join (centroids are tiny)
    + one narrow map; per-cell candidate lists can additionally be stored
    bucketed-by-cell so probes prune at the file level."""
    from entangledb_spark.operators.dedup import repartition_for_cpu

    e = repartition_for_cpu(
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding"), spark
    )
    cent_rows = ivf_centroids(e, refine=refine).select("cell", "centroid").collect()
    assigned = ivf_assign(e, cent_rows)
    q = ivf_assign(
        e.filter(F.col("vec_id") < 20), cent_rows, nprobe=nprobe
    ).alias("q")
    n = assigned.alias("n")
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        q.join(
            n,
            (F.col("q.cell") == F.col("n.cell")) & (F.col("q.vec_id") != F.col("n.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("n.vec_id").alias("neighbor_id"),
            F.col("q.cell").alias("cell"),
            r4(cosine_sim("q.embedding", "n.embedding")).alias("cos_sim"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
    )


def lsh_gate_summary(emb: DataFrame) -> DataFrame:
    """Per-vector sign-LSH gate columns (vec_id, lsh0, n_lsh_partners)
    through the REAL lsh_bucket_codes/srp_bucket path with the md5 plane
    family (the minhash-twin recipe for q71's last ungated internals):
    lsh0 = table-0 bucket code, n_lsh_partners = distinct other vectors
    sharing a (tbl, bucket) cell in ANY of the N_LSH_TABLES tables — the
    multi-table candidate join itself, cross-engine. Bit-deterministic:
    both engines fold the projection left-to-right over identical
    ±element lists, so even the sign comparisons agree exactly.

    codes is persisted before the self-join (the q62 lesson: the two
    join branches would otherwise each recompute the 24 md5-plane
    projections per vector; the persisted relation is
    (vec_id, tbl, bucket) only — ~24 B/row)."""
    from pyspark import StorageLevel

    codes = (
        lsh_bucket_codes(emb.select("vec_id", "embedding"), sign="md5")
        .select("vec_id", "tbl", "bucket")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a, b = codes.alias("a"), codes.alias("b")
    partners = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("vec_id"))
        .agg(F.countDistinct(F.col("b.vec_id")).alias("_n"))
    )
    return (
        codes.filter(F.col("tbl") == 0)
        .select("vec_id", F.col("bucket").cast("long").alias("lsh0"))
        .join(partners, "vec_id", "left")
        .withColumn("n_lsh_partners", F.coalesce(F.col("_n"), F.lit(0)).cast("long"))
        .drop("_n")
    )


def _lsh_gate_oracle_ctes() -> str:
    """DuckDB re-derivation of lsh_gate_summary, composed from the same
    N_LSH_TABLES/N_HYPERPLANES constants and the same '"seed,h,i"' md5
    plane-parity keys. list_reduce folds left-to-right like Spark's
    aggregate (0.0 + v1 == v1 in IEEE), so the dots are bit-identical.
    Returns CTE text (no trailing comma) yielding lcode(vec_id, b0..) and
    lpart(vec_id, n); expects the `v` CTE (vec_id, emb DOUBLE[])."""

    def dot(t: int, h: int) -> str:
        sign = (
            f"CASE WHEN ('0x' || substr(md5('{t},{h},' || CAST(i AS VARCHAR)), 1, 8))"
            f"::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END"
        )
        return (
            f"list_reduce(list_transform(range(0, len(emb)), i -> emb[i+1] * {sign}), "
            "(a, b) -> a + b)"
        )

    def bucket(t: int) -> str:
        return " + ".join(
            f"CASE WHEN {dot(t, h)} > 0 THEN {1 << (N_HYPERPLANES - 1 - h)} ELSE 0 END"
            for h in range(N_HYPERPLANES)
        )

    cols = ",\n             ".join(f"({bucket(t)}) AS b{t}" for t in range(N_LSH_TABLES))
    whens = " ".join(f"WHEN {t} THEN b{t}" for t in range(N_LSH_TABLES))
    tbl_vals = ", ".join(f"({t})" for t in range(N_LSH_TABLES))
    return f"""
    lcode AS (
      SELECT vec_id,
             {cols}
      FROM v
    ),
    lbkt AS (
      SELECT vec_id, tt.t AS tbl, CASE tt.t {whens} END AS bucket
      FROM lcode CROSS JOIN (VALUES {tbl_vals}) AS tt(t)
    ),
    lpart AS (
      SELECT a.vec_id, count(DISTINCT b.vec_id) AS n
      FROM lbkt a JOIN lbkt b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id != b.vec_id
      GROUP BY a.vec_id
    )"""


def _fold_dot(a: str, b: str) -> str:
    """DuckDB fragment: Σ a[i]·b[i] as an EXPLICIT left-to-right
    list_reduce fold — bit-identical to Spark's aggregate(zip_with(...))
    (0.0 + v ≡ v in IEEE), unlike list_dot_product whose summation order
    carries no contract. Used wherever the q71 oracle ORDERS by a raw
    (un-rounded) float."""
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


def _fold_unit(col: str) -> str:
    """DuckDB fragment: unit-normalize a DOUBLE[] with the same
    double-precision fold Spark's norm() computes."""
    n2 = (
        f"list_reduce(list_transform({col}, x -> x * x), (x, y) -> x + y)"
    )
    return f"list_transform({col}, x -> x / sqrt({n2}))"


def _ann_scalable_oracle_sql() -> str:
    """Full DuckDB oracle for the q71 gate (round 10: all three ANN
    strategies re-keyed onto engine-portable twin primitives — md5
    hyperplanes for LSH, knuth-bucket medoids for IVF/IVF-PQ cells — so
    the driver can hash-match the persistent-index probe results
    directly; previously rows-only).

    Branch mechanics mirrored exactly:
    - lsh: md5-plane bucket codes per table (_lsh_gate_oracle_ctes),
      probe side expanded by every 1-bit flip (expand_multiprobe), join
      on (tbl, bucket), exact cosine rerank, rank by (r4 cos DESC, id).
    - ivf: knuth medoids over the RAW corpus, centroids unit-normalized,
      assignment = argmin of -dot ties to cell (ivf_assign's order),
      corpus top-1 / probes top-2 cells, exact cosine rerank as above.
    - ivfpq: corpus unit-normalized FIRST (double-precision fold), knuth
      medoids over the unit corpus, same assignment, candidates ranked
      by RAW exact squared L2 ties to id (probe_ivfpq_index's rerank
      order — the gate runs a non-binding shortlist so the ADC stage
      passes every cell candidate through; the ADC math itself is
      hash-gated on q73's pq_adc_q), cos = r4(1 − d/2).

    Raw-ordered floats use explicit list_reduce folds (bit-identical to
    Spark's aggregate); r4-rounded display cosines use list_dot_product
    (the q70/q73 precedent). Boundary margins are MEASURED at all three
    fixture densities in tests/test_skew_bucketing.py."""
    from entangledb_spark.operators.text import knuth_bucket_sql

    masks = ", ".join(f"({0 if b < 0 else 1 << b})" for b in range(-1, N_HYPERPLANES))
    kb = knuth_bucket_sql("vec_id", N_IVF_CELLS)
    cos = (
        "r4(list_dot_product(a.emb, b.emb)"
        " / (sqrt(list_dot_product(a.emb, a.emb))"
        " * sqrt(list_dot_product(b.emb, b.emb))))"
    )
    return (
        """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),"""
        + _lsh_gate_oracle_ctes()
        + f""",
    aprobe AS (
      SELECT l.vec_id, l.tbl, xor(CAST(l.bucket AS BIGINT), m.m) AS bucket
      FROM lbkt l CROSS JOIN (VALUES {masks}) AS m(m)
      WHERE l.vec_id < 20
    ),
    acand AS (
      SELECT DISTINCT p.vec_id AS query_id, n.vec_id AS neighbor_id
      FROM aprobe p JOIN lbkt n
        ON p.tbl = n.tbl AND p.bucket = CAST(n.bucket AS BIGINT)
      WHERE p.vec_id != n.vec_id
    ),
    atop AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM (
        SELECT c.query_id, c.neighbor_id, {cos} AS cos_sim
        FROM acand c
        JOIN v a ON a.vec_id = c.query_id
        JOIN v b ON b.vec_id = c.neighbor_id)
    ),
    ikc AS (
      SELECT cell, {_fold_unit("centroid")} AS u FROM (
        SELECT cell, emb AS centroid FROM (
          SELECT {kb} AS cell, vec_id, emb,
                 row_number() OVER (PARTITION BY {kb} ORDER BY vec_id) AS rn
          FROM v) WHERE rn = 1)
    ),
    iasg AS (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, u.cell,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY -{_fold_dot("v.emb", "u.u")}, u.cell) AS rn
        FROM v CROSS JOIN ikc u) WHERE rn = 1
    ),
    iprb AS (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, u.cell,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY -{_fold_dot("v.emb", "u.u")}, u.cell) AS rn
        FROM v CROSS JOIN ikc u WHERE v.vec_id < 20) WHERE rn <= 2
    ),
    itop AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM (
        SELECT p.vec_id AS query_id, n.vec_id AS neighbor_id, {cos} AS cos_sim
        FROM iprb p
        JOIN iasg n ON p.cell = n.cell AND p.vec_id != n.vec_id
        JOIN v a ON a.vec_id = p.vec_id
        JOIN v b ON b.vec_id = n.vec_id)
    ),
    uv AS (SELECT vec_id, {_fold_unit("emb")} AS u FROM v),
    pkc AS (
      SELECT cell, {_fold_unit("centroid")} AS pu FROM (
        SELECT cell, u AS centroid FROM (
          SELECT {kb} AS cell, vec_id, u,
                 row_number() OVER (PARTITION BY {kb} ORDER BY vec_id) AS rn
          FROM uv) WHERE rn = 1)
    ),
    pasg AS (
      SELECT vec_id, cell FROM (
        SELECT uv.vec_id, k.cell,
               row_number() OVER (PARTITION BY uv.vec_id
                                  ORDER BY -{_fold_dot("uv.u", "k.pu")}, k.cell) AS rn
        FROM uv CROSS JOIN pkc k) WHERE rn = 1
    ),
    pprb AS (
      SELECT vec_id, cell FROM (
        SELECT uv.vec_id, k.cell,
               row_number() OVER (PARTITION BY uv.vec_id
                                  ORDER BY -{_fold_dot("uv.u", "k.pu")}, k.cell) AS rn
        FROM uv CROSS JOIN pkc k WHERE uv.vec_id < 20) WHERE rn <= 2
    ),
    ptop AS (
      SELECT query_id, neighbor_id, r4(1.0 - d / 2.0) AS cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY d, neighbor_id) AS rk
      FROM (
        SELECT p.vec_id AS query_id, n.vec_id AS neighbor_id,
               list_reduce(list_transform(range(1, len(a.u) + 1),
                 i -> (a.u[i] - b.u[i]) * (a.u[i] - b.u[i])),
                 (x, y) -> x + y) AS d
        FROM pprb p
        JOIN pasg n ON p.cell = n.cell AND p.vec_id != n.vec_id
        JOIN uv a ON a.vec_id = p.vec_id
        JOIN uv b ON b.vec_id = n.vec_id)
    )
    SELECT 'lsh' AS method, query_id, neighbor_id, cos_sim,
           CAST(rk AS BIGINT) AS rk FROM atop WHERE rk <= 5
    UNION ALL
    SELECT 'ivf', query_id, neighbor_id, cos_sim, CAST(rk AS BIGINT)
    FROM itop WHERE rk <= 5
    UNION ALL
    SELECT 'ivfpq', query_id, neighbor_id, cos_sim, CAST(rk AS BIGINT)
    FROM ptop WHERE rk <= 5
    """
    )


@expr_template
def _method_cols(tag: str) -> tuple:
    """Template: the tagged 5-column projection each q71 branch shares."""
    return (
        F.lit(tag).alias("method"),
        "query_id",
        "neighbor_id",
        "cos_sim",
        "rk",
    )


@query("q71_ann_scalable", oracle=_ann_scalable_oracle_sql())
def q71_ann_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three scale-path ANN strategies in one tagged result:
    'lsh' rows from the PERSISTENT LSH index (build_lsh_index +
    probe_lsh_index over a per-run tmp dir — row-identical to the inline
    ann_lsh_bucketed, asserted in tests/test_ann_index.py, so the index
    build/probe/partition-pruning machinery carries driver-gate evidence),
    'ivf' rows from the persistent IVF index (saved centroids + cell-
    partitioned assignments, probe ≡ inline asserted likewise), and
    'ivfpq' rows from the persistent IVF-PQ code index (round 7 —
    unit-normalized corpus, trained codebooks persisted as index meta,
    guarded-ADC probe + exact rerank; see ann_ivfpq_indexed) — each
    re-ranked by exact cosine to top-5 per probe query. The union is a
    no-shuffle concatenation of the three plans; each branch keeps its
    own documented scale shape. Recall of all branches against the exact
    q70 top-k is additionally asserted quantitatively in
    tests/test_skew_bucketing.py (test_lsh_recall_vs_bruteforce /
    test_ivf_recall_vs_bruteforce / test_ivfpq_recall_vs_bruteforce).

    Round 10: the GATE instance runs the engine-portable twin primitives
    (md5 hyperplanes, knuth medoid cells — the TWINS.md seam) so the
    whole build→probe→rerank path sits on the DuckDB oracle
    (_ann_scalable_oracle_sql); production serving keeps xxhash64
    seeds via the same functions' defaults. The ivfpq branch probes with
    a NON-BINDING shortlist (every cell candidate reaches the exact
    rerank — at gate scale the cells hold a few hundred vectors): the
    output is then independent of ADC ordering, whose math is hash-gated
    separately on q73 (pq_adc_q) and whose bounded-shortlist behavior is
    covered by the probe≡inline and recall pytest gates."""
    lsh = ann_lsh_indexed(spark, sf_dir, sign="md5").select(*_method_cols("lsh"))
    ivf = ann_ivf_indexed(spark, sf_dir, cell_base="knuth").select(
        *_method_cols("ivf")
    )
    ivfpq = ann_ivfpq_indexed(
        spark, sf_dir, cell_base="knuth", shortlist=1_000_000
    ).select(*_method_cols("ivfpq"))
    return lsh.unionByName(ivf).unionByName(ivfpq)


@query(
    "q73_embed_transform",
    oracle="""
    -- internal name `sc` ≠ output alias `scale`: DuckDB's lateral column
    -- aliases would otherwise shadow the CTE column with the rounded value
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    s AS (SELECT vec_id, emb,
                 list_aggregate(list_transform(emb, x -> abs(x)), 'max') / 127.0 AS sc
          FROM v),
    -- embedding-cosine near-dup (operators/similarity.py
    -- embedding_near_dup_pairs) verified by BRUTE FORCE: the Spark side
    -- generates candidates via sign-LSH (n_flips=2) and exact-filters;
    -- this oracle enumerates all pairs, so a hash match certifies both
    -- precision (always exact by construction) and 100% recall at this
    -- threshold on this corpus (measured 1.0 at sf0.001 AND sf0.01).
    -- CALIBRATED-CORPUS DEPENDENCY, stated plainly: sign-LSH recall is
    -- probabilistic, so this equality gate is only valid because the
    -- fixture's >=0.4-cos pairs all collide within 2 bit-flips (the
    -- README registry policy records this). If the fixture is ever
    -- regenerated/densified and this row flakes, the fix is to gate the
    -- brute-force side's n_dup alone here and keep the LSH-vs-exact
    -- recall floor in tests/test_embedding_dedup.py — not to widen flips
    pr AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             r4(list_dot_product(a.emb, b.emb)
                / (sqrt(list_dot_product(a.emb, a.emb))
                   * sqrt(list_dot_product(b.emb, b.emb)))) AS cs
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    ),
    dup AS (SELECT va, vb, cs FROM pr WHERE cs >= 0.4),
    part AS (
      SELECT va AS vec_id, cs FROM dup
      UNION ALL
      SELECT vb AS vec_id, cs FROM dup
    ),
    agg AS (
      SELECT vec_id, count(*) AS n_dup, max(cs) AS max_cs
      FROM part GROUP BY vec_id
    ),
    -- SemDeDup cluster-bounded dedup columns (semantic_dedup_pairs with
    -- DuckDB-re-derivable knuth-bucket medoids, n_cells=8, refine=0):
    -- per-cell lowest-id medoid, unit-normalize, nearest-centroid
    -- assignment by (-dot, cell) ordering, in-cell pairs at r4(cos)>=0.4.
    -- DETERMINISTIC equality (no LSH probability): both engines compute
    -- the identical cells, so the gate certifies the full route+join
    -- path, not a calibrated recall
    kc AS (
      SELECT cell, emb AS centroid FROM (
        SELECT ((CAST(vec_id AS BIGINT) % 2147483647) * CAST(2654435761 AS BIGINT))
                 % 2147483647 % 8 AS cell,
               vec_id, emb,
               row_number() OVER (
                 PARTITION BY ((CAST(vec_id AS BIGINT) % 2147483647)
                               * CAST(2654435761 AS BIGINT)) % 2147483647 % 8
                 ORDER BY vec_id) AS rn
        FROM v) WHERE rn = 1
    ),
    uc AS (
      SELECT cell,
             list_transform(centroid,
                            x -> x / sqrt(list_dot_product(centroid, centroid))) AS u
      FROM kc
    ),
    -- cent_sim = dot(emb, unit_centroid_of_assigned_cell) / ||emb|| — the
    -- keep-priority signal the survivor policy compares (same formula as
    -- Spark's literal-folded map lookup in semantic_dedup_pairs)
    asg AS (
      SELECT vec_id, emb, cell, d / sqrt(list_dot_product(emb, emb)) AS cent_sim
      FROM (
        SELECT v.vec_id, v.emb, u.cell,
               list_dot_product(v.emb, u.u) AS d,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY -list_dot_product(v.emb, u.u), u.cell) AS rn
        FROM v CROSS JOIN uc u) WHERE rn = 1
    ),
    semd AS (
      SELECT * FROM (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               r4(list_dot_product(a.emb, b.emb)
                  / (sqrt(list_dot_product(a.emb, a.emb))
                     * sqrt(list_dot_product(b.emb, b.emb)))) AS cs,
               a.cent_sim AS ca, b.cent_sim AS cb
        FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
      ) WHERE cs >= 0.4
    ),
    sempart AS (
      SELECT va AS vec_id, cs FROM semd
      UNION ALL SELECT vb AS vec_id, cs FROM semd
    ),
    semagg AS (
      SELECT vec_id, count(*) AS n_sem, max(cs) AS max_cs
      FROM sempart GROUP BY vec_id
    ),
    -- SemDeDup survivor POLICY (sem_loser_col, round 7): within each gate
    -- pair the higher-cent_sim side loses, ties (bit-identical embeddings
    -- => bit-identical cent_sims) to the higher id — the paper's
    -- keep-least-prototypical rule, the exact expression
    -- semantic_dedup_survivors drops rows by
    semlosers AS (
      SELECT DISTINCT
             CASE WHEN ca > cb OR (ca = cb AND va > vb) THEN va ELSE vb END AS vec_id
      FROM semd
    ),
    -- k-means Lloyd refinement (round 7): ONE refine round over the same
    -- knuth-medoid init — per-cell component means on the r6 grid (the
    -- floor formula, matching Spark's r6(avg); engine ROUND would
    -- diverge), re-normalize, re-assign by the same (-dot, cell) order.
    -- Certifies ivf_centroids(refine=1)'s trained clustering step.
    r1m AS (
      SELECT cell, pos, floor(avg(x) * 1000000 + 0.5) / 1000000 AS m
      FROM (SELECT cell, unnest(emb) AS x,
                   unnest(range(1, len(emb) + 1)) AS pos
            FROM asg)
      GROUP BY cell, pos
    ),
    uc1 AS (
      SELECT cell, list_transform(cent,
                                  x -> x / sqrt(list_dot_product(cent, cent))) AS u
      FROM (SELECT cell, array_agg(m ORDER BY pos) AS cent
            FROM r1m GROUP BY cell)
    ),
    asg1 AS (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, u.cell,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY -list_dot_product(v.emb, u.u),
                                           u.cell) AS rn
        FROM v CROSS JOIN uc1 u) WHERE rn = 1
    ),
    -- cluster-balanced sampling survivor rule (selection.cluster_rank):
    -- knuth-key order within the refined cell, ties to id, quota 40 —
    -- pure BIGINT arithmetic, exact on both engines
    kmrank AS (
      SELECT vec_id,
             CASE WHEN row_number() OVER (
                    PARTITION BY cell
                    ORDER BY """
    + _knuth_key_sql("vec_id")
    + """,
                             vec_id) <= 40
                  THEN 1 ELSE 0 END AS keep
      FROM asg1
    ),
    -- Product-quantization twin (round 7, operators/pq.py): the m=4
    -- sub-codebooks are the kc knuth-medoids' centroid slices (ksub=8 —
    -- the SAME buckets/medoids kc already derives). Per (vector,
    -- subspace): argmin of ||c_j||²/2 − x_j·c_j with ties to the lower
    -- cell — the exact expression pq_encode folds into literals. The
    -- ADC column re-prices each vector's chosen sub-centroids against a
    -- re-derivable probe (the min-vec_id vector) by squared L2, summed
    -- in EXPLICIT subspace order (float addition has no order contract;
    -- conditional-max per j, then a left-assoc chain — the BM25 oracle
    -- lesson)
    pqd AS (SELECT len(emb) // 4 AS dsub FROM v ORDER BY vec_id LIMIT 1),
    pqsub AS (SELECT unnest(range(4)) AS j),
    pqasg AS (
      SELECT vec_id, j, cell FROM (
        SELECT v.vec_id, s.j, k.cell,
               row_number() OVER (
                 PARTITION BY v.vec_id, s.j
                 ORDER BY
                   list_dot_product(
                     list_slice(k.centroid, s.j * d.dsub + 1, (s.j + 1) * d.dsub),
                     list_slice(k.centroid, s.j * d.dsub + 1, (s.j + 1) * d.dsub)) / 2
                   - list_dot_product(
                     list_slice(v.emb, s.j * d.dsub + 1, (s.j + 1) * d.dsub),
                     list_slice(k.centroid, s.j * d.dsub + 1, (s.j + 1) * d.dsub)),
                   k.cell) AS rn
        FROM v CROSS JOIN pqsub s CROSS JOIN kc k CROSS JOIN pqd d) WHERE rn = 1
    ),
    pqprobe AS (SELECT emb AS pemb FROM v ORDER BY vec_id LIMIT 1),
    pqterm AS (
      SELECT a.vec_id, a.j, a.cell,
             list_sum(list_transform(
               list_zip(list_slice(p.pemb, a.j * d.dsub + 1, (a.j + 1) * d.dsub),
                        list_slice(k.centroid, a.j * d.dsub + 1, (a.j + 1) * d.dsub)),
               s -> (s[1] - s[2]) * (s[1] - s[2]))) AS term
      FROM pqasg a JOIN kc k ON a.cell = k.cell
           CROSS JOIN pqprobe p CROSS JOIN pqd d
    ),
    pqcols AS (
      SELECT vec_id,
             max(CASE WHEN j = 0 THEN cell END) AS code0,
             sum(cell) AS code_sum,
             ((max(CASE WHEN j = 0 THEN term END)
               + max(CASE WHEN j = 1 THEN term END))
               + max(CASE WHEN j = 2 THEN term END))
               + max(CASE WHEN j = 3 THEN term END) AS adc
      FROM pqterm GROUP BY vec_id
    ),"""
    + _lsh_gate_oracle_ctes()
    + """
    SELECT s.vec_id,
           r4(sqrt(list_dot_product(emb, emb))) AS l2_norm,
           r4(emb[1] / sqrt(list_dot_product(emb, emb))) AS unit_first,
           r4(list_aggregate(list_transform(emb, x -> abs(x)), 'max')) AS max_abs,
           r4(sc) AS scale,
           CAST(floor(emb[1] / sc + 0.5) AS BIGINT) AS q0,
           CAST(floor(emb[2] / sc + 0.5) AS BIGINT) AS q1,
           CAST(list_aggregate(
               list_transform(emb, x -> CAST(floor(x / sc + 0.5) AS BIGINT)),
               'sum') AS BIGINT) AS q_sum,
           CAST(coalesce(agg.n_dup, 0) AS BIGINT) AS n_dup_partners,
           agg.max_cs AS max_dup_cos,
           CAST(coalesce(sa.n_sem, 0) AS BIGINT) AS n_sem_dup,
           sa.max_cs AS max_sem_cos,
           CAST(CASE WHEN sl.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_sem_loser,
           CAST(lc.b0 AS BIGINT) AS lsh0,
           CAST(coalesce(lp.n, 0) AS BIGINT) AS n_lsh_partners,
           CAST(k1.cell AS BIGINT) AS km_cell_r1,
           CAST(kr.keep AS BIGINT) AS km_keep,
           CAST(pq.code0 AS BIGINT) AS pq_code0,
           CAST(pq.code_sum AS BIGINT) AS pq_code_sum,
           r4(pq.adc) AS pq_adc_q
    FROM s LEFT JOIN agg ON s.vec_id = agg.vec_id
         LEFT JOIN semagg sa ON s.vec_id = sa.vec_id
         LEFT JOIN semlosers sl ON s.vec_id = sl.vec_id
         LEFT JOIN lcode lc ON s.vec_id = lc.vec_id
         LEFT JOIN lpart lp ON s.vec_id = lp.vec_id
         LEFT JOIN asg1 k1 ON s.vec_id = k1.vec_id
         LEFT JOIN kmrank kr ON s.vec_id = kr.vec_id
         LEFT JOIN pqcols pq ON s.vec_id = pq.vec_id
    """,
)
def q73_embed_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding transform prep in one narrow map:

    - L2 normalization metadata — the prep step before cosine ANN (unit
      vectors turn cosine into dot product).
    - symmetric int8 quantization (per-vector absmax scale) — the standard
      4x storage/bandwidth reduction for embedding corpora; codes verified
      against the oracle via spot components + checksum.

    `floor(x + 0.5)`, not round(): engine ROUND half-way behavior differs
    between Spark and DuckDB (see functions/numeric.py) — the explicit
    formula is bit-identical on both. Pure codegen'd array math, no
    shuffle.

    Each vector also carries its embedding-cosine near-dup summary
    (n_dup_partners / max_dup_cos at cos >= 0.4) computed through the
    REAL LSH candidate path (embedding_near_dup_pairs, n_flips=2) —
    while the oracle enumerates all pairs by brute force. A hash match
    therefore certifies precision AND 100% LSH recall at this threshold
    on this corpus (measured: 66 and 59 true pairs at sf0.001/sf0.01,
    recall 1.0 at both); the production recall floor stays separately
    asserted in test_embedding_dedup.

    Since round 6 each vector ALSO carries the SemDeDup cluster-bounded
    summary (n_sem_dup / max_sem_cos: in-cell partners at r4(cos) >=
    0.4, knuth-bucket medoids at n_cells=8 so the oracle re-derives the
    identical cells in SQL) — a DETERMINISTIC equality, putting
    semantic_dedup_pairs' route+join path on the hash gate with no
    calibrated-recall dependency; the nearest-centroid argmin's
    cross-engine float margin is measured in
    test_embedding_dedup.py::test_semdedup_gate_assignment_margin.

    Since round 7 the gate also carries is_sem_loser — the survivor
    POLICY (sem_loser_col: higher cent_sim loses, ties to higher id —
    the same expression semantic_dedup_survivors drops rows by) checked
    against a DuckDB CASE over the oracle-re-derived cent_sims; the
    policy comparison's own float margin is measured in
    test_semdedup_gate_loser_margin at all three densities.

    Round 7 additions: km_cell_r1 — the assignment after ONE k-means
    Lloyd round over the knuth-medoid init (ivf_centroids refine=1; the
    oracle re-derives the r6-grid per-cell means, re-normalization, and
    refreshed argmin in SQL — the trained clustering step itself on the
    hash gate, margins measured in test_kmeans_gate_margins) — and
    km_keep, cluster_balanced_sample's per-cell quota survivor rule
    (selection.cluster_rank: knuth-key order within the refined cell,
    quota 40; pure BIGINT arithmetic, exact on both engines).

    pq_code0 / pq_code_sum / pq_adc_q (round 7): product quantization's
    encode argmins and ADC LUT scoring (operators/pq.py) through the
    REAL pq_train/pq_encode/_adc_scored path, twinned with knuth-medoid
    sub-codebooks the oracle re-derives (kc's centroid slices); margins
    in tests/test_pq.py::test_pq_gate_margins."""
    e = table(spark, sf_dir, "embeddings")
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(emb, lambda x: F.abs(x))) / 127.0

    def code(x):
        return F.floor(x + F.lit(0.5)).cast("long")

    base = (
        e.select("vec_id", emb.alias("emb"), scale.alias("sc"))
        .select(
            "vec_id",
            r4(norm(F.col("emb"))).alias("l2_norm"),
            r4(F.element_at("emb", 1) / norm(F.col("emb"))).alias("unit_first"),
            r4(F.array_max(F.transform(F.col("emb"), lambda x: F.abs(x)))).alias("max_abs"),
            r4(F.col("sc")).alias("scale"),
            code(F.element_at("emb", 1) / F.col("sc")).alias("q0"),
            code(F.element_at("emb", 2) / F.col("sc")).alias("q1"),
            F.aggregate(
                F.transform(F.col("emb"), lambda x: code(x / F.col("sc"))),
                F.lit(0).cast("long"),
                lambda a, v: a + v,
            ).alias("q_sum"),
        )
    )
    pairs = embedding_near_dup_pairs(
        e.select("vec_id", "embedding"), threshold=0.4, n_flips=2
    )
    partners = pairs.select(
        F.col("vec_a").alias("vec_id"), F.col("cos_sim")
    ).unionByName(pairs.select(F.col("vec_b").alias("vec_id"), F.col("cos_sim")))
    agg = partners.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("_n_dup"), F.max("cos_sim").alias("max_dup_cos")
    )
    # SemDeDup columns (since round 6): cluster-bounded dedup through the
    # REAL semantic_dedup_pairs path with knuth-bucket medoids so the
    # oracle can re-derive the identical cells in SQL (xxhash64 can't be).
    # threshold=-1 disables the operator's raw-cos cut; the gate cut is
    # r4-then-threshold on BOTH engines (threshold-boundary pairs exist
    # in this fixture, so raw-vs-rounded cuts would diverge). Unlike the
    # LSH columns above, this equality is DETERMINISTIC — no calibrated
    # recall dependency.
    from entangledb_spark.operators.text import knuth_bucket

    sem_pairs = semantic_dedup_pairs(
        e.selectExpr("vec_id", "CAST(embedding AS array<double>) AS embedding"),
        threshold=-1.0,
        n_cells=8,
        refine=0,
        cell_expr=knuth_bucket(F.col("vec_id"), 8),
    ).select(
        "vec_a",
        "vec_b",
        r4(F.col("cos_sim")).alias("cs"),
        "cent_sim_a",
        "cent_sim_b",
    ).filter(F.col("cs") >= 0.4)
    sem_part = sem_pairs.select(
        F.col("vec_a").alias("vec_id"), F.col("cs")
    ).unionByName(sem_pairs.select(F.col("vec_b").alias("vec_id"), F.col("cs")))
    sem_agg = sem_part.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("_n_sem"), F.max("cs").alias("max_sem_cos")
    )
    # Survivor POLICY on the gate (round 7): is_sem_loser applies the very
    # sem_loser_col() expression semantic_dedup_survivors removes rows by —
    # higher cent_sim loses, ties to the higher id. Cross-engine safe: both
    # engines compute cent_sim by the same dot/norm formula, pairs with
    # bit-identical embeddings tie inside each engine and fall to vec_id,
    # and non-identical pairs' |cent_sim_a - cent_sim_b| margin is measured
    # (> 1e-6 asserted at every fixture density) in
    # test_embedding_dedup.py::test_semdedup_gate_loser_margin.
    sem_losers = (
        sem_pairs.select(sem_loser_col().alias("vec_id"))
        .distinct()
        .withColumn("_loser", F.lit(1).cast("long"))
    )
    # sign-LSH gate twin (round 7): the real srp_bucket/lsh_bucket_codes
    # path with md5-parity planes — q71's bucketing math, DuckDB-checked
    lsh = lsh_gate_summary(
        e.selectExpr("vec_id", "CAST(embedding AS array<double>) AS embedding")
    )
    # k-means (Lloyd) refinement on the gate (round 7): ONE refine round
    # over the same knuth-medoid init the SemDeDup columns use. The
    # oracle re-derives the r6-rounded per-cell means and the refreshed
    # argmin in SQL, so the hash match certifies ivf_centroids' trained
    # clustering step — the SemDeDup paper's actual k-means — not just
    # the seeded medoids. r6 (floor formula) makes the refined centroids
    # land on a cross-engine-stable 1e-6 grid despite order-dependent
    # distributed summation; the residual margins (r6 flip distance of
    # every cell-pos mean, refined-assignment argmin gap) are measured
    # in test_embedding_dedup.py::test_kmeans_gate_margins.
    # km_keep additionally gates cluster_balanced_sample's survivor rule
    # (selection.cluster_rank: knuth-key order within the refined cell,
    # quota 40) — pure BIGINT arithmetic, so the equality is exact.
    from entangledb_spark.operators.selection import cluster_rank

    ed = e.selectExpr("vec_id", "CAST(embedding AS array<double>) AS embedding")
    cents1 = ivf_centroids(
        ed, 8, refine=1, cell_expr=knuth_bucket(F.col("vec_id"), 8)
    )
    assigned1 = ivf_assign(ed, cents1)
    km = assigned1.select(
        "vec_id",
        F.col("cell").cast("long").alias("km_cell_r1"),
        (cluster_rank() <= 40).cast("long").alias("km_keep"),
    )
    # Product-quantization twin (round 7): the REAL pq_train seed +
    # pq_encode literal-argmin + ADC LUT path, with knuth-bucket medoid
    # codebooks (ksub=8 over the same buckets as the kc oracle CTE — the
    # m=4 sub-codebooks are its centroid slices) so DuckDB re-derives
    # every per-subspace argmin and the ADC distance to a re-derivable
    # probe (the corpus's min-vec_id vector). pq_code0 pins subspace 0's
    # code, pq_code_sum covers all four argmins, pq_adc_q the LUT-fold
    # scoring itself. Cross-engine argmin/boundary margins are measured
    # in tests/test_pq.py::test_pq_gate_margins at every density.
    from entangledb_spark.operators.pq import _adc_scored, pq_encode, pq_train

    pq_model = pq_train(
        ed, m=4, ksub=8, refine=0, bucket_expr=knuth_bucket(F.col("vec_id"), 8)
    )
    probe_row = ed.orderBy("vec_id").select("vec_id", "embedding").first()
    pq = _adc_scored(
        pq_encode(ed, pq_model, out_col="_pqc"),
        pq_model,
        [(int(probe_row.vec_id), [float(x) for x in probe_row.embedding])],
        "_pqc",
        ["vec_id", "_pqc"],
    ).select(
        "vec_id",
        F.element_at("_pqc", 1).cast("long").alias("pq_code0"),
        F.aggregate(
            "_pqc", F.lit(0).cast("long"), lambda a, v: a + v
        ).alias("pq_code_sum"),
        r4(F.col("adc_dist")).alias("pq_adc_q"),
    )
    return (
        base.join(agg, "vec_id", "left")
        .join(sem_agg, "vec_id", "left")
        .join(sem_losers, "vec_id", "left")
        .join(lsh, "vec_id", "left")
        .join(km, "vec_id", "left")
        .join(pq, "vec_id", "left")
        .withColumn("n_dup_partners", F.coalesce(F.col("_n_dup"), F.lit(0)).cast("long"))
        .withColumn("n_sem_dup", F.coalesce(F.col("_n_sem"), F.lit(0)).cast("long"))
        .withColumn("is_sem_loser", F.coalesce(F.col("_loser"), F.lit(0)).cast("long"))
        .drop("_n_dup", "_n_sem", "_loser")
        .select(
            "vec_id", "l2_norm", "unit_first", "max_abs", "scale",
            "q0", "q1", "q_sum", "n_dup_partners", "max_dup_cos",
            "n_sem_dup", "max_sem_cos", "is_sem_loser",
            "lsh0", "n_lsh_partners", "km_cell_r1", "km_keep",
            "pq_code0", "pq_code_sum", "pq_adc_q",
        )
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    n_flips: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS — the fifth dedup strategy
    from the suite in operators/dedup.py, for the regime where semantic
    duplicates (translations, paraphrases, re-encodings) share an
    embedding but not a token set.

    Candidate generation is the multi-table sign-LSH shape from
    ann_lsh_bucketed, run SYMMETRICALLY: every vector is indexed into
    N_LSH_TABLES (tbl, bucket) cells; candidate pairs are (a, b) with
    a.id < b.id sharing a cell in ANY table, with the left side
    multi-probe-expanded (``n_flips`` bucket-bit flips — one flipped side
    is sufficient for pair recall because the flip relation is symmetric:
    if code(a) and code(b) differ in bit i, flipping bit i of a's code
    reaches b). Exact cosine then keeps pairs >= ``threshold``.

    Precision is exact by construction (every emitted pair really has
    cos >= threshold — the LSH stage only generates candidates); recall
    is the LSH collision probability, which is high precisely in the
    near-dup regime this operator targets (cos -> 1 means the pair
    disagrees on each hyperplane sign with probability theta/pi -> 0),
    and is measured against brute-force ground truth in
    tests/test_embedding_dedup.py.

    100 TB shape: candidates come from an equi-join on (tbl, bucket) —
    hash-partitioned, cost O(bucket collisions), never all-pairs; the
    exact-cosine filter is a narrow codegen'd map over candidate rows.

    Returns (vec_a, vec_b, cos_sim) with vec_a < vec_b.
    """
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    codes = lsh_bucket_codes(e)
    left = expand_multiprobe(codes, n_flips=n_flips).alias("a")
    right = codes.alias("b")
    return (
        left.join(
            right,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            # cosine + threshold BEFORE the pair dedup: a pair colliding
            # in several tables re-computes the (cheap, narrow) cosine,
            # but the dedup exchange then carries only (id, id, double)
            # instead of two full embedding arrays per candidate — at
            # corpus scale shuffle bytes dominate re-computed CPU
            r4(cosine_sim("a.embedding", "b.embedding")).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .dropDuplicates(["vec_a", "vec_b"])
    )


def embedding_near_dup_survivors(
    emb: DataFrame,
    threshold: float = 0.9,
    n_flips: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Survivor set of embedding-cosine near-dup: connected components
    over the >= ``threshold`` pair graph, keep the minimum id per
    component, anti-join the losers back — the embedding-space
    counterpart of dedup.exact_dedup / dedup.near_dup_survivors,
    preserving the input schema.

    The pair graph at a high threshold is tiny relative to the corpus,
    so the component step runs on a relation many orders of magnitude
    smaller than the input; the final anti-join is the only corpus-wide
    operation after candidate generation."""
    from entangledb_spark.operators.dedup import connected_components

    pairs = embedding_near_dup_pairs(
        emb, threshold=threshold, n_flips=n_flips, id_col=id_col, vec_col=vec_col
    ).select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b"))
    vertices = (
        pairs.select(F.col("a").alias("id"))
        .union(pairs.select(F.col("b").alias("id")))
        .distinct()
    )
    comp = connected_components(vertices, pairs)
    keep = comp.groupBy("component").agg(F.min("id").alias("keep_id"))
    losers = comp.join(
        keep, (comp.component == keep.component) & (comp.id == keep.keep_id), "left_anti"
    ).select(F.col("id").alias(id_col))
    return emb.join(losers, id_col, "left_anti")


def semantic_dedup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    n_cells: int = N_IVF_CELLS,
    refine: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_expr=None,
) -> DataFrame:
    """SemDeDup-style CLUSTER-BOUNDED semantic near-dup pairs (Abbas et
    al., "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", arXiv:2303.09540): route every vector to its nearest
    of ``n_cells`` centroids (ivf_centroids medoids + ``refine`` Lloyd
    rounds, deterministic), then compare pairs ONLY within a cell.

    The sixth dedup strategy, complementary to the sign-LSH path
    (embedding_near_dup_pairs): LSH bounds candidates probabilistically
    by hash collision; SemDeDup bounds them GEOMETRICALLY by cluster
    membership — candidates = sum over cells of C(cell_size, 2), tuned
    directly by n_cells (at corpus scale pick n_cells ~ n/target_size so
    a cell holds ~10-50k vectors — the paper runs 50k clusters over 5B
    embeddings). Misses only cross-cell pairs, the documented SemDeDup
    trade; recall vs brute force is measured in test_embedding_dedup.

    Plan: one bounded centroid collect -> zero-exchange assignment
    (narrow literal-folded argmin, ivf_assign) + per-row cosine to the
    OWN centroid (literal map lookup) -> one equi-join on cell (AQE
    skew-splittable) -> narrow exact-cosine filter. No UDFs, never
    all-pairs.

    LITERAL-FOLDING CEILING: the argmin and the cent_sim map each embed
    O(n_cells x dims) doubles in the plan — fine to IVF_FOLD_MAX_CELLS
    (256), a plan-size hazard at the paper's 50k clusters. Above the
    ceiling both pieces auto-route: assignment to the Arrow matmul path
    (ivf_assign route="arrow") and cent_sim to a broadcast equi-join on
    cell + built-in cosine — same semantics, no multi-MB plan text
    (route equivalence asserted in test_embedding_dedup.py).

    Returns (vec_a, vec_b, cos_sim, cell, cent_sim_a, cent_sim_b) with
    vec_a < vec_b; cent_sim is each side's cosine to the shared cell
    centroid — the keep-priority signal semantic_dedup_survivors uses.
    """
    e = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    cents = ivf_centroids(e, n_cells, refine=refine, cell_expr=cell_expr).collect()
    assigned = ivf_assign(e, cents)  # auto-routes above IVF_FOLD_MAX_CELLS
    if len(cents) <= IVF_FOLD_MAX_CELLS:
        # cosine to the assigned centroid: element_at on a <= n_cells
        # literal map of UNIT centroids (cells can be sparse after
        # refinement, so a map keyed by cell id, not a positional array)
        entries = ",".join(
            f"CAST({int(r.cell)} AS BIGINT), {_unit_vec_sql(r.centroid)}"
            for r in sorted(cents, key=lambda r: r.cell)
        )
        cent_sim = F.expr(
            "aggregate(zip_with(embedding, element_at(map(" + entries + "), cell), "
            "(x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE), (a, v) -> a + v)"
        ) / norm(F.col("embedding"))
        tagged = assigned.withColumn("cent_sim", cent_sim)
    else:
        # above the literal-folding ceiling: tiny broadcast join on cell
        # (centroids were already a bounded collect) + built-in cosine
        cent_df = local_df(
            emb.sparkSession,
            [(int(r.cell), [float(x) for x in r.centroid]) for r in cents],
            "cell long, _centroid array<double>",
        )
        tagged = (
            assigned.join(F.broadcast(cent_df), "cell")
            .withColumn(
                "cent_sim", cosine_sim("embedding", "_centroid")
            )
            .drop("_centroid")
        )
    a, b = tagged.alias("a"), tagged.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine_sim("a.embedding", "b.embedding").alias("cos_sim"),
            F.col("a.cell").alias("cell"),
            F.col("a.cent_sim").alias("cent_sim_a"),
            F.col("b.cent_sim").alias("cent_sim_b"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def sem_loser_col():
    """The SemDeDup survivor POLICY as one Column over a pair relation
    carrying (vec_a, vec_b, cent_sim_a, cent_sim_b): within a pair the side
    with the HIGHER cosine to the cell centroid loses (the paper's
    diversity-keeping rule — prototypical near-copies drop), ties to the
    higher id. One struct comparison, so exact duplicate embeddings (whose
    cent_sims are bit-identical) fall deterministically to vec_id.

    Shared by semantic_dedup_survivors AND the q73 gate's is_sem_loser
    column, so the DuckDB hash gate certifies the very expression the
    survivor operator applies."""
    return F.when(
        F.struct(F.col("cent_sim_a"), F.col("vec_a"))
        > F.struct(F.col("cent_sim_b"), F.col("vec_b")),
        F.col("vec_a"),
    ).otherwise(F.col("vec_b"))


def semantic_dedup_survivors(
    emb: DataFrame,
    threshold: float = 0.9,
    n_cells: int = N_IVF_CELLS,
    refine: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_expr=None,
) -> DataFrame:
    """SemDeDup survivor set: within every >= ``threshold`` pair the side
    with the HIGHER cosine to the cell centroid loses (ties to the higher
    id) — the paper's diversity-keeping policy (keep the example least
    like the cluster center; prototypical near-copies drop). Losers are
    removed by one corpus anti-join, preserving the input schema.

    Deterministic: exact duplicate embeddings have IDENTICAL cent_sim,
    so the tie falls to vec_id. Dominance is PAIRWISE (the paper's
    operation), not connected-components: in an a~b~c chain where a!~c,
    b drops and both a and c survive — at the high thresholds SemDeDup
    runs, chains beyond direct pairs are rare; callers wanting one
    survivor per component compose embedding_near_dup_survivors'
    connected_components instead."""
    pairs = semantic_dedup_pairs(
        emb, threshold=threshold, n_cells=n_cells, refine=refine,
        id_col=id_col, vec_col=vec_col, cell_expr=cell_expr,
    )
    losers = pairs.select(sem_loser_col().alias(id_col)).distinct()
    return emb.join(losers, id_col, "left_anti")
