"""SparkSession construction and fixture-table loading.

Scale notes (100 TB discipline):
- AQE is on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion all matter far more at cluster scale
  than any static tuning we could do here.
- ``spark.sql.shuffle.partitions`` defaults to a local-friendly value but is
  only the *initial* number — AQE coalesces down / splits skew up. On a real
  cluster this would be set to ~2-3x total cores.
- ANSI mode is ON: the reference errors on integer overflow, division by
  zero, and modulo by zero (/root/reference/src/sql/types/expression.rs:
  122-158,185-202 — checked_add/checked_div/checked_rem). Spark's non-ANSI
  default silently wraps/NULLs; ANSI matches the reference AND the DuckDB
  oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "entangledb-spark", ansi: bool = True) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On the test rig this is ``local[$SPARK_GRAFT_CPUS]``; every setting below
    is either scale-neutral or strictly better on a multi-executor cluster.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime shuffle-partition coalescing + skew-join handling.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Initial shuffle parallelism ~ cores; AQE adjusts at runtime.
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        # Arrow for every pandas_udf / applyInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Reference semantics: overflow / div-by-zero are errors (SURVEY §2.2).
        .config("spark.sql.ansi.enabled", "true" if ansi else "false")
        # Deterministic timestamp behavior for oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # No console progress bars: they interleave with stdout and eat into
        # the round driver's ~2 KB output-tail capture window (round 6's
        # bench line was truncated partly because of this junk).
        .config("spark.ui.showConsoleProgress", "false")
        # Skip PySpark's per-API-call site capture (DataFrameQueryContext):
        # with it on (the default), EVERY DataFrame/Column method pays a
        # conf.get round-trip, a Python stack walk, and two more py4j calls
        # to set/clear the origin — round-11 profiling measured query
        # CONSTRUCTION at 0.3-1.9s per query, >90% of it py4j socket waits,
        # with ~4 of the round-trips per API call coming from this hook.
        # The only cost is losing the "was called from file:line" fragment
        # in error messages; scale-neutral (driver overhead exists on any
        # cluster), and error *semantics* are unchanged.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    spark = builder.getOrCreate()
    _guard_expr_memo(spark)
    return spark


# weakref.ref to the gateway the memoized templates were built against
_LAST_GATEWAY: list = [None]


def _guard_expr_memo(spark: SparkSession) -> None:
    """Drop memoized Column templates if the py4j gateway changed.

    @expr_template caches hold Column objects bound to one JVM gateway —
    safe under the normal one-JVM-per-process lifecycle, but a process
    that stopped and relaunched the gateway would be served stale
    JavaObjects. The guard holds a weak reference to the last gateway, not
    its ``id()``: CPython may hand a collected gateway's id to its
    replacement, while a dead weak reference never matches."""
    import weakref

    from entangledb_spark.functions import exprmemo

    try:
        gw = spark.sparkContext._gateway
    except Exception:  # pragma: no cover — no JVM gateway to go stale
        return
    last = _LAST_GATEWAY[0]
    if last is not None and last() is not gw:
        exprmemo.clear_all()
    _LAST_GATEWAY[0] = weakref.ref(gw)


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``rows`` (tuples in field order, or a ``pyarrow.Table`` with the
    fields in order) as an Arrow-backed ``LocalRelation`` of ``schema``
    (a StructType or a DDL string) — the one way the engine
    turns driver-local values into a DataFrame. A frame built from a
    Python list is a pickled RDD: collecting or writing it runs a
    Python-worker job, while a LocalRelation is scanned on the driver (no
    job to collect, a JVM-only job to write). Writing 2 rows took a median
    0.90 s against 0.20 s on a 4-core VM."""
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    return spark.createDataFrame(arrow_rows(rows, schema), schema)


def arrow_rows(rows, schema):
    """``rows`` (tuples in field order, or a ``pyarrow.Table`` with the
    fields in order) as a ``pyarrow.Table`` of the StructType ``schema``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    if isinstance(rows, pa.Table):
        return rows.rename_columns(arrow.names).cast(arrow)
    return pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    names: tuple[str, ...] = TABLE_NAMES,
    register: bool = True,
) -> dict[str, DataFrame]:
    """Load the driver's Parquet fixtures and (optionally) register temp views.

    Plain ``spark.read.parquet`` so Catalyst's Parquet source handles
    predicate pushdown, column pruning, and partition-file splitting — the
    distributed equivalents of the reference's Scan-with-storage-filter and
    secondary-index plans (SURVEY §2.1: Scan/KeyLookup/IndexLookup all
    compile to filters over this scan).
    """
    out: dict[str, DataFrame] = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
