"""Snapshot-versioned table storage — the Spark-side replacement for the
reference's MVCC store (/root/reference/src/storage/mvcc.rs).

Model: the database is a directory of immutable version manifests.
Each manifest (JSON) maps table name → {schema, data path}. A committed
transaction publishes manifest N+1 with an atomic rename; readers pin a
manifest version for their whole transaction, which gives:

- snapshot isolation for reads (the reference's is_visible() semantics,
  mvcc.rs:182-218, reduced to the serialized-writer case its single mutex
  enforces anyway — mvcc.rs:84-95);
- `BEGIN READ ONLY AS OF SYSTEM TIME n` = read manifest n (mvcc.rs:119-122);
- DML = read current snapshot → transform → write new parquet dir →
  publish. No in-place mutation anywhere, so concurrent readers are never
  torn and historical versions stay queryable.

Layout:
    base/
      manifests/v{N}.json     immutable manifests
      CURRENT                 text file: latest committed N (atomic replace)
      data/{table}/{uuid}/    immutable parquet file sets

A table entry names a base file set (``data``; CREATE TABLE AS writes it,
a table born empty has none until its first compaction) and a chain of up
to COMPACT_AFTER delta entries, each an upsert and/or a PK-tombstone file
set. DML writes only the changed rows as a new delta; a read resolves the
chain in ONE scan of the base and all upserts, anti-joined against the
chain's primary keys, which the driver reads from the delta files
(``_resolve``): no shuffle. Compaction folds the chain into a new base
after COMPACT_AFTER deltas or COMPACT_KEYS delta rows, so read
amplification and the keys the driver holds stay bounded.

A query that pins the primary key to literals (``WHERE pk = 1``, ``pk IN
(…)``) is a KeyLookup (``key_lookup``): the driver reads just those keys'
rows from the base and delta files with pyarrow, resolves the chain by
the same rank rule, and hands the compiler a LocalRelation, so the query
runs no Spark job. Above LOOKUP_BYTES of files it is the Spark scan with
``pk IN (…)`` row-group pruning. An UPDATE or DELETE pinned the same way
reads its pre-image by the same KeyLookup, and it and INSERT … VALUES
write their delta from the driver with pyarrow (``driver_write``).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from entangledb_spark.plans import ast
from entangledb_spark.session import local_df
from entangledb_spark.sources import constraints as con

SPARK_TYPES = {
    "BOOLEAN": T.BooleanType(),
    "INTEGER": T.LongType(),
    "FLOAT": T.DoubleType(),
    "STRING": T.StringType(),
}

# Spark simpleStrings a column of each engine type accepts on write: an
# integer widens to FLOAT; nothing narrows, and nothing is cast silently.
WRITABLE_TYPES = {
    "BOOLEAN": {"boolean"},
    "INTEGER": {"tinyint", "smallint", "int", "bigint"},
    "FLOAT": {"tinyint", "smallint", "int", "bigint", "float", "double"},
    "STRING": {"string"},
}

# engine datatype ← Spark simpleString (for ATTACH schema inference)
FROM_SPARK_TYPES = {
    "boolean": "BOOLEAN",
    "tinyint": "INTEGER",
    "smallint": "INTEGER",
    "int": "INTEGER",
    "bigint": "INTEGER",
    "float": "FLOAT",
    "double": "FLOAT",
    "string": "STRING",
}


class CatalogError(ValueError):
    pass


class ConflictError(CatalogError):
    """A concurrent commit published a newer version first (OCC failure)."""


def column_to_dict(c: ast.ColumnDef, default_value: Any = None, has_default: bool = False) -> dict:
    return {
        "name": c.name,
        "datatype": c.datatype,
        "primary_key": c.primary_key,
        "nullable": (not c.primary_key) if c.nullable is None else c.nullable,
        "has_default": has_default,
        "default": default_value,
        "unique": c.unique or c.primary_key,
        "references": c.references,
        "index": c.index or c.unique,
    }


def schema_of(columns: list[dict], physical: bool = False) -> T.StructType:
    """Schema for a column list. ``physical=True`` names fields by their
    STORED (file) name — after ALTER TABLE RENAME COLUMN the logical name
    diverges from what existing parquet files carry (the ``physical``
    entry pins the original), making rename a metadata-only operation:
    no file is rewritten, reads map stored → logical (the same idea as
    Iceberg's field-id indirection, done by pinned name)."""
    fields = []
    for c in columns:
        if c["datatype"] in SPARK_TYPES:
            t = SPARK_TYPES[c["datatype"]]
        else:
            # ATTACHed external column with a type outside the 4-type system
            # (timestamp, array, ...): carried through verbatim
            t = T._parse_datatype_string(c["spark_type"])
        name = c.get("physical", c["name"]) if physical else c["name"]
        fields.append(T.StructField(name, t, c["nullable"]))
    return T.StructType(fields)


def typed_rows(name: str, df: DataFrame, columns: list[dict]) -> DataFrame:
    """``df`` as rows of table ``name`` (column list ``columns``): the
    write typing of INSERT … SELECT and the stream writers. Each table
    column ``df`` holds, by name, is cast to its stored type when its
    Spark type is in the column's ``WRITABLE_TYPES`` (``void``, an untyped
    NULL, fits any); a column ``df`` lacks takes its DEFAULT; columns
    outside the table are dropped. A type outside the family, or a
    missing column without a DEFAULT, is a ConstraintError."""
    from pyspark.sql import functions as F

    src = dict(df.dtypes)
    for c in columns:
        st = src.get(c["name"], "void")
        if st != "void" and st not in WRITABLE_TYPES[c["datatype"]]:
            raise con.ConstraintError(
                f"invalid value of type {st} for "
                f"{c['datatype'].lower()} column {c['name']} in table {name}"
            )
    out = []
    for c in columns:
        if c["name"] in src:
            value = F.col(c["name"])
        elif c["has_default"]:
            value = F.lit(c["default"])
        else:
            raise con.ConstraintError(f"no value given for column {c['name']} in table {name}")
        out.append(value.cast(SPARK_TYPES[c["datatype"]]).alias(c["name"]))
    return df.select(*out)


def _quote(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_literal(value: Any, datatype: str) -> str:
    """An exact SQL literal of the engine type ``datatype``: doubles in
    round-trip ``repr``, strings as UTF-8 hex (no escaping rules apply)."""
    if datatype == "BOOLEAN":
        return "true" if value else "false"
    if datatype == "INTEGER":
        return f"CAST({int(value)} AS BIGINT)"
    if datatype == "FLOAT":
        return f"CAST('{float(value)!r}' AS DOUBLE)"
    return f"CAST(X'{str(value).encode('utf-8').hex()}' AS STRING)"


def physical_name(c: dict) -> str:
    return c.get("physical", c["name"])


def logical_columns(columns: list[dict]) -> list[str]:
    """SQL expressions that turn a frame of STORED (physical) column names
    into the table's LOGICAL columns: renamed columns are aliased, and a
    column ADDed after the files were written (read as NULL) coalesces to
    its ``initial_default`` — exact, as a NOT NULL column holds no genuine
    NULL. By name, not position: a partitioned read emits the partition
    column LAST regardless of the supplied schema order."""
    out = []
    for c in columns:
        col = _quote(physical_name(c))
        if c.get("initial_default") is not None:
            lit = _sql_literal(c["initial_default"], c["datatype"])
            out.append(f"coalesce({col}, {lit}) AS {_quote(c['name'])}")
        elif physical_name(c) != c["name"]:
            out.append(f"{col} AS {_quote(c['name'])}")
        else:
            out.append(col)
    return out


def _exact_key(value: Any, datatype: str) -> bool:
    """Whether ``value`` is a literal of the PK type ``datatype`` exactly,
    so that Arrow's ``isin`` and Spark's ``=`` pick the same rows."""
    if datatype == "INTEGER":
        return type(value) is int and -(2**63) <= value < 2**63
    return datatype == "STRING" and isinstance(value, str)


def _conjuncts(e: Optional[ast.Expr]):
    if isinstance(e, ast.Op) and e.name == "AND":
        for a in e.args:
            yield from _conjuncts(a)
    elif e is not None:
        yield e


def _pinned_keys(e: ast.Expr, pk: str, qualifier: str) -> Optional[list]:
    """The literals of a conjunct ``pk = lit``, ``lit = pk`` or
    ``pk IN (lit, …)``, with ``pk`` bare or qualified by ``qualifier``."""
    if not isinstance(e, ast.Op) or e.name not in ("EQ", "IN"):
        return None
    col, lits = e.args[0], e.args[1:]
    if e.name == "EQ" and isinstance(col, ast.Literal):
        col, lits = e.args[1], e.args[:1]
    if not (isinstance(col, ast.Field) and col.name == pk and col.table in (None, qualifier)):
        return None
    if not all(isinstance(a, ast.Literal) for a in lits):
        return None
    return [a.value for a in lits]


def _has_subquery(roots) -> bool:
    return any(isinstance(x, ast.Subquery) for r in roots if r is not None for x in ast.walk(r))


def _row_differs(new: list[str], old: list[str]) -> str:
    """SQL: the row of columns ``new`` differs null-safely from the row of
    columns ``old`` (NaN equals NaN, as in every Spark comparison)."""
    return "NOT (" + " AND ".join(f"{n} <=> {o}" for n, o in zip(new, old)) + ")"


@dataclass(frozen=True)
class KeyLookup:
    """Access path for the rows of managed table ``table`` whose primary
    key is one of ``keys``: read on the driver (``lookup_df``)."""

    table: str
    keys: tuple


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        os.makedirs(os.path.join(base_dir, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(base_dir, "data"), exist_ok=True)
        if not os.path.exists(self._current_path()):
            self._write_manifest(0, {"tables": {}})
            self._publish_current(0)

    # ---- manifest plumbing -------------------------------------------------

    def _current_path(self) -> str:
        return os.path.join(self.base, "CURRENT")

    def _manifest_path(self, v: int) -> str:
        return os.path.join(self.base, "manifests", f"v{v}.json")

    def _write_manifest(self, v: int, manifest: dict) -> None:
        # per-call-unique tmp: concurrent bootstraps (two connections
        # opening a fresh db) must not share a tmp path; the v0 write is
        # idempotent so last-replace-wins is safe.
        tmp = self._manifest_path(v) + f".tmp-{os.getpid()}-{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(v))

    def _write_manifest_excl(self, v: int, manifest: dict) -> None:
        """Atomically CREATE manifest v — fails with FileExistsError if a
        concurrent committer created it first. The hard-link is the commit
        point: creating v{N}.json IS the compare-and-swap, so the protocol
        is safe across OS processes, not just threads (os.replace alone
        would let two check-then-act writers both 'win')."""
        tmp = self._manifest_path(v) + f".tmp-{os.getpid()}-{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        try:
            os.link(tmp, self._manifest_path(v))  # atomic create-if-absent
        finally:
            os.unlink(tmp)

    def _publish_current(self, v: int) -> None:
        # tmp name must be unique per CALL, not per process: concurrent
        # threads (e.g. server connections) publishing through one catalog
        # would otherwise share a tmp path and race replace vs. write.
        # CURRENT itself is last-writer-wins — current_version self-heals
        # forward past any stale pointer by scanning the manifests.
        tmp = self._current_path() + f".tmp-{os.getpid()}-{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._current_path())

    def current_version(self) -> int:
        """Latest committed version. CURRENT is a cache of the answer; the
        manifest files are the source of truth — if a committer crashed (or
        lost a race) between creating v{N}.json and updating CURRENT, the
        pointer self-heals by advancing past every existing manifest."""
        with open(self._current_path()) as f:
            v = int(f.read().strip())
        while os.path.exists(self._manifest_path(v + 1)):
            v += 1
        return v

    def manifest(self, v: Optional[int] = None) -> dict:
        v = self.current_version() if v is None else v
        path = self._manifest_path(v)
        if not os.path.exists(path):
            raise CatalogError(f"version {v} does not exist")
        with open(path) as f:
            return json.load(f)

    def publish(self, manifest: dict, expected_version: Optional[int] = None) -> int:
        """Commit: write manifest N+1, then atomically move CURRENT.

        Optimistic concurrency: when `expected_version` is given (the
        version the transaction read its state from), a concurrent commit
        in between raises ConflictError instead of silently losing the
        other writer's changes — the detect-and-retry analog of the
        reference's writer mutex (storage/mvcc.rs:84-95), and the same
        protocol a cluster deployment runs as a CAS on a metastore pointer.
        """
        while True:
            current = self.current_version()
            if expected_version is not None and current != expected_version:
                raise ConflictError(
                    f"transaction conflict: database is at version {current}, "
                    f"transaction started at {expected_version}; retry"
                )
            v = current + 1
            try:
                self._write_manifest_excl(v, manifest)
            except FileExistsError:
                if expected_version is not None:
                    raise ConflictError(
                        f"transaction conflict: version {v} was committed "
                        f"concurrently; transaction started at {expected_version}; retry"
                    ) from None
                continue  # unconditional publish: retry on the next version
            self._publish_current(v)
            return v

    # ---- table data (merge-on-read) ----------------------------------------
    #
    # A table version is a base snapshot (``data``, absent until the first
    # compaction of a table born empty) plus an ordered chain of delta
    # entries, each holding `upserts` (full rows) and/or `deletes` (PK
    # tombstones) in its own directory. Mutations write O(changed rows),
    # not O(table) — the property that makes DML viable on a 100 TB table.
    # `_resolve` reads a chain in ONE scan of the base and every upsert
    # directory, each row ranked by the directory its file sits in, and
    # drops every row a later delta touches by a broadcast anti-join
    # against the chain's keys — the PK column of each delta file, read on
    # the driver (deltas hold O(changed rows)). No shuffle, no window.
    # After COMPACT_AFTER deltas, or COMPACT_KEYS delta rows, the view is
    # rewritten as a new base, so read amplification and the keys a read
    # holds stay bounded. This is the Delta-Lake / Iceberg merge-on-read
    # shape in miniature.
    #
    # A delta is written one of two ways, both through ``stage_delta`` →
    # ``write_delta`` (stored names, then the chain and compaction rule):
    # - from the driver: Arrow rows the statement holds, one parquet file
    #   per file set written with pyarrow, no Spark job. The rule
    #   (``driver_write``): INSERT … VALUES, and an UPDATE or DELETE whose
    #   pre-image is a KeyLookup, into a table without ``partition_by``;
    # - by Spark (``write_snapshot``): every other write — INSERT …
    #   SELECT, MERGE, a range UPDATE or DELETE, the stream writers, a
    #   ``partition_by`` table's upserts — and every compaction.
    # Readers cannot tell the two apart: the files hold the stored schema
    # either way, and a chain may mix them.

    COMPACT_AFTER = 8
    # Delta rows (hence keys) a chain may hold before it compacts. A read
    # broadcasts the keys from the driver: 250k keys are 5 MB by Spark's
    # size estimate for an INTEGER key and 8 MB for a STRING one (20 and
    # 32 B a row), under the default 10 MB auto-broadcast threshold, so
    # the anti-join never falls back to a shuffle. In Arrow they take
    # 3 MB; building their LocalRelation took 0.3 s on a 4-core VM.
    COMPACT_KEYS = 250_000
    # Parquet bytes (base and every delta file set) above which a KeyLookup
    # falls back to the Spark scan, filtered by ``pk IN (…)`` with
    # row-group pruning. On a 4-core VM the driver's filtered pyarrow read
    # of one unsorted 6-column file took a median 4 ms at 0.3 MB, 137 ms
    # at 15 MB and 158 ms at 59 MB, while a Spark scan of the same files
    # for one key took 335, 372 and 498 ms. Past the bound the driver read
    # grows with the bytes (about 310 ms at 154 MB) while the scan spreads
    # over the executors.
    LOOKUP_BYTES = 64 << 20

    def _pk_of(self, meta: dict) -> str:
        return next(c["name"] for c in meta["columns"] if c["primary_key"])

    def _read_path(
        self, rels, columns: list[dict], ranks: Optional[dict] = None, extra: tuple = ()
    ) -> DataFrame:
        """Read a managed-table file set — one manifest-relative directory
        or a list of them, as ONE scan: scan with the PHYSICAL schema (what
        the files store; a column ADDed later reads as NULL) and map it to
        the LOGICAL columns (``logical_columns``). Rename aliases and the
        ``initial_default`` coalesce are narrow projections Catalyst
        pushes scans/filters through, so pruning is unaffected.

        ``ranks`` ({rel: rank}) adds an int ``__rank`` column naming the
        directory each row was read from: a CASE over the hidden
        ``_metadata.file_path`` keyed by the directories' unique names
        (``metadataColumn`` reaches it even when the table has a user
        column called ``_metadata``). ``extra`` appends SQL expressions.
        The projection is SQL text in one ``selectExpr``: a Python-side
        Column per name would cost several py4j round-trips each."""
        rels = [rels] if isinstance(rels, str) else list(rels)
        reader = self.spark.read.schema(schema_of(columns, physical=True))
        if len(rels) > 1:
            # each directory of a partition_by table is its own Hive
            # partition root; without this Spark rejects several roots as
            # "conflicting directory structures"
            reader = reader.option("ignoreInvalidPartitionPaths", "true")
        df = reader.parquet(*[os.path.join(self.base, r) for r in rels])
        out = logical_columns(columns)
        if ranks:
            if len(set(ranks.values())) == 1:
                out.append(f"{next(iter(ranks.values()))} AS __rank")
            else:
                df = df.withColumn(
                    "__path", df.metadataColumn("_metadata").getField("file_path")
                )
                whens = " ".join(
                    f"WHEN contains(__path, '/{os.path.basename(rel)}/') THEN {i}"
                    for rel, i in ranks.items()
                )
                out.append(f"CASE {whens} END AS __rank")
        return df.selectExpr(*out, *extra)

    def _to_physical(self, df: DataFrame, columns: list[dict]) -> DataFrame:
        """Rename a logical-named frame to stored names before a file
        write; columns outside the table schema pass through."""
        from pyspark.sql import functions as F

        by_name = {c["name"]: c for c in columns}
        return df.select(
            *[
                F.col(n).alias(physical_name(by_name[n])) if n in by_name else F.col(n)
                for n in df.columns
            ]
        )

    def _latest_ranks(self, t: dict, deltas: list, keys=None):
        """Each PK the chain ``deltas`` of table entry ``t`` writes, with
        the rank of its latest write — ``2i`` for an upsert and ``2i-1``
        for a tombstone of delta ``i`` — as an Arrow table ``(__kpk,
        __krank)``. A row ranked by the file set it sits in (0 for the
        base) survives the chain iff no write of its key ranks higher.
        Read on the driver with pyarrow from the PK column alone, no Spark
        job: deltas hold O(changed rows) and COMPACT_KEYS bounds them.
        ``keys`` (an Arrow array) restricts the read to those PKs."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        pkc = next(c for c in t["columns"] if c["primary_key"])
        field = to_arrow_schema(schema_of([dict(pkc, name=physical_name(pkc))]))
        # a partition_by PK sits in the upsert directories' names
        hive = (
            ds.partitioning(field, flavor="hive")
            if pkc["name"] in (t.get("partition_by") or [])
            else None
        )
        where = None if keys is None else ds.field(physical_name(pkc)).isin(keys)
        parts = []
        for i, d in enumerate(deltas, start=1):
            for kind, rank in (("deletes", 2 * i - 1), ("upserts", 2 * i)):
                if d.get(kind):
                    col = (
                        ds.dataset(
                            os.path.join(self.base, d[kind]),
                            schema=field,
                            format="parquet",
                            partitioning=hive if kind == "upserts" else None,
                        )
                        .to_table(filter=where)
                        .column(0)
                    )
                    rank_col = pa.array(np.full(len(col), rank, dtype=np.int32))
                    parts.append(pa.table({"k": col, "r": rank_col}))
        latest = pa.concat_tables(parts).group_by("k").aggregate([("r", "max")])
        return latest.select(["k", "r_max"]).rename_columns(["__kpk", "__krank"])

    def _chain_keys(self, t: dict, deltas: list) -> DataFrame:
        """The chain's keys and latest write ranks (``_latest_ranks``) as
        a LocalRelation, the build side of ``_resolve``'s anti-join."""
        pkc = next(c for c in t["columns"] if c["primary_key"])
        schema = T.StructType(
            [
                T.StructField("__kpk", SPARK_TYPES[pkc["datatype"]]),
                T.StructField("__krank", T.IntegerType()),
            ]
        )
        return local_df(self.spark, self._latest_ranks(t, deltas), schema)

    def _resolve(
        self,
        t: dict,
        deltas: list,
        base: Optional[str],
        predicate=None,
        keep_tombstones: bool = False,
        keys: Optional[DataFrame] = None,
    ) -> DataFrame:
        """The merge-on-read view of table entry ``t``: ``base`` under
        the chain ``deltas``. ``rows`` is ONE scan of the base (rank 0) and
        every upsert directory (rank ``2i`` for delta ``i``); a row
        survives unless a later write touches its PK:

            rows LEFT ANTI JOIN keys ON pk = __kpk AND __krank > __rank

        with ``keys`` from ``_chain_keys`` (a broadcast, no shuffle). This
        is exact because the base and each delta's upserts are unique on
        the PK (every writer's check_delta keeps them so). At
        equal delta an upsert (``2i``) outranks a tombstone (``2i-1``), so
        UPDATE pk=pk+1, which writes both in one delta, resolves.
        ``predicate`` filters ``rows`` (see read_df_pruned).
        ``keep_tombstones`` adds, flagged by ``__del``, a row for each PK
        whose latest write is a tombstone (the change feed's net changes).
        ``keys`` passes the chain's keys when the caller already has them."""
        from pyspark.sql import functions as F

        cols_meta = t["columns"]
        if not deltas:
            if base is None:
                return local_df(self.spark, [], schema_of(cols_meta))
            df = self._read_path(base, cols_meta)
            return df if predicate is None else df.filter(predicate)
        pk = _quote(self._pk_of(t))
        ranks = {} if base is None else {base: 0}
        ranks.update(
            {d["upserts"]: 2 * i for i, d in enumerate(deltas, start=1) if d.get("upserts")}
        )
        flag = ("false AS __del",) if keep_tombstones else ()
        if ranks:
            rows = self._read_path(list(ranks), cols_meta, ranks, flag)
        else:
            rows = local_df(self.spark, [], schema_of(cols_meta)).selectExpr(
                "*", "0 AS __rank", *flag
            )
        if predicate is not None:
            rows = rows.filter(predicate)
        if keys is None:
            keys = self._chain_keys(t, deltas)
        if keep_tombstones:
            tombstones = keys.filter("__krank % 2 = 1").selectExpr(
                *(
                    f"__kpk AS {pk}"
                    if c["primary_key"]
                    else f"CAST(NULL AS {SPARK_TYPES[c['datatype']].simpleString()})"
                    f" AS {_quote(c['name'])}"
                    for c in cols_meta
                ),
                "__krank AS __rank",
                "true AS __del",
            )
            rows = rows.unionByName(tombstones)
        return rows.join(
            keys, F.expr(f"{pk} = __kpk AND __krank > __rank"), "left_anti"
        ).drop("__rank")

    def read_df(self, manifest: dict, name: str) -> DataFrame:
        t = manifest["tables"].get(name)
        if t is None:
            raise CatalogError(f"table {name} does not exist")
        if t.get("external"):
            # ATTACHed read-only parquet outside the snapshot store; the
            # scan stays a plain parquet source so pushdown/pruning work.
            from entangledb_spark.sources.parquet_io import read_parquet_any

            return read_parquet_any(self.spark, t["external"])
        return self._resolve(t, t.get("deltas", []), t["data"])

    def read_df_pruned(self, manifest: dict, name: str, predicate) -> DataFrame:
        """Merge-on-read view of ``name`` with ``predicate`` (a Column over
        the table's partition column(s)) applied to the scan of the base
        and upserts, so partition pruning happens at the parquet source.

        Sound only when the predicate's columns are functionally
        determined by the pk and every writer maintains them consistently
        (all versions of a pk live in the same partition) — exactly the
        contract of a declared ``partition_by`` column like the
        fp-prefix bucket in streaming/corpus_dedup.py. The chain's keys
        are left unfiltered: a key of an unprobed pk removes nothing the
        filtered scan still holds."""
        t = manifest["tables"].get(name)
        if t is None:
            raise CatalogError(f"table {name} does not exist")
        if t.get("external"):
            # ATTACHed external parquet has no merge-on-read parts to
            # prune; the plain scan pushes the predicate
            # down as an ordinary source filter, which is all "pruned"
            # can mean for a table we don't partition ourselves.
            from entangledb_spark.sources.parquet_io import read_parquet_any

            return read_parquet_any(self.spark, t["external"]).filter(predicate)
        return self._resolve(t, t.get("deltas", []), t["data"], predicate)

    # ---- KeyLookup: pinned primary keys read on the driver ---------------
    #
    # The reference plans ``WHERE pk = lit`` as a KeyLookup node; here it
    # is an Arrow read of just those keys' rows on the driver, handed to
    # the compiler as a LocalRelation, so WHERE, projection, ORDER BY and
    # LIMIT still compile unchanged and Catalyst folds them: no Spark job.

    def key_lookup(self, manifest: dict, stmt) -> Optional[KeyLookup]:
        """The KeyLookup that serves query ``stmt`` against ``manifest``,
        or None for the Spark scan — the one decision for execution and
        EXPLAIN. It needs a SELECT whose only FROM item is a managed table
        (no AS OF, view, materialized view or CTE), no subquery (it would
        read the table again), and a top-level WHERE conjunct pinning the
        primary key to literals (``_pinned_keys``); ``plan_lookup``
        decides the rest."""
        if not (isinstance(stmt, ast.Select) and isinstance(stmt.from_, ast.TableRef)):
            return None
        ref = stmt.from_
        t = manifest["tables"].get(ref.name)
        if (
            t is None
            or t.get("external")
            or ref.as_of is not None
            or ref.name in (manifest.get("views") or {})
            or ref.name in (manifest.get("matviews") or {})
        ):
            return None
        roots = [e for e, _ in stmt.select] + [stmt.where, stmt.having]
        roots += [*stmt.group_by, *(o.expr for o in stmt.order_by)]
        if _has_subquery(roots):
            return None
        return self._pinned_lookup(manifest, ref.name, ref.alias or ref.name, stmt.where)

    def driver_write(self, manifest: dict, stmt) -> Optional[KeyLookup]:
        """How DML ``stmt`` against ``manifest`` builds and writes its
        delta — the one decision for execution and EXPLAIN. A KeyLookup
        means the driver path: the statement's pre-image is the
        KeyLookup's rows (``lookup_df``, collected with no job), and its
        delta is Arrow rows that ``write_delta`` writes with pyarrow. None
        means the Spark path: the pre-image is the view (``read_df``) and
        Spark writes the delta.

        The driver path takes INSERT … VALUES into a managed table without
        ``partition_by`` (its pre-image is empty: a KeyLookup of no keys),
        and an UPDATE or DELETE with no subquery whose WHERE has a
        top-level conjunct pinning the primary key to literals
        (``_pinned_keys``), where ``plan_lookup`` accepts the table. What
        its constraint checks cost is ``check_delta``'s affair: a check
        that needs the kept rows or a referencing table still reads them
        with Spark."""
        t = manifest["tables"].get(getattr(stmt, "table", None))
        if t is None or t.get("external") or t.get("partition_by"):
            return None
        if isinstance(stmt, ast.Insert):
            return KeyLookup(stmt.table, ()) if stmt.query is None else None
        if isinstance(stmt, ast.Update):
            roots = [stmt.where, *(e for _, e in stmt.sets)]
        elif isinstance(stmt, ast.Delete):
            roots = [stmt.where]
        else:
            return None
        if _has_subquery(roots):
            return None
        return self._pinned_lookup(manifest, stmt.table, stmt.table, stmt.where)

    def _pinned_lookup(
        self, manifest: dict, name: str, qualifier: str, where: Optional[ast.Expr]
    ) -> Optional[KeyLookup]:
        """The KeyLookup of the keys the first top-level conjunct of
        ``where`` pins table ``name``'s primary key to (``_pinned_keys``;
        ``qualifier`` is how the statement names the table), or None."""
        pk = self._pk_of(manifest["tables"][name])
        for conjunct in _conjuncts(where):
            keys = _pinned_keys(conjunct, pk, qualifier)
            if keys is not None:
                return self.plan_lookup(manifest, name, keys)
        return None

    def plan_lookup(self, manifest: dict, name: str, keys: list) -> Optional[KeyLookup]:
        """A KeyLookup of ``keys`` in managed table ``name``, or None where
        the Spark scan must serve them: a ``partition_by`` table, a key not
        of the PK's exact type (so none for a FLOAT or BOOLEAN PK), or
        more than LOOKUP_BYTES of files to open."""
        t = manifest["tables"].get(name)
        if t is None or t.get("external") or t.get("partition_by"):
            return None
        pkc = next(c for c in t["columns"] if c["primary_key"])
        if not all(_exact_key(k, pkc["datatype"]) for k in keys):
            return None
        rels = [t["data"]] if t["data"] else []
        rels += [d[k] for d in t.get("deltas", []) for k in ("upserts", "deletes") if d.get(k)]
        size = sum(os.path.getsize(f) for rel in rels for f in self._parquet_files(rel))
        if size > self.LOOKUP_BYTES:
            return None
        return KeyLookup(name, tuple(keys))

    def lookup_df(self, manifest: dict, lookup: KeyLookup) -> DataFrame:
        """The rows of ``lookup.table``'s view whose PK is one of
        ``lookup.keys``, as a LocalRelation: collecting it runs no job.
        pyarrow reads the base and every upsert file set filtered by
        ``pk IN keys`` (row-group statistics skip the rest), ranks each
        row by its file set as ``_resolve`` does, and keeps a row iff its
        rank is its key's latest write rank (``_latest_ranks``; 0 for a
        key the chain does not touch) — the anti-join's rule. The stored
        columns map to logical ones by ``logical_columns``."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        t = manifest["tables"][lookup.table]
        cols = t["columns"]
        deltas = t.get("deltas", [])
        # all nullable: files written before an ADD COLUMN lack it
        stored = schema_of([dict(c, nullable=True) for c in cols], physical=True)
        arrow = to_arrow_schema(stored)
        pk = physical_name(next(c for c in cols if c["primary_key"]))
        keys = pa.array(lookup.keys, arrow.field(pk).type)
        ranked = [(t["data"], 0)] if t["data"] else []
        ranked += [(d["upserts"], 2 * i) for i, d in enumerate(deltas, start=1) if d.get("upserts")]
        parts = [arrow.empty_table().append_column("__rank", pa.array([], pa.int32()))]
        for rel, rank in ranked:
            part = ds.dataset(
                os.path.join(self.base, rel), schema=arrow, format="parquet"
            ).to_table(filter=ds.field(pk).isin(keys))
            rank_col = pa.array(np.full(len(part), rank, dtype=np.int32))
            parts.append(part.append_column("__rank", rank_col))
        rows = pa.concat_tables(parts)
        if deltas:
            rows = rows.join(self._latest_ranks(t, deltas, keys), pk, "__kpk")
            rows = rows.filter(pc.equal(rows["__rank"], pc.fill_null(rows["__krank"], 0)))
        frame = local_df(self.spark, rows.select(arrow.names), stored)
        return frame.selectExpr(*logical_columns(cols))

    def read_keys_df(self, manifest: dict, name: str, keys: list) -> DataFrame:
        """The rows of ``name``'s view whose PK is one of ``keys``: a
        KeyLookup where ``plan_lookup`` allows one, else the view filtered
        by ``pk IN keys``."""
        from pyspark.sql import functions as F

        lookup = self.plan_lookup(manifest, name, keys)
        if lookup is not None:
            return self.lookup_df(manifest, lookup)
        pk = self._pk_of(manifest["tables"][name])
        return self.read_df(manifest, name).filter(F.col(pk).isin(list(keys)))

    def write_snapshot(
        self, name: str, df: DataFrame, partition_by: Optional[list] = None
    ) -> str:
        """Write an immutable parquet file set, return its manifest-relative
        path. Distributed write — no driver materialization.

        ``partition_by`` encodes those columns in the directory layout
        (Hive-style) so later reads can prune files by partition value —
        the ann_index.py recipe generalized to catalog tables. A managed
        table's rows are written through ``write_delta``, which passes the
        table's layout; only CREATE TABLE AS and materialized-view
        snapshots call this directly."""
        rel = os.path.join("data", name, uuid.uuid4().hex[:12])
        w = df.write.mode("overwrite")
        if partition_by:
            # route each partition's rows into one task first: without it
            # every input partition writes a file per value directory
            # (tiny-file explosion — same rationale as build_lsh_index)
            w = df.repartition(*partition_by).write.mode("overwrite").partitionBy(
                *partition_by
            )
        w.parquet(os.path.join(self.base, rel))
        return rel

    def _partition_cols(self, meta: dict) -> list[str]:
        """The stored names of table entry ``meta``'s ``partition_by``
        columns (logical names, kept current by RENAME COLUMN)."""
        by_name = {c["name"]: c for c in meta["columns"]}
        return [physical_name(by_name.get(p, {"name": p})) for p in meta.get("partition_by") or []]

    def write_delta(self, meta: dict, name: str, upserts=None, deletes=None) -> Optional[dict]:
        """Write logical-named ``upserts`` (full rows) and ``deletes`` (PK
        tombstones) of table ``name`` (entry ``meta``) as file sets in the
        table's stored layout: physical column names, and the upserts
        partitioned like every other file set of the table. Each is a
        DataFrame, which Spark writes (``write_snapshot``), or a
        ``pyarrow.Table``, which the driver writes (``_write_arrow``).
        Returns the delta entry ({'upserts': path, 'deletes': path}), None
        when both are None. Every writer of a managed table's rows comes
        here; whether a delta may be published is ``check_delta``'s call."""
        delta: dict = {}
        # tombstones carry only the pk — never partition-encoded
        for kind, rows, parts in (
            ("upserts", upserts, self._partition_cols(meta)),
            ("deletes", deletes, []),
        ):
            if rows is None:
                continue
            if isinstance(rows, DataFrame):
                phys = self._to_physical(rows, meta["columns"])
                delta[kind] = self.write_snapshot(name, phys, parts)
            else:
                if parts:
                    raise CatalogError(f"rows of partitioned table {name} are written by Spark")
                delta[kind] = self._write_arrow(name, rows, meta["columns"])
        return delta or None

    def _write_arrow(self, name: str, rows, columns: list[dict]) -> str:
        """Write the logical-named ``pyarrow.Table`` ``rows`` of table
        ``name`` (column list ``columns``) as a new file set of ONE
        parquet file, on the driver with pyarrow: renamed to the stored
        names and cast to the stored types, every field nullable as in
        ``lookup_df``. Returns its manifest-relative path. A 1-row file
        took 0.5 ms on a 4-core VM, against 160–218 ms for the Spark
        write job of the same rows."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        by_name = {c["name"]: c for c in columns}
        stored = to_arrow_schema(
            schema_of([dict(by_name[n], nullable=True) for n in rows.column_names], physical=True)
        )
        rel = os.path.join("data", name, uuid.uuid4().hex[:12])
        os.makedirs(os.path.join(self.base, rel))
        # FLOAT columns get neither min/max statistics nor a dictionary:
        # Spark prunes row groups by both, and would drop rows that `=`
        # matches — Arrow's min/max leave NaN out, and the dictionary test
        # tells -0.0 from 0.0
        exact = [f.name for f in stored if not pa.types.is_floating(f.type)]
        pq.write_table(
            rows.rename_columns(stored.names).cast(stored),
            os.path.join(self.base, rel, "part-00000.parquet"),
            write_statistics=exact,
            use_dictionary=exact,
        )
        return rel

    def append_delta(self, manifest: dict, name: str, delta: dict) -> None:
        """Put the written ``delta`` (``write_delta``) at the end of table
        ``name``'s chain in the pending ``manifest``."""
        manifest["tables"][name].setdefault("deltas", []).append(delta)

    def stage_delta(self, manifest: dict, name: str, upserts=None, deletes=None) -> Optional[dict]:
        """Append a merge-on-read delta (O(changed rows) write), compacting
        into a fresh base when the delta chain gets long. ``upserts`` and
        ``deletes`` are DataFrames or Arrow tables (``write_delta``).
        Returns the delta entry ({'upserts': path, 'deletes': path}) so
        callers can report row counts from the written files' footers
        instead of re-running the matching job."""
        meta = manifest["tables"][name]
        delta = self.write_delta(meta, name, upserts, deletes)
        if delta is None:
            return None
        self.append_delta(manifest, name, delta)
        if self.chain_full(meta):
            self.compact(manifest, name)
        return delta

    def check_delta(self, manifest: dict, name: str, delta: con.Delta) -> None:
        """Check what one change to ``name`` can newly violate
        (sources/constraints.py), against the pending ``manifest``: its
        views are read with ``read_df`` and pinned keys with
        ``read_keys_df``. The checks are distributed jobs over the change,
        driver-side checks of the rows a statement holds, or none at all;
        the table view itself is never collected."""
        con.check_delta(
            name,
            manifest["tables"],
            delta,
            lambda t: self.read_df(manifest, t),
            lambda t, keys: self.read_keys_df(manifest, t, keys),
        )

    def chain_full(self, meta: dict) -> bool:
        """Whether the delta chain of table entry ``meta`` must fold into
        a new base: it holds COMPACT_AFTER deltas, or more than
        COMPACT_KEYS delta rows (counted from the parquet footers) — every
        read of the table holds the chain's keys on the driver."""
        deltas = meta.get("deltas") or []
        if len(deltas) >= self.COMPACT_AFTER:
            return True
        rows = 0
        for d in deltas:
            for kind in ("upserts", "deletes"):
                if d.get(kind):
                    rows += self.count_rows(d[kind])
        return rows > self.COMPACT_KEYS

    def count_rows(self, rel: str) -> int:
        """Row count of a written snapshot from parquet footer statistics —
        a metadata-only read, no data scan."""
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for f in self._parquet_files(rel))

    def _parquet_files(self, rel: str) -> list[str]:
        """The parquet files of a written snapshot. os.walk, not listdir:
        partitioned snapshots (partition_by) nest their files under value
        directories."""
        return [
            os.path.join(d, f)
            for d, _, fs in os.walk(os.path.join(self.base, rel))
            for f in fs
            if f.endswith(".parquet")
        ]

    def compact(self, manifest: dict, name: str, view: Optional[DataFrame] = None) -> None:
        """Materialize the current view as a new base and clear the delta
        chain — bounds read amplification; run out-of-band at scale.
        ``view`` lets OPTIMIZE pass a re-clustered frame (same rows,
        different layout) through the identical physical-write funnel."""
        meta = manifest["tables"][name]
        if view is None:
            # one shuffle on the PK: the resolve keeps the input files'
            # splits, so without it the new base would hold a file per
            # input file, and the file count would grow with every
            # compaction; AQE coalesces the shuffle to a few files. Each
            # file is sorted on the PK, so footer min/max prune PK probes.
            pk = self._pk_of(meta)
            view = self.read_df(manifest, name).repartition(pk).sortWithinPartitions(pk)
        meta["data"] = self.write_delta(meta, name, upserts=view)["upserts"]
        meta["deltas"] = []

    def compact_small_files(
        self, manifest: dict, name: str, threshold: int
    ) -> Optional[dict]:
        """Delta-style scoped compaction (round 10): bin-pack ONLY parquet
        files under ``threshold`` bytes into one file per directory,
        HARD-LINKING every well-sized file into the new base unchanged —
        same inode, zero bytes read or rewritten (the local-filesystem
        equivalent of an object store's file-manifest reuse: at 100 TB
        this is the difference between OPTIMIZE costing O(small files)
        and O(table)). Partition directories pack independently (files
        under different partition values can never merge). The delta
        chain is PRESERVED — base rows stay base rows, so merge-on-read
        semantics and pending tombstones are untouched (unlike the full
        rewrite, which folds and resets the chain).

        Returns {"rewritten", "kept", "dirs"} after swapping meta["data"]
        to the new base, or None when no directory holds two small files
        (true no-op: the manifest is untouched, no version is wasted)."""
        import shutil

        meta = manifest["tables"][name]
        if meta.get("data") is None or meta.get("external"):
            return None
        base_dir = os.path.join(self.base, meta["data"])
        groups: dict[str, tuple[list, list]] = {}
        for root, _dirs, fnames in os.walk(base_dir):
            sub = os.path.relpath(root, base_dir)
            for fn in fnames:
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.join(root, fn)
                g = groups.setdefault("" if sub == "." else sub, ([], []))
                (g[0] if os.path.getsize(p) < threshold else g[1]).append(p)
        if not any(len(small) >= 2 for small, _ in groups.values()):
            return None
        phys_part = set(self._partition_cols(meta))
        # files inside a Hive layout do NOT store the partition columns —
        # read them with the file schema, the directory path keeps the
        # partition values
        file_cols = [
            c for c in meta["columns"] if physical_name(c) not in phys_part
        ]
        fschema = schema_of(file_cols, physical=True)
        new_rel = os.path.join("data", name, uuid.uuid4().hex[:12])
        new_dir = os.path.join(self.base, new_rel)
        n_rw = n_kept = 0
        for sub, (small, kept) in sorted(groups.items()):
            dst = os.path.join(new_dir, sub) if sub else new_dir
            os.makedirs(dst, exist_ok=True)
            if len(small) < 2:  # a lone small file isn't worth a rewrite
                kept = kept + small
                small = []
            for p in kept:
                os.link(p, os.path.join(dst, os.path.basename(p)))
                n_kept += 1
            if not small:
                continue
            tmp = os.path.join(self.base, "data", name, "_pack_" + uuid.uuid4().hex[:8])
            (
                self.spark.read.schema(fschema)
                .parquet(*sorted(small))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            for fn in os.listdir(tmp):
                if fn.endswith(".parquet"):
                    os.link(
                        os.path.join(tmp, fn), os.path.join(dst, "packed-" + fn)
                    )
            shutil.rmtree(tmp, ignore_errors=True)
            n_rw += len(small)
        meta["data"] = new_rel
        return {"rewritten": n_rw, "kept": n_kept, "dirs": len(groups)}

    def compact_partitions(
        self,
        manifest: dict,
        name: str,
        equalities: dict,
        files: Optional[int] = None,
        zorder: Optional[list] = None,
    ) -> dict:
        """OPTIMIZE t [ZORDER BY (...)] WHERE <partition equalities>
        (round 10; ZORDER scope round 11): rewrite the MATCHING partition
        directories from the merged view (pending deltas for those rows
        fold in — re-applying them on read stays correct: every delta
        still outranks the base rows it shadows, and a delta's row
        replaces its folded base copy) and HARD-LINK every other partition
        directory into the new base unchanged. The delta chain is
        preserved. Cost scales with the matched partitions, never the
        table — the scoped-OPTIMIZE contract at 100 TB (re-clustering a
        whole 100 TB table because one partition went stale is not
        viable; this re-clusters exactly the stale directories).

        ``zorder``: Z-order-cluster the REWRITTEN partitions on these
        (non-partition) columns — zorder_frame's range shuffle on the
        interleaved z-value replaces the plain repartition, so each
        rewritten directory's files cover small key-space rectangles and
        footer min/max pruning works inside the partition. Point-in-time
        and partition-scoped: untouched directories keep their existing
        layout (that is the point), so no table-level ``zorder`` marker
        is set.

        ``equalities``: {logical partition column: literal value}."""
        meta = manifest["tables"][name]

        from pyspark.sql import functions as F

        pred = None
        for c, v in equalities.items():
            term = F.col(c).eqNullSafe(F.lit(v))
            pred = term if pred is None else (pred & term)
        view = self.read_df(manifest, name).filter(pred)
        phys_parts = self._partition_cols(meta)
        if zorder:
            from entangledb_spark.sources.layout import zorder_frame

            # range-shuffle on the interleaved z-value; each task then
            # writes its z-range into the partition dirs it touches, so
            # files within a rewritten dir are z-clustered. May raise
            # ValueError (>63 interleaved bits) — caller maps it to a
            # statement error.
            view, _ = zorder_frame(view, list(zorder), files)
            w = self._to_physical(view, meta["columns"])
        elif files is not None:
            w = self._to_physical(view.repartition(files), meta["columns"])
        else:
            w = self._to_physical(view, meta["columns"]).repartition(*phys_parts)
        new_rel = os.path.join("data", name, uuid.uuid4().hex[:12])
        new_dir = os.path.join(self.base, new_rel)
        w.write.mode("overwrite").partitionBy(*phys_parts).parquet(new_dir)
        n_kept = 0
        if meta.get("data") is not None:
            old_dir = os.path.join(self.base, meta["data"])
            for root, _dirs, fnames in os.walk(old_dir):
                sub = os.path.relpath(root, old_dir)
                # Identity is decided by the rewrite's OWN output paths,
                # never by formatting Python literals into dir names:
                # Spark/Hive path encoding (booleans lowercase, special
                # chars percent-escaped, its own float formatting) is the
                # canonical form both old and new bases are written in, so
                # a partition the rewrite re-emitted exists under the same
                # relative path in the new base — linking it too would
                # duplicate every row of the partition (round-10 advice).
                # A matched partition the rewrite emitted NO rows for
                # (fully tombstoned) links back harmlessly: the preserved
                # delta chain still shadows those rows on read.
                if sub == "." or os.path.isdir(os.path.join(new_dir, sub)):
                    continue
                for fn in fnames:
                    if not fn.endswith(".parquet"):
                        continue
                    dst = os.path.join(new_dir, sub)
                    os.makedirs(dst, exist_ok=True)
                    os.link(os.path.join(root, fn), os.path.join(dst, fn))
                    n_kept += 1
        meta["data"] = new_rel
        return {"kept": n_kept}

    def vacuum(self, keep_last: int = 8) -> dict:
        """Retention GC: drop manifests older than the last `keep_last`
        versions and delete data directories no kept version references.

        Snapshot stores grow monotonically — every commit adds a manifest
        and (for compactions/full rewrites) a full data copy, so without
        GC a 100 TB table's history dwarfs the table. Vacuum trades
        time-travel depth for space, exactly like Delta/Iceberg retention:
        `AS OF` below the cutoff raises a clean version-does-not-exist
        error afterwards. Run it quiesced (or from the single writer):
        a concurrent uncommitted transaction's freshly staged files are
        unreferenced until publish and would be collected."""
        import shutil

        current = self.current_version()
        cutoff = max(0, current - max(1, keep_last) + 1)
        referenced: set[str] = set()
        for v in range(cutoff, current + 1):
            man = self.manifest(v)
            for t in man["tables"].values():
                if t.get("external"):
                    continue
                if t.get("data"):
                    referenced.add(t["data"])
                for d in t.get("deltas", []):
                    for k in ("upserts", "deletes"):
                        if d.get(k):
                            referenced.add(d[k])
            for mv in (man.get("matviews") or {}).values():
                if mv.get("data"):
                    referenced.add(mv["data"])
        removed_manifests = 0
        mdir = os.path.join(self.base, "manifests")
        for f in os.listdir(mdir):
            if f.startswith("v") and f.endswith(".json"):
                try:
                    v = int(f[1:-5])
                except ValueError:
                    continue
                if v < cutoff:
                    os.unlink(os.path.join(mdir, f))
                    removed_manifests += 1
        removed_dirs = 0
        ddir = os.path.join(self.base, "data")
        for tname in os.listdir(ddir):
            tdir = os.path.join(ddir, tname)
            if not os.path.isdir(tdir):
                continue
            for snap in os.listdir(tdir):
                rel = os.path.join("data", tname, snap)
                if rel not in referenced:
                    shutil.rmtree(os.path.join(tdir, snap), ignore_errors=True)
                    removed_dirs += 1
        return {
            "kept_from": cutoff,
            "current": current,
            "removed_manifests": removed_manifests,
            "removed_data_dirs": removed_dirs,
        }

    def changes_df(self, name: str, from_v: int, to_v: int) -> DataFrame:
        """Change data feed: net row-level changes to `name` between
        version `from_v` (exclusive) and `to_v` (inclusive), with a
        `_change_type` column in ('insert', 'update', 'delete') — the
        incremental-refresh primitive (recompute only what changed since
        the last run, instead of re-reading a 100 TB table).

        Fast path: when to_v's delta chain extends from_v's on the same
        base (the common no-compaction case), only the NEW delta files are
        read — O(changed rows) — resolved to one net row per PK, then ONE
        left join to the from_v view, pruned to the tail's keys, classifies
        insert, update and delete and fills delete pre-images: two file
        scans and no window at any tail length. When compaction rewrote
        the base in between, falls back to a full snapshot diff: one
        null-safe full-outer join on PK.
        Deletes carry the pre-image row; inserts/updates the post-image.
        """
        from pyspark.sql import functions as F

        if from_v > to_v:
            raise CatalogError(f"changes: from_version {from_v} > to_version {to_v}")
        man_old, man_new = self.manifest(from_v), self.manifest(to_v)
        t_new = man_new["tables"].get(name)
        if t_new is None:
            raise CatalogError(f"table {name} does not exist at version {to_v}")
        if t_new.get("external"):
            raise CatalogError("changes are not tracked for ATTACHed external tables")
        schema = schema_of(t_new["columns"])
        cols = schema.fieldNames()
        t_old = man_old["tables"].get(name)
        if t_old is None:  # created inside the range → everything is an insert
            return self.read_df(man_new, name).withColumn("_change_type", F.lit("insert"))
        if t_old.get("external"):
            raise CatalogError("changes are not tracked for ATTACHed external tables")
        if t_old["columns"] != t_new["columns"]:
            # ALTER TABLE inside the range: physical-name pinning makes the
            # OLD files readable under the NEW schema (renamed columns map
            # through `physical`, added ones fill NULL/initial_default,
            # dropped ones vanish), so the diff is expressed in the new
            # logical schema — patch the old entry's column list only.
            t_old = dict(t_old, columns=t_new["columns"])
            man_old = dict(man_old)
            man_old["tables"] = dict(man_old["tables"], **{name: t_old})
        pk = self._pk_of(t_new)
        old_deltas = t_old.get("deltas", [])
        new_deltas = t_new.get("deltas", [])

        def empty() -> DataFrame:
            return local_df(self.spark, [], schema).withColumn(
                "_change_type", F.lit("").cast("string")
            )

        if t_old["data"] == t_new["data"] and new_deltas[: len(old_deltas)] == old_deltas:
            tail = new_deltas[len(old_deltas):]
            if not tail:
                return empty()
            # the tail's net (row, __del) per PK — the same resolve as
            # read_df, over O(changed rows) — joined once to the from_v
            # rows of the keys it touches
            keys = self._chain_keys(t_new, tail)
            net = self._resolve(t_new, tail, None, keep_tombstones=True, keys=keys)
            old = (
                self.read_df(man_old, name)
                .join(keys, F.expr(f"{_quote(pk)} = __kpk"), "left_semi")
                .toDF(*[f"__o{i}" for i in range(len(cols))])
            )
            opk = f"__o{cols.index(pk)}"
            changed = _row_differs([_quote(c) for c in cols], [f"__o{i}" for i in range(len(cols))])
            # tombstones of rows that never existed at from_v are no-ops,
            # and so are rewrites that leave the from_v row as it was;
            # real deletes carry the pre-image row from the old snapshot
            return (
                net.join(old, F.expr(f"{_quote(pk)} = {opk}"), "left")
                .selectExpr(
                    *(
                        f"CASE WHEN __del THEN __o{i} ELSE {_quote(c)} END AS {_quote(c)}"
                        for i, c in enumerate(cols)
                    ),
                    f"CASE WHEN NOT __del THEN CASE WHEN {opk} IS NULL THEN 'insert'"
                    f" WHEN {changed} THEN 'update' END"
                    f" WHEN {opk} IS NOT NULL THEN 'delete' END AS _change_type",
                )
                .filter("_change_type IS NOT NULL")
            )

        # compaction/rewrite inside the range → null-safe snapshot diff
        o = self.read_df(man_old, name).alias("o")
        n = self.read_df(man_new, name).alias("n")
        joined = o.join(n, F.col(f"o.{pk}") == F.col(f"n.{pk}"), "full_outer")
        changed = _row_differs(
            [f"n.{_quote(c)}" for c in cols], [f"o.{_quote(c)}" for c in cols]
        )
        ctype = (
            F.when(F.col(f"o.{pk}").isNull(), "insert")
            .when(F.col(f"n.{pk}").isNull(), "delete")
            .when(F.expr(changed), "update")
        )
        side = [
            F.when(F.col(f"n.{pk}").isNull(), F.col(f"o.{c}")).otherwise(F.col(f"n.{c}")).alias(c)
            for c in cols
        ]
        return (
            joined.withColumn("_change_type", ctype)
            .filter(F.col("_change_type").isNotNull())
            .select(*side, "_change_type")
        )
