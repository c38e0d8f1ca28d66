"""The entangleDB-on-Spark engine: session layer + statement execution.

Maps the reference's session semantics (/root/reference/src/sql/engine/
mod.rs:79-143) onto the snapshot catalog:

- `BEGIN [READ ONLY|READ WRITE] [AS OF SYSTEM TIME n]` pins a manifest
  version; read-write transactions stage changes in a pending manifest.
- `COMMIT` publishes the pending manifest as version N+1; `ROLLBACK`
  discards it. Both error without an open transaction (mod.rs:103-117).
- Statements outside a transaction auto-commit (mod.rs:124-143).
- `EXPLAIN stmt` returns our logical plan tree; physical detail is
  delegated to Spark's own explain (Catalyst is the optimizer — SURVEY
  §4.1 maps every reference rewrite rule onto a built-in Catalyst rule).
- `EXPLAIN ANALYZE query` (extension) EXECUTES the query cluster-side
  (rows never transfer to the driver) and returns the final adaptive
  physical plan annotated with per-operator RUNTIME metrics
  (numOutputRows, spill, shuffle bytes, pipeline time) plus the row
  count and wall time — queries only, DML is rejected.

DML is set-oriented and distributed end-to-end: INSERT/UPDATE/DELETE/MERGE
read the pinned snapshot, transform declaratively, and stage only the
changed rows as a merge-on-read delta. Constraints are checked on that
delta against the pre-image the statement read (sources/constraints.py):
the written rows, and the keys it removes, never the whole table — so a
1-row write costs a bounded probe, not O(table). No row loops over table
data in Python anywhere; literal VALUES rows, already Python tuples, are
checked as such. A key-addressed write (INSERT … VALUES, or UPDATE/DELETE
pinning the primary key to literals) reads its pre-image by KeyLookup and
the driver writes its delta with pyarrow, with no Spark job
(``SnapshotCatalog.driver_write``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entangledb_spark.functions.expressions import CompileError, compile_expr
from entangledb_spark.plans import ast
from entangledb_spark.plans.compiler import (
    RECURSIVE_CTE_MAX_ITERS,
    _carry_versioned,
    _chain_reader,
    compile_statement,
)
from entangledb_spark.plans.lexer import LexError
from entangledb_spark.plans.parser import ParseError, parse
from entangledb_spark.sources import constraints as con
from entangledb_spark.sources.catalog import (
    SPARK_TYPES,
    CatalogError,
    SnapshotCatalog,
    column_to_dict,
    schema_of,
)


# ANALYZEd tables at or below this row count get a broadcast hint in the
# dialect compiler's scans (≈ a few MB — safely inside executor memory).
BROADCAST_ROW_THRESHOLD = 100_000


from entangledb_spark.engine_base import (  # noqa: F401 — public re-exports
    EngineError,
    Result,
    _fold_constant,
)
from entangledb_spark.engine_ddl import DdlStatements
from entangledb_spark.engine_dml import DmlStatements
from entangledb_spark.engine_explain import ExplainStatements
from entangledb_spark.engine_matview import MatviewStatements


class Engine(DdlStatements, DmlStatements, MatviewStatements, ExplainStatements):
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.catalog = SnapshotCatalog(spark, base_dir)
        self._txn: Optional[dict] = None  # pending manifest (read-write txn)
        self._txn_read_only = False
        self._txn_version: Optional[int] = None

    # ------------------------------------------------------------------ api

    def execute(self, sql: str) -> Result:
        from pyspark.errors import AnalysisException

        try:
            stmt = parse(sql)
            return self._execute_statement(stmt)
        except EngineError:
            raise
        except (
            LexError,
            ParseError,
            CompileError,
            CatalogError,
            con.ConstraintError,
            AnalysisException,  # Catalyst analyzer = our type checker of last resort
        ) as e:
            raise EngineError(str(e).split("\n")[0]) from e

    def explain(self, sql: str) -> str:
        stmt = parse(sql)
        if isinstance(stmt, ast.Explain):
            stmt = stmt.statement
        return self._explain(stmt)

    @property
    def in_transaction(self) -> bool:
        return self._txn is not None or self._txn_version is not None

    # ------------------------------------------------- transaction resume
    #
    # The reference's transaction state (version + active set) travels
    # inside each request so ANY node can resume the transaction
    # (/root/reference/src/storage/mvcc.rs:124-127; golden script
    # `src/storage/golden/mvcc/resume`). Our state is just as portable:
    # the pinned version plus the pending manifest, whose staged deltas
    # are already durable files — a plain JSON-able dict that can cross a
    # process or wire boundary.

    def txn_state(self) -> Optional[dict]:
        """Portable snapshot of the open transaction (None outside one)."""
        import copy

        if not self.in_transaction:
            return None
        return {
            "version": self._txn_version,
            "manifest": copy.deepcopy(self._txn),
        }

    def detach(self) -> dict:
        """Detach the open transaction from this session and return its
        portable state; the session returns to auto-commit mode without
        rolling back. The state can be `resume`d by any session on the
        same database — including over the wire on another connection."""
        state = self.txn_state()
        if state is None:
            raise EngineError("not in a transaction")
        self._txn = None
        self._txn_version = None
        return state

    def resume(self, state: dict) -> Result:
        """Adopt a transaction previously captured by txn_state/detach.
        Commit-time OCC still applies: if the same state is resumed twice,
        the second COMMIT conflicts (first-committer-wins), so a resumed
        transaction can never double-publish."""
        import copy

        if self.in_transaction:
            raise EngineError("already in a transaction")
        if not isinstance(state, dict) or "version" not in state:
            raise EngineError("invalid transaction state")
        version = state["version"]
        self.catalog.manifest(version)  # existence check (vacuum may have GC'd it)
        self._txn_version = version
        self._txn = copy.deepcopy(state.get("manifest"))
        kind = "READ ONLY " if self._txn is None else ""
        return Result(status=f"RESUME {kind}AT {version}", version=version)

    # catalog introspection — the reference's Request::ListTables/GetTable
    # (server.rs:215-220) and the REPL's !tables/!table backing calls

    def list_tables(self) -> list[str]:
        return sorted(self._manifest_for_read()["tables"])

    def analyze(self, name: str) -> Result:
        """ANALYZE (extension — the reference optimizer is rule-only with
        no statistics at all, src/sql/plan/optimizer.rs): compute table
        statistics in ONE distributed aggregate job — row count plus
        per-column approximate NDV and min/max — and store them in the
        table's manifest entry. The dialect compiler uses the row count to
        broadcast small analyzed tables even when Spark's size estimate
        can't see through the merge-on-read resolve plan; NDV/min/max are
        introspection surface (!table shows them).

        Stats are a snapshot of the analyzed version: later DML leaves
        them in place (still useful as estimates) until re-ANALYZEd."""
        if self._txn is not None or self._txn_version is not None:
            raise EngineError("ANALYZE is not allowed inside a transaction")
        base = self.catalog.current_version()
        manifest = self.catalog.manifest(base)
        t = manifest["tables"].get(name)
        if t is None:
            raise EngineError(f"table {name} does not exist")
        if t.get("external"):
            raise EngineError("ANALYZE is not supported for ATTACHed external tables")
        df = self.catalog.read_df(manifest, name)
        aggs: list = [F.count(F.lit(1)).alias("__n")]
        numeric = {"INTEGER", "FLOAT"}
        for c in t["columns"]:
            cn = c["name"]
            aggs.append(F.approx_count_distinct(cn).alias(f"__ndv_{cn}"))
            if c["datatype"] in numeric:
                aggs.append(F.min(cn).alias(f"__min_{cn}"))
                aggs.append(F.max(cn).alias(f"__max_{cn}"))
        row = df.agg(*aggs).first()
        cols = {}
        for c in t["columns"]:
            cn = c["name"]
            s: dict = {"ndv": row[f"__ndv_{cn}"]}
            if c["datatype"] in numeric:
                s["min"], s["max"] = row[f"__min_{cn}"], row[f"__max_{cn}"]
            cols[cn] = s
        t["stats"] = {"n_rows": row["__n"], "analyzed_version": base, "columns": cols}
        v = self.catalog.publish(manifest, expected_version=base)
        return Result(
            status=f"ANALYZE {name} ({row['__n']} rows, {len(cols)} columns)",
            version=v,
        )

    def vacuum(self, keep_last: int = 8) -> Result:
        """Retention GC on the snapshot store (extension): keep the last
        `keep_last` versions, delete older manifests and unreferenced data
        dirs. AS OF below the cutoff errors afterwards — the documented
        time-travel retention tradeoff. Not allowed inside a transaction
        (the pinned snapshot could be collected out from under it)."""
        if self._txn is not None or self._txn_version is not None:
            raise EngineError("VACUUM is not allowed inside a transaction")
        stats = self.catalog.vacuum(keep_last)
        return Result(
            status=(
                f"VACUUM kept v{stats['kept_from']}..v{stats['current']} "
                f"(removed {stats['removed_manifests']} manifests, "
                f"{stats['removed_data_dirs']} data dirs)"
            ),
            version=stats["current"],
        )

    def table_changes(self, name: str, from_version: int, to_version: Optional[int] = None) -> Result:
        """Change data feed between two committed versions (extension — the
        reference stores MVCC versions, storage/mvcc.rs:119-122, but has no
        changed-rows API). Returns the net row-level changes with a
        `_change_type` column ('insert'/'update'/'delete'); deletes carry
        the pre-image. Incremental consumers poll this instead of
        re-reading the table. Lazy like SELECT — rows pull via fetch()."""
        from entangledb_spark.sources.catalog import CatalogError

        if to_version is None:
            to_version = self.catalog.current_version()
        try:
            df = self.catalog.changes_df(name, from_version, to_version)
        except CatalogError as e:
            raise EngineError(str(e)) from None
        return Result(
            status=f"CHANGES {name} v{from_version}..v{to_version}",
            columns=list(df.columns),
            dataframe=df,
            version=to_version,
        )

    def attach_parquet(self, name: str, path: str) -> Result:
        """ATTACH an external parquet file/dir as a read-only table (schema
        inferred; types outside the 4-type system carried through verbatim).
        Lets a user point the SQL engine at existing data with zero copies —
        the scan stays a native parquet source with pushdown/pruning."""
        from entangledb_spark.sources.catalog import FROM_SPARK_TYPES
        from entangledb_spark.sources.parquet_io import read_parquet_any

        if self._txn is not None or self._txn_version is not None:
            raise EngineError("ATTACH is not allowed inside a transaction")
        path = os.path.abspath(path)
        df = read_parquet_any(self.spark, path)
        # OCC like _mutate: pin the version the manifest was read from so a
        # concurrent commit between read and publish conflicts instead of
        # being silently overwritten
        base = self.catalog.current_version()
        manifest = self.catalog.manifest(base)
        taken = self._name_taken(manifest, name)
        if taken:
            raise EngineError(f"{taken} {name} already exists")
        columns = [
            {
                "name": c,
                "datatype": FROM_SPARK_TYPES.get(t, f"EXT({t})"),
                "spark_type": t,
                "primary_key": False,
                "nullable": True,
                "has_default": False,
                "default": None,
                "unique": False,
                "references": None,
                "index": False,
            }
            for c, t in df.dtypes
        ]
        manifest["tables"][name] = {
            "columns": columns,
            "data": None,
            "external": path,
        }
        v = self.catalog.publish(manifest, expected_version=base)
        return Result(status=f"ATTACH {name}", version=v)

    def get_table(self, name: str) -> dict:
        t = self._manifest_for_read()["tables"].get(name)
        if t is None:
            raise EngineError(f"table {name} does not exist")
        out = {"name": name, "columns": [dict(c) for c in t["columns"]]}
        # layout surface (round 10): PARTITION BY / last ZORDER, when set
        for k in ("partition_by", "zorder"):
            if t.get(k):
                out[k] = list(t[k])
        return out

    # ---------------------------------------------------------- dispatch

    def _execute_statement(self, stmt: ast.Statement) -> Result:
        if isinstance(stmt, ast.Explain):
            if stmt.analyze:
                return Result(
                    status="EXPLAIN ANALYZE", columns=["plan"],
                    rows=[(line,) for line in
                          self._explain_analyze(stmt.statement).splitlines()],
                )
            return Result(status="EXPLAIN", columns=["plan"],
                          rows=[(line,) for line in self._explain(stmt.statement).splitlines()])
        if isinstance(stmt, ast.Begin):
            return self._begin(stmt)
        if isinstance(stmt, ast.Commit):
            return self._commit()
        if isinstance(stmt, ast.Rollback):
            return self._rollback()
        if isinstance(stmt, (ast.Select, ast.SetOp, ast.With)):
            df = compile_statement(stmt, self.spark, self._query_reader(stmt)[0])
            if _is_constant_query(stmt):
                # FROM-less (Nothing-node) selects are a handful of constant
                # rows: materialize eagerly so expression runtime errors
                # (factorial domain, div-zero, overflow) surface here with
                # the engine's error type, like the reference.
                try:
                    rows = [tuple(r) for r in df.collect()]
                except Exception as e:  # Spark runtime error on constants
                    raise EngineError(str(e).splitlines()[0]) from e
                return Result(
                    status="SELECT", columns=list(df.columns), rows=rows, dataframe=df
                )
            # table-backed SELECT: the Result stays LAZY — no job here, rows
            # pull on demand (fetch(max_rows) is O(max_rows) driver memory)
            return Result(status="SELECT", columns=list(df.columns), dataframe=df)
        if isinstance(stmt, ast.Copy):
            # a READ: exports the session's pinned snapshot (READ ONLY
            # transactions may export — that is the consistent-dump shape)
            return self._copy(stmt)
        # mutations below
        if self._txn_version is not None and self._txn is None:
            raise EngineError("can't write in a read-only transaction")
        if isinstance(stmt, ast.CreateTable):
            return self._mutate(lambda m: self._create_table(m, stmt))
        if isinstance(stmt, ast.CreateTableAs):
            return self._mutate(lambda m: self._create_table_as(m, stmt))
        if isinstance(stmt, ast.DropTable):
            return self._mutate(lambda m: self._drop_table(m, stmt))
        if isinstance(stmt, ast.AlterTable):
            return self._mutate(lambda m: self._alter_table(m, stmt))
        if isinstance(stmt, ast.Optimize):
            return self._mutate(lambda m: self._optimize(m, stmt))
        if isinstance(stmt, ast.CreateView):
            return self._mutate(lambda m: self._create_view(m, stmt))
        if isinstance(stmt, ast.DropView):
            return self._mutate(lambda m: self._drop_view(m, stmt))
        if isinstance(stmt, ast.CreateMaterializedView):
            return self._mutate(lambda m: self._create_matview(m, stmt))
        if isinstance(stmt, ast.DropMaterializedView):
            return self._mutate(lambda m: self._drop_matview(m, stmt))
        if isinstance(stmt, ast.RefreshMaterializedView):
            if self.in_transaction:
                # REFRESH diffs committed VERSIONS via the change data
                # feed; a pending manifest has no version to diff against
                raise EngineError(
                    "REFRESH MATERIALIZED VIEW is not allowed inside a transaction"
                )
            return self._mutate(lambda m: self._refresh_matview(m, stmt))
        if isinstance(stmt, ast.Insert):
            return self._mutate(lambda m: self._insert(m, stmt))
        if isinstance(stmt, ast.Update):
            return self._mutate(lambda m: self._update(m, stmt))
        if isinstance(stmt, ast.Delete):
            return self._mutate(lambda m: self._delete(m, stmt))
        if isinstance(stmt, ast.Merge):
            return self._mutate(lambda m: self._merge(m, stmt))
        raise EngineError(f"unsupported statement {type(stmt).__name__}")

    # ---------------------------------------------------------- sessions

    def _begin(self, stmt: ast.Begin) -> Result:
        if self.in_transaction:
            raise EngineError("already in a transaction")
        if stmt.as_of is not None:
            self.catalog.manifest(stmt.as_of)  # existence check
            self._txn_version = stmt.as_of
            return Result(status=f"BEGIN READ ONLY AS OF {stmt.as_of}", version=stmt.as_of)
        v = self.catalog.current_version()
        self._txn_version = v
        if not stmt.read_only:
            self._txn = self.catalog.manifest(v)
        return Result(status="BEGIN", version=v)

    def _commit(self) -> Result:
        if not self.in_transaction:
            raise EngineError("not in a transaction")
        if self._txn is not None:
            v = self.catalog.publish(self._txn, expected_version=self._txn_version)
        else:
            v = self._txn_version
        self._txn = None
        self._txn_version = None
        return Result(status="COMMIT", version=v)

    def _rollback(self) -> Result:
        if not self.in_transaction:
            raise EngineError("not in a transaction")
        self._txn = None
        self._txn_version = None
        return Result(status="ROLLBACK")

    def _mutate(self, apply) -> Result:
        """Run a mutation against the active pending manifest, or auto-commit
        (implicit single-statement transaction, engine/mod.rs:124-143)."""
        if self._txn is not None:
            return apply(self._txn)
        base = self.catalog.current_version()
        manifest = self.catalog.manifest(base)
        result = apply(manifest)
        v = self.catalog.publish(manifest, expected_version=base)
        result.version = v
        return result

    def _reader(self):
        return self._reader_for(self._manifest_for_read())

    def _query_reader(self, stmt: ast.Statement):
        """The reader for query ``stmt`` and its KeyLookup (or None): where
        the catalog serves the statement's pinned keys on the driver
        (``SnapshotCatalog.key_lookup``), its table reads as those rows."""
        manifest = self._manifest_for_read()
        read = self._reader_for(manifest)
        lookup = self.catalog.key_lookup(manifest, stmt)
        if lookup is not None:
            read = _chain_reader(read, lookup.table, self.catalog.lookup_df(manifest, lookup))
        return read, lookup

    def _reader_for(self, manifest: dict):
        def versioned(name: str, version: int) -> DataFrame:
            # FROM t AS OF SYSTEM TIME n: resolve through the named
            # version's OWN reader, so views/matviews pinned there expand
            # with their era's definitions too
            return self._reader_for(self.catalog.manifest(version))(name)

        views = manifest.get("views") or {}
        matviews = manifest.get("matviews") or {}

        def relations() -> list[tuple]:
            # catalog introspection rows for the relations() TVF — built
            # from THIS manifest, so a pinned AS OF session lists its era
            out = []
            for name, t in manifest["tables"].items():
                kind = "external table" if t.get("external") else "table"
                cols = ", ".join(c["name"] for c in t["columns"])
                out.append((name, kind, len(t["columns"]), cols))
            for name, v in views.items():
                out.append((name, "view", len(v["columns"]), ", ".join(v["columns"])))
            for name, mv in matviews.items():
                out.append(
                    (name, "materialized view", len(mv["columns"]),
                     ", ".join(mv["columns"]))
                )
            return sorted(out)

        def make_read(stack: tuple = ()):
            def read(name: str) -> DataFrame:
                v = views.get(name)
                if v is not None:
                    # view: expand its stored SQL against THIS manifest's
                    # reader — nested views recurse with a cycle guard
                    # (cycles can't be created, deps forbid it; guard is
                    # defense-in-depth against a hand-edited manifest)
                    if name in stack:
                        raise EngineError(
                            "view dependency cycle: "
                            + " -> ".join(stack + (name,))
                        )
                    inner = make_read(stack + (name,))
                    # EXPLAIN's recursive_cte_mode rides on the reader
                    # (compiler.READER_CAPABILITIES); hand it down so a
                    # WITH RECURSIVE inside a stored view still compiles
                    # job-free under EXPLAIN (round-10 advice)
                    mode = getattr(read, "recursive_cte_mode", None)
                    if mode is not None:
                        inner.recursive_cte_mode = mode
                    return compile_statement(parse(v["sql"]), self.spark, inner)
                mv = matviews.get(name)
                if mv is not None:
                    # materialized: serve the stored snapshot — a plain
                    # pruned parquet scan, never a recompute
                    return self.spark.read.parquet(
                        os.path.join(self.catalog.base, mv["data"])
                    )
                return read_table(name)

            read.versioned = versioned
            read.relations = relations
            return read

        def read_table(name: str) -> DataFrame:
            df = self.catalog.read_df(manifest, name)
            # stats-informed broadcast hint (see analyze()): Spark's own
            # size estimate can't see through the merge-on-read resolve
            # plan (base ∪ upserts anti-joined against the chain's keys),
            # so a small dim with deltas may miss auto-broadcast. ANALYZEd row counts restore the
            # metastore-stats-driven first plan; AQE still re-plans big
            # misestimates at runtime.
            meta = manifest["tables"].get(name) or {}
            stats = meta.get("stats")
            if stats and stats.get("n_rows", 1 << 62) <= BROADCAST_ROW_THRESHOLD:
                df = F.broadcast(df)
            return df

        return make_read()

    def _manifest_for_read(self) -> dict:
        if self._txn is not None:
            return self._txn
        return self.catalog.manifest(self._txn_version)

    # ---------------------------------------------------------- DML helpers

    def _table_meta(self, manifest: dict, name: str, writable: bool = False) -> dict:
        t = manifest["tables"].get(name)
        if t is None:
            kind = self._name_taken(manifest, name)
            if kind in ("view", "materialized view"):
                raise EngineError(f"{name} is a {kind} — writes need a base table")
            raise EngineError(f"table {name} does not exist")
        if writable and t.get("external"):
            raise EngineError(f"table {name} is an attached external table (read-only)")
        return t

    def _pk_of(self, meta: dict) -> str:
        return next(c["name"] for c in meta["columns"] if c["primary_key"])


def _is_constant_query(stmt: ast.Statement) -> bool:
    """True for FROM-less selects (and set-op chains of them) — results are
    O(1) constant rows, safe to materialize eagerly."""
    if isinstance(stmt, ast.Select):
        return stmt.from_ is None
    if isinstance(stmt, ast.SetOp):
        return _is_constant_query(stmt.left) and _is_constant_query(stmt.right)
    return False


