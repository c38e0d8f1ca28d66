"""DML statement executors (a mixin of Engine): INSERT (VALUES and
SELECT), CREATE TABLE AS, UPDATE, DELETE, MERGE, COPY TO. Split out
of engine.py in round 10 (pure refactor).
"""

from __future__ import annotations

import os
from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entangledb_spark.engine_base import EngineError, Result, _fold_constant
from entangledb_spark.functions.expressions import CompileError, compile_expr
from entangledb_spark.plans import ast
from entangledb_spark.plans.compiler import (
    RECURSIVE_CTE_MAX_ITERS,
    _carry_versioned,
    compile_statement,
)
from entangledb_spark.plans.parser import parse
from entangledb_spark.session import local_df
from entangledb_spark.sources import constraints as con
from entangledb_spark.sources.catalog import (
    SPARK_TYPES,
    CatalogError,
    column_to_dict,
    schema_of,
    typed_rows,
)


class DmlStatements:
    """INSERT/UPDATE/DELETE/MERGE/COPY — mixed into Engine."""


    # ---------------------------------------------------------- INSERT

    def _insert(self, manifest: dict, stmt: ast.Insert) -> Result:
        meta = self._table_meta(manifest, stmt.table, writable=True)
        cols = meta["columns"]
        col_names = [c["name"] for c in cols]
        by_name = {c["name"]: c for c in cols}

        if stmt.columns is not None:
            for cname in stmt.columns:
                if cname not in by_name:
                    raise EngineError(f"unknown column {cname} in table {stmt.table}")
            target_cols = list(stmt.columns)
        else:
            target_cols = None

        if stmt.query is not None:
            return self._insert_select(manifest, stmt, meta, target_cols)

        rows = []
        for values in stmt.values:
            named: dict[str, Any] = {}
            if target_cols is not None:
                if len(values) != len(target_cols):
                    raise EngineError(
                        f"column count {len(target_cols)} does not match value count {len(values)}"
                    )
                for cname, expr in zip(target_cols, values):
                    named[cname] = _eval_constant(expr)
            else:
                if len(values) > len(col_names):
                    raise EngineError(f"too many values for table {stmt.table}")
                for cname, expr in zip(col_names, values):
                    named[cname] = _eval_constant(expr)
            # pad with defaults (mutation.rs:24-56)
            for c in cols:
                if c["name"] not in named:
                    if not c["has_default"]:
                        raise EngineError(
                            f"no value given for column {c['name']} in table {stmt.table}"
                        )
                    named[c["name"]] = c["default"]
            rows.append(_coerce_row(named, cols, stmt.table))

        schema = schema_of(
            [dict(c, nullable=True) for c in cols]  # NULL checks run separately
        )
        # an Arrow LocalRelation: writing it runs no Python worker; one
        # partition, so the delta is one parquet file
        new_rows = local_df(self.spark, rows, schema).coalesce(1)
        self.catalog.check_delta(
            manifest,
            stmt.table,
            con.Delta(
                upserts=new_rows,
                kept=self.catalog.read_df(manifest, stmt.table),
                rows=rows,
                inserting=True,
            ),
        )
        # merge-on-read: only the new rows hit disk (O(inserted), not O(table))
        self.catalog.stage_delta(manifest, stmt.table, upserts=new_rows)
        return Result(status=f"INSERT {len(rows)}")

    def _insert_select(
        self, manifest: dict, stmt: ast.Insert, meta: dict, target_cols
    ) -> Result:
        """INSERT ... SELECT (extension): the source query stays a lazy
        distributed plan end-to-end — rows never touch the driver."""
        cols = meta["columns"]
        src_df = compile_statement(stmt.query, self.spark, self._reader())
        names = target_cols if target_cols is not None else [c["name"] for c in cols]
        if len(src_df.columns) != len(names):
            raise EngineError(
                f"INSERT SELECT column count {len(src_df.columns)} does not match {len(names)}"
            )
        # strict write typing like the VALUES path (_coerce_row), shared
        # with the stream writers: no silent string/float→int casts
        new_rows = typed_rows(stmt.table, src_df.toDF(*names), cols)
        self.catalog.check_delta(
            manifest,
            stmt.table,
            con.Delta(upserts=new_rows, kept=self.catalog.read_df(manifest, stmt.table)),
        )
        delta = self.catalog.stage_delta(manifest, stmt.table, upserts=new_rows)
        n_new = self.catalog.count_rows(delta["upserts"]) if delta else 0
        return Result(status=f"INSERT {n_new}")

    def _create_table_as(self, manifest: dict, stmt: ast.CreateTableAs) -> Result:
        """CREATE TABLE AS SELECT (extension): materialize a query as a new
        managed table; the first output column becomes the primary key and
        is validated unique + non-null like any other PK."""
        from entangledb_spark.sources.catalog import FROM_SPARK_TYPES

        taken = self._name_taken(manifest, stmt.name)
        if taken:
            raise EngineError(f"{taken} {stmt.name} already exists")
        df = compile_statement(stmt.query, self.spark, self._reader())
        cols = []
        for i, (cname, ctype) in enumerate(df.dtypes):
            dt = FROM_SPARK_TYPES.get(ctype)
            if dt is None:
                raise EngineError(
                    f"column {cname} has type {ctype}, outside the engine type system"
                )
            cols.append(
                {
                    "name": cname, "datatype": dt, "primary_key": i == 0,
                    "nullable": i != 0, "has_default": i != 0, "default": None,
                    "unique": i == 0, "references": None, "index": i == 0,
                }
            )
        manifest["tables"][stmt.name] = {"columns": cols, "data": None, "deltas": []}
        target_types = [SPARK_TYPES[c["datatype"]] for c in cols]
        casted = df.select(
            *[F.col(n).cast(t).alias(n) for (n, _), t in zip(df.dtypes, target_types)]
        )
        self.catalog.check_delta(manifest, stmt.name, con.Delta(upserts=casted))
        # the rows become the base, not a first delta; the count comes from
        # the written files' footers instead of running the query again
        data = self.catalog.write_snapshot(stmt.name, casted)
        manifest["tables"][stmt.name]["data"] = data
        n = self.catalog.count_rows(data)
        return Result(status=f"CREATE TABLE {stmt.name} AS ({n} rows)")

    # ---------------------------------------------------------- UPDATE

    def _update(self, manifest: dict, stmt: ast.Update) -> Result:
        from entangledb_spark.functions.expressions import static_type

        meta = self._table_meta(manifest, stmt.table, writable=True)
        by_name = {c["name"]: c for c in meta["columns"]}
        df = self.catalog.read_df(manifest, stmt.table).alias(stmt.table)
        scope_resolve, scope_type = _single_table_scope(stmt.table, df)
        # SET expressions may carry uncorrelated subqueries too
        # (`SET v = (SELECT max(v) FROM s)`) — fold before type-checking
        import dataclasses as _dc

        stmt = _dc.replace(
            stmt,
            sets=tuple(
                (c, self._fold_dml_subqueries(manifest, e))
                for c, e in stmt.sets
            ),
        )
        for cname, expr in stmt.sets:
            if cname not in by_name:
                raise EngineError(f"unknown column {cname} in table {stmt.table}")
            # strict write typing like INSERT's _coerce_row (schema.rs value
            # validation): reject type-mismatched SET statically instead of
            # silently casting ('42'→INT, 2.7→truncated 2)
            st = static_type(expr, scope_type)
            want = {"BOOLEAN": "bool", "INTEGER": "int", "FLOAT": "float", "STRING": "str"}[
                by_name[cname]["datatype"]
            ]
            ok = st is None or st == want or (want == "float" and st == "int")
            if not ok:
                raise EngineError(
                    f"invalid value of type {st} for {by_name[cname]['datatype'].lower()} "
                    f"column {cname} in table {stmt.table}"
                )
        where = self._fold_dml_subqueries(manifest, stmt.where)
        pred = (
            compile_expr(where, scope_resolve, scope_type)
            if where is not None
            else F.lit(True)
        )
        updates = {
            cname: compile_expr(expr, scope_resolve, scope_type)
            for cname, expr in stmt.sets
        }
        # Evaluate the predicate ONCE against pre-update values (a SET that
        # flips its own WHERE condition must not unselect the row), then
        # apply every SET expression against the old row values.
        flagged = df.withColumn("__upd", F.coalesce(pred, F.lit(False)))
        # one simultaneous select: every SET expression sees OLD values
        # (`SET a = 1, b = a` assigns the old a to b — mutation.rs evaluates
        # against the original row too)
        projected = []
        for c in [col["name"] for col in meta["columns"]]:
            if c in updates:
                ty = SPARK_TYPES[by_name[c]["datatype"]]
                projected.append(
                    F.when(F.col("__upd"), updates[c].cast(ty))
                    .otherwise(F.col(c))
                    .alias(c)
                )
            else:
                projected.append(F.col(c))
        out = flagged.select(*projected, F.col("__upd"))
        # merge-on-read: write only the changed rows; if the PK itself was
        # assigned, tombstone the old keys in the same delta (upsert wins at
        # equal rank, so UPDATE pk=pk+1 overlaps resolve correctly)
        pk = self._pk_of(meta)
        changed = out.filter(F.col("__upd")).drop("__upd")
        old_keys = flagged.filter(F.col("__upd")).select(pk) if pk in updates else None
        self.catalog.check_delta(
            manifest,
            stmt.table,
            con.Delta(
                upserts=changed,
                kept=out.filter(~F.col("__upd")).drop("__upd"),
                removed=(
                    old_keys.join(changed.select(pk), on=pk, how="left_anti")
                    if old_keys is not None
                    else None
                ),
                columns=frozenset(updates),
                literals={
                    c: e.value for c, e in stmt.sets if isinstance(e, ast.Literal)
                },
            ),
        )
        delta = self.catalog.stage_delta(
            manifest, stmt.table, upserts=changed, deletes=old_keys
        )
        # matched count from the written delta's parquet footers (metadata
        # read) instead of a second full-table filter job
        n_matched = self.catalog.count_rows(delta["upserts"]) if delta else 0
        return Result(status=f"UPDATE {n_matched}")

    # ---------------------------------------------------------- COPY

    def _copy(self, stmt: ast.Copy) -> Result:
        """COPY ... TO (extension): export a table or query result to
        external parquet/csv — the matching half of ATTACH. A read, not a
        mutation: no manifest change, no version bump; the write respects
        the session's snapshot (inside a transaction it exports the
        pinned view). Distributed end-to-end — Spark writes the files
        from the executors; the row count rides an Observation on the
        same job (no second pass). Refuses an existing destination unless
        OVERWRITE is given (Spark save-mode semantics)."""
        from pyspark.sql import Observation

        if isinstance(stmt.source, str):
            df = self._reader()(stmt.source)
        else:
            df = compile_statement(stmt.source, self.spark, self._reader())
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        writer = df.write.mode("overwrite" if stmt.overwrite else "error")
        if stmt.fmt == "csv":
            writer = writer.option("header", "true")
        try:
            writer.format(stmt.fmt).save(stmt.path)
        except Exception as e:  # path exists without OVERWRITE, bad path, ...
            raise EngineError(str(e).splitlines()[0]) from e
        n = int(obs.get["n"])
        return Result(status=f"COPY {n} rows to {stmt.path}")

    # ---------------------------------------------------------- MERGE

    def _merge(self, manifest: dict, stmt: ast.Merge) -> Result:
        """MERGE INTO (extension — the reference has no upsert statement):
        one source pass decides update / delete / insert per row, staged as
        a single delta so the whole statement is one atomic snapshot
        version (or part of the surrounding transaction's manifest).

        Semantics (the SQL-standard core):
        - a target row matched by MORE THAN ONE source row is a
          cardinality violation whenever an UPDATE or DELETE clause
          exists — rejected up front (distributed groupBy count on the
          match keys, one bounded job);
        - WHEN MATCHED clauses apply in statement order (an UPDATE listed
          before a DELETE claims the rows both conditions accept);
        - UPDATE SET expressions see both tables' OLD values; the primary
          key cannot be assigned (use DELETE + INSERT);
        - WHEN NOT MATCHED INSERT values see the SOURCE row only; omitted
          target columns take their defaults, like INSERT.

        Distributed end-to-end: the decision join is one equi/theta join
        Catalyst plans like any other; updates/inserts land as upsert
        rows and deletes as key tombstones in ONE merge-on-read delta —
        no row loops, no driver materialization."""
        import dataclasses as _dc

        from entangledb_spark.functions.expressions import static_type

        # uncorrelated subqueries in ON / WHEN conditions / SET / INSERT
        # values fold to literals exactly as in UPDATE/DELETE WHERE
        # (round 11; previously a raw AssertionError)
        fold = lambda e: self._fold_dml_subqueries(manifest, e)  # noqa: E731
        stmt = _dc.replace(
            stmt,
            on=fold(stmt.on),
            whens=tuple(
                _dc.replace(
                    w,
                    condition=fold(w.condition),
                    sets=tuple((c, fold(e)) for c, e in w.sets),
                    values=tuple(fold(e) for e in w.values),
                )
                for w in stmt.whens
            ),
        )
        meta = self._table_meta(manifest, stmt.target, writable=True)
        pk = self._pk_of(meta)
        by_name = {c["name"]: c for c in meta["columns"]}
        t_alias = stmt.target_alias or stmt.target
        if isinstance(stmt.source, str):
            s_alias = stmt.source_alias or stmt.source
            # through the session reader: ATTACHed parquet AND views are
            # legal USING sources (the reader expands views lazily)
            src_raw = self._reader()(stmt.source)
        else:
            s_alias = stmt.source_alias  # parser guarantees an alias
            src_raw = compile_statement(stmt.source, self.spark, self._reader())
        if t_alias == s_alias:
            raise EngineError("MERGE target and source need distinct names/aliases")
        tgt = self.catalog.read_df(manifest, stmt.target).alias(t_alias)
        src = src_raw.withColumn("__src_match", F.lit(True)).alias(s_alias)

        resolve, type_of = _merge_scope(
            {t_alias: tgt, s_alias: src_raw.alias(s_alias)}
        )
        s_resolve, s_type = _merge_scope({s_alias: src_raw.alias(s_alias)})
        on = compile_expr(stmt.on, resolve, type_of)

        upd = next((w for w in stmt.whens if w.action == "update"), None)
        dele = next((w for w in stmt.whens if w.action == "delete"), None)
        ins = next((w for w in stmt.whens if w.action == "insert"), None)

        if upd is not None:
            for cname, expr in upd.sets:
                if cname not in by_name:
                    raise EngineError(
                        f"unknown column {cname} in table {stmt.target}"
                    )
                if cname == pk:
                    raise EngineError(
                        "MERGE cannot assign the primary key — use "
                        "WHEN MATCHED THEN DELETE plus INSERT"
                    )
                st = static_type(expr, type_of)
                want = {
                    "BOOLEAN": "bool", "INTEGER": "int",
                    "FLOAT": "float", "STRING": "str",
                }[by_name[cname]["datatype"]]
                if not (st is None or st == want or (want == "float" and st == "int")):
                    raise EngineError(
                        f"invalid value of type {st} for "
                        f"{by_name[cname]['datatype'].lower()} column {cname} "
                        f"in table {stmt.target}"
                    )

        # cardinality violation: >1 source rows claiming one target row
        if upd is not None or dele is not None:
            dup = (
                tgt.join(src, on, "inner")
                .groupBy(F.col(f"{t_alias}.{pk}"))
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
            )
            if dup.limit(1).count() > 0:
                raise EngineError(
                    "MERGE: a target row matches more than one source row "
                    "(cardinality violation)"
                )

        joined = tgt.join(src, on, "left")
        matched = F.coalesce(F.col(f"{s_alias}.__src_match"), F.lit(False))

        def _cond(w):
            c = matched
            if w.condition is not None:
                c = c & F.coalesce(
                    compile_expr(w.condition, resolve, type_of), F.lit(False)
                )
            return c

        upd_c = _cond(upd) if upd is not None else F.lit(False)
        del_c = _cond(dele) if dele is not None else F.lit(False)
        # statement order decides which matched clause claims a row
        order = [w.action for w in stmt.whens if w.matched]
        if order == ["delete", "update"]:
            upd_c = upd_c & ~del_c
        else:
            del_c = del_c & ~upd_c

        updates = (
            {c: compile_expr(e, resolve, type_of) for c, e in upd.sets}
            if upd is not None
            else {}
        )
        projected = []
        for c in [col["name"] for col in meta["columns"]]:
            base = F.col(f"{t_alias}.{c}")
            if c in updates:
                ty = SPARK_TYPES[by_name[c]["datatype"]]
                projected.append(
                    F.when(upd_c, updates[c].cast(ty)).otherwise(base).alias(c)
                )
            else:
                projected.append(base.alias(c))
        survivors = joined.filter(~del_c).select(*projected, upd_c.alias("__upd"))

        insert_rows = None
        if ins is not None:
            not_matched = src_raw.alias(s_alias).join(tgt, on, "left_anti")
            if ins.condition is not None:
                not_matched = not_matched.filter(
                    F.coalesce(
                        compile_expr(ins.condition, s_resolve, s_type), F.lit(False)
                    )
                )
            names = list(ins.columns) if ins.columns is not None else [
                c["name"] for c in meta["columns"]
            ]
            unknown = [n for n in names if n not in by_name]
            if unknown:
                raise EngineError(
                    f"unknown column {unknown[0]} in table {stmt.target}"
                )
            if len(names) != len(ins.values):
                raise EngineError(
                    f"MERGE INSERT has {len(ins.values)} values for "
                    f"{len(names)} columns"
                )
            exprs = {}
            for n, e in zip(names, ins.values):
                st = static_type(e, s_type)
                want = {
                    "BOOLEAN": "bool", "INTEGER": "int",
                    "FLOAT": "float", "STRING": "str",
                }[by_name[n]["datatype"]]
                if not (st is None or st == want or (want == "float" and st == "int")):
                    raise EngineError(
                        f"invalid value of type {st} for "
                        f"{by_name[n]['datatype'].lower()} column {n} "
                        f"in table {stmt.target}"
                    )
                exprs[n] = compile_expr(e, s_resolve, s_type)
            out_cols = []
            for c in meta["columns"]:
                ty = SPARK_TYPES[c["datatype"]]
                if c["name"] in exprs:
                    out_cols.append(exprs[c["name"]].cast(ty).alias(c["name"]))
                elif c["has_default"]:
                    out_cols.append(F.lit(c["default"]).cast(ty).alias(c["name"]))
                else:
                    raise EngineError(
                        f"no value given for column {c['name']} in table "
                        f"{stmt.target}"
                    )
            insert_rows = not_matched.select(*out_cols)

        changed = survivors.filter(F.col("__upd")).drop("__upd")
        del_keys = None
        if dele is not None:
            del_keys = joined.filter(del_c).select(F.col(f"{t_alias}.{pk}").alias(pk))
        upserts = changed if upd is not None else None
        if insert_rows is not None:
            upserts = (
                upserts.unionByName(insert_rows)
                if upserts is not None
                else insert_rows
            )
        removed = del_keys
        if del_keys is not None and upserts is not None:
            removed = del_keys.join(upserts.select(pk), on=pk, how="left_anti")
        self.catalog.check_delta(
            manifest,
            stmt.target,
            con.Delta(
                upserts=upserts,
                kept=survivors.filter(~F.col("__upd")).drop("__upd"),
                removed=removed,
            ),
        )
        delta = self.catalog.stage_delta(
            manifest, stmt.target, upserts=upserts, deletes=del_keys
        ) or {}
        # counts come from the written files' footers; only a MERGE that
        # both updates and inserts runs one job, to split its upserts
        written = self.catalog.count_rows(delta["upserts"]) if "upserts" in delta else 0
        n_del = self.catalog.count_rows(delta["deletes"]) if "deletes" in delta else 0
        if upd is None:
            n_ins = written
        elif ins is None:
            n_ins = 0
        else:
            n_ins = insert_rows.count()
        n_upd = written - n_ins
        return Result(
            status=f"MERGE {n_upd} updated, {n_ins} inserted, {n_del} deleted"
        )

    # ---------------------------------------------------------- DELETE

    def _fold_dml_subqueries(self, manifest: dict, where):
        """UPDATE/DELETE WHERE may carry UNCORRELATED subqueries —
        `pk IN (SELECT ...)`, comparisons against scalar subqueries,
        `[NOT] EXISTS (...)` — folded by the same bounded resolver the
        SELECT path uses (round 11: previously these crashed with a raw
        AssertionError / 'unknown operator IN_SUBQ'). The subquery reads
        THIS mutation's manifest, so a transaction's staged changes are
        visible to its own DML predicates. Correlated references surface
        as unknown-column errors from the inner compile."""
        if where is None:
            return None
        from entangledb_spark.plans.compiler import _resolve_subqueries

        return _resolve_subqueries(where, self.spark, self._reader_for(manifest))

    def _delete(self, manifest: dict, stmt: ast.Delete) -> Result:
        meta = self._table_meta(manifest, stmt.table, writable=True)
        pk = self._pk_of(meta)
        df = self.catalog.read_df(manifest, stmt.table).alias(stmt.table)
        scope_resolve, scope_type = _single_table_scope(stmt.table, df)
        where = self._fold_dml_subqueries(manifest, stmt.where)
        pred = (
            compile_expr(where, scope_resolve, scope_type)
            if where is not None
            else F.lit(True)
        )
        removed = df.filter(pred).select(pk)
        # delete-side FK: no surviving row may reference a removed key
        # (engine/kv.rs:157-176)
        self.catalog.check_delta(
            manifest,
            stmt.table,
            con.Delta(
                kept=df.filter(~F.coalesce(pred, F.lit(False))),
                removed=removed,
                deleting=True,
            ),
        )
        # merge-on-read: write only the tombstoned keys; the matched count
        # comes from the written delta's parquet footers (no extra filter job)
        delta = self.catalog.stage_delta(manifest, stmt.table, deletes=removed)
        n_matched = self.catalog.count_rows(delta["deletes"]) if delta else 0
        return Result(status=f"DELETE {n_matched}")



def _merge_scope(tables: dict):
    """Resolve/type functions over one or more aliased DataFrames — the
    MERGE statement's expression scope (ON / WHEN conditions / SET values
    see both tables; INSERT values see the source only). Unqualified
    names resolve iff exactly one table owns them."""
    cols = {a: [c for c in df.columns if not c.startswith("__")] for a, df in tables.items()}
    dtypes = {a: dict(df.dtypes) for a, df in tables.items()}
    py_ty = {
        "bigint": "int", "int": "int", "double": "float",
        "float": "float", "string": "str", "boolean": "bool",
    }

    def _owner(f: ast.Field) -> str:
        if f.table is not None:
            if f.table not in cols:
                raise CompileError(f"unknown table {f.table}")
            if f.name not in cols[f.table]:
                raise CompileError(f"unknown column {f.name} in table {f.table}")
            return f.table
        owners = [a for a in cols if f.name in cols[a]]
        if not owners:
            raise CompileError(f"unknown column {f.name}")
        if len(owners) > 1:
            raise CompileError(
                f"ambiguous column {f.name} (qualify it: "
                f"{' or '.join(sorted(a + '.' + f.name for a in owners))})"
            )
        return owners[0]

    def resolve(f: ast.Field):
        return F.col(f"{_owner(f)}.{f.name}")

    def type_of(f: ast.Field):
        return py_ty.get(dtypes[_owner(f)].get(f.name))

    return resolve, type_of


def _single_table_scope(name: str, df: DataFrame):
    cols = set(df.columns)
    dtypes = dict(df.dtypes)

    def resolve(f: ast.Field):
        if f.table is not None and f.table != name:
            raise CompileError(f"unknown table {f.table}")
        if f.name not in cols:
            raise CompileError(f"unknown column {f.name} in table {name}")
        return F.col(f"{name}.{f.name}")

    def type_of(f: ast.Field):
        return {
            "bigint": "int", "int": "int", "double": "float",
            "float": "float", "string": "str", "boolean": "bool",
        }.get(dtypes.get(f.name))

    return resolve, type_of


def _eval_constant(e: ast.Expr) -> Any:
    """Evaluate a constant insert expression on the driver (insert rows are
    constants after constant folding in the reference, mutation.rs:20-23)."""
    if isinstance(e, ast.Literal):
        return e.value
    if isinstance(e, ast.Op):
        name = e.name
        if name in ("NEG", "POS"):
            v = _eval_constant(e.args[0])
            if v is None:
                return None
            if not isinstance(v, (int, float)) or isinstance(v, bool):
                raise EngineError("can't negate non-numeric value")
            return -v if name == "NEG" else v
        vals = [_eval_constant(a) for a in e.args]
        if any(v is None for v in vals):
            return None
        ops = {
            "ADD": lambda a, b: a + b,
            "SUB": lambda a, b: a - b,
            "MUL": lambda a, b: a * b,
        }
        if name in ops:
            return _checked_int(ops[name](*vals))
        if name == "DIV":
            if vals[1] == 0:
                raise EngineError("can't divide by zero")
            if isinstance(vals[0], int) and isinstance(vals[1], int):
                q = abs(vals[0]) // abs(vals[1])
                return _checked_int(q if (vals[0] >= 0) == (vals[1] >= 0) else -q)
            return vals[0] / vals[1]
    raise EngineError("INSERT values must be constant expressions")


I64_MIN, I64_MAX = -(2**63), 2**63 - 1


def _checked_int(v: Any) -> Any:
    """``v``, or an error for an integer outside i64 — the reference's
    checked arithmetic, and what ANSI Spark raises for the same SELECT."""
    if isinstance(v, int) and not isinstance(v, bool) and not I64_MIN <= v <= I64_MAX:
        raise EngineError(f"integer overflow: {v} is outside the 64-bit range")
    return v


def _coerce_row(named: dict, cols: list[dict], table: str) -> tuple:
    out = []
    for c in cols:
        v = named[c["name"]]
        if v is None:
            out.append(None)
            continue
        dt = c["datatype"]
        if dt == "BOOLEAN":
            if not isinstance(v, bool):
                raise EngineError(f"invalid value {v!r} for boolean column {c['name']}")
        elif dt == "INTEGER":
            if isinstance(v, bool) or not isinstance(v, int):
                raise EngineError(f"invalid value {v!r} for integer column {c['name']}")
            _checked_int(v)
        elif dt == "FLOAT":
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                raise EngineError(f"invalid value {v!r} for float column {c['name']}")
            try:
                v = float(v)
            except OverflowError:  # an integer literal beyond every double
                raise EngineError(f"integer overflow: {v} is outside the float range")
        elif dt == "STRING":
            if not isinstance(v, str):
                raise EngineError(f"invalid value {v!r} for string column {c['name']}")
        out.append(v)
    return tuple(out)


