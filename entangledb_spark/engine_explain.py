"""EXPLAIN / EXPLAIN ANALYZE executors (a mixin of Engine) and the
logical-plan pretty-printer (plan shape mirrors the reference,
plan/mod.rs:258-415). Split out of engine.py in round 10 (pure
refactor).
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
from entangledb_spark.sources import constraints as con
from entangledb_spark.sources.catalog import (
    SPARK_TYPES,
    CatalogError,
    column_to_dict,
    schema_of,
)


class ExplainStatements:
    """EXPLAIN [ANALYZE] — mixed into Engine."""


    # ---------------------------------------------------------- EXPLAIN

    def _explain(self, stmt: ast.Statement) -> str:
        """Our logical plan pretty-printer (plan shape mirrors plan/mod.rs:
        258-415) + Spark's physical plan for SELECTs."""
        query = isinstance(stmt, (ast.Select, ast.SetOp, ast.With))
        if query:
            read, lookup = self._query_reader(stmt)
        else:
            lookup = self.catalog.driver_write(self._manifest_for_read(), stmt)
        lines = _format_plan(stmt, lookup=lookup)
        if query:
            import contextlib
            import io

            # "unroll1": EXPLAIN of WITH RECURSIVE must not run the
            # fixpoint (round-9 review: EXPLAIN was executing the query)
            # — the recursive CTE compiles as a lazy anchor ∪ first-step
            # plan instead, zero Spark jobs
            df = compile_statement(stmt, self.spark, read, recursive_cte_mode="unroll1")
            if isinstance(stmt, ast.With) and stmt.recursive:
                lines += [
                    "",
                    "Note: recursive CTE(s) shown as anchor UNION first "
                    "step (EXPLAIN does not run the fixpoint; execution "
                    f"iterates to convergence, cap "
                    f"{RECURSIVE_CTE_MAX_ITERS} iterations)",
                ]
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            lines += ["", "Physical (Catalyst):", *buf.getvalue().splitlines()]
        return "\n".join(lines)

    def _explain_analyze(self, stmt: ast.Statement) -> str:
        """EXPLAIN ANALYZE (extension — the reference's EXPLAIN is static,
        plan/mod.rs:258-415): EXECUTE the query and render the FINAL
        adaptive physical plan annotated with Spark's per-operator
        RUNTIME metrics (numOutputRows, spillSize, shuffle bytes,
        pipelineTime, ...) — the ground truth a static EXPLAIN
        estimates. Queries only: DML under ANALYZE would conflate
        profiling with a write.

        Execution runs the compiled plan's own RDD and counts rows
        cluster-side (``executedPlan().execute().count()``) — results
        never transfer to the driver, so profiling a huge SELECT costs
        its compute, not its collect."""
        import time as _time

        if not isinstance(stmt, (ast.Select, ast.SetOp, ast.With)):
            raise EngineError(
                "EXPLAIN ANALYZE supports SELECT queries only (DML/DDL "
                "would execute the write while profiling it)"
            )
        read, lookup = self._query_reader(stmt)
        df = compile_statement(stmt, self.spark, read)
        jqe = df._jdf.queryExecution()
        t0 = _time.perf_counter()
        n_rows = jqe.executedPlan().execute().count()
        wall_ms = round((_time.perf_counter() - t0) * 1000.0, 1)
        lines = _format_plan(stmt, lookup=lookup)
        lines += [
            "",
            f"Executed: {n_rows} row(s) in {wall_ms} ms",
            "Physical (final adaptive plan, runtime metrics):",
        ]
        _walk_executed_plan(jqe.executedPlan(), 0, lines)
        return "\n".join(lines)




def _walk_executed_plan(node, depth: int, out: list) -> None:
    """Render an executed SparkPlan tree with its SQLMetric values —
    descending through AQE's stage wrappers (AdaptiveSparkPlan holds the
    final plan only post-execution; QueryStage nodes wrap their stage's
    plan) so every operator that actually ran appears exactly once."""
    name = node.nodeName()
    mets = node.metrics()
    it = mets.iterator()
    parts = []
    while it.hasNext():
        kv = it.next()
        parts.append(f"{kv._1()}={kv._2().value()}")
    out.append(
        "  " * depth + name + (f"  [{', '.join(sorted(parts))}]" if parts else "")
    )
    if name == "AdaptiveSparkPlan":
        _walk_executed_plan(node.executedPlan(), depth + 1, out)
        return
    if "QueryStage" in name:
        _walk_executed_plan(node.plan(), depth + 1, out)
        return
    ch = node.children()
    for i in range(ch.size()):
        _walk_executed_plan(ch.apply(i), depth + 1, out)




def _format_plan(stmt: ast.Statement, indent: int = 0, lookup=None) -> list[str]:
    """The logical plan of ``stmt``; ``lookup`` is the KeyLookup that
    serves its FROM table (``SnapshotCatalog.key_lookup``), or an UPDATE's
    or DELETE's pre-image (``SnapshotCatalog.driver_write``), if any."""
    pad = "  " * indent
    if isinstance(stmt, (ast.Update, ast.Delete)):
        lines = [f"{pad}{type(stmt).__name__} {stmt.table}"]
        if isinstance(stmt, ast.Update):
            lines.append(f"{pad}  Set {[f'{c} = {e}' for c, e in stmt.sets]}")
        if stmt.where is not None:
            lines.append(f"{pad}  Filter {stmt.where}")
        return lines + _format_from(ast.TableRef(stmt.table), indent + 1, lookup)
    if isinstance(stmt, ast.With):
        kw = "With Recursive" if stmt.recursive else "With"
        lines = [f"{pad}{kw}"]
        for cte in stmt.ctes:
            cols = f"({', '.join(cte.columns)})" if cte.columns else ""
            lines.append(f"{pad}  CTE {cte.name}{cols}")
            lines += _format_plan(cte.query, indent + 2)
        lines += _format_plan(stmt.body, indent + 1)
        return lines
    if isinstance(stmt, ast.SetOp):
        label = stmt.kind.upper() + (" ALL" if stmt.all_rows else "")
        lines = [f"{pad}{label}"]
        lines += _format_plan(stmt.left, indent + 1)
        lines += _format_plan(stmt.right, indent + 1)
        return lines
    if isinstance(stmt, ast.Select):
        lines = [f"{pad}Select"]
        if stmt.limit is not None:
            lines.append(f"{pad}  Limit {stmt.limit}")
        if stmt.offset is not None:
            lines.append(f"{pad}  Offset {stmt.offset}")
        if stmt.order_by:
            dirs = [(o.expr, "desc" if o.desc else "asc") for o in stmt.order_by]
            lines.append(f"{pad}  Order {dirs}")
        lines.append(f"{pad}  Projection {[e for e, _ in stmt.select]}")
        if stmt.having is not None:
            lines.append(f"{pad}  Having {stmt.having}")
        if stmt.group_by:
            lines.append(f"{pad}  Aggregate group_by={list(stmt.group_by)}")
        if stmt.where is not None:
            lines.append(f"{pad}  Filter {stmt.where}")
        if stmt.from_ is not None:
            lines.extend(_format_from(stmt.from_, indent + 1, lookup))
        else:
            lines.append(f"{pad}  Nothing")
        return lines
    return [f"{pad}{type(stmt).__name__} {stmt}"]


def _format_from(item: ast.FromItem, indent: int, lookup=None) -> list[str]:
    pad = "  " * indent
    if isinstance(item, ast.TableRef):
        alias = f" as {item.alias}" if item.alias else ""
        if lookup is not None:
            return [f"{pad}KeyLookup {item.name}{alias} keys={list(lookup.keys)!r}"]
        return [f"{pad}Scan {item.name}{alias}"]
    if isinstance(item, ast.TableFunc):
        alias = f" as {item.alias}" if item.alias else ""
        args = ", ".join(repr(a.value) for a in item.args)
        return [f"{pad}TableFunction {item.name}({args}){alias}"]
    if isinstance(item, ast.DerivedTable):
        return [f"{pad}DerivedTable as {item.alias}"] + _format_plan(
            item.query, indent + 1
        )
    lines = [f"{pad}{item.join_type.value.title()}Join on={item.predicate}"]
    lines += _format_from(item.left, indent + 1)
    lines += _format_from(item.right, indent + 1)
    return lines
