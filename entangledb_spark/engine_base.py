"""Engine leaf types: the statement Result, the engine error class,
and constant-expression folding — shared by every statement-executor
module (engine_ddl / engine_dml / engine_matview / engine_explain)
without import cycles. Public names re-export through engine.py.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Optional

from pyspark.sql import DataFrame

from entangledb_spark.plans import ast


class EngineError(ValueError):
    pass


class Result:
    """Query/statement result. For SELECT the DataFrame is kept LAZY —
    `execute` launches no collection job; callers pull rows through
    `fetch(max_rows)` (one bounded collect, O(max_rows) driver memory) or
    the `rows` property (full materialization, for small results/tests).
    Other statements carry a status string mirroring the reference's
    ResultSet variants."""

    def __init__(
        self,
        status: str,
        columns: Optional[list[str]] = None,
        rows: Optional[list[tuple]] = None,
        dataframe: Optional[DataFrame] = None,
        version: Optional[int] = None,
    ):
        self.status = status
        self.columns = columns
        self.dataframe = dataframe
        self.version = version
        self._rows = rows

    @property
    def rows(self) -> Optional[list[tuple]]:
        if self._rows is None and self.dataframe is not None:
            # partition-at-a-time pull — never a single giant collect
            self._rows = [tuple(r) for r in self.dataframe.toLocalIterator()]
        return self._rows

    def fetch(self, max_rows: Optional[int] = None) -> tuple[list[tuple], bool]:
        """First `max_rows` rows plus a truncated flag. Driver memory is
        O(max_rows) regardless of result size — the REPL path for
        `SELECT * FROM <100 TB table>`. One `LIMIT max_rows + 1` collect:
        Catalyst plans a LIMIT over ORDER BY as a top-N
        (TakeOrderedAndProject) instead of a range-partitioned sort, and
        rows past the cut are never computed — so a runtime error (ANSI
        overflow, division by zero) in a row past it does not surface."""
        if self.dataframe is None or self._rows is not None:
            rows = self._rows or []
            if max_rows is not None and len(rows) > max_rows:
                return rows[:max_rows], True
            return rows, False
        if max_rows is None:
            return self.rows or [], False
        out = [tuple(r) for r in self.dataframe.limit(max_rows + 1).collect()]
        return out[:max_rows], len(out) > max_rows


def _fold_constant(e: ast.Expr) -> Any:
    """Constant-fold a literal-only expression (defaults are folded at plan
    time in the reference, planner.rs:49-53,635-638)."""
    if isinstance(e, ast.Literal):
        return e.value
    if isinstance(e, ast.Op) and e.name == "NEG":
        v = _fold_constant(e.args[0])
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return -v
    raise EngineError("default value must be a constant")


