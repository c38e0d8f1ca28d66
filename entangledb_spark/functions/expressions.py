"""AST expression → Spark Column translation with entangleDB semantics.

Carries the reference's expression-language semantics (SURVEY §2.2,
/root/reference/src/sql/types/expression.rs) onto Catalyst expressions:

- integer/integer division truncates toward zero (`div`), float division
  stays `/` (expression.rs:142-158); engine sessions run ANSI so division
  by zero and integer overflow raise, as the reference does;
- `^` exponentiation (NOT Spark's bitwise xor): integer^non-negative-int
  yields an integral result, otherwise double (expression.rs:159-176);
- `!` postfix factorial errors on negatives and on arguments > 20 (the
  reference errors on i64 overflow at 21!; expression.rs:177-184);
- LIKE uses doubled-wildcard escapes (`%%` → literal %, `__` → literal _,
  expression.rs:243-258), translated to Spark's backslash-escaped LIKE;
- three-valued AND/OR/NOT, IS NULL, and comparison NULL propagation map
  1:1 onto Spark's boolean semantics (verified by truth-table tests).

Type decisions that the reference makes per-row (dynamic Value types) are
made statically here from column dtypes — the one observable divergence is
`int ^ negative-int-column`, which yields double always (documented).
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from entangledb_spark.plans import ast

Resolver = Callable[[ast.Field], Column]
TypeOf = Callable[[ast.Expr], Optional[str]]  # 'int'|'float'|'str'|'bool'|None


class CompileError(ValueError):
    pass


# Scalar function library (extension — the reference resolves NO scalar
# functions, planner.rs:538-540; these map 1:1 onto JVM built-ins and stay
# in whole-stage codegen). name → (min_arity, max_arity or None=variadic,
# builder over compiled argument Columns).
SCALAR_FUNCS: dict[str, tuple[int, Optional[int], Callable[..., Column]]] = {
    "abs": (1, 1, F.abs),
    "ceil": (1, 1, F.ceil),
    "floor": (1, 1, F.floor),
    "round": (1, 1, lambda c: F.round(c, 0)),
    "sqrt": (1, 1, F.sqrt),
    "pow": (2, 2, F.pow),
    "ln": (1, 1, F.log),
    "exp": (1, 1, F.exp),
    "upper": (1, 1, F.upper),
    "lower": (1, 1, F.lower),
    "length": (1, 1, lambda c: F.length(c).cast("long")),
    "trim": (1, 1, F.trim),
    "substr": (
        2,
        3,
        lambda s, pos, ln=None: F.substring(
            s, pos, ln if ln is not None else F.lit(2147483647)
        ),
    ),
    "concat": (1, None, F.concat),
    "coalesce": (1, None, F.coalesce),
    "nullif": (2, 2, F.nullif),
    "greatest": (2, None, F.greatest),
    "least": (2, None, F.least),
    # temporal extraction (extension) — pair with the parser's DATE '...'
    # literals; results widened to long like all dialect integers
    "year": (1, 1, lambda c: F.year(c).cast("long")),
    "month": (1, 1, lambda c: F.month(c).cast("long")),
    "day": (1, 1, lambda c: F.dayofmonth(c).cast("long")),
    # training-pipeline scrub surface (extension; operators/pii.py) — the
    # same zero-shuffle expressions the DataFrame operators use, so SQL
    # sessions can scrub/audit without leaving the dialect
    "pii_redact": (1, 1, lambda c: _pii("redact")(c)),
    "pii_count": (1, 1, lambda c: _pii("count")(c)),
    # deterministic-sampling surface (extension; operators/text.py): the
    # overflow-safe modular Knuth hash every sampler/sharder in the
    # engine uses, exposed so SQL sessions draw the SAME reproducible
    # samples as the DataFrame operators (`WHERE knuth_bucket(id, 100)
    # < 5` is a stable 5% sample on any engine, any re-run)
    # inputs cast to BIGINT first: the dialect types bare integers INT32
    # and the Knuth multiply would overflow under ANSI (the same reason
    # knuth_bucket_sql casts in the oracles)
    "knuth_bucket": (2, 2, lambda c, n: _knuth()(c.cast("long")) % n),
    "knuth_key": (1, 1, lambda c: _knuth()(c.cast("long"))),
    # whitespace token count — the packing/budgeting token definition
    "token_count": (1, 1, lambda c: _token_count(c)),
    # string toolbox (round 9; all JVM built-ins under DuckDB-compatible
    # names and argument orders — 1-based positions where positional)
    "replace": (3, 3, F.replace),
    "split_part": (3, 3, F.split_part),
    "lpad": (3, 3, F.lpad),
    "rpad": (3, 3, F.rpad),
    "left": (2, 2, F.left),
    "right": (2, 2, F.right),
    "reverse": (1, 1, F.reverse),
    "strpos": (2, 2, lambda s, sub: F.instr(s, sub).cast("long")),
    "contains": (2, 2, F.contains),
    "starts_with": (2, 2, F.startswith),
    "ends_with": (2, 2, F.endswith),
    "ltrim": (1, 1, F.ltrim),
    "rtrim": (1, 1, F.rtrim),
    "repeat": (2, 2, F.repeat),
    "md5": (1, 1, F.md5),
    # via call_function: the python wrapper wants str/int literals, the
    # SQL function itself takes Columns like everything else
    "regexp_extract": (2, 3, lambda s, re, g=None: F.call_function(
        "regexp_extract", s, re, g if g is not None else F.lit(0)
    )),
    # numeric: sign is widened to long like all dialect integers
    "sign": (1, 1, lambda c: F.signum(c).cast("long")),
    "log2": (1, 1, F.log2),
    "log10": (1, 1, F.log10),
}


def _knuth() -> Callable[[Column], Column]:
    """Late import (functions/ must not import operators/ at load).

    The input is pmod'ed into [0, M) first: operators.text.knuth_key
    documents a nonnegative-id precondition, but this SQL surface
    accepts any BIGINT — Spark's ``%`` keeps the dividend's sign, so a
    negative id would otherwise produce a NEGATIVE key/bucket and a
    ``knuth_bucket(id, 100) < 5`` sample would silently admit every
    negative-id row."""
    from entangledb_spark.operators.text import HASH_M, knuth_key

    return lambda c: knuth_key(F.pmod(c, F.lit(HASH_M)))


def _token_count(c: Column) -> Column:
    from entangledb_spark.operators.text import TOKEN_RE

    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_RE), 0)).cast("long")


def _pii(which: str) -> Callable[[Column], Column]:
    """Late import: functions/ must not import operators/ at module load
    (operators import this module for the compiler surface)."""
    from entangledb_spark.operators.pii import PII_PATTERNS, pii_count_expr, redact_pii

    if which == "redact":
        return redact_pii
    return lambda c: sum(
        (pii_count_expr(c, k) for k in PII_PATTERNS), F.lit(0).cast("long")
    )


def translate_like_pattern(pattern: str) -> str:
    """entangleDB LIKE escaping (doubling) → Spark LIKE escaping (backslash).

    `%%` → literal %, `__` → literal _ (expression.rs:249-250); a lone
    backslash in the input is literal and must be escaped for Spark."""
    out = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c in "%_" and i + 1 < len(pattern) and pattern[i + 1] == c:
            out.append("\\" + c)
            i += 2
        elif c == "\\":
            out.append("\\\\")
            i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def static_type(e: ast.Expr, field_type: TypeOf) -> Optional[str]:
    """Best-effort static type of an expression ('int'/'float'/'str'/'bool')."""
    if isinstance(e, ast.Literal):
        v = e.value
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, int):
            return "int"
        if isinstance(v, float):
            return "float"
        if isinstance(v, str):
            return "str"
        return None
    if isinstance(e, ast.Field):
        return field_type(e)
    if isinstance(e, ast.FuncCall):
        n = e.name.lower()
        if n == "count":
            return "int"
        if n in ("sum", "min", "max", "avg"):
            return static_type(e.args[0], field_type)
        return None
    if isinstance(e, ast.Op):
        n = e.name
        if n in ("AND", "OR", "NOT", "EQ", "NE", "GT", "GTE", "LT", "LTE", "LIKE", "IS_NULL"):
            return "bool"
        if n == "FACTORIAL":
            return "int"
        if n in ("NEG", "POS"):
            return static_type(e.args[0], field_type)
        if n in ("ADD", "SUB", "MUL", "MOD"):
            ts = [static_type(a, field_type) for a in e.args]
            if all(t == "int" for t in ts):
                return "int"
            if any(t == "float" for t in ts):
                return "float"
            return None
        if n == "DIV":
            ts = [static_type(a, field_type) for a in e.args]
            return "int" if all(t == "int" for t in ts) else "float"
        if n == "EXP":
            lt = static_type(e.args[0], field_type)
            rhs = e.args[1]
            if (
                lt == "int"
                and isinstance(rhs, ast.Literal)
                and isinstance(rhs.value, int)
                and not isinstance(rhs.value, bool)
                and rhs.value >= 0
            ):
                return "int"
            return "float"
    return None


_RANKING_FUNCS = ("row_number", "rank", "dense_rank", "ntile", "percent_rank", "cume_dist")
_OFFSET_FUNCS = ("lag", "lead")
_VALUE_FUNCS = ("first_value", "last_value")


def _compile_window(e: "ast.WindowFunc", resolve: Resolver, field_type: TypeOf) -> Column:
    """Lower a window function onto pyspark.sql.Window (extension — the
    reference has no window functions, SURVEY §2.5). One shuffle on the
    partition keys; ranking filters compile to WindowGroupLimit."""
    from pyspark.sql import Window

    name = e.name.lower()
    spec = Window.partitionBy(
        *[compile_expr(p, resolve, field_type) for p in e.partition_by]
    )
    if e.order_by:
        spec = spec.orderBy(
            *[
                (
                    compile_expr(o.expr, resolve, field_type).desc_nulls_last()
                    if o.desc
                    else compile_expr(o.expr, resolve, field_type).asc_nulls_first()
                )
                for o in e.order_by
            ]
        )
    if e.frame == "rows_unbounded_current":
        spec = spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    if name in _RANKING_FUNCS:
        if not e.order_by:
            raise CompileError(f"{name}() requires ORDER BY in its window")
        if name == "ntile":
            lit = e.args[0] if e.args else None
            if not (
                isinstance(lit, ast.Literal)
                and isinstance(lit.value, int)
                and not isinstance(lit.value, bool)
                and lit.value >= 1
            ):
                raise CompileError("ntile() takes a positive integer constant")
            return F.ntile(lit.value).over(spec).cast("long")
        if name in ("percent_rank", "cume_dist"):
            # double-valued: exact integer-ratio arithmetic, so results are
            # bit-identical to the DuckDB oracle's
            fn = {"percent_rank": F.percent_rank, "cume_dist": F.cume_dist}[name]
            return fn().over(spec)
        fn = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}[name]
        return fn().over(spec).cast("long")
    if name in _VALUE_FUNCS:
        if not e.order_by:
            # the standard permits order-less first/last_value but the
            # result is then partition-order-dependent — nondeterminism we
            # reject everywhere else in the engine
            raise CompileError(f"{name}() requires ORDER BY in its window")
        arg = compile_expr(e.args[0], resolve, field_type)
        # SQL-standard default frame (RANGE UNBOUNDED PRECEDING..CURRENT
        # ROW) applies in BOTH Spark and DuckDB, so last_value over the
        # default frame returns the CURRENT row's value — the well-known
        # standard behavior, oracle-identical by construction
        return (F.first(arg) if name == "first_value" else F.last(arg)).over(spec)
    if name in _OFFSET_FUNCS:
        if not e.order_by:
            raise CompileError(f"{name}() requires ORDER BY in its window")
        arg = compile_expr(e.args[0], resolve, field_type)
        off = 1
        if len(e.args) > 1:
            lit = e.args[1]
            if not (isinstance(lit, ast.Literal) and isinstance(lit.value, int)):
                raise CompileError(f"{name}() offset must be an integer constant")
            off = lit.value
        return (F.lag(arg, off) if name == "lag" else F.lead(arg, off)).over(spec)
    if name in ast.AGGREGATES:
        arg = compile_expr(e.args[0], resolve, field_type)
        fn = {"count": F.count, "min": F.min, "max": F.max, "sum": F.sum, "avg": F.avg}[name]
        return fn(arg).over(spec)
    raise CompileError(f"unknown window function: {name}")


def _checked_literal(v):
    """``v``, or a CompileError for an integer literal outside i64 (the
    JVM would reject it while building the literal)."""
    if type(v) is int and not -(2**63) <= v < 2**63:
        raise CompileError(f"integer overflow: {v} is outside the 64-bit range")
    return v


def compile_expr(e: ast.Expr, resolve: Resolver, field_type: TypeOf) -> Column:
    """Lower an AST expression to a Column. Aggregate FuncCalls must already
    have been rewritten to Fields by the SELECT compiler — reaching one here
    means it appeared outside an aggregation context."""
    if isinstance(e, ast.Literal):
        if e.value is None:
            return F.lit(None)
        return F.lit(_checked_literal(e.value))
    if isinstance(e, ast.Field):
        return resolve(e)
    if isinstance(e, ast.WindowFunc):
        return _compile_window(e, resolve, field_type)
    if isinstance(e, ast.FuncCall):
        name = e.name.lower()
        if name in ast.AGGREGATES:
            raise CompileError(f"aggregate {name} not allowed here")
        spec = SCALAR_FUNCS.get(name)
        if spec is None:
            raise CompileError(f"unknown function: {name}")  # planner.rs:538-540
        lo, hi, builder = spec
        if len(e.args) < lo or (hi is not None and len(e.args) > hi):
            raise CompileError(f"wrong argument count for {name}")
        return builder(*[compile_expr(a, resolve, field_type) for a in e.args])
    assert isinstance(e, ast.Op)
    n = e.name
    args = e.args

    def c(i: int) -> Column:
        return compile_expr(args[i], resolve, field_type)

    if n == "AND":
        return c(0) & c(1)
    if n == "OR":
        return c(0) | c(1)
    if n == "NOT":
        return ~c(0)
    if n in ("EQ", "NE", "GT", "GTE", "LT", "LTE"):
        # mixed non-numeric comparison is an error in the reference
        # (expression.rs:86-88: "Can't compare"); Spark would implicitly
        # cast, so pre-validate with static types where known.
        lt, rt = (static_type(a, field_type) for a in args)
        numeric = {"int", "float"}
        if lt is not None and rt is not None and lt != rt:
            if not (lt in numeric and rt in numeric):
                raise CompileError(f"can't compare {lt} with {rt}")
        op = {
            "EQ": lambda a, b: a == b,
            "NE": lambda a, b: a != b,
            "GT": lambda a, b: a > b,
            "GTE": lambda a, b: a >= b,
            "LT": lambda a, b: a < b,
            "LTE": lambda a, b: a <= b,
        }[n]
        return op(c(0), c(1))
    if n == "IS_NULL":
        return c(0).isNull()
    if n == "IN":
        return c(0).isin(*[c(i) for i in range(1, len(args))])
    if n == "CASE":
        # args = (c1, v1, c2, v2, ..., else_val)
        expr = None
        for i in range(0, len(args) - 1, 2):
            branch = F.when(c(i), c(i + 1))
            expr = branch if expr is None else expr.when(c(i), c(i + 1))
        return expr.otherwise(c(len(args) - 1))
    if n == "LIKE":
        pat = args[1]
        if not (isinstance(pat, ast.Literal) and isinstance(pat.value, str)):
            raise CompileError("LIKE pattern must be a string literal")
        return c(0).like(translate_like_pattern(pat.value))
    if n == "ADD":
        return c(0) + c(1)
    if n == "SUB":
        return c(0) - c(1)
    if n == "MUL":
        return c(0) * c(1)
    if n == "MOD":
        return c(0) % c(1)
    if n == "DIV":
        ts = [static_type(a, field_type) for a in args]
        if all(t == "int" for t in ts):
            # Integer/Integer → Integer, truncating (expression.rs:142-150)
            return F.call_function("div", c(0), c(1))
        return c(0) / c(1)
    if n == "EXP":
        lt = static_type(args[0], field_type)
        rhs = args[1]
        p = F.pow(c(0), c(1))
        if (
            lt == "int"
            and isinstance(rhs, ast.Literal)
            and isinstance(rhs.value, int)
            and not isinstance(rhs.value, bool)
            and rhs.value >= 0
        ):
            return p.cast("long")  # int ^ nonneg-int stays integral
        return p
    if n == "NEG":
        a = args[0]
        if isinstance(a, ast.Literal) and type(a.value) is int:
            # folded: the parser reads -9223372036854775808 as NEG of 2^63
            return F.lit(_checked_literal(-a.value))
        return -c(0)
    if n == "POS":
        # unary + asserts numeric, identity (expression.rs:136-141)
        t = static_type(args[0], field_type)
        if t in ("str", "bool"):
            raise CompileError("can't take the positive of a non-numeric value")
        return c(0)
    if n == "FACTORIAL":
        x = c(0).cast("int")
        # reference errors on negative and on overflow (>20 for i64)
        return (
            F.when(x < 0, F.raise_error(F.lit("can't take factorial of negative number")))
            .when(x > 20, F.raise_error(F.lit("factorial overflow (argument > 20)")))
            .otherwise(F.factorial(x))
        )
    raise CompileError(f"unknown operator {n}")
