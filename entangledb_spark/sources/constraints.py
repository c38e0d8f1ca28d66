"""Constraint enforcement scoped to what one statement changes.

The reference validates the rows being written (its src/sql/schema.rs:
184-272: NOT NULL, DEFAULT typing, 1024-byte strings, UNIQUE, FK
existence per written row; delete-side FK via reverse index scan,
engine/kv.rs:157-176). Here a write describes its change as a ``Delta``
— the rows it writes (``upserts``), the pre-image rows it leaves alone
(``kept``) and the primary keys it takes away (``removed``) — and
``check_delta`` checks only what that change can newly violate, against
the pre-image snapshot the statement read. The table after the
statement is ``kept ∪ upserts``; ``kept`` already satisfies every
constraint, so a violation needs a written or a removed row:

- NOT NULL + string length: the upserts only, and for UPDATE only the
  SET columns that are not a non-null literal within the limit. Literal
  ``INSERT … VALUES`` rows are checked in Python, with no Spark job.
- PRIMARY KEY / UNIQUE: duplicates inside the upserts, then upsert
  values that a kept row already holds — probed with ``col IN (…)`` when
  the values are literals, else a semi-join. An INSERT's kept rows are
  the whole table, so its literal primary keys are probed by reading
  just those keys' rows (the catalog's KeyLookup, on the driver).
- FOREIGN KEY, child side: the upserts' distinct values anti-joined
  against the parent's keys (for a self-reference the parent is
  ``kept ∪ upserts``; NaN skips the check, schema.rs:248); literal
  values read just those keys' rows of the parent.
- FOREIGN KEY, parent side: removed keys that a remaining row still
  references, a semi-join of the children's values against the removed
  keys.

Each check is a bounded aggregate or join over the change, not over the
table, and runs against the exact snapshot being published, so it stays
correct under concurrency.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_STRING_BYTES = 1024  # schema.rs:238-240


class ConstraintError(ValueError):
    pass


@dataclass
class Delta:
    """One statement's change to one table, as the checks see it.

    ``upserts`` are the rows it writes and ``kept`` the pre-image rows it
    neither overwrites nor removes (None: none). ``removed`` holds the old
    primary keys it tombstones or re-keys and does not write again, in a
    column named like the PK. ``rows`` are the upserts as Python tuples in
    column order when they are literals (INSERT … VALUES). ``columns``
    names the columns whose values can change (None: all), ``literals``
    the ones an UPDATE sets to a literal. ``deleting`` marks a DELETE,
    whose referenced-key error names the removal. ``inserting`` marks an
    INSERT, whose ``kept`` is the table's whole view: its literal primary
    keys are probed by reading just their rows. ``upserting`` marks an
    upsert by primary key (a stream batch), whose ``kept`` holds no key of
    the upserts: its primary key cannot clash with a kept row."""

    upserts: Optional[DataFrame] = None
    kept: Optional[DataFrame] = None
    removed: Optional[DataFrame] = None
    rows: Optional[list] = None
    columns: Optional[frozenset] = None
    literals: dict = field(default_factory=dict)
    deleting: bool = False
    inserting: bool = False
    upserting: bool = False


def _null_error(name: str, col: str) -> ConstraintError:
    return ConstraintError(f"NULL value not allowed for column {col} in table {name}")


def _length_error(name: str, col: str) -> ConstraintError:
    return ConstraintError(
        f"string value in column {col} of table {name} exceeds {MAX_STRING_BYTES} bytes"
    )


def _duplicate_error(name: str, c: dict, value: Any) -> ConstraintError:
    label = "primary key" if c["primary_key"] else "unique value"
    return ConstraintError(f"duplicate {label} {value!r} for column {c['name']} in table {name}")


def _missing_error(name: str, c: dict, value: Any) -> ConstraintError:
    return ConstraintError(
        f"referenced primary key {value!r} in table "
        f"{c['references']} does not exist (column {c['name']} of {name})"
    )


def _removal_error(target: str, table: str, col: str, value: Any) -> ConstraintError:
    return ConstraintError(
        f"primary key {value!r} referenced by table {table} "
        f"(column {col}) cannot be removed from {target}"
    )


def check_not_null_and_length(name: str, df: DataFrame, columns: list[dict]) -> None:
    aggs = []
    for c in columns:
        if not c["nullable"]:
            aggs.append(
                F.count(F.when(F.col(c["name"]).isNull(), 1)).alias(f"null__{c['name']}")
            )
        if c["datatype"] == "STRING":
            aggs.append(F.max(F.octet_length(c["name"])).alias(f"len__{c['name']}"))
    if not aggs:
        return
    row = df.agg(*aggs).first().asDict()
    for k, v in row.items():
        kind, col = k.split("__", 1)
        if kind == "null" and v:
            raise _null_error(name, col)
        if kind == "len" and v is not None and v > MAX_STRING_BYTES:
            raise _length_error(name, col)


def _check_rows_not_null_and_length(name: str, rows: list, columns: list[dict]) -> None:
    """check_not_null_and_length over Python tuples: same column order,
    NULL before length, length in UTF-8 bytes like ``octet_length``."""
    for i, c in enumerate(columns):
        vals = [r[i] for r in rows]
        if not c["nullable"] and any(v is None for v in vals):
            raise _null_error(name, c["name"])
        if c["datatype"] == "STRING" and any(
            v is not None and len(v.encode("utf-8")) > MAX_STRING_BYTES for v in vals
        ):
            raise _length_error(name, c["name"])


def _settled(literal: Any) -> bool:
    """A SET literal that can break neither NOT NULL nor the length limit."""
    return literal is not None and not (
        isinstance(literal, str) and len(literal.encode("utf-8")) > MAX_STRING_BYTES
    )


def _duplicate_value(df: DataFrame, col: str) -> Any:
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(col)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()[0][0]
    )


def _value_counts(df: DataFrame, columns: list[dict]) -> dict:
    """{column: (non-null count, distinct count)} in ONE aggregate job."""
    aggs = []
    for c in columns:
        aggs.append(F.count(c["name"]).alias(f"n__{c['name']}"))
        aggs.append(F.count_distinct(c["name"]).alias(f"d__{c['name']}"))
    row = df.agg(*aggs).first().asDict()
    return {c["name"]: (row[f"n__{c['name']}"], row[f"d__{c['name']}"]) for c in columns}


def check_unique(name: str, df: DataFrame, columns: list[dict]) -> None:
    """One aggregate job for ALL unique/PK columns: a column has duplicates
    iff count(col) > count(DISTINCT col) (both skip NULLs — NULLs are
    exempt for UNIQUE, caught by NOT NULL for PKs). Only on failure does a
    second (per-failing-column) job run to name the duplicate value."""
    unique_cols = [c for c in columns if c["primary_key"] or c["unique"]]
    if not unique_cols:
        return
    counts = _value_counts(df, unique_cols)
    for c in unique_cols:
        n, d = counts[c["name"]]
        if n > d:
            raise _duplicate_error(name, c, _duplicate_value(df, c["name"]))


def _group_key(v: Any) -> Any:
    # Spark groups every NaN together; Python's NaN != NaN
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def check_foreign_keys(
    name: str,
    df: DataFrame,
    columns: list[dict],
    target_df_and_pk,
) -> None:
    """`target_df_and_pk(table) -> (DataFrame, pk_col)` within the pending
    snapshot. NaN reference values skip the check (schema.rs:248)."""
    for c in columns:
        if c["references"] is None:
            continue
        tdf, pk = target_df_and_pk(c["references"])
        vals = df.select(F.col(c["name"]).alias("__v")).filter(F.col("__v").isNotNull())
        if c["datatype"] == "FLOAT":
            vals = vals.filter(~F.isnan("__v"))
        missing = (
            vals.distinct()
            .join(tdf.select(F.col(pk).alias("__v")), on="__v", how="left_anti")
            .limit(1)
            .collect()
        )
        if missing:
            raise _missing_error(name, c, missing[0][0])


def _row_values(rows: list, columns: list[dict], c: dict) -> list:
    """Column ``c``'s non-null values in Python tuples."""
    i = columns.index(c)
    return [r[i] for r in rows if r[i] is not None]


def _first_repeat(values: list) -> Any:
    seen = set()
    for v in values:
        if _group_key(v) in seen:
            return v
        seen.add(_group_key(v))


def _check_literal_references(
    name: str, c: dict, values: list, probe: Callable, pk: str
) -> None:
    """check_foreign_keys for literal values: the parent's rows holding
    them, read by ``probe`` (``pk`` names the parent's key)."""
    if c["datatype"] == "FLOAT":
        values = [v for v in values if not math.isnan(v)]
    if not values:
        return
    found = {_group_key(r[0]) for r in probe(c["references"], values).select(pk).collect()}
    missing = [v for v in values if _group_key(v) not in found]
    if missing:
        raise _missing_error(name, c, missing[0])


def _referenced(children: DataFrame, col: str, removed: DataFrame, pk: str) -> Optional[Any]:
    """A removed key some child row still references, or None."""
    hit = (
        children.select(F.col(col).alias("__v"))
        .join(removed.select(F.col(pk).alias("__v")), on="__v", how="left_semi")
        .limit(1)
        .collect()
    )
    return hit[0][0] if hit else None


def check_delta(
    name: str,
    tables: dict,
    delta: Delta,
    read: Callable[[str], DataFrame],
    probe: Callable[[str, list], DataFrame],
) -> None:
    """Check what ``delta`` can newly violate in table ``name``, in the
    order a full-table check reports it: NOT NULL/length, then UNIQUE,
    then FOREIGN KEY. ``tables`` is the pending manifest's table map,
    ``read(table)`` its merge-on-read view and ``probe(table, keys)`` the
    rows of that view whose primary key is one of ``keys``."""
    columns = tables[name]["columns"]
    pk = next(c["name"] for c in columns if c["primary_key"])
    changing = [c for c in columns if delta.columns is None or c["name"] in delta.columns]
    ups, kept, rows = delta.upserts, delta.kept, delta.rows

    if rows is not None:
        _check_rows_not_null_and_length(name, rows, columns)
    elif ups is not None:
        check_not_null_and_length(
            name, ups, [c for c in changing if not _settled(delta.literals.get(c["name"]))]
        )

    unique_cols = [c for c in changing if c["primary_key"] or c["unique"]]
    if unique_cols and ups is not None:
        if rows is not None:
            known = {c["name"]: _row_values(rows, columns, c) for c in unique_cols}
            counts = {n: (len(v), len({_group_key(x) for x in v})) for n, v in known.items()}
        else:
            known = {n: [v] for n, v in delta.literals.items() if v is not None}
            counts = _value_counts(ups, unique_cols)
        for c in unique_cols:
            col = c["name"]
            n, d = counts[col]
            if n > d:
                dupe = _first_repeat(known[col]) if rows is not None else _duplicate_value(ups, col)
                raise _duplicate_error(name, c, dupe)
            if n == 0 or kept is None or (c["primary_key"] and delta.upserting):
                continue
            if col in known and c["primary_key"] and delta.inserting:
                clash = probe(name, known[col])
            elif col in known:
                clash = kept.filter(F.col(col).isin(known[col]))
            else:
                clash = kept.join(ups.select(col), on=col, how="left_semi")
            hit = clash.select(col).limit(1).collect()
            if hit:
                raise _duplicate_error(name, c, hit[0][0])

    removed = delta.removed
    referencing = [
        (t, c) for t, meta in tables.items() for c in meta["columns"] if c["references"] == name
    ]

    def after() -> DataFrame:
        """The table after the statement: kept ∪ upserts."""
        return reduce(DataFrame.unionByName, [d for d in (kept, ups) if d is not None])

    def parent_pk(table: str) -> str:
        return next(c["name"] for c in tables[table]["columns"] if c["primary_key"])

    def parent(table: str):
        if table == name:
            return after(), pk
        return read(table), parent_pk(table)

    if delta.deleting:
        # DELETE: every referencing column in manifest order, like the
        # reverse-index scan of the reference
        for t, c in referencing:
            v = _referenced(after() if t == name else read(t), c["name"], removed, pk)
            if v is not None:
                raise _removal_error(name, t, c["name"], v)
        return

    for c in columns:
        if c["references"] is None:
            continue
        if ups is not None and c in changing:
            if rows is not None and c["references"] != name:
                _check_literal_references(
                    name, c, _row_values(rows, columns, c), probe, parent_pk(c["references"])
                )
            else:
                check_foreign_keys(name, ups, [c], parent)
        if c["references"] == name and removed is not None:
            # a row the table keeps must not point at a key this write removes
            v = _referenced(after(), c["name"], removed, pk)
            if v is not None:
                raise _missing_error(name, c, v)
    if removed is not None:
        for t, c in referencing:
            if t != name:
                v = _referenced(read(t), c["name"], removed, pk)
                if v is not None:
                    raise _removal_error(name, t, c["name"], v)
