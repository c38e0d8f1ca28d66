"""Interactive SQL REPL — the engine's analog of the reference's
`entanglesql` client (/root/reference/src/bin/entanglesql.rs:100-161):
`!tables`, `!table <name>`, `!status`, headers toggle, multi-statement
input. Run: python -m entangledb_spark.cli [--db DIR].
"""

from __future__ import annotations

import argparse
import os
import sys

from entangledb_spark.engine import Engine, EngineError
from entangledb_spark.session import get_spark

# display cap: the REPL never pulls more than this many rows to the driver
MAX_DISPLAY_ROWS = int(os.environ.get("ENTANGLE_MAX_DISPLAY_ROWS", "1000"))


def format_table(columns, rows, headers: bool = True) -> str:
    cells = [[("NULL" if v is None else str(v)) for v in r] for r in rows]
    widths = [len(c) for c in columns]
    for r in cells:
        for i, v in enumerate(r):
            widths[i] = max(widths[i], len(v))
    lines = []
    if headers:
        lines.append(" | ".join(c.ljust(w) for c, w in zip(columns, widths)))
        lines.append("-+-".join("-" * w for w in widths))
    lines += [" | ".join(v.ljust(w) for v, w in zip(r, widths)) for r in cells]
    return "\n".join(lines)


def run_command(engine: Engine, line: str) -> str:
    cmd, *args = line[1:].split()
    if cmd == "tables":
        manifest = engine.catalog.manifest()
        names = sorted(manifest["tables"])
        names += [f"{v}  (view)" for v in sorted(manifest.get("views") or {})]
        names += [
            f"{v}  (materialized view)"
            for v in sorted(manifest.get("matviews") or {})
        ]
        return "\n".join(names) or "(no tables)"
    if cmd == "functions":
        from entangledb_spark.functions.expressions import SCALAR_FUNCS
        from entangledb_spark.functions.table_functions import TABLE_FUNCS

        def _arity(lo, hi):
            return str(lo) if hi == lo else f"{lo}..{hi if hi is not None else '*'}"

        out = ["scalar:"]
        out += [
            f"  {n}({_arity(lo, hi)})"
            for n, (lo, hi, _) in sorted(SCALAR_FUNCS.items())
        ]
        out.append("table (FROM-clause, literal args):")
        out += [
            f"  {n}({_arity(s.min_arity, s.max_arity)})"
            + ("  [reads session tables]" if s.reads_tables else "")
            for n, s in sorted(TABLE_FUNCS.items())
        ]
        return "\n".join(out)
    if cmd == "index":
        if not args:
            return "usage: !index <index-dir>"
        from entangledb_spark.operators.index_commit import describe_index

        try:
            d = describe_index(args[0])
        except ValueError as e:
            return f"Error: {e}"
        out = [f"kind: {d['kind']}  version: {d['version']}"]
        if d["n_rows"] is not None:
            # the ledger counts docs for a text index, vectors for the
            # ANN kinds — label what it actually is
            unit = {"text": "docs", "lsh": "vectors", "ivf": "vectors",
                    "ivfpq": "vectors"}.get(d["kind"], "rows")
            out.append(
                f"{unit}: {d['n_rows']}  batches: {d['n_batches']}  "
                f"folded: {d['folded']}"
            )
        for name, st in sorted(d["data_dirs"].items()):
            out.append(f"  {name}: {st['dir']}  ({st['files']} files, {st['bytes']} bytes)")
        for k, v in sorted(d["params"].items()):
            out.append(f"  {k} = {v}")
        return "\n".join(out)
    if cmd == "table":
        if not args:
            return "usage: !table <name>"
        manifest = engine.catalog.manifest()
        mv = (manifest.get("matviews") or {}).get(args[0])
        if mv is not None:
            current = engine.catalog.current_version()
            stale = " STALE" if mv["base_version"] < current else ""
            path = engine.get_matview(args[0])["refresh_path"]
            return (
                f"CREATE MATERIALIZED VIEW {args[0]} AS {mv['sql']}\n"
                f"-- columns: {', '.join(mv['columns'])}\n"
                f"-- reads: {', '.join(mv['deps']) or '(none)'}\n"
                f"-- refresh: {path}; "
                f"as of v{mv['base_version']} (current v{current}){stale}"
            )
        view = (manifest.get("views") or {}).get(args[0])
        if view is not None:
            deps = ", ".join(view["deps"]) or "(none)"
            return (
                f"CREATE VIEW {args[0]} AS {view['sql']}\n"
                f"-- columns: {', '.join(view['columns'])}\n-- reads: {deps}"
            )
        meta = manifest["tables"].get(args[0])
        if meta is None:
            return f"table {args[0]} does not exist"
        out = [f"CREATE TABLE {args[0]} ("]
        for c in meta["columns"]:
            opts = []
            if c["primary_key"]:
                opts.append("PRIMARY KEY")
            elif not c["nullable"]:
                opts.append("NOT NULL")
            if c["has_default"] and c["default"] is not None:
                opts.append(f"DEFAULT {c['default']!r}")
            if c["unique"] and not c["primary_key"]:
                opts.append("UNIQUE")
            if c["references"]:
                opts.append(f"REFERENCES {c['references']}")
            if c["index"] and not c["unique"]:
                opts.append("INDEX")
            opt = (" " + " ".join(opts)) if opts else ""
            out.append(f"  {c['name']} {c['datatype']}{opt},")
        out[-1] = out[-1].rstrip(",")
        out.append(")")
        stats = meta.get("stats")
        if stats:
            out.append(
                f"-- stats (v{stats['analyzed_version']}): {stats['n_rows']} rows"
            )
            for cn, s in stats["columns"].items():
                rng = (
                    f", min={s['min']}, max={s['max']}" if "min" in s else ""
                )
                out.append(f"--   {cn}: ndv≈{s['ndv']}{rng}")
        return "\n".join(out)
    if cmd == "analyze":
        if not args:
            return "usage: !analyze <table>"
        try:
            r = engine.analyze(args[0])
            return f"{r.status} (version {r.version})"
        except EngineError as e:
            return f"Error: {e}"
    if cmd == "vacuum":
        try:
            r = engine.vacuum(int(args[0]) if args else 8)
            return r.status
        except (EngineError, ValueError) as e:
            return f"Error: {e}"
    if cmd == "changes":
        if len(args) < 2:
            return "usage: !changes <table> <from_version> [<to_version>]"
        try:
            r = engine.table_changes(
                args[0], int(args[1]), int(args[2]) if len(args) > 2 else None
            )
            rows, truncated = r.fetch(MAX_DISPLAY_ROWS)
            out = format_table(r.columns or [], rows)
            return out + ("\n(truncated)" if truncated else f"\n({len(rows)} rows)")
        except (EngineError, ValueError) as e:
            return f"Error: {e}"
    if cmd == "attach":
        if len(args) < 2:
            return "usage: !attach <name> <parquet-path>"
        try:
            r = engine.attach_parquet(args[0], args[1])
            return f"{r.status} (version {r.version})"
        except EngineError as e:
            return f"Error: {e}"
    if cmd == "status":
        return (
            f"version: {engine.catalog.current_version()}  "
            f"in_transaction: {engine.in_transaction}"
        )
    return f"unknown command !{cmd}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="entangledb-on-spark SQL shell")
    ap.add_argument("--db", default="./entangle_db", help="database directory")
    ap.add_argument("-c", "--command", help="execute one statement and exit")
    args = ap.parse_args(argv)

    spark = get_spark("entangledb-cli")
    # FATAL: recoverable query errors are reported by the REPL itself; the
    # JVM's ERROR-level query-context JSON logs would double-print them.
    # PySpark's PYTHON-side DataFrameQueryContextLogger does the same from
    # the Python logging tree, so quiet that as well.
    spark.sparkContext.setLogLevel("FATAL")
    import logging

    logging.getLogger("pyspark").setLevel(logging.CRITICAL)
    engine = Engine(spark, args.db)

    def run_one(sql: str) -> None:
        sql = sql.strip()
        if not sql:
            return
        if sql.startswith("!"):
            print(run_command(engine, sql))
            return
        try:
            r = engine.execute(sql)
            if r.dataframe is not None or r.rows is not None:
                # capped pull: O(MAX_DISPLAY_ROWS) driver memory even for
                # `SELECT * FROM <huge table>` (one LIMIT collect under the hood)
                rows, truncated = r.fetch(MAX_DISPLAY_ROWS)
                print(format_table(r.columns or [], rows))
                if truncated:
                    print(
                        f"(first {len(rows)} rows shown; raise "
                        "ENTANGLE_MAX_DISPLAY_ROWS or add LIMIT for more)"
                    )
                else:
                    print(f"({len(rows)} rows)")
            else:
                print(r.status)
        except EngineError as e:
            print(f"Error: {e}", file=sys.stderr)
        except Exception as e:  # runtime errors (ANSI overflow, div-zero, ...)
            msg = str(e).split("\n")[0]
            print(f"Error: {type(e).__name__}: {msg}", file=sys.stderr)

    if args.command:
        run_one(args.command)
        return 0

    print("Connected to entangledb-on-spark. Type !tables, !table <name>, !attach <name> <path>, !functions, !index <dir>, !status, or SQL.")
    buffer = ""
    while True:
        try:
            prompt = "entangledb> " if not buffer else "        ...> "
            line = input(prompt)
        except (EOFError, KeyboardInterrupt):
            print()
            return 0
        if line.startswith("!") and not buffer:
            print(run_command(engine, line.strip()))
            continue
        buffer += line + "\n"
        if ";" in line or not line.strip():
            for stmt in buffer.split(";"):
                run_one(stmt)
            buffer = ""


if __name__ == "__main__":
    sys.exit(main())
