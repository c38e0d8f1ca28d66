#!/usr/bin/env python3
"""SQL-session benchmark for entangledb_spark.

    python3 perfbench/run.py --workload sql_read --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout.  One process starts the engine's Spark
session, an in-process ``EngineServer`` and one ``EngineClient`` connection,
and drives a closed loop: the next statement is sent only after the previous
reply arrived.  The statements come from ``workloads.py`` and depend only on
``--workload``, ``--seed`` and ``--seconds``.  Every reply is checked against
a DuckDB mirror that applies the same writes; the check runs between
statements and is not timed.

Every run is isolated: its TMPDIR, SPARK_LOCAL_DIRS, catalog, JVM temp dir
and working directory (for ``spark-warehouse``) live in a fresh directory
under ``.perfbench_run/`` that is removed when the run ends.
SPARK_GRAFT_CPUS is set to the number of usable CPUs, the driver heap to
1 GB, and PYTHONHASHSEED is fixed (the script re-executes itself once to set
it).

With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of ``layers.py``, which are
gathered on the measured window only.  The line before it is a JSON object
of run context: per-class medians, sample counts and latencies, throughput
per measured cycle, CPU steal, load average, the CPU sentinel and
defaultParallelism.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sql_read", "sql_write")
SENTINEL_ROWS = 20_000_000


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _reexec_with_fixed_hashseed() -> None:
    """String hashing must not vary between runs; it can only be fixed
    before the interpreter starts."""
    if os.environ.get("PYTHONHASHSEED") == "0":
        return
    env = dict(os.environ, PYTHONHASHSEED="0", PERFBENCH_T0=repr(time.time()))
    os.execve(sys.executable, [sys.executable, os.path.abspath(__file__)] + sys.argv[1:], env)


def _isolate(run_dir: str) -> None:
    """Point every scratch location at ``run_dir``, a fresh directory in the
    checkout."""
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "cwd", "data"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_CPUS=str(cpus),
        # the default 16g heap lets RSS follow GC timing on a shared box
        SPARK_GRAFT_DRIVER_MEM="1g",
        # every JVM (the launcher too) ignores TMPDIR; -XX:-UsePerfData keeps
        # hsperfdata out of /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the traced run reads every measured job back from the status store;
        # keep more than the default 1000 jobs/stages in both modes
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.retainedJobs=20000 --conf spark.ui.retainedStages=40000 "
            "pyspark-shell"
        ),
    )
    import tempfile

    tempfile.tempdir = None
    os.chdir(os.path.join(run_dir, "cwd"))


# ------------------------------------------------------------------ machine


def _steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _sentinel_s(spark) -> float:
    """Fixed engine-independent CPU probe: a range sum, no files, no Python."""
    t = time.perf_counter()
    spark.range(0, SENTINEL_ROWS, 1, 4).selectExpr("sum(id % 7) AS s").collect()
    return time.perf_counter() - t


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _peak_rss_mb(spark) -> tuple[float, float]:
    """Peak RSS of this Python driver and of the JVM.  The JVM's Python
    workers are left out: how many are alive at the end varies by run."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = _vm_hwm_kb(spark.sparkContext._gateway.proc.pid)
    return py_kb / 1024, jvm_kb / 1024


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    try:
        gateway.shutdown()
    except Exception:
        pass
    for stop in (lambda: proc.stdin.close(), proc.terminate, proc.kill):
        try:
            stop()
            proc.wait(timeout=15)
            return
        except Exception:
            continue


# ----------------------------------------------------------------- checking


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _check(op, resp, duck) -> bool:
    """Apply ``op`` to the DuckDB mirror and compare with the engine reply."""
    res = duck.execute(op.sql)
    if op.is_read:
        want = res.fetchall()
        got = resp.get("rows") or []
        return len(got) == len(want) and all(
            len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
            for g, w in zip(got, want)
        )
    if op.is_write:
        # the engine reports "<VERB> <rows>"; DuckDB returns the row count
        return int(resp["status"].split()[-1]) == res.fetchall()[0][0]
    return resp["status"].split()[0] == op.kind.upper()


def _mirror(paths: dict):
    import duckdb

    duck = duckdb.connect()
    duck.execute("SET threads TO 1")
    for name, path in paths.items():
        duck.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{path}')")
    return duck


# ------------------------------------------------------------------ running


def _run_ops(ops, client, duck, tracer=None):
    """Run ``ops`` in order.  Returns per-op latency (s, client-seen) and the
    number of failed or wrong ops."""
    lat, failed = [], 0
    for i, op in enumerate(ops):
        if tracer is not None:
            tracer.begin_op(i, op)
        t = time.perf_counter()
        try:
            resp = client.execute(op.sql)
        except Exception as e:
            resp = None
            print(f"perfbench: {op.kind} failed: {e}", file=sys.stderr)
        dt = time.perf_counter() - t
        if tracer is not None:
            tracer.end_op(dt)
        lat.append(dt)
        try:
            ok = resp is not None and _check(op, resp, duck)
        except Exception as e:
            print(f"perfbench: {op.kind} check raised: {e}", file=sys.stderr)
            ok = False
        if resp is not None and not ok:
            print(f"perfbench: {op.kind} mismatch: {op.sql}", file=sys.stderr)
        failed += not ok
    return lat, failed


def _summarize(ops, lat, n_cycles: int) -> tuple[dict, dict]:
    """End-to-end metrics and the per-class detail behind them.

    Latencies are averaged over the window's fixed mix rather than taken as
    medians: a class has only 1-4 samples and classes differ by up to 5x, so
    a median of so few, or a pooled one, jumps between values from run to
    run."""
    by_kind: dict[str, list[float]] = {}
    txns: dict[int, list] = {}
    reads, writes = [], []
    for op, dt in zip(ops, lat):
        ms = dt * 1000
        by_kind.setdefault(op.kind, []).append(ms)
        if op.is_read:
            reads.append(ms)
        elif op.is_write:
            writes.append(ms)
        if op.txn is not None:
            txns.setdefault(op.txn, []).append((op.kind, ms))
    committed = [sum(ms for _, ms in t) for t in txns.values() if t[-1][0] == "commit"]
    per_cycle = len(lat) // n_cycles
    cycle_s = [sum(lat[i : i + per_cycle]) for i in range(0, len(lat), per_cycle)]
    detail = {
        "class_p50_ms": {k: round(statistics.median(v), 3) for k, v in by_kind.items()},
        "class_n": {k: len(v) for k, v in by_kind.items()},
        "class_ms": {k: [round(x, 1) for x in v] for k, v in by_kind.items()},
        "txn_n": len(committed),
        # identical cycles, so a falling trend means the warm-up is too short
        "ops_per_s_by_cycle": [round(per_cycle / s, 4) for s in cycle_s],
    }
    metrics = {
        "ops_per_s": (len(lat) / sum(lat), "1/s"),
        "read_mean_ms": (statistics.mean(reads), "ms"),
        "write_mean_ms": (statistics.mean(writes), "ms"),
        "txn_mean_ms": (statistics.mean(committed), "ms"),
    }
    return metrics, detail


def _build_tables(spark, db_dir: str, paths: dict) -> None:
    from entangledb_spark.engine import Engine

    engine = Engine(spark, db_dir)
    for name, path in paths.items():
        engine.attach_parquet(f"src_{name}", path)
        engine.execute(f"CREATE TABLE {name} AS SELECT * FROM src_{name}")


def _progress(t0: float, what: str) -> None:
    print(f"perfbench: {what} at {time.time() - t0:.1f}s", file=sys.stderr)


def main(argv=None) -> int:
    args = _parse_args(argv)
    _reexec_with_fixed_hashseed()
    # a SIGTERM unwinds through the cleanup below instead of orphaning the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = float(os.environ.get("PERFBENCH_T0", time.time()))
    if not os.path.isdir(os.path.join(ROOT, "entangledb_spark")):
        print("perfbench: entangledb_spark not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    run_dir, spark = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}"), None
    try:
        _isolate(run_dir)
        import workloads
        from entangledb_spark.server import EngineClient, EngineServer
        from entangledb_spark.session import get_spark

        steal0, load0 = _steal_s(), os.getloadavg()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("FATAL")
        paths = workloads.write_tables(os.path.join(run_dir, "data"), args.seed)
        db_dir = os.path.join(run_dir, "db")
        _progress(t0, "spark up")
        _build_tables(spark, db_dir, paths)
        _progress(t0, "tables built")
        duck = _mirror(paths)
        server = EngineServer(spark, db_dir)
        server.serve_in_background()
        client = EngineClient(*server.address)
        warm, cycles = workloads.sequences(args.workload, args.seed, args.seconds)
        warm = [op for c in warm for op in c]
        measured = [op for c in cycles for op in c]
        _, warm_failed = _run_ops(warm, client, duck)
        setup_s = time.time() - t0
        _progress(t0, "warm-up done")

        sentinel = [_sentinel_s(spark) for _ in range(3)]
        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark, db_dir)
            tracer.install()
        steal1 = _steal_s()
        lat, failed = _run_ops(measured, client, duck, tracer)
        steal_s = _steal_s() - steal1
        if tracer is not None:
            tracer.uninstall()
        sentinel += [_sentinel_s(spark) for _ in range(3)]
        _progress(t0, "window done")

        metrics, detail = _summarize(measured, lat, len(cycles))
        metrics["setup_s"] = (setup_s, "s")
        py_rss_mb, jvm_rss_mb = _peak_rss_mb(spark)
        metrics["peak_rss_mb"] = (py_rss_mb + jvm_rss_mb, "MB")
        cpu_sentinel_s = statistics.median(sentinel)
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "warmup_ops": len(warm),
            "warmup_failed": warm_failed,
            "measured_ops": len(measured),
            "error_rate": failed / len(measured),
            "measured_s": sum(lat),
            "steal_s": steal_s,
            "steal_s_whole_run": _steal_s() - steal0,
            "loadavg_start": load0,
            "loadavg_end": os.getloadavg(),
            "cpu_sentinel_s": cpu_sentinel_s,
            "peak_rss_mb_python": py_rss_mb,
            "peak_rss_mb_jvm": jvm_rss_mb,
            "end_to_end": {k: v for k, (v, _) in metrics.items()},
            **detail,
        }
        if tracer is not None:
            metrics = tracer.metrics(spark.sparkContext.defaultParallelism)
            metrics["env.cpu_sentinel_s"] = (cpu_sentinel_s, "s")
            context["py4j_gc_roundtrips_per_stmt"] = tracer.gc_roundtrips_per_stmt()
        client.close()
        server.shutdown()
        server.server_close()
        duck.close()
    finally:
        if spark is not None:
            _stop_spark(spark)
            _progress(t0, "stopped")
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    print(json.dumps(context))
    print(
        json.dumps(
            {
                "correct": failed == 0 and warm_failed == 0,
                "attempted": len(measured),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
