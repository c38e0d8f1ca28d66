"""Per-layer tracing for the traced run (``--trace 1``), from outside the
program: nothing in ``entangledb_spark`` is edited, its functions are wrapped
while the measured window runs and restored afterwards.

Boundaries, outside in:

- ``server``: the client-seen time of a statement minus the engine's
  ``execute`` and ``fetch`` (socket, JSON and handler overhead);
- ``engine``: ``Engine.execute`` (compile for SELECT, the whole mutation for
  DML) and ``Result.fetch`` (the Spark jobs that produce a SELECT's rows);
- ``plans``: ``parser.parse`` and ``compiler.compile_statement``;
- ``functions``: ``expressions.compile_expr``;
- ``sources``: the ``SnapshotCatalog`` methods that read manifests, publish,
  stage and compact deltas and build the merge-on-read view, and the
  ``constraints`` checks;
- ``py4j``: round-trips, counted by wrapping ``send_command``;
- ``spark``: jobs, stages, tasks, executor time and shuffle bytes of each
  statement, read back from the local status REST API after the window.
  Each statement runs under its own job group.

Spans keep a per-thread stack, so a span's *self* time excludes the spans
it encloses.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
import urllib.request

GROUP_PREFIX = "perfbench-"
_GC_COMMAND = "m\nd\n"  # py4j protocol: MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Tracer:
    def __init__(self, spark, db_dir: str):
        self.sc = spark.sparkContext
        self.db_dir = db_dir
        self.db_bytes = _tree_bytes(db_dir)
        self.ops: list[dict] = []
        self.cur: dict | None = None
        self._tls = threading.local()
        self._undo: list = []

    # ------------------------------------------------------------ patching

    def _stack(self) -> list:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def _span(self, name: str, fn, before=None):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            if tracer.cur is None:
                return fn(*a, **kw)
            if before is not None:
                before(a)
            stack = tracer._stack()
            frame = [name, 0.0]  # name, time covered by child spans
            stack.append(frame)
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                dt = time.perf_counter() - t
                stack.pop()
                if stack:
                    stack[-1][1] += dt
                op = tracer.cur
                if op is not None:
                    op["self"][name] = op["self"].get(name, 0.0) + dt - frame[1]
                    op["incl"][name] = op["incl"].get(name, 0.0) + dt
                    op["calls"][name] = op["calls"].get(name, 0) + 1

        return wrapped

    def _replace(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _wrap_function(self, fn, name: str, before=None) -> None:
        """Wrap every binding of module-level ``fn`` in the package, so
        ``from x import fn`` copies are traced too."""
        wrapped = self._span(name, fn, before)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("entangledb_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._replace(mod, attr, wrapped)

    def _wrap_method(self, cls, meth: str, name: str, before=None) -> None:
        self._replace(cls, meth, self._span(name, getattr(cls, meth), before))

    def _count_roundtrip(self, command) -> None:
        op = self.cur
        if op is None or getattr(self._tls, "paused", False):
            return
        if isinstance(command, str) and command.startswith(_GC_COMMAND):
            # releases of Python-side JVM proxies; cyclic garbage collection
            # decides when they happen, so they are counted apart
            phase = "gc"
        else:
            stack = self._stack()
            phase = stack[0][0] if stack else "other"
        op["rt"][phase] = op["rt"].get(phase, 0) + 1

    def _set_job_group(self, _args) -> None:
        self._tls.paused = True
        try:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{self.cur['i']}", self.cur["kind"])
        finally:
            self._tls.paused = False

    def _note_delta_chain(self, args) -> None:
        # read_df(manifest, name): the number of deltas merged by this read
        manifest, name = args[1], args[2]
        meta = manifest.get("tables", {}).get(name) or {}
        self.cur["chains"].append(len(meta.get("deltas") or []))

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        from entangledb_spark.engine import Engine
        from entangledb_spark.engine_base import Result
        from entangledb_spark.functions import expressions
        from entangledb_spark.plans import compiler, parser
        from entangledb_spark.sources import constraints
        from entangledb_spark.sources.catalog import SnapshotCatalog

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **kw):
                self._count_roundtrip(command)
                return _orig(conn, command, *a, **kw)

            self._replace(cls, "send_command", send_command)

        self._wrap_method(Engine, "execute", "engine.execute", self._set_job_group)
        self._wrap_method(Result, "fetch", "engine.fetch")
        self._wrap_function(parser.parse, "plans.parse")
        self._wrap_function(compiler.compile_statement, "plans.compile")
        self._wrap_function(expressions.compile_expr, "functions.compile_expr")
        for meth in ("manifest", "publish", "stage_delta", "compact"):
            self._wrap_method(SnapshotCatalog, meth, f"sources.catalog.{meth}")
        for meth in ("read_df", "read_df_pruned"):
            self._wrap_method(
                SnapshotCatalog, meth, "sources.catalog.read_df", self._note_delta_chain
            )
        for fname in dir(constraints):
            fn = getattr(constraints, fname)
            if fname.startswith("check_") and callable(fn):
                self._wrap_function(fn, "sources.constraints")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        self.cur = None

    # ------------------------------------------------------------ per op

    def begin_op(self, i: int, op) -> None:
        self.cur = {
            "i": i, "kind": op.kind, "read": op.is_read, "write": op.is_write,
            "self": {}, "incl": {}, "calls": {}, "rt": {}, "chains": [],
        }

    def end_op(self, seconds: float) -> None:
        self.cur["client_s"] = seconds
        self.ops.append(self.cur)
        self.cur = None

    # ------------------------------------------------------------ spark

    def _rest(self, path: str):
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def _spark_by_op(self) -> dict[int, dict]:
        """Jobs, stages, tasks and executor metrics per measured op."""
        for _ in range(40):  # the status store is filled asynchronously
            jobs = [j for j in self._rest("jobs") if (j.get("jobGroup") or "").startswith(GROUP_PREFIX)]
            if all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.25)
        stages = {s["stageId"]: s for s in self._rest("stages") if s["status"] == "COMPLETE"}
        out: dict[int, dict] = {}
        for j in jobs:
            agg = out.setdefault(
                int(j["jobGroup"][len(GROUP_PREFIX):]),
                {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
                 "shuffle_read": 0, "shuffle_write": 0},
            )
            agg["jobs"] += 1
            for sid in j["stageIds"]:
                s = stages.get(sid)
                if s is None:  # skipped: its output was reused
                    continue
                agg["stages"] += 1
                agg["tasks"] += s["numCompleteTasks"]
                agg["run_ms"] += s["executorRunTime"]
                agg["cpu_ns"] += s["executorCpuTime"]
                agg["shuffle_read"] += s["shuffleReadBytes"]
                agg["shuffle_write"] += s["shuffleWriteBytes"]
        return out

    # ------------------------------------------------------------ metrics

    def gc_roundtrips_per_stmt(self) -> float:
        """py4j proxy releases per statement.  Not a metric: unlike every
        other count here it does not repeat exactly between runs."""
        return sum(o["rt"].get("gc", 0) for o in self.ops) / len(self.ops)

    def metrics(self, parallelism: int) -> dict[str, tuple[float, str]]:
        ops = self.ops
        reads = [o for o in ops if o["read"]]
        writes = [o for o in ops if o["write"]]
        spark = self._spark_by_op()
        for o in ops:
            o["spark"] = spark.get(o["i"], {})

        def per(group, key, sub="self"):
            """Milliseconds per statement of ``group`` in span ``key``."""
            return sum(o[sub].get(key, 0.0) for o in group) * 1000 / len(group)

        def rt(group, phase=None):
            n = sum(
                v for o in group for p, v in o["rt"].items()
                if p != "gc" and phase in (None, p)
            )
            return n / len(group)

        def sp(group, key):
            return sum(o["spark"].get(key, 0) for o in group) / len(group)

        chains = [c for o in ops for c in o["chains"]]
        client_s = sum(o["client_s"] for o in ops)
        cpu_s = sum(o["spark"].get("cpu_ns", 0) for o in ops) / 1e9
        shuffle_mb = {
            k: sum(o["spark"].get(k, 0) for o in ops) / 2**20
            for k in ("shuffle_read", "shuffle_write")
        }
        server = [
            o["client_s"] - o["incl"].get("engine.execute", 0.0) - o["incl"].get("engine.fetch", 0.0)
            for o in ops
        ]
        return {
            "plans.parse_ms": (per(ops, "plans.parse"), "ms"),
            "plans.compile_ms": (per(ops, "plans.compile"), "ms"),
            "functions.compile_expr_ms": (per(ops, "functions.compile_expr"), "ms"),
            "engine.execute_read_ms": (per(reads, "engine.execute", "incl"), "ms"),
            "engine.execute_write_ms": (per(writes, "engine.execute", "incl"), "ms"),
            "engine.fetch_ms": (per(reads, "engine.fetch", "incl"), "ms"),
            "engine.self_ms": (per(ops, "engine.execute"), "ms"),
            "server.overhead_ms": (sum(server) * 1000 / len(ops), "ms"),
            "sources.catalog.manifest_ms": (per(ops, "sources.catalog.manifest"), "ms"),
            "sources.catalog.publish_ms": (per(ops, "sources.catalog.publish"), "ms"),
            # inclusive: a compaction runs inside the stage_delta that triggers it
            "sources.catalog.stage_delta_ms": (
                per(ops, "sources.catalog.stage_delta", "incl"), "ms"),
            "sources.catalog.read_df_ms": (per(ops, "sources.catalog.read_df"), "ms"),
            "sources.catalog.compactions": (
                sum(o["calls"].get("sources.catalog.compact", 0) for o in ops), "count"),
            "sources.catalog.delta_chain_len": (sum(chains) / max(1, len(chains)), "count"),
            "sources.constraints_ms": (per(ops, "sources.constraints"), "ms"),
            # the catalog never deletes files, so its growth is what was written
            "sources.catalog.kb_written_per_write": (
                (_tree_bytes(self.db_dir) - self.db_bytes) / 1024 / len(writes), "KB"),
            "py4j.roundtrips_per_read": (rt(reads), "count"),
            "py4j.roundtrips_per_write": (rt(writes), "count"),
            "py4j.execute_roundtrips_per_read": (rt(reads, "engine.execute"), "count"),
            "py4j.fetch_roundtrips_per_read": (rt(reads, "engine.fetch"), "count"),
            "spark.jobs_per_read": (sp(reads, "jobs"), "count"),
            "spark.jobs_per_write": (sp(writes, "jobs"), "count"),
            "spark.stages_per_stmt": (sp(ops, "stages"), "count"),
            "spark.tasks_per_stmt": (sp(ops, "tasks"), "count"),
            "spark.executor_run_ms_per_stmt": (sp(ops, "run_ms"), "ms"),
            "spark.executor_cpu_ms_per_stmt": (sp(ops, "cpu_ns") / 1e6, "ms"),
            "spark.core_utilization": (cpu_s / (client_s * parallelism), "ratio"),
            "spark.shuffle_read_mb": (shuffle_mb["shuffle_read"], "MB"),
            "spark.shuffle_write_mb": (shuffle_mb["shuffle_write"], "MB"),
        }
