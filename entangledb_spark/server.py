"""TCP SQL server + client — the engine's analog of the reference's
network layer (/root/reference/src/server.rs:104-225: a listener that
serves SQL over TCP with one session per connection, and
src/client.rs: a blocking request/response client).

Wire protocol: newline-delimited JSON (one request object per line, one
response object per line) instead of the reference's length-prefixed
bincode — human-debuggable (`nc` works) and language-neutral. Requests
mirror the reference's Request enum (server.rs:215-220):

    {"type": "execute", "sql": "...", "max_rows": 1000}
    {"type": "list_tables"}
    {"type": "get_table", "name": "t"}

Responses: {"ok": true, "status": ..., "columns": ..., "rows": ...,
"version": ..., "truncated": ...} or {"ok": false, "error": "..."}.

Sessions: every connection gets its OWN Engine (its own transaction
state) over the SHARED SparkSession and snapshot catalog — concurrent
writers are serialized by the catalog's optimistic concurrency check, the
same protocol in-process sessions use. Row transfer is capped per request
(`max_rows`, default 1000) and pulled through the lazy Result (one
`LIMIT max_rows + 1` collect), so a `SELECT * FROM <huge table>` costs
the server O(max_rows) memory, never a full collect.
"""

from __future__ import annotations

import argparse
import json
import socket
import socketserver
import threading
from datetime import date, datetime
from typing import Any, Optional

from pyspark.sql import SparkSession

from entangledb_spark.engine import Engine, EngineError

DEFAULT_MAX_ROWS = 1000


def _jsonable(v: Any) -> Any:
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, float) and v != v:  # NaN → null (JSON has no NaN)
        return None
    return v


class _Handler(socketserver.StreamRequestHandler):
    def handle(self) -> None:
        # per-connection session (reference: one Session per connection,
        # server.rs:104-141)
        engine = Engine(self.server.spark, self.server.base_dir)  # type: ignore[attr-defined]
        for raw in self.rfile:
            line = raw.decode("utf-8").strip()
            if not line:
                continue
            try:
                resp = self._dispatch(engine, json.loads(line))
            except EngineError as e:
                resp = {"ok": False, "error": str(e)}
            except Exception as e:  # malformed request / runtime error
                resp = {"ok": False, "error": f"{type(e).__name__}: {str(e).splitlines()[0]}"}
            self.wfile.write((json.dumps(resp) + "\n").encode("utf-8"))
            self.wfile.flush()

    def _dispatch(self, engine: Engine, req: dict) -> dict:
        kind = req.get("type", "execute")
        if kind == "execute":
            r = engine.execute(req["sql"])
            out: dict = {"ok": True, "status": r.status, "version": r.version}
            if r.dataframe is not None or r.columns is not None:
                rows, truncated = r.fetch(int(req.get("max_rows", DEFAULT_MAX_ROWS)))
                out["columns"] = r.columns
                out["rows"] = [[_jsonable(v) for v in row] for row in rows]
                out["truncated"] = truncated
            return out
        if kind == "changes":  # change data feed (extension)
            r = engine.table_changes(
                req["name"], int(req["from_version"]), req.get("to_version")
            )
            rows, truncated = r.fetch(int(req.get("max_rows", DEFAULT_MAX_ROWS)))
            return {
                "ok": True,
                "status": r.status,
                "columns": r.columns,
                "rows": [[_jsonable(v) for v in row] for row in rows],
                "truncated": truncated,
                "version": r.version,
            }
        if kind == "detach":  # portable txn state (mvcc.rs:124-127 resume)
            return {"ok": True, "status": "DETACH", "state": engine.detach()}
        if kind == "resume":
            r = engine.resume(req["state"])
            return {"ok": True, "status": r.status, "version": r.version}
        if kind == "status":  # Request::Status (server.rs:215) / REPL !status
            version = engine.catalog.current_version()
            tables = engine.list_tables()
            spark = self.server.spark  # type: ignore[attr-defined]
            return {
                "ok": True,
                "status": {
                    "server": "entangledb-spark",
                    "version": version,
                    "table_count": len(tables),
                    "tables": tables,
                    "in_transaction": engine.in_transaction,
                    "spark_app_id": spark.sparkContext.applicationId,
                    "spark_version": spark.version,
                    "parallelism": spark.sparkContext.defaultParallelism,
                },
            }
        if kind == "list_tables":  # Request::ListTables (server.rs:216)
            return {"ok": True, "tables": engine.list_tables()}
        if kind == "get_table":  # Request::GetTable (server.rs:217)
            return {"ok": True, "table": engine.get_table(req["name"])}
        raise EngineError(f"unknown request type: {kind}")


class EngineServer(socketserver.ThreadingTCPServer):
    """Threaded TCP server: one OS thread per connection (sessions are
    I/O-bound; the heavy lifting is Spark jobs, which the shared session
    schedules fairly across submitting threads)."""

    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, spark: SparkSession, base_dir: str, host: str = "127.0.0.1", port: int = 0):
        super().__init__((host, port), _Handler)
        self.spark = spark
        self.base_dir = base_dir

    @property
    def address(self) -> tuple[str, int]:
        return self.server_address  # resolved port when constructed with port=0

    def serve_in_background(self) -> threading.Thread:
        t = threading.Thread(target=self.serve_forever, daemon=True)
        t.start()
        return t


class EngineClient:
    """Blocking line-protocol client (reference src/client.rs shape)."""

    def __init__(self, host: str, port: int):
        self._sock = socket.create_connection((host, port))
        self._rfile = self._sock.makefile("rb")

    def _call(self, req: dict) -> dict:
        self._sock.sendall((json.dumps(req) + "\n").encode("utf-8"))
        line = self._rfile.readline()
        if not line:
            raise ConnectionError("server closed the connection")
        resp = json.loads(line)
        if not resp.get("ok"):
            raise EngineError(resp.get("error", "unknown server error"))
        return resp

    def execute(self, sql: str, max_rows: Optional[int] = None) -> dict:
        req: dict = {"type": "execute", "sql": sql}
        if max_rows is not None:
            req["max_rows"] = max_rows
        return self._call(req)

    def status(self) -> dict:
        """Server status snapshot (reference Request::Status, server.rs:215):
        catalog version, table count, and Spark runtime identity."""
        return self._call({"type": "status"})["status"]

    def list_tables(self) -> list[str]:
        return self._call({"type": "list_tables"})["tables"]

    def changes(
        self, name: str, from_version: int, to_version: Optional[int] = None
    ) -> dict:
        req: dict = {"type": "changes", "name": name, "from_version": from_version}
        if to_version is not None:
            req["to_version"] = to_version
        return self._call(req)

    def get_table(self, name: str) -> dict:
        return self._call({"type": "get_table", "name": name})["table"]

    def detach(self) -> dict:
        """Detach this connection's open transaction; the returned state
        can be `resume`d on any other connection to the same server."""
        return self._call({"type": "detach"})["state"]

    def resume(self, state: dict) -> dict:
        return self._call({"type": "resume", "state": state})

    def close(self) -> None:
        self._rfile.close()
        self._sock.close()


def main(argv=None) -> int:
    from entangledb_spark.session import get_spark

    ap = argparse.ArgumentParser(description="entangledb-on-spark SQL server")
    ap.add_argument("--db", default="./entangle_db", help="database directory")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=9654)
    args = ap.parse_args(argv)
    import logging

    spark = get_spark("entangledb-server")
    spark.sparkContext.setLogLevel("FATAL")
    logging.getLogger("pyspark").setLevel(logging.CRITICAL)
    server = EngineServer(spark, args.db, args.host, args.port)
    print(f"entangledb-spark server listening on {server.address[0]}:{server.address[1]}")
    server.serve_forever()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
