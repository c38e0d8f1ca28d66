"""Seeded inputs for the SQL-session workloads.

Everything here is a pure function of ``(workload, seed, seconds)``: the
tables, the warm-up statements and the measured statements.  The engine only
ever sees the generated SQL text.

Two tables shaped like the TPC-H-ish fixture's ``orders`` and ``customer`` at
sf0.01 (15,000 and 1,500 rows) are written as parquet, attached to the engine
and copied into primary-keyed tables with CREATE TABLE AS.  The same parquet
files seed the DuckDB mirror that checks every read.

A workload is a fixed block of statements (a *cycle*) repeated with fresh
literals.  Each statement is an ``Op``; statements of one explicit
transaction share a ``txn`` number so the runner can time the whole
transaction as well.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Optional

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMERS = 1_500
N_ORDERS = 15_000
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
FIRST_DAY = np.datetime64("1992-01-01")
N_DAYS = 2_400

# Statement classes; the run context reports each class's latencies.
READ_CLASSES = ("point", "range", "join", "topn")
WRITE_CLASSES = ("insert", "update_key", "update_range", "delete")

# Per workload: warm-up cycles run before the measured window, and seconds
# one cycle of the window takes on a 4-core x86 VM.  The window is as many
# cycles as fit in --seconds, and at least one.  Throughput still creeps up
# for ~150 statements; the warm-up is the shortest after which runs agree
# with each other to a few percent, as a longer one does not fit the
# run-time budget.  Both warm-ups leave the ``orders`` delta chain at 5
# deltas: a one-cycle window of sql_read reads at chain lengths 5-7, and
# one of sql_write holds exactly one COMPACT_AFTER=8 compaction.
WARMUP_CYCLES = {"sql_read": 2, "sql_write": 1}
CYCLE_SECONDS = {"sql_read": 10.0, "sql_write": 11.0}


@dataclass(frozen=True)
class Op:
    kind: str  # a read or write class, or begin / commit / rollback
    sql: str
    txn: Optional[int] = None  # explicit-transaction number, if inside one

    @property
    def is_read(self) -> bool:
        return self.kind in READ_CLASSES

    @property
    def is_write(self) -> bool:
        return self.kind in WRITE_CLASSES


def write_tables(out_dir: str, seed: int) -> dict[str, str]:
    """Write the seeded ``orders`` and ``customer`` parquet files."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    custkeys = np.arange(1, N_CUSTOMERS + 1, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": custkeys,
            "c_name": [f"Customer#{k:09d}" for k in custkeys],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int64),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMERS)],
        }
    )
    days = FIRST_DAY + rng.integers(0, N_DAYS, N_ORDERS).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": np.arange(1, N_ORDERS + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, N_CUSTOMERS + 1, N_ORDERS).astype(np.int64),
            "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, N_ORDERS), 2),
            "o_orderdate": np.datetime_as_string(days, unit="D"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
        }
    )
    paths = {}
    for name, table in (("customer", customer), ("orders", orders)):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


class _Gen:
    """Statement generator.  It tracks which order keys are live so every
    UPDATE and DELETE hits existing rows and the table size stays fixed."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.live = list(range(1, N_ORDERS + 1))
        self.next_key = N_ORDERS + 1
        self.next_txn = 0

    # -- literals
    def order_key(self) -> int:
        return self.rng.choice(self.live)

    def cust_key(self) -> int:
        return self.rng.randint(1, N_CUSTOMERS)

    def day(self) -> str:
        d = FIRST_DAY + np.timedelta64(self.rng.randrange(N_DAYS), "D")
        return str(d)

    def new_row(self) -> str:
        k = self.next_key
        self.next_key += 1
        self.live.append(k)
        price = self.rng.randrange(90_000, 50_000_000) / 100
        return (
            f"({k}, {self.cust_key()}, '{self.rng.choice(STATUSES)}', {price:.2f}, "
            f"'{self.day()}', '{self.rng.choice(PRIORITIES)}')"
        )

    def take_keys(self, n: int) -> list[int]:
        """Remove ``n`` random live keys (for DELETE)."""
        out = []
        for _ in range(n):
            out.append(self.live.pop(self.rng.randrange(len(self.live))))
        return out

    # -- statements
    def point(self) -> Op:
        return Op("point", f"SELECT * FROM orders WHERE o_orderkey = {self.order_key()}")

    def range_scan(self) -> Op:
        lo = self.rng.randint(1, N_ORDERS - 60)
        return Op(
            "range",
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            f"WHERE o_orderkey BETWEEN {lo} AND {lo + 50} ORDER BY o_orderkey",
        )

    def join(self) -> Op:
        return Op(
            "join",
            "SELECT c.c_mktsegment, COUNT(*) AS cnt, SUM(o.o_totalprice) AS total "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            f"WHERE o.o_orderdate >= '{self.day()}' "
            "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment",
        )

    def topn(self) -> Op:
        return Op(
            "topn",
            "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders "
            f"WHERE o_orderstatus = '{self.rng.choice(STATUSES)}' "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
        )

    def insert(self, n: int, txn=None) -> Op:
        rows = ", ".join(self.new_row() for _ in range(n))
        return Op("insert", f"INSERT INTO orders VALUES {rows}", txn)

    def delete(self, n: int, txn=None) -> Op:
        keys = ", ".join(str(k) for k in self.take_keys(n))
        return Op("delete", f"DELETE FROM orders WHERE o_orderkey IN ({keys})", txn)

    def update_key(self, txn=None) -> Op:
        bump = self.rng.randrange(1, 1000) / 4
        return Op(
            "update_key",
            f"UPDATE orders SET o_totalprice = o_totalprice + {bump}, "
            f"o_orderstatus = '{self.rng.choice(STATUSES)}' "
            f"WHERE o_orderkey = {self.order_key()}",
            txn,
        )

    def update_customer(self, txn=None) -> Op:
        bump = self.rng.randrange(1, 1000) / 4
        return Op(
            "update_key",
            f"UPDATE customer SET c_acctbal = c_acctbal + {bump} "
            f"WHERE c_custkey = {self.cust_key()}",
            txn,
        )

    def update_range(self, txn=None) -> Op:
        lo = self.rng.randint(1, N_ORDERS - 30)
        return Op(
            "update_range",
            f"UPDATE orders SET o_orderpriority = '{self.rng.choice(PRIORITIES)}' "
            f"WHERE o_orderkey BETWEEN {lo} AND {lo + 20}",
            txn,
        )

    def txn(self, body, end: str = "commit") -> list[Op]:
        t = self.next_txn
        self.next_txn += 1
        ops = [Op("begin", "BEGIN", t)]
        ops += [make(t) for make in body]
        ops.append(Op(end, end.upper(), t))
        return ops

    # -- cycles
    def read_cycle(self) -> list[Op]:
        """Seven reads, a one-row INSERT transaction and a one-row DELETE
        transaction: 78% of the data statements are reads and the table size
        is unchanged."""
        reads = [self.point() for _ in range(4)]
        reads += [self.range_scan(), self.join(), self.topn()]
        self.rng.shuffle(reads)
        ins = self.txn([lambda t: self.insert(1, t)])
        dele = self.txn([lambda t: self.delete(1, t)])
        return reads[:2] + ins + reads[2:5] + dele + reads[5:]

    def write_cycle(self) -> list[Op]:
        """An autocommit INSERT batch, two committed transactions, one
        rolled-back transaction and a point read after each.  Four writes to
        ``orders`` are committed, so two cycles make one COMPACT_AFTER=8
        cycle of its delta chain.  Inserts and deletes are balanced, so the
        table size is unchanged."""
        ops = [self.insert(2), self.point()]
        ops += self.txn([lambda t: self.update_key(t), lambda t: self.delete(2, t)])
        ops.append(self.point())
        ops += self.txn([lambda t: self.update_customer(t), lambda t: self.update_range(t)])
        ops.append(self.point())
        ops += self.txn([lambda t: self.update_range(t)], end="rollback")
        ops.append(self.point())
        return ops


def sequences(workload: str, seed: int, seconds: int) -> tuple[list[list[Op]], list[list[Op]]]:
    """(warm-up cycles, measured cycles) for ``workload``, each cycle a list
    of ops; a pure function of the arguments."""
    gen = _Gen(seed)
    cycle = {"sql_read": gen.read_cycle, "sql_write": gen.write_cycle}[workload]
    n_measured = max(1, int(seconds // CYCLE_SECONDS[workload]))
    warm = [cycle() for _ in range(WARMUP_CYCLES[workload])]
    measured = [cycle() for _ in range(n_measured)]
    return warm, measured
