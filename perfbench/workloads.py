"""The benchmark's workloads and the client that drives the engine.

A client drives the engine only the way a user does: dialect SQL text
goes into `NutEngine.sql()` and every result row comes back through
`collect()`. Each statement becomes one `Op` record; correctness is
checked against DuckDB after the timed region.
"""

from __future__ import annotations

import os
import random
import threading
import time
from dataclasses import dataclass, field

import statements as S

READERS = 3  # plus one ingest writer: 4 clients, one per CPU


@dataclass
class Op:
    kind: str  # "read" | "write"
    template: str
    text: str
    oracle: str | None = None
    lat: float = 0.0
    cols: list | None = None
    rows: list | None = None
    error: str | None = None
    traced: bool = False
    version: int = 0  # ingest: writes applied before this op
    stmt: int = 0
    rows_in: int = 0  # rows this write inserts
    counters: dict = field(default_factory=dict)


class Client:
    """Runs statements on one engine. In a traced segment each statement
    gets a job group, spans for planning and execution, and counters
    read after it finishes (outside its latency)."""

    def __init__(self, engine, bench):
        self.engine = engine
        self.bench = bench

    def run(self, op: Op) -> Op:
        tracer = self.bench.tracer
        op.stmt = self.bench.next_stmt()
        op.traced = tracer is not None
        if op.traced:
            group = f"bench-stmt-{op.stmt}"
            gc0 = self.bench.counters.begin(group)
            tracer.set_statement(op.stmt)
        t0 = time.perf_counter()
        try:
            if op.traced:
                res = tracer.span("client.stmt", self._execute, op.text, True)
            else:
                res = self._execute(op.text, False)
        except Exception as ex:  # noqa: BLE001 - a failed statement is a counted outcome
            op.error = f"{type(ex).__name__}: {str(ex)[:300]}"
            res = None
        op.lat = time.perf_counter() - t0
        if res is not None:
            op.cols, op.rows, jdf = res
        else:
            jdf = None
        if op.traced:
            tracer.set_statement(None)
            c = self.bench.counters
            op.counters["jobs"], op.counters["stages"], op.counters["tasks"] = c.jobs(group)
            op.counters["gc_ms"] = c.gc_ms() - gc0
            if jdf is not None:
                op.counters.update(c.plan_metrics(jdf))
        return op

    def _execute(self, text: str, traced: bool):
        df = self.engine.sql(text)
        if df is None:
            return None
        if traced:
            tr = self.bench.tracer
            tr.span("spark.plan", df._jdf.queryExecution().executedPlan)
            rows = tr.span("spark.exec", df.collect)
        else:
            rows = df.collect()
        return df.columns, [tuple(r) for r in rows], df._jdf


def file_sizes(*paths: str) -> dict[str, int]:
    """{file path: bytes} of every file under `paths`."""
    out = {}
    for path in paths:
        for d, _, names in os.walk(path):
            for n in names:
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def _engine(bench, data_dir: str, tag: str):
    from nutdb_spark import connect

    cat = os.path.join(bench.work, f"catalog-{tag}")
    return connect(spark=bench.spark, data_dir=data_dir, catalog_dir=cat)


def _in_threads(fn, n: int) -> None:
    """Run fn(0) … fn(n-1) on n threads; re-raise the first failure."""
    errors: list[BaseException] = []

    def guarded(i: int) -> None:
        try:
            fn(i)
        except BaseException as ex:  # noqa: BLE001 - re-raised below
            errors.append(ex)

    threads = [threading.Thread(target=guarded, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


# --- serve ------------------------------------------------------------------


class Serve:
    """Closed loop, 4 clients on one shared session, each with its own
    engine, on sf0.01: 3 readers run short seeded dashboard SELECTs while
    1 writer runs ingest iterations against a catalog table and its
    Summing view. The timed region ends when the writer finishes the
    iteration under way at the deadline; the readers run until then."""

    scale = "small"

    def __init__(self, bench):
        self.bench = bench
        self.readers = [
            Client(_engine(bench, bench.fx_small, f"reader{i}"), bench)
            for i in range(READERS)
        ]
        self.streams = [
            S.dashboard_stream(random.Random(bench.seed * 1000 + i))
            for i in range(READERS)
        ]
        self.writer = IngestWriter(bench)

    def warm_up(self) -> None:
        """The serve loop itself, untimed: the writer creates its table
        and view and runs one iteration with OPTIMIZE and INSERT … SELECT
        while each reader runs every template at least once and keeps
        going until the writer is done."""
        done = threading.Event()

        def warm(i: int) -> None:
            if i == READERS:
                try:
                    self.writer.warm_up()
                finally:
                    done.set()
                return
            stream = S.dashboard_stream(random.Random(-1 - self.bench.seed * 1000 - i))
            n = 0
            while n < len(S.DASHBOARD) or not done.is_set():
                name, text, _ = next(stream)
                self.readers[i].run(Op("read", name, text))
                n += 1

        _in_threads(warm, READERS + 1)

    def timed(self, seconds: float) -> list[Op]:
        ops: list[list[Op]] = [[] for _ in range(READERS + 1)]
        start = threading.Barrier(READERS + 1)
        done = threading.Event()

        def loop(i: int) -> None:
            start.wait()
            if i == READERS:
                try:
                    ops[i] = self.writer.run_for(seconds)
                finally:
                    done.set()
                return
            while not done.is_set():
                name, text, oracle = next(self.streams[i])
                ops[i].append(self.readers[i].run(Op("read", name, text, oracle)))

        _in_threads(loop, READERS + 1)
        return [op for client_ops in ops for op in client_ops]


class IngestWriter:
    """The serve workload's writer: each iteration a seeded 50-row
    INSERT … VALUES, then a point read on the Summing view and an
    aggregate read on the table; some iterations also OPTIMIZE TABLE
    and an INSERT … SELECT from `lineitem`. Writes are logged for the
    DuckDB replay."""

    EVERY = 3

    def __init__(self, bench):
        self.bench = bench
        self.client = Client(_engine(bench, bench.fx_small, "ingest"), bench)
        self.rng = random.Random(bench.seed)
        self.next_id = 1
        # replay log for the DuckDB side: ("values", rows) | ("sql", text)
        # | None (OPTIMIZE); a read's `version` indexes into it
        self.writes: list = []
        self.payload_bytes = 0  # user bytes inserted, set-up included
        self.catalog_root = self.client.engine.catalog.root

    def table_dirs(self) -> dict[str, str]:
        return {n: os.path.join(self.catalog_root, n) for n in ("ing", "ing_v")}

    def _write(self, op: Op, replay, rows: int, nbytes: int) -> Op:
        traced = self.bench.tracer is not None
        if traced:
            before = file_sizes(*self.table_dirs().values())
        self.client.run(op)
        if op.error is None:
            self.writes.append(replay)
            op.rows_in = rows
            self.payload_bytes += nbytes
        if traced:
            after = file_sizes(*self.table_dirs().values())
            op.counters["written"] = sum(
                sz for p, sz in after.items() if before.get(p) != sz
            )
            op.counters["payload"] = nbytes
        return op

    def _read(self, name: str, pair) -> Op:
        return self.client.run(
            Op("read", name, pair[0], pair[1], version=len(self.writes))
        )

    def iterate(self, periodic: bool) -> list[Op]:
        batch = S.ingest_batch(self.rng, self.next_id)
        self.next_id += len(batch)
        ops = [
            self._write(
                Op("write", "insert_values", S.insert_values_sql(batch)),
                ("values", batch), len(batch),
                sum(S.row_payload_bytes(r) for r in batch),
            ),
            self._read("view_point", S.ingest_point_read(self.rng.randrange(S.INGEST_KEYS))),
            self._read("table_agg", S.INGEST_AGG_READ),
        ]
        if periodic:
            ops.append(self._write(Op("write", "optimize", "OPTIMIZE TABLE ing"), None, 0, 0))
            first = self.rng.randrange(len(self.bench.lines_per_order) - 10)
            text, duck = S.insert_select_sql(first)
            n = int(self.bench.lines_per_order[first:first + 10].sum())
            ops.append(self._write(
                Op("write", "insert_select", text), ("sql", duck), n,
                n * S.row_payload_bytes((0, 0, "none", 0, 0.0)),
            ))
        return ops

    def warm_up(self) -> None:
        for text in S.INGEST_DDL:
            op = self.client.run(Op("write", "ddl", text))
            if op.error:
                raise RuntimeError(f"ingest DDL failed: {op.error}")
        self.iterate(periodic=True)

    def run_for(self, seconds: float) -> list[Op]:
        """Whole iterations until `seconds` have passed; the first, and
        every third after it, with OPTIMIZE and INSERT … SELECT."""
        ops: list[Op] = []
        t0 = time.perf_counter()
        k = 0
        while not ops or time.perf_counter() - t0 < seconds:
            ops.extend(self.iterate(k % self.EVERY == 0))
            k += 1
        return ops

    def final_reads(self) -> list[Op]:
        """The whole table and view, read once after the timed region."""
        return [
            self.client.run(Op("read", "final_state", text, duck, version=len(self.writes)))
            for text, duck in S.INGEST_FINAL_CHECKS
        ]


# --- olap -------------------------------------------------------------------


class Olap:
    """Closed loop, 1 client; the heavy statements on sf0.1 in a seeded
    order, whole passes only so every run measures the same set."""

    scale = "big"
    writer = None

    def __init__(self, bench):
        self.bench = bench
        self.client = Client(_engine(bench, bench.fx_big, "olap"), bench)
        self.rng = random.Random(bench.seed)

    def warm_up(self) -> None:
        for name, text, _ in S.OLAP:
            self.client.run(Op("read", name, text))

    def timed(self, seconds: float) -> list[Op]:
        ops: list[Op] = []
        t0 = time.perf_counter()
        while not ops or time.perf_counter() - t0 < seconds:
            order = list(S.OLAP)
            self.rng.shuffle(order)
            for name, text, oracle in order:
                ops.append(self.client.run(Op("read", name, text, oracle)))
        return ops


WORKLOADS = {"serve": Serve, "olap": Olap}
