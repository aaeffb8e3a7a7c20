"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It writes only under `.perfbench_work/`
there: fixtures (generated once per scale), and a fresh working dir,
catalog dir and Spark scratch dir per run (deleted at the end). The last
line of stdout is one JSON object: `correct`, `attempted`, `failed` and
`metrics` — the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. Every metric, including the ones that apply
to one workload only, is also printed as a `metric <name> <value>
<unit>` line before it. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from statements import INGEST_ORACLE_DDL  # noqa: E402
from workloads import WORKLOADS, file_sizes  # noqa: E402

# deployment: the Spark session the engine runs on in every run
SPARK_CPUS = "4"
SPARK_DRIVER_MEM = "2g"
# fixture scales; PERFBENCH_TINY=1 shrinks both for the self-test
SMALL_SF, BIG_SF = (
    (0.001, 0.01) if os.environ.get("PERFBENCH_TINY") == "1" else (0.01, 0.1)
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of `values`."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def metric_names(trace: bool) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


class Bench:
    """What the workloads share in one run: the session, the fixture
    dirs, the tracer (set only during a traced segment) and statement
    ids."""

    def __init__(self, args, work: str, fx_small: str, fx_big: str):
        self.seed = args.seed
        self.work = work
        self.fx_small = fx_small
        self.fx_big = fx_big
        self.spark = None
        self.tracer = None
        self.counters = None
        self._stmt_ids = itertools.count(1)
        self._ids_lock = threading.Lock()
        import numpy as np
        import pyarrow.parquet as pq

        keys = pq.read_table(
            os.path.join(fx_small, "lineitem.parquet"), columns=["l_orderkey"]
        ).column(0).to_numpy()
        self.lines_per_order = np.bincount(keys)

    def next_stmt(self) -> int:
        with self._ids_lock:
            return next(self._stmt_ids)


def setup_environment(work: str) -> None:
    """Every path Spark, its Python workers and the engine write to lives
    in this run's working dir; workers can import `nutdb_spark`."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local, os.path.join(work, "cwd")):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = SPARK_CPUS
    os.environ["SPARK_DRIVER_MEM"] = SPARK_DRIVER_MEM
    os.environ["NUTDB_CATALOG_DIR"] = os.path.join(work, "catalog-default")
    # the spark-submit launcher is a JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'cwd', 'spark-warehouse')}",
        # a fixed-size heap, and no hsperfdata file under /tmp
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{SPARK_DRIVER_MEM} -XX:-UsePerfData'",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(os.path.join(work, "cwd"))


# --- metrics ------------------------------------------------------------------


def _files(paths) -> tuple[int, int]:
    """(bytes, parquet files) of the files under `paths`."""
    sizes = file_sizes(*paths)
    return sum(sizes.values()), sum(p.endswith(".parquet") for p in sizes)


def e2e_metrics(ops, wall: float, setup_s: float, rss_mb: float, wl) -> dict:
    reads = [o.lat for o in ops if o.kind == "read" and o.error is None]
    writes = [o.lat for o in ops if o.kind == "write" and o.error is None]
    m = {
        "setup_s": (setup_s, "s"),
        "read_p50_s": (pct(reads, 50), "s"),
        "read_p90_s": (pct(reads, 90), "s"),
        "throughput_ops": (len(ops) / wall, "1/s"),
        "rss_peak_mb": (rss_mb, "MB"),
        "read_samples": (len(reads), "count"),
    }
    if wl.writer is not None:
        dirs = list(wl.writer.table_dirs().values())
        stored = _files(dirs)[0] + sum(os.path.getsize(d + ".json") for d in dirs)
        m.update({
            "write_p50_s": (pct(writes, 50), "s"),
            "write_p90_s": (pct(writes, 90), "s"),
            "write_samples": (len(writes), "count"),
            "ingest_rows_per_s": (sum(o.rows_in for o in ops) / wall, "rows/s"),
            "space_amp": (stored / max(1, wl.writer.payload_bytes), "ratio"),
        })
    return m


def layer_metrics(tracer, traced, untraced_p50: float, wl) -> dict:
    reads = [o for o in traced if o.kind == "read" and o.error is None]
    writes = [o for o in traced if o.kind == "write" and o.error is None]
    per = tracer.by_statement()

    def incl(o, prefix):
        rec = per.get(o.stmt)
        if rec is None:
            return 0.0
        return sum(v for k, v in rec["incl"].items() if k.startswith(prefix))

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def med(xs):
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0

    def span_s(pred):
        return [t1 - t0 for name, t0, t1, *_ in tracer.spans if pred(name)]

    def count(o, key):
        return o.counters.get(key, 0)

    merges = span_s(lambda n: n.startswith("streaming.") and n.endswith("_merge_batch"))
    inserts = span_s(lambda n: n == "catalog.insert")
    optimizes = [o for o in writes if o.template == "optimize"]
    op_reads = [o for o in reads if incl(o, "operators.") > 0]
    rows_in = sum(o.rows_in for o in writes)
    trace_p50 = pct([o.lat for o in reads], 50)
    table_files = view_files = 0
    if wl.writer is not None:
        dirs = wl.writer.table_dirs()
        table_files, view_files = _files([dirs["ing"]])[1], _files([dirs["ing_v"]])[1]
    return {
        "frontend.parse_us": (1e6 * med(span_s(lambda n: n == "frontend.parse")), "us"),
        "frontend.parse_calls": (mean(
            per[o.stmt]["calls"].get("frontend.parse", 0) for o in traced if o.stmt in per
        ), "count"),
        "frontend.lower_ms": (1e3 * med(incl(o, "frontend.lower") for o in reads), "ms"),
        "frontend.lower_share": (med(incl(o, "frontend.lower") / o.lat for o in reads), "ratio"),
        "spark.plan_ms": (1e3 * med(incl(o, "spark.plan") for o in reads), "ms"),
        "spark.exec_ms": (1e3 * med(incl(o, "spark.exec") for o in reads), "ms"),
        "spark.jobs_per_stmt": (mean(count(o, "jobs") for o in traced), "count"),
        "spark.stages_per_stmt": (mean(count(o, "stages") for o in traced), "count"),
        "spark.tasks_per_stmt": (mean(count(o, "tasks") for o in traced), "count"),
        "spark.shuffle_bytes_per_stmt": (mean(count(o, "shuffle_bytes") for o in reads), "B"),
        "spark.gc_ms_per_stmt": (mean(count(o, "gc_ms") for o in traced), "ms"),
        "sources.rows_scanned_per_row_returned": (
            sum(count(o, "scan_rows") for o in reads)
            / max(1, sum(len(o.rows) for o in reads)), "ratio"),
        "sources.files_read_per_stmt": (mean(count(o, "scan_files") for o in reads), "count"),
        "catalog.insert_ms": (1e3 * med(inserts), "ms"),
        "catalog.insert_ms_per_row": (1e3 * sum(inserts) / max(1, rows_in), "ms"),
        "catalog.bytes_written_per_user_byte": (
            sum(count(o, "written") for o in writes)
            / max(1, sum(count(o, "payload") for o in writes)), "ratio"),
        "catalog.files_per_table": (table_files, "count"),
        "catalog.optimize_ms": (1e3 * med(o.lat for o in optimizes), "ms"),
        "catalog.optimize_bytes_rewritten": (mean(count(o, "written") for o in optimizes), "B"),
        "streaming.view_merge_ms": (1e3 * med(merges), "ms"),
        "streaming.view_state_files": (view_files, "count"),
        "operators.build_ms": (1e3 * med(incl(o, "operators.") for o in op_reads), "ms"),
        "operators.python_rows_sent": (mean(count(o, "python_rows") for o in reads), "count"),
        "operators.python_bytes_sent": (mean(count(o, "python_bytes") for o in reads), "B"),
        "trace.read_p50_s": (trace_p50, "s"),
        "trace.overhead_s": (trace_p50 - untraced_p50, "s"),
    }


# --- correctness ----------------------------------------------------------------


def check_ops(ops, fx_dir: str, replay: list | None) -> list[str]:
    """Compare every SELECT with DuckDB. `replay` is the writer's log:
    its writes are applied in order, so each read is checked against
    the state it saw (`Op.version`), and all of them before returning."""
    import fixtures
    from oracle import Oracle

    problems = []
    oracle = Oracle(fx_dir, fixtures.TABLES)
    replay = replay or []
    try:
        oracle.con.execute(INGEST_ORACLE_DDL)
        applied = 0
        for o in sorted(ops, key=lambda o: o.version):
            for write in replay[applied:o.version]:
                _apply(oracle, write)
            applied = max(applied, o.version)
            if o.error is not None:
                problems.append(f"{o.template}: {o.error}")
            elif o.oracle is not None:
                bad = oracle.check(o.oracle, o.cols, o.rows)
                if bad:
                    problems.append(f"{o.template}: {bad} [{o.text[:120]}]")
                    o.error = bad
    finally:
        oracle.close()
    return problems


def _apply(oracle, write) -> None:
    if write is None:  # OPTIMIZE: no logical change
        return
    kind, payload = write
    if kind == "values":
        oracle.con.executemany("INSERT INTO ing VALUES (?, ?, ?, ?, ?)", payload)
    else:
        oracle.con.execute(payload)


# --- main -----------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "nutdb_spark", "__init__.py")):
        print(f"error: no nutdb_spark package under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, base, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def fixture_dir(base: str, sf: float) -> str:
    """The fixtures at scale `sf`, generated in a child process so the
    generator's memory never counts toward this run's peak."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "fixtures.py"), base, str(sf)],
        check=True, stdout=subprocess.PIPE, text=True,
    )
    return out.stdout.strip().splitlines()[-1]


def _run(args, base: str, work: str) -> int:
    fx_small = fixture_dir(os.path.join(base, "fixtures"), SMALL_SF)
    fx_big = fixture_dir(os.path.join(base, "fixtures"), BIG_SF)
    setup_environment(work)
    sys.path.insert(0, ROOT)
    from procs import RssSampler, stop_spark

    bench = Bench(args, work, fx_small, fx_big)
    with RssSampler() as rss:
        t0 = time.perf_counter()
        from nutdb_spark.session import get_spark

        bench.spark = get_spark("perfbench")
        try:
            wl = WORKLOADS[args.workload](bench)
            wl.warm_up()
            setup_s = time.perf_counter() - t0
            ops, wall, traced, tracer = _measure(args, bench, wl)
            final = wl.writer.final_reads() if wl.writer is not None else []
            rss.sample()
            if tracer is not None:
                layers = layer_metrics(tracer, traced, pct(
                    [o.lat for o in ops if o.kind == "read" and o.error is None], 50
                ), wl)
        finally:
            stop_spark(bench.spark)
    m = e2e_metrics(ops, wall, setup_s, rss.peak_mb, wl)
    every = ops + traced + final
    problems = check_ops(
        every, fx_big if wl.scale == "big" else fx_small,
        wl.writer.writes if wl.writer is not None else None,
    )
    failed = sum(o.error is not None for o in every)
    m["error_rate"] = (failed / len(every), "ratio")
    if tracer is not None:
        m.update(layers)
        tracer.dump(os.path.join(base, f"trace-{args.workload}-seed{args.seed}.jsonl"))
    for p in problems[:20]:
        print(f"mismatch {p}")
    for name, (value, unit) in m.items():
        print(f"metric {name} {value:.6g} {unit}")
    keys = metric_names(trace=bool(args.trace))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(every),
        "failed": failed,
        "metrics": {k: {"value": m[k][0], "unit": m[k][1]} for k in keys},
    }))
    return 0


def _measure(args, bench, wl):
    """The timed region: (untraced ops, their wall time, traced ops,
    tracer). Untraced: one segment of `--seconds`. Traced: thirds —
    untraced, traced (spans and counters), untraced again; the traced
    read median minus that of the untraced thirds is the tracing
    overhead, with the warm-up trend on both sides of it."""
    from tracing import SparkCounters, Tracer

    def segment():
        t0 = time.perf_counter()
        ops = wl.timed(seg)
        return ops, time.perf_counter() - t0

    seg = args.seconds / 3 if args.trace else args.seconds
    ops, wall = segment()
    if not args.trace:
        return ops, wall, [], None
    tracer = Tracer()
    bench.counters = SparkCounters(bench.spark)
    tracer.install()
    bench.tracer = tracer
    try:
        traced = wl.timed(seg)
    finally:
        bench.tracer = None
        tracer.uninstall()
    more, more_wall = segment()
    return ops + more, wall + more_wall, traced, tracer


if __name__ == "__main__":
    sys.exit(main())
