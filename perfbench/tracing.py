"""Span recorder and per-statement counters for the traced run.

`Tracer.install()` wraps the engine's public layer entry points from
outside the program (no program file is touched): each call records a
span (name, start, end, parent, statement id). Spans stay in memory and
are written as JSONL by `dump()`, each with its self time: its duration
minus the part of it covered by its children. The untraced run never
calls `install()`, so it wraps nothing.

`SparkCounters` reads per-statement Spark facts after a statement
finishes, outside its timed region: jobs, stages and tasks of the
statement's job group, executed-plan SQL metrics (scan rows and files,
shuffle bytes, Python rows and bytes) and JVM GC time.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from collections import defaultdict

# (span name, module, attribute path); a dotted attribute is a method
TARGETS = [
    ("frontend.parse", "nutdb_spark.frontend.parser", "parse"),
    ("frontend.lower", "nutdb_spark.frontend.lower", "Lowerer.lower_query"),
    ("engine.sql", "nutdb_spark.engine", "NutEngine.sql"),
    ("catalog.insert", "nutdb_spark.catalog", "Catalog.insert"),
    ("catalog.optimize", "nutdb_spark.catalog", "Catalog.optimize"),
    ("catalog.create_view", "nutdb_spark.catalog", "Catalog.create_view"),
    ("catalog.read_table", "nutdb_spark.catalog", "Catalog.read_table"),
    ("catalog.read_view", "nutdb_spark.catalog", "Catalog.read_view"),
] + [
    (f"streaming.{fn}", "nutdb_spark.streaming.summing", fn)
    for fn in ("summing_merge_batch", "replacing_merge_batch", "aggregating_merge_batch")
] + [
    # the builders the dialect's table functions call
    (f"operators.{fn}", f"nutdb_spark.operators.{mod}", fn)
    for mod, fn in (
        ("dedup", "jaccard_pairs"),
        ("dedup", "dedup_repeated_ngrams"),
        ("similarity", "topk_bruteforce"),
        ("text", "gopher_struct"),
        ("text", "sentiment_scores"),
        ("sketch", "hll_registers"),
        ("sketch", "hll_estimate"),
        ("graph", "pagerank"),
        ("graph", "triangle_count"),
        ("sampling", "with_split"),
        ("sampling", "dsir_scores"),
        ("trajectory", "dtw_topk"),
        ("mixing", "dro_mixture"),
        ("langid_clf", "langid_scores"),
        ("bpe", "bpe_train"),
    )
]


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []  # (name, start, end, parent, stmt, id)
        self._local = threading.local()
        self._ids = iter(range(1, 1 << 62))
        self._restore: list[tuple] = []

    # --- recording ----------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_statement(self, stmt_id) -> None:
        self._local.stmt = stmt_id

    def span(self, name: str, fn, *args, **kwargs):
        """Run fn(*args, **kwargs) inside a span named `name`."""
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append(
                (name, t0, t1, parent, getattr(self._local, "stmt", None), sid)
            )

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(name, fn, *args, **kwargs)

        return traced

    # --- installing ---------------------------------------------------

    def install(self) -> None:
        """Wrap every target that exists. A module-level function is
        also replaced wherever a `nutdb_spark` module bound it by name
        at import (`from … import parse`)."""
        for name, modname, attr in TARGETS:
            try:
                mod = importlib.import_module(modname)
            except ImportError:
                continue
            owner, _, leaf = attr.rpartition(".")
            holder = getattr(mod, owner) if owner else mod
            orig = getattr(holder, leaf, None)
            if orig is None:
                continue
            wrapped = self._wrap(name, orig)
            holders = [holder]
            if not owner:
                holders += [
                    m for k, m in list(sys.modules.items())
                    if k.startswith("nutdb_spark") and m is not mod
                    and getattr(m, leaf, None) is orig
                ]
            for h in holders:
                setattr(h, leaf, wrapped)
                self._restore.append((h, leaf, orig))

    def uninstall(self) -> None:
        for h, leaf, orig in reversed(self._restore):
            setattr(h, leaf, orig)
        self._restore.clear()

    # --- reading ------------------------------------------------------

    def dump(self, path: str) -> None:
        """One JSON object per span, with its self time."""
        children = defaultdict(list)
        for s in self.spans:
            if s[3] is not None:
                children[s[3]].append((s[1], s[2]))
        with open(path, "w") as f:
            for name, t0, t1, parent, stmt, sid in self.spans:
                f.write(json.dumps({
                    "id": sid, "name": name, "start": t0, "end": t1,
                    "parent": parent, "stmt": stmt,
                    "self": (t1 - t0) - _covered(children[sid]),
                }) + "\n")

    def by_statement(self) -> dict:
        """{stmt: {"incl": {name: s}, "calls": {name: n}}}; inclusive
        time counts only the outermost span of a name, so a recursive
        call (a subquery's lowering) is not counted twice."""
        spans = [s for s in self.spans if s[4] is not None]
        names = {s[5]: s[0] for s in spans}
        parents = {s[5]: s[3] for s in spans}
        out: dict = defaultdict(
            lambda: {"incl": defaultdict(float), "calls": defaultdict(int)}
        )
        for name, t0, t1, parent, stmt, _ in spans:
            rec = out[stmt]
            rec["calls"][name] += 1
            p = parent
            while p is not None and names.get(p) != name:
                p = parents.get(p)
            if p is None:
                rec["incl"][name] += t1 - t0
        return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SparkCounters:
    """Per-statement Spark facts, read through py4j after the statement."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self._gc_beans)

    def begin(self, group: str) -> int:
        self.sc.setJobGroup(group, group)
        return self.gc_ms()

    def jobs(self, group: str) -> tuple[int, int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
        return len(jobs), stages, tasks

    @staticmethod
    def plan_metrics(jdf) -> dict[str, int]:
        """Sum SQL metrics of the executed plan, walking into adaptive
        query stages and subqueries; reused exchanges are not counted
        twice."""
        out = defaultdict(int)
        stack = [jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            if cls.startswith("Reused"):
                continue
            metrics = _metric_values(node)
            if cls.startswith(("FileSourceScan", "BatchScan")):
                out["scan_rows"] += metrics.get("numOutputRows", 0)
                out["scan_files"] += metrics.get("numFiles", 0)
            if "Exchange" in cls:
                out["shuffle_bytes"] += metrics.get("shuffleBytesWritten", 0)
            if "pythonDataSent" in metrics:
                out["python_bytes"] += metrics["pythonDataSent"]
                kids = node.children()
                for i in range(kids.size()):
                    out["python_rows"] += _rows_out(kids.apply(i))
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
            subs = node.subqueries()
            stack.extend(subs.apply(i) for i in range(subs.size()))
        return out


def _rows_out(node) -> int:
    """Rows a plan node emits: its own numOutputRows, or that of the
    first descendant that counts them (codegen stages and projections
    do not)."""
    while True:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            node = node.executedPlan()
            continue
        if cls.endswith("QueryStageExec"):
            node = node.plan()
            continue
        rows = _metric_values(node).get("numOutputRows")
        kids = node.children()
        if rows is not None or kids.size() == 0:
            return rows or 0
        node = kids.apply(0)


def _metric_values(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out
