"""Process-tree helpers: peak resident memory of this process and every
process it started (the Spark driver JVM and its Python workers), and
a shutdown that waits for each of them to end."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from collections import defaultdict


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is 2nd field after ')'
        kids[int(stat.rsplit(")", 1)[1].split()[1])].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    """Peak resident set of one process so far (VmHWM), 0 once gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak memory of this process and every process under it: the sum
    over the processes of each one's own peak resident set (VmHWM).
    A background thread polls, so short-lived Python workers count too."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self._peaks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_mb(self) -> float:
        return sum(self._peaks.values()) / 1024.0

    def sample(self) -> None:
        me = os.getpid()
        for pid in [me, *descendants(me)]:
            self._peaks[pid] = max(self._peaks.get(pid, 0), _hwm_kb(pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, end the driver JVM and wait until every process
    started under this one has exited (SIGKILL after `timeout`)."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin pipe closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout)
        deadline = time.monotonic() + timeout
        while any(_alive(p) for p in started) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in started:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        while any(_alive(p) for p in started) and time.monotonic() < deadline + 5:
            time.sleep(0.1)
        SparkContext._gateway = None
        SparkContext._jvm = None
