"""Self-test of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs every workload once at a tiny size (PERFBENCH_TINY=1: sf0.001 and
sf0.01 fixtures, a sub-second timed region) with tracing on, and checks
that every metric BENCHMARK.json names is printed with its unit, and
that the DuckDB oracle flags a corrupted result.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, Op  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _bench(workload: str, trace: int) -> tuple[dict, dict[str, str]]:
    env = dict(os.environ, PERFBENCH_TINY="1")
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0.5", "--trace", str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    printed = {}
    for line in lines[:-1]:
        if line.startswith("metric "):
            _, name, _value, unit = line.split()
            printed[name] = unit
    return json.loads(lines[-1]), printed


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_prints_every_metric(workload):
    spec = _spec()
    result, printed = _bench(workload, trace=1)
    assert result["correct"], result
    assert result["attempted"] >= 1 and result["failed"] == 0
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert printed.get(m["name"]) == m["unit"], m["name"]
    assert set(result["metrics"]) == {m["name"] for m in spec["per_layer"]}
    for m in spec["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]


def test_untraced_json_holds_the_end_to_end_metrics():
    spec = _spec()
    result, _ = _bench("serve", trace=0)
    assert set(result["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    for m in spec["end_to_end"]:
        value = result["metrics"][m["name"]]
        assert value["unit"] == m["unit"] and value["value"] > 0, m["name"]


def test_oracle_flags_a_corrupted_result(tmp_path):
    fx = fixtures.ensure(str(tmp_path), 0.001)
    sql = "SELECT r_regionkey, r_name FROM region"
    from oracle import Oracle

    ora = Oracle(fx, fixtures.TABLES)
    cols, rows = ora.query(sql)
    ora.close()
    good = Op("read", "region", sql, sql, cols=cols, rows=list(rows))
    bad_rows = list(rows)
    bad_rows[2] = (bad_rows[2][0], bad_rows[2][1] + "!")
    bad = Op("read", "region", sql, sql, cols=cols, rows=bad_rows)
    short = Op("read", "region", sql, sql, cols=cols, rows=list(rows)[1:])
    problems = run.check_ops([good, bad, short], fx, replay=None)
    assert good.error is None
    assert bad.error and "sorted row" in bad.error
    assert short.error and "rows" in short.error
    assert len(problems) == 2


def test_fixtures_are_a_function_of_the_scale(tmp_path):
    a = fixtures.ensure(str(tmp_path / "a"), 0.001)
    b = fixtures.ensure(str(tmp_path / "b"), 0.001)
    for t in fixtures.TABLES:
        with open(os.path.join(a, f"{t}.parquet"), "rb") as fa, open(
            os.path.join(b, f"{t}.parquet"), "rb"
        ) as fb:
            assert fa.read() == fb.read(), t
