"""The benchmark's own tests. ``test_smoke_reports_every_metric`` runs
``run.py --smoke`` (every workload once at tiny scale, untraced and traced) and
checks that every metric BENCHMARK.json names appears with its unit.

Run: ``python3 -m pytest perfbench -q`` from the repository root.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE]

import run  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = ("warm_scan", "evict_churn", "query_suite")


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_command():
    bench = _benchmark()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_names()
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def test_tail_is_the_eleventh_largest():
    assert run.tail([float(i) for i in range(1, 31)]) == (20.0, 100.0 * 20 / 30)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    s = tr.summary()
    outer_d, inner_d = outer[2] - outer[1], inner[2] - inner[1]
    assert s["inner"]["self_s"] == pytest.approx(inner_d)
    assert s["outer"]["self_s"] == pytest.approx(outer_d - inner_d)
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_smoke_reports_every_metric():
    proc = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--smoke"],
                          cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    bench = _benchmark()
    for w in WORKLOADS:
        for m in bench["end_to_end"] + bench["per_layer"]:
            got = result["metrics"][f"{w}.{m['name']}"]
            assert got["unit"] == m["unit"], (w, m)
            assert isinstance(got["value"], (int, float)), (w, m)
        lines = proc.stdout.splitlines()
        for name, (unit, applies) in run.WORKLOAD_EXTRAS.items():
            if w in applies:
                line = next(x for x in lines if x.startswith(f"{w} {name} = "))
                assert line.endswith(f" {unit}"), line


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the command exits
    non-zero without printing a result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "results", "__pycache__"))
    proc = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                           "--workload", "warm_scan", "--seed", "1", "--seconds", "1",
                           "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
                          timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
