"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench -q        # about four minutes on 4 cores

The smoke tests run the real command with ``--seconds 2``: one timed lake
pass and a two-second backlog, each twice.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

import pytest

from perfbench import ingest, lake, probes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)

# Counters taken from Spark's status store, its streaming progress, the sink's
# commit log and py4j: each must repeat exactly for the same seed. (Shuffle
# bytes do not: rows reach a compressed shuffle block in fetch order.)
EXACT = re.compile(
    r"^(py4j_calls|eager_jobs|execute\.(jobs|stages|tasks|shuffle_write_records|input_bytes)"
    r"|query\..*\.py4j_calls|sources\.input_rows|streaming\.batches|state\.(rows_total"
    r"|rows_dropped_by_watermark|duplicates_dropped)|pipelines\.\w+_dropped"
    r"|sink\.files_written)$"
)


@pytest.fixture
def work_dir():
    """A temporary directory inside the repository, like everything a run writes."""
    path = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def bench(workload: str, seed: int, seconds: float, trace: int, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_schema(res: dict, kind: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    listed = {m["name"]: m["unit"] for m in BENCH[kind]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == listed
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], (int, float)), name


def test_benchmark_json_contract():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert BENCH["paths"] == ["perfbench"] and 1 <= BENCH["run_seconds"] <= 60
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    names = [w["name"] for w in BENCH["workloads"]]
    names += [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names)) and all(name.match(n) for n in names)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in BENCH["workloads"])
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert len(BENCH["per_layer"]) <= 128
    assert len(json.dumps(BENCH)) < 64 * 1024


def test_digest_ignores_row_and_column_order():
    a = lake.digest(["b", "A"], [(1.0000001, "x"), (2.5, "y")])
    b = lake.digest(["A", "b"], [("y", 2.5), ("x", 1.0)])
    assert a == b and a["rows"] == 2
    assert lake.digest(["a"], [(1,)]) != lake.digest(["a"], [(2,)])


def test_plan_is_seeded_and_its_counts_are_fixed():
    p1 = ingest.make_plan(7, 6, 20, 2, late_from_file=3)
    assert p1.files == ingest.make_plan(7, 6, 20, 2, late_from_file=3).files
    p2 = ingest.make_plan(8, 6, 20, 2, late_from_file=3)
    assert p1.files != p2.files
    assert (p1.counts, p1.envelopes, p1.expected_rows) == (p2.counts, p2.envelopes, p2.expected_rows)
    assert p1.expected_rows == 20 * 6 * 2


def test_quantile_matches_inclusive_definition():
    assert probes.quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == 3.0
    assert probes.quantile([5.0], 0.9) == 5.0


def test_refuses_to_run_without_the_package(work_dir):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), work_dir)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(work_dir, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__", ".*"))
    t0 = time.monotonic()
    proc = bench("ingest_backlog", 1, 1, 0, cwd=work_dir)
    assert proc.returncode != 0 and proc.stdout.strip() == ""
    assert time.monotonic() - t0 < 60


@pytest.mark.parametrize("workload", ["lake_analytics", "ingest_backlog"])
def test_traced_counters_repeat_exactly(workload):
    first, second = (result(bench(workload, 5, 2, 1)) for _ in range(2))
    _assert_schema(first, "per_layer")
    exact = {k for k in first["metrics"] if EXACT.match(k)}
    assert {k for k in exact if first["metrics"][k]["value"]}, "no non-zero exact counter"
    for k in sorted(exact):
        assert first["metrics"][k]["value"] == second["metrics"][k]["value"], k


@pytest.mark.parametrize("workload", ["lake_analytics", "ingest_backlog"])
def test_untraced_smoke_reports_every_end_to_end_metric(workload):
    res = result(bench(workload, 2, 2, 0))
    _assert_schema(res, "end_to_end")
    assert all(v["value"] > 0 for v in res["metrics"].values())
