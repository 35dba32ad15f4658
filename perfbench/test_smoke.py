"""Smoke tests for the benchmark itself (tiny inputs).

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts"), os.path.join(ROOT, "tools")]

from perfbench.workloads import WORKLOADS, GraphIter, KgBatch  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

# per-layer metrics each workload must measure as non-zero (no
# differences of two timings: at smoke sizes those can round to <= 0)
EXERCISED = {
    "kg_batch": ["ner.udf.total_cpu_s", "ner.sentences", "ner.udf.score_batch_s",
                 "relations.triples", "spark.tasks", "canon.self_s",
                 "lineage.write_triples_s", "lineage.rows"],
    "graph_iter": ["graph.cc_s", "graph.bgp_path.spark_jobs", "spark.tasks"],
}


def _run(workload: str, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[-2]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_metric_printed_with_unit(workload, trace):
    result, summary = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in BENCH[kind]}
    got = result["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == want
    assert all(math.isfinite(v["value"]) for v in got.values())
    nonzero = want if not trace else EXERCISED[workload]
    assert all(got[k]["value"] > 0 for k in nonzero), got
    assert summary.startswith("perfbench-summary ")
    info = json.loads(summary.split(" ", 1)[1])
    assert info["error_rate"] == 0 and info["oracle_diff_rows"] == 0


def test_corrupted_kg_output_trips_check():
    with tempfile.TemporaryDirectory() as work:
        wl = KgBatch(seed=3, work=work, smoke=True, procs=2)
        wl.prepare()
        wl.oracle()
        rows = sorted(wl.expected)
        assert rows and wl.check(None, rows) == 0
        subj, pred, obj, url, sid = rows[0]
        corrupted = rows[1:] + [(subj, pred, obj + 1, url, sid)]
        assert wl.check(None, corrupted) == 2


def test_corrupted_graph_output_trips_check():
    with tempfile.TemporaryDirectory() as work:
        wl = GraphIter(seed=3, work=work, smoke=True, procs=2)
        wl.prepare()
        wl.oracle()
        out = {k: df.copy() for k, df in wl.expected.items()}
        assert wl.check(None, out) == 0
        assert wl.check(None, {**out, "cc": out["cc"].iloc[1:]}) == 1
        # same values, other dtype: the strict gate fails it too
        assert wl.check(None, {**out, "cc": out["cc"].astype("Int64")}) > 0
