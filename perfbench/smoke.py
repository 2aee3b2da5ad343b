"""Self-test: every workload at tiny sizes, untraced and traced, each in
its own process.  Asserts that every run passes its output checks, that
every metric name of ``BENCHMARK.json`` is emitted with its unit, and
that each workload loads the layers it exists for and bypasses the rest.

    python3 perfbench/run.py --smoke
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from run import END_TO_END, ROOT
from tracing import per_layer_metrics
from workloads import WORKLOADS

#: per-layer metrics that must be non-zero (loaded) / zero (bypassed)
LOADS = {
    "converter_chain": ["sources.touch_binary.scan_jobs", "sinks.parquet_sink.stamp_s",
                        "operators.indexing.jobs", "operators.indexing.ranges_t2s",
                        "operators.indexing.collect_rows",
                        "sinks.hdf5_minimal.skeleton_s"],
    "corpus_dedup": ["functions.dedup.candidate_pairs", "operators.graph.jobs"],
}
BYPASSES = {
    "converter_chain": ["functions.dedup.jobs", "operators.graph.jobs"],
    "corpus_dedup": ["sources.touch_binary.scan_jobs", "operators.indexing.jobs",
                     "sinks.sonata.jobs"],
}


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0.1", "--trace", str(trace), "--profile", "smoke"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=300)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit code {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def smoke() -> int:
    declared = {}
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(bench):
        with open(bench) as f:
            spec = json.load(f)
        declared = {
            0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]},
        }
        assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS), "workload list differs"
    expected = {0: END_TO_END, 1: per_layer_metrics()}
    for name in WORKLOADS:
        for trace in (0, 1):
            res = _run(name, trace)
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            units = {k: v["unit"] for k, v in res["metrics"].items()}
            assert units == expected[trace], f"{name}: metric names/units differ"
            if declared:
                assert units == declared[trace], f"{name}: metrics differ from BENCHMARK.json"
            values = {k: v["value"] for k, v in res["metrics"].items()}
            if trace:
                for m in LOADS[name]:
                    assert values[m] > 0, f"{name}: {m} = 0, layer not loaded"
                for m in BYPASSES[name]:
                    assert values[m] == 0, f"{name}: {m} = {values[m]}, layer not bypassed"
            else:
                assert all(v > 0 for v in values.values()), f"{name}: zero metric {values}"
            print(f"smoke {name} trace={trace}: ok", file=sys.stderr)
    print("smoke: ok")
    return 0
