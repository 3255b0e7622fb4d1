"""The benchmark's own test: two traced runs of one seed must agree exactly
on the counts a perf change is judged by.

  python3 -m pytest perfbench/test_counts.py      (from the checkout root)

Each workload runs twice with --trace 1 on seed 7. The scheduler, planner
and scan counts, and the shuffle record count, must repeat exactly; scan
input bytes must repeat exactly outside stored-artifact reads. Shuffle
bytes may differ by SHUFFLE_BYTES_TOLERANCE: MovieRank's range-partition
shuffle bytes were seen to move by about 0.05% between runs of one input.
"""
import json
import os
import subprocess

import pytest

EXACT = ["driver.jobs", "driver.stages", "driver.tasks", "plan.query_executions",
         "scan.input_records", "shuffle.write_records"]
SHUFFLE_BYTES_TOLERANCE = 0.005
# Snapshot-table manifests record their segment paths, and the program puts
# its JVM pid in those paths (graft_snaptab_<pid>_*), so the metadata bytes
# that stored-artifact reads scan move by a few bytes from run to run.
ARTIFACT_BYTES_TOLERANCE = 0.01
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = [w["name"] for w in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["workloads"]]


def traced(workload: str) -> dict:
    p = subprocess.run(["python3", "perfbench/run.py", "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", "1"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=400)
    assert p.returncode == 0
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    return {k: v["value"] for k, v in res["metrics"].items()}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_counts_repeat(workload):
    a, b = traced(workload), traced(workload)
    for k in EXACT:
        assert a[k] == b[k], f"{workload} {k}: {a[k]} then {b[k]}"
    assert a["driver.jobs"] > 0 and a["scan.input_bytes"] > 0
    # input bytes repeat exactly outside stored-artifact reads
    own = lambda m: m["scan.input_bytes"] - m["artifact.serve_input_bytes"]
    assert own(a) == own(b), f"{workload} scan.input_bytes: {own(a)} then {own(b)}"
    x, y = a["artifact.serve_input_bytes"], b["artifact.serve_input_bytes"]
    assert abs(x - y) <= ARTIFACT_BYTES_TOLERANCE * max(x, y), \
        f"{workload} artifact.serve_input_bytes: {x} then {y}"
    for k in ("shuffle.write_bytes", "shuffle.read_bytes"):
        assert abs(a[k] - b[k]) <= SHUFFLE_BYTES_TOLERANCE * max(a[k], b[k]), \
            f"{workload} {k}: {a[k]} then {b[k]}"
