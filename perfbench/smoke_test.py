#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

Usage (from the repository root):  python3 perfbench/smoke_test.py [workload ...]

Runs each workload at `--size tiny`: once untraced on clean outputs, once
traced with `--inject-fault`. Asserts that the last line is the result
object, that every metric is printed with its unit, that a clean run is
correct, and that the correctness gate flags the corrupted output.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

# a per-layer metric each workload must actually measure (not default to 0)
MUST_MEASURE = {
    "vote_stream": ["streaming.tally.batches", "streaming.dedup.kept_share",
                    "engine.leaderboard_rollup.exec_s", "spark.jobs", "sources.gen_s"],
    "analytics": ["operators.jobs_construct", "operators.construct_s", "catalyst.optimize_s",
                  "spark.tasks"],
    "dashboard": ["engine.exec_s", "engine.totalVotes.exec_s", "spark.jobs", "sources.gen_s"],
}


def bench(workload, trace, fault):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if fault:
        cmd.append("--inject-fault")
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}"
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(res) == ["attempted", "correct", "failed", "metrics"], sorted(res)
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int)
    return res


def check_metrics(res, expected, positive):
    got = res["metrics"]
    for name, unit in expected:
        assert name in got, f"metric {name} missing"
        assert got[name]["unit"] == unit, f"{name}: unit {got[name]['unit']} != {unit}"
        v = got[name]["value"]
        assert isinstance(v, float) and math.isfinite(v), f"{name}: {v!r}"
        if positive:
            assert v > 0, f"{name} reads {v}"


def check_benchmark_json():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return
    with open(path) as fh:
        b = json.load(fh)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == run.per_layer()
    assert all(w["name"] in run.WORKLOADS for w in b["workloads"])


def main():
    check_benchmark_json()
    for w in sys.argv[1:] or run.WORKLOADS:
        clean = bench(w, trace=0, fault=False)
        assert clean["correct"] and clean["failed"] == 0, f"{w}: clean run not correct: {clean}"
        check_metrics(clean, run.END_TO_END.items(), positive=True)

        faulty = bench(w, trace=1, fault=True)
        assert not faulty["correct"] and faulty["failed"] >= 1, f"{w}: injected fault not flagged"
        check_metrics(faulty, run.per_layer(), positive=False)
        for name in MUST_MEASURE[w]:
            assert faulty["metrics"][name]["value"] > 0, f"{w}: {name} not measured"
        spans = os.path.join(run.WORK_ROOT, w, "spans.jsonl")
        with open(spans) as fh:
            names = [json.loads(line)["name"] for line in fh]
        assert any(n.startswith("spark.job.") for n in names), f"{w}: no job spans"
        print(f"smoke {w}: ok ({clean['attempted']} operations)")


if __name__ == "__main__":
    main()
