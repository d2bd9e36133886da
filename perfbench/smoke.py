#!/usr/bin/env python3
"""Smoke test of the benchmark harness on the smallest tables (sf0.001).

    python3 perfbench/smoke.py

Runs each workload untraced and traced for one pass and checks that the
result line carries every metric BENCHMARK.json names, each with its unit,
and that every per-layer metric has an entry in layers.json. The traced
operator_mix run is checked against expectations with one digest
deliberately wrong: it must report the run as incorrect with a failure
share above 0, which proves the correctness check can fail. Exits non-zero
on the first violated check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.001")


def run(workload, trace, expected=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--data", DATA]
    if expected:
        cmd += ["--expected", expected]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {out.returncode}\n{out.stderr}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_metrics(result, wanted, label):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, label
    assert result["attempted"] >= 1, label
    got = result["metrics"]
    assert set(got) == {m["name"] for m in wanted}, f"{label}: metric names differ"
    for m in wanted:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{label}: {m['name']} unit {v['unit']}"
        assert isinstance(v["value"], (int, float)), f"{label}: {m['name']} not a number"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "layers.json")) as fh:
        layers = json.load(fh)
    missing = [m["name"] for m in bench["per_layer"] if m["name"] not in layers]
    assert not missing, f"layers.json lacks {missing}"

    for w in [w["name"] for w in bench["workloads"]]:
        r = run(w, 0)
        check_metrics(r, bench["end_to_end"], f"{w} trace=0")
        assert r["correct"], f"{w} trace=0: outputs differ from expected.json"
        print(f"ok {w} trace=0: {r['attempted']} operations, {r['failed']} failed")

    r = run("medallion", 1)
    check_metrics(r, bench["per_layer"], "medallion trace=1")
    assert r["correct"], "medallion trace=1: outputs differ from expected.json"
    print(f"ok medallion trace=1: {r['attempted']} operations, {r['failed']} failed")

    with open(os.path.join(HERE, "expected.json")) as fh:
        wrong = json.load(fh)
    digests = wrong["sf0.001"]["operator_mix"]["digests"]
    query = sorted(digests)[0]
    digests[query] = "0:0"
    os.makedirs(os.path.join(HERE, ".runs"), exist_ok=True)
    path = os.path.join(HERE, ".runs", "expected-wrong-digest.json")
    with open(path, "w") as fh:
        json.dump(wrong, fh)
    r = run("operator_mix", 1, expected=path)
    check_metrics(r, bench["per_layer"], "operator_mix trace=1")
    assert not r["correct"], "a wrong expected digest went unnoticed"
    assert r["failed"] > 0 and r["metrics"]["fail_frac"]["value"] > 0, \
        "a wrong expected digest left fail_frac at 0"
    print(f"ok operator_mix trace=1 with a wrong {query} digest: "
          f"fail_frac {r['metrics']['fail_frac']['value']:.3f}")
    print("PASS")


if __name__ == "__main__":
    main()
