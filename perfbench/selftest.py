#!/usr/bin/env python3
"""Self-test of the benchmark, on the tiny input of every workload.

    python3 perfbench/selftest.py

For each workload it checks that
  * a clean run is correct and prints every end-to-end metric of
    BENCHMARK.json with its unit;
  * a traced run prints every per-layer metric with its unit and keeps
    its spans in the run record;
  * an injected throwing operation and an injected wrong-result operation
    are each counted as failed and named in the record, make the run
    incorrect, and are left out of the latency samples.
"""
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["catalog", "stream"]


def run(workload, trace, inject=""):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny", "--inject", inject]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=600)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    pattern = os.path.join(ROOT, ".bench_build", "records", f"{workload}-seed7-trace{trace}-*.json")
    with open(max(glob.glob(pattern), key=os.path.getmtime)) as f:
        return result, json.load(f)


def check_metrics(result, spec):
    got = result["metrics"]
    assert set(got) == {m["name"] for m in spec}, f"metric names {sorted(got)}"
    for m in spec:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{m['name']}: unit {v['unit']} != {m['unit']}"
        assert isinstance(v["value"], (int, float)), f"{m['name']}: value {v['value']!r}"


def clean_samples(record):
    """Latency samples the record should hold: operations of untraced warm
    passes that did not fail (a stream drain gives one per micro-batch)."""
    warm = {p["pass"] for p in record["passes"] if p["pass"] > 0 and not p["traced"]}
    failed = {f["op"] for f in record["failures"]}
    if "drains" in record:
        return sum(len(d["trigger_ms"]) for d in record["drains"]
                   if d["pass"] in warm and f"w{d['pass']}:{d['head']}" not in failed)
    return sum(1 for o in record["ops"]
               if o["id"].startswith("w") and int(o["id"][1:].split(":")[0]) in warm
               and o["id"] not in failed)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in WORKLOADS:
        result, _ = run(w, 0)
        assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0, result
        check_metrics(result, bench["end_to_end"])

        result, record = run(w, 1)
        assert result["correct"], result
        check_metrics(result, bench["per_layer"])
        assert record["spans"], "traced run kept no spans"

        result, record = run(w, 0, inject="throw,wrong")
        assert not result["correct"], "injected failures were not detected"
        failed = {f["op"].split(":")[-1] for f in record["failures"]}
        assert {"inject_throw", "inject_wrong"} <= failed, f"failures named: {failed}"
        assert result["failed"] == len(record["failures"]) >= 2
        assert record["op_samples"] == clean_samples(record), "a failed operation was timed"
        print(f"selftest {w}: ok ({result['attempted']} attempted, {result['failed']} failed as injected)")
    print("selftest: all workloads ok")


if __name__ == "__main__":
    main()
