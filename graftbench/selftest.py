#!/usr/bin/env python3
"""Self-test of the benchmark's checks, at the tiny scale.

    python3 graftbench/selftest.py

A clean run of each workload must pass. Each deliberate fault must make the
run exit non-zero: one expected count perturbed, one stored document deleted
(batch and stream), one oracle fingerprint altered. Takes a few minutes; the
first call also builds and makes the tiny mix inputs.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

CASES = [
    # (workload, fault, should pass)
    ("wordcount_batch", None, True),
    ("wordcount_stream", None, True),
    ("analytics_mix", None, True),
    ("wordcount_batch", "count", False),
    ("wordcount_stream", "count", False),
    ("wordcount_batch", "delete_doc", False),
    ("wordcount_stream", "delete_doc", False),
    ("analytics_mix", "oracle", False),
]


def run(workload, fault, trace=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    if fault:
        cmd += ["--inject", fault]
    p = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True,
                       timeout=900)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    return p.returncode, last, p.stderr


def main():
    bad = []
    for workload, fault, should_pass in CASES:
        code, last, err = run(workload, fault)
        result = json.loads(last) if last.startswith("{") else {}
        passed = code == 0 and result.get("correct") is True
        ok = passed == should_pass
        if should_pass and ok:
            # every end-to-end metric, by name with its unit, and nothing failed
            ok = result["failed"] == 0 and result["attempted"] > 0 and all(
                set(v) == {"value", "unit"} for v in result["metrics"].values())
        print(f"{'ok  ' if ok else 'FAIL'} {workload:<17} fault={fault or '-':<10} "
              f"exit={code} correct={result.get('correct')} "
              f"failed={result.get('failed')}/{result.get('attempted')}", flush=True)
        if not ok:
            bad.append((workload, fault))
            sys.stderr.write(err[-3000:])
    # a traced run reports every per-layer metric
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["per_layer"]}
    for workload in dict.fromkeys(c[0] for c in CASES):
        code, last, err = run(workload, None, trace=1)
        got = set(json.loads(last)["metrics"]) if last.startswith("{") else set()
        ok = code == 0 and got == names
        print(f"{'ok  ' if ok else 'FAIL'} {workload:<17} traced: all {len(names)} per-layer "
              f"metrics (exit={code}, missing={sorted(names - got)[:5]})", flush=True)
        if not ok:
            bad.append((workload, "trace"))
            sys.stderr.write(err[-3000:])
    print("selftest:", "PASS" if not bad else f"FAIL {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
