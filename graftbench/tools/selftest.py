#!/usr/bin/env python3
"""Negative self-test: every correctness gate must reject a corrupted output.

    python3 graftbench/tools/selftest.py [--seconds N]

Runs each workload with `--perturb`, which corrupts one output per gate
family after the engine produced it — a dashboard read (kinesis_tail), a
model-checked read and the final table (lake_upsert), one query result
(query_mix) — and the stream's lake contents at the end (kinesis_tail).
Passes only if every such run reports `correct: false` with the expected
number of failures, and an unperturbed run of the same workload passes.

It also runs `lake_upsert --mor` (deletion vectors on) and reports whether
the known merge-on-read row loss still shows; once it no longer does, the
workload's default should become merge-on-read.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]

# workload -> failures a perturbed run must report: one corrupted op
# output plus, where the workload has end gates, one corrupted gate input
EXPECTED = {"kinesis_tail": 2, "lake_upsert": 2, "query_mix": 1}


def run(workload, seconds, *flags):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", str(seconds), "--trace", "0"] + list(flags)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return None, r.stderr
    return json.loads(lines[-1]), r.stderr


def main() -> int:
    ap = argparse.ArgumentParser()
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--workloads", default=",".join(EXPECTED))
    a = ap.parse_args()
    ok = True
    for w in a.workloads.split(","):
        clean, _ = run(w, a.seconds)
        bad, err = run(w, a.seconds, "--perturb")
        rejected = bad is not None and not bad["correct"] and bad["failed"] == EXPECTED[w]
        passed = clean is not None and clean["correct"]
        print(f"{w}: clean run {'passes' if passed else 'FAILS'}; perturbed run "
              f"{'rejected' if rejected else 'NOT rejected'} "
              f"({bad and bad['failed']} failures, {EXPECTED[w]} expected)")
        for line in err.splitlines():
            if "FAILED" in line:
                print("   " + line)
        ok = ok and rejected and passed
    # a gate failure in the warm cycle aborts the run, so look at stderr too
    mor, err = run("lake_upsert", a.seconds, "--mor")
    shows = (mor is not None and not mor["correct"]) or "GateFailure" in err
    print("lake_upsert --mor: " + ("known merge-on-read row loss still shows" if shows
                                   else "passes: make merge-on-read the default"))
    for line in err.splitlines():
        if "GateFailure" in line or "FAILED" in line:
            print("   " + line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
