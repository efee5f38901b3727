#!/usr/bin/env python3
"""Benchmark entry point.

    python3 graftbench/run.py --workload kinesis_tail --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark if needed (build.py), then launches
the benchmark JVM directly from the prebuilt classpath with a fixed heap.
A run sets up `SETUPS` times — each in a fresh JVM and work directory —
and reports the median set-up time; the last JVM goes on to the timed
phase. The last line of stdout is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run (whose raw samples and span tree are kept under
graftbench/out/). `--perturb` is the negative self-test: it corrupts one
output per workload, which the correctness gates must reject.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["kinesis_tail", "lake_upsert", "query_mix"]
SETUPS = 3
RUN_BUDGET_S = 170.0

_child = None


def _terminate(signum, _frame):
    if _child is not None and _child.poll() is None:
        _child.kill()
        _child.wait()
    raise SystemExit(128 + signum)


def jvm(built, work: Path, args, deadline: float) -> dict:
    """Runs one benchmark JVM in a fresh `work` dir; returns its raw JSON."""
    global _child
    jar, jars, archive = built
    build.make_work(work)
    out = work / "raw.json"
    cmd = build.java_cmd(jar, jars, f"-XX:SharedArchiveFile={archive}", work) + [
        "--work", str(work), "--out", str(out),
        "--digests", str(BENCH / "query_mix.digests")] + args
    env = build.java_env(work)
    log = work / "jvm.log"
    with open(log, "w") as lf:
        cmd += ["--launch-ns", str(time.time_ns())]
        _child = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                  cwd=str(work))
        try:
            rc = _child.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            _child.kill()
            _child.wait()
            rc = "timeout"
        finally:
            _child = None
    if rc != 0 or not out.is_file():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        raise RuntimeError(f"benchmark JVM exited with {rc}:\n" + "\n".join(tail))
    return json.loads(out.read_text())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--perturb", action="store_true")
    ap.add_argument("--mor", action="store_true",
                    help="lake_upsert with deletion vectors on (merge-on-read)")
    a = ap.parse_args()

    try:
        built = build.build()
    except build.BuildError as e:
        print(f"graftbench: build failed: {e}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, _terminate)
    run_dir = BENCH / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    deadline = time.monotonic() + RUN_BUDGET_S
    base = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    base += ["--perturb"] * a.perturb + ["--mor"] * a.mor
    setups = []
    try:
        for i in range(SETUPS):
            last = i == SETUPS - 1
            work = run_dir / f"jvm{i}"
            raw = jvm(built, work, base + ([] if last else ["--setup-only"]), deadline)
            build.remove_work(work)
            setups.append(raw["setup_s"])
    except RuntimeError as e:
        print(f"graftbench: {e}", file=sys.stderr)
        return 3
    finally:
        build.remove_work(run_dir)

    ops = raw["ops"]
    attempted, failed = metrics.failure_count(ops, raw["gates"])
    print(f"graftbench: {a.workload} seed {a.seed}: setups "
          + ", ".join(f"{s:.2f}" for s in setups) + f" s; {len(ops)} ops in "
          + f"{len(raw['timed']['complete_cycles'])} whole cycles",
          file=sys.stderr)
    for o in ops:
        if not o["ok"]:
            print(f"graftbench: FAILED op {o['kind']} (cycle {o['cycle']}): {o['error']}",
                  file=sys.stderr)
    for g in raw["gates"]:
        if not g["ok"]:
            print(f"graftbench: FAILED gate {g['name']}: {g['error']}", file=sys.stderr)
    try:
        if a.trace:
            values = metrics.per_layer(raw)
            units = {n: u for n, u, _ in metrics.PER_LAYER}
            out_dir = BENCH / "out"
            out_dir.mkdir(exist_ok=True)
            (out_dir / f"trace-{a.workload}-seed{a.seed}.json").write_text(json.dumps(raw))
            for n, why in metrics.absent_layers(a.workload):
                print(f"graftbench: {n} reads 0: {why}", file=sys.stderr)
        else:
            values = metrics.end_to_end(raw, setups)
            units = dict(metrics.END_TO_END)
    except metrics.UnsupportedPercentile as e:
        print(f"graftbench: refusing to report: {e}", file=sys.stderr)
        return 4
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()}}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
