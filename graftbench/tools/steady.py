#!/usr/bin/env python3
"""Steadiness tooling for the benchmark.

Repeat a workload over seeds and print, per end-to-end metric, the
median, quartiles, quartile spread (as a share of the median, next to
the metric's bound) and the worst deviation from the median:

    python3 graftbench/tools/steady.py repeat --workload kinesis_tail \\
        --seeds 1-10 --out /tmp/a.json

Compare two sets of runs of the same code (A/A) against BENCHMARK.json's
bounds — every metric's second median must not be worse than the first
by more than its bound, and every spread but setup_s must stay within it:

    python3 graftbench/tools/steady.py compare /tmp/a.json /tmp/b.json

Quartiles are Python's `statistics.quantiles(values, n=4)`.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]
SPEC = BENCH.parent / "BENCHMARK.json"


def spread(values):
    """Median, quartiles, quartile spread and worst deviation (both as
    shares of the median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else float("inf"),
            "worst_dev": max(abs(v - med) for v in values) / med if med else float("inf")}


def compare(a, b, spec):
    """A/A check of two {metric: [values]} sets against the spec's bounds."""
    rows = []
    for m in spec["end_to_end"]:
        n, bound = m["name"], m["bound"]
        sa, sb = spread(a[n]), spread(b[n])
        change = (sb["median"] - sa["median"]) / sa["median"]
        worse = change if m["better"] == "lower" else -change
        spreads_ok = n == "setup_s" or max(sa["iqr_share"], sb["iqr_share"]) <= bound
        rows.append({"name": n, "a": sa["median"], "b": sb["median"], "worse_by": worse,
                     "bound": bound, "ok": worse <= bound and spreads_ok})
    return rows


def parse_seeds(s):
    out = []
    for part in s.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def repeat(workload, seeds, seconds):
    """Runs the benchmark once per seed; returns {metric: [values]}."""
    cmd0 = [sys.executable, str(BENCH / "run.py"), "--workload", workload,
            "--seconds", str(seconds), "--trace", "0"]
    values = {}
    for seed in seeds:
        r = subprocess.run(cmd0 + ["--seed", str(seed)], stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            raise SystemExit(f"seed {seed}: run failed with {r.returncode}")
        res = json.loads(lines[-1])
        if not res["correct"]:
            raise SystemExit(f"seed {seed}: correctness gate failed: {res}")
        for n, m in res["metrics"].items():
            values.setdefault(n, []).append(m["value"])
        print(f"seed {seed}: " + ", ".join(f"{n}={m['value']:.4g}"
                                          for n, m in res["metrics"].items()),
              file=sys.stderr, flush=True)
    return values


def main() -> int:
    spec = json.loads(SPEC.read_text())
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    rp = sub.add_parser("repeat")
    rp.add_argument("--workload", required=True)
    rp.add_argument("--seeds", default="1-10")
    rp.add_argument("--seconds", type=int, default=spec["run_seconds"])
    rp.add_argument("--out")
    cp = sub.add_parser("compare")
    cp.add_argument("a")
    cp.add_argument("b")
    a = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    if a.cmd == "repeat":
        values = repeat(a.workload, parse_seeds(a.seeds), a.seconds)
        if a.out:
            Path(a.out).write_text(json.dumps(values))
        print(f"{'metric':16} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} "
              f"{'bound':>6} {'worst':>7}")
        for n, vs in values.items():
            s = spread(vs)
            flag = "" if n == "setup_s" or s["iqr_share"] < bounds[n] / 3 else "  > bound/3"
            print(f"{n:16} {s['median']:10.4g} {s['q1']:10.4g} {s['q3']:10.4g} "
                  f"{s['iqr_share']:7.3f} {bounds[n]:6.2f} {s['worst_dev']:7.3f}{flag}")
        return 0
    rows = compare(json.loads(Path(a.a).read_text()), json.loads(Path(a.b).read_text()), spec)
    for r in rows:
        print(f"{r['name']:16} A {r['a']:10.4g}  B {r['b']:10.4g}  worse by "
              f"{r['worse_by']:+.3f} (bound {r['bound']:.2f})  {'ok' if r['ok'] else 'FAIL'}")
    return 0 if all(r["ok"] for r in rows) else 1


if __name__ == "__main__":
    sys.exit(main())
