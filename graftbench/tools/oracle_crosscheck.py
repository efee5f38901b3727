#!/usr/bin/env python3
"""One-time cross-check of the query_mix results against their DuckDB oracles.

    python3 graftbench/tools/oracle_crosscheck.py [--scale 0.01]

Generates the query_mix tables with the benchmark's generator and data seed
at `--scale`, runs the mix (the queries listed in `query_mix.digests`)
through `graft.Verify` (each result written as
parquet, plus the oracle SQL) and compares every result with its oracle in
DuckDB using the repository's `tools/selfcheck.py`. Needs the `duckdb`
Python module. Run it after re-recording `query_mix.digests`.
"""
import argparse
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import build  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", default="0.01")
    a = ap.parse_args()
    mix = [l.split("\t")[0] for l in (BENCH / "query_mix.digests").read_text().splitlines()
           if l and not l.startswith("#")]
    jar, jars, archive = build.build()
    work = build.make_work(BENCH / ".work" / "crosscheck")
    data, out = work / "data", work / "verify"
    java = build.java_cmd(jar, jars, f"-XX:SharedArchiveFile={archive}", work)
    env = build.java_env(work)
    try:
        steps = [
            java + ["--mode", "gen-data", "--dir", str(data), "--scale", a.scale,
                    "--work", str(work)],
            java[:-1] + ["graft.Verify", str(data), str(out)] + mix,
            [sys.executable, str(BENCH.parent / "tools" / "selfcheck.py"), str(data),
             str(out)] + mix,
        ]
        for cmd in steps:
            r = subprocess.run(cmd, env=env, cwd=str(work))
            if r.returncode != 0:
                return r.returncode
        return 0
    finally:
        build.remove_work(work)


if __name__ == "__main__":
    sys.exit(main())
