#!/usr/bin/env python3
"""Records the query_mix digest file (graftbench/query_mix.digests).

    python3 graftbench/tools/record_digests.py            # the mix
    python3 graftbench/tools/record_digests.py --names q1,q2 --out /path/x.tsv

Generates the query_mix tables, runs every query twice and writes
`name<TAB>rows<TAB>digest` for each query whose two results agree; the
per-query time of the second run goes to stderr, which is how the mix
was chosen. Re-record only when a query's result is meant to change.
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
    ap.add_argument("--names", help="comma-separated query names (default: the mix)")
    ap.add_argument("--out", default=str(BENCH / "query_mix.digests"))
    a = ap.parse_args()
    jar, jars, archive = build.build()
    work = build.make_work(BENCH / ".work" / "record")
    cmd = build.java_cmd(jar, jars, f"-XX:SharedArchiveFile={archive}", work) + [
        "--mode", "record-digests", "--work", str(work), "--out", str(Path(a.out).resolve())]
    if a.names:
        cmd += ["--names", a.names]
    try:
        return subprocess.run(cmd, env=build.java_env(work), cwd=str(work)).returncode
    finally:
        build.remove_work(work)


if __name__ == "__main__":
    sys.exit(main())
