"""Smoke test of the benchmark on the small TPC-H-ish tables.

    python3 perfbench/smoke.py TABLES_DIR

Runs every workload in BENCHMARK.json for one second, untraced and traced,
reading the part / customer / supplier / nation keys from the parquet tables
in TABLES_DIR (the sf0.001 test tables are the intended input). Checks that each run prints every metric
BENCHMARK.json names for its mode, with the named unit, and that no
operation failed. Exits non-zero on the first violation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    tables = os.path.abspath(argv[0])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*bench["command"], "--workload", w["name"], "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--tables", tables]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                print(f"FAIL {w['name']} trace={trace}: exit {proc.returncode}")
                return 1
            out = json.loads(proc.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {n: v["unit"] for n, v in out["metrics"].items()}
            problems = []
            if got != want:
                problems.append(f"metrics/units differ: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"unit mismatch {sorted(n for n in want if n in got and got[n] != want[n])}")
            if out["failed"] != 0 or not out["correct"] or out["attempted"] < 1:
                problems.append(f"failed_frac {out['failed']}/{out['attempted']}")
            if problems:
                print(f"FAIL {w['name']} trace={trace}: {'; '.join(problems)}")
                return 1
            print(f"ok   {w['name']} trace={trace}: {len(got)} metrics, "
                  f"failed_frac 0/{out['attempted']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
