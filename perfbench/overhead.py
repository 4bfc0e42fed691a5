"""Tracing overhead per workload: runs each workload untraced and traced
with the same seed and compares the end-to-end numbers the two runs
measured (the traced run reports its own under ``traced_e2e`` on its
diagnostics line).  Run from the root of a checkout:

    python3 perfbench/overhead.py --seed 1 --seconds 8 kv_write olap_suite
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys

COMPARED = ("op_p50_ms", "ops_per_s", "cpu_ms_per_op", "setup_s")


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    result = json.loads(p.stdout.strip().splitlines()[-1])
    diag = next(line for line in reversed(p.stderr.splitlines())
                if line.startswith("perfbench: {"))
    return result, json.loads(diag[len("perfbench: "):])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("workloads", nargs="+")
    args = ap.parse_args(argv)
    print(f"{'workload':12s} {'metric':14s} {'untraced':>12s} {'traced':>12s} {'overhead':>9s}")
    for w in args.workloads:
        plain, _ = run(w, args.seed, args.seconds, 0)
        _, diag = run(w, args.seed, args.seconds, 1)
        for k in COMPARED:
            a, b = plain["metrics"][k]["value"], diag["traced_e2e"][k]
            worse = (a / b - 1) if k == "ops_per_s" else (b / a - 1)
            print(f"{w:12s} {k:14s} {a:12.4g} {b:12.4g} {worse:+9.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
