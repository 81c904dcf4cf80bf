"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload NAME --seeds 1 2 3 4 5 [--trace 0|1]

Runs ``run.py`` once per seed, one run at a time, from the repository
root, and prints per metric the values, their median, quartiles
(``statistics.quantiles(n=4)``) and the spread: the interquartile
distance as a share of the median. With ``--out FILE`` the runs' result
lines are also written there as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_seconds() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return int(json.load(fh)["run_seconds"])


def run_once(workload: str, seed: int, trace: int, seconds: int) -> dict:
    """One benchmark run; returns its detail and result lines."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n"
                           f"{proc.stderr[-4000:]}")
    return {"detail": json.loads(lines[-2])["detail"],
            "result": json.loads(lines[-1])}


def spreads(results: list[dict]) -> dict[str, dict]:
    names = sorted({k for r in results for k in r["result"]["metrics"]})
    out = {}
    for name in names:
        vals = [r["result"]["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _q2, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                       else (vals[0],) * 3)
        out[name] = {"values": vals, "median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else 0.0}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out")
    args = ap.parse_args()
    seconds = bench_seconds()
    results = []
    for seed in args.seeds:
        r = run_once(args.workload, seed, args.trace, seconds)
        results.append(r)
        m = r["result"]["metrics"]
        print(f"seed {seed}: " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in sorted(m.items())
            if not args.trace), flush=True)
    table = spreads(results)
    if not args.trace:
        for name, s in table.items():
            print(f"{name:16s} median {s['median']:9.4f}  q1 {s['q1']:9.4f}  "
                  f"q3 {s['q3']:9.4f}  spread {s['spread']:.3f}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seeds": args.seeds,
                       "runs": results, "spreads": table}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
