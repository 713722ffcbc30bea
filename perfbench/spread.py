"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload star_analytics --seeds 1 2 3 4 5

Prints, per end-to-end metric, the median of the runs and the distance
between the first and third quartile as a share of it (the steadiness test
the benchmark's bounds are held to), plus each run's wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, timeout=600)
        wall = time.time() - t
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        note = [ln for ln in out.stderr.splitlines() if ln.startswith("perfbench:")]
        print(f"seed {seed}: wall {wall:.1f}s correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              *note, sep="\n  ", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k}: median {med:.4g} spread {spread:.3f} bound {bounds.get(k, '-')}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
