"""Steadiness check: run workloads over several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (the distance
between the quartiles as a share of the median), which must stay under a
third of the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workloads queries,copy_stream --seeds 1-10
    python3 perfbench/steady.py --workloads copy_stream --seeds 1-3 --trace 1

With ``--trace 1`` the per-layer metrics are summarised instead. One JSON
object per workload is printed, and one line per run on standard error;
nothing else is written.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    status = 0
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        walls = []
        for seed in seeds(args.seeds):
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", wl, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            walls.append(time.time() - t0)
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"{wl} seed {seed}: exit code {proc.returncode}")
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            if not res["correct"]:
                status = 1
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            # one line per run, so a drift of the host over the set shows
            print(f"{wl} seed {seed}: wall {walls[-1]:.1f} s, failed {res['failed']}/{res['attempted']}, "
                  + ", ".join(f"{n} {m['value']:.4g}" for n, m in res["metrics"].items()), file=sys.stderr)
        summary = {}
        for name, v in values.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med if med else 0.0
            bound = bounds.get(name) if not args.trace else None
            summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": round(spread, 4)}
            if bound is not None:
                summary[name]["steady"] = spread < bound / 3
        print(json.dumps({"workload": wl, "trace": args.trace, "runs": len(walls),
                          "run_wall_median_s": round(statistics.median(walls), 1), "metrics": summary}))
    return status


if __name__ == "__main__":
    sys.exit(main())
