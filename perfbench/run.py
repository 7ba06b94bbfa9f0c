"""Benchmark entry point.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 34 --trace 0

Runs one workload with one client and one operation in flight on
``local[nproc]``, checks every output, and prints as its last line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics (zero where the workload does not
touch a layer). The full record of the run (environment, per-operation
numbers, spans, failures) is written to ``.perfbench/last_<workload>_trace<n>.json``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

import harness

WORKLOADS = {"queries": "query_workloads", "copy_stream": "copy_stream_workload"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}

    # a SIGTERM (a timeout, say) unwinds through the finally blocks below,
    # which stop the session and every process it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = harness.prepare_environment()
    harness.settle_disk()
    t0 = time.perf_counter()
    try:
        # the program under test: without it the benchmark stops here,
        # before printing any result
        import hadoop_copier_spark  # noqa: F401

        module = __import__(WORKLOADS[args.workload])
        r = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
        try:
            out = module.run(r)
        finally:
            t1 = time.perf_counter()
            r.stop()
        t2 = time.perf_counter()
        if r.attempted == 0:
            raise RuntimeError("no operation was attempted")
        if args.trace == 0:
            out["metrics"]["setup_s"] = harness.median(r.setup_s)
        else:
            out["metrics"]["mem.peak_rss_mb"] = sum(r.rss.values())
        unknown = set(out["metrics"]) - set(units)
        missing = set(units) - set(out["metrics"]) if args.trace == 0 else set()
        if unknown or missing:
            raise RuntimeError(f"metrics not in BENCHMARK.json: {sorted(unknown)}, missing: {sorted(missing)}")
        metrics = {n: {"value": float(out["metrics"].get(n, 0.0)), "unit": u} for n, u in units.items()}
        record = {
            "environment": r.environment(),
            "setup_s": r.setup_s,
            "peak_rss_mb": r.rss,
            "attempted": r.attempted,
            "failed": r.failed,
            "error_rate": r.failed / max(1, r.attempted),
            "failures": r.failures,
            "metrics": metrics,
            "detail": out.get("artifact", {}),
            "spans": r.spans,
        }
        with open(os.path.join(harness.WORK, f"last_{args.workload}_trace{args.trace}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
    finally:
        t_jvm = time.perf_counter()
        try:
            harness.stop_jvm()
        finally:
            t3 = time.perf_counter()
            harness.cleanup(run_dir)
            harness.settle_disk()
    print(f"perfbench: run {t1 - t0:.1f} s, stop {t2 - t1:.1f} s, JVM exit {t3 - t_jvm:.1f} s, "
          f"cleanup {time.perf_counter() - t3:.1f} s", file=sys.stderr)
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
