"""Per-query profiler for an optimization round (guide §1).

For each named query: time fn() construction (which for iterative
operators runs setup jobs), the first count() action, and a warm
re-run (cache keys the first run inserted are evicted first, exactly
like bench.py's warm protocol), and write the formatted physical plan
to plans/r<N>/<name>_<tag>.txt for ``--round N``.

    python profile_queries.py --round 19 xp_pagerank xh_market_basket --tag before
    python profile_queries.py --round 19 --top 15 --tag before   # slowest from last_run

(Not named profile.py: that would shadow the stdlib ``profile`` module,
which ``import pyspark`` loads through cProfile.)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from hadoop_copier_spark.memo import (  # noqa: E402
    consumed_caches,
    evict_cache_keys,
    snapshot_cache_keys,
)
from hadoop_copier_spark.plans.inspect import explain_str  # noqa: E402
from hadoop_copier_spark.queries import REGISTRY  # noqa: E402
from hadoop_copier_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-plan", action="store_true")
    args = ap.parse_args()

    names = list(args.names)
    if args.top:
        with open(os.path.join(_REPO, "bench", "last_run.json")) as f:
            rec = json.load(f)
        qw = rec.get("queries_warm") or rec["queries"]
        names += [
            k for k, _ in sorted(qw.items(), key=lambda kv: -kv[1])[: args.top]
            if k not in names
        ]

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name=f"hcs-profile-r{args.round}", cpus=cpus, shuffle_partitions=int(cpus))
    spark.read.parquet(f"{args.sf_dir}/lineitem.parquet").count()

    plan_dir = os.path.join(_REPO, "plans", f"r{args.round}")
    os.makedirs(plan_dir, exist_ok=True)
    out = {}
    for name in names:
        q = REGISTRY[name]
        consumes = consumed_caches(q.fn)
        pre = snapshot_cache_keys() if consumes else None
        spark.sparkContext.setJobDescription(f"{name}: first")
        t0 = time.perf_counter()
        df = q.fn(spark, args.sf_dir)
        t_fn = time.perf_counter() - t0
        t0 = time.perf_counter()
        df.count()
        t_first_count = time.perf_counter() - t0
        built = {}
        if consumes:
            post = snapshot_cache_keys()
            built = {c: post[c] - pre[c] for c in consumes if post[c] - pre[c]}
        if not args.no_plan:
            with open(os.path.join(plan_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(explain_str(df, "formatted"))
        evict_cache_keys(built)
        spark.sparkContext.setJobDescription(f"{name}: warm")
        t0 = time.perf_counter()
        df2 = q.fn(spark, args.sf_dir)
        t_fn2 = time.perf_counter() - t0
        t0 = time.perf_counter()
        df2.count()
        t_count2 = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        out[name] = {
            "fn_first": round(t_fn, 3),
            "count_first": round(t_first_count, 3),
            "fn_warm": round(t_fn2, 3),
            "count_warm": round(t_count2, 3),
            "warm_total": round(t_fn2 + t_count2, 3),
        }
        print(f"{name:34s} fn={t_fn:6.2f} cnt={t_first_count:6.2f} | warm fn={t_fn2:6.2f} cnt={t_count2:6.2f}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
