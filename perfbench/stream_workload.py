"""The stream half of copy_stream: ``stream_tumbling_counts`` and
``stream_interval_join`` over file replays of the events fixture, one
after the other.

The replays are written once per run by the package's own replay writers
(``replay_events_time_buckets``, ``replay_events_split``, default chunk
counts) before any timed span. The tumbling job runs with
``availableNow`` and is timed to termination; the interval join has no
``availableNow`` form, so it is timed to ``processAllAvailable`` and
stopped after its check, outside the span: ``stop()`` waits for the
trigger loop, which took from 0.02 s to several seconds on the same input.
A pass runs both jobs, tumbling first, each with a fresh memory sink and
checkpoint; the first pass is cold, the rest warm. The order is fixed, not
drawn from the seed: whichever job runs first pays the session's first
streaming query, and a seeded order made the cold sum bimodal (about 2 s
apart on 4 cores).
The tumbling table must equal the DuckDB oracle of q61 and the join's pair
set must equal the batch interval join computed by DuckDB.
"""

from __future__ import annotations

import os
import shutil
import time

from harness import FIXTURES, Run, median

JOIN_ORACLE = """
SELECT l.event_id AS l_id, r.event_id AS r_id
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 5 MINUTE
WHERE l.event_id % 2 = 0 AND r.event_id % 2 <> 0
"""
# Micro-batches per replay (one file per trigger). At the session's default
# state-partition count a micro-batch costs about 0.6 s (tumbling) and
# 1.5-2 s (interval join) on 4 cores, so these keep a warm pass near 6 s
# and leave room for at least two warm passes in a run.
TUMBLING_CHUNKS = 4
JOIN_CHUNKS = 1
DURATIONS = ("triggerExecution", "addBatch", "walCommit", "queryPlanning", "getBatch")


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _dirs, names in os.walk(root)
        for n in names
        if n.endswith(".parquet")
    )


def phase(r: Run, seconds: float) -> dict:
    """Replay, then a cold pass and warm passes while ``seconds`` allow (at
    least one). Returns the cold walls, the warm walls per job, the job
    spans, the per-layer numbers and the artifact."""
    import pyarrow.parquet as pq
    from hadoop_copier_spark.queries import REGISTRY
    from hadoop_copier_spark.streaming import (
        replay_events_split,
        replay_events_time_buckets,
        stream_interval_join,
        stream_tumbling_counts,
    )
    from hadoop_copier_spark.testing import duck_connect
    from query_workloads import Checker, oracle_digests

    ops = ["tumbling", "interval_join"]
    expected = oracle_digests({"q61": REGISTRY["q61"].oracle})
    con = duck_connect(FIXTURES)
    try:
        want_pairs = {tuple(p) for p in con.execute(JOIN_ORACLE).fetchall()}
    finally:
        con.close()
    check_q61 = Checker(expected)
    n_events = pq.ParquetFile(os.path.join(FIXTURES, "events.parquet")).metadata.num_rows

    spark = r.spark
    base = os.path.join(r.run_dir, "stream")
    with r.span("stream/replay") as prep:
        tdir = replay_events_time_buckets(spark, FIXTURES, os.path.join(base, "tumbling"), n_chunks=TUMBLING_CHUNKS)
        left, right = replay_events_split(spark, FIXTURES, os.path.join(base, "join"), n_chunks=JOIN_CHUNKS)
    input_bytes = _dir_bytes(os.path.join(base, "tumbling")) + _dir_bytes(os.path.join(base, "join"))

    walls: dict[str, list[float]] = {op: [] for op in ops}
    cold: dict[str, float] = {}
    batches: list[dict] = []  # (pass, op, progress)
    op_spans: list[dict] = []
    t_start = time.perf_counter()
    pass_no, last = 0, 0.0
    while pass_no < 2 or time.perf_counter() - t_start + last / 2 <= seconds:
        p0 = time.perf_counter()
        phase = "cold" if pass_no == 0 else "warm"
        for op in ops:
            name = f"perfbench_{op}_{pass_no}"
            q = None
            try:
                with r.span(f"{op}/{phase}", group=f"{r.workload}/{op}/{phase}") as span:
                    if op == "tumbling":
                        q = stream_tumbling_counts(spark, tdir, name, available_now=True)
                        r.stream_groups[str(q.runId)] = op
                        q.awaitTermination()
                    else:
                        q = stream_interval_join(spark, left, right, name)
                        r.stream_groups[str(q.runId)] = op
                        q.processAllAvailable()
                if op == "tumbling":
                    ok, detail = check_q61("q61", spark.sql(
                        f"SELECT w_start_sec, event_type, n, sum_val_cents FROM {name}").toPandas())
                else:
                    got = {(x["l_id"], x["r_id"]) for x in spark.sql(f"SELECT l_id, r_id FROM {name}").collect()}
                    ok = got == want_pairs and bool(want_pairs)
                    detail = f"{len(got ^ want_pairs)} pairs differ from the batch interval join"
            except Exception as e:  # a failing stream is counted, the run goes on
                ok, detail = False, f"{type(e).__name__}: {e}"
            finally:
                if q is not None:
                    q.stop()
                    batches.extend({"pass": pass_no, "op": op, **p} for p in q.recentProgress)
                spark.catalog.dropTempView(name)
            r.check(f"{op}/{phase}", ok, detail)
            if ok:
                op_spans.append({"pass": pass_no, **span})
                if pass_no:
                    walls[op].append(span["wall"])
                else:
                    cold[op] = span["wall"]
        pass_no, last = pass_no + 1, time.perf_counter() - p0

    shutil.rmtree(base, ignore_errors=True)
    warm = {op: median(v) for op, v in walls.items()}
    trig = [float(b["durationMs"].get("triggerExecution", 0)) for b in batches]
    # per-layer sums cover the cold pass and the first warm pass
    first = [b for b in batches if b["pass"] <= 1]
    layer_spans = [s for s in op_spans if s["pass"] <= 1]
    layer = {
        "stream.replay_s": prep["wall"], "stream.batches": len(first),
        "stream.batch_p50_ms": median(trig),
    }
    if all(warm.values()):
        layer["stream.events_per_s"] = 2 * n_events / sum(warm.values())
    for key in DURATIONS:
        name = "trigger" if key == "triggerExecution" else key.lower()
        layer[f"stream.{name}_ms"] = sum(float(b["durationMs"].get(key, 0)) for b in first)
    layer["stream.sched_gap_ms"] = sum(s["wall"] for s in layer_spans) * 1000.0 - layer["stream.trigger_ms"]
    last_batches = {(b["pass"], b["op"]): b for b in first}  # final state of each job
    layer["stream.state_rows"] = sum(
        so.get("numRowsTotal", 0) for b in last_batches.values() for so in b.get("stateOperators", []))
    layer["stream.state_bytes"] = sum(
        so.get("memoryUsedBytes", 0) for b in last_batches.values() for so in b.get("stateOperators", []))
    artifact = {
        "order": ops, "cold": cold, "warm": walls, "passes": pass_no,
        "input_bytes": input_bytes, "events_per_pass": 2 * n_events,
        "batch_p50_ms": median(trig), "batches": len(trig),
    }
    return {"cold": cold, "warm": warm, "spans": op_spans, "layer_spans": layer_spans,
            "layer": layer, "artifact": artifact}
