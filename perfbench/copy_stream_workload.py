"""copy_stream: the engine's two jobs beside the query surface, one after
the other in one session: the copy requests of ``copy_workload`` for a
third of the run's seconds, then the stream jobs of ``stream_workload``
for the rest. ``cold_s`` sums each operation's first wall after set-up
(the first copy request also starts the Python workers) and ``warm_s``
each operation's median warm wall.
"""

from __future__ import annotations

import time

import numpy as np

import copy_workload
import stream_workload
from harness import FIXTURES, Run


def run(r: Run) -> dict:
    from hadoop_copier_spark.tables import load_table

    rng = np.random.default_rng(r.seed)
    r.setup(lambda s: load_table(s, FIXTURES, "lineitem").count())
    t0 = time.perf_counter()
    copy = copy_workload.phase(r, rng, r.seconds / 3)
    stream = stream_workload.phase(r, r.seconds - (time.perf_counter() - t0))
    parts = (copy, stream)
    metrics = {
        "cold_s": sum(sum(p["cold"].values()) for p in parts),
        "warm_s": sum(sum(p["warm"].values()) for p in parts),
    }
    artifact = {"copy": copy["artifact"], "stream": stream["artifact"]}
    if not r.trace:
        return {"metrics": metrics, "artifact": artifact}

    layer = {**copy["layer"], **stream["layer"],
             "session.start_s": r.session_start_s, "session.first_read_s": r.first_read_s,
             "trace.cold_s": metrics["cold_s"], "trace.warm_s": metrics["warm_s"]}
    r.stop()
    log = r.read_event_log()
    layer.update(r.exec_metrics(log, copy["layer_spans"] + stream["layer_spans"]))
    layer.update(copy_workload.attribute(r, log, copy))
    return {"metrics": layer, "artifact": artifact}
