"""Shared machinery of the benchmark: the run environment, repeated session
set-up, spans, attribution of Spark jobs from the event log, and process
memory.

Everything here observes the program from outside: it times calls into the
package's public functions, tags Spark jobs with job groups, and reads
Spark's own instrumentation (the event log, ``QueryExecution.tracker()``
and ``CodegenMetrics`` through py4j). Nothing in the package is patched.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
FIXTURES = os.path.join(BENCH_DIR, "fixtures", "sf0.1")
WORK = os.path.join(ROOT, ".perfbench")
NPROC = len(os.sched_getaffinity(0))

# Set-ups per run; setup_s is their median. The first one launches the JVM,
# the others stop the SparkContext and build a new one in the same JVM, so
# the median is that of the ten rebuilds (the launch, always the slowest,
# only shifts it by one place).
SETUPS = 11


def prepare_environment() -> str:
    """Point every temporary location of the driver, the JVM and the Python
    workers into this run's directory under the checkout, and make the
    package importable by the workers. Returns the run directory."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return run_dir


# ---------------------------------------------------------------------------
# small statistics
# ---------------------------------------------------------------------------

def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

class Run:
    """One benchmark run: arguments, spans, set-up and attribution.

    Every timed operation is a span (name, start, end, parent) kept in
    memory and written to the artifact when the run ends. With tracing on,
    each operation also runs under the job group ``<workload>/<op>/<phase>``
    and the session writes an uncompressed event log.
    """

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, run_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.spans: list[dict] = []
        self.spark = None
        self.setup_s: list[float] = []
        self.session_start_s = 0.0
        self.first_read_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.stream_groups: dict[str, str] = {}  # stream runId -> op name
        self.event_log_dir = os.path.join(run_dir, "eventlog")
        self.rss: dict[str, float] = {}

    # -- checks ---------------------------------------------------------------

    def check(self, op: str, ok: bool, detail: str = "") -> bool:
        """Count one checked operation; a wrong or failed one is an error."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{op}: {detail}"[:500])
            print(f"perfbench: check failed: {op}: {detail}"[:2000], file=sys.stderr)
        return ok

    # -- spans ----------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, parent: str | None = None, group: str | None = None):
        """Time a block. ``group`` tags the Spark jobs it launches when
        tracing. The yielded dict gets ``wall`` (seconds) on exit."""
        rec = {"name": name, "parent": parent}
        if self.trace and group is not None:
            self.spark.sparkContext.setJobGroup(group, group)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall"] = time.perf_counter() - t0
            rec["end"] = time.time()
            if self.trace:
                self.spans.append(rec)
                if group is not None:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # -- session --------------------------------------------------------------

    def setup(self, first_read):
        """Build the session SETUPS times; ``first_read(spark)`` is part of
        each set-up. Leaves the last session open in ``self.spark``."""
        from hadoop_copier_spark.session import get_spark

        conf = None
        if self.trace:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
                "spark.eventLog.compress": "false",
            }
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(cpus=NPROC, extra_conf=conf) if conf else get_spark(cpus=NPROC)
            t1 = time.perf_counter()
            first_read(self.spark)
            t2 = time.perf_counter()
            self.setup_s.append(t2 - t0)
            if i == 0:
                self.session_start_s, self.first_read_s = t1 - t0, t2 - t1
        self.app_id = self.spark.sparkContext.applicationId
        self.measure_start = time.time()
        return self.spark

    def codegen(self) -> tuple[int, float]:
        """(compiles, compile ms) so far in this JVM, from CodegenMetrics.
        The histogram keeps every sample while it holds fewer than its
        reservoir size (1028); past that the sum is estimated from the
        mean."""
        h = self.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        snap = h.getSnapshot()
        n = int(h.getCount())
        vals = list(snap.getValues())
        ms = float(sum(vals)) if n <= len(vals) else float(snap.getMean()) * n
        return n, ms

    def stop(self) -> None:
        """Stop the session, reading the process tree's peak memory first."""
        if self.spark is not None:
            self.rss = self.peak_rss()
            self.spark.stop()
            self.spark = None

    # -- attribution ----------------------------------------------------------

    def read_event_log(self) -> dict:
        """Jobs, stages and tasks of the measured application, after
        ``stop()`` has flushed the log. Only jobs submitted after set-up
        count."""
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        tasks: list[dict] = []
        py_names = {"time to run Python workers"}
        lo = self.measure_start * 1000.0
        for path in sorted(glob.glob(os.path.join(self.event_log_dir, f"*{self.app_id}*", "events_*"))):
            with open(path) as f:
                for line in f:
                    head = line[:48]
                    if "SparkListenerJob" not in head and "SparkListenerTaskEnd" not in head:
                        continue
                    e = json.loads(line)
                    ev = e["Event"]
                    if ev == "SparkListenerJobStart":
                        if e["Submission Time"] < lo:
                            continue
                        jid = e["Job ID"]
                        jobs[jid] = {
                            "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                            "submit": e["Submission Time"],
                            "end": e["Submission Time"],
                            "stages": list(e.get("Stage IDs", [])),
                        }
                        for sid in jobs[jid]["stages"]:
                            stage_job[sid] = jid
                    elif ev == "SparkListenerJobEnd":
                        if e["Job ID"] in jobs:
                            jobs[e["Job ID"]]["end"] = e["Completion Time"]
                    elif ev == "SparkListenerTaskEnd":
                        jid = stage_job.get(e["Stage ID"])
                        if jid is None:
                            continue
                        m = e.get("Task Metrics") or {}
                        info = e["Task Info"]
                        shr = m.get("Shuffle Read Metrics") or {}
                        shw = m.get("Shuffle Write Metrics") or {}
                        py = sum(
                            float(a.get("Update") or 0)
                            for a in info.get("Accumulables", [])
                            if a.get("Name") in py_names
                        )
                        tasks.append(
                            {
                                "job": jid,
                                "stage": e["Stage ID"],
                                "dur_ms": info["Finish Time"] - info["Launch Time"],
                                "run_ms": m.get("Executor Run Time", 0),
                                "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                                "gc_ms": m.get("JVM GC Time", 0),
                                "deser_ms": m.get("Executor Deserialize Time", 0),
                                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                                "shw": shw.get("Shuffle Bytes Written", 0),
                                "shr": shr.get("Remote Bytes Read", 0) + shr.get("Local Bytes Read", 0),
                                "fetch_ms": shr.get("Fetch Wait Time", 0),
                                "py_ms": py,
                            }
                        )
        return {"jobs": jobs, "tasks": tasks}

    def attributed(self, group: str | None) -> bool:
        if not group:
            return False
        return group.startswith(self.workload + "/") or group in self.stream_groups

    def exec_metrics(self, log: dict, op_spans: list[dict], prefix: str = "exec") -> dict:
        """Totals over the jobs submitted inside ``op_spans``, plus the
        driver gap: the spans' wall minus the union of job spans inside
        them."""
        jobs = {id(j): j for j in self.jobs_in(log, op_spans)}
        job_ids = {jid for jid, j in log["jobs"].items() if id(j) in jobs}
        tasks = [t for t in log["tasks"] if t["job"] in job_ids]
        by_stage: dict[int, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["dur_ms"])
        ratios = [
            max(d) / max(1.0, statistics.median(d)) for d in by_stage.values() if len(d) >= 2
        ]
        ivs = [(j["submit"], j["end"]) for j in jobs.values()]
        gap_ms = sum(
            max(0.0, s["wall"] * 1000.0 - union_ms(ivs, s["start"] * 1000.0, s["end"] * 1000.0))
            for s in op_spans
        )
        return {
            f"{prefix}.jobs": len(jobs),
            f"{prefix}.stages": len(by_stage),
            f"{prefix}.tasks": len(tasks),
            f"{prefix}.run_s": sum(t["run_ms"] for t in tasks) / 1000.0,
            f"{prefix}.cpu_s": sum(t["cpu_ms"] for t in tasks) / 1000.0,
            f"{prefix}.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
            f"{prefix}.deserialize_s": sum(t["deser_ms"] for t in tasks) / 1000.0,
            f"{prefix}.spill_bytes": sum(t["spill"] for t in tasks),
            f"{prefix}.straggler_ratio": median(ratios),
            f"{prefix}.driver_gap_s": gap_ms / 1000.0,
            f"{prefix}.unattributed_jobs": sum(1 for j in jobs.values() if not self.attributed(j["group"])),
            "shuffle.write_bytes": sum(t["shw"] for t in tasks),
            "shuffle.read_bytes": sum(t["shr"] for t in tasks),
            "shuffle.fetch_wait_s": sum(t["fetch_ms"] for t in tasks) / 1000.0,
            "python.udf_s": sum(t["py_ms"] for t in tasks) / 1000.0,
        }

    def jobs_in(self, log: dict, spans: list[dict]) -> list[dict]:
        """Jobs submitted inside any of ``spans`` (event-log times are whole
        milliseconds, so span bounds are widened to whole milliseconds)."""
        bounds = [(int(s["start"] * 1000.0), int(s["end"] * 1000.0) + 1) for s in spans]
        return [j for j in log["jobs"].values() if any(a <= j["submit"] <= b for a, b in bounds)]

    # -- memory and hygiene ---------------------------------------------------

    def peak_rss(self) -> dict[str, float]:
        """VmHWM (MB) of this process and all its descendants, summed per
        kind: the driver, the JVM and the Python workers. RUSAGE_CHILDREN
        would miss the JVM, which has not exited yet."""
        me = os.getpid()
        out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        for pid in [me] + descendants(me):
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb = next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            kind = "driver" if pid == me else ("jvm" if comm == "java" else "workers")
            out[kind] += kb / 1024.0
        return out

    def environment(self) -> dict:
        import duckdb
        import pyspark

        return {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "nproc": NPROC,
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "python": sys.version.split()[0],
        }


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                parts = f.read().rsplit(")", 1)[1].split()
            children.setdefault(int(parts[1]), []).append(int(stat.split("/")[2]))
        except (OSError, IndexError, ValueError):
            continue
    todo, out = list(children.get(root, [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _ended(pid: int) -> bool:
    """True once ``pid`` is gone. A zombie is not: it stays listed until
    its parent reaps it."""
    return not os.path.exists(f"/proc/{pid}")


def _wait_ended(pids: list[int], deadline: float) -> list[int]:
    """Wait until every pid has ended or ``deadline`` passes; returns the
    ones still there."""
    left = [p for p in pids if not _ended(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if not _ended(p)]
    return left


def stop_jvm(grace_s: float = 30.0) -> None:
    """End the JVM that py4j launched and every process below it (the
    Python worker daemon and its workers), and wait until each is gone.

    ``spark.stop()`` leaves the JVM running; it exits on its own only when
    this process has exited and closed its stdin, so without this it
    outlives the benchmark. Order matters: the worker daemon, already told
    to stop by ``spark.stop()``, is given time to end while the JVM is
    alive to reap it; then the JVM's stdin is closed and the JVM is reaped
    here. Anything still left after ``grace_s`` is killed."""
    import signal

    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    below = descendants(os.getpid())
    deadline = time.monotonic() + grace_s
    _wait_ended([p for p in below if proc is None or p != proc.pid], deadline)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in _wait_ended(below, time.monotonic() + 5.0):
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
    left = _wait_ended(below, time.monotonic() + 10.0)
    if left:
        raise RuntimeError(f"processes still running after the JVM stopped: {left}")


def settle_disk() -> None:
    """Commit the filesystem journal and wait for it. On a filesystem
    mounted with online discard, deleting data that was already written
    back queues discards that stall file creation for many seconds; run at
    the start and end of every run, this makes such work finish inside the
    run that caused it instead of slowing the next one."""
    os.sync()


def cleanup(run_dir: str) -> None:
    """Remove everything a run wrote except the oracle cache, the copy
    sources (rewritten in place by every run) and the last artifacts, so
    disk use stays flat however many runs are made."""
    shutil.rmtree(run_dir, ignore_errors=True)
