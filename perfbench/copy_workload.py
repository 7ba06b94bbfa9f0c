"""The copy half of copy_stream: sequential ``CopyJobEngine.submit()``
requests, checksum on.

Requests, their bytes generated from the seed outside the timed spans:

* (a) a deep tree of many small files with heavy-tailed sizes: listing,
  planning and per-file work;
* (b) one file above ``DEFAULT_SPLIT_THRESHOLD`` (byte-range split path)
  and one just below it (single-stream path), one request each: the
  ``fs`` byte stream and MD5;
* (c) one throttled file, copied once per run: the measured rate must lie
  within [0.8, 1.2] of the cap.

A pass is (a) then the two (b) requests; the first pass after set-up is
cold (and also runs (c)), the rest are warm. Every request must end
COMPLETED with every item checksumVerified, and each destination tree is
compared with its source by the benchmark's own SHA-256 of every file, not
by the engine's MD5 flag.

The sources live under ``.perfbench/inputs/`` and every run rewrites them
in place; only their bytes depend on the seed, their paths and sizes are
fixed. On a filesystem mounted with online discard, deleting data the
kernel has already written back costs about 11 ms per file and 25 ms per
MB, and the queued discards stall file creation meanwhile; when to write
back is the kernel's choice (it wrote the tree back within 10 s in some
runs), so deleting the 4,000-file tree took from 0.1 s to 58 s per run.
Rewriting a file in place at its old size frees no blocks and queues no
discard. Destinations are deleted as soon as they are checked, about a
second after they are written.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np

from harness import WORK, Run, median

TREE_FILES = 4_000
TREE_FANOUT = 6  # directories per level; files go 2..6 levels deep
FILES_PER_DIR = 8
# BENCH-5 of bench_copy.py: 64 MiB at a 10 MiB/s cap (MiB/s, as the engine
# reads ``bandwidth``). The rate is taken over the whole request wall, which
# also holds the request's fixed cost (job launch, status rollup: about
# 0.4 s on 4 cores); over a 6.4 s copy that cost is a few percent of the
# rate, over a 2 s one it was 15-20 %.
THROTTLE_MB = 10
THROTTLE_FILE_MB = 64
BIG_OFFSET_MB = 24  # the split pair's distance from DEFAULT_SPLIT_THRESHOLD
SIZES_SEED = 0  # the tree's file sizes; fixed so sources can be rewritten in place
MiB = 1024 * 1024
INPUTS = os.path.join(WORK, "inputs", "copy")


def _write(path: str, data: bytes) -> None:
    """Write ``data`` over the file in place: opening without truncation
    keeps the blocks it already has (see the module docstring)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with os.fdopen(os.open(path, os.O_WRONLY | os.O_CREAT, 0o644), "wb") as f:
        f.write(data)
        f.truncate()


def make_tree(root: str, rng: np.random.Generator) -> dict[str, str]:
    """Deep tree of TREE_FILES files, lognormal sizes (median 4 KiB, a few
    up to 1 MiB, a few empty) drawn from SIZES_SEED, bytes from ``rng``.
    Returns {relative path: sha256}."""
    fixed = np.random.default_rng(SIZES_SEED)
    sizes = np.minimum(fixed.lognormal(np.log(4096), 1.5, TREE_FILES), MiB).astype(np.int64)
    sizes[fixed.random(TREE_FILES) < 0.01] = 0
    blob = rng.bytes(int(sizes.sum()))
    digests, off = {}, 0
    for i, size in enumerate(sizes.tolist()):
        x, parts = i // FILES_PER_DIR, []
        for _ in range(2 + i % 5):
            parts.append(f"d{x % TREE_FANOUT}")
            x //= TREE_FANOUT
        rel = os.path.join(*parts, f"f{i:05d}.bin")
        data = blob[off:off + size]
        off += size
        _write(os.path.join(root, rel), data)
        digests[rel] = hashlib.sha256(data).hexdigest()
    return digests


def make_big(path: str, size: int, block: bytes) -> str:
    """A file of ``size`` bytes: ``block`` repeated with each repetition's
    index written into its first 8 bytes. Returns its sha256. Like
    ``_write``, it rewrites the file in place."""
    block = bytearray(block)
    h = hashlib.sha256()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with os.fdopen(os.open(path, os.O_WRONLY | os.O_CREAT, 0o644), "wb") as f:
        for i, off in enumerate(range(0, size, len(block))):
            block[:8] = i.to_bytes(8, "little")
            chunk = bytes(block[: min(len(block), size - off)])
            f.write(chunk)
            h.update(chunk)
        f.truncate()
    return h.hexdigest()


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(MiB), b""):
            h.update(chunk)
    return h.hexdigest()


def tree_digests(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[os.path.relpath(p, root)] = file_digest(p)
    return out


def phase(r: Run, rng: np.random.Generator, seconds: float) -> dict:
    """Cold pass, then warm passes while ``seconds`` allow (at least one).
    Returns the cold walls, the warm walls per request, the request spans,
    the per-layer numbers and the artifact."""
    from hadoop_copier_spark.copyjob import (
        DEFAULT_SPLIT_CHUNK,
        DEFAULT_SPLIT_THRESHOLD,
        CopyItem,
        CopyJobEngine,
        CopyRequest,
    )
    from hadoop_copier_spark.fs import fs_for

    spark = r.spark
    base = os.path.join(r.run_dir, "copy")

    src_a = os.path.join(INPUTS, "tree")
    src_b = os.path.join(INPUTS, "big")
    want_a = make_tree(src_a, rng)
    big = {
        "above.bin": DEFAULT_SPLIT_THRESHOLD + BIG_OFFSET_MB * MiB,
        "below.bin": DEFAULT_SPLIT_THRESHOLD - BIG_OFFSET_MB * MiB,
    }
    want_b = {n: make_big(os.path.join(src_b, n), s, rng.bytes(4 * MiB)) for n, s in sorted(big.items())}
    throttled = os.path.join(INPUTS, "throttled", "throttled.bin")
    want_c = {"throttled.bin": make_big(throttled, THROTTLE_FILE_MB * MiB, rng.bytes(4 * MiB))}
    bytes_a = sum(os.path.getsize(os.path.join(src_a, p)) for p in want_a)
    bytes_b = sum(big.values())
    split_chunks = sum(-(-s // DEFAULT_SPLIT_CHUNK) for s in big.values() if s > DEFAULT_SPLIT_THRESHOLD)
    engine = CopyJobEngine(spark)
    submits: list[dict] = []

    def submit(op: str, phase: str, items: list, want: dict, bandwidth=None):
        """One request; returns its wall when its output is correct."""
        dst_root = os.path.join(base, f"dst_{op}")
        request = CopyRequest(
            "local",
            [CopyItem(s, os.path.join(dst_root, os.path.basename(s))) for s in items],
            bandwidth=bandwidth,
        )
        try:
            with r.span(f"{op}/{phase}", group=f"{r.workload}/{op}/{phase}") as span:
                rid = engine.submit(request)
            status = engine.status(rid)
            ok = status["status"] == "COMPLETED" and all(i["checksumVerified"] for i in status["items"])
            detail = "" if ok else f"status {status['status']}, items {status['items']}"[:400]
            if ok:
                got = {}
                for s in items:
                    dst = os.path.join(dst_root, os.path.basename(s))
                    if os.path.isdir(s):
                        got.update(tree_digests(dst))
                    elif os.path.exists(dst):
                        got[os.path.basename(s)] = file_digest(dst)
                ok = got == want
                if not ok:
                    bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
                    detail = f"{len(bad)} destination files differ from the source, e.g. {bad[:3]}"
        except Exception as e:  # a failing request is counted, the run goes on
            ok, detail, span = False, f"{type(e).__name__}: {e}", None
        finally:
            shutil.rmtree(dst_root, ignore_errors=True)
        r.check(f"{op}/{phase}", ok, detail)
        if span is not None:
            submits.append({"op": op, "phase": phase, **span})
        return span["wall"] if ok else None

    requests = [("a", [src_a], want_a)] + [
        (f"b_{n[:-4]}", [os.path.join(src_b, n)], {n: want_b[n]}) for n in sorted(big)
    ]
    walls: dict[str, list[float]] = {op: [] for op, _, _ in requests}
    cold: dict[str, float] = {}
    t_start = time.perf_counter()
    pass_no, last = 0, 0.0
    while pass_no < 2 or time.perf_counter() - t_start + last / 2 <= seconds:
        p0 = time.perf_counter()
        phase = "cold" if pass_no == 0 else "warm"
        for op, items, want in requests:
            w = submit(op, phase, items, want)
            if w is not None and pass_no:
                walls[op].append(w)
            elif w is not None:
                cold[op] = w
        if pass_no == 0:
            w = submit("c", "cold", [throttled], want_c, bandwidth=THROTTLE_MB)
            ratio = (THROTTLE_FILE_MB / w) / THROTTLE_MB if w else 0.0
            r.check("c/throttle_ratio", 0.8 <= ratio <= 1.2, f"rate/cap = {ratio:.3f}")
        pass_no, last = pass_no + 1, time.perf_counter() - p0

    warm = {op: median(v) for op, v in walls.items()}
    # how far the throttled rate strays from its cap, either way
    layer = {"copy.throttle_dev": abs(ratio - 1.0), "copy.split_chunks": split_chunks}
    if warm["a"]:
        layer["copy.files_per_s"] = len(want_a) / warm["a"]
    if warm["b_above"] and warm["b_below"]:
        layer["copy.MBps"] = bytes_b / 1e6 / (warm["b_above"] + warm["b_below"])
    if r.trace:
        with r.span("fs/list") as s:
            fs_for(src_a).walk_files_with_size(src_a)
        layer["fs.list_s"] = s["wall"]
        layer["fs.stream_MBps"] = _fs_stream(r, os.path.join(src_b, "below.bin"), os.path.join(base, "fs_stream.bin"))
    shutil.rmtree(base, ignore_errors=True)
    # copy.* counts cover the cold pass and the first warm pass of (a), (b)
    layer_ops = [s for s in submits if s["op"] != "c" and s["phase"] == "cold"]
    layer_ops += [next(s for s in submits if s["op"] == op and s["phase"] == "warm") for op in walls if walls[op]]
    layer["copy.submit_s"] = sum(s["wall"] for s in layer_ops)
    layer["copy.files"] = sum(len(want_a) if s["op"] == "a" else 1 for s in layer_ops)
    layer["copy.bytes"] = sum(bytes_a if s["op"] == "a" else big[s["op"][2:] + ".bin"] for s in layer_ops)
    artifact = {
        "tree_files": len(want_a), "tree_bytes": bytes_a, "split_bytes": big,
        "cold": cold, "warm": walls, "throttle_ratio": ratio, "passes": pass_no,
    }
    return {"cold": cold, "warm": warm, "spans": submits, "layer_spans": layer_ops,
            "layer": layer, "artifact": artifact}


def attribute(r: Run, log: dict, part: dict) -> dict:
    """copy.* numbers from the Spark jobs inside the request spans."""
    copy = r.exec_metrics(log, part["layer_spans"], prefix="copy")
    out = {k: copy[k] for k in ("copy.jobs", "copy.tasks", "copy.run_s")}
    out["copy.driver_s"] = copy["copy.driver_gap_s"]
    return out


def _fs_stream(r: Run, src: str, dst: str) -> float:
    """One open_read -> MD5 -> create -> re-verify stream through the fs
    layer, as the engine's single-stream path does it; MB/s."""
    from hadoop_copier_spark.copyjob import BUFFER_SIZE
    from hadoop_copier_spark.fs import fs_for

    sfs, dfs = fs_for(src), fs_for(dst)
    with r.span("fs/stream") as s:
        digest = hashlib.md5()
        with sfs.open_read(src) as fin, dfs.create(dst) as fout:
            for chunk in iter(lambda: fin.read(BUFFER_SIZE), b""):
                digest.update(chunk)
                fout.write(chunk)
        check = hashlib.md5()
        with dfs.open_read(dst) as fin:
            for chunk in iter(lambda: fin.read(BUFFER_SIZE), b""):
                check.update(chunk)
    r.check("fs/stream", check.digest() == digest.digest(), "re-read digest differs")
    size = os.path.getsize(dst)
    os.remove(dst)
    return size / 1e6 / s["wall"]
