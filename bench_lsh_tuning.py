"""MinHash-LSH band/row tuning sweep — the measurement loop
xh_lsh_recall_eval (queries/dedup_oracle.py) was built for: pick the
production (bands, rows) from DATA, not from the S-curve rule of thumb.

For each configuration the candidate stage runs with the production
machinery (operators/dedup.py: exact mod-(2^61-1) signatures from the
same RandomState(42) permutations, the exact band-value equi join) over an audit subset of the sf0.1 documents, and is
scored against the EXACT Jaccard >= 0.7 pair set:

  recall    — tp / |exact pairs|: the number that matters at 100 TB,
              because the verify stage removes false positives but can
              NEVER resurrect a pair the bands missed (a recall miss is
              a duplicate that survives dedup at any scale — the
              signature math is scale-free).
  precision — tp / |candidates|: pure cost; every fp is one wasted
              array_intersect in the verify join.
  n_candidates / walls — the measured price of each config.

The exact side joins docs through an inverted shingle index (a J >= 0.7
pair always shares a shingle), never a cross join; the shingle frame
checkpoints once and feeds the index, both verify sides, and every
config's signatures.

Chosen config = fewest candidates among configs with recall >=
RECALL_FLOOR, ties to fewer permutations (cheaper signatures). Prints
one JSON line and records bench/lsh_tuning_results.json — cited from
SCALE.md's near-dup section.

Run: python bench_lsh_tuning.py
Env: SPARK_GRAFT_LSH_BASE (default /root/testdata/sf0.1),
     SPARK_GRAFT_LSH_MAX_ID (audit subset bound, default 1000).
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from hadoop_copier_spark.operators.dedup import (  # noqa: E402
    lsh_candidate_pairs,
    minhash_signature,
    overlap_pairs,
    shingle_hashes,
    verify_jaccard,
)
from hadoop_copier_spark.session import get_spark  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_LSH_BASE", "/root/testdata/sf0.1")
MAX_ID = int(os.environ.get("SPARK_GRAFT_LSH_MAX_ID", "4000"))
RECALL_FLOOR = 0.999
# (bands, rows): k = bands*rows permutations. The 16-perm family the
# verdict asked for, plus the 32-perm family containing the current
# production config (8 bands x r=4, operators/dedup.py defaults).
CONFIGS = [(2, 8), (4, 4), (8, 2), (4, 8), (8, 4), (16, 2)]


def main() -> None:
    spark = get_spark()
    docs = (
        spark.read.parquet(os.path.join(BASE, "documents.parquet"))
        .filter(F.col("text").isNotNull() & (F.col("doc_id") < MAX_ID))
        .select("doc_id", "text")
    )
    hashed = (
        shingle_hashes(docs, "text")
        .select("doc_id", "__shingle_hashes")
        .localCheckpoint(eager=True)
    )
    n_docs = hashed.count()
    t0 = time.monotonic()
    truth = (
        verify_jaccard(overlap_pairs(hashed, "doc_id"), hashed, "doc_id", 0.7)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    n_exact = truth.count()
    exact_sec = round(time.monotonic() - t0, 3)

    sigs_by_k, sig_sec_by_k = {}, {}
    for k in sorted({b * r for b, r in CONFIGS}):
        t0 = time.monotonic()
        sigs_by_k[k] = minhash_signature(hashed, "doc_id", k=k).localCheckpoint(eager=True)
        sig_sec_by_k[k] = round(time.monotonic() - t0, 3)

    rows = []
    for bands, r in CONFIGS:
        k = bands * r
        t0 = time.monotonic()
        cand = lsh_candidate_pairs(sigs_by_k[k], "doc_id", bands=bands, k=k)
        cand = cand.localCheckpoint(eager=True)
        band_sec = round(time.monotonic() - t0, 3)
        n_cand = cand.count()
        tp = cand.join(truth, ["id_a", "id_b"]).count()
        rows.append(
            {
                "bands": bands,
                "rows": r,
                "k": k,
                "n_candidates": n_cand,
                "tp": tp,
                "fp": n_cand - tp,
                "fn": n_exact - tp,
                "recall": round(tp / n_exact, 6) if n_exact else 1.0,
                "precision": round(tp / n_cand, 6) if n_cand else 1.0,
                "sig_sec": sig_sec_by_k[k],
                "band_join_sec": band_sec,
            }
        )

    eligible = [c for c in rows if c["recall"] >= RECALL_FLOOR]
    chosen = (
        min(eligible, key=lambda c: (c["n_candidates"], c["k"]))
        if eligible
        else max(rows, key=lambda c: c["recall"])
    )
    line = {
        "metric": "lsh_band_tuning",
        "base": BASE,
        "n_docs": n_docs,
        "n_exact_pairs": n_exact,
        "exact_side_sec": exact_sec,
        "threshold": 0.7,
        "recall_floor": RECALL_FLOOR,
        "configs": rows,
        "chosen": {k: chosen[k] for k in ("bands", "rows", "k")},
        "note": "chosen = fewest candidates subject to recall >= floor; "
        "fn at the candidate stage can never be recovered by verification",
    }
    print(json.dumps(line))
    with open(os.path.join(_REPO, "bench", "lsh_tuning_results.json"), "w") as f:
        json.dump(line, f, indent=1)


if __name__ == "__main__":
    main()
