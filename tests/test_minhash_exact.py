"""The one MinHash-LSH implementation (operators/dedup.py) computes exactly
the math its docstrings state — checked against Python integers, not
against another Spark spelling:

  signature slot i = min over h of (a_i·h + b_i) mod (2^61 − 1)
  candidate pair   = equal on every signature value of some band
  verify           = den·|A∩B| >= num·|A∪B| for threshold num/den
"""

import random

import pytest
from pyspark.sql import functions as F

from hadoop_copier_spark.operators.dedup import (
    _minhash_params,
    _mod_affine,
    lsh_candidate_pairs,
    minhash_signature,
    verify_jaccard,
)
from hadoop_copier_spark.plans.inspect import explain_str
from hadoop_copier_spark.queries import REGISTRY

P = (1 << 61) - 1
I64_MIN, I64_MAX = -(1 << 63), (1 << 63) - 1
EDGES = [0, -1, I64_MIN, I64_MAX, P - 1, P, P + 1, -P, 1 << 61, (1 << 31) - 1]


def _frame(spark, rows, schema):
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)


@pytest.mark.parametrize("k", [8, 32])
def test_minhash_signature_equals_python_mod_p(spark, k):
    rng = random.Random(k)
    docs = [
        (i, [rng.randint(I64_MIN, I64_MAX) for _ in range(rng.randint(1, 12))])
        for i in range(60)
    ]
    docs.append((100, EDGES))
    docs += [(200 + j, [h]) for j, h in enumerate(EDGES)]
    df = _frame(spark, docs, "doc_id long, __shingle_hashes array<bigint>")
    got = {r[0]: list(r[1:]) for r in minhash_signature(df, "doc_id", k=k).collect()}
    a, b = _minhash_params(k)
    want = {
        i: [min((int(a[j]) * h + int(b[j])) % P for h in hs) for j in range(k)]
        for i, hs in docs
    }
    assert got == want


def test_mod_affine_worst_case_operands_stay_in_long(spark):
    """Extreme (a, b, h) — all 31-bit halves at their maxima — would raise
    ANSI long overflow if any intermediate reached 2^63."""
    hs = [0, 1, P - 1, P - 2, (1 << 31) - 1, 1 << 31, ((1 << 30) - 1) << 31]
    ab = [(a, b) for a in (1, (1 << 31) - 1, 1 << 31, P - 1, P - 2) for b in (0, P - 1)]
    df = _frame(spark, [(h >> 31, h & ((1 << 31) - 1)) for h in hs], "hi long, lo long")
    rows = df.select(
        *[_mod_affine(F.col("hi"), F.col("lo"), a, b).alias(f"c{i}") for i, (a, b) in enumerate(ab)]
    ).collect()
    assert [list(r) for r in rows] == [[(a * h + b) % P for a, b in ab] for h in hs]


def test_lsh_candidate_pairs_key_on_exact_band_values(spark):
    """k=4, 2 bands of r=2: docs 1 and 2 agree on band 1 only, doc 3 agrees
    with doc 1 on one value of each band — only (1, 2) is a candidate."""
    sig = _frame(
        spark,
        [(1, 10, 11, 12, 13), (2, 90, 91, 12, 13), (3, 10, 99, 98, 13)],
        "doc_id long, __s0 long, __s1 long, __s2 long, __s3 long",
    )
    got = {tuple(r) for r in lsh_candidate_pairs(sig, "doc_id", bands=2, k=4).collect()}
    assert got == {(1, 2)}


def test_verify_jaccard_integer_threshold(spark):
    """Jaccard exactly 7/10 passes 0.7 and fails 0.71; the output carries
    the exact integer counts."""
    sets = _frame(
        spark,
        [(1, list(range(8))), (2, list(range(1, 10))), (3, list(range(3, 9))),
         (4, list(range(2, 10)))],
        "doc_id long, __shingle_hashes array<bigint>",
    )
    pairs = _frame(spark, [(1, 2), (3, 4), (1, 3)], "id_a long, id_b long")
    # (1,2): 7 shared of 10 = 0.7; (3,4): 6 of 8 = 0.75; (1,3): 5 of 9
    got = {tuple(r) for r in verify_jaccard(pairs, sets, "doc_id", 0.7).collect()}
    assert got == {(1, 2, 7, 10), (3, 4, 6, 8)}
    got = {tuple(r) for r in verify_jaccard(pairs, sets, "doc_id", 0.71).collect()}
    assert got == {(3, 4, 6, 8)}


def test_oracle_twin_signature_exchange_ships_partial_minima(spark, sf_oracle):
    """The signature aggregate explodes shingles map-side: every doc_id
    hash exchange in the twin's plan sits directly on a partial_min
    aggregate, so no exploded shingle row ever crosses the network."""
    text = explain_str(REGISTRY["xh_minhash_lsh_pairs"].fn(spark, sf_oracle), "simple")
    lines = text.splitlines()
    ex = [i for i, ln in enumerate(lines) if "Exchange hashpartitioning(doc_id" in ln]
    assert ex, text[:2000]
    for i in ex:
        assert "partial_min(" in lines[i + 1], lines[i + 1][:300]
