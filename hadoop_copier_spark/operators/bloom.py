"""Broadcast Bloom-filter scan pruning — pre-filter a huge fact table
against a dimension key set WITHOUT shuffling the fact.

A semi-join prunes exactly but shuffles (or at least broadcasts a hash
relation of) the key set per executor core; at 100 TB the cheapest
possible prune is a bitmap: build an m-bit Bloom filter over the dim
keys (one bounded aggregate — the bitmap is m/32 longs regardless of key
count), broadcast the single bitmap row, and keep fact rows whose k
probe bits are all set, as a pure JVM Column expression inside the scan
stage. False positives pass (bounded by the classic (1-e^{-kn/m})^k
rate) and are removed by the real join later; false negatives are
impossible — the filter only ever REMOVES guaranteed non-matches. This
is the same trade Spark's own AQE runtime bloom filter makes; here it is
an explicit, engine-portable operator.

Portability is the point of this implementation: positions come from the
repo's portable 60-bit md5 hash (h60, queries/dedup_oracle.py), so a SQL
engine can rebuild the IDENTICAL bitmap and reproduce even the false
positives — the registered ``xh_bloom_prune`` query
(queries/quality_checks.py) hash-checks its pass / true-positive /
false-positive / false-negative counts against a DuckDB rebuild of the
same bitmap, bit-for-bit (``bloom_position_sql`` below is the one
generator that feeds both engines).

Plan shape: bitmap build = explode k positions per key -> word/bit ->
bit_or per word (uniform, tiny) -> broadcast left-join onto a dense
range(n_words) -> ONE global collect_list into the array (partial->final
single-partition over n_words scalar rows — the allowed aggregate
funnel). Probe = element_at + bitwiseAND, whole-stage codegen, no
Python."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import h60 as _h60

__all__ = ["bloom_build", "bloom_probe", "bloom_position_sql"]

_WORD = 32  # bits packed per BIGINT word (avoids sign-bit portability)


def _position(key: Column, i: int, m_bits: int) -> Column:
    return _h60(F.concat(F.lit(f"bl{i}:"), key.cast("string"))) % m_bits


def bloom_position_sql(key_sql: str, i: int, m_bits: int) -> str:
    """The DuckDB spelling of ``_position`` — one generator feeds both
    engines so the bitmaps cannot drift."""
    return (
        f"(('0x' || substr(md5('bl{i}:' || CAST({key_sql} AS VARCHAR)), 1, 15))"
        f"::BIGINT % {m_bits})"
    )


def bloom_build(
    spark: SparkSession, keys: DataFrame, key_col: str, m_bits: int = 16384, k: int = 3
) -> DataFrame:
    """ONE-row DataFrame ``(bloom: array<long>)`` of ``m_bits / 32``
    words over the distinct ``key_col`` values. Fully lazy — no driver
    collect; attach with ``fact.join(F.broadcast(bloom_df))``."""
    if m_bits % _WORD:
        raise ValueError(f"m_bits must be a multiple of {_WORD}")
    n_words = m_bits // _WORD
    key = F.col(key_col)
    pos = keys.select(
        F.explode(F.array(*[_position(key, i, m_bits) for i in range(k)])).alias("p")
    )
    word_bits = (
        pos.select(
            F.expr(f"CAST(p div {_WORD} AS BIGINT)").alias("w"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {_WORD} AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )
    dense = (
        spark.range(n_words)
        .select(F.col("id").cast("long").alias("w"))
        .join(F.broadcast(word_bits), "w", "left")
        .select("w", F.coalesce("bits", F.lit(0).cast("long")).alias("bits"))
    )
    return dense.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(w, bits))), x -> x.bits)"
        ).alias("bloom")
    )


def bloom_probe(
    bloom_col: Column, key: Column, m_bits: int = 16384, k: int = 3
) -> Column:
    """Boolean Column: all ``k`` probe bits set for ``key`` in the
    attached bitmap array. NULL keys probe false (a NULL key is never a
    guaranteed match)."""
    conds = []
    for i in range(k):
        p = _position(key, i, m_bits)
        word = F.element_at(bloom_col, F.floor(p / _WORD).cast("int") + F.lit(1))
        conds.append(word.bitwiseAND(_bitval(p)) != 0)
    return F.coalesce(reduce(lambda a, b: a & b, conds), F.lit(False))


def _bitval(p: Column) -> Column:
    # 1 << (p % 32) without F.shiftleft's int-only second argument:
    # look the value up in a 32-element literal power table
    powers = F.array(*[F.lit(1 << j).cast("long") for j in range(_WORD)])
    return F.element_at(powers, (p % _WORD).cast("int") + F.lit(1))
