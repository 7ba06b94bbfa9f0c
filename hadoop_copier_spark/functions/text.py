"""Text-analysis column functions (SURVEY north-star: language-ID, quality
scoring, token counting, document fingerprinting).

All are pure Column expressions (JVM-side, codegen'd) — no Python in the
hot path, so they vectorize over 100 TB exactly like built-ins.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword profiles (public common function words).
_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "nicht"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "en"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不"],
}


def word_tokens(text: Column) -> Column:
    """Lowercased whitespace tokens with empties dropped — the one
    tokenization the dedup operators, their DuckDB oracles and the text
    scores share."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def h60(col: Column) -> Column:
    """Portable 60-bit hash: int(md5(s)[0:15], 16). md5 is bit-identical in
    every engine and 15 hex digits fit BIGINT, so DuckDB reproduces it as
    ``('0x' || substr(md5(s), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def whitespace_token_count(text: Column) -> Column:
    """Token count by whitespace splitting."""
    return F.size(word_tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token count: runs of letters, runs of digits, or single
    non-alphanumeric marks (a cheap proxy for subword tokenizer counts)."""
    return F.size(F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)"))


def lang_id_guess(text: Column) -> Column:
    """Heuristic language ID: argmax over stopword-profile hit counts
    (deterministic tiebreak by language code; 'und' when nothing hits)."""
    toks = word_tokens(text)
    scores = [
        F.struct(
            F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in words]))).alias("hits"),
            F.lit(code).alias("code"),
        )
        for code, words in sorted(_STOPWORDS.items())
    ]
    # array_max on struct(hits, code): max hits, tie -> lexicographically
    # greatest code; deterministic either way.
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["code"]).otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score from length, punctuation ratio,
    stopword ratio and mean word length (decimal-rounded, deterministic)."""
    n_chars = F.length(text)
    toks = word_tokens(text)
    n_toks = F.size(toks)
    punct = F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", ""))
    punct_ratio = punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    all_stop = F.array(*[F.lit(w) for ws in _STOPWORDS.values() for w in ws])
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(all_stop, t))).cast("double")
        / F.greatest(n_toks, F.lit(1)).cast("double")
    )
    mean_word_len = n_chars.cast("double") / F.greatest(n_toks, F.lit(1)).cast("double")
    length_term = F.least(n_chars.cast("double") / F.lit(500.0), F.lit(1.0))
    word_len_term = F.when((mean_word_len >= 3) & (mean_word_len <= 10), 1.0).otherwise(0.5)
    score = (
        0.4 * length_term + 0.2 * (1.0 - punct_ratio) + 0.2 * stop_ratio + 0.2 * word_len_term
    )
    return score.cast("double")


def doc_fingerprint(text: Column) -> Column:
    """Order-sensitive rolling fingerprint: polynomial combination of token
    hashes (base 31, modular — bounded so ANSI mode never sees a long
    overflow; deterministic JVM-side)."""
    toks = word_tokens(text)
    hashed = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(1 << 40)))
    return F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, h: F.pmod(acc * F.lit(31) + h, F.lit(1 << 50)),
    )
