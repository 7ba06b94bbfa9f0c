"""SCALE.md principle 5, enforced: results are identical regardless of
physical partitioning. Each representative query runs under different
spark.sql.shuffle.partitions settings (1 = serial-like, 7 = odd/prime,
32 = the local default) and must collect byte-identical rows — the
property that makes hash-checked decimal aggregation safe to scale from
local[32] to a 1000-executor cluster."""

import pytest

from hadoop_copier_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"

# one per risk family: multi-stage decimal agg, window, session boundary,
# iterative CC, set-op distinct, minhash banding
CASES = ["q24", "q35", "q63", "xh_dedup_clusters", "q45", "xh_ngram_jaccard",
         # portable-hash oracle twins: banding self-join + integer minhash,
         # and the fold-based fingerprint (order sensitivity is the point)
         "xh_minhash_lsh_pairs", "xh_doc_fingerprint",
         # round-7 additions, one per new risk family: FP-priority top-k
         # merged across partitions (A-ES), quantized-FP per-doc sums
         # (BM25), and window-framed FP distances (subsequence search)
         "xh_weighted_sample", "xh_bm25", "xh_subseq_search",
         # the one MinHash-LSH operator, exact band keys: production
         # (xxhash64) and the candidate-stage audit twin (h60)
         "xp_minhash_neardup", "xh_lsh_recall_eval"]


@pytest.mark.parametrize("name", CASES)
def test_result_invariant_under_shuffle_partitioning(spark, name):
    q = REGISTRY[name]
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    try:
        for n in ("1", "7", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            rows = q.fn(spark, SF).collect()
            # normalize row order for queries whose contract doesn't order
            results.append(sorted(map(tuple, rows)))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert results[0] == results[1] == results[2]


class TestSerializerDriverParity:
    """The local harness must be exactly as strict as the driver's hash
    (SURVEY §2b rule 5) — round 1's Decimal.normalize() masked scale
    mismatches the driver would flag."""

    def test_decimal_scale_mismatch_fails(self):
        from decimal import Decimal

        from hadoop_copier_spark.testing import _norm_value

        assert _norm_value(Decimal("1.20")) != _norm_value(Decimal("1.2"))
        assert _norm_value(Decimal("1.20")) == "1.20"

    def test_float_serialization_is_bit_exact(self):
        from hadoop_copier_spark.testing import _norm_value

        assert _norm_value(0.1 + 0.2) != _norm_value(0.3)
        assert _norm_value(1.0) == "1.0"

    def test_null_and_hash(self):
        from hadoop_copier_spark.testing import _norm_value, result_hash

        assert _norm_value(None) == "\\N"
        h1 = result_hash(["a", "b"], [(1, None), (2, "x")])
        h2 = result_hash(["b", "a"], [(None, 1), ("x", 2)])  # column order free
        assert h1 == h2
        assert h1 != result_hash(["a", "b"], [(1, None)])


class TestDriverFaithfulHarness:
    """Round-3 post-mortem regression pins (VERDICT r3 #1/#3): the local
    compare must reproduce the DRIVER's pandas serialization — DuckDB
    decimals arrive as float64 (`.df()`), Spark decimals as `Decimal`
    (`toPandas()`), so a trailing-zero decimal can NEVER hash-match and
    list-typed cells crash the canonicalization. The r3 harness kept
    Decimal on both sides and over-promised for the second round running;
    these tests fail if that infidelity ever comes back."""

    def test_trailing_zero_decimal_result_fails_locally(self, spark, sf_oracle, duck):
        from hadoop_copier_spark.testing import compare

        fn = lambda s, d: s.sql("SELECT 1 AS k, CAST(1.20 AS DECIMAL(12,2)) AS v")
        problems = compare(
            fn, "SELECT 1 AS k, CAST(1.20 AS DECIMAL(12,2)) AS v", spark, sf_oracle, con=duck
        )
        assert problems, (
            "a trailing-zero DECIMAL must FAIL the driver-faithful compare "
            "(Spark '1.20' vs DuckDB-pandas '1.2')"
        )

    def test_bigint_units_pass(self, spark, sf_oracle, duck):
        from hadoop_copier_spark.testing import compare

        fn = lambda s, d: s.sql("SELECT 1 AS k, CAST(120 AS BIGINT) AS v_cents")
        assert not compare(
            fn, "SELECT 1 AS k, CAST(120 AS BIGINT) AS v_cents", spark, sf_oracle, con=duck
        )

    def test_double_passes(self, spark, sf_oracle, duck):
        from hadoop_copier_spark.testing import compare

        fn = lambda s, d: s.sql("SELECT 1 AS k, CAST(1.2 AS DOUBLE) AS v")
        assert not compare(
            fn, "SELECT 1 AS k, CAST(1.2 AS DOUBLE) AS v", spark, sf_oracle, con=duck
        )

    def test_array_cell_raises_unsortable(self, spark, sf_oracle, duck):
        import pytest as _pytest

        from hadoop_copier_spark.testing import UnsortableResult, compare

        fn = lambda s, d: s.sql("SELECT array(1, 2) AS arr")
        with _pytest.raises(UnsortableResult):
            compare(fn, "SELECT [1, 2] AS arr", spark, sf_oracle, con=duck)

    def test_date_matches_midnight_timestamp(self, spark, sf_oracle, duck):
        """Driver-green q41/q50 evidence: Spark DATE (datetime.date) and
        DuckDB DATE (midnight Timestamp in pandas) serialize identically."""
        from hadoop_copier_spark.testing import compare

        fn = lambda s, d: s.sql("SELECT DATE '1996-01-01' AS dt")
        assert not compare(fn, "SELECT DATE '1996-01-01' AS dt", spark, sf_oracle, con=duck)


class TestFloorCentsDiscipline:
    """base.py's FLOOR(x*10^s+0.5) reconstruction must be exact for every
    money column at every SF — the precondition for the version-proof
    decimal rules (a raw double->decimal CAST is engine-version dependent;
    the floor path has no rounding step)."""

    COLS = [
        ("lineitem", ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]),
        ("orders", ["o_totalprice"]),
        ("customer", ["c_acctbal"]),
        ("supplier", ["s_acctbal"]),
        ("part", ["p_retailprice"]),
        ("events", ["value"]),
    ]

    def test_all_money_columns_exact_2dp(self, sf_oracle):
        import duckdb

        con = duckdb.connect()
        for tab, cols in self.COLS:
            for col in cols:
                bad = con.execute(
                    f"SELECT count(*) FROM read_parquet('{sf_oracle}/{tab}.parquet') "
                    f"WHERE {col} IS NOT NULL AND "
                    f"CAST(FLOOR({col} * 100 + 0.5) AS BIGINT) / 100.0 <> {col}"
                ).fetchone()[0]
                assert bad == 0, f"{tab}.{col}: {bad} values not exact 2dp"

    def test_dec_reconstruction_matches_oracle_on_adversarial_values(self, spark):
        """Values whose double sits just BELOW the true 2dp decimal (the
        truncation trap: 1234.56 stores as 1234.55999...) must reconstruct
        exactly, including negatives."""
        from decimal import Decimal

        import duckdb

        from hadoop_copier_spark.queries.base import dec, odec

        vals = [1234.56, 0.07, -1234.56, -0.07, 8.2, -8.2, 12345678.91, 0.0]
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        got = [r[0] for r in df.select(dec("x", 12, 2).alias("d")).collect()]
        assert got == [Decimal(f"{v:.2f}") for v in vals]
        con = duckdb.connect()
        duck = [
            con.execute(f"SELECT {odec(str(v), 12, 2)}").fetchone()[0] for v in vals
        ]
        assert duck == got
