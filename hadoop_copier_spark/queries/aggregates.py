"""Aggregation operators (SURVEY §2b Q24-Q33 + T/P extras).

Reference parity: the reference's only aggregations are filter+count over
item status (CopyTaskService.java:109-114), sum/boolean-AND over copy
results (HdfsCopyService.java:74-76,97-101) and the conditional rollup
(CopyTaskService.java:116-122); the relational aggregation surface here is
the north-star extension, executed by Spark's partial+final hash aggregate
(map-side combine — no raw-row shuffle).
"""

from __future__ import annotations

from .base import (
    F,
    cents,
    cents_sum,
    det_avg,
    hash_sample_by,
    ocents,
    ocents_sum,
    odet_avg,
    tbl,
    views,
)
from .registry import register

# Integer-units output discipline (VERDICT r3 #1): every driver-hashed money
# aggregate is emitted as BIGINT in fixed sub-units — cents (1e-2), 1e-4
# units for price*(1-disc), 1e-6 units for charge — never DECIMAL. The
# driver's pandas harness serializes DuckDB decimals as float64 but Spark
# decimals as Decimal, so any trailing-zero decimal cell hash-mismatches by
# construction. BIGINT survives any serializer bit-identically. Magnitudes:
# charge_e6 <= ~2e11/row, so a raw SUM(BIGINT) would wrap silently past
# ~4.6e7 rows per group (~sf30) under Spark's non-ANSI long sum (ADVICE r5).
# The INTERNAL accumulation therefore runs in DECIMAL(38,0) on the Spark
# side (exact below ~1e27 rows; past 2^63 the final BIGINT cast is LOUD —
# CAST_OVERFLOW under default ANSI mode, NULL under legacy non-ANSI, never
# a silent wrap; pinned by tests/test_boundaries.py) — DuckDB's
# SUM(BIGINT) is already exact HUGEINT — and only the final per-group
# value is cast BIGINT (lossless at any driver scale).
_Q24_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
  {ocents_sum('l_quantity')} AS sum_qty_cents,
  {ocents_sum('l_extendedprice')} AS sum_base_cents,
  CAST(SUM({ocents('l_extendedprice')} * (100 - {ocents('l_discount')})) AS BIGINT) AS sum_disc_price_e4,
  CAST(SUM({ocents('l_extendedprice')} * (100 - {ocents('l_discount')}) * (100 + {ocents('l_tax')})) AS BIGINT) AS sum_charge_e6,
  {odet_avg('l_quantity')} AS avg_qty,
  COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q24", oracle=_Q24_ORACLE, tags=("agg", "flagship"))
def q24(spark, sf_dir):
    """Hash aggregate, TPC-H Q1 analog: scan -> filter -> groupBy -> exact
    integer-unit sums / double avg / count -> order. Partial aggregation
    happens map-side; only the (3 x 2)-key aggregate state shuffles, so this
    scales to any row count."""
    li = tbl(spark, sf_dir, "lineitem")
    # All arithmetic on exact integer sub-units (cents etc.) — exact,
    # order-independent, and serializer-proof in both engines.
    disc_price_e4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    charge_e6 = disc_price_e4 * (F.lit(100) + cents("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            cents_sum("l_quantity", "sum_qty_cents"),
            cents_sum("l_extendedprice", "sum_base_cents"),
            F.sum(disc_price_e4.cast("decimal(38,0)")).cast("bigint").alias("sum_disc_price_e4"),
            F.sum(charge_e6.cast("decimal(38,0)")).cast("bigint").alias("sum_charge_e6"),
            det_avg("l_quantity", "avg_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q25",
    oracle=f"""SELECT MIN(l_quantity) AS min_qty, MAX(l_extendedprice) AS max_price,
                     {ocents_sum('l_extendedprice')} AS sum_price_cents,
                     COUNT(*) AS n,
                     {odet_avg('l_quantity')} AS avg_qty
              FROM lineitem""",
    tags=("agg",),
)
def q25(spark, sf_dir):
    """Global (no-group) aggregate — min/max are order-independent on raw
    doubles; sum as BIGINT cents, avg as double (integer-units rule: the r3
    DECIMAL form passed only because its single cell had no trailing zero)."""
    li = tbl(spark, sf_dir, "lineitem")
    return li.agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_extendedprice").alias("max_price"),
        cents_sum("l_extendedprice", "sum_price_cents"),
        F.count(F.lit(1)).alias("n"),
        det_avg("l_quantity", "avg_qty"),
    )


@register(
    "q26",
    oracle="""SELECT l_returnflag,
                     COUNT(DISTINCT l_partkey) AS nd_part,
                     COUNT(DISTINCT l_suppkey) AS nd_supp,
                     COUNT(*) AS n
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    tags=("agg", "distinct"),
)
def q26(spark, sf_dir):
    """Multi-distinct aggregate (Catalyst expands to two aggregations; at
    scale prefer approx_count_distinct — see p_approx_sketches)."""
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("nd_part"),
            F.countDistinct("l_suppkey").alias("nd_supp"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q27",
    oracle=f"""SELECT n_name,
                     {ocents_sum('o_totalprice')} AS spend_cents,
                     COUNT(*) AS n_orders
              FROM customer
              JOIN nation ON c_nationkey = n_nationkey
              JOIN orders ON o_custkey = c_custkey
              GROUP BY n_name
              HAVING SUM({ocents('o_totalprice')}) > 100000000
              ORDER BY n_name""",
    tags=("agg", "having"),
)
def q27(spark, sf_dir):
    """HAVING: per-nation customer spend above a threshold (filter applied
    post-aggregation; nation broadcast). Spend emitted as BIGINT cents —
    the integer-units rule; the HAVING threshold is the same 1,000,000
    currency units expressed in cents."""
    c = tbl(spark, sf_dir, "customer")
    n = tbl(spark, sf_dir, "nation")
    o = tbl(spark, sf_dir, "orders")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .groupBy("n_name")
        .agg(
            cents_sum("o_totalprice", "spend_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .filter(F.col("spend_cents") > 100000000)
        .orderBy("n_name")
    )


@register(
    "q28",
    oracle="""SELECT n_name, r_name,
                     GROUPING(n_name) AS g_n, GROUPING(r_name) AS g_r,
                     COUNT(*) AS n_cust
              FROM customer
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              GROUP BY GROUPING SETS ((n_name), (r_name), ())
              ORDER BY g_n, g_r, n_name NULLS FIRST, r_name NULLS FIRST""",
    tags=("agg", "groupingsets"),
)
def q28(spark, sf_dir):
    """GROUPING SETS with GROUPING() ids — SQL form on temp views (the
    DataFrame DSL has no grouping-sets API; Catalyst expands to a single
    Expand + aggregate, one shuffle)."""
    views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name, r_name,
               CAST(GROUPING(n_name) AS INT) AS g_n, CAST(GROUPING(r_name) AS INT) AS g_r,
               COUNT(*) AS n_cust
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((n_name), (r_name), ())
        ORDER BY g_n, g_r, n_name NULLS FIRST, r_name NULLS FIRST
        """
    )


@register(
    "q29",
    oracle="""SELECT r_name, n_name, COUNT(*) AS n
              FROM nation JOIN region ON n_regionkey = r_regionkey
              GROUP BY ROLLUP (r_name, n_name)
              ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""",
    tags=("agg", "rollup"),
)
def q29(spark, sf_dir):
    """ROLLUP via the DataFrame DSL (df.rollup)."""
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


@register(
    "q30",
    oracle="""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
              FROM orders
              GROUP BY CUBE (o_orderstatus, o_orderpriority)
              ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    tags=("agg", "cube"),
)
def q30(spark, sf_dir):
    """CUBE via the DataFrame DSL (df.cube)."""
    o = tbl(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("o_orderstatus").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first())
    )


# Composite VARCHAR ordering key: acctbal (offset positive, zero-padded) then
# custkey — gives max_by/arg_max a total order both engines agree on even if
# two customers in a nation share an acctbal.
_TIE_KEY_SPARK = "format_string('%012.2f', c_acctbal + 100000.0) || format_string('%015d', c_custkey)"
_TIE_KEY_DUCK = "printf('%012.2f', c_acctbal + 100000.0) || printf('%015d', c_custkey)"


@register(
    "q31",
    oracle=f"""SELECT n_name,
                      arg_max(c_name, {_TIE_KEY_DUCK}) AS richest,
                      arg_min(c_name, {_TIE_KEY_DUCK}) AS poorest
               FROM customer JOIN nation ON c_nationkey = n_nationkey
               GROUP BY n_name ORDER BY n_name""",
    tags=("agg", "argextremum"),
)
def q31(spark, sf_dir):
    """min_by/max_by (arg-extremum) with a deterministic composite tiebreak
    (DuckDB arg_max lacks struct ordering keys, so both engines order by the
    same padded string)."""
    c = tbl(spark, sf_dir, "customer")
    n = tbl(spark, sf_dir, "nation")
    key = F.expr(_TIE_KEY_SPARK)
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.max_by("c_name", key).alias("richest"),
            F.min_by("c_name", key).alias("poorest"),
        )
        .orderBy("n_name")
    )


@register(
    "q32",
    oracle="""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
              FROM nation JOIN region ON n_regionkey = r_regionkey
              GROUP BY r_name ORDER BY r_name""",
    tags=("agg", "collect"),
)
def q32(spark, sf_dir):
    """collect_list canonicalized with sort_array (rule 4), then serialized
    to a CSV scalar: the driver's pandas canonicalization crashes sorting
    raw ArrayType cells (r3/r4 ``TypeError: unhashable type: 'list'``), so
    collection results must leave the query as scalars."""
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations"))
        .orderBy("r_name")
    )


@register(
    "q33",
    oracle=f"""SELECT l_returnflag,
                     quantile_cont({ocents('l_quantity')}, 0.5) / 100.0 AS p50,
                     quantile_cont({ocents('l_quantity')}, 0.9) / 100.0 AS p90
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    tags=("agg", "percentile"),
)
def q33(spark, sf_dir):
    """Exact interpolated percentile (Spark percentile <-> DuckDB
    quantile_cont) computed over exact integer cents so both engines
    interpolate between the same integers (``lo + (hi-lo)*frac`` on both
    sides); the /100.0 is one IEEE division — bit-stable, emitted as
    DOUBLE (no version-sensitive decimal cast, see base.py)."""
    li = tbl(spark, sf_dir, "lineitem")
    qc = "CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)"
    return (
        li.groupBy("l_returnflag")
        .agg(
            (F.expr(f"percentile({qc}, 0.5)") / F.lit(100.0)).alias("p50"),
            (F.expr(f"percentile({qc}, 0.9)") / F.lit(100.0)).alias("p90"),
        )
        .orderBy("l_returnflag")
    )


@register("xt_stddev_corr", oracle=None, tags=("agg", "tolerance"))
def t_stddev_corr(spark, sf_dir):
    """T-class (tolerance-checked, not hash-checked): stddev_pop/stddev_samp
    of l_extendedprice and corr(l_quantity, l_extendedprice) per returnflag.
    Double aggregation is order-dependent, so this is compared to DuckDB
    with 1e-6 relative tolerance in tests/test_tolerance.py, not hashed."""
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.stddev_pop("l_extendedprice").alias("sd_pop"),
            F.stddev_samp("l_extendedprice").alias("sd_samp"),
            F.var_pop("l_extendedprice").alias("var_pop"),
            F.corr("l_quantity", "l_extendedprice").alias("corr_qp"),
        )
        .orderBy("l_returnflag")
    )


@register("xp_approx_sketches", oracle=None, tags=("agg", "approx"))
def p_approx_sketches(spark, sf_dir):
    """P-class: approx_count_distinct (HLL) + approx percentile sketches —
    the 100 TB path for Q26/Q33-style questions (mergeable, single pass,
    no expand). Property-checked within 5% of exact in tests."""
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("apx_nd_part"),
            F.percentile_approx("l_quantity", 0.5, 10000).alias("apx_p50"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "xh_pivot",
    oracle=f"""SELECT l_returnflag,
                     CAST(SUM(CASE WHEN l_linestatus = 'F' THEN {ocents('l_quantity')} END) AS BIGINT) AS qty_f_cents,
                     CAST(SUM(CASE WHEN l_linestatus = 'O' THEN {ocents('l_quantity')} END) AS BIGINT) AS qty_o_cents
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    tags=("agg", "pivot"),
)
def h_pivot(spark, sf_dir):
    """Pivot: linestatus columns out of rows (DataFrame .pivot with an
    explicit value list — never let the engine scan for distinct pivot
    values at 100 TB; the oracle is the CASE-sum spelling). Sums emitted
    as BIGINT cents (integer-units rule)."""
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(cents("l_quantity")))
        .select(
            "l_returnflag",
            F.col("F").alias("qty_f_cents"),
            F.col("O").alias("qty_o_cents"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "xh_unpivot",
    oracle="""SELECT o_orderkey, metric, val FROM (
                SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS val FROM orders
                UNION ALL
                SELECT o_orderkey, 'custkey' AS metric, CAST(o_custkey AS DOUBLE) AS val FROM orders)
              ORDER BY o_orderkey, metric""",
    tags=("agg", "unpivot"),
)
def h_unpivot(spark, sf_dir):
    """Unpivot / melt via the DataFrame unpivot API (wide -> long); the
    oracle is the UNION ALL spelling."""
    o = tbl(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            F.col("o_custkey").cast("double").alias("custkey"),
        )
        .unpivot("o_orderkey", ["totalprice", "custkey"], "metric", "val")
        .orderBy("o_orderkey", "metric")
    )


@register("xp_stratified_sample", oracle=None, tags=("llm", "sampling"))
def p_stratified_sample(spark, sf_dir):
    """P-class: seeded stratified sampling per language — the
    training-data rebalancing primitive. A hash-threshold sample on doc_id
    (base.hash_sample_by), so the result is a pure function of the rows:
    identical on every run and layout; tests assert per-stratum rates
    within tolerance."""
    d = tbl(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "de": 0.5, "es": 0.2, "fr": 0.2, "zh": 0.1}
    sampled = hash_sample_by(d, "lang", fractions, key="doc_id", seed=42)
    return (
        sampled.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("lang")
    )


@register(
    "xh_string_agg",
    oracle="""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
              FROM nation JOIN region ON n_regionkey = r_regionkey
              GROUP BY r_name ORDER BY r_name""",
    tags=("agg", "stringagg"),
)
def h_string_agg(spark, sf_dir):
    """Ordered string aggregation (DuckDB string_agg ... ORDER BY <->
    Spark sort_array(collect_list) + concat_ws — rule 4 canonicalization
    makes the concatenation order explicit on both sides)."""
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations_csv"))
        .orderBy("r_name")
    )
