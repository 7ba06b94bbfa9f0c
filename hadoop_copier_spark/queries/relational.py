"""Scans, sources/sinks, projection, filters, casts (SURVEY §2b Q01-Q11).

Reference parity notes:
- Q01/Q02 are the engine form of the reference's file scan + enumeration
  (HdfsCopyService.java:124, :67-109) lifted to columnar table scans.
- Q03-Q05 are the read->transform->write surface the reference's copy loop
  (HdfsCopyService.java:111-151) maps onto: ``spark.read`` -> ``df.write``
  with Catalyst handling parallelism instead of a hand-rolled thread pool
  (AsyncConfig.java:16-25).

Scale notes: every query here is a single scan with pushed filters/pruned
columns (verified via .explain in tests); sinks use distributed writes —
no driver materialization.
"""

from __future__ import annotations

from .base import F, cents, ocents, scratch_dir, tbl
from .registry import register


@register(
    "q01",
    oracle="SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber",
    tags=("scan",),
)
def q01(spark, sf_dir):
    """Parquet scan, all 11 columns, fully ordered."""
    return tbl(spark, sf_dir, "lineitem").orderBy("l_orderkey", "l_linenumber")


_Q02_ORACLE = " UNION ALL ".join(
    f"SELECT '{t}' AS table_name, COUNT(*) AS n FROM {t}"
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
) + " ORDER BY table_name"


@register("q02", oracle=_Q02_ORACLE, tags=("scan",))
def q02(spark, sf_dir):
    """COUNT(*) per fixture table (scan + count-star, metadata-only where
    parquet row-group stats allow)."""
    from ..tables import TABLES

    out = None
    for t in TABLES:
        one = tbl(spark, sf_dir, t).agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(t).alias("table_name"), F.col("n")
        )
        out = one if out is None else out.unionAll(one)
    return out.orderBy("table_name")


@register(
    "q03",
    oracle="SELECT * FROM nation ORDER BY n_nationkey",
    tags=("source", "sink"),
)
def q03(spark, sf_dir):
    """CSV round-trip: write `nation` with header, read back with the
    explicit schema (no inference), ordered. Distributed write/read — the
    same code path a 100 TB CSV export would take."""
    df = tbl(spark, sf_dir, "nation")
    out = scratch_dir("q03_csv")
    df.write.mode("overwrite").option("header", "true").csv(out)
    return spark.read.schema(df.schema).option("header", "true").csv(out).orderBy("n_nationkey")


@register(
    "q04",
    oracle="SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    tags=("source", "sink"),
)
def q04(spark, sf_dir):
    """JSON-lines round-trip: write `region` as JSON, read back, ordered."""
    df = tbl(spark, sf_dir, "region")
    out = scratch_dir("q04_json")
    df.write.mode("overwrite").json(out)
    return (
        spark.read.schema(df.schema).json(out)
        .select("r_regionkey", "r_name")
        .orderBy("r_regionkey")
    )


@register(
    "q05",
    oracle="""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                     o_orderdate, o_orderpriority
              FROM orders ORDER BY o_orderkey""",
    tags=("source", "sink"),
)
def q05(spark, sf_dir):
    """Partitioned parquet write (partitionBy o_orderstatus) + read-back.
    Exercises dynamic partition discovery; at scale this layout enables
    static+dynamic partition pruning on the status column."""
    df = tbl(spark, sf_dir, "orders")
    out = scratch_dir("q05_parquet")
    df.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    # explicit schema: a partitioned write of an EMPTY frame emits no data
    # files, and schema inference on the bare directory fails — the
    # read-back contract should not depend on the input being non-empty
    return (
        spark.read.schema(df.schema).parquet(out)
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority",
        )
        .orderBy("o_orderkey")
    )


@register(
    "q06",
    oracle=f"""SELECT l_orderkey, l_linenumber,
                     {ocents('l_extendedprice')} * (100 - {ocents('l_discount')}) AS net_e4
              FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    tags=("projection",),
)
def q06(spark, sf_dir):
    """Projection + exact money arithmetic (column pruning: only 4 of 11
    cols leave the scan). net = price*(1-discount) emitted as BIGINT in
    1e-4 currency units: price-cents x (100 - discount-cents) — pure
    integer arithmetic, bit-identical under ANY serializer (the driver's
    pandas path turns DuckDB DECIMAL into float64 but keeps Spark DECIMAL
    as Decimal, so emitted decimals can never hash-match; VERDICT r3 #1)."""
    li = tbl(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))).alias("net_e4"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "q07",
    oracle="""SELECT l_orderkey, l_linenumber, l_shipdate, l_discount, l_quantity
              FROM lineitem
              WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 00:00:00'
                AND l_discount >= 0.05 AND l_quantity < 25
              ORDER BY l_orderkey, l_linenumber""",
    tags=("filter",),
)
def q07(spark, sf_dir):
    """Conjunctive range filter — pushed to the parquet scan (row-group
    min/max skipping on l_shipdate at scale)."""
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_shipdate").between(
                F.lit("1996-01-01 00:00:00").cast("timestamp"),
                F.lit("1996-12-31 00:00:00").cast("timestamp"),
            )
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_quantity") < 25)
        )
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_discount", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "q08",
    oracle="""SELECT o_orderkey, o_orderpriority, o_custkey
              FROM orders
              WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_custkey IS NOT NULL
              ORDER BY o_orderkey""",
    tags=("filter",),
)
def q08(spark, sf_dir):
    """IN-list + IS NOT NULL predicates."""
    o = tbl(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH") & F.col("o_custkey").isNotNull())
        .select("o_orderkey", "o_orderpriority", "o_custkey")
        .orderBy("o_orderkey")
    )


@register(
    "q09",
    oracle="""SELECT p_partkey, p_name, p_type
              FROM part
              WHERE p_type LIKE '%AND%' OR regexp_matches(p_name, '^(red|hot)')
              ORDER BY p_partkey""",
    tags=("filter",),
)
def q09(spark, sf_dir):
    """LIKE + regexp filters (Spark rlike <-> DuckDB regexp_matches)."""
    p = tbl(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_type").like("%AND%") | F.col("p_name").rlike("^(red|hot)"))
        .select("p_partkey", "p_name", "p_type")
        .orderBy("p_partkey")
    )


@register(
    "q10",
    oracle="""SELECT o_orderkey,
                     CASE WHEN o_orderstatus = 'F' THEN 'final'
                          WHEN o_orderstatus = 'O' THEN 'open'
                          ELSE 'other' END AS status_class,
                     COALESCE(NULLIF(o_orderpriority, '4-NOT SPECIFIED'), 'none') AS pri,
                     LEAST(o_totalprice, 100000.0) AS lo,
                     GREATEST(o_totalprice, 100000.0) AS hi
              FROM orders ORDER BY o_orderkey""",
    tags=("scalar",),
)
def q10(spark, sf_dir):
    """CASE / COALESCE / NULLIF / LEAST / GREATEST scalar expressions."""
    o = tbl(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", "final")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("other")
        .alias("status_class"),
        F.coalesce(F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED")), F.lit("none")).alias("pri"),
        F.least(F.col("o_totalprice"), F.lit(100000.0)).alias("lo"),
        F.greatest(F.col("o_totalprice"), F.lit(100000.0)).alias("hi"),
    ).orderBy("o_orderkey")


@register(
    "q11",
    oracle=f"""SELECT l_orderkey, l_linenumber,
                     CAST(l_orderkey AS VARCHAR) AS ok_str,
                     CAST(trunc(l_quantity) AS INTEGER) AS qty_int,
                     {ocents('l_extendedprice')} AS price_cents,
                     CAST(l_linenumber AS DOUBLE) AS ln_double,
                     CAST(l_shipdate AS DATE) AS ship_date,
                     CAST(CAST(l_orderkey AS VARCHAR) AS BIGINT) AS ok_roundtrip
              FROM lineitem
              WHERE l_orderkey < 1000
              ORDER BY l_orderkey, l_linenumber""",
    tags=("cast",),
)
def q11(spark, sf_dir):
    """CAST matrix: int<->string, double->int (truncating; DuckDB spelling
    adds trunc() since its double->int cast rounds), double->exact-cents
    BIGINT (the driver-safe money representation), int->double,
    timestamp->date."""
    li = tbl(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_orderkey").cast("string").alias("ok_str"),
        F.col("l_quantity").cast("int").alias("qty_int"),
        cents("l_extendedprice").alias("price_cents"),
        F.col("l_linenumber").cast("double").alias("ln_double"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.col("l_orderkey").cast("string").cast("bigint").alias("ok_roundtrip"),
    ).orderBy("l_orderkey", "l_linenumber")


_MERGE_CHANGES_SQL = """
    SELECT c_custkey, c_name,
           c_nationkey, c_acctbal + 100.0 AS c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey + 1000000 AS c_custkey, concat('NEW_', c_name) AS c_name,
           c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey < 5
"""


@register(
    "xh_merge_upsert",
    oracle=f"""WITH changes AS ({_MERGE_CHANGES_SQL})
               SELECT * FROM (
                 SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
                 FROM customer
                 WHERE c_custkey NOT IN (SELECT c_custkey FROM changes)
                 UNION ALL
                 SELECT * FROM changes)
               ORDER BY c_custkey""",
    tags=("merge", "upsert"),
)
def h_merge_upsert(spark, sf_dir):
    """MERGE INTO emulation (operators/merge.py): apply an update+insert
    change set to the customer table — updated rows replaced, inserts
    appended (the copy-on-write upsert every CDC pipeline needs; with
    Delta/Iceberg the same call becomes a native MERGE)."""
    from ..operators.merge import merge_upsert

    c = tbl(spark, sf_dir, "customer")
    updates = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + 100.0)
    )
    inserts = (
        c.filter(F.col("c_custkey") < 5)
        .withColumn("c_custkey", F.col("c_custkey") + 1000000)
        .withColumn("c_name", F.concat(F.lit("NEW_"), F.col("c_name")))
    )
    changes = updates.unionByName(inserts)
    return merge_upsert(c, changes, "c_custkey").orderBy("c_custkey")


@register(
    "xh_orc_roundtrip",
    oracle="""SELECT s_suppkey, s_name, s_nationkey, s_acctbal
              FROM supplier ORDER BY s_suppkey""",
    tags=("source", "sink", "orc"),
)
def h_orc_roundtrip(spark, sf_dir):
    """ORC round-trip: write `supplier` as ORC, read back with the
    explicit schema, ordered — completes the columnar-format source/sink
    matrix (parquet q05, CSV q03, JSON q04). Same distributed write/read
    path as a cluster-scale ORC export; the oracle checks the values
    survived the format, not the format itself."""
    df = tbl(spark, sf_dir, "supplier")
    out = scratch_dir("orc_roundtrip")
    df.write.mode("overwrite").orc(out)
    return (
        spark.read.schema(df.schema).orc(out)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .orderBy("s_suppkey")
    )


def _text_roundtrip_oracle() -> str:
    # the hash spelling comes from the SAME module constant the Spark
    # side's _h60 pairs with, so the two can never drift apart
    from .dedup_oracle import _H60_SQL

    return f"""SELECT COUNT(*) AS n_lines,
       CAST(SUM(({_H60_SQL.format(s='text')}) % 1000000007)
            AS BIGINT) AS hash_sum
FROM documents WHERE text IS NOT NULL"""


@register(
    "xh_text_roundtrip",
    oracle=_text_roundtrip_oracle(),
    tags=("source", "sink", "text"),
)
def h_text_roundtrip(spark, sf_dir):
    """Plain-text source/sink round-trip — the one-document-per-line shard
    format raw corpus dumps ship in. Writes `documents.text` as
    gzip-compressed text part-files (distributed write, transparent codec)
    and reads them back with ``spark.read.text``; completes the
    source/sink matrix (parquet q05, CSV q03, JSON q04, ORC, binaryFile —
    avro's external module is not deployed in this environment, noted in
    SURVEY). Text files keep no columns and no order, so the check is an
    ORDER-INDEPENDENT exact aggregate: line count + the BIGINT sum of each
    line's portable 60-bit hash mod 1e9+7 (bounded so the sum stays in
    BIGINT at any fixture SF) — identical regardless of how lines were
    sharded, which is also why it hash-checks against an oracle that never
    saw the files. Docs are single-line by fixture construction; a real
    corpus dump would escape newlines first (that transform is q04's JSON
    path)."""
    from ..functions.text import h60 as _h60

    d = tbl(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    out = scratch_dir("text_roundtrip")
    (
        d.select(F.col("text").alias("value"))
        .write.mode("overwrite")
        .option("compression", "gzip")
        .text(out)
    )
    back = spark.read.text(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(_h60(F.col("value")) % F.lit(1000000007))
        .cast("bigint")
        .alias("hash_sum"),
    )
