"""Projection / filter / predicate operators (SURVEY.md §2.2).

All predicates are Column expressions (never Python lambdas) so Catalyst
pushes them into the parquet scan — `.explain` shows PushedFilters for
every query here; at 100 TB that is the difference between reading a
row-group and skipping it via footer stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import load


@query(
    "q_project_rename",
    bench=False,
    oracle="""
    SELECT l_orderkey AS order_key,
           l_linenumber AS line_no,
           l_extendedprice AS gross_price,
           l_extendedprice * (1 - l_discount) AS net_price,
           CASE WHEN l_quantity >= 30 THEN 'bulk'
                WHEN l_quantity >= 10 THEN 'mid'
                ELSE 'small' END AS qty_tier
    FROM lineitem
    """,
)
def q_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column subset + rename + computed columns (pure per-row double math
    — deterministic IEEE, no accumulation, so no decimal finishing needed).
    """
    l = load(spark, sf_dir, "lineitem")
    return l.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_extendedprice").alias("gross_price"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        F.when(F.col("l_quantity") >= 30, "bulk")
        .when(F.col("l_quantity") >= 10, "mid")
        .otherwise("small")
        .alias("qty_tier"),
    )


@query(
    "q_filter_pred",
    bench=False,
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE ((o_totalprice > 150000 AND o_orderpriority IN ('1-URGENT', '2-HIGH'))
           OR NOT (o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                                   AND TIMESTAMP '1999-12-31 00:00:00'))
      AND o_orderstatus <> 'P'
    """,
)
def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicate: AND/OR/NOT, BETWEEN, IN, date + string + numeric."""
    o = load(spark, sf_dir, "orders")
    in_window = F.col("o_orderdate").between(
        F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"),
        F.expr("TIMESTAMP_NTZ '1999-12-31 00:00:00'"),
    )
    pred = (
        (F.col("o_totalprice") > 150000)
        & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ) | ~in_window
    return o.filter(pred & (F.col("o_orderstatus") != "P")).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )


@query(
    "q_filter_like",
    bench=False,
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type,
           p_name LIKE '%widget%' AS is_widget,
           p_name ILIKE 'COLD%' AS is_cold,
           regexp_matches(p_name, '^(cold|blue) ') AS cold_or_blue
    FROM part
    WHERE p_type LIKE 'ECO%' OR p_name LIKE '%rod'
    """,
)
def q_filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / ILIKE / RLIKE pattern predicates (filter + projected flags)."""
    p = load(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").like("ECO%") | F.col("p_name").like("%rod")
    ).select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_type",
        F.col("p_name").like("%widget%").alias("is_widget"),
        F.col("p_name").ilike("COLD%").alias("is_cold"),
        F.col("p_name").rlike("^(cold|blue) ").alias("cold_or_blue"),
    )


@query(
    "q_filter_null",
    bench=False,
    oracle="""
    SELECT c_custkey,
           nullif(c_mktsegment, 'BUILDING') AS seg,
           nullif(c_mktsegment, 'BUILDING') IS NULL AS seg_is_null,
           nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM 'AUTOMOBILE'
               AS null_safe_auto
    FROM customer
    WHERE nullif(c_mktsegment, 'BUILDING') IS NULL
       OR nullif(c_mktsegment, 'BUILDING') IS NOT NULL AND c_acctbal < 0
    """,
)
def q_filter_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued logic: isNull / isNotNull / null-safe equality.

    Fixtures contain no NULLs (FIXTURES.md), so nullability is derived via
    nullif — the operator surface is what's under test.
    """
    c = load(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return c.select(
        "c_custkey",
        seg.alias("seg"),
        seg.isNull().alias("seg_is_null"),
        seg.eqNullSafe("AUTOMOBILE").alias("null_safe_auto"),
        F.col("c_acctbal").alias("_bal"),
    ).filter(
        F.col("seg").isNull() | (F.col("seg").isNotNull() & (F.col("_bal") < 0))
    ).drop("_bal")


@query(
    "q_distinct_rows",
    bench=False,
    oracle="""
    SELECT DISTINCT c_mktsegment, c_nationkey
    FROM customer
    """,
)
def q_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level distinct over a projection (exact-dedup base case §2.11)."""
    c = load(spark, sf_dir, "customer")
    return c.select("c_mktsegment", "c_nationkey").distinct()


@query(
    "q_filter_inset_large",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
           max(o_totalprice) AS max_price
    FROM orders
    WHERE o_custkey % 3 = 1 AND o_custkey < 1200
    GROUP BY o_orderstatus
    """,
)
def q_filter_inset_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large literal IN-list filter — the entitlement/allowlist shape
    (hundreds to thousands of ids handed down from an auth service).
    Above spark.sql.optimizer.inSetConversionThreshold (default 10)
    Catalyst compiles the IN to an InSet hash-set probe instead of a
    chained OR — O(1) per row instead of O(list), and the predicate
    still reaches the parquet scan as PushedFilters: In(...) so
    row-group stats can prune (tests/test_plans.py pins both). The
    400-element list is GENERATED as range(1, 1200, 3), so the oracle
    can spell the identical membership as arithmetic
    (custkey % 3 = 1 AND custkey < 1200) — parity proves the list
    semantics, not just the plumbing. At 100 TB, lists beyond ~10^5
    elements graduate to a broadcast semi-join (q_join_semi) or a Bloom
    prune (q_sketch_bloom_prune) — both registered; this key pins the
    literal-list regime.
    """
    allow = list(range(1, 1200, 3))  # 400 ids, arithmetic-describable
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_custkey").isin(allow))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_custkey").alias("n_custs"),
            F.max("o_totalprice").alias("max_price"),
        )
    )
