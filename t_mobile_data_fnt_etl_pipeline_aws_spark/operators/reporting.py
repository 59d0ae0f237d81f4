"""Decision-support reporting shapes (TPC-H Q13/Q11/Q22/Q7 analogues).

Reference parity: the reference snapshot publishes no code
(/root/reference/README.md:1-2); these are the remaining classic
warehouse-report shapes declared by SURVEY.md §2's pipeline block that the
earlier capstones (Q3/Q5/Q8/Q21 analogues in pipelines.py) did not cover:

  * Q13 — outer-join count distribution (zero-preserving double aggregate)
  * Q11 — group share against a global scalar aggregate
  * Q22 — above-average filter + anti join, decorrelated
  * Q7  — bi-directional two-dimension volume report

All money arithmetic follows functions/numeric.py: DECIMAL(30,10)
accumulation (merge-order independent), narrow-decimal finish; threshold
comparisons are done IN DECIMAL (or cross-multiplied to avoid division)
so no float rounding can flip a row across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum, exact, sql_dsum, sql_exact, sql_finish_dec
from ..registry import query
from ..sources.tables import load


@query(
    "q_report_custdist",
    bench=False,
    oracle="""
    WITH c_orders AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    """,
)
def q_report_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts.

    The part that trips naive rewrites: customers with NO qualifying
    orders must appear in the c_count=0 bucket, so the join is LEFT with
    the priority predicate INSIDE the join condition (a WHERE would turn
    it inner), and the count is over the nullable right-side key.

    Scale: join and first aggregate both key on c_custkey — Catalyst
    reuses the join's hash partitioning for the per-customer count (no
    second shuffle of the big side); the second aggregate reduces
    |customers| rows to a handful of buckets (map-side partials make it
    one tiny shuffle). Neither needs decimal: counts are exact integers.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


#: Q11-analogue share threshold: keep nations whose supplier-side revenue
#: exceeds this fraction of global revenue (DECIMAL literal so the
#: comparison is exact in both engines).
_SHARE = "0.030000"


@query(
    "q_report_nation_share",
    bench=False,
    oracle=f"""
    WITH rev AS (
        SELECT n.n_name,
               sum({sql_exact("l.l_extendedprice * (1 - l.l_discount)")}) AS val
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ),
    tot AS (SELECT sum(val) AS total FROM rev)
    SELECT r.n_name,
           {sql_finish_dec("r.val", 4)} AS value_
    FROM rev r, tot t
    WHERE cast(r.val AS decimal(27,10))
          > cast({_SHARE} AS decimal(10,6)) * cast(t.total AS decimal(27,10))
    """,
)
def q_report_nation_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: nations holding an outsized share of revenue.

    The decorrelated form of ``HAVING sum(...) > f * (SELECT sum(...))``:
    aggregate once per nation, reduce those partials to the global total,
    broadcast the 1-row total back, filter. The per-nation aggregate is
    computed ONCE and reused for both sides (the naive form re-scans
    lineitem for the subquery).

    Parity: the share comparison happens between exact DECIMAL values
    with a DECIMAL fraction literal — BOTH comparands narrowed to
    decimal(27,10) first (lossless: their scale is already 10, and 17
    integer digits hold any realistic revenue). Two overflow traps hide
    here, both verified by test_share_threshold_compare_parity:
    (a) share(10,6) * total(38,10) needs precision 49 → Spark rounds the
    product to scale 6 while DuckDB keeps scale 16; narrowing total
    makes the product decimal(10+27+1=38, 16), exact in both engines.
    (b) even then, comparing val(38,10) against the (38,16) product
    needs max(28,22)+16 = 44 digits → Spark silently rounds the compare
    back to scale 10; narrowing val to (27,10) makes the compare's
    common type max(17,22)+16 = 38 — exact. Only the reported value is
    finished to double.

    Scale: one big shuffle (lineitem by suppkey for the join; nation agg
    partials are map-side combined), the total is 25 rows → 1 row, and
    the filter join is a broadcast of one row. At 100 TB nothing here
    materializes more than |nations| rows past the first aggregate.
    """
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                exact(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("val")
        )
    )
    total = rev.agg(F.sum("val").cast("decimal(27,10)").alias("total"))
    share = F.expr(f"cast({_SHARE} as decimal(10,6))")
    return (
        rev.join(F.broadcast(total))
        .filter(F.col("val").cast("decimal(27,10)") > share * F.col("total"))
        .select(
            "n_name",
            F.col("val").cast("decimal(38,4)").cast("double").alias("value_"),
        )
    )


@query(
    "q_report_prospects",
    bench=False,
    oracle=f"""
    WITH pos AS (
        SELECT sum({sql_exact("c_acctbal")}) AS total_bal,
               count(*) AS n_pos
        FROM customer
        WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey,
           count(*) AS numcust,
           {sql_dsum("c.c_acctbal", "totacctbal")}
    FROM customer c, pos
    WHERE {sql_exact("c.c_acctbal")} * pos.n_pos > pos.total_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    """,
)
def q_report_prospects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich-but-inactive customers per nation.

    Customers whose balance beats the positive-balance average and who
    never placed an URGENT order (every fixture customer has at least
    one order, so the classic "no orders at all" predicate is vacuous
    here — the priority-restricted NOT EXISTS keeps the decorrelation
    shape meaningful). The average comparison is CROSS-MULTIPLIED —
    ``bal * n_pos > total_bal`` in exact decimal — instead of dividing,
    because decimal division promotes differently in Spark vs DuckDB and
    a float average is merge-order dependent; the cross-product form is
    exact in both engines, so the boundary rows cannot flip.

    Scale: the scalar (total, count) is a 2-value broadcast; the NOT
    EXISTS is a left-anti hash join on c_custkey (orders side only needs
    its key column — column pruning reaches the scan); final aggregate
    keys on nation (25 groups, map-side combined).
    """
    c = load(spark, sf_dir, "customer")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    pos = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            F.sum(exact(F.col("c_acctbal"))).alias("total_bal"),
            F.count("*").alias("n_pos"),
        )
    )
    rich = c.join(F.broadcast(pos)).filter(
        exact(F.col("c_acctbal")) * F.col("n_pos") > F.col("total_bal")
    )
    inactive = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return inactive.groupBy("c_nationkey").agg(
        F.count("*").alias("numcust"),
        dsum(F.col("c_acctbal"), "totacctbal"),
    )


#: Trading-bloc nations for q_report_binational_volume (fixture nation
#: names are synthesized as NATION_<key>; keys 0-4 exist at every SF).
#: Two nations is the literal Q7, but at sf0.001 a single ordered pair
#: can produce zero fact rows — a 5-nation bloc keeps the identical
#: cross-dimension shape with guaranteed rows at every fixture SF.
_BLOC = [f"NATION_{i}" for i in range(5)]


@query(
    "q_report_binational_volume",
    bench=False,
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "volume")}
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE n1.n_name IN ({", ".join(f"'{x}'" for x in _BLOC)})
      AND n2.n_name IN ({", ".join(f"'{x}'" for x in _BLOC)})
      AND n1.n_name <> n2.n_name
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
)
def q_report_binational_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: yearly cross-border volume within a trading bloc.

    The five-way star join with a cross-dimension predicate — the
    supp≠cust inequality couples the two nation dimensions, so it cannot
    be pushed into either dimension alone; it runs after both joins while
    each bloc IN-list IS pushed into its dimension to shrink the fact
    rows early.

    Scale: both nation dims and supplier broadcast; the only shuffles are
    lineitem⋈orders and ⋈customer on their keys. Restricting each side
    to the bloc before the big joins cuts the fact stream by ~(5/25)² —
    the filters sit on the dimension side where Catalyst pushes them
    below the broadcast.
    """
    both = _BLOC
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation")
    n1 = n.filter(F.col("n_name").isin(both)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.filter(F.col("n_name").isin(both)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "volume"))


@query(
    "q_report_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey,
               {sql_dsum('l_extendedprice * (1 - l_discount)', 'total_rev')}
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
    """,
)
def q_report_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped: the supplier(s) with the maximum revenue in one
    quarter — the view + scalar-subquery-on-the-view query.

    The revenue "view" materializes once in the plan and feeds BOTH the
    scalar max and the equality filter (Spark reuses the subplan; at
    100 TB you would persist the view or let AQE reuse the exchange).
    Revenues are finished decimal sums, so the max and the = compare
    identical doubles in both engines — a float equality that is SAFE
    here precisely because both sides are quantized finishes, the same
    argument q_window_drawdown's cummax equality rests on. Ties (two
    suppliers at the exact max) surface as multiple rows in both
    engines rather than an arbitrary pick.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    rev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev["total_rev"] == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_rev")
    )


@query(
    "q_report_supplier_parts",
    oracle="""
    SELECT p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND s.s_acctbal >= 0
    GROUP BY p.p_type, p.p_size
    """,
)
def q_report_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped: how many qualified suppliers can ship each
    (type, size) part class — supplier diversity per product segment.
    The fixture has no partsupp table, so the part↔supplier
    relationship is the SHIPPED relationship observed in lineitem, and
    Q16's "customer complaints" supplier exclusion adapts to negative
    account balance.

    Both dims broadcast with their filters pushed (brand ≠, size IN on
    part; acctbal ≥ 0 on supplier); the distinct-supplier count is the
    expand + two-phase aggregate Spark plans for COUNT(DISTINCT) —
    shuffle keyed on the group, combine-side dedup. The anti-pattern
    this avoids at 100 TB: collect_set per group (unbounded state per
    key) — count(distinct) keeps it in the aggregate buffer.
    """
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    ).select("p_partkey", "p_type", "p_size")
    s = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") >= 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy("p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q_report_wow_growth",
    oracle=f"""
    WITH weekly AS (
        SELECT date_trunc('week', o_orderdate) AS wk,
               {sql_dsum('o_totalprice', 'revenue')}
        FROM orders GROUP BY 1
    )
    SELECT a.wk AS wk,
           a.revenue AS revenue,
           b.revenue AS prev_revenue,
           a.revenue / b.revenue AS wow_ratio
    FROM weekly a LEFT JOIN weekly b ON b.wk = a.wk - INTERVAL 7 DAY
    """,
)
def q_report_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALENDAR-aligned week-over-week revenue via aggregate self-join —
    the shuffle-REUSE demonstration shape.

    Not expressible as lag(): lag gives the previous EXISTING row, so a
    missing week silently compares against the week before it;
    calendar WoW must join each week to (wk - 7 days), NULL when that
    week is absent. The naive cost is two aggregations of the fact
    table; Spark's exchange reuse recognizes the two sides of the
    self-join as the identical aggregate subtree and computes the
    corpus-scale shuffle ONCE (ReusedExchange in the plan —
    tests/test_plans.py::test_wow_self_join_reuses_exchange). At
    100 TB that is the difference between one fact shuffle and two.
    The lag() form on a gap-free series is q_report_mom_growth; this
    is its sparse-calendar-correct sibling. wow_ratio is one IEEE
    division of finished decimal sums (NULL-propagating on both
    engines for the first week).
    """
    weekly = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("week", "o_orderdate").alias("wk"))
        .agg(dsum(F.col("o_totalprice"), "revenue"))
        # explicit on BOTH sides: the left join infers isnotnull(wk)
        # on the build side only, which would push to that side's scan
        # and break the canonical subtree equality exchange reuse
        # matches on (measured: no ReusedExchange without this)
        .filter(F.col("wk").isNotNull())
    )
    a, b = weekly.alias("a"), weekly.alias("b")
    return a.join(
        b,
        F.col("b.wk") == F.col("a.wk") - F.expr("INTERVAL 7 DAY"),
        "left",
    ).select(
        F.col("a.wk").alias("wk"),
        F.col("a.revenue").alias("revenue"),
        F.col("b.revenue").alias("prev_revenue"),
        (F.col("a.revenue") / F.col("b.revenue")).alias("wow_ratio"),
    )


@query(
    "q_report_shared_scan",
    oracle=f"""
    WITH base AS (
        SELECT o_orderpriority, o_orderstatus, o_totalprice
        FROM orders WHERE year(o_orderdate) = 1995
    )
    SELECT 'priority' AS report, o_orderpriority AS grp,
           count(*) AS n_orders, {sql_dsum('o_totalprice', 'sum_price')}
    FROM base GROUP BY o_orderpriority
    UNION ALL
    SELECT 'status', o_orderstatus,
           count(*), {sql_dsum('o_totalprice', 'sum_price')}
    FROM base GROUP BY o_orderstatus
    """,
)
def q_report_shared_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-report fan-out over ONE cached base — the storage-reuse
    pattern for report suites: filter/clean the fact ONCE, persist it,
    and let every downstream rollup read the materialized intermediate
    instead of re-scanning (and re-filtering) the raw table.

    Spark does NOT deduplicate identical sub-plans across a union on
    its own (no common-subexpression materialization for separate
    aggregates), so without the ``persist()`` this plan scans orders
    TWICE — at 100 TB, a 20-report suite over a curated base would pay
    a 20× scan tax. With it, branch 1's first pass populates the
    columnar block cache and every other branch hits
    InMemoryTableScan (both branches plan against the cached relation
    — asserted in tests/test_plans.py::test_shared_scan_reports_hit_cache).
    The cache is an explicit lifecycle choice: at cluster scale this
    is persist(DISK_ONLY or MEMORY_AND_DISK_SER) sized to the curated
    slice, or a materialized staging table — the plan shape is
    identical.

    Parity: count + exact-decimal sums per group; the oracle's CTE is
    the same base expressed relationally (DuckDB may or may not
    materialize it — either way the values are identical).
    """
    base = (
        load(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1995)
        .select("o_orderpriority", "o_orderstatus", "o_totalprice")
        .persist()
    )
    by_prio = base.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "sum_price"),
    ).select(
        F.lit("priority").alias("report"),
        F.col("o_orderpriority").alias("grp"),
        "n_orders",
        "sum_price",
    )
    by_status = base.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "sum_price"),
    ).select(
        F.lit("status").alias("report"),
        F.col("o_orderstatus").alias("grp"),
        "n_orders",
        "sum_price",
    )
    return by_prio.unionByName(by_status)
