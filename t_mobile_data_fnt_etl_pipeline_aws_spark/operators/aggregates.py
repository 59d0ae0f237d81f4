"""Aggregation operators (SURVEY.md §2.4).

All double-valued aggregates go through functions/numeric.py so results are
merge-order independent and hash-match the DuckDB oracle exactly. Spark
plans every groupBy().agg() as partial → shuffle-on-keys → final (map-side
combine), which is the two-phase aggregation contract of §2.4; nothing to
hand-roll. At 100 TB the shuffle width is the group-key cardinality, tiny
for all of these — partial aggregation does the heavy lifting scan-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import (
    davg,
    dstddev_samp,
    dsum,
    dvar_samp,
    exact,
    finish,
    sql_finish_dec,
    sql_davg,
    sql_dstddev_samp,
    sql_dsum,
    sql_dvar_samp,
    sql_exact,
)
from ..registry import query
from ..sources.tables import load

_Q1_CUTOFF = "1998-09-02 00:00:00"


@query(
    "q_agg_hash",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc')},
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (entry()): TPC-H-Q1-shaped pricing summary over lineitem.

    Scan → pushed filter → hash partial-agg → single shuffle on the 2-key
    group → final agg. Derived measures are per-row double products (exact
    given inputs); accumulation is decimal (see functions/numeric.py).
    """
    l = load(spark, sf_dir, "lineitem")
    price, disc, tax = F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    return (
        l.filter(F.col("l_shipdate") <= F.expr(f"TIMESTAMP_NTZ '{_Q1_CUTOFF}'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(price, "sum_base_price"),
            dsum(price * (1 - disc), "sum_disc_price"),
            dsum(price * (1 - disc) * (1 + tax), "sum_charge"),
            davg(F.col("l_quantity"), "avg_qty"),
            davg(price, "avg_price"),
            davg(disc, "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q_agg_multi",
    bench=False,
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n_rows,
           count(o_totalprice) AS n_price,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           {sql_dsum('o_totalprice', 'sum_price')},
           {sql_davg('o_totalprice', 'avg_price')},
           {sql_dstddev_samp('o_totalprice', 'std_price')},
           {sql_dvar_samp('o_totalprice', 'var_price')}
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full aggregate battery per order status.

    stddev/var use the explicit (s2 - s1²/n)/(n-1) form over exact decimal
    sums — native stddev_samp merges partial moments in shuffle-arrival
    order and is not bit-stable across runs (SURVEY.md §5.5).
    """
    o = load(spark, sf_dir, "orders")
    price = F.col("o_totalprice")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(price).alias("n_price"),
        # min/max select existing doubles — already order-independent, no
        # rounding needed (round(double,n) is banned; see functions/numeric).
        F.min(price).alias("min_price"),
        F.max(price).alias("max_price"),
        dsum(price, "sum_price"),
        davg(price, "avg_price"),
        dstddev_samp(price, "std_price"),
        dvar_samp(price, "var_price"),
    )


@query(
    "q_agg_distinct",
    oracle=f"""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_custs,
           count(o_custkey) AS n_orders,
           {sql_finish_dec(f"sum(DISTINCT {sql_exact('o_totalprice')})", 4)}
               AS sum_distinct_price,
           {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed distinct / non-distinct aggregates per priority (expand-based)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.count("o_custkey").alias("n_orders"),
        finish(F.sum_distinct(exact(F.col("o_totalprice"))), 4).alias(
            "sum_distinct_price"
        ),
        dsum(F.col("o_totalprice"), "sum_price"),
    )


@query("q_agg_approx_distinct", bench=False)  # rows-only: HLL estimate differs from DuckDB's
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type (rsd=0.01).

    Rows-only by design: Spark's HLL++ estimate is engine-specific. At
    100 TB this is THE distinct-count operator — no expand, no second
    shuffle, fixed-size sketch merged map-side.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("approx_users"))
        .orderBy("event_type")
    )


@query(
    "q_agg_having",
    bench=False,
    oracle=f"""
    SELECT o_custkey,
           {sql_dsum('o_totalprice', 'total_spend')},
           count(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING sum({sql_exact('o_totalprice')}) > 1500000
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING): big-spend customers.

    The HAVING predicate compares the EXACT decimal sum (not the rounded
    double) so the group membership can't flip at a rounding boundary.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.sum(exact(F.col("o_totalprice"))).alias("_exact_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .filter(F.col("_exact_spend") > 1500000)
        .select(
            "o_custkey",
            finish(F.col("_exact_spend"), 4).alias("total_spend"),
            "n_orders",
        )
    )


@query(
    "q_agg_rollup",
    bench=False,
    oracle=f"""
    SELECT n_name, c_mktsegment,
           cast(grouping(n_name) as int) AS g_nation,
           cast(grouping(c_mktsegment) as int) AS g_segment,
           count(*) AS n_custs,
           {sql_dsum('c_acctbal', 'sum_bal')}
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, c_mktsegment)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (nation → segment → grand total)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup("n_name", "c_mktsegment")
        .agg(
            F.grouping("n_name").cast("int").alias("g_nation"),
            F.grouping("c_mktsegment").cast("int").alias("g_segment"),
            F.count(F.lit(1)).alias("n_custs"),
            dsum(F.col("c_acctbal"), "sum_bal"),
        )
    )


@query(
    "q_agg_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           cast(grouping(o_orderstatus) as int) AS g_status,
           cast(grouping(o_orderpriority) as int) AS g_priority,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations over (status, priority)."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "sum_price"),
    )


@query(
    "q_agg_grouping_sets",
    bench=False,
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets ((a,b),(a),()) via SQL entry point."""
    o = load(spark, sf_dir, "orders")
    view = "gs_orders"
    o.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               cast(cast(sum({sql_exact('o_totalprice')}) as decimal(38,4)) as double) AS sum_price
        FROM {view}
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


@query(
    "q_agg_collect_sorted",
    bench=False,
    oracle="""
    SELECT o_custkey,
           count(*) AS n_orders,
           array_to_string(array_agg(o_orderkey ORDER BY o_orderkey), ',') AS order_keys
    FROM orders
    WHERE o_custkey <= 50
    GROUP BY o_custkey
    """,
)
def q_agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordered key list (list-building primitive for doc pipelines).

    The list is emitted as a comma-joined string, not ArrayType: the driver's
    canonicalizer pandas-sorts output columns and ndarray cells are unhashable
    (round-1 hard fail) — scalar columns keep the contract hashable while the
    sort_array ordering is still exercised.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_custkey") <= 50)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.array_join(
                F.sort_array(F.collect_list("o_orderkey")), ","
            ).alias("order_keys"),
        )
    )


@query(
    "q_agg_conditional",
    bench=False,
    oracle=f"""
    SELECT user_id,
           {sql_dsum("case when event_type = 'click' then value end", 'click_value')},
           {sql_dsum("case when event_type = 'purchase' then value end", 'purchase_value')},
           {sql_dsum("case when event_type = 'view' then value end", 'view_value')},
           count(case when event_type = 'error' then 1 end) AS n_errors
    FROM events
    GROUP BY user_id
    """,
)
def q_agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional aggregation: one measure column per event type.

    The when()-without-otherwise form yields NULL for non-matching rows,
    which sum() skips — identical to SQL CASE. (df.groupBy().pivot() plans
    to the same conditional-agg shape; the explicit form keeps column names
    under our control for the oracle.)
    """
    e = load(spark, sf_dir, "events")

    def tagged(event_type: str, alias: str):
        return dsum(F.when(F.col("event_type") == event_type, F.col("value")), alias)

    return e.groupBy("user_id").agg(
        tagged("click", "click_value"),
        tagged("purchase", "purchase_value"),
        tagged("view", "view_value"),
        F.count(F.when(F.col("event_type") == "error", F.lit(1))).alias("n_errors"),
    )


@query(
    "q_agg_median_exact",
    bench=False,
    oracle="""
    WITH ranked AS (
        SELECT o_orderstatus, o_totalprice,
               row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderstatus) AS n
        FROM orders
    )
    SELECT o_orderstatus,
           o_totalprice AS median_price,
           n AS n_orders
    FROM ranked
    WHERE rn = (n + 1) // 2
    """,
)
def q_agg_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median by rank position (lower median for even groups).

    percentile()/quantile_cont interpolation formulas differ subtly
    across engines; selecting the order statistic at position
    (n+1) div 2 under a total order is engine-portable and exact. At
    100 TB this is one window shuffle — the approx path for wide groups
    is approx_percentile (rows-only, like q_agg_approx_distinct).
    """
    o = load(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wn = Window.partitionBy("o_orderstatus")
    ranked = o.select(
        "o_orderstatus",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "o_orderstatus",
        F.col("o_totalprice").alias("median_price"),
        F.col("n").alias("n_orders"),
    )


@query(
    "q_agg_weighted_median",
    oracle=f"""
    WITH ranked AS (
        SELECT l_returnflag, l_extendedprice,
               {sql_exact('l_quantity')} AS wq,
               sum({sql_exact('l_quantity')}) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS cumw,
               sum({sql_exact('l_quantity')}) OVER (
                   PARTITION BY l_returnflag) AS totw
        FROM lineitem
    )
    SELECT l_returnflag,
           l_extendedprice AS weighted_median_price,
           {sql_finish_dec('totw', 4)} AS total_qty
    FROM ranked
    WHERE 2 * cumw >= totw AND 2 * (cumw - wq) < totw
    """,
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median: the smallest price whose cumulative
    quantity-weight reaches half the group total — the inventory-true
    "median unit price" where a 50-unit line counts 50×, not 1×.

    The crossing row is identified alone by
    2·cumw ≥ totw AND 2·(cumw − w) < totw — weights are positive, so
    exactly one row straddles the half-point and no second window or
    min-rank pass is needed. All cumulative weights accumulate in
    DECIMAL (merge-order independent, engine-exact) and the doubling
    avoids a rounding division; the median value itself is a raw
    parquet double. One window shuffle on the group key — same scale
    shape as q_agg_median_exact; under a total order with the
    (price, orderkey, linenumber) tiebreak the pick is deterministic.
    """
    l = load(spark, sf_dir, "lineitem")
    wq = exact(F.col("l_quantity"))
    w_ord = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("l_returnflag")
    ranked = l.select(
        "l_returnflag",
        "l_extendedprice",
        wq.alias("wq"),
        F.sum(wq).over(w_ord).alias("cumw"),
        F.sum(wq).over(w_all).alias("totw"),
    )
    return ranked.filter(
        (F.lit(2) * F.col("cumw") >= F.col("totw"))
        & (F.lit(2) * (F.col("cumw") - F.col("wq")) < F.col("totw"))
    ).select(
        "l_returnflag",
        F.col("l_extendedprice").alias("weighted_median_price"),
        finish(F.col("totw"), 4).alias("total_qty"),
    )


@query(
    "q_agg_stats_corr",
    bench=False,
    oracle=f"""
    SELECT l_returnflag,
           count(*) AS n,
           (count(*) * {{sxy}} - {{sx}} * {{sy}})
               / (sqrt(count(*) * {{sxx}} - {{sx}} * {{sx}})
                  * sqrt(count(*) * {{syy}} - {{sy}} * {{sy}})) AS corr_qty_price,
           (count(*) * {{sxy}} - {{sx}} * {{sy}})
               / (count(*) * (count(*) - 1)) AS covar_samp_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """.format(
        sx=sql_finish_dec(f"sum({sql_exact('l_quantity / 100.0')})", 6),
        sy=sql_finish_dec(f"sum({sql_exact('l_extendedprice / 100000.0')})", 6),
        sxy=sql_finish_dec(
            f"sum({sql_exact('(l_quantity / 100.0) * (l_extendedprice / 100000.0)')})",
            6,
        ),
        sxx=sql_finish_dec(
            f"sum({sql_exact('(l_quantity / 100.0) * (l_quantity / 100.0)')})", 6
        ),
        syy=sql_finish_dec(
            f"sum({sql_exact('(l_extendedprice / 100000.0) * (l_extendedprice / 100000.0)')})",
            6,
        ),
    ),
)
def q_agg_stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance of (quantity, price).

    Same recipe as dstddev_samp: exact decimal moment sums over
    prescaled values (x/100, y/1e5 keep every moment inside the 2^53
    finish window), then one fixed IEEE expression both engines evaluate
    identically. corr is scale-invariant so the prescales cancel;
    covar_samp is reported in the prescaled unit (documented contract).
    Native corr()/covar_samp() merge float moments in shuffle order —
    not hash-stable (SURVEY.md §5.5).
    """
    l = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity") / 100.0
    y = F.col("l_extendedprice") / 100000.0
    n = F.count(F.lit(1))
    sx = finish(F.sum(exact(x)), 6)
    sy = finish(F.sum(exact(y)), 6)
    sxy = finish(F.sum(exact(x * y)), 6)
    sxx = finish(F.sum(exact(x * x)), 6)
    syy = finish(F.sum(exact(y * y)), 6)
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    covar = (n * sxy - sx * sy) / (n * (n - F.lit(1)))
    return l.groupBy("l_returnflag").agg(
        n.alias("n"),
        corr.alias("corr_qty_price"),
        covar.alias("covar_samp_qty_price"),
    )


@query(
    "q_agg_mode_deterministic",
    bench=False,
    oracle="""
    SELECT lang, token AS top_token, n_uses
    FROM (
        SELECT lang, token, count(*) AS n_uses,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY count(*) DESC, token ASC) AS rn
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
              FROM documents)
        GROUP BY lang, token
    ) WHERE rn = 1
    """,
)
def q_agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE: most frequent token per language, ties broken
    by token order (native mode() leaves ties unspecified — unusable
    under a value-hash gate). Count → rank → keep first: two shuffles,
    both on (lang, token) partials."""
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n_uses"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("n_uses"), F.asc("token"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("token").alias("top_token"), "n_uses")
    )


@query("q_sample_stratified", bench=False)  # rows-only: sampler is engine-specific
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded stratified sample: ~20% of orders per status stratum.

    df.sampleBy with a fixed seed is deterministic for a fixed input
    partitioning (Bernoulli per row, XORShift keyed on partition+seed) —
    stable across reruns of the same fixture, engine-specific, hence
    rows-only. The per-stratum sampled counts are reported with exact
    totals so the ~fraction is auditable. At 100 TB this is the
    train/eval split and debugging-subset operator.
    """
    o = load(spark, sf_dir, "orders")
    fractions = {"F": 0.2, "O": 0.2, "P": 0.2}
    sampled = o.sampleBy("o_orderstatus", fractions, seed=42)
    totals = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_total"))
    picked = sampled.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_sampled")
    )
    return totals.join(picked, on="o_orderstatus").orderBy("o_orderstatus")


@query(
    "q_agg_percentile_multi",
    bench=False,
    oracle="""
    WITH ranked AS (
        SELECT c_mktsegment, c_acctbal,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey) AS rn,
               count(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM customer
    )
    SELECT c_mktsegment,
           max(CASE WHEN rn = (n + 3) // 4 THEN c_acctbal END) AS p25,
           max(CASE WHEN rn = (n + 1) // 2 THEN c_acctbal END) AS p50,
           max(CASE WHEN rn = (3 * n + 3) // 4 THEN c_acctbal END) AS p75,
           max(n) AS n_customers
    FROM ranked
    GROUP BY c_mktsegment
    """,
)
def q_agg_percentile_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quartiles per segment by rank position (no interpolation).

    Same construction as q_agg_median_exact generalized to multiple
    cut points: one partitioned window sort ranks each group, then a
    conditional aggregate picks the value at ceil(q·n) for each q —
    interpolated percentiles ((1-g)·a + g·b) are avoided on purpose:
    the FP interpolation arithmetic is engine-specific, rank positions
    are exact. One window + one hash-agg; at 100 TB per-group sorts
    shard by the group key (same scaling story as any partitioned
    window). The streaming/approximate twin is percentile_approx
    (covered under q_profile_table).
    """
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    n = F.count(F.lit(1)).over(Window.partitionBy("c_mktsegment"))
    ranked = c.select(
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        n.alias("n"),
    )
    def at(pos):
        return F.max(F.when(F.col("rn") == pos, F.col("c_acctbal")))
    return ranked.groupBy("c_mktsegment").agg(
        at(F.floor((F.col("n") + 3) / 4)).alias("p25"),
        at(F.floor((F.col("n") + 1) / 2)).alias("p50"),
        at(F.floor((3 * F.col("n") + 3) / 4)).alias("p75"),
        F.max("n").alias("n_customers"),
    )


@query(
    "q_agg_argminmax",
    bench=False,
    oracle="""
    WITH r AS (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal DESC, c_custkey DESC) AS rmax,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal ASC, c_custkey ASC) AS rmin
        FROM customer
    )
    SELECT c_mktsegment,
           max(CASE WHEN rmax = 1 THEN c_custkey END) AS top_custkey,
           max(CASE WHEN rmax = 1 THEN c_acctbal END) AS top_acctbal,
           max(CASE WHEN rmin = 1 THEN c_custkey END) AS bottom_custkey,
           max(CASE WHEN rmin = 1 THEN c_acctbal END) AS bottom_acctbal
    FROM r
    GROUP BY c_mktsegment
    """,
)
def q_agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic argmax/argmin per group via struct ordering.

    ``max_by``/``min_by`` are the obvious API but leave ties
    engine-defined; ``max(struct(val, key))`` pins the total order
    (val, then key) so both engines agree on every tie. Struct min/max
    compiles to a SortAggregate (struct ordering isn't hash-aggregable)
    but still aggregates partially map-side — the shuffle carries one
    2-field struct per (group × partition), no full window sort over
    the data, which is why it beats the row_number()-rank-then-filter
    form at scale (the oracle uses the window form because DuckDB's
    arg_max has no tiebreak).
    """
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.max(F.struct("c_acctbal", "c_custkey")).alias("mx"),
        F.min(F.struct("c_acctbal", "c_custkey")).alias("mn"),
    ).select(
        "c_mktsegment",
        F.col("mx.c_custkey").alias("top_custkey"),
        F.col("mx.c_acctbal").alias("top_acctbal"),
        F.col("mn.c_custkey").alias("bottom_custkey"),
        F.col("mn.c_acctbal").alias("bottom_acctbal"),
    )


@query("q_agg_sketch_reaggregate", oracle=None)
def q_agg_sketch_reaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level distinct count via mergeable HLL sketches (Datasketches).

    THE re-aggregation pattern 100-TB rollups live on: stage 1 builds a
    per-(event_type, day) HLL sketch of user_id — embarrassingly
    parallel, one partial-aggregated shuffle; stage 2 unions the tiny
    binary sketches per event_type and reads the estimate. A daily
    pipeline materializes stage 1 once and re-rolls totals from
    sketches forever after, never rescanning raw events — count
    distinct becomes incremental. Rows-only: the estimate is the
    Datasketches HLL_4 value, deterministic for fixed input but not
    SQL-expressible in DuckDB; the exact twins are q_agg_distinct /
    q_agg_approx_distinct, and tests/test_invariants.py pins the
    estimate within 5% of exact.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sketch"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .orderBy("event_type")
    )


@query(
    "q_agg_incremental_merge",
    bench=False,
    oracle=f"""
    WITH partial AS (
        SELECT o_orderstatus,
               o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' AS run_b,
               sum({sql_exact('o_totalprice')}) AS s,
               count(*) AS n
        FROM orders
        GROUP BY o_orderstatus, o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_orderstatus,
           cast(count(*) AS bigint) AS n_runs,
           cast(sum(n) AS bigint) AS n_orders,
           {sql_finish_dec('sum(s)', 4)} AS total_spend,
           ({sql_finish_dec('sum(s)', 4)} / sum(n)) AS avg_spend
    FROM partial
    GROUP BY o_orderstatus
    """,
)
def q_agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level re-aggregation: per-run partial states merged to totals.

    The incremental-pipeline contract: stage 1 computes algebraic
    partial state (exact-decimal sum, count) per (group, run) — here
    'runs' are the pre/post-1998 order slices standing in for daily
    loads; stage 2 merges ONLY the tiny partial states, never
    rescanning the raw rows. sum and count re-aggregate losslessly;
    avg is derived at finish time from merged state (never averaged
    across runs). Both accumulation levels stay in decimal so the
    merged total is bit-identical to a single-pass sum regardless of
    run count — the property that lets a 100-TB pipeline materialize
    daily partials once and roll totals forever (same pattern as
    q_agg_sketch_reaggregate for the non-algebraic distinct count).
    """
    o = load(spark, sf_dir, "orders")
    partial = o.groupBy(
        "o_orderstatus",
        (
            F.col("o_orderdate")
            >= F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'")
        ).alias("run_b"),
    ).agg(
        F.sum(exact(F.col("o_totalprice"))).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    merged = partial.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.sum("n").alias("n_orders"),
        finish(F.sum("s"), 4).alias("total_spend"),
    )
    return merged.select(
        "o_orderstatus",
        "n_runs",
        "n_orders",
        "total_spend",
        (F.col("total_spend") / F.col("n_orders")).alias("avg_spend"),
    )


@query(
    "q_agg_mad_outliers",
    oracle="""
    WITH r1 AS (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey) AS rn,
               count(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM customer
    ), med AS (
        SELECT c_mktsegment, c_acctbal AS median_bal
        FROM r1 WHERE rn = (n + 1) // 2
    ), dev AS (
        SELECT r.c_mktsegment, r.c_custkey, r.c_acctbal, m.median_bal,
               abs(r.c_acctbal - m.median_bal) AS d,
               row_number() OVER (PARTITION BY r.c_mktsegment
                                  ORDER BY abs(r.c_acctbal - m.median_bal),
                                           r.c_custkey) AS rn,
               count(*) OVER (PARTITION BY r.c_mktsegment) AS n
        FROM r1 r JOIN med m ON r.c_mktsegment = m.c_mktsegment
    ), mad AS (
        SELECT c_mktsegment, d AS mad_bal FROM dev WHERE rn = (n + 1) // 2
    )
    SELECT dev.c_mktsegment,
           max(dev.median_bal) AS median_bal,
           max(mad.mad_bal) AS mad_bal,
           cast(sum(CASE WHEN dev.d > 3 * mad.mad_bal THEN 1 ELSE 0 END)
                AS bigint) AS n_outliers,
           cast(count(*) AS bigint) AS n_customers
    FROM dev JOIN mad ON dev.c_mktsegment = mad.c_mktsegment
    GROUP BY dev.c_mktsegment
    """,
)
def q_agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: median absolute deviation per group.

    The quality gate that survives heavy tails where mean/stddev break:
    rank-position median (exact data value, no interpolation), absolute
    deviations, rank-position MAD, then |x - med| > 3·MAD flags
    outliers. Every comparison is IEEE arithmetic on values both
    engines hold bit-identically — no finishing anywhere. Cost: two
    partitioned window sorts on the group key + one broadcast of the
    per-group medians (group-cardinality rows); at 100 TB both sorts
    shard by segment exactly like any windowed rank.
    """
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    n = F.count(F.lit(1)).over(Window.partitionBy("c_mktsegment"))
    r1 = c.select(
        "c_mktsegment", "c_custkey", "c_acctbal",
        F.row_number().over(w).alias("rn"), n.alias("n"),
    )
    med = (
        r1.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select("c_mktsegment", F.col("c_acctbal").alias("median_bal"))
    )
    dev_base = r1.join(F.broadcast(med), on="c_mktsegment").withColumn(
        "d", F.abs(F.col("c_acctbal") - F.col("median_bal"))
    )
    w2 = Window.partitionBy("c_mktsegment").orderBy("d", "c_custkey")
    dev = dev_base.select(
        "c_mktsegment", "c_custkey", "median_bal", "d",
        F.row_number().over(w2).alias("rn2"), F.col("n"),
    )
    mad = (
        dev.filter(F.col("rn2") == F.floor((F.col("n") + 1) / 2))
        .select("c_mktsegment", F.col("d").alias("mad_bal"))
    )
    return (
        dev.join(F.broadcast(mad), on="c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.max("median_bal").alias("median_bal"),
            F.max("mad_bal").alias("mad_bal"),
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad_bal"), 1).otherwise(0)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@query(
    "q_agg_boolean",
    oracle="""
    SELECT o_orderstatus,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_totalprice > 400000) AS any_jumbo,
           cast(count(CASE WHEN o_totalprice > 200000 THEN 1 END)
                AS bigint) AS n_large,
           cast(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
                AS bigint) AS n_urgent
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregate battery: every/any/count_if.

    The predicate-rollup surface (data-quality assertions live on
    these): bool_and proves an invariant holds for a whole group,
    bool_or detects any violation, count_if sizes the violation set —
    all algebraic, all partial-aggregated map-side, one shuffle on the
    group key. Spark's every/any/count_if map 1:1 onto DuckDB's
    bool_and/bool_or/conditional count.
    """
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.every(F.col("o_totalprice") > 0).alias("all_positive"),
        F.some(F.col("o_totalprice") > 400000).alias("any_jumbo"),
        F.count_if(F.col("o_totalprice") > 200000).alias("n_large"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
    )


@query("q_agg_approx_percentile")  # rows-only: GK-sketch estimate is engine-specific
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quartiles per order status (Greenwald-Khanna sketch).

    Completes the approximate-aggregate family next to HLL distinct
    (q_agg_approx_distinct), Count-Min frequency (q_sketch_cms_freq) and
    Bloom membership (q_sketch_bloom_prune): percentile_approx runs as a
    fixed-size mergeable sketch — one shuffle of sketch partials, no
    per-group sort — where the exact twin (q_agg_percentile_multi, the
    oracle-checked rank-position form) pays a full partitioned window
    sort. At 100 TB the sketch is the only affordable form for
    high-cardinality groups; accuracy=10000 bounds rank error at
    1/10000·n. Rows-only by design (the GK sketch's picks are
    engine-specific); tests/test_invariants.py pins the estimates to an
    exact-rank tolerance band so the sketch can't silently degrade.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.percentile_approx(
                "o_totalprice", [0.25, 0.5, 0.75], 10000
            ).alias("qs"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            "o_orderstatus",
            F.col("qs")[0].alias("p25"),
            F.col("qs")[1].alias("p50"),
            F.col("qs")[2].alias("p75"),
            "n_orders",
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q_agg_pythagorean_means",
    oracle=f"""
    SELECT l_returnflag,
           count(*) AS n,
           {sql_davg("l_extendedprice", "arith_mean")},
           {sql_finish_dec(
               "exp(" + sql_finish_dec(
                   "sum(" + sql_exact(sql_finish_dec("ln(l_extendedprice)", 6))
                   + ")", 6)
               + " / count(*))", 6)} AS geo_mean,
           count(*) / {sql_finish_dec(
               f"sum({sql_exact('1.0 / l_extendedprice')})", 6)} AS harmonic_mean
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_pythagorean_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic, geometric, and harmonic mean per group in one pass —
    the mean family behind index numbers (geo) and rate averaging
    (harmonic); AM ≥ GM ≥ HM is invariant-tested.

    Parity recipe per numeric.py: arith is the standard finished
    decimal sum / count; geo finishes ln PER ROW at 6 dp (libm vs JVM
    last-ulp), decimal-sums the finished logs, and finishes exp() at
    the group grain (transcendental output — exact ties measure-zero);
    harmonic decimal-sums the exactly-IEEE per-row reciprocals, and
    n / finished-sum stays an unfinished deterministic quotient. One
    shuffle, three decimal accumulators in the partial-agg buffer.
    """
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        davg(x, "arith_mean"),
        finish(
            F.exp(
                finish(F.sum(exact(finish(F.log(x), 6))), 6)
                / F.count(F.lit(1))
            ),
            6,
        ).alias("geo_mean"),
        (
            F.count(F.lit(1))
            / finish(F.sum(exact(F.lit(1.0) / x)), 6)
        ).alias("harmonic_mean"),
    )


@query(
    "q_agg_winsorized_mean",
    oracle=f"""
    WITH ranked AS MATERIALIZED (
        SELECT l_returnflag, l_extendedprice,
               row_number() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ) AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    ),
    bounds AS (
        SELECT l_returnflag,
               CAST(max(n) AS BIGINT) AS n_rows,
               max(CASE WHEN rn = (5 * n + 99) // 100
                        THEN l_extendedprice END) AS p05,
               max(CASE WHEN rn = (95 * n + 99) // 100
                        THEN l_extendedprice END) AS p95
        FROM ranked GROUP BY 1
    )
    SELECT r.l_returnflag, b.n_rows AS n_rows, b.p05 AS p05, b.p95 AS p95,
           {sql_davg(
               "least(greatest(r.l_extendedprice, b.p05), b.p95)",
               "winsorized_mean",
           )}
    FROM ranked r JOIN bounds b ON b.l_returnflag = r.l_returnflag
    GROUP BY 1, 2, 3, 4
    """,
)
def q_agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean (5%/95%) of extended price per return flag — the
    robust-mean complement to q_agg_mad_outliers: instead of dropping
    outliers, clamp them to the nearest-rank 5th/95th percentile values
    and average. The standard way to report a mean that one fat-finger
    price can't move.

    Percentiles are NEAREST-RANK order statistics at rank
    ceil(q·n) = (q·100·n + 99) div 100 under the (price, orderkey,
    linenumber) total order — exact integer arithmetic, engine-portable
    (percentile_disc/quantile_disc were rejected: Spark picks the
    smallest value with cume_dist ≥ q, DuckDB floor-indexes — they
    disagree on tie geometries; interpolating percentile_cont has the
    1-ulp formula-parity problem the rolling-median docstring records).

    Scale: ONE window shuffle on the group key ranks every row
    (q_agg_median_exact's shape), the 3-row bounds table broadcasts
    back, and the clamped mean is one more hash agg with decimal
    accumulation (clamping picks existing data values, so the
    double→decimal cast stays in verified territory). No global sort,
    no per-group collect.
    """
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    bounds = ranked.groupBy("l_returnflag").agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(5 * n + 99) div 100"),
                F.col("l_extendedprice"),
            )
        ).alias("p05"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(95 * n + 99) div 100"),
                F.col("l_extendedprice"),
            )
        ).alias("p95"),
    )
    clamped = ranked.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        "p05",
        "p95",
        F.least(
            F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95")
        ).alias("cl"),
    )
    return clamped.groupBy("l_returnflag", "n_rows", "p05", "p95").agg(
        davg(F.col("cl"), "winsorized_mean")
    )


@query(
    "q_agg_median_mode",
    oracle="""
    SELECT o_orderstatus,
           mode(pr) AS top_priority,
           median(o_orderkey) AS med_orderkey,
           CAST(count(*) AS BIGINT) AS n
    FROM (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 7 < 4 THEN 'HOT'
                    ELSE o_orderpriority END AS pr,
               o_orderkey
        FROM orders
    )
    GROUP BY o_orderstatus
    """,
)
def q_agg_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MEDIAN and MODE builtins (Spark 3.4+): the order-statistics
    aggregates every profiling pipeline wants and pre-3.4 Spark forced
    through percentile_approx or a window sort. Scale contract: exact
    median is a per-group sort — Spark plans it as a partial/final
    ObjectHashAggregate over a sorted buffer, so cost is
    O(rows log rows) per group but still shuffle-once (no second pass);
    at 100 TB you reach for this when the group count is high and
    per-group rows moderate, and fall back to approx_percentile (the
    registered q_agg_approx_percentile twin) when single groups carry
    billions of rows.

    Parity notes: median of BIGINT interpolates to DOUBLE in both
    engines ((a+b)/2 on integers is exact in binary — no float-finish
    caveat); MODE is nondeterministic on ties in BOTH engines, so the
    input synthesizes a guaranteed-unique mode ('HOT' on 4/7 of rows
    via the key-modulus CASE — strictly dominant in every group).
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 < 4, F.lit("HOT"))
        .otherwise(F.col("o_orderpriority"))
        .alias("pr"),
        "o_orderkey",
    )
    return o.groupBy("o_orderstatus").agg(
        F.mode("pr").alias("top_priority"),
        F.median("o_orderkey").alias("med_orderkey"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_agg_bitmap_distinct",
    oracle="""
    SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
           CAST(count(DISTINCT CASE WHEN o_orderstatus = 'O'
                                    THEN o_custkey END) AS BIGINT)
               AS n_open_custs
    FROM orders
    """,
)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmaps (Spark 3.5 bitmap_* family) —
    the segment-mergeable alternative to COUNT(DISTINCT): group keys
    into 32k-wide buckets (bitmap_bucket_number), build one fixed-size
    bitmap per bucket (bitmap_construct_agg of bitmap_bit_position),
    then sum bitmap_count over buckets. Why it matters at 100 TB:
    COUNT(DISTINCT) shuffles every distinct VALUE; the bitmap form
    shuffles one <=4 KB blob per bucket per partition and — unlike HLL —
    stays exact AND re-mergeable, so per-segment bitmaps can be
    persisted once and OR-merged (bitmap_or_agg) across arbitrary
    segment subsets without rescanning the fact table. The open-orders
    column proves filtered re-aggregation from the same bitmap build.
    Oracle is the plain COUNT(DISTINCT) twin — exact equality, no
    sketch tolerance.
    """
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    per_bucket = (
        o.groupBy(F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"))
        .agg(
            F.expr(
                "bitmap_construct_agg(bitmap_bit_position(o_custkey))"
            ).alias("bm_all"),
            F.expr(
                "bitmap_construct_agg(CASE WHEN o_orderstatus = 'O' "
                "THEN bitmap_bit_position(o_custkey) END)"
            ).alias("bm_open"),
        )
    )
    return per_bucket.agg(
        F.sum(F.expr("bitmap_count(bm_all)")).alias("n_custs"),
        F.sum(F.expr("bitmap_count(bm_open)")).alias("n_open_custs"),
    )


@query(
    "q_agg_percentile_within_group",
    oracle="""
    SELECT o_orderstatus,
           percentile_cont(0.25) WITHIN GROUP (ORDER BY o_orderkey) AS p25,
           percentile_cont(0.75) WITHIN GROUP (ORDER BY o_orderkey) AS p75,
           CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY o_orderkey)
                AS DOUBLE) AS p25_disc,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_percentile_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ordered-set aggregates: PERCENTILE_CONT / PERCENTILE_DISC
    WITHIN GROUP (ORDER BY ...) — the standard spelling (Spark 3.4+ SQL)
    of exact quantiles, complementing q_agg_median_mode (median builtin)
    and q_agg_approx_percentile (the sketch path for billion-row
    groups). Same scale contract as exact median: a per-group sorted
    buffer inside a one-shuffle ObjectHashAggregate. Parity is exact by
    construction: the fractions are powers of two (0.25/0.75), so
    CONT's interpolation between BIGINT neighbors is exact in IEEE
    double in both engines; DISC returns the value type (BIGINT in
    DuckDB, DOUBLE in Spark's percentile_disc) so the oracle casts.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("pct_orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               percentile_cont(0.25) WITHIN GROUP (ORDER BY o_orderkey)
                   AS p25,
               percentile_cont(0.75) WITHIN GROUP (ORDER BY o_orderkey)
                   AS p75,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY o_orderkey)
                   AS p25_disc,
               CAST(count(*) AS BIGINT) AS n
        FROM pct_orders
        GROUP BY o_orderstatus
        """
    )


@query(
    "q_agg_grouping_id",
    oracle="""
    SELECT coalesce(o_orderstatus, '<all>') AS status,
           coalesce(o_orderpriority, '<all>') AS priority,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
                AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def q_agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() / GROUPING_ID() disambiguation over ROLLUP — the
    companion q_agg_rollup deliberately avoids: in a rollup result a
    NULL group value is ambiguous (real NULL data vs subtotal row);
    grouping() returns 1 exactly when the column is rolled up, and
    grouping_id() packs those bits into the level number reports key
    their subtotal logic on. Same single-pass Expand + hash-aggregate
    plan as any grouping set (one shuffle, subtotals computed in the
    same pass — no per-level re-scan at 100 TB). DuckDB spells
    grouping_id as an expression over grouping() bits (bit order
    matches the column list), pinning the semantics rather than the
    function name.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.expr("grouping(o_orderstatus)").cast("int").alias("g_status"),
            F.expr("grouping_id(o_orderstatus, o_orderpriority)")
            .cast("long")
            .alias("gid"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "g_status",
            "gid",
            "n",
        )
    )


@query("q_agg_hll_sketch_merge")  # rows-only: Datasketches HLL registers
def q_agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable APPROX distinct via Datasketches HLL (Spark 3.5
    hll_sketch_agg / hll_union_agg / hll_sketch_estimate) — the third
    point on the distinct-counting spectrum this registry pins:
    COUNT(DISTINCT) (exact, shuffles values), bitmaps
    (q_agg_bitmap_distinct: exact, mergeable, fixed 4 KB/bucket), and
    HLL (approximate, mergeable, ~1 KB TOTAL per group at any
    cardinality). At 100 TB the HLL shape is the only affordable one
    for high-cardinality distinct-per-segment dashboards: per-segment
    sketches persist once, arbitrary segment unions are register-max
    merges — never a rescan. The query builds per-status sketches,
    re-aggregates them through hll_union_agg (the persisted-sketch
    merge path), and emits per-status + merged estimates. Rows-only by
    design: DuckDB's approx_count_distinct uses a different sketch, so
    no SQL oracle can hash-match; determinism holds (register max is
    order-independent) and tests/test_invariants.py pins every estimate
    within 5% of the exact counts (lgConfigK=12 → ~1.6% rse).
    """
    o = load(spark, sf_dir, "orders").select("o_orderstatus", "o_custkey")
    per_status = o.groupBy("o_orderstatus").agg(
        F.expr("hll_sketch_agg(o_custkey, 12)").alias("sk"),
        F.countDistinct("o_custkey").alias("n_exact"),
    )
    per = per_status.select(
        "o_orderstatus",
        F.expr("hll_sketch_estimate(sk)").alias("n_approx"),
        "n_exact",
    )
    merged = per_status.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("n_approx"),
        F.lit(None).cast("long").alias("n_exact"),
    ).select(F.lit("<merged>").alias("o_orderstatus"), "n_approx", "n_exact")
    return per.unionByName(merged)
