"""Event/customer analytics operators: interval algebra, attribution,
exact allocation, and behavioral segmentation.

Reference parity: the reference snapshot publishes no code
(/root/reference/README.md:1-2); these are the declared-surface analytics
capstones from SURVEY.md §2's "scale-pattern extras" block, built on the
same events/orders/lineitem/customer tables as the rest of the registry.

Scale notes shared by this module: every window partitions by a key whose
cardinality grows with the data (user_id, l_orderkey, c_mktsegment over a
customer-level rollup) — no global Window.orderBy anywhere; the proration
and attribution operators are one co-partitioned shuffle each; all money
arithmetic is integer cents (exact, merge-order independent, no decimal
finishing needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import (
    davg,
    dsum,
    exact,
    finish,
    sql_davg,
    sql_dsum,
    sql_exact,
    sql_finish_dec,
)
from ..registry import query
from ..sources.tables import load

#: Interval half-width for q_interval_merge: each event claims 30 minutes.
_SPAN_US = 30 * 60 * 1_000_000
#: integer µs per day (bar-grain composite ordering keys)
_DAY_US = 86_400_000_000

#: Attribution lookback for q_attribution_last_touch: 7 days in µs.
_LOOKBACK_US = 7 * 24 * 3600 * 1_000_000


def _epoch_us(col: str = "ts"):
    """Epoch µs of a TIMESTAMP_NTZ column, bit-equal to DuckDB epoch_us.

    load() yields NTZ timestamps (parquet TIMESTAMP(MICROS), no zone),
    which unix_micros() rejects and a cast to TIMESTAMP would shift by the
    session timezone; diffing against an NTZ epoch literal is the
    tz-independent integer form (verified equal to epoch_us at sf0.01).
    """
    return F.expr(
        f"timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', {col})"
    )


@query(
    "q_interval_merge",
    bench=False,
    oracle=f"""
    WITH iv AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS s_us,
               epoch_us(ts) + {_SPAN_US} AS e_us
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, s_us, e_us,
               CASE WHEN max(e_us) OVER (
                        PARTITION BY user_id ORDER BY s_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) >= s_us THEN 0 ELSE 1 END AS new_island
        FROM iv
    ),
    numbered AS (
        SELECT user_id, s_us, e_us,
               sum(new_island) OVER (
                   PARTITION BY user_id ORDER BY s_us, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS island_no
        FROM flagged
    )
    SELECT user_id, cast(island_no AS bigint) AS island_no,
           count(*) AS n_events,
           min(s_us) AS start_us, max(e_us) AS end_us,
           (max(e_us) - min(s_us)) // 1000000 AS duration_sec
    FROM numbered
    GROUP BY user_id, island_no
    """,
)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of overlapping time intervals per user (interval merge).

    The interval-algebra primitive behind availability windows, outage
    coalescing, and coverage reports: each event claims [ts, ts+30min];
    overlapping or touching claims merge into maximal islands. The
    classic cummax construction: a claim starts a new island iff its
    start exceeds the running max end of all earlier claims (ROWS ... 1
    PRECEDING so a row never sees itself), a running sum numbers
    islands, one aggregate emits them.

    Scale: both windows and the final aggregate key on user_id — the
    plan is one shuffle reused across all three (sort within partition),
    no global ordering. Ties on ts break by event_id in the cummax AND
    the numbering window so both see the same total order (the
    q_stream_session parity lesson). All arithmetic is integer µs.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        _epoch_us().alias("s_us"),
        (_epoch_us() + F.lit(_SPAN_US)).alias("e_us"),
    )
    order = [F.asc("s_us"), F.asc("event_id")]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_max_end = F.max("e_us").over(w_prev)
    flagged = e.withColumn(
        "new_island",
        F.when(prev_max_end >= F.col("s_us"), F.lit(0)).otherwise(F.lit(1)),
    )
    numbered = flagged.withColumn(
        "island_no", F.sum("new_island").over(w_run).cast("bigint")
    )
    return numbered.groupBy("user_id", "island_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("s_us").alias("start_us"),
        F.max("e_us").alias("end_us"),
        ((F.max("e_us") - F.min("s_us")) / F.lit(1_000_000))
        .cast("bigint")
        .alias("duration_sec"),
    )


@query(
    "q_attribution_last_touch",
    bench=False,
    oracle=f"""
    WITH marked AS (
        SELECT user_id, event_id, event_type, value,
               epoch_us(ts) AS t_us,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_type END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS lt_type,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN epoch_us(ts) END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS lt_us
        FROM events
    )
    SELECT CASE WHEN lt_us IS NULL OR t_us - lt_us > {_LOOKBACK_US}
                THEN 'direct' ELSE lt_type END AS channel,
           count(*) AS n_purchases,
           {sql_dsum('value', 'revenue')}
    FROM marked
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution with a 7-day lookback window.

    Each purchase is attributed to the user's most recent preceding
    view/click (the marketing "touch"); purchases with no touch within
    7 days are 'direct'. The scalable form is LOCF over the unioned
    event stream — last(marker, ignorenulls) over a user-partitioned
    window — NOT a purchase×touch self-join, which explodes on active
    users. Both last() calls pick the same marker row (type and ts are
    null on exactly the same rows), so channel and recency agree.

    Scale: one shuffle on user_id for the window, then a 5-group hash
    aggregate. Revenue crosses rows → exact decimal accumulation
    (functions/numeric.py); the 1-PRECEDING frame keeps a purchase from
    attributing to itself.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        _epoch_us().alias("t_us"),
    )
    is_touch = F.col("event_type").isin("view", "click")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("t_us"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = e.select(
        "event_type",
        "value",
        "t_us",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("lt_type"),
        F.last(F.when(is_touch, F.col("t_us")), ignorenulls=True)
        .over(w)
        .alias("lt_us"),
    )
    purchases = marked.filter(F.col("event_type") == "purchase")
    channel = F.when(
        F.col("lt_us").isNull()
        | (F.col("t_us") - F.col("lt_us") > F.lit(_LOOKBACK_US)),
        F.lit("direct"),
    ).otherwise(F.col("lt_type"))
    return purchases.groupBy(channel.alias("channel")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        dsum(F.col("value"), "revenue"),
    )


@query(
    "q_alloc_proration",
    bench=False,
    oracle="""
    WITH o AS (
        SELECT o_orderkey,
               cast(round(o_totalprice * 100) AS bigint) AS total_c
        FROM orders
    ),
    li AS (
        SELECT l_orderkey, l_linenumber,
               cast(round(l_extendedprice * 100) AS bigint) AS w
        FROM lineitem
    ),
    based AS (
        SELECT li.l_orderkey, li.l_linenumber, li.w, o.total_c,
               (o.total_c * li.w) // sum(li.w) OVER (PARTITION BY li.l_orderkey)
                   AS base_c,
               (o.total_c * li.w) % sum(li.w) OVER (PARTITION BY li.l_orderkey)
                   AS rem
        FROM li JOIN o ON li.l_orderkey = o.o_orderkey
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY rem DESC, l_linenumber) AS rn,
               total_c - sum(base_c) OVER (PARTITION BY l_orderkey) AS leftover
        FROM based
    )
    SELECT l_orderkey, l_linenumber,
           cast(base_c + CASE WHEN rn <= leftover THEN 1 ELSE 0 END
                AS bigint) AS share_c
    FROM ranked
    """,
)
def q_alloc_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder proration: split each order's total across its
    line items proportionally to extended price, exact to the cent.

    The financial-allocation primitive (tax splits, revenue sharing,
    cost allocation): floor the proportional integer-cent shares, then
    hand the leftover cents to the rows with the largest remainders
    (ties broken by line number). sum(share_c) == total_c holds EXACTLY
    per order — invariant-tested — which no float-multiply scheme can
    promise. All arithmetic is bigint (products bounded by
    max_total_cents × max_line_cents ≈ 5.6e14 < 2^63, ANSI-safe).

    Scale: the join and all three windows key on l_orderkey, so the
    plan is one co-partitioned shuffle reused across join → windows;
    per-order groups are ≤7 rows, so window sorts are trivial. Integer
    division (`div`/`//`) truncates identically in both engines for
    non-negative operands.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_c"),
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("w"),
    )
    w_order = Window.partitionBy("l_orderkey")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).drop("o_orderkey")
    based = joined.select(
        "l_orderkey",
        "l_linenumber",
        "total_c",
        (F.col("total_c") * F.col("w"))
        .cast("bigint")
        .alias("prod"),
        F.sum("w").over(w_order).alias("order_w"),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "total_c",
        F.expr("prod div order_w").alias("base_c"),
        (F.col("prod") % F.col("order_w")).alias("rem"),
    )
    w_rank = Window.partitionBy("l_orderkey").orderBy(
        F.desc("rem"), F.asc("l_linenumber")
    )
    ranked = based.select(
        "l_orderkey",
        "l_linenumber",
        "base_c",
        F.row_number().over(w_rank).alias("rn"),
        (F.col("total_c") - F.sum("base_c").over(w_order)).alias("leftover"),
    )
    return ranked.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("base_c")
            + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("share_c"),
    )


@query(
    "q_rfm_segmentation",
    bench=False,
    oracle="""
    WITH maxd AS (SELECT max(o_orderdate) AS d_ref FROM orders),
    rfm AS (
        SELECT o_custkey AS c_custkey,
               date_diff('day', max(o_orderdate), (SELECT d_ref FROM maxd))
                   AS recency_days,
               count(*) AS frequency,
               cast(sum(cast(round(o_totalprice * 100) AS bigint)) AS bigint)
                   AS monetary_c
        FROM orders
        GROUP BY o_custkey
    ),
    seg AS (
        SELECT r.*, c.c_mktsegment
        FROM rfm r JOIN customer c ON r.c_custkey = c.c_custkey
    ),
    scored AS (
        SELECT c_custkey, c_mktsegment, recency_days, frequency, monetary_c,
               ntile(4) OVER (PARTITION BY c_mktsegment
                              ORDER BY recency_days ASC, c_custkey) AS r_score,
               ntile(4) OVER (PARTITION BY c_mktsegment
                              ORDER BY frequency DESC, c_custkey) AS f_score,
               ntile(4) OVER (PARTITION BY c_mktsegment
                              ORDER BY monetary_c DESC, c_custkey) AS m_score
        FROM seg
    )
    SELECT c_custkey, c_mktsegment,
           cast(recency_days AS bigint) AS recency_days,
           frequency, monetary_c,
           cast(r_score AS bigint) AS r_score,
           cast(f_score AS bigint) AS f_score,
           cast(m_score AS bigint) AS m_score,
           CASE WHEN r_score = 1 AND f_score = 1 THEN 'champion'
                WHEN r_score >= 3 AND f_score <= 2 THEN 'at_risk'
                WHEN r_score >= 3 THEN 'hibernating'
                ELSE 'active' END AS segment
    FROM scored
    """,
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation of
    customers within their market segment.

    The behavioral-segmentation workhorse: per-customer metrics reduce
    billions of orders to one row per customer (hash agg), then ntile(4)
    scores each dimension within c_mktsegment. Monetary is integer
    cents (exact, no decimal dance); recency is integer days against
    the corpus max date (1-row broadcast). Every ntile orders by
    (metric, c_custkey) — a total order, so bucket assignment is
    deterministic and engine-portable (both engines size ntile buckets
    as n/k with remainders to the leading buckets).

    Scale: the expensive work is the orders hash-agg (one shuffle,
    map-side combine). The ntile windows partition by mktsegment over
    the REDUCED customer table — 5 segments is window-concentration at
    extreme customer counts; the documented 100-TB path is two-pass
    range-partitioned ranking (per-shard counts + broadcast offset
    merge, the q_stream_watermark_late construction) which preserves
    these exact bucket semantics.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    d_ref = o.agg(F.max("o_orderdate").alias("d_ref"))
    rfm = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("monetary_c"),
    )
    seg = (
        rfm.crossJoin(F.broadcast(d_ref))
        .withColumn(
            "recency_days",
            F.datediff(F.col("d_ref"), F.col("last_order")).cast("bigint"),
        )
        .join(c.select("c_custkey", "c_mktsegment"), "c_custkey")
    )
    def _nt(order_cols):
        return F.ntile(4).over(
            Window.partitionBy("c_mktsegment").orderBy(*order_cols)
        )

    scored = seg.select(
        "c_custkey",
        "c_mktsegment",
        "recency_days",
        "frequency",
        "monetary_c",
        _nt([F.asc("recency_days"), F.asc("c_custkey")])
        .cast("bigint")
        .alias("r_score"),
        _nt([F.desc("frequency"), F.asc("c_custkey")])
        .cast("bigint")
        .alias("f_score"),
        _nt([F.desc("monetary_c"), F.asc("c_custkey")])
        .cast("bigint")
        .alias("m_score"),
    )
    segment = (
        F.when((F.col("r_score") == 1) & (F.col("f_score") == 1), "champion")
        .when((F.col("r_score") >= 3) & (F.col("f_score") <= 2), "at_risk")
        .when(F.col("r_score") >= 3, "hibernating")
        .otherwise("active")
    )
    return scored.withColumn("segment", segment)


@query(
    "q_timeseries_twap",
    bench=False,
    oracle=f"""
    WITH pts AS (
        SELECT user_id, value,
               epoch_us(ts) AS t_us, event_id,
               lead(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS nxt_us
        FROM events
        WHERE value IS NOT NULL
    ),
    seg AS (
        SELECT user_id, value,
               (nxt_us - t_us) // 1000000 AS dur_sec
        FROM pts WHERE nxt_us IS NOT NULL
    )
    SELECT user_id,
           count(*) AS n_segments,
           cast(sum(dur_sec) AS bigint) AS span_sec,
           {sql_dsum('value * dur_sec', 'weighted_sum')},
           ({sql_finish_dec(f"sum({sql_exact('value * dur_sec')})", 4)})
               / cast(sum(dur_sec) AS double) AS twap
    FROM seg
    GROUP BY user_id
    HAVING sum(dur_sec) > 0
    """,
)
def q_timeseries_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price/value per user over irregular samples.

    The time-series aggregate a plain AVG gets wrong: each observation
    holds until the next one (LOCF), so its weight is the holding
    duration. lead() yields the segment length; the last observation of
    a user carries no segment. Durations are integer seconds (µs diff
    floor-divided — identical truncation both engines); the weighted
    sum crosses rows → exact decimal accumulation; the final twap is a
    division of bit-identical doubles (numeric.py rule 5: no finish on
    quotients).

    Scale: one shuffle on user_id shared by the lead() window and the
    aggregate; no global ordering. HAVING drops zero-span users (all
    events at one instant) instead of dividing by zero.
    """
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pts = e.select(
        "user_id",
        "value",
        _epoch_us().alias("t_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("t_us"), F.asc("event_id"))
    seg = (
        pts.withColumn("nxt_us", F.lead("t_us").over(w))
        .filter(F.col("nxt_us").isNotNull())
        .select(
            "user_id",
            "value",
            F.expr("(nxt_us - t_us) div 1000000").alias("dur_sec"),
        )
    )
    weighted = finish(F.sum(exact(F.col("value") * F.col("dur_sec"))), 4)
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("dur_sec").cast("bigint").alias("span_sec"),
            weighted.alias("weighted_sum"),
            (weighted / F.sum("dur_sec").cast("double")).alias("twap"),
        )
        .filter(F.col("span_sec") > 0)
    )


@query(
    "q_pareto_abc",
    bench=False,
    oracle=f"""
    WITH rev AS (
        SELECT n.n_name, s.s_suppkey,
               sum({sql_exact('l.l_extendedprice * (1 - l.l_discount)')}) AS rev_dec
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name, s.s_suppkey
    ),
    ranked AS (
        SELECT n_name, s_suppkey,
               {sql_finish_dec('rev_dec', 4)} AS revenue,
               {sql_finish_dec('''sum(rev_dec) OVER (
                   PARTITION BY n_name ORDER BY rev_dec DESC, s_suppkey
                   ROWS UNBOUNDED PRECEDING)''', 4)} AS cum_rev,
               {sql_finish_dec('sum(rev_dec) OVER (PARTITION BY n_name)', 4)}
                   AS tot_rev
        FROM rev
    )
    SELECT n_name, s_suppkey, revenue,
           cum_rev / tot_rev AS cum_share,
           CASE WHEN cum_rev / tot_rev <= 0.5 THEN 'A'
                WHEN cum_rev / tot_rev <= 0.8 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def q_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC contribution analysis: suppliers ranked by revenue
    within their nation, classified by cumulative revenue share
    (A: first 50%, B: to 80%, C: tail).

    The inventory-management classic — and a float-parity minefield: a
    running SUM of doubles is order-dependent, so the cumulative sum
    stays DECIMAL (exact, any accumulation order) through the window
    and only the per-row prefix totals finish to double; the share is
    then a quotient of bit-identical doubles (no finish — rule 5). The
    cumsum window orders by (rev_dec DESC, s_suppkey): decimal sort
    keys compare exactly, so the prefix sets match across engines.

    Scale: the heavy work is the lineitem hash-agg (one shuffle,
    map-side combine, broadcast dims); the window runs over the
    supplier-level rollup partitioned by nation.
    """
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.sum(
                exact(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("rev_dec")
        )
    )
    w_cum = (
        Window.partitionBy("n_name")
        .orderBy(F.desc("rev_dec"), F.asc("s_suppkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("n_name")
    ranked = rev.select(
        "n_name",
        "s_suppkey",
        finish(F.col("rev_dec"), 4).alias("revenue"),
        finish(F.sum("rev_dec").over(w_cum), 4).alias("cum_rev"),
        finish(F.sum("rev_dec").over(w_tot), 4).alias("tot_rev"),
    )
    share = F.col("cum_rev") / F.col("tot_rev")
    return ranked.select(
        "n_name",
        "s_suppkey",
        "revenue",
        share.alias("cum_share"),
        F.when(share <= 0.5, "A").when(share <= 0.8, "B").otherwise("C").alias(
            "abc_class"
        ),
    )


@query(
    "q_pattern_error_burst",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, ts, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn_all,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn_type
        FROM events
    ),
    runs AS (
        SELECT user_id,
               min(event_id) AS first_event_id,
               max(event_id) AS last_event_id,
               count(*) AS n_errors,
               epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us
        FROM seq
        WHERE event_type = 'error'
        GROUP BY user_id, rn_all - rn_type
    )
    SELECT user_id, first_event_id, last_event_id, n_errors, span_us
    FROM runs
    WHERE n_errors >= 2
    """,
)
def q_pattern_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern detection: maximal runs of CONSECUTIVE error events
    per user (length >= 2) — the MATCH_RECOGNIZE-style burst query an
    on-call dashboard runs, done with the run-length-encoding islands
    trick: rn_over_all - rn_over_type is constant exactly within a
    maximal same-type run, so one GROUP BY on that difference recovers
    every run without self-joins or iterative logic. A distinct pattern
    family from q_sessionize_batch (which islands on TIME gaps; this
    islands on VALUE runs).

    Parity: pure integer arithmetic — two row_numbers with full
    (ts, event_id) tiebreaks, an integer difference key, and a µs span
    from the NTZ-epoch diff idiom (_epoch_us, bit-equal to DuckDB's
    epoch_us). Scale: both windows and the aggregate share ONE shuffle
    keyed on user_id (Catalyst reuses the partitioning), burst rows are
    a tiny fraction of input, and no state beyond the window sort.
    """
    e = load(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    seq = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.row_number().over(w_all).alias("rn_all"),
        F.row_number().over(w_type).alias("rn_type"),
    )
    runs = (
        seq.filter(F.col("event_type") == "error")
        .groupBy("user_id", (F.col("rn_all") - F.col("rn_type")).alias("grp"))
        .agg(
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
            F.count(F.lit(1)).alias("n_errors"),
            (_epoch_us("max(ts)") - _epoch_us("min(ts)")).alias("span_us"),
        )
    )
    return runs.filter(F.col("n_errors") >= 2).select(
        "user_id", "first_event_id", "last_event_id", "n_errors", "span_us"
    )


@query(
    "q_ts_seasonal_decompose",
    oracle=f"""
    WITH daily AS MATERIALIZED (
        SELECT date_trunc('day', o_orderdate) AS day,
               CAST(datediff('day', TIMESTAMP '1992-01-01',
                             date_trunc('day', o_orderdate)) % 7
                    AS BIGINT) AS dow,
               sum({sql_exact('o_totalprice')}) AS rev_dec
        FROM orders GROUP BY 1, 2
    ),
    fan AS (
        SELECT d.day + (o.o * INTERVAL 1 DAY) AS center_day, d.rev_dec
        FROM daily d, (SELECT unnest([-3,-2,-1,0,1,2,3]) AS o) o
    ),
    s7 AS (
        SELECT center_day, count(*) AS cnt, sum(rev_dec) AS s7_dec
        FROM fan GROUP BY 1
    ),
    det AS MATERIALIZED (
        SELECT d.day, d.dow,
               {sql_finish_dec("d.rev_dec", 4)} AS revenue,
               {sql_finish_dec("s.s7_dec", 4)} / 7.0 AS trend
        FROM daily d JOIN s7 s ON s.center_day = d.day AND s.cnt = 7
    ),
    seasonal AS (
        SELECT dow, {sql_davg("revenue - trend", "seasonal")}
        FROM det GROUP BY 1
    )
    SELECT det.day AS day, det.dow AS dow, det.revenue AS revenue,
           det.trend AS trend, se.seasonal AS seasonal,
           det.revenue - det.trend - se.seasonal AS residual
    FROM det JOIN seasonal se ON se.dow = det.dow
    """,
)
def q_ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily revenue
    series: value = trend + seasonal + residual, with trend = centered
    7-CALENDAR-DAY moving average and seasonal = per-day-of-week mean of
    the detrended series — the moving-average step of STL, the shape
    every ops dashboard computes before anomaly detection.

    Scale shape: NO global window (a partition-less ORDER BY day window
    funnels the series through one task — the audited anti-pattern).
    Instead the trailing-distinct spine trick: fan each day's decimal
    revenue to its 7 calendar center positions (a 7x map-only explode of
    the DAILY AGGREGATE, rows = distinct days, tiny at any corpus size)
    and hash-agg on center_day — calendar-true RANGE semantics (a
    missing day leaves cnt < 7 and the center drops out, where a ROWS
    frame would silently widen), shuffle-parallel on day.

    Numeric discipline (numeric.py rules): daily revenue and the 7-day
    sum accumulate in decimal and finish once; trend = finished_s7/7.0
    is ONE IEEE division of bit-identical doubles (never finish a
    quotient, rule 5); detrended = revenue - trend is IEEE-deterministic
    per row, and its per-dow mean re-enters decimal via davg — safe
    because trend's /7 leaves a full mantissa, making decimal-cast ties
    measure-zero (rule 6). residual = revenue - trend - seasonal, fixed
    left association on both engines.
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.date_trunc("day", F.col("o_orderdate")).alias("day"),
            F.expr(
                "timestampdiff(DAY, timestamp_ntz'1992-01-01 00:00:00',"
                " date_trunc('day', o_orderdate)) % 7"
            )
            .cast("bigint")
            .alias("dow"),
        )
        .agg(F.sum(exact(F.col("o_totalprice"))).alias("rev_dec"))
    )
    offsets = F.array([F.lit(i) for i in range(-3, 4)])
    fan = daily.select(
        F.explode(offsets).alias("o"), F.col("day"), F.col("rev_dec")
    ).select(
        F.expr("timestampadd(DAY, o, day)").alias("center_day"), "rev_dec"
    )
    s7 = fan.groupBy("center_day").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("rev_dec").alias("s7_dec")
    )
    det = (
        daily.join(
            s7,
            (s7["center_day"] == daily["day"]) & (s7["cnt"] == 7),
        )
        .select(
            "day",
            "dow",
            finish(F.col("rev_dec"), 4).alias("revenue"),
            (finish(F.col("s7_dec"), 4) / F.lit(7.0)).alias("trend"),
        )
    )
    seasonal = det.groupBy("dow").agg(
        davg(F.col("revenue") - F.col("trend"), "seasonal")
    )
    return det.join(F.broadcast(seasonal), "dow").select(
        "day",
        "dow",
        "revenue",
        "trend",
        "seasonal",
        (F.col("revenue") - F.col("trend") - F.col("seasonal")).alias(
            "residual"
        ),
    )


@query(
    "q_interval_concurrency",
    oracle="""
    WITH ev AS (
        SELECT o_orderpriority AS pri, o_orderdate AS ts, 1 AS delta,
               o_orderkey
        FROM orders
        UNION ALL
        SELECT o_orderpriority,
               o_orderdate + to_days(CAST(o_orderkey % 30 + 1 AS INT)),
               -1, o_orderkey
        FROM orders
    ),
    run AS (
        SELECT pri, ts, delta,
               sum(delta) OVER (PARTITION BY pri
                                ORDER BY ts, delta, o_orderkey
                                ROWS UNBOUNDED PRECEDING) AS concurrent
        FROM ev
    )
    SELECT pri, CAST(max(concurrent) AS BIGINT) AS max_concurrent,
           CAST(count(*) AS BIGINT) AS n_events
    FROM run GROUP BY pri
    """,
)
def q_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum concurrent intervals (peak load) via the +1/-1 event
    sweep: each order carries a synthetic validity interval
    [orderdate, orderdate + 1..30 days); exploding every interval into
    a start(+1)/end(-1) event and running a partitioned cumulative sum
    over event time yields the concurrency curve, whose per-group max
    is the capacity-planning number (peak simultaneous sessions /
    circuits / leases). This is the interval-algebra sibling of
    q_interval_merge (islands) and q_window_gaps_islands: O(2n) events,
    ONE window shuffle partitioned by the reporting key — never an
    interval self-join (which is O(n^2) candidates at 100 TB). The
    running sum orders by (ts, delta, key): delta=-1 sorts BEFORE +1 at
    the same timestamp, making [a,b) + [b,c) count as 1 at instant b —
    half-open semantics, deterministic under the key tiebreak. Spark
    spells the variable-width interval with make_interval(days=n),
    DuckDB with to_days(n) — no common literal syntax exists
    (`INTERVAL (expr) DAY` parses in neither).
    """
    o = load(spark, sf_dir, "orders")
    starts = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderdate").alias("ts"),
        F.lit(1).alias("delta"),
        "o_orderkey",
    )
    ends = o.select(
        F.col("o_orderpriority").alias("pri"),
        (
            F.col("o_orderdate")
            + F.expr("make_interval(0, 0, 0, CAST(o_orderkey % 30 + 1 AS INT))")
        ).alias("ts"),
        F.lit(-1).alias("delta"),
        "o_orderkey",
    )
    w = (
        Window.partitionBy("pri")
        .orderBy("ts", "delta", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = starts.unionByName(ends).select(
        "pri", F.sum("delta").over(w).alias("concurrent")
    )
    return run.groupBy("pri").agg(
        F.max("concurrent").cast("long").alias("max_concurrent"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q_timeseries_ohlc",
    oracle=f"""
    WITH r AS (
        SELECT event_type, date_trunc('day', ts) AS day, value,
               row_number() OVER (
                   PARTITION BY event_type, date_trunc('day', ts)
                   ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (
                   PARTITION BY event_type, date_trunc('day', ts)
                   ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, day,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*) AS n_trades,
           {sql_dsum('value', 'volume', 6)}
    FROM r GROUP BY 1, 2
    """,
)
def q_timeseries_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars — open/high/low/close/volume per
    (event_type, day), the resampling aggregate every tick-to-bar
    pipeline runs. open/close are ARGMIN/ARGMAX by event time via
    min_by/max_by over a DECIMAL COMPOSITE ordering key
    us_of_day·10¹⁹ + event_id: within a bar the day is fixed, so
    µs-of-day orders exactly like ts, and the unique event_id term
    makes ties impossible (a bare min_by(value, ts) is
    tie-nondeterministic on the tie-dense replicated family and would
    flap the hash oracle). The composite is chosen over the natural
    min(struct(ts, event_id, value)) form DELIBERATELY: struct min/max
    buffers are variable-width, which demotes the whole aggregate to
    SortAggregate (per-partition sort at 100 TB), while every buffer
    here (double, decimal, long) is fixed-width — the plan stays
    HashAggregate, partial-aggregated map-side, ONE shuffle on the bar
    grain (pinned in tests/test_plans.py). Widths: µs-of-day < 8.64e10
    (11 digits) × 10¹⁹ + event_id (≤ 20 digits) ≤ 30 digits — exact in
    decimal(38,0) at any event volume. open/close/high/low pass value
    doubles through untouched (bit-identical); volume crosses rows →
    decimal accumulation finished at 6 dp (numeric.py rules).

    Scale: grain cardinality = |event_type| × days, so state is tiny
    and grows with time, not volume. Reference repo publishes no code
    (/root/reference/README.md:1-2); extends SURVEY §2.11's declared
    time-series surface alongside q_timeseries_twap.
    """
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    us_of_day = (_epoch_us() % _DAY_US).cast("decimal(11,0)")
    comp = us_of_day * F.lit("10000000000000000000").cast(
        "decimal(20,0)"
    ) + F.col("event_id").cast("decimal(20,0)")
    g = e.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        comp.alias("k"),
        "value",
    )
    return g.groupBy("event_type", "day").agg(
        F.min_by("value", F.col("k")).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", F.col("k")).alias("close"),
        F.count(F.lit(1)).alias("n_trades"),
        dsum(F.col("value"), "volume", 6),
    ).select(
        "event_type", "day", "open", "high", "low", "close",
        "n_trades", "volume",
    )


@query(
    "q_pattern_sequence_match",
    oracle="""
    WITH j AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS journey
        FROM events
        GROUP BY user_id
    )
    SELECT user_id,
           cast(length(journey) as int) AS journey_len,
           cast(len(regexp_extract_all(journey, 'v[^p]*p')) as int)
               AS n_view_to_purchase,
           regexp_matches(journey, 's[^e]*e') AS signup_then_error
    FROM j
    ORDER BY user_id
    """,
)
def q_pattern_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-PATTERN MATCHING over event sequences — the
    MATCH_RECOGNIZE-class operator (Flink CEP / Trino
    MATCH_RECOGNIZE), expressed Spark-first as journey-string regex:
    each user's events collapse to one ordered type-code string
    (c/e/p/s/v, deterministic (ts, event_id) order), and patterns
    become regexes over it — `v[^p]*p` counts NON-OVERLAPPING
    view→…→purchase conversions (the reluctant funnel: each purchase
    closes the earliest open view, the standard CEP SKIP PAST LAST ROW
    semantics), `s[^e]*e` flags signup followed by a later error.

    Distinct from q_pattern_error_burst (consecutive-run islands) and
    q_funnel_conversion (min-ts step ordering): this is the general
    regex-over-sequence form — any pattern expressible as a regular
    language runs without new shuffles, because the expensive part
    (one groupBy building the journey) is shared across all patterns.

    Parity: Java regex and DuckDB's RE2 agree on this POSIX-safe
    subset (literal chars + negated class + star); both engines'
    extract-all scans are non-overlapping left-to-right. The journey
    build is sort_array(collect_list(struct)) — exact (ts, event_id)
    total order, partition-independent — mirrored by the oracle's
    ORDER BY inside string_agg.

    Scale: ONE shuffle (groupBy user_id); journeys are KB-sized
    strings; the regex evaluation is embarrassingly parallel post-agg.
    At 100 TB the journey build is the same cost class as any
    per-entity collect_sorted; patterns never rescan the events."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.substring("event_type", 1, 1).alias("code"),
    )
    j = (
        ev.groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", "code"))
                    ),
                    lambda s: s["code"],
                ),
            ).alias("journey")
        )
    )
    return j.select(
        "user_id",
        F.length("journey").alias("journey_len"),
        F.size(F.regexp_extract_all("journey", F.lit("v[^p]*p"), 0)).alias(
            "n_view_to_purchase"
        ),
        F.col("journey").rlike("s[^e]*e").alias("signup_then_error"),
    ).orderBy("user_id")
