"""Window functions (SURVEY.md §2.5).

Determinism rules (§5.5): every ROW-framed window orders by a UNIQUE key
chain; rank/dense_rank may order by a non-unique key (their outputs depend
only on the key values); windowed SUMs of doubles accumulate in decimal —
DuckDB evaluates window aggregates with segment trees, a different
summation order from Spark's running accumulation, so float window sums
are not portable but exact decimal ones are.

Scale: one shuffle on partitionBy keys per window spec; q_topk_per_group's
rank-filter plans as WindowGroupLimit (Spark ≥3.5) which prunes per
partition BEFORE the sort — the per-group top-k that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import DEC, dsum, finish, sql_dsum, sql_finish_dec
from ..registry import query
from ..sources.tables import load


@query(
    "q_window_rank",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn,
           rank()       OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
           dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drnk
    FROM orders
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank of orders per customer by price.

    row_number gets a unique tiebreak (o_orderkey); rank/dense_rank
    deliberately order by the non-unique measure alone — their values are
    functions of the key values, hence still deterministic.
    """
    o = load(spark, sf_dir, "orders")
    w_unique = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    w_ties = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.row_number().over(w_unique).alias("rn"),
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
    )


@query(
    "q_window_analytic",
    bench=False,
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
           lag(o_totalprice)  OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag / lead / first_value / last_value over each customer's history."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
    )


@query(
    "q_window_running",
    bench=False,
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderdate,
           {sql_finish_dec(f'''sum(cast(o_totalprice as {DEC})) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''', 4)}
               AS running_spend,
           count(*) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS running_orders
    FROM orders
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum/count per customer (ROWS unbounded-preceding frame)."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        finish(F.sum(F.col("o_totalprice").cast(DEC)).over(w), 4).alias(
            "running_spend"
        ),
        F.count(F.lit(1)).over(w).alias("running_orders"),
    )


@query(
    "q_window_range_frame",
    oracle=f"""
    SELECT event_id, user_id, ts,
           {sql_finish_dec(f'''sum(cast(value as {DEC})) OVER
               (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)''', 6)}
               AS trailing_1h_value,
           count(*) OVER
               (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
               AS trailing_1h_events
    FROM events
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-range frame: trailing-1-hour sum of event values per user.

    RANGE frames are defined by ORDER-key VALUE offsets (epoch seconds), so
    ties are included symmetrically and no unique tiebreak is needed.
    """
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        finish(F.sum(F.col("value").cast(DEC)).over(w), 6).alias("trailing_1h_value"),
        F.count(F.lit(1)).over(w).alias("trailing_1h_events"),
    )


@query(
    "q_window_distribution",
    bench=False,
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           ntile(4)       OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist over balances per market segment.

    percent_rank = (rank-1)/(n-1) and cume_dist are single IEEE divisions
    of integers — identical in both engines, no finishing needed.
    """
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "q_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — WindowGroupLimit-optimized rank filter."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@query(
    "q_sessionize_batch",
    bench=False,
    oracle="""
    WITH o AS (
        SELECT user_id, event_id, epoch_us(ts) // 1000000 AS tsec,
               lag(epoch_us(ts) // 1000000) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS prev_sec
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, tsec,
               CASE WHEN prev_sec IS NULL OR tsec - prev_sec > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM o
    ),
    numbered AS (
        SELECT user_id, tsec,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY tsec, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS session_no
        FROM flagged
    )
    SELECT user_id, cast(session_no as bigint) AS session_no,
           count(*) AS n_events,
           min(tsec) AS start_sec, max(tsec) AS end_sec,
           max(tsec) - min(tsec) AS duration_sec
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: batch counterpart of
    q_stream_session (streaming/windows.py) with a 30-min idle gap.

    The classic two-window construction: lag() marks session starts
    (gap > 1800 s), a running sum numbers them, then one aggregate per
    (user, session). Both windows partition by user_id — no global
    ordering anywhere, so the plan scales with the user count; ties on
    ts are broken by event_id in BOTH windows (the flag and the
    numbering must see the same total order — the q_stream_session
    oracle-parity lesson).
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("tsec")
    )
    order = [F.asc("tsec"), F.asc("event_id")]
    w_lag = Window.partitionBy("user_id").orderBy(*order)
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev = F.lag("tsec").over(w_lag)
    flagged = e.withColumn(
        "new_session",
        F.when(prev.isNull() | (F.col("tsec") - prev > 1800), 1).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_no", F.sum("new_session").over(w_run).cast("bigint")
    )
    return numbered.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("tsec").alias("start_sec"),
        F.max("tsec").alias("end_sec"),
        (F.max("tsec") - F.min("tsec")).alias("duration_sec"),
    )


@query(
    "q_resample_ffill",
    oracle="""
    WITH ranked AS (
        SELECT user_id, date_trunc('day', ts) AS day, value,
               row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ),
    daily AS (SELECT user_id, day, value FROM ranked WHERE rn = 1),
    span AS (
        SELECT user_id, min(day) AS d0, max(day) AS d1
        FROM daily GROUP BY user_id
    ),
    grid AS (
        SELECT user_id,
               unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        FROM span
    )
    SELECT g.user_id, g.day,
           last_value(d.value IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.day
               ROWS UNBOUNDED PRECEDING
           ) AS value_filled,
           d.value IS NOT NULL AS is_observed
    FROM grid g
    LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
    """,
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample to a daily grid + forward fill.

    The gap-filling operator every metrics pipeline needs: each user's
    observed days collapse to a last-value-of-day point, a dense daily
    grid spans [first, last] via sequence+explode (rows materialize
    executor-side, never on the driver), and missing days forward-fill
    with last(value, ignorenulls) over a user-partitioned window.
    Scale: grid size is users × days — generated distributed; the only
    shuffles key on user_id. The pick-latest rn=1 is the same
    WindowGroupLimit shape as q_join_asof.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "ts",
        "event_id",
        "value",
    )
    w_pick = Window.partitionBy("user_id", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    daily = (
        e.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", "value")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    joined = grid.join(daily, on=["user_id", "day"], how="left")
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        "day",
        F.last("value", ignorenulls=True).over(w_fill).alias("value_filled"),
        F.col("value").isNotNull().alias("is_observed"),
    )


@query(
    "q_window_cumulative_distinct",
    bench=False,
    oracle="""
    WITH firsts AS (
        SELECT event_type, user_id,
               min(date_trunc('day', ts)) AS first_day
        FROM events
        GROUP BY event_type, user_id
    ), daily_new AS (
        SELECT event_type, first_day AS day, count(*) AS n_new
        FROM firsts
        GROUP BY event_type, first_day
    )
    SELECT event_type, day,
           cast(n_new AS bigint) AS n_new_users,
           cast(sum(n_new) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS bigint)
               AS cum_distinct_users
    FROM daily_new
    """,
)
def q_window_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count per event type — the window-COUNT-
    DISTINCT neither engine supports natively, via first-appearance.

    count(DISTINCT x) OVER (ORDER BY ...) is unsupported in Spark AND
    DuckDB; the scalable equivalent: a user contributes to the running
    distinct count exactly on their FIRST day (one min-agg shuffle on
    (type, user)), daily first-appearances aggregate to n_new, and a
    cumulative sum over the tiny (type, day) table yields the running
    distinct count. The expensive cardinality work happens in hash
    aggregates over the raw data; the window only ever sorts
    type x day rows — at 100 TB that's thousands of rows, not
    billions. Both engines compute the identical construction.
    """
    e = load(spark, sf_dir, "events")
    firsts = e.groupBy(
        "event_type", "user_id"
    ).agg(F.min(F.date_trunc("day", F.col("ts"))).alias("first_day"))
    daily_new = firsts.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_new"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily_new.select(
        "event_type",
        "day",
        F.col("n_new").alias("n_new_users"),
        F.sum("n_new").over(w).alias("cum_distinct_users"),
    )


@query(
    "q_window_moving_zscore",
    oracle=f"""
    WITH st AS (
        SELECT event_id, user_id, value,
               count(*) OVER w AS n,
               {sql_finish_dec(f'sum(cast(value as {DEC})) OVER w', 6)} AS s1,
               {sql_finish_dec(
                   f'sum(cast(value * value as {DEC})) OVER w', 6
               )} AS s2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, value,
           (value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)) AS zscore,
           cast(n as bigint) AS n_window
    FROM st
    WHERE n >= 10
      AND (s2 - s1 * s1 / n) / (n - 1) > 0
      AND abs((value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1))) > 3
    """,
)
def q_window_moving_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly gate: events whose value sits more than
    3 sigma from THEIR OWN user's prior-20-event distribution. The
    frame excludes the current row (ROWS -20..-1), so a spike cannot
    mask itself by inflating the window it is judged against — the
    streaming anomaly-detector shape run in batch.

    Parity: windowed mean/std come from the numeric.py moments recipe —
    two DECIMAL window sums (order-independent) finished to identical
    doubles, then fixed IEEE arithmetic for mean/var/z (rule 5: no
    finish on quotients); var > 0 guards the all-identical-window
    division in both engines identically. Scale: one shuffle on
    user_id, a 21-row sliding frame per row (O(1) incremental decimal
    adds), and only the |z| > 3 tail survives to output.
    """
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    n = F.count(F.lit(1)).over(w)
    s1 = finish(F.sum(F.col("value").cast(DEC)).over(w), 6)
    s2 = finish(
        F.sum((F.col("value") * F.col("value")).cast(DEC)).over(w), 6
    )
    st = e.select(
        "event_id",
        "user_id",
        "value",
        n.alias("n"),
        s1.alias("s1"),
        s2.alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        st.filter((F.col("n") >= 10) & (var > 0) & (F.abs(z) > 3))
        .select(
            "event_id",
            "user_id",
            "value",
            z.alias("zscore"),
            F.col("n").alias("n_window"),
        )
    )


#: EWMA weights 0.3·0.7^k as EXACT decimal literals (3·7^k / 10^(k+1)) —
#: pow()/power() is not guaranteed correctly-rounded across libms, but a
#: finite decimal literal parses to the identical nearest double in both
#: engines.
_EWMA_WEIGHTS = [
    f"0.{'0' * (len(str(10 ** (k + 1))) - len(str(3 * 7**k)) - 1)}{3 * 7**k}"
    for k in range(8)
]


@query(
    "q_window_ewma",
    oracle=f"""
    SELECT event_id, user_id, ts, value,
           ({' + '.join(
               f'coalesce(cast({w} as double) * lag(value, {k}) OVER w, 0.0)'
               for k, w in enumerate(_EWMA_WEIGHTS)
           )})
           /
           ({' + '.join(
               f'(CASE WHEN lag(value, {k}) OVER w IS NOT NULL'
               f' THEN cast({w} as double) ELSE cast(0.0 as double) END)'
               for k, w in enumerate(_EWMA_WEIGHTS)
           )}) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's event values:
    the trend-smoothing signal behind rate alerts and engagement scores.

    The recursive EWMA (s_t = αx_t + (1−α)s_{t−1}) is an order-dependent
    float recurrence — unportable and unparallelizable. This is the
    truncated-kernel form: 8 trailing lags with weights α(1−α)^k
    (α = 0.3; the dropped tail carries < 0.7^8 ≈ 5.8% of mass, and the
    weight sum renormalizes over the lags that exist, so warm-up rows
    are exact averages of what's available, not biased toward zero).
    Parity needs no finish(): the weights are exact-decimal literals
    parsed to identical doubles, both numerator and denominator are
    fixed-length left-associated chains evaluated in the same textual
    order, and the final division is a single IEEE op on bit-identical
    operands. Scale: one window shuffle on user_id, a fixed 8-lag frame
    per row — no state, no recursion, embarrassingly parallel.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.lag("value", k).over(w) for k in range(8)]
    num = F.coalesce(F.lit(float(_EWMA_WEIGHTS[0])) * lags[0], F.lit(0.0))
    den = F.when(lags[0].isNotNull(), F.lit(float(_EWMA_WEIGHTS[0]))).otherwise(0.0)
    for k in range(1, 8):
        wk = F.lit(float(_EWMA_WEIGHTS[k]))
        num = num + F.coalesce(wk * lags[k], F.lit(0.0))
        den = den + F.when(lags[k].isNotNull(), wk).otherwise(0.0)
    return e.select(
        "event_id", "user_id", "ts", "value", (num / den).alias("ewma")
    )


@query(
    "q_resample_interpolate",
    oracle="""
    WITH ranked AS (
        SELECT user_id, date_trunc('day', ts) AS day, value,
               row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ),
    daily AS (SELECT user_id, day, value FROM ranked WHERE rn = 1),
    span AS (
        SELECT user_id, min(day) AS d0, max(day) AS d1
        FROM daily GROUP BY user_id
    ),
    grid AS (
        SELECT user_id,
               unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        FROM span
    ),
    anchored AS (
        SELECT g.user_id, g.day, d.value,
               last_value(d.value IGNORE NULLS) OVER wp AS prev_val,
               last_value(d.day IGNORE NULLS) OVER wp AS prev_day,
               first_value(d.value IGNORE NULLS) OVER wn AS next_val,
               first_value(d.day IGNORE NULLS) OVER wn AS next_day
        FROM grid g
        LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
        WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.day
                      ROWS UNBOUNDED PRECEDING),
               wn AS (PARTITION BY g.user_id ORDER BY g.day
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day,
           CASE WHEN value IS NOT NULL THEN value
                ELSE prev_val + (next_val - prev_val)
                     * (cast(date_diff('day', prev_day, day) as double)
                        / cast(date_diff('day', prev_day, next_day) as double))
           END AS value_interp,
           value IS NOT NULL AS is_observed
    FROM anchored
    """,
)
def q_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-grid resample with LINEAR interpolation — the smooth twin of
    q_resample_ffill: gap days take the straight line between the
    surrounding observations instead of holding the last value.

    Same distributed construction as ffill (per-day pick-latest, dense
    grid via sequence+explode, one window shuffle on user_id) plus a
    backward anchor: last(ignorenulls) carries (prev_day, prev_val)
    forward, first(ignorenulls) over the FOLLOWING frame carries
    (next_day, next_val) back. The grid spans [first, last] observation,
    so gap rows always have both anchors and the denominator
    next_day − prev_day is strictly positive there; observed rows pass
    their value through untouched (never 0/0). Parity: the lerp is
    per-row IEEE on identical parquet doubles and an integer-day ratio —
    deterministic in both engines, no finishing (numeric.py rule 5).
    """
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "ts",
        "event_id",
        "value",
    )
    w_pick = Window.partitionBy("user_id", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    daily = (
        e.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", "value")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    joined = grid.join(daily, on=["user_id", "day"], how="left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    anchored = joined.select(
        "user_id",
        "day",
        "value",
        F.last("value", ignorenulls=True).over(wp).alias("prev_val"),
        F.last(F.when(F.col("value").isNotNull(), F.col("day")), ignorenulls=True)
        .over(wp)
        .alias("prev_day"),
        F.first("value", ignorenulls=True).over(wn).alias("next_val"),
        F.first(F.when(F.col("value").isNotNull(), F.col("day")), ignorenulls=True)
        .over(wn)
        .alias("next_day"),
    )
    frac = F.datediff(F.col("day"), F.col("prev_day")).cast("double") / F.datediff(
        F.col("next_day"), F.col("prev_day")
    ).cast("double")
    lerp = F.col("prev_val") + (F.col("next_val") - F.col("prev_val")) * frac
    return anchored.select(
        "user_id",
        "day",
        F.when(F.col("value").isNotNull(), F.col("value"))
        .otherwise(lerp)
        .alias("value_interp"),
        F.col("value").isNotNull().alias("is_observed"),
    )


@query(
    "q_window_rolling_median",
    oracle=f"""
    WITH daily AS (
        SELECT year(o_orderdate) AS yr,
               date_trunc('day', o_orderdate) AS day,
               {sql_dsum('o_totalprice', 'revenue')},
               count(*) AS n_orders
        FROM orders GROUP BY 1, 2
    )
    SELECT yr, day, revenue, n_orders,
           median(revenue) OVER (
               PARTITION BY yr ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS median_7d
    FROM daily
    """,
)
def q_window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-OBSERVATION median of daily revenue — the robust
    rolling statistic (a single whale order shifts a trailing mean for
    a week; the median shrugs it off). NOTE the frame is ROWS BETWEEN
    6 PRECEDING (last 7 observed days), NOT a calendar RANGE: on a
    series with day gaps the window spans more than 7 calendar days
    (ADVICE r6). Both engines use the identical ROWS frame, and the
    fixture's daily grain is gap-free, so the semantics match; a true
    calendar-day variant would use the trailing-distinct day-spine
    fan-out pattern (q_window_trailing_distinct). Spark has no median
    window function, so the frame median is computed EXACTLY as
    ``array_sort(collect_list(x) over frame)`` + middle element(s) —
    the collect-sort-frame pattern: legitimate because the frame is
    BOUNDED (≤ 7 values per row; never use it on an unbounded frame,
    where per-row state grows with history — that is the
    q_window_cumulative_distinct lesson).

    Parity: daily revenues are finished decimal sums (identical
    doubles both engines); the sorted-frame middle is those exact
    doubles. The even-count case averages the two middles as (a+b)/2 —
    ASSUMED equal to DuckDB's quantile_cont interpolation
    a + 0.5*(b-a); the two formulas can differ by 1 ulp on adversarial
    doubles, so this parity is fixture-verified rather than proven
    (ADVICE r6). Window partitions by YEAR (the 100-TB sharding rule
    for unbounded-history series — same as q_report_mom_growth).
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.date_trunc("day", "o_orderdate").alias("day"),
    ).agg(
        dsum(F.col("o_totalprice"), "revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.partitionBy("yr").orderBy("day").rowsBetween(-6, 0)
    frame = F.array_sort(F.collect_list("revenue").over(w))
    n = F.size(frame)
    odd = F.element_at(frame, ((n + 1) / 2).cast("int"))
    even = (
        F.element_at(frame, (n / 2).cast("int"))
        + F.element_at(frame, (n / 2 + 1).cast("int"))
    ) / 2.0
    return daily.select(
        "yr",
        "day",
        "revenue",
        "n_orders",
        F.when(n % 2 == 1, odd).otherwise(even).alias("median_7d"),
    )


@query(
    "q_window_gaps_islands",
    oracle="""
    WITH days AS (
        SELECT DISTINCT l_suppkey, CAST(l_shipdate AS DATE) AS ship_day
        FROM lineitem
    ),
    grouped AS (
        SELECT l_suppkey, ship_day,
               ship_day - CAST(row_number() OVER (
                   PARTITION BY l_suppkey ORDER BY ship_day
               ) AS INTEGER) AS island_key
        FROM days
    ),
    islands AS (
        SELECT l_suppkey, count(*) AS streak_days,
               min(ship_day) AS streak_start
        FROM grouped GROUP BY l_suppkey, island_key
    )
    SELECT l_suppkey,
           count(*) AS n_islands,
           max(streak_days) AS longest_streak,
           CAST(sum(streak_days) AS BIGINT) AS active_days,
           CAST(min(streak_start) AS TIMESTAMP) AS first_active
    FROM islands
    GROUP BY l_suppkey
    """,
)
def q_window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per supplier, maximal runs of CONSECUTIVE
    calendar ship days (streaks), via the classic rn-difference trick —
    date minus its per-partition row_number is CONSTANT exactly within
    a consecutive run, so one partitioned window + two hash aggregates
    find every island with no self-join and no per-row loop (the naive
    formulations — anti-join against date+1, or a correlated "previous
    day" probe — are a second shuffle or worse).

    Distinct (supplier, day) first: duplicate same-day shipments must
    not break the rn arithmetic. All three stages key on l_suppkey, so
    the window shuffle is the ONLY data movement — the aggregates reuse
    its partitioning. Streak semantics (longest/count/coverage) are the
    engagement/uptime/SLA analytics shape; everything is integer/date
    arithmetic, so parity is exact by construction.
    """
    days = (
        load(spark, sf_dir, "lineitem")
        .select("l_suppkey", F.to_date("l_shipdate").alias("ship_day"))
        .distinct()
    )
    grouped = days.withColumn(
        "island_key",
        F.date_sub(
            "ship_day",
            F.row_number().over(
                Window.partitionBy("l_suppkey").orderBy("ship_day")
            ),
        ),
    )
    islands = grouped.groupBy("l_suppkey", "island_key").agg(
        F.count(F.lit(1)).alias("streak_days"),
        F.min("ship_day").alias("streak_start"),
    )
    return islands.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("streak_days").alias("longest_streak"),
        F.sum("streak_days").alias("active_days"),
        F.min("streak_start").cast("timestamp").alias("first_active"),
    )
