"""Statistical analysis operators: regression, independence, moments,
entropy, autocorrelation, change detection, digit-law audits, skyline.

Reference parity: the reference snapshot publishes no code
(/root/reference/README.md:1-2); these extend SURVEY.md §2's declared
analytics surface with the classical statistics a warehouse-resident
analytics engine exposes as first-class operators.

Numeric-parity design (functions/numeric.py rules): every cross-row
accumulation is DECIMAL(30,10) on prescaled values; finished sums feed
fixed IEEE expressions that are bit-identical across engines (rule 5 —
quotients/products of identical doubles are never re-finished);
transcendentals (ln) are finished at 6 dp at their grain because libm
vs JVM may differ in the last ulp.

Scale notes shared by the module: every unbounded window partitions by
a key whose cardinality grows with the data (event_type × day, price
shard); global windows appear only over aggregated frames whose row
count is bounded by construction (9 digits, 35 χ² cells, ~100 price
shards — the q_sort_zorder_layout shard-offset precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dsum, exact, finish, sql_dsum, sql_exact, sql_finish_dec
from ..registry import query
from ..sources.tables import load
from .analytics import _epoch_us

#: integer µs per day (events.ts → day grain, exact in both engines)
_DAY_US = 86_400_000_000


@query(
    "q_agg_linreg_trend",
    oracle=f"""
    WITH pts AS (
        -- DYADIC prescales (2^-10, 2^-20), cast to double: decimal-power
        -- prescales (0.001) made xs*ys terminate at 11 dp, sitting
        -- EXACTLY on 10-dp accumulator quantization ties where Spark
        -- (shortest-string HALF_UP) and DuckDB (exact-binary) round
        -- apart ~3% of rows (caught by the sf0.1 mirror); power-of-two
        -- scaling is exact in IEEE, so products keep full-mantissa
        -- noise and ties are measure-zero. The cast(... as double) also
        -- stops DuckDB from keeping bigint*DECIMAL-literal exact.
        SELECT o_orderpriority,
               date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
                   * cast(0.0009765625 as double) AS xs,
               o_totalprice * cast(0.00000095367431640625 as double) AS ys
        FROM orders
    ),
    s AS (
        SELECT o_orderpriority,
               count(*) AS n,
               {sql_dsum("xs", "sx", 6)},
               {sql_dsum("ys", "sy", 6)},
               {sql_dsum("xs * xs", "sxx", 6)},
               {sql_dsum("xs * ys", "sxy", 6)}
        FROM pts GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) * 1024.0 AS slope_per_day,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
               * 1048576.0 AS intercept
    FROM s
    """,
)
def q_agg_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend line (price drift per day) via closed-form
    normal equations over decimal power sums.

    slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) with x = days since 1995-01-01
    and y = o_totalprice, both prescaled DYADICALLY (x·2⁻¹⁰, y·2⁻²⁰) so
    every accumulated sum obeys the 2^53 finish rule through sf1000 AND
    the prescaling is exact IEEE (a decimal-power prescale made x·y
    terminate at 11 dp — systematic decimal(30,10) quantization ties
    where the engines' double→decimal casts round apart; numeric.py
    rule 5's tie argument applied at the accumulator scale). One
    hash-agg shuffle keyed on the group — the same plan as any multi-agg;
    the normal-equation finish is per-group scalar arithmetic on
    finished (hence bit-identical) doubles, so no second pass and no
    finishing of the division (numeric.py rule 5).
    """
    o = load(spark, sf_dir, "orders")
    xs = (
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01 00:00:00").cast("timestamp_ntz")
        )
        * F.lit(2.0**-10)
    )
    ys = F.col("o_totalprice") * F.lit(2.0**-20)
    pts = o.select("o_orderpriority", xs.alias("xs"), ys.alias("ys"))
    s = pts.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("xs"), "sx", 6),
        dsum(F.col("ys"), "sy", 6),
        dsum(F.col("xs") * F.col("xs"), "sxx", 6),
        dsum(F.col("xs") * F.col("ys"), "sxy", 6),
    )
    slope_s = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "o_orderpriority",
        "n",
        (slope_s * F.lit(1024.0)).alias("slope_per_day"),
        (
            (F.col("sy") - slope_s * F.col("sx")) / F.col("n") * F.lit(1048576.0)
        ).alias("intercept"),
    )


@query(
    "q_stats_chi2",
    oracle=f"""
    WITH cells AS (
        SELECT event_type,
               (epoch_us(ts) // {_DAY_US}) % 7 AS dow,
               count(*) AS n_obs
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, dow, n_obs,
               cast(sum(n_obs) OVER (PARTITION BY event_type) AS double) AS row_t,
               cast(sum(n_obs) OVER (PARTITION BY dow) AS double) AS col_t,
               cast(sum(n_obs) OVER () AS double) AS grand
        FROM cells
    ),
    c AS (
        SELECT event_type, dow, n_obs,
               row_t * col_t / grand AS n_exp,
               (n_obs - row_t * col_t / grand) * (n_obs - row_t * col_t / grand)
                   / (row_t * col_t / grand) AS contrib
        FROM tot
    )
    SELECT event_type, dow, n_obs, n_exp, contrib,
           {sql_finish_dec(f"sum({sql_exact('contrib')}) OVER ()")} AS chi2_total
    FROM c
    """,
)
def q_stats_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence (event_type × day-of-week): the
    full observed/expected contingency table plus the χ² statistic.

    dow is integer arithmetic on epoch-µs (not an engine dayofweek(),
    whose week-start conventions differ). Expected counts and per-cell
    contributions are fixed IEEE expressions over exact integer
    marginals; only the cross-cell χ² total — a sum whose addend order
    Spark doesn't fix — goes through the decimal accumulator. The
    windows run over the AGGREGATED 35-cell frame (|event_types|×7),
    bounded regardless of SF, so the global frames are safe; the one
    data-sized shuffle is the initial cell groupBy.
    """
    e = load(spark, sf_dir, "events")
    cells = (
        e.select(
            "event_type",
            ((_epoch_us() / F.lit(_DAY_US)).cast("bigint") % 7).alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    row_t = F.sum("n_obs").over(Window.partitionBy("event_type")).cast("double")
    col_t = F.sum("n_obs").over(Window.partitionBy("dow")).cast("double")
    grand = F.sum("n_obs").over(Window.partitionBy()).cast("double")
    tot = cells.select(
        "event_type",
        "dow",
        "n_obs",
        row_t.alias("row_t"),
        col_t.alias("col_t"),
        grand.alias("grand"),
    )
    n_exp = F.col("row_t") * F.col("col_t") / F.col("grand")
    c = tot.select(
        "event_type",
        "dow",
        "n_obs",
        n_exp.alias("n_exp"),
        (
            (F.col("n_obs") - n_exp) * (F.col("n_obs") - n_exp) / n_exp
        ).alias("contrib"),
    )
    return c.select(
        "event_type",
        "dow",
        "n_obs",
        "n_exp",
        "contrib",
        finish(
            F.sum(exact(F.col("contrib"))).over(Window.partitionBy())
        ).alias("chi2_total"),
    )


#: prescale for l_extendedprice power sums: y = x / 2e5 keeps y⁴ ≤ 0.08.
_MOM_PRESCALE = 200_000.0


@query(
    "q_agg_higher_moments",
    oracle=f"""
    WITH y AS (
        SELECT l_returnflag, l_extendedprice / {_MOM_PRESCALE!r} AS v
        FROM lineitem
    ),
    s AS (
        SELECT l_returnflag,
               count(*) AS n,
               {sql_dsum("v", "s1", 6)},
               {sql_dsum("v * v", "s2", 6)},
               {sql_dsum("v * v * v", "s3", 6)},
               {sql_dsum("v * v * v * v", "s4", 6)}
        FROM y GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           s1 / n * {_MOM_PRESCALE!r} AS mean_price,
           sqrt(s2 / n - (s1 / n) * (s1 / n)) * {_MOM_PRESCALE!r} AS stddev_pop,
           (s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
               / (sqrt(s2 / n - (s1 / n) * (s1 / n))
                  * (s2 / n - (s1 / n) * (s1 / n))) AS skewness,
           (s4 / n - 4 * (s1 / n) * (s3 / n)
            + 6 * (s1 / n) * (s1 / n) * (s2 / n)
            - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
               / ((s2 / n - (s1 / n) * (s1 / n))
                  * (s2 / n - (s1 / n) * (s1 / n))) - 3 AS kurtosis_excess
    FROM s
    """,
)
def q_agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per group from one pass
    of decimal power sums (Σy, Σy², Σy³, Σy⁴ on prescaled y = x/2·10⁵).

    Spark's built-in skewness()/kurtosis() are float accumulations whose
    merge order varies run-to-run; the power-sum form is merge-order
    independent and engine-exact after the 6 dp finish. The central-
    moment combination (m₂ = r₂ − m², m₃ = r₃ − 3m·r₂ + 2m³, …) is
    per-group scalar IEEE on finished doubles — written token-for-token
    identically in the oracle so both engines round identically. One
    shuffle (the groupBy); map-side partial aggregation carries four
    decimal accumulators per group.
    """
    li = load(spark, sf_dir, "lineitem")
    y = li.select(
        "l_returnflag",
        (F.col("l_extendedprice") / F.lit(_MOM_PRESCALE)).alias("v"),
    )
    v = F.col("v")
    s = y.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(v, "s1", 6),
        dsum(v * v, "s2", 6),
        dsum(v * v * v, "s3", 6),
        dsum(v * v * v * v, "s4", 6),
    )
    m = F.col("s1") / F.col("n")
    r2 = F.col("s2") / F.col("n")
    r3 = F.col("s3") / F.col("n")
    r4 = F.col("s4") / F.col("n")
    m2 = r2 - m * m
    m3 = r3 - F.lit(3) * m * r2 + F.lit(2) * m * m * m
    m4 = (
        r4
        - F.lit(4) * m * r3
        + F.lit(6) * m * m * r2
        - F.lit(3) * m * m * m * m
    )
    return s.select(
        "l_returnflag",
        "n",
        (m * F.lit(_MOM_PRESCALE)).alias("mean_price"),
        (F.sqrt(m2) * F.lit(_MOM_PRESCALE)).alias("stddev_pop"),
        (m3 / (F.sqrt(m2) * m2)).alias("skewness"),
        (m4 / (m2 * m2) - F.lit(3)).alias("kurtosis_excess"),
    )


@query(
    "q_agg_entropy",
    oracle=f"""
    WITH cnt AS (
        SELECT user_id, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    term AS (
        SELECT user_id, n,
               cast(sum(n) OVER (PARTITION BY user_id) AS bigint) AS tot,
               {sql_finish_dec(
                   "-(cast(n as double) / cast(sum(n) OVER (PARTITION BY user_id) as double))"
                   " * ln(cast(n as double) / cast(sum(n) OVER (PARTITION BY user_id) as double))",
                   6,
               )} AS t
        FROM cnt
    )
    SELECT user_id,
           max(tot) AS n_events,
           count(*) AS n_types,
           {sql_dsum("t", "entropy_nats", 6)}
    FROM term GROUP BY user_id
    """,
)
def q_agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each user's event-type mix — the
    behavioral-diversity score behind exploration metrics and bot
    detection (near-zero entropy = single-action automation).

    p·ln p terms are finished at 6 dp at the (user, type) grain — ln is
    the one operation libm and the JVM may round differently — then
    decimal-summed per user, which is exact on 6 dp inputs. Two shuffles
    on the same user_id key (counts, then the window + final agg reuse
    the partitioning via AQE); the per-user type fan-in is bounded by
    the event-type vocabulary.
    """
    e = load(spark, sf_dir, "events")
    cnt = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w_u = Window.partitionBy("user_id")
    tot = F.sum("n").over(w_u).cast("bigint")
    p = F.col("n").cast("double") / tot.cast("double")
    term = cnt.select(
        "user_id",
        "n",
        tot.alias("tot"),
        finish(-p * F.log(p), 6).alias("t"),
    )
    return term.groupBy("user_id").agg(
        F.max("tot").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        dsum(F.col("t"), "entropy_nats", 6),
    )


@query(
    "q_window_autocorr",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
               {sql_dsum("value", "rev", 4)}
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT event_type, rev * 0.00001 AS x,
               lag(rev) OVER (PARTITION BY event_type ORDER BY day) * 0.00001 AS y
        FROM daily
    ),
    pairs AS (SELECT * FROM lagged WHERE y IS NOT NULL),
    s AS (
        SELECT event_type,
               count(*) AS n_pairs,
               {sql_dsum("x", "sx", 6)},
               {sql_dsum("y", "sy", 6)},
               {sql_dsum("x * x", "sxx", 6)},
               {sql_dsum("y * y", "syy", 6)},
               {sql_dsum("x * y", "sxy", 6)}
        FROM pairs GROUP BY event_type
    )
    SELECT event_type, n_pairs,
           (n_pairs * sxy - sx * sy)
               / sqrt((n_pairs * sxx - sx * sx) * (n_pairs * syy - sy * sy))
               AS autocorr_lag1
    FROM s
    """,
)
def q_window_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each event type's daily-revenue series —
    the serial-dependence diagnostic behind seasonality detection and
    forecast-model selection.

    Two-level exact pipeline: daily totals are decimal sums finished at
    4 dp (identical doubles in both engines), the lag pairing is a
    per-series window, and the Pearson correlation over (xₜ, xₜ₋₁) runs
    on prescaled decimal sums finished at 6 dp — the q_agg_stats_corr
    recipe applied to a self-lagged series. Shuffles: one on
    (event_type, day), one on event_type; the series window partitions
    by event_type so no global ordering exists.
    """
    e = load(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            (_epoch_us() / F.lit(_DAY_US)).cast("bigint").alias("day"),
            "value",
        )
        .groupBy("event_type", "day")
        .agg(dsum(F.col("value"), "rev", 4))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        (F.col("rev") * F.lit(0.00001)).alias("x"),
        (F.lag("rev").over(w) * F.lit(0.00001)).alias("y"),
    ).filter(F.col("y").isNotNull())
    x, yy = F.col("x"), F.col("y")
    s = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        dsum(x, "sx", 6),
        dsum(yy, "sy", 6),
        dsum(x * x, "sxx", 6),
        dsum(yy * yy, "syy", 6),
        dsum(x * yy, "sxy", 6),
    )
    n = F.col("n_pairs")
    return s.select(
        "event_type",
        "n_pairs",
        (
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (n * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("autocorr_lag1"),
    )


@query(
    "q_pattern_cusum",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
               {sql_dsum("value", "rev", 4)}
        FROM events GROUP BY 1, 2
    ),
    base AS (
        SELECT event_type, day, rev,
               {sql_finish_dec(f"sum({sql_exact('rev')}) OVER (PARTITION BY event_type)", 4)}
                   / count(*) OVER (PARTITION BY event_type) AS mu,
               count(*) OVER (PARTITION BY event_type) AS n_days
        FROM daily
    ),
    cusum AS (
        SELECT event_type, day, n_days,
               {sql_finish_dec(
                   f"sum({sql_exact('rev - mu')}) OVER ("
                   "PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING)",
                   6,
               )} AS s
        FROM base
    ),
    ranked AS (
        SELECT event_type, day, n_days, s,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY abs(s) DESC, day ASC) AS rn
        FROM cusum
    )
    SELECT event_type, cast(n_days AS bigint) AS n_days,
           day AS changepoint_day, s AS cusum_at_peak
    FROM ranked WHERE rn = 1
    """,
)
def q_pattern_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event type: the day where the
    cumulative sum of deviations from the series mean peaks in
    magnitude — the classical level-shift locator (a mean shift at day
    k makes |Sₜ| maximal at k).

    The running Σ(xₜ − μ) is a decimal window sum (exact, order-safe)
    finished at 6 dp per row; μ itself is a finished decimal total over
    the per-type partition divided by the day count (both identical
    across engines). Peak selection carries the day ASC tiebreak so
    equal |S| picks deterministically. All three windows and the final
    filter share the event_type partitioning — one shuffle after the
    daily rollup.
    """
    e = load(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            (_epoch_us() / F.lit(_DAY_US)).cast("bigint").alias("day"),
            "value",
        )
        .groupBy("event_type", "day")
        .agg(dsum(F.col("value"), "rev", 4))
    )
    w_t = Window.partitionBy("event_type")
    mu = finish(F.sum(exact(F.col("rev"))).over(w_t), 4) / F.count(
        F.lit(1)
    ).over(w_t)
    base = daily.select(
        "event_type",
        "day",
        "rev",
        mu.alias("mu"),
        F.count(F.lit(1)).over(w_t).alias("n_days"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cusum = base.select(
        "event_type",
        "day",
        "n_days",
        finish(
            F.sum(exact(F.col("rev") - F.col("mu"))).over(w_run), 6
        ).alias("s"),
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s")).desc(), F.asc("day")
    )
    return (
        cusum.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("day").alias("changepoint_day"),
            F.col("s").alias("cusum_at_peak"),
        )
    )


@query(
    "q_dq_benford",
    oracle=f"""
    WITH digits AS (
        SELECT cast(substr(cast(cast(trunc(o_totalprice) AS bigint) AS varchar), 1, 1)
                    AS int) AS first_digit
        FROM orders
    ),
    obs AS (
        SELECT first_digit, count(*) AS n_obs FROM digits GROUP BY 1
    ),
    tot AS (SELECT cast(sum(n_obs) AS bigint) AS n_total FROM obs)
    SELECT first_digit, n_obs,
           cast(n_obs AS double) / cast(n_total AS double) AS obs_share,
           {sql_finish_dec(
               "ln(1.0 + 1.0 / cast(first_digit as double)) / ln(10.0)", 6
           )} AS benford_share,
           cast(n_obs AS double) / cast(n_total AS double)
               - {sql_finish_dec(
                   "ln(1.0 + 1.0 / cast(first_digit as double)) / ln(10.0)", 6
               )} AS deviation
    FROM obs, tot
    """,
)
def q_dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the
    data-quality screen for fabricated or truncated monetary columns
    (organic multiplicative amounts follow P(d) = log₁₀(1 + 1/d)).

    The first digit comes from the integer part's string head (prices
    ≥ 1 by fixture), with trunc() pinned in the oracle because DuckDB's
    double→bigint cast rounds while Spark's truncates (numeric.py rule
    3). Expected shares are ln-ratios finished at 6 dp at the 9-row
    digit grain; observed shares are exact-integer quotients. One
    groupBy shuffle; the total joins back as a broadcast single row.
    """
    o = load(spark, sf_dir, "orders")
    digits = o.select(
        F.substring(
            F.col("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("first_digit")
    )
    obs = digits.groupBy("first_digit").agg(F.count(F.lit(1)).alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").cast("bigint").alias("n_total"))
    benford = finish(
        F.log(F.lit(1.0) + F.lit(1.0) / F.col("first_digit").cast("double"))
        / F.log(F.lit(10.0)),
        6,
    )
    obs_share = F.col("n_obs").cast("double") / F.col("n_total").cast("double")
    return obs.crossJoin(F.broadcast(tot)).select(
        "first_digit",
        "n_obs",
        obs_share.alias("obs_share"),
        benford.alias("benford_share"),
        (obs_share - benford).alias("deviation"),
    )


@query(
    "q_skyline_pareto",
    oracle="""
    SELECT p.p_partkey, p.p_name, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE (q.p_retailprice < p.p_retailprice AND q.p_size >= p.p_size)
           OR (q.p_retailprice <= p.p_retailprice AND q.p_size > p.p_size)
    )
    """,
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (minimize p_retailprice, maximize p_size) — the multi-criteria
    shortlist operator (cheapest-for-its-size catalog frontier).

    Never the O(n²) dominance join the oracle runs: a point survives
    iff its size equals the max size AT its price and strictly exceeds
    the max size over all CHEAPER prices. That prefix-max is computed
    in two phases (the q_sort_zorder_layout shard-offset shape): a
    per-price-shard running max, plus a shard-level prefix max over the
    bounded shard frame (~100 rows — the only global window). Plan:
    two hash aggs + two windows + one broadcast join back to part;
    every data-sized operation keys on price or shard, so the shape
    holds at any row count (shard granularity is the only knob).
    """
    p = load(spark, sf_dir, "part")
    pm = p.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))
    pm = pm.withColumn(
        "shard", F.floor(F.col("p_retailprice")).cast("bigint")
    )
    w_local = (
        Window.partitionBy("shard")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_prev = F.max("gmax").over(w_local)
    shard_tot = pm.groupBy("shard").agg(F.max("gmax").alias("smax"))
    w_shard = (
        Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    )
    shard_prev = shard_tot.select(
        "shard", F.max("smax").over(w_shard).alias("shard_prev")
    )
    frontier = (
        pm.withColumn("local_prev", local_prev)
        .join(F.broadcast(shard_prev), on="shard")
        .withColumn(
            "cheaper_max",
            F.greatest(
                F.coalesce(F.col("local_prev"), F.lit(-1)),
                F.coalesce(F.col("shard_prev"), F.lit(-1)),
            ),
        )
        .filter(F.col("gmax") > F.col("cheaper_max"))
        .select(
            F.col("p_retailprice").alias("f_price"),
            F.col("gmax").alias("f_size"),
        )
    )
    return p.join(
        F.broadcast(frontier),
        (F.col("p_retailprice") == F.col("f_price"))
        & (F.col("p_size") == F.col("f_size")),
    ).select("p_partkey", "p_name", "p_retailprice", "p_size")


@query(
    "q_window_drawdown",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
               {sql_dsum("value", "rev", 4)}
        FROM events GROUP BY 1, 2
    ),
    dd AS (
        SELECT event_type, day, rev,
               max(rev) OVER (PARTITION BY event_type ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS peak
        FROM daily
    ),
    ranked AS (
        SELECT event_type, day, rev, peak,
               (peak - rev) / peak AS drawdown,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY (peak - rev) / peak DESC, day ASC)
                   AS rn
        FROM dd
    )
    SELECT event_type, day AS trough_day, peak, rev AS trough_rev,
           drawdown AS max_drawdown
    FROM ranked WHERE rn = 1
    """,
)
def q_window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series: the worst peak-to-trough decline of
    each event type's daily revenue — the risk metric behind "how bad
    did it get" monitoring (and every portfolio report).

    The running peak is a cummax window (exact SELECTION of an existing
    finished double — no accumulation, so no decimal machinery needed);
    drawdown = (peak − rev)/peak is fixed IEEE on identical inputs; the
    argmax row carries the day-ASC tiebreak. Both windows and the final
    filter share the event_type partitioning — one shuffle after the
    daily rollup, same shape as q_pattern_cusum.
    """
    e = load(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            (_epoch_us() / F.lit(_DAY_US)).cast("bigint").alias("day"),
            "value",
        )
        .groupBy("event_type", "day")
        .agg(dsum(F.col("value"), "rev", 4))
    )
    w_peak = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = daily.withColumn("peak", F.max("rev").over(w_peak))
    drawdown = (F.col("peak") - F.col("rev")) / F.col("peak")
    w_rank = Window.partitionBy("event_type").orderBy(
        drawdown.desc(), F.asc("day")
    )
    return (
        dd.withColumn("drawdown", drawdown)
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("trough_day"),
            "peak",
            F.col("rev").alias("trough_rev"),
            F.col("drawdown").alias("max_drawdown"),
        )
    )


#: dyadic prescale for Gini spend sums (rule 6: never a decimal power)
_GINI_SCALE = 2.0 ** -30


@query(
    "q_agg_gini",
    oracle=f"""
    WITH spend AS (
        SELECT c.c_mktsegment, o.o_custkey,
               {sql_finish_dec(f"sum({sql_exact('o.o_totalprice')})", 4)}
                   * cast({_GINI_SCALE!r} as double) AS s
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT c_mktsegment, s,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY s ASC, o_custkey ASC) AS i,
               count(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM spend
    ),
    g AS (
        SELECT c_mktsegment,
               max(n) AS n,
               {sql_dsum("(2 * i - n - 1) * s", "num", 6)},
               {sql_dsum("s", "den", 8)}
        FROM ranked GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, cast(n AS bigint) AS n_customers,
           num / (n * den) AS gini
    FROM g
    """,
)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend per market segment — the
    revenue-concentration inequality measure (0 = everyone spends the
    same, →1 = one whale).

    Sort-based closed form G = Σᵢ(2i − n − 1)·xᵢ / (n·Σx) over
    ascending spend with the custkey tiebreak (equal-x rows make the
    weight assignment among them arbitrary but the SUM invariant, so
    the tiebreak only pins engine agreement, not the value). Spend is
    finished per customer then DYADICALLY prescaled (2⁻³⁰ — rule 6; a
    decimal-power prescale would park values on decimal(30,10)
    quantization ties) so the rank-weighted decimal sum survives the
    2^53 finish rule through sf100 (at larger SF, widen the prescale —
    it is the one knob; finishes are 6/8 dp so the small-SF quotient
    keeps ~1e-5 relative precision). Two shuffles (customer rollup,
    segment window+agg) — the window and final agg share the segment
    partitioning.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    spend = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            (
                finish(F.sum(exact(F.col("o_totalprice"))), 4)
                * F.lit(_GINI_SCALE)
            ).alias("s")
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("s"), F.asc("o_custkey")
    )
    w_n = Window.partitionBy("c_mktsegment")
    ranked = spend.select(
        "c_mktsegment",
        "s",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    g = ranked.groupBy("c_mktsegment").agg(
        F.max("n").alias("n"),
        dsum((2 * F.col("i") - F.col("n") - 1) * F.col("s"), "num", 6),
        dsum(F.col("s"), "den", 8),
    )
    return g.select(
        "c_mktsegment",
        F.col("n").cast("bigint").alias("n_customers"),
        (F.col("num") / (F.col("n") * F.col("den"))).alias("gini"),
    )


@query(
    "q_stats_ks_drift",
    oracle="""
    WITH b AS (
        SELECT cast(floor(o_totalprice / 1000) AS bigint) AS bucket,
               sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                        THEN 1 ELSE 0 END) AS ca,
               sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                        THEN 0 ELSE 1 END) AS cb
        FROM orders GROUP BY 1
    ),
    c AS (
        SELECT sum(ca) OVER (ORDER BY bucket) AS cum_a,
               sum(cb) OVER (ORDER BY bucket) AS cum_b,
               sum(ca) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING) AS na,
               sum(cb) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING) AS nb
        FROM b
    )
    SELECT max(abs(cast(cum_a AS double) / cast(na AS double)
                 - cast(cum_b AS double) / cast(nb AS double))) AS ks_d,
           cast(max(na) AS bigint) AS n_a,
           cast(max(nb) AS bigint) AS n_b,
           count(*) AS n_buckets
    FROM c
    """,
)
def q_stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic between order-price
    distributions before vs after 1998-01-01 — the distribution-shift
    gate a training-data pipeline runs between corpus snapshots (PSI's
    rank-based complement; q_dq_drift covers the binned-PSI form).

    D = max_x |F_early(x) − F_late(x)| evaluated at $1000-bucket right
    edges (the exact KS of the binned distributions — binning makes the
    statistic computable without a global sort of raw rows). Pipeline:
    one hash-agg shuffle to per-bucket conditional counts, then the
    cumulative CDFs via an ordered window over the BUCKET table — the
    bucket count is bounded by the fixed price domain (~$500/0.5k ≈ 500
    rows at ANY scale factor), the same bounded-by-construction global
    window class as q_skyline_pareto's ~100 price shards (test_plans
    allowed entry), so the base table is never funneled through one
    task. All CDF arithmetic is integer counts until the final
    correctly-rounded double divisions (bit-identical both engines —
    numeric.py rule 5: quotients of identical ints are never finished).

    Reference repo publishes no code (/root/reference/README.md:1-2);
    extends SURVEY §2's declared analytics surface.
    """
    split = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    o = load(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") / 1000).cast("bigint").alias("bucket"),
        (F.col("o_orderdate") < split).alias("is_a"),
    )
    b = o.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("cb"),
    )
    # Totals come from an UNBOUNDED frame over the SAME sorted bucket
    # table (one sort, zero extra exchanges) — a totals sub-aggregate
    # cross-joined back would recompute the whole lineage, i.e. a
    # second full scan of orders at 100 TB.
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    w_tot = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = b.select(
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ca").over(w_tot).alias("na"),
        F.sum("cb").over(w_tot).alias("nb"),
    )
    return cum.agg(
        F.max(
            F.abs(
                F.col("cum_a").cast("double") / F.col("na").cast("double")
                - F.col("cum_b").cast("double") / F.col("nb").cast("double")
            )
        ).alias("ks_d"),
        F.max("na").cast("bigint").alias("n_a"),
        F.max("nb").cast("bigint").alias("n_b"),
        F.count(F.lit(1)).alias("n_buckets"),
    )


@query(
    "q_stats_ab_lift",
    oracle="""
    WITH s AS (
        SELECT sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS n_a,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS conv_a,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END) AS n_b,
               sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS conv_b
        FROM orders
    )
    SELECT cast(n_a AS bigint) AS n_a,
           cast(conv_a AS bigint) AS conv_a,
           cast(n_b AS bigint) AS n_b,
           cast(conv_b AS bigint) AS conv_b,
           cast(conv_a AS double) / cast(n_a AS double) AS p_a,
           cast(conv_b AS double) / cast(n_b AS double) AS p_b,
           (cast(conv_a AS double) / cast(n_a AS double))
               / (cast(conv_b AS double) / cast(n_b AS double)) AS lift,
           (cast(conv_a AS double) / cast(n_a AS double)
              - cast(conv_b AS double) / cast(n_b AS double))
           / sqrt(
               (cast(conv_a + conv_b AS double) / cast(n_a + n_b AS double))
               * (1.0 - cast(conv_a + conv_b AS double)
                      / cast(n_a + n_b AS double))
               * (1.0 / cast(n_a AS double) + 1.0 / cast(n_b AS double))
             ) AS z_score
    FROM s
    """,
)
def q_stats_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B lift + z-statistic — the experiment-readout
    aggregate (variant A = urgent/high-priority orders, conversion =
    fulfilled status): lift = p_a/p_b and the pooled two-proportion
    z = (p_a - p_b) / sqrt(p(1-p)(1/n_a + 1/n_b)).

    Determinism: everything reduces to FOUR integer conditional counts
    in one hash-agg pass (map-side combined, single 1-row result); every
    float is then a fixed expression tree over correctly-rounded integer
    divisions, products, and one sqrt — all IEEE-deterministic given
    identical inputs, so no decimal finishing is needed (numeric.py
    rule 5: derived expressions of identical doubles are never
    re-finished). Both engines evaluate the SAME tree shape (spelled
    out in the oracle rather than via intermediate column reuse).

    Scale: a single scan with predicate-free conditional aggregation —
    the cheapest possible shape; at 100 TB it is one map-side-combined
    pass. Reference repo publishes no code
    (/root/reference/README.md:1-2); extends SURVEY §2's analytics
    surface.
    """
    o = load(spark, sf_dir, "orders")
    is_a = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    is_f = F.col("o_orderstatus") == "F"
    s = o.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(is_a & is_f, 1).otherwise(0)).cast("bigint").alias("conv_a"),
        F.sum(F.when(is_a, 0).otherwise(1)).cast("bigint").alias("n_b"),
        F.sum(F.when(~is_a & is_f, 1).otherwise(0)).cast("bigint").alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    p_b = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = (p_a - p_b) / F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return s.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        p_a.alias("p_a"),
        p_b.alias("p_b"),
        (p_a / p_b).alias("lift"),
        z.alias("z_score"),
    )


@query(
    "q_stats_welch_ttest",
    oracle=f"""
    WITH m AS (
        SELECT CAST(count(*) FILTER (o_orderpriority = '1-URGENT')
                    AS BIGINT) AS n_a,
               CAST(count(*) FILTER (o_orderpriority = '5-LOW')
                    AS BIGINT) AS n_b,
               {sql_dsum(
                   "CASE WHEN o_orderpriority = '1-URGENT' THEN"
                   " o_totalprice / 1000000.0 END", "sa", 6)},
               {sql_dsum(
                   "CASE WHEN o_orderpriority = '5-LOW' THEN"
                   " o_totalprice / 1000000.0 END", "sb", 6)},
               {sql_dsum(
                   "CASE WHEN o_orderpriority = '1-URGENT' THEN"
                   " (o_totalprice / 1000000.0) * (o_totalprice / 1000000.0)"
                   " END", "saa", 6)},
               {sql_dsum(
                   "CASE WHEN o_orderpriority = '5-LOW' THEN"
                   " (o_totalprice / 1000000.0) * (o_totalprice / 1000000.0)"
                   " END", "sbb", 6)}
        FROM orders
    )
    SELECT n_a, n_b,
           sa / n_a AS mean_a,
           sb / n_b AS mean_b,
           (sa / n_a - sb / n_b)
             / sqrt(((n_a * saa - sa * sa) / (n_a * (n_a - 1))) / n_a
                  + ((n_b * sbb - sb * sb) / (n_b * (n_b - 1))) / n_b)
               AS t_stat,
           pow(((n_a * saa - sa * sa) / (n_a * (n_a - 1))) / n_a
             + ((n_b * sbb - sb * sb) / (n_b * (n_b - 1))) / n_b, 2)
             / (pow(((n_a * saa - sa * sa) / (n_a * (n_a - 1))) / n_a, 2)
                    / (n_a - 1)
              + pow(((n_b * sbb - sb * sb) / (n_b * (n_b - 1))) / n_b, 2)
                    / (n_b - 1))
               AS welch_df
    FROM m
    """,
)
def q_stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test: does mean order value differ
    between 1-URGENT and 5-LOW priorities? The two-sample test every
    experimentation platform runs when variances can't be assumed equal
    (q_stats_ab_lift's pooled-variance cousin); welch_df is the
    Welch–Satterthwaite effective degrees of freedom the p-value lookup
    needs.

    Numeric recipe (numeric.py rules, same as q_agg_stats_corr): both
    groups' count/sum/sum-of-squares fold into ONE conditional-agg pass
    over prescaled values (price/1e6 keeps every moment inside the 2^53
    finish window), each moment decimal-finished at 6 dp; mean,
    variance, t, and df are then fixed IEEE expressions on identical
    finished inputs — an iterative-feeling statistic made
    bit-reproducible across engines. Means are reported in the
    prescaled unit (documented contract, like covar_samp).

    Scale: one map-side-combinable agg to a single row; the test
    statistic costs nothing beyond the scan.
    """
    o = load(spark, sf_dir, "orders")
    x = F.col("o_totalprice") / 1000000.0
    in_a = F.col("o_orderpriority") == "1-URGENT"
    in_b = F.col("o_orderpriority") == "5-LOW"
    m = o.agg(
        F.count(F.when(in_a, 1)).alias("n_a"),
        F.count(F.when(in_b, 1)).alias("n_b"),
        dsum(F.when(in_a, x), "sa", 6),
        dsum(F.when(in_b, x), "sb", 6),
        dsum(F.when(in_a, x * x), "saa", 6),
        dsum(F.when(in_b, x * x), "sbb", 6),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    sa, sb = F.col("sa"), F.col("sb")
    saa, sbb = F.col("saa"), F.col("sbb")
    va_over_na = ((n_a * saa - sa * sa) / (n_a * (n_a - F.lit(1)))) / n_a
    vb_over_nb = ((n_b * sbb - sb * sb) / (n_b * (n_b - F.lit(1)))) / n_b
    se2 = va_over_na + vb_over_nb
    return m.select(
        "n_a",
        "n_b",
        (sa / n_a).alias("mean_a"),
        (sb / n_b).alias("mean_b"),
        ((sa / n_a - sb / n_b) / F.sqrt(se2)).alias("t_stat"),
        (
            F.pow(se2, 2)
            / (
                F.pow(va_over_na, 2) / (n_a - F.lit(1))
                + F.pow(vb_over_nb, 2) / (n_b - F.lit(1))
            )
        ).alias("welch_df"),
    )


@query(
    "q_stats_mann_whitney",
    oracle="""
    WITH s AS (
        SELECT o_totalprice AS v,
               o_orderpriority = '1-URGENT' AS in_a
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    r AS (
        SELECT in_a,
               rank() OVER (ORDER BY v)
                   + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS avg_rank,
               v
        FROM s
    ),
    ties AS (
        SELECT cast(sum(t * t * t - t) as double) AS tie_term
        FROM (SELECT count(*) AS t FROM s GROUP BY v)
    ),
    agg AS (
        SELECT cast(sum(CASE WHEN in_a THEN 1 ELSE 0 END) as bigint) AS n_a,
               cast(sum(CASE WHEN in_a THEN 0 ELSE 1 END) as bigint) AS n_b,
               sum(CASE WHEN in_a THEN avg_rank ELSE 0 END) AS r_a
        FROM r
    )
    SELECT n_a, n_b,
           r_a - n_a * (n_a + 1) / 2.0 AS u_a,
           cast(n_a as double) * n_b
               - (r_a - n_a * (n_a + 1) / 2.0) AS u_b,
           round(
               ((r_a - n_a * (n_a + 1) / 2.0)
                   - cast(n_a as double) * n_b / 2.0)
               / sqrt(cast(n_a as double) * n_b / 12.0
                      * ((n_a + n_b + 1)
                         - tie_term
                           / (cast(n_a + n_b as double)
                              * (n_a + n_b - 1)))),
               6) AS z_score
    FROM agg CROSS JOIN ties
    """,
)
def q_stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) — the NONPARAMETRIC
    two-sample test (does order value for 1-URGENT stochastically
    dominate 5-LOW?), completing the test family: Welch t (means,
    parametric), KS (distributions, sup-norm), χ² (categorical),
    U (ordinal ranks, the one robust to outliers and any monotone
    transform).

    Exactness: ranks are INTEGER math — midrank = rank() +
    (tie_count−1)/2, a dyadic half that doubles represent exactly; the
    rank-sum, U statistics, and the tie-corrected term Σ(t³−t) are
    exact integer/half sums well inside 2^53, identical in both
    engines by construction. Only the final z normalization is IEEE
    (one fixed expression on identical exact inputs), rounded at 6 dp
    — the established stats-family convention (no decimal finishing
    needed because nothing upstream of z ever rounds).

    Scale: the global rank NEVER runs a partition-less window over
    base rows (the one-task funnel the plan suite forbids) — it is the
    equidepth/zorder two-level construction: within-shard rank()
    partitioned by a $1000 price shard (bounded shard count at any SF)
    plus a broadcast prefix-sum of per-shard counts (the only global
    window, over the ~hundreds-row shard table). Ties share a shard by
    construction (same value ⇒ same shard), so the composed rank is
    exactly the global rank(). Tie counts ride a value-keyed hash agg;
    everything else folds to one row. No per-row Python anywhere."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    s = o.select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").alias("in_a"),
    ).withColumn("shard", F.floor(F.col("v") / 1000).cast("long"))
    from pyspark.sql import Window

    counts = s.groupBy("shard").agg(F.count(F.lit(1)).alias("c"))
    woff = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = counts.select(
        "shard",
        F.coalesce(F.sum("c").over(woff), F.lit(0))
        .cast("long")
        .alias("off"),
    )
    j = s.join(F.broadcast(off), "shard")
    rank_min = (
        F.rank().over(Window.partitionBy("shard").orderBy("v"))
        + F.col("off")
    )
    r = j.select(
        "in_a",
        (
            rank_min
            + (F.count(F.lit(1)).over(Window.partitionBy("v")) - 1) / 2.0
        ).alias("avg_rank"),
    )
    tie_term = (
        s.groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            ).cast("double").alias("tie_term")
        )
    )
    agg = r.agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("in_a"), F.col("avg_rank")).otherwise(0.0)).alias(
            "r_a"
        ),
    )
    j = agg.crossJoin(tie_term)
    u_a = F.col("r_a") - F.col("n_a") * (F.col("n_a") + 1) / 2.0
    n_ab = F.col("n_a").cast("double") * F.col("n_b")
    big_n = F.col("n_a") + F.col("n_b")
    sigma = F.sqrt(
        n_ab
        / 12.0
        * (
            (big_n + 1)
            - F.col("tie_term")
            / (big_n.cast("double") * (big_n - 1))
        )
    )
    return j.select(
        "n_a",
        "n_b",
        u_a.alias("u_a"),
        (n_ab - u_a).alias("u_b"),
        F.round((u_a - n_ab / 2.0) / sigma, 6).alias("z_score"),
    )
