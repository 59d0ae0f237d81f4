"""End-to-end ETL/analytics pipeline queries (SURVEY.md §2 capstones).

Multi-operator compositions in the shape a reference-pipeline user
actually runs: TPC-H-style reporting joins (the fixture schema is
TPC-H-ish by construction — TESTDATA.md), an idempotent upsert/merge, and
a data-quality column profiler. Each stitches together operators proven
individually in the other modules, so these double as integration tests
of the engine surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import (
    dsum,
    exact,
    finish,
    sql_dsum,
    sql_exact,
    sql_finish_dbl,
    sql_finish_dec,
)
from ..registry import query
from ..sources.tables import load


@query(
    "q_pipeline_shipping_priority",
    oracle=f"""
    SELECT l_orderkey, o_orderdate,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_pipeline_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: unshipped high-revenue BUILDING orders, top 10.

    customer(broadcast) ⋈ orders ⋈ lineitem with date band filters pushed
    to both fact scans, revenue agg, global top-k. The revenue sort key
    is the FINISHED double (identical in both engines), so the LIMIT
    survivor set is deterministic with the l_orderkey tiebreak.
    """
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1998-03-15 00:00:00'")
    )
    l = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.expr("TIMESTAMP_NTZ '1998-03-15 00:00:00'")
    )
    return (
        F.broadcast(c)
        .join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q_pipeline_region_volume",
    oracle=f"""
    SELECT n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           count(*) AS n_lineitems
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = (SELECT min(r_name) FROM region)
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q_pipeline_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped: local-supplier revenue per nation in one region.

    Six-table star join: the three dims broadcast, the fact chain
    shuffles on its natural keys, and the s_nationkey = c_nationkey
    residual keeps only 'local' supply lines. (Region picked as
    min(r_name) so the query is fixture-value agnostic.)
    """
    r = load(spark, sf_dir, "region")
    first_region = r.agg(F.min("r_name")).first()[0]
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
    )
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    return (
        F.broadcast(r.filter(F.col("r_name") == first_region))
        .join(n, n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (s.s_suppkey == l.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .groupBy("n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "q_etl_upsert",
    oracle=f"""
    WITH changes AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice * 1.1 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, 'N' AS o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey % 1000 = 0
    ),
    merged AS (
        SELECT coalesce(c.o_orderkey, b.o_orderkey) AS o_orderkey,
               coalesce(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
               coalesce(c.o_totalprice, b.o_totalprice) AS o_totalprice,
               CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                    WHEN c.o_orderkey IS NULL THEN 'keep'
                    ELSE 'update' END AS action
        FROM orders b FULL JOIN changes c ON b.o_orderkey = c.o_orderkey
    )
    SELECT action, o_orderstatus, count(*) AS n_rows,
           {sql_dsum('o_totalprice', 'sum_price')}
    FROM merged
    GROUP BY action, o_orderstatus
    """,
)
def q_etl_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert/merge without a table format: base FULL JOIN changes →
    coalesce-newest → per-action audit counts.

    The changes feed is derived from the base (10% updates with a price
    bump, 0.1% inserts with shifted keys) so the merge exercises all
    three actions deterministically. On a real lakehouse this is MERGE
    INTO; the full-join + coalesce form is the engine-level equivalent
    and shuffles once on the merge key.
    """
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        base.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
    )
    inserts = base.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    changes = updates.unionByName(inserts)
    b, c = base.alias("b"), changes.alias("c")
    merged = b.join(c, F.col("b.o_orderkey") == F.col("c.o_orderkey"), "full").select(
        F.coalesce(F.col("c.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
        F.coalesce(F.col("c.o_orderstatus"), F.col("b.o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.coalesce(F.col("c.o_totalprice"), F.col("b.o_totalprice")).alias(
            "o_totalprice"
        ),
        F.when(F.col("b.o_orderkey").isNull(), "insert")
        .when(F.col("c.o_orderkey").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )
    return merged.groupBy("action", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("o_totalprice"), "sum_price"),
    )


def build_tombstone_changes(base: DataFrame) -> DataFrame:
    """The u/i/d change feed q_etl_merge_tombstones applies — shared
    with tests/test_streaming.py's foreachBatch convergence twin so the
    two can never drift apart. Synthetic insert keys are the NEGATED
    base keys: disjoint from every real (positive) orderkey at ANY
    scale — an additive offset (the first cut used +10**7) collides
    with real keys once max(o_orderkey) crosses it (~sf7), creating
    same-seq ties that make the latest-wins compaction engine-dependent.
    """
    upd1 = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("u").alias("op"),
        (F.col("o_totalprice") * 1.1).alias("price"),
        F.lit(1).alias("seq"),
    )
    ins = base.filter(F.col("o_orderkey") % 1000 == 0).select(
        (-F.col("o_orderkey")).alias("o_orderkey"),
        F.lit("i").alias("op"),
        F.col("o_totalprice").alias("price"),
        F.lit(2).alias("seq"),
    )
    dels = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("d").alias("op"),
        F.lit(None).cast("double").alias("price"),
        F.lit(2).alias("seq"),
    )
    upd3 = base.filter(F.col("o_orderkey") % 14 == 0).select(
        "o_orderkey",
        F.lit("u").alias("op"),
        (F.col("o_totalprice") * 1.2).alias("price"),
        F.lit(3).alias("seq"),
    )
    return upd1.unionByName(ins).unionByName(dels).unionByName(upd3)


@query(
    "q_etl_merge_tombstones",
    oracle=f"""
    WITH changes AS (
        SELECT o_orderkey, 'u' AS op, o_totalprice * 1.1 AS price, 1 AS seq
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT -o_orderkey, 'i', o_totalprice, 2
        FROM orders WHERE o_orderkey % 1000 = 0
        UNION ALL
        SELECT o_orderkey, 'd', cast(NULL AS double), 2
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, 'u', o_totalprice * 1.2, 3
        FROM orders WHERE o_orderkey % 14 = 0
    ),
    compact AS (
        SELECT o_orderkey, op, price
        FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                           ORDER BY seq DESC) AS rn
              FROM changes)
        WHERE rn = 1
    ),
    merged AS (
        SELECT CASE WHEN c.o_orderkey IS NULL THEN 'keep'
                    WHEN c.op = 'd' THEN 'delete'
                    WHEN b.o_orderkey IS NULL THEN 'insert'
                    ELSE 'update' END AS action,
               coalesce(c.price, b.o_totalprice) AS price
        FROM orders b FULL JOIN compact c ON b.o_orderkey = c.o_orderkey
    )
    SELECT action, count(*) AS n_rows, {sql_dsum('price', 'sum_price')}
    FROM merged GROUP BY action
    """,
)
def q_etl_merge_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style CDC apply WITH DELETES — q_etl_upsert extended to the
    full op alphabet (u/i/d) and multi-version keys: the change feed
    carries sequence numbers, a key's ops compact latest-wins BEFORE
    the merge, a trailing tombstone removes the key, and a tombstone
    followed by a later upsert RESURRECTS it (keys %14: d@seq2 then
    u@seq3 → final action 'update'; keys %7-but-not-%14, e.g. 35, end
    on the d@seq2 tombstone → 'delete' — %70 keys can't, they are %14
    and always resurrect).

    Derived deterministically from orders (10% updates, 0.1% inserts,
    1/7 deletes, 1/14 resurrections). Plan: one window pick-latest on
    the change feed (shuffle on the key, WindowGroupLimit) + one full
    join on the same key — at 100 TB the change feed is the small side
    and both shuffles key identically, so AQE coalesces them into the
    standard lakehouse MERGE shape; audit agg is map-side combined.
    The streaming half lives in tests/test_streaming.py::
    test_stream_cdc_tombstone_merge_converges — per-micro-batch
    foreachBatch merges (latest-seq-wins, order-independent) must
    converge to exactly this answer.
    """
    base = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    changes = build_tombstone_changes(base)
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("seq"))
    compact = (
        changes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "seq")
    )
    b, c = base.alias("b"), compact.alias("c")
    merged = b.join(c, F.col("b.o_orderkey") == F.col("c.o_orderkey"), "full").select(
        F.when(F.col("c.o_orderkey").isNull(), "keep")
        .when(F.col("c.op") == "d", "delete")
        .when(F.col("b.o_orderkey").isNull(), "insert")
        .otherwise("update")
        .alias("action"),
        F.coalesce(F.col("c.price"), F.col("b.o_totalprice")).alias("price"),
    )
    return merged.groupBy("action").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("price"), "sum_price"),
    )


@query(
    "q_profile_table",
    bench=False,
    oracle="""
    SELECT 'c_custkey' AS column_name, count(*) AS n_rows,
           count(c_custkey) AS n_non_null,
           count(DISTINCT c_custkey) AS n_distinct,
           cast(min(c_custkey) as varchar) AS min_value,
           cast(max(c_custkey) as varchar) AS max_value
    FROM customer
    UNION ALL
    SELECT 'c_mktsegment', count(*), count(c_mktsegment),
           count(DISTINCT c_mktsegment),
           min(c_mktsegment), max(c_mktsegment)
    FROM customer
    UNION ALL
    SELECT 'c_nationkey', count(*), count(c_nationkey),
           count(DISTINCT c_nationkey),
           cast(min(c_nationkey) as varchar), cast(max(c_nationkey) as varchar)
    FROM customer
    """,
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality column profile (long form): null/distinct/min/max per
    column — the ETL ingest-validation report. min/max render as strings
    so one schema serves every column type; a production profiler would
    add the approx paths (HLL, approx quantiles) from §2.4 for width.
    """
    c = load(spark, sf_dir, "customer")

    def profile(col: str) -> DataFrame:
        return c.agg(
            F.lit(col).alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(col).alias("n_non_null"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(col).cast("string").alias("min_value"),
            F.max(col).cast("string").alias("max_value"),
        )

    return (
        profile("c_custkey")
        .unionByName(profile("c_mktsegment"))
        .unionByName(profile("c_nationkey"))
    )


@query(
    "q_etl_scd2",
    oracle="""
    WITH changes AS (
        SELECT user_id, event_type, ts, event_id
        FROM (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        )
        WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) IS NULL AS is_current,
           cast(row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) as bigint) AS version
    FROM changes
    """,
)
def q_etl_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build from an event history.

    The warehouse-ETL staple: collapse each user's event-type history
    into versioned validity intervals — a row survives only where the
    tracked attribute CHANGES (lag filter), valid_to chains to the next
    change (lead), the open row is current. Three window passes, all
    partitioned by the dimension's natural key and tie-broken by
    event_id, so the plan is one shuffle + per-key sorts — the standard
    scalable SCD2 shape (no self-join, no driver loop).
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
        F.row_number().over(w2).cast("bigint").alias("version"),
    )


@query(
    "q_cdc_compact",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id, ts, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_versions
        FROM events
    )
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_type, value AS last_value,
           cast(n_versions AS bigint) AS n_versions
    FROM v
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def q_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-log compaction: latest state per key, tombstones dropped.

    The CDC-consumer staple — a log of per-key versions collapses to
    current state: pick-latest by (ts, event_id) per user_id, and a key
    whose LAST entry is a tombstone ('error' here) vanishes from the
    compacted view. n_versions audits how much history each key
    carried. One shuffle on the key + WindowGroupLimit pick-latest —
    identical physical shape to q_join_asof's probe side, so it scales
    with key cardinality, not log length. At 100 TB this runs
    incrementally per partition-date and merges into the lakehouse
    upsert (q_etl_upsert).
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    n = F.count(F.lit(1)).over(Window.partitionBy("user_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .withColumn("n_versions", n)
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
            "n_versions",
        )
    )


@query(
    "q_dq_referential",
    oracle="""
    SELECT 'orders->customer' AS check_name,
           cast(count(*) AS bigint) AS n_rows,
           cast(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS bigint)
               AS n_orphans,
           round(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)::double
                 / count(*), 6) AS orphan_rate
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    UNION ALL
    SELECT 'lineitem->orders',
           cast(count(*) AS bigint),
           cast(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS bigint),
           round(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::double
                 / count(*), 6)
    FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    UNION ALL
    SELECT 'customer->nation',
           cast(count(*) AS bigint),
           cast(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS bigint),
           round(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END)::double
                 / count(*), 6)
    FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
    """,
)
def q_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts per foreign key.

    The pre-load data-quality gate: every FK edge of the star schema is
    probed with a left join against the parent's key set and reduced to
    (row count, orphan count, orphan rate). Joining on the DISTINCT
    parent key projection keeps the build side minimal; AQE broadcasts
    the small dims (nation, customer-at-small-SF) and falls back to a
    shuffle join when the parent outgrows the broadcast threshold — at
    100 TB the lineitem->orders probe is the big one and degenerates to
    exactly one shuffle on the FK, the same cost as the semi-join any
    integrity checker must pay. Orphan rate finishes at 6 dp (single
    IEEE division, both engines).
    """
    def probe(child: DataFrame, fk: str, parent: DataFrame, pk: str,
              name: str) -> DataFrame:
        keys = parent.select(F.col(pk).alias(fk)).distinct().withColumn(
            "ok", F.lit(1)
        )
        return child.select(fk).join(keys, on=fk, how="left").agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("ok").isNull(), 1).otherwise(0)).alias(
                "n_orphans"
            ),
            F.round(
                F.sum(F.when(F.col("ok").isNull(), 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("orphan_rate"),
        )

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    l = load(spark, sf_dir, "lineitem")
    n = load(spark, sf_dir, "nation")
    return (
        probe(o, "o_custkey", c, "c_custkey", "orders->customer")
        .unionByName(probe(l, "l_orderkey", o, "o_orderkey", "lineitem->orders"))
        .unionByName(probe(c, "c_nationkey", n, "n_nationkey", "customer->nation"))
    )


_MS_NUM = (
    "CASE WHEN n_name = 'NATION_0' THEN l_extendedprice * (1 - l_discount) "
    "ELSE 0 END"
)
_MS_DEN = "l_extendedprice * (1 - l_discount)"


@query(
    "q_pipeline_market_share",
    oracle=f"""
    SELECT cast(year(o_orderdate) AS bigint) AS o_year,
           {sql_dsum(_MS_NUM, 'mkt_revenue')},
           {sql_dsum(_MS_DEN, 'total_revenue')},
           ({sql_finish_dec(f"sum({sql_exact(_MS_NUM)})", 4)}
            / {sql_finish_dec(f"sum({sql_exact(_MS_DEN)})", 4)}) AS mkt_share
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE r_name = 'AFRICA'
    GROUP BY year(o_orderdate)
    """,
)
def q_pipeline_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's revenue share per year within a region.

    The market-share capstone: a conditional-sum ratio over the full
    star join, grouped by order year. Both the numerator (NATION_0
    revenue) and denominator (all-AFRICA revenue) accumulate in exact
    decimal and finish to identical doubles; the share is a single IEEE
    division of those two matched doubles, never re-finished (numeric
    rule 5). Catalyst broadcasts region/nation/customer up the chain
    and the only big shuffle keys on l_orderkey — same physical plan
    family as q_pipeline_region_volume (plan-tested there). The year()
    group key is computed AFTER the joins on the already-pruned column.
    """
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cond_rev = F.when(F.col("n_name") == "NATION_0", rev).otherwise(F.lit(0.0))
    joined = (
        r.join(n, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(c, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    agg = joined.groupBy(
        F.year("o_orderdate").cast("bigint").alias("o_year")
    ).agg(
        dsum(cond_rev, "mkt_revenue"),
        dsum(rev, "total_revenue"),
    )
    return agg.select(
        "o_year",
        "mkt_revenue",
        "total_revenue",
        (F.col("mkt_revenue") / F.col("total_revenue")).alias("mkt_share"),
    )


@query(
    "q_profile_skew",
    bench=False,
    oracle="""
    SELECT l_suppkey AS hot_key,
           cast(count(*) AS bigint) AS n_rows,
           (count(*)::double / (SELECT count(*) FROM lineitem)) AS share
    FROM lineitem
    GROUP BY l_suppkey
    ORDER BY n_rows DESC, hot_key ASC
    LIMIT 10
    """,
)
def q_profile_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile: the 10 hottest keys and their row share.

    The diagnostic that decides between a plain shuffle join, AQE skew
    splitting, and an explicit salted join (q_join_salted_skew): one
    hash-agg on the candidate key, a 1-row total broadcast-crossed in
    (never a partition-less window — that would funnel the agg through
    one task), and a TakeOrderedAndProject for the top 10. At 100 TB
    this runs on a sample partition first; the plan is identical. The
    share is a single IEEE division of two matched longs (rule 5: no
    finishing).
    """
    l = load(spark, sf_dir, "lineitem")
    total = l.agg(F.count(F.lit(1)).alias("_total"))
    return (
        l.groupBy(F.col("l_suppkey").alias("hot_key"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .crossJoin(F.broadcast(total))
        .select(
            "hot_key",
            "n_rows",
            (F.col("n_rows") / F.col("_total")).alias("share"),
        )
        .orderBy(F.desc("n_rows"), F.asc("hot_key"))
        .limit(10)
    )


@query(
    "q_profile_histogram",
    oracle="""
    WITH bounds AS (
        SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
        FROM orders
    )
    SELECT cast(least(floor((o_totalprice - lo) / ((hi - lo) / 10)), 9)
                AS bigint) AS bin_id,
           cast(count(*) AS bigint) AS n_orders,
           min(o_totalprice) AS bin_min,
           max(o_totalprice) AS bin_max
    FROM orders, bounds
    GROUP BY 1
    """,
)
def q_profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram: 10 bins over the order-price range.

    The profiling primitive behind every data-quality dashboard: one
    pass computes the global [min, max] (a 1-row broadcast), a second
    bins each row with floor((x-lo)/width) — pure IEEE arithmetic both
    engines evaluate identically — clamping x=max into the last bin.
    Two scans, one 1-row broadcast, one hash-agg on a 10-value key; at
    100 TB the bounds pass reads only min/max parquet footer stats when
    the scan has no other predicate. Reported bin_min/bin_max expose
    actual occupancy vs theoretical edges (empty bins simply don't
    appear — same semantics both engines).
    """
    o = load(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    binned = o.crossJoin(F.broadcast(bounds)).withColumn(
        "bin_id",
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / 10)
            ),
            F.lit(9),
        ).cast("bigint"),
    )
    return binned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("bin_min"),
        F.max("o_totalprice").alias("bin_max"),
    )


@query(
    "q_sample_deterministic_k",
    oracle="""
    SELECT o_orderstatus, o_orderkey, o_totalprice
    FROM (
        SELECT o_orderstatus, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_orderstatus
                   ORDER BY md5(cast(o_orderkey AS varchar)), o_orderkey
               ) AS rn
        FROM orders
    ) WHERE rn <= 5
    """,
)
def q_sample_deterministic_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-group deterministic sample via hash ordering.

    The debugging/eval-split sampler whose output is reproducible
    across engines, runs, AND partitionings: rank rows per group by
    md5(key) — a uniform-but-deterministic shuffle both engines
    compute identically — and keep the first 5. Unlike rand(seed)
    (partition-dependent) or TABLESAMPLE (row-order-dependent), this
    is pure row arithmetic: same WindowGroupLimit pick-k shape as
    q_topk_per_group, one shuffle on the group key. The engine-seeded
    probabilistic twin is q_sample_stratified.
    """
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("o_orderstatus", "o_orderkey", "o_totalprice")
    )


@query(
    "q_dq_drift",
    oracle="""
    WITH slices AS (
        SELECT o_orderpriority,
               o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' AS is_b,
               count(*) AS n
        FROM orders
        GROUP BY 1, 2
    ), totals AS (
        SELECT is_b, sum(n) AS total FROM slices GROUP BY is_b
    ), shares AS (
        SELECT o_orderpriority, s.is_b, n::double / total AS share
        FROM slices s JOIN totals t ON s.is_b = t.is_b
    )
    SELECT o_orderpriority,
           max(CASE WHEN NOT is_b THEN share END) AS share_a,
           max(CASE WHEN is_b THEN share END) AS share_b,
           abs(max(CASE WHEN is_b THEN share END)
               - max(CASE WHEN NOT is_b THEN share END)) AS abs_drift
    FROM shares
    GROUP BY o_orderpriority
    """,
)
def q_dq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical distribution drift between two data slices.

    The train/serve (or yesterday/today) drift check: each slice's
    category shares are compared per category — share_a, share_b, and
    |Δ| — flagging distribution shift before a model ever sees it.
    Shares are single IEEE divisions of matched longs (never
    finished); the per-category |Δ| is row-local arithmetic, so no
    cross-row float accumulation exists anywhere. Plan: one hash-agg
    on (category, slice), a 2-row totals broadcast, and a pivot-style
    conditional agg on category — at 100 TB the only real shuffle is
    the first agg, whose width is category-cardinality × 2.
    """
    o = load(spark, sf_dir, "orders")
    slices = o.groupBy(
        "o_orderpriority",
        (
            F.col("o_orderdate")
            >= F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'")
        ).alias("is_b"),
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = slices.groupBy("is_b").agg(F.sum("n").alias("total"))
    shares = slices.join(F.broadcast(totals), on="is_b").select(
        "o_orderpriority",
        "is_b",
        (F.col("n") / F.col("total")).alias("share"),
    )
    pivoted = shares.groupBy("o_orderpriority").agg(
        F.max(F.when(~F.col("is_b"), F.col("share"))).alias("share_a"),
        F.max(F.when(F.col("is_b"), F.col("share"))).alias("share_b"),
    )
    return pivoted.select(
        "o_orderpriority",
        "share_a",
        "share_b",
        F.abs(F.col("share_b") - F.col("share_a")).alias("abs_drift"),
    )


@query(
    "q_funnel_conversion",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events
        GROUP BY user_id
    )
    SELECT cast(count(*) AS bigint) AS n_users,
           cast(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END)
                AS bigint) AS n_signed_up,
           cast(sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
                         THEN 1 ELSE 0 END) AS bigint) AS n_viewed_after,
           cast(sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
                          AND t_purchase > t_view
                          AND t_purchase <= t_signup + INTERVAL 7 DAY
                         THEN 1 ELSE 0 END) AS bigint) AS n_converted
    FROM firsts
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event funnel: signup → view → purchase-within-7-days per user.

    The product-analytics staple: each user's first timestamp per
    funnel stage comes from ONE conditional-min hash aggregate (no
    joins, no windows — min is algebraic, so this is a single shuffle
    on user_id with map-side partials), then stage ordering and the
    7-day conversion deadline are row-local timestamp comparisons.
    NULL semantics do the funnel gating: a user missing a stage has
    NULL min, and NULL > x is NULL → not counted, identically in both
    engines. At 100 TB this is the cheapest possible funnel plan —
    compare the naive 3-way self-join of the events table, which pays
    three fact-fact shuffles to produce the same four numbers.
    """
    e = load(spark, sf_dir, "events")

    def first_ts(t: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    firsts = e.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("view").alias("t_view"),
        first_ts("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_signup").isNotNull() & (
        F.col("t_view") > F.col("t_signup")
    )
    converted = (
        viewed
        & (F.col("t_purchase") > F.col("t_view"))
        & (
            F.col("t_purchase")
            <= F.col("t_signup") + F.expr("INTERVAL 7 DAYS")
        )
    )
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(
            F.when(F.col("t_signup").isNotNull(), 1).otherwise(0)
        ).alias("n_signed_up"),
        F.sum(F.when(viewed, 1).otherwise(0)).alias("n_viewed_after"),
        F.sum(F.when(converted, 1).otherwise(0)).alias("n_converted"),
    )


@query(
    "q_cohort_retention",
    oracle="""
    WITH cohorts AS (
        SELECT user_id,
               date_trunc('week', min(ts)) AS cohort_week
        FROM events
        GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT e.user_id, c.cohort_week,
               date_diff('week', c.cohort_week,
                         date_trunc('week', e.ts)) AS week_n
        FROM events e JOIN cohorts c ON e.user_id = c.user_id
    )
    SELECT cohort_week, cast(week_n AS bigint) AS week_n,
           cast(count(*) AS bigint) AS n_active
    FROM activity
    GROUP BY cohort_week, week_n
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users active N weeks after first touch.

    The growth-analytics staple: users cohort by the week of their
    first event (one min-agg shuffle on user_id), every event then
    maps to (cohort_week, weeks-since-cohort), and a distinct-count
    per cell builds the retention triangle. The cohort table joins
    back to events on user_id — at 100 TB that join and the distinct
    both shuffle on user_id, so AQE coalesces them into the same
    exchange footprint; the output is weeks × weeks cells regardless
    of input size. Week arithmetic is integer truncation on both
    engines (date_trunc/weekdiff), no float anywhere.
    """
    e = load(spark, sf_dir, "events")
    cohorts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        e.join(cohorts, on="user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.floor(
                    F.datediff(
                        F.date_trunc("week", F.col("ts")),
                        F.col("cohort_week"),
                    )
                    / 7
                )
            ).cast("bigint").alias("week_n"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_n").agg(
        F.count(F.lit(1)).alias("n_active")
    )


@query(
    "q_etl_table_diff",
    bench=False,
    oracle="""
    WITH v_old AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0
    ), v_new AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 5 <> 0
    ), classified AS (
        SELECT CASE
                 WHEN o.o_orderkey IS NULL THEN 'added'
                 WHEN n.o_orderkey IS NULL THEN 'removed'
                 WHEN n.o_totalprice <> o.o_totalprice THEN 'changed'
                 ELSE 'unchanged'
               END AS change_type
        FROM v_old o FULL OUTER JOIN v_new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT change_type, cast(count(*) AS bigint) AS n_rows
    FROM classified
    GROUP BY change_type
    """,
)
def q_etl_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: classify rows as added/removed/changed.

    The audit every incremental load needs: two keyed snapshots (here
    deterministic slices of orders standing in for yesterday/today)
    full-outer-join on the key and each row classifies by NULL-side and
    value comparison — the diff that validates a CDC feed against a
    full re-extract, or a migration against its source. One shuffle on
    the key (both sides co-partition), map-side classification,
    4-row output. The value comparison is exact (prices read from the
    same parquet, +1.0 is exact in double); at 100 TB you'd compare a
    per-row hash of all non-key columns instead — same plan shape.
    """
    o = load(spark, sf_dir, "orders")
    v_old = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_totalprice"
    )
    v_new = o.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    j = v_old.alias("o").join(
        v_new.alias("n"),
        F.col("o.o_orderkey") == F.col("n.o_orderkey"),
        "full_outer",
    )
    change = (
        F.when(F.col("o.o_orderkey").isNull(), "added")
        .when(F.col("n.o_orderkey").isNull(), "removed")
        .when(F.col("n.o_totalprice") != F.col("o.o_totalprice"), "changed")
        .otherwise("unchanged")
    )
    return j.select(change.alias("change_type")).groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@query(
    "q_sample_weighted_aes",
    oracle=f"""
    WITH keyed AS (
        SELECT lang, doc_id,
               cast(len(string_split(text, ' ')) as int) AS n_words,
               {sql_finish_dbl(
                   "ln(cast((doc_id % 1000003) * (2654435761 % 1000003)"
                   " % 1000003 + 1 as double)"
                   " / 1000004.0)"
                   " / len(string_split(text, ' '))", 6
               )} AS sample_key
        FROM documents
    )
    SELECT lang, doc_id, n_words, sample_key
    FROM (SELECT *, row_number() OVER (
              PARTITION BY lang ORDER BY sample_key DESC, doc_id ASC
          ) AS rn
          FROM keyed)
    WHERE rn <= 20
    """,
)
def q_sample_weighted_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    keep 20 docs per language with probability proportional to their
    token count — the corpus-curation sampler that over-represents
    long documents in an eval slice without a global sort by weight.
    Each row draws key = u^(1/w) (log form ln(u)/w), and the top-k keys
    per stratum ARE the weighted sample; u is deterministic integer
    arithmetic ((doc_id mod p) * (Knuth mod p) mod p scaled into (0,1),
    the q_corpus_mix_weighted idiom) so the sample is reproducible
    across engines, runs, and partitionings — rand()-free by design.
    The reduce-before-multiply form keeps the product ≤ p² ≈ 10^12, so
    the mix never overflows int64 no matter how large doc_id grows
    (the naive doc_id * Knuth form would throw under ANSI mode past
    doc_id ≈ 3.5e9 — a real ceiling at 100 TB; ADVICE r4).

    Parity: the single transcendental ln(u) is finished to 6 dp per row
    before ranking; ties after finishing break on doc_id in both
    engines. Scale: one shuffle on the stratum key, WindowGroupLimit
    keeps k rows per group, nothing else survives.
    """
    d = load(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    u = (
        (
            (F.col("doc_id") % 1000003) * F.lit(2654435761 % 1000003)
            % 1000003
            + 1
        ).cast("double")
        / 1000004.0
    )
    keyed = d.select(
        "lang",
        "doc_id",
        n_words.cast("int").alias("n_words"),
        finish(F.log(u) / n_words, 6).alias("sample_key"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("sample_key"), F.asc("doc_id")
    )
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("lang", "doc_id", "n_words", "sample_key")
    )


@query(
    "q_sample_split_hash",
    oracle="""
    WITH assigned AS (
        SELECT lang,
               CASE
                   WHEN cast(('0x' || substr(md5(cast(doc_id as varchar)), 1, 2))
                             as int) < 205 THEN 'train'
                   WHEN cast(('0x' || substr(md5(cast(doc_id as varchar)), 1, 2))
                             as int) < 230 THEN 'valid'
                   ELSE 'test'
               END AS split,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    )
    SELECT split, lang,
           count(*) AS n_docs,
           cast(sum(cast(n_tokens as bigint)) as bigint) AS total_tokens
    FROM assigned
    GROUP BY split, lang
    """,
)
def q_sample_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split (~80/10/10) by key hash — the
    one split operator every training pipeline needs: membership is a
    pure function of doc_id (first md5 byte < 205 / < 230 / rest), so
    it is stable across engines, runs, partitionings, AND dataset
    growth — a doc never migrates between splits when the corpus is
    extended, unlike rand(seed) (partition-dependent) or
    randomSplit (sampling-order-dependent). Output is the per-split
    per-language accounting (doc + token counts) a curation report
    consumes; the split column itself joins back to route rows.

    Parity: md5 hex is engine-identical; the first byte parses via the
    same '0x'||hex cast idiom on both sides. Scale: map-side hash +
    one tiny (split × lang) hash-agg — no shuffle of the corpus
    itself. Token counts stay integer end-to-end.
    """
    d = load(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
                    ).cast("int")
    split = (
        F.when(bucket < 205, "train").when(bucket < 230, "valid").otherwise("test")
    )
    return (
        d.select(
            split.alias("split"),
            "lang",
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


@query(
    "q_etl_quarantine",
    oracle="""
    WITH flagged AS (
        SELECT o.*,
               CASE
                   WHEN o_totalprice <= 0 THEN 'nonpositive_price'
                   WHEN o_orderdate < TIMESTAMP '1992-01-01 00:00:00'
                     OR o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
                       THEN 'date_out_of_range'
                   WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                       THEN 'unknown_status'
                   WHEN c.c_custkey IS NULL THEN 'orphan_customer'
                   ELSE 'clean'
               END AS reason
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT reason,
           count(*) AS n_rows,
           min(o_orderkey) AS min_orderkey,
           max(o_orderkey) AS max_orderkey
    FROM flagged
    GROUP BY reason
    """,
)
def q_etl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-record quarantine routing: every row is classified by the
    FIRST failing validation rule (domain checks, date range, FK
    integrity) or 'clean' — the ingest-side gate that ships clean rows
    onward and quarantines the rest with a machine-readable reason.
    Output is the routing audit (count + key range per reason); the
    same `reason` column filters the actual quarantine sink.

    Rule order is fixed (CASE short-circuit, identical in both
    engines), so a row failing several rules lands in exactly one
    quarantine bucket — counts always sum to the input row count.
    Scale: the only join is the FK probe against the customer dim
    (broadcast when it fits; the fixture's 10:1 fact:dim ratio holds
    at 100 TB where dims stay broadcastable), then a reason-keyed
    hash-agg of width ≤ 5.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey")
    flagged = o.join(
        F.broadcast(c), o.o_custkey == c.c_custkey, "left"
    ).withColumn(
        "reason",
        F.when(F.col("o_totalprice") <= 0, "nonpositive_price")
        .when(
            (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp_ntz"))
            | (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz")),
            "date_out_of_range",
        )
        .when(~F.col("o_orderstatus").isin("F", "O", "P"), "unknown_status")
        .when(F.col("c_custkey").isNull(), "orphan_customer")
        .otherwise("clean"),
    )
    return flagged.groupBy("reason").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_orderkey"),
        F.max("o_orderkey").alias("max_orderkey"),
    )


@query(
    "q_pipeline_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue')},
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_pipeline_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped: revenue increase from hypothetically dropping
    small-quantity discounts in one year — a pure scan-filter-aggregate
    whose entire selectivity should reach the parquet scan.

    All four predicates (date band, discount band, quantity cap) push
    down to the scan (PushedFilters — the q_filter_pred plan contract
    family); no shuffle at all except the single-group final aggregate.
    At 100 TB this is the query shape that proves predicate pushdown +
    column pruning: a 16-column table read at 3 columns with row-group
    skipping on the ship-date min/max stats.
    """
    li = load(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q_pipeline_returned_revenue",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_pipeline_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped: the 20 customers who returned the most revenue
    in one quarter — the at-risk-accounts report.

    orders carries the quarter filter (pushed), lineitem the returnflag
    filter (pushed); customer and nation broadcast; one shuffle for the
    fact-fact join + one for the group. Top-20 is
    TakeOrderedAndProject on (revenue DESC, c_custkey) — the
    deterministic-tiebreak rule every LIMIT query in this repo follows,
    so the boundary row can't flip between engines.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q_pipeline_promo_share",
    oracle=f"""
    SELECT date_trunc('month', l.l_shipdate) AS mth,
           coalesce({sql_finish_dec(
               "sum(" + sql_exact("CASE WHEN p.p_type = 'PROMO' "
               "THEN l.l_extendedprice * (1 - l.l_discount) END") + ")",
               4)}, 0.0) AS promo_rev,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'total_rev')},
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    """,
)
def q_pipeline_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped: monthly promotional-revenue share for one year.

    part broadcasts (the dim); the conditional-sum promo numerator is
    the q_agg_conditional pattern (CASE without ELSE → NULLs that sum()
    skips), coalesced to 0 for promo-free months so the column is
    engine-identically non-null. The share itself is promo/total — a
    quotient of two finished sums the caller derives; emitting both
    terms keeps every output column an exact decimal finish (ratios of
    finished sums need no extra finishing — numeric.py rule 5 — but
    keeping the terms makes the month rows reaggregatable downstream).
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.date_trunc("month", "l_shipdate").alias("mth"))
        .agg(
            F.coalesce(
                finish(F.sum(exact(F.when(F.col("p_type") == "PROMO", rev))), 4),
                F.lit(0.0),
            ).alias("promo_rev"),
            dsum(rev, "total_rev"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q_pipeline_large_orders",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum({sql_exact('l_quantity')}) > 150
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           {sql_dsum('l.l_quantity', 'total_qty')}
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q_pipeline_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped: the 100 biggest orders whose total quantity
    exceeds 150 units, with their customers — the bulk-buyer audit.

    The HAVING subquery aggregates lineitem FIRST (group on orderkey,
    exact decimal quantity sum compared unrounded — group membership
    can't flip at a rounding boundary), then semi-joins orders down
    before the re-join with lineitem for the display sum: at scale the
    cheap pre-aggregation prunes the expensive wide join. Customer
    broadcasts; top-100 is TakeOrderedAndProject with the o_orderkey
    tiebreak.
    """
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(exact(F.col("l_quantity"))).alias("_q"))
        .filter(F.col("_q") > 150)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(big, o["o_orderkey"] == F.col("big_orderkey"))
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum(F.col("l_quantity"), "total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "q_report_mom_growth",
    oracle=f"""
    WITH monthly AS (
        SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mth,
               {sql_dsum('o_totalprice', 'revenue')},
               count(*) AS n_orders
        FROM orders GROUP BY 1, 2
    )
    SELECT yr, mth, revenue, n_orders,
           (revenue - lag(revenue) OVER (PARTITION BY yr ORDER BY mth))
               / lag(revenue) OVER (PARTITION BY yr ORDER BY mth)
               AS mom_growth
    FROM monthly
    """,
)
def q_report_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the period-comparison report
    every finance dashboard opens with.

    Monthly revenue is a finished decimal sum (identical doubles both
    engines); growth is (rev − lag)/lag on those — fixed IEEE, never
    finished. The lag window partitions by YEAR (each January's growth
    is NULL): no partition-less window over an unbounded month stream,
    and the year partitioning is exactly how a 100-TB deployment would
    shard a decades-long series. One shuffle for the month rollup; the
    window reuses the year grouping.
    """
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mth")
    ).agg(
        dsum(F.col("o_totalprice"), "revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.partitionBy("yr").orderBy("mth")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "yr",
        "mth",
        "revenue",
        "n_orders",
        ((F.col("revenue") - prev) / prev).alias("mom_growth"),
    )


@query(
    "q_pipeline_nation_profit",
    oracle=f"""
    SELECT n.n_name AS nation, year(l.l_shipdate) AS yr,
           {sql_dsum(
               "l.l_extendedprice * (1 - l.l_discount)"
               " - 0.5 * p.p_retailprice * l.l_quantity", "profit")},
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q_pipeline_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped: per-nation, per-year profit on one product line
    (parts whose name contains 'red'). The fixture has no partsupp
    table, so unit cost is adapted to half the part's retail price —
    0.5 is deliberately DYADIC (an exact IEEE exponent shift, numeric.py
    rule 6: a decimal cost factor like 0.6 would manufacture
    decimal-quantizer ties in the profit products at scale).

    Plan: part (name-LIKE filter pushed to its scan), supplier, and
    nation all broadcast; lineitem shuffles once for the (nation, year)
    rollup. Profit is per-row IEEE on identical inputs; only the
    cross-row sum is decimal-accumulated. The Q9 lesson at 100 TB: the
    selective dim filter (p_name LIKE) must prune BEFORE the fact join
    — a broadcast of the filtered part dim does exactly that.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("yr"),
        )
        .agg(dsum(profit, "profit"), F.count(F.lit(1)).alias("n_lines"))
    )


@query(
    "q_pipeline_fulfillment_priority",
    oracle="""
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 90
                THEN 'LATE'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 30
                THEN 'NORMAL' ELSE 'FAST' END AS ship_bucket,
           count(*) FILTER (o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
               AS high_priority_lines,
           count(*) FILTER (o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
               AS low_priority_lines
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    """,
)
def q_pipeline_fulfillment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped: does slow fulfillment hit high-priority orders?
    Per fulfillment-lag bucket (order→ship day gap: ≤30 FAST, ≤90
    NORMAL, else LATE — the fixture has no shipmode column, so the lag
    bucket replaces Q12's mode dimension), count urgent/high-priority
    vs other order lines in one ship year.

    The year filter pushes to the lineitem scan; one fact-fact join on
    orderkey, one 3-group rollup; the conditional counts are count_if
    (pure integers — nothing to finish). The Q12 lesson: the CASE
    bucket is computed AFTER the join but groups only 3 ways, so the
    aggregate is map-side-combined to almost nothing.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    lag_days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    o_full = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    bucket = (
        F.when(lag_days > 90, "LATE")
        .when(lag_days > 30, "NORMAL")
        .otherwise("FAST")
    )
    return (
        li.join(o_full, li["l_orderkey"] == o_full["o_orderkey"])
        .groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.count_if(hi).alias("high_priority_lines"),
            F.count_if(~hi).alias("low_priority_lines"),
        )
    )


@query(
    "q_pipeline_small_qty_revenue",
    oracle=f"""
    WITH avgq AS (
        SELECT l_partkey,
               ({sql_finish_dec(f"sum({sql_exact('l_quantity')})", 4)}
                / count(*)) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT coalesce({sql_finish_dec(
        f"sum({sql_exact('l.l_extendedprice')})", 4)}, 0.0) / 7.0
               AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN avgq a ON a.l_partkey = l.l_partkey
    WHERE p.p_type = 'ECONOMY'
      AND l.l_quantity < 0.2 * a.avg_qty
    """,
)
def q_pipeline_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped: revenue lost if small-quantity ECONOMY orders
    (below 20% of that part's average order quantity) moved to bulk —
    the correlated-average filter query.

    The correlated subquery decorrelates to a pre-aggregation of
    lineitem keyed on partkey joined back to the fact — at 100 TB the
    pre-agg is the cheap pass (map-side combined) and the re-join
    carries only (partkey, avg) pairs. avg_qty is a finished-decimal
    sum over count (davg recipe: identical doubles both engines), and
    the 0.2·avg comparison is fixed IEEE on those — the strict < can't
    flip engines. part broadcasts with its type filter pushed; the
    final single-group sum is coalesced for the no-survivor case so
    the row is engine-identically non-null at every SF.
    """
    li = load(spark, sf_dir, "lineitem")
    avgq = li.groupBy("l_partkey").agg(
        (finish(F.sum(exact(F.col("l_quantity"))), 4) / F.count(F.lit(1)))
        .alias("avg_qty")
    ).select(F.col("l_partkey").alias("a_partkey"), "avg_qty")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(avgq, li["l_partkey"] == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (
                F.coalesce(
                    finish(F.sum(exact(F.col("l_extendedprice"))), 4),
                    F.lit(0.0),
                )
                / 7.0
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q_pipeline_disjunctive_revenue",
    oracle=f"""
    SELECT {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_pipeline_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped: revenue from three disjunctive brand/size/
    quantity windows — the OR-of-conjuncts query whose classic
    optimization is deriving the single-table implications of the
    disjunction so each scan prunes BEFORE the join.

    Catalyst does not factor cross-table ORs by itself, so the derived
    bounds are stated explicitly — `p_brand IN (…) AND p_size ≤ 15` on
    part, `l_quantity BETWEEN 1 AND 30` on lineitem — exactly the
    rewrite the Q19 literature describes; they are implied by the OR
    (semantics unchanged, asserted by the oracle which omits them) and
    reach both parquet scans as PushedFilters (plan-contract-tested).
    The residual OR evaluates post-join on the pruned rows; part
    broadcasts.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    )
    p = load(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= 15)
    )
    q = F.col("l_quantity")
    disj = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 5)
         & (q >= 1) & (q <= 11))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 10)
           & (q >= 10) & (q <= 20))
        | ((F.col("p_brand") == "Brand#34") & (F.col("p_size") <= 15)
           & (q >= 20) & (q <= 30))
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(disj)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q_profile_histogram_equidepth",
    oracle="""
    WITH binned AS (
        SELECT o_totalprice,
               ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin_id
        FROM orders
    )
    SELECT bin_id,
           count(*) AS n_orders,
           min(o_totalprice) AS bin_lo,
           max(o_totalprice) AS bin_hi
    FROM binned GROUP BY bin_id
    """,
)
def q_profile_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram: 10 equal-population buckets over order
    price — the quantile-sketch profiling complement of the equal-WIDTH
    q_profile_histogram (uniform bin edges lie about skewed columns;
    equal-population edges ARE the deciles).

    The (o_totalprice, o_orderkey) total order makes bucket boundaries
    deterministic — ties on price can't flip rows between engines.

    NOT a global ntile window on the Spark side: a partition-less
    window funnels the whole table through ONE task (Exchange
    SinglePartition — the first cut of this query did exactly that and
    the repo-wide plan audit test_no_unpartitioned_window_over_raw_input
    rejected it). Instead the two-phase global-rank pattern
    (q_sort_zorder_layout's): shard rows by a dyadic price range,
    count per shard, prefix-sum the ~35 shard counts into offsets (a
    window over AGGREGATED tiny input — allowed), then global rank =
    shard offset + row_number within shard, and the decile id is
    computed arithmetically from (rank, n) by the SQL NTILE spec
    (first n mod k buckets get ⌈n/k⌉ rows). The DuckDB oracle keeps
    the native global ntile — single-node, no such constraint — which
    independently cross-checks the arithmetic. Integer math + raw
    doubles; nothing to finish.
    """
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    shard = F.floor(F.col("o_totalprice") / 16384).cast("bigint")
    sharded = o.withColumn("shard", shard)
    counts = sharded.groupBy("shard").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "shard", (F.sum("cnt").over(w_off) - F.col("cnt")).alias("off")
    )
    total = counts.agg(F.sum("cnt").cast("bigint").alias("n"))
    w_shard = Window.partitionBy("shard").orderBy("o_totalprice", "o_orderkey")
    ranked = (
        sharded.join(F.broadcast(offsets), "shard")
        .withColumn("grank", F.col("off") + F.row_number().over(w_shard))
        .crossJoin(F.broadcast(total))
    )
    # Exact integer arithmetic throughout (ADVICE r6): `div` is true
    # integer division — the previous double-divide-then-truncate form
    # can cross an integer boundary once ranks approach 2^53, exactly
    # the 100-TB regime this query claims. When n < 10, small = 0 and
    # every rank satisfies the cutoff branch (cutoff = n_big = n);
    # NULLIF keeps the then-dead otherwise-branch null-safe even under
    # ANSI mode instead of dividing by zero.
    ranked = ranked.withColumn("small", F.expr("n div 10")).withColumn(
        "n_big", F.expr("n % 10")
    )
    bin_id = F.when(
        F.col("grank") <= F.col("n_big") * (F.col("small") + 1),
        F.expr("(grank - 1) div (small + 1)") + F.lit(1),
    ).otherwise(
        F.col("n_big")
        + F.expr("(grank - n_big * (small + 1) - 1) div nullif(small, 0)")
        + F.lit(1)
    )
    return (
        ranked.withColumn("bin_id", bin_id.cast("int"))
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("bin_lo"),
            F.max("o_totalprice").alias("bin_hi"),
        )
    )


@query(
    "q_window_trailing_distinct",
    oracle="""
    WITH days AS (
        SELECT date_trunc('day', ts) AS d, user_id
        FROM events GROUP BY 1, 2
    ),
    spine AS (SELECT DISTINCT d FROM days)
    SELECT s.d AS day,
           count(DISTINCT u.user_id) AS users_7d
    FROM spine s
    JOIN days u
      ON u.d <= s.d AND u.d > s.d - INTERVAL 7 DAY
    GROUP BY s.d
    """,
)
def q_window_trailing_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the rolling-MAU
    shape. COUNT(DISTINCT) over a sliding window is inexpressible as a
    window function in either engine (distinct state can't merge by
    frame), and the naive per-day re-scan is O(days × data).

    Scale shape: collapse events to the (day, user) grain FIRST (one
    hash-agg — the big shuffle, map-side combined), then fan each
    day-user row out to the ≤ 7 spine days it can serve via a bounded
    range join, and count distinct per spine day. The fan-out is
    exactly 7×the collapsed grain — bounded, unlike the unbounded
    running-distinct state q_window_cumulative_distinct handles with
    first-appearance cumsum (which only works because ITS window is
    unbounded-preceding). The range join's equi-core is empty, but the
    spine side is tiny (distinct days) and broadcasts, so the plan is
    a broadcast nested loop over |days| × collapsed-grain with the
    range predicate — at 100 TB you'd bucket the spine by week to make
    it an equi-join; at fixture scale the broadcast form is the right
    plan and the honest one to measure.
    """
    e = load(spark, sf_dir, "events")
    days = (
        e.select(F.date_trunc("day", "ts").alias("d"), "user_id").distinct()
    )
    spine = days.select("d").distinct().select(F.col("d").alias("sd"))
    return (
        days.join(
            F.broadcast(spine),
            (F.col("d") <= F.col("sd"))
            & (F.col("d") > F.col("sd") - F.expr("INTERVAL 7 DAYS")),
        )
        .groupBy(F.col("sd").alias("day"))
        .agg(F.countDistinct("user_id").alias("users_7d"))
    )


@query(
    "q_etl_observed_load",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           {sql_dsum("o_totalprice", "revenue")}
    FROM orders
    WHERE o_totalprice > 100000
    GROUP BY o_orderstatus
    """,
)
def q_etl_observed_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ETL load with an INLINE data-quality gate via df.observe() — the
    free-QC pattern: Observation metrics accumulate DURING the load's
    own action (accumulator-backed, no second scan), so the pipeline
    validates the batch it just processed at zero extra passes. The
    alternative — a separate QC query — reads the 100-TB input twice.

    The observe() node sits on the SCAN (pre-filter), watching the raw
    feed: row count, NULL-key count, min price. The gate asserts the
    load contract (non-empty batch, zero NULL keys, positive prices)
    and raises on violation — the q_etl_quarantine philosophy applied
    at ingest time. Metrics that cross rows use exact decimal/integer
    forms only (counts + min — no float sums), so the gate is
    deterministic. The returned aggregate is the ordinary distributed
    load output (decimal-finished revenue per status); the observation
    is populated by the SAME collect that materializes it, which the
    query triggers on the 3-row aggregate before handing the result
    back (bfs-style driver-state return).
    """
    from pyspark.sql import Observation

    obs = Observation()
    o = load(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)
        ).alias("n_null_keys"),
        F.min("o_totalprice").alias("min_price"),
    )
    agg = (
        o.filter(F.col("o_totalprice") > 100000)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
    )
    rows = agg.collect()  # 3-row aggregate; populates the observation
    m = obs.get
    if not (m["n_rows"] > 0 and m["n_null_keys"] == 0 and m["min_price"] > 0):
        raise ValueError(f"QC gate failed on load metrics: {m}")
    return spark.createDataFrame(rows, agg.schema)


@query(
    "q_sql_parameterized",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           {sql_dsum("o_totalprice", "revenue")}
    FROM orders
    WHERE o_totalprice > 250000 AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def q_sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL — spark.sql(text, args) with NAMED parameter
    markers (:min_price, :status) plus the IDENTIFIER(:tbl) clause for
    the table reference: the injection-safe templating surface every
    production SQL pipeline needs (values bind as typed literals in the
    parser, identifiers resolve through a dedicated clause — string
    concatenation never touches the query text). The oracle is the
    same query with the parameters inlined as constants; binding must
    not change semantics, plans, or the decimal finishing.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("param_orders")
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               cast(cast(sum({sql_exact('o_totalprice')})
                    as decimal(38,4)) as double) AS revenue
        FROM IDENTIFIER(:tbl)
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"tbl": "param_orders", "min_price": 250000, "status": "O"},
    )


@query(
    "q_sql_group_by_all",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
    FROM orders
    GROUP BY order_year, o_orderpriority
    ORDER BY order_year, o_orderpriority, n_orders, n_custs
    """,
)
def q_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (Spark 3.4+ / 4.x sugar, same syntax
    DuckDB pioneered): every non-aggregate select-list item becomes a
    grouping key, and ORDER BY ALL orders by the full select list left
    to right — the analyst shorthand that kills the
    keys-drifted-from-GROUP-BY class of bug in wide reports. Resolution
    is purely syntactic (the analyzer expands ALL before optimization),
    so the plan is the ordinary partial/final hash aggregate + sort; no
    new physical operator and no scale caveat. Counts only — exact
    oracle (the DuckDB side spells the expansion out explicitly, proving
    the sugar resolves to the same semantics).
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("gba_orders")
    return spark.sql(
        """
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
        FROM gba_orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@query(
    "q_sql_lateral_alias",
    oracle="""
    SELECT o_orderkey,
           o_orderkey % 7 AS bucket,
           (o_orderkey % 7) * (o_orderkey % 7) AS bucket_sq,
           (o_orderkey % 7) * (o_orderkey % 7) + o_orderkey % 7
               AS bucket_tri,
           o_orderstatus, o_orderpriority
    FROM orders
    WHERE o_orderkey < 400
    """,
)
def q_sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column alias references (SPARK-27561, 3.4+) plus
    ``SELECT * EXCEPT`` (Spark 4.x): a select-list item referencing an
    alias defined earlier IN THE SAME select list (bucket → bucket_sq →
    bucket_tri), which classic SQL forces into nested subqueries or
    repeated expressions, and star-expansion minus named columns for
    wide-table hygiene. Both are analyzer-time rewrites — the lateral
    chain inlines into one Project, EXCEPT prunes the scan's ReadSchema
    like an explicit column list (column pruning still reaches parquet).
    Integer arithmetic only — exact oracle with the chain spelled out
    (DuckDB's own lateral-alias support is deliberately not leaned on).
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("lca_orders")
    return spark.sql(
        """
        WITH chained AS (
            SELECT o_orderkey,
                   o_orderkey % 7 AS bucket,
                   bucket * bucket AS bucket_sq,
                   bucket_sq + bucket AS bucket_tri,
                   o_orderstatus, o_orderpriority, o_custkey
            FROM lca_orders
            WHERE o_orderkey < 400
        )
        SELECT * EXCEPT (o_custkey) FROM chained
        """
    )


@query(
    "q_sql_pipe_syntax",
    oracle="""
    SELECT o_orderstatus,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           max(o_totalprice) AS max_price
    FROM orders
    WHERE o_totalprice > 1000
    GROUP BY o_orderstatus, o_orderpriority
    HAVING count(*) > 5
    """,
)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (SPARK-49555, Spark 4.0): the query written as a
    left-to-right dataflow — FROM |> WHERE |> AGGREGATE ... GROUP BY |>
    WHERE — matching how engineers actually reason about pipelines (and
    how the DataFrame API reads). Purely a parser front-end: each |>
    stage maps onto the same logical operators as nested SQL, so the
    optimized plan is identical to the classic form (scan with pushed
    filter → partial/final hash aggregate → post-agg filter) and there
    is no scale caveat. The post-aggregation |> WHERE is the pipe
    spelling of HAVING — the oracle writes the classic form, proving
    the two syntaxes denote the same query. max() on a price column is
    order-statistics, not a float sum — exact parity.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("pipe_orders")
    return spark.sql(
        """
        FROM pipe_orders
        |> WHERE o_totalprice > 1000
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
                     max(o_totalprice) AS max_price
           GROUP BY o_orderstatus, o_orderpriority
        |> WHERE n_orders > 5
        |> SELECT o_orderstatus, o_orderpriority, n_orders, max_price
        """
    )


@query(
    "q_sql_collation_group",
    oracle="""
    SELECT lower(seg) AS priority_ci,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
    FROM (
        SELECT CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
                    ELSE lower(o_orderpriority) END AS seg,
               o_custkey
        FROM orders
    )
    GROUP BY priority_ci
    """,
)
def q_sql_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (SPARK-46830, Spark 4.0): GROUP BY under
    UTF8_LCASE compares case-insensitively AT THE TYPE LEVEL — the
    collation travels with the column, so every comparison, join key,
    and aggregate group honors it without sprinkling lower() at each
    use site (the classic source of one-missed-callsite bugs in
    multi-source ingestion where vendors disagree on casing). The
    fixture's priorities are single-case, so the input deliberately
    re-cases half the rows by key parity; grouping under the collation
    must merge both casings. Scale note: collated grouping hashes a
    collation key instead of raw bytes — same shuffle shape as any
    groupBy. The SELECTED representative of a collated group is
    whichever casing arrives first (nondeterministic), so the output
    emits lower(seg_ci) — deterministic regardless of representative —
    and the oracle is the explicit lower() spelling.
    """
    o = load(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 2 == 0, F.upper("o_orderpriority"))
        .otherwise(F.lower("o_orderpriority"))
        .alias("seg"),
        "o_custkey",
    )
    return (
        o.groupBy(F.expr("seg COLLATE UTF8_LCASE").alias("seg_ci"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_custkey").alias("n_custs"),
        )
        .select(
            F.lower("seg_ci").alias("priority_ci"),
            "n",
            "n_custs",
        )
    )


_MV_CUTOFF = "1999-01-01 00:00:00"


@query(
    "q_etl_mv_incremental",
    oracle=f"""
    SELECT o_custkey,
           CAST(count(CASE WHEN o_orderdate < TIMESTAMP '{_MV_CUTOFF}'
                           THEN 1 END) AS BIGINT) AS n_base,
           CAST(count(CASE WHEN o_orderdate >= TIMESTAMP '{_MV_CUTOFF}'
                           THEN 1 END) AS BIGINT) AS n_delta,
           CAST(count(*) AS BIGINT) AS n_total,
           {{sum_price}}
    FROM orders
    GROUP BY o_custkey
    """.format(sum_price=sql_dsum("o_totalprice", "sum_price")),
)
def q_etl_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance for ADDITIVE aggregates
    — the pattern that keeps a 100-TB rollup fresh without rescanning
    the base table. The MV state per group is (count, exact-decimal
    sum): both are commutative monoids, so refreshing with a new batch
    is aggregate-the-delta + merge-partial-states — a union of two
    aggregate tables re-aggregated, never a re-scan of the base. Here
    the 'base' is orders before the cutoff (in production: the stored
    MV), the 'delta' is the new batch after it; the merge keeps the
    decimal accumulator UNFINISHED across the union (finish only at
    output) so incremental totals are bit-identical to a from-scratch
    rebuild — which is exactly what the oracle computes (a full
    aggregate over base+delta). The per-source counters double as the
    audit columns a production refresh logs. Non-additive aggregates
    (distinct, median) need sketch states or rebuilds — covered by
    q_agg_bitmap_distinct (mergeable exact distinct) and
    q_agg_sketch_reaggregate (mergeable approx).
    """
    o = load(spark, sf_dir, "orders")

    def partial(df: DataFrame, flag: int) -> DataFrame:
        return (
            df.groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(exact(F.col("o_totalprice"))).alias("s"),
            )
            .select("o_custkey", "n", "s", F.lit(flag).alias("is_delta"))
        )

    base = partial(o.filter(F.col("o_orderdate") < _MV_CUTOFF), 0)
    delta = partial(o.filter(F.col("o_orderdate") >= _MV_CUTOFF), 1)
    return (
        base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.when(F.col("is_delta") == 0, F.col("n")).otherwise(F.lit(0))
            ).alias("n_base"),
            F.sum(
                F.when(F.col("is_delta") == 1, F.col("n")).otherwise(F.lit(0))
            ).alias("n_delta"),
            F.sum("n").alias("n_total"),
            finish(F.sum("s"), 4).alias("sum_price"),
        )
    )


@query(
    "q_sql_variables",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_big,
           max(o_totalprice) AS max_price
    FROM orders
    WHERE o_totalprice > 150000.0
    GROUP BY o_orderstatus
    """,
)
def q_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (SPARK-46908, Spark 4.0) + EXECUTE
    IMMEDIATE: DECLARE a typed variable, SET it, and reference it by
    name inside a query — the parameterization path for SQL-script
    pipelines (thresholds, run dates) that previously forced string
    interpolation (injection-prone) or temp-view indirection.
    EXECUTE IMMEDIATE ... USING is the dynamic-SQL spelling with
    positional binds; the query runs both forms and INTERSECTs them
    structurally by returning the variable-driven one (the bind-driven
    twin is asserted equal inside — a mismatch raises rather than
    returning wrong data). Variables resolve at analysis time to
    literals, so the plan is identical to the constant-folded form:
    filter pushed to the scan, no scale caveat. max/count only — exact.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("var_orders")
    spark.sql("DECLARE OR REPLACE VARIABLE min_price DOUBLE DEFAULT 0.0")
    spark.sql("SET VARIABLE min_price = 150000.0")
    via_var = spark.sql(
        """
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_big,
               max(o_totalprice) AS max_price
        FROM var_orders
        WHERE o_totalprice > min_price
        GROUP BY o_orderstatus
        """
    )
    via_bind = spark.sql(
        "EXECUTE IMMEDIATE 'SELECT o_orderstatus, CAST(count(*) AS BIGINT) "
        "AS n_big, max(o_totalprice) AS max_price FROM var_orders "
        "WHERE o_totalprice > ? GROUP BY o_orderstatus' USING 150000.0"
    )
    a = sorted(map(tuple, via_var.collect()))
    b = sorted(map(tuple, via_bind.collect()))
    if a != b:  # defensive: the two parameterization paths must agree
        raise AssertionError(f"variable vs bind mismatch: {a} != {b}")
    return via_var


@query(
    "q_sql_named_window",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus,
           CAST(rank() OVER (PARTITION BY o_orderstatus
                             ORDER BY o_totalprice DESC, o_orderkey)
                AS BIGINT) AS price_rank,
           CAST(count(*) OVER (PARTITION BY o_orderstatus
                               ORDER BY o_totalprice DESC, o_orderkey
                               ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS n_so_far,
           max(o_totalprice) OVER (PARTITION BY o_orderstatus)
               AS status_max
    FROM orders
    WHERE o_orderkey < 1000
    """,
)
def q_sql_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named WINDOW clause: window definitions declared once (`WINDOW w
    AS ...`) and referenced by several analytic functions — the ANSI
    dedup mechanism for the define-the-window-once-use-it-five-times
    report style (Spark supports named references but not the ANSI
    refine-a-named-window form `OVER (w ROWS ...)`; the framed variant
    is its own named definition). Purely syntactic (the analyzer
    inlines each reference), but the SHARED partitioning/ordering
    matters physically: all three functions resolve to compatible
    windows, so Catalyst plans ONE window shuffle + sort serving every
    function — the spelled-out oracle proves semantic equivalence.
    Ordering is made total with the key tiebreak, so rank/frame outputs
    are deterministic.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("nw_orders")
    return spark.sql(
        """
        SELECT o_orderkey,
               o_orderstatus,
               CAST(rank() OVER w AS BIGINT) AS price_rank,
               CAST(count(*) OVER wf AS BIGINT) AS n_so_far,
               max(o_totalprice) OVER wp AS status_max
        FROM nw_orders
        WHERE o_orderkey < 1000
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice DESC, o_orderkey),
               wf AS (PARTITION BY o_orderstatus
                      ORDER BY o_totalprice DESC, o_orderkey
                      ROWS UNBOUNDED PRECEDING),
               wp AS (PARTITION BY o_orderstatus)
        """
    )


@query(
    "q_sql_pivot_unpivot",
    oracle="""
    SELECT o_orderpriority,
           o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    WHERE o_orderstatus IN ('F', 'O', 'P')
    GROUP BY o_orderpriority, o_orderstatus
    """,
)
def q_sql_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT and UNPIVOT clauses as a lossless round-trip: long →
    wide (PIVOT with an explicit IN list) → long again (UNPIVOT of the
    generated columns). The explicit IN list is the scale-relevant
    detail — it makes the wide schema static at analysis time, so the
    PIVOT plans as ONE pass (a hash aggregate emitting CASE-guarded
    aggregates per pivot value), with no values-discovery pre-query; an
    open-ended pivot on a 100-TB fact would first have to DISTINCT the
    pivot column. UNPIVOT is the inverse generator (columns → rows,
    map-side Expand, no shuffle) and by default DROPS null cells —
    which is exactly the long form's semantics (absent combinations
    simply have no row), so the round-trip equals the plain GROUP BY
    oracle. This is the SQL-clause twin of q_pivot_wide/q_unpivot_long
    (the DataFrame API forms).
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("pv_orders")
    return spark.sql(
        """
        WITH wide AS (
            SELECT * FROM (SELECT o_orderpriority, o_orderstatus
                           FROM pv_orders)
            PIVOT (count(*)
                   FOR o_orderstatus IN ('F' AS n_f, 'O' AS n_o, 'P' AS n_p))
        )
        SELECT o_orderpriority,
               upper(substr(status_label, 3)) AS status,
               CAST(n AS BIGINT) AS n
        FROM wide
        UNPIVOT (n FOR status_label IN (n_f, n_o, n_p))
        """
    )


@query(
    "q_sql_scripting_loop",
    oracle="""
    WITH per_q AS (
        SELECT quarter(o_orderdate) AS qtr, count(*) AS n
        FROM orders GROUP BY quarter(o_orderdate)
    )
    SELECT CAST((SELECT sum(n) FROM per_q) AS BIGINT) AS total_orders,
           CAST((SELECT qtr FROM per_q ORDER BY n DESC, qtr LIMIT 1) AS INT)
               AS busiest_quarter,
           CAST((SELECT max(n) FROM per_q) AS BIGINT)
               AS busiest_quarter_orders
    """,
)
def q_sql_scripting_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (SPARK-48338, Spark 4.0): BEGIN…END compound with
    DECLARE / WHILE / IF / SET control flow — the stored-procedure-style
    surface for multi-step SQL pipelines that previously needed a
    driver-side for-loop in Python.

    The script walks the four calendar quarters, folding a per-quarter
    COUNT into running total/argmax variables (scalar-subquery SET, IF
    branch for the max — strictly-greater keeps the EARLIEST quarter on
    ties, mirrored by the oracle's ORDER BY n DESC, qtr). Variable names
    deliberately avoid the view's column names: a variable colliding
    with a column silently resolves to the COLUMN inside the loop body
    (measured: the collision turned count(*) WHERE q = q into the full
    table each round).

    Scale: control flow runs on the driver but each iteration's body is
    an ordinary distributed agg with the quarter predicate pushed to the
    scan; loop count is O(4), not O(data). The all-at-once GROUP BY
    form (the oracle) is what you'd write when the loop axis is dense —
    scripting earns its keep when iterations carry state between
    distributed statements, which is exactly what this demonstrates.
    """
    # Session conf: snapshot + restore (scripting executes EAGERLY inside
    # spark.sql on a BEGIN…END block, so the returned DataFrame is already
    # computed when the finally runs — later queries keep their own mode).
    _prior = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    load(spark, sf_dir, "orders").createOrReplaceTempView("script_orders")
    try:
        return spark.sql(
            """
        BEGIN
          DECLARE cur_q INT = 1;
          DECLARE cur_n BIGINT = 0;
          DECLARE total_n BIGINT = 0;
          DECLARE best_q INT = 0;
          DECLARE best_n BIGINT = -1;
          WHILE cur_q <= 4 DO
            SET cur_n = (SELECT count(*) FROM script_orders
                         WHERE quarter(o_orderdate) = cur_q);
            SET total_n = total_n + cur_n;
            IF cur_n > best_n THEN
              SET best_q = cur_q;
              SET best_n = cur_n;
            END IF;
            SET cur_q = cur_q + 1;
          END WHILE;
          SELECT total_n AS total_orders,
                 best_q AS busiest_quarter,
                 best_n AS busiest_quarter_orders;
        END
        """
        )
    finally:
        if _prior is None:
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", _prior)


@query(
    "q_dq_expectations",
    oracle="""
    WITH m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (o_custkey IS NULL) AS BIGINT) AS v_null,
               CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_uniq,
               CAST(count(*) FILTER (o_orderstatus NOT IN ('F','O','P'))
                    AS BIGINT) AS v_status,
               CAST(count(*) FILTER (o_totalprice <= 0) AS BIGINT) AS v_price,
               CAST(count(*) FILTER (o_orderpriority NOT IN
                    ('1-URGENT','2-HIGH','3-MEDIUM')) AS BIGINT) AS v_prio,
               CAST(count(*) FILTER (o_orderdate <
                         TIMESTAMP '1992-01-01 00:00:00'
                      OR o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
                    AS BIGINT) AS v_date
        FROM orders
    )
    SELECT 'not_null__o_custkey' AS rule, n AS n_checked,
           v_null AS n_violations, v_null = 0 AS passed FROM m
    UNION ALL SELECT 'unique__o_orderkey', n, v_uniq, v_uniq = 0 FROM m
    UNION ALL SELECT 'accepted_values__o_orderstatus', n, v_status,
                     v_status = 0 FROM m
    UNION ALL SELECT 'positive__o_totalprice', n, v_price,
                     v_price = 0 FROM m
    UNION ALL SELECT 'accepted_values__o_orderpriority', n, v_prio,
                     v_prio = 0 FROM m
    UNION ALL SELECT 'in_range__o_orderdate', n, v_date, v_date = 0 FROM m
    """,
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality EXPECTATIONS battery (the dbt-test /
    Deequ shape): six rules — not-null, uniqueness, two accepted-values
    sets, positivity, date-range freshness — evaluated in ONE pass and
    reported as (rule, n_checked, n_violations, passed) rows, the
    contract a quality gate consumes before promoting a load.

    The o_orderpriority accepted-values rule is deliberately tighter
    than the data (4-NOT SPECIFIED / 5-LOW exist), so the report
    demonstrably carries a FAILING row — a battery that always passes
    pins nothing. Unlike q_etl_quarantine (row-level routing) or
    q_dq_referential (cross-table FK), this is the single-table
    rule-battery report.

    Scale: every rule folds into one hash-agg pass over the table (the
    uniqueness rule rides the same pass as count DISTINCT); the rule
    axis unpivots from the single metrics row via stack — 6 output rows
    regardless of table size, no per-rule rescans.
    """
    o = load(spark, sf_dir, "orders")
    m = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("v_null"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v_uniq"),
        F.count(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1)
        ).alias("v_status"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("v_price"),
        F.count(
            F.when(
                ~F.col("o_orderpriority").isin(
                    "1-URGENT", "2-HIGH", "3-MEDIUM"
                ),
                1,
            )
        ).alias("v_prio"),
        F.count(
            F.when(
                (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp_ntz"))
                | (
                    F.col("o_orderdate")
                    >= F.lit("1999-01-01").cast("timestamp_ntz")
                ),
                1,
            )
        ).alias("v_date"),
    )
    stacked = m.selectExpr(
        """stack(6,
            'not_null__o_custkey', n, v_null,
            'unique__o_orderkey', n, v_uniq,
            'accepted_values__o_orderstatus', n, v_status,
            'positive__o_totalprice', n, v_price,
            'accepted_values__o_orderpriority', n, v_prio,
            'in_range__o_orderdate', n, v_date
        ) AS (rule, n_checked, n_violations)"""
    )
    return stacked.withColumn("passed", F.col("n_violations") == 0)


@query(
    "q_pandas_api_groupby",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           max(o_totalprice) AS max_price,
           min(o_totalprice) AS min_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_pandas_api_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PANDAS API ON SPARK (pyspark.pandas, SPARK-34849): the drop-in
    pandas surface — read_parquet → groupby → agg → sort_index — that
    lets a pandas user run unchanged code on the cluster; the result
    converts back to a plain DataFrame with to_spark() and must
    hash-match the SQL GROUP BY exactly (the API is a veneer over the
    same Catalyst plans).

    The one scale decision a pandas-API user must make is pinned here:
    ``compute.default_index_type = 'distributed'`` — the default
    'sequence' index materializes a GLOBAL row-number window (one
    partition, the classic silent bottleneck); 'distributed' keeps the
    index monotonic-but-sparse and fully parallel. The index is then
    dropped at to_spark() anyway, which is why the nondeterministic
    distributed index is safe under the hash gate: only named columns
    leave this function.
    """
    import pyspark.pandas as ps

    prev = ps.get_option("compute.default_index_type")
    ps.set_option("compute.default_index_type", "distributed")
    try:
        psdf = ps.read_parquet(f"{sf_dir}/orders.parquet")[
            ["o_orderstatus", "o_totalprice"]
        ]
        agg = psdf.groupby("o_orderstatus").agg(
            n_orders=("o_totalprice", "count"),
            max_price=("o_totalprice", "max"),
            min_price=("o_totalprice", "min"),
        )
        out = agg.reset_index().to_spark()
    finally:
        ps.set_option("compute.default_index_type", prev)
    return out.select(
        "o_orderstatus",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        "max_price",
        "min_price",
    ).orderBy("o_orderstatus")
