"""Sorts / limits / top-k (SURVEY.md §2.6).

Every LIMIT query carries a unique tiebreak key so the surviving row SET is
deterministic (the driver's hash is order-insensitive, but WHICH rows pass
a limit is only stable under a total order — SURVEY.md §5.5).

Scale: global sort is a range-partitioned exchange (sampled boundaries);
global top-k plans as TakeOrderedAndProject — per-partition heaps + a
driver-side merge of k·partitions rows, no full sort. That is the shape
that survives 100 TB; a sort-then-limit would not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import load


@query(
    "q_sort_multi",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           nullif(o_orderstatus, 'P') AS status_np,
           o_totalprice
    FROM orders
    ORDER BY status_np ASC NULLS FIRST, o_totalprice DESC, o_orderkey ASC
    """,
)
def q_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort: mixed ASC/DESC with explicit NULLS FIRST placement."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            "o_orderstatus",
            F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_np"),
            "o_totalprice",
        )
        .orderBy(
            F.col("status_np").asc_nulls_first(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey").asc(),
        )
    )


@query(
    "q_limit",
    bench=False,
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_orderkey
    LIMIT 100
    """,
)
def q_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic LIMIT after a total order on a unique key."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(100)
    )


@query(
    "q_topk_global",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def q_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (TakeOrderedAndProject — no full sort at any scale)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


#: Morton/Z-order bit interleave over two 16-bit dims, as portable integer
#: arithmetic (((d div 2^i) mod 2) placed at bit 2i / 2i+1) — no engine
#: bit-operator dialect needed; generated once per engine's int-div spelling.
def _zkey_expr(div_op: str) -> str:
    terms = []
    for i in range(16):
        terms.append(
            f"((d1 {div_op} {1 << i}) % 2) * {1 << (2 * i)}"
            f" + ((d2 {div_op} {1 << i}) % 2) * {1 << (2 * i + 1)}"
        )
    return " + ".join(terms)


@query(
    "q_sort_zorder_layout",
    oracle=f"""
    WITH dims AS (
        SELECT o_orderkey,
               o_custkey % 65536 AS d1,
               date_diff('day', TIMESTAMP '1992-01-01 00:00:00', o_orderdate) AS d2
        FROM orders
    ),
    keyed AS (
        SELECT o_orderkey, d1, d2, {_zkey_expr('//')} AS zkey,
               ({_zkey_expr('//')}) // 65536 AS shard
        FROM dims
    ),
    shard_counts AS (
        SELECT shard, count(*) AS cnt FROM keyed GROUP BY shard
    ),
    offsets AS (
        SELECT shard,
               sum(cnt) OVER (ORDER BY shard ROWS UNBOUNDED PRECEDING)
                   - cnt AS off
        FROM shard_counts
    ),
    total AS (SELECT cast(sum(cnt) as bigint) AS n FROM shard_counts),
    ranked AS (
        SELECT k.d1, k.d2,
               o.off + row_number() OVER (PARTITION BY k.shard
                                          ORDER BY k.zkey, k.o_orderkey)
                   AS grank
        FROM keyed k JOIN offsets o ON k.shard = o.shard
    ),
    filed AS (
        SELECT d1, d2,
               cast((grank - 1) * 16 // n as int) + 1 AS file_id
        FROM ranked, total
    )
    SELECT file_id, count(*) AS n_rows,
           min(d1) AS min_cust, max(d1) AS max_cust,
           min(d2) AS min_day, max(d2) AS max_day
    FROM filed
    GROUP BY file_id
    """,
)
def q_sort_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) data layout: orders clustered by the bit
    interleave of (customer, order-day) so BOTH dimensions localize
    within each output file — the lakehouse OPTIMIZE ZORDER BY
    technique that makes min/max file stats prunable for filters on
    either column, where a plain sort serves only its leading key.

    The interleave is pure integer arithmetic (bit i of each dim placed
    at positions 2i / 2i+1 via div/mod — exact and identical in both
    engines). Rows range-split into 16 simulated files by GLOBAL zkey
    rank — computed scalably, never through one task: rows shard on the
    high zkey bits (zkey div 2^16), ranks are per-shard windows, and
    shard offsets come from a prefix sum over the TINY per-shard count
    table (the only partition-less window, rows = distinct shards —
    same allowance class as q_stream_watermark_late's boundary
    prefix-max; test_plans.py whitelists exactly one). file_id uses the
    explicit floor((rank-1)·16/n)+1 formula rather than engine ntile so
    remainder placement can't diverge between engines. Output is each
    file's bounding box — the very stats a pruning reader consults;
    narrow boxes in BOTH dims are the win (invariant-tested against a
    single-key sort). At 100 TB the same zkey feeds
    repartitionByRange + sortWithinPartitions before the sink — one
    range exchange, stats computed by the writer for free.
    """
    o = load(spark, sf_dir, "orders")
    dims = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 65536).alias("d1"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1992-01-01").cast("timestamp_ntz")
        ).alias("d2"),
    )
    # Materialized once (round-15, guide §2.4): `keyed` feeds the
    # shard-count aggregate AND the ranked join, and each reference
    # recomputed the 32-term Morton interleave from the scan
    # (plans/r15/q_sort_zorder_layout_before.txt: 3 scans, 0 reuse).
    # Corpus-sized → lineage-keeping persist (VERDICT r15 item 4).
    from ..functions.dfutil import materialized

    keyed = materialized(
        dims.withColumn("zkey", F.expr(_zkey_expr("div")))
        .withColumn("shard", F.expr("zkey div 65536"))
    )
    from pyspark.sql import Window

    shard_counts = keyed.groupBy("shard").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, 0)
    offsets = shard_counts.select(
        "shard", (F.sum("cnt").over(w_off) - F.col("cnt")).alias("off")
    )
    total = shard_counts.agg(F.sum("cnt").cast("bigint").alias("n"))
    w_rank = Window.partitionBy("shard").orderBy("zkey", "o_orderkey")
    ranked = keyed.join(offsets, on="shard").select(
        "d1",
        "d2",
        (F.col("off") + F.row_number().over(w_rank)).alias("grank"),
    )
    filed = ranked.crossJoin(F.broadcast(total)).select(
        "d1",
        "d2",
        (F.expr("(grank - 1) * 16 div n").cast("int") + 1).alias("file_id"),
    )
    return filed.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("d1").alias("min_cust"),
        F.max("d1").alias("max_cust"),
        F.min("d2").alias("min_day"),
        F.max("d2").alias("max_day"),
    )
