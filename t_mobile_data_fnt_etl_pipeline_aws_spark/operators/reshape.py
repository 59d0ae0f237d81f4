"""Reshape operators: pivot (long→wide) and unpivot (wide→long).

Pivot pins its value list explicitly — letting Spark infer values costs
an extra distinct-collect pass over the data AND makes the output schema
data-dependent, both wrong at 100 TB. Unpivot is pure projection (an
Expand node, no shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum, sql_dsum
from ..registry import query
from ..sources.tables import load

#: pinned pivot domain: o_orderpriority's closed value set (FIXTURES.md).
_PRIORITIES = [
    ("1-URGENT", "p1_urgent"),
    ("2-HIGH", "p2_high"),
    ("3-MEDIUM", "p3_medium"),
    ("4-NOT SPECIFIED", "p4_not_specified"),
    ("5-LOW", "p5_low"),
]


@query(
    "q_pivot_wide",
    bench=False,
    oracle=f"""
    SELECT o_orderstatus,
           {", ".join(
               f"count(*) FILTER (o_orderpriority = '{v}') AS {a}"
               for v, a in _PRIORITIES
           )}
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order counts: one row per status, one column per priority.

    groupBy(status).pivot(priority, pinned_values).count() compiles to
    one scan + two aggregate phases ((status, priority) cell counts,
    then pivotfirst packing cells into columns) — both shuffles key on
    tiny closed domains, no per-priority re-scan, no join. Missing cells
    surface as NULL from pivot but 0 from SQL's count FILTER, so they're
    coalesced.
    """
    o = load(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", [v for v, _ in _PRIORITIES])
        .count()
    )
    return wide.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{v}`"), F.lit(0)).alias(a)
            for v, a in _PRIORITIES
        ],
    )


@query(
    "q_unpivot_long",
    bench=False,
    oracle=f"""
    WITH wide AS (
        SELECT l_returnflag,
               {sql_dsum('l_quantity', 'sum_qty')},
               {sql_dsum('l_extendedprice', 'sum_price')},
               {sql_dsum('l_discount', 'sum_disc')}
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
    """,
)
def q_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot a wide per-flag aggregate into (flag, metric, value) rows.

    DataFrame.unpivot is an Expand projection — each input row fans out
    to 3 output rows with zero shuffle; only the upstream aggregate
    shuffles. The metric values are finished doubles (exact decimal
    accumulation), so the long form compares exactly.
    """
    l = load(spark, sf_dir, "lineitem")
    wide = l.groupBy("l_returnflag").agg(
        dsum(F.col("l_quantity"), "sum_qty"),
        dsum(F.col("l_extendedprice"), "sum_price"),
        dsum(F.col("l_discount"), "sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "sum_disc"],
        "metric",
        "value",
    )
