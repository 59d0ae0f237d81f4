"""Set operations (SURVEY.md §2.7) — set AND bag (ALL) semantics.

Inputs are two overlapping projections of ``orders`` that contain
duplicates, so the ALL variants genuinely exercise multiplicity math
(min for INTERSECT ALL, saturating difference for EXCEPT ALL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import load

#: two overlapping bag projections (both contain duplicate rows)
_A_SQL = "SELECT o_custkey, o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT'"
_B_SQL = "SELECT o_custkey, o_orderstatus FROM orders WHERE o_totalprice > 150000"


def _slices(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey", "o_orderstatus"
    )
    b = o.filter(F.col("o_totalprice") > 150000).select("o_custkey", "o_orderstatus")
    return a, b


@query("q_union_all", oracle=f"({_A_SQL}) UNION ALL ({_B_SQL})")
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union — pure concatenation, no shuffle at all."""
    a, b = _slices(spark, sf_dir)
    return a.unionByName(b)


@query("q_union_distinct", bench=False, oracle=f"({_A_SQL}) UNION ({_B_SQL})")
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set union — concat + distinct (one hash-aggregate shuffle)."""
    a, b = _slices(spark, sf_dir)
    return a.unionByName(b).distinct()


@query("q_intersect", bench=False, oracle=f"({_A_SQL}) INTERSECT ({_B_SQL})")
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _slices(spark, sf_dir)
    return a.intersect(b)


@query("q_intersect_all", bench=False, oracle=f"({_A_SQL}) INTERSECT ALL ({_B_SQL})")
def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag intersection — multiplicity = min(count_a, count_b)."""
    a, b = _slices(spark, sf_dir)
    return a.intersectAll(b)


@query("q_except", bench=False, oracle=f"({_A_SQL}) EXCEPT ({_B_SQL})")
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _slices(spark, sf_dir)
    return a.subtract(b)


@query("q_except_all", bench=False, oracle=f"({_A_SQL}) EXCEPT ALL ({_B_SQL})")
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag difference — multiplicity = max(0, count_a - count_b)."""
    a, b = _slices(spark, sf_dir)
    return a.exceptAll(b)
