"""Subquery surface: correlated EXISTS / NOT EXISTS and scalar subqueries.

Expressed through ``spark.sql`` over temp views on purpose — the point is
Catalyst's subquery machinery (RewritePredicateSubquery turns correlated
EXISTS into a left-semi join, NOT EXISTS into a left-anti join; scalar
subqueries become one-row broadcast exchanges). The DataFrame-API
equivalents (semi/anti joins) are covered separately in operators/joins.py;
a reference user migrating SQL workloads needs the SQL forms to plan well
too.

Scale notes: decorrelated EXISTS is a shuffle-or-broadcast semi-join on
the correlation key — same cost model as q_join_semi; an uncorrelated
scalar subquery is a one-row result broadcast to every task (no shuffle
on the probe side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.numeric import sql_exact
from ..registry import query
from ..sources.tables import load


def _view(spark: SparkSession, sf_dir: str, name: str) -> None:
    load(spark, sf_dir, name).createOrReplaceTempView(name)


@query(
    "q_subquery_exists",
    bench=False,
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_discount > 0.05
      )
    GROUP BY o_orderpriority
    """,
)
def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped correlated EXISTS: orders in a quarter with at
    least one discounted line, counted by priority.

    Catalyst decorrelates to a left-semi join on l_orderkey =
    o_orderkey with the discount predicate pushed below it — verify
    with .explain(): no per-row subquery execution survives.
    """
    _view(spark, sf_dir, "orders")
    _view(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP_NTZ '1996-04-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.05
          )
        GROUP BY o_orderpriority
        """
    )


@query(
    "q_subquery_not_exists",
    bench=False,
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE c_acctbal > 0
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
      )
    GROUP BY c_mktsegment
    """,
)
def q_subquery_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped NOT EXISTS: positive-balance customers with no
    urgent order, per segment (decorrelates to a left-anti join; the
    priority predicate pushes below the anti join's build side).

    The probe is "no URGENT order" rather than "no order at all" — the
    fixture gives every customer at least one order below sf0.1, which
    would make the bare form empty (degenerate) at test scale.
    """
    _view(spark, sf_dir, "customer")
    _view(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n_customers
        FROM customer
        WHERE c_acctbal > 0
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
          )
        GROUP BY c_mktsegment
        """
    )


#: scalar-subquery threshold comparison is done in exact integer/decimal
#: arithmetic (price·n > Σprice as decimal) — an avg() threshold would
#: hit cross-engine float-division ulps on the boundary.
_SCALAR_SQL = f"""
SELECT p_brand, count(*) AS n_above
FROM part
WHERE p_retailprice * (SELECT count(*) FROM part) >
      (SELECT sum({sql_exact("p_retailprice")}) FROM part)
GROUP BY p_brand
"""


@query("q_subquery_scalar", bench=False, oracle=_SCALAR_SQL)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subqueries: parts priced above the corpus
    mean, per brand. ``price · n > Σprice`` is the division-free form of
    ``price > avg`` — the two scalar results are computed once and
    broadcast into the filter (one-row exchanges, no re-execution)."""
    _view(spark, sf_dir, "part")
    return spark.sql(_SCALAR_SQL)


@query(
    "q_subquery_waiting_supplier",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s_name
    """,
)
def q_subquery_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped double correlation: suppliers who were the SOLE
    late shipper on a finished multi-supplier order.

    The hardest decorrelation shape in the reference surface — one
    correlated EXISTS and one correlated NOT EXISTS against the same
    fact table, the anti side additionally correlated through the
    OUTER join's o_orderdate. Catalyst rewrites both into a left-semi
    and a left-anti join on l_orderkey (RewritePredicateSubquery), so
    the plan is three shuffles on the same key — no per-row subquery
    execution. 'Late' is shipdate > orderdate + 60 days (this schema
    carries no commit/receipt dates).
    """
    for t in ("supplier", "lineitem", "orders"):
        _view(spark, sf_dir, t)
    return spark.sql(
        """
        SELECT s_name, count(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY s_name
        """
    )


@query(
    "q_join_existence_mark",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           c_custkey IN (
               SELECT o_custkey FROM orders WHERE o_totalprice > 150000
           ) AS has_big_order,
           EXISTS (
               SELECT 1 FROM orders o
               WHERE o.o_custkey = c_custkey
                 AND o.o_orderpriority = '1-URGENT'
           ) AS has_urgent_order
    FROM customer
    WHERE c_acctbal > 0
    """,
)
def q_join_existence_mark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTENCE JOIN (the mark join): IN / EXISTS in the SELECT list —
    not the WHERE clause — so the subquery becomes a projected BOOLEAN
    per probe row instead of a filter. Catalyst cannot rewrite this to
    semi/anti (both sides of the truth value survive); it plans the
    dedicated ExistenceJoin type — a hash join that attaches an
    `exists#N` flag and keeps every probe row. This completes the §2.3
    join-type matrix: inner/outer/semi/anti/cross/theta/asof are keyed
    elsewhere; the mark join is the one remaining physical join kind.

    Both marks ride ONE pass over customer: two ExistenceJoins stack in
    a single plan, each building its hash side independently (verify
    with .explain(): no per-row subquery, no cartesian).

    Scale: each mark is a broadcast-or-shuffle hash join on the
    correlation key, the same cost class as q_join_semi — the flag
    column adds nothing over the semi-join cost model. NULL discipline:
    the probe and subquery keys are non-null here, so the IN mark never
    hits the three-valued UNKNOWN case (q_join_null_safe covers that
    semantics corner)."""
    _view(spark, sf_dir, "customer")
    _view(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment,
               c_custkey IN (
                   SELECT o_custkey FROM orders WHERE o_totalprice > 150000
               ) AS has_big_order,
               EXISTS (
                   SELECT 1 FROM orders o
                   WHERE o.o_custkey = c_custkey
                     AND o.o_orderpriority = '1-URGENT'
               ) AS has_urgent_order
        FROM customer
        WHERE c_acctbal > 0
        """
    )
