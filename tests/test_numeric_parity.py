"""Adversarial tests for the numeric-parity layer (functions/numeric.py).

These batter the finish/accumulation recipes with the value classes that
historically broke cross-engine hashing — dyadic rationals sitting
exactly on rounding ties, near-tie decimals, sums crossing the 2^53
finish boundary, negative values, and full-mantissa noise — comparing
Spark's result to DuckDB's for the exact same expression pipeline.
A failure here means the parity contract regressed, independent of any
fixture query.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from t_mobile_data_fnt_etl_pipeline_aws_spark.functions.numeric import (
    davg,
    dstddev_samp,
    dsum,
    dvar_samp,
    exact,
    finish,
    sql_davg,
    sql_dstddev_samp,
    sql_dsum,
    sql_dvar_samp,
    sql_exact,
    sql_finish_dec,
)
from t_mobile_data_fnt_etl_pipeline_aws_spark.oracle import compare_frames

#: adversarial value battery (paired with group keys to exercise merge)
ADVERSARIAL = (
    # dyadic rationals that terminate exactly AT or NEAR the 6dp tie
    [1 / 128, 3 / 2048, 0.7046875, 1 / 64, 5 / 4096]
    # decimal(·,10)-exact values and 2dp money shapes
    + [0.05, 1234.56, -987.65, 0.1, -0.1, 123456.78]
    # magnitudes near the finish windows
    + [8.9e8, -8.9e8, 1.23e7, 4.56e5]
    # full-mantissa noise
    + [3.141592653589793, -2.718281828459045, 1.4142135623730951e-3]
    # tiny + zero + exact halves
    + [0.0, 5e-11, -5e-11, 0.5, -0.5, 2.5, -2.5]
)


@pytest.fixture(scope="module")
def frames(spark):
    rows = [(i % 5, v) for i, v in enumerate(ADVERSARIAL * 40)]
    sdf = spark.createDataFrame(rows, "g INT, x DOUBLE")
    pdf = pd.DataFrame(rows, columns=["g", "x"])
    con = duckdb.connect()
    con.register("t_pdf", pdf)
    con.execute("CREATE TABLE t AS SELECT * FROM t_pdf")
    yield sdf, con
    con.close()


def test_dsum_davg_parity_on_adversarial_values(frames):
    """dsum/davg, plus the exact-sum shapes built from exact()/finish()
    by hand: a DISTINCT sum, a windowed running sum (RANGE frame, so
    tied x values are peers in both engines), and a partial sum kept
    unfinished and finished after a second sum."""
    sdf, con = frames
    ex = sql_exact("x")
    w = Window.partitionBy("g").orderBy("x")
    partial = sdf.groupBy("g", (F.col("x") > 0).alias("b")).agg(
        F.sum(exact(F.col("x"))).alias("p")
    )
    cases = [
        (
            sdf.groupBy("g").agg(
                dsum(F.col("x"), "s"),
                davg(F.col("x"), "a"),
                finish(F.sum_distinct(exact(F.col("x"))), 4).alias("sd"),
            ),
            f"SELECT g, {sql_dsum('x', 's')}, {sql_davg('x', 'a')}, "
            f"{sql_finish_dec(f'sum(DISTINCT {ex})', 4)} AS sd FROM t GROUP BY g",
        ),
        (
            sdf.select(
                "g", "x", finish(F.sum(exact(F.col("x"))).over(w), 4).alias("run")
            ),
            f"SELECT g, x, {sql_finish_dec(f'sum({ex}) OVER (PARTITION BY g ORDER BY x)', 4)}"
            " AS run FROM t",
        ),
        (
            partial.groupBy("g").agg(finish(F.sum("p"), 4).alias("s2")),
            f"WITH q AS (SELECT g, x > 0 AS b, sum({ex}) AS p FROM t GROUP BY g, b) "
            f"SELECT g, {sql_finish_dec('sum(p)', 4)} AS s2 FROM q GROUP BY g",
        ),
    ]
    for got, want in cases:
        assert compare_frames(got.toPandas(), con.execute(want).df()) is None, want


def test_moment_parity_on_adversarial_values(frames):
    sdf, con = frames
    got = sdf.groupBy("g").agg(
        dstddev_samp(F.col("x"), "sd", prescale=1000),
        dvar_samp(F.col("x"), "v", prescale=1000),
    ).toPandas()
    want = con.execute(
        f"""SELECT g, {sql_dstddev_samp('x', 'sd', prescale=1000)},
                   {sql_dvar_samp('x', 'v', prescale=1000)}
            FROM t GROUP BY g"""
    ).df()
    assert compare_frames(got, want) is None


def test_share_threshold_compare_parity(spark):
    """Q11-shape threshold compare (reporting.py q_report_nation_share):
    ``val > share(10,6) * total`` must classify identically in Spark,
    DuckDB, and exact Python-Decimal arithmetic for vals within 1e-6 of
    the threshold. Two traps (both found live — the second by this
    test's first run): (a) share * total(38,10) needs precision 49 —
    Spark rounds the product to scale 6, DuckDB keeps 16; (b) even with
    total narrowed, comparing val at decimal(38,10) against the (38,16)
    product needs 44 digits — Spark rounds the COMPARE back to scale 10
    while DuckDB compares exactly. Narrowing BOTH comparands to
    decimal(27,10) keeps every step within 38 digits in both engines."""
    from decimal import ROUND_HALF_UP, Decimal

    share = Decimal("0.030000")
    total = Decimal("1234567.1234567891")
    exact = share * total  # scale-16 product, not representable at scale 10
    # vals straddling the exact product, incl. points inside the scale-6
    # and scale-10 rounding windows (the two historical flip zones).
    vals = [
        (exact + Decimal(d)).quantize(Decimal("1e-10"), rounding=ROUND_HALF_UP)
        for d in ("-1e-6", "-3e-7", "-1e-10", "0", "1e-10", "3e-7", "1e-6")
    ]
    rows = [(str(v),) for v in vals]

    sdf = spark.createDataFrame(rows, "v STRING").select(
        F.col("v").cast("decimal(38,10)").alias("val")
    )
    got = [
        r.passed
        for r in sdf.select(
            (
                F.col("val").cast("decimal(27,10)")
                > F.expr("cast(0.030000 as decimal(10,6))")
                * F.lit(str(total)).cast("decimal(38,10)").cast("decimal(27,10)")
            ).alias("passed")
        ).collect()
    ]

    con = duckdb.connect()
    want = [
        con.execute(
            f"""SELECT cast(cast('{v}' as decimal(38,10)) as decimal(27,10))
                       > cast(0.030000 as decimal(10,6))
                         * cast(cast('{total}' as decimal(38,10))
                                as decimal(27,10))"""
        ).fetchone()[0]
        for v in vals
    ]
    con.close()
    truth = [v > exact for v in vals]
    assert got == want == truth, (got, want, truth)


def test_decimal_cast_rowwise_parity(frames):
    """double→decimal(30,10)→varchar renders identically per row —
    the foundation every accumulation recipe rests on."""
    sdf, con = frames
    got = (
        sdf.select(exact(F.col("x")).cast("string").alias("d"))
        .groupBy("d")
        .count()
        .toPandas()
    )
    want = con.execute(
        f"SELECT cast({sql_exact('x')} as varchar) AS d, count(*) AS count "
        "FROM t GROUP BY d"
    ).df()
    assert compare_frames(got, want) is None


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAVE_HYPOTHESIS = False


if _HAVE_HYPOTHESIS:

    @settings(max_examples=12, deadline=None)
    @given(
        xs=st.lists(
            st.floats(
                min_value=-9e8,
                max_value=9e8,
                allow_nan=False,
                allow_infinity=False,
                width=64,
            ),
            min_size=1,
            max_size=40,
        )
    )
    def test_dsum_davg_parity_on_random_doubles(spark, xs):
        """Property form of the adversarial battery: for ANY finite double
        set within the s=4 finish window (|sum| < 9e11), Spark's decimal
        accumulation recipe and DuckDB's must agree bit-for-bit. Bounds
        chosen so hypothesis explores tie-adjacent and denormal-ish values
        the fixed battery doesn't enumerate."""
        rows = [(0, float(v)) for v in xs]
        sdf = spark.createDataFrame(rows, "g INT, x DOUBLE")
        got = sdf.groupBy("g").agg(
            dsum(F.col("x"), "s"), davg(F.col("x"), "a")
        ).toPandas()
        pdf = pd.DataFrame(rows, columns=["g", "x"])
        con = duckdb.connect()
        con.register("t_rand", pdf)
        want = con.execute(
            f"SELECT g, {sql_dsum('x', 's')}, {sql_davg('x', 'a')} "
            "FROM t_rand GROUP BY g"
        ).df()
        con.close()
        assert compare_frames(got, want) is None
