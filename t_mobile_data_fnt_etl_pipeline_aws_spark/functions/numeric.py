"""Order-independent numeric aggregation helpers (oracle-parity critical).

Why these exist (SURVEY.md §5.5): the driver's correctness gate is an EXACT
order-insensitive value-hash against DuckDB. Floating-point SUM/AVG/STDDEV
are order-dependent, and Spark's partial-aggregate merge order varies with
shuffle-block arrival — a plain ``F.sum(double)`` is not even stable across
two Spark runs, let alone equal to DuckDB's sequential sum.

The scheme (each step verified bit-exact between engines at sf0.01):

1. Per-row derived arithmetic stays in DOUBLE — IEEE ops are deterministic
   given identical inputs, and both engines read identical parquet doubles.
2. Cross-row accumulation is DECIMAL(30,10) — exact, associative,
   commutative, hence merge-order independent. (Verified: Spark and DuckDB
   round double→decimal(30,10) identically on all 60k lineitem rows.)
3. The finish NEVER casts a wide decimal straight to double — DuckDB
   converts decimal→double as ``(double)int128 / 10^scale``, which rounds
   TWICE when the scaled integer exceeds 2^53 and can land 1 ulp away from
   Spark's correctly-rounded BigDecimal.doubleValue(). Instead we first cast
   to a narrow ``decimal(38, s)`` with ``|value| * 10^s < 2^53``: the scaled
   integer is then exactly representable, the single division correctly
   rounds in both engines, and the doubles match bit-for-bit.
4. ``round(double, n)`` is BANNED in oracle SQL — DuckDB implements it with
   float multiply/divide and drifts (e.g. 3758439620.06 vs …060001).
5. NEVER finish() the result of a division or other per-row IEEE
   expression whose operands already match bit-for-bit: the quotient is
   identical in both engines by construction, while finishing it risks a
   rounding-boundary split — ratios of small integers (k/2^a5^b) terminate
   EXACTLY at a 6-dp tie (e.g. 1/128 = 0.0078125), where Spark's exact
   BigDecimal HALF_UP and DuckDB's float-path double→decimal cast can
   disagree. finish() is for (a) decimal accumulations crossing rows and
   (b) transcendentals (ln/exp/pow), whose full-mantissa outputs make an
   exact tie measure-zero.

6. Prescale factors must be DYADIC (powers of two), never decimal powers
   (×0.001): Spark's double→decimal cast quantizes the SHORTEST-STRING
   repr (BigDecimal.valueOf) while DuckDB rounds the EXACT BINARY value.
   These agree except when the value's true decimal expansion terminates
   just past the accumulator scale — and a decimal-power prescale
   manufactures exactly that: day·0.001 × price·1e-6 terminates at 11 dp,
   so ~3% of products sat ON a decimal(30,10) tie and the engines'
   10-dp roundings split (q_agg_linreg_trend at sf0.1, round 5). A 2^-k
   prescale is exact IEEE (exponent shift), leaves products full-mantissa,
   and makes such ties measure-zero. Same argument as rule 5, applied at
   the accumulation scale instead of the finish scale.

Scale choice rule: pick ``s`` with ``|x| * 10^s < 9e15``. Defaults: sums
s=4 (|sum| < 9e11 — holds through sf1), means/ratios s=6 (|x| < 9e9).

The accumulation type is named only in this module: every exact sum
is built from ``exact``/``sql_exact`` (the per-row summand) and the
``finish``/``sql_finish_dec`` pair, or from the ``dsum``/``davg``/``dvar_samp``
helpers that combine them. Moving the accumulator to another type is a
change to this module alone.

At 100 TB this costs one decimal accumulator per aggregate in the
partial-agg buffer — still one shuffle with map-side combine; no extra
pass. The premium depends on the precision: Spark sums a decimal(p, s)
in a decimal(p+10, s) buffer, and a sum whose buffer stays within 18
digits (p <= 8) is long-backed — Catalyst's DecimalAggregates rewrites
it to a sum over the unscaled long — while a wider buffer accumulates
on java.math.BigDecimal. Four power sums over 600k lineitem rows
(local[4]): decimal(30,10) 5.05 s, decimal(18,10) 4.85 s, decimal(8,4)
1.96 s, double 0.44 s. The premium buys bit-reproducible results across runs,
partitionings, AND engines — the correctness gate this repo is built on.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Accumulation type: 20 integer digits + 10 fraction digits.
_DEC = "decimal(30,10)"


def exact(col: Column) -> Column:
    """Per-row value in the exact accumulation type: the summand of every
    exact sum, and the operand of an exact per-row compare."""
    return col.cast(_DEC)


def sql_exact(expr: str) -> str:
    """DuckDB/Spark SQL twin of ``exact``."""
    return f"cast(({expr}) as {_DEC})"


def finish(col: Column, scale: int = 6) -> Column:
    """Deterministic double finish: HALF_UP round via decimal(38,s) cast.

    Spark's cast rounds HALF_UP for both double and decimal inputs.
    """
    return col.cast(f"decimal(38,{scale})").cast("double")


def sql_finish_dbl(expr: str, scale: int = 6) -> str:
    """DuckDB finish for a DOUBLE expression (cast rounds like Spark's)."""
    return f"cast(cast(({expr}) as decimal(38,{scale})) as double)"


def sql_finish_dec(expr: str, scale: int = 6) -> str:
    """DuckDB finish for a DECIMAL expression.

    DuckDB TRUNCATES on decimal→decimal downcast (Spark rounds HALF_UP), so
    round() — exact half-away-from-zero on decimals, == HALF_UP — must run
    before the downcast.
    """
    return f"cast(cast(round(({expr}), {scale}) as decimal(38,{scale})) as double)"


def dsum(col: Column, alias: str, scale: int = 4) -> Column:
    """Exact-decimal SUM of a double expression, finished to double."""
    return finish(F.sum(exact(col)), scale).alias(alias)


def sql_dsum(expr: str, alias: str, scale: int = 4) -> str:
    return sql_finish_dec(f"sum({sql_exact(expr)})", scale) + f" as {alias}"


def davg(col: Column, alias: str) -> Column:
    """Order-independent AVG: exact sum (finished at s=4) / count.

    NO finish after the division: both engines divide the identical
    finished-sum double by the identical count, so the quotients are
    bit-identical already — and finishing a quotient is actively unsafe
    (see module docstring rule 5).
    """
    s1 = finish(F.sum(exact(col)), 4)
    return (s1 / F.count(col)).alias(alias)


def sql_davg(expr: str, alias: str) -> str:
    s1 = sql_finish_dec(f"sum({sql_exact(expr)})", 4)
    return f"({s1} / count({expr})) as {alias}"


def _var_y(col: Column, prescale: int) -> Column:
    """Sample variance of y = x/prescale from exact moments n, Σy, Σy².

    Prescaling keeps s2 = Σy² small enough for the 2^53 finish rule even at
    large SF; var(x) = var(y)·prescale², stddev(x) = stddev(y)·prescale.
    No final finish: s1/s2 are identical doubles in both engines, and the
    remaining expression is fixed IEEE arithmetic (rule 5).
    """
    y = col / F.lit(float(prescale))
    n = F.count(col)
    s1 = finish(F.sum(exact(y)), 6)
    s2 = finish(F.sum(exact(y * y)), 6)
    return (s2 - s1 * s1 / n) / (n - F.lit(1))


def dvar_samp(col: Column, alias: str, prescale: int = 10000) -> Column:
    return (_var_y(col, prescale) * F.lit(float(prescale) ** 2)).alias(alias)


def dstddev_samp(col: Column, alias: str, prescale: int = 10000) -> Column:
    return (F.sqrt(_var_y(col, prescale)) * F.lit(float(prescale))).alias(alias)


def _sql_var_y(expr: str, prescale: int) -> str:
    y = f"(({expr}) / {float(prescale)!r})"
    n = f"count({expr})"
    s1 = sql_finish_dec(f"sum({sql_exact(y)})", 6)
    s2 = sql_finish_dec(f"sum({sql_exact(f'{y} * {y}')})", 6)
    return f"(({s2} - {s1} * {s1} / {n}) / ({n} - 1))"


def sql_dvar_samp(expr: str, alias: str, prescale: int = 10000) -> str:
    return f"({_sql_var_y(expr, prescale)} * {float(prescale) ** 2!r}) as {alias}"


def sql_dstddev_samp(expr: str, alias: str, prescale: int = 10000) -> str:
    return f"(sqrt({_sql_var_y(expr, prescale)}) * {float(prescale)!r}) as {alias}"
