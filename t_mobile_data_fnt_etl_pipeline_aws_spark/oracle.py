"""Local DuckDB-oracle comparison harness (mirrors the driver's gate).

The driver executes each ``queries()`` entry in Spark and its
``oracle_sql()`` twin in DuckDB, comparing row-count + schema +
order-insensitive value-hash (``__spark_entry__.py`` contract). This module
reproduces that check locally — but STRICTER: values must canonicalize to
exactly-equal forms (no tolerance), so anything passing here passes any
reasonable hash the driver applies.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal
from typing import Any

import duckdb
import numpy as np
import pandas as pd

from .sources.tables import table_names

NULL = "\x00NULL"


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh in-memory DuckDB with fixture views registered like the driver."""
    con = duckdb.connect()
    for name in table_names():
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


class ComplexCellError(TypeError):
    """An oracle-compared output contained an array/map/struct cell.

    The driver's canonicalizer pandas-sorts output columns; ndarray cells
    are unhashable and crash it (round-1 q_agg_collect_sorted hard fail).
    The local gate therefore REJECTS complex cells outright — stringify
    (array_join) or restructure (explode) the query output instead.
    """


def _canon_cell(v: Any, strict: bool = False) -> Any:
    if strict and (
        isinstance(v, (list, tuple, dict, np.ndarray)) or hasattr(v, "asDict")
    ):
        raise ComplexCellError(
            f"complex cell {type(v).__name__} in oracle-compared output; "
            "de-array the query (array_join / explode) — the driver "
            "canonicalizer cannot hash it"
        )
    if v is None:
        return NULL
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return NULL if math.isnan(f) else repr(f)
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return int(v)
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, Decimal):
        return f"dec:{v.normalize()}"
    if isinstance(v, pd.Timestamp):
        return NULL if pd.isna(v) else v.isoformat()
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_cell(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v
    if hasattr(v, "asDict"):  # pyspark Row (struct output)
        return tuple(sorted((k, _canon_cell(x)) for k, x in v.asDict().items()))
    if v is pd.NaT or (isinstance(v, float) and pd.isna(v)):
        return NULL
    return v


def canonicalize(
    df: pd.DataFrame, strict: bool = False
) -> tuple[list[str], list[tuple]]:
    """(sorted column names, row multiset in canonical sorted order).

    strict=True (the SQL-oracled compare path) raises ComplexCellError on
    any array/map/struct cell — keeping this gate strictly stronger than
    the driver's hash, which crashes on such cells.
    """
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_canon_cell(v, strict=strict) for v in row))
    out.sort(key=repr)
    return cols, out


def compare_frames(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str | None:
    """None if equal under the driver-style check, else a diff description."""
    s_cols, s_rows = canonicalize(spark_pdf, strict=True)
    d_cols, d_rows = canonicalize(duck_pdf, strict=True)
    if s_cols != d_cols:
        return f"column mismatch: spark={s_cols} duck={d_cols}"
    if len(s_rows) != len(d_rows):
        return f"row-count mismatch: spark={len(s_rows)} duck={len(d_rows)}"
    if s_rows != d_rows:
        for i, (a, b) in enumerate(zip(s_rows, d_rows)):
            if a != b:
                return (
                    f"value mismatch at sorted-row {i} (cols {s_cols}):\n"
                    f"  spark: {a}\n  duck : {b}"
                )
        return "value mismatch (unreachable)"
    return None


def check_query(spark, sf_dir: str, fn, oracle: str | None) -> str | None:
    """Run one registered query against its oracle; None = pass.

    Without an oracle the rows-only contract applies (as in
    tests/test_queries.py): the result must be non-empty, and a second
    run must return the same canonical row multiset."""
    sdf = fn(spark, sf_dir)
    spark_pdf = sdf.toPandas()
    if oracle is None:
        if spark_pdf.empty:
            return "rows-only query returned no rows"
        again = fn(spark, sf_dir).toPandas()
        if canonicalize(spark_pdf) != canonicalize(again):
            return "rows-only query is nondeterministic across two runs"
        return None
    con = duck_connect(sf_dir)
    try:
        duck_pdf = con.execute(oracle).df()
    finally:
        con.close()
    return compare_frames(spark_pdf, duck_pdf)
