"""Canonical table schemas + loaders (SURVEY.md §1, FIXTURES.md).

Schema-on-read with a fixed contract: every load reads the parquet footer
on the driver (pyarrow, no Spark job), fails fast on drift against the
canonical StructType below (SURVEY.md §1 "schema system"), then hands that
StructType to ``spark.read.schema`` so Spark runs no inference job either.
Every fixture stores its timestamps as parquet TIMESTAMP(MICROS) without a
zone, which Spark reads natively as TIMESTAMP_NTZ.
"""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from ..session import configure

#: Canonical schemas (Spark DDL) — extracted from fixture parquet footers
#: (FIXTURES.md "Schemas").
SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
        "c_acctbal DOUBLE, c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}


def table_names() -> list[str]:
    return list(SCHEMAS)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table under the canonical schema contract.

    Plain schema-given ``spark.read.parquet`` (vectorized columnar scan;
    predicate pushdown and column pruning stay available to Catalyst
    because we add no opaque transforms here), after a footer check.
    """
    configure(spark)
    path = f"{sf_dir}/{name}.parquet"
    expected = StructType.fromDDL(SCHEMAS[name])
    footer = from_arrow_schema(pq.read_schema(path), prefer_timestamp_ntz=True)
    got = [(f.name, f.dataType) for f in footer.fields]
    want = [(f.name, f.dataType) for f in expected.fields]
    if got != want:
        raise ValueError(
            f"schema drift for table {name!r}: got {got}, expected {want}"
        )
    return spark.read.schema(expected).parquet(path)
