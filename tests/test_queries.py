"""Driver-gate mirror: every registered query vs its DuckDB oracle.

For SQL-oracled queries this is a STRICT exact-value comparison (see
oracle.compare_frames) — stronger than the driver's hash, so green here
implies green there. Rows-only queries must materialize with >0 rows and
be deterministic across two runs (seeded hashing contract, SURVEY.md §7).

The same per-key pass also checks the output schema and the
pre-execution physical plan of the frame it materializes, so each query
function is built once per key.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from t_mobile_data_fnt_etl_pipeline_aws_spark.oracle import compare_frames
from t_mobile_data_fnt_etl_pipeline_aws_spark.plans.inspect import plan_string
from t_mobile_data_fnt_etl_pipeline_aws_spark.registry import all_oracles, all_queries

QUERIES = all_queries()
ORACLES = all_oracles()

#: keys allowed to return an empty frame at tiny SF (none so far — keep
#: the invariant "every query demonstrates real rows" explicit).
MAY_BE_EMPTY: set[str] = set()

#: A partition-less windowspecdefinition's first argument is an ORDER
#: column (`col ASC ...`); partitioned ones lead with bare partition
#: columns followed by a comma.
PARTITIONLESS_WINDOW = re.compile(r"windowspecdefinition\([^,()]+ (?:ASC|DESC)")

#: Keys allowed a partition-less window, with how many. A global window
#: over base-table rows funnels the whole input through ONE task at
#: scale (the round-1 q_stream_watermark_late defect); these run over a
#: tiny aggregate instead. watermark_late: the boundary prefix-max over
#: the per-shard aggregate (rows = n / 2^16). zorder: one prefix-sum
#: over the per-shard COUNT table (rows = distinct zkey-high-bits
#: shards, not base rows). skyline: one prefix-max over the
#: per-price-shard MAX table (~100 rows at any SF). equidepth: the same
#: zorder-style prefix-sum over the per-price-shard COUNT table (~35
#: rows); the base-table rank is shard-partitioned. ks_drift: the two
#: CDF cumsums run over the per-$1000-BUCKET count table (~500 rows
#: bounded by the fixed price domain at any SF). mann_whitney: one
#: prefix-sum over the per-$1000-price-shard COUNT table; base-table
#: ranks are shard-partitioned. Explicit global sorts (q_sort_multi
#: style ORDER BY outputs) plan as Sort, not Window.
PARTITIONLESS_WINDOW_ALLOWED = {
    "q_stream_watermark_late": 1,
    "q_sort_zorder_layout": 1,
    "q_skyline_pareto": 1,
    "q_profile_histogram_equidepth": 1,
    "q_stats_ks_drift": 4,
    "q_stats_mann_whitney": 1,
}


@pytest.mark.parametrize("key", sorted(QUERIES))
def test_query_matches_oracle(key, spark, sf_dir, duck):
    try:
        sdf = QUERIES[key](spark, sf_dir)
        # no array/map/struct columns: the driver's canonicalizer
        # pandas-sorts outputs and ndarray cells are unhashable (round-1
        # q_agg_collect_sorted hard fail)
        complex_cols = [
            f.name
            for f in sdf.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        assert not complex_cols, f"{key}: complex-typed output columns {complex_cols}"
        n_windows = len(PARTITIONLESS_WINDOW.findall(plan_string(sdf)))
        assert n_windows <= PARTITIONLESS_WINDOW_ALLOWED.get(key, 0), (
            f"{key}: {n_windows} partition-less windows"
        )
        spark_pdf = sdf.toPandas()
        if key not in MAY_BE_EMPTY:
            assert len(spark_pdf) > 0, f"{key} returned no rows at {sf_dir}"
        if key in ORACLES:
            duck_pdf = duck.execute(ORACLES[key]).df()
            diff = compare_frames(spark_pdf, duck_pdf)
            assert diff is None, f"{key}: {diff}"
        else:
            # rows-only: re-run must reproduce the identical result
            # (determinism guards the driver's cross-run hashing of
            # rows-only outputs).
            from t_mobile_data_fnt_etl_pipeline_aws_spark.oracle import canonicalize

            again = QUERIES[key](spark, sf_dir).toPandas()
            assert canonicalize(spark_pdf) == canonicalize(again), f"{key} nondeterministic"
    finally:
        # materialized() intermediates live until the key is done
        spark.catalog.clearCache()


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.queries()).issuperset(set(e.oracle_sql()))
