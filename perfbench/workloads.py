"""The benchmark's workloads: named lists of registered query keys.

Each workload exercises one path of the engine and leaves the others idle,
so a change to one layer shows on one workload (see README.md for the
layer -> metric map).
"""

from __future__ import annotations

#: Read-only relational path: planning, shuffle and codegen. The manifest
#: table, ``materialized()`` intermediates and the Python boundary sit idle.
ETL_BATCH = [
    "q_agg_hash",                   # TPC-H Q1-shaped hash aggregate
    "q_join_skew_aqe",              # skewed shuffle join, AQE skew split
    "q_window_rank",                # ranking window
    "q_pipeline_market_share",      # multi-join TPC-H pipeline
]

#: Manifest table writes beside its reads: each key builds a fresh table and
#: commits to it. Time goes to the commit protocol and the per-job floor.
TABLE_COMMITS = [
    "q_etl_manifest_merge_mor",       # merge-on-read MERGE commits
    "q_etl_concurrent_commit_retry",  # optimistic-concurrency conflict + retry
    "q_scan_files_pruned_by_stats",   # min/max file pruning on read
    "q_etl_time_travel",              # reads of older versions
]

#: Corpus path: MinHash dedup, Arrow UDFs, text stats and the protobuf
#: codec. The Python boundary and ``materialized()`` intermediates do the
#: work; the manifest table does none.
LLM_DATAPREP = [
    "q_dedup_fuzzy_minhash",     # rows-only; two materialized() intermediates
    "q_udf_map_in_arrow",        # mapInArrow boundary
    "q_text_repetition_stats",   # Arrow text kernel
    "q_events_protobuf_decode",  # protobuf encode + projected decode
]

WORKLOADS = {
    "etl_batch": ETL_BATCH,
    "table_commits": TABLE_COMMITS,
    "llm_dataprep": LLM_DATAPREP,
}

#: Keys without a SQL oracle. Their check is a non-empty canonical row
#: multiset that is identical every time the key runs in one benchmark run.
ROWS_ONLY = {"q_dedup_fuzzy_minhash", "q_knn_join_bucketed"}

#: Keys no workload may contain: the DuckDB oracle of ``q_dedup_pairs_full``
#: is an unbounded O(n^2) self-join, tractable only on the smallest inputs.
EXCLUDED = {"q_dedup_pairs_full"}
