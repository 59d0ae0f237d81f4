"""Structured Streaming replay harness (SURVEY.md §5.4).

Replays the bounded ``events`` fixture through a real ``readStream`` file
source so tests can assert that the streaming form of each §2.9 operator
converges to its batch-equivalent answer, and that watermarks actually
drop late data (two-phase checkpointed replay).

The fixture's ``ts`` loads as TIMESTAMP_NTZ, but watermarks need an
instant TIMESTAMP — staging rewrites the table through the batch loader,
casting ``ts`` to TIMESTAMP, into one-or-more ordered files, which doubles
as the arrival-order control for the late-data test.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load

#: ts is TIMESTAMP (not NTZ): watermarks demand an instant type
#: (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise); the session runs in
#: UTC so the NTZ→TIMESTAMP staging cast is value-identity.
EVENTS_STREAM_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def stage_events(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    split_predicate=None,
) -> tuple[str, str | None]:
    """Stage events as streamable parquet under out_dir.

    Without a predicate: one directory of files, returns (dir, None).
    With one: rows matching go to ``<out_dir>/phase_a``, the rest to a
    holding area ``<out_dir>/phase_b_staging`` (NOT in the stream path) —
    the late-data test moves them in between runs.
    """
    events = load(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    stream_dir = os.path.join(out_dir, "stream")
    if split_predicate is None:
        events.coalesce(1).write.mode("overwrite").parquet(stream_dir)
        return stream_dir, None
    os.makedirs(stream_dir, exist_ok=True)
    hold_dir = os.path.join(out_dir, "phase_b_staging")
    events.filter(split_predicate).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(stream_dir, "a")
    )
    events.filter(~split_predicate).coalesce(1).write.mode("overwrite").parquet(
        hold_dir
    )
    return stream_dir, hold_dir


def read_events_stream(spark: SparkSession, stream_dir: str) -> DataFrame:
    """File-source stream over staged events (explicit schema — Structured
    Streaming does not infer)."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(stream_dir)
    )


def run_available_now(
    sdf: DataFrame, query_name: str, checkpoint: str, output_mode: str
) -> None:
    """Drain everything currently available into an in-memory sink."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
