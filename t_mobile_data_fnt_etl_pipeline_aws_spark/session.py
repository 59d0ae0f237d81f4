"""SparkSession construction and the runtime configuration contract.

Two entry modes:
  * ``get_spark()``      — our own session (tests, bench): local[N], AQE on.
  * ``configure(spark)`` — applied to ANY session (including the driver's)
    before reading fixture tables; sets only runtime-settable SQL confs.

Config rationale (SURVEY.md §0.2, §4):
  * ``spark.sql.session.timeZone=UTC`` — all fixture timestamps are naive;
    keeping the session in UTC makes TIMESTAMP↔TIMESTAMP_NTZ casts identity
    and keeps epoch arithmetic aligned with the DuckDB oracle.
  * Arrow enabled — vectorized Python interchange (SNIPPETS.md:21 pattern).
  * AQE on (default in 4.x) — runtime join-strategy demotion, skew split,
    partition coalescing; we rely on it instead of hand-tuned plans.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable SQL confs applied to every session that touches fixtures.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the runtime config contract to an existing session (idempotent).

    Safe to call on the driver's session: every key here is a runtime SQL
    conf, not a static one.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A locked-down session may refuse a conf; apply the rest.
            pass
    return spark


def get_spark(app_name: str = "spark-graft-engine") -> SparkSession:
    """Build the engine's own local session.

    Parallelism comes from ``SPARK_GRAFT_CPUS`` (bench contract) or ``*``.
    Shuffle partitions default to the core count — at 100 TB this would be
    sized to ~128 MB per post-shuffle partition instead; AQE coalescing makes
    the small-scale value non-critical.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip() or "*"
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure(spark)
