"""Structured Streaming convergence + watermark semantics (SURVEY.md §2.9).

Each test replays the bounded events fixture through a REAL readStream
and asserts against the batch-equivalent declared query — the streaming
operators are the same DataFrame expressions run incrementally, so
convergence is the correctness statement.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from t_mobile_data_fnt_etl_pipeline_aws_spark.functions.numeric import dsum
from t_mobile_data_fnt_etl_pipeline_aws_spark.oracle import canonicalize
from t_mobile_data_fnt_etl_pipeline_aws_spark.registry import all_queries
from t_mobile_data_fnt_etl_pipeline_aws_spark.streaming.harness import (
    read_events_stream,
    run_available_now,
    stage_events,
)

QUERIES = all_queries()


def test_stream_tumbling_converges_to_batch(spark, sf_dir, tmp_path):
    stream_dir, _ = stage_events(spark, sf_dir, str(tmp_path))
    s = read_events_stream(spark, stream_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "sum_value", 6),
        )
        .select(
            F.col("w.start").alias("w_start"), "event_type", "n_events", "sum_value"
        )
    )
    run_available_now(agg, "tumbling_mem", str(tmp_path / "ckpt"), "complete")
    streamed = spark.table("tumbling_mem").toPandas()
    batch = QUERIES["q_stream_tumbling"](spark, sf_dir).toPandas()
    assert canonicalize(streamed) == canonicalize(batch)


def test_stream_stateful_count_converges_to_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState per-user running state == batch groupBy."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream_dir, _ = stage_events(spark, sf_dir, str(tmp_path))
    s = read_events_stream(spark, stream_dir)

    def update(key, pdfs, state):
        count, last_us, last_type = (
            state.get if state.exists else (0, -1, "")
        )
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            count += len(pdf)
            tail = pdf.iloc[-1]
            ts_us = int(tail["ts"].value // 1000)
            if ts_us > last_us:
                last_us, last_type = ts_us, tail["event_type"]
        state.update((count, last_us, last_type))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [count],
                "last_ts_us": [last_us],
                "last_event_type": [last_type],
            }
        )

    stateful = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id bigint, n_events bigint, last_ts_us bigint, "
            "last_event_type string"
        ),
        stateStructType="count bigint, last_us bigint, last_type string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    run_available_now(stateful, "stateful_mem", str(tmp_path / "ckpt"), "update")
    streamed = spark.table("stateful_mem").toPandas()
    # update-mode emits once per (user, microbatch); keep the final state
    streamed = (
        streamed.sort_values("n_events").groupby("user_id", as_index=False).last()
    )
    batch = (
        QUERIES["q_stream_stateful_count"](spark, sf_dir)
        .withColumn("last_ts_us", F.unix_micros(F.col("last_ts").cast("timestamp")))
        .drop("last_ts")
        .toPandas()
    )
    assert canonicalize(streamed) == canonicalize(batch)


def test_stream_watermark_drops_late_rows(spark, sf_dir, tmp_path):
    """Two-phase checkpointed replay: rows older than the advanced
    watermark are dropped, not aggregated."""
    import shutil

    split = F.col("ts") >= F.expr("TIMESTAMP_NTZ '2024-01-10 00:00:00'")
    stream_dir, hold_dir = stage_events(spark, sf_dir, str(tmp_path), split)
    ckpt = str(tmp_path / "ckpt")

    def windowed(s):
        return (
            s.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("w_start"), "n")
        )

    # memory sinks cannot resume from a checkpoint; foreachBatch can —
    # it is also the §2.9 harness pattern (SURVEY.md §5.4).
    def drain(phase: list):
        def sink(batch_df, _batch_id):
            phase.extend(batch_df.collect())

        q = (
            windowed(read_events_stream(spark, stream_dir))
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # phase A: recent events only -> watermark advances to ~max(ts) - 1h
    emitted_a: list = []
    drain(emitted_a)
    assert len(emitted_a) > 0  # finalized mid-January windows emitted

    # phase B: inject the OLD (pre-Jan-10) events and resume from the
    # same checkpoint -> all are behind the watermark -> dropped
    shutil.move(hold_dir, f"{stream_dir}/b")
    emitted_b: list = []
    drain(emitted_b)
    assert len(emitted_b) == 0, (
        f"late rows leaked through the watermark: {emitted_b}"
    )

    # control: a fresh non-streaming aggregation of the same late rows is
    # non-empty, proving the emptiness above is the watermark's doing
    late_batch = (
        read_events_stream(spark, stream_dir)
        .filter(~split)
        .groupBy(F.window("ts", "1 day"))
        .count()
    )
    # (streaming DF can't be counted directly; use the batch loader)
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    n_late = load(spark, sf_dir, "events").filter(~split).count()
    assert n_late > 0


def test_stream_dedup_within_watermark(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark on the derived idempotency key
    matches the batch dedup count."""
    stream_dir, _ = stage_events(spark, sf_dir, str(tmp_path))
    s = read_events_stream(spark, stream_dir).withColumn(
        "minute_bucket", F.date_trunc("minute", F.col("ts"))
    )
    deduped = s.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_type", "user_id", "minute_bucket"]
    )
    run_available_now(deduped, "dedup_mem", str(tmp_path / "ckpt"), "append")
    streamed_n = (
        spark.table("dedup_mem").groupBy("event_type").count().toPandas()
    )
    batch = (
        QUERIES["q_stream_dedup"](spark, sf_dir)
        .select("event_type", F.col("n_deduped").alias("count"))
        .toPandas()
    )
    assert canonicalize(streamed_n) == canonicalize(batch)


def test_stream_static_join_converges_to_batch(spark, sf_dir, tmp_path):
    """Stream-static dim enrichment + tumbling agg == batch declared form."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    stream_dir, _ = stage_events(spark, sf_dir, str(tmp_path))
    s = read_events_stream(spark, stream_dir)
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        s.withWatermark("ts", "1 hour")
        .join(F.broadcast(c), s.user_id == c.c_custkey)
        .groupBy(F.window("ts", "1 day").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "sum_value", 6),
        )
        .select(
            F.col("w.start").alias("w_start"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )
    run_available_now(agg, "static_join_mem", str(tmp_path / "ckpt"), "complete")
    streamed = spark.table("static_join_mem").toPandas()
    batch = QUERIES["q_stream_static_join"](spark, sf_dir).toPandas()
    assert canonicalize(streamed) == canonicalize(batch)


def test_stream_stream_join_converges_to_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream interval join emits exactly the batch
    pair set (the un-aggregated core of q_stream_stream_join)."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    stream_dir, _ = stage_events(spark, sf_dir, str(tmp_path))
    v = (
        read_events_stream(spark, stream_dir)
        .filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "2 hours")
    )
    p = (
        read_events_stream(spark, stream_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    joined = v.join(
        p,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    run_available_now(joined, "ss_join_mem", str(tmp_path / "ckpt"), "append")
    streamed = spark.table("ss_join_mem").toPandas()

    e = load(spark, sf_dir, "events")
    bv = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").cast("timestamp").alias("v_ts")
    )
    bp = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").cast("timestamp").alias("p_ts")
    )
    batch = bv.join(
        bp,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    ).toPandas()
    assert len(streamed) > 0
    assert canonicalize(streamed) == canonicalize(batch)


def test_stream_session_merge_on_late_bridge_event(spark, tmp_path):
    """Out-of-order feed pinning stateful session MERGE semantics — the
    one behavior the batch gaps-and-islands twin cannot exercise: two
    session fragments more than a gap apart must fuse into ONE session
    when a late event lands between them within the gap of both.

    Feed (30-min gap): user 1 at 10:00 and 10:50 arrive first — 50 min
    apart, so phase A must report two open fragments. The 10:20 event
    arrives late in phase B: it is within 30 min of both fragments, so
    the state store must merge them into a single 10:00→11:20 session
    holding all three events. User 2 (single far-away event) is the
    control — no merge may touch it."""
    import shutil

    schema = "user_id BIGINT, ts TIMESTAMP, value DOUBLE"

    def mk(rows):
        return spark.createDataFrame(
            [(u, t, v) for u, t, v in rows], "user_id BIGINT, t STRING, value DOUBLE"
        ).select("user_id", F.col("t").cast("timestamp").alias("ts"), "value")

    stream_dir = str(tmp_path / "stream")
    hold_dir = str(tmp_path / "hold")
    mk(
        [
            (1, "2024-01-01 10:00:00", 1.0),
            (1, "2024-01-01 10:50:00", 2.0),
            (2, "2024-01-01 09:00:00", 5.0),
        ]
    ).coalesce(1).write.parquet(f"{stream_dir}/a")
    mk([(1, "2024-01-01 10:20:00", 3.0)]).coalesce(1).write.parquet(hold_dir)

    sessions = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(stream_dir)
        # watermark far wider than the disorder so the bridge event is
        # accepted, not dropped (late-drop is test_stream_watermark_*'s
        # job); complete mode re-emits current session state per batch.
        .withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "n_events",
            "sum_value",
        )
    )

    latest: dict = {}

    def sink(batch_df, _batch_id):
        rows = batch_df.collect()
        if rows:
            latest["rows"] = rows

    def drain():
        q = (
            sessions.writeStream.foreachBatch(sink)
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    phase_a = {
        (r.user_id, str(r.s_start), str(r.s_end), r.n_events)
        for r in latest["rows"]
    }
    assert phase_a == {
        (1, "2024-01-01 10:00:00", "2024-01-01 10:30:00", 1),
        (1, "2024-01-01 10:50:00", "2024-01-01 11:20:00", 1),
        (2, "2024-01-01 09:00:00", "2024-01-01 09:30:00", 1),
    }, f"expected two separate user-1 fragments before the bridge: {phase_a}"

    shutil.move(hold_dir, f"{stream_dir}/b")
    drain()
    phase_b = {
        (r.user_id, str(r.s_start), str(r.s_end), r.n_events, r.sum_value)
        for r in latest["rows"]
    }
    assert phase_b == {
        (1, "2024-01-01 10:00:00", "2024-01-01 11:20:00", 3, 6.0),
        (2, "2024-01-01 09:00:00", "2024-01-01 09:30:00", 1, 5.0),
    }, f"late bridge event did not merge the fragments: {phase_b}"


def test_stream_foreachbatch_upsert_converges_to_cdc(spark, sf_dir, tmp_path):
    """foreachBatch incremental upsert: per-micro-batch partial states
    merged into a persistent keyed table must converge to the batch
    CDC compaction (q_cdc_compact). This is the sink-side half of the
    CDC story — the stream never reprocesses old rows; each batch
    reduces to one row per touched key and merges against prior state
    (algebraic merge: argmax-by-(ts,event_id) + count sum)."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load
    from t_mobile_data_fnt_etl_pipeline_aws_spark.streaming.harness import (
        EVENTS_STREAM_SCHEMA,
    )

    events = load(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    stream_dir = str(tmp_path / "stream")
    events.repartition(4).write.mode("overwrite").parquet(stream_dir)

    state = {"path": None, "v": 0}

    def merge(batch_df, batch_id):
        partial = batch_df.groupBy("user_id").agg(
            F.max(
                F.struct("ts", "event_id", "event_type", "value")
            ).alias("latest"),
            F.count(F.lit(1)).alias("n_versions"),
        )
        if state["path"] is not None:
            old = batch_df.sparkSession.read.parquet(state["path"])
            partial = (
                partial.unionByName(old)
                .groupBy("user_id")
                .agg(
                    F.max("latest").alias("latest"),
                    F.sum("n_versions").alias("n_versions"),
                )
            )
        state["v"] += 1
        new_path = str(tmp_path / f"state_v{state['v']}")
        partial.write.mode("overwrite").parquet(new_path)
        state["path"] = new_path

    s = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = (
        s.writeStream.foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert state["v"] >= 2, "expected multiple micro-batches"

    final = (
        spark.read.parquet(state["path"])
        .filter(F.col("latest.event_type") != "error")
        .select(
            "user_id",
            F.col("latest.event_id").alias("last_event_id"),
            F.col("latest.ts").cast("timestamp_ntz").alias("last_ts"),
            F.col("latest.event_type").alias("last_type"),
            F.col("latest.value").alias("last_value"),
            "n_versions",
        )
        .toPandas()
    )
    batch = QUERIES["q_cdc_compact"](spark, sf_dir).toPandas()
    assert canonicalize(final) == canonicalize(batch)


def test_stream_transform_with_state_converges_to_batch(spark, sf_dir, tmp_path):
    """transformWithStateInPandas — the Spark 4.x arbitrary-state API that
    supersedes applyInPandasWithState — must converge to the same per-user
    final state as the batch groupBy (q_stream_stateful_count). Pins the
    modern state surface next to the legacy one, same replay, same answer.
    Requires the RocksDB state store provider (set for this query only)
    and protobuf (the API's state-server wire format): skipped, not
    failed, where the environment lacks protobuf — the legacy-API twin
    test above still covers arbitrary-state convergence there."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState driver worker needs protobuf",
    )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    stream_dir, _ = stage_events(spark, sf_dir, str(tmp_path))
    s = read_events_stream(spark, stream_dir)

    class RunningState(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "st", "count bigint, last_us bigint, last_type string"
            )

        def handleInputRows(self, key, rows, timer_values):
            count, last_us, last_type = (
                tuple(self._st.get()) if self._st.exists() else (0, -1, "")
            )
            for pdf in rows:
                pdf = pdf.sort_values(["ts", "event_id"])
                count += len(pdf)
                tail = pdf.iloc[-1]
                ts_us = int(tail["ts"].value // 1000)
                if ts_us > last_us:
                    last_us, last_type = ts_us, tail["event_type"]
            self._st.update((count, last_us, last_type))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [count],
                    "last_ts_us": [last_us],
                    "last_event_type": [last_type],
                }
            )

        def close(self) -> None:
            pass

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = s.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RunningState(),
            outputStructType=(
                "user_id bigint, n_events bigint, last_ts_us bigint, "
                "last_event_type string"
            ),
            outputMode="Update",
            timeMode="None",
        )
        run_available_now(out, "tws_mem", str(tmp_path / "ckpt"), "update")
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)
    streamed = spark.table("tws_mem").toPandas()
    # update-mode emits once per (user, microbatch); keep the final state
    streamed = (
        streamed.sort_values("n_events").groupby("user_id", as_index=False).last()
    )
    batch = (
        QUERIES["q_stream_stateful_count"](spark, sf_dir)
        .withColumn("last_ts_us", F.unix_micros(F.col("last_ts").cast("timestamp")))
        .drop("last_ts")
        .toPandas()
    )
    assert canonicalize(streamed) == canonicalize(batch)


def test_stream_rate_source_smoke(spark):
    """§2.9 beyond file replay: drive the q_stream_tumbling aggregation
    shape from the built-in rate source (a live unbounded generator, no
    files) and assert (a) the streaming result schema matches the
    file-sourced form and (b) the event-time watermark advances
    monotonically across micro-batches. No oracle can check a live
    generator — this is deliberately a smoke of source plumbing +
    watermark mechanics, not values (VERDICT r4 item 6)."""
    import time

    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 200)
        .load()
        .withColumn("event_type", (F.col("value") % 3).cast("string"))
    )
    agg = (
        src.withWatermark("timestamp", "1 second")
        .groupBy(F.window("timestamp", "1 second").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n_events")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("update")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        watermarks = []
        deadline = time.time() + 90
        while time.time() < deadline:
            time.sleep(1.0)
            p = q.lastProgress
            if p:
                wm = (p.get("eventTime") or {}).get("watermark")
                if wm and (not watermarks or wm != watermarks[-1]):
                    watermarks.append(wm)
            if len(watermarks) >= 3 and spark.table("rate_smoke").count() > 0:
                break
        assert len(watermarks) >= 2, f"watermark never advanced: {watermarks}"
        # ISO-8601 strings: lexicographic order == temporal order
        assert watermarks == sorted(watermarks), watermarks
        out = spark.table("rate_smoke")
        assert [f.name for f in out.schema.fields] == [
            "w_start",
            "event_type",
            "n_events",
        ]
        assert out.count() > 0
    finally:
        q.stop()


def test_stream_stream_full_outer_flushes_on_watermark(spark, sf_dir, tmp_path):
    """Genuine two-phase FULL OUTER stream-stream join: phase A replays
    the real events (matched pairs emit as processed; NULL-extended
    rows for unmatched views/purchases are HELD in state — outer
    results only finalize when the watermark passes their expiry);
    phase B injects a far-future sentinel view+purchase pair that
    advances both watermarks years past every real event, flushing all
    outer state. The union of emitted (v_id, p_id) rows minus the
    sentinels must equal the batch full-outer join exactly — matched,
    view-only, AND purchase-only rows."""
    import datetime as dt

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load
    from t_mobile_data_fnt_etl_pipeline_aws_spark.streaming.harness import (
        EVENTS_STREAM_SCHEMA,
    )

    stream_dir, _ = stage_events(spark, sf_dir, str(tmp_path))
    ckpt = str(tmp_path / "ckpt")

    def joined(s_factory):
        v = (
            s_factory()
            .filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("v_id"),
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", "1 hour")
        )
        p = (
            s_factory()
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("p_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        return v.join(
            p,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
            "full_outer",
        ).select("v_id", "p_id")

    emitted: list = []

    def drain():
        def sink(batch_df, _batch_id):
            emitted.extend(batch_df.collect())

        q = (
            joined(lambda: read_events_stream(spark, stream_dir))
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # phase A: matched rows emit; outer state held
    n_phase_a = len(emitted)

    sentinel_ts = dt.datetime(2025, 6, 1)
    sent = spark.createDataFrame(
        [
            (10**9, sentinel_ts, -1, "view", 0.0, "{}"),
            (10**9 + 1, sentinel_ts, -2, "purchase", 0.0, "{}"),
        ],
        EVENTS_STREAM_SCHEMA,
    )
    sent.coalesce(1).write.mode("overwrite").parquet(f"{stream_dir}/sentinel")
    drain()  # phase B: watermark jumps past every expiry -> outer flush
    assert len(emitted) > n_phase_a, "sentinel advanced nothing"

    got = {
        (r.v_id, r.p_id)
        for r in emitted
        if (r.v_id is None or r.v_id < 10**9)
        and (r.p_id is None or r.p_id < 10**9)
    }

    e = load(spark, sf_dir, "events")
    bv = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").cast("timestamp").alias("v_ts"),
    )
    bp = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").cast("timestamp").alias("p_ts"),
    )
    want = {
        (r.v_id, r.p_id)
        for r in bv.join(
            bp,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
            "full_outer",
        )
        .select("v_id", "p_id")
        .collect()
    }
    assert got == want
    assert any(v is None for v, _ in want), "fixture lost orphan purchases"
    assert any(p is None for _, p in want), "fixture lost abandoned views"


def test_stream_cdc_tombstone_merge_converges(spark, sf_dir, tmp_path):
    """MERGE-style CDC with DELETES under foreachBatch: the change feed
    (u/i/d ops with sequence numbers, including delete-then-resurrect
    keys) arrives in micro-batches; each batch compacts to latest-seq
    per touched key and merges against prior state (latest-seq-wins —
    an order-independent algebraic merge, so arrival order can't
    matter). The final state applied to the base table must reproduce
    q_etl_merge_tombstones' audit exactly — tombstones remove keys,
    later upserts resurrect them."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.functions.numeric import dsum
    from t_mobile_data_fnt_etl_pipeline_aws_spark.operators.pipelines import (
        build_tombstone_changes,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    base = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    changes = build_tombstone_changes(base)
    stream_dir = str(tmp_path / "cdc_stream")
    # one file per seq epoch — three micro-batches, deletes before the
    # resurrecting upserts so the tombstone path genuinely executes
    for seq in (1, 2, 3):
        changes.filter(F.col("seq") == seq).coalesce(1).write.mode(
            "append"
        ).parquet(stream_dir)

    state = {"path": None, "v": 0}

    def merge(batch_df, batch_id):
        partial = batch_df.groupBy("o_orderkey").agg(
            F.max(F.struct("seq", "op", "price")).alias("latest")
        )
        if state["path"] is not None:
            old = batch_df.sparkSession.read.parquet(state["path"])
            partial = (
                partial.unionByName(old)
                .groupBy("o_orderkey")
                .agg(F.max("latest").alias("latest"))
            )
        state["v"] += 1
        new_path = str(tmp_path / f"cdc_state_v{state['v']}")
        partial.write.mode("overwrite").parquet(new_path)
        state["path"] = new_path

    s = (
        spark.readStream.schema(
            "o_orderkey BIGINT, op STRING, price DOUBLE, seq INT"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = (
        s.writeStream.foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "cdc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert state["v"] >= 3, "expected one micro-batch per seq epoch"

    compact = spark.read.parquet(state["path"]).select(
        "o_orderkey",
        F.col("latest.op").alias("op"),
        F.col("latest.price").alias("price"),
    )
    b, c = base.alias("b"), compact.alias("c")
    merged = b.join(
        c, F.col("b.o_orderkey") == F.col("c.o_orderkey"), "full"
    ).select(
        F.when(F.col("c.o_orderkey").isNull(), "keep")
        .when(F.col("c.op") == "d", "delete")
        .when(F.col("b.o_orderkey").isNull(), "insert")
        .otherwise("update")
        .alias("action"),
        F.coalesce(F.col("c.price"), F.col("b.o_totalprice")).alias("price"),
    )
    streamed = merged.groupBy("action").agg(
        F.count(F.lit(1)).alias("n_rows"), dsum(F.col("price"), "sum_price")
    ).toPandas()
    batch = QUERIES["q_etl_merge_tombstones"](spark, sf_dir).toPandas()
    assert canonicalize(streamed) == canonicalize(batch)
    assert set(streamed["action"]) == {"keep", "update", "insert", "delete"}


def test_stream_sessionize_with_state_converges_to_batch(spark, sf_dir, tmp_path):
    """Arbitrary-stateful SESSIONIZATION (applyInPandasWithState, append
    mode) must converge to the batch gaps-and-islands answer
    (q_sessionize_batch): per-user open-session state (session counter,
    start, last-seen, count) carries across micro-batches, sessions
    emit as their 30-min gap closes them — mid-batch or across batch
    boundaries — and a past-the-gap sentinel row per user flushes the
    final open sessions (the watermark-advancing-sentinel pattern from
    the full-outer test). Events arrive time-ordered (3 ts-tertile
    files with forced ascending mtimes), which is what the no-timeout
    state contract requires."""
    import os
    from glob import glob

    from pyspark.sql.streaming.state import GroupStateTimeout
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("tsec")
    )
    t1, t2 = ev.approxQuantile("tsec", [0.33, 0.66], 0.0)
    hi = ev.agg(F.max("tsec")).first()[0]
    sentinel = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.lit(-1).cast("bigint").alias("event_id"),
            F.lit(hi + 10**6).cast("bigint").alias("tsec"),
        )
    )
    chunks = [
        ev.filter(F.col("tsec") <= t1),
        ev.filter((F.col("tsec") > t1) & (F.col("tsec") <= t2)),
        ev.filter(F.col("tsec") > t2),
        sentinel,
    ]
    stream_dir = str(tmp_path / "sess_stream")
    seen: set[str] = set()
    ordered: list[str] = []
    for c in chunks:
        c.coalesce(1).write.mode("append").parquet(stream_dir)
        new = set(glob(os.path.join(stream_dir, "part-*"))) - seen
        ordered.extend(sorted(new))
        seen |= new
    base = os.path.getmtime(ordered[0])
    for i, p in enumerate(ordered):
        os.utime(p, (base + i, base + i))

    def update(key, pdfs, state):
        if state.exists:
            sess_no, start, last, n = state.get
        else:
            sess_no, start, last, n = 0, -1, -1, 0
        out = []
        # concat ALL the group's Arrow chunks before sorting: chunks
        # arrive in shuffle order, so sorting each independently would
        # fabricate or miss session gaps whenever a user's batch rows
        # span a maxRecordsPerBatch boundary.
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            whole = pd.concat(frames).sort_values(["tsec", "event_id"])
            for r in whole.itertuples():
                tsec = int(r.tsec)
                if r.event_id < 0:  # flush sentinel: close, open nothing
                    if n:
                        out.append((key[0], sess_no, n, start, last, last - start))
                        n = 0
                    continue
                if n == 0:
                    sess_no, start, last, n = sess_no + 1, tsec, tsec, 1
                elif tsec - last > 1800:
                    out.append((key[0], sess_no, n, start, last, last - start))
                    sess_no, start, last, n = sess_no + 1, tsec, tsec, 1
                else:
                    last, n = tsec, n + 1
        state.update((sess_no, start, last, n))
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "user_id",
                    "session_no",
                    "n_events",
                    "start_sec",
                    "end_sec",
                    "duration_sec",
                ],
            )

    s = (
        spark.readStream.schema("user_id BIGINT, event_id BIGINT, tsec BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    sessions = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id bigint, session_no bigint, n_events bigint, "
            "start_sec bigint, end_sec bigint, duration_sec bigint"
        ),
        stateStructType=(
            "sess_no bigint, start bigint, last bigint, n bigint"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    run_available_now(
        sessions, "sessionize_state_mem", str(tmp_path / "ckpt"), "append"
    )
    streamed = spark.table("sessionize_state_mem").toPandas()
    batch = QUERIES["q_sessionize_batch"](spark, sf_dir).toPandas()
    assert len(streamed) == len(batch)
    assert canonicalize(streamed) == canonicalize(batch)


def test_python_stream_source_exactly_once(spark, tmp_path):
    """The custom Python streaming source (streaming/python_source.py)
    driven by a REAL readStream: the microbatch engine must pull the
    bounded sequence through the offset protocol in ~limit/chunk
    micro-batches, and the sink must hold EXACTLY the arithmetic
    sequence — every row once, none duplicated, none lost (the
    replay/offset contract), with batch_start proving rows arrived in
    offset-aligned chunks."""
    import time

    from t_mobile_data_fnt_etl_pipeline_aws_spark.streaming.python_source import (
        register,
    )

    register(spark)
    stream = (
        spark.readStream.format("seq_ticks")
        .option("chunk", "17")
        .option("limit", "100")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("seq_ticks_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_pysrc"))
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table("seq_ticks_mem").count() >= 100:
                break
            time.sleep(0.5)
        rows = spark.table("seq_ticks_mem").collect()
    finally:
        q.stop()
    assert len(rows) == 100, f"expected 100 rows, got {len(rows)}"
    got = {(r.seq, r.batch_start, r.value) for r in rows}
    expected = {
        (i, (i // 17) * 17, i * 0.5) for i in range(100)
    }
    assert got == expected


def test_avro_stream_ingest_converges(spark, sf_dir, tmp_path):
    """The Avro landing-dir streaming source (avro_py_stream) driven by
    a REAL readStream: 6 immutable container files consumed in 2-file
    micro-batches through the offset protocol must converge to exactly
    the batch aggregate q_stream_avro_ingest declares (every row once —
    the file-range replay contract)."""
    import time

    from t_mobile_data_fnt_etl_pipeline_aws_spark.registry import QUERIES
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.avro_python import (
        make_avro_source,
        make_avro_stream_source,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    spark.dataSource.register(make_avro_source())
    spark.dataSource.register(make_avro_stream_source())
    landing = str(tmp_path / "landing")
    src = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    n_expected = src.count()
    src.repartition(6).write.format("avro_py").option("path", landing).mode(
        "overwrite"
    ).save()

    stream = (
        spark.readStream.format("avro_py_stream")
        .option("path", landing)
        .option("maxFilesPerBatch", "2")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("avro_stream_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_avro"))
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table("avro_stream_mem").count() >= n_expected:
                break
            time.sleep(0.5)
        got = (
            spark.table("avro_stream_mem")
            .groupBy("event_type")
            .count()
            .collect()
        )
        n_rows = spark.table("avro_stream_mem").count()
    finally:
        q.stop()
    assert n_rows == n_expected, f"stream delivered {n_rows} != {n_expected}"
    batch = {
        r.event_type: r.n_events
        for r in QUERIES["q_stream_avro_ingest"](spark, sf_dir).collect()
    }
    assert {r.event_type: r["count"] for r in got} == batch


def test_foreachbatch_upsert_converges(spark, sf_dir, tmp_path):
    """REAL writeStream.foreachBatch upsert: events streamed in 1-file
    micro-batches, each batch MERGED into a versioned parquet state
    table (read state_v{i-1}, combine latest-struct + counter, write
    state_v{i} — fresh dir per version, never read-modify-write in
    place). The fold is associative/commutative, so the final state
    must equal the one-shot batch aggregate q_stream_foreachbatch_upsert
    declares, regardless of batch boundaries."""
    import os

    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    stream_dir = str(tmp_path / "stream")
    load(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).repartition(4).write.mode("overwrite").parquet(stream_dir)

    from t_mobile_data_fnt_etl_pipeline_aws_spark.streaming.harness import (
        EVENTS_STREAM_SCHEMA,
    )

    s = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )

    state_dir = str(tmp_path / "state")
    versions: list[str] = []

    def merge(batch_df, batch_id: int) -> None:
        delta = batch_df.groupBy("user_id").agg(
            F.max(
                F.struct("ts", "event_id", "event_type", "value")
            ).alias("last"),
            F.count(F.lit(1)).alias("n_updates"),
        )
        if versions:
            prev = batch_df.sparkSession.read.parquet(versions[-1])
            delta = (
                prev.unionByName(delta)
                .groupBy("user_id")
                .agg(
                    F.max("last").alias("last"),
                    F.sum("n_updates").alias("n_updates"),
                )
            )
        out = os.path.join(state_dir, f"v{batch_id}")
        delta.write.mode("overwrite").parquet(out)
        versions.append(out)

    q = (
        s.writeStream.foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "ckpt_feb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert len(versions) > 1, "expected multiple micro-batches"
    final = (
        spark.read.parquet(versions[-1])
        .select(
            "user_id",
            F.col("last.event_type").alias("last_event_type"),
            F.col("last.value").alias("last_value"),
            F.col("last.ts").alias("last_ts"),
            F.col("n_updates").cast("bigint").alias("n_updates"),
        )
        .toPandas()
    )
    batch = QUERIES["q_stream_foreachbatch_upsert"](spark, sf_dir).toPandas()
    assert canonicalize(final) == canonicalize(batch)


def test_stream_manifest_sink_converges(spark, sf_dir, tmp_path):
    """REAL writeStream.foreachBatch(commit_append) into the manifest
    table: every micro-batch becomes one append commit, the final
    version's aggregate equals the batch-declared query, version count
    equals micro-batch count, and replaying the version-diff change
    feed (diff_files per consecutive version pair) reconstructs the
    full stream exactly once."""
    import os

    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        current_version,
        diff_files,
        read_version,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load
    from t_mobile_data_fnt_etl_pipeline_aws_spark.streaming.harness import (
        EVENTS_STREAM_SCHEMA,
    )

    stream_dir = str(tmp_path / "stream")
    src = load(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    n_total = src.count()
    src.repartition(3).write.mode("overwrite").parquet(stream_dir)

    table = str(tmp_path / "table")
    s = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    n_batches = []

    def sink(batch_df, batch_id: int) -> None:
        commit_append(
            batch_df.select("event_id", "ts", "event_type", "value"),
            table,
            ["ts"],
            op=f"microbatch_{batch_id}",
        )
        n_batches.append(batch_id)

    q = (
        s.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_ms"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert len(n_batches) == 3
    cur = current_version(table)
    assert cur == 3
    assert read_version(spark, table).count() == n_total
    # change-feed replay: consecutive diffs partition the stream
    replayed = 0
    seen = set()
    for v in range(1, cur + 1):
        delta = diff_files(table, v - 1, v)
        assert delta
        df = spark.read.parquet(*delta)
        replayed += df.count()
        ids = {r.event_id for r in df.select("event_id").collect()}
        assert not (ids & seen), "change feed replayed a row twice"
        seen |= ids
    assert replayed == n_total


def test_stream_manifest_dim_join_converges(spark, sf_dir, tmp_path):
    """REAL foreachBatch stream ⋈ slowly-changing manifest dim: run 1
    (availableNow) processes the pre-1997 order files against dim v1
    (even custkeys), the dim then receives a commit (odd custkeys), and
    run 2 — same checkpoint, so only the newly arrived 1997+ files —
    joins against dim v2. Because each batch re-plans the dim from the
    manifest, the accumulated enriched output must equal the declared
    batch-equivalent q_stream_manifest_dim_join exactly (including the
    rows dropped by the inner join while the dim was still partial)."""
    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.functions.numeric import dsum
    from t_mobile_data_fnt_etl_pipeline_aws_spark.registry import all_queries
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        read_version,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    dim_table = str(tmp_path / "dim")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    commit_append(c.filter(F.col("c_custkey") % 2 == 0), dim_table, ["c_custkey"])

    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    split = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    stream_dir = tmp_path / "arrivals"
    out_dir = str(tmp_path / "enriched")
    stream_dir.mkdir()
    o.filter(F.col("o_orderdate") < split).repartition(2).write.mode(
        "overwrite"
    ).parquet(str(stream_dir / "day1"))

    schema = spark.read.parquet(str(stream_dir / "day1")).schema

    def enrich(batch_df, batch_id: int) -> None:
        dim = F.broadcast(read_version(batch_df.sparkSession, dim_table))
        batch_df.join(
            dim, batch_df.o_custkey == dim.c_custkey
        ).select("o_custkey", "o_totalprice", "c_mktsegment").write.mode(
            "append"
        ).parquet(out_dir)

    def run_available() -> None:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(stream_dir / "*"))
            .writeStream.foreachBatch(enrich)
            .option("checkpointLocation", str(tmp_path / "ckpt_dim"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_available()  # batches of day1 files against dim v1
    # the dim slowly changes BETWEEN batches: odd custkeys arrive
    commit_append(c.filter(F.col("c_custkey") % 2 == 1), dim_table, ["c_custkey"])
    o.filter(F.col("o_orderdate") >= split).repartition(2).write.mode(
        "overwrite"
    ).parquet(str(stream_dir / "day2"))
    run_available()  # only the day2 files (same checkpoint), dim v2

    got = (
        spark.read.parquet(out_dir)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .toPandas()
        .sort_values("c_mktsegment")
        .reset_index(drop=True)
    )
    want = (
        all_queries()["q_stream_manifest_dim_join"](spark, sf_dir)
        .toPandas()
        .sort_values("c_mktsegment")
        .reset_index(drop=True)
    )
    assert got["n_orders"].tolist() == want["n_orders"].tolist()
    assert got["revenue"].tolist() == want["revenue"].tolist()
    assert got["c_mktsegment"].tolist() == want["c_mktsegment"].tolist()


def test_manifest_cdf_source_real_readstream(spark, sf_dir, tmp_path):
    """The manifest change-feed streaming source (manifest_cdf) driven
    by a REAL readStream: 3 committed versions (history append, new
    append, position-delete) consumed one version per micro-batch must
    emit exactly the per-version change rows — every order once as an
    insert with its commit version, the %97 rows again as deletes —
    and a RESTARTED stream from the same checkpoint must emit nothing
    new (offsets are versions; replay is exact)."""
    import time

    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_cdf_stream import (
        make_cdf_stream_source,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        commit_delete,
        read_version_with_pos,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    spark.dataSource.register(make_cdf_stream_source())
    table = str(tmp_path / "cdfsrc")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    cut = F.lit("1997-01-01").cast("timestamp_ntz")
    commit_append(
        o.filter(F.col("o_orderdate") < cut).repartition(2),
        table,
        ["o_orderdate"],
        op="history",
    )
    commit_append(
        o.filter(F.col("o_orderdate") >= cut).repartition(2),
        table,
        ["o_orderdate"],
        op="append_new",
    )
    doomed = read_version_with_pos(spark, table).filter(
        F.col("o_orderkey") % 97 == 0
    )
    commit_delete(spark, table, doomed.select("file_path", "row_index"))

    n_orders = o.count()
    n_deleted = o.filter(F.col("o_orderkey") % 97 == 0).count()
    n_expected = n_orders + n_deleted  # every insert + the delete rows

    def start(rows_out):
        stream = (
            spark.readStream.format("manifest_cdf")
            .option("path", table)
            .option("maxVersionsPerBatch", "1")
            .load()
        )
        return (
            stream.writeStream.foreachBatch(
                lambda df, epoch: rows_out.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ckpt_cdf"))
            .start()
        )

    rows: list = []
    q = start(rows)
    try:
        deadline = time.time() + 180
        while time.time() < deadline and len(rows) < n_expected:
            time.sleep(0.5)
        assert len(rows) == n_expected
        by_type: dict = {}
        for r in rows:
            by_type[r._change_type] = by_type.get(r._change_type, 0) + 1
        assert by_type == {"insert": n_orders, "delete": n_deleted}
        # inserts split across commit versions 1 and 2; deletes all at 3
        vers = {(r._change_type, r._commit_version) for r in rows}
        assert vers == {("insert", 1), ("insert", 2), ("delete", 3)}
    finally:
        q.stop()
    # restart from the same checkpoint: offsets already consumed ->
    # nothing re-emitted (exactly-once over immutable versions)
    rows2: list = []
    q2 = start(rows2)
    try:
        time.sleep(6)
        assert rows2 == []
    finally:
        q2.stop()


def test_stream_manifest_merge_sink_converges(spark, sf_dir, tmp_path):
    """REAL writeStream.foreachBatch(commit_merge_mor) — streaming CDC
    upsert into the manifest table: each micro-batch's per-user delta
    merges into the state table (bootstrap append on the first batch,
    MoR merge after), one commit per batch, no data file ever
    rewritten, and the final state equals the one-shot batch aggregate
    regardless of batch boundaries (the fold is associative)."""
    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        commit_merge_mor,
        current_version,
        read_manifest,
        read_version,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load
    from t_mobile_data_fnt_etl_pipeline_aws_spark.streaming.harness import (
        EVENTS_STREAM_SCHEMA,
    )

    stream_dir = str(tmp_path / "stream")
    src = load(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    src.repartition(3).write.mode("overwrite").parquet(stream_dir)

    table = str(tmp_path / "state")
    rewrites = []

    def delta_of(batch):
        return batch.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "event_type", "value")).alias(
                "last"
            ),
            F.count(F.lit(1)).alias("n"),
        )

    def sink(batch_df, batch_id: int) -> None:
        d = delta_of(batch_df)
        if not current_version(table):
            commit_append(
                d.select(
                    "user_id",
                    F.col("last.event_type").alias("last_event_type"),
                    F.col("last.value").alias("last_value"),
                    F.col("last.ts").alias("last_ts"),
                    F.col("last.event_id").alias("last_event_id"),
                    F.col("n").alias("n_updates"),
                ).repartition(1),
                table,
                ["user_id"],
                op=f"bootstrap_{batch_id}",
            )
            return
        cur = read_version(batch_df.sparkSession, table)
        j = d.join(cur, "user_id", "left")
        cstruct = F.struct(
            F.col("last_ts").alias("ts"),
            F.col("last_event_id").alias("event_id"),
            F.col("last_event_type").alias("event_type"),
            F.col("last_value").alias("value"),
        )
        new_last = F.when(
            F.col("last_ts").isNull(), F.col("last")
        ).otherwise(F.greatest(F.col("last"), cstruct))
        src_b = j.select(
            "user_id",
            new_last["event_type"].alias("last_event_type"),
            new_last["value"].alias("last_value"),
            new_last["ts"].alias("last_ts"),
            new_last["event_id"].alias("last_event_id"),
            (F.coalesce(F.col("n_updates"), F.lit(0)) + F.col("n")).alias(
                "n_updates"
            ),
            F.when(F.col("last_ts").isNotNull(), F.lit("u"))
            .otherwise(F.lit("i"))
            .alias("__op"),
        )
        before = {
            f["path"]
            for f in read_manifest(table, current_version(table))["files"]
        }
        commit_merge_mor(
            batch_df.sparkSession,
            table,
            src_b,
            "user_id",
            ["user_id"],
            op=f"merge_{batch_id}",
        )
        after = {
            f["path"]
            for f in read_manifest(table, current_version(table))["files"]
        }
        rewrites.append(before.issubset(after))

    s = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    q = (
        s.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_merge"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert current_version(table) == 3  # one commit per micro-batch
    assert rewrites and all(rewrites)  # merges never rewrote a file
    got = {
        r.user_id: (r.last_event_type, r.last_value, r.last_ts, r.n_updates)
        for r in read_version(spark, table).collect()
    }
    want = {
        r.user_id: (r.last_event_type, r.last_value, r.last_ts, r.n_updates)
        for r in src.groupBy("user_id")
        .agg(
            F.max(F.struct("ts", "event_id", "event_type", "value")).alias(
                "last"
            ),
            F.count(F.lit(1)).alias("n_updates"),
        )
        .select(
            "user_id",
            F.col("last.event_type").alias("last_event_type"),
            F.col("last.value").alias("last_value"),
            F.col("last.ts").alias("last_ts"),
            "n_updates",
        )
        .collect()
    }
    assert got == want


def test_stream_session_dynamic_gap_converges_to_batch(spark, sf_dir, tmp_path):
    """Dynamic-gap session windows (gap = f(event_type)) in a REAL
    readStream converge to the batch q_stream_session_dynamic_gap
    result — the per-event gap expression must evaluate identically
    inside the streaming session state store."""
    stream_dir, _ = stage_events(spark, sf_dir, str(tmp_path))
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("45 minutes")
    ).otherwise(F.lit("15 minutes"))
    sessions = (
        read_events_stream(spark, stream_dir)
        .withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("s_start"),
            F.col("s.end").alias("s_end"),
            "n_events",
        )
    )
    run_available_now(
        sessions, "dyn_gap_mem", str(tmp_path / "ckpt"), "complete"
    )
    streamed = spark.table("dyn_gap_mem").toPandas()
    batch = QUERIES["q_stream_session_dynamic_gap"](spark, sf_dir).toPandas()
    assert len(streamed) > 0
    assert canonicalize(streamed) == canonicalize(batch)


def test_stream_session_dynamic_gap_purchase_extends(spark):
    """Directed semantics pin: a purchase's 45-minute claim keeps the
    session open across a gap that a click's 15-minute claim cannot
    bridge — and the session END is the max claim end (the purchase's),
    not last-event-plus-gap."""
    rows = [
        (1, "2024-01-01 10:00:00", "purchase"),
        (1, "2024-01-01 10:40:00", "click"),   # inside purchase's 45-min claim
        (1, "2024-01-01 11:00:00", "click"),   # 10:55 max-claim end passed -> new
    ]
    df = spark.createDataFrame(
        rows, "user_id BIGINT, t STRING, event_type STRING"
    ).select("user_id", F.col("t").cast("timestamp").alias("ts"), "event_type")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("45 minutes")
    ).otherwise(F.lit("15 minutes"))
    got = {
        (str(r.s), str(r.e), r.n)
        for r in df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("s"), F.col("w.end").alias("e"), F.col("n")
        )
        .collect()
    }
    assert got == {
        ("2024-01-01 10:00:00", "2024-01-01 10:55:00", 2),
        ("2024-01-01 11:00:00", "2024-01-01 11:15:00", 1),
    }, got


def test_stream_stream_semi_converges_to_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream LEFT SEMI interval join emits exactly
    the batch converted-view set, each view at most once (at-match-time
    emission must not duplicate on later matches)."""
    stream_dir, _ = stage_events(spark, sf_dir, str(tmp_path))
    v = (
        read_events_stream(spark, stream_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    p = (
        read_events_stream(spark, stream_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    semi = v.join(
        p,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    )
    run_available_now(semi, "ss_semi_mem", str(tmp_path / "ckpt"), "append")
    streamed = spark.table("ss_semi_mem").toPandas()
    assert len(streamed) > 0
    assert streamed["v_id"].is_unique, "semi join emitted a view twice"

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    e = load(spark, sf_dir, "events")
    bv = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").cast("timestamp").alias("v_ts"),
    )
    bp = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").cast("timestamp").alias("p_ts"),
    )
    batch = bv.join(
        bp,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    ).toPandas()
    assert canonicalize(streamed) == canonicalize(batch)


def test_drop_duplicates_within_watermark_state_expiry(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics pinned — the difference
    from plain dropDuplicates that only a multi-phase feed can show:
    (a) a duplicate arriving while the key's state is alive is
    suppressed; (b) once the watermark passes first-seen + delay, the
    state EXPIRES and the same key RE-EMITS (plain dropDuplicates
    would suppress it forever — unbounded state is exactly what the
    within-watermark form exists to avoid)."""
    import os

    stream = str(tmp_path / "stream")
    os.makedirs(stream)

    def mk(rows, sub):
        spark.createDataFrame(rows, "k long, t string").selectExpr(
            "k", "cast(t as timestamp) AS ts"
        ).coalesce(1).write.parquet(f"{stream}/{sub}")

    mk([(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:00:00")], "a")
    ddw = (
        spark.readStream.schema("k long, ts timestamp")
        .option("recursiveFileLookup", "true")
        .parquet(stream)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["k"])
    )
    got: list = []

    def drain():
        q = (
            ddw.writeStream.foreachBatch(
                lambda b, _: got.extend((r.k, str(r.ts)) for r in b.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert sorted(got) == [
        (1, "2024-01-01 10:00:00"),
        (2, "2024-01-01 10:00:00"),
    ], got
    # dup while state is alive (watermark from batch end: 09:30) +
    # a watermark advancer that pushes expiry past 10:30
    mk([(1, "2024-01-01 10:05:00"), (9, "2024-01-01 20:00:00")], "b")
    drain()
    assert (1, "2024-01-01 10:05:00") not in got, got  # suppressed
    assert (9, "2024-01-01 20:00:00") in got, got
    # same key AFTER expiry: must re-emit
    mk([(1, "2024-01-01 21:00:00")], "c")
    drain()
    assert (1, "2024-01-01 21:00:00") in got, got
    assert [k for k, _ in got].count(1) == 2, got


def test_stream_cdc_hidden_partition_foreachbatch(spark, sf_dir, tmp_path):
    """REAL writeStream.foreachBatch(commit_append_partitioned) — the
    q_stream_cdc_hidden_partition docstring's promised streaming twin:
    micro-batches land through the day(ts) hidden-partitioning writer,
    one atomic partitioned commit per micro-batch, every committed file
    carries a partition value, and a plain ts-range read over the
    streamed-in table prunes files AND returns exactly the batch
    answer."""
    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append_partitioned,
        current_version,
        prune_files_partition,
        read_manifest,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load
    from t_mobile_data_fnt_etl_pipeline_aws_spark.streaming.harness import (
        EVENTS_STREAM_SCHEMA,
    )

    stream_dir = str(tmp_path / "stream")
    src = load(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    src.repartition(3).write.mode("overwrite").parquet(stream_dir)

    table = str(tmp_path / "hidden")

    def sink(batch_df, batch_id: int) -> None:
        commit_append_partitioned(
            batch_df.select("event_id", "ts", "user_id", "event_type", "value"),
            table,
            "ts",
            "day",
            ["ts"],
            op=f"stream_batch_{batch_id}",
        )

    s = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    q = (
        s.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_hidden"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    v = current_version(table)
    assert v == 3  # one commit per micro-batch
    m = read_manifest(table, v)
    assert all("partition" in f for f in m["files"])  # every file valued
    files, total = prune_files_partition(
        table, v, "2024-01-10 00:00:00", "2024-01-14 23:59:59.999999"
    )
    assert 0 < len(files) < total  # pruning engaged
    got = (
        spark.read.parquet(*files)
        .filter(
            (F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
        )
        .count()
    )
    want = src.filter(
        (F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
    ).count()
    assert got == want
