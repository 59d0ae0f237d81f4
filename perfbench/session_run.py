"""One Spark session of a benchmark run; ``run.py`` starts it as a child.

``--mode time``: set up, run one cold pass in the listed key order, check
every key's output (untimed), then run warm passes for ``--seconds`` (at
least ``MIN_WARM`` of them). Each timed call is
``fn(spark, data_dir)`` materialized through the ``noop`` sink, with the
session cache cleared and no persistent RDD registered before the timer
starts. With ``--trace 1`` warm passes alternate untraced and traced; the
traced ones collect spans and Spark counters. The check compares oracled
keys with ``oracle.compare_frames`` against DuckDB on the same files, and
runs rows-only keys twice, requiring the same non-empty canonical row
multiset.

``--mode setup``: set up and stop; one more sample of set-up time.

The result is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

MIN_WARM = 3
MIN_WARM_TRACED = 4  # two untraced + two traced


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, filenames in os.walk(path):
        for name in filenames:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total


class Session:
    def __init__(self, args) -> None:
        self.args = args
        t_import = time.monotonic()
        from t_mobile_data_fnt_etl_pipeline_aws_spark import get_spark

        t_spark = time.monotonic()
        self.spark = get_spark("perfbench")
        t_spark_done = time.monotonic()
        self.tracer = None
        if args.trace:
            import spans

            self.tracer = spans.Tracer()
            spans.install(self.tracer)
        from t_mobile_data_fnt_etl_pipeline_aws_spark import registry

        t_reg = time.monotonic()
        self.queries = registry.all_queries()
        self.oracles = registry.all_oracles()
        t_ready = time.monotonic()
        self.sc = self.spark.sparkContext
        self.jsc = self.sc._jsc
        self.setup = {
            "setup_s": t_ready - args.t0,
            "package_import_s": t_spark - t_import,
            "get_spark_s": t_spark_done - t_spark,
            "registry_import_s": t_ready - t_reg,
        }
        self.sink = os.path.join(tempfile.gettempdir(), f"spark_graft_sinks_{os.getpid()}")
        self.failures: list[dict] = []
        self.attempted = 0

    # -- helpers ---------------------------------------------------------
    def _clear(self) -> None:
        self.spark.catalog.clearCache()
        if not self.jsc.getPersistentRDDs().isEmpty():
            raise RuntimeError(
                f"{self.jsc.getPersistentRDDs().size()} persistent RDDs still "
                "registered after clearCache()"
            )

    def _fail(self, key: str, pass_no, err: str) -> None:
        self.failures.append({"key": key, "pass": pass_no, "error": err[-2000:]})

    def sink_hygiene(self) -> int:
        """Bytes the pass left in this process's sink dir, which is then removed."""
        size = _dir_bytes(self.sink)
        shutil.rmtree(self.sink, ignore_errors=True)
        return size

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    # -- time mode -------------------------------------------------------
    def call(self, key: str, pass_no: int, traced: bool, counters: dict) -> float | None:
        """One timed call; returns seconds, or None when it failed."""
        self.attempted += 1
        group = f"perfbench:{pass_no}:{key}"
        try:
            self._clear()
            self.sc.setJobGroup(group, key)
            if traced:
                last_exec = _last_execution_id(self.spark)
            tr = self.tracer
            if tr is not None:
                tr.key, tr.pass_no, tr.enabled = key, pass_no, traced
            t = time.perf_counter()
            try:
                if traced:
                    with tr.span("operators.build"):
                        df = self.queries[key](self.spark, self.args.data)
                    build_end = time.perf_counter()
                    build_jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
                    t_probe = time.perf_counter() - build_end
                    with tr.span("spark.execute"):
                        df.write.format("noop").mode("overwrite").save()
                else:
                    df = self.queries[key](self.spark, self.args.data)
                    df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t
            finally:
                if tr is not None:
                    tr.enabled = False
            counters["dfutil.persisted_left"] = (
                counters.get("dfutil.persisted_left", 0)
                + self.jsc.getPersistentRDDs().size()
            )
            if traced:
                dt -= t_probe  # the job-count probe is not part of the call
                _add(counters, "operators.build_jobs", build_jobs)
                _add(counters, "spark.wall_s", dt)
                t = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                _add(counters, "spark.plan_s", time.perf_counter() - t)
                _stage_counters(self.sc, group, counters)
                _python_counters(self.spark, last_exec, counters)
            return dt
        except Exception:
            self._fail(key, pass_no, traceback.format_exc())
            return None

    def run_pass(self, keys: list[str], pass_no: int, traced: bool, counters: dict) -> dict:
        times = {key: self.call(key, pass_no, traced, counters) for key in keys}
        done = [dt for dt in times.values() if dt is not None]
        return {"pass": pass_no, "s": sum(done), "ok": len(done), "times": times,
                "traced": traced, "sink_bytes": self.sink_hygiene()}

    def time_mode(self, keys: list[str]) -> dict:
        rng = random.Random(self.args.seed)
        order = lambda: rng.sample(keys, len(keys))  # noqa: E731
        counters: dict[str, float] = {}
        # the cold pass keeps the listed order: which key runs first in a
        # fresh JVM decides who pays class loading and JIT, so a permuted
        # cold pass would measure the order as much as the code
        cold = self.run_pass(list(keys), 0, False, {})
        # the untimed output check runs here, between the cold pass and the
        # warm passes, where it also lets JIT compilation settle further
        checked = self.check(keys)
        warm = []
        need = MIN_WARM_TRACED if self.args.trace else MIN_WARM
        start = time.monotonic()
        while len(warm) < need or time.monotonic() - start < self.args.seconds:
            traced = bool(self.args.trace) and len(warm) % 2 == 1
            warm.append(self.run_pass(order(), len(warm) + 1, traced, counters if traced else {}))
        out = {"cold": cold, "warm": warm, "counters": counters, **checked}
        if self.tracer is not None:
            import spans

            n_traced = sum(p["traced"] for p in warm)
            out["layers"] = spans.layer_metrics(self.tracer, n_traced)
            out["spans"] = spans.dump_spans(self.tracer)
            out["codecs"] = codec_throughput(self.args.data, self.args.seed)
        return out

    # -- output check ----------------------------------------------------
    def check(self, keys: list[str]) -> dict:
        from t_mobile_data_fnt_etl_pipeline_aws_spark.oracle import (
            canonicalize,
            compare_frames,
            duck_connect,
        )

        rng = random.Random(self.args.seed + 1)
        con = duck_connect(self.args.data)
        checked = {}
        try:
            for key in rng.sample(keys, len(keys)):
                self.attempted += 1
                try:
                    self._clear()
                    pdf = self.queries[key](self.spark, self.args.data).toPandas()
                    if key in self.oracles:
                        diff = compare_frames(pdf, con.execute(self.oracles[key]).df())
                    else:
                        first = canonicalize(pdf)
                        self._clear()
                        again = canonicalize(
                            self.queries[key](self.spark, self.args.data).toPandas()
                        )
                        if not first[1]:
                            diff = "rows-only key returned no rows"
                        elif first != again:
                            diff = "rows-only key returned different rows on a second run"
                        else:
                            diff = None
                except Exception:
                    diff = traceback.format_exc()
                checked[key] = {"rows": None if diff else len(pdf), "oracle": key in self.oracles}
                if diff:
                    self._fail(key, "check", diff)
        finally:
            con.close()
        self.sink_hygiene()
        return {"checked": checked}


def _add(counters: dict, name: str, value: float) -> None:
    counters[name] = counters.get(name, 0) + value


def _stage_counters(sc, group: str, counters: dict) -> None:
    """Stage metrics of the jobs in ``group`` from the app status store."""
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    _add(counters, "spark.jobs", len(jobs))
    for job in jobs:
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else []:
            try:
                data = store.stageAttempt(stage, 0, False, None, False, no_quantiles)._1()
            except Py4JJavaError:
                continue  # evicted from the store, or never attempted
            if str(data.status()) == "SKIPPED":
                continue
            _add(counters, "spark.stages", 1)
            _add(counters, "spark.tasks", data.numCompleteTasks())
            _add(counters, "spark.executor_run_s", data.executorRunTime() / 1e3)
            _add(counters, "spark.executor_cpu_s", data.executorCpuTime() / 1e9)
            _add(counters, "spark.gc_s", data.jvmGcTime() / 1e3)
            _add(counters, "spark.input_mb", data.inputBytes() / 2**20)
            _add(counters, "spark.shuffle_read_mb", data.shuffleReadBytes() / 2**20)
            _add(counters, "spark.shuffle_write_mb", data.shuffleWriteBytes() / 2**20)
            _add(counters, "spark.spill_mb",
                 (data.memoryBytesSpilled() + data.diskBytesSpilled()) / 2**20)


def _last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    if n == 0:
        return -1
    return store.executionsList(n - 1, 1).head().executionId()


_PY_METRICS = {
    "data sent to Python workers": "python.bytes_sent_mb",
    "data returned from Python workers": "python.bytes_returned_mb",
}


def _python_counters(spark, last_exec: int, counters: dict) -> None:
    """Python-boundary SQL metrics of the executions after ``last_exec``."""
    from stats import parse_size

    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    it = store.executionsList(max(0, n - 200), 200).iterator()
    while it.hasNext():
        ex = it.next()
        if ex.executionId() <= last_exec:
            continue
        metrics = ex.metrics()
        wanted = {}
        for i in range(metrics.size()):
            m = metrics.apply(i)
            if m.name() in _PY_METRICS:
                wanted[m.accumulatorId()] = _PY_METRICS[m.name()]
        if not wanted:
            continue
        values = store.executionMetrics(ex.executionId())
        for acc, name in wanted.items():
            v = values.get(acc)
            if v.isDefined():
                _add(counters, name, parse_size(v.get()) / 2**20)


def codec_throughput(data_dir: str, seed: int) -> dict[str, float]:
    """MB/s of the Avro and protobuf codecs on a seeded sample of ``events``.

    Each codec encodes and decodes the same sample three times; every
    encoding must be byte-identical and every decode must return the
    sample. MB is the encoded size.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import avro_python, protobuf_python

    ev = pq.read_table(os.path.join(data_dir, "events.parquet"))
    rows = np.random.default_rng(seed).permutation(ev.num_rows)
    ev = ev.take(pa.array(rows))
    ts_us = ev.column("ts").cast(pa.int64())
    sample = pa.table({
        "event_id": ev.column("event_id"), "ts_us": ts_us, "user_id": ev.column("user_id"),
        "event_type": ev.column("event_type"), "value": ev.column("value"),
        "props": ev.column("props"),
    })
    out: dict[str, float] = {}

    avro_schema = {"type": "record", "name": "event", "fields": [
        {"name": "event_id", "type": "long"}, {"name": "ts_us", "type": "long"},
        {"name": "user_id", "type": "long"}, {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"}, {"name": "props", "type": "string"},
    ]}
    path = os.path.join(tempfile.gettempdir(), f"perfbench_codec_{os.getpid()}.avro")
    enc_s, dec_s, blobs = [], [], set()
    for _ in range(3):
        t = time.perf_counter()
        avro_python.write_container_arrow(path, avro_schema, sample.to_batches())
        enc_s.append(time.perf_counter() - t)
        with open(path, "rb") as fh:
            blob = fh.read()
        blobs.add(blob)
        t = time.perf_counter()
        back = pa.Table.from_batches(list(avro_python.read_container_arrow(path)))
        dec_s.append(time.perf_counter() - t)
        if not back.equals(sample):
            raise AssertionError("avro round trip changed the sample")
    os.remove(path)
    if len(blobs) != 1:
        raise AssertionError("avro encoding differs between calls")
    mb = len(blob) / 2**20
    out["avro_python.encode_mb_s"] = mb / min(enc_s)
    out["avro_python.decode_mb_s"] = mb / min(dec_s)

    pb_schema = {
        "event_id": (1, "int64"), "ts_us": (2, "int64"), "user_id": (3, "int64"),
        "event_type": (4, "string"), "value": (5, "double"), "props": (6, "string"),
    }
    wanted = {num: (name, kind) for name, (num, kind) in pb_schema.items()}
    cols = {name: (sample.column(name).to_numpy() if kind != "string"
                   else sample.column(name).to_pylist())
            for name, (_, kind) in pb_schema.items()}
    enc_s, dec_s, blobs = [], [], set()
    for _ in range(3):
        t = time.perf_counter()
        buf, offsets = protobuf_python.encode_flat_batch(pb_schema, cols)
        enc_s.append(time.perf_counter() - t)
        blobs.add((bytes(buf), np.asarray(offsets).tobytes()))
        t = time.perf_counter()
        back = protobuf_python.decode_flat_batch(buf, offsets, wanted)
        dec_s.append(time.perf_counter() - t)
        for name, (_, kind) in pb_schema.items():
            got = back[name]
            got = got.to_pylist() if hasattr(got, "to_pylist") else list(got)
            if got != sample.column(name).to_pylist():
                raise AssertionError(f"protobuf round trip changed {name}")
    if len(blobs) != 1:
        raise AssertionError("protobuf encoding differs between calls")
    mb = len(buf) / 2**20
    out["protobuf_python.encode_mb_s"] = mb / min(enc_s)
    out["protobuf_python.decode_mb_s"] = mb / min(dec_s)
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--root", required=True)
    p.add_argument("--data", required=True)
    p.add_argument("--keys", required=True)
    p.add_argument("--mode", choices=["time", "setup"], required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--t0", type=float, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    sys.path.insert(0, args.root)
    keys = args.keys.split(",")

    s = Session(args)
    try:
        body = s.time_mode(keys) if args.mode == "time" else {}
        result = {
            "setup": s.setup,
            "master": s.sc.master,
            "default_parallelism": s.sc.defaultParallelism,
            "attempted": s.attempted,
            "failures": s.failures,
            **body,
        }
    finally:
        s.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
