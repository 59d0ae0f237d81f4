#!/usr/bin/env python
"""Benchmark harness (BASELINE.md protocol).

Runs the headline queries (``registry.headline_keys()``: every key not
registered with ``bench=False``) at $SPARK_GRAFT_SF_DIR (default: the
sf0.1 test data) on local[$SPARK_GRAFT_CPUS] and prints TWO JSON
lines: the full payload {"metric": ..., "value": <total sec>, "unit":
"sec", "queries": {key: sec}, "counters": {key: {...}}, "sf": ...,
"regressions": {...}}, then a compact summary that fits a ~2 KB tail
capture. SPARK_GRAFT_BENCH_QUERIES=comma,separated,keys (or "all")
times other keys; at sf0.01 such a subset run is the job-count audit.

Protocol: one SparkSession, restarted every JVM_ROTATE_KEYS keys. Per
key, one untimed warm-up then RUNS timed materializations through the
noop sink (executors do all the work, no driver-collect tax), each run
under its own job group and each preceded by ``clearCache()``, so no
run reads blocks that ``materialized()`` persisted in an earlier one.
Reported per key: the median seconds, and the median of Spark's own
accounting for a timed run (jobs, stages that ran, shuffle-write bytes,
bytes spilled to disk).

Gate: counters move with the code, not with host speed. A key is
flagged when its job count rises, or its shuffle-write bytes rise by
more than SHUFFLE_TOLERANCE, against the newest record holding that
key with the same master, default_parallelism and sf. Wall time is
reported, never gated. Every run writes its payload with exclusive
create to BENCH_LOCAL_p<parallelism>_<UTC timestamp>.json, so records
never overwrite each other.

``run(keys, sf_dir)`` is the repo's one timing loop: ``main`` calls it
with the env's keys and dir, and bench_scaling.py once per scale point.

Cross-round comparison restarts at the first record of this protocol:
older BENCH_LOCAL_r*.json records timed warm-cache runs and carry no
counters, so the gate ignores them.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from t_mobile_data_fnt_etl_pipeline_aws_spark import get_spark  # noqa: E402
from t_mobile_data_fnt_etl_pipeline_aws_spark.registry import (  # noqa: E402
    all_queries,
    headline_keys,
)

METRIC = "total_seconds_noop_materialize_sum_of_medians"

RUNS = 3

#: Keys per JVM: a long single-JVM sweep drifts (JIT tier churn,
#: listener/GC accumulation) and the drift grows with a key's position
#: in the list, so the session restarts every JVM_ROTATE_KEYS keys.
JVM_ROTATE_KEYS = 50

#: Relative shuffle-write growth the gate tolerates before flagging.
SHUFFLE_TOLERANCE = 0.10


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_counters(sc, group: str) -> dict[str, int]:
    """Spark's accounting for the jobs of one job group: jobs, stages
    that ran (each once; skipped stages excluded), shuffle-write bytes
    and bytes spilled to disk."""
    from py4j.protocol import Py4JJavaError

    jsc = sc._jsc.sc()
    # the status store is fed asynchronously: drain the listener bus so
    # every job and stage of the finished run has been recorded
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        stage_ids.update(info.stageIds if info else ())
    out = {"jobs": len(jobs), "stages": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    store = jsc.statusStore()
    for sid in stage_ids:
        try:
            data = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue  # never attempted
        if str(data.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["shuffle_write_bytes"] += data.shuffleWriteBytes()
        out["spill_bytes"] += data.diskBytesSpilled()
    return out


def time_query(spark, key: str, fn, sf_dir: str) -> tuple[float, dict[str, int]]:
    """Median seconds and median counters of RUNS timed runs of one key."""
    sc = spark.sparkContext
    sc._jvm.System.gc()
    samples, counts = [], []
    for run in range(RUNS + 1):  # run 0 is the untimed warm-up
        spark.catalog.clearCache()
        group = f"bench:{key}:{run}"
        sc.setJobGroup(group, key)
        t0 = time.perf_counter()
        materialize(fn(spark, sf_dir))
        elapsed = time.perf_counter() - t0
        if run:
            samples.append(elapsed)
            counts.append(run_counters(sc, group))
    counters = {n: statistics.median_low(c[n] for c in counts) for n in counts[0]}
    return round(statistics.median(samples), 4), counters


def load_prior_counters(
    repo_dir: str, master: str, parallelism: int, sf
) -> dict[str, tuple[str, dict[str, int]]]:
    """key -> (record file name, counters) from the newest record that
    holds the key and was taken with this master, parallelism and sf."""
    want = (master, parallelism, sf)
    records = []
    for path in glob.glob(os.path.join(repo_dir, "BENCH_LOCAL_*.json")):
        try:
            with open(path) as fh:
                rec = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        if isinstance(rec, dict) and "counters" in rec and want == (
            rec.get("master"), rec.get("default_parallelism"), rec.get("sf")
        ):
            records.append((rec.get("utc", ""), os.path.basename(path), rec["counters"]))
    prior = {}
    for _, name, counters in sorted(records):  # oldest first: newer records win
        for key, c in counters.items():
            prior[key] = (name, c)
    return prior


def find_regressions(
    counters: dict[str, dict[str, int]],
    prior: dict[str, tuple[str, dict[str, int]]],
) -> dict[str, dict]:
    """Keys whose job count rose, or whose shuffle-write bytes rose by
    more than SHUFFLE_TOLERANCE, each with ``[prior, now]`` per flagged
    counter and the record it was compared against."""
    out = {}
    for key, now in counters.items():
        if key not in prior:
            continue
        record, base = prior[key]
        flags = {}
        if now["jobs"] > base["jobs"]:
            flags["jobs"] = [base["jobs"], now["jobs"]]
        shuffle = "shuffle_write_bytes"
        if now[shuffle] > (1 + SHUFFLE_TOLERANCE) * base[shuffle]:
            flags[shuffle] = [base[shuffle], now[shuffle]]
        if flags:
            out[key] = {"record": record, **flags}
    return out


def record_name(payload: dict) -> str:
    """File name of the record that holds ``payload``."""
    return f"BENCH_LOCAL_p{payload['default_parallelism']}_{payload['utc']}.json"


def write_record(repo_dir: str, payload: dict) -> str:
    """Write ``payload`` under a new name; an existing name raises
    FileExistsError instead of being overwritten."""
    path = os.path.join(repo_dir, record_name(payload))
    with open(path, "x") as fh:
        json.dump(payload, fh, indent=1)
    return path


def compact_summary(payload: dict) -> dict:
    """Tail-capture-safe summary emitted as the LAST stdout line: a
    tail capture of stdout clips at ~2 KB, so "queries" holds only the
    10 most expensive keys and "regressions" only the first 5."""
    timings = payload["queries"]
    top10 = dict(sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10])
    return {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": "sec",
        "sf": payload["sf"],
        "master": payload.get("master"),
        "default_parallelism": payload.get("default_parallelism"),
        "n_queries": len(timings),
        "n_regressions": len(payload["regressions"]),
        "regressions": dict(list(payload["regressions"].items())[:5]),
        "queries": top10,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sel = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    if sel == "all":
        keys = sorted(all_queries())
    elif sel:
        keys = [k.strip() for k in sel.split(",") if k.strip()]
    else:
        keys = headline_keys()
    payload = run(keys, sf_dir)
    print(json.dumps(payload))
    print(json.dumps(compact_summary(payload)))


def run(keys: list[str], sf_dir: str) -> dict:
    """Time ``keys`` at ``sf_dir``, gate their counters against the
    prior records and write the new record; return its payload."""
    queries = all_queries()
    spark = get_spark("spark-graft-bench")

    timings: dict[str, float] = {}
    counters: dict[str, dict[str, int]] = {}
    for i, key in enumerate(keys):
        if i and i % JVM_ROTATE_KEYS == 0:
            spark.stop()
            spark = get_spark(f"spark-graft-bench-{i // JVM_ROTATE_KEYS}")
        timings[key], counters[key] = time_query(spark, key, queries[key], sf_dir)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    master = spark.sparkContext.master
    parallelism = spark.sparkContext.defaultParallelism
    spark.stop()
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    prior = load_prior_counters(repo_dir, master, parallelism, sf)
    payload = {
        # value = SUM over queries of the per-query median of RUNS runs
        "metric": METRIC,
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "counters": counters,
        "sf": sf,
        # core-count proof: the resolved master and the session's
        # effective parallelism, so a record shows $SPARK_GRAFT_CPUS held
        "master": master,
        "default_parallelism": parallelism,
        "cpus_env": os.environ.get("SPARK_GRAFT_CPUS") or None,
        "utc": time.strftime("%Y%m%dT%H%M%SZ", time.gmtime()),
        "regressions": find_regressions(counters, prior),
    }
    write_record(repo_dir, payload)
    return payload


if __name__ == "__main__":
    main()
