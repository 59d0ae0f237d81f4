"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

A run generates the workload's input tables from ``--seed``, then starts
Spark sessions, each in a fresh child process (``session_run.py``):

1. the timed session: set-up, one cold pass, then warm passes for
   ``--seconds`` (more with ``--trace 1``, where they alternate untraced and
   traced), then, untimed, a check of every key's output against its DuckDB
   oracle, or for rows-only keys against a second run;
2. ``SETUP_SAMPLES - 1`` set-up sessions that only start and stop.

``setup_s`` is the median set-up time over all sessions. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Every run also
writes a record under ``perfbench/records/`` (never overwriting one).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "t_mobile_data_fnt_etl_pipeline_aws_spark"
sys.path.insert(0, HERE)

import gen  # noqa: E402
import records  # noqa: E402
from stats import median  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: Input size: TPC-H-shaped tables at scale factor 0.01 (60k lineitem rows),
#: 500 documents and 500 embeddings.
SF = 0.01
N_DOCS = 500
N_VECS = 500

#: Heap of the Spark JVM, fixed (initial = maximum) so that how far the heap grew
#: before a collection does not make peak RSS vary from run to run. The
#: inputs are small; the engine's 8g default would only let the heap grow.
DRIVER_MEM = "1g"

#: Sessions started per run; each gives one sample of set-up time.
SETUP_SAMPLES = 2

CHILD_TIMEOUT_S = 150

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "queries_per_min": "1/min",
    "peak_rss_mb": "MB",
}

#: Printed with ``--trace 1``. Layer times that are exactly 0 on a workload
#: where the layer is idle (manifest_table and dfutil times, ``spark.gc_s``)
#: are kept in the record's ``layer_values`` only, beside the counts
#: (``manifest_table.commits``, ``dfutil.materialized_calls``) that show
#: whether the layer ran.
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.import_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.self_s": "s",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.floor_s": "s",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "tables.self_s": "s",
    "manifest_table.commits": "count",
    "manifest_table.commit_conflicts": "count",
    "manifest_table.files_kept_frac": "fraction",
    "manifest_table.bytes_written_mb": "MB",
    "dfutil.materialized_calls": "count",
    "dfutil.persisted_left": "count",
    "python.bytes_sent_mb": "MB",
    "python.bytes_returned_mb": "MB",
    "avro_python.encode_mb_s": "MB/s",
    "avro_python.decode_mb_s": "MB/s",
    "protobuf_python.encode_mb_s": "MB/s",
    "protobuf_python.decode_mb_s": "MB/s",
    "trace.overhead_s": "s",
}


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# -- process tree ----------------------------------------------------------
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    """Proportional set size: a page shared by n processes counts 1/n to
    each, so a process forked by the JVM or a worker daemon is not counted
    twice while it shares its parent's pages."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


class TreeWatch(threading.Thread):
    """Samples the summed resident memory (PSS) of a process and all its
    descendants."""

    def __init__(self, pid: int, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak = 0
        self.seen: set[int] = {pid}
        self.pid_peak: dict[int, int] = {}
        self.pid_kind: dict[int, str] = {}
        self.timeline: list[int] = []
        self._halt = threading.Event()

    def _tree(self) -> list[int]:
        kids = _children_map()
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, []))
        return out

    def run(self) -> None:
        while not self._halt.is_set():
            rss = {p: _rss_bytes(p) for p in self._tree()}
            for p, r in rss.items():
                self.pid_kind[p] = _kind(p, self.pid_kind.get(p, "gone"))
                self.pid_peak[p] = max(self.pid_peak.get(p, 0), r)
            self.seen.update(rss)
            self.peak = max(self.peak, sum(rss.values()))
            self.timeline.append(sum(rss.values()))
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()

    def peak_by_kind(self) -> dict[str, float]:
        """Summed per-process peak PSS in MB, by process kind."""
        out: dict[str, float] = {}
        for p, r in self.pid_peak.items():
            kind = self.pid_kind[p]
            out[kind] = out.get(kind, 0.0) + r / 2**20
        return out


def _kind(pid: int, last: str) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return last
    if not cmd:  # exiting: the kernel has dropped its command line
        return last
    if b"java" in cmd.split(b"\0", 1)[0]:
        return "jvm"
    if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
        return "python_workers"
    return "python_main"


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(") ", 1)[1][0] != "Z"
    except (OSError, IndexError):
        return False


def reap(pids: set[int], timeout: float = 30.0) -> None:
    """Wait until every pid has ended; kill what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, 9)
                    except OSError:
                        pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def run_session(work: str, data: str, keys: list[str], mode: str, args) -> tuple[dict, TreeWatch]:
    """Run one child session; returns its result and its process-tree watch."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    out = os.path.join(work, f"{mode}.json")
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
        + shlex.quote(f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData") + " pyspark-shell",
    })
    cmd = [
        sys.executable, os.path.join(HERE, "session_run.py"),
        "--root", ROOT, "--data", data, "--keys", ",".join(keys), "--mode", mode,
        "--seconds", str(args.seconds), "--seed", str(args.seed),
        "--trace", str(args.trace if mode == "time" else 0), "--out", out,
    ]
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=work, env=env,
                            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)
    watch = TreeWatch(proc.pid)
    watch.start()
    try:
        _, err = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        _, err = proc.communicate()
    finally:
        watch.stop()
        reap(watch.seen - {proc.pid})
    if proc.returncode != 0 or not os.path.exists(out):
        tail = err.decode(errors="replace")[-3000:]
        raise RuntimeError(f"{mode} session failed (exit {proc.returncode}):\n{tail}")
    with open(out) as fh:
        return json.load(fh), watch


def end_to_end(timed: dict, setups: list[float], peak_rss: int) -> dict:
    warm = timed["warm"]
    return {
        "setup_s": median(setups),
        "cold_pass_s": timed["cold"]["s"],
        "pass_s": median(p["s"] for p in warm),
        "queries_per_min": median(p["ok"] / p["s"] * 60.0 for p in warm),
        "peak_rss_mb": peak_rss / 2**20,
    }


def per_layer(timed: dict) -> dict:
    c = timed["counters"]
    traced = [p for p in timed["warm"] if p["traced"]]
    plain = [p for p in timed["warm"] if not p["traced"]]
    n = len(traced)
    out = {k: v for k, v in timed["layers"].items()}
    out.update(timed["codecs"])
    setup = timed["setup"]
    out["session.get_spark_s"] = setup["get_spark_s"]
    out["registry.import_s"] = setup["registry_import_s"]
    span_build = [s for s in timed["spans"] if s["name"] == "operators.build"]
    out["operators.build_s"] = sum(s["end"] - s["start"] for s in span_build) / n
    for name in ("operators.build_jobs", "spark.plan_s", "spark.jobs", "spark.stages",
                 "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
                 "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
                 "spark.input_mb", "dfutil.persisted_left", "python.bytes_sent_mb",
                 "python.bytes_returned_mb"):
        out[name] = c.get(name, 0.0) / n
    cores = cpu_count()
    out["spark.floor_s"] = (c.get("spark.wall_s", 0.0) - c.get("spark.executor_run_s", 0.0) / cores) / n
    out["manifest_table.bytes_written_mb"] = median(p["sink_bytes"] for p in traced) / 2**20
    out["trace.overhead_s"] = median(p["s"] for p in traced) - median(p["s"] for p in plain)
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "registry.py")):
        print(f"error: engine package {PKG!r} not found under {ROOT}", file=sys.stderr)
        return 2
    keys = WORKLOADS[args.workload]
    name = records.record_name(args.workload, args.seed, bool(args.trace))
    work = os.path.join(HERE, ".work", name)
    data = os.path.join(work, "data")
    try:
        rows = gen.write(data, args.seed, SF, N_DOCS, N_VECS)
        timed, watch = run_session(work, data, keys, "time", args)
        extra = [run_session(work, data, keys, "setup", args)[0]
                 for _ in range(SETUP_SAMPLES - 1)]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    setups = [r["setup"]["setup_s"] for r in [timed] + extra]
    failures = timed["failures"]
    attempted = timed["attempted"]
    if args.trace:
        values, units = per_layer(timed), PER_LAYER
    else:
        values, units = end_to_end(timed, setups, watch.peak), END_TO_END
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}

    record = {
        "workload": args.workload, "keys": keys, "seed": args.seed, "sf": SF,
        "rows": rows, "seconds": args.seconds, "trace": args.trace,
        "master": timed["master"], "default_parallelism": timed["default_parallelism"],
        "nproc": cpu_count(), "git_rev": records.git_rev(ROOT),
        "tree_sha256": records.tree_digest(ROOT, PKG),
        "setups_s": setups, "setup_split": timed["setup"],
        "cold_pass": timed["cold"], "warm_passes": timed["warm"],
        "rss_peak_by_kind_mb": watch.peak_by_kind(),
        "rss_timeline_mb": [round(max(watch.timeline[i:i + 10]) / 2**20)
                            for i in range(0, len(watch.timeline), 10)],
        "checked": timed["checked"], "failures": failures,
        "attempted": attempted, "failed_frac": len(failures) / attempted,
        "metrics": metrics,
    }
    if args.trace:
        record["layer_values"] = values
    path = records.write_record(record, name)
    if args.trace:
        records.write_record({"spans": timed["spans"]}, name + ".spans")
    for f in failures:
        print(f"FAILED {f['key']} (pass {f['pass']}): {f['error'].strip().splitlines()[-1]}",
              file=sys.stderr)
    for k, m in metrics.items():
        print(f"{k:34s} {m['value']:14.4f} {m['unit']}")
    print(f"record: {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
