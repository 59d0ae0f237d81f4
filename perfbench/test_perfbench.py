"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import records  # noqa: E402
import stats  # noqa: E402
from workloads import EXCLUDED, ROWS_ONLY, WORKLOADS  # noqa: E402


@pytest.fixture(scope="module")
def registry():
    from t_mobile_data_fnt_etl_pipeline_aws_spark import registry as reg

    return reg.all_queries(), reg.all_oracles()


def test_every_workload_key_is_registered(registry):
    queries, _ = registry
    for name, keys in WORKLOADS.items():
        assert keys, name
        assert len(set(keys)) == len(keys), name
        assert not set(keys) - set(queries), name


def test_every_key_is_oracled_or_rows_only(registry):
    _, oracles = registry
    for keys in WORKLOADS.values():
        for key in keys:
            assert (key in oracles) != (key in ROWS_ONLY), key
    assert not ROWS_ONLY & set(oracles)


def test_no_workload_runs_an_excluded_key():
    assert "q_dedup_pairs_full" in EXCLUDED
    for keys in WORKLOADS.values():
        assert not EXCLUDED & set(keys)


def test_benchmark_json_matches_the_run():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    for section, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert {m["name"]: m["unit"] for m in spec[section]} == table, section


def test_median_and_quartiles():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
    assert stats.median(vals) == 5.5
    assert stats.median([3.0]) == 3.0
    assert stats.quartiles(vals) == tuple(
        [statistics.quantiles(vals, n=4)[0], 5.5, statistics.quantiles(vals, n=4)[2]]
    )
    q1, _, q3 = stats.quartiles(vals)
    assert stats.spread(vals) == pytest.approx((q3 - q1) / 5.5)
    assert stats.spread([2.0, 2.0, 2.0, 2.0]) == 0.0
    with pytest.raises(ValueError):
        stats.median([])
    with pytest.raises(ValueError):
        stats.quartiles([1.0])


def test_parse_size():
    assert stats.parse_size("8.5 KiB") == 8.5 * 1024
    text = "total (min, med, max (stageId: taskId))\n1.5 MiB (2.1 KiB, 2.1 KiB, 2.1 KiB (stage 0.0: task 3))"
    assert stats.parse_size(text) == 1.5 * 2**20
    assert stats.parse_size("1,024.0 B") == 1024.0
    with pytest.raises(ValueError):
        stats.parse_size("5.1 s")


def test_existing_record_is_never_overwritten(tmp_path):
    path = records.write_record({"a": 1}, "r", str(tmp_path))
    with pytest.raises(FileExistsError):
        records.write_record({"a": 2}, "r", str(tmp_path))
    assert records.load_record(path) == {"a": 1}


def test_compare_refuses_mixed_sessions():
    metric = {"pass_s": {"value": 2.0, "unit": "s"}}
    a = {"master": "local[4]", "default_parallelism": 4, "metrics": metric}
    assert records.compare(a, dict(a))
    for field, other in (("master", "local[8]"), ("default_parallelism", 8)):
        with pytest.raises(records.IncomparableRecords):
            records.compare(a, {**a, field: other})
        with pytest.raises(records.IncomparableRecords):
            records.summary([a, a, {**a, field: other}])
    line, = records.summary([a, a, {**a, "metrics": {"pass_s": {"value": 4.0, "unit": "s"}}}])
    assert line.startswith("pass_s") and "n=3" in line


def test_generator_is_seeded_and_matches_engine_schemas():
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import SCHEMAS

    a = gen.tables(7, 0.001, 50, 20)
    b = gen.tables(7, 0.001, 50, 20)
    c = gen.tables(8, 0.001, 50, 20)
    assert list(a) == gen.TABLES == list(SCHEMAS)
    for name in gen.TABLES:
        assert a[name].equals(b[name]), name
        want = [col.split()[0] for col in SCHEMAS[name].split(",")]
        assert a[name].column_names == want, name
    assert not a["lineitem"].equals(c["lineitem"])
    texts = a["documents"].column("text").to_pylist()
    assert len(set(texts)) < len(texts)  # exact duplicates by construction


def test_run_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, a run exits non-zero
    and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "records", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "llm_dataprep",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
