"""Incremental manifest tier (VERDICT r14 item 3): per-commit metadata
is O(changed files), not O(total live files) — delta segments against
the DAG parent, full snapshots every SNAPSHOT_INTERVAL, vacuum
materializes retained deltas before expiring their bases, and the
append fast path never folds the parent's file list."""

import glob as _glob
import json as _json
import os as _os
import shutil as _shutil

import pytest as _pytest

from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import (
    manifest_table as mt,
)


def _mk(spark, tmp_path, n_commits=3, parts=2, rows=40):
    table = str(tmp_path / "t")
    df = spark.range(rows).selectExpr("id as k", "id * 2 as v")
    for _ in range(n_commits):
        mt.commit_append(df.repartition(parts), table, ["k"])
    return table, df


def test_second_commit_is_delta_first_is_full(spark, tmp_path):
    table, _ = _mk(spark, tmp_path, n_commits=3)
    forms = [
        mt._read_raw(table, v).get("format", "full") for v in (1, 2, 3)
    ]
    assert forms == ["full", "delta", "delta"]
    # logical reads are identical in shape to the full form
    for v in (1, 2, 3):
        m = mt.read_manifest(table, v)
        assert "add_files" not in m and "format" not in m
        assert len(m["files"]) == 2 * v


def test_snapshot_interval_rematerializes(spark, tmp_path):
    table, df = _mk(spark, tmp_path, n_commits=1, parts=1)
    for _ in range(mt.SNAPSHOT_INTERVAL + 2):
        mt.commit_append(df.repartition(1), table, ["k"])
    forms = [
        mt._read_raw(table, v).get("format", "full")
        for v in range(1, mt.current_version(table) + 1)
    ]
    assert forms[0] == "full"
    assert forms[mt.SNAPSHOT_INTERVAL] == "full", forms
    assert forms.count("full") == 2
    # depth never reaches the interval
    for v in range(1, mt.current_version(table) + 1):
        raw = mt._read_raw(table, v)
        if raw.get("format") == "delta":
            assert raw["delta_depth"] < mt.SNAPSHOT_INTERVAL


def test_append_metadata_bytes_flat_in_table_size(spark, tmp_path):
    """THE scale claim: trickle-append manifest bytes must not grow with
    the live file count (the old full-snapshot format grew linearly —
    O(total live files) per commit)."""
    table, df = _mk(spark, tmp_path, n_commits=1, parts=1)
    sizes = []
    for _ in range(10):
        v = mt.commit_append(df.repartition(1), table, ["k"])
        p = _os.path.join(table, "_log", f"v{v:05d}.json")
        raw = mt._read_raw(table, v)
        if raw.get("format") == "delta":
            sizes.append(_os.path.getsize(p))
    assert len(sizes) >= 8
    assert max(sizes) <= min(sizes) * 1.2, sizes  # flat, not growing


def test_vacuum_materializes_retained_delta_heads(spark, tmp_path):
    table, df = _mk(spark, tmp_path, n_commits=5, parts=1)
    cur = mt.current_version(table)
    assert mt._read_raw(table, cur).get("format") == "delta"
    before = mt.read_manifest(table, cur)
    mt.vacuum(table, retain_last=1)
    raw = mt._read_raw(table, cur)
    assert raw.get("format") != "delta"  # materialized in place
    after = mt.read_manifest(table, cur)
    assert after["files"] == before["files"]
    assert len(_glob.glob(_os.path.join(table, "_log", "v*.json"))) == 1
    # and the table still reads correctly
    assert mt.read_version(spark, table).count() == 5 * 40


def test_delta_survives_interleaved_row_level_ops(spark, tmp_path):
    """Delta storage must compose with the row-level plane: append →
    MoR delete → append → compact, every version reading right."""
    from pyspark.sql import functions as F

    table = str(tmp_path / "mix")
    df = spark.range(30).selectExpr("id as k", "id * 2 as v")
    v1 = mt.commit_append(df.repartition(2), table, ["k"])
    pos = mt.read_version_with_pos(spark, table).filter(F.col("k") < 5)
    v2 = mt.commit_delete(spark, table, pos.select("file_path", "row_index"))
    v3 = mt.commit_append(
        spark.range(100, 110).selectExpr("id as k", "id * 2 as v"),
        table,
        ["k"],
    )
    v4 = mt.commit_replace(
        mt.read_version(spark, table).repartition(1), table, ["k"]
    )
    assert mt.read_version(spark, table, v1).count() == 30
    assert mt.read_version(spark, table, v2).count() == 25
    assert mt.read_version(spark, table, v3).count() == 35
    assert mt.read_version(spark, table, v4).count() == 35
    got = {r.k for r in mt.read_version(spark, table, v4).collect()}
    assert got == set(range(5, 30)) | set(range(100, 110))


def test_fast_path_rejects_both_files_and_files_add(tmp_path):
    with _pytest.raises(ValueError):
        mt._publish(
            str(tmp_path / "x"), 2, "append", [], files_add=[]
        )


def test_delta_commit_cost_sublinear_in_file_count(tmp_path):
    """Measured done-criterion (VERDICT r14 item 3): at 10^4+ live
    files, a delta append's metadata write is >100x smaller than the
    full snapshot's. Pure-metadata (no Spark): _publish on synthetic
    entries."""
    table = str(tmp_path / "big")
    n = 20_000
    entries = [
        {
            "path": f"{table}/data/{i:08x}.parquet",
            "rows": 10,
            "stats": {"k": [i, i + 9]},
        }
        for i in range(n)
    ]
    mt._publish(table, 1, "bootstrap", entries, [["k", "bigint"]])
    full_bytes = _os.path.getsize(
        _os.path.join(table, "_log", "v00001.json")
    )
    mt._publish(
        table,
        2,
        "append",
        None,
        [["k", "bigint"]],
        files_add=[
            {"path": f"{table}/data/new.parquet", "rows": 10,
             "stats": {"k": [0, 9]}}
        ],
    )
    delta_bytes = _os.path.getsize(
        _os.path.join(table, "_log", "v00002.json")
    )
    assert delta_bytes * 100 < full_bytes, (delta_bytes, full_bytes)
    m = mt.read_manifest(table, 2)
    assert len(m["files"]) == n + 1
    _shutil.rmtree(table, ignore_errors=True)


def test_rewrite_shaped_commits_self_check_to_canonical_or_full(
    spark, tmp_path
):
    """commit_rewrite / binpack-shaped commits (retain subset + append
    new) either store a delta whose fold reproduces the exact list, or
    fall back to full — read_manifest must equal what the committer
    intended either way."""
    table = str(tmp_path / "rw")
    df = spark.range(40).selectExpr("id as k", "id * 2 as v")
    mt.commit_append(df.repartition(4), table, ["k"])
    v = mt.commit_optimize_binpack(spark, table, ["k"], target_rows=1000)
    m = mt.read_manifest(table, v)
    assert sum(f["rows"] for f in m["files"]) == 40
    assert mt.read_version(spark, table, v).count() == 40


def test_compact_manifests_resets_chain_and_preserves_history(
    spark, tmp_path
):
    """rewrite_manifests: metadata-only full-snapshot commit — chain
    depth resets, no data file is added/removed/moved, every prior
    version still reads, and a following append deltas against the
    fresh snapshot."""
    table, df = _mk(spark, tmp_path, n_commits=6, parts=1)
    before = mt.read_manifest(table, 6)
    v = mt.compact_manifests(table)
    raw = mt._read_raw(table, v)
    assert raw.get("format") != "delta" and v == 7
    after = mt.read_manifest(table, v)
    assert after["files"] == before["files"]  # zero data movement
    assert mt.read_version(spark, table, 3).count() == 3 * 40
    v8 = mt.commit_append(df.repartition(1), table, ["k"])
    raw8 = mt._read_raw(table, v8)
    assert raw8.get("format") == "delta" and raw8["delta_depth"] == 1
    assert raw8["base"] == v


def test_manifests_table_lists_stored_forms(spark, tmp_path):
    table, _ = _mk(spark, tmp_path, n_commits=3, parts=2)
    rows = {r.version: r for r in mt.manifests_table(spark, table).collect()}
    assert rows[1].form == "full" and rows[1].n_added == 2
    assert rows[2].form == "delta" and rows[2].delta_depth == 1
    assert rows[3].form == "delta" and rows[3].delta_depth == 2
    assert all(r.n_removed == 0 for r in rows.values())


def test_files_table_distributed_matches_driver_fold(spark, tmp_path):
    """Distributed listing == driver fold across a chain with adds,
    removes (binpack), a partitioned generation, and a full snapshot
    in the middle (compact_manifests)."""
    from pyspark.sql import functions as F

    table = str(tmp_path / "dist")
    df = spark.range(2000).selectExpr(
        "id as k",
        "timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*60)"
        " as ts",
    )
    mt.commit_append(df.repartition(2), table, ["k"])
    small = spark.range(50).selectExpr(
        "id + 10000 as k", "timestamp '2024-02-01 00:00:00' as ts"
    )
    for _ in range(3):
        mt.commit_append(small.repartition(1), table, ["k"])
    mt.commit_optimize_binpack(spark, table, ["k"], target_rows=500)
    mt.compact_manifests(table)
    mt.commit_append(small.repartition(1), table, ["k"])
    v = mt.current_version(table)
    dist = {
        (r.file_path, r.n_rows)
        for r in mt.files_table_distributed(spark, table, v).collect()
    }
    drv = {
        (r.file_path, r.n_rows)
        for r in mt.files_table(spark, table, v).collect()
    }
    assert dist == drv and dist
    # an OLDER version reads correctly too (event window respects ver)
    dist3 = {
        (r.file_path, r.n_rows)
        for r in mt.files_table_distributed(spark, table, 3).collect()
    }
    drv3 = {
        (r.file_path, r.n_rows)
        for r in mt.files_table(spark, table, 3).collect()
    }
    assert dist3 == drv3 and dist3


def test_files_table_distributed_partitioned_generation(spark, tmp_path):
    from pyspark.sql import functions as F

    table = str(tmp_path / "distpart")
    df = spark.range(200).selectExpr(
        "id as k",
        "timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,id % 5)"
        " as ts",
    )
    mt.commit_append_partitioned(df, table, "ts", "day", ["ts"])
    got = mt.files_table_distributed(spark, table).collect()
    assert {r.partition for r in got} == {
        "2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04", "2024-01-05"
    }


def test_metadata_commits_carry_unowned_snapshot_fields(tmp_path):
    """Every metadata-only commit changes only the fields it owns: the
    other snapshot fields (and the live file list) equal the parent's.
    CHECK constraints are a write gate, so they survive every commit
    kind, RESTORE included. Pure metadata (no Spark): the seed is a
    synthetic manifest with all six snapshot fields set."""
    table = str(tmp_path / "carry")
    mt._publish(
        table, 1, "seed",
        [
            {"path": f"{table}/data/{m}.parquet", "rows": 5,
             "stats": {"k": [1, 5]}, "partition": m, "ptransform": "month"}
            for m in ("2021-01", "2021-02")
        ],
        [["k", "bigint"], ["w", "int"], ["ts", "timestamp_ntz"]],
        deletes=[{"path": f"{table}/_deletes/p.parquet", "rows": 1}],
        partition_spec={"col": "ts", "transform": "month"},
        eq_deletes=[{"path": f"{table}/_deletes/e.parquet", "rows": 1, "col": "k"}],
        defaults={"w": {"v": 0, "t": "int", "seq": 1}},
        constraints={"k_pos": "k > 0"},
    )
    fields = (
        "files", "schema", "deletes", "partition_spec", "eq_deletes",
        "defaults", "constraints",
    )
    steps = [
        (lambda: mt.commit_add_column(table, "tag", "string", default="x"),
         {"schema", "defaults"}),
        (lambda: mt.commit_widen_column(table, "w", "bigint"), {"schema"}),
        (lambda: mt.commit_add_constraint(table, "w_pos", "w > 0"),
         {"constraints"}),
        (lambda: mt.commit_drop_constraint(table, "k_pos"), {"constraints"}),
        (lambda: mt.compact_manifests(table), set()),
        (lambda: mt.commit_drop_partition(table, ["2021-01"])[0], {"files"}),
        (lambda: mt.evolve_partition_spec(table, None), {"partition_spec"}),
    ]
    for commit, owned in steps:
        v = commit()
        parent, child = mt.read_manifest(table, v - 1), mt.read_manifest(table, v)
        for f in fields:
            if f not in owned:
                assert child.get(f) == parent.get(f), (child["op"], f)
        assert all(child.get(f) != parent.get(f) for f in owned), child["op"]
    head = mt.read_manifest(table, mt.current_version(table))
    # RESTORE owns the content fields (they come from the target) but
    # keeps the head's constraints
    v = mt.rollback(table, 1)
    restored, seed = mt.read_manifest(table, v), mt.read_manifest(table, 1)
    for f in fields:
        want = head if f == "constraints" else seed
        assert restored.get(f) == want.get(f), f
    assert restored["constraints"] == {"w_pos": "w > 0"}
    # a shallow clone starts from the source head, every field included
    clone = str(tmp_path / "clone")
    assert mt.clone_table(table, clone) == 1
    src, dst = mt.read_manifest(table, v), mt.read_manifest(clone, 1)
    for f in fields:
        assert dst.get(f) == src.get(f), f


def test_delta_record_is_sniffed_as_delta(tmp_path):
    """The stored-form keys sit in the record header for BOTH storage
    paths, so ``_sniff_delta``'s 512-byte probe finds them even when the
    snapshot-level fields are long — a miss makes
    files_table_distributed parse a delta segment as a full snapshot."""
    table = str(tmp_path / "sniff")
    files = [{"path": f"{table}/data/f.parquet", "rows": 1, "stats": {}}]
    schema = [[f"column_with_a_long_name_{i}", "bigint"] for i in range(40)]
    mt._publish(table, 1, "seed", files, schema)
    mt._publish(table, 2, "meta", mt.read_manifest(table, 1)["files"], schema)
    assert mt._read_raw(table, 2).get("format") == "delta"
    assert mt._sniff_delta(_os.path.join(table, "_log", "v00002.json"))
