#!/usr/bin/env python
"""Scale curves: seconds, jobs and shuffle-write bytes against data size
for ten expensive registry keys, on a generated family at 1x / 2x / 5x /
10x the sf0.1 row counts (10x = TPC-H sf1-equivalent for the tables
involved).

A log-log slope of ~1 scales linearly with data on fixed cores; a slope
well above 1 is a super-linear term the plan audit missed. The wall
slope moves with the host; the shuffle-write slope is Spark's own byte
count and does not.

Each scale point is one ``bench.run(KEYS, ensure_full_scale_dir(k))``:
bench.py's protocol and counters, and an ordinary bench record whose
``sf`` is the scale dir, so the counter gate compares a point only with
the same point of an earlier sweep.

Usage: python bench_scaling.py [--scales 1,2,5,10]
Writes one bench record per scale point, then BENCH_SCALING.md, and
prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402

BASE_SF_DIR = "/root/testdata/sf0.1"
WORK_DIR = "/tmp/spark_graft_scaling"
SEED = 42

#: one key per cost family: convergence loop, LSH banding, CC loop,
#: decimal agg, bucketed band join, IVF batch retrieval (probe batch
#: fixed, corpus grows), the zero-shuffle BPE tokenize (pure map stage,
#: the slope-1.0 control), Avro codec throughput (map-only, fixed file
#: count), OHLC bars over tie-dense events (fixed bar grain) and a
#: latest-per-key upsert (fixed user universe).
KEYS = [
    "q_cluster_kmeans_lloyd",
    "q_dedup_fuzzy_minhash",
    "q_dedup_clusters_cc",
    "q_agg_higher_moments",
    "q_join_theta_bucketed",
    "q_sim_search_batch_topk",
    "q_bpe_apply",
    "q_scan_avro_python",
    "q_timeseries_ohlc",
    "q_stream_foreachbatch_upsert",
]


def _fixture_profiles():
    """Empirical marginals measured from the sf0.1 fixtures."""
    import duckdb

    con = duckdb.connect()
    doc = f"read_parquet('{BASE_SF_DIR}/documents.parquet')"
    vocab = con.execute(
        f"""SELECT token, count(*) AS n FROM (
            SELECT unnest(string_split(text, ' ')) AS token FROM {doc})
            WHERE token <> '' GROUP BY token ORDER BY token"""
    ).fetchall()
    langs = con.execute(
        f"SELECT lang, count(*) FROM {doc} GROUP BY lang ORDER BY lang"
    ).fetchall()
    sources = con.execute(
        f"SELECT source, count(*) FROM {doc} GROUP BY source ORDER BY source"
    ).fetchall()
    con.close()
    return vocab, langs, sources


def _gen_documents(out: str, n: int, rng) -> None:
    """Fresh text from the fixture's OWN vocabulary at its empirical
    token frequencies, uniform 10-99 word lengths, and its lang/source
    marginals."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    vocab, langs, sources = _fixture_profiles()
    words = np.array([w for w, _ in vocab])
    p_words = np.array([c for _, c in vocab], dtype=float)
    p_words /= p_words.sum()
    lang_names = np.array([l for l, _ in langs])
    p_lang = np.array([c for _, c in langs], dtype=float)
    p_lang /= p_lang.sum()
    src_names = np.array([s for s, _ in sources])
    p_src = np.array([c for _, c in sources], dtype=float)
    p_src /= p_src.sum()

    lengths = rng.randint(10, 100, size=n)
    flat = rng.choice(len(words), size=int(lengths.sum()), p=p_words)
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(words[flat[pos : pos + ln]]))
        pos += ln
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                lang_names[rng.choice(len(lang_names), size=n, p=p_lang)],
                pa.string(),
            ),
            "source": pa.array(
                src_names[rng.choice(len(src_names), size=n, p=p_src)],
                pa.string(),
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, out)


def _gen_embeddings(out: str, n: int, rng) -> None:
    """uniform(-1/sqrt(3), 1/sqrt(3)) float32, dim 64, 10 labels: the
    fixture's observed distribution."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    bound = 1.0 / np.sqrt(3.0)
    mat = rng.uniform(-bound, bound, size=(n, 64)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(mat), pa.list_(pa.float32())),
            "label": pa.array(rng.randint(0, 10, size=n), pa.int32()),
        }
    )
    pq.write_table(tbl, out)


def _replicate_keyed(src: str, out: str, k: int, shifts: dict[str, int]) -> None:
    """k copies of a parquet table with per-copy key-column shifts.

    Copy i adds ``i * shifts[col]`` to each column in ``shifts``, so
    parent / child tables can share ONE shift per key family and keep
    their FKs intact across copies.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base = pq.read_table(src)
    copies = []
    for i in range(k):
        t = base
        if i:
            for col, shift in shifts.items():
                t = t.set_column(
                    t.schema.get_field_index(col),
                    col,
                    pc.add(t[col], i * shift),
                )
        copies.append(t)
    pq.write_table(pa.concat_tables(copies), out)


def ensure_full_scale_dir(k: int) -> str:
    """Generate /tmp/spark_graft_scaling/x{k}full — ALL TEN fixture
    tables at k× sf0.1 — if absent; return the dir.

    The one scale family: every scale point of the sweep is timed on
    it, and it is complete, so the DuckDB oracle harness can run
    against it too (tests/test_scale10.py) — the check that catches
    synthetic-key constructions that only collide past fixture scale
    (the q_etl_merge_tombstones +10**7 insert-key bug fixed in commit
    3ff3f0f collided from ~sf7; this dir IS sf1-equivalent and the
    negated-key fix is exercised at 10× the key range).

      * orders + lineitem: replicated k-fold with a SHARED orderkey
        shift (max orderkey over both tables + 1), so every copied
        lineitem still joins its copied order — growth that preserves
        FK integrity. o_custkey / l_suppkey / l_partkey stay in the
        fixed dimension universe (10× facts per dim row — how real
        growth looks to a star schema).
      * events: replicated k-fold with shifted event_id, SAME user_id
        and ts — per-user/per-day densities grow 10× and duplicated
        timestamps make the family deliberately TIE-DENSE, exactly the
        regime where rank/median interpolation and decimal rounding-tie
        bugs live.
      * documents / embeddings: fresh seeded generation at k× rows
        (replication would plant quadratic duplicate cliques).
      * region/nation/customer/supplier/part: copied fixed (dimensions).
    """
    import shutil

    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    d = os.path.join(WORK_DIR, f"x{k}full")
    marker = os.path.join(d, ".complete")
    if os.path.exists(marker):
        return d
    os.makedirs(d, exist_ok=True)
    rng = np.random.RandomState(SEED + 100 + k)
    _gen_documents(os.path.join(d, "documents.parquet"), 5000 * k, rng)
    _gen_embeddings(os.path.join(d, "embeddings.parquet"), 2000 * k, rng)

    def col_max(table: str, col: str) -> int:
        path = f"{BASE_SF_DIR}/{table}.parquet"
        return int(pc.max(pq.read_table(path, columns=[col])[col]).as_py())

    okey_shift = 1 + max(
        col_max("orders", "o_orderkey"), col_max("lineitem", "l_orderkey")
    )
    for table, shifts in (
        ("orders", {"o_orderkey": okey_shift}),
        ("lineitem", {"l_orderkey": okey_shift}),
        ("events", {"event_id": col_max("events", "event_id") + 1}),
    ):
        src = f"{BASE_SF_DIR}/{table}.parquet"
        _replicate_keyed(src, os.path.join(d, f"{table}.parquet"), k, shifts)
    for dim in ("region", "nation", "customer", "supplier", "part"):
        shutil.copyfile(
            f"{BASE_SF_DIR}/{dim}.parquet", os.path.join(d, f"{dim}.parquet")
        )
    with open(marker, "w") as fh:
        fh.write("ok")
    return d


def loglog_slope(points: dict[int, float]) -> float | None:
    """Least-squares slope of log(value) on log(scale); None when a
    value is 0, whose log does not exist."""
    scales = sorted(points)
    if len(scales) < 2 or any(points[k] <= 0 for k in scales):
        return None
    fit = statistics.linear_regression(
        [math.log(k) for k in scales], [math.log(points[k]) for k in scales]
    )
    return round(fit.slope, 3)


def reduce_points(points: dict[int, dict]) -> dict[str, dict]:
    """Per key of ``{scale: bench payload}``: seconds, jobs and
    shuffle-write bytes at each scale, the wall slope and the
    shuffle-write slope."""
    scales = sorted(points)
    table = {}
    for key in points[scales[0]]["queries"]:
        seconds = {k: points[k]["queries"][key] for k in scales}
        counters = {k: points[k]["counters"][key] for k in scales}
        shuffle = {k: c["shuffle_write_bytes"] for k, c in counters.items()}
        table[key] = {
            "seconds": seconds,
            "jobs": {k: c["jobs"] for k, c in counters.items()},
            "shuffle_write_bytes": shuffle,
            "wall_slope": loglog_slope(seconds),
            "shuffle_slope": loglog_slope(shuffle),
        }
    return table


def _write_md(points: dict[int, dict], table: dict[str, dict]) -> None:
    scales = sorted(points)
    first = points[scales[0]]
    lines = [
        "# BENCH_SCALING — seconds, jobs and shuffle bytes against scale",
        "",
        f"Measured by `python bench_scaling.py --scales "
        f"{','.join(map(str, scales))}` on `{first['master']}` "
        f"(default parallelism {first['default_parallelism']}).",
        "",
        "Method: each scale point is one `bench.run` over the keys below",
        "on `ensure_full_scale_dir(k)`, k x the sf0.1 row counts.",
        f"`bench.py`'s protocol holds: a warm-up, then {bench.RUNS} timed",
        "runs on a cleared cache; seconds and counters are run medians.",
        "Slopes fit log(value) on log(scale): 1.0 is linear in data,",
        "below 1 a fixed cost (job floor, round count) still dominates.",
        "The shuffle-write slope is n/a when a point writes 0 bytes.",
        "",
        "The keys are the script's fixed list, one per cost family. They",
        "are not yet a profile's top-10 by wall time: that per-query",
        "profile (ROADMAP direction 1) does not exist yet.",
        "",
        "Point records:",
        "",
    ]
    lines += [f"- x{k}: `{bench.record_name(points[k])}`" for k in scales]
    lines += [
        "",
        "| key | "
        + " | ".join(f"x{k} s" for k in scales)
        + " | jobs "
        + "/".join(f"x{k}" for k in scales)
        + " | wall slope | shuffle slope |",
        "|---|" + "---|" * (len(scales) + 3),
    ]
    for key, row in table.items():
        cells = [f"{row['seconds'][k]:.2f}" for k in scales]
        jobs = "/".join(str(row["jobs"][k]) for k in scales)
        slopes = [
            "n/a" if s is None else f"{s:.2f}"
            for s in (row["wall_slope"], row["shuffle_slope"])
        ]
        lines.append(f"| {key} | {' | '.join(cells + [jobs] + slopes)} |")
    lines += [
        "",
        "The metadata-plane curves (commit cost against file count, drop",
        "partition, binpack, MoR merge, GDPR purge) were last written at",
        "`d70c058`, on `local[32]`. Commit cost against file count is",
        "pinned by Tier-1 tests; binpack, MoR merge and GDPR purge are",
        "headline keys that `bench.py` times with counters.",
    ]
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo_dir, "BENCH_SCALING.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,2,5,10")
    scales = [int(s) for s in ap.parse_args().scales.split(",")]

    points = {}
    for k in scales:
        points[k] = bench.run(KEYS, ensure_full_scale_dir(k))
        print(f"# x{k}: {bench.record_name(points[k])}", file=sys.stderr)
    table = reduce_points(points)
    _write_md(points, table)
    print(json.dumps({
        "metric": "scaling_loglog_slope",
        "scales": scales,
        "records": {k: bench.record_name(p) for k, p in points.items()},
        "keys": table,
    }))


if __name__ == "__main__":
    main()
