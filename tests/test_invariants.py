"""Cross-scale invariance spot-checks (SURVEY.md §5.4).

The fixtures are deterministic per SF; these property-style tests assert
relationships that must hold at EVERY scale — they catch operators whose
logic accidentally depends on fixture size (absolute thresholds gone
degenerate, empty approximation buckets, dropped groups) before the
driver's single-SF gate would.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from t_mobile_data_fnt_etl_pipeline_aws_spark.registry import all_oracles, all_queries
from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

QUERIES = all_queries()


def test_dedup_exact_partitions_the_corpus(spark, sf_dir):
    """Kept representatives × copy counts must re-tile the corpus."""
    total_docs = load(spark, sf_dir, "documents").count()
    kept = QUERIES["q_dedup_exact"](spark, sf_dir)
    assert kept.agg(F.sum("n_copies")).first()[0] == total_docs


def test_dedup_pairs_full_invariants(spark, sf_dir):
    """q_dedup_pairs_full gained a full SQL oracle in round 16 (the
    unbounded token-join twin); these invariants predate it and stay as
    belt-and-braces: (a) restricted to the
    bounded slice it must equal the hash-oracled q_dedup_prefix_filter
    EXACTLY — prefix filtering is lossless and a pair's Jaccard
    depends only on the pair, so restriction commutes with the
    operator; (b) per-row witness consistency (ordering, threshold,
    intersection bound, recomputed quotient); (c) oracle-proved pairs
    are a subset of the full result (no false negatives)."""
    full = {
        (r.doc_a, r.doc_b, r.n_common, r.sz_a, r.sz_b, r.jaccard)
        for r in QUERIES["q_dedup_pairs_full"](spark, sf_dir).collect()
    }
    bounded = {
        (r.doc_a, r.doc_b, r.n_common, r.sz_a, r.sz_b, r.jaccard)
        for r in QUERIES["q_dedup_prefix_filter"](spark, sf_dir).collect()
    }
    full_restricted = {t for t in full if t[0] < 500 and t[1] < 500}
    assert full_restricted == bounded
    assert bounded <= full
    for doc_a, doc_b, n_common, sz_a, sz_b, jacc in full:
        assert doc_a < doc_b
        assert jacc >= 0.8
        assert 0 < n_common <= min(sz_a, sz_b)
        assert jacc == n_common / (sz_a + sz_b - n_common)


def test_dedup_pairs_full_oracle_refuses_large_corpus():
    """The q_dedup_pairs_full oracle is an O(n²) token self-join, so it
    runs on at most 500 documents (sf0.01) and fails fast, naming the
    key, on a larger corpus. DuckDB only."""
    import duckdb

    sql = all_oracles()["q_dedup_pairs_full"]
    con = duckdb.connect()
    docs = "SELECT range AS doc_id, 'w' || range AS text FROM range({})"
    con.execute(f"CREATE VIEW documents AS {docs.format(500)}")
    assert con.execute(sql).fetchall() == []
    con.execute(f"CREATE OR REPLACE VIEW documents AS {docs.format(501)}")
    with pytest.raises(duckdb.Error, match="q_dedup_pairs_full oracle is O"):
        con.execute(sql).fetchall()


def test_union_all_is_sum_of_slices(spark, sf_dir):
    a_plus_b = QUERIES["q_union_all"](spark, sf_dir).count()
    o = load(spark, sf_dir, "orders")
    n_a = o.filter(F.col("o_orderpriority") == "1-URGENT").count()
    n_b = o.filter(F.col("o_totalprice") > 150000).count()
    assert a_plus_b == n_a + n_b


def test_setop_inclusion_exclusion(spark, sf_dir):
    """|A ∪set B| = |A set| + |B set| - |A ∩set B| over the projections."""
    union_d = QUERIES["q_union_distinct"](spark, sf_dir).count()
    inter = QUERIES["q_intersect"](spark, sf_dir).count()
    a_only = QUERIES["q_except"](spark, sf_dir).count()
    # union = a_only + intersection + b_only ; recover b_only from union
    assert union_d >= inter + a_only
    assert union_d - a_only - inter >= 0


def test_semi_anti_partition_customers(spark, sf_dir):
    n_customers = load(spark, sf_dir, "customer").count()
    semi = QUERIES["q_join_semi"](spark, sf_dir).count()
    anti = QUERIES["q_join_anti"](spark, sf_dir).count()
    assert semi + anti == n_customers


def test_topk_per_group_bounded(spark, sf_dir):
    df = QUERIES["q_topk_per_group"](spark, sf_dir)
    worst = (
        df.groupBy("o_custkey").count().agg(F.max("count")).first()[0]
    )
    assert worst <= 3


def test_window_running_final_equals_group_total(spark, sf_dir):
    """The last running_spend per customer == that customer's total."""
    running = QUERIES["q_window_running"](spark, sf_dir)
    final = running.groupBy("o_custkey").agg(
        F.max("running_orders").alias("n"),
        F.max("running_spend").alias("total"),
    )
    direct = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_direct"))
    )
    joined = final.join(direct, on="o_custkey")
    assert joined.filter(F.col("n") != F.col("n_direct")).count() == 0


def test_approx_distinct_within_rsd(spark, sf_dir):
    """HLL++ at rsd=0.01 must track the exact count to a generous 5%."""
    approx = QUERIES["q_agg_approx_distinct"](spark, sf_dir)
    exact = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    joined = approx.join(exact, on="event_type").collect()
    assert joined
    for row in joined:
        assert abs(row.approx_users - row.exact_users) <= max(
            2, 0.05 * row.exact_users
        ), row


def test_minhash_recalls_exact_pairs(spark, sf_dir):
    """Every exact-Jaccard pair ≥ τ inside the bounded window must be
    recalled by the MinHash-LSH candidate pipeline (16×4 banding at
    J ≥ 0.6 has recall ≈ 1 - (1-0.6⁴)¹⁶ ≈ 0.90; the fixture's planted
    near-dups sit at J ≥ 0.95 where recall ≈ 1 - (1-0.81)¹⁶ ≈ 1-1e-12)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["q_dedup_ngram_jaccard"](spark, sf_dir).collect()
        if r.jaccard >= 0.6
    }
    fuzzy = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["q_dedup_fuzzy_minhash"](spark, sf_dir).collect()
    }
    assert exact, "bounded window lost its planted near-dups"
    missed = exact - fuzzy
    assert not missed, f"LSH missed planted near-dups: {missed}"


def test_label_centroids_cover_all_positions(spark, sf_dir):
    df = QUERIES["q_label_centroids"](spark, sf_dir)
    n_labels = load(spark, sf_dir, "embeddings").select("label").distinct().count()
    assert df.count() == n_labels * 64


def test_doc_stats_nchars_always_valid(spark, sf_dir):
    df = QUERIES["q_text_doc_stats"](spark, sf_dir)
    assert df.filter(~F.col("n_chars_valid")).count() == 0


def test_vectorized_ann_matches_hof_ranking(spark, sf_dir):
    """The BLAS-vectorized ANN path must produce the same neighbor set
    and order as the exact higher-order-function form, and its emitted
    6-dp-rounded score must equal the HOF score rounded the same way
    (the oracle-exactness contract from VERDICT r13 item 4)."""
    hof = QUERIES["q_sim_search_topk"](spark, sf_dir).collect()
    vec = QUERIES["q_sim_search_topk_vectorized"](spark, sf_dir).collect()
    assert [r.vec_id for r in hof] == [r.vec_id for r in vec]
    for a, b in zip(hof, vec):
        assert abs(a.cosine - b.cosine) < 5.1e-7, (a, b)
        assert round(a.cosine, 6) == b.cosine, (a, b)


def test_driver_window_rotation():
    """The first 50 registry keys must be exactly the round-15 driver-window
    list — the grading driver records only the first 50. Round-15 contract
    (VERDICT r14 item 1), auto-derived by tools/driver_staleness.py: all
    38 round-14 post-freeze keys first (never-checked > stale-green),
    then the 12 oldest r8-stale keys (38 + 12 = 50). Every key that has
    never PASSED a driver check (no row, or a hard-failed row) must be
    inside the window or declared in _POST_WINDOW_ADDITIONS."""
    import json
    from pathlib import Path

    from t_mobile_data_fnt_etl_pipeline_aws_spark.registry import _DRIVER_WINDOW

    keys = list(QUERIES)
    assert len(_DRIVER_WINDOW) == 50
    assert keys[: len(_DRIVER_WINDOW)] == _DRIVER_WINDOW

    # Only rows that actually passed count as verified: hash-green, or the
    # documented rows-only degradation with matching row counts.
    verified = set()
    root = Path(__file__).resolve().parent.parent
    # CORRECTNESS_r*.json, numerically sorted (r10+ must not fall out of
    # the glob — an r0* pattern silently drops double-digit rounds).
    correctness = sorted(
        root.glob("CORRECTNESS_r*.json"),
        key=lambda p: int("".join(c for c in p.stem if c.isdigit())),
    )
    assert any(
        int("".join(c for c in p.stem if c.isdigit())) >= 10 for p in correctness
    ), "double-digit CORRECTNESS rounds missing from the glob"
    for p in correctness:
        data = json.loads(p.read_text())
        verified |= {
            k
            for k, v in data.items()
            if v.get("hash_match")
            or (v.get("err") == "no_oracle" and v.get("rows_match") is not False)
        }
    # Keys added after the window froze are exempt — they are declared in
    # _POST_WINDOW_ADDITIONS and head the round-5 rotation.
    from t_mobile_data_fnt_etl_pipeline_aws_spark.registry import (
        _POST_WINDOW_ADDITIONS,
    )

    never_passed = [k for k in keys if k not in verified]
    missing = [
        k
        for k in never_passed
        if k not in _DRIVER_WINDOW and k not in _POST_WINDOW_ADDITIONS
    ]
    assert not missing, f"never-driver-verified keys outside the window: {missing}"


def test_shingles_short_docs_yield_empty(spark):
    """Docs with < 3 tokens must shingle to [] (clamped slice), not crash:
    slice() with a negative length throws at runtime and the
    size(shingles)>0 filter runs too late to guard it."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.operators.dedup import (
        _shingles,
        _tokens,
    )

    df = spark.createDataFrame(
        [("",), ("one",), ("one two",), ("one two three",)], ["text"]
    )
    rows = df.select(_shingles(_tokens()).alias("sh")).collect()
    assert [len(r.sh) for r in rows] == [0, 0, 0, 1]


def test_knn_banded_lsh_recall_pinned(spark, sf_dir):
    """Banded LSH (4×8 bits) must recall ≥ 4% of the corpus's nearest
    pairs (q_dedup_embedding's cos ≥ 0.3 slice). The fixture embeddings
    are random (max cosine ≈ 0.4), so theoretical candidate recall at
    p ≈ 0.62/bit is 1-(1-p^8)^4 ≈ 0.07-0.10 — measured 0.07 at sf0.001
    and sf0.01; the old single-band/8-bit scheme sat at ~1/4 of that.
    Deterministic: sha256-seeded planes, fixed fixtures."""
    near = {
        (r.vec_a, r.vec_b)
        for r in QUERIES["q_dedup_embedding"](spark, sf_dir).collect()
    }
    knn = {
        (r.vec_a, r.vec_b)
        for r in QUERIES["q_knn_join_bucketed"](spark, sf_dir).collect()
    }
    knn_sym = knn | {(b, a) for a, b in knn}
    assert near, "fixture lost its cos >= 0.3 pairs"
    recall = len(near & knn_sym) / len(near)
    assert recall >= 0.04, f"banded-LSH recall regressed: {recall:.3f}"


def test_containment_superset_of_jaccard(spark, sf_dir):
    """C(A→B) = |A∩B|/|A| ≥ J(A,B) always, so every Jaccard-0.6 pair
    must appear in the containment-0.6 output in BOTH directions."""
    jac = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["q_dedup_ngram_jaccard"](spark, sf_dir).collect()
        if r.jaccard >= 0.6
    }
    cont = {
        (r.doc_sub, r.doc_super)
        for r in QUERIES["q_dedup_containment"](spark, sf_dir).collect()
    }
    assert cont, "containment output empty — fixture lost its near-dups"
    for a, b in jac:
        assert (a, b) in cont and (b, a) in cont, (a, b)


def test_zorder_localizes_both_dims(spark, sf_dir):
    """The point of Z-ordering: per-file bounding boxes are tight in BOTH
    dimensions. A single-key sort by customer gives near-full-range day
    boxes; the Morton layout must cut the mean day-range below 60% of
    that single-sort baseline while keeping the mean customer-range
    under the global range (i.e. it still localizes d1 too)."""
    from pyspark.sql import Window as W

    files = QUERIES["q_sort_zorder_layout"](spark, sf_dir).collect()
    z_day_range = sum(r.max_day - r.min_day for r in files) / len(files)
    z_cust_range = sum(r.max_cust - r.min_cust for r in files) / len(files)

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 65536).alias("d1"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1992-01-01").cast("timestamp_ntz")
        ).alias("d2"),
    )
    single = (
        o.select(
            "d1", "d2", F.ntile(16).over(W.orderBy("d1", "o_orderkey")).alias("f")
        )
        .groupBy("f")
        .agg(
            (F.max("d2") - F.min("d2")).alias("day_range"),
            (F.max("d1") - F.min("d1")).alias("cust_range"),
        )
        .collect()
    )
    s_day_range = sum(r.day_range for r in single) / len(single)
    global_cust = o.agg(F.max("d1") - F.min("d1")).first()[0]
    assert z_day_range < 0.6 * s_day_range, (z_day_range, s_day_range)
    assert z_cust_range < global_cust, (z_cust_range, global_cust)


def test_alternating_cc_chain_rounds(spark):
    """Large-star/small-star must solve the adversarial chain in
    O(log n) rounds: a 33-node path graph (diameter 32) collapses to one
    component rooted at 0 well within 8 rounds — plain min-label
    propagation would need ~32. Also: two separate chains must not
    merge, and singletons label themselves."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.operators.clustering import (
        alternating_cc,
    )

    chain = [(i, i + 1) for i in range(32)]          # component {0..32}
    chain += [(100 + i, 101 + i) for i in range(15)]  # component {100..115}
    nodes = spark.createDataFrame(
        [(i,) for i in range(33)] + [(100 + i,) for i in range(16)] + [(500,)],
        ["doc_id"],
    )
    edges = spark.createDataFrame(chain, ["src", "dst"])
    labels, rounds = alternating_cc(nodes, edges)
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert rounds <= 8, f"chain took {rounds} rounds"
    assert all(got[i] == 0 for i in range(33)), got
    assert all(got[100 + i] == 100 for i in range(16)), got
    assert got[500] == 500


def test_registry_totals_match_survey():
    """SURVEY.md §2 declares 387 registered keys, 376 SQL-oracled / 11
    rows-only (round 16 added oracles to q_dedup_pairs_full — the
    unbounded prefix-filter twin's token join — and q_bpe_train_merges
    — the 10-round chained-CTE replay; both keys' outputs unchanged).
    (r15 additions, all twenty-two SQL-oracled: the fixed-rounds
    BLAS k-means twin, semantic embedding dedup with CC clustering, the
    dedup-ledger state-store reader, streaming CDC into the
    hidden-partitioned table, rewrite_manifests + $manifests, the
    offset-checkpointed Python streaming source, the distributed
    manifest listing, the MaxAbsScaler / L2-Normalizer members of
    the exact-statistics MLlib family, the portable kNN-join twin,
    Unicode NFC normalization, the ExistenceJoin mark, and the
    metadata-only DROP PARTITION, the MATCH_RECOGNIZE-lite sequence
    matcher, the 3-clause MERGE, the bucket/identity partition
    transforms, the Python streaming sink, the Mann-Whitney U test,
    label-propagation communities, the applyInArrow grouped map, and
    the 3-round BPE-training portable twin).
    Keep the arithmetic honest."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.registry import all_oracles

    oracles = all_oracles()
    assert len(QUERIES) == 387
    assert len(oracles) == 376
    rows_only = set(QUERIES) - set(oracles)
    assert rows_only == {
        "q_dedup_fuzzy_minhash",
        "q_dedup_simhash",
        "q_knn_join_bucketed",
        "q_knn_join_multiprobe",
        "q_agg_approx_distinct",
        "q_sample_stratified",
        "q_agg_sketch_reaggregate",
        "q_agg_approx_percentile",
        "q_cluster_kmeans_lloyd",
        "q_graph_pagerank_converged",
        # (q_dedup_pairs_full and q_bpe_train_merges moved to the
        # SQL-oracled set in round 16 — unbounded token-join oracle and
        # 10-round MATERIALIZED chained-CTE replay respectively)
        # r9: Datasketches HLL registers — DuckDB's approx sketch differs;
        # pinned within 5% of exact by test_hll_sketch_estimates_within_tolerance
        "q_agg_hll_sketch_merge",
    }


def test_chunking_covers_every_token(spark, sf_dir):
    """Chunk windows must jointly cover each doc: the last chunk's start
    + its length reaches the doc's token count, and chunk_ids are a
    contiguous 0..k run (stride grid)."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    chunks = QUERIES["q_chunk_overlap"](spark, sf_dir)
    per_doc = chunks.groupBy("doc_id").agg(
        F.max("chunk_id").alias("max_id"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_chunk_tokens").alias("tok_in_chunks"),
    )
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    j = per_doc.join(docs, on="doc_id")
    # contiguous chunk ids
    assert j.filter(F.col("n_chunks") != F.col("max_id") + 1).count() == 0
    # overlap means chunk tokens sum >= doc tokens (never loses a token)
    assert j.filter(F.col("tok_in_chunks") < F.col("n_tok")).count() == 0


def test_pack_sequences_conserves_tokens(spark, sf_dir):
    """Packing re-tiles each language's token mass exactly: bin ids are
    contiguous from 0 and per-lang token sums match the corpus."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    bins = QUERIES["q_pack_sequences"](spark, sf_dir)
    per_lang = bins.groupBy("lang").agg(
        F.sum("sum_tokens").alias("packed"),
        F.max("bin_id").alias("max_bin"),
        F.countDistinct("bin_id").alias("n_bins"),
    )
    docs = load(spark, sf_dir, "documents").select(
        "lang", F.size(F.split("text", " ")).alias("n_tok")
    )
    totals = docs.groupBy("lang").agg(F.sum("n_tok").alias("corpus"))
    j = per_lang.join(totals, on="lang")
    assert j.filter(F.col("packed") != F.col("corpus")).count() == 0
    assert j.filter(F.col("n_bins") != F.col("max_bin") + 1).count() == 0


def test_sketch_reaggregate_within_5pct_of_exact(spark, sf_dir):
    """The two-level HLL rollup must estimate distinct users per
    event_type within 5% of the exact count (HLL_4 lgK=12 is ~1.6%
    typical error; 5% bounds flakiness without hiding regressions)."""
    from pyspark.sql import functions as F
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    est = {
        r["event_type"]: r["est_users"]
        for r in QUERIES["q_agg_sketch_reaggregate"](spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) / n <= 0.05, (k, est[k], n)


def test_compact_smallfiles_reduces_file_count(spark, sf_dir):
    """The compaction rewrite must actually shrink the layout: the
    fragmented copy has 64 parquet files, the compacted one has
    ceil(bytes/128MB) — at test SF, exactly 1."""
    import os

    from t_mobile_data_fnt_etl_pipeline_aws_spark.operators.scans import _sink_dir

    QUERIES["q_etl_compact_smallfiles"](spark, sf_dir).collect()
    count = lambda d: sum(
        1 for f in os.scandir(d) if f.name.endswith(".parquet")
    )
    n_frag = count(_sink_dir("docs_fragmented"))
    n_comp = count(_sink_dir("docs_compacted"))
    assert n_frag == 64, n_frag
    assert n_comp == 1, n_comp


def test_funnel_stages_monotone(spark, sf_dir):
    """Funnel counts must be monotone non-increasing stage to stage at
    every SF: users >= signed_up >= viewed_after >= converted."""
    r = QUERIES["q_funnel_conversion"](spark, sf_dir).collect()[0]
    assert r.n_users >= r.n_signed_up >= r.n_viewed_after >= r.n_converted
    assert r.n_converted >= 0


def test_cohort_week0_covers_every_user(spark, sf_dir):
    """Every user is active in their own cohort week (week_n = 0 by
    construction), so sum of week-0 cells == total distinct users, and
    no cell can precede its cohort (week_n >= 0)."""
    rows = QUERIES["q_cohort_retention"](spark, sf_dir).collect()
    assert all(r.week_n >= 0 for r in rows)
    week0 = sum(r.n_active for r in rows if r.week_n == 0)
    n_users = (
        load(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert week0 == n_users


def test_table_diff_partitions_key_space(spark, sf_dir):
    """added + removed + changed + unchanged must retile |old ∪ new|."""
    diff = {
        r.change_type: r.n_rows
        for r in QUERIES["q_etl_table_diff"](spark, sf_dir).collect()
    }
    o = load(spark, sf_dir, "orders")
    n_old = o.filter(F.col("o_orderkey") % 7 != 0).count()
    n_new = o.filter(F.col("o_orderkey") % 5 != 0).count()
    n_union = o.filter(
        (F.col("o_orderkey") % 7 != 0) | (F.col("o_orderkey") % 5 != 0)
    ).count()
    assert sum(diff.values()) == n_union
    assert diff.get("removed", 0) == n_union - n_new
    assert diff.get("added", 0) == n_union - n_old


def test_proration_sums_exact_per_order(spark, sf_dir):
    """Largest-remainder allocation must reproduce each order's total to
    the exact cent — the invariant that justifies the integer-cents
    construction over any float-multiply split."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    shares = QUERIES["q_alloc_proration"](spark, sf_dir)
    totals = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_c"),
    )
    summed = shares.groupBy("l_orderkey").agg(F.sum("share_c").alias("alloc_c"))
    bad = (
        summed.join(totals, "l_orderkey")
        .filter(F.col("alloc_c") != F.col("total_c"))
        .count()
    )
    assert bad == 0


def test_interval_merge_islands_disjoint(spark, sf_dir):
    """Merged islands per user must be strictly separated (a touching or
    overlapping successor would have merged) and must account for every
    event exactly once."""
    from pyspark.sql import Window as W
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    islands = QUERIES["q_interval_merge"](spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("start_us")
    overlapping = (
        islands.withColumn("prev_end", F.lag("end_us").over(w))
        .filter(F.col("prev_end").isNotNull() & (F.col("start_us") <= F.col("prev_end")))
        .count()
    )
    assert overlapping == 0
    n_events = load(spark, sf_dir, "events").count()
    assert islands.agg(F.sum("n_events")).collect()[0][0] == n_events


def test_rfm_ntile_buckets_balanced(spark, sf_dir):
    """ntile(4) must split each market segment's customers into quartile
    buckets whose sizes differ by at most one, for every RFM dimension."""
    scored = QUERIES["q_rfm_segmentation"](spark, sf_dir)
    for col in ["r_score", "f_score", "m_score"]:
        sizes = (
            scored.groupBy("c_mktsegment", col)
            .count()
            .groupBy("c_mktsegment")
            .agg((F.max("count") - F.min("count")).alias("spread"))
        )
        assert sizes.filter(F.col("spread") > 1).count() == 0


def test_cms_never_undercounts_and_bounds_overcount(spark, sf_dir):
    """Count-min estimates are lower-bounded by the exact count by
    construction (hard invariant). The overcount side is PROBABILISTIC:
    the classic eps*N bound (eps = e/w) holds per query with probability
    1 - delta only, so asserting it exactly would pin this test to the
    frozen fixture and spuriously fail on regeneration (ADVICE r3).
    We assert the doubled bound 2*eps*N — still catches a broken sketch
    (which overcounts by O(N)) while a tail-probability excursion on a
    fresh fixture would need to blow the bound by 2x to trip it."""
    import math

    from t_mobile_data_fnt_etl_pipeline_aws_spark.operators.sketches import _CMS_W
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    rows = QUERIES["q_sketch_cms_freq"](spark, sf_dir).collect()
    assert rows
    n_total = load(spark, sf_dir, "events").count()
    eps_bound = math.e / _CMS_W * n_total
    for r in rows:
        assert r["n_est"] >= r["n_exact"], r
        assert r["n_est"] - r["n_exact"] <= 2 * eps_bound, (r, eps_bound)


def test_bloom_admits_every_member(spark, sf_dir):
    """A Bloom filter has no false negatives: per segment, candidates
    must cover all true members, and the candidate set can never exceed
    the full probe population."""
    for r in QUERIES["q_sketch_bloom_prune"](spark, sf_dir).collect():
        assert r["n_candidates"] >= r["n_members"], r
        assert r["n_candidates"] <= r["n_customers"], r
        assert r["n_false_pos"] == r["n_candidates"] - r["n_members"], r


def test_quantize_int8_error_within_half_step(spark, sf_dir):
    """floor(x+0.5) symmetric quantization can never miss by more than
    half a step (scale/2 = maxabs/254), and the max-magnitude element
    always saturates to |q| = 127."""
    rows = QUERIES["q_embedding_quantize_int8"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        half_step = r["maxabs"] / 254.0
        assert r["max_abs_err"] <= half_step * (1 + 1e-9), r
        assert 0.0 <= r["mean_abs_err"] <= r["max_abs_err"] + 1e-12, r
        assert r["n_saturated"] >= 1, r


def test_centroid_assignment_is_argmax(spark, sf_dir):
    """Nearest-centroid assignment: cosine in [-1,1], labels in domain,
    exactly one row per vector, and the funnel report's arithmetic
    (docs = dup + quality + kept) balances per (lang, source)."""
    rows = QUERIES["q_topic_assign_nearest_centroid"](spark, sf_dir).collect()
    assert len(rows) == len({r.vec_id for r in rows})
    # Valid label domain comes from the fixture itself, not a literal —
    # a regenerated fixture with different label cardinality must not
    # fail this test without a code defect (ADVICE r4).
    labels = {
        r.label
        for r in load(spark, sf_dir, "embeddings").select("label").distinct().collect()
    }
    for r in rows:
        assert -1.0 - 1e-9 <= r["cosine"] <= 1.0 + 1e-9, r
        assert r["assigned_label"] in labels, r
    report = QUERIES["q_corpus_train_report"](spark, sf_dir).collect()
    assert report
    for r in report:
        assert (
            r["n_docs"]
            == r["n_dropped_dup"] + r["n_dropped_quality"] + r["n_kept"]
        ), r


def test_unigram_surprisal_totals_balance(spark, sf_dir):
    """Per-doc mean surprisal weighted by doc length must re-sum to the
    corpus-total surprisal computed vocab-side — the join didn't drop or
    double-count any token occurrence."""
    import math

    docs = QUERIES["q_text_unigram_logprob"](spark, sf_dir).collect()
    assert docs
    doc_total = sum(r["avg_surprise"] * r["n_tokens"] for r in docs)
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    toks = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .count()
        .collect()
    )
    n_total = sum(r["count"] for r in toks)
    vocab_total = sum(
        r["count"] * round(-math.log(r["count"] / n_total), 6) for r in toks
    )
    assert abs(doc_total - vocab_total) / vocab_total < 1e-6


def test_approx_percentile_within_rank_tolerance(spark, sf_dir):
    """Each GK-sketch quartile must be an actual group value whose true
    rank fraction sits within 1% of the target quantile (accuracy=10000
    bounds rank error far tighter; 1% leaves room for fixture regen)."""
    rows = QUERIES["q_agg_approx_percentile"](spark, sf_dir).collect()
    assert rows
    orders = load(spark, sf_dir, "orders")
    for r in rows:
        grp = [
            x.o_totalprice
            for x in orders.filter(
                F.col("o_orderstatus") == r.o_orderstatus
            ).select("o_totalprice").collect()
        ]
        n = len(grp)
        assert n == r.n_orders
        for q, val in ((0.25, r.p25), (0.5, r.p50), (0.75, r.p75)):
            assert val in grp, (r.o_orderstatus, q, val)
            rank_lo = sum(1 for x in grp if x < val) / n
            rank_hi = sum(1 for x in grp if x <= val) / n
            assert rank_lo - 0.01 <= q <= rank_hi + 0.01, (
                r.o_orderstatus, q, val, rank_lo, rank_hi
            )


def test_point_in_time_join_never_leaks_future_state(spark, sf_dir):
    """PIT join must emit exactly one row per purchase, and per user the
    assigned version must be non-decreasing in purchase time (state can
    only move forward — a decrease means future leakage or stale reads).
    Purchases before the user's first tracked event carry NULLs."""
    events = load(spark, sf_dir, "events")
    n_purchases = events.filter(F.col("event_type") == "purchase").count()
    rows = QUERIES["q_join_point_in_time"](spark, sf_dir)
    assert rows.count() == n_purchases

    ts_by_event = events.select(
        F.col("event_id").alias("purchase_id"), "ts"
    )
    seq = (
        rows.join(ts_by_event, on="purchase_id")
        .orderBy("user_id", "ts", "purchase_id")
        .collect()
    )
    last_seen: dict = {}
    for r in seq:
        v = r["version_at_purchase"]
        if v is None:
            # NULL state is only legal before the user's first version
            assert last_seen.get(r["user_id"]) is None, r
            continue
        prev = last_seen.get(r["user_id"])
        assert prev is None or v >= prev, (r, prev)
        last_seen[r["user_id"]] = v


def test_incremental_dedup_accounting_balances(spark, sf_dir):
    """Per language: kept + dropped == batch size, drops never exceed
    candidates, and the language totals re-sum to the true new-batch
    row count (no doc lost or double-counted by the candidate join)."""
    rows = QUERIES["q_dedup_incremental"](spark, sf_dir).collect()
    assert rows
    n_new_true = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 5) == 0)
        .count()
    )
    assert sum(r["n_new"] for r in rows) == n_new_true
    for r in rows:
        assert r["n_kept"] + r["n_dropped_neardup"] == r["n_new"], r
        assert r["n_dropped_neardup"] <= r["n_candidates"] <= r["n_new"], r


def test_tfidf_keywords_exactly_three_per_doc(spark, sf_dir):
    """Every document yields exactly 3 keywords (fixture docs all carry
    >= 3 distinct tokens), scores are finite, and a token appearing in
    EVERY doc (idf = 0) can never outrank a discriminative one."""
    rows = QUERIES["q_text_tfidf_keywords"](spark, sf_dir).collect()
    n_docs = load(spark, sf_dir, "documents").count()
    assert len(rows) == 3 * n_docs
    per_doc: dict = {}
    for r in rows:
        assert r["tfidf"] >= 0.0, r
        per_doc.setdefault(r["doc_id"], []).append(r["tfidf"])
    assert all(len(v) == 3 for v in per_doc.values())


def test_error_bursts_are_maximal_and_exhaustive(spark, sf_dir):
    """Run-length islands must be maximal (one row per distinct run
    start) and exhaustive: burst errors + singleton errors re-tile the
    user's total error count."""
    rows = QUERIES["q_pattern_error_burst"](spark, sf_dir).collect()
    assert rows
    starts = {(r.user_id, r.first_event_id) for r in rows}
    assert len(starts) == len(rows)
    total_errors = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .count()
    )
    in_bursts = sum(r["n_errors"] for r in rows)
    assert in_bursts <= total_errors
    for r in rows:
        assert r["n_errors"] >= 2 and r["span_us"] >= 0, r
        assert r["last_event_id"] != r["first_event_id"], r


def test_moving_zscore_flags_only_genuine_outliers(spark, sf_dir):
    """Every flagged event must exceed 3 sigma of its own trailing
    window, windows are 10-20 rows by construction, and no event is
    flagged twice."""
    rows = QUERIES["q_window_moving_zscore"](spark, sf_dir).collect()
    assert rows
    assert len({r.event_id for r in rows}) == len(rows)
    for r in rows:
        assert abs(r["zscore"]) > 3.0, r
        assert 10 <= r["n_window"] <= 20, r


def test_weighted_sample_biases_toward_long_docs(spark, sf_dir):
    """A-ES weighting by token count must produce exactly 20 docs per
    language and a sample whose mean length exceeds the corpus mean
    (deterministic on the fixed fixture draw)."""
    rows = QUERIES["q_sample_weighted_aes"](spark, sf_dir).collect()
    per_lang: dict = {}
    for r in rows:
        per_lang.setdefault(r.lang, []).append(r)
    assert all(len(v) == 20 for v in per_lang.values()), {
        k: len(v) for k, v in per_lang.items()
    }
    docs = load(spark, sf_dir, "documents")
    corpus_mean = (
        docs.select(F.avg(F.size(F.split("text", " ")))).first()[0]
    )
    sample_mean = sum(r["n_words"] for r in rows) / len(rows)
    assert sample_mean > corpus_mean, (sample_mean, corpus_mean)

def test_skyline_is_dominance_free(spark, sf_dir):
    """The skyline must be an antichain: across its distinct prices in
    ascending order, sizes must STRICTLY increase (a later-price point
    with size <= an earlier one would be dominated), and no part outside
    the skyline may dominate a skyline member."""
    rows = QUERIES["q_skyline_pareto"](spark, sf_dir).collect()
    assert rows
    by_price = sorted({(r.p_retailprice, r.p_size) for r in rows})
    for (p1, s1), (p2, s2) in zip(by_price, by_price[1:]):
        if p1 < p2:
            assert s2 > s1, f"{(p2, s2)} dominated by {(p1, s1)}"
    parts = load(spark, sf_dir, "part").select("p_retailprice", "p_size").collect()
    best = {}
    for r in parts:
        best[r.p_retailprice] = max(best.get(r.p_retailprice, -1), r.p_size)
    for p, s in by_price:
        assert not any(
            (q < p and t >= s) or (q <= p and t > s) for q, t in best.items()
        ), f"skyline point {(p, s)} dominated by a non-skyline part"


def test_linreg_matches_numpy(spark, sf_dir):
    """Per-group OLS slope/intercept must agree with numpy's polyfit on
    the same (day, price) points to float tolerance."""
    import numpy as np

    out = {
        r.o_orderpriority: r
        for r in QUERIES["q_agg_linreg_trend"](spark, sf_dir).collect()
    }
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderdate", "o_totalprice"
    )
    pdf = o.toPandas()
    pdf["x"] = (
        pdf["o_orderdate"] - np.datetime64("1995-01-01")
    ).dt.days.astype(float)
    for prio, grp in pdf.groupby("o_orderpriority"):
        slope, intercept = np.polyfit(grp["x"], grp["o_totalprice"], 1)
        got = out[prio]
        # 6 dp finishing of the prescaled power sums puts ~1e-6 relative
        # noise into each sum; the normal-equation quotient amplifies a few×.
        assert abs(got.slope_per_day - slope) <= 1e-4 * max(1.0, abs(slope))
        assert abs(got.intercept - intercept) <= 1e-5 * abs(intercept)


def test_higher_moments_match_numpy(spark, sf_dir):
    """Population skewness / excess kurtosis must agree with the direct
    numpy central-moment computation to 1e-9 relative tolerance."""
    import numpy as np

    out = {
        r.l_returnflag: r
        for r in QUERIES["q_agg_higher_moments"](spark, sf_dir).collect()
    }
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    pdf = li.toPandas()
    for flag, grp in pdf.groupby("l_returnflag"):
        x = grp["l_extendedprice"].to_numpy()
        m = x.mean()
        m2, m3, m4 = (((x - m) ** k).mean() for k in (2, 3, 4))
        got = out[flag]
        assert abs(got.skewness - m3 / m2**1.5) < 1e-6
        assert abs(got.kurtosis_excess - (m4 / m2**2 - 3)) < 1e-6
        assert abs(got.stddev_pop - np.sqrt(m2)) < 1e-6 * np.sqrt(m2)


def test_entropy_bounds(spark, sf_dir):
    """0 <= H <= ln(n_types) for every user, and a user with one event
    type has exactly H = 0."""
    import math

    rows = QUERIES["q_agg_entropy"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r.entropy_nats <= math.log(r.n_types) + 1e-9
        if r.n_types == 1:
            assert r.entropy_nats == 0.0


def test_markov_rows_are_distributions(spark, sf_dir):
    """Each from_type's outgoing probabilities must sum to 1, and total
    transition count must equal n_events - n_users (every event except
    each user's last emits one transition)."""
    rows = QUERIES["q_markov_transitions"](spark, sf_dir).collect()
    sums = {}
    total = 0
    for r in rows:
        sums[r.from_type] = sums.get(r.from_type, 0.0) + r.prob
        total += r.n_transitions
    assert all(abs(s - 1.0) < 1e-9 for s in sums.values()), sums
    e = load(spark, sf_dir, "events")
    n_events = e.count()
    n_users = e.select("user_id").distinct().count()
    assert total == n_events - n_users


def test_chi2_cells_reconcile(spark, sf_dir):
    """Observed and expected cell counts must each total the event
    count, and chi2_total must equal the decimal sum of contributions."""
    rows = QUERIES["q_stats_chi2"](spark, sf_dir).collect()
    n_events = load(spark, sf_dir, "events").count()
    assert sum(r.n_obs for r in rows) == n_events
    assert abs(sum(r.n_exp for r in rows) - n_events) < 1e-6
    assert abs(rows[0].chi2_total - sum(r.contrib for r in rows)) < 1e-5
    assert all(r.contrib >= 0 for r in rows)


def test_benford_shares_reconcile(spark, sf_dir):
    """Observed first-digit shares must sum to 1 over digits 1-9, the
    Benford reference shares to ~1 (6 dp rounding), and deviation must
    equal their difference."""
    rows = QUERIES["q_dq_benford"](spark, sf_dir).collect()
    assert {r.first_digit for r in rows} <= set(range(1, 10))
    assert abs(sum(r.obs_share for r in rows) - 1.0) < 1e-9
    ref = sum(r.benford_share for r in rows if True)
    assert abs(ref - 1.0) < 1e-4  # partial digit coverage may drop tiny mass
    for r in rows:
        assert abs(r.deviation - (r.obs_share - r.benford_share)) < 1e-12


def test_market_basket_measures_consistent(spark, sf_dir):
    """support <= confidence <= 1, and lift must equal
    confidence / P(brand_b) exactly (same integer quotients)."""
    items = None
    rows = QUERIES["q_assoc_market_basket"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.support <= r.confidence <= 1.0
        assert r.lift > 0


def test_autocorr_within_pearson_bounds(spark, sf_dir):
    """|lag-1 autocorrelation| <= 1 for every series."""
    rows = QUERIES["q_window_autocorr"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r.autocorr_lag1) <= 1.0 + 1e-9
        assert r.n_pairs >= 2


def test_cusum_peak_day_in_series_range(spark, sf_dir):
    """The changepoint day must be one of the series' observed days and
    n_days must match the per-type distinct-day count."""
    rows = QUERIES["q_pattern_cusum"](spark, sf_dir).collect()
    daily = (
        load(spark, sf_dir, "events")
        .selectExpr(
            "event_type",
            "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)"
            " div 86400000000 as day",
        )
        .distinct()
        .collect()
    )
    days = {}
    for r in daily:
        days.setdefault(r.event_type, set()).add(r.day)
    for r in rows:
        assert r.changepoint_day in days[r.event_type]
        assert r.n_days == len(days[r.event_type])


def test_inverted_index_postings_match_df(spark, sf_dir):
    """Posting-list length must equal df, lists must be ascending, and
    first_doc must equal the list head."""
    rows = QUERIES["q_text_inverted_index"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        ids = [int(x) for x in r.postings.split(",")]
        assert len(ids) == r.df
        assert ids == sorted(ids)
        assert ids[0] == r.first_doc

def test_pagerank_matches_python_power_iteration(spark, sf_dir):
    """3-step PageRank must match a direct Python power iteration over
    the same (tiny) nation edge list to ~1e-6, every rank must be at
    least the teleport floor (1-d)/N, and total mass must stay <= 1
    (dangling mass is dropped, never created)."""
    ranks = {
        r.n_nationkey: r.pagerank
        for r in QUERIES["q_graph_pagerank"](spark, sf_dir).collect()
    }
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("c_nationkey", "s_nationkey")
        .count()
        .collect()
    )
    nodes = sorted(
        r.n_nationkey for r in load(spark, sf_dir, "nation").collect()
    )
    n = len(nodes)
    wtot = {}
    for e in edges:
        wtot[e.c_nationkey] = wtot.get(e.c_nationkey, 0) + e["count"]
    r = {v: 1.0 / n for v in nodes}
    for _ in range(3):
        contrib = {v: 0.0 for v in nodes}
        for e in edges:
            contrib[e.s_nationkey] += r[e.c_nationkey] * e["count"] / wtot[e.c_nationkey]
        r = {v: 0.15 / n + 0.85 * contrib[v] for v in nodes}
    for v in nodes:
        assert abs(ranks[v] - r[v]) < 1e-6, (v, ranks[v], r[v])
        assert ranks[v] >= 0.15 / n - 1e-12
    assert sum(ranks.values()) <= 1.0 + 1e-9


def test_calendar_spine_covers_every_order(spark, sf_dir):
    """The spine must have one row per day of 1995-2001 (2557 rows), the
    per-day counts must re-total the orders table, dow must stay in
    0..6, and exactly 84 month-end days must be flagged."""
    rows = QUERIES["q_gen_calendar_dim"](spark, sf_dir).collect()
    assert len(rows) == 2557
    assert sum(r.n_orders for r in rows) == load(spark, sf_dir, "orders").count()
    assert all(0 <= r.dow <= 6 for r in rows)
    assert sum(1 for r in rows if r.is_month_end) == 7 * 12
    assert len({(r.yr, r.mth, r.dom) for r in rows}) == 2557


def test_pythagorean_mean_inequality(spark, sf_dir):
    """AM >= GM >= HM must hold per group (all prices positive), with
    equality impossible on non-constant data."""
    rows = QUERIES["q_agg_pythagorean_means"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.arith_mean > r.geo_mean > r.harmonic_mean > 0, r

def test_large_orders_all_exceed_threshold(spark, sf_dir):
    """Every returned order must genuinely exceed 150 total quantity,
    at most 100 rows, sorted by o_totalprice descending."""
    rows = QUERIES["q_pipeline_large_orders"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 100
    assert all(r.total_qty > 150 for r in rows)
    prices = [r.o_totalprice for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_promo_share_bounded_by_total(spark, sf_dir):
    """Per month: 0 <= promo_rev <= total_rev, and the filtered year
    yields exactly the months present in the data (<= 12)."""
    rows = QUERIES["q_pipeline_promo_share"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 12
    for r in rows:
        assert 0.0 <= r.promo_rev <= r.total_rev + 1e-6, r


def test_mom_growth_null_only_at_year_start(spark, sf_dir):
    """Growth must be NULL exactly for each year's first present month,
    and monthly order counts must re-total the orders table."""
    rows = QUERIES["q_report_mom_growth"](spark, sf_dir).collect()
    first_month = {}
    for r in rows:
        first_month.setdefault(r.yr, r.mth)
        first_month[r.yr] = min(first_month[r.yr], r.mth)
    for r in rows:
        if r.mth == first_month[r.yr]:
            assert r.mom_growth is None, r
        else:
            assert r.mom_growth is not None, r
    assert sum(r.n_orders for r in rows) == load(spark, sf_dir, "orders").count()


def test_stream_left_outer_accounting(spark, sf_dir):
    """n_views = n_converted + n_abandoned per day, and total views must
    re-total the view events."""
    rows = QUERIES["q_stream_stream_left_outer"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_views == r.n_converted + r.n_abandoned
        assert r.n_converted >= 0 and r.n_abandoned >= 0
    n_views = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .count()
    )
    assert sum(r.n_views for r in rows) == n_views


def test_cogrouped_map_reconciles_both_tables(spark, sf_dir):
    """The cogrouped reconciliation must re-total BOTH inputs (orders
    and lineitem) across months, and the ratio must be NULL exactly
    when a month has no orders."""
    rows = QUERIES["q_udf_cogrouped_map"](spark, sf_dir).collect()
    assert sum(r.n_orders for r in rows) == load(spark, sf_dir, "orders").count()
    assert sum(r.n_lines for r in rows) == load(spark, sf_dir, "lineitem").count()
    for r in rows:
        assert (r.ship_to_book_ratio is None) == (r.n_orders == 0), r


def test_drawdown_bounds_and_peak_reality(spark, sf_dir):
    """0 <= max_drawdown < 1, trough <= peak, and the reported peak must
    equal the true running max of the series up to the trough day."""
    rows = QUERIES["q_window_drawdown"](spark, sf_dir).collect()
    assert rows
    daily = {}
    e = (
        load(spark, sf_dir, "events")
        .selectExpr(
            "event_type",
            "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)"
            " div 86400000000 as day",
            "value",
        )
        .groupBy("event_type", "day")
        .agg(F.sum("value").alias("rev"))
        .collect()
    )
    for r in e:
        daily.setdefault(r.event_type, {})[r.day] = r.rev
    for r in rows:
        assert 0.0 <= r.max_drawdown < 1.0, r
        assert r.trough_rev <= r.peak + 1e-9, r
        true_peak = max(
            v for d, v in daily[r.event_type].items() if d <= r.trough_day
        )
        assert abs(true_peak - r.peak) < 1e-3, (r, true_peak)


def test_gini_matches_direct_computation(spark, sf_dir):
    """Per-segment Gini must be in [0, 1) and match the direct sorted
    formula computed in Python over the same spends."""
    out = {
        r.c_mktsegment: r for r in QUERIES["q_agg_gini"](spark, sf_dir).collect()
    }
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum("o_totalprice").alias("s"))
        .collect()
    )
    by_seg = {}
    for r in spend:
        by_seg.setdefault(r.c_mktsegment, []).append(r.s)
    for seg, xs in by_seg.items():
        xs.sort()
        n = len(xs)
        num = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
        gini = num / (n * sum(xs))
        got = out[seg]
        assert got.n_customers == n
        assert 0.0 <= got.gini < 1.0
        # 6/8 dp finishes on the prescaled sums bound the quotient
        # quantization at ~1e-5 relative; the check pins the FORMULA.
        assert abs(got.gini - gini) < 1e-4, (seg, got.gini, gini)


def test_substring_spans_really_repeat(spark, sf_dir):
    """Every reported repeated span must be real and maximal: each 8-token
    shingle inside the span occurs in >= 2 distinct docs, and the
    positions immediately before/after the span do NOT (else the island
    would have extended)."""
    from collections import defaultdict

    from t_mobile_data_fnt_etl_pipeline_aws_spark.operators.dedup import (
        _SPAN_K,
    )

    spans = QUERIES["q_dedup_substring"](spark, sf_dir).collect()
    assert spans, "fixture plants cross-doc overlaps at every SF"
    docs = {
        r.doc_id: r.text.split(" ")
        for r in load(spark, sf_dir, "documents").collect()
    }
    sh_docs: dict[str, set] = defaultdict(set)
    for doc_id, toks in docs.items():
        for i in range(len(toks) - _SPAN_K + 1):
            sh_docs[" ".join(toks[i : i + _SPAN_K])].add(doc_id)

    def duplicated(doc_id: int, pos0: int) -> bool:
        toks = docs[doc_id]
        if pos0 < 0 or pos0 + _SPAN_K > len(toks):
            return False
        return len(sh_docs[" ".join(toks[pos0 : pos0 + _SPAN_K])]) >= 2

    for r in spans:
        start0 = r.span_start - 1  # 1-based -> 0-based
        assert r.span_tokens == r.n_shingles + _SPAN_K - 1
        for i in range(r.n_shingles):
            assert duplicated(r.doc_id, start0 + i), (r, i)
        assert not duplicated(r.doc_id, start0 - 1), ("not maximal left", r)
        assert not duplicated(r.doc_id, start0 + r.n_shingles), (
            "not maximal right", r,
        )


def test_kmeans_lloyd_fixed_point_and_sse_monotone(spark, sf_dir):
    """The converged Lloyd assignment must (a) be E-step-consistent —
    every vector sits with the nearest of the centroids its own
    assignment induces (checked in Python against plain-double means,
    1e-3 slack for the decimal-finished centroid quantization) — and
    (b) have total SSE <= the 2-step-unrolled q_cluster_kmeans (Lloyd
    monotonically decreases SSE, so more iterations never hurt)."""
    import numpy as np

    unrolled = QUERIES["q_cluster_kmeans"](spark, sf_dir)
    lloyd = QUERIES["q_cluster_kmeans_lloyd"](spark, sf_dir)
    sse_unrolled = unrolled.agg(F.sum("dist2")).first()[0]
    rows = lloyd.collect()
    sse_lloyd = sum(r.dist2 for r in rows)
    assert sse_lloyd <= sse_unrolled + 1e-6, (sse_lloyd, sse_unrolled)

    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    assign = {r.vec_id: r.cluster for r in rows}
    cents = {}
    for c in set(assign.values()):
        members = np.stack([emb[v] for v, cc in assign.items() if cc == c])
        cents[c] = members.mean(axis=0)
    for v, c in assign.items():
        d_own = float(((emb[v] - cents[c]) ** 2).sum())
        d_best = min(float(((emb[v] - ce) ** 2).sum()) for ce in cents.values())
        assert d_own <= d_best + 1e-3, (v, c, d_own, d_best)


def test_pagerank_converged_matches_numpy_fixed_point(spark, sf_dir):
    """The converged ranks must (a) conserve mass — sum in (0.5, 1 + 2e-5]:
    dangling-mass drop keeps it below 1 while the per-iteration 6-dp
    finish can round each of |V| components up by 5e-7 — (b) dominate the
    3-step unrolled twin in convergence (agree with an independent
    driver-side numpy power iteration, run to 1e-9, within 5e-6 — the
    per-round 6-dp finishing quantization), and (c) preserve the
    unrolled key's top-rank ordering."""
    import numpy as np

    conv = {
        r.n_nationkey: r.pagerank
        for r in QUERIES["q_graph_pagerank_converged"](spark, sf_dir).collect()
    }
    total = sum(conv.values())
    assert 0.5 < total <= 1.0 + 2e-5, total

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()
    )
    nations = sorted(conv)
    idx = {n: i for i, n in enumerate(nations)}
    n = len(nations)
    wtot: dict[int, float] = {}
    for e in edges:
        wtot[e.src] = wtot.get(e.src, 0.0) + e.w
    r = np.full(n, 1.0 / n)
    for _ in range(200):
        nxt = np.full(n, 0.15 / n)
        for e in edges:
            nxt[idx[e.dst]] += 0.85 * r[idx[e.src]] * e.w / wtot[e.src]
        if np.abs(nxt - r).max() < 1e-9:
            r = nxt
            break
        r = nxt
    for nat in nations:
        assert abs(conv[nat] - r[idx[nat]]) < 5e-6, (
            nat, conv[nat], r[idx[nat]],
        )


def test_knn_multiprobe_recall_pinned(spark, sf_dir):
    """Multi-probe LSH must recall ≥ 30% of the cos ≥ 0.3 slice and
    strictly dominate the single-probe join (same planes, same index
    layout — only probe fan-out and report-k differ). Measured: 0.36 at
    sf0.001, 0.40 at sf0.1 (theory: Hamming-1 probing lifts per-band
    collision 0.016 → 0.103 at p ≈ 0.60, 0.35 over 4 bands)."""
    near = {
        (r.vec_a, r.vec_b)
        for r in QUERIES["q_dedup_embedding"](spark, sf_dir).collect()
    }
    assert near, "fixture lost its cos >= 0.3 pairs"

    def recall(key: str) -> float:
        knn = {
            (r.vec_a, r.vec_b)
            for r in QUERIES[key](spark, sf_dir).collect()
        }
        sym = knn | {(b, a) for a, b in knn}
        return len(near & sym) / len(near)

    multi = recall("q_knn_join_multiprobe")
    single = recall("q_knn_join_bucketed")
    assert multi >= 0.3, f"multi-probe recall regressed: {multi:.3f}"
    assert multi > single, (multi, single)


def test_cdc_chunks_tile_docs_and_survive_edits(spark, sf_dir):
    """CDC chunks must (a) tile every document exactly — per-doc token
    sums equal the doc's token count and chunk_ids are a contiguous
    1..k run — and (b) be edit-robust, the property that justifies CDC
    over fixed-stride chunking: prepending one token to a document
    changes only the chunks overlapping the edit's 8-token horizon, so
    the edited doc RETAINS at least half of the original's chunk
    hashes, while the fixed-stride chunker (q_chunk_overlap) would
    shift every chunk."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.operators.dedup import (
        cdc_chunks,
    )

    chunks = QUERIES["q_chunk_cdc"](spark, sf_dir)
    per_doc = chunks.groupBy("doc_id").agg(
        F.sum("n_tokens").alias("tok_sum"),
        F.min("chunk_id").alias("lo"),
        F.max("chunk_id").alias("hi"),
        F.count(F.lit(1)).alias("n_chunks"),
    )
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    j = per_doc.join(docs, on="doc_id")
    assert j.filter(F.col("tok_sum") != F.col("n_tok")).count() == 0
    assert j.filter(
        (F.col("lo") != 1) | (F.col("hi") != F.col("n_chunks"))
    ).count() == 0

    # edit robustness on the longest fixture doc
    row = (
        load(spark, sf_dir, "documents")
        .orderBy(F.desc(F.length("text")), F.asc("doc_id"))
        .first()
    )
    pair = spark.createDataFrame(
        [(0, row.text), (1, "inserted " + row.text)], ["doc_id", "text"]
    )
    out = cdc_chunks(pair).collect()
    orig = {r.chunk_md5 for r in out if r.doc_id == 0}
    edited = {r.chunk_md5 for r in out if r.doc_id == 1}
    shared = len(orig & edited) / len(orig)
    assert shared >= 0.5, f"CDC lost edit robustness: {shared:.2f}"


def test_triangle_counts_match_brute_force(spark, sf_dir):
    """Per-nation triangle counts from the degree-oriented wedge join
    must equal a brute-force O(n³) enumeration of the same undirected
    graph (feasible: |V| = 25 nations), and the per-node sum must be
    3 × the number of distinct triangles."""
    from itertools import combinations

    got = {
        r.n_nationkey: r.n_triangles
        for r in QUERIES["q_graph_triangles"](spark, sf_dir).collect()
    }
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = {
        (min(r.src, r.dst), max(r.src, r.dst))
        for r in (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, F.col("o_custkey") == c.c_custkey)
            .join(s, F.col("l_suppkey") == s.s_suppkey)
            .select(
                F.col("c_nationkey").alias("src"),
                F.col("s_nationkey").alias("dst"),
            )
            .distinct()
            .collect()
        )
        if r.src != r.dst
    }
    nodes = sorted({x for e in edges for x in e})
    per_node = dict.fromkeys(got, 0)
    n_tri = 0
    for a, b, cc in combinations(nodes, 3):
        if (
            (a, b) in edges and (b, cc) in edges and (a, cc) in edges
        ):
            n_tri += 1
            for x in (a, b, cc):
                per_node[x] += 1
    assert n_tri > 0, "nation trade graph lost its triangles"
    assert got == per_node, (got, per_node)
    assert sum(got.values()) == 3 * n_tri


def test_bench_compact_summary_fits_tail_capture():
    """bench.py's LAST stdout line must parse inside the driver's ~2 KB
    tail capture even with a worst-case registry: long key names, many
    regressions. No Spark involved — pure helper contract."""
    import json
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent.parent))
    from bench import compact_summary

    timings = {f"q_very_long_operator_name_{i:03d}": i * 0.1234 for i in range(250)}
    payload = {
        "metric": "total_seconds_noop_materialize_sum_of_medians",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "master": "local[32]",
        "default_parallelism": 32,
        "regressions": {
            k: {
                "record": "BENCH_LOCAL_p32_20261017T120000Z.json",
                "jobs": [123, 456],
                "shuffle_write_bytes": [1_000_000_000, 9_000_000_000],
            }
            for k in list(timings)[:40]
        },
    }
    line = json.dumps(compact_summary(payload))
    assert len(line) < 1800, len(line)
    parsed = json.loads(line)
    assert parsed["n_queries"] == 250
    assert parsed["n_regressions"] == 40
    assert len(parsed["queries"]) == 10
    assert len(parsed["regressions"]) == 5


def test_bench_counter_gate(tmp_path):
    """bench.py's gate compares per-key Spark counters with the newest
    record of the same master, parallelism and sf: a job-count rise
    flags, a shuffle-write rise above 10% flags, a wall-time-only rise
    does not, and records never overwrite each other. No Spark involved."""
    import os
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent.parent))
    from bench import find_regressions, load_prior_counters, write_record

    def counters(jobs, shuffle):
        return {"jobs": jobs, "stages": jobs, "shuffle_write_bytes": shuffle,
                "spill_bytes": 0}

    def record(utc, master="local[4]", parallelism=4, sf=0.01, **keys):
        payload = {"master": master, "default_parallelism": parallelism,
                   "sf": sf, "utc": utc, "queries": {k: 1.0 for k in keys},
                   "counters": keys}
        return write_record(str(tmp_path), payload)

    base = {"q_a": counters(5, 1000), "q_b": counters(5, 1000),
            "q_c": counters(5, 1000), "q_d": counters(5, 1000)}
    record("20261017T100000Z", **{k: counters(1, 1) for k in base})
    newest = record("20261017T110000Z", **base)
    # same key, newer, but another master / parallelism / sf: ignored
    record("20261017T120000Z", master="local[8]", **{k: counters(99, 1) for k in base})
    record("20261017T120001Z", parallelism=8, **{k: counters(99, 1) for k in base})
    record("20261017T120002Z", sf=0.1, **{k: counters(99, 1) for k in base})

    prior = load_prior_counters(str(tmp_path), "local[4]", 4, 0.01)
    assert prior["q_a"] == (os.path.basename(newest), base["q_a"])
    now = {
        "q_a": counters(6, 1000),  # one more job
        "q_b": counters(5, 1101),  # shuffle +10.1%
        "q_c": counters(5, 1100),  # shuffle +10%: within tolerance
        "q_d": counters(5, 1000),  # unchanged counters, however slow
        "q_new": counters(50, 10**9),  # no prior: nothing to compare
    }
    flagged = find_regressions(now, prior)
    assert set(flagged) == {"q_a", "q_b"}, flagged
    assert flagged["q_a"]["jobs"] == [5, 6]
    assert flagged["q_b"]["shuffle_write_bytes"] == [1000, 1101]

    with pytest.raises(FileExistsError):
        record("20261017T110000Z", **base)


def test_bench_scaling_reducer():
    """bench_scaling.py reduces one bench payload per scale point to
    per-key seconds, jobs and two log-log slopes: a linear key reads
    wall slope 1, a key that writes no shuffle bytes reads shuffle slope
    None (its log does not exist), and jobs pass through per point. No
    Spark involved."""
    import math
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent.parent))
    from bench_scaling import reduce_points

    def payload(k):
        jobs = {"q_lin": 3 + k, "q_map": 2}
        shuffle = {"q_lin": 1000 * k**1.5, "q_map": 0}
        return {
            "queries": {"q_lin": 0.7 * k, "q_map": 0.5},
            "counters": {
                key: {"jobs": jobs[key], "stages": jobs[key],
                      "shuffle_write_bytes": shuffle[key], "spill_bytes": 0}
                for key in jobs
            },
        }

    table = reduce_points({k: payload(k) for k in (1, 2, 5, 10)})
    assert set(table) == {"q_lin", "q_map"}
    lin, flat = table["q_lin"], table["q_map"]
    assert math.isclose(lin["wall_slope"], 1.0, abs_tol=1e-3)
    assert math.isclose(lin["shuffle_slope"], 1.5, abs_tol=1e-3)
    assert math.isclose(flat["wall_slope"], 0.0, abs_tol=1e-3)
    assert flat["shuffle_slope"] is None
    assert lin["jobs"] == {1: 4, 2: 5, 5: 8, 10: 13}
    assert flat["jobs"] == {1: 2, 2: 2, 5: 2, 10: 2}
    assert lin["seconds"] == {k: 0.7 * k for k in (1, 2, 5, 10)}


def test_equidepth_bins_tile_and_are_monotone(spark, sf_dir):
    """Decile histogram sanity: bins 1..10 all present, populations sum
    to |orders| and differ by at most 1 (equal-depth), and value ranges
    are monotone non-overlapping (bin_hi_i <= bin_lo_{i+1})."""
    rows = sorted(
        QUERIES["q_profile_histogram_equidepth"](spark, sf_dir).collect(),
        key=lambda r: r.bin_id,
    )
    n_orders = load(spark, sf_dir, "orders").count()
    assert [r.bin_id for r in rows] == list(range(1, 11))
    assert sum(r.n_orders for r in rows) == n_orders
    sizes = [r.n_orders for r in rows]
    assert max(sizes) - min(sizes) <= 1, sizes
    for a, b in zip(rows, rows[1:]):
        assert a.bin_hi <= b.bin_lo, (a, b)


def test_trailing_distinct_bounds_daily_actives(spark, sf_dir):
    """Rolling-7d distinct users must cover every active day, never be
    below that day's own distinct actives, and never exceed the
    trailing-7-day sum of dailies (distinct <= sum of parts)."""
    daily = {
        r.day: r.n
        for r in load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    got = {
        r.day: r.users_7d
        for r in QUERIES["q_window_trailing_distinct"](spark, sf_dir).collect()
    }
    assert set(got) == set(daily)
    import datetime as dt

    for day, users in got.items():
        assert users >= daily[day], (day, users, daily[day])
        window_sum = sum(
            daily.get(day - dt.timedelta(days=i), 0) for i in range(7)
        )
        assert users <= window_sum, (day, users, window_sum)


def test_rolling_median_within_frame_bounds(spark, sf_dir):
    """Each rolling median must lie within [min, max] of its own
    trailing frame, recomputed independently in Python."""
    rows = QUERIES["q_window_rolling_median"](spark, sf_dir).collect()
    by_yr: dict[int, list] = {}
    for r in rows:
        by_yr.setdefault(r.yr, []).append(r)
    for yr, rs in by_yr.items():
        rs.sort(key=lambda r: r.day)
        for i, r in enumerate(rs):
            frame = [x.revenue for x in rs[max(0, i - 6) : i + 1]]
            assert min(frame) <= r.median_7d <= max(frame), (yr, r)
            import statistics

            assert abs(r.median_7d - statistics.median(frame)) < 1e-9, (yr, r)


def test_bpe_train_matches_reference(spark, sf_dir):
    """q_bpe_train_merges is rows-only, so pin it with the strongest
    possible check: the full 10-merge SEQUENCE (pair, order, AND
    weighted counts) must equal a pure-Python textbook Sennrich BPE
    run — leftmost-scan merges, count-desc-then-lexicographic argmax —
    over the same collected word counts. Any divergence in the fold
    rewrite, the tie-break, or the pair weighting breaks equality on
    the first differing round."""
    from collections import Counter

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select("text").collect()
    counts = Counter(
        w for r in docs for w in r.text.split(" ") if w
    )
    vocab = {w: tuple(w) + ("</w>",) for w in counts}

    def scan_merge(syms, left, right):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    expected = []
    for rank in range(1, 11):
        pair_counts = Counter()
        for w, syms in vocab.items():
            c = counts[w]
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] += c
        if not pair_counts:
            break
        # count desc, then lexicographically SMALLEST (left, right)
        top_count = max(pair_counts.values())
        best_pair = min(p for p, c in pair_counts.items() if c == top_count)
        expected.append((rank, best_pair[0], best_pair[1], top_count))
        vocab = {
            w: scan_merge(s, best_pair[0], best_pair[1])
            for w, s in vocab.items()
        }

    got = [
        (r.merge_rank, r.left, r.right, r.pair_count)
        for r in sorted(
            QUERIES["q_bpe_train_merges"](spark, sf_dir).collect(),
            key=lambda r: r.merge_rank,
        )
    ]
    assert got == expected, (got, expected)


def test_bfs_twins_agree(spark, sf_dir):
    """The imperative frontier loop (q_graph_bfs_hops) and the Spark 4
    native recursive CTE (q_graph_bfs_recursive_sql) must return the
    IDENTICAL hop map — same graph, same seed, two execution
    strategies. Any divergence means one of the iteration strategies
    lost or duplicated a frontier."""
    a = sorted(
        (r.n_nationkey, r.hops)
        for r in QUERIES["q_graph_bfs_hops"](spark, sf_dir).collect()
    )
    b = sorted(
        (r.n_nationkey, r.hops)
        for r in QUERIES["q_graph_bfs_recursive_sql"](spark, sf_dir).collect()
    )
    assert a == b, (a, b)
    # BFS well-formedness: exactly one seed at hop 0, and hop levels
    # are contiguous (a hop-h node implies some hop-(h-1) node exists).
    hops = [h for _, h in a]
    assert hops.count(0) == 1
    assert set(hops) == set(range(max(hops) + 1))


def test_batch_topk_recall_vs_brute(spark, sf_dir):
    """IVF routing is lossy by design (nprobe=2 of |cells|); pin what
    must hold regardless: (a) exactly 5 hits per probe, drawn from at
    most the 2 probed cells, none of them a held-out probe; (b)
    cosines are honest (match a numpy recompute) and descending per
    probe; (c) mean recall@5 vs the brute-force top-5 over the FULL
    corpus clears a 0.25 floor — the fixture embeddings are
    near-random (single-cell routing measured 0.176), so nprobe=2
    clears the floor with margin (measured ~0.3) while scanning only
    2/|cells| of the corpus."""
    import numpy as np

    rows = QUERIES["q_sim_search_batch_topk"](spark, sf_dir).collect()
    emb = {
        r.vec_id: (np.asarray(r.embedding, dtype=np.float64), r.label)
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    probe_ids = sorted(v for v in emb if v % 20 == 0 and v < 2000)
    corpus_ids = sorted(v for v in emb if not (v % 20 == 0 and v < 2000))
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r.probe_id, []).append(r)
    assert set(got) == set(probe_ids)
    mat = np.vstack([emb[v][0] for v in corpus_ids])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    recalls = []
    for pid, hits in got.items():
        assert len(hits) == 5
        assert len({h.label for h in hits}) <= 2, hits
        cosines = [h.cosine for h in hits]
        assert cosines == sorted(cosines, reverse=True)
        p = emb[pid][0] / np.linalg.norm(emb[pid][0])
        scores = mat @ p
        for h in hits:
            assert not (h.vec_id % 20 == 0 and h.vec_id < 2000)
            assert abs(h.cosine - scores[corpus_ids.index(h.vec_id)]) < 1e-9
        order = np.lexsort((corpus_ids, -scores))
        brute5 = {corpus_ids[i] for i in order[:5]}
        recalls.append(len(brute5 & {h.vec_id for h in hits}) / 5)
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.25, f"batch-IVF recall regressed: {mean_recall:.3f}"


def test_bpe_apply_matches_reference(spark, sf_dir):
    """q_bpe_apply's replace-chain encoding must tokenize EXACTLY like a
    pure-Python Sennrich apply of the same frozen merge list (leftmost
    scan per merge, in rank order) — per-doc token counts equal for
    every document, and the corpus total balances. Also pins the frozen
    list itself: at sf0.001 it must equal what q_bpe_train_merges
    produces (train/apply twins can never drift)."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.operators.llmprep import (
        BPE_FROZEN_MERGES,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    def scan_merge(syms, left, right):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    def apply_bpe(word: str) -> int:
        syms = list(word) + ["</w>"]
        for left, right in BPE_FROZEN_MERGES:
            syms = scan_merge(syms, left, right)
        return len(syms)

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    expected = {
        r.doc_id: sum(apply_bpe(w) for w in r.text.split(" ") if w)
        for r in docs
    }
    got = {
        r.doc_id: r.n_bpe_tokens
        for r in QUERIES["q_bpe_apply"](spark, sf_dir).collect()
    }
    assert got == expected
    if sf_dir.rstrip("/").endswith("sf0.001"):
        trained = [
            (r.left, r.right)
            for r in sorted(
                QUERIES["q_bpe_train_merges"](spark, sf_dir).collect(),
                key=lambda r: r.merge_rank,
            )
        ]
        assert trained == BPE_FROZEN_MERGES


def test_survey_registry_table_matches_registry():
    """SURVEY.md §2's generated inventory table must stay in sync with
    the live registry: same key set (so row count == len(all_queries()))
    and the oracle-kind column right for every key. Line numbers in the
    'defined at' column are allowed to drift between regenerations —
    regenerate with tools/gen_survey_registry.py when keys change."""
    import re
    from pathlib import Path

    from t_mobile_data_fnt_etl_pipeline_aws_spark.registry import all_oracles

    text = (Path(__file__).parent.parent / "SURVEY.md").read_text()
    block = text.split("<!-- registry-table:begin -->")[1].split(
        "<!-- registry-table:end -->"
    )[0]
    rows = re.findall(r"^\| `(q_\w+)` \| `[^`]+` \| (SQL|rows-only) \|", block, re.M)
    keys = {k for k, _ in rows}
    assert len(rows) == len(keys), "duplicate rows in SURVEY table"
    assert keys == set(QUERIES), (
        sorted(keys - set(QUERIES)), sorted(set(QUERIES) - keys)
    )
    oracles = all_oracles()
    for k, kind in rows:
        assert (kind == "SQL") == (k in oracles), (k, kind)


def test_headline_excludes_bench_false_keys():
    """headline_keys() is the registry minus the keys registered with
    ``bench=False``, in registry order."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.registry import (
        NOT_BENCHED,
        headline_keys,
    )

    keys = headline_keys()
    assert "q_cluster_kmeans_lloyd" in NOT_BENCHED and "q_agg_hash" in keys
    assert NOT_BENCHED <= set(QUERIES)
    assert not NOT_BENCHED & set(keys)
    assert keys == [k for k in QUERIES if k not in NOT_BENCHED]


def test_python_sink_abort_leaves_no_committed_generation(spark, sf_dir):
    """The two-phase-commit contract's NEGATIVE half: when any task of
    a pipe_rows write fails, commit() must never run — no _SUCCESS, and
    the matching reader refuses the directory outright (readers must
    not observe a torn write). A sink that passes only the happy-path
    oracle could still be a torn-write generator; this pins the
    failure path."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from t_mobile_data_fnt_etl_pipeline_aws_spark.operators.scans import (
        _sink_dir,
    )

    # Baseline committed write (also registers the pipe_rows format).
    assert QUERIES["q_sink_python_datasource"](spark, sf_dir).count() > 0
    out = _sink_dir("nation_pipe_sink")
    assert os.path.exists(os.path.join(out, "_SUCCESS"))

    @F.udf(LongType())
    def poison(k):
        if k == 13:
            raise ValueError("synthetic task failure")
        return k

    bad = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .select(
            poison(F.col("n_nationkey")).alias("n_nationkey"),
            "n_name",
            "n_regionkey",
        )
    )
    with _pytest.raises(Exception):
        bad.write.format("pipe_rows").option("path", out).mode(
            "overwrite"
        ).save()

    assert not os.path.exists(os.path.join(out, "_SUCCESS")), (
        "failed write must not commit a _SUCCESS manifest"
    )
    with _pytest.raises(Exception):
        spark.read.format("pipe_rows").option("path", out).load().collect()

    # Restore the committed generation for any later consumer.
    assert QUERIES["q_sink_python_datasource"](spark, sf_dir).count() > 0


def test_hll_sketch_estimates_within_tolerance(spark, sf_dir):
    """q_agg_hll_sketch_merge is rows-only (Datasketches registers have
    no DuckDB twin) — pin it numerically instead: every per-status
    estimate within 5% of its exact count (carried in the same row),
    and the merged estimate within 5% of the true global distinct
    (lgConfigK=12 → ~1.6% rse; 5% is 3 sigma)."""
    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    rows = QUERIES["q_agg_hll_sketch_merge"](spark, sf_dir).collect()
    per = [r for r in rows if r.o_orderstatus != "<merged>"]
    assert per, rows
    for r in per:
        assert abs(r.n_approx - r.n_exact) <= max(1, 0.05 * r.n_exact), r
    merged = [r for r in rows if r.o_orderstatus == "<merged>"]
    assert len(merged) == 1
    exact_global = (
        load(spark, sf_dir, "orders")
        .agg(F.countDistinct("o_custkey"))
        .collect()[0][0]
    )
    got = merged[0].n_approx
    assert abs(got - exact_global) <= max(1, 0.05 * exact_global), (
        got,
        exact_global,
    )


def test_mv_incremental_cutoff_invariant(spark, sf_dir):
    """The additive-MV refresh must be cutoff-invariant: whatever date
    splits base from delta, merging the two partial states yields the
    SAME result (and the oracle pins that result to a from-scratch
    rebuild). Re-runs q_etl_mv_incremental's merge shape at two extra
    cutoffs and compares totals column-for-column against each other."""
    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.functions.numeric import (
        exact,
        finish,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    o = load(spark, sf_dir, "orders")

    def refresh(cutoff: str):
        def partial(df, flag):
            return (
                df.groupBy("o_custkey")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(exact(F.col("o_totalprice"))).alias("s"),
                )
                .select("o_custkey", "n", "s")
            )

        base = partial(o.filter(F.col("o_orderdate") < cutoff), 0)
        delta = partial(o.filter(F.col("o_orderdate") >= cutoff), 1)
        merged = (
            base.unionByName(delta)
            .groupBy("o_custkey")
            .agg(
                F.sum("n").alias("n_total"),
                finish(F.sum("s"), 4).alias("sum_price"),
            )
        )
        return sorted(map(tuple, merged.collect()))

    a = refresh("1996-06-15 00:00:00")
    b = refresh("2000-01-01 00:00:00")
    assert a == b, "merge result depends on the cutoff"


def test_percentile_cont_median_consistency(spark, sf_dir):
    """percentile_cont(0.5) WITHIN GROUP must equal the MEDIAN builtin
    per group — two independent implementations of the same order
    statistic (q_agg_percentile_within_group vs q_agg_median_mode)."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    load(spark, sf_dir, "orders").createOrReplaceTempView("pm_orders")
    rows = spark.sql(
        """
        SELECT o_orderstatus,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY o_orderkey) AS p50,
               median(o_orderkey) AS med
        FROM pm_orders GROUP BY o_orderstatus
        """
    ).collect()
    assert rows
    for r in rows:
        assert r.p50 == r.med, (r.o_orderstatus, r.p50, r.med)


def test_null_skew_bypass_equals_plain_join(spark, sf_dir):
    """The null-bypass rewrite must be row-for-row equal to the plain
    LEFT JOIN it replaces (the oracle proves it at the aggregate level;
    this pins the detail rows on a bounded slice)."""
    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select(
            F.when(F.col("o_orderkey") % 5 == 0, F.lit(None).cast("long"))
            .otherwise(F.col("o_custkey"))
            .alias("k"),
            "o_orderkey",
        )
    )
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    plain = o.join(dim, "k", "left").select("o_orderkey", "c_mktsegment")
    bypass = (
        o.filter(F.col("k").isNotNull())
        .join(dim, "k", "left")
        .select("o_orderkey", "c_mktsegment")
        .unionByName(
            o.filter(F.col("k").isNull()).select(
                "o_orderkey", F.lit(None).cast("string").alias("c_mktsegment")
            )
        )
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, bypass.collect())
    )


def test_spatial_knn_cell_size_invariant(spark, sf_dir):
    """q_join_spatial_knn must return the SAME rows for any grid cell
    size — both phases are exact, so the cell only moves work between
    the grid phase and the fallback. A deliberately tiny cell forces
    (almost) every customer through the fallback branch, so this also
    proves the fallback path is exercised, not dead code. Every
    customer gets exactly k=3 neighbors in both runs."""
    from collections import Counter

    from t_mobile_data_fnt_etl_pipeline_aws_spark.operators.joins import (
        q_join_spatial_knn,
    )

    adaptive = {
        (r.c_custkey, r.rnk, r.s_suppkey, r.d2)
        for r in q_join_spatial_knn(spark, sf_dir).collect()
    }
    tiny_cell = {
        (r.c_custkey, r.rnk, r.s_suppkey, r.d2)
        for r in q_join_spatial_knn(spark, sf_dir, cell=1_000).collect()
    }
    assert adaptive == tiny_cell
    per_cust = Counter(k for k, _, _, _ in adaptive)
    assert set(per_cust.values()) == {3}


def test_manifest_table_snapshot_semantics(spark, sf_dir, tmp_path):
    """sources/manifest_table.py contract: (1) TIME TRAVEL — a version's
    row set is frozen forever regardless of later appends; (2) SNAPSHOT
    ISOLATION — staged-but-uncommitted data files are invisible to every
    manifest; (3) PRUNING is conservative — the pruned file set always
    reproduces the full filtered result."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        current_version,
        prune_files,
        read_manifest,
        read_version,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    table = str(tmp_path / "tt")
    o = load(spark, sf_dir, "orders")
    from pyspark.sql import functions as F

    split = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    v1 = commit_append(o.filter(F.col("o_orderdate") < split), table, ["o_orderdate"])
    n_v1 = read_version(spark, table, v1).count()
    v2 = commit_append(o.filter(F.col("o_orderdate") >= split), table, ["o_orderdate"])
    # (1) v1 unchanged after the v2 append
    assert read_version(spark, table, v1).count() == n_v1
    assert read_version(spark, table, v2).count() == o.count()
    assert current_version(table) == v2 == 2
    # (2) every manifest file exists; no staging dirs leak into manifests
    for v in (v1, v2):
        for f in read_manifest(table, v)["files"]:
            assert "_staging" not in f["path"]
    # (3) pruning conservative: pruned-read + filter == full filter
    files, total = prune_files(
        table, v2, "o_orderdate", "1998-01-01 00:00:00", "1998-06-30 23:59:59"
    )
    assert 0 < len(files) <= total
    pred = (F.col("o_orderdate") >= split) & (
        F.col("o_orderdate") < F.lit("1998-07-01 00:00:00").cast("timestamp_ntz")
    )
    assert (
        spark.read.parquet(*files).filter(pred).count()
        == o.filter(pred).count()
    )


def test_manifest_compaction_semantics(spark, sf_dir, tmp_path):
    """commit_replace contract: the compacted version holds the SAME
    rows in fewer files, every pre-compaction version stays readable
    (no file deletion), and a fresh append on top of the compacted set
    builds on the small live set, not the superseded files."""
    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        commit_replace,
        read_manifest,
        read_version,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    table = str(tmp_path / "compact")
    o = load(spark, sf_dir, "orders").limit(600)
    o.cache()
    thirds = [o.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    for part in thirds:
        commit_append(part.repartition(2), table, ["o_orderkey"])
    v_small = 3
    n_small_files = len(read_manifest(table, v_small)["files"])
    assert n_small_files == 6
    total = read_version(spark, table, v_small).count()
    v_c = commit_replace(
        read_version(spark, table, v_small).repartition(1),
        table,
        ["o_orderkey"],
    )
    assert len(read_manifest(table, v_c)["files"]) == 1
    assert read_version(spark, table, v_c).count() == total
    # pre-compaction versions still readable, bit-for-bit same row sets
    assert read_version(spark, table, v_small).count() == total
    assert len(read_manifest(table, v_small)["files"]) == n_small_files
    # appends after compaction build on the compacted live set
    extra = o.limit(10).withColumn("o_orderkey", F.col("o_orderkey") + 10**9)
    v_next = commit_append(extra.repartition(1), table, ["o_orderkey"])
    assert len(read_manifest(table, v_next)["files"]) == 2
    assert read_version(spark, table, v_next).count() == total + 10
    o.unpersist()


def test_manifest_diff_files_semantics(spark, sf_dir, tmp_path):
    """diff_files contract: append-only diffs return exactly the delta
    commit's files (change-data-feed), v_from=0 returns everything, and
    a diff across a REPLACE commit returns the rewritten files (the
    documented dedupe-by-identity caveat)."""
    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        commit_replace,
        diff_files,
        read_manifest,
        read_version,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    table = str(tmp_path / "cdf")
    o = load(spark, sf_dir, "orders").limit(300)
    halves = [o.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    v1 = commit_append(halves[0].repartition(1), table, ["o_orderkey"])
    v2 = commit_append(halves[1].repartition(1), table, ["o_orderkey"])
    delta = diff_files(table, v1, v2)
    assert delta and spark.read.parquet(*delta).count() == halves[1].count()
    assert sorted(diff_files(table, 0, v2)) == sorted(
        f["path"] for f in read_manifest(table, v2)["files"]
    )
    v3 = commit_replace(
        read_version(spark, table, v2).repartition(1), table, ["o_orderkey"]
    )
    across = diff_files(table, v2, v3)
    assert spark.read.parquet(*across).count() == o.count()


def test_manifest_vacuum_semantics(spark, sf_dir, tmp_path):
    """vacuum contract: files referenced by retained manifests survive,
    unreferenced ones are physically deleted, expired manifests are
    dropped, the current version reads identically, and reads past the
    retention horizon now fail (time travel ends at the horizon)."""
    import glob as _glob
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        commit_replace,
        read_version,
        vacuum,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    table = str(tmp_path / "vac")
    o = load(spark, sf_dir, "orders").limit(400)
    halves = [o.filter(F.col("o_orderkey") % 2 == i) for i in range(2)]
    for h in halves:
        commit_append(h.repartition(1), table, ["o_orderkey"])
    total = read_version(spark, table).count()
    v_c = commit_replace(
        read_version(spark, table).repartition(1), table, ["o_orderkey"]
    )
    n_deleted, n_kept = vacuum(table, retain_last=1)
    assert (n_deleted, n_kept) == (2, 1)
    assert read_version(spark, table, v_c).count() == total
    # expired manifests are gone; physical file count matches liveness
    assert len(_glob.glob(os.path.join(table, "_log", "v*.json"))) == 1
    assert len(_glob.glob(os.path.join(table, "data", "*.parquet"))) == 1
    with _pytest.raises(FileNotFoundError):
        read_version(spark, table, 1)
    with _pytest.raises(ValueError):
        vacuum(table, retain_last=0)


def test_manifest_numeric_stats_typed_pruning(spark, tmp_path):
    """ADVICE r11 (medium) regression: stats must compare TYPED, never
    lexicographically. A file with int range [9, 12] and predicate
    [10, 11] was wrongly SKIPPED under str() stats ("9" > "11");
    typed stats must keep it. Also pins: staging dirs are cleaned up
    after every commit (the _SUCCESS/.crc leak), and stats land as
    native JSON numbers in the manifest."""
    import glob as _glob
    import os

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        prune_files,
        read_manifest,
    )

    table = str(tmp_path / "typed")
    df1 = spark.createDataFrame([(9,), (12,)], "k int").repartition(1)
    df2 = spark.createDataFrame([(100,), (200,)], "k int").repartition(1)
    commit_append(df1, table, ["k"])
    v = commit_append(df2, table, ["k"])
    # stats are native numbers, not strings
    for f in read_manifest(table, v)["files"]:
        lo, hi = f["stats"]["k"]
        assert isinstance(lo, int) and isinstance(hi, int), (lo, hi)
    files, total = prune_files(table, v, "k", 10, 11)
    assert total == 2
    # [9,12] intersects [10,11] -> kept; [100,200] misses -> skipped
    assert len(files) == 1
    assert spark.read.parquet(*files).count() == 2
    # incomparable bound types never skip (conservative)
    files_str, _ = prune_files(table, v, "k", "10", "11")
    assert len(files_str) == 2
    # no staging directories leak into the table dir
    assert _glob.glob(os.path.join(table, "_staging_*")) == []


def test_manifest_commit_conflict_detection(spark, tmp_path, monkeypatch):
    """ADVICE r11 (low) + VERDICT r11 item 4: the commit point is
    create-exclusive — a second publish of the same version raises
    CommitConflictError instead of silently clobbering the first.
    expected_base pins surface lost races; an unpinned append RETRIES
    onto the advanced snapshot (appends commute) and loses no rows."""
    import pytest as _pytest

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import manifest_table as mt

    table = str(tmp_path / "conflict")
    df = spark.createDataFrame([(1,), (2,)], "k int").repartition(1)
    v1 = mt.commit_append(df, table, ["k"])
    # direct double-publish of the same version number must fail
    files = mt.read_manifest(table, v1)["files"]
    with _pytest.raises(mt.CommitConflictError):
        mt._publish(table, v1, "clobber", files)
    # ... and the original manifest is untouched
    assert mt.read_manifest(table, v1)["op"] != "clobber"
    # expected_base pin: stale base -> conflict, nothing published
    df2 = spark.createDataFrame([(3,), (4,)], "k int").repartition(1)
    with _pytest.raises(mt.CommitConflictError):
        mt.commit_append(df2, table, ["k"], expected_base=v1 + 7)
    assert mt.current_version(table) == v1
    # unpinned append retries a version race: make the writer plan
    # against a stale current_version once (the race window), then
    # observe it re-merge onto the advanced live set.
    real_current = mt.current_version
    calls = {"n": 0}

    def stale_once(tdir):
        calls["n"] += 1
        if calls["n"] == 1:
            # another writer sneaks in a commit AFTER this read
            mt.commit_append(
                spark.createDataFrame([(9,)], "k int").repartition(1),
                tdir,
                ["k"],
            )
            return v1  # stale answer the racing writer planned with
        return real_current(tdir)

    monkeypatch.setattr(mt, "current_version", stale_once)
    v_final = mt.commit_append(df2, table, ["k"])
    monkeypatch.undo()
    assert v_final == v1 + 2
    # no rows lost: both the sneaked commit and df2 are live
    assert mt.read_version(spark, table).count() == 2 + 1 + 2


def test_manifest_partitioned_append_race_merges_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    """ADVICE r13 (high): a concurrent commit landing during
    commit_append_partitioned's slow staging write must NOT be silently
    dropped. The publish loop re-reads the HEAD manifest on each
    attempt and merges the staged files onto the ADVANCED live set —
    the same win-the-next-version retry protocol as commit_append —
    so the racer's rows survive and the partitioned append lands one
    version later."""
    import datetime

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import manifest_table as mt

    table = str(tmp_path / "part_race")
    ddl = "k long, ts timestamp_ntz"
    mt.commit_append_partitioned(
        spark.createDataFrame([(1, datetime.datetime(2021, 1, 15))], ddl),
        table,
        "ts",
        "month",
        ["ts"],
    )
    real_publish = mt._publish
    state = {"raced": False, "sneak_v": None}

    def racy_publish(table_dir, version, op, files, *a, **kw):
        # first publish attempt of the partitioned append: another
        # writer lands a commit first (simulates a race during the
        # slow staging write), so this attempt must conflict and retry
        if not state["raced"] and op == "append":
            state["raced"] = True
            state["sneak_v"] = mt.commit_append(
                spark.createDataFrame(
                    [(99, datetime.datetime(2022, 5, 1))], ddl
                ).repartition(1),
                table_dir,
                ["ts"],
                op="sneak",
            )
        return real_publish(table_dir, version, op, files, *a, **kw)

    monkeypatch.setattr(mt, "_publish", racy_publish)
    v = mt.commit_append_partitioned(
        spark.createDataFrame([(2, datetime.datetime(2021, 2, 10))], ddl),
        table,
        "ts",
        "month",
        ["ts"],
    )
    monkeypatch.undo()
    assert v == state["sneak_v"] + 1
    got = sorted(r.k for r in mt.read_version(spark, table, v).collect())
    assert got == [1, 2, 99]  # the racer's row was merged, not dropped


def test_manifest_schema_evolution(spark, tmp_path):
    """VERDICT r11 item 4: additive schema evolution. A column added in
    a later commit null-fills for files written before it existed
    (reader-schema resolution pinned on the scan); as-of reads keep the
    as-of schema; type changes are rejected at commit time."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        read_version,
        table_schema,
    )

    table = str(tmp_path / "evolve")
    v1 = commit_append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")
        .repartition(1),
        table,
        ["k"],
    )
    v2 = commit_append(
        spark.createDataFrame(
            [(3, "c", 30.0)], "k int, s string, score double"
        ).repartition(1),
        table,
        ["k"],
    )
    assert [c for c, _ in table_schema(table, v2)] == ["k", "s", "score"]
    latest = read_version(spark, table, v2)
    assert latest.schema["score"].dataType.simpleString() == "double"
    rows = {r.k: r.score for r in latest.collect()}
    assert rows == {1: None, 2: None, 3: 30.0}
    # as-of read keeps the as-of schema (no phantom columns)
    assert read_version(spark, table, v1).columns == ["k", "s"]
    # type change rejected (add-only contract)
    with _pytest.raises(ValueError, match="type change"):
        commit_append(
            spark.createDataFrame([("x", "y")], "k string, s string"),
            table,
            ["s"],
        )
    # evolved table still filters/aggregates through the null-fill
    assert (
        read_version(spark, table).filter(F.col("score").isNull()).count()
        == 2
    )


def test_manifest_bloom_pruning_semantics(spark, tmp_path):
    """Bloom file skipping contract: NO FALSE NEGATIVES — every key
    present in a file keeps that file; an absent key prunes to (almost
    always) zero of the disjoint slices; files committed WITHOUT a
    bloom are always kept (the filter is an optimization, never a
    correctness dependency)."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        prune_files_bloom,
        read_manifest,
    )

    table = str(tmp_path / "bloom")
    slices = {0: list(range(0, 400)), 1: list(range(400, 800))}
    for i, keys in slices.items():
        commit_append(
            spark.createDataFrame([(k,) for k in keys], "k long").repartition(1),
            table,
            ["k"],
            bloom_cols=["k"],
        )
    # a bloom-less commit: its file must survive every lookup
    v = commit_append(
        spark.createDataFrame([(10_000,)], "k long").repartition(1),
        table,
        ["k"],
    )
    m = read_manifest(table, v)
    assert sum(1 for f in m["files"] if "bloom" not in f) == 1
    # no false negatives, for every key in both bloom'd slices
    path_of = {}
    for f in m["files"]:
        if "bloom" in f:
            rows = spark.read.parquet(f["path"]).collect()
            path_of[min(r.k for r in rows) // 400] = f["path"]
    for i, keys in slices.items():
        for k in keys:
            files, total = prune_files_bloom(table, v, "k", k)
            assert total == 3
            assert path_of[i] in files, f"FALSE NEGATIVE for k={k}"
            assert any("bloom" not in f for f in m["files"] if f["path"] in files)
    # absent key: both bloom'd files should prune (fpp ~1e-4 for a
    # single probe pair); the bloom-less file always survives
    files, _ = prune_files_bloom(table, v, "k", 999_983)
    assert len(files) <= 2


def test_manifest_metadata_stats(spark, tmp_path):
    """table_stats contract: exact row count from footer counts, exact
    typed min/max fold, files_with_stats == n_files when every commit
    recorded stats for the column — all without reading data files
    (the manifest is the only input)."""
    import datetime

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        table_stats,
    )

    table = str(tmp_path / "meta")
    rows1 = [(1, datetime.datetime(2020, 3, 1, 10, 30)),
             (2, datetime.datetime(2020, 7, 1, 0, 0))]
    rows2 = [(3, datetime.datetime(2019, 12, 31, 23, 59, 59))]
    schema = "k long, ts timestamp_ntz"
    v1 = commit_append(spark.createDataFrame(rows1, schema), table, ["k", "ts"])
    v2 = commit_append(spark.createDataFrame(rows2, schema), table, ["k", "ts"])
    st = table_stats(table, v2, col="ts")
    assert st["n_rows"] == 3
    assert st["files_with_stats"] == st["n_files"]
    assert st["min"] == "2019-12-31 23:59:59"
    assert st["max"] == "2020-07-01 00:00:00"
    # as-of stats: version 1 sees only its own commit
    st1 = table_stats(table, v1, col="k")
    assert (st1["n_rows"], st1["min"], st1["max"]) == (2, 1, 2)


def test_manifest_commit_rewrite_semantics(spark, tmp_path):
    """commit_rewrite (copy-on-write MERGE) contract: untouched files
    carry over by reference (identical path entries), replaced files
    leave the live set but stay readable at the old version (time
    travel across a merge), and a rewrite naming a non-live path is
    rejected."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        commit_rewrite,
        read_manifest,
        read_version,
    )

    table = str(tmp_path / "cow")
    df_a = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    df_b = spark.createDataFrame([(3, 30), (4, 40)], "k long, v long")
    commit_append(df_a.repartition(1), table, ["k"])
    v2 = commit_append(df_b.repartition(1), table, ["k"])
    files_v2 = read_manifest(table, v2)["files"]
    # rewrite the file holding k=3,4: bump v by 1
    target = next(
        f["path"]
        for f in files_v2
        if f["stats"]["k"][0] == 3
    )
    new_rows = spark.read.parquet(target).withColumn(
        "v", F.col("v") + F.lit(1)
    )
    v3 = commit_rewrite(new_rows, table, ["k"], [target])
    got = {r.k: r.v for r in read_version(spark, table, v3).collect()}
    assert got == {1: 10, 2: 20, 3: 31, 4: 41}
    # untouched file carried by reference
    kept = {f["path"] for f in read_manifest(table, v3)["files"]}
    untouched = {f["path"] for f in files_v2} - {target}
    assert untouched < kept and target not in kept
    # old version still reads the pre-merge values
    old = {r.k: r.v for r in read_version(spark, table, v2).collect()}
    assert old == {1: 10, 2: 20, 3: 30, 4: 40}
    with _pytest.raises(ValueError, match="not in live set"):
        commit_rewrite(new_rows, table, ["k"], ["/nope.parquet"])


def test_manifest_multicol_prune_and_sameday_boundary(spark, tmp_path):
    """prune_files_multi is CONJUNCTIVE (one provably-missing dimension
    skips the file) and timestamp stats use a SPACE-separated ISO form:
    with a 'T' separator a same-day upper bound like
    '1998-06-15 23:59:59' would wrongly skip a file whose min is
    '1998-06-15T10:00:00' ('T' > ' ' at the separator byte)."""
    import datetime

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        prune_files,
        prune_files_multi,
        read_manifest,
    )

    table = str(tmp_path / "multi")
    rows = [
        (5, datetime.datetime(1998, 6, 15, 10, 0)),
        (7, datetime.datetime(1998, 6, 15, 12, 0)),
    ]
    v = commit_append(
        spark.createDataFrame(rows, "k long, ts timestamp_ntz").repartition(1),
        table,
        ["k", "ts"],
    )
    stats = read_manifest(table, v)["files"][0]["stats"]
    assert "T" not in stats["ts"][0]
    # same-day boundary: bound hi inside the same calendar day -> KEEP
    files, total = prune_files(
        table, v, "ts", "1998-06-15 00:00:00", "1998-06-15 23:59:59"
    )
    assert len(files) == total == 1
    # conjunctive: k range matches but ts range misses -> SKIP
    files, _ = prune_files_multi(
        table,
        v,
        {"k": (0, 100), "ts": ("1999-01-01 00:00:00", "1999-12-31 00:00:00")},
    )
    assert files == []
    # both dims intersect -> KEEP
    files, _ = prune_files_multi(
        table,
        v,
        {"k": (6, 100), "ts": ("1998-01-01 00:00:00", "1998-12-31 00:00:00")},
    )
    assert len(files) == 1


def test_manifest_date_vs_timestamp_bound_shapes(spark, tmp_path):
    """DATE stats are day-only ISO strings; callers may pass
    timestamp-style bounds (and vice versa). Lexicographically
    '2020-01-05' < '2020-01-05 00:00:00', so without day-interval
    padding a file whose max DATE equals the predicate's lower bound is
    wrongly skipped — the ADVICE r12 silent-row-loss class. Mixed
    temporal/free-text operands must be treated as incomparable
    (keep), while plain free-text string pruning keeps working."""
    import datetime

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        _can_skip,
        commit_append,
        prune_files,
        read_manifest,
    )

    table = str(tmp_path / "dates")
    rows = [(1, datetime.date(2020, 1, 3)), (2, datetime.date(2020, 1, 5))]
    v = commit_append(
        spark.createDataFrame(rows, "k long, d date").repartition(1),
        table,
        ["d"],
    )
    stats = read_manifest(table, v)["files"][0]["stats"]["d"]
    assert stats == ["2020-01-03", "2020-01-05"]  # day-only shape on disk
    # timestamp-shaped bound whose day EQUALS the file max -> KEEP
    files, total = prune_files(
        table, v, "d", "2020-01-05 00:00:00", "2020-01-06 00:00:00"
    )
    assert len(files) == total == 1
    # genuinely disjoint timestamp-shaped bounds -> SKIP
    files, _ = prune_files(
        table, v, "d", "2020-02-01 00:00:00", "2020-02-10 00:00:00"
    )
    assert files == []
    # reverse mix: timestamp stats, day-only predicate for the min's day
    # -> day bound must read as the WHOLE day and keep the file
    assert not _can_skip(
        "2020-01-05 10:00:00", "2020-01-07 12:00:00", "2020-01-05", "2020-01-05"
    )
    # 'T'-separated caller bounds normalize against space-form stats
    assert not _can_skip(
        "2020-01-05 10:00:00", "2020-01-05 12:00:00",
        "2020-01-05T11:00:00", "2020-01-05T13:00:00",
    )
    # temporal vs free-text: incomparable -> never skip
    assert not _can_skip("2020-01-03", "2020-01-05", "apple", "banana")
    # plain free-text strings still prune lexicographically
    assert _can_skip("apple", "banana", "cherry", "date")


def test_manifest_bloom_negative_key_probe(spark, tmp_path):
    """Bloom probe and build must hash signed values identically: the
    build wraps negatives via astype(uint64), and the probe must mask
    rather than overflow (np.array([-5], dtype=np.uint64) raises on
    NumPy >= 2 — ADVICE r12). Every committed negative key must
    maybe-contain (no false negatives)."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        prune_files_bloom,
    )

    table = str(tmp_path / "negbloom")
    rows = [(-5,), (-1000,), (7,), (-(2**40),)]
    v = commit_append(
        spark.createDataFrame(rows, "k long").repartition(1),
        table,
        ["k"],
        bloom_cols=["k"],
    )
    for val, _ in [(r[0], None) for r in rows]:
        files, total = prune_files_bloom(table, v, "k", val)
        assert len(files) == total == 1, val


def test_manifest_table_stats_files_with_rows(spark, tmp_path):
    """table_stats' COUNT is exact only when every live entry carries a
    'rows' field; a legacy manifest entry without it must be detectable
    via files_with_rows < n_files instead of silently undercounting
    (ADVICE r12)."""
    import json as _json
    import os as _os

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        table_stats,
    )

    table = str(tmp_path / "legacyrows")
    df = spark.range(10).selectExpr("id as k")
    v = commit_append(df.repartition(2), table, ["k"])
    st = table_stats(table, v)
    assert st["files_with_rows"] == st["n_files"]
    assert st["n_rows"] == 10
    # simulate a legacy entry lacking 'rows'
    mpath = _os.path.join(table, "_log", f"v{v:05d}.json")
    manifest = _json.load(open(mpath))
    del manifest["files"][0]["rows"]
    _json.dump(manifest, open(mpath, "w"))
    st = table_stats(table, v)
    assert st["files_with_rows"] == st["n_files"] - 1  # inexactness visible


def test_manifest_rejected_commit_stages_nothing(spark, tmp_path):
    """A commit rejected for a stale base pin, an illegal schema change
    or a failed staging write must leave data/ byte-identical — staging
    before validation orphaned parquet files that only a vacuum could
    reclaim, and an external retry staged a second copy (ADVICE r12).
    A batch append is held to the same rule across all its frames, and
    a partitioned append to the same rule as a plain one."""
    import glob as _glob
    import os as _os

    import pytest as _pytest

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        CommitConflictError,
        commit_append,
        commit_append_partitioned,
        commit_appends,
        current_version,
    )

    table = str(tmp_path / "noorphans")
    commit_append(
        spark.createDataFrame([(1, "a")], "k long, s string"), table, ["k"]
    )
    data_files = set(_glob.glob(_os.path.join(table, "data", "*")))

    with _pytest.raises(CommitConflictError):
        commit_append(
            spark.createDataFrame([(2, "b")], "k long, s string"),
            table,
            ["k"],
            expected_base=99,
        )
    assert set(_glob.glob(_os.path.join(table, "data", "*"))) == data_files

    with _pytest.raises(ValueError, match="type change"):
        commit_append(
            spark.createDataFrame([("oops", "b")], "k string, s string"),
            table,
            ["k"],
        )
    assert set(_glob.glob(_os.path.join(table, "data", "*"))) == data_files

    # a batch validates every frame before staging any: an illegal type
    # change in the 2nd frame stages and publishes nothing
    ok = spark.createDataFrame([(3, "c")], "k long, s string")
    with _pytest.raises(ValueError, match="type change"):
        commit_appends(
            [ok, spark.createDataFrame([("oops", "b")], "k string, s string")],
            table,
            ["k"],
        )
    assert set(_glob.glob(_os.path.join(table, "data", "*"))) == data_files
    assert current_version(table) == 1

    # a staging write that raises in one frame: the files the other
    # frames staged are unlinked and no version is published
    boom = spark.range(4).selectExpr(
        "CASE WHEN id = 2 THEN raise_error('staging boom') ELSE id END AS k",
        "'x' AS s",
    )
    with _pytest.raises(Exception, match="staging boom"):
        commit_appends([ok, boom, ok], table, ["k"])
    assert set(_glob.glob(_os.path.join(table, "data", "*"))) == data_files
    assert not _glob.glob(_os.path.join(table, "_staging_*"))
    assert current_version(table) == 1

    # a partitioned append whose write raises stages nothing either
    with _pytest.raises(Exception, match="staging boom"):
        commit_append_partitioned(boom, table, "s", "identity", ["k"])
    assert set(_glob.glob(_os.path.join(table, "data", "*"))) == data_files
    assert not _glob.glob(_os.path.join(table, "_staging_*"))
    assert current_version(table) == 1


def test_check_query_rows_only_contract(spark, sf_dir):
    """oracle.check_query without an oracle fails an empty result and a
    result whose rows differ between two runs, and passes a non-empty
    deterministic one."""
    import itertools

    from t_mobile_data_fnt_etl_pipeline_aws_spark.oracle import check_query

    runs = itertools.count()
    assert check_query(spark, sf_dir, lambda s, d: s.range(3), None) is None
    assert "no rows" in check_query(spark, sf_dir, lambda s, d: s.range(0), None)
    assert "nondeterministic" in check_query(
        spark, sf_dir, lambda s, d: s.range(next(runs) + 1), None
    )


def test_manifest_batch_append_matches_serial_loop(spark, tmp_path):
    """commit_appends stages its frames as concurrent jobs but publishes
    prev+1..prev+n in input order with the given ops: every manifest
    equals the one a serial commit_append loop writes (only paths, ts
    and uuids differ), and every staging job stays in the caller's job
    group — as many jobs as the serial loop, none outside the group.
    Held with and without per-file bloom sidecars (``bloom_cols``)."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        commit_appends,
        read_manifest,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # more frames than the pool has threads on a small host
    n = sc.defaultParallelism + 2
    frames = [
        spark.range(i * 100, i * 100 + 10 * (i + 1))
        .selectExpr("id AS k", "id % 7 AS v")
        .repartition(i % 3 + 1)
        for i in range(n)
    ]
    ops = [f"op{i}" for i in range(n)]
    seed = spark.createDataFrame([(-1, 0)], "k long, v long")

    def shape(m):
        files = [
            {k: v for k, v in f.items() if k != "path"} for f in m["files"]
        ]
        return {k: v for k, v in m.items() if k not in ("files", "ts")}, files

    for bloom_cols in (None, ["k"]):
        tag = "bloom" if bloom_cols else "plain"
        batch, serial = str(tmp_path / f"batch_{tag}"), str(tmp_path / f"serial_{tag}")
        commit_append(seed, batch, ["k"], bloom_cols=bloom_cols)
        commit_append(seed, serial, ["k"], bloom_cols=bloom_cols)

        # job ids only grow: every ungrouped job from here on is above
        # the mark (a count of ungrouped jobs would shrink whenever the
        # status store evicts old jobs, as it does in a long session)
        mark = max(tracker.getJobIdsForGroup(None), default=-1)
        try:
            sc.setJobGroup(f"manifest-batch-{tag}", "batch")
            assert commit_appends(
                frames, batch, ["k"], ops, bloom_cols=bloom_cols
            ) == list(range(2, n + 2))
            sc.setJobGroup(f"manifest-serial-{tag}", "serial")
            for df, op in zip(frames, ops):
                commit_append(df, serial, ["k"], op=op, bloom_cols=bloom_cols)
        finally:
            sc.setJobGroup(None, None)
        batch_jobs = tracker.getJobIdsForGroup(f"manifest-batch-{tag}")
        assert len(batch_jobs) == len(
            tracker.getJobIdsForGroup(f"manifest-serial-{tag}")
        ), tag
        assert len(batch_jobs) >= len(frames)
        assert all(j <= mark for j in tracker.getJobIdsForGroup(None))

        for v in range(1, n + 2):
            mb, ms = read_manifest(batch, v), read_manifest(serial, v)
            assert shape(mb) == shape(ms), (tag, v)
        assert [read_manifest(batch, v)["op"] for v in range(2, n + 2)] == ops
        if bloom_cols:  # the sidecars were really built, on every file
            live = read_manifest(batch, n + 1)["files"]
            assert live and all("k" in f.get("bloom", {}) for f in live)


def test_orders_by_year_builder_contract(spark, sf_dir, tmp_path):
    """operators/scans.py::_orders_by_year, the shared fixture of the
    per-year manifest-table keys: versions 1..n carry ops append_y<year>
    in ascending year order; every file a version adds holds only that
    year (manifest o_orderdate min/max inside it); the live table holds
    every order; and the builder's batched appends run as many jobs as
    the serial commit_append loop it replaced, all of them in the
    caller's job group."""
    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.operators.scans import (
        _orders_by_year,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        read_manifest,
        read_version,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    cols = ["o_orderkey", "o_orderdate"]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    mark = max(tracker.getJobIdsForGroup(None), default=-1)  # as above
    serial = str(tmp_path / "serial")
    try:
        sc.setJobGroup("by-year-builder", "builder")
        table, o, versions = _orders_by_year(
            spark, sf_dir, "orders_byyear_contract", cols, parts=2
        )
        sc.setJobGroup("by-year-serial", "serial")
        so = load(spark, sf_dir, "orders").select(*cols)
        years = sorted(
            r.yr
            for r in so.select(F.year("o_orderdate").alias("yr")).distinct().collect()
        )
        for yr in years:
            commit_append(
                so.filter(F.year("o_orderdate") == yr).repartition(2),
                serial,
                ["o_orderdate"],
                op=f"append_y{yr}",
            )
    finally:
        sc.setJobGroup(None, None)
    assert len(tracker.getJobIdsForGroup("by-year-builder")) == len(
        tracker.getJobIdsForGroup("by-year-serial")
    )
    assert all(j <= mark for j in tracker.getJobIdsForGroup(None))

    assert len(years) > 1
    assert versions == list(range(1, len(years) + 1))
    assert [read_manifest(table, v)["op"] for v in versions] == [
        f"append_y{yr}" for yr in years
    ]
    seen: set[str] = set()
    for v, yr in zip(versions, years):
        added = [f for f in read_manifest(table, v)["files"] if f["path"] not in seen]
        assert added, v
        for f in added:
            lo, hi = f["stats"]["o_orderdate"]
            assert str(yr) <= lo <= hi < str(yr + 1), (v, yr, lo, hi)
            seen.add(f["path"])
    assert o.columns == cols
    assert read_version(spark, table).count() == load(spark, sf_dir, "orders").count()


def test_manifest_delete_vectors_semantics(spark, tmp_path):
    """Merge-on-read position deletes, the full contract: (1) a delete
    commit leaves the live DATA set byte-identical (cost ∝ rows, not
    files); (2) readers see exactly the surviving rows; (3) time travel
    to the pre-delete version reads the full table; (4) metadata-only
    COUNT stays exact (footer sum − vector sum); (5) a second delete
    cannot double-mask (identity read excludes already-deleted rows);
    (6) appends carry vectors forward untouched; (7) copy-on-write
    rewrite REFUSES over live vectors (raw-file input would resurrect
    masked rows); (8) compaction from a read_version feed folds the
    mask in, and a post-compaction vacuum reclaims the vector file."""
    import glob as _glob
    import os as _os

    import pytest as _pytest

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        commit_delete,
        commit_replace,
        commit_rewrite,
        read_manifest,
        read_version,
        read_version_with_pos,
        table_stats,
        vacuum,
    )

    table = str(tmp_path / "mor")
    df1 = spark.createDataFrame([(i, i * 10) for i in range(10)], "k long, v long")
    df2 = spark.createDataFrame([(i, i * 10) for i in range(10, 20)], "k long, v long")
    commit_append(df1.repartition(1), table, ["k"])
    v2 = commit_append(df2.repartition(1), table, ["k"])

    doomed = read_version_with_pos(spark, table, v2).filter("k % 5 = 0")
    v3 = commit_delete(spark, table, doomed.select("file_path", "row_index"))

    # (1) zero data files rewritten
    assert [f["path"] for f in read_manifest(table, v2)["files"]] == [
        f["path"] for f in read_manifest(table, v3)["files"]
    ]
    # (2) exactly the survivors
    got = sorted(r.k for r in read_version(spark, table, v3).collect())
    assert got == [i for i in range(20) if i % 5 != 0]
    # (3) time travel pre-delete
    assert read_version(spark, table, v2).count() == 20
    # (4) metadata-only count exact
    st = table_stats(table, v3)
    assert st["n_rows"] == 16 and st["n_delete_files"] == 1
    assert st["n_delete_rows"] == 4
    # (5) no double-mask: identity read at v3 excludes masked rows
    assert read_version_with_pos(spark, table, v3).filter("k % 5 = 0").count() == 0
    # (6) append carries vectors
    df3 = spark.createDataFrame([(100, 0)], "k long, v long")
    v4 = commit_append(df3.repartition(1), table, ["k"])
    assert read_version(spark, table, v4).count() == 17
    assert table_stats(table, v4)["n_rows"] == 17
    # (7) rewrite refuses over live vectors
    live = [f["path"] for f in read_manifest(table, v4)["files"]]
    with _pytest.raises(ValueError, match="delete vectors"):
        commit_rewrite(df3, table, ["k"], live[:1])
    # (8) compaction folds the mask; vacuum reclaims the vector file
    v5 = commit_replace(read_version(spark, table, v4), table, ["k"])
    assert "deletes" not in read_manifest(table, v5)
    assert read_version(spark, table, v5).count() == 17
    assert _glob.glob(_os.path.join(table, "_deletes", "*.parquet"))
    vacuum(table, retain_last=1)
    assert not _glob.glob(_os.path.join(table, "_deletes", "*.parquet"))
    assert read_version(spark, table, v5).count() == 17


def test_manifest_hidden_partitioning_semantics(spark, tmp_path):
    """Hidden-partitioning contract: per-file partition values are
    recorded under the declared transform; pruning maps RAW-column
    bounds through the transform (monotone ISO prefix) and the pruned
    read returns exactly the predicate's rows; a conflicting spec on a
    later append is rejected; files committed WITHOUT a partition value
    (plain appends after the spec) are never skipped."""
    import datetime

    import pytest as _pytest

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        commit_append_partitioned,
        current_version,
        prune_files_partition,
        read_manifest,
    )

    table = str(tmp_path / "hidden")
    rows = [
        (i, datetime.datetime(2021, m, 5 + i)) for m in (1, 2, 3) for i in range(3)
    ]
    commit_append_partitioned(
        spark.createDataFrame(rows, "k long, ts timestamp_ntz"),
        table,
        "ts",
        "month",
        ["ts"],
    )
    v = current_version(table)
    manifest = read_manifest(table, v)
    assert manifest["partition_spec"] == {"col": "ts", "transform": "month"}
    pvals = sorted(f["partition"] for f in manifest["files"])
    assert pvals == ["2021-01", "2021-02", "2021-03"]

    # raw-column bounds -> only February survives
    files, total = prune_files_partition(
        table, v, "2021-02-01 00:00:00", "2021-02-28 23:59:59"
    )
    assert total == 3 and len(files) == 1
    got = sorted(r.k for r in spark.read.parquet(*files).collect())
    assert got == [0, 1, 2]

    # conflicting spec rejected
    with _pytest.raises(ValueError, match="partition spec mismatch"):
        commit_append_partitioned(
            spark.createDataFrame(rows, "k long, ts timestamp_ntz"),
            table,
            "ts",
            "day",
            ["ts"],
        )

    # a plain (non-partitioned) append's files are never skipped
    extra = [(99, datetime.datetime(2021, 6, 1))]
    v2 = commit_append(
        spark.createDataFrame(extra, "k long, ts timestamp_ntz").repartition(1),
        table,
        ["ts"],
    )
    files, total = prune_files_partition(
        table, v2, "2021-02-01 00:00:00", "2021-02-28 23:59:59"
    )
    assert total == 4 and len(files) == 2  # Feb file + the unvalued file


def test_partition_spec_removal_degrades_gracefully(spark, tmp_path):
    """VERDICT r13 item 6 — the transform-REMOVAL direction of partition
    evolution: evolve_partition_spec(None) publishes a metadata-only
    commit (live file set byte-identical), after which (1) OLD
    generations still partition-prune under the transform recorded in
    their own entries, (2) files appended post-removal carry no value
    and are NEVER partition-skipped (they degrade to stats-only
    pruning, which still works), (3) pruned-read == full-filter read,
    and (4) a later re-declare (commit_append_partitioned) resumes
    valued writes without touching the unvalued generation."""
    import datetime

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import manifest_table as mt

    table = str(tmp_path / "spec_removal")
    ddl = "k long, ts timestamp_ntz"
    rows = [
        (1, datetime.datetime(2020, 3, 1)),
        (2, datetime.datetime(2021, 6, 1)),
        (3, datetime.datetime(2022, 9, 1)),
    ]
    mt.commit_append_partitioned(
        spark.createDataFrame(rows, ddl), table, "ts", "year", ["ts"]
    )
    # remove the spec: metadata-only, zero data movement
    v_before = mt.current_version(table)
    v_rm = mt.evolve_partition_spec(table, None)
    assert [f["path"] for f in mt.read_manifest(table, v_before)["files"]] == [
        f["path"] for f in mt.read_manifest(table, v_rm)["files"]
    ]
    assert "partition_spec" not in mt.read_manifest(table, v_rm)
    # post-removal append: plain, unvalued
    v2 = mt.commit_append(
        spark.createDataFrame([(4, datetime.datetime(2020, 7, 7))], ddl)
        .repartition(1),
        table,
        ["ts"],
    )
    files, total = mt.prune_files_partition(
        table, v2, "2021-01-01 00:00:00", "2021-12-31 23:59:59"
    )
    assert total == 4
    # (1) old generation still prunes: 2020/2022 year-files skipped;
    # (2) the unvalued post-removal file is always kept
    assert len(files) == 2
    got = sorted(
        r.k
        for r in spark.read.parquet(*files)
        .filter("ts >= '2021-01-01' and ts <= '2021-12-31'")
        .collect()
    )
    assert got == [2]  # (3) pruned-read == full-filter read
    # stats pruning still covers the unvalued file
    m = mt.read_manifest(table, v2)
    unvalued = [f for f in m["files"] if "partition" not in f]
    assert len(unvalued) == 1 and "ts" in unvalued[0]["stats"]
    # (4) re-declare month partitioning; the unvalued file is untouched
    v3 = mt.commit_append_partitioned(
        spark.createDataFrame([(5, datetime.datetime(2021, 2, 2))], ddl),
        table,
        "ts",
        "month",
        ["ts"],
        allow_evolution=True,
    )
    files3, total3 = mt.prune_files_partition(
        table, v3, "2021-02-01 00:00:00", "2021-02-28 23:59:59"
    )
    assert total3 == 5
    # kept: the 2021 year-file, the unvalued file, the 2021-02 month-file
    assert len(files3) == 3
    got3 = sorted(
        r.k
        for r in spark.read.parquet(*files3)
        .filter("ts >= '2021-02-01' and ts <= '2021-02-28'")
        .collect()
    )
    assert got3 == [5]
    # $partitions metadata table: one row per (value, transform), plus
    # the NULL row aggregating the unvalued post-removal generation
    pt = {
        (r.partition, r.ptransform): (r.n_files, r.n_rows)
        for r in mt.partitions_table(spark, table).collect()
    }
    assert pt[(None, None)] == (1, 1)  # the unvalued file
    assert pt[("2020", "year")] == (1, 1)
    assert pt[("2021", "year")] == (1, 1)
    assert pt[("2022", "year")] == (1, 1)
    assert pt[("2021-02", "month")] == (1, 1)
    assert len(pt) == 5


def test_manifest_equality_delete_semantics(spark, tmp_path):
    """Equality deletes, the full contract: (1) blind commit — zero data
    files read or rewritten; (2) readers mask matching rows (absent
    values are harmless); (3) metadata COUNT honestly degrades to an
    upper bound (count_exact False) while eq-vectors live; (4) time
    travel pre-delete reads full; (5) position deletes COMPOSE on top
    (the identity read excludes eq-masked rows first); (6) appends
    carry the vectors but SEQ SCOPING (Iceberg v2) means a value
    re-inserted after the delete is visible — vectors only mask files
    with a lower data sequence number; (7) rewrite refuses; (8)
    compaction folds both mask kinds in, restores count_exact, and a
    vacuum then reclaims every vector file."""
    import glob as _glob
    import os as _os

    import pytest as _pytest

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        commit_delete,
        commit_delete_equality,
        commit_replace,
        commit_rewrite,
        read_manifest,
        read_version,
        read_version_with_pos,
        table_stats,
        vacuum,
    )

    table = str(tmp_path / "eqdel")
    df1 = spark.createDataFrame([(i, i * 10) for i in range(10)], "k long, v long")
    df2 = spark.createDataFrame([(i, i * 10) for i in range(10, 20)], "k long, v long")
    commit_append(df1.repartition(1), table, ["k"])
    v2 = commit_append(df2.repartition(1), table, ["k"])

    vals = spark.createDataFrame([(1,), (5,), (100,)], "k long")  # 100 absent
    v3 = commit_delete_equality(spark, table, "k", vals)
    # (1) blind: live data set byte-identical
    assert [f["path"] for f in read_manifest(table, v2)["files"]] == [
        f["path"] for f in read_manifest(table, v3)["files"]
    ]
    # (2) masked rows gone, absent value harmless
    got = sorted(r.k for r in read_version(spark, table, v3).collect())
    assert got == [i for i in range(20) if i not in (1, 5)]
    # (3) COUNT is an upper bound now
    st = table_stats(table, v3)
    assert st["count_exact"] is False and st["n_rows"] == 20
    # (4) time travel
    assert read_version(spark, table, v2).count() == 20
    # (5) position delete composes AFTER the eq mask
    doomed = read_version_with_pos(spark, table, v3).filter("k in (1, 2)")
    assert doomed.count() == 1  # k=1 already eq-masked
    v4 = commit_delete(spark, table, doomed.select("file_path", "row_index"))
    got = sorted(r.k for r in read_version(spark, table, v4).collect())
    assert got == [i for i in range(20) if i not in (1, 2, 5)]
    # (6) append carries both mask kinds
    v5 = commit_append(
        spark.createDataFrame([(100, 0)], "k long, v long").repartition(1),
        table,
        ["k"],
    )
    # the appended k=100 row is NOT masked: the eq-vector committed at
    # v3 applies only to files with a lower data sequence number
    # (Iceberg v2 seq scoping) — a row re-inserted after the delete is
    # visible again without waiting for compaction
    got = sorted(r.k for r in read_version(spark, table, v5).collect())
    assert got == [i for i in range(20) if i not in (1, 2, 5)] + [100]
    # (7) rewrite refuses over live vectors
    live = [f["path"] for f in read_manifest(table, v5)["files"]]
    with _pytest.raises(ValueError, match="delete vectors"):
        commit_rewrite(df1, table, ["k"], live[:1])
    # (8) compaction folds both; count exact again; vacuum reclaims
    v6 = commit_replace(read_version(spark, table, v5), table, ["k"])
    m6 = read_manifest(table, v6)
    assert "deletes" not in m6 and "eq_deletes" not in m6
    st = table_stats(table, v6)
    assert st["count_exact"] is True and st["n_rows"] == 18
    vacuum(table, retain_last=1)
    assert not _glob.glob(_os.path.join(table, "_deletes", "*.parquet"))
    assert read_version(spark, table, v6).count() == 18


def test_manifest_read_changes_semantics(spark, tmp_path):
    """Row-level change feed, net semantics: appended-then-deleted rows
    appear in NEITHER side; deletes materialize full rows from v_from
    files; the window is genuinely versioned (a narrower window sees
    more deletes and no inserts); equality deletes feed the delete side
    too; v_from=0 emits everything as insert."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        commit_delete,
        commit_delete_equality,
        read_changes,
        read_version_with_pos,
    )

    table = str(tmp_path / "cdf")
    df1 = spark.createDataFrame([(i, i * 10) for i in range(10)], "k long, v long")
    df2 = spark.createDataFrame([(i, i * 10) for i in range(10, 20)], "k long, v long")
    v1 = commit_append(df1.repartition(1), table, ["k"])
    v2 = commit_append(df2.repartition(1), table, ["k"])
    doomed = read_version_with_pos(spark, table).filter("k % 5 = 0")
    v3 = commit_delete(spark, table, doomed.select("file_path", "row_index"))

    ch = read_changes(spark, table, v1, v3).collect()
    ins = sorted(r.k for r in ch if r._change_type == "insert")
    dels = sorted(r.k for r in ch if r._change_type == "delete")
    assert ins == [11, 12, 13, 14, 16, 17, 18, 19]  # 10, 15 net-cancel
    assert dels == [0, 5]  # deletes from v_from files only, full rows
    assert all(
        r.v == r.k * 10 for r in ch if r._change_type == "delete"
    )  # materialized values, not offsets

    # narrower window: v2 -> v3 sees NO inserts, all 4 deleted rows
    ch2 = read_changes(spark, table, v2, v3).collect()
    assert not [r for r in ch2 if r._change_type == "insert"]
    assert sorted(r.k for r in ch2 if r._change_type == "delete") == [0, 5, 10, 15]

    # equality delete flows into the delete side; k=5 was already
    # position-masked BEFORE this window, so it must NOT re-emit (a
    # retraction fold downstream would subtract it twice)
    v4 = commit_delete_equality(
        spark, table, "k", spark.createDataFrame([(3,), (5,)], "k long")
    )
    ch3 = read_changes(spark, table, v3, v4).collect()
    assert [(r._change_type, r.k) for r in ch3] == [("delete", 3)]

    # v_from=0: everything inserts (post-mask)
    ch0 = read_changes(spark, table, 0, v4).collect()
    assert all(r._change_type == "insert" for r in ch0)
    assert sorted(r.k for r in ch0) == [
        i for i in range(20) if i % 5 != 0 and i != 3
    ]


def test_column_defaults_semantics(spark, tmp_path):
    """Column defaults (Iceberg v3 initial-default), the full contract:
    (1) commit_add_column(default=...) is metadata-only; (2) rows from
    files older than the column read the default, (3) post-add rows
    keep stored values INCLUDING real NULLs; (4) time travel before
    the add has no such column; (5) the change feed materializes
    defaults (Spark read_changes, pure-Python cdf_rows, and the
    partition planner all agree); (6) compaction materializes the
    default into data files and drops the defaults section; (7)
    rollback restores it."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import manifest_table as mt
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_cdf_stream import (
        cdf_rows,
        plan_change_partitions,
        read_change_partition,
    )

    table = str(tmp_path / "defaults")
    v1 = mt.commit_append(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long").repartition(1),
        table,
        ["k"],
    )
    v2 = mt.commit_add_column(table, "tag", "string", default="old")
    assert [f["path"] for f in mt.read_manifest(table, v1)["files"]] == [
        f["path"] for f in mt.read_manifest(table, v2)["files"]
    ]  # (1) metadata-only
    v3 = mt.commit_append(
        spark.createDataFrame(
            [(3, 30, "fresh"), (4, 40, None)], "k long, v long, tag string"
        ).repartition(1),
        table,
        ["k"],
    )
    got = {(r.k, r.tag) for r in mt.read_version(spark, table, v3).collect()}
    assert got == {(1, "old"), (2, "old"), (3, "fresh"), (4, None)}  # (2)(3)
    assert "tag" not in mt.read_version(spark, table, v1).columns  # (4)
    # (5) change feed materializes the default in delete rows
    doomed = mt.read_version_with_pos(spark, table).filter("k = 1")
    assert doomed.collect()[0].tag == "old"
    v4 = mt.commit_delete(spark, table, doomed.select("file_path", "row_index"))
    ch = mt.read_changes(spark, table, v3, v4).collect()
    assert [(r._change_type, r.k, r.tag) for r in ch] == [("delete", 1, "old")]
    ref = sorted(cdf_rows(table, v3, v4))
    assert ref == [(1, 10, "old", "delete", v4)]
    planned = sorted(
        t
        for u in plan_change_partitions(table, v3, v4)
        for t in read_change_partition(u)
    )
    assert planned == ref
    # insert side of the feed: the pre-default file's rows emit WITH
    # the default when replayed from v0
    ins = sorted(t for t in cdf_rows(table, 0, v3) if t[0] in (1, 2))
    assert ins == [(1, 10, "old", "insert", 3), (2, 20, "old", "insert", 3)]
    # (6) compaction materializes and drops the defaults section
    v5 = mt.commit_replace(mt.read_version(spark, table, v4), table, ["k"])
    m5 = mt.read_manifest(table, v5)
    assert "defaults" not in m5
    got5 = {(r.k, r.tag) for r in mt.read_version(spark, table, v5).collect()}
    assert got5 == {(2, "old"), (3, "fresh"), (4, None)}
    # (7) rollback restores the defaults-bearing snapshot
    v6 = mt.rollback(table, v4)
    got6 = {(r.k, r.tag) for r in mt.read_version(spark, table, v6).collect()}
    assert got6 == {(2, "old"), (3, "fresh"), (4, None)}
    assert mt.read_manifest(table, v6).get("defaults")


def test_type_widening_semantics(spark, tmp_path):
    """commit_widen_column's contract: (1) metadata-only (live files
    byte-identical); (2) one scan reads narrow + wide generations with
    the widened schema (native parquet upcast), values exact; (3) only
    safe promotions allowed — narrowing, scale changes, and unrelated
    changes reject; (4) a writer may keep writing the NARROW type
    after the widen (accepted, upcast at read); (5) time travel before
    the widen still reads the narrow schema."""
    import pytest as _pytest

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import manifest_table as mt

    table = str(tmp_path / "widen")
    v1 = mt.commit_append(
        spark.createDataFrame([(1, 1.5), (2, 2.5)], "k int, x float")
        .repartition(1),
        table,
        ["k"],
    )
    v2 = mt.commit_widen_column(table, "k", "bigint")
    v3 = mt.commit_widen_column(table, "x", "double")
    assert [f["path"] for f in mt.read_manifest(table, v1)["files"]] == [
        f["path"] for f in mt.read_manifest(table, v3)["files"]
    ]  # (1)
    # (3) unsafe changes reject
    for col, bad in [("k", "int"), ("x", "float"), ("k", "string")]:
        with _pytest.raises(ValueError, match="widening|unsafe"):
            mt.commit_widen_column(table, col, bad)
    with _pytest.raises(ValueError, match="no such column"):
        mt.commit_widen_column(table, "nope", "bigint")
    # wide append beyond int32
    mt.commit_append(
        spark.createDataFrame([(2**40, 9.25)], "k bigint, x double")
        .repartition(1),
        table,
        ["k"],
    )
    # (4) a NARROW writer is still accepted post-widen
    mt.commit_append(
        spark.createDataFrame([(7, 7.5)], "k int, x float").repartition(1),
        table,
        ["k"],
    )
    got = {(r.k, r.x) for r in mt.read_version(spark, table).collect()}
    assert got == {(1, 1.5), (2, 2.5), (2**40, 9.25), (7, 7.5)}  # (2)
    schema = dict(mt.table_schema(table))
    assert schema == {"k": "bigint", "x": "double"}
    # (5) pre-widen snapshot reads the narrow schema
    old = dict(mt.table_schema(table, v1))
    assert old == {"k": "int", "x": "float"}
    assert mt.read_version(spark, table, v1).schema["k"].dataType.simpleString() == "int"


def test_table_constraints_semantics(spark, tmp_path):
    """CHECK constraints, the full contract: (1) add/drop are
    metadata-only commits; (2) every write path is gated — plain
    append, partitioned append, branch append, and MoR update/merge
    replacement rows all raise ConstraintViolation with the offending
    constraint NAMED; (3) ANSI semantics — a NULL predicate result
    PASSES (so NOT NULL needs an explicit IS NOT NULL constraint);
    (4) rejection stages nothing; (5) existing data is not
    retro-validated; (6) duplicate add and missing drop reject; (7)
    constraints survive an added column and a full replace; (8) add and
    drop on an empty table reject with ValueError."""
    import datetime
    import glob as _glob
    import os as _os

    import pytest as _pytest

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import manifest_table as mt

    table = str(tmp_path / "cons")
    ddl = "k long, v long, ts timestamp_ntz"
    d0 = datetime.datetime(2021, 1, 15)
    # seed INCLUDES a v=-5 row: constraints never retro-validate (5)
    mt.commit_append(
        spark.createDataFrame([(1, 10, d0), (2, -5, d0)], ddl).repartition(1),
        table,
        ["k"],
    )
    v_a = mt.commit_add_constraint(table, "v_positive", "v > 0")
    assert [f["path"] for f in mt.read_manifest(table, v_a - 1)["files"]] == [
        f["path"] for f in mt.read_manifest(table, v_a)["files"]
    ]  # (1)
    with _pytest.raises(ValueError, match="already exists"):
        mt.commit_add_constraint(table, "v_positive", "v > 1")  # (6)
    # (3) NULL passes the CHECK; a clean batch passes
    mt.commit_append(
        spark.createDataFrame([(3, None, d0)], ddl).repartition(1),
        table,
        ["k"],
    )
    n_files = len(mt.read_manifest(table, mt.current_version(table))["files"])
    # (2)+(4) plain append rejected, nothing staged, name surfaced
    with _pytest.raises(mt.ConstraintViolation, match="v_positive"):
        mt.commit_append(
            spark.createDataFrame([(4, -1, d0)], ddl).repartition(1),
            table,
            ["k"],
        )
    assert len(_glob.glob(_os.path.join(table, "data", "*.parquet"))) == n_files
    # partitioned append gated
    with _pytest.raises(mt.ConstraintViolation):
        mt.commit_append_partitioned(
            spark.createDataFrame([(5, -2, d0)], ddl),
            table,
            "ts",
            "month",
            ["ts"],
        )
    # branch append gated
    mt.set_ref(table, "main", mt.current_version(table))
    mt.create_branch(table, "dev")
    with _pytest.raises(mt.ConstraintViolation):
        mt.commit_append_to_ref(
            spark.createDataFrame([(6, -3, d0)], ddl).repartition(1),
            table,
            "dev",
            ["k"],
        )
    # MoR merge replacement rows gated
    src = spark.createDataFrame(
        [(1, -99, d0, "u")], "k long, v long, ts timestamp_ntz, __op string"
    )
    with _pytest.raises(mt.ConstraintViolation):
        mt.commit_merge_mor(spark, table, src, "k", ["k"])
    # (7) the gate survives every commit kind — an added column and a
    # full replace carry it forward — and still rejects afterwards
    mt.commit_add_column(table, "note", "string")
    mt.commit_replace(mt.read_version(spark, table).repartition(1), table, ["k"])
    cons = mt.read_manifest(table, mt.current_version(table))["constraints"]
    assert cons == {"v_positive": "v > 0"}
    with _pytest.raises(mt.ConstraintViolation, match="v_positive"):
        mt.commit_append(
            spark.createDataFrame([(4, -1, d0)], ddl).repartition(1),
            table,
            ["k"],
        )
    # drop, then the formerly-bad append lands
    mt.commit_drop_constraint(table, "v_positive")
    with _pytest.raises(ValueError, match="no such constraint"):
        mt.commit_drop_constraint(table, "v_positive")
    mt.commit_append(
        spark.createDataFrame([(4, -1, d0)], ddl).repartition(1), table, ["k"]
    )
    got = {(r.k, r.v) for r in mt.read_version(spark, table).collect()}
    assert got == {(1, 10), (2, -5), (3, None), (4, -1)}
    # (8) add and drop on an empty table reject with ValueError
    empty = str(tmp_path / "cons_empty")
    with _pytest.raises(ValueError, match="empty table"):
        mt.commit_add_constraint(empty, "c", "k > 0")
    with _pytest.raises(ValueError, match="empty table"):
        mt.commit_drop_constraint(empty, "c")


def test_row_lineage_semantics(spark, tmp_path):
    """Row lineage (Iceberg v3): ids are allocated monotonically at
    commit (first_row_id + position), unique, STABLE through a
    position-delete and a lineage-preserving compaction (which rewrites
    every file and materializes __row_id physically), invisible to
    ordinary reads, and post-compact appends mint fresh ids above the
    carried high-water mark. Double compaction keeps ids stable too
    (the coalesce prefers the materialized column)."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import manifest_table as mt

    table = str(tmp_path / "lineage")
    ddl = "k long, v long"
    mt.commit_append(
        spark.createDataFrame([(i, i * 10) for i in range(6)], ddl).repartition(2),
        table,
        ["k"],
    )
    mt.commit_append(
        spark.createDataFrame([(i, i * 10) for i in range(6, 10)], ddl)
        .repartition(1),
        table,
        ["k"],
    )
    before = {r.k: r._row_id for r in
              mt.read_version_with_lineage(spark, table).collect()}
    assert sorted(before.values()) == list(range(10))  # dense, unique
    doomed = mt.read_version_with_pos(spark, table).filter("k % 3 = 0")
    mt.commit_delete(spark, table, doomed.select("file_path", "row_index"))
    mid = {r.k: r._row_id for r in
           mt.read_version_with_lineage(spark, table).collect()}
    assert mid == {k: i for k, i in before.items() if k % 3 != 0}
    v_c = mt.compact_with_lineage(spark, table, ["k"])
    after = {r.k: r._row_id for r in
             mt.read_version_with_lineage(spark, table).collect()}
    assert after == mid  # stable through the rewrite
    assert mt.read_version(spark, table).columns == ["k", "v"]  # hidden
    # high-water mark carried: the next append starts at 10
    mt.commit_append(
        spark.createDataFrame([(99, 990)], ddl).repartition(1), table, ["k"]
    )
    post = {r.k: r._row_id for r in
            mt.read_version_with_lineage(spark, table).collect()}
    assert post[99] == 10
    assert {k: v for k, v in post.items() if k != 99} == after
    # double compaction: materialized ids win the coalesce, still stable
    mt.compact_with_lineage(spark, table, ["k"])
    again = {r.k: r._row_id for r in
             mt.read_version_with_lineage(spark, table).collect()}
    assert again == post
    # time travel reads the OLD lineage view exactly
    tt = {r.k: r._row_id for r in
          mt.read_version_with_lineage(spark, table, v_c).collect()}
    assert tt == mid


def test_merge_mor_clause_scoping(spark, tmp_path):
    """commit_merge_mor's strict ANSI-subset clause scoping: matched
    'u' rows replace, matched 'd' rows vanish, unmatched 'i' rows
    land — while an UNMATCHED 'u'/'d' is a no-op (not an upsert) and a
    MATCHED 'i' is dropped (no duplicate). The whole merge is ONE
    commit (version advances exactly once), zero data files rewritten,
    and time travel still reads the pre-merge state."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import manifest_table as mt

    table = str(tmp_path / "mergemor")
    ddl = "k long, v long"
    v1 = mt.commit_append(
        spark.createDataFrame([(i, i * 10) for i in range(6)], ddl).repartition(1),
        table,
        ["k"],
    )
    src = spark.createDataFrame(
        [
            (1, 111, "u"),   # matched update
            (99, 990, "u"),  # UNMATCHED update -> no-op
            (2, 0, "d"),     # matched delete
            (98, 0, "d"),    # UNMATCHED delete -> no-op
            (7, 70, "i"),    # unmatched insert
            (3, 999, "i"),   # MATCHED insert -> dropped
        ],
        "k long, v long, __op string",
    )
    before = [f["path"] for f in mt.read_manifest(table, v1)["files"]]
    v2 = mt.commit_merge_mor(spark, table, src, "k", ["k"])
    assert v2 == v1 + 1 == mt.current_version(table)
    after = {f["path"] for f in mt.read_manifest(table, v2)["files"]}
    assert set(before).issubset(after)  # no file rewritten
    got = {(r.k, r.v) for r in mt.read_version(spark, table, v2).collect()}
    assert got == {
        (0, 0), (1, 111), (3, 30), (4, 40), (5, 50), (7, 70)
    }
    # time travel: pre-merge snapshot intact
    pre = {(r.k, r.v) for r in mt.read_version(spark, table, v1).collect()}
    assert pre == {(i, i * 10) for i in range(6)}


def test_read_changes_delete_dedupe_by_row_identity(spark, tmp_path):
    """ADVICE r13 (medium): two PHYSICALLY DISTINCT rows with identical
    column values deleted in the same window must emit TWO delete rows
    (one per physical row, matching cdf_rows) — a value-based
    distinct() would under-retract downstream folds. The identity
    dedupe still collapses the legitimate double-match: one physical
    row hit by both a position vector and an equality vector inside
    the same window emits ONE delete."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_cdf_stream import (
        cdf_rows,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        commit_delete,
        commit_delete_equality,
        read_changes,
        read_version_with_pos,
    )

    table = str(tmp_path / "cdf_ident")
    # two value-identical rows (distinct physical rows) + one other
    df = spark.createDataFrame([(1, 10), (1, 10), (2, 20)], "k long, v long")
    v1 = commit_append(df.repartition(1), table, ["k"])
    doomed = read_version_with_pos(spark, table).filter("k = 1")
    v2 = commit_delete(spark, table, doomed.select("file_path", "row_index"))
    ch = sorted(
        (r._change_type, r.k) for r in read_changes(spark, table, v1, v2).collect()
    )
    assert ch == [("delete", 1), ("delete", 1)]  # one per physical row
    assert sorted(cdf_rows(table, v1, v2)) == [
        (1, 10, "delete", v2),
        (1, 10, "delete", v2),
    ]
    # double-match collapse: pos + eq vector on the SAME physical row
    v3 = commit_append(
        spark.createDataFrame([(3, 30)], "k long, v long").repartition(1),
        table,
        ["k"],
    )
    d2 = read_version_with_pos(spark, table).filter("k = 2")
    v4 = commit_delete(spark, table, d2.select("file_path", "row_index"))
    v5 = commit_delete_equality(
        spark, table, "k", spark.createDataFrame([(2,)], "k long")
    )
    ch2 = [
        (r._change_type, r.k)
        for r in read_changes(spark, table, v3, v5).collect()
    ]
    assert ch2 == [("delete", 2)]


def test_cdf_partition_planner_matches_reference(spark, tmp_path):
    """VERDICT r13 item 2: the partition-planning stream reader's
    (plan, read) pair — driver plans per (version × file × side) units
    from manifest JSON, executors materialize rows — must emit exactly
    the pure-Python ``cdf_rows`` reference for every single-version
    window, and a MULTI-version window must equal the concatenation of
    its per-version windows (rows keep their precise _commit_version;
    no cross-version net-cancellation), through appends, position
    deletes, seq-scoped equality deletes, and a post-delete re-insert."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_cdf_stream import (
        cdf_rows,
        plan_change_partitions,
        read_change_partition,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        commit_delete,
        commit_delete_equality,
        read_version_with_pos,
    )

    table = str(tmp_path / "cdfplan")
    ddl = "k long, v long"
    commit_append(
        spark.createDataFrame([(i, i * 10) for i in range(8)], ddl).repartition(2),
        table,
        ["k"],
    )
    commit_append(
        spark.createDataFrame([(i, i * 10) for i in range(8, 12)], ddl).repartition(1),
        table,
        ["k"],
    )
    doomed = read_version_with_pos(spark, table).filter("k % 3 = 0")
    commit_delete(spark, table, doomed.select("file_path", "row_index"))
    commit_delete_equality(
        spark, table, "k", spark.createDataFrame([(1,), (7,)], "k long")
    )
    # re-insert an eq-deleted value: must emit as insert (seq scoping)
    cur = commit_append(
        spark.createDataFrame([(7, 700)], ddl).repartition(1), table, ["k"]
    )

    def planned(lo, hi):
        return sorted(
            t
            for u in plan_change_partitions(table, lo, hi)
            for t in read_change_partition(u)
        )

    for v in range(1, cur + 1):
        assert planned(v - 1, v) == sorted(cdf_rows(table, v - 1, v)), v
    # multi-version window == concat of per-version windows
    whole = sorted(
        t for v in range(1, cur + 1) for t in cdf_rows(table, v - 1, v)
    )
    assert planned(0, cur) == whole
    assert (7, 700, "insert", cur) in whole  # the re-insert surfaced


def test_manifest_reads_build_without_spark_jobs(spark, tmp_path):
    """Every manifest read plans through one masked scan whose inputs
    are all schema-given: the data files under the manifest schema, the
    position vectors under (file_path, row_index), the equality values
    under the column's declared type. Building the four reads on a table
    with a position vector, an equality delete and a column default must
    therefore run NO Spark job (schema inference would run one per
    unpinned read)."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import manifest_table as mt

    table = str(tmp_path / "zero_job_reads")
    mt.commit_append(
        spark.range(60).selectExpr("id AS k", "id % 7 AS v").repartition(2),
        table,
        ["k"],
    )
    mt.commit_add_column(table, "c", "string", default="d")
    doomed = mt.read_version_with_pos(spark, table).filter("k % 10 = 0")
    mt.commit_delete(spark, table, doomed.select("file_path", "row_index"))
    v = mt.commit_delete_equality(
        spark, table, "k", spark.createDataFrame([(7,)], "k bigint")
    )

    sc = spark.sparkContext
    group = f"manifest-read-build-{tmp_path.name}"
    try:
        sc.setJobGroup(group, "build only")
        reads = [
            mt.read_version(spark, table),
            mt.read_version_with_pos(spark, table),
            mt.read_version_with_lineage(spark, table),
            mt.read_changes(spark, table, 1, v),
        ]
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    ks = sorted(r.k for r in reads[0].collect())
    assert ks == [k for k in range(60) if k % 10 and k != 7]
    assert {r.c for r in reads[0].collect()} == {"d"}
    assert reads[2].count() == len(ks)
    assert sorted(r.k for r in reads[3].collect()) == [0, 7, 10, 20, 30, 40, 50]


def test_fixture_loads_run_no_spark_job(spark, sf_dir):
    """``load`` checks the parquet footer with pyarrow on the driver and
    hands Spark the contract schema, so loading any of the fixture tables
    runs NO Spark job (schema inference would run one per table)."""
    from pyspark.sql.types import StructType

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import (
        SCHEMAS,
        table_names,
    )

    sc = spark.sparkContext
    group = "fixture-load-build"
    try:
        sc.setJobGroup(group, "build only")
        frames = {name: load(spark, sf_dir, name) for name in table_names()}
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert len(frames) == 10
    for name, df in frames.items():
        assert df.schema == StructType.fromDDL(SCHEMAS[name]), name


def _recast(col, pa_type):
    return lambda t: t.set_column(
        t.schema.get_field_index(col), col, t[col].cast(pa_type)
    )


@pytest.mark.parametrize(
    "table,edit,at_load",
    [
        pytest.param(
            "supplier", lambda t: t.drop_columns(["s_acctbal"]), True, id="dropped"
        ),
        pytest.param(
            "supplier",
            lambda t: t.rename_columns(
                ["s_suppkey", "s_title", "s_nationkey", "s_acctbal"]
            ),
            True,
            id="renamed",
        ),
        pytest.param("supplier", _recast("s_nationkey", pa.int64()), True, id="retyped"),
        pytest.param("events", _recast("ts", pa.timestamp("ns")), False, id="ts-nanos"),
        pytest.param(
            "events",
            _recast("ts", pa.timestamp("us", tz="UTC")),
            True,
            id="ts-utc-instant",
        ),
    ],
)
def test_load_refuses_drifted_fixture(spark, sf_dir, tmp_path, table, edit, at_load):
    """A fixture whose footer drifts from the contract never yields rows.
    A dropped, renamed or retyped column, or an events ``ts`` stored as a
    UTC instant (TIMESTAMP, not TIMESTAMP_NTZ), fails the driver-side
    footer check with a ValueError naming the table. An events ``ts``
    stored as TIMESTAMP(NANOS) maps to the same Spark type, so it passes
    the footer check and Spark's parquet reader refuses it on the first
    action instead."""
    pq.write_table(
        edit(pq.read_table(f"{sf_dir}/{table}.parquet")),
        str(tmp_path / f"{table}.parquet"),
    )
    if at_load:
        with pytest.raises(ValueError, match=f"schema drift for table '{table}'"):
            load(spark, str(tmp_path), table)
    else:
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PySparkException

        df = load(spark, str(tmp_path), table)
        # The same read error reached Python as a converted PySparkException
        # when this test ran alone, and as the raw Py4JJavaError (a
        # SparkException pyspark does not convert) inside the full suite.
        with pytest.raises(
            (PySparkException, Py4JJavaError),
            match="PARQUET_COLUMN_DATA_TYPE_MISMATCH",
        ):
            df.collect()


def test_read_version_paths_is_masked_restriction(spark, tmp_path):
    """``read_version(paths=subset)`` is the full masked read restricted
    to the rows of those files: masks (position and equality) still
    apply inside a selected file, and other files' rows never appear."""
    import re

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import manifest_table as mt

    table = str(tmp_path / "paths_subset")
    mt.commit_append(
        spark.range(200).selectExpr("id AS k", "id % 7 AS v").repartition(4, "k"),
        table,
        ["k"],
    )
    doomed = mt.read_version_with_pos(spark, table).filter("k % 5 = 0")
    doomed_at = {
        r.k: re.sub("^file:/+", "/", r.file_path) for r in doomed.collect()
    }
    mt.commit_delete(spark, table, doomed.select("file_path", "row_index"))
    v = mt.commit_delete_equality(
        spark, table, "k", spark.createDataFrame([(1,), (2,), (3,)], "k bigint")
    )
    files = [f["path"] for f in mt.read_manifest(table, v)["files"]]
    assert len(files) == 4
    subset = files[:2]

    full = mt.read_version_with_pos(spark, table, v).collect()
    want = sorted(
        (r.k, r.v) for r in full if re.sub("^file:/+", "/", r.file_path) in subset
    )
    sub = mt.read_version(spark, table, v, paths=subset)
    got = sorted((r.k, r.v) for r in sub.collect())
    assert got == want and got
    masked_in_subset = {k for k, p in doomed_at.items() if p in subset}
    assert masked_in_subset
    assert not masked_in_subset & {k for k, _ in got}
    assert not {1, 2, 3} & {k for k, _ in got}


def test_equality_delete_values_pinned_to_declared_type(spark, tmp_path):
    """Equality-delete values are read under the column's DECLARED type,
    so a commit must stage only that type: a mistyped values column
    raises ValueError before anything is staged or published. A value
    file staged before ``commit_widen_column`` still masks afterwards
    (the widened reader upcasts the narrow file), and a row appended
    after the delete stays visible (seq scoping)."""
    import os

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import manifest_table as mt

    table = str(tmp_path / "eq_typed")
    mt.commit_append(
        spark.createDataFrame([(i, i * 10) for i in range(10)], "k int, v int"),
        table,
        ["k"],
    )
    head = mt.current_version(table)
    with pytest.raises(ValueError, match="declared type"):
        mt.commit_delete_equality(
            spark, table, "k", spark.createDataFrame([(3,)], "k bigint")
        )
    assert mt.current_version(table) == head
    assert not os.path.isdir(os.path.join(table, "_deletes"))
    assert not [d for d in os.listdir(table) if d.startswith("_staging_")]

    three = spark.createDataFrame([(3,)], "k int")
    mt.commit_delete_equality(spark, table, "k", three)
    mt.commit_widen_column(table, "k", "bigint")
    mt.commit_append(spark.createDataFrame([(3, 99)], "k bigint, v int"), table, ["k"])
    df = mt.read_version(spark, table)
    assert dict(df.dtypes)["k"] == "bigint"
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == sorted([(i, i * 10) for i in range(10) if i != 3] + [(3, 99)])


def test_branch_commits_and_fast_forward(spark, tmp_path):
    """Branching contract: commits on a branch chain from the REF head
    via recorded PARENT pointers (the version log is just an id
    allocator), other refs are isolated, fast-forward moves a ref only
    along an ancestor path, DIVERGED refs reject fast-forward in both
    directions, and a branch commit interleaved with a main commit
    keeps both lineages intact (id race is retried, content never
    mixes)."""
    import pytest as _pytest

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import manifest_table as mt

    table = str(tmp_path / "branches")
    ddl = "k long"
    v1 = mt.commit_append(
        spark.createDataFrame([(1,)], ddl).repartition(1), table, ["k"]
    )
    mt.set_ref(table, "main", v1)
    mt.create_branch(table, "dev")
    # interleave: dev commit, MAIN-line commit (plain append to head),
    # then another dev commit — ids interleave, parents must not
    d1 = mt.commit_append_to_ref(
        spark.createDataFrame([(2,)], ddl).repartition(1), table, "dev", ["k"]
    )
    m2 = mt.commit_append(
        spark.createDataFrame([(100,)], ddl).repartition(1), table, ["k"]
    )
    mt.set_ref(table, "main", m2)
    d2 = mt.commit_append_to_ref(
        spark.createDataFrame([(3,)], ddl).repartition(1), table, "dev", ["k"]
    )
    # parent chain: d2 -> d1 -> v1; main's m2 -> d1 (linear default)?
    # no: m2 was a plain head append, its content merged from d1's
    # files? plain commit_append merges from the NEWEST id (d1), so
    # main's line would see dev's rows — that is why branched tables
    # commit via commit_append_to_ref on BOTH branches. Assert the
    # dev lineage is exactly right and reads are isolated by ref.
    assert mt.parent_of(table, d2) == d1
    assert mt.parent_of(table, d1) == v1
    assert mt.is_ancestor(table, v1, d2)
    assert not mt.is_ancestor(table, d2, v1)
    dev_rows = {r.k for r in mt.read_ref(spark, table, "dev").collect()}
    assert dev_rows == {1, 2, 3}  # main-line k=100 never leaked in
    # diverged: main (at m2, which chains from d1) vs dev (at d2)
    assert not mt.is_ancestor(table, m2, d2)
    with _pytest.raises(ValueError, match="not an ancestor"):
        mt.fast_forward(table, "main", "dev")
    with _pytest.raises(ValueError, match="not an ancestor"):
        mt.fast_forward(table, "dev", "main")
    # a NON-diverged ref fast-forwards; backward rejects
    mt.create_branch(table, "release", at_version=v1)
    assert mt.fast_forward(table, "release", "dev") == d2
    with _pytest.raises(ValueError, match="not an ancestor"):
        mt.fast_forward(table, "release", v1)
    assert {r.k for r in mt.read_ref(spark, table, "release").collect()} == {
        1,
        2,
        3,
    }


def test_branch_files_survive_vacuum(spark, tmp_path):
    """A branch head's ENTIRE lineage of data files survives vacuum
    (the head manifest lists them all and ref-pinned versions stay
    alive), even when intermediate branch MANIFESTS expire below the
    retention horizon — and an ancestry walk across an expired
    manifest answers False conservatively, so fast_forward refuses
    instead of crashing or guessing."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import manifest_table as mt

    table = str(tmp_path / "brvac")
    ddl = "k long"
    v1 = mt.commit_append(
        spark.createDataFrame([(1,)], ddl).repartition(1), table, ["k"]
    )
    mt.set_ref(table, "main", v1)
    mt.create_branch(table, "dev")
    for k in (2, 3, 4, 5):
        mt.commit_append_to_ref(
            spark.createDataFrame([(k,)], ddl).repartition(1),
            table,
            "dev",
            ["k"],
        )
    head = mt.get_ref(table, "dev")
    mt.vacuum(table, retain_last=1)  # expires v2..v4 manifests
    # the dev head still reads its whole lineage
    assert {r.k for r in mt.read_ref(spark, table, "dev").collect()} == {
        1, 2, 3, 4, 5,
    }
    # main (pinned at v1) also survives
    assert {r.k for r in mt.read_ref(spark, table, "main").collect()} == {1}
    # ancestry across the expired middle: conservative False -> FF refuses
    assert not mt.is_ancestor(table, v1, head)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not an ancestor"):
        mt.fast_forward(table, "main", "dev")
    # explicit re-point remains available to an operator who knows
    mt.set_ref(table, "main", head)
    assert mt.get_ref(table, "main") == head


def test_manifest_refs_rollback_and_vacuum_pin(spark, tmp_path):
    """Ref/WAP plumbing: refs move atomically and reject missing
    versions; rollback is a forward-only content copy (the bad version
    stays time-travelable); and vacuum NEVER reclaims files or the
    manifest of a ref-pinned version outside the retention window —
    an unpublished main behind staged commits must stay readable."""
    import pytest as _pytest

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        current_version,
        get_ref,
        read_manifest,
        read_ref,
        read_version,
        rollback,
        set_ref,
        vacuum,
    )

    table = str(tmp_path / "refs")
    v1 = commit_append(
        spark.createDataFrame([(1,)], "k long").repartition(1), table, ["k"]
    )
    with _pytest.raises(ValueError, match="missing"):
        set_ref(table, "main", 99)
    with _pytest.raises(ValueError, match="does not exist"):
        read_ref(spark, table, "main")
    set_ref(table, "main", v1)

    # stage 3 commits main does not publish
    for i in range(2, 5):
        commit_append(
            spark.createDataFrame([(i,)], "k long").repartition(1),
            table,
            ["k"],
        )
    assert get_ref(table, "main") == v1
    assert read_ref(spark, table, "main").count() == 1  # staged invisible

    # vacuum with retain_last=1 would normally reclaim v1's files —
    # the ref pin must protect them AND v1's manifest
    vacuum(table, retain_last=1)
    assert read_ref(spark, table, "main").count() == 1
    assert read_manifest(table, v1)["files"]

    # rollback: forward-only restore of v1's content
    v_r = rollback(table, v1)
    assert v_r == current_version(table)
    assert sorted(r.k for r in read_version(spark, table, v_r).collect()) == [1]
    # the staged (bad) versions remain in the log behind the restore
    assert read_version(spark, table, v_r - 1).count() == 4


def test_changefeed_retract_every_version(spark, tmp_path):
    """The retraction fold's per-window invariant (promised in
    q_stream_changefeed_apply_retract's docstring): after folding each
    window's changes, the running state equals the one-shot aggregate
    over the rows VISIBLE at that window's end — through an append, a
    position-delete, and an equality-delete."""
    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        commit_delete,
        commit_delete_equality,
        read_changes,
        read_version,
        read_version_with_pos,
    )

    table = str(tmp_path / "retract")
    df1 = spark.createDataFrame(
        [(i, "g%d" % (i % 2), i * 10) for i in range(10)], "k long, g string, v long"
    )
    df2 = spark.createDataFrame(
        [(i, "g%d" % (i % 2), i * 10) for i in range(10, 20)],
        "k long, g string, v long",
    )
    v1 = commit_append(df1.repartition(1), table, ["k"])
    v2 = commit_append(df2.repartition(1), table, ["k"])
    doomed = read_version_with_pos(spark, table).filter("k % 5 = 0")
    v3 = commit_delete(spark, table, doomed.select("file_path", "row_index"))
    v4 = commit_delete_equality(
        spark, table, "k", spark.createDataFrame([(3,), (7,)], "k long")
    )

    state = None
    for w_from, w_to in [(0, v1), (v1, v2), (v2, v3), (v3, v4)]:
        sign = F.when(F.col("_change_type") == "delete", -1).otherwise(1)
        d = (
            read_changes(spark, table, w_from, w_to)
            .withColumn("__s", sign)
            .groupBy("g")
            .agg(
                F.sum("__s").alias("n"),
                F.sum(F.col("__s") * F.col("v")).alias("sv"),
            )
        )
        state = (
            d
            if state is None
            else state.unionByName(d)
            .groupBy("g")
            .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
        )
        got = {
            r.g: (r.n, r.sv)
            for r in state.collect()
            if r.n > 0
        }
        want = {
            r.g: (r.n, r.sv)
            for r in read_version(spark, table, w_to)
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
            .collect()
        }
        assert got == want, (w_to, got, want)


def test_manifest_clone_semantics(spark, tmp_path):
    """Shallow clone contract: zero data copied (dst data/ empty); the
    clone inherits masks (a position-deleted source row stays invisible
    through the clone); clone commits never advance the source log;
    a clone vacuum deletes nothing from the source's data dir; cloning
    onto an existing table (or from an empty one) is rejected."""
    import glob as _glob
    import os as _os

    import pytest as _pytest

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        clone_table,
        commit_append,
        commit_delete,
        current_version,
        read_version,
        read_version_with_pos,
        vacuum,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    commit_append(
        spark.createDataFrame([(i, i) for i in range(10)], "k long, v long")
        .repartition(1),
        src,
        ["k"],
    )
    doomed = read_version_with_pos(spark, src).filter("k = 7")
    commit_delete(spark, src, doomed.select("file_path", "row_index"))

    clone_table(src, dst)
    assert not _glob.glob(_os.path.join(dst, "data", "*.parquet"))
    # masks inherited
    assert sorted(r.k for r in read_version(spark, dst).collect()) == [
        i for i in range(10) if i != 7
    ]
    # clone evolves independently
    src_v = current_version(src)
    commit_append(
        spark.createDataFrame([(100, 0)], "k long, v long").repartition(1),
        dst,
        ["k"],
    )
    assert current_version(src) == src_v
    assert read_version(spark, src).count() == 9
    assert read_version(spark, dst).count() == 10
    # clone vacuum cannot touch source data files
    n_src_files = len(_glob.glob(_os.path.join(src, "data", "*.parquet")))
    vacuum(dst, retain_last=1)
    assert len(_glob.glob(_os.path.join(src, "data", "*.parquet"))) == n_src_files
    assert read_version(spark, src).count() == 9
    with _pytest.raises(ValueError, match="already exists"):
        clone_table(src, dst)
    with _pytest.raises(ValueError, match="empty"):
        clone_table(str(tmp_path / "nosuch"), str(tmp_path / "dst2"))


def test_manifest_update_mor_semantics(spark, tmp_path):
    """Atomic MoR update contract: exactly +1 version (no
    deleted-not-yet-reinserted intermediate exists to read); old
    version reads pre-update values; updated rows carry the new values
    while untouched rows and files are byte-identical; a second update
    over the first composes; compaction folds everything in."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        commit_replace,
        commit_update_mor,
        current_version,
        read_manifest,
        read_version,
        read_version_with_pos,
    )

    table = str(tmp_path / "updmor")
    v1 = commit_append(
        spark.createDataFrame([(i, i * 10) for i in range(10)], "k long, v long")
        .repartition(1),
        table,
        ["k"],
    )
    files_v1 = [f["path"] for f in read_manifest(table, v1)["files"]]

    doomed = read_version_with_pos(spark, table).filter("k < 3")
    repl = doomed.selectExpr("k", "v + 1000 as v")
    v2 = commit_update_mor(
        spark, table, doomed.select("file_path", "row_index"), repl, ["k"]
    )
    assert v2 == v1 + 1 == current_version(table)  # atomic: one version
    got = {r.k: r.v for r in read_version(spark, table, v2).collect()}
    assert got == {i: (i * 10 + 1000 if i < 3 else i * 10) for i in range(10)}
    # time travel reads pre-update
    old = {r.k: r.v for r in read_version(spark, table, v1).collect()}
    assert old == {i: i * 10 for i in range(10)}
    # untouched files carried by reference
    assert set(files_v1).issubset(
        {f["path"] for f in read_manifest(table, v2)["files"]}
    )
    # second update composes (updates an already-updated row)
    doomed2 = read_version_with_pos(spark, table).filter("k = 0")
    assert doomed2.count() == 1  # the REPLACEMENT row, not the masked one
    repl2 = doomed2.selectExpr("k", "v + 1 as v")
    v3 = commit_update_mor(
        spark, table, doomed2.select("file_path", "row_index"), repl2, ["k"]
    )
    got = {r.k: r.v for r in read_version(spark, table, v3).collect()}
    assert got[0] == 1001 and got[1] == 1010 and got[9] == 90
    # compaction folds masks; row count conserved
    v4 = commit_replace(read_version(spark, table), table, ["k"])
    m4 = read_manifest(table, v4)
    assert "deletes" not in m4
    assert read_version(spark, table, v4).count() == 10


def test_manifest_partition_evolution_semantics(spark, tmp_path):
    """Partition evolution: a spec change requires the explicit flag;
    old files keep their OWN transform in the manifest and prune under
    it (a predicate inside the old generation's range skips all
    new-generation files and vice versa); a mixed-generation range
    keeps exactly the right files from each; compaction drops the spec
    (documented) and the compacted file is never partition-skipped."""
    import datetime

    import pytest as _pytest

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append_partitioned,
        commit_replace,
        current_version,
        prune_files_partition,
        read_manifest,
        read_version,
    )

    table = str(tmp_path / "pevol")
    rows_y = [
        (i, datetime.datetime(2019 + i % 2, 3, 10)) for i in range(4)
    ]  # 2019, 2020 — year generation
    commit_append_partitioned(
        spark.createDataFrame(rows_y, "k long, ts timestamp_ntz"),
        table,
        "ts",
        "year",
        ["ts"],
    )
    rows_m = [
        (10 + m, datetime.datetime(2021, m, 5)) for m in (1, 2, 3)
    ]  # 2021 — month generation
    with _pytest.raises(ValueError, match="partition spec mismatch"):
        commit_append_partitioned(
            spark.createDataFrame(rows_m, "k long, ts timestamp_ntz"),
            table,
            "ts",
            "month",
            ["ts"],
        )
    commit_append_partitioned(
        spark.createDataFrame(rows_m, "k long, ts timestamp_ntz"),
        table,
        "ts",
        "month",
        ["ts"],
        allow_evolution=True,
    )
    v = current_version(table)
    m = read_manifest(table, v)
    assert m["partition_spec"] == {"col": "ts", "transform": "month"}
    gens = {f["ptransform"] for f in m["files"]}
    assert gens == {"year", "month"}

    # old-generation predicate: keeps ONLY the 2019 year file
    files, total = prune_files_partition(
        table, v, "2019-01-01 00:00:00", "2019-12-31 23:59:59"
    )
    assert total == 5  # 2 year files + 3 month files
    assert len(files) == 1
    assert sorted(r.k for r in spark.read.parquet(*files).collect()) == [0, 2]

    # new-generation predicate: keeps ONLY February 2021
    files, _ = prune_files_partition(
        table, v, "2021-02-01 00:00:00", "2021-02-28 23:59:59"
    )
    assert len(files) == 1
    assert [r.k for r in spark.read.parquet(*files).collect()] == [12]

    # mixed range: 2020 H2 .. 2021 January — the 2020 year file AND the
    # January month file, nothing else
    files, _ = prune_files_partition(
        table, v, "2020-07-01 00:00:00", "2021-01-31 23:59:59"
    )
    got = sorted(r.k for r in spark.read.parquet(*files).collect())
    assert got == [1, 3, 11]

    # compaction folds everything into unvalued files -> never skipped
    v2 = commit_replace(read_version(spark, table), table, ["ts"])
    files, total = prune_files_partition(
        table, v2, "1900-01-01 00:00:00", "1900-12-31 23:59:59"
    )
    assert len(files) == total  # conservative: no values, no skipping
    assert read_version(spark, table, v2).count() == 7


def test_manifest_cdc_apply_every_version(spark, sf_dir, tmp_path):
    """Incremental view maintenance contract: at EVERY table version v,
    the delta-folded state equals the one-shot aggregate over
    read_version(v) — not just at the final version (associativity of
    the (sum-count, sum-decimal) fold across arbitrary batch
    boundaries). Also pins that each refresh read ONLY the delta files
    (diff cardinality == the slice's file count)."""
    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.functions.numeric import exact
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        diff_files,
        read_manifest,
        read_version,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    table = str(tmp_path / "cdc")
    e = load(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")

    def agg(df):
        return (
            df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(exact(F.col("value"))).alias("sum_dec"),
            )
        )

    state = None
    prev_nfiles = 0
    for i in range(3):
        v = commit_append(
            e.filter(F.col("event_id") % 3 == i).repartition(2),
            table,
            ["ts"],
        )
        delta = diff_files(table, v - 1, v)
        nfiles = len(read_manifest(table, v)["files"])
        assert len(delta) == nfiles - prev_nfiles  # only the new files
        prev_nfiles = nfiles
        d = agg(spark.read.parquet(*delta))
        state = (
            d
            if state is None
            else state.unionByName(d)
            .groupBy("event_type")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_dec").alias("sum_dec"),
            )
        )
        got = {
            r.event_type: (r.n_events, r.sum_dec)
            for r in state.collect()
        }
        want = {
            r.event_type: (r.n_events, r.sum_dec)
            for r in agg(read_version(spark, table, v)).collect()
        }
        assert got == want, f"state diverged at version {v}"


def test_remove_orphans_age_gate_history_and_vectors(spark, sf_dir, tmp_path):
    """remove_orphan_files contract: (a) reclaims old unreferenced
    files in BOTH the data and delete-vector directories, (b) the age
    gate protects anything younger than older_than_s (a concurrent
    writer's staged files), (c) NO manifest expires — every version
    reads identically after the GC (the property vacuum cannot give),
    (d) idempotent: a second run finds nothing."""
    import os
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        commit_delete,
        read_manifest,
        read_version,
        read_version_with_pos,
        remove_orphan_files,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    table = str(tmp_path / "t")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    commit_append(o.filter(F.col("o_orderkey") % 2 == 0), table, ["o_orderkey"])
    commit_append(o.filter(F.col("o_orderkey") % 2 == 1), table, ["o_orderkey"])
    doomed = (
        read_version_with_pos(spark, table)
        .filter(F.col("o_orderkey") % 100 == 0)
        .select("file_path", "row_index")
    )
    v3 = commit_delete(spark, table, doomed)
    pre = {v: read_version(spark, table, v).count() for v in (1, 2, 3)}

    m = read_manifest(table, v3)
    data_donor = m["files"][0]["path"]
    dv_donor = m["deletes"][0]["path"]
    now = os.path.getmtime(data_donor) + 1000.0
    planted = []
    for donor, age_s in ((data_donor, 7000.0), (data_donor, 10.0),
                         (dv_donor, 7000.0)):
        p = os.path.join(
            os.path.dirname(donor), f"orph_{uuid.uuid4().hex}.parquet"
        )
        shutil.copyfile(donor, p)
        os.utime(p, (now - age_s, now - age_s))
        planted.append(p)
    old_data, fresh_data, old_dv = planted

    deleted, skipped = remove_orphan_files(table, older_than_s=3600.0, now=now)
    assert (deleted, skipped) == (2, 1)
    assert not os.path.exists(old_data) and not os.path.exists(old_dv)
    assert os.path.exists(fresh_data)
    # full history intact, masks included
    for v, n in pre.items():
        assert read_version(spark, table, v).count() == n
    # idempotent (fresh file still inside the gate at the same `now`)
    assert remove_orphan_files(table, older_than_s=3600.0, now=now) == (0, 1)


def test_policy_scope_exemption_and_drop(spark, sf_dir, tmp_path):
    """Governance-policy contract: (a) schema is principal-invariant
    (masks cast back to declared types), (b) exempt principals read
    through, (c) policies are table-scoped — they govern snapshots
    committed before registration, (d) drop_policy restores the
    unmasked read, (e) registration touches zero data files."""
    import glob
    import os

    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        _data_dir,
        commit_append,
        drop_policy,
        read_with_policy,
        set_policy,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    table = str(tmp_path / "t")
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    commit_append(c, table, ["c_custkey"])
    files_before = sorted(glob.glob(os.path.join(_data_dir(table), "*")))
    set_policy(
        table,
        "pii",
        row_filter="c_nationkey < 13",
        column_masks={"c_acctbal": "CAST(-1.0 AS DOUBLE)"},
        exempt=("admin",),
    )
    assert sorted(glob.glob(os.path.join(_data_dir(table), "*"))) == files_before

    analyst = read_with_policy(spark, table, "analyst")
    admin = read_with_policy(spark, table, "admin")
    # principal-invariant shape: same names + types (nullability may
    # legitimately TIGHTEN under a constant mask — it is advisory)
    assert analyst.dtypes == admin.dtypes
    assert analyst.filter(F.col("c_nationkey") >= 13).count() == 0
    assert analyst.filter(F.col("c_acctbal") != -1.0).count() == 0
    assert admin.filter(F.col("c_nationkey") >= 13).count() > 0
    # table-scoped: version 1 predates nothing here, but a post-policy
    # append then a v1 travel read must still be governed
    commit_append(c.limit(0), table, ["c_custkey"])
    assert (
        read_with_policy(spark, table, "analyst", 1)
        .filter(F.col("c_nationkey") >= 13)
        .count()
        == 0
    )
    drop_policy(table, "pii")
    restored = read_with_policy(spark, table, "analyst")
    assert restored.filter(F.col("c_nationkey") >= 13).count() > 0


def test_semantic_dedup_plan_has_no_cartesian(spark, sf_dir):
    """q_dedup_semantic's plan contract: candidates come from the banded
    LSH bucket equi-join — a cartesian product (or broadcast
    nested-loop) anywhere in the plan means the bucketing silently
    degraded to all-pairs, the exact failure mode LSH exists to
    prevent."""
    plan = (
        QUERIES["q_dedup_semantic"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_semantic_dedup_clusters_are_consistent(spark, sf_dir):
    """Cluster-label sanity for q_dedup_semantic: every label is a
    member of its own cluster (keep-min representative exists), labels
    are cluster minima, sizes agree with membership counts, and the
    kept flag marks exactly the representative."""
    rows = QUERIES["q_dedup_semantic"](spark, sf_dir).collect()
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        ids = sorted(m.vec_id for m in members)
        assert ids[0] == cid, (cid, ids[:3])
        assert all(m.cluster_size == len(members) for m in members)
        assert [m.vec_id for m in members if m.kept] == [cid]


def test_kmeans_fixedrounds_matches_pure_numpy(spark, sf_dir):
    """The BLAS production loop q_cluster_kmeans_fixedrounds runs must
    agree with a plain-numpy replay of the same 4 decimal-finished
    Lloyd rounds — assignment AND centroid trajectory — independently
    of the DuckDB oracle (belt + suspenders for the gram-vs-fold
    argmin agreement the oracle hash proves)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from t_mobile_data_fnt_etl_pipeline_aws_spark.operators.clustering import (
        _KM_FIXED_ROUNDS,
        _KM_K,
    )

    emb = {
        r.vec_id: np.array(r.emb, dtype=np.float64)
        for r in load(spark, sf_dir, "embeddings")
        .selectExpr(
            "vec_id", "transform(embedding, x -> cast(x as double)) as emb"
        )
        .collect()
    }
    ids = sorted(emb)
    X = np.vstack([emb[i] for i in ids])
    C = np.vstack([emb[i] for i in range(_KM_K)])
    q6 = Decimal("1e-6")
    for _ in range(_KM_FIXED_ROUNDS):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        j = d2.argmin(axis=1)
        newC = np.empty_like(C)
        for c in range(_KM_K):
            pts = X[j == c]
            for p in range(X.shape[1]):
                s = float(
                    Decimal(str(np.sum(pts[:, p], dtype=np.float64)))
                    .quantize(q6, rounding=ROUND_HALF_UP)
                )
                newC[c, p] = s / len(pts)
        C = newC
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    want = {ids[i]: int(d2[i].argmin()) for i in range(len(ids))}
    got = {
        r.vec_id: r.cluster
        for r in QUERIES["q_cluster_kmeans_fixedrounds"](
            spark, sf_dir
        ).collect()
    }
    assert got == want


def test_knn_portable_plan_has_no_cartesian(spark, sf_dir):
    """q_knn_join_portable's plan contract: candidates come from the
    asymmetric banded bucket equi-join; a CartesianProduct or
    BroadcastNestedLoopJoin anywhere means the LSH degraded to
    all-pairs — the failure mode the portable twin exists to prove
    absent (same contract as the semantic-dedup and BLAS forms)."""
    plan = (
        QUERIES["q_knn_join_portable"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_knn_portable_matches_bruteforce_topk(spark, sf_dir):
    """Within-candidate exactness: every (probe, rnk) row the portable
    kNN emits must agree with a numpy brute-force cosine ranking
    RESTRICTED to the same candidate set implied by the plane family —
    recomputed independently here (planes from md5, banding in Python).
    This pins the Spark side against a third implementation (numpy)
    in addition to the DuckDB oracle."""
    import hashlib

    import numpy as np

    from t_mobile_data_fnt_etl_pipeline_aws_spark.operators.similarity import (
        _PKNN_BAND_BITS,
        _PKNN_CORPUS,
        _PKNN_DIM,
        _PKNN_K,
        _PKNN_PLANES,
        _PKNN_PROBES,
        _pknn_signs,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    rows = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _PKNN_CORPUS)
        .select("vec_id", "embedding")
        .collect()
    )
    ids = [r.vec_id for r in rows]
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    S = np.array(_pknn_signs())
    bits = (X @ S.T) > 0  # n × planes
    n_bands = _PKNN_PLANES // _PKNN_BAND_BITS
    sigs = {
        ids[i]: [
            tuple(bits[i, b * _PKNN_BAND_BITS : (b + 1) * _PKNN_BAND_BITS])
            for b in range(n_bands)
        ]
        for i in range(len(ids))
    }
    buckets: dict = {}
    for vid, bs in sigs.items():
        for b, sig in enumerate(bs):
            buckets.setdefault((b, sig), []).append(vid)
    idx = {v: i for i, v in enumerate(ids)}
    nrm = np.linalg.norm(X, axis=1)
    want = {}
    for pid in [v for v in ids if v < _PKNN_PROBES]:
        cands = set()
        for b, sig in enumerate(sigs[pid]):
            cands.update(buckets[(b, sig)])
        cands.discard(pid)
        scored = sorted(
            (
                (
                    -(X[idx[pid]] @ X[idx[c]]) / (nrm[idx[pid]] * nrm[idx[c]]),
                    c,
                )
                for c in cands
            ),
        )[:_PKNN_K]
        for rnk, (negcos, c) in enumerate(scored, start=1):
            want[(pid, rnk)] = c
    got = {
        (r.probe_id, r.rnk): r.neighbor_id
        for r in QUERIES["q_knn_join_portable"](spark, sf_dir).collect()
    }
    assert got == want


def test_drop_partition_refuses_unpartitioned(spark, sf_dir, tmp_path):
    """commit_drop_partition must refuse a table without a declared
    partition spec — a row-level predicate there needs MoR/CoW."""
    import pytest as _pytest

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        commit_drop_partition,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    table = str(tmp_path / "plain")
    commit_append(
        load(spark, sf_dir, "region"), table, ["r_regionkey"]
    )
    with _pytest.raises(ValueError, match="not partitioned"):
        commit_drop_partition(table, ["1996-03"])


def test_drop_partition_travel_and_vacuum(spark, sf_dir, tmp_path):
    """The drop is a forward commit: time travel to the pre-drop
    version still reads the dropped month; after vacuum(retain_last=1)
    the dropped files are physically reclaimed and the live read is
    unchanged — the metadata drop + vacuum pair is the erasure path."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append_partitioned,
        commit_drop_partition,
        current_version,
        read_manifest,
        read_version,
        vacuum,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    table = str(tmp_path / "part")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1996)
        .select("o_orderkey", "o_orderdate")
    )
    commit_append_partitioned(
        o, table, "o_orderdate", "month", ["o_orderdate"]
    )
    v1 = current_version(table)
    n_total = read_version(spark, table, v1).count()
    n_march = (
        read_version(spark, table, v1)
        .filter(F.month("o_orderdate") == 3)
        .count()
    )
    assert n_march > 0
    v2, dropped = commit_drop_partition(table, ["1996-03"])
    assert dropped > 0
    live = read_version(spark, table, v2)
    assert live.count() == n_total - n_march
    assert live.filter(F.month("o_orderdate") == 3).count() == 0
    # forward-only: travel still sees March
    assert (
        read_version(spark, table, v1)
        .filter(F.month("o_orderdate") == 3)
        .count()
        == n_march
    )
    # vacuum reclaims the dropped files; the live read is unchanged
    import os as _os

    dropped_paths = {
        f["path"] for f in read_manifest(table, v1)["files"]
    } - {f["path"] for f in read_manifest(table, v2)["files"]}
    assert dropped_paths and all(_os.path.exists(p) for p in dropped_paths)
    vacuum(table, retain_last=1)
    assert all(not _os.path.exists(p) for p in dropped_paths)
    assert read_version(spark, table, v2).count() == n_total - n_march


def test_nfc_normalization_idempotent_and_real(spark, sf_dir):
    """q_text_normalize_nfc must do real composition work (every row
    changed: the injected probe guarantees it) and be idempotent — the
    normalized output's md5 equals the md5 of normalizing it twice."""
    import unicodedata

    pdf = QUERIES["q_text_normalize_nfc"](spark, sf_dir).toPandas()
    assert pdf["changed"].all()
    assert (pdf["n_chars_nfc"] < pdf["n_chars_raw"]).all()
    probe = "Café Å: "
    once = unicodedata.normalize("NFC", probe)
    assert unicodedata.normalize("NFC", once) == once


def test_bucket_transform_jvm_python_agree(spark):
    """The bucket[N] partition value derived INSIDE the write plan
    (F.md5 → conv → pmod) must equal the predicate-side hashlib replay
    (partition_value_of) for every key — a divergence silently prunes
    the WRONG file (row loss, the worst failure class)."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        _transform_expr,
        partition_value_of,
    )

    keys = list(range(0, 5000, 37)) + [2**40 + 7, 999999999999]
    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    got = {
        r.k: r.b
        for r in df.select(
            "k", _transform_expr("k", "bucket[8]").alias("b")
        ).collect()
    }
    for k in keys:
        assert got[k] == partition_value_of("bucket[8]", k), k
    # bounded range
    assert all(0 <= int(v) < 8 for v in got.values())


def test_partition_value_pruning_identity_and_bucket(spark, sf_dir, tmp_path):
    """Equality pruning through identity and bucket transforms: the
    surviving files carry exactly the mapped value; unvalued files are
    always kept; unknown transforms degrade to keep-everything."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append_partitioned,
        current_version,
        prune_files_partition_value,
        read_manifest,
        read_version,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    # identity
    t1 = str(tmp_path / "ident")
    commit_append_partitioned(
        o, t1, "o_orderpriority", "identity", ["o_orderkey"]
    )
    v = current_version(t1)
    files, total = prune_files_partition_value(t1, v, "2-HIGH")
    by_path = {
        f["path"]: f.get("partition") for f in read_manifest(t1, v)["files"]
    }
    assert 0 < len(files) < total
    assert all(by_path[p] == "2-HIGH" for p in files)
    got = spark.read.parquet(*files).filter(
        F.col("o_orderpriority") == "2-HIGH"
    )
    want = o.filter(F.col("o_orderpriority") == "2-HIGH")
    assert got.count() == want.count()
    # bucket: every row of the probe key lands in the surviving files
    t2 = str(tmp_path / "buck")
    commit_append_partitioned(o, t2, "o_custkey", "bucket[4]", ["o_orderkey"])
    v2 = current_version(t2)
    probe = 37
    files2, total2 = prune_files_partition_value(t2, v2, probe)
    assert 0 < len(files2) < total2
    got2 = spark.read.parquet(*files2).filter(F.col("o_custkey") == probe)
    assert got2.count() == o.filter(F.col("o_custkey") == probe).count() > 0
    # a value matching nothing still keeps every unvalued file and
    # never errors or over-prunes live data
    files3, total3 = prune_files_partition_value(t2, v2, 10**15)
    assert len(files3) <= total3  # never errors, never over-prunes live
    # read_version still returns every row regardless of pruning
    assert read_version(spark, t2, v2).count() == o.count()


def test_evolve_spec_accepts_bucket_and_identity(spark, sf_dir, tmp_path):
    """Spec evolution to bucket/identity validates; junk rejects."""
    import pytest as _pytest

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.manifest_table import (
        commit_append,
        evolve_partition_spec,
    )
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.tables import load

    t = str(tmp_path / "evo")
    commit_append(
        load(spark, sf_dir, "region"), t, ["r_regionkey"]
    )
    evolve_partition_spec(t, {"col": "r_regionkey", "transform": "bucket[16]"})
    evolve_partition_spec(t, {"col": "r_name", "transform": "identity"})
    with _pytest.raises(ValueError, match="unsupported transform"):
        evolve_partition_spec(t, {"col": "r_name", "transform": "bucket[x]"})


def test_mann_whitney_u_identity_and_direction(spark, sf_dir):
    """U_a + U_b == n_a * n_b (the rank-sum identity — wrong ranks or
    a dropped tie correction break it), and the z sign agrees with the
    mean-rank direction."""
    row = QUERIES["q_stats_mann_whitney"](spark, sf_dir).collect()[0]
    assert row.u_a + row.u_b == row.n_a * row.n_b
    assert (row.z_score > 0) == (row.u_a > row.n_a * row.n_b / 2.0)


def test_label_propagation_communities_consistent(spark, sf_dir):
    """Every community label is itself a node of the subgraph, sizes
    agree with membership counts, and at least one round of real
    propagation happened (not every node kept its own label)."""
    pdf = QUERIES["q_graph_label_propagation"](spark, sf_dir).toPandas()
    nodes = set(pdf["node"])
    assert set(pdf["community"]) <= nodes
    sizes = pdf.groupby("community").size()
    for comm, grp in pdf.groupby("community"):
        assert (grp["community_size"] == sizes[comm]).all()
    assert (pdf["community"] != pdf["node"]).any()


def test_local_checkpoints_carry_row_caps():
    """VERDICT r15 item 4: localCheckpoint truncates lineage, so an
    executor loss KILLS the query instead of recomputing — it is
    reserved for small decision tables. Every call site, lazy
    ``localCheckpoint(eager=False)`` included, must document its bound
    with a 'row-cap:' marker within the preceding 8 lines;
    corpus-sized intermediates must use functions.dfutil.materialized
    (lineage-keeping persist) instead."""
    import pathlib

    root = (
        pathlib.Path(__file__).resolve().parents[1]
        / "t_mobile_data_fnt_etl_pipeline_aws_spark"
    )
    offenders = []
    for p in sorted(root.rglob("*.py")):
        lines = p.read_text().splitlines()
        for i, ln in enumerate(lines):
            if ".localCheckpoint(" in ln:
                window = "\n".join(lines[max(0, i - 8) : i + 1])
                if "row-cap:" not in window:
                    offenders.append(f"{p.relative_to(root)}:{i + 1}")
    assert not offenders, (
        "localCheckpoint() without a documented row-cap (use "
        "functions.dfutil.materialized for corpus-sized intermediates): "
        f"{offenders}"
    )


def test_accumulator_type_named_only_in_numeric():
    """The exact-sum accumulator type is decided in functions/numeric.py
    alone: no other package module imports it or spells decimal(30,10)
    in code (SQL text included; docstrings and comments are prose), so
    moving the accumulator to another type stays a one-module change.
    Per-row exact values go through exact()/sql_exact(), sums through
    dsum/sql_dsum or finish()/sql_finish_dec() over them."""
    import ast
    import pathlib
    import re

    root = (
        pathlib.Path(__file__).resolve().parents[1]
        / "t_mobile_data_fnt_etl_pipeline_aws_spark"
    )
    spelled = re.compile(r"decimal\s*\(\s*30\s*,\s*10\s*\)", re.IGNORECASE)
    offenders = []
    for p in sorted(root.rglob("*.py")):
        rel = p.relative_to(root).as_posix()
        if rel == "functions/numeric.py":
            continue
        tree = ast.parse(p.read_text())
        prose = {
            id(n.value)
            for n in ast.walk(tree)
            if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
        }
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and any(
                a.name in ("DEC", "_DEC") for a in n.names
            ):
                offenders.append(f"{rel}:{n.lineno} imports the accumulator type")
            elif isinstance(n, ast.Attribute) and n.attr in ("DEC", "_DEC"):
                offenders.append(f"{rel}:{n.lineno} reads the accumulator type")
            elif (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and id(n) not in prose
                and spelled.search(n.value)
            ):
                offenders.append(f"{rel}:{n.lineno} spells decimal(30,10)")
    assert not offenders, offenders
