"""Deterministic frequency/membership sketches: count-min and Bloom.

Reference parity: the reference snapshot publishes no code
(/root/reference/README.md:1-2); these cover the sketch block of
SURVEY.md §2's scale-pattern extras beyond the HLL re-aggregation already
in aggregates.py.

Both sketches use explicit universal hashing — h(x) = ((a*x + b) mod p)
mod w with p = 2^31-1 and fixed (a, b) per hash row — instead of an
engine-native hash, so the EXACT same sketch is computable in DuckDB SQL
and the driver's value-hash gate applies to the estimates themselves, not
just row counts. All arithmetic stays in bigint: a*x ≤ ~1e6 * 1e9 < 2^63,
no ANSI overflow, identical mod semantics on non-negative operands.

Scale story: both sketches are the fixed-size summaries that make 100-TB
pipelines cheap — a CMS is a few KB of counters that answers frequency
point-queries without a per-key shuffle, and a Bloom filter built from a
selective dimension broadcast to the fact scan is exactly Spark's runtime
row-group pruning (spark.sql.optimizer.runtime.bloomFilter.enabled),
reconstructed here as an explicit, oracle-checkable plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import load

#: Mersenne prime for universal hashing (fits bigint; mod identical
#: across engines for non-negative operands).
_P = 2_147_483_647

#: (a, b) pairs — one per hash row; small odd multipliers.
_HASHES = [(999_983, 12_345), (424_243, 98_765), (777_713, 55_555), (131_071, 7)]

#: CMS width (buckets per row) and probe-set bound.
_CMS_W = 512
_CMS_PROBE = 20

#: Bloom bit-array size (2^16 bits) and number of hash functions.
_BLOOM_M = 1 << 16
_BLOOM_K = 3


def _h_sql(expr: str, a: int, b: int, w: int) -> str:
    return f"((({a} * ({expr}) + {b}) % {_P}) % {w})"


def _h_col(col, a: int, b: int, w: int):
    return ((F.lit(a) * col + F.lit(b)) % _P) % w


@query(
    "q_sketch_cms_freq",
    bench=False,
    oracle=f"""
    WITH hashed AS (
        SELECT h.i,
               CASE h.i
                 {" ".join(
                     f"WHEN {i} THEN {_h_sql('user_id', a, b, _CMS_W)}"
                     for i, (a, b) in enumerate(_HASHES)
                 )}
               END AS bucket
        FROM events, (SELECT unnest([0, 1, 2, 3]) AS i) h
    ),
    cells AS (
        SELECT i, bucket, count(*) AS cnt FROM hashed GROUP BY i, bucket
    ),
    probes AS (
        SELECT user_id, count(*) AS n_exact
        FROM events WHERE user_id < {_CMS_PROBE}
        GROUP BY user_id
    ),
    probe_rows AS (
        SELECT p.user_id, p.n_exact, c.cnt
        FROM probes p, (SELECT unnest([0, 1, 2, 3]) AS i) h
        JOIN cells c
          ON c.i = h.i
         AND c.bucket = CASE h.i
               {" ".join(
                   f"WHEN {i} THEN {_h_sql('p.user_id', a, b, _CMS_W)}"
                   for i, (a, b) in enumerate(_HASHES)
               )}
             END
    )
    SELECT user_id, n_exact, min(cnt) AS n_est
    FROM probe_rows
    GROUP BY user_id, n_exact
    """,
)
def q_sketch_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates vs exact counts.

    Builds a d=4 × w=512 CMS over event user_ids (one aggregate to at
    most 2048 cells — constant size at ANY data volume), then answers
    point queries for a probe set, reporting the exact count beside the
    estimate. CMS guarantees n_est ≥ n_exact (collisions only inflate);
    tests/test_invariants.py pins that plus the (ε,δ) overcount bound.

    Scale: the build is one map-side-combined aggregate whose output is
    O(d·w) regardless of input rows; the probe is a broadcast join of
    the tiny cell table. This is the shape that replaces a full per-key
    count shuffle when only a bounded probe set needs answers.
    """
    e = load(spark, sf_dir, "events")
    uid = F.col("user_id")
    hashed = e.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        _h_col(uid, a, b, _CMS_W).alias("bucket"),
                    )
                    for i, (a, b) in enumerate(_HASHES)
                ]
            )
        ).alias("h")
    ).select("h.i", "h.bucket")
    cells = hashed.groupBy("i", "bucket").agg(F.count("*").alias("cnt"))

    probes = (
        e.filter(uid < _CMS_PROBE)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_exact"))
    )
    probe_rows = probes.select(
        "user_id",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        _h_col(F.col("user_id"), a, b, _CMS_W).alias("bucket"),
                    )
                    for i, (a, b) in enumerate(_HASHES)
                ]
            )
        ).alias("h"),
    ).select("user_id", "n_exact", "h.i", "h.bucket")
    joined = probe_rows.join(F.broadcast(cells), ["i", "bucket"])
    return joined.groupBy("user_id", "n_exact").agg(F.min("cnt").alias("n_est"))


@query(
    "q_sketch_bloom_prune",
    bench=False,
    oracle=f"""
    WITH members AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderpriority = '1-URGENT'
    ),
    bits AS (
        SELECT DISTINCT
               CASE h.j
                 {" ".join(
                     f"WHEN {j} THEN {_h_sql('o_custkey', a, b, _BLOOM_M)}"
                     for j, (a, b) in enumerate(_HASHES[:_BLOOM_K])
                 )}
               END AS pos
        FROM members, (SELECT unnest([0, 1, 2]) AS j) h
    ),
    probe AS (
        SELECT c.c_custkey, c.c_mktsegment,
               count(b.pos) AS n_hit
        FROM customer c
        CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) h
        LEFT JOIN bits b
          ON b.pos = CASE h.j
               {" ".join(
                   f"WHEN {j} THEN {_h_sql('c.c_custkey', a, b, _BLOOM_M)}"
                   for j, (a, b) in enumerate(_HASHES[:_BLOOM_K])
               )}
             END
        GROUP BY c.c_custkey, c.c_mktsegment
    )
    SELECT p.c_mktsegment,
           count(*) AS n_customers,
           count(*) FILTER (p.n_hit = {_BLOOM_K}) AS n_candidates,
           count(*) FILTER (m.o_custkey IS NOT NULL) AS n_members,
           count(*) FILTER (p.n_hit = {_BLOOM_K} AND m.o_custkey IS NULL)
               AS n_false_pos
    FROM probe p
    LEFT JOIN members m ON m.o_custkey = p.c_custkey
    GROUP BY p.c_mktsegment
    """,
)
def q_sketch_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning: candidates vs true members per segment.

    Builds an m=2^16-bit, k=3 Bloom filter over the custkeys holding
    urgent orders (the selective build side), probes every customer, and
    reports per market segment how many probe rows the filter would
    admit vs the true member count — the false-positive column is the
    wasted post-filter work, and n_candidates ≥ n_members (no false
    negatives) is pinned in tests/test_invariants.py.

    This is Spark's runtime bloom-filter join pruning made explicit: at
    100 TB the set-bit table (≤ m rows, here ≤ 65k) broadcasts to the
    fact scan and rejects most probe rows before the real join shuffle.

    Scale: build = one distinct + one distinct-project (both bounded by
    m); probe = broadcast hash join, no shuffle of the probe side; the
    exact-membership comparison join is itself broadcast (members is
    bounded by the build side's distinct keys).
    """
    m = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    bits = (
        m.select(
            F.explode(
                F.array(
                    *[
                        _h_col(F.col("o_custkey"), a, b, _BLOOM_M)
                        for a, b in _HASHES[:_BLOOM_K]
                    ]
                )
            ).alias("pos")
        )
        .distinct()
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    probe_pos = c.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(
            F.array(
                *[
                    _h_col(F.col("c_custkey"), a, b, _BLOOM_M)
                    for a, b in _HASHES[:_BLOOM_K]
                ]
            )
        ).alias("pos"),
    )
    hit = (
        probe_pos.join(F.broadcast(bits.withColumn("present", F.lit(1))), "pos", "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("present").alias("n_hit"))
    )
    with_truth = hit.join(
        F.broadcast(m.withColumn("is_member", F.lit(1))),
        hit.c_custkey == m.o_custkey,
        "left",
    )
    cand = F.col("n_hit") == _BLOOM_K
    return with_truth.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.count(F.when(cand, 1)).alias("n_candidates"),
        F.count("is_member").alias("n_members"),
        F.count(F.when(cand & F.col("is_member").isNull(), 1)).alias("n_false_pos"),
    )


@query(
    "q_sketch_approx_topk",
    oracle="""
    WITH counts AS (
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        FROM orders GROUP BY 1, 2
    ),
    ranked AS (
        SELECT o_orderstatus, o_orderpriority, cnt,
               row_number() OVER (
                   PARTITION BY o_orderstatus
                   ORDER BY cnt DESC, o_orderpriority) AS rk
        FROM counts
    )
    SELECT o_orderstatus, CAST(rk AS INT) AS rk, o_orderpriority,
           CAST(cnt AS BIGINT) AS cnt
    FROM ranked WHERE rk <= 3
    """,
)
def q_sketch_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters per group via Spark 4's approx_top_k sketch — the
    one-pass frequent-items summary (Apache DataSketches frequent-items
    under the hood) that replaces a full groupBy-count-rank cascade
    when only the top few items matter.

    approx_top_k(item, k, maxItemsTracked) is EXACT whenever the
    per-group distinct-item count stays within maxItemsTracked — true
    here (5 order priorities, 10_000 tracked) and verifiable at any scale
    where the item domain is bounded (ship modes, status codes, country
    codes — precisely the columns heavy-hitter queries target). That
    exactness makes the sketch SQL-oracle-able: the oracle is the plain
    count-rank form. Engine tie-break inside the sketch is unspecified,
    so the sketch is asked for k=10 (> the 5-priority domain, so the
    boundary never lands on a tie) and the returned (item, count)
    structs are re-ranked DETERMINISTICALLY (count desc, item asc)
    before the top-3 cut, rather than trusting sketch order. One
    partial-aggregated shuffle carrying a KB-sized sketch per group —
    vs the count-rank cascade's full (group, item) shuffle.
    """
    o = load(spark, sf_dir, "orders")
    sk = o.groupBy("o_orderstatus").agg(
        F.expr("approx_top_k(o_orderpriority, 10, 10000)").alias("top")
    )
    from pyspark.sql import Window

    exploded = sk.select(
        "o_orderstatus",
        F.explode("top").alias("e"),
    ).select(
        "o_orderstatus",
        F.col("e.item").alias("o_orderpriority"),
        F.col("e.count").alias("cnt"),
    )
    rk = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), F.asc("o_orderpriority")
    )
    return exploded.select(
        "o_orderstatus",
        F.row_number().over(rk).alias("rk"),
        "o_orderpriority",
        F.col("cnt").cast("bigint").alias("cnt"),
    ).filter(F.col("rk") <= 3)
