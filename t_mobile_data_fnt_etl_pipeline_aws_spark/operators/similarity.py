"""Similarity search over embedding vectors (SURVEY.md §2.11).

Brute-force cosine top-k is the exactness baseline; the scale paths are
LSH bucketing (random-hyperplane signatures → bucket join → exact re-rank)
and IVF (coarse centroids → probe only the nearest cell). The probe vector
is always a one-row broadcast — scoring is a map-side pass over the
embeddings scan, no shuffle until the final top-k (TakeOrderedAndProject).

Vector math convention (oracle parity): float32 elements are cast to
double FIRST; dot/norm are sequential left folds — Spark F.aggregate
seeded with 0.0 equals DuckDB list_reduce's first-element seeding because
0.0 + x == x exactly; results are finished at 6 dp.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import DEC, finish, sql_finish_dec
from ..registry import query
from ..sources.tables import load


def _as_dbl(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    ))


_SQL_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " s -> cast(s[1] as double) * cast(s[2] as double)), (x, y) -> x + y)"
)
_SQL_NORM = (
    "sqrt(list_reduce(list_transform({a},"
    " x -> cast(x as double) * cast(x as double)), (y, z) -> y + z))"
)


@query(
    "q_sim_cosine_pair",
    bench=False,
    oracle=f"""
    WITH a AS (SELECT embedding AS ea FROM embeddings WHERE vec_id = 7),
         b AS (SELECT embedding AS eb FROM embeddings WHERE vec_id = 42)
    SELECT 7 AS vec_a, 42 AS vec_b,
           {_SQL_DOT.format(a='ea', b='eb')}
               / ({_SQL_NORM.format(a='ea')} * {_SQL_NORM.format(a='eb')}) AS cosine
    FROM a CROSS JOIN b
    """,
)
def q_sim_cosine_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine similarity between two vectors selected by vec_id."""
    e = load(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") == 7).select(_as_dbl("embedding").alias("ea"))
    b = e.filter(F.col("vec_id") == 42).select(_as_dbl("embedding").alias("eb"))
    j = a.crossJoin(b)
    cos = _dot(F.col("ea"), F.col("eb")) / (_norm(F.col("ea")) * _norm(F.col("eb")))
    return j.select(
        F.lit(7).alias("vec_a"), F.lit(42).alias("vec_b"), cos.alias("cosine")
    )


@query(
    "q_sim_search_topk",
    oracle=f"""
    WITH probe AS (
        SELECT list_transform(embedding, x -> cast(x as double)) AS pe,
               {_SQL_NORM.format(a='embedding')} AS pn
        FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
        SELECT e.vec_id, e.label,
               {_SQL_DOT.format(a='e.embedding', b='probe.pe')}
                   / ({_SQL_NORM.format(a='e.embedding')} * probe.pn) AS cos_raw
        FROM embeddings e CROSS JOIN probe
        WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, cos_raw AS cosine
    FROM scored
    ORDER BY cos_raw DESC, vec_id ASC
    LIMIT 10
    """,
)
def q_sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of probe vec_id=0.

    The probe is a one-row broadcast; scoring is embarrassingly parallel
    over the scan and the final top-k is TakeOrderedAndProject — this
    exact plan is the 100-TB baseline ANN answer (one pass, no shuffle).
    Tiebreak on vec_id keeps the surviving row set deterministic.
    """
    e = load(spark, sf_dir, "embeddings")
    probe = e.filter(F.col("vec_id") == 0).select(
        _as_dbl("embedding").alias("pe"),
        _norm(_as_dbl("embedding")).alias("pn"),
    )
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            "label",
            (
                _dot(_as_dbl("embedding"), F.col("pe"))
                / (_norm(_as_dbl("embedding")) * F.col("pn"))
            ).alias("cos_raw"),
        )
    )
    return (
        scored.orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "label", F.col("cos_raw").alias("cosine"))
    )


#: banded random-hyperplane LSH: 4 bands × 8 bits = 32 planes. Recall and
#: in-bucket pair cost are tuned INDEPENDENTLY: more bits per band shrinks
#: buckets (pair cost ~ n²/2^bits per band), more bands recovers recall
#: (P[candidate] = 1-(1-p^bits)^bands). Round 1 shipped a single 8-bit
#: signature — 256 buckets total, an O(n²/256) trap at 10^10 vectors; the
#: banded form scales bits with data volume without giving up recall.
_KNN_BANDS, _KNN_BITS = 4, 8


def _banded_knn_join(
    spark: SparkSession, sf_dir: str, multiprobe: bool, k: int = 3
) -> DataFrame:
    """Approximate kNN join via banded random-hyperplane LSH + exact re-rank.

    1. signatures: 32 pseudo-random hyperplanes (4 bands × 8 bits); plane
       p's component for dimension i is a deterministic sha256-derived
       value in [-1, 1] — seeded, reproducible, no Python RNG. Signs are
       computed per Arrow batch with one BLAS matmul (batch×64 @ 64×32)
       in mapInPandas — the per-plane HOF fold form this replaced spent
       ~10 s at sf0.1 in Spark's interpreted lambda evaluator (HOFs are
       not whole-stage-codegen'd);
    2. per-band bucket = that band's 8-bit sign pattern, bit-packed in
       the same numpy pass; one output row per (vec_id, band);
    3. self-join on (band_id, bucket) — the LSH shuffle, never O(n²);
       recall and in-bucket pair cost tune independently (bits per band
       vs band count). Cross-band duplicates are NOT distinct'd here:
       they ride through the cheap BLAS re-rank and collapse in the
       dense_rank window + final tiny distinct (step 4);
    4. exact cosine re-rank over the candidate set: unit vectors joined
       in, per-pair dot via an Arrow-batched pandas UDF (einsum over the
       stacked pair matrix), top-3 per vector via WindowGroupLimit.

    Rows-only: bucket boundaries depend on the engine-seeded hyperplane
    family and the re-rank dot uses BLAS accumulation order; the exact
    counterpart is q_sim_search_topk (recall-vs-exact is pinned by
    tests/test_invariants.py).

    ``multiprobe=True`` (round 6, VERDICT r5 item 5) additionally probes,
    per band, the ``_KNN_BITS`` buckets at Hamming distance 1 from the
    vector's own sign pattern (flip each bit once) on the PROBE side of
    the join — the index side stays exact, so the storage/bucket layout
    is unchanged and only probe fan-out grows (1 + bits rows per band).
    A pair is then a candidate when some band's signatures differ in ≤ 1
    bit instead of 0, lifting per-band collision probability from p^b to
    p^b + b·p^(b-1)(1-p): at the fixture's cos ≈ 0.3 geometry
    (p ≈ 0.60) that is 0.016 → 0.103 per band, 0.06 → 0.35 over 4
    bands — the standard multi-probe LSH trade (more probe lookups,
    same index) from Lv et al., "Multi-Probe LSH" (VLDB'07).
    """
    import hashlib
    from collections.abc import Iterator

    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    n_planes = _KNN_BANDS * _KNN_BITS

    def plane_weight(p: int, i: int) -> float:
        # seeded pseudo-random weight in [-1, 1) — sha256-derived on the
        # driver once; the (n_planes × 64) matrix ships to executors in
        # the UDF closure (~16 KB), not as a 2048-literal expression tree
        # (which made Catalyst itself a bottleneck across join branches).
        digest = hashlib.sha256(f"plane-{p}-{i}".encode()).digest()
        return int.from_bytes(digest[:8], "big") % 2000001 / 1000000.0 - 1.0

    planes = np.array(
        [[plane_weight(p, i) for i in range(64)] for p in range(n_planes)],
        dtype=np.float64,
    )
    pack = 2.0 ** np.arange(_KNN_BITS)

    par = spark.sparkContext.defaultParallelism
    # one input split at fixture scale → repartition so the Arrow batches
    # parallelize (same lesson as q_dedup_fuzzy_minhash).
    e = load(spark, sf_dir, "embeddings").repartition(par, "vec_id")

    def signatures(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            bits = (mat @ planes.T) > 0  # n × 32 sign pattern
            buckets = bits.reshape(len(pdf), _KNN_BANDS, _KNN_BITS) @ pack
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().repeat(_KNN_BANDS),
                    "band_id": np.tile(
                        np.arange(_KNN_BANDS), len(pdf)
                    ).astype(np.int32),
                    "bucket": buckets.astype(np.int64).reshape(-1),
                }
            )

    def unit_vectors(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            units = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "unit": list(units)}
            )

    # Materialize the signature table once (guide §2.4/§4): the bucket
    # self-join references it on BOTH sides (the probe side additionally
    # through the Hamming-1 explode), and without materialization each
    # side re-runs the embeddings scan + Arrow round-trip + BLAS matmul
    # (before-plan plans/r15/q_knn_join_bucketed_before.txt: two
    # MapInPandas nodes for one signature pass, no ReusedExchange).
    # O(n·bands) rows — corpus-sized, so lineage-keeping persist
    # (VERDICT r15 item 4), not localCheckpoint.
    from ..functions.dfutil import materialized

    bands = materialized(
        e.mapInPandas(
            signatures, schema="vec_id bigint, band_id int, bucket bigint"
        )
    )
    probe = bands
    if multiprobe:
        # probe-side Hamming-1 expansion: each band row fans out to its
        # own bucket plus the 8 single-bit flips — JVM-side array+explode
        # on the already-computed bucket ints, no extra UDF pass. The
        # index ("r") side stays exact-bucket.
        flips = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << j))
                for j in range(_KNN_BITS)
            ],
        )
        probe = bands.select(
            "vec_id", "band_id", F.explode(flips).alias("bucket")
        )
    cand = (
        probe.alias("l")
        .join(bands.alias("r"), on=["band_id", "bucket"])
        .filter(F.col("l.vec_id") != F.col("r.vec_id"))
        .select(
            F.col("l.vec_id").alias("vec_a"), F.col("r.vec_id").alias("vec_b")
        )
        # NO distinct here: a pair colliding in k of the 4 bands rides
        # through the re-rank k times (usually 1; the BLAS dot is cheap)
        # and is collapsed by dense_rank + the tiny final distinct — this
        # trades ≤4× duplicate cheap work for one full-candidate-set
        # shuffle, the dominant cost at scale.
    )
    # Same for the unit vectors: joined twice (vec_a and vec_b sides) —
    # one normalization pass instead of two; O(n·dim) → persist with
    # lineage, same rationale as `bands` above.
    units = materialized(
        e.mapInPandas(
            unit_vectors, schema="vec_id bigint, unit array<double>"
        )
    )
    pairs = cand.join(
        units.select(F.col("vec_id").alias("vec_a"), F.col("unit").alias("ua")),
        on="vec_a",
    ).join(
        units.select(F.col("vec_id").alias("vec_b"), F.col("unit").alias("ub")),
        on="vec_b",
    )

    @pandas_udf("double")
    def pair_cos(ua: pd.Series, ub: pd.Series) -> pd.Series:
        a = np.vstack(ua.to_numpy())
        b = np.vstack(ub.to_numpy())
        return pd.Series(np.einsum("ij,ij->i", a, b))

    # dense_rank (not row_number): duplicate (vec_a, vec_b) rows from
    # multi-band collisions share a rank, so rank<=3 keeps exactly the
    # top-3 distinct neighbors; the distinct below runs on <=4*3*n tiny
    # rows, replacing the full-candidate-set distinct this plan used to
    # pay before the re-rank. Still WindowGroupLimit-optimized.
    w = Window.partitionBy("vec_a").orderBy(F.desc("cos_raw"), F.asc("vec_b"))
    return (
        pairs.withColumn("cos_raw", pair_cos("ua", "ub"))
        .withColumn("rnk", F.dense_rank().over(w))
        .filter(F.col("rnk") <= k)
        .select("vec_a", "vec_b", F.col("cos_raw").alias("cosine"))
        .distinct()
        .orderBy("vec_a", "vec_b")
    )


@query("q_knn_join_bucketed")  # rows-only: hyperplane family is engine-seeded
def q_knn_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-probe banded-LSH kNN join (see _banded_knn_join)."""
    return _banded_knn_join(spark, sf_dir, multiprobe=False)


@query("q_knn_join_multiprobe")  # rows-only: hyperplane family is engine-seeded
def q_knn_join_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe (Hamming-1) banded-LSH kNN join: same index layout as
    q_knn_join_bucketed, 9× probe fan-out per band and top-5 re-rank
    (multi-probe surfaces more true neighbors than a top-3 cut can
    report), measured recall ≥ 0.3 on the cos ≥ 0.3 slice at sf0.1 vs
    single-probe's ~0.10 (pinned in tests/test_invariants.py and
    SURVEY §8). See _banded_knn_join for the full plan."""
    return _banded_knn_join(spark, sf_dir, multiprobe=True, k=5)


@query(
    "q_sim_search_ivf",
    bench=False,
    oracle=f"""
    WITH cent AS (
        SELECT label,
               pos,
               {sql_finish_dec(f'sum(cast(val as {DEC}))', 6)} / count(*) AS cval
        FROM (
            SELECT label,
                   generate_subscripts(embedding, 1) AS pos,
                   cast(unnest(embedding) as double) AS val
            FROM embeddings
        )
        GROUP BY label, pos
    ),
    cvec AS (
        SELECT label, array_agg(cval ORDER BY pos) AS ce FROM cent GROUP BY label
    ),
    probe AS (
        SELECT list_transform(embedding, x -> cast(x as double)) AS pe
        FROM embeddings WHERE vec_id = 0
    ),
    best AS (
        SELECT cvec.label
        FROM cvec CROSS JOIN probe
        ORDER BY {_SQL_DOT.format(a='cvec.ce', b='probe.pe')}
                 / ({_SQL_NORM.format(a='cvec.ce')} * {_SQL_NORM.format(a='probe.pe')})
                 DESC, cvec.label ASC
        LIMIT 1
    )
    SELECT e.vec_id, e.label,
           {_SQL_DOT.format(a='e.embedding', b='probe.pe')}
               / ({_SQL_NORM.format(a='e.embedding')}
                  * {_SQL_NORM.format(a='probe.pe')}) AS cosine
    FROM embeddings e CROSS JOIN probe
    WHERE e.label = (SELECT label FROM best) AND e.vec_id <> 0
    ORDER BY {_SQL_DOT.format(a='e.embedding', b='probe.pe')}
             / ({_SQL_NORM.format(a='e.embedding')} * {_SQL_NORM.format(a='probe.pe')})
             DESC, e.vec_id ASC
    LIMIT 5
    """,
)
def q_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantize by label centroids, probe one cell.

    The inverted-file pattern: centroids (here the label centroids — the
    fixture's stand-in for k-means cells) are a tiny broadcast table; the
    probe picks its nearest centroid, then exact-scores ONLY that cell's
    members — at 100 TB this turns a full scan into a 1/n_cells partition
    scan (cells would be partition keys in the layout).
    """
    e = load(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode(_as_dbl("embedding")).alias("pos", "val")
    )
    cent = (
        exploded.groupBy("label", "pos")
        .agg(
            (finish(F.sum(F.col("val").cast(DEC)), 6) / F.count(F.lit(1))).alias(
                "cval"
            )
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pc"))
        .select(
            "label", F.transform(F.col("pc"), lambda s: s.getField("cval")).alias("ce")
        )
    )
    probe = e.filter(F.col("vec_id") == 0).select(_as_dbl("embedding").alias("pe"))
    best = (
        cent.crossJoin(F.broadcast(probe))
        .select(
            "label",
            (_dot(F.col("ce"), F.col("pe")) / (_norm(F.col("ce")) * _norm(F.col("pe")))).alias(
                "c"
            ),
        )
        .orderBy(F.desc("c"), F.asc("label"))
        .limit(1)
        .select("label")
    )
    cell = e.join(F.broadcast(best), on="label").filter(F.col("vec_id") != 0)
    scored = cell.crossJoin(F.broadcast(probe)).select(
        "vec_id",
        "label",
        (
            _dot(_as_dbl("embedding"), F.col("pe"))
            / (_norm(_as_dbl("embedding")) * _norm(F.col("pe")))
        ).alias("cos_raw"),
    )
    return (
        scored.orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(5)
        .select("vec_id", "label", F.col("cos_raw").alias("cosine"))
    )


@query(
    "q_label_centroids",
    oracle=f"""
    SELECT label, pos,
           {sql_finish_dec(f'sum(cast(val as {DEC}))', 6)} / count(*)
               AS centroid_val,
           count(*) AS n_vectors
    FROM (
        SELECT label,
               generate_subscripts(embedding, 1) - 1 AS pos,
               cast(unnest(embedding) as double) AS val
        FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (element-wise mean) via posexplode → groupBy.

    The clustering primitive behind IVF/dedup: explode to (label, pos,
    val), aggregate with exact decimal sums. Output keeps the (label,
    pos) long form — reassembly to vectors is q_sim_search_ivf's job.
    """
    e = load(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode(_as_dbl("embedding")).alias("pos", "val")
    )
    return exploded.groupBy("label", "pos").agg(
        (finish(F.sum(F.col("val").cast(DEC)), 6) / F.count(F.lit(1))).alias(
            "centroid_val"
        ),
        F.count(F.lit(1)).alias("n_vectors"),
    )


@query(
    "q_sim_search_topk_vectorized",
    oracle=f"""
    WITH probe AS (
        SELECT list_transform(embedding, x -> cast(x as double)) AS pe,
               {_SQL_NORM.format(a='embedding')} AS pn
        FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
        SELECT e.vec_id, e.label,
               {_SQL_DOT.format(a='e.embedding', b='probe.pe')}
                   / ({_SQL_NORM.format(a='e.embedding')} * probe.pn) AS cos_raw
        FROM embeddings e CROSS JOIN probe
        WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, round(cos_raw, 6) AS cosine
    FROM scored
    ORDER BY cos_raw DESC, vec_id ASC
    LIMIT 10
    """,
)
def q_sim_search_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 via Arrow batches + numpy matmul.

    The THROUGHPUT form of q_sim_search_topk: mapInPandas receives Arrow
    record batches, stacks the vector column into one (batch × 64)
    float64 matrix, and scores every row against the broadcast probe with
    a single BLAS matvec — per-batch vector math instead of per-element
    interpreted lambdas (the 10-100× pandas-UDF claim, applied to ANN).
    Emits per-batch local top-10; the final global top-k merges k·batches
    rows.

    Oracle-exact via 6-dp score rounding (VERDICT r13 item 4): BLAS
    accumulation order perturbs the raw score at the ~1e-16 level, so
    the emitted score is round(cos, 6) on BOTH sides — far coarser than
    the perturbation, far finer than the ranking gaps. Ranking itself
    uses the UNROUNDED score and is pinned exactly equal to the HOF
    form in tests/test_invariants.py.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")
    probe_row = e.filter(F.col("vec_id") == 0).select("embedding").first()
    probe = np.asarray(probe_row[0], dtype=np.float64)
    probe_unit = probe / np.linalg.norm(probe)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1)
            cos = (mat @ probe_unit) / norms
            out = pd.DataFrame(
                {"vec_id": pdf["vec_id"], "label": pdf["label"], "cosine": cos}
            )
            # local top-k per Arrow batch bounds the merge fan-in
            yield out.nlargest(10, "cosine")

    scored = e.filter(F.col("vec_id") != 0).mapInPandas(
        score, schema="vec_id bigint, label int, cosine double"
    )
    return (
        scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "label", F.round("cosine", 6).alias("cosine"))
    )


@query(
    "q_topic_assign_nearest_centroid",
    oracle=f"""
    WITH exploded AS (
        SELECT label,
               generate_subscripts(embedding, 1) - 1 AS pos,
               cast(unnest(embedding) as double) AS val
        FROM embeddings
    ),
    cent AS (
        SELECT label AS c_label, array_agg(cval ORDER BY pos) AS ce
        FROM (SELECT label, pos,
                     {sql_finish_dec(f'sum(cast(val as {DEC}))', 6)}
                         / count(*) AS cval
              FROM exploded GROUP BY label, pos)
        GROUP BY label
    ),
    scored AS (
        SELECT e.vec_id, e.label AS true_label, c.c_label,
               {_SQL_DOT.format(a='e.embedding', b='c.ce')}
                   / ({_SQL_NORM.format(a='e.embedding')}
                      * {_SQL_NORM.format(a='c.ce')}) AS cos
        FROM embeddings e CROSS JOIN cent c
    )
    SELECT vec_id, true_label,
           c_label AS assigned_label, cos AS cosine
    FROM (SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY cos DESC, c_label ASC) AS rn
          FROM scored)
    WHERE rn = 1
    """,
)
def q_topic_assign_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means E-step / IVF cell assignment: nearest label-centroid per vector.

    Every vector is scored against all |labels| centroids (cosine) and
    assigned to the best one — the building block behind IVF cell routing
    (q_sim_search_ivf probes exactly one of these cells) and iterative
    clustering. Output keeps the fixture's true label next to the
    assignment so cluster purity is directly readable.

    Parity: centroid components are finished-decimal means (identical
    doubles both engines, same recipe as q_label_centroids), dot/norm are
    sequential left folds, cosine is a quotient of identical doubles (no
    finish — numeric.py rule 5), and the per-vector argmax is a
    row_number with a label tiebreak, not an engine-specific arg_max.

    Scale: the centroid table is |labels| rows — broadcast; scoring is a
    map-side crossJoin fan-out of x|labels| per vector with no shuffle;
    the argmax window partitions on vec_id (even, tiny partitions). The
    only real shuffle is the centroid aggregation itself (posexplode →
    (label, pos) partials, map-side combined).
    """
    e = load(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode(_as_dbl("embedding")).alias("pos", "val")
    )
    cent = (
        exploded.groupBy("label", "pos")
        .agg(
            (finish(F.sum(F.col("val").cast(DEC)), 6) / F.count(F.lit(1))).alias(
                "cval"
            )
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pc"))
        .select(
            F.col("label").alias("c_label"),
            F.transform(F.col("pc"), lambda s: s.getField("cval")).alias("ce"),
        )
    )
    emb = _as_dbl("embedding")
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        F.col("label").alias("true_label"),
        "c_label",
        (_dot(emb, F.col("ce")) / (_norm(emb) * _norm(F.col("ce")))).alias("cos"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("c_label"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "true_label",
            F.col("c_label").alias("assigned_label"),
            F.col("cos").alias("cosine"),
        )
    )


@query(
    "q_sim_search_batch_topk",
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id, label, embedding FROM embeddings
        WHERE NOT (vec_id % 20 = 0 AND vec_id < 2000)
    ),
    probes AS (
        SELECT vec_id AS probe_id,
               list_transform(embedding, x -> cast(x as double)) AS pe
        FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 2000
    ),
    cent AS (
        SELECT label AS c_label, array_agg(cval ORDER BY pos) AS ce
        FROM (SELECT label, pos,
                     {sql_finish_dec(f'sum(cast(val as {DEC}))', 6)}
                         / count(*) AS cval
              FROM (SELECT label,
                           generate_subscripts(embedding, 1) AS pos,
                           cast(unnest(embedding) as double) AS val
                    FROM corpus)
              GROUP BY label, pos)
        GROUP BY label
    ),
    assigned AS (
        SELECT probe_id, pe, c_label AS cell
        FROM (SELECT p.probe_id, p.pe, c.c_label,
                     row_number() OVER (
                         PARTITION BY p.probe_id
                         ORDER BY {_SQL_DOT.format(a='p.pe', b='c.ce')}
                                  / ({_SQL_NORM.format(a='p.pe')}
                                     * {_SQL_NORM.format(a='c.ce')}) DESC,
                                  c.c_label ASC) AS rn
              FROM probes p CROSS JOIN cent c)
        WHERE rn <= 2
    ),
    scored AS (
        SELECT a.probe_id, e.vec_id, e.label,
               {_SQL_DOT.format(a='e.embedding', b='a.pe')}
                   / ({_SQL_NORM.format(a='e.embedding')}
                      * {_SQL_NORM.format(a='a.pe')}) AS cos
        FROM assigned a JOIN corpus e ON e.label = a.cell
    )
    SELECT probe_id, vec_id, label, cos AS cosine
    FROM (SELECT *, row_number() OVER (
              PARTITION BY probe_id ORDER BY cos DESC, vec_id ASC) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def q_sim_search_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch top-k retrieval join — the RAG shape: a FIXED batch of
    held-out probe vectors (vec_id % 20 == 0 AND vec_id < 2000 — ≤ 100
    probes at every scale) each retrieve their top-5 corpus neighbors
    via IVF cell routing + per-probe window re-rank. Bracketed by
    q_sim_search_topk (ONE probe, brute force) and q_knn_join_bucketed
    (corpus self-join); this is the many-probes-vs-corpus retrieval
    join neither of those is (VERDICT r8 item 3).

    The probe batch is CAPPED, not proportional: serving query rate
    does not grow with corpus size, and the first cut (every 20th
    vec_id, unbounded) measured a 1.76 seconds-vs-scale exponent on
    the 1×-10× family — probes × per-probe scan both growing is the
    data model's quadratic, not the plan's. With the fixed batch the
    study measures the engine shape (slope ~1: centroids + candidate
    scan are linear in the corpus; see BENCH_SCALING.md).

    Plan, stage by stage:
      1. centroids: per-label element-wise means over the CORPUS side
         only (posexplode → (label, pos) decimal agg — q_label_centroids'
         recipe) → |cells| rows, broadcast;
      2. probe routing: probes × broadcast centroids (map-side
         BroadcastNestedLoopJoin fan-out of |cells| per probe), the
         nprobe=2 nearest cells via row_number ≤ 2 with a label
         tiebreak — multi-cell probing is the standard IVF recall
         lever (the fixture vectors are near-random, so one cell
         recalls ~0.18; two recall ~0.3 for 2/|cells| of the scan);
      3. candidate join: probe cell list equi-joins corpus ON the cell
         id, the probe side broadcast (~2·|probes| rows) — the corpus
         is never shuffled at all, and each probe scans
         nprobe/|cells| of it, exactly how an IVF layout partitions
         the index at 100 TB (no cartesian anywhere,
         plan-contract-tested);
      4. re-rank: exact cosine per candidate, row_number ≤ 5 per probe
         (WindowGroupLimit pushes the top-k below the shuffle).

    Parity: centroid components are finished-decimal means, dot/norm
    sequential left folds on double-cast elements, both argmaxes are
    row_number with deterministic tiebreaks (label asc / vec_id asc) —
    the same recipes q_sim_search_ivf and q_topic_assign_nearest_centroid
    already pin. Recall vs brute force is pinned by
    tests/test_invariants.py::test_batch_topk_recall_vs_brute.
    """
    e = load(spark, sf_dir, "embeddings")
    is_probe = (F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 2000)
    corpus = e.filter(~is_probe)
    probes = e.filter(is_probe).select(
        F.col("vec_id").alias("probe_id"), _as_dbl("embedding").alias("pe")
    )
    exploded = corpus.select(
        "label", F.posexplode(_as_dbl("embedding")).alias("pos", "val")
    )
    cent = (
        exploded.groupBy("label", "pos")
        .agg(
            (finish(F.sum(F.col("val").cast(DEC)), 6) / F.count(F.lit(1))).alias(
                "cval"
            )
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pc"))
        .select(
            F.col("label").alias("c_label"),
            F.transform(F.col("pc"), lambda s: s.getField("cval")).alias("ce"),
        )
    )
    from pyspark.sql import Window

    w_route = Window.partitionBy("probe_id").orderBy(
        F.desc("c_cos"), F.asc("c_label")
    )
    assigned = (
        probes.crossJoin(F.broadcast(cent))
        .select(
            "probe_id",
            "pe",
            "c_label",
            (
                _dot(F.col("pe"), F.col("ce"))
                / (_norm(F.col("pe")) * _norm(F.col("ce")))
            ).alias("c_cos"),
        )
        .withColumn("rn", F.row_number().over(w_route))
        .filter(F.col("rn") <= 2)
        .select("probe_id", "pe", F.col("c_label").alias("cell"))
    )
    emb = _as_dbl("embedding")
    scored = assigned.join(
        corpus, assigned.cell == corpus.label
    ).select(
        "probe_id",
        "vec_id",
        "label",
        (_dot(emb, F.col("pe")) / (_norm(emb) * _norm(F.col("pe")))).alias("cos"),
    )
    w_rank = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 5)
        .select("probe_id", "vec_id", "label", F.col("cos").alias("cosine"))
    )


@query(
    "q_embedding_quantize_int8",
    oracle="""
    WITH m AS (
        SELECT vec_id, label, embedding,
               list_max(list_transform(
                   embedding, x -> abs(cast(x as double)))) AS maxabs,
               cast(len(embedding) as int) AS dim
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, label, maxabs, dim,
               list_transform(embedding,
                   x -> floor(cast(x as double)
                              / (nullif(maxabs, 0) / 127.0) + 0.5)
               ) AS qs,
               list_transform(embedding,
                   x -> abs(cast(x as double)
                            - floor(cast(x as double)
                                    / (nullif(maxabs, 0) / 127.0) + 0.5)
                              * (nullif(maxabs, 0) / 127.0))
               ) AS errs
        FROM m
    )
    SELECT vec_id, label, maxabs,
           list_reduce(errs, (a, b) -> a + b) / dim AS mean_abs_err,
           list_max(errs) AS max_abs_err,
           cast(len(list_filter(qs, v -> abs(v) = 127)) as int) AS n_saturated
    FROM q
    """,
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization audit: per-vector reconstruction error.

    The storage-shrink step before ANN serving: symmetric per-vector
    quantization (scale = maxabs/127, q = round-half-up(x/scale)) with
    the dequantization error measured per element. Output is the audit
    a pipeline gates on — mean/max absolute error and how many elements
    saturate the int8 range — not the quantized arrays themselves (array
    outputs violate the driver canonicalizer contract).

    Parity: rounding is floor(x + 0.5) in BOTH engines (Spark round()
    is HALF_UP on doubles, DuckDB round() is float-path — banned by
    numeric.py rule 4; the floor form is a single exact IEEE op on
    identical inputs). Every value is a deterministic function of the
    identical parquet floats, error sums are sequential left folds, so
    no finishing is needed anywhere. An all-zero vector (scale 0) is
    guarded with NULLIF in both engines — its error columns come back
    NULL instead of NaN, and its saturation count drops to 0, the same
    answer on both sides (ADVICE r4).

    Scale: pure map stage over the embeddings scan — no shuffle, no
    Python; at 100 TB this is scan-bound and fuses into codegen.
    """
    e = load(spark, sf_dir, "embeddings")
    emb = _as_dbl("embedding")
    maxabs = F.array_max(F.transform(emb, lambda x: F.abs(x)))
    staged = e.select(
        "vec_id",
        "label",
        maxabs.alias("maxabs"),
        F.size("embedding").alias("dim"),
        emb.alias("ed"),
    )
    scale = F.nullif(F.col("maxabs"), F.lit(0.0)) / 127.0
    qs = F.transform(F.col("ed"), lambda x: F.floor(x / scale + 0.5))
    errs = F.transform(
        F.col("ed"),
        lambda x: F.abs(x - F.floor(x / scale + 0.5).cast("double") * scale),
    )
    return staged.select(
        "vec_id",
        "label",
        "maxabs",
        (
            F.aggregate(errs, F.lit(0.0), lambda a, b: a + b) / F.col("dim")
        ).alias("mean_abs_err"),
        F.array_max(errs).alias("max_abs_err"),
        F.size(F.filter(qs, lambda v: F.abs(v) == 127)).alias("n_saturated"),
    )


# ---------------------------------------------------------------------------
# Portable kNN-join twin (round 15): the ANN bucket-join mechanics under an
# EXACT end-to-end oracle — the same evidentiary move the dedup family made
# with q_dedup_minhash_portable / q_dedup_simhash_portable and clustering
# made with q_dedup_semantic. The production BLAS forms (q_knn_join_bucketed
# / _multiprobe) stay rows-only; this twin proves the banding + bucket-join
# + re-rank pipeline hash-exactly with an engine-portable plane family.
# ---------------------------------------------------------------------------

#: bounded corpus / probe slices, hyperplane count, 4-bit bands, top-k
_PKNN_CORPUS = 300
_PKNN_PROBES = 40
_PKNN_PLANES = 16
_PKNN_BAND_BITS = 4
_PKNN_K = 3
_PKNN_DIM = 64


def _pknn_signs() -> list[list[float]]:
    """Portable Rademacher planes: sign(p, d) = +1 iff the first hex
    nibble of md5('knn|p|d') has its top bit set (hashlib md5 == SQL
    md5); its own seed prefix so the family is independent of the
    semantic-dedup planes."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"knn|{p}|{d}".encode()).hexdigest()[0]
            in "89abcdef"
            else -1.0
            for d in range(_PKNN_DIM)
        ]
        for p in range(_PKNN_PLANES)
    ]


def _pknn_oracle() -> str:
    signs = _pknn_signs()
    n_bands = _PKNN_PLANES // _PKNN_BAND_BITS
    bit_exprs = ", ".join(
        "CASE WHEN list_reduce(list_transform(list_zip(e, ["
        + ", ".join(str(s) for s in signs[p])
        + "]), s -> s[1] * s[2]), (x, y) -> x + y) > 0"
        " THEN '1' ELSE '0' END"
        for p in range(_PKNN_PLANES)
    )
    return f"""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> cast(x as double)) AS e
        FROM embeddings WHERE vec_id < {_PKNN_CORPUS}
    ),
    n AS (
        SELECT vec_id, e, {_SQL_NORM.format(a="e")} AS nrm FROM v
    ),
    fp AS (
        SELECT vec_id, concat({bit_exprs}) AS f FROM v
    ),
    bands AS (
        SELECT vec_id, b.b AS band,
               substr(f, b.b * {_PKNN_BAND_BITS} + 1, {_PKNN_BAND_BITS}) AS sig
        FROM fp CROSS JOIN
             (SELECT unnest(generate_series(0, {n_bands - 1})) AS b) b
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS pid, b.vec_id AS nid
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.sig = b.sig AND a.vec_id <> b.vec_id
        WHERE a.vec_id < {_PKNN_PROBES}
    ),
    scored AS (
        SELECT c.pid, c.nid,
               {_SQL_DOT.format(a="x.e", b="y.e")} / (x.nrm * y.nrm) AS cos_raw
        FROM cand c JOIN n x ON x.vec_id = c.pid JOIN n y ON y.vec_id = c.nid
    )
    SELECT pid AS probe_id, rnk, nid AS neighbor_id,
           round(cos_raw, 6) AS cosine
    FROM (
        SELECT pid, nid, cos_raw,
               cast(row_number() OVER (PARTITION BY pid
                                       ORDER BY cos_raw DESC, nid ASC)
                    as int) AS rnk
        FROM scored
    ) WHERE rnk <= {_PKNN_K}
    ORDER BY probe_id, rnk
    """


@query("q_knn_join_portable", oracle=_pknn_oracle())
def q_knn_join_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE kNN JOIN — the ANN bucket join under an exact oracle:
    40 probe vectors find their top-3 neighbors in a 300-vector corpus
    through banded random-hyperplane LSH (16 md5-derived Rademacher
    planes inlined as literals in BOTH engines, 4×4-bit bands), an
    ASYMMETRIC bucket equi-join (probe bands against the full corpus
    index — never all-pairs), exact HOF-fold cosine on candidates only,
    and row_number top-k per probe with a vec_id tiebreak.

    The DuckDB oracle replays the ENTIRE pipeline — planes, banding,
    bucket join, cosine, ranking — so the hash-match proves the kNN
    bucketing mechanics end-to-end, the portable-twin standard the LSH
    dedup families set. A probe with fewer than k same-bucket
    candidates returns fewer rows in BOTH engines (LSH recall is the
    measured property, pinned separately in tests for the BLAS form);
    the ORDER itself rides the exact sequential left-fold cosine, which
    is bit-identical across engines, with the output rounded at 6 dp
    (the family convention).

    Production path stays q_knn_join_bucketed / _multiprobe (BLAS
    Arrow-batch signatures, engine-seeded planes, rows-only); this twin
    is the correctness instrument. Scale shape is identical: fingerprints
    map-only, candidates from the banded bucket join, top-k via a
    probe-partitioned window — no cartesian anywhere (plan-pinned in
    tests)."""
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _PKNN_CORPUS)
        .select("vec_id", _as_dbl("embedding").alias("e"))
    )
    signs = _pknn_signs()
    bit = [
        F.when(
            F.aggregate(
                F.zip_with(
                    F.col("e"),
                    F.array(*[F.lit(s) for s in signs[p]]),
                    lambda x, s: x * s,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for p in range(_PKNN_PLANES)
    ]
    # Materialize the 300-row fingerprint table once: the band self-join
    # plus the two verify-side joins otherwise replay the 16
    # interpreted HOF sign folds 4× per run (guide §2.4; before-plan
    # plans/r15/q_knn_join_portable_before.txt shows no ReusedExchange).
    fp = e.select(
        "vec_id",
        F.col("e"),
        _norm(F.col("e")).alias("nrm"),
        F.concat(*bit).alias("f"),
    ).localCheckpoint()  # row-cap: <=300 fingerprints (bounded vec_id slice)
    n_bands = _PKNN_PLANES // _PKNN_BAND_BITS
    bands = fp.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.substring(
                        "f", b * _PKNN_BAND_BITS + 1, _PKNN_BAND_BITS
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "sig"),
    )
    cand = (
        bands.filter(F.col("vec_id") < _PKNN_PROBES)
        .alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("pid"), F.col("b.vec_id").alias("nid"))
        .distinct()
    )
    x = fp.select(
        F.col("vec_id").alias("pid"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    y = fp.select(
        F.col("vec_id").alias("nid"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    scored = (
        cand.join(x, "pid")
        .join(y, "nid")
        .select(
            "pid",
            "nid",
            (
                _dot(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb"))
            ).alias("cos_raw"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("pid").orderBy(F.desc("cos_raw"), F.asc("nid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _PKNN_K)
        .select(
            F.col("pid").alias("probe_id"),
            "rnk",
            F.col("nid").alias("neighbor_id"),
            F.round("cos_raw", 6).alias("cosine"),
        )
        .orderBy("probe_id", "rnk")
    )
