"""MLlib feature-engineering surface (SURVEY.md §2 extensions).

The deterministic slice of pyspark.ml feature transformers — the ones
whose fit() statistics are EXACT order-independent reductions (min/max,
explicit split points), so fit+transform is bit-reproducible and
DuckDB-oracle-checkable. Transformers whose fit uses float-accumulated
moments (StandardScaler's mean/std) are deliberately NOT keyed: their
merge order varies with partitioning, the same reason native
corr()/covar aren't used (SURVEY.md §5.5); the decimal-finished manual
recipes in operators/stats.py cover those statistics exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import load


@query(
    "q_ml_minmax_scaler",
    oracle="""
    WITH b AS (
        SELECT min(o_totalprice) AS lo_p, max(o_totalprice) AS hi_p,
               min(o_custkey) AS lo_c, max(o_custkey) AS hi_c
        FROM orders
    )
    SELECT o_orderkey,
           round((o_totalprice - lo_p) / (hi_p - lo_p), 6) AS price_scaled,
           round((o_custkey - lo_c) / CAST(hi_c - lo_c AS DOUBLE), 6)
               AS cust_scaled
    FROM orders, b
    WHERE o_orderkey < 1000
    ORDER BY o_orderkey
    """,
)
def q_ml_minmax_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib feature pipeline: VectorAssembler → MinMaxScaler
    fit/transform — the pyspark.ml Estimator/Transformer/Pipeline
    surface on its EXACT-statistics member: min/max are
    order-independent reductions, so the fitted model and every scaled
    value are bit-reproducible (unlike StandardScaler, whose
    float-accumulated mean/std merge in partition order — documented
    module-level exclusion). Scores round at 6 dp on both sides, the
    q_sim_cosine_pair convention. The fit is computed over the FULL
    table; the transform output is sliced to o_orderkey < 1000 so the
    oracle stays bounded while the fitted statistics are real.

    Scale: fit is one min/max agg (map-side combinable); transform is
    a per-row projection — the whole pipeline is two narrow passes.
    """
    from pyspark.ml.feature import MinMaxScaler, VectorAssembler
    from pyspark.ml.functions import vector_to_array

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        F.col("o_custkey").cast("double").alias("cust"),
    )
    assembled = VectorAssembler(
        inputCols=["price", "cust"], outputCol="feat"
    ).transform(o)
    model = MinMaxScaler(inputCol="feat", outputCol="scaled").fit(assembled)
    arr = vector_to_array(F.col("scaled"))
    return (
        model.transform(assembled)
        .filter(F.col("o_orderkey") < 1000)
        .select(
            "o_orderkey",
            F.round(arr[0], 6).alias("price_scaled"),
            F.round(arr[1], 6).alias("cust_scaled"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q_ml_bucketizer_discretize",
    bench=False,
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 0
                WHEN o_totalprice < 150000 THEN 1
                WHEN o_totalprice < 300000 THEN 2
                ELSE 3 END AS price_bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           max(o_totalprice) AS max_price
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def q_ml_bucketizer_discretize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib Bucketizer with EXPLICIT split points — deterministic
    discretization (each split interval is [lo, hi): exact double
    comparisons, no fitted statistics at all), the feature-binning prep
    every GBM/monotonic model pipeline runs. QuantileDiscretizer is
    deliberately not keyed: its fitted splits come from
    approxQuantile's sketch (relative-error dependent), not an exact
    statistic. A metadata-only transformer like this costs one
    projection; the rollup proves the bin arithmetic against plain SQL
    CASE.
    """
    from pyspark.ml.feature import Bucketizer

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
    )
    b = Bucketizer(
        splits=[float("-inf"), 50000.0, 150000.0, 300000.0, float("inf")],
        inputCol="price",
        outputCol="bucket",
    )
    return (
        b.transform(o)
        .groupBy(F.col("bucket").cast("int").alias("price_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max("price").alias("max_price"),
        )
        .orderBy("price_bucket")
    )


@query(
    "q_ml_string_indexer",
    oracle="""
    SELECT o_orderpriority AS label,
           CAST(row_number() OVER (ORDER BY count(*) DESC, o_orderpriority)
                - 1 AS DOUBLE) AS idx,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY idx
    """,
)
def q_ml_string_indexer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib StringIndexer (frequencyDesc) — the categorical-encoding
    fit whose statistic IS deterministic: label order is count
    descending with ties broken by the SMALLER lexicographic string
    (probed and pinned — 'a' and 'c' at equal frequency index as a=0,
    c=1), so the fitted labels reproduce as a plain row_number() over
    (count DESC, value ASC). The transform output is folded back to
    one row per label with its count, proving both the fit ordering
    and the per-row assignment in one oracle.

    Scale: fit is one hash-agg over the column (label-space-sized
    result); transform is a broadcast-map projection. Completes the
    mlfeat trio of exact-statistics transformers next to MinMaxScaler
    and Bucketizer.
    """
    from pyspark.ml.feature import StringIndexer

    o = load(spark, sf_dir, "orders").select("o_orderpriority")
    m = StringIndexer(
        inputCol="o_orderpriority",
        outputCol="idx",
        stringOrderType="frequencyDesc",
    ).fit(o)
    return (
        m.transform(o)
        .groupBy(F.col("o_orderpriority").alias("label"), "idx")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select("label", "idx", "n_rows")
        .orderBy("idx")
    )


@query(
    "q_ml_maxabs_scaler",
    oracle="""
    WITH b AS (
        SELECT max(abs(o_totalprice)) AS m_p,
               max(abs(o_custkey)) AS m_c
        FROM orders
    )
    SELECT o_orderkey,
           round(o_totalprice / m_p, 6) AS price_scaled,
           round(o_custkey / CAST(m_c AS DOUBLE), 6) AS cust_scaled
    FROM orders, b
    WHERE o_orderkey < 1000
    ORDER BY o_orderkey
    """,
)
def q_ml_maxabs_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MaxAbsScaler — the fourth EXACT-statistics member of the
    feature-transformer family (after MinMaxScaler / Bucketizer /
    StringIndexer): the fitted statistic is max(|x|) per column, an
    order-independent reduction, so fit+transform is bit-reproducible
    and the transform (x / maxabs — sparsity-preserving, the scaler you
    use when zeros must stay zeros) replays exactly in the oracle.
    Scores round at 6 dp on both sides, the family convention; the fit
    covers the FULL table with the output sliced to o_orderkey < 1000.

    Scale: fit is one max-of-abs agg (map-side combinable); transform
    is a narrow per-row projection."""
    from pyspark.ml.feature import MaxAbsScaler, VectorAssembler
    from pyspark.ml.functions import vector_to_array

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        F.col("o_custkey").cast("double").alias("cust"),
    )
    assembled = VectorAssembler(
        inputCols=["price", "cust"], outputCol="feat"
    ).transform(o)
    model = MaxAbsScaler(inputCol="feat", outputCol="scaled").fit(assembled)
    arr = vector_to_array(F.col("scaled"))
    return (
        model.transform(assembled)
        .filter(F.col("o_orderkey") < 1000)
        .select(
            "o_orderkey",
            F.round(arr[0], 6).alias("price_scaled"),
            F.round(arr[1], 6).alias("cust_scaled"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q_ml_normalizer_l2",
    oracle="""
    SELECT vec_id,
           round(list_reduce(list_transform(
                     list_transform(embedding, x -> cast(x as double)),
                     x -> x * x), (a, b) -> a + b), 6) AS sq_norm_before,
           1.0 AS sq_norm_after_rounded
    FROM embeddings
    WHERE vec_id < 500
    ORDER BY vec_id
    """,
)
def q_ml_normalizer_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib Normalizer (p=2) — the STATELESS member of the feature
    family: no fit, a pure per-row projection x / ‖x‖₂, the transform
    every embedding pipeline runs before cosine similarity (after it,
    cosine == dot). Graded exactly: the pre-normalization squared norm
    replays in the oracle via the sequential HOF fold (6 dp), and the
    post-normalization squared norm must round to exactly 1.0 for
    every row — the unit-sphere contract, emitted as a constant the
    oracle pins rather than a boolean so a single drifting row breaks
    the hash.

    Scale: map-only, zero shuffle, whole-stage codegen around the
    vector UDF boundary."""
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector, vector_to_array

    e = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 500)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
    )
    withvec = e.select("vec_id", "e", array_to_vector("e").alias("v"))
    normed = Normalizer(inputCol="v", outputCol="nv", p=2.0).transform(
        withvec
    )
    arr = vector_to_array(F.col("nv"))
    sq = lambda col: F.aggregate(  # noqa: E731
        F.transform(col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    return normed.select(
        "vec_id",
        F.round(sq(F.col("e")), 6).alias("sq_norm_before"),
        F.round(sq(arr), 6).alias("sq_norm_after_rounded"),
    ).orderBy("vec_id")
