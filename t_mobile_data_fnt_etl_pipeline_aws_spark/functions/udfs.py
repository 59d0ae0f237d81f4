"""UDF / UDAF / UDTF surface (SURVEY.md §2.10).

Patterns follow the public pandas-UDF idioms (SNIPPETS.md:30-58, 134-180):
Arrow-batched vectorized UDFs, grouped-agg reductions, grouped-map
applyInPandas, a Python UDTF, and a SQL-registered row UDF.

Parity discipline for Python-side float math: summations use math.fsum
(correctly-rounded exact sum — merge-order independent, matching an exact
decimal accumulation of the same addends when those addends are exactly
representable); per-row arithmetic is plain IEEE, identical to the JVM's.

Performance: pandas UDFs move Arrow batches across the executor↔Python
boundary (~10-100× the throughput of row-at-a-time UDFs); the registered
row UDF exists to cover the API surface and is NOT a hot-path pattern —
q_udf_registered_sql documents that explicitly.
"""

from __future__ import annotations

import math
from typing import Iterator  # module-level: pandas-UDF eval-type inference
# resolves stringified annotations (PEP 563) against module globals, so
# Iterator must live here, not inside the defining function.

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.numeric import DEC, sql_finish_dbl, sql_finish_dec
from ..registry import query
from ..sources.tables import load


@query(
    "q_udf_scalar_pandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_quantity >= 40
    """,
)
def q_udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas UDF: net price over Arrow batches.

    pd.Series arithmetic is element-wise IEEE — bit-identical to the JVM
    computing the same expression, so the SQL oracle is exact.
    """

    @pandas_udf("double")
    def net_price(price: pd.Series, discount: pd.Series) -> pd.Series:
        return price * (1.0 - discount)

    l = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 40)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        net_price("l_extendedprice", "l_discount").alias("net_price"),
    )


@query(
    "q_udaf_grouped_agg",
    bench=False,
    oracle=f"""
    SELECT l_returnflag,
           {sql_finish_dec(f'sum(cast(l_extendedprice * l_quantity as {DEC}))', 2)}
               / {sql_finish_dec(f'sum(cast(l_quantity as {DEC}))', 2)}
               AS weighted_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_udaf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF: quantity-weighted mean price per flag.

    The Python reduction mirrors the engine's decimal-accumulation
    contract digit for digit: each double product quantizes to 10 dp
    HALF_UP (== both engines' double→decimal(30,10) cast), sums exactly,
    finishes at 2 dp HALF_UP (== sql_finish_dec), converts once to
    double. The closing division then matches the oracle bit-for-bit.
    (A bare float sum would NOT: products carry ~ulp noise that the
    decimal pipeline snaps away.)
    """
    from decimal import ROUND_HALF_UP, Decimal

    q10, q2 = Decimal("1e-10"), Decimal("0.01")

    def dec_sum(values) -> float:
        total = sum(
            Decimal(v).quantize(q10, ROUND_HALF_UP) for v in values
        )
        return float(total.quantize(q2, ROUND_HALF_UP))

    @pandas_udf("double")
    def weighted_avg(price: pd.Series, qty: pd.Series) -> float:
        num = dec_sum((price * qty).tolist())
        den = dec_sum(qty.tolist())
        return num / den

    l = load(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(weighted_avg("l_extendedprice", "l_quantity").alias("_wavg"))
        .select("l_returnflag", F.col("_wavg").alias("weighted_avg_price"))
    )


@query(
    "q_udtf_grouped_map",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CASE WHEN mx = mn THEN 0.5 ELSE (o_totalprice - mn) / (mx - mn) END
               AS price_scaled
    FROM (
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               min(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mn,
               max(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mx
        FROM orders
    )
    """,
)
def q_udtf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-priority-class min-max normalization.

    min/max are exact selections and the per-row rescale is one IEEE
    division — exactly reproducible by the window-form oracle (a z-score
    variant would need decimal moment sums; min-max keeps the grouped-map
    pattern bit-portable).

    Cardinality note (measured at sf0.1): grouped-map pays one Arrow
    round-trip PER GROUP, so it is for FEW-LARGE-GROUP shapes — keyed on
    the 5-value priority here (5 × 30k-row batches). The same query keyed
    on o_custkey (15k tiny groups) ran 50× slower; per-entity
    normalization belongs in window functions (see the oracle's form).
    """

    def rescale(pdf: pd.DataFrame) -> pd.DataFrame:
        mn, mx = pdf["o_totalprice"].min(), pdf["o_totalprice"].max()
        if mx == mn:
            pdf["price_scaled"] = 0.5
        else:
            pdf["price_scaled"] = (pdf["o_totalprice"] - mn) / (mx - mn)
        return pdf[["o_orderkey", "o_orderpriority", "o_totalprice", "price_scaled"]]

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return o.groupBy("o_orderpriority").applyInPandas(
        rescale,
        schema="o_orderkey bigint, o_orderpriority string, o_totalprice double, "
        "price_scaled double",
    )


@query(
    "q_udtf_python",
    bench=False,
    oracle="""
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
    FROM documents
    WHERE doc_id < 25
    """,
)
def q_udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF: explode each document into (word, pos) rows via a
    lateral table function (@udtf, Spark ≥3.5)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, pos int")
    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate(text.split(" ")):
                yield w, i

    spark.udtf.register("split_words", SplitWords)
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 25)
    d.createOrReplaceTempView("udtf_docs")
    return spark.sql(
        "SELECT doc_id, s.word, s.pos "
        "FROM udtf_docs, LATERAL split_words(text) s"
    )


@query(
    "q_udf_registered_sql",
    bench=False,
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'delinquent'
                WHEN c_acctbal < 5000 THEN 'standard'
                ELSE 'premium' END AS tier
    FROM customer
    """,
)
def q_udf_registered_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDF registered for the SQL entry point (spark.sql string).

    Row-at-a-time UDFs serialize per row — covered for API completeness;
    the hot-path equivalent is the CASE expression in q_conditional.
    """

    def tier(bal: float) -> str:
        if bal < 0:
            return "delinquent"
        if bal < 5000:
            return "standard"
        return "premium"

    spark.udf.register("acct_tier", tier, "string")
    load(spark, sf_dir, "customer").createOrReplaceTempView("udf_customer")
    return spark.sql(
        "SELECT c_custkey, acct_tier(c_acctbal) AS tier FROM udf_customer"
    )


@query(
    "q_udf_cogrouped_map",
    oracle=f"""
    WITH om AS (
        SELECT year(o_orderdate) * 100 + month(o_orderdate) AS month_id,
               count(*) AS n_orders,
               {sql_finish_dec(f"sum(cast(o_totalprice as {DEC}))", 2)}
                   AS order_revenue
        FROM orders GROUP BY 1
    ),
    lm AS (
        SELECT year(l_shipdate) * 100 + month(l_shipdate) AS month_id,
               count(*) AS n_lines,
               {sql_finish_dec(
                   f"sum(cast(l_extendedprice * (1 - l_discount) as {DEC}))", 2
               )} AS line_revenue
        FROM lineitem GROUP BY 1
    )
    SELECT coalesce(om.month_id, lm.month_id) AS month_id,
           cast(coalesce(om.n_orders, 0) AS bigint) AS n_orders,
           cast(coalesce(lm.n_lines, 0) AS bigint) AS n_lines,
           coalesce(om.order_revenue, 0.0) AS order_revenue,
           coalesce(lm.line_revenue, 0.0) AS line_revenue,
           CASE WHEN coalesce(om.order_revenue, 0.0) = 0.0 THEN NULL
                ELSE coalesce(lm.line_revenue, 0.0) / om.order_revenue
           END AS ship_to_book_ratio
    FROM om FULL OUTER JOIN lm ON om.month_id = lm.month_id
    """,
)
def q_udf_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map (``groupBy().cogroup().applyInPandas``): orders and
    lineitems cogrouped BY MONTH into one Python function that sees both
    sides of each key at once — the two-table custom-logic surface
    (reconciliation, custom joins, per-key model scoring) that completes
    §2.10 beyond single-input grouped maps.

    The function emits one booking-vs-shipping reconciliation row per
    month: both revenue sums replay the engines' decimal pipeline in
    Python Decimal (quantize 10 dp per value, exact sum, finish 2 dp —
    the q_udaf_grouped_agg recipe), so the Arrow boundary stays
    bit-exact against the full-outer-join SQL oracle, including months
    present on only one side (empty cogroup partner → zeros/NULL
    ratio). Keyed on month (~82 groups of thousands of rows) per the
    few-large-groups rule — one Arrow round-trip per group.
    """
    from decimal import ROUND_HALF_UP, Decimal

    q10, q2 = Decimal("1e-10"), Decimal("0.01")

    def dec_sum(values) -> float:
        total = sum(Decimal(v).quantize(q10, ROUND_HALF_UP) for v in values)
        return float(Decimal(total).quantize(q2, ROUND_HALF_UP))

    def reconcile(key, odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        order_rev = dec_sum(odf["o_totalprice"].tolist())
        line_rev = dec_sum(
            (ldf["l_extendedprice"] * (1 - ldf["l_discount"])).tolist()
        )
        return pd.DataFrame(
            {
                "month_id": [int(key[0])],
                "n_orders": [len(odf)],
                "n_lines": [len(ldf)],
                "order_revenue": [order_rev],
                "line_revenue": [line_rev],
                "ship_to_book_ratio": [
                    None if order_rev == 0.0 else line_rev / order_rev
                ],
            }
        )

    o = load(spark, sf_dir, "orders").select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("month_id"),
        "o_totalprice",
    )
    li = load(spark, sf_dir, "lineitem").select(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("month_id"),
        "l_extendedprice",
        "l_discount",
    )
    return o.groupBy("month_id").cogroup(li.groupBy("month_id")).applyInPandas(
        reconcile,
        schema="month_id bigint, n_orders bigint, n_lines bigint, "
        "order_revenue double, line_revenue double, ship_to_book_ratio double",
    )


@query(
    "q_udf_arrow_optimized",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(substr(o_orderpriority, 1, 1) AS INT) * 10
                + CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END
                AS BIGINT) AS urgency_score
    FROM orders
    """,
)
def q_udf_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-OPTIMIZED scalar Python UDF (``F.udf(..., useArrow=True)``,
    SPARK-40307) — the third point on the Python-boundary spectrum,
    between q_udf_registered_sql's pickled row-at-a-time UDF and
    q_udf_scalar_pandas's vectorized pandas UDF: the author still
    writes a plain per-row Python function (no pandas), but transport
    switches from pickle round-trips to Arrow record batches
    (ArrowEvalPython in the plan — asserted in tests/test_plans.py).
    The remaining gap to a pandas UDF is per-row Python-call overhead,
    which is why the module docstring still ranks pandas UDFs as the
    hot-path form; useArrow is the drop-in accelerator for existing
    row-UDF code a user migrates from the reference engine.

    Scoring is integer-only (priority digit x 10 + a whale-order bit),
    so the oracle is exact with no float-parity caveats.
    """
    from pyspark.sql.types import LongType

    def urgency(priority: str, total: float) -> int:
        return int(priority[0]) * 10 + (1 if total > 200000 else 0)

    u = F.udf(urgency, LongType(), useArrow=True)
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        u(F.col("o_orderpriority"), F.col("o_totalprice")).alias(
            "urgency_score"
        ),
    )


@query(
    "q_udf_map_in_arrow",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_quantity >= 45
    """,
)
def q_udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the LOWEST-overhead Python boundary: the function
    receives raw pyarrow RecordBatches and computes with pyarrow.compute
    kernels (C++ SIMD), skipping even the Arrow→pandas conversion that
    pandas UDFs pay (no index construction, no object boxing, no copy
    for string columns). The completion of the §2.10 spectrum:
    registered row UDF (pickle) → useArrow row UDF (Arrow transport,
    Python per row) → pandas UDF (vectorized, pandas tax) → mapInArrow
    (vectorized, zero pandas tax). Same net-price semantics as
    q_udf_scalar_pandas on a different quantity slice; per-row
    arithmetic is one IEEE multiply chain on identical parquet doubles,
    so the oracle is exact. Plan shows a MapInArrow node (plan
    contract); map-only — no shuffle, fully pipelined with the scan.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def net_price(batches):
        for b in batches:
            keep = pc.greater_equal(b.column("l_quantity"), 45.0)
            f = b.filter(keep)
            net = pc.multiply(
                f.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), f.column("l_discount")),
            )
            yield pa.RecordBatch.from_arrays(
                [f.column("l_orderkey"), f.column("l_linenumber"), net],
                names=["l_orderkey", "l_linenumber", "net_price"],
            )

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    return li.mapInArrow(
        net_price, "l_orderkey bigint, l_linenumber int, net_price double"
    )


@query(
    "q_udtf_polymorphic",
    oracle="""
    WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE doc_id < 25
    )
    SELECT doc_id,
           w[1] AS tok_1, w[2] AS tok_2, w[3] AS tok_3, w[4] AS tok_4
    FROM ws
    """,
)
def q_udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF (SPARK-44503, Spark ≥4): the output
    schema is computed at ANALYZE time by the UDTF's static ``analyze``
    method from the call's constant argument — ``first_tokens(text, 4)``
    plans 4 token columns, ``first_tokens(text, 2)`` would plan 2 — the
    table-function counterpart of a dynamic projection, impossible with
    the fixed ``returnType`` form (q_udtf_python). Catalyst sees the
    concrete 4-column schema before optimization, so pruning/pushdown
    work exactly as for a static source; ``n`` must be foldable
    (``isConstantExpression`` — enforced with a clear error, since a
    per-row column count has no relational meaning).

    Parity: pure token slicing with NULL padding; DuckDB's list
    subscript returns NULL past the end, matching the generator's pads.
    """
    from pyspark.sql.types import LongType, StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult
    from pyspark.sql.functions import udtf

    @udtf
    class FirstTokens:
        @staticmethod
        def analyze(
            doc_id: AnalyzeArgument, text: AnalyzeArgument, n: AnalyzeArgument
        ) -> AnalyzeResult:
            if not n.isConstantExpression or not isinstance(n.value, int):
                raise ValueError("first_tokens: n must be a constant int")
            schema = StructType().add("doc_id", LongType())
            for i in range(1, n.value + 1):
                schema = schema.add(f"tok_{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, doc_id: int, text: str, n: int):
            toks = text.split(" ")
            yield (doc_id, *(toks[i] if i < len(toks) else None for i in range(n)))

    spark.udtf.register("first_tokens", FirstTokens)
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 25)
    d.createOrReplaceTempView("udtf_poly_docs")
    return spark.sql(
        "SELECT s.* FROM udtf_poly_docs, "
        "LATERAL first_tokens(doc_id, text, 4) s"
    )


#: the price is cast to exact decimal BEFORE the multiply: a double
#: product here is a parity trap on ties — 119114.3 × 0.95 in IEEE is
#: …58499999999272 whose ×100 rounds to exactly 11315858.5, so DuckDB's
#: float-path double→decimal cast says .59 while Spark's exact
#: BigDecimal route says .58. decimal × decimal is exact in BOTH
#: engines (…585 → .59 HALF_UP, identical), the standard DEC recipe.
_SQL_UDF_LADDER = (
    f"cast({{price}} as {DEC})"
    " * (1 - CASE WHEN {price} > 200000 THEN 0.10"
    "             WHEN {price} > 100000 THEN 0.05"
    "             ELSE 0.0 END)"
)


@query(
    "q_sql_udf_create_function",
    oracle=f"""
    SELECT o_orderkey,
           {sql_finish_dec(_SQL_UDF_LADDER.format(price='o_totalprice'), 2)}
               AS billed
    FROM orders
    WHERE o_orderstatus = 'O'
    """,
)
def q_sql_udf_create_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF via ``CREATE TEMPORARY FUNCTION … RETURN expr``
    (SPARK-46246, Spark ≥4): the function body is a SQL EXPRESSION, so
    Catalyst INLINES it at plan time — unlike every Python UDF in this
    module there is no serialization boundary at all; the call compiles
    to the same whole-stage-codegen CASE the user could have written by
    hand (asserted in tests/test_plans.py::test_sql_udf_inlines_to_case).
    This is the right form for shared business logic (discount ladders,
    tier rules) that must run at scan throughput on 100 TB while staying
    centrally defined — the catalog-function migration path for the
    reference engine's stored scalar functions.

    Parity: the ladder multiplies in EXACT decimal (see _SQL_UDF_LADDER's
    note — the double-product form misrounds the 113158.585 tie because
    DuckDB's double→decimal cast is float-path while Spark's is exact
    BigDecimal), finished at 2 dp with the standard DEC recipe
    (Spark decimal downcast rounds HALF_UP; DuckDB round()-before-
    downcast via sql_finish_dec).
    """
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS volume_discount")
    ladder = _SQL_UDF_LADDER.format(price="price")
    spark.sql(
        f"""
        CREATE TEMPORARY FUNCTION volume_discount(price DOUBLE)
        RETURNS DOUBLE
        RETURN cast(cast(({ladder}) as decimal(38,2)) as double)
        -- decimal(38,2) downcast rounds HALF_UP in Spark (== the
        -- oracle's round-then-downcast sql_finish_dec recipe)
        """
    )
    load(spark, sf_dir, "orders").createOrReplaceTempView("sqludf_orders")
    return spark.sql(
        """
        SELECT o_orderkey, volume_discount(o_totalprice) AS billed
        FROM sqludf_orders WHERE o_orderstatus = 'O'
        """
    )


@query(
    "q_udtf_table_argument",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           cast(sum(len(string_split(text, ' '))) as bigint) AS total_words,
           min(doc_id) AS first_doc
    FROM documents
    GROUP BY lang
    """,
)
def q_udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF with a TABLE argument + PARTITION BY / ORDER BY
    (SPARK-44233, Spark ≥3.5/4): the table function consumes a whole
    RELATION — ``summarize_lang(TABLE(docs) PARTITION BY lang ORDER BY
    doc_id)`` — with the ENGINE doing the shuffle: each UDTF instance
    receives exactly one partition's rows in the requested order,
    accumulates in ``eval`` and emits its summary from ``terminate``.
    This is the third UDTF form after the lateral scalar-args UDTF
    (q_udtf_python) and the analyze-time polymorphic one
    (q_udtf_polymorphic), and the API-level counterpart of
    applyInPandas for row-at-a-time logic that needs partition-scoped
    state (sessionizers, legacy per-group parsers).

    Scale: PARTITION BY lang is a real hash shuffle planned by Spark
    (same cardinality rules as any groupBy — few large groups is the
    right shape, q_udtf_grouped_map's lesson); the Python boundary
    streams rows per partition, state is O(1) per instance.

    Parity: count/sum/min of integer quantities, ORDER BY doc_id makes
    first-row state deterministic — plain SQL aggregation oracle.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="lang string, n_docs bigint, total_words bigint, first_doc bigint")
    class SummarizeLang:
        def __init__(self):
            self.lang = None
            self.n = 0
            self.words = 0
            self.first = None

        def eval(self, row):
            self.lang = row["lang"]
            self.n += 1
            self.words += len(row["text"].split(" "))
            if self.first is None:
                self.first = row["doc_id"]

        def terminate(self):
            if self.n:
                yield self.lang, self.n, self.words, self.first

    spark.udtf.register("summarize_lang", SummarizeLang)
    load(spark, sf_dir, "documents").createOrReplaceTempView("udtf_tablearg_docs")
    return spark.sql(
        "SELECT * FROM summarize_lang("
        "TABLE(udtf_tablearg_docs) PARTITION BY lang ORDER BY doc_id)"
    )


@query(
    "q_udf_iterator_pandas",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '),
                                x -> x IN ('spark', 'data', 'query', 'join')))
                AS BIGINT) AS n_engine_terms
    FROM documents
    """,
)
def q_udf_iterator_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series pandas UDF (SCALAR_ITER) — the boundary form
    for EXPENSIVE PER-TASK INITIALIZATION: the generator body runs once
    per task, so the costly setup (here a compiled regex standing in for
    the usual tokenizer/model/dictionary load) is amortized across every
    Arrow batch the task processes, instead of being re-paid per batch
    (plain pandas UDF closure) or per row (row UDF). This is the shape
    a 100-TB text pipeline uses to apply a loaded artifact — langid
    model, spaCy pipeline, BPE vocab — where init costs seconds and must
    not multiply by batch count (Spark feeds ~10k-row batches, so a 1 GB
    input partition sees hundreds of batches per task).

    Counting is integer (term occurrences among whitespace tokens), so
    the oracle is exact. Plan shows ArrowEvalPython like any pandas UDF
    (SCALAR_ITER changes the Python-side protocol, not the plan node);
    map-only, pipelined with the scan — no shuffle.
    """
    import re

    @pandas_udf("long")
    def count_terms(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # one-time per-task init — the whole point of SCALAR_ITER
        pattern = re.compile(r"\b(?:spark|data|query|join)\b")
        for s in batches:
            yield s.str.count(pattern).astype("int64")

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", count_terms("text").alias("n_engine_terms"))


@query(
    "q_udf_pandas_struct",
    oracle="""
    SELECT doc_id,
           CAST(len(text) AS INT) AS nchars,
           CAST(len(string_split(text, ' ')) AS INT) AS n_words,
           string_split(text, ' ')[1] AS first_word
    FROM documents
    """,
)
def q_udf_pandas_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct-returning scalar pandas UDF: one Arrow round-trip computes
    MULTIPLE derived columns (the UDF returns a pd.DataFrame whose
    columns map onto a STRUCT type), then the struct is flattened with
    field access. This is the boundary shape for feature extraction at
    100 TB — a featurizer producing k outputs costs ONE Python
    transfer, not k UDF invocations each re-shipping the text column
    (k-fold serialization savings on wide feature sets). Plan is a
    single ArrowEvalPython pipelined with the scan; the flattening
    projection is free (no extra node). Derivations are integer counts
    + a substring pick — exact parity with the string_split oracle
    (single-space split semantics match pandas .str.split(' ')).
    """

    @pandas_udf("nchars int, n_words int, first_word string")
    def featurize(texts: pd.Series) -> pd.DataFrame:
        parts = texts.str.split(" ")
        return pd.DataFrame(
            {
                "nchars": texts.str.len().astype("int32"),
                "n_words": parts.str.len().astype("int32"),
                "first_word": parts.str[0],
            }
        )

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", featurize("text").alias("f")).select(
        "doc_id", "f.nchars", "f.n_words", "f.first_word"
    )


@query(
    "q_udf_grouped_apply_arrow",
    oracle="""
    SELECT o_orderpriority,
           cast(count(*) as bigint) AS n_orders,
           cast(min(o_orderkey) as bigint) AS min_key,
           cast(max(o_orderkey) as bigint) AS max_key,
           cast(sum(o_custkey) as bigint) AS cust_sum
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_udf_grouped_apply_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map over RAW ARROW (``groupBy().applyInArrow``, Spark 4)
    — the zero-pandas rung of the grouped-map ladder: the function
    receives each group as a ``pyarrow.Table`` and returns one,
    skipping the Arrow→pandas conversion q_udtf_grouped_map pays (no
    index materialization, no dtype coercion, no object boxing for
    strings) — the right tier when the per-group logic is itself
    columnar (pyarrow.compute kernels). Completes the Arrow ladder:
    scalar (q_udf_arrow_optimized), map (q_udf_map_in_arrow), grouped
    map (this), cogrouped pandas (q_udf_cogrouped_map).

    Exactness: all-integer pyarrow.compute aggregations (count/min/max/
    int64 sum — no floats anywhere), so the oracle replays bit-exactly.

    Scale: same shuffle as any groupBy; one Arrow batch per group
    crosses the boundary, columnar both ways."""
    import pyarrow as pa
    import pyarrow.compute as pc

    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_custkey"
    )

    def summarize(t: pa.Table) -> pa.Table:
        keys = t.column("o_orderkey")
        return pa.table(
            {
                "o_orderpriority": [t.column("o_orderpriority")[0].as_py()],
                "n_orders": [t.num_rows],
                "min_key": [pc.min(keys).as_py()],
                "max_key": [pc.max(keys).as_py()],
                "cust_sum": [pc.sum(t.column("o_custkey")).as_py()],
            }
        )

    return (
        o.groupBy("o_orderpriority")
        .applyInArrow(
            summarize,
            schema=(
                "o_orderpriority string, n_orders bigint, min_key bigint,"
                " max_key bigint, cust_sum bigint"
            ),
        )
        .orderBy("o_orderpriority")
    )
