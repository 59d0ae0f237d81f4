"""Scalar function surface (SURVEY.md §2.8): string / date / math /
conditional / cast / array / map / json / struct.

All JVM-side built-ins (whole-stage codegen keeps these fused into the
scan stage — zero Python in the hot path). Dialect parity notes live next
to each query; the recurring ones:
  * DuckDB ceil/floor return DOUBLE (Spark BIGINT) → cast.
  * DuckDB date_trunc returns DATE (Spark TIMESTAMP) → cast.
  * Spark weekday (Mon=0) == DuckDB isodow-1.
  * DuckDB regexp_replace needs the 'g' flag to match Spark's
    replace-all semantics.
  * datediff arg order: Spark (end, start) == DuckDB date_diff('day',
    start, end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import finish, sql_finish_dbl
from ..registry import query
from ..sources.tables import load


@query(
    "q_string_funcs",
    oracle=r"""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           lower(p_type) AS type_lower,
           trim(concat('  ', p_name, ' ')) AS name_trimmed,
           substring(p_name, 1, 4) AS name_prefix,
           cast(length(p_name) as int) AS name_len,
           concat_ws('-', p_brand, p_type) AS brand_type,
           replace(p_name, ' ', '_') AS name_snake,
           lpad(cast(p_size as varchar), 3, '0') AS size_padded,
           array_to_string(string_split(p_name, ' '), '|') AS name_words,
           cast(len(string_split(p_name, ' ')) as int) AS n_words,
           regexp_extract(p_brand, '#(\d+)', 1) AS brand_num,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS name_devoweled
    FROM part
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String battery over part (upper/lower/trim/substr/length/concat_ws/
    replace/lpad/split/regexp_extract/regexp_replace)."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_type").alias("type_lower"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit(" "))).alias(
            "name_trimmed"
        ),
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_padded"),
        # split is exercised, but the output is re-joined to a scalar string:
        # array columns crash the driver's pandas canonicalizer (round 1).
        F.array_join(F.split("p_name", " "), "|").alias("name_words"),
        F.size(F.split("p_name", " ")).alias("n_words"),
        F.regexp_extract("p_brand", r"#(\d+)", 1).alias("brand_num"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("name_devoweled"),
    )


@query(
    "q_date_funcs",
    bench=False,
    oracle="""
    SELECT o_orderkey,
           cast(year(o_orderdate) as int) AS order_year,
           cast(month(o_orderdate) as int) AS order_month,
           cast(dayofmonth(o_orderdate) as int) AS order_dom,
           cast(isodow(o_orderdate) - 1 as int) AS order_weekday,
           cast(quarter(o_orderdate) as int) AS order_quarter,
           cast(date_trunc('month', o_orderdate) as timestamp) AS order_month_start,
           cast(cast(o_orderdate as date) + 30 as timestamp) AS due_date,
           cast(date_diff('day', o_orderdate,
                          TIMESTAMP '2002-01-01 00:00:00') as int) AS days_to_2002,
           cast(last_day(cast(o_orderdate as date)) as timestamp) AS month_end,
           epoch_us(o_orderdate) // 1000000 AS order_epoch
    FROM orders
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time battery over o_orderdate (see module parity notes).

    DATE values never reach the output — they are upcast to timestamp:
    DuckDB's pandas bridge widens DATE to datetime64 while Spark returns
    datetime.date objects, so a DATE output column can never hash-match.
    """
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_dom"),
        F.weekday("o_orderdate").alias("order_weekday"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month_start"),
        F.date_add(F.col("o_orderdate").cast("date"), 30)
        .cast("timestamp_ntz")
        .alias("due_date"),
        F.datediff(
            F.expr("TIMESTAMP_NTZ '2002-01-01 00:00:00'"), F.col("o_orderdate")
        ).alias("days_to_2002"),
        F.last_day(F.col("o_orderdate").cast("date"))
        .cast("timestamp_ntz")
        .alias("month_end"),
        F.unix_timestamp("o_orderdate").alias("order_epoch"),
    )


@query(
    "q_math_funcs",
    bench=False,
    oracle=f"""
    SELECT c_custkey,
           abs(c_acctbal) AS bal_abs,
           cast(ceil(c_acctbal) as bigint) AS bal_ceil,
           cast(floor(c_acctbal) as bigint) AS bal_floor,
           cast(sign(c_acctbal) as int) AS bal_sign,
           sqrt(abs(c_acctbal)) AS bal_sqrt,
           {sql_finish_dbl('ln(abs(c_acctbal) + 1)', 6)} AS bal_ln,
           {sql_finish_dbl('exp(c_acctbal / 10000)', 6)} AS bal_exp,
           {sql_finish_dbl('pow(c_acctbal / 1000, 2)', 6)} AS bal_pow2,
           cast(c_custkey % 7 as bigint) AS key_mod7,
           greatest(c_acctbal, 0.0) AS bal_pos,
           least(c_acctbal, 0.0) AS bal_neg
    FROM customer
    """,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math battery over c_acctbal (negatives exist — FIXTURES.md).

    Transcendentals (ln/exp/sqrt/pow) go through finish(6): libm vs
    java.lang.Math may differ in the final ulp, and a 6-dp decimal round
    collapses that. round(double,n) itself is banned (numeric.py).
    """
    c = load(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return c.select(
        "c_custkey",
        F.abs(bal).alias("bal_abs"),
        F.ceil(bal).alias("bal_ceil"),
        F.floor(bal).alias("bal_floor"),
        F.signum(bal).cast("int").alias("bal_sign"),
        F.sqrt(F.abs(bal)).alias("bal_sqrt"),
        finish(F.log(F.abs(bal) + 1), 6).alias("bal_ln"),
        finish(F.exp(bal / 10000), 6).alias("bal_exp"),
        finish(F.pow(bal / 1000, F.lit(2)), 6).alias("bal_pow2"),
        F.pmod(F.col("c_custkey"), F.lit(7)).cast("bigint").alias("key_mod7"),
        F.greatest(bal, F.lit(0.0)).alias("bal_pos"),
        F.least(bal, F.lit(0.0)).alias("bal_neg"),
    )


@query(
    "q_conditional",
    bench=False,
    oracle="""
    SELECT c_custkey, c_acctbal,
           CASE WHEN c_acctbal < 0 THEN 'delinquent'
                WHEN c_acctbal < 5000 THEN 'standard'
                ELSE 'premium' END AS bal_tier,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           nullif(c_nationkey, 0) AS nation_nz,
           CASE WHEN c_acctbal >= 0 THEN c_acctbal ELSE 0.0 END AS bal_clamped
    FROM customer
    """,
)
def q_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN tiering + coalesce + nullif + if()."""
    c = load(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return c.select(
        "c_custkey",
        "c_acctbal",
        F.when(bal < 0, "delinquent")
        .when(bal < 5000, "standard")
        .otherwise("premium")
        .alias("bal_tier"),
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")
        ).alias("seg_or_other"),
        F.nullif(F.col("c_nationkey"), F.lit(0)).alias("nation_nz"),
        F.expr("if(c_acctbal >= 0, c_acctbal, 0.0d)").alias("bal_clamped"),
    )


@query(
    "q_cast_types",
    bench=False,
    oracle="""
    SELECT o_orderkey,
           cast(o_orderkey as varchar) AS key_str,
           cast(cast(o_orderkey as varchar) as bigint) AS key_roundtrip,
           cast(cast(o_totalprice as decimal(12,2)) as double) AS price_dec2dbl,
           cast(cast(o_totalprice as decimal(12,2)) as varchar) AS price_str,
           cast(trunc(o_totalprice) as bigint) AS price_int,
           cast(o_custkey as double) AS cust_dbl,
           cast(cast(o_orderdate as date) as varchar) AS order_date_str,
           cast(cast(o_orderdate as date) as timestamp) AS date_roundtrip
    FROM orders
    """,
)
def q_cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast matrix: string↔int↔double↔decimal(12,2)↔date↔timestamp.

    Parity notes: Spark's double→bigint cast TRUNCATES while DuckDB's
    ROUNDS — the oracle pins DuckDB to trunc(); double→decimal rounds
    HALF_UP-compatibly in both; decimal→varchar renders the fixed scale
    identically in both. DECIMAL and DATE values are exercised but leave
    the output as double/varchar/timestamp (pandas-bridge portability —
    DuckDB hands decimals to pandas as float64 and dates as datetime64).
    """
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderkey").cast("string").cast("bigint").alias("key_roundtrip"),
        F.col("o_totalprice")
        .cast("decimal(12,2)")
        .cast("double")
        .alias("price_dec2dbl"),
        F.col("o_totalprice").cast("decimal(12,2)").cast("string").alias("price_str"),
        F.col("o_totalprice").cast("bigint").alias("price_int"),
        F.col("o_custkey").cast("double").alias("cust_dbl"),
        F.col("o_orderdate").cast("date").cast("string").alias("order_date_str"),
        F.col("o_orderdate").cast("date").cast("timestamp_ntz").alias(
            "date_roundtrip"
        ),
    )


@query(
    "q_array_funcs",
    oracle=f"""
    SELECT vec_id,
           cast(len(embedding) as int) AS dim,
           cast(embedding[1] as double) AS first_val,
           list_reduce(
               list_transform(embedding[1:4], x -> cast(x as double)),
               (a, b) -> a + b) AS head4_sum,
           cast(list_max(embedding) as double) AS vmax,
           cast(list_min(embedding) as double) AS vmin,
           sqrt(list_reduce(
               list_transform(embedding, x -> cast(x as double) * cast(x as double)),
               (a, b) -> a + b)) AS l2_norm,
           cast(len(list_filter(embedding, x -> x > 0)) as int) AS n_positive
    FROM embeddings
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array battery on the embedding column: size/element_at/slice/min/max
    + higher-order transform/filter/aggregate (L2 norm).

    float32 elements are cast to double BEFORE arithmetic on both sides;
    the left-fold order of F.aggregate matches DuckDB's list_reduce, so
    the per-row reduction is bit-identical (finish(6) guards the sqrt).
    slice() is exercised via head4_sum (slice → fold), not as a raw array
    column: array outputs crash the driver's pandas canonicalizer.
    """
    e = load(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    as_dbl = F.transform(emb, lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size(emb).alias("dim"),
        F.element_at(emb, 1).cast("double").alias("first_val"),
        F.aggregate(
            F.transform(F.slice(emb, 1, 4), lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("head4_sum"),
        F.array_max(emb).cast("double").alias("vmax"),
        F.array_min(emb).cast("double").alias("vmin"),
        F.sqrt(
            F.aggregate(
                F.transform(as_dbl, lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("l2_norm"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_positive"),
    )


@query(
    "q_explode_posexplode",
    bench=False,
    oracle="""
    SELECT vec_id,
           generate_subscripts(embedding, 1) - 1 AS pos,
           cast(unnest(embedding) as double) AS val
    FROM embeddings
    WHERE vec_id < 10
    """,
)
def q_explode_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnest vectors to (vec_id, pos, val) rows — posexplode is 0-based,
    DuckDB's generate_subscripts is 1-based, hence the -1."""
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
    return e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))


@query(
    "q_json_funcs",
    oracle="""
    SELECT event_id,
           cast(json_extract_string(props, '$.k') as int) AS k_path,
           cast(json_extract_string(props, '$.k') as int) AS k_struct,
           json_extract_string(props, '$.k') IS NOT NULL AS has_k
    FROM events
    """,
)
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from events.props — path form (get_json_object) and
    full parse (from_json to struct, then field access)."""
    e = load(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k INT")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_path"),
        parsed.getField("k").alias("k_struct"),
        F.get_json_object("props", "$.k").isNotNull().alias("has_k"),
    )


@query(
    "q_map_funcs",
    bench=False,
    oracle="""
    SELECT event_id,
           'k' AS mkeys,
           coalesce(cast(json_extract_string(props, '$.k') as int)::varchar,
                    'null') AS mvals,
           cast(json_extract_string(props, '$.k') as int) AS k_val,
           cast(json_extract_string(props, '$.k') as int) IS NOT NULL AS k_present
    FROM events
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + entries ops: create_map / map_keys / map_values /
    element_at. Neither the map nor raw arrays reach the output (map
    literal semantics differ across engines; array columns crash the
    driver canonicalizer) — keys/values are comma-joined to strings with
    an explicit 'null' placeholder so NULL values stay visible."""
    e = load(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("k"), F.get_json_object("props", "$.k").cast("int")
    )
    return e.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("mkeys"),
        F.array_join(
            F.transform(F.map_values(m), lambda v: v.cast("string")), ",", "null"
        ).alias("mvals"),
        F.element_at(m, F.lit("k")).alias("k_val"),
        F.map_contains_key(m, F.lit("k")).alias("k_present"),
    )


@query(
    "q_struct_funcs",
    bench=False,
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def q_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """named_struct pack → struct as GROUP KEY → dot-access unpack.

    The struct participates in the aggregation key (exercising struct
    hashing/equality); outputs are the unpacked scalar fields so the
    oracle compares plain columns."""
    o = load(spark, sf_dir, "orders")
    s = F.struct(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
    )
    return (
        o.select(s.alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.col("s.status").alias("status"),
            F.col("s.priority").alias("priority"),
            "n_orders",
        )
    )


@query(
    "q_variant_shred",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT))
                AS BIGINT) AS sum_k,
           CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_k
    FROM events
    GROUP BY 1
    """,
)
def q_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingest via Spark 4's VARIANT type — the modern
    schema-on-read lake pattern: parse the JSON ONCE into the binary
    variant encoding (parse_json), keep it opaque through the pipeline,
    and shred typed fields out at the point of use (variant_get with a
    target type; absent paths surface as NULL, counted here instead of
    erroring — the open-schema contract).

    VARIANT beats string-JSON at scale because the parse cost is paid
    once at ingest, fields extract by direct binary offset instead of
    re-tokenizing the text per access, and Parquet shredding
    (variantShreddingEnabled) can push extraction into the scan. The
    aggregate mirrors a plain JSON-path oracle — same values, the
    variant hop proven lossless. variant_get stays JVM-side (no UDF);
    the group-by is one ordinary shuffle.
    """
    e = load(spark, sf_dir, "events")
    # parse ONCE into a variant column, then extract from IT — a
    # second parse_json per extraction would silently re-tokenize the
    # text and defeat the pattern this key demonstrates.
    parsed = e.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    )
    return (
        parsed.select(
            "event_type",
            F.expr("variant_get(v, '$.k', 'int')").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_missing_k"),
        )
    )


@query(
    "q_agg_listagg",
    oracle="""
    SELECT r_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           count(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_regionkey
    """,
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """listagg — the ANSI SQL:2016 ordered string aggregate, native in
    Spark 4.0 (SPARK-42746): per-region nation roster as ONE delimited
    string, ordered inside the aggregate (WITHIN GROUP semantics) so
    the result is deterministic without a post-sort. Before 4.0 this
    needed the collect_list → array_sort → array_join chain
    (q_agg_collect_sorted's recipe) — listagg is the single-aggregate
    form the reference engine's users expect to keep writing.

    Scale: one hash-agg shuffle on the group key; the ordered variant
    sorts WITHIN each group's collected values (group-local cost), not
    globally. String rosters belong on LOW-cardinality groups (here 5
    regions × 5 nations); an unbounded-group listagg is the same
    memory trap as collect_list and gets the same review flag.

    Parity: DuckDB's string_agg(expr, sep ORDER BY …) is the same
    ANSI aggregate; nation names are unique so ordering is total.

    Cites nation/region join: reference has no code
    (/root/reference/README.md:1-2); surface from SURVEY §2.4.
    """
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").select("r_regionkey")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return j.groupBy("r_regionkey").agg(
        F.expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").alias(
            "nations"
        ),
        F.count(F.lit(1)).alias("n_nations"),
    )


@query(
    "q_try_functions",
    oracle="""
    SELECT event_id,
           CASE WHEN cnt = 0 THEN NULL ELSE value / cnt END AS per_item,
           try_cast(json_extract_string(props, '$.k') as int) AS k_int,
           try_cast(event_type as int) AS type_as_int,
           CASE WHEN len(string_split(event_type, '_')) >= 3
                THEN string_split(event_type, '_')[3] END AS third_part
    FROM (
        SELECT event_id, value, event_type, props,
               cast(json_extract_string(props, '$.k') as int) % 3 AS cnt
        FROM events
    )
    """,
)
def q_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The try_* error-safe battery (Spark 3.2-4.0, ANSI-mode
    companions): try_divide (NULL on ÷0 instead of the ANSI error),
    try_cast (NULL on malformed input — event_type is never numeric,
    so the column is a deliberate all-NULL cast probe), and
    try_element_at (NULL past the end of the split array). This is the
    dirty-ingest surface: under ANSI SQL semantics (Spark 4's default)
    each of these raises mid-job on bad rows — at 100 TB a single
    malformed record 6 hours into a scan kills the job; the try_ forms
    turn data errors into NULLs the pipeline can quarantine
    (q_etl_quarantine is the downstream pattern).

    Parity: DuckDB has no try_divide/try_element_at, so the oracle
    spells the same NULL semantics with CASE guards; try_cast exists
    in both. The ÷0 branch is exercised for real: k % 3 == 0 rows.

    Scale: pure map-side expressions, whole-stage codegen, no UDF.
    """
    e = load(spark, sf_dir, "events")
    staged = e.select(
        "event_id",
        "value",
        "event_type",
        "props",
        (F.get_json_object("props", "$.k").cast("int") % 3).alias("cnt"),
    )
    return staged.select(
        "event_id",
        F.try_divide(F.col("value"), F.col("cnt")).alias("per_item"),
        F.get_json_object("props", "$.k").try_cast("int").alias("k_int"),
        F.col("event_type").try_cast("int").alias("type_as_int"),
        F.try_element_at(
            F.split(F.col("event_type"), "_"), F.lit(3)
        ).alias("third_part"),
    )


@query(
    "q_string_regexp_battery",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\b[a-z]{6,}\b')) AS BIGINT)
               AS n_long,
           CAST(len(regexp_extract_all(text, '\b(s[a-z]+)\b', 1)) AS BIGINT)
               AS n_swords,
           coalesce(array_to_string(
               regexp_extract_all(text, '\b(s[a-z]+)\b', 1)[1:5], ','), '')
               AS first_swords,
           CAST(CASE WHEN regexp_matches(text, 'merge')
                     THEN position('merge' in text) ELSE 0 END AS BIGINT)
               AS pos_merge,
           regexp_matches(text, '\bvector\b') AS has_vector,
           regexp_replace(substr(text, 1, 40), '[aeiou]+', '_', 'g')
               AS devoweled_head
    FROM documents
    """,
)
def q_string_regexp_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex function battery (Spark 3.5 additions): regexp_count,
    regexp_extract_all (+ capture group), regexp_instr, rlike, and
    global regexp_replace — the text-wrangling surface a crawl/ETL
    pipeline leans on for pattern mining before heavier NLP. All run
    JVM-side inside whole-stage codegen (java.util.regex), map-only
    with the scan — the cheap path; only genuinely stateful tokenizers
    need the Python boundary (q_udf_iterator_pandas). Patterns are kept
    to the RE2-compatible common subset (no backrefs/lookaround) so
    Java regex (Spark) and RE2 (DuckDB) agree; extract-all order is
    left-to-right in both, so array_join-ing the first 5 captures is
    deterministic. regexp_instr is 1-based first-match position (0 =
    no match) in both spellings.
    """
    d = load(spark, sf_dir, "documents")
    stems = F.expr(r"regexp_extract_all(text, '\\b(s[a-z]+)\\b', 1)")
    return d.select(
        "doc_id",
        F.expr(r"regexp_count(text, '\\b[a-z]{6,}\\b')").alias("n_long"),
        F.size(stems).cast("long").alias("n_swords"),
        F.array_join(F.slice(stems, 1, 5), ",").alias("first_swords"),
        F.expr("regexp_instr(text, 'merge')").cast("long").alias("pos_merge"),
        F.col("text").rlike(r"\bvector\b").alias("has_vector"),
        F.regexp_replace(F.substring("text", 1, 40), "[aeiou]+", "_").alias(
            "devoweled_head"
        ),
    )


@query(
    "q_xml_funcs",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS st,
           o_orderkey * 3 AS tot,
           o_orderpriority AS pri,
           CAST(o_orderkey % 7 AS BIGINT) AS parsed_a
    FROM orders
    WHERE o_orderkey < 500
    """,
)
def q_xml_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML extraction battery: the legacy xpath_* family (attribute and
    element access via XPath — JVM-side, codegen-friendly) plus Spark
    4.0's from_xml (schema-directed parse to a struct, the XML twin of
    from_json). Vendor/EDI feeds still arrive as XML at every telecom
    and logistics shop, so an ETL engine needs both: xpath for cheap
    single-field plucks, from_xml when the whole record becomes typed
    columns. The XML is synthesized deterministically from order
    attributes, so the oracle derives the SAME fields from the raw
    columns — agreement proves extraction round-trips the construction
    exactly (values, attribute quoting, element nesting). Map-only with
    the scan; no shuffle. Struct output is flattened to scalars per the
    no-complex-outputs contract.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    xml = F.concat(
        F.lit('<order status="'),
        F.col("o_orderstatus"),
        F.lit('"><total>'),
        (F.col("o_orderkey") * 3).cast("string"),
        F.lit("</total><priority>"),
        F.col("o_orderpriority"),
        F.lit("</priority><meta><a>"),
        (F.col("o_orderkey") % 7).cast("string"),
        F.lit("</a></meta></order>"),
    )
    x = o.select("o_orderkey", xml.alias("x"))
    return x.select(
        "o_orderkey",
        F.expr("xpath_string(x, '/order/@status')").alias("st"),
        F.expr("xpath_long(x, '/order/total')").alias("tot"),
        F.expr("xpath_string(x, '/order/priority')").alias("pri"),
        F.expr("from_xml(x, 'meta STRUCT<a: BIGINT>')").getField("meta")
        .getField("a")
        .alias("parsed_a"),
    )


@query(
    "q_date_timezone",
    oracle="""
    SELECT o_orderkey,
           CAST(timezone('America/New_York', o_orderdate AT TIME ZONE 'UTC')
                AS VARCHAR) AS ny_wall,
           CAST(hour(timezone('Asia/Kolkata', o_orderdate AT TIME ZONE 'UTC'))
                AS INT) AS kolkata_hour,
           CAST(o_orderdate AS VARCHAR) AS roundtrip
    FROM orders
    """,
)
def q_date_timezone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-zone conversion battery: from_utc_timestamp /
    to_utc_timestamp against named IANA zones — the correctness surface
    global event data lives or dies on (a telco's switches log UTC; the
    business reads local wall time). America/New_York exercises the
    FULL DST table across the fixture's 1995-2001 span (midnight UTC is
    19:00 OR 20:00 the previous NY day depending on the date — both
    engines must consult the same tz database rules); Asia/Kolkata
    exercises a half-hour offset (+05:30, no DST). The roundtrip column
    pins to_utc(from_utc(ts)) == ts — the invariant that catches
    accidental double conversion. Wall times are emitted as STRINGS
    (naive-timestamp column types differ across the pandas bridge);
    conversion is JVM-side codegen, map-only. DuckDB spells the same
    conversions with ICU timezone()/AT TIME ZONE.
    """
    o = load(spark, sf_dir, "orders")
    ny = F.from_utc_timestamp("o_orderdate", "America/New_York")
    return o.select(
        "o_orderkey",
        ny.cast("string").alias("ny_wall"),
        F.hour(F.from_utc_timestamp("o_orderdate", "Asia/Kolkata"))
        .cast("int")
        .alias("kolkata_hour"),
        F.to_utc_timestamp(ny, "America/New_York")
        .cast("string")
        .alias("roundtrip"),
    )
