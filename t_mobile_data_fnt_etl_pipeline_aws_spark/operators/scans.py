"""Scan / source / sink operators (SURVEY.md §2.1).

Extract and load surface: parquet scans with schema contracts, CSV/JSON
ingest round-trips, partitioned sinks, idempotent overwrite. Sinks write
under a per-process temp dir (queries receive only (spark, sf_dir); the
fixture tree is read-only).

Scale notes: the partitioned sink is the 100-TB layout tool — readers
prune on the partition column (DPP does it dynamically for joins);
overwrite-mode rewrites are the idempotency primitive for re-runnable
ETL loads.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.numeric import dsum, sql_dsum, sql_exact
from ..registry import query
from ..sources.tables import SCHEMAS, load


def _sink_dir(name: str) -> str:
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_sinks_{os.getpid()}")
    os.makedirs(base, exist_ok=True)
    return os.path.join(base, name)


#: The orders projection most per-year manifest tables hold.
_ORDER_COLS = ["o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"]


def _orders_by_year(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    cols: list[str] | None = None,
    parts: int = 1,
    op: str = "append_y",
) -> tuple[str, DataFrame, list[int]]:
    """The per-year manifest table of the write-then-read keys: a fresh
    uuid table dir ``<tag>_<uuid>`` holding ``orders`` (projected to
    ``cols``) as one version per order year, ascending, each slice
    ``repartition(parts)`` with op ``f"{op}{year}"``. The years are
    collected once; the slices are independent appends, so they stage
    concurrently through one ``commit_appends`` and publish in year
    order (the manifests equal a serial ``commit_append`` loop's).
    Returns (table dir, the projected orders, the versions)."""
    import uuid

    from ..sources.manifest_table import commit_appends

    table = _sink_dir(f"{tag}_{uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders")
    if cols:
        o = o.select(*cols)
    yr = F.year("o_orderdate")
    years = sorted(r.yr for r in o.select(yr.alias("yr")).distinct().collect())
    versions = commit_appends(
        [o.filter(yr == y).repartition(parts) for y in years],
        table,
        ["o_orderdate"],
        [f"{op}{y}" for y in years],
    )
    return table, o, versions


@query(
    "q_scan_parquet",
    oracle="SELECT * FROM lineitem",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parquet scan of the largest table, all columns projected
    (vectorized columnar reader; the no-filter no-prune baseline)."""
    return load(spark, sf_dir, "lineitem")


@query(
    "q_scan_schema_assert",
    bench=False,
    oracle="SELECT * FROM supplier",
)
def q_scan_schema_assert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan under the contract schema: the loader checks the footer
    against ``SCHEMAS["supplier"]`` on the driver, then hands Spark that
    StructType via ``.schema(...)``, so no inference job runs — the
    pattern for production readers where inference is a correctness risk.
    """
    return load(spark, sf_dir, "supplier")


@query(
    "q_scan_csv_roundtrip",
    bench=False,
    oracle="SELECT r_regionkey, r_name FROM region",
)
def q_scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ETL ingest format check: write region to CSV (header), read back
    with an explicit schema — int/string round-trip losslessly."""
    out = _sink_dir("region_csv")
    load(spark, sf_dir, "region").write.mode("overwrite").option(
        "header", "true"
    ).csv(out)
    return spark.read.schema(StructType.fromDDL(SCHEMAS["region"])).option(
        "header", "true"
    ).csv(out)


@query(
    "q_scan_json_roundtrip",
    bench=False,
    oracle="""
    SELECT event_id, user_id, event_type, value,
           cast(json_extract_string(props, '$.k') as int) AS k
    FROM events
    """,
)
def q_scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events to JSON lines, read back with an explicit schema.

    Doubles round-trip bit-exactly through Spark's JSON writer (shortest
    round-trip repr); the nested props JSON-in-JSON is re-extracted after
    the round-trip. Timestamps are excluded from the OUTPUT (their text
    form round-trips, but exactness is already covered by parquet paths)
    — kept in the file to exercise serialization.
    """
    out = _sink_dir("events_json")
    load(spark, sf_dir, "events").write.mode("overwrite").json(out)
    back = spark.read.schema(StructType.fromDDL(SCHEMAS["events"])).json(out)
    return back.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


@query(
    "q_sink_parquet_partitioned",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders,
           count(DISTINCT o_orderkey) AS n_keys
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink + pruned read-back.

    write.partitionBy(priority) lays one directory per value; the
    read-back groups on the partition column — at scale the scan for any
    single priority touches only its directory (static pruning; DPP when
    joined). Partition columns come back as strings; counts prove no
    rows were lost or duplicated across the layout.
    """
    out = _sink_dir("orders_partitioned")
    load(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy(
        F.col("o_orderpriority").cast("string").alias("o_orderpriority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_orderkey").alias("n_keys"),
    )


@query(
    "q_sink_overwrite_idempotent",
    bench=False,
    oracle="""
    SELECT o_orderstatus, count(*) AS n_orders
    FROM orders
    WHERE o_totalprice > 200000
    GROUP BY o_orderstatus
    """,
)
def q_sink_overwrite_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent load: overwrite-mode sink written TWICE, read once.

    The second write fully replaces the first (no append drift) — the
    re-runnable-job property every scheduled ETL load depends on.
    """
    out = _sink_dir("orders_overwrite")
    slice_df = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    slice_df.write.mode("overwrite").parquet(out)
    slice_df.write.mode("overwrite").parquet(out)  # idempotent re-run
    back = spark.read.parquet(out)
    return back.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_orders"))


@query(
    "q_bucketed_join_colocated",
    bench=False,
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_lines,
           count(DISTINCT o.o_orderkey) AS n_orders
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o_totalprice > 200000
    GROUP BY o_orderstatus
    """,
)
def q_bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table layout → exchange-free fact-fact join.

    Writes orders and lineitem as tables bucketed 8 ways on the join key
    (``bucketBy`` + sorted), then joins them: both sides arrive
    pre-partitioned on o_orderkey/l_orderkey, so the sort-merge join
    needs NO shuffle exchange (tests/test_plans.py asserts it). This is
    the 100-TB co-location strategy the join-module notes promise: pay
    the shuffle once at layout time, amortize it over every subsequent
    join on that key. The oracle is the plain (exchange-ful) join —
    layout must never change answers.
    """
    db = f"graft_buckets_{os.getpid()}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    loc = _sink_dir("bucketed")
    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        table = f"{db}.{name}_bucketed"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        (
            load(spark, sf_dir, name)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(loc, name))
            .mode("overwrite")
            .saveAsTable(table)
        )
    o = spark.table(f"{db}.orders_bucketed").filter(F.col("o_totalprice") > 200000)
    l = spark.table(f"{db}.lineitem_bucketed")
    # pin sort-merge: at fixture scale the planner would broadcast the
    # small side and never touch the bucketed layout under test; at real
    # scale SMJ is what the planner picks anyway.
    return (
        o.hint("merge").join(l, o.o_orderkey == l.l_orderkey, "inner")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


@query(
    "q_scan_orc_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def q_scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write supplier to ORC, read it back with an explicit schema.

    ORC is Spark's other first-class columnar format (vectorized reader,
    predicate pushdown, same partitionBy layout tools as parquet);
    bigint/string/double round-trip losslessly. The oracle reads the
    parquet source — equality proves the ORC hop was bit-exact.
    """
    out = _sink_dir("supplier_orc")
    load(spark, sf_dir, "supplier").write.mode("overwrite").orc(out)
    return spark.read.schema(StructType.fromDDL(SCHEMAS["supplier"])).orc(out)


@query(
    "q_etl_compact_smallfiles",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           cast(sum(n_chars) AS bigint) AS sum_chars,
           count(DISTINCT doc_id) AS n_ids
    FROM documents
    GROUP BY lang
    """,
)
def q_etl_compact_smallfiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a fragmented layout rewritten to sized files.

    The table-maintenance job every long-lived lake needs: a
    64-way-fragmented copy of documents (the classic too-many-tasks
    layout left by over-parallel writers) is rewritten with the output
    file count derived from actual on-disk bytes / 128 MB target — a
    coalesce(), not a repartition(), so the rewrite moves no rows
    across executors. Read-back aggregates prove zero rows/ids lost.
    At 100 TB this is the nightly compaction pass that keeps scan task
    counts proportional to data, not to writer history;
    tests/test_invariants.py asserts the file count actually shrinks.
    """
    src = _sink_dir("docs_fragmented")
    load(spark, sf_dir, "documents").repartition(64).write.mode(
        "overwrite"
    ).parquet(src)
    frag_bytes = sum(
        f.stat().st_size
        for f in os.scandir(src)
        if f.name.endswith(".parquet")
    )
    n_out = max(1, -(-frag_bytes // (128 * 1024 * 1024)))  # ceil
    out = _sink_dir("docs_compacted")
    spark.read.parquet(src).coalesce(n_out).write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.countDistinct("doc_id").alias("n_ids"),
    )


@query(
    "q_scan_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name, NULL AS n_regionkey, 'v1' AS batch
    FROM nation
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey, 'v2' AS batch
    FROM nation
    """,
)
def q_scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: a widened table read across generations.

    The long-lived-lake reality: generation v1 wrote (key, name),
    generation v2 added n_regionkey. mergeSchema unions the file
    schemas at read time — v1 rows surface NULL for the new column, no
    rewrite of old files. At 100 TB this is why columns are only ever
    ADDED (schema union is cheap; a type change forces a rewrite);
    footer-level merging costs one metadata pass, not a data scan. The
    batch column proves which generation each row came from.
    """
    n = load(spark, sf_dir, "nation")
    out = _sink_dir("nation_evolved")
    n.select("n_nationkey", "n_name").withColumn(
        "batch", F.lit("v1")
    ).write.mode("overwrite").parquet(os.path.join(out, "g=1"))
    n.select("n_nationkey", "n_name", "n_regionkey").withColumn(
        "batch", F.lit("v2")
    ).write.mode("overwrite").parquet(os.path.join(out, "g=2"))
    back = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(out)
    return back.select(
        "n_nationkey", "n_name", "n_regionkey", "batch"
    )


@query(
    "q_catalog_table_roundtrip",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    """,
)
def q_catalog_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed-table lifecycle: saveAsTable → catalog lookup → SQL read.

    The metastore workflow a warehouse user lives in: a DataFrame is
    persisted as a table with an explicit storage location, the catalog
    confirms it exists, and plain SQL reads it back by name — no paths
    in the query layer. At 100 TB the catalog is the contract between
    teams: writers register tables, readers discover them; the physical
    layout (format, bucketing, partitioning) stays an implementation
    detail behind the name. EXTERNAL (explicit path under the
    process-scoped sink dir) rather than managed on purpose: a managed
    table's warehouse location outlives the in-memory catalog, so a
    fresh session hits LOCATION_ALREADY_EXISTS on re-run — the
    classic orphaned-location failure; DROP IF EXISTS + overwrite to
    an owned path is idempotent across sessions AND processes.
    """
    name = "graft_region_managed"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    load(spark, sf_dir, "region").select("r_regionkey", "r_name").write.mode(
        "overwrite"
    ).option("path", _sink_dir("region_managed")).saveAsTable(name)
    assert any(t.name == name for t in spark.catalog.listTables())
    return spark.sql(f"SELECT r_regionkey, r_name FROM {name}")


@query(
    "q_scan_text_lines",
    oracle="""
    SELECT lang, count(*) AS n_lines,
           cast(sum(length(text)) AS bigint) AS n_chars
    FROM documents
    WHERE NOT contains(text, chr(10))
    GROUP BY lang
    """,
)
def q_scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source: write docs as raw lines, read, re-key.

    Completes the format house (parquet/csv/json/orc/text): documents
    serialize as `lang\\tTEXT` lines through the text sink, the text
    source reads them back as a single `value` column, and a split
    re-derives the key — the classic log-file ingestion shape. The
    oracle filters multi-line docs symmetrically (a line sink cannot
    round-trip embedded newlines — none exist in the fixture, the
    filter documents the contract). Line sources split by file block
    at scale, so parallelism tracks input bytes like any scan.
    """
    d = load(spark, sf_dir, "documents").filter(~F.col("text").contains("\n"))
    out = _sink_dir("docs_text_lines")
    d.select(
        F.concat_ws("\t", F.col("lang"), F.col("text")).alias("value")
    ).write.mode("overwrite").text(out)
    back = spark.read.text(out)
    parsed = back.select(
        F.split_part(F.col("value"), F.lit("\t"), F.lit(1)).alias("lang"),
        F.substring_index(F.col("value"), "\t", -1).alias("text"),
    )
    return parsed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("text")).alias("n_chars"),
    )


@query(
    "q_gen_calendar_dim",
    oracle="""
    WITH spine AS (
        SELECT unnest(generate_series(
                   TIMESTAMP '1995-01-01 00:00:00',
                   TIMESTAMP '2001-12-31 00:00:00',
                   INTERVAL 1 DAY)) AS day_ts
    ),
    daily AS (
        SELECT date_trunc('day', o_orderdate) AS d, count(*) AS n
        FROM orders GROUP BY 1
    )
    SELECT s.day_ts,
           year(s.day_ts) AS yr,
           month(s.day_ts) AS mth,
           quarter(s.day_ts) AS qtr,
           dayofmonth(s.day_ts) AS dom,
           date_diff('day', TIMESTAMP '1970-01-01 00:00:00', s.day_ts) % 7
               AS dow,
           month(s.day_ts + INTERVAL 1 DAY) <> month(s.day_ts)
               AS is_month_end,
           cast(coalesce(d.n, 0) AS bigint) AS n_orders
    FROM spine s LEFT JOIN daily d ON s.day_ts = d.d
    """,
)
def q_gen_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar-dimension spine (1995-2001, one row per day)
    with date features, LEFT-joined to daily order counts — the
    spine-join that turns "no row" into an observable zero (every gap
    detector and resampler needs it; the source here is sequence(),
    not a table).

    day-of-week is integer epoch-day arithmetic (% 7), not an engine
    dayofweek() whose week-start conventions differ; month-end is the
    convention-free month(d + 1 day) <> month(d). The spine is one
    generated row per day (~2.5 k rows per 7 years — broadcastable at
    any fact scale); daily counts aggregate fact-side first, so the
    join is spine × |distinct days|, never spine × rows. day_ts stays
    TIMESTAMP (never DATE — the pandas-bridge divergence rule).
    """
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"),
                F.lit("2001-12-31 00:00:00").cast("timestamp_ntz"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day_ts")
    )
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    dow = F.datediff(
        F.col("day_ts"), F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    ) % 7
    return (
        spine.join(daily, spine["day_ts"] == daily["d"], "left")
        .select(
            "day_ts",
            F.year("day_ts").alias("yr"),
            F.month("day_ts").alias("mth"),
            F.quarter("day_ts").alias("qtr"),
            F.dayofmonth("day_ts").alias("dom"),
            dow.alias("dow"),
            (
                F.month(F.col("day_ts") + F.expr("INTERVAL 1 DAY"))
                != F.month("day_ts")
            ).alias("is_month_end"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_orders"),
        )
    )


@query(
    "q_scan_binaryfile",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) + 1 AS BIGINT) AS n_bytes,
           md5(text || chr(10)) AS content_md5
    FROM documents WHERE doc_id < 200
    """,
)
def q_scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-blob ingest via the `binaryFile` source — the Spark
    pattern every image/audio/video lake uses: one row per FILE with
    (path, modificationTime, length, content binary), schema-on-read,
    no decode until you ask.

    Round-trip: documents (doc_id < 200 — a bounded, SF-independent
    blob set) are written DISTRIBUTED as one text file per doc via
    repartition(doc_id).write.partitionBy(doc_id).text() — no driver
    loop — then re-ingested with binaryFile, which (a) discovers
    doc_id back from the hive-style directory layout (partition
    pruning works on blob lakes exactly like on parquet) and (b)
    hands each file's bytes as ONE binary cell. Fingerprint = JVM-side
    md5 over raw bytes; the text writer appends one trailing '\\n' per
    row, which the oracle mirrors as md5(text || chr(10)) /
    octet_length + 1 — byte-level parity proven through a real
    filesystem hop, the plumbing q_multimodal_decode_stub's codecs
    would plug into. At 100 TB the scan parallelizes per file (and
    per block for large blobs via spark.sql.files.maxPartitionBytes);
    nothing here collects.
    """
    out = _sink_dir("documents_blobs")
    (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
        .repartition("doc_id")
        .write.mode("overwrite")
        .partitionBy("doc_id")
        .text(out)
    )
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(out)
    )
    return bf.select(
        F.col("doc_id").cast("int").alias("doc_id"),
        F.length("content").cast("bigint").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@query(
    "q_sink_dynamic_partition_overwrite",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           {sql_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 0.5 ELSE o_totalprice END", "total_price", 4)}
    FROM orders
    GROUP BY 1
    """,
)
def q_sink_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition-level backfill via DYNAMIC partition overwrite — the
    warehouse pattern for reprocessing one day/slice of a 100-TB
    partitioned table without rewriting (or, under static mode,
    DESTROYING) the rest.

    Step 1 lands orders partitioned by o_orderstatus. Step 2 recomputes
    ONLY the 'F' slice (prices restated x0.5 — dyadic, exact IEEE) and
    writes it with mode("overwrite") under
    spark.sql.sources.partitionOverwriteMode=dynamic: Spark replaces
    exactly the partitions present in the incoming frame ('F') and
    leaves 'O'/'P' untouched — the same write under the default STATIC
    mode would truncate the whole table to the F slice (the classic
    backfill footgun; the conf is set around the write and restored,
    driver-session hygiene). The readback aggregate proves both halves:
    O/P groups match the original data, F matches the restatement.
    """
    out = _sink_dir("orders_dyn_overwrite")
    cols = ["o_orderkey", "o_totalprice", "o_orderstatus"]
    o = load(spark, sf_dir, "orders").select(*cols)
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)

    backfill = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey",
        (F.col("o_totalprice") * F.lit(0.5)).alias("o_totalprice"),
        "o_orderstatus",
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        backfill.write.mode("overwrite").partitionBy(
            "o_orderstatus"
        ).parquet(out)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    back = spark.read.parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        dsum(F.col("o_totalprice"), "total_price"),
    )


@query(
    "q_scan_agg_pushdown",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    """,
)
def q_scan_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-only table profile (count / min / max) — the shape Spark's
    parquet AGGREGATE pushdown answers from footer statistics without
    reading a single data page.

    With spark.sql.parquet.aggregatePushdown=true on the DSv2 read
    path (useV1SourceList excludes parquet), the plan's BatchScan
    returns [count(*), min(...), max(...)] directly
    (PushedAggregation in the scan node — asserted, with confs enabled
    and result equality proven, in tests/test_plans.py::
    test_parquet_aggregate_pushdown_fires; the feature follows the
    q_join_bloom_pruned precedent: the conf lives in the contract
    test, the query's ANSWER is conf-invariant). At 100 TB this is the
    difference between a metadata read of ~row-group-count stats
    entries and a full-column scan — the cheapest query an engine can
    run, and the one every table-health dashboard runs hourly.
    Pushdown is all-or-nothing over the aggregate list, so the profile
    sticks to types the parquet stats path supports (double + int64):
    a min/max over the TIMESTAMP_NTZ o_orderdate or the string
    o_orderpriority leaves PushedAggregation empty on Spark 4.1 (probed
    at sf0.01), and a NaN-bearing double column would veto it too
    (parquet stats ordering with NaN is unspecified — Spark only pushes
    safe types).
    """
    o = load(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@query(
    "q_scan_python_datasource",
    oracle="""
    SELECT n_nationkey, upper(n_name) AS nation, n_regionkey
    FROM nation
    """,
)
def q_scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom batch source via the Python Data Source API (SPARK-44076,
    Spark 4): a user-defined ``DataSource``/``DataSourceReader`` pair
    registered under a format name and consumed with the ordinary
    ``spark.read.format(...)`` entry point — the extension surface for
    feeds Spark has no built-in connector for (ticket systems, bespoke
    binary logs, internal REST exports).

    The reader here ingests a '|'-delimited export of nation (written
    by this query so the fixture tree stays read-only) and demonstrates
    the part of the API that matters at scale: ``partitions()`` returns
    ONE InputPartition PER FILE, so Spark schedules each file to a
    different task — reader parallelism is the source author's job, and
    a single-partition reader would serialize a 100-TB feed through one
    task no matter how big the cluster (the same reason JDBC reads need
    partitionColumn bounds). Parsing happens executor-side in ``read``;
    the upper() projection is applied by the ENGINE on top, showing the
    custom source composes with ordinary Catalyst operators.

    Parity: int/string fields round-trip the text format losslessly;
    the oracle reads the same 25 rows straight from parquet.
    """
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    out = _sink_dir("nation_pipe")
    load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).repartition(4).write.mode("overwrite").option("sep", "|").csv(out)

    class _FilePartition(InputPartition):
        def __init__(self, path: str):
            self.path = path

    class PipeNationReader(DataSourceReader):
        def __init__(self, options):
            self.dir = options["path"]

        def partitions(self):
            return [
                _FilePartition(os.path.join(self.dir, f))
                for f in sorted(os.listdir(self.dir))
                if f.endswith(".csv")
            ]

        def read(self, partition):
            with open(partition.path) as fh:
                for line in fh:
                    key, name, region = line.rstrip("\n").split("|")
                    yield int(key), name, int(region)

    class PipeNationSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "pipe_nation"

        def schema(self) -> str:
            return "n_nationkey bigint, n_name string, n_regionkey bigint"

        def reader(self, schema) -> DataSourceReader:
            return PipeNationReader(self.options)

    spark.dataSource.register(PipeNationSource)
    df = spark.read.format("pipe_nation").option("path", out).load()
    return df.select(
        "n_nationkey", F.upper("n_name").alias("nation"), "n_regionkey"
    )


@query(
    "q_sink_python_datasource",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def q_sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom batch SINK via the Python Data Source API writer protocol
    (SPARK-44076, Spark 4) — the write half that completes
    q_scan_python_datasource: ``df.write.format(...)`` drives a
    user-defined ``DataSourceWriter`` through Spark's TWO-PHASE commit:

      1. ``write(iterator)`` runs ON EACH EXECUTOR TASK and must stage
         its partition's output under a task-unique temp name (partition
         id + task attempt id — speculative or retried attempts of the
         same partition MUST NOT collide), returning a picklable commit
         message naming what it staged;
      2. ``commit(messages)`` runs once on the driver ONLY after every
         task succeeded, promoting temp files to final names and
         writing the _SUCCESS manifest — so readers never observe a
         torn write; ``abort()`` discards the temp generation instead.

    This is the exactly-once sink contract every warehouse writer
    (parquet committer, Iceberg/Delta commit protocols) implements; the
    Python API hands it to connector authors for systems Spark has no
    built-in sink for. The round-trip read-back goes through the
    matching custom reader (one input partition per committed file), so
    the oracle proves write+read lossless end to end.
    """
    import uuid

    from pyspark import TaskContext
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceWriter,
        InputPartition,
        WriterCommitMessage,
    )

    out = _sink_dir("nation_pipe_sink")

    class _Staged(WriterCommitMessage):
        def __init__(self, tmp_name: str):
            self.tmp_name = tmp_name

    class PipeRowsWriter(DataSourceWriter):
        def __init__(self, options, overwrite: bool):
            self.dir = options["path"]
            self.overwrite = overwrite
            os.makedirs(self.dir, exist_ok=True)
            if overwrite:
                for f in os.listdir(self.dir):
                    os.remove(os.path.join(self.dir, f))

        def write(self, iterator):
            ctx = TaskContext.get()
            tmp = (
                f".tmp-{ctx.partitionId()}-{ctx.taskAttemptId()}-"
                f"{uuid.uuid4().hex[:8]}"
            )
            with open(os.path.join(self.dir, tmp), "w") as fh:
                for row in iterator:
                    fh.write(
                        f"{row['n_nationkey']}|{row['n_name']}|"
                        f"{row['n_regionkey']}\n"
                    )
            return _Staged(tmp)

        def commit(self, messages) -> None:
            for i, m in enumerate(messages):
                os.replace(
                    os.path.join(self.dir, m.tmp_name),
                    os.path.join(self.dir, f"part-{i:05d}.csv"),
                )
            with open(os.path.join(self.dir, "_SUCCESS"), "w") as fh:
                fh.write("ok")

        def abort(self, messages) -> None:
            for m in messages:
                if m is not None:
                    try:
                        os.remove(os.path.join(self.dir, m.tmp_name))
                    except OSError:
                        pass

    class _FilePartition(InputPartition):
        def __init__(self, path: str):
            self.path = path

    class PipeRowsReader(DataSourceReader):
        def __init__(self, options):
            self.dir = options["path"]

        def partitions(self):
            if not os.path.exists(os.path.join(self.dir, "_SUCCESS")):
                raise FileNotFoundError("uncommitted pipe_rows sink")
            return [
                _FilePartition(os.path.join(self.dir, f))
                for f in sorted(os.listdir(self.dir))
                if f.endswith(".csv")
            ]

        def read(self, partition):
            with open(partition.path) as fh:
                for line in fh:
                    key, name, region = line.rstrip("\n").split("|")
                    yield int(key), name, int(region)

    class PipeRowsSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "pipe_rows"

        def schema(self) -> str:
            return "n_nationkey bigint, n_name string, n_regionkey bigint"

        def writer(self, schema, overwrite: bool) -> PipeRowsWriter:
            return PipeRowsWriter(self.options, overwrite)

        def reader(self, schema) -> PipeRowsReader:
            return PipeRowsReader(self.options)

    spark.dataSource.register(PipeRowsSource)
    load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).repartition(3).write.format("pipe_rows").option("path", out).mode(
        "overwrite"
    ).save()
    return spark.read.format("pipe_rows").option("path", out).load()


@query(
    "q_scan_file_metadata",
    oracle="""
    SELECT doc_id % 8 AS bucket,
           count(*) AS n_rows,
           1 AS n_files,
           CAST(0 AS BIGINT) AS min_idx,
           CAST(count(*) - 1 AS BIGINT) AS max_idx
    FROM documents GROUP BY 1
    """,
)
def q_scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest lineage via the hidden ``_metadata`` struct — the file
    provenance every production loader records (which physical file did
    this row come from, at which position): ``_metadata.file_path`` /
    ``row_index`` are served by the parquet scan itself (constant-cost
    per batch, no extra I/O), the modern replacement for the legacy
    ``input_file_name()`` that composes with DSv2 and vectorized reads.

    Setup writes documents hive-partitioned by ``bucket = doc_id % 8``
    AFTER a hash-repartition ON the partition column, which makes the
    layout a bucket↔file bijection (each bucket's rows land in exactly
    one task, each task writes exactly one file per partition dir).
    That bijection is what makes the lineage ORACLE-ABLE with no path
    exchanged at all: per bucket, the physical expectations are fully
    determined relationally — n_files = 1 (the bijection itself),
    min(row_index) = 0 and max(row_index) = count-1 (row_index is the
    0-based position within the row's file). Spark reports the left
    side of each equation from file metadata; DuckDB derives the right
    side from the documents table alone — agreement proves the
    provenance columns carry the physical truth, not a reconstruction.

    At 100 TB this is the audit/debug path: joining a quarantine
    sample back to exact source files + offsets without re-scanning,
    per-file row counts for incremental-load reconciliation, and
    skew-by-file diagnostics — all from scan-time metadata.
    """
    out = _sink_dir("docs_bucketed_meta")
    d = load(spark, sf_dir, "documents").withColumn(
        "bucket", F.col("doc_id") % 8
    )
    d.repartition(8, "bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(F.col("_metadata.file_path")).alias("n_files"),
        F.min(F.col("_metadata.row_index")).alias("min_idx"),
        F.max(F.col("_metadata.row_index")).alias("max_idx"),
    )


@query(
    "q_scan_csv_permissive",
    oracle="""
    SELECT CAST(count(*) + 3 AS BIGINT) AS n_permissive,
           CAST(count(*) AS BIGINT) AS n_good,
           CAST(3 AS BIGINT) AS n_corrupt,
           CAST(count(*) AS BIGINT) AS n_dropmalformed
    FROM nation
    """,
)
def q_scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on CSV ingest — the PERMISSIVE /
    DROPMALFORMED contract every real lake loader depends on (vendor
    feeds always contain broken lines). nation is written as clean CSV
    by the distributed writer, then a second file with 3 malformed
    lines (bad types, wrong arity) is planted in the same directory —
    exactly how a bad upstream file lands next to good ones. PERMISSIVE
    mode must keep every line, parking broken ones in the
    columnNameOfCorruptRecord column with typed fields null;
    DROPMALFORMED must silently keep only the clean rows. The corrupt
    column legally requires a cache before it can be referenced
    (Spark's documented restriction — the raw text is not otherwise
    retained after parsing); the cached frame is 28 rows. Counts are
    fully determined by the construction, so the oracle derives them
    from the nation row count.
    """
    # Unique dir per invocation: the planted malformed file aliases with
    # session state keyed on the path (CacheManager plan-match + file
    # status cache) when the SAME path is rewritten across invocations
    # in one session — a prior invocation's registration can serve a
    # listing that predates this invocation's plant, reading 0 corrupt
    # rows (caught by the full-suite run, where the schema audits build
    # this query twice before the oracle test materializes it). The
    # mandatory .cache() makes this key uniquely alias-prone; a fresh
    # path per call sidesteps every path-keyed layer for ~2 KB of /tmp
    # per invocation.
    import uuid

    out = _sink_dir(f"nation_csv_mixed_{uuid.uuid4().hex[:8]}")
    load(spark, sf_dir, "nation").write.mode("overwrite").csv(out)
    bad = os.path.join(out, "part-99999-malformed.csv")
    with open(bad, "w") as fh:
        fh.write("notanint,BADLAND,alsonotanint\n")
        fh.write("1,TOOMANY,2,extra,fields,here\n")
        fh.write("x\n")
    schema = StructType.fromDDL(SCHEMAS["nation"] + ", _corrupt string")
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
        .cache()
    )
    # Column-pruning trap (documented Spark CSV behavior): malformed
    # detection only sees the columns the query actually parses, and a
    # bare count(*) parses NONE — so DROPMALFORMED + count(*) counts the
    # broken lines too. Touching every schema column in the filter
    # forces a full-width parse, making the drop observable. At 100 TB
    # this trap is the difference between a row-count audit passing and
    # the same data failing downstream.
    dropped = (
        spark.read.schema(StructType.fromDDL(SCHEMAS["nation"]))
        .option("mode", "DROPMALFORMED")
        .csv(out)
        .filter(
            F.col("n_nationkey").isNotNull()
            | F.col("n_name").isNotNull()
            | F.col("n_regionkey").isNotNull()
        )
    )
    counts = permissive.agg(
        F.count(F.lit(1)).alias("n_permissive"),
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_good"),
        F.count(F.col("_corrupt")).alias("n_corrupt"),
    )
    return counts.crossJoin(
        dropped.agg(F.count(F.lit(1)).alias("n_dropmalformed"))
    )


@query(
    "q_sink_rowgroup_stats_audit",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(1 AS BIGINT) AS n_files,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(o_orderdate) AS VARCHAR) AS min_ts,
           CAST(max(o_orderdate) AS VARCHAR) AS max_ts
    FROM orders
    GROUP BY yr
    """,
)
def q_sink_rowgroup_stats_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout audit: write orders as a pruning-friendly layout
    (partitionBy(year) + repartition on the partition column so each
    directory gets exactly ONE file + sortWithinPartitions on the sort
    key), then read the parquet FOOTER statistics back with pyarrow and
    prove the layout delivers what pruning needs — per-file min/max of
    o_orderdate that match the true per-year bounds exactly (the oracle
    recomputes them relationally). This is the audit a 100-TB table
    owner runs after compaction: partition pruning eliminates
    directories, then row-group stats (what q_scan_agg_pushdown and
    PushedFilters consume) eliminate row groups inside surviving files;
    stats that are absent or wider than the data silently disable both.
    Footer reads are metadata-plane — O(#files) driver-side operations
    on kilobyte footers (the same plane as q_scan_file_metadata), never
    a data scan; at production file counts this audit itself would be
    distributed over the file list (binaryFile scan of footers).
    """
    import glob as _glob

    import pyarrow.parquet as _pq

    out = _sink_dir("orders_rowgroup_audit")
    (
        load(spark, sf_dir, "orders")
        .withColumn("yr", F.year("o_orderdate"))
        .repartition("yr")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .partitionBy("yr")
        .parquet(out)
    )
    per_year: dict[int, list] = {}
    for f in sorted(_glob.glob(os.path.join(out, "yr=*", "*.parquet"))):
        yr = int(f.split("yr=")[1].split(os.sep)[0])
        md = _pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            col = next(
                rgm.column(i)
                for i in range(rgm.num_columns)
                if rgm.column(i).path_in_schema == "o_orderdate"
            )
            ent = per_year.setdefault(yr, [0, 0, None, None])
            ent[1] += rgm.num_rows
            s = col.statistics
            ent[2] = s.min if ent[2] is None else min(ent[2], s.min)
            ent[3] = s.max if ent[3] is None else max(ent[3], s.max)
        per_year[yr][0] += 1
    rows = [
        (yr, n_files, n_rows, str(mn), str(mx))
        for yr, (n_files, n_rows, mn, mx) in sorted(per_year.items())
    ]
    return spark.createDataFrame(
        rows, "yr int, n_files bigint, n_rows bigint, min_ts string, max_ts string"
    )


@query(
    "q_sink_avro_python",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE o_orderpriority END AS priority_opt
    FROM orders
    """,
)
def q_sink_avro_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro object-container-file SINK + self-describing read-back —
    real Avro 1.11 wire bytes (zigzag-varint binary encoding, deflate
    blocks, sync markers) produced WITHOUT spark-avro, which this
    container's pyspark distribution does not ship (SURVEY §2.1
    exclusion note; sources/avro_python.py implements the public spec).

    ``df.write.format("avro_py")`` drives the Python Data Source writer
    through Spark's two-phase commit: each task encodes ITS partition
    into one staged container file executor-side (no row ever transits
    the driver), then the driver-side commit promotes the staged
    generation atomically. The read-back exercises the self-describing
    property: the reader derives the Spark schema from ONE file header
    (the writer's embedded ``avro.schema`` JSON) and fans out one input
    partition per file — at 100 TB the feed parallelizes file-wise
    exactly like the built-in connectors.

    Types covered end-to-end: long, string, double,
    local-timestamp-micros (logical; ``o_orderdate`` loads as
    TIMESTAMP_NTZ), and ["null", T] unions (the derived priority_opt
    is NULL for every 7th order — nullable columns are what separate
    Avro unions from plain primitives on the wire).

    Parity: the oracle computes the same projection straight from
    parquet — a value mismatch anywhere in the 15k rows would flag a
    codec bug at the exact row.
    """
    import uuid

    from ..sources.avro_python import make_avro_source

    spark.dataSource.register(make_avro_source())
    # uuid-unique sink dir per invocation: write-then-read queries must
    # never reuse a path within a session (file-listing/plan caches can
    # alias an earlier generation — round-9 lesson).
    out = _sink_dir(f"orders_avro_{uuid.uuid4().hex[:8]}")
    load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("o_orderpriority"))
        .alias("priority_opt"),
    ).repartition(4).write.format("avro_py").option("path", out).option(
        "codec", "deflate"
    ).mode("overwrite").save()
    return spark.read.format("avro_py").option("path", out).load()


@query(
    "q_scan_avro_python",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           {sum_qty},
           {sum_price}
    FROM lineitem
    GROUP BY l_returnflag
    """.format(
        sum_qty=sql_dsum("l_quantity", "sum_qty"),
        sum_price=sql_dsum("l_extendedprice", "sum_price"),
    ),
)
def q_scan_avro_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro SCAN composing with engine operators on top: ingest the
    largest fixture table from Avro container files (written by this
    query so the fixture tree stays read-only; null codec — the
    uncompressed spec path, complementing q_sink_avro_python's deflate)
    and run an ordinary groupBy/agg OVER the custom source — Catalyst
    treats the Python data source like any other scan, so projection
    and aggregation planning (partial aggs, AQE) apply unchanged.

    Scale notes: 60k rows at sf0.01 encode/decode entirely
    executor-side (8 container files -> 8 input partitions); at 100 TB
    the same plumbing fans out file-wise. The decimal-accumulated sums
    (numeric.py dsum) keep the double finishing portable vs DuckDB.
    """
    import uuid

    from ..sources.avro_python import make_avro_source

    spark.dataSource.register(make_avro_source())
    out = _sink_dir(f"lineitem_avro_{uuid.uuid4().hex[:8]}")
    load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"
    ).repartition(8).write.format("avro_py").option("path", out).mode(
        "overwrite"
    ).save()
    return (
        spark.read.format("avro_py")
        .option("path", out)
        .load()
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_price"),
        )
    )


@query(
    "q_events_protobuf_decode",
    oracle="""
    SELECT event_id, event_type, value FROM events
    """,
)
def q_events_protobuf_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf wire-format encode -> PROJECTED decode over `events` —
    real proto3 bytes produced and parsed WITHOUT spark-protobuf or the
    google.protobuf wheel, neither of which exists in this container
    (SURVEY §2.1 exclusion note; sources/protobuf_python.py implements
    the public wire format, verified against the protobuf docs' own
    byte vectors in tests/test_protobuf_codec.py).

    Two map stages (mapInPandas encode, mapInArrow decode), both
    executor-side over Arrow batches:

      1. encode: each event row becomes one proto3 message (6 fields:
         varint ids, fixed64 double, length-delimited strings; fields
         at their proto3 default are omitted from the wire);
      2. decode with a PROJECTION: only field numbers {1,4,5}
         (event_id, event_type, value) are materialized — ts/user_id/
         props are skipped structurally by wire type (varints consumed,
         LEN payloads jumped by their length prefix) without decoding.

    That skip path is the scale story: decoding 3 of 6 fields of a
    100-TB event firehose costs O(bytes skipped), the protobuf
    analogue of parquet column pruning — and the reason a decode UDF
    should take a field projection instead of materializing whole
    messages. Parity: the oracle reads the same 3 columns straight
    from parquet; any wire-format bug flags at the exact row.
    """
    from ..sources.protobuf_python import decode_flat_batch, encode_flat_batch

    pb_schema = {
        "event_id": (1, "int64"),
        "ts_us": (2, "int64"),
        "user_id": (3, "int64"),
        "event_type": (4, "string"),
        "value": (5, "double"),
        "props": (6, "string"),
    }
    wanted = {1: ("event_id", "int64"), 4: ("event_type", "string"),
              5: ("value", "double")}

    # Both stages run the BATCH codec (guide §4.2): no per-row Python
    # dispatch. tests/test_protobuf_codec.py pins its bytes and values to
    # the per-message reference codec in tests/protobuf_reference.py.
    def encode_batches(batches):
        import pandas as pd

        for pdf in batches:
            ts_us = (pdf["ts"].astype("int64") // 1000).to_numpy()  # ns -> us
            buf, offs = encode_flat_batch(
                pb_schema,
                {
                    "event_id": pdf["event_id"].to_numpy(),
                    "ts_us": ts_us,
                    "user_id": pdf["user_id"].to_numpy(),
                    "event_type": pdf["event_type"].tolist(),
                    "value": pdf["value"].to_numpy(),
                    "props": pdf["props"].tolist(),
                },
            )
            yield pd.DataFrame(
                {"pb": [buf[offs[i] : offs[i + 1]] for i in range(len(offs) - 1)]}
            )

    def decode_batches(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            arr = rb.column(0)
            n = len(arr)
            off = np.frombuffer(arr.buffers()[1], np.int32)[
                arr.offset : arr.offset + n + 1
            ].astype(np.int64)
            data = arr.buffers()[2]
            cols = decode_flat_batch(
                data.to_pybytes() if data is not None else b"", off, wanted
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cols["event_id"], pa.int64()),
                    cols["event_type"],
                    pa.array(cols["value"], pa.float64()),
                ],
                ["event_id", "event_type", "value"],
            )

    encoded = load(spark, sf_dir, "events").mapInPandas(
        encode_batches, "pb binary"
    )
    return encoded.mapInArrow(
        decode_batches, "event_id bigint, event_type string, value double"
    )


@query(
    "q_events_protobuf_nested",
    oracle="""
    SELECT user_id, event_id, value FROM events
    """,
)
def q_events_protobuf_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested/repeated protobuf: per-user ENVELOPE messages (the
    realistic export shape — one message per user holding its events as
    LEN-framed repeated sub-messages) encoded and flattened back,
    entirely executor-side.

      1. groupBy(user_id).applyInArrow: each user's events become ONE
         proto3 message {user_id; repeated Event{event_id, value}} —
         the engine's shuffle does the grouping, the codec only sees
         one group per call;
      2. mapInArrow decode: iterate the repeated sub-messages and
         re-flatten to (user_id, event_id, value) rows.

    The wire features this exercises beyond q_events_protobuf_decode:
    LEN-framed nested messages, repeated fields with per-element tags,
    and proto3 sub-message default omission (an event with value 0.0
    encodes only its id). At 100 TB the envelope shape matters because
    upstream systems batch per-entity: the decode stage's work is
    O(bytes), envelope count ∝ entities, and the flatten is map-only —
    no extra shuffle beyond the one groupBy that builds envelopes.

    Parity: the oracle reads the same 3 columns straight from parquet;
    row-level hash compare proves the envelope round-trip lossless for
    every event. sources/protobuf_python.py implements the public wire
    format (packed-repeated byte vector from the protobuf docs pinned
    in tests/test_protobuf_codec.py).
    """
    from ..sources.protobuf_python import (
        decode_event_envelopes,
        encode_event_envelope,
    )

    # Envelopes are encoded/decoded by the envelope codec (guide §4.2),
    # whose bytes and values tests/test_protobuf_codec.py pins to the
    # per-message reference codec in tests/protobuf_reference.py; the
    # grouped-map boundary runs on Arrow (applyInArrow) so no per-group
    # pandas frames are built.
    def encode_group(tbl):
        import pyarrow as pa

        msg = encode_event_envelope(
            tbl.column("user_id")[0].as_py(),
            tbl.column("event_id").to_numpy(),
            tbl.column("value").to_numpy(),
        )
        return pa.table({"pb": pa.array([msg], pa.binary())})

    def decode_batches(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            arr = rb.column(0)
            n = len(arr)
            off = np.frombuffer(arr.buffers()[1], np.int32)[
                arr.offset : arr.offset + n + 1
            ].astype(np.int64)
            data = arr.buffers()[2]
            buf = data.to_pybytes() if data is not None else b""
            users, eids, voffs = decode_event_envelopes(buf, off)
            vo = np.array(voffs, np.int64)
            vals = np.zeros(len(vo), np.float64)
            has = vo >= 0
            if has.any():
                got = np.frombuffer(buf, np.uint8)[
                    vo[has][:, None] + np.arange(8)
                ]
                vals[has] = np.ascontiguousarray(got).view("<f8")[:, 0]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(users, pa.int64()),
                    pa.array(eids, pa.int64()),
                    pa.array(vals, pa.float64()),
                ],
                ["user_id", "event_id", "value"],
            )

    envelopes = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", "value")
        .groupBy("user_id")
        .applyInArrow(encode_group, "pb binary")
    )
    return envelopes.mapInArrow(
        decode_batches, "user_id bigint, event_id bigint, value double"
    )


@query(
    "q_scan_avro_evolution",
    oracle="""
    SELECT o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           'LEGACY' AS o_channel
    FROM orders
    """,
)
def q_scan_avro_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro SCHEMA EVOLUTION (spec: Schema Resolution) — the consumer
    upgrades its schema WITHOUT rewriting landed files: v1 files are
    written once, then read under a v2 READER schema that

      * DROPS ``o_orderstatus`` (writer-only fields are decoded and
        discarded executor-side),
      * PROMOTES ``o_year`` int -> bigint (spec promotion table),
      * ADDS ``o_channel`` with default 'LEGACY' (reader-only fields
        take their declared default — the backfill-free new-column
        pattern).

    Resolution happens per-file against each file's own embedded writer
    schema (``readerSchema`` option on the avro_py source), so a 100-TB
    landing zone written across MONTHS of producer versions reads under
    one consumer schema — the actual reason Avro pairs a writer schema
    with every file. The oracle recomputes v2 straight from parquet;
    hash-compare proves drops/defaults/promotions lossless row-by-row.
    """
    import uuid

    from ..sources.avro_python import make_avro_source

    spark.dataSource.register(make_avro_source())
    out = _sink_dir(f"orders_avro_v1_{uuid.uuid4().hex[:8]}")
    load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.year("o_orderdate").cast("int").alias("o_year"),
    ).repartition(4).write.format("avro_py").option("path", out).mode(
        "overwrite"
    ).save()
    reader_v2 = (
        '{"type":"record","name":"orders_v2","fields":['
        '{"name":"o_orderkey","type":"long"},'
        '{"name":"o_totalprice","type":"double"},'
        '{"name":"o_year","type":"long"},'
        '{"name":"o_channel","type":"string","default":"LEGACY"}]}'
    )
    return (
        spark.read.format("avro_py")
        .option("path", out)
        .option("readerSchema", reader_v2)
        .load()
    )


@query(
    "q_scan_xml_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    """,
)
def q_scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML file source/sink round-trip (Spark 4 absorbed
    spark-xml into core: ``df.write.format('xml')`` with a rowTag /
    ``spark.read.format('xml')``): `orders` written as one <order>
    element per row, read back under an EXPLICIT schema (inference over
    XML costs a full extra pass at 100 TB — the same schema-contract
    rule q_scan_schema_assert pins for parquet and q_scan_csv_roundtrip
    for CSV). Complements the xpath_*/from_xml FUNCTION battery
    (q_xml_funcs): that key parses XML embedded in columns, this one
    exercises the FILE format — distributed write, partitioned
    read-back, and XML's text->typed coercions (doubles survive the
    text hop bit-exact because Java's shortest-repr Double.toString is
    defined to round-trip; the hash compare below proves it on 15k
    values).

    Parity: oracle reads the same 4 columns from parquet; hash compare
    proves the text round-trip value-exact for the integer/double/
    enum-string shapes XML exports carry.
    """
    import uuid

    out = _sink_dir(f"orders_xml_{uuid.uuid4().hex[:8]}")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    load(spark, sf_dir, "orders").select(*cols).repartition(4).write.format(
        "xml"
    ).option("rowTag", "order").mode("overwrite").save(out)
    schema = (
        "o_orderkey bigint, o_orderstatus string, o_totalprice double, "
        "o_orderpriority string"
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(schema)
        .load(out)
        .select(*cols)
    )


@query(
    "q_scan_sqlite_partitioned",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders
    """,
)
def q_scan_sqlite_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-bounded DATABASE ingest — the JDBC ``partitionColumn/
    lowerBound/upperBound/numPartitions`` pattern, demonstrated against
    a real SQL database (stdlib sqlite3; no JDBC driver jars ship in
    this container) through the Python Data Source API
    (sources/sqlite_python.py — shared with the federated-join key).

    The part that matters at scale: ``partitions()`` splits the key
    range into exactly N disjoint ``WHERE o_orderkey >= lo AND < hi``
    slices, so N executor tasks each open their OWN connection and pull
    their OWN slice — a single-partition database read would serialize
    a multi-TB table through one task no matter how big the cluster
    (exactly why Spark's JDBC source demands explicit bounds). The
    predicate rides INTO the database as SQL, so each task transfers
    only its slice — source-side filtering, the DB analogue of parquet
    pushdown.

    Setup (not the operator under test): the fixture table is loaded
    into a uuid-unique sqlite file once per invocation, executor tasks
    then read it in parallel. Parity: oracle reads the same 4 columns
    from parquet; hash compare proves the two-hop (parquet -> sqlite ->
    Spark) transfer value-exact, doubles included (SQLite REAL is IEEE
    754 binary64 — no text hop).
    """
    import uuid

    import pyarrow.parquet as _pq

    from ..sources.sqlite_python import load_table_to_sqlite, make_sqlite_source

    db = _sink_dir(f"orders_sqlite_{uuid.uuid4().hex[:8]}.db")
    tbl = _pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"],
    )
    lo, hi = load_table_to_sqlite(
        db,
        "orders",
        "CREATE TABLE orders (o_orderkey INTEGER, o_custkey INTEGER, "
        "o_totalprice REAL, o_orderstatus TEXT)",
        zip(
            tbl["o_orderkey"].to_pylist(),
            tbl["o_custkey"].to_pylist(),
            tbl["o_totalprice"].to_pylist(),
            tbl["o_orderstatus"].to_pylist(),
        ),
        "o_orderkey",
    )
    spark.dataSource.register(make_sqlite_source())
    return (
        spark.read.format("sqlite_range")
        .option("path", db)
        .option("table", "orders")
        .option(
            "columns", "o_orderkey, o_custkey, o_totalprice, o_orderstatus"
        )
        .option(
            "ddl",
            "o_orderkey bigint, o_custkey bigint, "
            "o_totalprice double, o_orderstatus string",
        )
        .option("partitionColumn", "o_orderkey")
        .option("lowerBound", str(lo))
        .option("upperBound", str(hi))
        .option("numPartitions", "8")
        .load()
    )


@query(
    "q_join_federated_sources",
    oracle="""
    SELECT c.c_nationkey,
           count(*) AS n_orders,
           {sum_price}
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 0
    GROUP BY c.c_nationkey
    """.format(sum_price=sql_dsum("o_totalprice", "sum_price")),
)
def q_join_federated_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEDERATED join — heterogeneous sources in ONE Catalyst plan: the
    customer dimension served from a SQL DATABASE (sqlite behind the
    partition-bounded Python source) broadcast-joined against the
    parquet orders fact, then aggregated per nation.

    This is the warehouse-edge shape: dimensions live in an operational
    store, facts in the lake. The scale rules it demonstrates: (a) the
    DB side is DIMENSION-sized, so it broadcasts — the fact table never
    shuffles for the join; (b) the dimension's own ingest is still
    range-partitioned (4 slices), so even the broadcast build is read
    in parallel; (c) the dim-side filter (c_acctbal > 0) is applied
    before the broadcast, shrinking what ships. Catalyst treats the
    Python source like any scan, so the join/agg planning is identical
    to an all-parquet plan — proven by the broadcast plan contract in
    tests/test_plans.py and the hash-exact oracle over plain parquet.
    """
    import uuid

    import pyarrow.parquet as _pq

    from ..sources.sqlite_python import load_table_to_sqlite, make_sqlite_source

    db = _sink_dir(f"customer_sqlite_{uuid.uuid4().hex[:8]}.db")
    tbl = _pq.read_table(
        os.path.join(sf_dir, "customer.parquet"),
        columns=["c_custkey", "c_nationkey", "c_acctbal"],
    )
    lo, hi = load_table_to_sqlite(
        db,
        "customer",
        "CREATE TABLE customer (c_custkey INTEGER, c_nationkey INTEGER, "
        "c_acctbal REAL)",
        zip(
            tbl["c_custkey"].to_pylist(),
            tbl["c_nationkey"].to_pylist(),
            tbl["c_acctbal"].to_pylist(),
        ),
        "c_custkey",
    )
    spark.dataSource.register(make_sqlite_source())
    dim = (
        spark.read.format("sqlite_range")
        .option("path", db)
        .option("table", "customer")
        .option("columns", "c_custkey, c_nationkey, c_acctbal")
        .option(
            "ddl", "c_custkey bigint, c_nationkey bigint, c_acctbal double"
        )
        .option("partitionColumn", "c_custkey")
        .option("lowerBound", str(lo))
        .option("upperBound", str(hi))
        .option("numPartitions", "4")
        .load()
        .filter(F.col("c_acctbal") > 0)
    )
    fact = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    return (
        fact.join(F.broadcast(dim), fact.o_custkey == dim.c_custkey, "inner")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "sum_price"),
        )
    )


@query(
    "q_sink_parquet_codecs",
    oracle="""
    SELECT c.codec,
           agg.n_orders,
           agg.sum_price
    FROM (VALUES ('none'), ('snappy'), ('zstd')) AS c(codec)
    CROSS JOIN (
        SELECT count(*) AS n_orders, {sum_price}
        FROM orders
    ) agg
    ORDER BY c.codec
    """.format(sum_price=sql_dsum("o_totalprice", "sum_price")),
)
def q_sink_parquet_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet compression-codec audit — none vs snappy vs zstd, the
    first-order 100-TB layout decision (storage cost and scan MB/s vs
    encode CPU): the same table written under each codec, each read
    back and aggregate-checksummed. The hash-compared output proves
    every codec path LOSSLESS (identical counts and decimal-exact price
    sums per codec); the size ordering (zstd < snappy < none on this
    data) is asserted in tests/test_plans.py::
    test_parquet_codec_sizes_ordered, kept out of the query output
    because absolute byte sizes vary with codec library versions.

    At scale the choice compounds: column-chunk compression happens
    per row group entirely executor-side (no extra shuffle here —
    three map-only writes), and scan-side decompression is vectorized
    in the columnar reader for all three codecs.
    """
    import uuid

    base = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    run = uuid.uuid4().hex[:8]
    outs = {}
    for codec in ("none", "snappy", "zstd"):
        out = _sink_dir(f"orders_codec_{codec}_{run}")
        base.write.mode("overwrite").option("compression", codec).parquet(out)
        outs[codec] = out
    parts = []
    for codec, out in sorted(outs.items()):
        parts.append(
            spark.read.parquet(out).agg(
                F.lit(codec).alias("codec"),
                F.count(F.lit(1)).alias("n_orders"),
                dsum(F.col("o_totalprice"), "sum_price", 4),
            )
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionAll(p)
    return df.select("codec", "n_orders", "sum_price")


@query(
    "q_etl_time_travel",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')}
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
)
def q_etl_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over a log-structured table (sources/manifest_table.py
    — the Iceberg/Delta snapshot pattern on plain parquet + JSON, no
    table-format jars): three appends land orders in date slices
    (< 1997 / 1997-98 / >= 1999), then the query reads AS OF VERSION 2 —
    the planner uses v2's manifest file list, so the v3 files sitting in
    the same data/ directory are invisible, exactly the reproducibility
    contract a training-data pipeline needs ("train on the corpus as it
    stood last Tuesday"). The oracle is the equivalent predicate over
    the full table: as-of-v2 == everything the first two commits hold.

    Snapshot isolation is structural: data files land under uuid names
    first, the manifest rename is the atomic commit point (a concurrent
    reader of v2 never sees half of v3). Scale: planning is
    metadata-plane (one kilobyte-scale JSON per version); the data read
    is an ordinary parquet scan of the selected files, so Catalyst
    row-group pushdown still applies inside them.
    """
    import uuid as _uuid

    from ..sources.manifest_table import commit_appends, read_version

    table = _sink_dir(f"orders_timetravel_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders")
    lit_ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
    # three independent appends: staged concurrently, published in
    # order, so v2 is still the second commit
    _, v2, _ = commit_appends(
        [
            o.filter(F.col("o_orderdate") < lit_ts("1997-01-01 00:00:00")),
            o.filter(
                (F.col("o_orderdate") >= lit_ts("1997-01-01 00:00:00"))
                & (F.col("o_orderdate") < lit_ts("1999-01-01 00:00:00"))
            ),
            o.filter(F.col("o_orderdate") >= lit_ts("1999-01-01 00:00:00")),
        ],
        table,
        ["o_orderdate"],
    )
    return (
        read_version(spark, table, v2)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
    )


@query(
    "q_scan_files_pruned_by_stats",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')},
           (SELECT count(DISTINCT year(o_orderdate)) FROM orders
            WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00')
               AS n_files_read,
           (SELECT count(DISTINCT year(o_orderdate)) FROM orders)
               AS n_files_total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
)
def q_scan_files_pruned_by_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATS-BASED FILE SKIPPING: the table is committed one year-slice
    per append (each file's footer min/max of o_orderdate spans one
    year, harvested into the manifest at commit time), and a 1998
    range predicate plans by intersecting the predicate with each
    file's manifest [min, max] — only the 1998 file survives; the
    other years are skipped WITHOUT opening a single data file. The
    exact filter still runs on the surviving files (stats pruning is
    conservative, correctness never depends on it).

    The pruning arithmetic is part of the asserted result:
    n_files_read / n_files_total ride along as columns, and the ORACLE
    derives them relationally (files == distinct years by
    construction, so files read == distinct years intersecting the
    predicate) — no hardcoded constants to drift.

    Scale: this is the metadata plane that makes a 100-TB time-range
    query cheap — manifest pruning eliminates files (O(#files) over
    kilobyte JSON), then parquet row-group stats (PushedFilters)
    eliminate pages inside survivors; both layers compose. At
    production file counts the manifest scan itself distributes (it is
    just a JSON-lines dataset).
    """
    from ..sources.manifest_table import prune_files, read_version

    table, _, versions = _orders_by_year(spark, sf_dir, "orders_fileskip")
    version = versions[-1]
    files, total = prune_files(
        table,
        version,
        "o_orderdate",
        "1998-01-01 00:00:00",
        "1998-12-31 23:59:59.999999",
    )
    pruned = read_version(spark, table, version, paths=files).filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp_ntz"))
    )
    return (
        pruned.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("n_files_read", F.lit(len(files)).cast("bigint"))
        .withColumn("n_files_total", F.lit(total).cast("bigint"))
    )


@query(
    "q_etl_manifest_compact",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')},
           true AS files_reduced
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_etl_manifest_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION (OPTIMIZE) on the log-structured table: per-year
    appends land 2 small files each (the small-files problem every
    streaming ingest accumulates), then one REPLACE commit rewrites the
    live set into 2 right-sized files. The aggregate over the compacted
    version must equal the aggregate over the raw table (compaction is
    a physical rewrite, never a logical change — the oracle checks
    this). File counts are derived from the MANIFESTS, not from write
    layout: the graded column is the layout-independent invariant
    n_files_after < n_files_before (ADVICE r11 — repartition(n) may
    emit < n files for tiny slices, so exact counts live in the unit
    pin tests/test_invariants.py::test_manifest_compaction_semantics,
    not in the oracle).

    The superseded small files are NOT deleted — every pre-compaction
    version stays readable (time travel across compaction, pinned by
    tests/test_invariants.py::test_manifest_compaction_semantics);
    physically dropping unreferenced files is a separate destructive
    vacuum this format deliberately does not bundle.

    Scale: compaction reads + rewrites only the LIVE set (one pass),
    planning stays metadata-plane, and the per-year distinct-slice
    driver loop is bounded by the date domain (~7 values — the same
    bounded-collect class as Lloyd centroids). At 100 TB the rewrite
    would target size-tiered file groups instead of the whole set; the
    commit protocol is identical.
    """
    from ..sources.manifest_table import commit_replace, read_manifest, read_version

    table, _, _ = _orders_by_year(spark, sf_dir, "orders_compact", parts=2)
    live = read_version(spark, table)
    v_compact = commit_replace(
        live.repartition(2), table, ["o_orderdate"]
    )
    n_before = len(read_manifest(table, v_compact - 1)["files"])
    n_after = len(read_manifest(table, v_compact)["files"])
    return (
        read_version(spark, table, v_compact)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("files_reduced", F.lit(n_after < n_before))
    )


@query(
    "q_etl_incremental_consume",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')}
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
)
def q_etl_incremental_consume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL CONSUMPTION between table versions — the
    change-data-feed pattern: a downstream job that last processed
    version v1 reads ONLY the files added between v1 and v2 (manifest
    set difference, metadata-plane — sources/manifest_table.py
    diff_files), never rescanning the base. Appends land immutable
    files, so for append-only history the file-set diff IS the
    row-level delta; across a REPLACE/compaction commit the diff
    returns rewritten files and consumers must dedupe by row identity
    (the caveat real change feeds share — q_etl_merge_tombstones
    covers mutation feeds).

    Construction: three appends (< 1997 / 1997-98 / >= 1999); the
    consumer diffs v1 -> v2 and must see EXACTLY the 1997-98 slice —
    the oracle is that date range over the raw table.

    Scale: the diff is O(#files) over kilobyte manifests and the data
    read touches only delta files — incremental work proportional to
    the arrival rate, not the table size, which is what makes hourly
    downstream jobs feasible against a 100-TB table.
    """
    import uuid as _uuid

    from ..sources.manifest_table import commit_appends, diff_files, read_version

    table = _sink_dir(f"orders_cdf_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders")
    lit_ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
    v1, v2, _ = commit_appends(
        [
            o.filter(F.col("o_orderdate") < lit_ts("1997-01-01 00:00:00")),
            o.filter(
                (F.col("o_orderdate") >= lit_ts("1997-01-01 00:00:00"))
                & (F.col("o_orderdate") < lit_ts("1999-01-01 00:00:00"))
            ),
            o.filter(F.col("o_orderdate") >= lit_ts("1999-01-01 00:00:00")),
        ],
        table,
        ["o_orderdate"],
    )
    delta = diff_files(table, v1, v2)
    return (
        read_version(spark, table, v2, paths=delta)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
    )


@query(
    "q_etl_manifest_vacuum",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')},
           true AS deleted_all_superseded,
           true AS kept_matches_manifest
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_etl_manifest_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM — the retention-gated destructive closeout of the table
    lifecycle: after per-year appends and a REPLACE compaction,
    vacuum(retain_last=1) physically deletes the superseded year files
    and expires their manifests. The current version must read
    identically after the delete (the oracle re-derives the aggregate
    from the raw table). The graded side-columns are layout-independent
    manifest-derived invariants (ADVICE r11 — never bake repartition(n)
    == n-files assumptions into the oracle): deleted_all_superseded ==
    (n_deleted == files referenced before the horizon minus the live
    set) and kept_matches_manifest == (n_kept == live manifest file
    count); exact counts stay in the unit pin
    tests/test_invariants.py::test_manifest_vacuum_semantics. Time
    travel now ENDS at the retention horizon — the reason real formats
    keep vacuum a separate, windowed operation instead of bundling it
    into compaction (q_etl_manifest_compact shows the non-destructive
    half).

    Scale: the liveness set is a union over the retained manifests
    (metadata-plane, O(#files)); deletion is embarrassingly parallel
    over unreferenced files. The per-year driver loop is bounded by the
    date domain (~7 values — the Lloyd-centroid bounded-collect class).
    """
    import glob as _glob
    import os as _os

    from ..sources.manifest_table import (
        commit_replace,
        read_manifest,
        read_version,
        vacuum,
    )

    table, _, _ = _orders_by_year(spark, sf_dir, "orders_vacuum")
    v_c = commit_replace(
        read_version(spark, table).repartition(2), table, ["o_orderdate"]
    )
    n_disk_before = len(
        _glob.glob(_os.path.join(table, "data", "*.parquet"))
    )
    live = [f["path"] for f in read_manifest(table, v_c)["files"]]
    n_deleted, n_kept = vacuum(table, retain_last=1)
    return (
        read_version(spark, table, v_c)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn(
            "deleted_all_superseded",
            F.lit(n_deleted == n_disk_before - len(live)),
        )
        .withColumn("kept_matches_manifest", F.lit(n_kept == len(live)))
    )


@query(
    "q_etl_schema_evolution_add_column",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')},
           count(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
                      THEN 1 END) AS n_scored,
           cast(sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
                    THEN cast(substr(o_orderpriority, 1, 1) AS int)
                    END) AS bigint) AS sum_rank
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_etl_schema_evolution_add_column(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ADDITIVE SCHEMA EVOLUTION on the log-structured table
    (sources/manifest_table.py, VERDICT r11 item 4): commit 1 lands
    pre-1998 orders WITHOUT the ``priority_rank`` column; commit 2 adds
    it. Every manifest records the committed table schema, and
    read_version pins the manifest schema on the scan (reader-schema
    resolution, the Avro analogue built at sources/avro_python.py), so
    the old files null-fill the new column instead of failing — no
    O(#files) mergeSchema footer sweep at planning time, no rewrite of
    committed data. The aggregate proves the null-fill: n_scored /
    sum_rank only see post-1998 rows (the oracle derives the same split
    relationally), while n_orders / revenue cover both commits.

    Scale: schema resolution is metadata-plane (one schema list per
    kilobyte-scale manifest). This is how a 100-TB table gains a column
    with zero data movement; type changes are rejected at commit time
    (add-only — rename is indistinguishable from drop+add without
    field IDs, so the format refuses rather than guesses).
    """
    import uuid as _uuid

    from ..sources.manifest_table import commit_appends, read_version

    table = _sink_dir(f"orders_evolve_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    split = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    commit_appends(
        [
            o.filter(F.col("o_orderdate") < split),
            o.filter(F.col("o_orderdate") >= split).withColumn(
                "priority_rank",
                F.substring("o_orderpriority", 1, 1).cast("int"),
            ),
        ],
        table,
        ["o_orderdate"],
    )
    return (
        read_version(spark, table)  # latest schema: priority_rank added
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
            F.count("priority_rank").alias("n_scored"),
            F.sum("priority_rank").cast("bigint").alias("sum_rank"),
        )
    )


@query(
    "q_etl_schema_default_values",
    oracle=f"""
    SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
                THEN 'legacy'
                WHEN o_orderkey % 97 = 0 THEN NULL
                WHEN o_orderkey % 2 = 0 THEN 'web'
                ELSE 'store' END AS o_channel,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')},
           true AS zero_files_rewritten
    FROM orders
    GROUP BY 1
    """,
)
def q_etl_schema_default_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN DEFAULT VALUES (the Iceberg v3 ``initial-default`` shape):
    ``commit_add_column(..., default='legacy')`` adds ``o_channel`` to
    a table of pre-1997 orders as a METADATA-ONLY commit — zero files
    rewritten (graded) — and every pre-existing row reads 'legacy'
    without any backfill. Rows appended AFTER the add carry their
    stored values, and their real NULLs (the %97 orders here) STAY
    null — the default applies only to files committed before the
    column existed (per-file data sequence numbers, the same machinery
    that scopes equality deletes).

    At 100 TB this is the backfill killer: ``ADD COLUMN ... DEFAULT``
    costs one kilobyte manifest write where a materialized backfill
    would rewrite the table; the default resolves at scan as a
    projection over the broadcast file-seq map — no shuffle, no UDF.
    """
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_add_column,
        commit_append,
        read_manifest,
        read_version,
    )

    table = _sink_dir(f"orders_defaults_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    cut = F.lit("1997-01-01").cast("timestamp_ntz")
    v1 = commit_append(
        o.filter(F.col("o_orderdate") < cut).repartition(2),
        table,
        ["o_orderdate"],
        op="history",
    )
    v2 = commit_add_column(table, "o_channel", "string", default="legacy")
    zero_rewrites = [f["path"] for f in read_manifest(table, v1)["files"]] == [
        f["path"] for f in read_manifest(table, v2)["files"]
    ]
    k = F.col("o_orderkey")
    # serial by design: commit_add_column sits between the two appends
    commit_append(
        o.filter(F.col("o_orderdate") >= cut)
        .withColumn(
            "o_channel",
            F.when(k % 97 == 0, F.lit(None).cast("string"))
            .when(k % 2 == 0, F.lit("web"))
            .otherwise(F.lit("store")),
        )
        .repartition(2),
        table,
        ["o_orderdate"],
        op="append_with_channel",
    )
    return (
        read_version(spark, table)
        .groupBy("o_channel")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("zero_files_rewritten", F.lit(zero_rewrites))
    )


@query(
    "q_scan_manifest_refs_table",
    oracle="""
    WITH y AS (SELECT count(DISTINCT year(o_orderdate)) AS n FROM orders)
    SELECT 'audit' AS ref, CAST(2 AS BIGINT) AS version, false AS at_head
    FROM y
    UNION ALL
    SELECT 'dev', CAST(1 AS BIGINT), false FROM y
    UNION ALL
    SELECT 'main', CAST(n AS BIGINT), true FROM y
    """,
)
def q_scan_manifest_refs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `table$refs` METADATA TABLE — the branch-hygiene surface
    completing the metadata quartet ($files/$history/$partitions/$refs):
    one row per named ref with its pinned version and whether it sits
    at the log head. Built deterministically: one commit per order
    year, `main` published at the final version, `dev` branched at v1,
    `audit` pinned at v2 — the oracle derives the expected pin set
    from the year count alone (versions are commit ordinals).

    Scale: a directory listing of kilobyte pointer files — the 'git
    branch -v' of a 100-TB table.
    """
    from ..sources.manifest_table import create_branch, refs_table, set_ref

    table, _, versions = _orders_by_year(
        spark, sf_dir, "orders_refstbl", ["o_orderkey", "o_orderdate"]
    )
    set_ref(table, "main", versions[-1])
    create_branch(table, "dev", at_version=1)
    set_ref(table, "audit", 2)
    return refs_table(spark, table)


@query(
    "q_etl_branch_fastforward",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')},
           true AS main_isolated_until_ff,
           true AS backward_ff_rejected
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_etl_branch_fastforward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRANCHES + FAST-FORWARD (the Iceberg branching shape, one step
    past single-commit WAP): ``create_branch('dev')`` buds zero-copy
    from main; TWO commits land on dev via ``commit_append_to_ref``
    (each records its branch PARENT — the version log is an id
    allocator, the parent pointers are the history DAG) while main
    still reads the original snapshot (graded main_isolated_until_ff).
    ``fast_forward('main', 'dev')`` then publishes the whole dev line
    with one atomic pointer move — but only because main's position is
    an ANCESTOR of dev's head; the reverse fast-forward (dev back to
    the old main) is REJECTED (graded backward_ff_rejected) because it
    would silently discard dev's commits.

    At 100 TB this is multi-commit staging: a backfill lands as N
    audited branch commits sharing production's files, and promotion
    is O(1) metadata — the same reason git made cheap branches the
    default workflow.
    """
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_append,
        commit_append_to_ref,
        create_branch,
        fast_forward,
        get_ref,
        read_ref,
        set_ref,
    )

    table = _sink_dir(f"orders_branch_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    cut = F.lit("1997-01-01").cast("timestamp_ntz")
    v1 = commit_append(
        o.filter(F.col("o_orderdate") < cut).repartition(2),
        table,
        ["o_orderdate"],
        op="main_history",
    )
    set_ref(table, "main", v1)
    create_branch(table, "dev")
    base_count = read_ref(spark, table, "main").count()
    years = sorted(
        r.yr
        for r in o.filter(F.col("o_orderdate") >= cut)
        .select(F.year("o_orderdate").alias("yr"))
        .distinct()
        .collect()
    )
    # serial by design: commit_append_to_ref has no batch form
    for yr in years:
        commit_append_to_ref(
            o.filter(F.year("o_orderdate") == yr).repartition(2),
            table,
            "dev",
            ["o_orderdate"],
            op=f"dev_y{yr}",
        )
    # main is untouched by dev's commits
    isolated = (
        get_ref(table, "main") == v1
        and read_ref(spark, table, "main").count() == base_count
    )
    try:
        fast_forward(table, "dev", v1)  # backward: discards dev commits
        backward_rejected = False
    except ValueError:
        backward_rejected = True
    fast_forward(table, "main", "dev")
    return (
        read_ref(spark, table, "main")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("main_isolated_until_ff", F.lit(isolated))
        .withColumn("backward_ff_rejected", F.lit(backward_rejected))
    )


@query(
    "q_etl_maintenance_report",
    oracle="""
    WITH y AS (SELECT count(DISTINCT year(o_orderdate)) AS ny,
                      count(*) AS n
               FROM orders),
         d AS (SELECT count(*) AS nd FROM orders
               WHERE o_orderkey % 113 = 0)
    SELECT CAST(ny AS BIGINT) AS n_files,
           CAST(ny AS BIGINT) AS n_small_files,
           CAST(n AS BIGINT) AS footer_rows,
           CAST(nd AS BIGINT) AS pos_vector_rows,
           CAST(0 AS BIGINT) AS eq_vector_values,
           CAST(ny + 1 AS BIGINT) AS n_versions,
           true AS needs_compaction
    FROM y, d
    """,
)
def q_etl_maintenance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE-HEALTH REPORT (the ops row a maintenance scheduler reads
    across thousands of tables): per-year trickle appends leave one
    small file per order year, a %113 position-delete leaves mask
    debt, and the report — a pure manifest fold, zero data reads —
    must state the exact file count, small-file count, footer row
    total, vector-row debt, reachable snapshot count, and the
    needs_compaction verdict. The oracle rebuilds every number
    relationally from the year histogram and the delete predicate —
    proving the metadata plane's bookkeeping against the data plane.

    Scale: O(#files + #versions) kilobyte manifest reads per table —
    cheap enough to sweep a whole warehouse every hour and rank where
    the `commit_optimize_binpack` / `vacuum` budget goes.
    """
    from ..sources.manifest_table import (
        commit_delete,
        maintenance_report,
        read_version_with_pos,
    )

    table, o, _ = _orders_by_year(
        spark, sf_dir, "orders_maint", _ORDER_COLS, op="trickle_y"
    )
    doomed = read_version_with_pos(spark, table).filter(
        F.col("o_orderkey") % 113 == 0
    )
    commit_delete(spark, table, doomed.select("file_path", "row_index"))
    # every per-year file is "small" against a full-table threshold
    return maintenance_report(spark, table, small_file_rows=o.count() + 1)


@query(
    "q_sql_over_manifest_table",
    oracle=f"""
    SELECT n_name,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')}
    FROM orders o
    JOIN customer c ON o_custkey = c_custkey
    JOIN nation n ON c_nationkey = n_nationkey
    WHERE o_orderkey % 131 <> 0
    GROUP BY n_name
    """,
)
def q_sql_over_manifest_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARK SQL OVER THE TABLE FORMAT: ``register_table`` exposes a
    masked manifest snapshot (here: orders with a live %131 equality
    delete) as a temp view, and a plain ANSI join/aggregate over it —
    written in SQL, joining ordinary parquet dims — returns exactly
    what the relational oracle computes on the post-delete truth. The
    view IS the `read_version` Catalyst tree, so SQL users inherit the
    pinned schema, the broadcast mask joins, and scan pushdown without
    knowing the format exists — the "switch your warehouse query, keep
    your SQL" property.
    """
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_append,
        commit_delete_equality,
        register_table,
    )

    table = _sink_dir(f"orders_sqlview_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    commit_append(o.repartition(4), table, ["o_orderdate"], op="bulk")
    commit_delete_equality(
        spark,
        table,
        "o_orderkey",
        o.filter(F.col("o_orderkey") % 131 == 0).select("o_orderkey"),
    )
    view = f"orders_mt_{_uuid.uuid4().hex[:8]}"
    register_table(spark, table, view)
    load(spark, sf_dir, "customer").createOrReplaceTempView(f"cust_{view}")
    load(spark, sf_dir, "nation").createOrReplaceTempView(f"nat_{view}")
    return spark.sql(f"""
        SELECT n_name,
               count(*) AS n_orders,
               CAST(CAST(sum({sql_exact("o_totalprice")})
                    AS decimal(38,4)) AS double) AS revenue
        FROM {view} o
        JOIN cust_{view} c ON o.o_custkey = c.c_custkey
        JOIN nat_{view} n ON c.c_nationkey = n.n_nationkey
        GROUP BY n_name
    """)


@query(
    "q_etl_optimize_binpack",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')},
           true AS files_reduced,
           true AS big_file_kept_by_reference,
           true AS dead_vector_rows_pruned,
           true AS lineage_stable
    FROM orders
    WHERE o_orderkey % 101 <> 0
    GROUP BY o_orderpriority
    """,
)
def q_etl_optimize_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL small-file OPTIMIZE (the Iceberg `rewrite_data_files`
    shape): 8 trickle commits leave small files next to one big file;
    bin-packing rewrites ONLY the small ones into ~target-sized bins —
    the big file carries by reference (graded), so OPTIMIZE cost
    tracks the small-file problem, not table size. Row-level state
    composes through the partial rewrite: the position vector's rows
    for rewritten files are APPLIED + PRUNED while the big file's
    mask rows survive (graded: vector row count strictly between zero
    and the original), and row lineage reads identically before and
    after (graded via the zero-moved join check).

    At 100 TB this is the nightly maintenance job: a streaming sink's
    per-batch files fold into scan-efficient sizes without ever
    touching the historical bulk — and the seq-scoping invariant keeps
    equality deletes correct across the rewrite for free.
    """
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_appends,
        commit_delete,
        commit_optimize_binpack,
        read_manifest,
        read_version,
        read_version_with_lineage,
        read_version_with_pos,
    )

    table = _sink_dir(f"orders_binpack_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    k = F.col("o_orderkey")
    big = o.filter(k % 5 < 3)  # ~60% in one big file
    # one bulk file, then a trickle of 8 small files: independent
    # appends, staged concurrently (guide §2.6 — concurrent jobs back-fill
    # idle executors) and published in order
    commit_appends(
        [big.repartition(1)]
        + [
            o.filter((k % 5 >= 3) & (k % 8 == i)).repartition(1)
            for i in range(8)
        ],
        table,
        ["o_orderdate"],
        ["bulk"] + [f"trickle_{i}" for i in range(8)],
    )
    doomed = read_version_with_pos(spark, table).filter(k % 101 == 0)
    v_d = commit_delete(spark, table, doomed.select("file_path", "row_index"))
    m0 = read_manifest(table, v_d)
    big_path = max(m0["files"], key=lambda f: f["rows"])["path"]
    dv0 = sum(d["rows"] for d in m0.get("deletes", []))
    # materialized once: feeds both the zero-moved join and the count
    # (guide §2.4 — a lineage read replays masks + broadcast id map);
    # table-sized → lineage-keeping persist (VERDICT r15 item 4)
    from ..functions.dfutil import materialized

    pre_lin = materialized(
        read_version_with_lineage(spark, table, v_d).select(
            "o_orderkey", F.col("_row_id").alias("pre_id")
        )
    )
    n_small_rows = sum(
        f["rows"] for f in m0["files"] if f["path"] != big_path
    )
    v_o = commit_optimize_binpack(
        spark, table, ["o_orderdate"], target_rows=max(2, n_small_rows // 2)
    )
    m1 = read_manifest(table, v_o)
    dv1 = sum(d["rows"] for d in m1.get("deletes", []))
    post_lin = materialized(
        read_version_with_lineage(spark, table, v_o).select(
            "o_orderkey", F.col("_row_id").alias("post_id")
        )
    )
    moved = (
        pre_lin.join(post_lin, "o_orderkey")
        .filter(F.col("pre_id") != F.col("post_id"))
        .count()
    )
    lineage_stable = moved == 0 and post_lin.count() == pre_lin.count()
    return (
        read_version(spark, table, v_o)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("files_reduced", F.lit(len(m1["files"]) < len(m0["files"])))
        .withColumn(
            "big_file_kept_by_reference",
            F.lit(big_path in {f["path"] for f in m1["files"]}),
        )
        .withColumn("dead_vector_rows_pruned", F.lit(0 < dv1 < dv0))
        .withColumn("lineage_stable", F.lit(lineage_stable))
    )


@query(
    "q_etl_table_constraints",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')},
           true AS bad_batch_rejected,
           true AS rejection_staged_nothing,
           true AS constraint_commits_metadata_only
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_etl_table_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK CONSTRAINTS at the format layer (the Delta ``ALTER TABLE
    ADD CONSTRAINT`` shape): declare ``o_totalprice > 0`` and a NOT
    NULL predicate as METADATA-ONLY commits, then prove the gate — a
    clean append passes; a poisoned batch (negated prices) raises
    ConstraintViolation BEFORE anything stages (graded: version
    unchanged AND the data directory holds exactly the live files —
    zero orphans), so no vacuum debt accrues from rejected writes.
    Enforcement lives in the commit path, not in writer discipline: no
    producer can forget it.

    Scale: the gate costs at most one extra scan of the BATCH being
    written (all predicates fold into one filter + limit(1) probe that
    short-circuits on the first offender) — never a table scan.
    """
    import glob as _glob
    import os as _os
    import uuid as _uuid

    from ..sources.manifest_table import (
        ConstraintViolation,
        commit_add_constraint,
        commit_append,
        current_version,
        read_manifest,
        read_version,
    )

    table = _sink_dir(f"orders_constraints_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    cut = F.lit("1997-01-01").cast("timestamp_ntz")
    commit_append(
        o.filter(F.col("o_orderdate") < cut).repartition(2),
        table,
        ["o_orderdate"],
        op="history",
    )
    v_c1 = commit_add_constraint(table, "positive_price", "o_totalprice > 0")
    v_c2 = commit_add_constraint(
        table, "priority_not_null", "o_orderpriority IS NOT NULL"
    )
    meta_only = [
        f["path"] for f in read_manifest(table, v_c1 - 1)["files"]
    ] == [f["path"] for f in read_manifest(table, v_c2)["files"]]
    # clean batch passes the gate (serial by design: the constraint
    # commits sit before it and the refused append after it)
    v_good = commit_append(
        o.filter(F.col("o_orderdate") >= cut).repartition(2),
        table,
        ["o_orderdate"],
        op="append_clean",
    )
    # poisoned batch: negated prices violate positive_price
    poisoned = o.limit(100).withColumn(
        "o_totalprice", -F.col("o_totalprice")
    )
    try:
        commit_append(poisoned, table, ["o_orderdate"], op="append_bad")
        rejected = False
    except ConstraintViolation:
        rejected = True
    no_orphans = len(
        _glob.glob(_os.path.join(table, "data", "*.parquet"))
    ) == len(read_manifest(table, current_version(table))["files"])
    ok = rejected and current_version(table) == v_good
    return (
        read_version(spark, table)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("bad_batch_rejected", F.lit(ok))
        .withColumn("rejection_staged_nothing", F.lit(no_orphans))
        .withColumn("constraint_commits_metadata_only", F.lit(meta_only))
    )


@query(
    "q_etl_row_lineage",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')},
           true AS ids_unique,
           true AS ids_stable_across_compaction,
           true AS compaction_rewrote_all_files,
           true AS post_compact_ids_fresh
    FROM orders
    WHERE o_orderkey % 113 <> 0
    GROUP BY o_orderpriority
    """,
)
def q_etl_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW LINEAGE (the Iceberg v3 stable-row-id story): every committed
    row gets a table-global ``_row_id`` (manifest-allocated
    ``first_row_id`` + position), and a lineage-preserving compaction
    MATERIALIZES the ids into the rewritten files — so after a
    position-delete (%113) and a full compaction that churns EVERY
    file path (graded compaction_rewrote_all_files), each surviving
    order still carries its original id (graded stability via a
    distributed orderkey-join mismatch count — zero rows moved).
    Post-compact appends mint fresh ids above the carried high-water
    mark (graded).

    This is the identity a feature store or incremental trainer keys
    on at 100 TB: files churn under OPTIMIZE weekly, row ids never do,
    so downstream state survives table maintenance. Id assignment is
    O(1) metadata per commit; the read adds one broadcast O(#files)
    map join.
    """
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_append,
        commit_appends,
        commit_delete,
        compact_with_lineage,
        read_manifest,
        read_version,
        read_version_with_lineage,
        read_version_with_pos,
    )

    table = _sink_dir(f"orders_lineage_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    cut = F.lit("1997-01-01").cast("timestamp_ntz")
    commit_appends(
        [
            o.filter(F.col("o_orderdate") < cut).repartition(2),
            o.filter(F.col("o_orderdate") >= cut).repartition(2),
        ],
        table,
        ["o_orderdate"],
        ["append_old", "append_new"],
    )
    doomed = read_version_with_pos(spark, table).filter(
        F.col("o_orderkey") % 113 == 0
    )
    v_d = commit_delete(spark, table, doomed.select("file_path", "row_index"))
    # Round-15 (guide §2.4): `pre` backs three actions (count, distinct
    # count, the zero-moved join) and `post` two — each reference used
    # to replay the whole masked lineage read (parquet scan + delete
    # anti-join + broadcast id map). Materialize each once, and fold
    # count + distinct-count into ONE aggregate pass.
    from ..functions.dfutil import materialized

    pre = materialized(
        read_version_with_lineage(spark, table, v_d)
        .select("o_orderkey", F.col("_row_id").alias("pre_id"))
    )
    n_pre, n_pre_ids, n_pre_nonnull = pre.agg(
        F.count(F.lit(1)), F.count_distinct("pre_id"), F.count("pre_id")
    ).first()
    # count_distinct ignores NULLs (ADVICE r15): require every _row_id
    # non-null AND distinct so a null lineage id can't slip past the
    # uniqueness check.
    ids_unique = n_pre_ids == n_pre and n_pre_nonnull == n_pre
    v_c = compact_with_lineage(spark, table, ["o_orderdate"])
    post = materialized(
        read_version_with_lineage(spark, table, v_c)
        .select("o_orderkey", F.col("_row_id").alias("post_id"))
    )
    moved = (
        pre.join(post, "o_orderkey")
        .filter(F.col("pre_id") != F.col("post_id"))
        .count()
    )
    stable = moved == 0 and post.count() == n_pre
    paths_before = {f["path"] for f in read_manifest(table, v_d)["files"]}
    paths_after = {f["path"] for f in read_manifest(table, v_c)["files"]}
    all_rewritten = not (paths_before & paths_after)
    hwm = int(read_manifest(table, v_c)["next_row_id"])
    v_a = commit_append(
        o.filter(F.col("o_orderkey") % 113 == 0)
        .limit(5)
        .repartition(1),
        table,
        ["o_orderdate"],
        op="late_append",
    )
    fresh = (
        read_version_with_lineage(spark, table, v_a)
        .agg(F.max("_row_id"))
        .first()[0]
    )
    post_fresh = fresh >= hwm
    return (
        read_version(spark, table, v_c)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("ids_unique", F.lit(ids_unique))
        .withColumn("ids_stable_across_compaction", F.lit(stable))
        .withColumn("compaction_rewrote_all_files", F.lit(all_rewritten))
        .withColumn("post_compact_ids_fresh", F.lit(post_fresh))
    )


@query(
    "q_etl_time_travel_timestamp",
    oracle=f"""
    SELECT CAST(1 AS BIGINT) AS snapshot, count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')},
           true AS pre_epoch_rejected
    FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    UNION ALL
    SELECT CAST(2 AS BIGINT), count(*), {sql_dsum('o_totalprice', 'revenue')},
           true
    FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    UNION ALL
    SELECT CAST(3 AS BIGINT), count(*), {sql_dsum('o_totalprice', 'revenue')},
           true
    FROM orders
    """,
)
def q_etl_time_travel_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS OF TIMESTAMP time travel (the Delta ``TIMESTAMP AS OF``
    shape): every commit stamps its wall-clock into the manifest, and
    ``read_version_as_of(ts)`` resolves the newest snapshot committed
    at or before ``ts`` — here three appends land the pre-1996, 1996,
    and 1997+ orders, a timestamp is captured after each, and the
    three as-of reads must reproduce exactly the three cumulative
    states (the oracle rebuilds them relationally). A timestamp BEFORE
    the first commit must error, not silently read empty (graded
    pre_epoch_rejected) — the Delta contract.

    Scale: resolution folds kilobyte manifests (never data); the
    timestamp is an index over the forward-only version log, so
    timestamp travel inherits version travel's exactness — including
    across RESTORE, whose forward-published copy gets its own fresh
    wall-clock.
    """
    import time as _time
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_append,
        read_version_as_of,
        version_at_timestamp,
    )

    table = _sink_dir(f"orders_tstravel_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    t_before = _time.time()
    cuts = [
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"),
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")),
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"),
    ]
    stamps = []
    # serial by design: a wall-clock stamp is taken between commits
    for i, flt in enumerate(cuts):
        commit_append(
            o.filter(flt).repartition(2), table, ["o_orderdate"], op=f"slice_{i}"
        )
        stamps.append(_time.time())
    try:
        version_at_timestamp(table, t_before)
        pre_epoch_rejected = False
    except ValueError:
        pre_epoch_rejected = True
    out = None
    for i, ts in enumerate(stamps):
        snap = (
            read_version_as_of(spark, table, ts)
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                dsum(F.col("o_totalprice"), "revenue"),
            )
            .select(
                F.lit(i + 1).cast("bigint").alias("snapshot"),
                "n_orders",
                "revenue",
            )
        )
        out = snap if out is None else out.unionByName(snap)
    return out.withColumn("pre_epoch_rejected", F.lit(pre_epoch_rejected))


@query(
    "q_etl_type_widening",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
                         THEN o_orderkey
                         ELSE o_orderkey + 3000000000 END) AS BIGINT) AS key_sum,
           {sql_dsum(
               "CASE WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"
               " THEN CAST(o_totalprice AS DECIMAL(8,2))"
               " WHEN o_orderkey % 1000 = 0"
               " THEN CAST(o_totalprice + 50000000.00 AS DECIMAL(12,2))"
               " ELSE CAST(o_totalprice AS DECIMAL(12,2)) END",
               "amount_sum",
           )},
           min(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
                    THEN CAST(CAST(o_totalprice AS REAL) AS DOUBLE)
                    ELSE CAST(o_totalprice AS DOUBLE) END) AS score_min,
           max(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
                    THEN CAST(CAST(o_totalprice AS REAL) AS DOUBLE)
                    ELSE CAST(o_totalprice AS DOUBLE) END) AS score_max,
           true AS zero_files_rewritten
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_etl_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE WIDENING (Iceberg v3): the table outgrows its narrow types
    — int32 keys, float scores, decimal(8,2) amounts — and THREE
    ``commit_widen_column`` promotions (int→bigint, float→double,
    decimal(8,2)→decimal(12,2)) fix the declared schema as
    METADATA-ONLY commits (graded zero_files_rewritten). The post-1997
    append then writes values only the wide types can hold (keys past
    int32's 2^31, amounts past precision 8), landing WIDE files next
    to the untouched NARROW files; one scan reads both generations —
    the parquet reader upcasts narrow files natively under the widened
    reader schema — and the oracle rebuilds the mixed-width truth
    relationally (float's rounding included, bit-exact via the
    REAL→DOUBLE cast on the oracle side).

    At 100 TB this is the "our ids overflowed int32" migration: one
    kilobyte manifest write instead of a table rewrite, with old files
    read in place forever (or until ordinary compaction).
    """
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_append,
        commit_widen_column,
        read_manifest,
        read_version,
    )

    table = _sink_dir(f"orders_widen_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    cut = F.lit("1997-01-01").cast("timestamp_ntz")
    v1 = commit_append(
        o.filter(F.col("o_orderdate") < cut)
        .select(
            F.col("o_orderkey").cast("int").alias("o_orderkey"),
            "o_orderdate",
            "o_orderpriority",
            F.col("o_totalprice").cast("float").alias("score"),
            F.col("o_totalprice").cast("decimal(8,2)").alias("amount"),
        )
        .repartition(2),
        table,
        ["o_orderdate"],
        op="narrow_history",
    )
    for col, wide in [
        ("o_orderkey", "bigint"),
        ("score", "double"),
        ("amount", "decimal(12,2)"),
    ]:
        v_w = commit_widen_column(table, col, wide)
    zero_rewrites = [f["path"] for f in read_manifest(table, v1)["files"]] == [
        f["path"] for f in read_manifest(table, v_w)["files"]
    ]
    commit_append(
        o.filter(F.col("o_orderdate") >= cut)
        .select(
            (F.col("o_orderkey") + F.lit(3000000000)).alias("o_orderkey"),
            "o_orderdate",
            "o_orderpriority",
            F.col("o_totalprice").cast("double").alias("score"),
            # precision-9+ values on ~0.1% of rows: enough to PROVE the
            # narrow type could not hold them, small enough that the
            # decimal finish bound (|sum|*10^4 < 2^53, numeric.py) holds
            # through the 10x battery
            F.when(
                F.col("o_orderkey") % 1000 == 0,
                F.col("o_totalprice") + F.lit(50000000.00),
            )
            .otherwise(F.col("o_totalprice"))
            .cast("decimal(12,2)")
            .alias("amount"),
        )
        .repartition(2),
        table,
        ["o_orderdate"],
        op="wide_append",
    )
    return (
        read_version(spark, table)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            dsum(F.col("amount"), "amount_sum"),
            F.min("score").alias("score_min"),
            F.max("score").alias("score_max"),
        )
        .withColumn("zero_files_rewritten", F.lit(zero_rewrites))
    )


@query(
    "q_etl_concurrent_commit_retry",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')},
           true AS conflict_detected,
           true AS retry_succeeded
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_etl_concurrent_commit_retry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIMISTIC CONCURRENCY on the log-structured table (VERDICT r11
    item 4 + ADVICE r11): the commit point is CREATE-EXCLUSIVE
    (os.link — a plain rename would let two writers publish the same
    version number, the second silently clobbering the first and
    orphaning its data files). Three writers land date slices; writer C
    plans against a base version that writer B has already advanced
    past, so its pinned commit raises CommitConflictError — it then
    retries against the refreshed snapshot and succeeds. The final
    table must hold ALL three slices exactly once (the oracle is the
    full-orders aggregate): conflicts lose the race, never rows.

    Scale: this is the Delta/Iceberg commit protocol — appends commute,
    so losers re-link at the next version without re-staging data
    files; only the kilobyte manifest write repeats. At 100 TB the
    commit critical section stays O(metadata) regardless of how much
    data a writer staged.
    """
    import uuid as _uuid

    from ..sources.manifest_table import (
        CommitConflictError,
        commit_append,
        current_version,
        read_version,
    )

    table = _sink_dir(f"orders_occ_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders")
    lit_ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
    slices = [
        o.filter(F.col("o_orderdate") < lit_ts("1997-01-01 00:00:00")),
        o.filter(
            (F.col("o_orderdate") >= lit_ts("1997-01-01 00:00:00"))
            & (F.col("o_orderdate") < lit_ts("1999-01-01 00:00:00"))
        ),
        o.filter(F.col("o_orderdate") >= lit_ts("1999-01-01 00:00:00")),
    ]
    # serial by design: writer C's base is read between the commits
    commit_append(slices[0], table, ["o_orderdate"])
    stale_base = current_version(table)  # writer C plans here...
    commit_append(slices[1], table, ["o_orderdate"])  # ...B advances
    conflict_detected = False
    try:
        commit_append(
            slices[2], table, ["o_orderdate"], expected_base=stale_base
        )
    except CommitConflictError:
        conflict_detected = True
        # retry against the refreshed snapshot (appends commute)
        commit_append(
            slices[2],
            table,
            ["o_orderdate"],
            expected_base=current_version(table),
        )
    retry_succeeded = current_version(table) == stale_base + 2
    return (
        read_version(spark, table)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("conflict_detected", F.lit(conflict_detected))
        .withColumn("retry_succeeded", F.lit(retry_succeeded))
    )


@query(
    "q_scan_count_metadata_only",
    oracle="""
    SELECT count(*) AS n_rows,
           min(o_orderdate) AS min_date,
           max(o_orderdate) AS max_date
    FROM orders
    """,
)
def q_scan_count_metadata_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-ONLY COUNT/MIN/MAX: the classic warehouse optimization
    where `SELECT count(*), min(x), max(x)` is answered from the table
    format's manifest alone — ZERO data files opened. Every commit
    records each file's footer row count and per-column min/max
    (sources/manifest_table.py table_stats folds them); the query
    builds its one-row answer from that fold and must equal the oracle
    computed the hard way over the raw table. COUNT is always exact
    (immutable files, exact footer counts); MIN/MAX are exact because
    every live file carries timestamp stats (table_stats reports
    files_with_stats so a caller can tell when the fold is only a
    bound — asserted here).

    Scale: this is O(#files) arithmetic over kilobyte manifests vs a
    100-TB scan — the difference between milliseconds and a cluster
    job. Spark's own parquet count(*) pushdown does the same trick per
    footer at scan time; lifting it to the manifest means not even the
    footers are opened, and the fold distributes trivially if the
    manifest itself ever needs to be a dataset.
    """
    import datetime as _dt
    import uuid as _uuid

    from ..sources.manifest_table import commit_appends, table_stats

    table = _sink_dir(f"orders_metaonly_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders")
    commit_appends(
        [o.filter(F.col("o_orderkey") % 3 == i) for i in range(3)],
        table,
        ["o_orderdate"],
        [f"append_{i}" for i in range(3)],
    )
    st = table_stats(table, col="o_orderdate")
    assert st["files_with_stats"] == st["n_files"], "fold would be a bound"
    parse = lambda s: _dt.datetime.fromisoformat(s)  # noqa: E731
    return spark.createDataFrame(
        [(st["n_rows"], parse(st["min"]), parse(st["max"]))],
        "n_rows bigint, min_date timestamp_ntz, max_date timestamp_ntz",
    )


@query(
    "q_scan_files_pruned_bloom",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           true AS pruned_subset
    FROM orders
    WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
    """,
)
def q_scan_files_pruned_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-LOOKUP FILE SKIPPING VIA PER-FILE BLOOM FILTERS: min/max
    range stats cannot prune a needle-in-haystack equality lookup when
    every file spans the full key range (hash-sliced ingest does
    exactly that). Each commit therefore builds a per-file bloom filter
    over the lookup key (10 bits/row, k=7 ≈ 1% fpp; vectorized
    splitmix64 double-hashing — public-domain constants) and stores it
    in the manifest; the lookup keeps only files whose bloom
    maybe-contains the key. False positives cost a wasted file read;
    false negatives are impossible — pruning stays conservative, and
    the exact filter still runs on survivors.

    The graded pruned_subset invariant (files read < files total) holds
    with probability 1 - fpp^(n_files-1) ≫ 1-1e-13 — the other 7 hash
    slices don't contain the key, so only a bloom false positive keeps
    them. Scale: this is the Parquet/Iceberg bloom-column pattern —
    at 100 TB a point lookup touches O(1) files instead of every file
    that intersects a useless [min, max]; the filters ride the
    metadata plane (~1.2 KB per 1k rows, built once at commit from the
    staged file's column).
    """
    import uuid as _uuid

    from ..sources.manifest_table import commit_appends, prune_files_bloom, read_version

    table = _sink_dir(f"orders_bloom_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    v = commit_appends(
        [o.filter(F.col("o_orderkey") % 8 == i).repartition(1) for i in range(8)],
        table,
        ["o_orderkey"],
        [f"slice_{i}" for i in range(8)],
        bloom_cols=["o_orderkey"],
    )[-1]
    needle = o.agg(F.min("o_orderkey")).collect()[0][0]  # 1-row finish
    files, total = prune_files_bloom(table, v, "o_orderkey", int(needle))
    return (
        read_version(spark, table, v, paths=files)
        .filter(F.col("o_orderkey") == F.lit(needle))
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .withColumn("pruned_subset", F.lit(len(files) < total))
    )


@query(
    "q_scan_files_pruned_zorder",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', 'revenue')},
           true AS pruned_both_dims,
           true AS zorder_beats_linear
    FROM orders
    WHERE o_custkey <= (SELECT max(o_custkey) // 4 FROM orders)
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
)
def q_scan_files_pruned_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER LAYOUT + MULTI-COLUMN FILE SKIPPING — the lakehouse
    OPTIMIZE ZORDER BY feature end-to-end: rows are clustered by the
    Morton bit-interleave of (scaled custkey, scaled order-day) before
    the commit (range-partition + sort on zkey: ONE exchange), so every
    file's [min, max] is narrow in BOTH dimensions, and a 2-D predicate
    box prunes conjunctively (prune_files_multi skips a file when ANY
    dimension provably misses). A linear layout — the same rows
    range-sorted by date alone — serves date predicates but leaves
    every file spanning the full custkey range; the graded
    zorder_beats_linear invariant materializes both tables and asserts
    the z-layout reads strictly fewer files for the SECONDARY-dimension
    predicate (custkey-only — the case a single-key sort cannot serve
    at all, so the comparison is boundary-file-noise-free: the linear
    table keeps essentially every file, the z-table keeps only its
    custkey-quarter columns).

    Dimensions scale data-adaptively to 16 bits (d = v·65535/max, two
    bounded 1-row aggregates) instead of q_sort_zorder_layout's
    mod-65536 fold — modulo WRAPS past fixture scale (custkey > 65536
    at 10×) and wrapped files span the full raw-key range, silently
    destroying prunability while staying "correct"; the scale10 marker
    exercises exactly this. Pruning is advisory: the exact predicate
    still runs on survivors, so the aggregate matches the oracle
    regardless of how many files were skipped.

    Scale: at 100 TB this is the difference between a 2-D dashboard
    query reading ~sqrt-fraction of files vs all of them; the zkey is
    pure integer arithmetic (no UDF), the layout costs one
    repartitionByRange exchange at write time, and the stats ride the
    same kilobyte manifests as every other key.
    """
    import uuid as _uuid

    from ..sources.manifest_table import commit_append, prune_files_multi, read_version
    from .sorts import _zkey_expr

    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    # bounded 1-row driver finish: adaptive scale factors
    maxes = o.agg(
        F.max("o_custkey").alias("mc"),
        F.datediff(
            F.max("o_orderdate"), F.lit("1992-01-01").cast("timestamp_ntz")
        ).alias("md"),
    ).collect()[0]
    maxck, maxday = int(maxes.mc), int(maxes.md)
    dims = o.withColumn(
        "d1", F.expr(f"cast(o_custkey * 65535 div {maxck} as bigint)")
    ).withColumn(
        "d2",
        F.expr(
            "cast(datediff(o_orderdate, timestamp_ntz'1992-01-01')"
            f" * 65535 div {maxday} as bigint)"
        ),
    )
    zkeyed = dims.withColumn("zkey", F.expr(_zkey_expr("div")))
    stat_cols = ["o_custkey", "o_orderdate"]
    payload = ["o_custkey", "o_orderdate", "o_orderpriority", "o_totalprice"]

    ztable = _sink_dir(f"orders_zorder_{_uuid.uuid4().hex[:8]}")
    vz = commit_append(
        zkeyed.repartitionByRange(16, "zkey")
        .sortWithinPartitions("zkey")
        .select(payload),
        ztable,
        stat_cols,
        op="zorder_write",
    )
    ltable = _sink_dir(f"orders_linear_{_uuid.uuid4().hex[:8]}")
    vl = commit_append(
        o.repartitionByRange(16, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .select(payload),
        ltable,
        stat_cols,
        op="linear_write",
    )
    preds = {
        "o_custkey": (0, maxck // 4),
        "o_orderdate": ("1995-01-01 00:00:00", "1995-12-31 23:59:59.999999"),
    }
    zfiles, ztotal = prune_files_multi(ztable, vz, preds)
    # secondary-dim-only predicate: the z-layout's structural win
    ck_only = {"o_custkey": preds["o_custkey"]}
    zfiles_ck, _ = prune_files_multi(ztable, vz, ck_only)
    lfiles_ck, _ = prune_files_multi(ltable, vl, ck_only)
    pruned = read_version(spark, ztable, vz, paths=zfiles).filter(
        (F.col("o_custkey") <= maxck // 4)
        & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    return (
        pruned.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("pruned_both_dims", F.lit(len(zfiles) < ztotal))
        .withColumn(
            "zorder_beats_linear", F.lit(len(zfiles_ck) < len(lfiles_ck))
        )
    )


@query(
    "q_etl_manifest_merge_cow",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum(
               "CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'"
               "      AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'"
               " THEN o_totalprice + 100 ELSE o_totalprice END",
               "revenue",
           )},
           true AS rewrote_subset
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_etl_manifest_merge_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY-ON-WRITE MERGE on the log-structured table — the Delta/
    Iceberg `MERGE INTO` shape: an update batch (+100.00 on every 1998
    order) must rewrite ONLY the files its key range touches. The merge
    plans on the metadata plane first (prune_files intersects the
    update's date range with each file's stats), reads just the
    affected files, folds the updates in (non-matched rows of those
    files carry through untouched), and publishes one commit_rewrite:
    untouched files carry over BY REFERENCE, superseded files stay
    readable at the old version (time travel across a merge). The
    graded rewrote_subset invariant pins that the rewrite touched a
    strict subset of the live files; the aggregate pins that the merge
    changed exactly the 1998 rows and nothing else.

    Scale: merge cost is proportional to DATA TOUCHED, not table size —
    at 100 TB an update keyed to one day rewrites a few files, with the
    commit critical section O(metadata). This composes with the z-order
    key: better clustering on the merge key → fewer files intersect →
    smaller rewrite. The update column keeps the table's decimal(12,2)
    type (the +100 fold is exact decimal arithmetic, cast back so the
    union and the schema contract stay width-stable).
    """
    from ..sources.manifest_table import commit_rewrite, prune_files, read_version

    table, o, versions = _orders_by_year(
        spark, sf_dir, "orders_mergecow", _ORDER_COLS, parts=2
    )
    v = versions[-1]
    lo, hi = "1998-01-01 00:00:00", "1998-12-31 23:59:59.999999"
    affected, total = prune_files(table, v, "o_orderdate", lo, hi)
    price_t = dict(o.dtypes)["o_totalprice"]
    in_range = (
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp_ntz")
    ) & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
    touched = read_version(spark, table, v, paths=affected)
    merged = touched.withColumn(
        "o_totalprice",
        F.when(in_range, F.col("o_totalprice") + F.lit(100))
        .otherwise(F.col("o_totalprice"))
        .cast(price_t),
    )
    v_m = commit_rewrite(merged, table, ["o_orderdate"], affected)
    return (
        read_version(spark, table, v_m)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("rewrote_subset", F.lit(len(affected) < total))
    )


@query(
    "q_etl_manifest_delete_mor",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum("o_totalprice", "revenue")},
           true AS no_data_rewritten,
           true AS time_travel_intact
    FROM orders
    WHERE o_orderkey % 97 <> 0
    GROUP BY o_orderpriority
    """,
)
def q_etl_manifest_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ row-level DELETE via position delete vectors — the
    Iceberg v2 capability copy-on-write MERGE can't offer: masking a
    sparse ~1% of orders (o_orderkey % 97 == 0) publishes ONE kilobyte
    delete file and rewrites ZERO data files. The flow: (1) load the
    table as yearly appends, (2) compute doomed (file_path, row_index)
    identities from read_version_with_pos (the parquet reader's
    _metadata struct — no synthetic row ids, no data rewrite), (3)
    commit_delete, (4) read the new version — readers anti-join the
    broadcast vectors away transparently.

    Graded invariants ride along as columns: no_data_rewritten pins
    that the live data-file set is byte-identical across the delete
    commit (delete cost ∝ rows, not files); time_travel_intact pins
    that the PRE-delete version still reads the full row count
    (vectors only apply from their commit forward).

    Scale: at 100 TB, deleting 10 rows from a 1-GB file costs a
    kilobyte mask instead of a gigabyte rewrite; the read-side
    anti-join broadcasts the mask (proportional to ROWS DELETED).
    Vectors too large to broadcast are the signal to compact
    (commit_replace folds them in and starts delete-free).
    """
    from ..sources.manifest_table import (
        commit_delete,
        read_manifest,
        read_version,
        read_version_with_pos,
    )

    table, _, versions = _orders_by_year(
        spark, sf_dir, "orders_mor", _ORDER_COLS, parts=2
    )
    v = versions[-1]
    pre_rows = read_version(spark, table, v).count()
    doomed = read_version_with_pos(spark, table, v).filter(
        F.col("o_orderkey") % 97 == 0
    )
    v_del = commit_delete(spark, table, doomed.select("file_path", "row_index"))
    live_before = [f["path"] for f in read_manifest(table, v)["files"]]
    live_after = [f["path"] for f in read_manifest(table, v_del)["files"]]
    return (
        read_version(spark, table, v_del)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("no_data_rewritten", F.lit(live_before == live_after))
        .withColumn(
            "time_travel_intact",
            F.lit(read_version(spark, table, v).count() == pre_rows),
        )
    )


@query(
    "q_etl_hidden_partitioning",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum("o_totalprice", "revenue")},
           true AS pruned_by_transform
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY o_orderpriority
    """,
)
def q_etl_hidden_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIDDEN PARTITIONING (Iceberg partition-transform shape): the
    table declares month(o_orderdate) ONCE at write time; the query
    filters on the RAW timestamp column and never names the layout —
    prune_files_partition maps the predicate through the declared
    transform and the scan plans only the surviving month files. This
    kills the classic Hive failure mode where a query that forgets to
    filter by the layout column (or filters the raw column instead)
    silently scans the whole table.

    The Q1-1997 predicate keeps 3 month-files of ~84; the graded
    pruned_by_transform column pins files_read < total AND that the
    pruned scan still returns exactly the oracle's rows (the transform
    is an optimization, never a correctness gate — the exact predicate
    re-applies inside the surviving files via normal PushedFilters).

    Scale: the month shuffle at write is the same cost class as any
    partitioned write; pruning is O(#files) on the manifest, and at
    100 TB a one-quarter query reads 3/84ths of the data with zero
    layout knowledge in the query text.
    """
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_append_partitioned,
        current_version,
        prune_files_partition,
        read_version,
    )

    table = _sink_dir(f"orders_hidden_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    commit_append_partitioned(
        o, table, "o_orderdate", "month", ["o_orderdate"]
    )
    v = current_version(table)
    lo, hi = "1997-01-01 00:00:00", "1997-03-31 23:59:59.999999"
    files, total = prune_files_partition(table, v, lo, hi)
    in_range = (
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz")
    ) & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    return (
        read_version(spark, table, v, paths=files)
        .filter(in_range)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("pruned_by_transform", F.lit(len(files) < total))
    )


@query(
    "q_etl_manifest_delete_equality",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum("o_totalprice", "revenue")},
           true AS no_data_rewritten,
           true AS count_becomes_bound,
           true AS compaction_restores_exact
    FROM orders
    WHERE o_orderkey % 131 <> 0
    GROUP BY o_orderpriority
    """,
)
def q_etl_manifest_delete_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUALITY DELETE (the second Iceberg v2 delete flavor): mask every
    order whose key is in a given value set WITHOUT reading one data
    file at commit time — the commit is O(values): one small parquet of
    keys, zero scans. This is the GDPR shape ("delete these ids across
    100 TB now"): position deletes need an identity scan first; the
    equality commit is immediate, and the scan cost moves to read time
    (one broadcast anti-join) until a compaction folds it in.

    Graded invariants ride as columns: no_data_rewritten (live file set
    byte-identical), count_becomes_bound (metadata-only COUNT honestly
    degrades to an upper bound while equality deletes are live —
    table_stats.count_exact False), compaction_restores_exact (a
    commit_replace from the deletes-applied read drops the vectors and
    COUNT is metadata-exact again, equal to the oracle's row count).
    """
    from ..sources.manifest_table import (
        commit_delete_equality,
        commit_replace,
        read_manifest,
        read_version,
        table_stats,
    )

    table, o, versions = _orders_by_year(
        spark, sf_dir, "orders_eqdel", _ORDER_COLS, parts=2
    )
    v = versions[-1]
    # blind commit: the doomed-key set comes from the caller, not from
    # scanning the table (values-proportional, zero data reads)
    doomed_keys = o.filter(F.col("o_orderkey") % 131 == 0).select("o_orderkey")
    v_del = commit_delete_equality(spark, table, "o_orderkey", doomed_keys)
    no_rewrite = [f["path"] for f in read_manifest(table, v)["files"]] == [
        f["path"] for f in read_manifest(table, v_del)["files"]
    ]
    count_bound = table_stats(table, v_del)["count_exact"] is False
    # compaction folds the mask in and COUNT is metadata-exact again
    v_c = commit_replace(read_version(spark, table, v_del), table, ["o_orderdate"])
    st = table_stats(table, v_c)
    survivors = read_version(spark, table, v_c)
    restored = st["count_exact"] and st["n_rows"] == survivors.count()
    return (
        survivors.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("no_data_rewritten", F.lit(no_rewrite))
        .withColumn("count_becomes_bound", F.lit(count_bound))
        .withColumn("compaction_restores_exact", F.lit(restored))
    )


@query(
    "q_etl_changefeed_rowlevel",
    oracle=f"""
    SELECT 'insert' AS _change_type,
           o_orderpriority,
           count(*) AS n_rows,
           {sql_dsum("o_totalprice", "revenue")}
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderkey % 97 <> 0
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'delete' AS _change_type,
           o_orderpriority,
           count(*) AS n_rows,
           {sql_dsum("o_totalprice", "revenue")}
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderkey % 97 = 0
    GROUP BY o_orderpriority
    """,
)
def q_etl_changefeed_rowlevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL CHANGE FEED (the Delta CDF shape) with NET semantics:
    between v_from (history loaded) and v_to (new years appended, then
    a sparse position-delete), read_changes emits full ROWS tagged
    _change_type — inserts are the window's appended rows MINUS the
    ones deleted inside the same window (net: append-then-delete is
    nothing), and deletes MATERIALIZE the deleted rows' values by
    joining the window's position vectors back to the v_from files (a
    downstream consumer gets the data it must retract, not just file
    offsets — what diff_files alone cannot give).

    This is the incremental-MV/downstream-sync primitive at 100 TB:
    the feed's cost is proportional to the CHANGES (added files +
    vector rows), never the table; both masks apply as broadcast
    joins.
    """
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_appends,
        commit_delete,
        read_changes,
        read_version_with_pos,
    )

    table = _sink_dir(f"orders_cdf_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    cut = F.lit("1997-01-01").cast("timestamp_ntz")
    v_from, _ = commit_appends(
        [
            o.filter(F.col("o_orderdate") < cut).repartition(4),
            o.filter(F.col("o_orderdate") >= cut).repartition(2),
        ],
        table,
        ["o_orderdate"],
        ["history", "append_new"],
    )
    doomed = read_version_with_pos(spark, table).filter(
        F.col("o_orderkey") % 97 == 0
    )
    v_to = commit_delete(spark, table, doomed.select("file_path", "row_index"))
    return (
        read_changes(spark, table, v_from, v_to)
        .groupBy("_change_type", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
    )


@query(
    "q_etl_write_audit_publish",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum("o_totalprice", "revenue")},
           true AS bad_batch_blocked,
           true AS restore_kept_history
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_etl_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH (the Iceberg WAP branch pattern — the audit
    gate every 100-TB ingest pipeline needs): readers read the MAIN REF,
    never the log head, so a staged commit is INVISIBLE until an audit
    passes and the publish step moves the pointer. The flow here: (1)
    history loads and main points at it; (2) a poisoned 1998 batch
    (negated o_totalprice on some rows) is staged — the DQ audit
    (count of negative prices on the STAGED snapshot) fails, main never
    moves, and a RESTORE commit (the Delta `RESTORE TABLE` shape —
    forward-only log, zero data movement, bad version stays
    time-travelable for the audit trail) returns the live state to the
    known-good snapshot; (3) the clean 1998 batch stages, audits green,
    and publish = one atomic ref move.

    Graded: bad_batch_blocked pins that a main-ref read AFTER the
    failed audit saw no 1998 rows and no negative price anywhere;
    restore_kept_history pins that the poisoned snapshot is still
    readable by version (restore is additive, not destructive). The
    final aggregate equals the clean full table — the poison never
    reached a reader.
    """
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_append,
        current_version,
        get_ref,
        read_ref,
        read_version,
        rollback,
        set_ref,
    )

    table = _sink_dir(f"orders_wap_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    cut = F.lit("1998-01-01").cast("timestamp_ntz")
    v_hist = commit_append(
        o.filter(F.col("o_orderdate") < cut).repartition(4),
        table,
        ["o_orderdate"],
        op="history",
    )
    set_ref(table, "main", v_hist)

    def audit(version: int) -> bool:
        snap = read_version(spark, table, version)
        return snap.filter(F.col("o_totalprice") < 0).count() == 0

    batch = o.filter(F.col("o_orderdate") >= cut)
    price_t = dict(o.dtypes)["o_totalprice"]
    poisoned = batch.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 11 == 0, -F.col("o_totalprice")
        ).otherwise(F.col("o_totalprice")).cast(price_t),
    )
    v_bad = commit_append(
        poisoned.repartition(2), table, ["o_orderdate"], op="stage_1998"
    )
    published_bad = False
    if audit(v_bad):  # poisoned by construction: must fail
        set_ref(table, "main", v_bad)
        published_bad = True
    main_read = read_ref(spark, table, "main")
    blocked = (
        not published_bad
        and get_ref(table, "main") == v_hist
        and main_read.filter(F.col("o_orderdate") >= cut).count() == 0
        and main_read.filter(F.col("o_totalprice") < 0).count() == 0
    )
    rollback(table, v_hist)  # restore: next stage builds on known-good
    v_good = commit_append(
        batch.repartition(2), table, ["o_orderdate"], op="stage_1998_retry"
    )
    if audit(v_good):
        set_ref(table, "main", v_good)
    restore_kept = (
        read_version(spark, table, v_bad)
        .filter(F.col("o_totalprice") < 0)
        .count()
        > 0
        and get_ref(table, "main") == v_good == current_version(table)
    )
    return (
        read_ref(spark, table, "main")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("bad_batch_blocked", F.lit(blocked))
        .withColumn("restore_kept_history", F.lit(restore_kept))
    )


@query(
    "q_scan_manifest_files_table",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS file_year,
           count(*) AS n_rows,
           strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_date,
           strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_date
    FROM orders
    GROUP BY file_year
    """,
)
def q_scan_manifest_files_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `table$files` METADATA TABLE (Iceberg ops surface): inspect
    every live data file — row count, per-column stats, partition value
    — with ZERO data files opened. Loaded one file per order-year, the
    files table's footer counts and date-range stats must reproduce the
    per-year relational truth exactly: the oracle recomputes each
    year's count/min/max from the raw rows, proving the metadata plane
    agrees with the data plane (the property every stats-based
    optimization in this format leans on).

    Scale: O(#files) over kilobyte manifests; at production file counts
    the manifest itself distributes (documented module-wide). This is
    the diagnosis surface for small-file problems and pruning forensics
    ("which files would this predicate touch, and why").
    """
    from ..sources.manifest_table import files_table

    table, _, versions = _orders_by_year(
        spark, sf_dir, "orders_filestbl", ["o_orderkey", "o_orderdate", "o_totalprice"]
    )
    # stats is a JSON string; extraction stays JVM-side (get_json_object,
    # no Python UDF) — metadata rows are few, but the hot-path discipline
    # is uniform
    lo = F.get_json_object("stats", "$.o_orderdate[0]")
    hi = F.get_json_object("stats", "$.o_orderdate[1]")
    ft = files_table(spark, table, versions[-1])
    return ft.select(
        F.substring(lo, 1, 4).cast("long").alias("file_year"),
        F.col("n_rows"),
        lo.alias("min_date"),
        hi.alias("max_date"),
    )


@query(
    "q_scan_manifest_history_table",
    oracle="""
    WITH yearly AS (
        SELECT year(o_orderdate) AS yr, count(*) AS n
        FROM orders GROUP BY yr
    )
    SELECT CAST(row_number() OVER (ORDER BY yr) AS BIGINT) AS version,
           'append_y' || CAST(yr AS VARCHAR) AS op,
           CAST(row_number() OVER (ORDER BY yr) AS BIGINT) AS n_files,
           CAST(sum(n) OVER (ORDER BY yr) AS BIGINT) AS n_rows,
           false AS has_row_masks
    FROM yearly
    """,
)
def q_scan_manifest_history_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `table$history` METADATA TABLE: one row per reachable
    version — op label, live file count, visible row count, row-mask
    flag — a pure manifest fold (no data reads). Loaded one file per
    order-year, version i's history row must show exactly i files and
    the cumulative row count through year i; the oracle rebuilds that
    audit trail relationally (running sum over per-year counts). This
    is what makes the forward-only log an AUDIT TRAIL: every append,
    compaction, delete, and restore stays inspectable after the fact.
    """
    from ..sources.manifest_table import history_table

    table, _, _ = _orders_by_year(
        spark, sf_dir, "orders_histtbl", ["o_orderkey", "o_orderdate"]
    )
    return history_table(spark, table)


@query(
    "q_scan_manifest_partitions_table",
    oracle="""
    SELECT strftime(o_orderdate, '%Y') AS "partition",
           'year' AS ptransform,
           CAST(1 AS BIGINT) AS n_files,
           count(*) AS n_rows
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    UNION ALL
    SELECT strftime(o_orderdate, '%Y-%m') AS "partition",
           'month' AS ptransform,
           CAST(1 AS BIGINT) AS n_files,
           count(*) AS n_rows
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
)
def q_scan_manifest_partitions_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The `table$partitions` METADATA TABLE — the third of the
    metadata-table trio next to `$files`/`$history` (VERDICT r13 item
    8): per-partition file and row counts answered from the manifest
    alone, zero data files opened. The table is built ACROSS a
    partition evolution (history YEAR-partitioned, recent MONTH-
    partitioned), and every emitted row carries the transform its
    files were written with — so the oracle can rebuild the exact
    per-generation truth relationally: one file per year value before
    1997, one per month value after, with footer row counts equal to
    the raw per-value counts.

    Scale: O(#partitions) over kilobyte manifests — the dashboard
    query behind small-partition diagnosis, skew forensics ("which
    partition holds half the rows"), and retention planning, at any
    table size.
    """
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_append_partitioned,
        partitions_table,
    )

    table = _sink_dir(f"orders_partstbl_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    cut = F.lit("1997-01-01").cast("timestamp_ntz")
    commit_append_partitioned(
        o.filter(F.col("o_orderdate") < cut),
        table,
        "o_orderdate",
        "year",
        ["o_orderdate"],
        op="history_by_year",
    )
    commit_append_partitioned(
        o.filter(F.col("o_orderdate") >= cut),
        table,
        "o_orderdate",
        "month",
        ["o_orderdate"],
        op="recent_by_month",
        allow_evolution=True,
    )
    return partitions_table(spark, table)


@query(
    "q_etl_manifest_clone",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum("o_totalprice", "revenue")},
           true AS zero_data_copied,
           true AS clone_isolated
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_etl_manifest_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE (the Delta CLONE shape): a new table springs into
    existence referencing the source's live files BY PATH — zero bytes
    copied (the graded zero_data_copied pins that the clone's own data/
    directory holds no files). The clone then evolves INDEPENDENTLY:
    this query position-deletes ~1% of rows in the CLONE and proves the
    SOURCE still reads byte-identically (clone_isolated) — immutable
    shared files + separate logs make isolation structural, not
    defensive.

    At 100 TB this is the instant dev/test sandbox: experiments (here, a
    destructive delete) run against production-scale data with
    kilobytes of metadata cost, and the documented vacuum rule (a
    clone's vacuum only touches ITS data dir) keeps the source safe.
    """
    import glob as _glob
    import os as _os
    import uuid as _uuid

    from ..sources.manifest_table import (
        clone_table,
        commit_appends,
        commit_delete,
        read_version,
        read_version_with_pos,
    )

    run = _uuid.uuid4().hex[:8]
    src = _sink_dir(f"orders_clonesrc_{run}")
    dst = _sink_dir(f"orders_clonedst_{run}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    commit_appends(
        [o.filter(F.col("o_orderkey") % 4 == i).repartition(2) for i in range(4)],
        src,
        ["o_orderdate"],
        [f"slice_{i}" for i in range(4)],
    )
    src_total = read_version(spark, src).count()
    clone_table(src, dst)
    zero_copied = not _glob.glob(_os.path.join(dst, "data", "*.parquet"))
    # destructive experiment in the CLONE only
    doomed = read_version_with_pos(spark, dst).filter(
        F.col("o_orderkey") % 113 == 0
    )
    n_doomed = doomed.count()
    commit_delete(spark, dst, doomed.select("file_path", "row_index"))
    isolated = (
        read_version(spark, src).count() == src_total
        and read_version(spark, dst).count() == src_total - n_doomed
    )
    return (
        read_version(spark, src)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("zero_data_copied", F.lit(zero_copied))
        .withColumn("clone_isolated", F.lit(isolated))
    )


@query(
    "q_etl_manifest_update_mor",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum(
               "CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'"
               "      AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'"
               " THEN o_totalprice + 100 ELSE o_totalprice END",
               "revenue",
           )},
           true AS atomic_single_commit,
           true AS no_files_rewritten
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_etl_manifest_update_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATOMIC MERGE-ON-READ UPDATE — the third write-amplification tier,
    completing the ladder next to copy-on-write MERGE
    (q_etl_manifest_merge_cow rewrites whole touched FILES): the same
    +100-on-1998 update here rewrites only the touched ROWS — one
    position vector masks the old versions and one small file carries
    the replacements, published in ONE commit (commit_update_mor), so a
    reader sees the whole update or none of it (the graded
    atomic_single_commit pins exactly +1 version; a separate
    delete-then-append pair would expose the deleted-not-yet-reinserted
    state between its two versions). no_files_rewritten pins that every
    pre-update live file carries into the new version untouched.

    At 100 TB: updating 10 rows in a 1-GB file costs kilobytes instead
    of the CoW gigabyte; reads pay the broadcast anti-join until a
    compaction folds the masks — the documented merge-on-read trade,
    chosen per-table by update sparsity.
    """
    from ..sources.manifest_table import (
        commit_update_mor,
        current_version,
        read_manifest,
        read_version,
        read_version_with_pos,
    )

    table, o, versions = _orders_by_year(
        spark, sf_dir, "orders_updmor", _ORDER_COLS, parts=2
    )
    v = versions[-1]
    live_before = [f["path"] for f in read_manifest(table, v)["files"]]
    price_t = dict(o.dtypes)["o_totalprice"]
    in_range = (
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp_ntz")
    ) & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
    doomed = read_version_with_pos(spark, table).filter(in_range)
    replacements = doomed.select(
        "o_orderkey",
        "o_orderdate",
        "o_orderpriority",
        (F.col("o_totalprice") + F.lit(100)).cast(price_t).alias("o_totalprice"),
    )
    v_u = commit_update_mor(
        spark,
        table,
        doomed.select("file_path", "row_index"),
        replacements.repartition(1),
        ["o_orderdate"],
    )
    live_after = {f["path"] for f in read_manifest(table, v_u)["files"]}
    return (
        read_version(spark, table, v_u)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn(
            "atomic_single_commit", F.lit(v_u == v + 1 == current_version(table))
        )
        .withColumn(
            "no_files_rewritten",
            F.lit(set(live_before).issubset(live_after)),
        )
    )


@query(
    "q_etl_manifest_merge_mor",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum("price", "revenue")},
           true AS atomic_single_commit,
           true AS no_files_rewritten
    FROM (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 151 = 0 AND o_orderkey % 173 <> 0
                    THEN CAST(o_totalprice + 50 AS DECIMAL(12,2))
                    ELSE o_totalprice END AS price
        FROM orders
        WHERE o_orderkey % 173 <> 0
        UNION ALL
        SELECT o_orderpriority,
               CAST(o_totalprice + 1000 AS DECIMAL(12,2)) AS price
        FROM orders
        WHERE o_orderkey % 191 = 0
    )
    GROUP BY o_orderpriority
    """,
)
def q_etl_manifest_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ ``MERGE INTO`` — all three clauses in ONE atomic
    commit (commit_merge_mor): a change batch updates the %151 orders
    (+50.00), deletes the %173 orders, and inserts a synthetic +1000.00
    twin of every %191 order under a fresh key — and the table's live
    data files are untouched (graded no_files_rewritten): the whole
    merge costs one kilobyte position vector plus one small file of
    replacement/new rows, versus the copy-on-write twin
    (q_etl_manifest_merge_cow) that rewrites every touched file.

    Clause scoping is the strict deterministic subset Delta/Iceberg
    implement: unmatched updates/deletes are no-ops, matched inserts
    are dropped. Readers see the whole merge or none of it
    (atomic_single_commit pins the version advanced exactly once).

    Scale: the change batch broadcasts into every scoping join (the
    table side is never broadcast — present-key discovery semi-joins
    the SMALL side as build); write cost is O(rows changed). This is
    the CDC-apply shape at 100 TB: a trickle of upstream changes lands
    in kilobytes per commit, and compaction amortizes the read-side
    mask when it accumulates.
    """
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_appends,
        commit_merge_mor,
        current_version,
        read_manifest,
        read_version,
    )

    table = _sink_dir(f"orders_mergemor_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    cut = F.lit("1997-01-01").cast("timestamp_ntz")
    v = commit_appends(
        [
            o.filter(F.col("o_orderdate") < cut).repartition(2),
            o.filter(F.col("o_orderdate") >= cut).repartition(2),
        ],
        table,
        ["o_orderdate"],
        ["append_old", "append_new"],
    )[-1]
    price_t = dict(o.dtypes)["o_totalprice"]
    k = F.col("o_orderkey")
    upd = o.filter((k % 151 == 0) & (k % 173 != 0)).select(
        "o_orderkey",
        "o_orderdate",
        "o_orderpriority",
        (F.col("o_totalprice") + F.lit(50)).cast(price_t).alias("o_totalprice"),
        F.lit("u").alias("__op"),
    )
    dels = o.filter(k % 173 == 0).select(
        "o_orderkey",
        "o_orderdate",
        "o_orderpriority",
        "o_totalprice",
        F.lit("d").alias("__op"),
    )
    ins = o.filter(k % 191 == 0).select(
        (k + F.lit(100000000)).alias("o_orderkey"),
        "o_orderdate",
        "o_orderpriority",
        (F.col("o_totalprice") + F.lit(1000)).cast(price_t).alias("o_totalprice"),
        F.lit("i").alias("__op"),
    )
    live_before = [f["path"] for f in read_manifest(table, v)["files"]]
    v_m = commit_merge_mor(
        spark,
        table,
        upd.unionByName(dels).unionByName(ins),
        "o_orderkey",
        ["o_orderdate"],
    )
    live_after = {f["path"] for f in read_manifest(table, v_m)["files"]}
    return (
        read_version(spark, table, v_m)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn(
            "atomic_single_commit", F.lit(v_m == v + 1 == current_version(table))
        )
        .withColumn(
            "no_files_rewritten", F.lit(set(live_before).issubset(live_after))
        )
    )


@query(
    "q_etl_partition_evolution",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum("o_totalprice", "revenue")},
           true AS pruned_both_generations
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY o_orderpriority
    """,
)
def q_etl_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION EVOLUTION (the Iceberg spec-evolution story): the table
    starts YEAR-partitioned (coarse — right when data was small), then
    evolves to MONTH partitioning for recent years WITHOUT rewriting a
    single old file — each file's manifest entry carries the transform
    it was written with, and pruning maps the predicate through EACH
    generation's own transform. The Q1-1997 query (raw timestamp
    bounds, zero layout knowledge) skips every pre-1997 YEAR file via
    the year prefix AND every non-Q1 MONTH file via the month prefix —
    the graded pruned_both_generations pins that files from BOTH
    generations were skipped and only Q1-1997 months survived.

    This is the failure Hive-style layouts can't escape: changing the
    directory scheme strands old data behind the old paths. Here the
    layout lives in metadata, so evolution is one writer flag
    (allow_evolution=True) and zero data movement — at 100 TB, the
    difference between an afternoon and a quarter-long migration.
    """
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_append_partitioned,
        current_version,
        prune_files_partition,
        read_manifest,
        read_version,
    )

    table = _sink_dir(f"orders_pevol_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    cut = F.lit("1997-01-01").cast("timestamp_ntz")
    # generation 1: coarse YEAR partitioning for the historical years
    commit_append_partitioned(
        o.filter(F.col("o_orderdate") < cut),
        table,
        "o_orderdate",
        "year",
        ["o_orderdate"],
        op="history_by_year",
    )
    # generation 2: evolve to MONTH for the recent data — no rewrite
    commit_append_partitioned(
        o.filter(F.col("o_orderdate") >= cut),
        table,
        "o_orderdate",
        "month",
        ["o_orderdate"],
        op="recent_by_month",
        allow_evolution=True,
    )
    v = current_version(table)
    lo, hi = "1997-01-01 00:00:00", "1997-03-31 23:59:59.999999"
    files, total = prune_files_partition(table, v, lo, hi)
    by_t = {}
    for f in read_manifest(table, v)["files"]:
        by_t.setdefault(f["ptransform"], []).append(f["path"])
    kept = set(files)
    pruned_both = (
        len(files) < total
        and any(p not in kept for p in by_t.get("year", []))   # old gen pruned
        and any(p not in kept for p in by_t.get("month", []))  # new gen pruned
        and all(p not in kept for p in by_t.get("year", []))   # no 1997 in years
    )
    in_range = (F.col("o_orderdate") >= cut) & (
        F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz")
    )
    return (
        read_version(spark, table, v, paths=files)
        .filter(in_range)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("pruned_both_generations", F.lit(pruned_both))
    )


@query(
    "q_catalog_analyze_cbo",
    oracle="""
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           max(c_acctbal) AS max_acctbal,
           min(c_acctbal) AS min_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def q_catalog_analyze_cbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE + cost-based optimization: catalog statistics feed
    the planner.

    The missing piece between "a catalog names tables"
    (q_catalog_table_roundtrip) and "the optimizer chooses well at
    100 TB": ANALYZE TABLE COMPUTE STATISTICS [FOR COLUMNS] records
    rowCount/sizeInBytes plus per-column NDV/min/max/null-count in the
    catalog, and with spark.sql.cbo.enabled the optimizer estimates
    every operator's cardinality from them — join reordering, broadcast
    selection, and filter selectivity stop being file-size guesses.
    The query asserts the contract end-to-end: column stats visible in
    DESCRIBE EXTENDED (distinct_count non-null), and EXPLAIN COST
    showing rowCount= estimates flowing through the optimized plan —
    then returns a stats-informed dim-join aggregate, value-oracled.

    Scale: ANALYZE is one scan (columns via HLL sketches, merged
    map-side); it runs once per load, not per query, and pays for
    itself the first time the planner broadcasts a dim it would have
    shuffle-joined on byte-size alone. Exact-valued output only
    (count/max/min — no float sums).
    """
    name = "graft_customer_analyzed"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    ).write.mode("overwrite").option(
        "path", _sink_dir("customer_analyzed")
    ).saveAsTable(name)
    # CBO flips a SESSION conf: snapshot + restore so every query planned
    # after this one (bench order, shared pytest session) keeps its prior
    # optimizer mode — the EXPLAIN COST assertion below is what proves CBO
    # was live for this key, and the returned aggregate's values don't
    # depend on the planner mode.
    prior = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    }
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        spark.sql(
            f"ANALYZE TABLE {name} COMPUTE STATISTICS "
            "FOR COLUMNS c_nationkey, c_mktsegment, c_acctbal"
        )
        kv = {r[0]: r[1] for r in spark.sql(
            f"DESCRIBE EXTENDED {name} c_mktsegment"
        ).collect()}
        if kv.get("distinct_count") in (None, "NULL"):
            raise AssertionError(f"ANALYZE recorded no column stats: {kv}")
        load(spark, sf_dir, "nation").createOrReplaceTempView("cbo_nation")
        q = f"""
            SELECT n_name,
                   CAST(count(*) AS BIGINT) AS n_customers,
                   max(c_acctbal) AS max_acctbal,
                   min(c_acctbal) AS min_acctbal
            FROM {name} c JOIN cbo_nation n ON c.c_nationkey = n.n_nationkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY n_name
            ORDER BY n_name
        """
        cost_plan = spark.sql("EXPLAIN COST " + q).collect()[0][0]
        if "rowCount=" not in cost_plan:
            raise AssertionError("CBO estimates missing from optimized plan")
        return spark.sql(q)
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@query(
    "q_etl_merge_schema_evolution",
    oracle=f"""
    SELECT channel,
           count(*) AS n_orders,
           {sql_dsum("price", "revenue")},
           true AS evolution_metadata_only,
           true AS merge_atomic
    FROM (
        SELECT CASE WHEN o_orderkey % 151 = 0 THEN 'online'
                    ELSE 'legacy' END AS channel,
               CASE WHEN o_orderkey % 151 = 0
                    THEN CAST(o_totalprice + 50 AS DECIMAL(12,2))
                    ELSE o_totalprice END AS price
        FROM orders
        UNION ALL
        SELECT 'online' AS channel,
               CAST(o_totalprice + 1000 AS DECIMAL(12,2)) AS price
        FROM orders WHERE o_orderkey % 191 = 0
    )
    GROUP BY channel
    """,
)
def q_etl_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTO-EVOLVING MERGE (the Delta ``mergeSchema``/autoMerge shape):
    the change batch carries a column the table has never seen
    (``o_channel``) — instead of failing, the pipeline widens the table
    FIRST with a metadata-only ADD COLUMN, then lands the merge, all
    against the manifest format.

    Two deliberate semantics on top of Delta's: (a) evolution is
    detected GENERICALLY (any source column absent from table_schema),
    not hard-coded; (b) the new column gets an INITIAL DEFAULT
    ('legacy') rather than Delta's null-fill, so the billion
    pre-existing rows read a meaningful value the moment the column
    lands — the Iceberg v3 initial-default composed with autoMerge,
    zero files rewritten (graded evolution_metadata_only). Updated and
    inserted rows carry the source's real value ('online').

    Scale: the evolution commit is one kilobyte manifest write
    regardless of table size; the merge is the standard MoR shape
    (change batch broadcasts, write cost O(rows changed)).
    """
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_add_column,
        commit_append,
        commit_merge_mor,
        current_version,
        read_manifest,
        read_version,
        table_schema,
    )

    table = _sink_dir(f"orders_mergeevo_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    v0 = commit_append(o.repartition(2), table, ["o_orderkey"], op="append_base")
    price_t = dict(o.dtypes)["o_totalprice"]
    k = F.col("o_orderkey")
    src = (
        o.filter(k % 151 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            (F.col("o_totalprice") + F.lit(50)).cast(price_t).alias("o_totalprice"),
            F.lit("online").alias("o_channel"),
            F.lit("u").alias("__op"),
        )
        .unionByName(
            o.filter(k % 191 == 0).select(
                (k + F.lit(100000000)).alias("o_orderkey"),
                "o_orderpriority",
                (F.col("o_totalprice") + F.lit(1000))
                .cast(price_t)
                .alias("o_totalprice"),
                F.lit("online").alias("o_channel"),
                F.lit("i").alias("__op"),
            )
        )
    )
    # generic autoMerge: widen the table for every unseen source column.
    # Initial defaults are PER-COLUMN and type-aware — a fixed string
    # literal would record a type-mismatched default the moment the source
    # evolves a numeric or timestamp column; unseen non-string types get
    # None (NULL-fill, the Delta autoMerge behavior) unless a backfill
    # value of the right type is declared here.
    evo_defaults = {"o_channel": "legacy"}
    existing = {n for n, _ in table_schema(table)}
    src_types = dict(src.dtypes)
    files_before = {f["path"] for f in read_manifest(table, v0)["files"]}
    v_evo = v0
    for cname in src.columns:
        if cname != "__op" and cname not in existing:
            default = evo_defaults.get(cname)
            if default is None and src_types[cname] == "string":
                default = ""
            v_evo = commit_add_column(
                table, cname, src_types[cname], default=default
            )
    files_after = {
        f["path"] for f in read_manifest(table, v_evo)["files"]
    }
    v_m = commit_merge_mor(spark, table, src, "o_orderkey", ["o_orderkey"])
    return (
        read_version(spark, table, v_m)
        .groupBy(F.col("o_channel").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn(
            "evolution_metadata_only", F.lit(files_before == files_after)
        )
        .withColumn(
            "merge_atomic", F.lit(v_m == v_evo + 1 == current_version(table))
        )
    )


@query(
    "q_etl_remove_orphans",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           {sql_dsum("o_totalprice", "revenue")},
           true AS old_orphan_reclaimed,
           true AS fresh_orphan_protected,
           true AS full_history_intact
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_etl_remove_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REMOVE ORPHAN FILES — the third leg of the maintenance tripod
    next to OPTIMIZE (q_etl_optimize_binpack) and VACUUM
    (q_etl_manifest_vacuum): reclaim crashed-writer leftovers (files on
    disk no manifest references) WITHOUT expiring any snapshot — time
    travel to every version survives, which vacuum's retention horizon
    cannot promise.

    The demo plants two orphans in the data directory: one backdated a
    week (a crashed writer from last Tuesday) and one fresh (a
    concurrent writer mid-staging RIGHT NOW — this format stages data
    files before publishing the manifest, so reference-counting alone
    cannot tell it from garbage). remove_orphan_files with a 1-hour
    age gate must reclaim exactly the old one (graded
    old_orphan_reclaimed + fresh_orphan_protected) while both committed
    snapshots stay byte-identically readable (full_history_intact
    re-reads version 1 AND the head after the GC).

    Scale: the scan is one directory listing joined against the
    manifest union — O(files), no data reads; the age cutoff is the
    entire concurrency story, same as Iceberg's older_than=3d default.
    """
    import shutil as _shutil
    import time as _time
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_appends,
        read_manifest,
        read_version,
        remove_orphan_files,
    )

    table = _sink_dir(f"orders_orphans_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    _, v_head = commit_appends(
        [o.filter(F.col("o_orderkey") % 2 == i) for i in (0, 1)],
        table,
        ["o_orderkey"],
        ["a1", "a2"],
    )
    n_v1 = read_version(spark, table, 1).count()
    # plant orphans: byte-copies of a live file under uncommitted names
    donor = read_manifest(table, 1)["files"][0]["path"]
    data_dir = os.path.dirname(donor)
    old_orphan = os.path.join(data_dir, f"orphan_old_{_uuid.uuid4().hex}.parquet")
    new_orphan = os.path.join(data_dir, f"orphan_new_{_uuid.uuid4().hex}.parquet")
    _shutil.copyfile(donor, old_orphan)
    _shutil.copyfile(donor, new_orphan)
    week_ago = _time.time() - 7 * 24 * 3600
    os.utime(old_orphan, (week_ago, week_ago))
    n_deleted, n_skipped = remove_orphan_files(table, older_than_s=3600.0)
    ok_old = n_deleted == 1 and not os.path.exists(old_orphan)
    ok_new = n_skipped == 1 and os.path.exists(new_orphan)
    ok_hist = (
        read_version(spark, table, 1).count() == n_v1
        and read_version(spark, table, v_head).count() > n_v1
    )
    return (
        read_version(spark, table, v_head)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("old_orphan_reclaimed", F.lit(ok_old))
        .withColumn("fresh_orphan_protected", F.lit(ok_new))
        .withColumn("full_history_intact", F.lit(ok_hist))
    )


@query(
    "q_etl_row_column_policy",
    oracle="""
    WITH analyst AS (
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_analyst,
               CAST(-1.0 AS DOUBLE) AS max_acctbal_analyst,
               min(substr(c_name, 1, 2) || '***') AS min_name_analyst
        FROM customer WHERE c_nationkey < 13
        GROUP BY c_mktsegment
    ),
    admin AS (
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_admin,
               max(c_acctbal) AS max_acctbal_admin
        FROM customer
        GROUP BY c_mktsegment
    )
    SELECT a.c_mktsegment, n_analyst, max_acctbal_analyst,
           min_name_analyst, n_admin, max_acctbal_admin,
           true AS policy_protects_time_travel
    FROM analyst a JOIN admin USING (c_mktsegment)
    ORDER BY a.c_mktsegment
    """,
)
def q_etl_row_column_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW FILTERS + COLUMN MASKS — per-principal governance on the
    manifest format (the Databricks/Snowflake row-access-policy shape):
    one registered policy hides nations ≥ 13 from non-exempt readers,
    replaces account balances with -1.0, and partial-masks names to a
    2-char prefix + '***'; the admin principal reads through untouched.

    The policy is TABLE-scoped (sidecar metadata), not snapshot-scoped
    — the graded policy_protects_time_travel flag reads VERSION 1
    (committed BEFORE the policy existed) as the analyst and asserts
    the filter still applies: snapshot-scoped policies are the classic
    governance hole where AS OF leaks pre-policy rows. Zero data files
    are touched by policy registration.

    Scale: the row filter is an ordinary Catalyst predicate, masks are
    projection expressions cast back to the declared type (schema is
    principal-invariant) — governance costs the expressions, nothing
    else.
    """
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_append,
        read_with_policy,
        set_policy,
    )

    table = _sink_dir(f"customer_policy_{_uuid.uuid4().hex[:8]}")
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    commit_append(
        c.filter(F.col("c_custkey") % 2 == 0), table, ["c_custkey"], op="a1"
    )
    set_policy(
        table,
        "pii",
        row_filter="c_nationkey < 13",
        column_masks={
            "c_acctbal": "CAST(-1.0 AS DOUBLE)",
            "c_name": "concat(substr(c_name, 1, 2), '***')",
        },
        exempt=("admin",),
    )
    v2 = commit_append(
        c.filter(F.col("c_custkey") % 2 == 1), table, ["c_custkey"], op="a2"
    )
    analyst = read_with_policy(spark, table, "analyst", v2)
    admin = read_with_policy(spark, table, "admin", v2)
    # the policy postdates v1 yet must govern its time-travel read
    v1_analyst = read_with_policy(spark, table, "analyst", 1)
    v1_admin = read_with_policy(spark, table, "admin", 1)
    travel_ok = (
        v1_analyst.filter(F.col("c_nationkey") >= 13).count() == 0
        and v1_admin.filter(F.col("c_nationkey") >= 13).count() > 0
    )
    a = analyst.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_analyst"),
        F.max("c_acctbal").alias("max_acctbal_analyst"),
        F.min("c_name").alias("min_name_analyst"),
    )
    b = admin.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_admin"),
        F.max("c_acctbal").alias("max_acctbal_admin"),
    )
    return (
        a.join(b, "c_mktsegment")
        .withColumn("policy_protects_time_travel", F.lit(travel_ok))
        .orderBy("c_mktsegment")
    )


@query(
    "q_etl_gdpr_purge",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           {sql_dsum("o_totalprice", "revenue")},
           true AS physically_purged,
           true AS survivors_intact
    FROM orders
    WHERE o_custkey <> (SELECT min(o_custkey) FROM orders)
    GROUP BY o_orderstatus
    """,
)
def q_etl_gdpr_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-TO-BE-FORGOTTEN PURGE — the three-step pipeline every
    lakehouse runs for a GDPR/CCPA erasure request, with a PHYSICAL
    proof at the end:

      1. merge-on-read DELETE of the subject's rows (kilobyte vector —
         the subject disappears from every read immediately);
      2. COMPACT (commit_replace from the masks-applied read) — the
         replacement files simply never contain the subject's bytes;
      3. VACUUM to the compacted snapshot — the superseded files that
         still physically held the rows are destroyed.

    The graded physically_purged flag does what an auditor would do:
    bypasses the manifest entirely and reads EVERY parquet file left
    in the data directory raw — zero rows for the subject may exist
    on disk, not merely be masked. survivors_intact pins that the
    other customers' row count is untouched. The documented trade:
    step 3 necessarily truncates time travel (a snapshot you can
    still read is a snapshot that still holds the data) — erasure and
    infinite history are mutually exclusive by construction.

    Scale: delete cost ∝ rows erased; compaction is the step that
    costs — at 100 TB you'd compact only the files the vector touches
    (the binpack machinery), holding full rewrites for the nightly
    window; vacuum is O(files) metadata.
    """
    import glob as _glob
    import uuid as _uuid

    from ..sources.manifest_table import (
        _data_dir,
        commit_appends,
        commit_delete,
        commit_replace,
        read_version,
        read_version_with_pos,
        vacuum,
    )

    table = _sink_dir(f"orders_gdpr_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    commit_appends(
        [o.filter(F.col("o_orderkey") % 2 == i) for i in (0, 1)],
        table,
        ["o_custkey"],
        ["a1", "a2"],
    )
    victim = o.agg(F.min("o_custkey")).collect()[0][0]  # O(1) driver fetch
    n_before = read_version(spark, table).count()
    doomed = (
        read_version_with_pos(spark, table)
        .filter(F.col("o_custkey") == victim)
        .select("file_path", "row_index")
    )
    n_victim = doomed.count()
    commit_delete(spark, table, doomed, op="gdpr_delete")
    commit_replace(read_version(spark, table), table, ["o_custkey"], op="gdpr_compact")
    vacuum(table, retain_last=1)
    # auditor pass: raw-read every surviving byte, no manifest involved
    survivors = _glob.glob(os.path.join(_data_dir(table), "*.parquet"))
    raw = spark.read.parquet(*survivors)
    purged = raw.filter(F.col("o_custkey") == victim).count() == 0 and n_victim > 0
    intact = raw.count() == n_before - n_victim
    return (
        read_version(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("physically_purged", F.lit(purged))
        .withColumn("survivors_intact", F.lit(intact))
    )


@query(
    "q_scan_manifest_policies_table",
    oracle="""
    SELECT 'pii' AS policy,
           'c_nationkey < 13' AS row_filter,
           CAST(2 AS INT) AS n_masks,
           'c_acctbal,c_name' AS masked_columns,
           'admin' AS exempt
    UNION ALL
    SELECT 'region_eu', 'c_nationkey IN (6, 7, 19)', CAST(0 AS INT),
           '', 'admin,dpo'
    """,
)
def q_scan_manifest_policies_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `table$policies` METADATA TABLE — the governance audit
    surface extending the metadata plane to a quintet
    ($files/$history/$partitions/$refs/$policies): one row per
    registered policy with its row filter, mask count, masked-column
    and exempt-principal CSVs. "Who can see what on this table" is a
    kilobyte sidecar read, never a data scan — the same
    metadata-not-data principle as the rest of the plane.
    """
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_append,
        policies_table,
        set_policy,
    )

    table = _sink_dir(f"customer_poltbl_{_uuid.uuid4().hex[:8]}")
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    commit_append(c.limit(50), table, ["c_custkey"])
    set_policy(
        table,
        "pii",
        row_filter="c_nationkey < 13",
        column_masks={
            "c_acctbal": "CAST(-1.0 AS DOUBLE)",
            "c_name": "concat(substr(c_name, 1, 2), '***')",
        },
        exempt=("admin",),
    )
    set_policy(
        table,
        "region_eu",
        row_filter="c_nationkey IN (6, 7, 19)",
        exempt=("admin", "dpo"),
    )
    return policies_table(spark, table)


@query(
    "q_scan_python_datasource_pushdown",
    oracle="""
    SELECT n_nationkey, n_name,
           true AS filter_reached_reader,
           true AS partitions_pruned
    FROM nation WHERE n_regionkey = 2
    ORDER BY n_nationkey
    """,
)
def q_scan_python_datasource_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER PUSHDOWN through the Python Data Source API (SPARK-50657,
    Spark 4.1): the reader implements ``pushFilters`` — Spark hands the
    query's predicates to the source at PLANNING time as typed Filter
    objects (EqualTo/GreaterThan/In/...), the source claims the ones it
    can serve and returns the rest for the engine to re-apply. The
    capability that separates a toy connector from a production one:
    q_scan_python_datasource parallelizes the read; THIS key makes the
    read proportional to the PREDICATE — the claimed EqualTo on the
    partition column prunes ``partitions()`` to one directory of five,
    the same contract parquet scans get from hive partition pruning.

    Two graded flags do the honesty work: filter_reached_reader pins
    that pushFilters actually received the EqualTo (via a
    planning-time marker file — pushFilters runs on the driver), and
    partitions_pruned pins that only 1 of 5 partition dirs was
    planned. Unclaimed predicates stay with Spark (the n_nationkey
    bound below is returned, not claimed), so correctness never
    depends on the source's filter coverage.

    Scale: at 100 TB a Python source WITHOUT pushdown streams the
    whole feed through Arrow to evaluate a 1-partition predicate;
    with it, unread partitions cost zero bytes.
    """
    import json as _json
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        InputPartition,
    )

    base = _sink_dir(f"nation_pipe_part_{_uuid.uuid4().hex[:8]}")
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    for r in [row.r for row in n.select(F.col("n_regionkey").alias("r")).distinct().collect()]:
        sub = os.path.join(base, f"region={r}")
        os.makedirs(sub, exist_ok=True)
        rows = n.filter(F.col("n_regionkey") == r).collect()
        with open(os.path.join(sub, "data.csv"), "w") as fh:
            for row in sorted(rows, key=lambda x: x.n_nationkey):
                fh.write(f"{row.n_nationkey}|{row.n_name}|{row.n_regionkey}\n")

    class _Part(InputPartition):
        def __init__(self, path: str):
            self.path = path

    class PipePushdownReader(DataSourceReader):
        def __init__(self, options):
            self.dir = options["path"]
            self.region = None

        def pushFilters(self, filters):
            rest, claimed = [], []
            for f in filters:
                if isinstance(f, EqualTo) and f.attribute == ("n_regionkey",):
                    self.region = f.value
                    claimed.append(str(f))
                else:
                    rest.append(f)  # unclaimed: Spark re-applies
            with open(os.path.join(self.dir, "_pushed.json"), "w") as fh:
                _json.dump(claimed, fh)
            return rest

        def partitions(self):
            parts = []
            for d in sorted(os.listdir(self.dir)):
                if not d.startswith("region="):
                    continue
                if self.region is not None and int(d.split("=")[1]) != self.region:
                    continue
                parts.append(_Part(os.path.join(self.dir, d, "data.csv")))
            with open(os.path.join(self.dir, "_planned.json"), "w") as fh:
                _json.dump(len(parts), fh)
            return parts

        def read(self, partition):
            with open(partition.path) as fh:
                for line in fh:
                    k, name, r = line.rstrip("\n").split("|")
                    yield int(k), name, int(r)

    class PipePushdownSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "pipe_nation_pushdown"

        def schema(self) -> str:
            return "n_nationkey bigint, n_name string, n_regionkey bigint"

        def reader(self, schema) -> DataSourceReader:
            return PipePushdownReader(self.options)

    spark.dataSource.register(PipePushdownSource)
    # Session conf: snapshot + restore so later queries don't silently plan
    # Python sources with pushdown flipped to a state they didn't choose.
    _prior_pd = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        out = (
            spark.read.format("pipe_nation_pushdown")
            .option("path", base)
            .load()
            .filter((F.col("n_regionkey") == 2) & (F.col("n_nationkey") >= 0))
            .select("n_nationkey", "n_name")
            .orderBy("n_nationkey")
        )
        pdf_rows = out.collect()  # materialize so the planning markers exist
    finally:
        if _prior_pd is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set(
                "spark.sql.python.filterPushdown.enabled", _prior_pd
            )
    with open(os.path.join(base, "_pushed.json")) as fh:
        claimed = _json.load(fh)
    with open(os.path.join(base, "_planned.json")) as fh:
        planned = _json.load(fh)
    pushed_ok = any("n_regionkey" in c for c in claimed)
    pruned_ok = planned == 1
    return (
        spark.createDataFrame(pdf_rows, out.schema)
        .withColumn("filter_reached_reader", F.lit(pushed_ok))
        .withColumn("partitions_pruned", F.lit(pruned_ok))
    )


@query(
    "q_sink_python_datasource_arrow",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           {sql_dsum("o_totalprice", "revenue")},
           true AS two_phase_committed
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_sink_python_datasource_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VECTORIZED custom sink via ``DataSourceArrowWriter`` (Spark 4.1)
    — the Arrow tier of the Python writer protocol:
    q_sink_python_datasource's ``write(iterator)`` receives ROWS (one
    Python object per row, the 10-100× slow path); this writer receives
    ``pyarrow.RecordBatch``es and encodes each task's partition to
    parquet with ``pyarrow.parquet`` — ZERO per-row Python anywhere in
    the data path, the same Arrow-batch boundary that makes pandas UDFs
    viable. The two-phase discipline is identical (task-unique staging
    names from partitionId + taskAttemptId so speculative attempts
    never collide; driver-side promote + _SUCCESS; abort discards), so
    readers never observe a torn write — graded two_phase_committed
    pins the staged→promoted accounting.

    Scale: at 100 TB the row-based writer burns the cluster on Python
    object churn; the Arrow writer's cost is parquet encoding, the same
    as the built-in committer — custom sink destinations stop costing
    an interpreter tax.
    """
    import glob as _glob
    import uuid as _uuid

    from pyspark import TaskContext
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceArrowWriter,
        WriterCommitMessage,
    )

    out = _sink_dir(f"orders_arrow_sink_{_uuid.uuid4().hex[:8]}")
    os.makedirs(out, exist_ok=True)

    class _Staged(WriterCommitMessage):
        def __init__(self, tmp_name: str, n_rows: int):
            self.tmp_name = tmp_name
            self.n_rows = n_rows

    class ArrowParquetWriter(DataSourceArrowWriter):
        def __init__(self, options):
            self.dir = options["path"]

        def write(self, iterator):
            import pyarrow as pa
            import pyarrow.parquet as pq

            batches = list(iterator)
            if not batches:
                # Empty input partition (tiny SF / skewed repartition):
                # pa.Table.from_batches needs ≥1 batch or an explicit
                # schema — stage nothing and let commit skip this task.
                return _Staged(None, 0)
            ctx = TaskContext.get()
            tmp = (
                f".tmp-{ctx.partitionId()}-{ctx.taskAttemptId()}-"
                f"{_uuid.uuid4().hex[:8]}"
            )
            tbl = pa.Table.from_batches(batches)
            pq.write_table(tbl, os.path.join(self.dir, tmp))
            return _Staged(tmp, tbl.num_rows)

        def commit(self, messages) -> None:
            total = 0
            staged = [m for m in messages if m.tmp_name is not None]
            for i, m in enumerate(staged):
                os.replace(
                    os.path.join(self.dir, m.tmp_name),
                    os.path.join(self.dir, f"part-{i:05d}.parquet"),
                )
                total += m.n_rows
            with open(os.path.join(self.dir, "_SUCCESS"), "w") as fh:
                fh.write(f"{total}|{len(staged)}")

        def abort(self, messages) -> None:
            for m in messages:
                if m is not None:
                    try:
                        os.remove(os.path.join(self.dir, m.tmp_name))
                    except OSError:
                        pass

    class ArrowParquetSink(DataSource):
        @classmethod
        def name(cls) -> str:
            return "arrow_parquet_sink"

        def writer(self, schema, overwrite: bool) -> ArrowParquetWriter:
            return ArrowParquetWriter(self.options)

    spark.dataSource.register(ArrowParquetSink)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    n_in = o.count()
    o.repartition(4).write.format("arrow_parquet_sink").option(
        "path", out
    ).mode("append").save()
    committed = _glob.glob(os.path.join(out, "part-*.parquet"))
    stragglers = _glob.glob(os.path.join(out, ".tmp-*"))
    with open(os.path.join(out, "_SUCCESS")) as fh:
        n_committed, n_files = (int(x) for x in fh.read().split("|"))
    # Expected file count comes from the commit messages themselves (tasks
    # that staged a file), not a hard-coded partition count — empty input
    # partitions legitimately stage nothing.
    ok = (
        len(committed) == n_files
        and n_files >= 1
        and not stragglers
        and n_committed == n_in
    )
    return (
        spark.read.parquet(*committed)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("two_phase_committed", F.lit(ok))
    )


@query(
    "q_etl_rewrite_manifests",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'full',  0,  4, 0, true, true),
        (2, 'delta', 1,  2, 0, true, true),
        (3, 'delta', 2,  2, 0, true, true),
        (4, 'delta', 3,  2, 0, true, true),
        (5, 'delta', 4,  2, 0, true, true),
        (6, 'delta', 5,  2, 0, true, true),
        (7, 'full',  0, 14, 0, true, true)
    ) AS t(version, form, delta_depth, n_added, n_removed,
           rows_stable, travel_intact)
    """,
)
def q_etl_rewrite_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REWRITE MANIFESTS + the ``$manifests`` metadata table — the ops
    loop the round-15 incremental metadata tier introduces: trickle
    appends build a DELTA-SEGMENT chain (O(new files) metadata per
    commit — the 100-TB commit path), ``$manifests`` EXPOSES the chain
    (stored form, depth, added/removed entry counts per version, raw
    reads only — no reconstruction), and ``compact_manifests`` (the
    Iceberg ``rewrite_manifests`` procedure) publishes a METADATA-ONLY
    full snapshot so chains restart at depth 0 — zero data files
    touched, zero rows moved.

    The expected listing is fully DETERMINED by the commit sequence
    this key performs (bootstrap at 4 files, five 2-file appends, one
    rewrite), so the oracle is the literal contract: v1 full/4, v2-v6
    deltas at depths 1-5 adding 2 files each, v7 full/14 — and the
    graded flags pin that the rewrite moved NO rows (count stable
    across the rewrite) and broke NO history (time travel to v2 still
    reads the first two generations).

    Scale: $manifests is O(#versions) kilobyte raw reads;
    compact_manifests costs one O(live) manifest write — the scheduled
    dual of what every 16th commit does automatically.

    Job floor, 22 Spark jobs (measured at sf0.1, ``local[4]``): the
    orders load 1; the six contracted appends 12 (each
    ``repartition(n)`` fixes the oracle's file counts and costs a
    shuffle-map job plus the write job — one ``commit_appends`` batch
    overlaps them but cannot drop them); the rewrite itself 0
    (metadata-only); the graded reads 8 (the counts at v6, v7 and v2
    and the expected v2 count, two jobs each under AQE); the
    ``$manifests`` result 1."""
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_appends,
        compact_manifests,
        manifests_table,
        read_version,
    )

    table = _sink_dir(f"orders_rewritem_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    slices = [o.filter(F.col("o_orderkey") % 6 == i) for i in range(6)]
    commit_appends(
        [s.repartition(4 if i == 0 else 2) for i, s in enumerate(slices)],
        table,
        ["o_orderkey"],
    )
    n_before = read_version(spark, table).count()
    v7 = compact_manifests(table)
    n_after = read_version(spark, table, v7).count()
    rows_stable = n_after == n_before
    n_v2 = read_version(spark, table, 2).count()
    n_v2_expected = o.filter(F.col("o_orderkey") % 6 < 2).count()  # slices 0-1
    travel_intact = n_v2 == n_v2_expected
    return (
        manifests_table(spark, table)
        .withColumn("rows_stable", F.lit(rows_stable))
        .withColumn("travel_intact", F.lit(travel_intact))
    )


@query(
    "q_stream_python_datasource",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_nations,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           true AS resumed_across_runs,
           true AS source_drained
    FROM nation
    GROUP BY n_regionkey
    """,
)
def q_stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SOURCE via the Python Data Source API (SPARK-44076
    tier, `SimpleDataSourceStreamReader`) — the last missing rung of
    the Python connector ladder (batch read → filter pushdown → batch
    sink → Arrow sink → STREAM source): a custom source serves
    micro-batches with ITS OWN offset protocol (initialOffset / read →
    (rows, nextOffset) / readBetweenOffsets for replay), and Structured
    Streaming checkpoints those offsets exactly as it does Kafka's.

    The demonstration is RESUMABILITY, the property the offset protocol
    exists for: each Trigger.AvailableNow run drains what the simple
    reader prefetched and stops; re-starting from the same checkpoint
    RESUMES at the recorded offset — 7-row batches of the staged
    25-nation feed land across 5 runs with no loss and no replay
    (graded resumed_across_runs: sink counts strictly increase to 25;
    graded source_drained: a final run adds zero rows). The exactness
    oracle is the batch GROUP BY over the same rows.

    Scale: the simple-reader tier prefetches driver-side (right for
    control-plane-sized feeds; the partition-based DataSourceStreamReader
    is the data-plane tier), while the SINK side is ordinary
    distributed parquet — offsets through the driver, rows through
    executors."""
    import json as _json
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    base = _sink_dir(f"pystream_{_uuid.uuid4().hex[:8]}")
    os.makedirs(base, exist_ok=True)
    feed = os.path.join(base, "feed.jsonl")
    rows = [
        (int(r.n_nationkey), r.n_name, int(r.n_regionkey))
        for r in load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
    ]
    with open(feed, "w") as fh:
        for r in sorted(rows):
            fh.write(_json.dumps(r) + "\n")

    class NationFeedReader(SimpleDataSourceStreamReader):
        BATCH = 7

        def __init__(self, options):
            self.path = options["path"]

        def _rows(self):
            with open(self.path) as fh:
                return [tuple(_json.loads(line)) for line in fh]

        def initialOffset(self):
            return {"pos": 0}

        def read(self, start):
            data = self._rows()
            i = start["pos"]
            if i >= len(data):
                return iter([]), {"pos": i}
            j = min(i + self.BATCH, len(data))
            return iter(data[i:j]), {"pos": j}

        def readBetweenOffsets(self, start, end):
            return iter(self._rows()[start["pos"]:end["pos"]])

    class NationFeedSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "nation_feed"

        def schema(self) -> str:
            return "n_nationkey bigint, n_name string, n_regionkey bigint"

        def simpleStreamReader(self, schema) -> NationFeedReader:
            return NationFeedReader(self.options)

    spark.dataSource.register(NationFeedSource)
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")

    def one_run() -> int:
        q = (
            spark.readStream.format("nation_feed")
            .option("path", feed)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Exact sink row count from parquet FOOTERS (round-15, guide §1/
        # §6): the per-run progress probe needs only a count, and six
        # full spark.read.parquet(...).count() jobs were ~0.3 s each of
        # pure scan-job overhead on a 25-row sink. Round-16 (ADVICE
        # r15): enumerate files from the sink's _spark_metadata COMMIT
        # LOG, not a directory glob — the committed set is defined by
        # the log, and a failed/retried micro-batch task's orphan part
        # file must not be counted (spark.read below excludes it too).
        from urllib.parse import urlparse as _urlparse

        import pyarrow.parquet as _pq

        meta = os.path.join(out, "_spark_metadata")
        if not os.path.isdir(meta):
            return 0
        entries = [
            f
            for f in os.listdir(meta)
            if not f.endswith((".crc", ".tmp")) and f[0].isdigit()
        ]

        def _bid(name: str) -> int:
            return int(name.split(".")[0])

        compacts = [f for f in entries if f.endswith(".compact")]
        base = max(compacts, key=_bid) if compacts else None
        chosen = ([base] if base else []) + sorted(
            (
                f
                for f in entries
                if "." not in f and (base is None or _bid(f) > _bid(base))
            ),
            key=_bid,
        )
        paths = []
        for f in chosen:
            with open(os.path.join(meta, f)) as fh:
                for line in fh:
                    line = line.strip()
                    if not line or line.startswith("v"):
                        continue
                    rec = _json.loads(line)
                    if rec.get("action", "add") == "add":
                        p = rec["path"]
                        paths.append(
                            _urlparse(p).path if "://" in p else p
                        )
        return sum(_pq.read_metadata(p).num_rows for p in paths)

    counts = [one_run() for _ in range(5)]
    drained = one_run()
    resumed_ok = (
        counts == sorted(counts)
        and counts[-1] == len(rows)
        and all(b > a for a, b in zip(counts, counts[1:]) if a < len(rows))
    )
    drained_ok = drained == len(rows)
    return (
        spark.read.parquet(out)
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("n_nationkey").alias("key_sum"),
        )
        .withColumn("resumed_across_runs", F.lit(resumed_ok))
        .withColumn("source_drained", F.lit(drained_ok))
    )


@query(
    "q_scan_manifest_files_distributed",
    oracle="""
    SELECT CAST(count(*) + count(*) FILTER (o_orderkey % 97 = 0)
               AS BIGINT) AS footer_rows,
           true AS agrees_with_driver_fold,
           true AS saw_remove_events
    FROM orders
    """,
)
def q_scan_manifest_files_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED manifest listing (``files_table_distributed``) — the
    metadata plane at 10^6-file counts, where "the manifest distributes"
    must be code, not a docstring: the driver walks the delta-segment
    chain parsing ONLY the O(changes) delta records (512-byte header
    sniff picks form without parsing), the full snapshot is exploded by
    ``spark.read.json`` on EXECUTORS, and per-path last-event-wins (a
    window over add/remove events) yields the live set.

    Built on a chain that exercises every event kind: per-status
    appends (adds), a bin-pack OPTIMIZE (adds + REMOVES in one delta),
    then a trailing append. Graded: the distributed (path, rows) set
    equals the driver-side files_table fold; the chain really contained
    remove events; the footer-row total equals the relational count —
    metadata plane == data plane, computed without the driver ever
    JSON-parsing the snapshot record.

    Scale: driver work is O(chain · changes); executor work is one JSON
    scan + one window over file entries — both partition with the
    metadata, which is the whole point."""
    import uuid as _uuid

    from ..sources.manifest_table import (
        _read_raw,
        commit_append,
        commit_appends,
        commit_optimize_binpack,
        current_version,
        files_table,
        files_table_distributed,
    )

    table = _sink_dir(f"orders_distfiles_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    statuses = sorted(
        r.o_orderstatus for r in o.select("o_orderstatus").distinct().collect()
    )
    # the per-status appends are independent: staged concurrently so
    # each append's task tail back-fills the others' idle cores,
    # published in order
    commit_appends(
        [o.filter(F.col("o_orderstatus") == s).repartition(2) for s in statuses],
        table,
        ["o_orderkey"],
    )
    commit_optimize_binpack(spark, table, ["o_orderkey"], target_rows=10**9)
    commit_append(
        o.filter(F.col("o_orderkey") % 97 == 0).repartition(1),
        table,
        ["o_orderkey"],
    )
    v = current_version(table)
    saw_remove = any(
        _read_raw(table, i).get("remove_paths")
        for i in range(1, v + 1)
        if _read_raw(table, i).get("format") == "delta"
    )
    dist = files_table_distributed(spark, table, v)
    drv = files_table(spark, table, v)
    dist_set = {(r.file_path, r.n_rows) for r in dist.collect()}
    drv_set = {(r.file_path, r.n_rows) for r in drv.collect()}
    agrees = dist_set == drv_set and len(dist_set) > 0
    return (
        dist.agg(F.sum("n_rows").cast("bigint").alias("footer_rows"))
        .withColumn("agrees_with_driver_fold", F.lit(agrees))
        .withColumn("saw_remove_events", F.lit(saw_remove))
    )


@query(
    "q_etl_drop_partition_metadata_only",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum("o_totalprice", "revenue")},
           true AS zero_files_rewritten,
           true AS dropped_whole_files_only,
           true AS travel_sees_dropped_month
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND month(o_orderdate) <> 3
    GROUP BY o_orderpriority
    """,
)
def q_etl_drop_partition_metadata_only(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DROP PARTITION — the METADATA-ONLY member of the delete
    triangle (vs q_etl_manifest_merge_cow's file rewrites and
    q_etl_manifest_delete_mor's row vectors): 1996 orders land under
    month(o_orderdate) hidden partitioning, then "delete March" is a
    single manifest commit that removes the month's whole files from
    the live set — zero rows read, zero files rewritten, zero files
    unlinked (the Iceberg whole-file DELETE fast path; cost ∝ manifest
    entries, the shape retention/GDPR-by-month takes at 100 TB).

    Three graded invariants, each FALSE on a wrong implementation:
    ``zero_files_rewritten`` — the post-drop live set is a strict
    subset of the pre-drop set (no new paths appeared, so no data was
    rewritten); ``dropped_whole_files_only`` — exactly the files whose
    recorded partition value is '1996-03' left the manifest, and each
    survivor keeps its byte-identical path; ``travel_sees_dropped_month``
    — reading the pre-drop version still returns March rows (the drop
    is a forward commit, not an erasure; vacuum is the erasure step,
    q_etl_gdpr_purge's territory).

    Scale: the drop commit costs O(#manifest entries) — at 10^5 files
    it is a sub-second metadata edit where CoW would rewrite a month of
    data and MoR would write row-count-sized vectors for rows the
    layout already isolates."""
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_append_partitioned,
        commit_drop_partition,
        current_version,
        read_manifest,
        read_version,
    )

    table = _sink_dir(f"orders_droppart_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    y96 = o.filter(F.year("o_orderdate") == 1996)
    commit_append_partitioned(
        y96, table, "o_orderdate", "month", ["o_orderdate"]
    )
    v_before = current_version(table)
    before = read_manifest(table, v_before)["files"]
    _, n_dropped = commit_drop_partition(table, ["1996-03"])
    after = read_manifest(table, current_version(table))["files"]
    before_paths = {f["path"] for f in before}
    after_paths = {f["path"] for f in after}
    march = [f for f in before if f.get("partition") == "1996-03"]
    zero_rewritten = after_paths <= before_paths
    whole_files_only = (
        n_dropped == len(march) > 0
        and before_paths - after_paths == {f["path"] for f in march}
    )
    travel_rows = (
        read_version(spark, table, v_before)
        .filter(F.month("o_orderdate") == 3)
        .count()
    )
    return (
        read_version(spark, table, current_version(table))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("zero_files_rewritten", F.lit(zero_rewritten))
        .withColumn("dropped_whole_files_only", F.lit(whole_files_only))
        .withColumn(
            "travel_sees_dropped_month", F.lit(travel_rows > 0)
        )
    )


@query(
    "q_etl_merge_not_matched_by_source",
    oracle=f"""
    WITH t AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey < 3000
    ),
    s AS (
        SELECT o_orderkey, o_orderpriority,
               o_totalprice + 50 AS o_totalprice
        FROM orders WHERE o_orderkey >= 1500 AND o_orderkey < 4500
    ),
    m AS (
        SELECT * FROM s
        UNION ALL
        SELECT * FROM t
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s)
          AND o_orderpriority <> '5-LOW'
    )
    SELECT o_orderpriority,
           count(*) AS n_rows,
           {sql_dsum("o_totalprice", "total_price")},
           true AS merge_counts_consistent,
           true AS single_commit
    FROM m GROUP BY o_orderpriority
    """,
)
def q_etl_merge_not_matched_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE with all THREE clause families — the full Delta/Iceberg
    `MERGE INTO` surface, including the 2023-era
    `WHEN NOT MATCHED BY SOURCE` clause the sync/CDC workloads need:
    WHEN MATCHED → update to the source value; WHEN NOT MATCHED →
    insert the source row; WHEN NOT MATCHED BY SOURCE AND pred →
    delete (target rows the source no longer carries, gated here to
    priority '5-LOW' — the predicate'd form, since an unconditional
    by-source delete is just "replace with source"). One full-outer
    join computes all three dispositions in a single pass; one
    commit_replace publishes the result (graded single_commit: exactly
    one version advance). q_etl_manifest_merge_cow covers the pruned
    file-subset rewrite; this key covers CLAUSE SEMANTICS, so it
    replaces the whole (small) target and grades the row algebra.

    merge_counts_consistent pins the disposition arithmetic computed
    from the live join: rows_after == n_source + n_target_only_kept,
    and the deleted set is exactly the '5-LOW' target-only keys — a
    wrong join type (inner/left) or clause order breaks it.

    Scale: the merge join shuffles both sides on the key once;
    disposition logic is a projection. At 100 TB the same plan runs
    with the pruned-rewrite file targeting of the CoW key — clause
    semantics and file targeting compose orthogonally."""
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_append,
        commit_replace,
        current_version,
        read_version,
    )

    table = _sink_dir(f"orders_merge3_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    price_t = dict(o.dtypes)["o_totalprice"]
    commit_append(
        o.filter(F.col("o_orderkey") < 3000).repartition(4),
        table,
        ["o_orderkey"],
    )
    v1 = current_version(table)
    src = (
        o.filter((F.col("o_orderkey") >= 1500) & (F.col("o_orderkey") < 4500))
        .withColumn(
            "o_totalprice",
            (F.col("o_totalprice") + F.lit(50)).cast(price_t),
        )
    )
    t = read_version(spark, table, v1)
    joined = t.alias("t").join(
        src.alias("s"), on=F.col("t.o_orderkey") == F.col("s.o_orderkey"),
        how="full_outer",
    )
    in_src = F.col("s.o_orderkey").isNotNull()
    in_tgt = F.col("t.o_orderkey").isNotNull()
    keep_target_only = (
        in_tgt & ~in_src & (F.col("t.o_orderpriority") != "5-LOW")
    )
    merged = joined.filter(in_src | keep_target_only).select(
        F.when(in_src, F.col("s.o_orderkey"))
        .otherwise(F.col("t.o_orderkey"))
        .alias("o_orderkey"),
        F.when(in_src, F.col("s.o_orderpriority"))
        .otherwise(F.col("t.o_orderpriority"))
        .alias("o_orderpriority"),
        F.when(in_src, F.col("s.o_totalprice"))
        .otherwise(F.col("t.o_totalprice"))
        .cast(price_t)
        .alias("o_totalprice"),
    )
    commit_replace(merged, table, ["o_orderkey"], op="merge")
    v2 = current_version(table)
    n_target = t.count()
    n_source = src.count()
    n_deleted = joined.filter(
        in_tgt & ~in_src & (F.col("t.o_orderpriority") == "5-LOW")
    ).count()
    live = read_version(spark, table, v2)
    n_after = live.count()
    consistent = n_after == n_source + (n_target - n_source_overlap(t, src)) - n_deleted
    return (
        live.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("o_totalprice"), "total_price"),
        )
        .withColumn("merge_counts_consistent", F.lit(bool(consistent)))
        .withColumn("single_commit", F.lit(v2 == v1 + 1))
    )


def n_source_overlap(t: DataFrame, s: DataFrame) -> int:
    """Matched-key count for the merge arithmetic (|target ∩ source|)."""
    return t.select("o_orderkey").join(
        s.select("o_orderkey"), "o_orderkey"
    ).count()


@query(
    "q_etl_bucket_partition_transform",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           true AS pruned_to_one_bucket,
           true AS bucket_values_consistent
    FROM orders WHERE o_custkey = 37
    ORDER BY o_orderkey
    """,
)
def q_etl_bucket_partition_transform(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BUCKET PARTITION TRANSFORM (Iceberg ``bucket[N]``): orders land
    under bucket[8](o_custkey) — a PORTABLE hash layout (md5 mod N,
    derived inside the write plan JVM-side and replayed by hashlib on
    the predicate side) — and a point lookup on the raw key prunes to
    the ONE matching bucket through the manifest, reading ~1/8 of the
    files with zero layout knowledge in the query. This is the
    transform that turns key-equality workloads (CDC upserts, entity
    lookups) into O(1/N) scans when temporal layouts don't apply, and
    the layout storage-partitioned joins build on.

    Graded: ``pruned_to_one_bucket`` pins files_read < total AND that
    every surviving file carries the probe key's bucket value;
    ``bucket_values_consistent`` re-derives each matched row's bucket
    in the READ plan and pins it equal to the probe's — a write-side /
    predicate-side hash divergence (the silent wrong-file failure
    mode) breaks it. Exactness: the pruned scan re-applies the
    predicate, so the rows must equal the oracle's regardless of
    pruning.

    Scale: the bucket shuffle at write is the same cost class as any
    partitioned write; the lookup is O(#manifest entries) + 1/N of the
    data."""
    import hashlib as _hashlib
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_append_partitioned,
        current_version,
        prune_files_partition_value,
        read_manifest,
        read_version,
    )

    table = _sink_dir(f"orders_bucket_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    commit_append_partitioned(o, table, "o_custkey", "bucket[8]", ["o_custkey"])
    v = current_version(table)
    probe = 37
    files, total = prune_files_partition_value(table, v, probe)
    want_bucket = str(
        int(_hashlib.md5(str(probe).encode()).hexdigest()[:15], 16) % 8
    )
    by_path = {
        f["path"]: f.get("partition")
        for f in read_manifest(table, v)["files"]
    }
    pruned_ok = 0 < len(files) < total and all(
        by_path[p] == want_bucket for p in files
    )
    rows = read_version(spark, table, v, paths=files).filter(
        F.col("o_custkey") == probe
    )
    rederived = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(8),
    ).cast("string")
    return rows.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lit(pruned_ok).alias("pruned_to_one_bucket"),
        (rederived == F.lit(want_bucket)).alias("bucket_values_consistent"),
    ).orderBy("o_orderkey")


@query(
    "q_etl_identity_partition_transform",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum("o_totalprice", "revenue")},
           true AS pruned_to_one_partition
    FROM orders WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
)
def q_etl_identity_partition_transform(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IDENTITY PARTITION TRANSFORM (the classic Hive layout, declared
    Iceberg-style): orders land under identity(o_orderpriority) — five
    partitions — and an equality predicate on the raw column prunes to
    exactly the matching partition's files through the manifest. The
    difference from Hive: the layout is DECLARED metadata
    (partition_spec), so the same prune_files_partition_value call
    serves identity, bucket, and temporal transforms, files keep their
    own transform under evolution, and a query never names a layout
    directory. Completes the transform family: temporal
    (q_etl_hidden_partitioning), bucket (the key above), identity
    (here).

    Graded: pruned_to_one_partition pins files_read < total and every
    surviving file carrying exactly the probe value.

    Scale: identity on a low-cardinality column is the
    retention/tenant layout; pruning is O(#manifest entries) and the
    scan reads 1/|values| of the data."""
    import uuid as _uuid

    from ..sources.manifest_table import (
        commit_append_partitioned,
        current_version,
        prune_files_partition_value,
        read_manifest,
        read_version,
    )

    table = _sink_dir(f"orders_identity_{_uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    commit_append_partitioned(
        o, table, "o_orderpriority", "identity", ["o_orderkey"]
    )
    v = current_version(table)
    probe = "1-URGENT"
    files, total = prune_files_partition_value(table, v, probe)
    by_path = {
        f["path"]: f.get("partition")
        for f in read_manifest(table, v)["files"]
    }
    pruned_ok = 0 < len(files) < total and all(
        by_path[p] == probe for p in files
    )
    return (
        read_version(spark, table, v, paths=files)
        .filter(F.col("o_orderpriority") == probe)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .withColumn("pruned_to_one_partition", F.lit(pruned_ok))
    )


@query(
    "q_sink_python_datasource_stream",
    oracle="""
    SELECT n_regionkey,
           count(*) AS n_nations,
           cast(sum(n_nationkey) as bigint) AS key_sum,
           true AS one_commit_per_batch,
           true AS exactly_once_rows
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
)
def q_sink_python_datasource_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING SINK via the Python Data Source API
    (``DataSourceStreamWriter``) — the write-side completion of the
    connector ladder's streaming rung (q_stream_python_datasource is
    the read side): a file-source stream (maxFilesPerTrigger=1, so the
    25-nation feed arrives as genuine multi-batch micro-batches under
    Trigger.AvailableNow) lands in a user-defined sink that implements
    Spark's per-batch TWO-PHASE commit:

      1. ``write(iterator)`` runs per executor task per micro-batch,
         staging under a task-unique temp name;
      2. ``commit(messages, batchId)`` runs once on the driver per
         micro-batch, promoting temp files AND appending one record to
         the sink's own commit log keyed by batchId — the idempotence
         hook: a batch re-delivered after a failure (same batchId)
         would be detected and skipped, which is exactly how
         foreachBatch/Delta sinks achieve effective exactly-once over
         Spark's at-least-once batch replay;
      3. ``abort(messages, batchId)`` discards the staged generation.

    Graded: one_commit_per_batch — the commit log carries exactly one
    record per DISTINCT batchId and more than one batch ran (the
    multi-batch claim); exactly_once_rows — re-reading ONLY
    commit-logged files yields exactly the 25 source rows, no loss, no
    replay. Exactness rides the oracle's batch GROUP BY.

    Scale: rows flow executor-side; only commit messages (file names)
    cross to the driver — the same asymmetry every production sink
    protocol has."""
    import json as _json
    import uuid as _uuid

    from pyspark import TaskContext
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    base = _sink_dir(f"pystreamsink_{_uuid.uuid4().hex[:8]}")
    feed_dir = os.path.join(base, "feed")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(out_dir, exist_ok=True)
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n.repartition(5).write.mode("overwrite").parquet(feed_dir)

    class _Staged(WriterCommitMessage):
        def __init__(self, tmp_name: str, n_rows: int):
            self.tmp_name = tmp_name
            self.n_rows = n_rows

    class NationStreamWriter(DataSourceStreamWriter):
        def __init__(self, options):
            self.dir = options["path"]

        def write(self, iterator):
            ctx = TaskContext.get()
            tmp = (
                f".tmp-{ctx.partitionId()}-{ctx.taskAttemptId()}-"
                f"{_uuid.uuid4().hex[:8]}"
            )
            k = 0
            with open(os.path.join(self.dir, tmp), "w") as fh:
                for row in iterator:
                    fh.write(
                        f"{row['n_nationkey']}|{row['n_name']}|"
                        f"{row['n_regionkey']}\n"
                    )
                    k += 1
            return _Staged(tmp, k)

        def commit(self, messages, batchId) -> None:
            log = os.path.join(self.dir, "_commits.jsonl")
            seen = set()
            if os.path.exists(log):
                with open(log) as fh:
                    seen = {_json.loads(line)["batch"] for line in fh}
            if batchId in seen:  # replayed batch: idempotent skip
                for m in messages:
                    try:
                        os.remove(os.path.join(self.dir, m.tmp_name))
                    except OSError:
                        pass
                return
            names = []
            for i, m in enumerate(messages):
                final = f"batch-{batchId:05d}-{i:05d}.csv"
                os.replace(
                    os.path.join(self.dir, m.tmp_name),
                    os.path.join(self.dir, final),
                )
                names.append(final)
            with open(log, "a") as fh:
                fh.write(
                    _json.dumps(
                        {
                            "batch": batchId,
                            "files": names,
                            "rows": sum(m.n_rows for m in messages),
                        }
                    )
                    + "\n"
                )

        def abort(self, messages, batchId) -> None:
            for m in messages:
                if m is not None:
                    try:
                        os.remove(os.path.join(self.dir, m.tmp_name))
                    except OSError:
                        pass

    class NationStreamSink(DataSource):
        @classmethod
        def name(cls) -> str:
            return "nation_stream_sink"

        def streamWriter(self, schema, overwrite):
            return NationStreamWriter(self.options)

    spark.dataSource.register(NationStreamSink)
    q = (
        spark.readStream.schema(n.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
        .writeStream.format("nation_stream_sink")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    log = os.path.join(out_dir, "_commits.jsonl")
    with open(log) as fh:
        commits = [_json.loads(line) for line in fh]
    batch_ids = [c["batch"] for c in commits]
    one_per_batch = len(batch_ids) == len(set(batch_ids)) > 1
    recs = []
    for c in commits:
        for name in c["files"]:
            with open(os.path.join(out_dir, name)) as fh:
                for line in fh:
                    k, nm, rk = line.rstrip("\n").split("|")
                    recs.append((int(k), nm, int(rk)))
    exactly_once = sorted(recs) == sorted(
        (int(r.n_nationkey), r.n_name, int(r.n_regionkey))
        for r in n.collect()
    )
    back = spark.createDataFrame(
        recs, schema="n_nationkey bigint, n_name string, n_regionkey bigint"
    )
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("n_nationkey").alias("key_sum"),
        )
        .withColumn("one_commit_per_batch", F.lit(one_per_batch))
        .withColumn("exactly_once_rows", F.lit(exactly_once))
        .orderBy("n_regionkey")
    )
