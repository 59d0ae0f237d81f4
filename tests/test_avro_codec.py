"""Unit tests for the pure-Python Avro wire-format codec
(sources/avro_python.py) — spec vectors, container round-trips, and the
header/self-description contract, run on the columnar codec Spark uses
and on the row-at-a-time reference (tests/avro_reference.py), whose
bytes and values the columnar codec must match. Mostly pure Python (the
Spark integration is covered by the q_sink_avro_python /
q_scan_avro_python oracle mirror in test_queries.py)."""

import datetime
import os

import pytest

from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.avro_python import (
    AVRO_MAGIC,
    _read_long,
    _write_long,
    pa_schema_from_avro,
    read_container_arrow,
    read_container_arrow_resolved,
    read_header,
    spark_ddl_from_avro,
    write_container_arrow,
)
from tests.avro_reference import (
    read_container,
    read_container_resolved,
    write_container,
)

SCHEMA = {
    "type": "record",
    "name": "t",
    "fields": [
        {"name": "k", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "x", "type": "double"},
        {"name": "b", "type": "boolean"},
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {
            "name": "ts",
            "type": {"type": "long", "logicalType": "local-timestamp-micros"},
        },
    ],
}


def _arrow_batch(rows, schema=SCHEMA):
    import pyarrow as pa

    def utc(v):
        # pyarrow 16 takes the wall clock of a value aware in a
        # datetime.timezone other than UTC as UTC; Spark hands the codec
        # Arrow arrays, so only this helper needs the conversion
        if isinstance(v, datetime.datetime) and v.tzinfo is not None:
            return v.astimezone(datetime.timezone.utc)
        return v

    pa_schema = pa_schema_from_avro(schema)
    cols = list(zip(*rows)) if rows else [[] for _ in pa_schema]
    return pa.RecordBatch.from_arrays(
        [
            pa.array([utc(v) for v in c], type=f.type)
            for c, f in zip(cols, pa_schema)
        ],
        schema=pa_schema,
    )


def _columnar_write(path, schema, rows, *, codec="null", block_rows=4096):
    return write_container_arrow(
        path, schema, [_arrow_batch(rows, schema)], codec=codec,
        block_rows=block_rows,
    )


def _batch_rows(batches):
    return [
        row
        for b in batches
        for row in zip(*[c.to_pylist() for c in b.columns])
    ]


def _columnar_read(path):
    return _batch_rows(read_container_arrow(path))


def _columnar_read_resolved(path, reader_schema):
    return _batch_rows(
        read_container_arrow_resolved(
            path, reader_schema, pa_schema_from_avro(reader_schema)
        )
    )


#: (writer, reader, resolved reader) per implementation: the columnar
#: codec Spark runs and the row-at-a-time reference it must match
CODECS = {
    "reference": (write_container, read_container, read_container_resolved),
    "columnar": (_columnar_write, _columnar_read, _columnar_read_resolved),
}


def _rows(n):
    base = datetime.datetime(1995, 6, 17, 12, 30, 45, 123456)
    return [
        (
            i,
            None if i % 3 == 0 else f"row-{i}",
            i * 0.25,
            i % 2 == 0,
            datetime.date(1995, 1, 1) + datetime.timedelta(days=i % 2000),
            base + datetime.timedelta(seconds=i, microseconds=i % 1000),
        )
        for i in range(n)
    ]


def test_zigzag_varint_spec_vectors():
    """The exact byte encodings from the Avro spec's zigzag table."""
    vectors = {
        0: b"\x00",
        -1: b"\x01",
        1: b"\x02",
        -2: b"\x03",
        2: b"\x04",
        -64: b"\x7f",
        64: b"\x80\x01",
    }
    for n, expected in vectors.items():
        out = bytearray()
        _write_long(out, n)
        assert bytes(out) == expected, (n, bytes(out), expected)
        v, pos = _read_long(bytes(out), 0)
        assert v == n and pos == len(out)


def test_varint_64bit_edges():
    for n in (2**62, -(2**62), 2**63 - 1, -(2**63), 12345678901234):
        out = bytearray()
        _write_long(out, n)
        v, pos = _read_long(bytes(out), 0)
        assert v == n and pos == len(out), n


@pytest.mark.parametrize(
    "impl, codec",
    [
        # reference cases keep their established ids
        pytest.param("reference", "null", id="null"),
        pytest.param("reference", "deflate", id="deflate"),
        pytest.param("columnar", "null", id="columnar-null"),
        pytest.param("columnar", "deflate", id="columnar-deflate"),
    ],
)
def test_container_roundtrip(tmp_path, impl, codec):
    """Rows survive write->read byte-exact across both required codecs,
    including nulls, dates, wall-clock timestamps, and multi-block files
    (block_rows smaller than the row count forces several blocks)."""
    write, read, _ = CODECS[impl]
    rows = _rows(5001)
    p = str(tmp_path / f"t_{codec}.avro")
    n = write(p, SCHEMA, rows, codec=codec, block_rows=700)
    assert n == 5001
    assert list(read(p)) == rows


def test_deflate_actually_compresses(tmp_path):
    rows = _rows(5000)
    p_null = str(tmp_path / "n.avro")
    p_defl = str(tmp_path / "d.avro")
    write_container(p_null, SCHEMA, rows, codec="null")
    write_container(p_defl, SCHEMA, rows, codec="deflate")
    assert os.path.getsize(p_defl) < os.path.getsize(p_null) * 0.8


def test_header_is_self_describing(tmp_path):
    """A reader must recover the writer's schema + codec from the file
    alone (Avro's core property) and the magic must match the spec."""
    p = str(tmp_path / "t.avro")
    write_container(p, SCHEMA, _rows(10), codec="deflate")
    with open(p, "rb") as fh:
        assert fh.read(4) == AVRO_MAGIC == b"Obj\x01"
    schema, codec, sync, pos = read_header(p)
    assert schema == SCHEMA
    assert codec == "deflate"
    assert len(sync) == 16 and pos > 4


def test_sync_marker_corruption_detected(tmp_path):
    p = str(tmp_path / "t.avro")
    write_container(p, SCHEMA, _rows(50), codec="null", block_rows=10)
    raw = bytearray(open(p, "rb").read())
    raw[-1] ^= 0xFF  # clobber the final sync marker
    open(p, "wb").write(raw)
    with pytest.raises(ValueError, match="sync marker"):
        list(read_container(p))


def test_spark_ddl_mapping():
    assert spark_ddl_from_avro(SCHEMA) == (
        "k bigint, s string, x double, b boolean, d date, ts timestamp_ntz"
    )


def test_empty_container(tmp_path):
    p = str(tmp_path / "e.avro")
    assert write_container(p, SCHEMA, []) == 0
    assert list(read_container(p)) == []


def test_property_roundtrip_random_rows(tmp_path):
    """Hypothesis battery: randomized rows through the container codec,
    reference and columnar. Catches varint/length-prefix edge cases
    (64-bit boundaries, empty and astral-plane strings, negative dates),
    null-second unions and tz-aware instants no fixture would. Both
    implementations must round-trip every row and write the same
    bytes."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
    schema = dict(
        SCHEMA,
        fields=SCHEMA["fields"]
        + [
            {"name": "n2", "type": ["long", "null"]},
            {
                "name": "tz",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            },
        ],
    )
    zones = [
        datetime.timezone.utc,
        datetime.timezone(datetime.timedelta(hours=-7)),
        datetime.timezone(datetime.timedelta(hours=5, minutes=30)),
    ]
    row_st = st.tuples(
        i64,
        st.one_of(st.none(), st.text(max_size=50)),
        st.floats(allow_nan=False),
        st.booleans(),
        st.dates(
            min_value=datetime.date(1, 1, 1),
            max_value=datetime.date(9999, 12, 31),
        ),
        st.datetimes(
            min_value=datetime.datetime(1, 1, 1),
            max_value=datetime.datetime(9999, 12, 31, 23, 59, 59, 999999),
        ),
        st.one_of(st.none(), i64),
        st.datetimes(
            min_value=datetime.datetime(2, 1, 1),
            max_value=datetime.datetime(9998, 12, 31, 23, 59, 59, 999999),
            timezones=st.sampled_from(zones),
        ),
    )

    counter = iter(range(10**9))

    @settings(max_examples=60, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(rows=st.lists(row_st, max_size=40),
           codec=st.sampled_from(["null", "deflate"]))
    def inner(rows, codec):
        case = tmp_path / f"prop_{next(counter)}"
        written = {}
        for impl, (write, read, _) in CODECS.items():
            (case / impl).mkdir(parents=True)
            p = str(case / impl / "prop.avro")
            write(p, schema, rows, codec=codec, block_rows=7)
            assert list(read(p)) == rows, impl
            written[impl] = open(p, "rb").read()
        assert written["columnar"] == written["reference"]

    inner()


def test_property_nan_double_roundtrip(tmp_path):
    """NaN doubles survive byte-exact (IEEE payload preserved)."""
    import math
    import struct as _struct

    rows = [(1, "n", float("nan"), True, datetime.date(2000, 1, 1),
             datetime.datetime(2000, 1, 1))]
    p = str(tmp_path / "nan.avro")
    write_container(p, SCHEMA, rows)
    got = list(read_container(p))[0]
    assert math.isnan(got[2])
    assert _struct.pack("<d", got[2]) == _struct.pack("<d", rows[0][2])


def test_schema_resolution_defaults_drops_promotions(tmp_path):
    """Spec Schema Resolution: reader drops a writer field, adds one
    with a default, and promotes long->double — against the same file,
    on the reference and on the columnar codec."""
    writer = {
        "type": "record",
        "name": "v1",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "status", "type": "string"},
            {"name": "qty", "type": "long"},
        ],
    }
    reader = {
        "type": "record",
        "name": "v2",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "qty", "type": "double"},          # long -> double
            {"name": "channel", "type": "string", "default": "LEGACY"},
        ],
    }
    for impl, (write, _, read_resolved) in CODECS.items():
        p = str(tmp_path / f"v1_{impl}.avro")
        write(p, writer, [(1, "OK", 10), (2, "NO", 20)])
        got = list(read_resolved(p, reader))
        assert got == [(1, 10.0, "LEGACY"), (2, 20.0, "LEGACY")], impl
        assert all(isinstance(r[1], float) for r in got), impl


def test_schema_resolution_missing_default_errors(tmp_path):
    writer = {"type": "record", "name": "v1",
              "fields": [{"name": "id", "type": "long"}]}
    reader = {"type": "record", "name": "v2",
              "fields": [{"name": "id", "type": "long"},
                         {"name": "extra", "type": "string"}]}
    for impl, (write, _, read_resolved) in CODECS.items():
        p = str(tmp_path / f"nd_{impl}.avro")
        write(p, writer, [(1,)])
        with pytest.raises(ValueError, match="no default"):
            list(read_resolved(p, reader))


def test_schema_resolution_illegal_promotion_errors(tmp_path):
    writer = {"type": "record", "name": "v1",
              "fields": [{"name": "x", "type": "string"}]}
    reader = {"type": "record", "name": "v2",
              "fields": [{"name": "x", "type": "long"}]}
    for impl, (write, _, read_resolved) in CODECS.items():
        p = str(tmp_path / f"ip_{impl}.avro")
        write(p, writer, [("a",)])
        with pytest.raises(ValueError, match="promote"):
            list(read_resolved(p, reader))


# ---------------------------------------------------------------------------
# columnar block codec: byte and value identity with the reference
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_write_container_arrow_byte_identical(tmp_path, codec):
    """The numpy block encoder must produce EXACTLY the bytes of the
    row-at-a-time reference — same header, same 4096-row block cuts
    (across incoming batch edges), same deflate frames."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.avro_python import (
        write_container_arrow,
    )

    rows = _rows(10_000)
    a = tmp_path / "a"
    b = tmp_path / "b"
    a.mkdir()
    b.mkdir()
    write_container(str(a / "part.avro"), SCHEMA, rows, codec=codec)
    batch = _arrow_batch(rows)
    # odd-sized batches force block cuts across batch boundaries
    batches = [batch.slice(0, 3000), batch.slice(3000, 1), batch.slice(3001)]
    n = write_container_arrow(
        str(b / "part.avro"), SCHEMA, batches, codec=codec
    )
    assert n == len(rows)
    assert (a / "part.avro").read_bytes() == (b / "part.avro").read_bytes()


def test_read_container_arrow_matches_row_reader(tmp_path):
    """Columnar decode must yield exactly the row reader's values
    (nulls, dates, naive timestamps, negative longs included)."""
    import pyarrow as pa

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.avro_python import (
        read_container_arrow,
    )

    rows = _rows(5000) + [(-(2**45), None, -0.0, False,
                           datetime.date(1969, 12, 31),
                           datetime.datetime(1969, 12, 31, 23, 59, 59))]
    path = str(tmp_path / "f.avro")
    write_container(path, SCHEMA, rows, codec="deflate")
    ref = list(read_container(path))
    tbl = pa.Table.from_batches(list(read_container_arrow(path)))
    got = list(
        zip(*[tbl.column(i).to_pylist() for i in range(tbl.num_columns)])
    )
    assert got == [tuple(r) for r in ref]


def test_read_container_arrow_resolved_matches_row_resolved(tmp_path):
    """Columnar schema resolution (drops / defaults / promotions) must
    equal the row-path resolved reader value-for-value."""
    import pyarrow as pa

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.avro_python import (
        pa_schema_from_avro,
        read_container_arrow_resolved,
    )

    rows = _rows(3000)
    path = str(tmp_path / "f.avro")
    write_container(path, SCHEMA, rows)
    reader_v2 = {
        "type": "record",
        "name": "t2",
        "fields": [
            {"name": "k", "type": "double"},  # long -> double promotion
            {"name": "s", "type": ["null", "string"]},
            {"name": "chan", "type": "string", "default": "LEGACY"},
        ],
    }
    ref = list(read_container_resolved(path, reader_v2))
    tbl = pa.Table.from_batches(
        list(
            read_container_arrow_resolved(
                path, reader_v2, pa_schema_from_avro(reader_v2)
            )
        )
    )
    got = list(
        zip(*[tbl.column(i).to_pylist() for i in range(tbl.num_columns)])
    )
    assert got == [tuple(r) for r in ref]


def test_row_path_writer_commits(tmp_path):
    """ADVICE r15 (high): the AvroPyWriter must promote its staged files
    and write _SUCCESS. Exercised through a real Spark write of a
    tz-aware TimestampType column — the schema that used to select the
    row-path writer, now carried by the one columnar writer — so the
    two-phase commit protocol runs."""
    import datetime

    import pytest

    pyspark = pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.avro_python import (
        make_avro_source,
    )

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("avro-rowpath-commit")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.dataSource.register(make_avro_source())
    out = str(tmp_path / "tz_sink")
    df = spark.createDataFrame(
        [(1, datetime.datetime(2001, 2, 3, 4, 5, 6)),
         (2, datetime.datetime(2002, 3, 4, 5, 6, 7))],
        "k bigint, ts timestamp",  # tz-aware timestamp-micros
    )
    df.repartition(1).write.format("avro_py").option("path", out).mode(
        "overwrite"
    ).save()
    import os

    assert os.path.exists(os.path.join(out, "_SUCCESS")), (
        "row-path writer did not commit"
    )
    back = sorted(
        (r.k, r.ts)
        for r in spark.read.format("avro_py").option("path", out).load().collect()
    )
    assert back == [
        (1, datetime.datetime(2001, 2, 3, 4, 5, 6)),
        (2, datetime.datetime(2002, 3, 4, 5, 6, 7)),
    ]


def test_null_second_unions_roundtrip_columnar(tmp_path):
    """ADVICE r16 (medium): ["long","null"] / ["string","null"] unions
    put the value on branch 0. The columnar codec must encode and decode
    the real branch index: its bytes equal the reference's, it reads
    the reference's file back, and so does the Spark data source."""
    import pyarrow as pa

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.avro_python import (
        make_avro_source,
    )

    schema = {
        "type": "record",
        "name": "ns",
        "fields": [
            {"name": "k", "type": ["long", "null"]},
            {"name": "s", "type": ["string", "null"]},
        ],
    }
    rows = [(1, "a"), (None, "b"), (3, None), (None, None), (-(2**40), "ü")]
    src = tmp_path / "src"
    col = tmp_path / "col"
    src.mkdir()
    col.mkdir()
    path = str(src / "part-0.avro")
    write_container(path, schema, rows)
    assert list(read_container(path)) == rows
    assert pa_schema_from_avro(schema) == pa.schema(
        [("k", pa.int64()), ("s", pa.string())]
    )
    assert _columnar_write(str(col / "part-0.avro"), schema, rows) == len(rows)
    assert (col / "part-0.avro").read_bytes() == (src / "part-0.avro").read_bytes()
    assert _columnar_read(path) == rows
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("avro-null-second")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.dataSource.register(make_avro_source())
    (src / "_SUCCESS").touch()
    back = spark.read.format("avro_py").option("path", str(src)).load()
    assert sorted(map(tuple, back.collect()), key=repr) == sorted(rows, key=repr)


def test_union_branch_byte_out_of_range_rejected(tmp_path):
    """A union branch byte other than the schema's two branch indexes
    is corrupt data: the columnar decoder must raise, naming the file,
    instead of reading it as the value branch. ["null","long"] rows
    5, None, 7 encode as 02 0a 00 02 0e; 0x04 is branch index 2."""
    schema = {
        "type": "record",
        "name": "u",
        "fields": [{"name": "v", "type": ["null", "long"]}],
    }
    path = tmp_path / "u.avro"
    write_container(str(path), schema, [(5,), (None,), (7,)])
    raw = path.read_bytes()
    assert raw.count(bytes.fromhex("020a00020e")) == 1
    path.write_bytes(
        raw.replace(bytes.fromhex("020a00020e"), bytes.fromhex("040a00020e"))
    )
    with pytest.raises(ValueError, match=r"branch byte 4 .*'v'.* in .*u\.avro"):
        _columnar_read(str(path))


@pytest.mark.parametrize(
    "typ", [["null"], ["null", "long", "string"], ["long", "string"]]
)
def test_unsupported_union_refused_when_planned(tmp_path, typ):
    """Unions other than two branches with one "null" are refused by
    name before any byte is written or read."""
    schema = {
        "type": "record",
        "name": "u",
        "fields": [{"name": "k", "type": "long"}, {"name": "odd", "type": typ}],
    }
    with pytest.raises(ValueError, match="'odd'"):
        pa_schema_from_avro(schema)
    with pytest.raises(ValueError, match="'odd'"):
        write_container_arrow(str(tmp_path / "u.avro"), schema, [])


def test_container_file_read_once_per_task(tmp_path, monkeypatch):
    """The data source reader opens each container file once per input
    partition, with and without a readerSchema."""
    import json

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources import avro_python

    pytest.importorskip("pyspark")
    d = tmp_path / "sink"
    d.mkdir()
    write_container(str(d / "part-00000.avro"), SCHEMA, _rows(50))
    (d / "_SUCCESS").touch()
    opened = []

    def counting_open(path, *args, **kwargs):
        opened.append(str(path))
        return open(path, *args, **kwargs)

    monkeypatch.setattr(avro_python, "open", counting_open, raising=False)
    reader_schema = {
        "type": "record",
        "name": "v2",
        "fields": [{"name": "k", "type": "double"}],
    }
    for options in (
        {"path": str(d)},
        {"path": str(d), "readerschema": json.dumps(reader_schema)},
    ):
        reader = avro_python.make_avro_source()(options).reader(None)
        (part,) = reader.partitions()
        opened.clear()
        batches = list(reader.read(part))
        assert sum(b.num_rows for b in batches) == 50
        assert opened == [str(d / "part-00000.avro")], options


def test_timestamp_stores_instant_under_any_session_timezone(tmp_path):
    """TIMEZONE CONTRACT: a TimestampType column written through avro_py
    under a non-UTC session timezone stores each instant's epoch micros
    (read back with the reference decoder), and Spark reads back the
    same instants."""
    import glob

    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.avro_python import (
        make_avro_source,
    )

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("avro-tz-contract")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.dataSource.register(make_avro_source())
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        df = spark.sql(
            "SELECT 1L AS k, TIMESTAMP'2001-02-03 04:05:06.123456' AS ts "
            "UNION ALL SELECT 2L, TIMESTAMP'2021-07-04 23:59:59' "
            "UNION ALL SELECT 3L, TIMESTAMP'1969-12-31 16:00:00'"
        )
        expected = sorted(
            (r.k, r.us) for r in df.select("k", F.unix_micros("ts").alias("us")).collect()
        )
        # 2001-02-03 04:05:06.123456 in Los Angeles is 12:05:06 UTC
        assert expected[0][1] == 981201906123456
        out = str(tmp_path / "tz_sink")
        df.repartition(1).write.format("avro_py").option("path", out).mode(
            "overwrite"
        ).save()
        epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        stored = sorted(
            (k, (ts - epoch) // datetime.timedelta(microseconds=1))
            for p in glob.glob(os.path.join(out, "part-*.avro"))
            for k, ts in read_container(p)
        )
        assert stored == expected
        back = spark.read.format("avro_py").option("path", out).load()
        got = sorted(
            (r.k, r.us)
            for r in back.select("k", F.unix_micros("ts").alias("us")).collect()
        )
        assert got == expected
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
