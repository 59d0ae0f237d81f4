"""Unit tests for the pure-Python Avro wire-format codec
(sources/avro_python.py) — spec vectors, container round-trips, and the
header/self-description contract. Pure Python: no SparkSession needed
(the Spark integration is covered by the q_sink_avro_python /
q_scan_avro_python oracle mirror in test_queries.py)."""

import datetime
import os

import pytest

from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.avro_python import (
    AVRO_MAGIC,
    _read_long,
    _write_long,
    read_container,
    read_header,
    spark_ddl_from_avro,
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


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_container_roundtrip(tmp_path, codec):
    """Rows survive write->read byte-exact across both required codecs,
    including nulls, dates, wall-clock timestamps, and multi-block files
    (block_rows smaller than the row count forces several blocks)."""
    rows = _rows(5001)
    p = str(tmp_path / f"t_{codec}.avro")
    n = write_container(p, SCHEMA, rows, codec=codec, block_rows=700)
    assert n == 5001
    assert list(read_container(p)) == rows


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
    """Hypothesis battery: randomized rows through the container codec.
    Catches varint/length-prefix edge cases (64-bit boundaries, empty
    and astral-plane strings, negative dates) no fixture would."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    row_st = st.tuples(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
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
    )

    counter = iter(range(10**9))

    @settings(max_examples=60, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(rows=st.lists(row_st, max_size=40),
           codec=st.sampled_from(["null", "deflate"]))
    def inner(rows, codec):
        p = str(tmp_path / f"prop_{next(counter)}.avro")
        write_container(p, SCHEMA, rows, codec=codec, block_rows=7)
        assert list(read_container(p)) == rows

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
    with a default, and promotes long->double — against the same file."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.avro_python import (
        read_container_resolved,
    )

    writer = {
        "type": "record",
        "name": "v1",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "status", "type": "string"},
            {"name": "qty", "type": "long"},
        ],
    }
    p = str(tmp_path / "v1.avro")
    write_container(p, writer, [(1, "OK", 10), (2, "NO", 20)])

    reader = {
        "type": "record",
        "name": "v2",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "qty", "type": "double"},          # long -> double
            {"name": "channel", "type": "string", "default": "LEGACY"},
        ],
    }
    got = list(read_container_resolved(p, reader))
    assert got == [(1, 10.0, "LEGACY"), (2, 20.0, "LEGACY")]
    assert all(isinstance(r[1], float) for r in got)


def test_schema_resolution_missing_default_errors(tmp_path):
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.avro_python import (
        read_container_resolved,
    )

    writer = {"type": "record", "name": "v1",
              "fields": [{"name": "id", "type": "long"}]}
    p = str(tmp_path / "nd.avro")
    write_container(p, writer, [(1,)])
    reader = {"type": "record", "name": "v2",
              "fields": [{"name": "id", "type": "long"},
                         {"name": "extra", "type": "string"}]}
    with pytest.raises(ValueError, match="no default"):
        list(read_container_resolved(p, reader))


def test_schema_resolution_illegal_promotion_errors(tmp_path):
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.avro_python import (
        read_container_resolved,
    )

    writer = {"type": "record", "name": "v1",
              "fields": [{"name": "x", "type": "string"}]}
    p = str(tmp_path / "ip.avro")
    write_container(p, writer, [("a",)])
    reader = {"type": "record", "name": "v2",
              "fields": [{"name": "x", "type": "long"}]}
    with pytest.raises(ValueError, match="promote"):
        list(read_container_resolved(p, reader))


# ---------------------------------------------------------------------------
# round-16 vectorized block codec: byte-identity with the row path
# ---------------------------------------------------------------------------


def _arrow_batch(rows):
    import pyarrow as pa

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.avro_python import (
        pa_schema_from_avro,
    )

    pa_schema = pa_schema_from_avro(SCHEMA)
    cols = list(zip(*rows)) if rows else [[] for _ in pa_schema]
    return pa.RecordBatch.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, pa_schema)],
        schema=pa_schema,
    )


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
        read_container_resolved,
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
    """ADVICE r15 (high): the plain row-path AvroPyWriter — still
    selected for Arrow-unsafe schemas (tz-aware TimestampType) — must
    promote its staged files and write _SUCCESS. Exercised through a
    real Spark write so the two-phase commit protocol runs."""
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
        "k bigint, ts timestamp",  # tz-aware -> Arrow-unsafe -> row path
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


def test_null_second_unions_take_the_row_path(tmp_path):
    """ADVICE r16 (medium): ["long","null"] / ["string","null"] unions
    put the value on branch 0. The columnar codec reads branch 0 as
    null, so both of its entry points must refuse such a schema and
    every caller must use the row path, which round-trips the values.
    Covers the decode side through the Spark data source as well."""
    import pyarrow as pa

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.avro_python import (
        _field_plan,
        make_avro_source,
        pa_schema_from_avro,
        read_container_arrow,
        write_container_arrow,
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
    src.mkdir()
    path = str(src / "part-0.avro")
    write_container(path, schema, rows)
    assert list(read_container(path)) == rows
    # both columnar entry points refuse instead of misreading branch 0
    assert pa_schema_from_avro(schema) is None
    with pytest.raises(ValueError, match="null-first"):
        _field_plan(["long", "null"])
    pa_schema = pa.schema([("k", pa.int64()), ("s", pa.string())])
    with pytest.raises(ValueError, match="null-first"):
        list(read_container_arrow(path, pa_schema))
    batch = pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows], pa.int64()),
         pa.array([r[1] for r in rows], pa.string())],
        schema=pa_schema,
    )
    with pytest.raises(ValueError, match="null-first"):
        write_container_arrow(str(tmp_path / "x.avro"), schema, [batch])
    # the Spark source reads the file through the row path
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
