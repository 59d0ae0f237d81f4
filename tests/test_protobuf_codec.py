"""Unit tests for the pure-Python protobuf wire-format codec — the
protobuf docs' own byte vectors, proto3 default omission and projected
decode with structural skips on the per-message reference
(tests/protobuf_reference.py), and byte/value identity of the batch
codecs in sources/protobuf_python.py with it. Pure Python; the Spark
integration is covered by the q_events_protobuf_decode oracle mirror in
test_queries.py."""

import pytest

from tests.protobuf_reference import decode_message, encode_message

SCHEMA = {
    "event_id": (1, "int64"),
    "ts_us": (2, "int64"),
    "user_id": (3, "int64"),
    "event_type": (4, "string"),
    "value": (5, "double"),
    "props": (6, "string"),
    "flag": (7, "bool"),
    "delta": (8, "sint64"),
}
ALL = {num: (name, kind) for name, (num, kind) in SCHEMA.items()}


def test_docs_byte_vectors():
    """The exact encodings from protobuf.dev's encoding guide:
    field 1 = varint 150 -> `08 96 01`; field 2 = string "testing"
    -> `12 07 74 65 73 74 69 6e 67`."""
    assert encode_message({"a": (1, "int64")}, {"a": 150}).hex() == "089601"
    assert (
        encode_message({"b": (2, "string")}, {"b": "testing"}).hex()
        == "120774657374696e67"
    )


def test_full_roundtrip():
    row = {
        "event_id": 2**62,
        "ts_us": 1234567890123456,
        "user_id": 42,
        "event_type": "héllo",
        "value": -0.0001,
        "props": "x" * 300,
        "flag": True,
        "delta": -(2**40),
    }
    assert decode_message(encode_message(SCHEMA, row), ALL) == row


def test_proto3_defaults_omitted_and_restored():
    """All-default message encodes to ZERO bytes; decode restores the
    defaults — proto3's sparse-payload property."""
    row = {
        "event_id": 0,
        "ts_us": 0,
        "user_id": 0,
        "event_type": "",
        "value": 0.0,
        "props": "",
        "flag": False,
        "delta": 0,
    }
    enc = encode_message(SCHEMA, row)
    assert enc == b""
    assert decode_message(enc, ALL) == row


def test_negative_int64_ten_byte_varint():
    """Wire rule: negative int64 (non-zigzag) is a 10-byte varint of
    the two's-complement value."""
    enc = encode_message({"a": (1, "int64")}, {"a": -1})
    assert len(enc) == 1 + 10  # tag + 10-byte varint
    assert decode_message(enc, {1: ("a", "int64")}) == {"a": -1}


def test_sint64_zigzag_compact():
    """sint64 zigzag keeps small negatives small (docs: -1 -> 1)."""
    enc = encode_message({"d": (8, "sint64")}, {"d": -1})
    assert enc.hex() == "4001"  # tag (8<<3|0)=0x40, zigzag(-1)=1


def test_projected_decode_skips_unwanted():
    row = {
        "event_id": 7,
        "ts_us": 99,
        "user_id": 1,
        "event_type": "click",
        "value": 3.25,
        "props": "p" * 1000,
        "flag": True,
        "delta": 5,
    }
    enc = encode_message(SCHEMA, row)
    got = decode_message(
        enc, {4: ("event_type", "string"), 5: ("value", "double")}
    )
    assert got == {"event_type": "click", "value": 3.25}


def test_decode_order_insensitive():
    """Fields may arrive in any order on the wire."""
    a = encode_message({"x": (1, "int64")}, {"x": 5})
    b = encode_message({"y": (2, "string")}, {"y": "z"})
    wanted = {1: ("x", "int64"), 2: ("y", "string")}
    assert decode_message(b + a, wanted) == decode_message(a + b, wanted)


def test_unknown_wire_type_raises():
    with pytest.raises(ValueError, match="wire type"):
        decode_message(bytes([0x0B]), {2: ("y", "string")})  # wiretype 3


NESTED = {
    "user_id": (1, "int64"),
    "geo": (2, ("message", {"lat_e7": (1, "sint64"), "lon_e7": (2, "sint64")})),
    "tags": (3, ("repeated", "string")),
    "scores": (4, ("repeated", "int64")),
    "events": (
        5,
        ("repeated", ("message", {"event_id": (1, "int64"), "value": (2, "double")})),
    ),
}
NESTED_WANTED = {num: (name, kind) for name, (num, kind) in NESTED.items()}


def test_packed_repeated_docs_vector():
    """The exact packed-repeated encoding from protobuf.dev: field 4,
    values [3, 270, 86942] -> `22 06 03 8e 02 9e a7 05`."""
    enc = encode_message(
        {"d": (4, ("repeated", "int64"))}, {"d": [3, 270, 86942]}
    )
    assert enc.hex() == "2206038e029ea705"


def test_nested_and_repeated_roundtrip():
    row = {
        "user_id": 42,
        "geo": {"lat_e7": 377749000, "lon_e7": -1224194000},
        "tags": ["alpha", "béta", ""],
        "scores": [0, -1, 2**40],
        "events": [
            {"event_id": 1, "value": 0.5},
            {"event_id": 2, "value": 0.0},  # default double omitted inside
        ],
    }
    got = decode_message(encode_message(NESTED, row), NESTED_WANTED)
    assert got == row


def test_empty_repeated_and_absent_message_defaults():
    enc = encode_message(NESTED, {"user_id": 7})
    assert decode_message(enc, NESTED_WANTED) == {
        "user_id": 7,
        "geo": None,
        "tags": [],
        "scores": [],
        "events": [],
    }


def test_unpacked_numeric_accepted():
    """Parsers must accept repeated numerics in UNPACKED form too (one
    varint field per element) — the proto2-compat rule in the spec."""
    out = bytearray()
    for v in (3, 270, 86942):
        out.extend(bytes([(4 << 3) | 0]))  # field 4, VARINT wire
        n = v
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    got = decode_message(bytes(out), {4: ("scores", ("repeated", "int64"))})
    assert got == {"scores": [3, 270, 86942]}


def test_nested_projection_skips_siblings():
    """A wanted sub-message PROJECTS recursively: only lat_e7 of geo is
    materialized; repeated events and tags are skipped structurally."""
    row = {
        "user_id": 9,
        "geo": {"lat_e7": 10, "lon_e7": -20},
        "tags": ["x"] * 50,
        "scores": list(range(100)),
        "events": [{"event_id": i, "value": i * 0.5} for i in range(20)],
    }
    enc = encode_message(NESTED, row)
    got = decode_message(
        enc, {2: ("geo", ("message", {1: ("lat_e7", "sint64")}))}
    )
    assert got == {"geo": {"lat_e7": 10}}


def test_property_roundtrip_random_messages():
    """Hypothesis battery over the full kind grammar: random scalars,
    nested sub-messages, and repeated fields (packed + per-element)
    must round-trip exactly — with the proto3 normalization that
    default scalars decode back to defaults (the strategy only draws
    non-default optionals to keep equality exact)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
    msg_st = st.fixed_dictionaries(
        {
            "user_id": i64,
            "geo": st.one_of(
                st.none(),
                st.fixed_dictionaries(
                    {"lat_e7": i64.filter(bool), "lon_e7": i64.filter(bool)}
                ),
            ),
            "tags": st.lists(st.text(min_size=1, max_size=20), max_size=8),
            "scores": st.lists(i64, max_size=16),
            "events": st.lists(
                st.fixed_dictionaries(
                    {
                        "event_id": i64.filter(bool),
                        "value": st.floats(
                            allow_nan=False, allow_infinity=False
                        ).filter(bool),
                    }
                ),
                max_size=8,
            ),
        }
    )

    @settings(max_examples=80, deadline=None)
    @given(row=msg_st)
    def inner(row):
        got = decode_message(encode_message(NESTED, row), NESTED_WANTED)
        assert got == row

    inner()


def test_sqlite_loader_no_duplicate_first_row(tmp_path):
    """Regression pin (round-10): load_table_to_sqlite must insert each
    row exactly once — an earlier draft consumed the first row from the
    iterator and then executemany'd the remainder, double-inserting
    when given a list. Lives here (codec-adjacent pure-Python tests)
    to stay Spark-free."""
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.sqlite_python import (
        load_table_to_sqlite,
    )
    import sqlite3

    db = str(tmp_path / "t.db")
    rows = [(1, "a"), (2, "b"), (3, "c")]
    lo, hi = load_table_to_sqlite(
        db, "t", "CREATE TABLE t (k INTEGER, v TEXT)", rows, "k"
    )
    assert (lo, hi) == (1, 3)
    con = sqlite3.connect(db)
    got = con.execute("SELECT k, v FROM t ORDER BY k").fetchall()
    con.close()
    assert got == rows
    # iterator input must behave identically
    db2 = str(tmp_path / "t2.db")
    load_table_to_sqlite(
        db2, "t", "CREATE TABLE t (k INTEGER, v TEXT)", iter(rows), "k"
    )
    con = sqlite3.connect(db2)
    assert con.execute("SELECT count(*) FROM t").fetchone()[0] == 3
    con.close()


def test_negative_zero_double_preserved():
    """-0.0 is NOT the proto3 default (bit-pattern compare, not ==): it
    must hit the wire and decode back with its sign bit intact. A
    ``v == 0.0`` default test silently drops it (+0.0 on decode)."""
    import math

    schema = {"x": (1, "double"), "y": (2, "float")}
    enc = encode_message(schema, {"x": -0.0, "y": -0.0})
    assert enc != b""
    dec = decode_message(enc, schema)
    assert math.copysign(1.0, dec["x"]) == -1.0
    assert math.copysign(1.0, dec["y"]) == -1.0
    # +0.0 stays a default → zero bytes
    assert encode_message(schema, {"x": 0.0, "y": 0.0}) == b""


def test_present_empty_submessage_roundtrips():
    """A present-but-empty sub-message {} must encode as a zero-length
    LEN field and decode back as a (default-filled) dict — absence
    (None) is the only thing that omits the field."""
    sub = {"a": (1, "int64")}
    schema = {"m": (1, ("message", sub))}
    enc = encode_message(schema, {"m": {}})
    assert enc != b""
    assert decode_message(enc, schema) == {"m": {"a": 0}}
    # absent sub-message still omits and decodes as None
    assert encode_message(schema, {"m": None}) == b""
    assert decode_message(b"", schema) == {"m": None}


def test_sqlite_identifier_validation(tmp_path):
    """Caller-supplied table/column option strings are interpolated into
    SQL text — anything but a plain identifier must be rejected before
    it executes (injection surface, ADVICE round-10)."""
    import pytest

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.sqlite_python import (
        _check_ident,
        _check_ident_list,
        load_table_to_sqlite,
    )

    for bad in ("t; DROP TABLE x", "a b", "1st", "", "x--", "k)+(1"):
        with pytest.raises(ValueError):
            _check_ident(bad)
    assert _check_ident("supplier_v2") == "supplier_v2"
    _check_ident_list("a, b ,c")
    with pytest.raises(ValueError):
        _check_ident_list("a, b; DROP TABLE t")
    with pytest.raises(ValueError):
        load_table_to_sqlite(
            str(tmp_path / "x.db"), "t; --", "CREATE TABLE t (k INT)", [], "k"
        )


# ---------------------------------------------------------------------------
# vectorized batch codecs: byte-identity with the per-message reference
# ---------------------------------------------------------------------------

_EVENT_SCHEMA = {
    "event_id": (1, "int64"),
    "ts_us": (2, "int64"),
    "user_id": (3, "int64"),
    "event_type": (4, "string"),
    "value": (5, "double"),
    "props": (6, "string"),
}
_EVENT_WANTED = {
    1: ("event_id", "int64"),
    4: ("event_type", "string"),
    5: ("value", "double"),
}


def _event_cols(n):
    import numpy as np

    return {
        "event_id": np.array(
            [0 if i % 97 == 0 else (i if i % 3 else -i) for i in range(n)],
            np.int64,
        ),
        "ts_us": np.array([i * 1_000_003 for i in range(n)], np.int64),
        "user_id": np.array([i % 37 for i in range(n)], np.int64),
        "event_type": ["" if i % 53 == 0 else f"type_{i % 7}" for i in range(n)],
        "value": np.array(
            [
                0.0 if i % 50 == 0 else (-0.0 if i % 51 == 0 else i * 0.5 - 7)
                for i in range(n)
            ]
        ),
        "props": [None if i % 88 == 0 else f"p={i % 9}" for i in range(n)],
    }


def test_encode_flat_batch_byte_identical():
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.protobuf_python import (
        encode_flat_batch,
    )

    n = 2000
    cols = _event_cols(n)

    def py(v):
        import numpy as np

        if isinstance(v, np.integer):
            return int(v)
        if isinstance(v, np.floating):
            return float(v)
        return v

    ref = [
        encode_message(
            _EVENT_SCHEMA, {k: py(cols[k][i]) for k in _EVENT_SCHEMA}
        )
        for i in range(n)
    ]
    buf, offs = encode_flat_batch(_EVENT_SCHEMA, cols)
    assert [buf[offs[i] : offs[i + 1]] for i in range(n)] == ref


def test_decode_flat_batch_matches_row_decode():
    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.protobuf_python import (
        decode_flat_batch,
        encode_flat_batch,
    )

    n = 2000
    buf, offs = encode_flat_batch(_EVENT_SCHEMA, _event_cols(n))
    ref = [
        decode_message(buf[offs[i] : offs[i + 1]], _EVENT_WANTED)
        for i in range(n)
    ]
    got = decode_flat_batch(buf, offs, _EVENT_WANTED)
    assert list(got["event_id"]) == [r["event_id"] for r in ref]
    assert got["event_type"].to_pylist() == [r["event_type"] for r in ref]
    assert list(got["value"]) == [r["value"] for r in ref]


def test_event_envelope_encode_identical_both_paths():
    """The envelope encoder must reproduce encode_message byte-for-byte
    for small and large groups alike (incl. uid=0, eid=0 and -0.0
    omission edges)."""
    import numpy as np

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.protobuf_python import (
        encode_event_envelope,
    )

    env = {
        "user_id": (1, "int64"),
        "events": (
            2,
            ("repeated", ("message", {"event_id": (1, "int64"),
                                      "value": (2, "double")})),
        ),
    }
    for uid in (0, 5, 2**40):
        for n in (1, 130, 1500):
            eids = [0 if j == 0 else (j * 7 - 3) * 9973 for j in range(n)]
            vals = [
                0.0 if j % 10 == 0 else (-0.0 if j % 11 == 1 else j * 0.5)
                for j in range(n)
            ]
            ref = encode_message(
                env,
                {
                    "user_id": uid,
                    "events": [
                        {"event_id": e, "value": v}
                        for e, v in zip(eids, vals)
                    ],
                },
            )
            got = encode_event_envelope(
                uid, np.array(eids, np.int64), np.array(vals)
            )
            assert got == ref, (uid, n)


def test_decode_event_envelopes_matches_row_decode():
    import numpy as np

    from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.protobuf_python import (
        decode_event_envelopes,
        encode_event_envelope,
    )

    env = {
        "user_id": (1, "int64"),
        "events": (
            2,
            ("repeated", ("message", {"event_id": (1, "int64"),
                                      "value": (2, "double")})),
        ),
    }
    bufs, ref = [], []
    for uid in range(40):
        n = (uid % 9) + 1
        eids = [0 if j == 0 else uid * 1000 + j for j in range(n)]
        vals = [0.0 if j % 4 == 0 else uid - j * 0.25 for j in range(n)]
        msg = encode_event_envelope(uid, np.array(eids, np.int64), np.array(vals))
        bufs.append(msg)
        m = decode_message(msg, env)
        ref.extend(
            (m["user_id"], e["event_id"], e["value"]) for e in m["events"]
        )
    big = b"".join(bufs)
    offs = np.zeros(len(bufs) + 1, np.int64)
    offs[1:] = np.cumsum([len(b) for b in bufs])
    users, eids, voffs = decode_event_envelopes(big, offs)
    vo = np.array(voffs, np.int64)
    vals = np.zeros(len(vo))
    has = vo >= 0
    got8 = np.frombuffer(big, np.uint8)[vo[has][:, None] + np.arange(8)]
    vals[has] = np.ascontiguousarray(got8).view("<f8")[:, 0]
    assert list(zip(users, eids, vals)) == ref
