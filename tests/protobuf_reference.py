"""Per-message protobuf codec: the reference the batch codecs in
sources/protobuf_python.py are tested against.

``encode_message`` / ``decode_message`` cover the whole kind grammar the
tests use — scalars, nested sub-messages, repeated fields (numerics
PACKED on encode, packed and unpacked accepted on decode) — one field at
a time, so they are slow and easy to check by eye. The tests require
``encode_flat_batch`` and ``encode_event_envelope`` to produce exactly
their bytes, and ``decode_flat_batch`` and ``decode_event_envelopes`` to
return exactly their values. Varint primitives, wire-type constants and
the structural skip are shared with the production module.
"""

from __future__ import annotations

import math as _math
import struct

from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.protobuf_python import (
    _WIRE,
    LEN,
    _as_wanted,
    _kind_base,
    _read_varint,
    _skip_field,
    _write_varint,
)

_DEFAULTS = {
    "int64": 0,
    "sint64": 0,
    "bool": False,
    "double": 0.0,
    "float": 0.0,
    "string": "",
    "bytes": b"",
}


def _encode_scalar(kind: str, v, out: bytearray) -> None:
    """Tag-less payload encoding for one scalar value."""
    if kind == "int64":
        # proto wire: negative int64 is 10-byte two's-complement varint
        _write_varint(out, v & 0xFFFFFFFFFFFFFFFF)
    elif kind == "sint64":
        _write_varint(out, (v << 1) ^ (v >> 63))
    elif kind == "bool":
        _write_varint(out, 1 if v else 0)
    elif kind == "double":
        out.extend(struct.pack("<d", v))
    elif kind == "float":
        out.extend(struct.pack("<f", v))
    elif kind == "string":
        raw = v.encode("utf-8")
        _write_varint(out, len(raw))
        out.extend(raw)
    elif kind == "bytes":
        _write_varint(out, len(v))
        out.extend(v)
    else:  # pragma: no cover - guarded by schema construction
        raise ValueError(f"unsupported scalar kind {kind!r}")


def _decode_scalar(kind: str, buf: bytes, pos: int):
    if kind == "int64":
        u, pos = _read_varint(buf, pos)
        return u - (1 << 64) if u >= 1 << 63 else u, pos
    if kind == "sint64":
        u, pos = _read_varint(buf, pos)
        return (u >> 1) ^ -(u & 1), pos
    if kind == "bool":
        u, pos = _read_varint(buf, pos)
        return u != 0, pos
    if kind == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if kind == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if kind == "string":
        ln, pos = _read_varint(buf, pos)
        return buf[pos : pos + ln].decode("utf-8"), pos + ln
    if kind == "bytes":
        ln, pos = _read_varint(buf, pos)
        return bytes(buf[pos : pos + ln]), pos + ln
    raise ValueError(f"unsupported scalar kind {kind!r}")  # pragma: no cover


_PACKABLE = {"int64", "sint64", "bool", "double", "float"}


def _is_default(base: str, v) -> bool:
    """Proto3 default test with sign-aware zero compare: -0.0 == 0.0
    under ``==`` but is NOT the default and must be emitted (else it
    decodes back as +0.0 and flips sign under hash-compare oracles).
    The ``v == 0.0`` short-circuit keeps the hot encode path at one
    equality compare per field — the copysign bit test runs only for
    actual zeros (a per-field struct.pack bit compare measurably slowed
    the nested-envelope bench ~1.3×)."""
    if base in ("double", "float"):
        return v == 0.0 and _math.copysign(1.0, v) > 0.0
    return v == _DEFAULTS[base]


def encode_message(schema: dict, values: dict) -> bytes:
    """Encode one message. ``schema`` maps field name -> (field_number,
    kind), where kind is a scalar name, ("message", sub_schema), or
    ("repeated", inner_kind). Proto3 semantics: default-valued scalars,
    absent sub-messages, and empty repeateds are omitted from the wire;
    repeated numerics are PACKED (one LEN field holding concatenated
    payloads — the proto3 default), repeated strings/bytes/messages
    repeat the tag per element."""
    out = bytearray()
    for name, (num, kind) in schema.items():
        v = values.get(name)
        base = _kind_base(kind)
        if base == "message":
            # Only absence (None) omits a sub-message; a present-but-empty
            # dict {} must hit the wire as a zero-length LEN field so it
            # decodes back as {} rather than collapsing to None.
            if v is None:
                continue
            payload = encode_message(kind[1], v)
            _write_varint(out, (num << 3) | LEN)
            _write_varint(out, len(payload))
            out.extend(payload)
        elif base == "repeated":
            if not v:
                continue
            inner = kind[1]
            ibase = _kind_base(inner)
            if ibase in _PACKABLE:
                packed = bytearray()
                for elem in v:
                    _encode_scalar(ibase, elem, packed)
                _write_varint(out, (num << 3) | LEN)
                _write_varint(out, len(packed))
                out.extend(packed)
            elif ibase == "message":
                for elem in v:
                    payload = encode_message(inner[1], elem)
                    _write_varint(out, (num << 3) | LEN)
                    _write_varint(out, len(payload))
                    out.extend(payload)
            else:  # repeated string/bytes: one LEN field per element
                for elem in v:
                    _write_varint(out, (num << 3) | _WIRE[ibase])
                    _encode_scalar(ibase, elem, out)
        else:
            if v is None or _is_default(base, v):
                continue
            _write_varint(out, (num << 3) | _WIRE[base])
            _encode_scalar(base, v, out)
    return bytes(out)


def _default_for(kind):
    base = _kind_base(kind)
    if base == "repeated":
        return []
    if base == "message":
        return None
    return _DEFAULTS[base]


def decode_message(buf: bytes, wanted: dict) -> dict:
    """Decode one message, materializing ONLY the fields in ``wanted``
    (field_number -> (name, kind) with the same kind grammar as
    encode_message — encode-form schemas are accepted too; a wanted
    ("message", sub_spec) projects into the sub-message recursively).
    All other fields are skipped structurally by wire type. Missing
    fields get proto3 defaults ([] for repeated, None for absent
    sub-messages). Packed AND unpacked encodings of repeated numerics
    are both accepted, per the spec."""
    wanted = _as_wanted(wanted)
    out = {name: _default_for(kind) for name, kind in wanted.values()}
    pos = 0
    n = len(buf)
    while pos < n:
        tag, pos = _read_varint(buf, pos)
        num, wire = tag >> 3, tag & 0x7
        spec = wanted.get(num)
        if spec is None:
            pos = _skip_field(wire, buf, pos)
            continue
        name, kind = spec
        base = _kind_base(kind)
        if base == "message":
            ln, pos = _read_varint(buf, pos)
            out[name] = decode_message(buf[pos : pos + ln], kind[1])
            pos += ln
        elif base == "repeated":
            inner = kind[1]
            ibase = _kind_base(inner)
            if ibase == "message":
                ln, pos = _read_varint(buf, pos)
                out[name].append(
                    decode_message(buf[pos : pos + ln], inner[1])
                )
                pos += ln
            elif ibase in _PACKABLE and wire == LEN:
                ln, pos = _read_varint(buf, pos)
                end = pos + ln
                while pos < end:
                    v, pos = _decode_scalar(ibase, buf, pos)
                    out[name].append(v)
            else:  # unpacked numeric, or string/bytes element
                v, pos = _decode_scalar(ibase, buf, pos)
                out[name].append(v)
        else:
            v, pos = _decode_scalar(base, buf, pos)
            out[name] = v
    return out
