"""Row-at-a-time Avro codec: the reference the columnar codec in
sources/avro_python.py is tested against.

Every value goes through one spec-literal function (``_encode_value`` /
``_decode_value``), so these functions are slow and easy to check by
eye. The tests require the production writer to produce exactly the
bytes ``write_container`` produces, and the production readers to return
exactly the rows ``read_container`` / ``read_container_resolved``
return. Container framing (header, block frames, sync check, inflate)
and the resolution plan are shared with the production module, so the
reference differs from it only in the per-value codec.

Values: ints, floats, str, bytes, bools and None; ``date`` logicals as
``datetime.date``; ``local-timestamp-micros`` as naive
``datetime.datetime`` (wall clock); ``timestamp-micros`` as UTC-aware
``datetime.datetime`` (an instant; aware values of any zone encode as
their epoch micros, naive ones as UTC wall clock) — the same Python
values pyarrow's ``to_pylist`` gives for the Arrow types the production
codec uses.
"""

from __future__ import annotations

import datetime as _dt
import os
import struct
from collections.abc import Iterable, Iterator

from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.avro_python import (
    _base_type,
    _container_header,
    _frame_block,
    _logical,
    _nonnull_base,
    _read_blocks,
    _read_bytes,
    _read_long,
    _resolution_plan,
    _sync_marker,
    _write_bytes,
    _write_long,
    read_header,
)

_EPOCH = _dt.date(1970, 1, 1)
_EPOCH_NAIVE = _dt.datetime(1970, 1, 1)
_EPOCH_UTC = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
_US = _dt.timedelta(microseconds=1)


def _encode_value(typ, v, out: bytearray) -> None:
    if isinstance(typ, list):  # union — spec: long branch index + value
        if v is None:
            _write_long(out, typ.index("null"))
            return
        branch = next(i for i, t in enumerate(typ) if t != "null")
        _write_long(out, branch)
        _encode_value(typ[branch], v, out)
        return
    base = _base_type(typ)
    logical = _logical(typ)
    if base in ("long", "int"):
        if logical == "date" and isinstance(v, _dt.date):
            v = (v - _EPOCH).days
        elif logical in ("timestamp-micros", "local-timestamp-micros") and isinstance(
            v, _dt.datetime
        ):
            # integer arithmetic, independent of the host timezone
            epoch = _EPOCH_UTC if v.tzinfo is not None else _EPOCH_NAIVE
            v = (v - epoch) // _US
        _write_long(out, int(v))
    elif base == "double":
        out.extend(struct.pack("<d", float(v)))
    elif base == "string":
        _write_bytes(out, v.encode("utf-8"))
    elif base == "bytes":
        _write_bytes(out, bytes(v))
    elif base == "boolean":
        out.append(1 if v else 0)
    elif base == "null":
        pass
    else:
        raise ValueError(f"unsupported Avro type: {typ!r}")


def _decode_value(typ, buf: bytes, pos: int):
    if isinstance(typ, list):
        branch, pos = _read_long(buf, pos)
        if typ[branch] == "null":
            return None, pos
        return _decode_value(typ[branch], buf, pos)
    base = _base_type(typ)
    logical = _logical(typ)
    if base in ("long", "int"):
        v, pos = _read_long(buf, pos)
        if logical == "date":
            return _EPOCH + _dt.timedelta(days=v), pos
        if logical == "timestamp-micros":
            return _EPOCH_UTC + v * _US, pos
        if logical == "local-timestamp-micros":
            return _EPOCH_NAIVE + v * _US, pos
        return v, pos
    if base == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if base == "string":
        raw, pos = _read_bytes(buf, pos)
        return raw.decode("utf-8"), pos
    if base == "bytes":
        raw, pos = _read_bytes(buf, pos)
        return bytes(raw), pos
    if base == "boolean":
        return buf[pos] != 0, pos + 1
    if base == "null":
        return None, pos
    raise ValueError(f"unsupported Avro type: {typ!r}")


def write_container(
    path: str,
    schema: dict,
    rows: Iterable[tuple],
    *,
    codec: str = "null",
    block_rows: int = 4096,
) -> int:
    """Write rows (tuples aligned with ``schema['fields']``) as an Avro
    object container file. Returns the row count."""
    field_types = [f["type"] for f in schema["fields"]]
    sync = _sync_marker(os.path.basename(path))
    n_total = 0
    with open(path, "wb") as fh:
        fh.write(_container_header(schema, codec, sync))
        block = bytearray()
        n_block = 0
        for row in rows:
            for typ, v in zip(field_types, row):
                _encode_value(typ, v, block)
            n_block += 1
            n_total += 1
            if n_block >= block_rows:
                fh.write(_frame_block(bytes(block), n_block, codec, sync))
                block = bytearray()
                n_block = 0
        if n_block:
            fh.write(_frame_block(bytes(block), n_block, codec, sync))
    return n_total


def read_container(path: str) -> Iterator[tuple]:
    """Decode every row of an Avro object container file using the
    WRITER's schema embedded in the header (self-describing read)."""
    schema, blocks = _read_blocks(path)
    field_types = [f["type"] for f in schema["fields"]]
    for n_rows, payload in blocks:
        pos = 0
        for _ in range(n_rows):
            row = []
            for typ in field_types:
                v, pos = _decode_value(typ, payload, pos)
                row.append(v)
            yield tuple(row)


def _resolve_value(reader_t, v):
    """Promote a decoded writer value to the reader's type."""
    if v is None:
        return None
    if _nonnull_base(reader_t) == "double" and isinstance(v, int):
        return float(v)
    return v


def read_container_resolved(path: str, reader_schema: dict) -> Iterator[tuple]:
    """Decode a container file under a READER schema (spec: Schema
    Resolution): fields match by NAME; writer-only fields are decoded
    and dropped; reader-only fields take their declared ``default``;
    int->long/double, long->double, float->double promotions apply."""
    writer_schema = read_header(path)[0]
    plan = _resolution_plan(writer_schema, reader_schema)
    for row in read_container(path):
        out = []
        for step in plan:
            if step[0] == "default":
                out.append(step[1])
            else:
                _, wi, rt = step
                out.append(_resolve_value(rt, row[wi]))
        yield tuple(out)
