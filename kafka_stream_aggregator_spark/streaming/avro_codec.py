"""Minimal pure-python Avro binary codec (spec-conformant subset).

The container lacks both the spark-avro module and python avro
libraries, but the reference's wire format IS Avro
(producer.rs:42-56 encodes TradesDataAvro against a registered schema).
This codec implements the Avro binary encoding per the public Apache
Avro 1.11 specification for the types the trade schema needs — null,
boolean, int/long (zigzag varint), float, double, string, bytes, enum,
union, record, array, map — so the engine can speak the real wire
format end-to-end. Correctness is cross-checked in tests against the
JAVA Avro library bundled with Spark (decoding our bytes via py4j).

Spark integration is Arrow-batched mapInPandas (the sanctioned python
hot path); when a spark-avro jar is present, from_avro/to_avro replace
these with JVM expressions — same frames, same bytes.
"""

from __future__ import annotations

import struct
from typing import Any


def _zigzag_encode(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _branch_matches(branch: Any, value: Any) -> bool:
    """Does `value` belong to this union branch's type? (Needed for
    multi-branch unions like ["null","string","long"]; the first
    non-null branch is NOT always the right one.)"""
    t = branch if isinstance(branch, str) else branch.get("type")
    if t == "null":
        return value is None
    if value is None:
        return False
    if t == "boolean":
        return isinstance(value, bool)
    if t in ("int", "long"):
        return isinstance(value, int) and not isinstance(value, bool)
    if t in ("float", "double"):
        return isinstance(value, (int, float)) and not isinstance(value, bool)
    if t == "string":
        return isinstance(value, str)
    if t == "bytes":
        return isinstance(value, (bytes, bytearray))
    if t == "enum":
        return isinstance(value, str) and value in branch["symbols"]
    if t == "record":
        return isinstance(value, dict)
    if t == "array":
        return isinstance(value, list)
    if t == "map":
        return isinstance(value, dict)
    return False


def encode(schema: Any, value: Any) -> bytes:
    """Encode `value` against `schema` (Avro schema as python dict/str)."""
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):  # union: first branch the value fits
        for i, branch in enumerate(schema):
            if _branch_matches(branch, value):
                body = b"" if branch == "null" else encode(branch, value)
                return _zigzag_encode(i) + body
        raise ValueError(f"no union branch for {value!r} in {schema}")
    else:
        t = schema["type"]

    if t == "null":
        return b""
    if t == "boolean":
        return b"\x01" if value else b"\x00"
    if t in ("int", "long"):
        return _zigzag_encode(int(value))
    if t == "float":
        return struct.pack("<f", float(value))
    if t == "double":
        return struct.pack("<d", float(value))
    if t == "string":
        raw = str(value).encode("utf-8")
        return _zigzag_encode(len(raw)) + raw
    if t == "bytes":
        return _zigzag_encode(len(value)) + bytes(value)
    if t == "enum":
        return _zigzag_encode(schema["symbols"].index(value))
    if t == "record":
        out = bytearray()
        for field in schema["fields"]:
            out += encode(field["type"], value[field["name"]])
        return bytes(out)
    if t == "array":
        if not value:
            return _zigzag_encode(0)
        return (
            _zigzag_encode(len(value))
            + b"".join(encode(schema["items"], v) for v in value)
            + _zigzag_encode(0)
        )
    if t == "map":
        if not value:
            return _zigzag_encode(0)
        body = b"".join(
            encode("string", k) + encode(schema["values"], v)
            for k, v in value.items()
        )
        return _zigzag_encode(len(value)) + body + _zigzag_encode(0)
    raise ValueError(f"unsupported avro type {t!r}")


def decode(schema: Any, buf: bytes, pos: int = 0) -> tuple[Any, int]:
    """Decode one value; returns (value, next_pos)."""
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):
        idx, pos = _zigzag_decode(buf, pos)
        return decode(schema[idx], buf, pos)
    else:
        t = schema["type"]

    if t == "null":
        return None, pos
    if t == "boolean":
        return buf[pos] == 1, pos + 1
    if t in ("int", "long"):
        return _zigzag_decode(buf, pos)
    if t == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if t == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if t == "string":
        n, pos = _zigzag_decode(buf, pos)
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if t == "bytes":
        n, pos = _zigzag_decode(buf, pos)
        return bytes(buf[pos : pos + n]), pos + n
    if t == "enum":
        idx, pos = _zigzag_decode(buf, pos)
        return schema["symbols"][idx], pos
    if t == "record":
        rec = {}
        for field in schema["fields"]:
            rec[field["name"]], pos = decode(field["type"], buf, pos)
        return rec, pos
    if t == "array":
        out = []
        while True:
            n, pos = _zigzag_decode(buf, pos)
            if n == 0:
                return out, pos
            if n < 0:  # block with byte size prefix
                _, pos = _zigzag_decode(buf, pos)
                n = -n
            for _ in range(n):
                v, pos = decode(schema["items"], buf, pos)
                out.append(v)
    if t == "map":
        out = {}
        while True:
            n, pos = _zigzag_decode(buf, pos)
            if n == 0:
                return out, pos
            if n < 0:
                _, pos = _zigzag_decode(buf, pos)
                n = -n
            for _ in range(n):
                k, pos = decode("string", buf, pos)
                out[k], pos = decode(schema["values"], buf, pos)
    raise ValueError(f"unsupported avro type {t!r}")


_DOUBLE = struct.Struct("<d").unpack_from
_FLOAT = struct.Struct("<f").unpack_from


def reader(schema: Any):
    """``decode`` specialised to one schema: a ``read(buf, pos) ->
    (value, next_pos)`` that dispatches on the type once, here, instead of
    on every value. Scalars, enums and unions get their own readers;
    records, arrays and maps fall back to ``decode``. Every reader does
    the same buffer operations as ``decode``, so both return the same
    values and fail on the same inputs."""
    if isinstance(schema, list):
        branches = [reader(b) for b in schema]

        def read_union(buf, pos):
            idx, pos = _zigzag_decode(buf, pos)
            return branches[idx](buf, pos)

        return read_union
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return lambda buf, pos: (None, pos)
    if t == "boolean":
        return lambda buf, pos: (buf[pos] == 1, pos + 1)
    if t in ("int", "long"):
        return _zigzag_decode
    if t == "float":
        return lambda buf, pos: (_FLOAT(buf, pos)[0], pos + 4)
    if t == "double":
        return lambda buf, pos: (_DOUBLE(buf, pos)[0], pos + 8)
    if t == "string":

        def read_string(buf, pos):
            n, pos = _zigzag_decode(buf, pos)
            return buf[pos : pos + n].decode("utf-8"), pos + n

        return read_string
    if t == "enum":
        symbols = schema["symbols"]

        def read_enum(buf, pos):
            idx, pos = _zigzag_decode(buf, pos)
            return symbols[idx], pos

        return read_enum
    return lambda buf, pos: decode(schema, buf, pos)


# Avro schema mirroring the reference's TradesDataAvro
# (models.rs:31-44 field order; enums models.rs:7-23).
TRADES_AVRO_SCHEMA = {
    "type": "record",
    "name": "TradesDataAvro",
    "fields": [
        {"name": "amount", "type": "double"},
        {
            "name": "direction",
            "type": {
                "type": "enum",
                "name": "Direction",
                "symbols": ["buy", "sell", "zero"],
            },
        },
        {"name": "index_price", "type": "double"},
        {"name": "instrument_name", "type": "string"},
        {"name": "iv", "type": ["null", "double"]},
        {
            "name": "liquidation",
            "type": [
                "null",
                {
                    "type": "enum",
                    "name": "LiquidationType",
                    "symbols": ["M", "T", "MT"],
                },
            ],
        },
        {"name": "price", "type": "double"},
        {"name": "tick_direction", "type": "long"},
        {"name": "timestamp", "type": "long"},
        {"name": "trade_id", "type": "string"},
        {"name": "trade_seq", "type": "long"},
    ],
}
