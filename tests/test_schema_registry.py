"""Schema Registry dispatch + Avro schema evolution (reference parity).

The reference decodes by the schema id embedded in each message
(consumer.rs:76-85) with registry-resolved writer schemas
(registry_handler.rs:50-58) and claims backward-compatible evolution
(readme.md:27-28). These tests prove the engine's equivalents:
id-dispatch over a mixed-version topic, backward/forward resolution
with an added nullable field, malformed-record drop semantics, and the
union encoder's branch matching.

Resolution cases run on both decoders: the spec reference (generic
``decode`` + ``project_record``, which the Java Avro cross-checks use) and
the compiled resolver behind ``decode_framed_records``; a parity test
requires equal rows and drop positions over mixed and damaged frames.
"""

from __future__ import annotations

import copy
import random

import pytest

from kafka_stream_aggregator_spark.streaming.avro_codec import (
    TRADES_AVRO_SCHEMA,
    decode,
    encode,
)
from kafka_stream_aggregator_spark.streaming.registry import (
    SchemaRegistry,
    compile_resolver,
    decode_framed_records,
    parse_frame,
    project_record,
)

TRADE_V1 = TRADES_AVRO_SCHEMA

# v2 = v1 + nullable 'venue' with default — the canonical
# backward-compatible evolution (readme.md:27-28).
TRADE_V2 = copy.deepcopy(TRADES_AVRO_SCHEMA)
TRADE_V2["fields"] = TRADE_V2["fields"] + [
    {"name": "venue", "type": ["null", "string"], "default": None}
]


def _trade(seq: int, **over):
    base = {
        "amount": 1.5,
        "direction": "buy",
        "index_price": 100.0,
        "instrument_name": "BTC-INSTR-0",
        "iv": None,
        "liquidation": None,
        "price": 42.5 + seq,
        "tick_direction": 1,
        "timestamp": 1_704_067_200_000 + seq,
        "trade_id": f"t-{seq}",
        "trade_seq": seq,
    }
    base.update(over)
    return base


def _frame(sid: int, schema, record) -> bytes:
    return b"\x00" + sid.to_bytes(4, "big") + encode(schema, record)


def generic_decode_framed(raws, registry_snapshot, reader_schema, on_error="drop"):
    """The spec reference for ``decode_framed_records``: generic decode of
    each frame's body by its writer schema, then ``project_record``."""
    out = []
    for raw in raws:
        try:
            sid, body = parse_frame(bytes(raw))
            writer = registry_snapshot[sid]
            rec, _ = decode(writer, body)
            out.append(project_record(rec, writer, reader_schema))
        except Exception:
            if on_error == "raise":
                raise
            out.append(None)
    return out


def compiled_project(record, writer_schema, reader_schema):
    """``project_record`` through the compiled resolver: encode under the
    writer, resolve, name the tuple's fields."""
    row = compile_resolver(writer_schema, reader_schema)(encode(writer_schema, record))
    return dict(zip([f["name"] for f in reader_schema["fields"]], row))


# each resolution case below runs once per decoder
DECODERS = (generic_decode_framed, decode_framed_records)
PROJECTIONS = (project_record, compiled_project)


def test_registry_register_dedup_and_versions():
    reg = SchemaRegistry()
    subject = SchemaRegistry.subject_for_topic("trades-option-btc")
    assert subject == "trades-option-btc-value"
    id1 = reg.register(subject, TRADE_V1)
    id2 = reg.register(subject, TRADE_V2)
    assert id2 > id1
    # re-registering an identical schema returns the existing id
    assert reg.register(subject, TRADE_V1) == id1
    assert reg.versions(subject) == [id1, id2]
    assert reg.latest(subject)[0] == id2
    assert reg.by_id(id1) == TRADE_V1


def test_mixed_schema_id_topic_decodes_per_record():
    """A topic interleaving v1 and v2 frames (rolling producer upgrade):
    every record decodes against ITS writer schema, projected to the v2
    reader — v1 records surface venue=None via the default."""
    reg = SchemaRegistry()
    subject = SchemaRegistry.subject_for_topic("trades-option-btc")
    id1 = reg.register(subject, TRADE_V1)
    id2 = reg.register(subject, TRADE_V2)
    frames = []
    for seq in range(10):
        if seq % 2:
            rec = _trade(seq)
            rec["venue"] = "deribit"
            frames.append(_frame(id2, TRADE_V2, rec))
        else:
            frames.append(_frame(id1, TRADE_V1, _trade(seq)))
    for decode_framed in DECODERS:
        out = decode_framed(frames, reg.snapshot(), TRADE_V2)
        assert all(r is not None for r in out)
        for seq, rec in enumerate(out):
            assert rec["trade_seq"] == seq
            assert rec["price"] == 42.5 + seq
            assert rec["venue"] == ("deribit" if seq % 2 else None)


def test_forward_resolution_drops_unknown_writer_field():
    """Old reader (v1) consuming v2 frames: the extra field is skipped."""
    reg = SchemaRegistry()
    id2 = reg.register("s-value", TRADE_V2)
    rec = _trade(3)
    rec["venue"] = "deribit"
    for decode_framed in DECODERS:
        out = decode_framed([_frame(id2, TRADE_V2, rec)], reg.snapshot(), TRADE_V1)
        assert out[0] is not None
        assert "venue" not in out[0]
        assert out[0]["trade_id"] == "t-3"


def test_reader_field_without_default_rejected():
    v3 = copy.deepcopy(TRADE_V1)
    v3["fields"] = v3["fields"] + [{"name": "mandatory", "type": "string"}]
    for project in PROJECTIONS:
        with pytest.raises(ValueError, match="not backward compatible"):
            project(_trade(0), TRADE_V1, v3)


def test_numeric_promotion_int_writer_double_reader():
    w = {"type": "record", "name": "R", "fields": [{"name": "x", "type": "int"}]}
    r = {"type": "record", "name": "R", "fields": [{"name": "x", "type": "double"}]}
    rec, _ = decode(w, encode(w, {"x": 7}))
    for project in PROJECTIONS:
        out = project(rec, w, r)
        assert out["x"] == 7.0 and isinstance(out["x"], float)


def test_malformed_and_unknown_id_records_drop_not_raise():
    """Reference behavior: decode failures drop the record and move on
    (consumer.rs:106-108 commits even on decode error)."""
    reg = SchemaRegistry()
    id1 = reg.register("s-value", TRADE_V1)
    good = _frame(id1, TRADE_V1, _trade(0))
    unknown_id = _frame(999, TRADE_V1, _trade(1))
    not_framed = b"\x17garbage"
    for decode_framed in DECODERS:
        out = decode_framed(
            [good, unknown_id, not_framed], reg.snapshot(), TRADE_V1
        )
        assert out[0] is not None and out[1] is None and out[2] is None
        for bad in (unknown_id, not_framed):
            with pytest.raises(Exception):
                decode_framed([bad], reg.snapshot(), TRADE_V1, on_error="raise")


def test_parse_frame_roundtrip():
    sid, body = parse_frame(b"\x00" + (7).to_bytes(4, "big") + b"abc")
    assert sid == 7 and body == b"abc"


def test_union_encode_picks_matching_branch():
    """ADVICE fix: multi-branch unions must dispatch on the VALUE's
    type, not blindly take the first non-null branch."""
    u = ["null", "string", "long"]
    assert decode(u, encode(u, None))[0] is None
    assert decode(u, encode(u, "abc"))[0] == "abc"
    assert decode(u, encode(u, 42))[0] == 42
    u2 = ["null", "long", "string"]
    assert decode(u2, encode(u2, "abc"))[0] == "abc"
    assert decode(u2, encode(u2, 42))[0] == 42


def test_spark_dispatch_chain_mixed_versions(spark):
    """End-to-end on Spark: frame synthetic trades under BOTH schema
    versions (even seq -> v1, odd -> v2), decode via the dispatching
    mapInPandas consumer, aggregate — equals the plain single-schema
    chain on the same trades."""
    import pandas as pd
    from pyspark.sql import functions as F

    from kafka_stream_aggregator_spark.schemas import TRADE_SCHEMA
    from kafka_stream_aggregator_spark.streaming.trade_pipeline import (
        aggregate_trades,
        decode_trades_avro_dispatch,
        synthetic_trades,
    )

    reg = SchemaRegistry()
    subject = SchemaRegistry.subject_for_topic("trades-option-btc")
    id1 = reg.register(subject, TRADE_V1)
    id2 = reg.register(subject, TRADE_V2)

    trades = synthetic_trades(spark, n=2000)
    cols = [f.name for f in TRADE_SCHEMA.fields]

    v1, v2 = TRADE_V1, TRADE_V2  # locals -> serialized by value into the closure

    def enc(batches):
        # self-contained: executors can't import the test module
        from kafka_stream_aggregator_spark.streaming.avro_codec import (
            encode as _enc,
        )

        for pdf in batches:
            values = []
            for row in pdf[cols].itertuples(index=False, name=None):
                rec = dict(zip(cols, row))
                if rec["trade_seq"] % 2:
                    rec["venue"] = "deribit"
                    values.append(
                        b"\x00" + id2.to_bytes(4, "big") + _enc(v2, rec)
                    )
                else:
                    values.append(
                        b"\x00" + id1.to_bytes(4, "big") + _enc(v1, rec)
                    )
            yield pd.DataFrame(
                {"key": pdf["timestamp"].astype(str), "value": values}
            )

    framed = trades.mapInPandas(enc, "key string, value binary")
    decoded = decode_trades_avro_dispatch(
        framed, reg.snapshot(), TRADE_V1, TRADE_SCHEMA
    )
    via_dispatch = {
        tuple(r) for r in aggregate_trades(decoded).collect()
    }
    via_plain = {tuple(r) for r in aggregate_trades(trades).collect()}
    assert via_dispatch == via_plain and len(via_dispatch) > 0


def test_forbidden_demotion_raises():
    """Avro 1.11 resolution forbids long->int and double->float: the
    incompatibility must surface, not silently pass the value through."""
    for wt, rt in (("long", "int"), ("double", "float"), ("string", "int")):
        w = {"type": "record", "name": "R", "fields": [{"name": "x", "type": wt}]}
        r = {"type": "record", "name": "R", "fields": [{"name": "x", "type": rt}]}
        val = "7" if wt == "string" else 7
        for project in PROJECTIONS:
            with pytest.raises(ValueError, match="not promotable"):
                project({"x": val}, w, r)


def test_writer_null_into_non_nullable_reader_raises():
    w = {
        "type": "record", "name": "R",
        "fields": [{"name": "x", "type": ["null", "double"], "default": None}],
    }
    r = {"type": "record", "name": "R", "fields": [{"name": "x", "type": "double"}]}
    for project in PROJECTIONS:
        with pytest.raises(ValueError, match="does not admit null"):
            project({"x": None}, w, r)


# v3 dropped `price`, which every reader below needs and gives no default,
# so v3 records never resolve; READER_PROMOTING widens two fields.
TRADE_V3 = copy.deepcopy(TRADES_AVRO_SCHEMA)
TRADE_V3["fields"] = [f for f in TRADE_V3["fields"] if f["name"] != "price"]
READER_PROMOTING = copy.deepcopy(TRADE_V2)
for _f in READER_PROMOTING["fields"]:
    if _f["name"] in ("tick_direction", "trade_seq"):
        _f["type"] = "double"


@pytest.mark.parametrize(
    "reader", [TRADE_V1, TRADE_V2, READER_PROMOTING], ids=["v1", "v2", "promoting"]
)
def test_compiled_resolver_matches_generic_decode(reader):
    """v1/v2/v3 interleaved plus garbage, unknown-id, truncated and
    bit-flipped frames: the compiled path keeps the same rows and drops
    the same positions as generic decode + project_record, and raises
    exactly where the reference raises under on_error='raise'."""
    rng = random.Random(11)
    reg = SchemaRegistry()
    schemas = {"v1": TRADE_V1, "v2": TRADE_V2, "v3": TRADE_V3}
    ids = {v: reg.register("s-value", s) for v, s in schemas.items()}
    frames = []
    for seq in range(600):
        version = ("v1", "v2", "v3")[seq % 3]
        rec = _trade(seq, iv=None if seq % 4 else 0.25 * seq,
                     liquidation=("M", "T", "MT", None)[seq % 4])
        if version == "v2":
            rec["venue"] = "deribit" if seq % 2 else None
        good = _frame(ids[version], schemas[version], rec)
        frames.append(good)
        kind = seq % 5
        if kind == 0:
            frames.append(good[: rng.randrange(0, len(good))])  # truncated
        elif kind == 1:
            frames.append(b"\x00" + (999).to_bytes(4, "big") + good[5:])  # unknown id
        elif kind == 2:
            frames.append(bytes([rng.randrange(1, 256)]) + good[1:])  # not framed
        elif kind == 3:
            flipped = bytearray(good)
            flipped[rng.randrange(5, len(good))] ^= 1 << rng.randrange(8)
            frames.append(bytes(flipped))
    snapshot = reg.snapshot()
    want = generic_decode_framed(frames, snapshot, reader)
    got = decode_framed_records(frames, snapshot, reader)
    assert [r is None for r in got] == [r is None for r in want]
    assert repr(got) == repr(want)  # repr: a bit flip can decode to NaN
    kept = sum(r is not None for r in want)
    assert 0 < kept < len(frames)
    for raw, ref in zip(frames, want):
        if ref is None:
            with pytest.raises(Exception):
                decode_framed_records([raw], snapshot, reader, on_error="raise")
