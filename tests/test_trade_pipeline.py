"""Reference-parity test of the full trade chain: synthetic trades ->
frame (producer) -> decode (consumer) -> EWMA aggregate, checked
against a pure-python reimplementation of the reference fold
(indicators.rs:14-26 semantics)."""

from __future__ import annotations

from collections import defaultdict

from kafka_stream_aggregator_spark.indicators import ewma_alpha
from kafka_stream_aggregator_spark.schemas import TRADE_SCHEMA
from kafka_stream_aggregator_spark.streaming.trade_pipeline import (
    aggregate_trades,
    decode_trades,
    frame_trades,
    synthetic_trades,
)


def test_frame_decode_roundtrip(spark):
    trades = synthetic_trades(spark, n=500)
    framed = frame_trades(trades, schema_id=7)
    # key is the epoch-ms string (reference main.rs:91)
    row = framed.first()
    assert row["key"].isdigit()
    assert bytes(row["value"])[:1] == b"\x00"
    decoded = decode_trades(framed)
    assert [f.name for f in TRADE_SCHEMA.fields] == decoded.columns[:-1]
    a = sorted(map(tuple, trades.collect()))
    b = sorted(
        map(tuple, decoded.select(*[f.name for f in TRADE_SCHEMA.fields]).collect())
    )
    assert a == b  # lossless through the frame


def test_ewma_parity_full_chain(spark):
    n = 3000
    trades = synthetic_trades(spark, n=n)
    decoded = decode_trades(frame_trades(trades))
    out = {
        r["key"]: (r["n_trades"], r["current"], r["period"], r["alpha"])
        for r in aggregate_trades(decoded, period_minutes=5).collect()
    }

    # reference fold (indicators.rs:19-26) per 5-min window, ordered by
    # (timestamp, trade_seq) — SURVEY S1/S2/S4/S5
    alpha = ewma_alpha(5)
    rows = trades.select("timestamp", "trade_seq", "price").collect()
    buckets = defaultdict(list)
    for r in rows:
        w = (r["timestamp"] // 300000) * 300
        buckets[w].append((r["timestamp"], r["trade_seq"], r["price"]))
    expect = {}
    for w, items in buckets.items():
        cur = 0.0
        for _, _, price in sorted(items):
            cur = alpha * price + (1 - alpha) * cur
        if cur > 0:
            expect[w + 300] = (len(items), cur)

    assert set(out) == set(expect)
    for k, (n_ref, cur_ref) in expect.items():
        n_got, cur_got, period, a = out[k]
        assert n_got == n_ref
        assert abs(cur_got - cur_ref) < 1e-9 * max(1.0, abs(cur_ref))
        assert period == 5 and abs(a - alpha) < 1e-15


def test_zero_price_suppression(spark):
    """Windows whose fold ends <= 0 emit nothing (main.rs:118): a window
    containing only 0.0 prices is suppressed."""
    from pyspark.sql import functions as F

    trades = synthetic_trades(spark, n=1000).withColumn(
        "price", F.lit(0.0)
    )
    out = aggregate_trades(decode_trades(frame_trades(trades)))
    assert out.count() == 0


def test_avro_codec_roundtrip_and_java_crosscheck(spark):
    """Our pure-python Avro encoding is real Avro: the JAVA Avro library
    bundled with Spark decodes our bytes to the same record."""
    import json

    from kafka_stream_aggregator_spark.streaming.avro_codec import (
        TRADES_AVRO_SCHEMA,
        decode,
        encode,
    )

    rec = {
        "amount": 1.5,
        "direction": "sell",
        "index_price": 42000.25,
        "instrument_name": "BTC-X",
        "iv": None,
        "liquidation": "MT",
        "price": 41999.75,
        "tick_direction": 3,
        "timestamp": 1704067200123,
        "trade_id": "t-99",
        "trade_seq": -7,  # negative long exercises zigzag
    }
    raw = encode(TRADES_AVRO_SCHEMA, rec)
    back, n = decode(TRADES_AVRO_SCHEMA, raw)
    assert back == rec and n == len(raw)

    # cross-check with org.apache.avro (bundled jar) via py4j
    jvm = spark.sparkContext._jvm
    parser = jvm.org.apache.avro.Schema.Parser()
    jschema = parser.parse(json.dumps(TRADES_AVRO_SCHEMA))
    reader = jvm.org.apache.avro.generic.GenericDatumReader(jschema)
    dec_factory = jvm.org.apache.avro.io.DecoderFactory.get()
    jdecoder = dec_factory.binaryDecoder(bytearray(raw), None)
    jrec = reader.read(None, jdecoder)
    assert jrec.get("trade_id").toString() == "t-99"
    assert jrec.get("trade_seq") == -7
    assert jrec.get("direction").toString() == "sell"
    assert jrec.get("liquidation").toString() == "MT"
    assert jrec.get("iv") is None
    assert abs(jrec.get("price") - 41999.75) < 1e-12


def test_avro_framed_chain_equals_json_chain(spark):
    """The full trade chain over REAL Avro frames produces identical
    EWMA output to the JSON-framed chain."""
    from kafka_stream_aggregator_spark.streaming.trade_pipeline import (
        decode_trades_avro,
        frame_trades_avro,
    )

    trades = synthetic_trades(spark, n=2000)
    via_json = {
        tuple(r)
        for r in aggregate_trades(decode_trades(frame_trades(trades))).collect()
    }
    via_avro = {
        tuple(r)
        for r in aggregate_trades(decode_trades_avro(frame_trades_avro(trades))).collect()
    }
    assert via_avro == via_json and len(via_avro) > 0


def test_json_record_without_price_drops_only_itself(spark):
    """One framed JSON trade without ``price`` (and one body that is not
    JSON) in a good window: the window still emits, from its good trades
    only. The Avro dispatch has the same contract (consumer.rs:106-108)."""
    from pyspark.sql import functions as F

    trades = synthetic_trades(spark, n=3).filter("price > 0")
    no_price = trades.limit(1).drop("price").withColumn("trade_seq", F.lit(99).cast("long"))
    not_json = spark.createDataFrame(
        [("0", bytearray(b"\x00\x00\x00\x00\x07{not json"))], "key string, value binary"
    )
    framed = frame_trades(trades).unionByName(frame_trades(no_price)).unionByName(not_json)
    assert framed.count() == 4
    assert decode_trades(framed).count() == 2
    (window,) = aggregate_trades(decode_trades(framed)).collect()
    assert window["n_trades"] == 2
    assert window["current"] == 1.4286288893058574
