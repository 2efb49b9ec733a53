"""End-to-end reference-parity pipeline on the TRADE data model.

The reference's full dataflow (SURVEY.md §3):
  raw-producer:  WS trades -> TradesDataAvro -> framed Kafka messages
                 keyed by epoch-ms strings (bin/raw-producer/main.rs:77-106)
  agg-producer:  Kafka -> decode -> project(price) -> 5-min window ->
                 zero-seeded EWMA -> filter>0 -> EWMA{period,alpha,current}
                 records (bin/agg-producer/main.rs:100-131, indicators.rs)

This module reproduces that chain on Spark against any source that
yields framed binary messages (Kafka's value column, or the synthetic
generator below for tests — no broker/registry in this container, so
payloads are JSON bodies behind the Confluent-style 5-byte frame;
swap decode_trades' from_json for from_avro when the spark-avro module
is on the classpath and the registry supplies writer schemas).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..indicators import ewma_alpha, ewma_fold, ordered_values
from ..schemas import TRADE_SCHEMA
from .sources import confluent_avro_payload


def synthetic_trades(
    spark: SparkSession,
    n: int = 10_000,
    n_instruments: int = 5,
    start_epoch_ms: int = 1_704_067_200_000,
    mean_interval_ms: int = 300,
) -> DataFrame:
    """Deterministic trade stream matching TRADE_SCHEMA (models.rs:31-44):
    prices lognormal-ish positive with a few exact 0.0 rows (the
    `current > 0` suppression needs them), ~timestamps mostly ordered
    with occasional jitter. Pure Spark expressions, seed-stable."""
    df = spark.range(n).select(
        F.col("id").alias("trade_seq"),
        F.concat(F.lit("t-"), F.col("id")).alias("trade_id"),
        F.concat(
            F.lit("BTC-INSTR-"), (F.col("id") % n_instruments)
        ).alias("instrument_name"),
        (
            F.lit(start_epoch_ms)
            + F.col("id") * mean_interval_ms
            + (F.xxhash64("id") % 2000)  # jitter: some out-of-order
        ).alias("timestamp"),
        F.when(F.col("id") % 997 == 0, 0.0)
        .otherwise(
            F.round(F.exp((F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)) / 250.0)) * 20, 4)
        )
        .alias("price"),
        F.round(F.pmod(F.xxhash64("id", F.lit(2)), F.lit(500)) / 10.0, 4).alias("amount"),
        F.element_at(
            F.array(F.lit("buy"), F.lit("sell"), F.lit("zero")),
            (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(3)) + 1).cast("int"),
        ).alias("direction"),
        F.round(F.pmod(F.xxhash64("id", F.lit(4)), F.lit(10000)) / 100.0, 4).alias(
            "index_price"
        ),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.pmod(F.xxhash64("id", F.lit(5)), F.lit(100)) / 100.0)
        .alias("iv"),
        F.when(
            F.col("id") % 20 == 0,
            F.element_at(
                F.array(F.lit("M"), F.lit("T"), F.lit("MT")),
                (F.pmod(F.xxhash64("id", F.lit(6)), F.lit(3)) + 1).cast("int"),
            ),
        ).alias("liquidation"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(4)).alias("tick_direction"),
    )
    return df.select(*[f.name for f in TRADE_SCHEMA.fields])


def frame_trades(trades: DataFrame, schema_id: int = 7) -> DataFrame:
    """raw-producer analogue: serialize each trade and frame it like the
    Confluent wire format ([0x00][schema-id int32][body]); the message
    key is the reference's epoch-ms string (main.rs:91)."""
    body = F.to_json(F.struct(*trades.columns))
    magic_and_id = F.concat(
        F.lit(bytearray(b"\x00")),
        F.expr(f"unhex(lpad(hex({schema_id}), 8, '0'))"),
    )
    return trades.select(
        F.col("timestamp").cast("string").alias("key"),
        F.concat(magic_and_id, F.encode(body, "utf-8")).alias("value"),
    )


def decode_trades(framed: DataFrame) -> DataFrame:
    """agg-producer consumer analogue (consumer.rs:76-85): strip the
    5-byte frame, parse the body against the fixed trade schema, surface
    event_time from the epoch-ms timestamp. A record that leaves a
    non-nullable TRADE_SCHEMA field null (missing, or a body that does not
    parse) is dropped, as the Avro dispatch drops it (consumer.rs:106-108):
    one null price would otherwise null its whole window's EWMA fold."""
    body = confluent_avro_payload(F.col("value")).cast("string")
    required = [f.name for f in TRADE_SCHEMA.fields if not f.nullable]
    # inline() expands the parsed struct once; a null check on ``t.*``
    # columns would be pushed below that projection and parse every body
    # again for each required field
    return (
        framed.select(F.inline(F.array(F.from_json(body, TRADE_SCHEMA))))
        .dropna(subset=required)
        .withColumn("event_time", F.timestamp_millis(F.col("timestamp")))
    )


def aggregate_trades(
    trades: DataFrame, period_minutes: int = 5, per_instrument: bool = False
) -> DataFrame:
    """The agg-producer fold (main.rs:100-131): project price, 5-min
    window, zero-seeded EWMA in (timestamp, trade_seq) order (SURVEY S5
    determinism choice), suppress <=0 (S4), emit the reference's record
    shape EWMA{period, alpha, current} (indicators.rs:6-11) keyed by
    window_end (S7 deterministic-key choice)."""
    alpha = ewma_alpha(period_minutes)
    secs = period_minutes * 60
    group = ["instrument_name"] if per_instrument else []
    wstart = (F.floor(F.col("timestamp") / (secs * 1000)) * secs).cast("long")
    return (
        trades.select(*group, "timestamp", "trade_seq", "price")
        .withColumn("window_start", wstart)
        .groupBy(*group, "window_start")
        .agg(
            ewma_fold(
                ordered_values("price", ["timestamp", "trade_seq"]), alpha
            ).alias("current"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .filter(F.col("current") > 0.0)
        .select(
            *group,
            (F.col("window_start") + secs).alias("key"),
            F.lit(period_minutes).cast("long").alias("period"),
            F.lit(alpha).alias("alpha"),
            "current",
            "n_trades",
        )
    )


def frame_trades_avro(trades: DataFrame, schema_id: int = 7) -> DataFrame:
    """raw-producer with the REAL wire format: each trade Avro-binary-
    encoded (pure-python codec, spec-conformant — cross-checked against
    the Java Avro library in tests) behind the Confluent 5-byte frame."""
    import pandas as pd

    from ..schemas import TRADE_SCHEMA
    from .avro_codec import TRADES_AVRO_SCHEMA, encode

    cols = [f.name for f in TRADE_SCHEMA.fields]
    prefix = b"\x00" + schema_id.to_bytes(4, "big")

    def enc(batches):
        for pdf in batches:
            values = [
                prefix + encode(TRADES_AVRO_SCHEMA, dict(zip(cols, row)))
                for row in pdf[cols].itertuples(index=False, name=None)
            ]
            yield pd.DataFrame(
                {"key": pdf["timestamp"].astype(str), "value": values}
            )

    return trades.mapInPandas(enc, "key string, value binary")


def decode_trades_avro(framed: DataFrame) -> DataFrame:
    """Consumer for Avro-framed messages: strip the frame, binary-decode
    each record, restore the trade schema + event_time."""
    import pandas as pd

    from ..schemas import TRADE_SCHEMA
    from .avro_codec import TRADES_AVRO_SCHEMA
    from .registry import compile_resolver

    cols = [f.name for f in TRADE_SCHEMA.fields]

    def dec(batches):
        resolve = compile_resolver(TRADES_AVRO_SCHEMA, TRADES_AVRO_SCHEMA)
        for pdf in batches:
            rows = [resolve(bytes(raw)[5:]) for raw in pdf["value"]]
            yield pd.DataFrame(rows, columns=cols)

    out = framed.mapInPandas(dec, TRADE_SCHEMA)
    return out.withColumn("event_time", F.timestamp_millis(F.col("timestamp")))


def decode_trades_avro_dispatch(
    framed: DataFrame,
    registry_snapshot: dict,
    reader_schema: dict,
    out_schema,
):
    """Registry-backed consumer (consumer.rs:76-85 parity): each message
    is decoded by the schema id EMBEDDED IN ITS OWN FRAME, resolving the
    writer schema from the registry snapshot and projecting onto the
    reader schema (spec schema resolution — added nullable fields take
    their defaults, removed fields are dropped). One topic may therefore
    interleave records from producers on different schema versions, the
    exact state during a rolling producer upgrade.

    The snapshot is a plain dict riding the closure (one copy per task,
    like a broadcast dim); malformed/unknown-id records are dropped but
    the stream advances — the reference's behavior for decode errors.
    Each task compiles one resolver per writer id it meets."""
    import pandas as pd

    from .registry import FramedDecoder

    cols = [f.name for f in out_schema.fields]

    def dec(batches):
        decoder = FramedDecoder(registry_snapshot, reader_schema)
        for pdf in batches:
            rows = [r for r in decoder.rows(pdf["value"]) if r is not None]
            out = pd.DataFrame(rows, columns=decoder.fields)
            yield out if decoder.fields == cols else out[cols]

    out = framed.mapInPandas(dec, out_schema)
    if "timestamp" in cols:
        out = out.withColumn("event_time", F.timestamp_millis(F.col("timestamp")))
    return out
