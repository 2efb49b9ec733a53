"""Seeded trade inputs, their framing, and the independent reference fold.

Trades follow the reference's envelope: 5 instruments, one trade every
300 ms of event time on average (±1 s jitter, so some arrive out of
order), lognormal-ish positive prices with rare exact zeros. The
reference fold is plain Python with the indicators.rs semantics: zero
seed, alpha = 2/301, fold in (timestamp, trade_seq) order, emit a window
only when its EWMA is > 0.
"""

from __future__ import annotations

import copy
import math

import numpy as np
import pandas as pd

N_INSTRUMENTS = 5
MEAN_INTERVAL_MS = 300
WINDOW_MS = 300_000
ALPHA = 2.0 / 301.0
FRAME_SCHEMA = "key string, value binary"

# Bad records injected into the Avro workload, each as a share of the
# offered frames. All three are dropped per record by the registry decode.
BAD_SHARE = {"garbage": 0.001, "unknown_schema_id": 0.001, "writer_without_price": 0.001}
UNKNOWN_SCHEMA_ID = 9_999


def make_trades(seed: int, n: int) -> pd.DataFrame:
    """``n`` trades in generation (= arrival) order, TRADE_SCHEMA columns."""
    from kafka_stream_aggregator_spark.schemas import TRADE_SCHEMA

    rng = np.random.default_rng(seed)
    i = np.arange(n, dtype="int64")
    start = 1_704_067_200_000 + (seed % 1000) * 86_400_000
    price = np.round(20.0 * np.exp(rng.uniform(0.0, 4.0, n)), 4)
    price[rng.random(n) < 0.001] = 0.0
    pdf = pd.DataFrame({
        "amount": rng.integers(0, 500, n) / 10.0,
        "direction": rng.choice(["buy", "sell", "zero"], n),
        "index_price": rng.integers(0, 10_000, n) / 100.0,
        "instrument_name": np.char.add("BTC-INSTR-", (i % N_INSTRUMENTS).astype(str)),
        "iv": np.where(rng.random(n) < 0.2, np.nan, rng.integers(0, 100, n) / 100.0),
        "liquidation": np.where(rng.random(n) < 0.05, rng.choice(["M", "T", "MT"], n), None),
        "price": price,
        "tick_direction": rng.integers(0, 4, n),
        "timestamp": start + i * MEAN_INTERVAL_MS + rng.integers(-1000, 1001, n),
        "trade_id": np.char.add("t-", i.astype(str)),
        "trade_seq": i,
    })
    pdf["iv"] = pdf["iv"].astype(object).where(pdf["iv"].notna(), None)
    return pdf[[f.name for f in TRADE_SCHEMA.fields]]


def trades_df(spark, pdf: pd.DataFrame):
    from kafka_stream_aggregator_spark.schemas import TRADE_SCHEMA

    return spark.createDataFrame(pdf, TRADE_SCHEMA)


def json_frames(spark, pdf: pd.DataFrame) -> list[bytes]:
    """Confluent-framed JSON values via ``trade_pipeline.frame_trades``,
    in arrival order."""
    from kafka_stream_aggregator_spark.streaming.trade_pipeline import frame_trades

    return frame_trades(trades_df(spark, pdf)).toArrow().column("value").to_pylist()


def _record(row) -> dict:
    rec = dict(row)
    if isinstance(rec["iv"], float) and math.isnan(rec["iv"]):
        rec["iv"] = None
    return rec


def avro_schemas() -> dict[str, dict]:
    """v1 = TRADES_AVRO_SCHEMA (the reader); v2 adds a nullable field with
    a default; v3 is a writer version that dropped ``price``."""
    from kafka_stream_aggregator_spark.streaming.avro_codec import TRADES_AVRO_SCHEMA

    v2 = copy.deepcopy(TRADES_AVRO_SCHEMA)
    v2["fields"].append({"name": "venue", "type": ["null", "string"], "default": None})
    v3 = copy.deepcopy(TRADES_AVRO_SCHEMA)
    v3["fields"] = [f for f in v3["fields"] if f["name"] != "price"]
    return {"v1": TRADES_AVRO_SCHEMA, "v2": v2, "v3": v3}


def avro_frames(spark, pdf: pd.DataFrame, seed: int):
    """Registry-framed Avro values in arrival order, v1 and v2 interleaved
    by trade_seq parity, with the BAD_SHARE records mixed in.

    v1 frames come from ``trade_pipeline.frame_trades_avro``; v2/v3
    frames and the bad ones are encoded here with ``avro_codec.encode``.
    Returns (frames, kept, registry_snapshot, reader_schema, injected):
    ``kept`` marks the trades a correct decoder must keep."""
    from kafka_stream_aggregator_spark.streaming.avro_codec import encode
    from kafka_stream_aggregator_spark.streaming.registry import SchemaRegistry
    from kafka_stream_aggregator_spark.streaming.trade_pipeline import frame_trades_avro

    rng = np.random.default_rng([seed, 7])
    schemas = avro_schemas()
    reg = SchemaRegistry()
    subject = SchemaRegistry.subject_for_topic("trades.option.BTC.100ms")
    ids = {v: reg.register(subject, s) for v, s in schemas.items()}

    n = len(pdf)
    n_total = round(n / (1.0 - BAD_SHARE["garbage"] - BAD_SHARE["unknown_schema_id"]))
    injected = {k: round(share * n_total) for k, share in BAD_SHARE.items()}
    no_price = np.zeros(n, dtype=bool)
    no_price[rng.choice(n, injected["writer_without_price"], replace=False)] = True
    v1_mask = (pdf["trade_seq"].to_numpy() % 2 == 0) & ~no_price

    v1_values = iter(
        frame_trades_avro(trades_df(spark, pdf[v1_mask]), schema_id=ids["v1"])
        .toArrow().column("value").to_pylist()
    )
    frames: list[bytes] = []
    for j, row in enumerate(pdf.to_dict("records")):
        if v1_mask[j]:
            frames.append(next(v1_values))
            continue
        rec = _record(row)
        version = "v3" if no_price[j] else "v2"
        if version == "v2":
            rec["venue"] = "deribit" if j % 3 else None
        frames.append(b"\x00" + ids[version].to_bytes(4, "big") + encode(schemas[version], rec))

    bad: list[bytes] = []
    for _ in range(injected["garbage"]):
        body = rng.integers(0, 256, int(rng.integers(3, 80)), dtype=np.uint8).tobytes()
        bad.append(bytes([int(rng.integers(1, 256))]) + body)
    for _ in range(injected["unknown_schema_id"]):
        bad.append(b"\x00" + UNKNOWN_SCHEMA_ID.to_bytes(4, "big") + frames[int(rng.integers(0, n))][5:])
    # insert each bad frame at a seeded position of the arrival order
    for pos, raw in sorted(zip(rng.integers(0, n + 1, len(bad)), bad), key=lambda t: -t[0]):
        frames.insert(int(pos), raw)
    return frames, ~no_price, reg.snapshot(), schemas["v1"], injected


def reference_windows(pdf: pd.DataFrame, kept: np.ndarray | None = None) -> dict:
    """{(instrument, window_end_s): (n_rows, ewma)} for every window with
    an EWMA > 0 — computed without Spark."""
    df = pdf if kept is None else pdf[kept]
    ts = df["timestamp"].to_numpy()
    seq = df["trade_seq"].to_numpy()
    inst = df["instrument_name"].to_numpy()
    price = df["price"].to_numpy()
    win = ts // WINDOW_MS
    order = np.lexsort((seq, ts, win, inst))
    out: dict = {}
    key = None
    acc, cnt = 0.0, 0
    lam = 1.0 - ALPHA
    for j in order.tolist():
        k = (inst[j], int(win[j]))
        if k != key:
            if key is not None and acc > 0.0:
                out[(key[0], (key[1] + 1) * WINDOW_MS // 1000)] = (cnt, acc)
            key, acc, cnt = k, 0.0, 0
        acc = ALPHA * float(price[j]) + lam * acc
        cnt += 1
    if key is not None and acc > 0.0:
        out[(key[0], (key[1] + 1) * WINDOW_MS // 1000)] = (cnt, acc)
    return out


def check_windows(emitted: list[tuple], reference: dict, watermark_ms: int):
    """Compare emitted (instrument, window_end_s, n_rows, ewma) rows with
    the reference windows the final watermark closed.

    Returns (attempted, failed, problems). A window fails if it is
    missing, emitted twice or unexpectedly, or differs in count or value
    (relative tolerance 1e-9)."""
    expected = {k: v for k, v in reference.items() if k[1] * 1000 <= watermark_ms}
    seen: dict = {}
    problems = []
    failed = 0
    for inst, wend, n_rows, ewma in emitted:
        k = (inst, int(wend))
        if k in seen:
            failed += 1
            problems.append(f"window {k} emitted twice")
            continue
        seen[k] = (int(n_rows), float(ewma))
    for k in seen.keys() - expected.keys():
        failed += 1
        problems.append(f"unexpected window {k}")
    for k, (n_ref, e_ref) in expected.items():
        got = seen.get(k)
        if got is None:
            failed += 1
            problems.append(f"missing window {k}")
        elif got[0] != n_ref or abs(got[1] - e_ref) > 1e-9 * max(1.0, abs(e_ref)):
            failed += 1
            problems.append(f"window {k}: got {got}, want {(n_ref, e_ref)}")
    attempted = len(expected) + len(seen.keys() - expected.keys())
    return attempted, failed, problems


def open_rows(pdf: pd.DataFrame, kept, watermark_ms: int) -> int:
    """Kept trades whose window the final watermark has not closed."""
    df = pdf if kept is None else pdf[kept]
    ends = (df["timestamp"].to_numpy() // WINDOW_MS + 1) * WINDOW_MS
    return int((ends > watermark_ms).sum())
