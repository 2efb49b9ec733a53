"""The streaming workload, avro_registry_drain.

Confluent-framed Avro trades -> decode_trades_avro_dispatch -> per-
instrument 5-minute EWMA -> foreachBatch parquet sink, over a file source.
Set-up writes every input file; the timed query drains them with a fixed
maxFilesPerTrigger (capacity at a stated input size).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import trades as tr
from common import BenchError, iso_to_epoch, peak_rss_mb, quantile, start_session

ROWS_PER_FILE = 2_000
FILES_PER_TRIGGER = 5
DRAIN_ROWS_PER_S = 9_000  # input per measured second, so a drain lasts about --seconds
TRIGGER_ROWS = ROWS_PER_FILE * FILES_PER_TRIGGER
# Triggers of the warm-up stream. Trigger time keeps falling for about
# eight triggers of a fresh JVM (JIT), so a shorter warm-up leaves the
# timed drain on that slope.
WARM_TRIGGERS = 8
STALL_S = 120


class Inputs:
    """Framed values in arrival order plus what the checks need."""

    def __init__(self, run, n_trades: int):
        self.trades = tr.make_trades(run.seed, n_trades)
        t0 = time.time()
        with run.tracer.span("trade_pipeline.frame_trades_avro", rows=n_trades):
            (self.values, self.kept, self.snapshot, self.reader,
             self.injected) = tr.avro_frames(run.spark, self.trades, run.seed)
        self.frame_s = time.time() - t0
        self.reference = tr.reference_windows(self.trades, self.kept)

    def decode(self, framed):
        from kafka_stream_aggregator_spark.schemas import TRADE_SCHEMA
        from kafka_stream_aggregator_spark.streaming.trade_pipeline import (
            decode_trades_avro_dispatch,
        )

        return decode_trades_avro_dispatch(framed, self.snapshot, self.reader, TRADE_SCHEMA)


def write_files(values, directory: Path) -> list[Path]:
    """Chunk values into parquet files named in arrival order, with
    strictly increasing mtimes one whole second apart. The file source
    orders files by mtime and breaks ties by listing order, so the order
    must survive a file system that keeps mtimes in whole seconds."""
    directory.mkdir(parents=True)
    base_ns = (int(time.time()) - 86_400) * 1_000_000_000
    files = []
    for i, lo in enumerate(range(0, len(values), ROWS_PER_FILE)):
        chunk = values[lo:lo + ROWS_PER_FILE]
        path = directory / f"part-{i:06d}.parquet"
        pq.write_table(
            pa.table({"key": pa.nulls(len(chunk), pa.string()), "value": pa.array(chunk, pa.binary())}),
            path,
        )
        os.utime(path, ns=(base_ns + i * 1_000_000_000,) * 2)
        files.append(path)
    return files


def windows_of(trades_df):
    from kafka_stream_aggregator_spark.streaming.pipeline import streaming_windowed_ewma

    return streaming_windowed_ewma(
        trades_df,
        ts_col="event_time",
        value_col="price",
        order_cols=("timestamp", "trade_seq"),
        group_cols=("instrument_name",),
    )


def drain(run, inputs: Inputs, src: Path, tag: str, writes: list) -> tuple[list[dict], Path]:
    """Source -> decode -> windowed EWMA -> foreachBatch parquet writer,
    run to the end of its input. ``writes`` collects (batch_id, start, end)
    per sink call. Returns the query progress and the sink directory."""
    from kafka_stream_aggregator_spark.streaming.sinks import foreach_batch_parquet_writer
    from kafka_stream_aggregator_spark.streaming.sources import file_stream

    stream = file_stream(run.spark, str(src), tr.FRAME_SCHEMA, max_files_per_trigger=FILES_PER_TRIGGER)
    sink = run.work / f"{tag}-sink"
    writer = foreach_batch_parquet_writer(str(sink))

    def write(batch_df, batch_id):
        t0 = time.time()
        writer(batch_df, batch_id)
        writes.append((batch_id, t0, time.time()))

    query = (
        windows_of(inputs.decode(stream)).writeStream.foreachBatch(write)
        .option("checkpointLocation", str(run.work / f"{tag}-checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    if not query.awaitTermination(STALL_S):
        query.stop()
        raise BenchError(f"drain did not finish within {STALL_S} s")
    if query.exception() is not None:
        raise BenchError(f"stream failed: {query.exception()}")
    return [json.loads(p.json) for p in query.recentProgress], sink


def read_sink(sink: Path) -> list[tuple]:
    """Emitted (instrument, window_end, n_rows, ewma) rows."""
    if not sink.exists():
        return []
    t = pq.read_table(sink)
    return list(zip(*(t.column(c).to_pylist() for c in ("instrument_name", "window_end", "n_rows", "ewma"))))


def watermark_ms(progress: list[dict]) -> int:
    wm = progress[-1].get("eventTime", {}).get("watermark")
    return round(iso_to_epoch(wm) * 1000) if wm else 0


def full_triggers(progress: list[dict]) -> list[dict]:
    """The triggers that read a whole TRIGGER_ROWS of input (not the
    partial last one, not the no-data one that advances the watermark)."""
    return [p for p in progress if p["numInputRows"] == TRIGGER_ROWS]


def drain_rate(progress: list[dict]) -> float:
    """Capacity at TRIGGER_ROWS per trigger: the median per-trigger
    processing rate of the full triggers (robust to a single stalled
    trigger)."""
    full = full_triggers(progress)
    if not full:
        raise BenchError(f"no trigger read {TRIGGER_ROWS} rows")
    return quantile([p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1000.0)
                     for p in full], 0.5)


def batch_spans(run, progress: list[dict], writes: list) -> None:
    """Micro-batch spans from StreamingQueryProgress (phases laid out in
    execution order) and sink spans from the foreachBatch wrapper."""
    order = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    parents = {}
    for p in progress:
        start = iso_to_epoch(p["timestamp"])
        d = p["durationMs"]
        sid = run.tracer.add("microbatch", start, start + d["triggerExecution"] / 1000.0,
                             trace=p["batchId"], rows=p["numInputRows"])
        parents[p["batchId"]] = sid
        t = start
        for phase in order:
            if phase in d:
                run.tracer.add(f"microbatch.{phase}", t, t + d[phase] / 1000.0,
                               trace=p["batchId"], parent=sid, approx_start=True)
                t += d[phase] / 1000.0
    for bid, t0, t1 in writes:
        run.tracer.add("sinks.foreach_batch_parquet_writer", t0, t1, trace=bid, parent=parents.get(bid))


def microbatch_layers(progress: list[dict], writes: list, emitted: list) -> dict:
    out = {"microbatch.count": (len(progress), "count")}
    for phase in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
                  "commitOffsets", "triggerExecution"):
        vals = [p["durationMs"].get(phase, 0) for p in progress]
        out[f"microbatch.{phase}_ms"] = (quantile(vals, 0.5), "ms")
    first, last = progress[0], progress[-1]
    wall_ms = (1000.0 * (iso_to_epoch(last["timestamp"]) - iso_to_epoch(first["timestamp"]))
               + last["durationMs"]["triggerExecution"])
    busy_ms = sum(p["durationMs"]["triggerExecution"] for p in progress)
    out["microbatch.idle_ms"] = (wall_ms - busy_ms, "ms")
    data = [p["numInputRows"] for p in progress if p["numInputRows"] > 0] or [0]
    out["microbatch.rows_per_batch_p50"] = (quantile(data, 0.5), "rows")
    states = [s for p in progress for s in p.get("stateOperators", [])]
    out["state.rows_total_max"] = (max((s["numRowsTotal"] for s in states), default=0), "rows")
    out["state.memory_bytes_max"] = (max((s["memoryUsedBytes"] for s in states), default=0), "bytes")
    out["state.commit_ms"] = (quantile([s["commitTimeMs"] for s in states] or [0], 0.5), "ms")
    out["state.rows_dropped_by_watermark"] = (
        sum(s.get("numRowsDroppedByWatermark", 0) for s in states), "rows")
    out["sinks.foreach_batch_parquet_writer.write_ms"] = (
        quantile([1000.0 * (t1 - t0) for _, t0, t1 in writes] or [0], 0.5), "ms")
    out["sinks.rows_written"] = (len(emitted), "rows")
    return out


def standalone_layers(run, inputs: Inputs, src: Path) -> dict:
    """Each decode layer's public function timed alone on the same trades.

    The JSON chain (frame_trades -> decode_trades) runs here too, so the
    JVM decode layer is measured; decode + window minus decode is the
    window fold's self time."""
    from kafka_stream_aggregator_spark.streaming.avro_codec import decode
    from kafka_stream_aggregator_spark.streaming.registry import decode_framed_records, parse_frame
    from kafka_stream_aggregator_spark.streaming.trade_pipeline import decode_trades

    spark = run.spark
    offered = len(inputs.values)
    n_trades = len(inputs.trades)

    def timed(name, action):
        with run.tracer.span(name, trace="standalone"):
            t0 = time.time()
            result = action()
            return 1000.0 * (time.time() - t0), result

    avro = spark.read.schema(tr.FRAME_SCHEMA).parquet(str(src))
    dispatch_ms, decoded = timed("registry.decode_trades_avro_dispatch", inputs.decode(avro).count)
    frame_ms, json_values = timed("trade_pipeline.frame_trades", lambda: tr.json_frames(spark, inputs.trades))
    write_files(json_values, run.work / "json-input")
    framed = spark.read.schema(tr.FRAME_SCHEMA).parquet(str(run.work / "json-input"))
    decode_ms, _ = timed("trade_pipeline.decode_trades", decode_trades(framed).count)
    noop = windows_of(decode_trades(framed)).write.format("noop").mode("overwrite")
    both_ms, _ = timed("pipeline.streaming_windowed_ewma+decode_trades", noop.save)

    sample = inputs.values[:20_000]
    rec_ms, _ = timed("registry.decode_framed_records",
                      lambda: decode_framed_records(sample, inputs.snapshot, inputs.reader))
    bodies = []
    for raw in sample:
        try:
            sid, body = parse_frame(raw)
        except ValueError:
            continue
        if sid in inputs.snapshot:
            bodies.append((inputs.snapshot[sid], body))
    body_ms, _ = timed("avro_codec.decode", lambda: [decode(s, b) for s, b in bodies])
    return {
        "trade_pipeline.frame_trades.rows_per_s": (n_trades / (frame_ms / 1000.0), "rows/s"),
        "trade_pipeline.decode_trades.busy_ms": (decode_ms, "ms"),
        "trade_pipeline.decode_trades.rows_per_s": (n_trades / (decode_ms / 1000.0), "rows/s"),
        "pipeline.streaming_windowed_ewma.busy_ms": (max(0.0, both_ms - decode_ms), "ms"),
        "registry.decode_framed_records.us_per_record": (1000.0 * rec_ms / len(sample), "us"),
        "avro_codec.decode.us_per_record": (1000.0 * body_ms / len(bodies), "us"),
        "registry.decode_trades_avro_dispatch.busy_ms": (dispatch_ms, "ms"),
        "registry.dropped_ratio": ((offered - decoded) / offered, "ratio"),
    }


def local1_drain(run, inputs: Inputs, files: list[Path]) -> float:
    """The drain's single-thread baseline: the same chain on local[1]
    over the first quarter of the input files."""
    run.spark.stop()
    start_session(run, cpus=1)
    src = run.work / "local1-input"
    src.mkdir()
    for path in files[: max(FILES_PER_TRIGGER, len(files) // 4)]:
        shutil.copy2(path, src / path.name)
    progress, _ = drain(run, inputs, src, "local1", [])
    return drain_rate(progress)


def run_workload(run) -> dict:
    """Returns metrics, layers, check results, the report, and the emitted
    windows with what they were checked against."""
    get_spark_ms = start_session(run)
    n_trades = max(2 * TRIGGER_ROWS, DRAIN_ROWS_PER_S * run.seconds)
    inputs = Inputs(run, n_trades)
    offered = len(inputs.values)
    src = run.work / "input"
    files = write_files(inputs.values, src)
    # warm-up on its own checkpoint (see WARM_TRIGGERS)
    warm = run.work / "warm-input"
    warm.mkdir()
    for path in files[: WARM_TRIGGERS * FILES_PER_TRIGGER]:
        shutil.copy2(path, warm / path.name)
    drain(run, inputs, warm, "warm", [])

    t_due = time.time()
    writes: list = []
    with run.tracer.span("stream.drain", trace="run"):
        progress, sink = drain(run, inputs, src, "timed", writes)
    lat = [p["durationMs"]["triggerExecution"] for p in full_triggers(progress)]
    throughput = drain_rate(progress)

    consumed = sum(p["numInputRows"] for p in progress)
    emitted = read_sink(sink)
    wm = watermark_ms(progress)
    attempted, failed, problems = tr.check_windows(emitted, inputs.reference, wm)
    open_rows = tr.open_rows(inputs.trades, inputs.kept, wm)
    dropped = offered - sum(e[2] for e in emitted) - open_rows
    injected = sum(inputs.injected.values())
    if dropped != injected:
        problems.append(f"dropped {dropped} records, injected {injected}")
    if consumed != offered:
        problems.append(f"consumed {consumed} of {offered} offered records")
    rss = peak_rss_mb(run.spark)

    metrics = {
        "setup_s": (t_due - run.t_start, "s"),
        "throughput_per_s": (throughput, "1/s"),
        "latency_p50_ms": (quantile(lat, 0.5), "ms"),
    }
    named = {
        "rows_per_s": (throughput, "rows/s"),
        "latency_p90_ms": (quantile(lat, 0.9), "ms"),
        "dropped_ratio": (dropped / offered, "ratio"),
        "failed_ratio": (failed / max(1, attempted), "ratio"),
        "peak_rss_mb": (rss, "MB"),
        "setup_s": metrics["setup_s"],
    }
    report = {
        "offered_records": offered, "consumed_records": consumed, "windows_emitted": len(emitted),
        "windows_checked": attempted, "final_watermark_ms": wm, "injected_bad_records": inputs.injected,
        "latency_samples": len(lat), "trigger_ms": lat, "frame_s": inputs.frame_s,
    }

    layers = {}
    if run.tracer.enabled:
        batch_spans(run, progress, writes)
        layers.update(microbatch_layers(progress, writes, emitted))
        layers["session.get_spark_ms"] = (get_spark_ms, "ms")
        layers["memory.peak_rss_mb"] = (rss, "MB")
        layers["trade_pipeline.frame_trades_avro.rows_per_s"] = (n_trades / inputs.frame_s, "rows/s")
        layers.update(standalone_layers(run, inputs, src))
        layers["scaling.avro_registry_drain_local1_rows_per_s"] = (local1_drain(run, inputs, files), "rows/s")
    return {"metrics": metrics, "named": named, "layers": layers, "attempted": attempted,
            "failed": failed, "problems": problems, "report": report,
            "windows": (emitted, inputs.reference, wm)}
