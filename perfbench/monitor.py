"""stream_scope_monitor: a closed-loop backlog drain. q134's
detection-event feed, with scope-loss shadow scopes and rekey-on-retry
tokens injected, is staged in event-time order and drained at a fixed
number of files per trigger through ``operators.tokenize.
token_scope_monitor`` (three chained stateful window aggregations) into
an ``ExactlyOnceSink``."""

from __future__ import annotations

import os
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import inputs
import layers
import streams
from common import median

SF = 0.025  # 50k turns → about 51k detection events
FILES_PER_TRIGGER = 2
EVENTS_PER_FILE = 800
BACKLOG_CHUNK = 3 * FILES_PER_TRIGGER  # the backlog lands and drains in chunks of three triggers
WARM_STEPS = 4  # warm-up steps of one trigger each
CHUNK_SECONDS = 4  # backlog size: one chunk (about 5 s here) per four seconds of --seconds
STATE_PARTITIONS = 4  # q134's state partition count
WINDOW = "1 minute"
WATERMARK_S = 30
FEED_COLUMNS = ["ts", "info_type", "value_hash", "scope", "token", "event_id"]
FEED_SCHEMA = (
    "ts timestamp, info_type string, value_hash string, scope string, token string, event_id long"
)


def prepare(seed: int) -> dict:
    return {"feed": inputs.scope_feed(SF, seed), "turns": inputs.transcripts(SF, seed)}


def stage(feed: pd.DataFrame, out_dir: str) -> list[str]:
    """The feed in event-time order as EVENTS_PER_FILE-event files with
    strictly increasing mtimes: the file source orders pending files by
    mtime alone, so files written within one clock tick would otherwise
    be read in arbitrary order and their rows dropped as late."""
    os.makedirs(out_dir)
    n = len(feed) // EVENTS_PER_FILE
    t0 = time.time() - n - 10
    names = []
    for i in range(n):
        part = feed.iloc[i * EVENTS_PER_FILE : (i + 1) * EVENTS_PER_FILE][FEED_COLUMNS]
        name = f"feed-{i:05d}.parquet"
        path = os.path.join(out_dir, name)
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path)
        os.utime(path, (t0 + i, t0 + i))
        names.append(name)
    return names


def run(ctx, spark, data: dict) -> dict:
    from auto_data_tokenize_spark.operators.tokenize import token_scope_monitor
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    tracer = ctx.tracer
    feed = data["feed"]
    staged = os.path.join(ctx.run_dir, "staged")
    with ctx.generation():
        files = stage(feed, staged)
    n_backlog = BACKLOG_CHUNK * max(1, round(ctx.seconds / CHUNK_SECONDS))
    need = WARM_STEPS * FILES_PER_TRIGGER + n_backlog
    if len(files) < need:
        raise SystemExit(f"--seconds {ctx.seconds} needs {need} feed files, have {len(files)}")

    ff = streams.FileFeed(staged, os.path.join(ctx.run_dir, "in"))
    sink = ExactlyOnceSink(os.path.join(ctx.run_dir, "sink"))
    timed = streams.TimedSink(sink)
    stream = (
        spark.readStream.schema(FEED_SCHEMA)
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .parquet(ff.in_dir)
    )
    mon = token_scope_monitor(stream, window=WINDOW, watermark=f"{WATERMARK_S} seconds")
    # the state partition count is fixed when the query first plans
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        q = streams.start_query(mon, timed, os.path.join(ctx.run_dir, "checkpoint"), "perfbench_monitor")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    try:
        with tracer.span("session.warmup"):
            warm = streams.warm_stream(q, ff, files, FILES_PER_TRIGGER, WARM_STEPS)
        # the backlog continues the event-time order where the warm-up stopped
        backlog = files[len(ff.landed) : len(ff.landed) + n_backlog]
        ctx.timed_start()
        with tracer.span("streaming.backlog_drain"):
            drain_rates, backlog_batches = streams.drain_backlog(q, ff, backlog, BACKLOG_CHUNK, timed)
        ctx.timed_end()
        progress = streams.finish_query(q)
    finally:
        if q.isActive:
            q.stop()

    # per data batch of the drain: trigger start → commit published
    lat = [
        timed.commit_time(p["batchId"]) - streams.iso_to_epoch(p["timestamp"])
        for p in progress
        if p["batchId"] in backlog_batches and p["numInputRows"] > 0
    ]

    with tracer.span("checks"):
        landed = feed[feed["event_id"] < len(ff.landed) * EVENTS_PER_FILE]
        twin = inputs.scope_monitor_twin(landed, watermark_s=WATERMARK_S)
        got, _ = streams.read_committed(sink)
        errors = checks.monitor_equal(got, twin)
        errors += checks.breaches_attributed(got, landed)

    backlog_rows = ff.rows(backlog)
    streams.trace_batches(tracer, progress, timed)
    layer: dict[str, float] = {}
    if ctx.trace:
        layer.update(streams.progress_layers(progress, backlog_batches, timed))
        layer["sink.files_per_batch_p50"] = streams.sink_files_per_batch(sink, backlog_batches)
        layer["sink.rows_committed"] = float(sink.total_rows())
        layer.update(layers.functions_layer(tracer, data["turns"]))
        with ctx.generation():
            table = inputs.write_table(data["turns"], os.path.join(ctx.run_dir, "table"), 1)
        layer.update(layers.sources_layer(tracer, spark, table, len(data["turns"])))
    return {
        "e2e": {"rows_per_s": median(drain_rates), "latency_p50_s": median(lat)},
        "layers": layer,
        "attempted": len(backlog),
        "failed": 0,
        "errors": errors,
        "info": {
            "events_landed": len(landed),
            "warmup_s": [round(x, 3) for x in warm],
            "backlog_rows": backlog_rows,
            "drain_rows_per_s": [round(r, 1) for r in drain_rates],
            "drain_batches": len(backlog_batches),
            "output_rows": len(got),
        },
    }
