"""stream_tokenize_live: an open loop. The transcripts, staged by
``streaming.source.stage_stream_input`` into many small parquet files in
arrival order, go through ``streaming.pipeline.tokenize_stream`` into an
``ExactlyOnceSink``. A backlog is drained first at a fixed number of
files per trigger; then a generator thread lands files one at a time by
atomic rename on a fixed schedule, well below the drain rate."""

from __future__ import annotations

import os
import threading
import time

import pandas as pd
import pyarrow.parquet as pq

import checks
import inputs
import layers
import streams
from common import BENCH_ROOT_KEY, median, percentile, tail_percentile

SF = 0.025  # 50k turns
ROWS_PER_FILE = 200
FILES_PER_TRIGGER = 8
BACKLOG_CHUNK = 2 * FILES_PER_TRIGGER  # the backlog lands and drains in chunks of two triggers
WARM_STEPS = 5  # warm-up steps, one chunk each
BACKLOG_FILES = 3 * BACKLOG_CHUNK
INTERVAL_S = 0.25  # live feed: one file every 250 ms
LIVE_SHARE = 0.6  # of --seconds; the backlog drain takes the rest


def prepare(seed: int) -> dict:
    return {"turns": inputs.transcripts(SF, seed), "golden": inputs.golden_tokenized(SF, seed)}


def live_files(seconds: int) -> int:
    return max(1, int(LIVE_SHARE * seconds / INTERVAL_S))


def run(ctx, spark, data: dict) -> dict:
    from auto_data_tokenize_spark.streaming import pipeline, source
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    tracer = ctx.tracer
    turns = data["turns"]
    n_files = len(turns) // ROWS_PER_FILE
    with ctx.generation():
        table = inputs.write_table(turns, os.path.join(ctx.run_dir, "table"), 1)
    with tracer.span("streaming.stage_stream_input"):
        staged = source.stage_stream_input(table, os.path.join(ctx.run_dir, "staged"), n_files=n_files)
    files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    n_live = live_files(ctx.seconds)
    need = WARM_STEPS * BACKLOG_CHUNK + BACKLOG_FILES + n_live
    if len(files) < need:
        raise SystemExit(f"--seconds {ctx.seconds} needs {need} staged files, have {len(files)}")

    ff = streams.FileFeed(staged, os.path.join(ctx.run_dir, "in"))
    sink = ExactlyOnceSink(os.path.join(ctx.run_dir, "sink"))
    timed = streams.TimedSink(sink)
    checkpoint = os.path.join(ctx.run_dir, "checkpoint")
    stream = pipeline.tokenize_stream(
        source.transcripts_stream(spark, ff.in_dir, max_files_per_trigger=FILES_PER_TRIGGER),
        root_key=BENCH_ROOT_KEY,
    )
    q = streams.start_query(stream, timed, checkpoint, "perfbench_live")
    try:
        with tracer.span("session.warmup"):
            warm = streams.warm_stream(q, ff, files, BACKLOG_CHUNK, WARM_STEPS)
        warm_batches = set(timed.stamps)
        # backlog and live files continue the arrival order where the warm-up stopped
        backlog = files[len(ff.landed) : len(ff.landed) + BACKLOG_FILES]
        live = files[len(ff.landed) + BACKLOG_FILES : len(ff.landed) + BACKLOG_FILES + n_live]
        ctx.timed_start()
        with tracer.span("streaming.backlog_drain"):
            drain_rates, backlog_batches = streams.drain_backlog(q, ff, backlog, BACKLOG_CHUNK, timed)

        # live: the generator lands one file per INTERVAL_S on a fixed schedule
        scheduled: dict[str, float] = {}
        actual: dict[str, float] = {}
        gen_error: list[Exception] = []

        def generator():
            try:
                start = time.time() + INTERVAL_S
                for i, f in enumerate(live):
                    due = start + i * INTERVAL_S
                    while (d := due - time.time()) > 0:
                        time.sleep(d)
                    scheduled[f] = due
                    ff.land(f)
                    actual[f] = time.time()
            except Exception as e:  # raised again by the main thread after join
                gen_error.append(e)

        with tracer.span("streaming.live_feed"):
            g = threading.Thread(target=generator, name="live-feed")
            g.start()
            g.join(timeout=ctx.seconds * 4 + 60)
            if g.is_alive() or gen_error:
                raise RuntimeError(f"live feed generator failed: {gen_error or 'timeout'}")
            progress = streams.finish_query(q)
        ctx.timed_end()
    finally:
        if q.isActive:
            q.stop()

    live_batches = set(timed.stamps) - backlog_batches - warm_batches
    timed_batches = backlog_batches | live_batches
    file_batch = streams.file_batches(checkpoint)
    commit = {b: timed.commit_time(b) for b in timed.stamps}
    lat = streams.file_latencies(scheduled, file_batch, commit)
    lateness = [actual[f] - scheduled[f] for f in live]

    with tracer.span("checks"):
        committed, committed_ids = streams.read_committed(sink)
        landed_rows = pd.concat(
            [pq.read_table(os.path.join(ff.in_dir, f)).to_pandas() for f in ff.landed], ignore_index=True
        )
        golden = data["golden"].merge(landed_rows[checks.KEYS], on=checks.KEYS)
        errors = checks.rows_equal(committed, golden, "text_tok")
        errors += checks.files_committed(ff.landed, file_batch, committed_ids)

    backlog_rows = ff.rows(backlog)
    live_rows = ff.rows(live)
    tail_p = tail_percentile(len(lat))
    streams.trace_batches(tracer, progress, timed)
    layer: dict[str, float] = {}
    if ctx.trace:
        layer.update(streams.progress_layers(progress, timed_batches, timed))
        layer["sink.files_per_batch_p50"] = streams.sink_files_per_batch(sink, timed_batches)
        layer["sink.rows_committed"] = float(len(committed))
        layer.update(layers.functions_layer(tracer, turns))
        layer.update(layers.sources_layer(tracer, spark, table, len(turns)))
    drain_rate = median(drain_rates)
    return {
        "e2e": {"rows_per_s": drain_rate, "latency_p50_s": median(lat)},
        "layers": layer,
        "attempted": len(backlog) + len(live),
        "failed": 0,
        "errors": errors,
        "info": {
            "files_landed": len(ff.landed),
            "warmup_s": [round(x, 3) for x in warm],
            "backlog_rows": backlog_rows,
            "drain_rows_per_s": [round(r, 1) for r in drain_rates],
            "live_files": len(live),
            "live_batches": len(live_batches),
            "feed_utilisation": round((live_rows / (len(live) * INTERVAL_S)) / drain_rate, 3),
            "latency_tail_percentile": tail_p,
            "latency_tail_s": percentile(lat, tail_p) if tail_p else None,
            "latency_max_s": max(lat),
            "generator_lateness_p50_s": median(lateness),
            "generator_lateness_max_s": max(lateness),
        },
    }
