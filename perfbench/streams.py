"""Stream-side helpers shared by the two stream workloads: a timed
wrapper around ``ExactlyOnceSink.foreach_batch``, the query runner, the
file-to-batch map read from the checkpoint, latency accounting and the
per-batch progress summary."""

from __future__ import annotations

import glob
import json
import os
import time
from datetime import datetime, timezone

import pandas as pd
import pyarrow.parquet as pq

from common import median, warm_up

# order of a micro-batch's phases inside one trigger (MicroBatchExecution)
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class TimedSink:
    """Calls ``sink.foreach_batch`` and stamps each batch's start and
    commit time: the commit is published when ``foreach_batch`` returns."""

    def __init__(self, sink):
        self.sink = sink
        self.stamps: dict[int, tuple[float, float]] = {}

    def foreach_batch(self, df, batch_id: int) -> None:
        t = time.time()
        self.sink.foreach_batch(df, batch_id)
        self.stamps[batch_id] = (t, time.time())

    def commit_time(self, batch_id: int) -> float:
        return self.stamps[batch_id][1]


class FileFeed:
    """Lands pre-staged files in a stream's input directory, one atomic
    rename each, and keeps the landing order."""

    def __init__(self, staged_dir: str, in_dir: str):
        self.staged_dir = staged_dir
        self.in_dir = in_dir
        self.landed: list[str] = []
        os.makedirs(in_dir, exist_ok=True)

    def land(self, name: str) -> None:
        os.replace(os.path.join(self.staged_dir, name), os.path.join(self.in_dir, name))
        self.landed.append(name)

    def rows(self, names) -> int:
        return sum(pq.read_metadata(os.path.join(self.in_dir, f)).num_rows for f in names)


def warm_stream(q, feed: FileFeed, pool: list[str], step: int, steps: int) -> list[float]:
    """Warm a running query up: land ``step`` files of ``pool`` at a time
    and drain them, ``steps`` times."""
    chunks = iter(range(0, len(pool), step))

    def one_step():
        i = next(chunks)
        for f in pool[i : i + step]:
            feed.land(f)
        q.processAllAvailable()

    return warm_up(one_step, steps)


def drain_backlog(
    q, feed: FileFeed, backlog: list[str], chunk: int, timed_sink: "TimedSink"
) -> tuple[list[float], set[int]]:
    """Drain the backlog ``chunk`` files at a time: land a chunk at once,
    wait until it is committed, land the next. Returns each chunk's rows
    per second (rows over the wall time from landing to the commit of its
    last batch) and the batches that drained the backlog."""
    rates: list[float] = []
    batches: set[int] = set()
    for i in range(0, len(backlog), chunk):
        files = backlog[i : i + chunk]
        before = set(timed_sink.stamps)
        t0 = time.time()
        for f in files:
            feed.land(f)
        q.processAllAvailable()
        new = set(timed_sink.stamps) - before
        rates.append(feed.rows(files) / (max(timed_sink.commit_time(b) for b in new) - t0))
        batches |= new
    return rates, batches


def start_query(stream_df, timed_sink: TimedSink, checkpoint: str, name: str):
    return (
        stream_df.writeStream.outputMode("append")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(timed_sink.foreach_batch)
        .start()
    )


def finish_query(q) -> list[dict]:
    """Drain what is available, stop, and return the progress records;
    raise if the query failed."""
    try:
        q.processAllAvailable()
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return progress


def file_batches(checkpoint: str, source: int = 0) -> dict[str, int]:
    """Input file name → the micro-batch that read it, from the file
    source's metadata log (``<checkpoint>/sources/<n>/<batch>[.compact]``:
    a version line, then one JSON entry per file)."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", str(source), "*")):
        stem = os.path.basename(p).split(".")[0]
        if not stem.isdigit() or p.endswith(".tmp"):
            continue
        with open(p) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def file_latencies(
    scheduled: dict[str, float], file_batch: dict[str, int], commit_time: dict[int, float]
) -> list[float]:
    """Per landed file: the commit time of the micro-batch that read it
    minus the file's scheduled landing time."""
    return [commit_time[file_batch[f]] - due for f, due in scheduled.items()]


def iso_to_epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def trace_batches(tracer, progress: list[dict], timed_sink: TimedSink) -> None:
    """One ``sink.micro_batch`` span per committed batch, from trigger
    start to commit, with the progress phases and the sink call as its
    children (phases are laid end to end from the trigger start)."""
    if not tracer.enabled:
        return
    for p in progress:
        b = p["batchId"]
        if b not in timed_sink.stamps:
            continue
        t0 = iso_to_epoch(p["timestamp"])
        fb0, fb1 = timed_sink.stamps[b]
        parent = tracer.add("sink.micro_batch", t0, fb1, None, batch_id=b, rows=p["numInputRows"])
        t = t0
        for ph in PHASES:
            d = p["durationMs"].get(ph)
            if d is None:
                continue
            tracer.add(f"streaming.{ph}", t, t + d / 1000.0, parent, batch_id=b)
            t += d / 1000.0
        tracer.add("sink.foreach_batch", fb0, fb1, parent, batch_id=b)


def progress_layers(progress: list[dict], batch_ids: set[int], timed_sink: TimedSink) -> dict[str, float]:
    """Per steady micro-batch layer metrics over ``batch_ids``."""
    steady = [p for p in progress if p["batchId"] in batch_ids]
    data = [p for p in steady if p["numInputRows"] > 0]
    out = {
        "streaming.batches": float(len(steady)),
        "streaming.no_data_batches": float(len(steady) - len(data)),
        "streaming.input_rows_per_batch_p50": median([p["numInputRows"] for p in data]) if data else 0.0,
    }
    key = {
        "trigger": "triggerExecution",
        "query_planning": "queryPlanning",
        "latest_offset": "latestOffset",
        "add_batch": "addBatch",
        "wal_commit": "walCommit",
        "commit_offsets": "commitOffsets",
    }
    for name, ph in key.items():
        vals = [p["durationMs"].get(ph, 0) for p in data]
        out[f"streaming.{name}_ms_p50"] = median(vals) if vals else 0.0
    ops = [p.get("stateOperators") or [] for p in steady]
    out["state.operators"] = float(max((len(o) for o in ops), default=0))
    commit = [sum(o.get("commitTimeMs", 0) for o in os_) for os_, p in zip(ops, steady) if p["numInputRows"] > 0]
    update = [sum(o.get("allUpdatesTimeMs", 0) for o in os_) for os_, p in zip(ops, steady) if p["numInputRows"] > 0]
    out["state.commit_ms_per_batch_p50"] = median(commit) if commit and out["state.operators"] else 0.0
    out["state.update_ms_per_batch_p50"] = median(update) if update and out["state.operators"] else 0.0
    out["state.rows_total_max"] = float(max((sum(o.get("numRowsTotal", 0) for o in os_) for os_ in ops), default=0))
    out["state.memory_bytes_max"] = float(max((sum(o.get("memoryUsedBytes", 0) for o in os_) for os_ in ops), default=0))
    out["state.rows_removed_total"] = float(sum(sum(o.get("numRowsRemoved", 0) for o in os_) for os_ in ops))
    fb = [(timed_sink.stamps[b][1] - timed_sink.stamps[b][0]) * 1000.0 for b in batch_ids if b in timed_sink.stamps]
    out["sink.foreach_batch_ms_p50"] = median(fb) if fb else 0.0
    return out


def sink_files_per_batch(sink, batch_ids: set[int]) -> float:
    n = [c["num_files"] for c in sink.lineage() if c["batch_id"] in batch_ids]
    return median(n) if n else 0.0


def read_committed(sink) -> tuple[pd.DataFrame, set[int]]:
    """Committed rows of an ExactlyOnceSink, read with pyarrow from the
    files its commit markers list; and the committed batch ids."""
    frames, ids = [], set()
    for c in sink.lineage():
        ids.add(c["batch_id"])
        for f in c["files"]:
            frames.append(pq.read_table(os.path.join(sink.table_path, f["file"])).to_pandas())
    df = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()
    return df, ids
