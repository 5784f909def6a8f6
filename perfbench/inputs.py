"""Seeded inputs and independent oracles, computed apart from Spark and
cached per (kind, scale, seed) under the work directory.

Time spent here is input generation or oracle computation: it is kept
out of ``setup_s``.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from common import BENCH_ROOT_KEY, WORK

CACHE = os.path.join(WORK, "cache")

# q134's fault slices: md5(conv_id)'s first hex digit (disjoint sets)
SHADOW_DIGITS = ("0", "1", "2")  # scope-loss deploy: token reused under a shadow scope
RETRY_DIGITS = ("3", "4")  # rekey-on-retry: a fresh token for the same (value, scope)

TRANSCRIPT_ARROW = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def _cached(name: str, build) -> pd.DataFrame:
    os.makedirs(CACHE, exist_ok=True)
    path = os.path.join(CACHE, name + ".parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    df = build()
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp)
    os.replace(tmp, path)
    return pd.read_parquet(path)


def transcripts(sf: float, seed: int) -> pd.DataFrame:
    from auto_data_tokenize_spark import datagen

    def build():
        df = datagen.gen_transcripts(sf, seed=seed)
        return pa.Table.from_pandas(df, schema=TRANSCRIPT_ARROW, preserve_index=False).to_pandas()

    return _cached(f"transcripts-sf{sf}-seed{seed}", build)


def golden_tokenized(sf: float, seed: int) -> pd.DataFrame:
    """Row-at-a-time tokenization of every turn (datagen's oracle path,
    not the Arrow UDF), sorted by (conv_id, turn_idx)."""
    from auto_data_tokenize_spark import datagen

    return _cached(
        f"golden-tokenized-sf{sf}-seed{seed}",
        lambda: datagen.golden_tokenized(transcripts(sf, seed), BENCH_ROOT_KEY),
    )


def write_table(df: pd.DataFrame, out_dir: str, n_files: int) -> str:
    """Land ``df`` as ``n_files`` parquet part files (a landed table)."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(df)
    for i in range(n_files):
        part = df.iloc[i * n // n_files : (i + 1) * n // n_files]
        pq.write_table(
            pa.Table.from_pandas(part, schema=TRANSCRIPT_ARROW, preserve_index=False),
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
        )
    return out_dir


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def build_scope_feed(tr: pd.DataFrame) -> pd.DataFrame:
    """q134's detection-event feed over transcripts ``tr``, with both
    faults injected, in event-time order. ``fault`` marks each event: ''
    (clean), 'shadow' (same token under ``<scope>#shadow``) or 'retry'
    (fresh token for the same value and scope)."""
    from auto_data_tokenize_spark import datagen

    det = datagen.golden_detections(tr, BENCH_ROOT_KEY)
    f = det.merge(tr[["conv_id", "turn_idx", "text"]], on=["conv_id", "turn_idx"])
    f["value_hash"] = [_md5(t[s:e]) for t, s, e in zip(f["text"], f["start"], f["end"])]
    f = f[["ts", "info_type", "value_hash", "conv_id", "token"]].rename(columns={"conv_id": "scope"})
    f["fault"] = ""
    digit = f["scope"].map(lambda c: _md5(c)[0])
    shadow = f[digit.isin(SHADOW_DIGITS)].copy()
    shadow["scope"] = shadow["scope"] + "#shadow"
    shadow["fault"] = "shadow"
    retry = f[digit.isin(RETRY_DIGITS)].copy()
    retry["token"] = retry["token"].map(lambda t: _md5(t + ":retry"))
    retry["fault"] = "retry"
    feed = pd.concat([f, shadow, retry], ignore_index=True)
    feed["ts"] = feed["ts"].astype("datetime64[us]")
    feed = feed.sort_values(["ts", "value_hash", "scope", "token"]).reset_index(drop=True)
    feed["event_id"] = range(len(feed))
    return feed.astype({"info_type": str, "value_hash": str, "scope": str, "token": str})


def scope_feed(sf: float, seed: int) -> pd.DataFrame:
    return _cached(f"scope-feed-sf{sf}-seed{seed}", lambda: build_scope_feed(transcripts(sf, seed)))


MONITOR_COLUMNS = ["window_start", "info_type", "contract", "n_groups", "n_breached", "n_combos"]


def scope_monitor_twin(feed: pd.DataFrame, watermark_s: int = 30, window_s: int = 60) -> pd.DataFrame:
    """DuckDB twin of ``token_scope_monitor`` over ``feed`` under the
    final-watermark predicate: only windows that end at or before
    max(ts) - watermark are emitted in append mode."""
    import duckdb

    from auto_data_tokenize_spark.operators.tokenize import duckdb_token_scope_monitor_sql

    con = duckdb.connect()
    try:
        con.register("feed", feed[["ts", "info_type", "value_hash", "scope", "token"]])
        sql = f"""
            SELECT * FROM ({duckdb_token_scope_monitor_sql("feed", window_us=window_s * 1_000_000)}) m
            WHERE m.window_start + INTERVAL {window_s} SECOND <=
                  (SELECT max(ts) - INTERVAL {watermark_s} SECOND FROM feed)
        """
        out = con.execute(sql).df()
    finally:
        con.close()
    return out[MONITOR_COLUMNS]
