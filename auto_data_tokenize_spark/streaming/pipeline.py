"""End-to-end streaming pipelines (the north_star CEP flow).

    readStream(transcripts) ──► tokenize (Arrow UDF, narrow)
                              ├─► exactly-once sink (tokenized turns)
                              ├─► detections ──► tumbling freq aggregates
                              ├─► detections ──► session reports (conv_id)
                              └─► detections ⋈ token-dictionary stream

``run_to_sink`` is the one runner: every ``foreachBatch`` query in the
package starts there, whether its sink is an ``ExactlyOnceSink`` or a
static-table gate from ``streaming/ingest.py``. It takes explicit
checkpoint + output locations so tests can kill and resume, drains
everything available and stops (production would leave the query
running with a processingTime trigger), and returns the query's
progress records (``durationMs`` by phase, ``numInputRows``, each
state operator's commit time and size, one dict per micro-batch).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F

from auto_data_tokenize_spark.operators.identify import detections as detections_op
from auto_data_tokenize_spark.operators.tokenize import tokenize_turns
from auto_data_tokenize_spark.operators.windows import (
    infotype_frequencies,
    session_reports,
)
from auto_data_tokenize_spark.streaming.ingest import AdmissionGate
from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink


def run_to_sink(
    stream_df: DataFrame,
    sink: ExactlyOnceSink | AdmissionGate,
    checkpoint_dir: str,
    shuffle_partitions: int | None = None,
) -> list[dict]:
    """Start the append-mode query (named ``adt``), drain everything
    available, stop; return the query's ``recentProgress`` records as
    plain dicts (read before ``stop``), one per micro-batch (the last
    ``spark.sql.streaming.numRecentProgressUpdates`` of them, 100 by
    default). A failure inside a micro-batch
    propagates as Spark's ``StreamingQueryException`` carrying the
    original message. ``sink`` is anything with
    ``foreach_batch(df, batch_id)``.

    ``shuffle_partitions`` sizes the STATE partition count for stateful
    queries (set at first planning, sticky in the checkpoint). State
    partitions should track state size and input rate, not core count:
    every micro-batch pays a per-partition state-store commit (delta
    file + maintenance), so low-rate or bursty streams with small state
    run measurably faster with fewer, bigger state stores (measured
    here: the sf0.1 stream-stream join drops 8.5 s → 3.9 s going
    32 → 8), while a saturated production stream sizes this UP for
    parallelism. None = leave the session setting. Restores the
    session conf afterwards; per-query state sizing never leaks."""
    spark = stream_df.sparkSession
    old = None
    if shuffle_partitions is not None:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.outputMode("append")
            .queryName("adt")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(sink.foreach_batch)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            progress = [json.loads(p.json) for p in q.recentProgress]
            q.stop()
    finally:
        if old is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    # surface async failures (e.g. a UDF error inside a micro-batch)
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return progress


def tokenize_stream(
    transcripts: DataFrame, root_key: bytes | None = None
) -> DataFrame:
    """Streaming tokenize: identical plan to the batch operator —
    narrow, stateless, no watermark needed."""
    return tokenize_turns(transcripts, keep_original=False, root_key=root_key)


def detections_stream(
    transcripts: DataFrame, root_key: bytes | None = None
) -> DataFrame:
    return detections_op(transcripts, root_key=root_key)


def deidentify_stream(
    transcripts: DataFrame,
    transform: dict,
    root_key: bytes | None = None,
) -> DataFrame:
    """Streaming free-form de-identify: detected spans in ``text`` are
    replaced per the DLP primitive transformation (redact / mask /
    replace / FPE-with-surrogate — the deidentify analogue of the
    reference's DlpDeidentifyFn on a LIVE stream). Narrow, stateless,
    Arrow-batched; the FPE variant keeps the stream reversible
    (reidentify on read from the sink)."""
    from auto_data_tokenize_spark.functions.udfs import transform_text_udf
    from auto_data_tokenize_spark.operators.deidentify import free_form_repl

    repl = free_form_repl(transform, column="text", root_key=root_key)
    return transcripts.select(
        "conv_id",
        "turn_idx",
        transform_text_udf(repl)(F.col("text")).alias("masked"),
    )


def infotype_freq_stream(
    transcripts: DataFrame,
    duration: str = "5 minutes",
    watermark: str = "10 minutes",
    root_key: bytes | None = None,
) -> DataFrame:
    """State-store tumbling aggregate with late-data drop."""
    return infotype_frequencies(
        detections_stream(transcripts, root_key), duration, watermark=watermark
    )


def session_report_stream(
    transcripts: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    root_key: bytes | None = None,
) -> DataFrame:
    """Per-conversation session reports; emits only watermark-closed
    sessions (append mode)."""
    return session_reports(
        detections_stream(transcripts, root_key), gap, watermark=watermark
    )


def dedup_stream(
    transcripts: DataFrame,
    window: str = "1 day",
    watermark: str = "10 minutes",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact-dedup: per (event-time window, md5(text)) emit
    the FIRST occurrence and the copy count, append mode, state bounded
    by the watermark (windows close and their dedup state drops).

    Deliberately a stateful aggregation with min(struct(ts, keys)), NOT
    ``dropDuplicates``: dropDuplicates keeps whichever replica a
    partition saw first (processing order — nondeterministic across
    runs/cluster layouts), while min-struct first-occurrence is a pure
    event-time property the DuckDB oracle reproduces exactly. This is
    the streaming twin of q09's batch exact-dedup — the shape a 10^12-
    turn ingest pipeline runs continuously."""
    d = transcripts.withWatermark("ts", watermark)
    return (
        d.groupBy(
            F.window("ts", window).alias("w"),
            F.md5(text_col).alias("text_hash"),
        )
        .agg(
            F.min(F.struct("ts", "conv_id", "turn_idx")).alias("first"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "text_hash",
            F.col("first.conv_id").alias("first_conv_id"),
            F.col("first.turn_idx").alias("first_turn_idx"),
            "n_copies",
        )
    )


def _token_rows(
    docs: DataFrame, text_col: str, ts_col: str, watermark: str
) -> DataFrame:
    """Shared (ts, token) explosion for the windowed token monitors —
    delegates to ``textstats.explode_tokens``, THE one spelling of the
    whitespace tokenization (also under the vocabulary builder and OOV
    monitor), so a contract change lands in every monitor at once (the
    same rationale as ``ws_tokens_expr``): split(trim(lower(text)),
    '\\s+'), empty tokens dropped, NULL text contributes nothing."""
    from auto_data_tokenize_spark.operators.textstats import explode_tokens

    d = docs.withWatermark(ts_col, watermark)
    return explode_tokens(d, text_col, keep=[ts_col])


def trending_tokens_stream(
    docs: DataFrame,
    duration: str = "1 minute",
    watermark: str = "30 seconds",
    min_count: int = 25,
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Windowed exact trending tokens on a live ingest stream: per
    (event-time tumbling window, whitespace token) occurrence counts in
    the state store, emitting only tokens that clear ``min_count`` in
    a watermark-closed window — the live twin of the q107 vocabulary/
    stopword-mining pass, the shape a crawl pipeline uses to watch for
    token-frequency spikes (spam bursts, template floods) as they land.

    Tokenization matches the batch heavy-hitter pass exactly:
    ``split(trim(lower(text)), '\\s+')``, empty tokens dropped; a NULL
    text yields NO token rows (split(NULL) is NULL and plain explode
    emits nothing — the uniform NULL-text contract).

    Scale: one windowed shuffle with map-side partial aggregation;
    state is one counter per open (window, token) and drops when the
    watermark closes the window. The ``min_count`` filter is stateless,
    applied to the append-mode output — windows above the final
    watermark never emit, which the SQL oracle reproduces with the
    identical final-watermark predicate.
    """
    if int(min_count) < 1:
        raise ValueError(f"min_count must be >= 1 (got {min_count})")
    toks = _token_rows(docs, text_col, ts_col, watermark)
    return (
        toks.groupBy(F.window(ts_col, duration).alias("w"), "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= int(min_count))
        .select(F.col("w.start").alias("window_start"), "token", "n")
    )


def distinct_tokens_stream(
    docs: DataFrame,
    duration: str = "1 minute",
    watermark: str = "30 seconds",
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-window EXACT distinct-token count + type-token ratio on a
    live ingest stream — the vocabulary-diversity monitor (a collapsing
    TTR is the live signature of a template flood / machine-generated
    spam burst, complementing trending_tokens_stream's per-token view).

    Streaming ``COUNT(DISTINCT ...)`` is not supported directly, so
    this is two CHAINED stateful aggregations (Spark >= 3.4, the same
    machinery as the q40 hierarchical rollup): the first collapses the
    stream to (window, token) presence rows — shrinking state to
    vocabulary cardinality with map-side partial aggregation — and the
    second counts those rows per window, chained via ``window_time``
    on the SAME window granularity. Tokenization is the shared
    contract: split(trim(lower(text)), '\\s+'), empty dropped, NULL
    text contributes nothing.

    Append mode emits watermark-closed windows, which the SQL oracle
    reproduces with the identical final-watermark predicate.
    """
    toks = _token_rows(docs, text_col, ts_col, watermark)
    per_token = toks.groupBy(
        F.window(ts_col, duration).alias("w"), "token"
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        per_token.groupBy(
            F.window(F.window_time("w"), duration).alias("cw")
        )
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.sum("n").cast("long").alias("n_tokens"),
        )
        .select(
            F.col("cw.start").alias("window_start"),
            "n_distinct_tokens",
            "n_tokens",
            F.round(
                F.col("n_distinct_tokens") / F.col("n_tokens"), 6
            ).alias("ttr"),
        )
    )


def dataset_card_stream(
    docs: DataFrame,
    strata: tuple[str, str] = ("lang", "source"),
    text_col: str = "text",
):
    """Continuously-maintained dataset card: running per-stratum doc
    counts and token totals updated as the stream arrives, emitted
    CDC-style (one row per stratum per micro-batch that touched it,
    versioned by an update counter) for the exactly-once sink's keyed
    UPSERT mode — materialized-view maintenance, the all-time
    complement of the q79 windowed monitor (which forgets closed
    windows). Running sums/maxes are arrival-order-invariant, so the
    resolved card EQUALS the batch dataset-card aggregate (the
    oracle), under any micro-batch slicing.

    Token counts come from the shared JVM contract
    (``ws_tokens_expr``) BEFORE the stateful step; NULL text counts a
    document but contributes no tokens (SUM/MAX skip NULLs on both
    engines, mirrored by the ``seen`` counter). State = four integers
    per stratum — bounded by stratum cardinality, never data volume.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    from auto_data_tokenize_spark.operators.textstats import ws_tokens_expr

    a, b = strata
    out_schema = (
        f"{a} string, {b} string, n_docs long, total_tokens long, "
        "max_tokens long, version long"
    )

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            nd, tot, mx, seen, ver = state.get
        else:
            nd, tot, mx, seen, ver = 0, 0, 0, 0, 0
        frames = [p for p in pdfs if len(p)]
        if not frames:
            state.update((int(nd), int(tot), int(mx), int(seen), int(ver)))
            return
        rows = pd.concat(frames)
        nt = rows["_nt"].dropna()
        nd += len(rows)
        if len(nt):
            tot += int(nt.sum())
            mx = max(int(mx), int(nt.max()))
            seen += len(nt)
        ver += 1
        state.update((int(nd), int(tot), int(mx), int(seen), int(ver)))
        yield pd.DataFrame(
            {
                a: [key[0]],
                b: [key[1]],
                "n_docs": [int(nd)],
                "total_tokens": [int(tot) if seen else None],
                "max_tokens": [int(mx) if seen else None],
                "version": [int(ver)],
            }
        )

    keyed = docs.select(a, b, ws_tokens_expr(text_col).alias("_nt"))
    return keyed.groupBy(a, b).applyInPandasWithState(
        fn,
        out_schema,
        "nd long, tot long, mx long, seen long, ver long",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def assemble_sessions_stream(
    transcripts: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming conversation assembly: gap-sessionized turns of each
    conversation collected in the state store and emitted as ONE
    ordered assembled document when the watermark closes the session —
    the SFT/chat-corpus compaction step run directly on the live turn
    stream instead of a batch pass over landed turns.

    Output: (conv_id, session_start, session_end, n_turns, text) with
    ``text`` = session turns joined by a single space in (ts,
    turn_idx) order. Ordering is pinned by sorting the collected
    (ts, turn_idx, text) structs at emission — arrival order never
    matters. NULL-text turns count in ``n_turns`` but contribute
    nothing to ``text``; a session whose every turn is NULL assembles
    NULL (both engines' aggregate-skips-NULL contract, made explicit
    so the Spark side cannot emit '' where SQL string_agg yields
    NULL).

    Scale: one session-window shuffle on conv_id; state per open
    session is the collected turn structs — bounded by session length
    (the same boundedness argument as any sessionizer; pathological
    never-idle conversations are capped by the gap+watermark horizon).
    The emission sort/concat is per-session work on bounded arrays;
    the interpreted HOF cost is dwarfed by the state-store commit.
    """
    d = transcripts
    if watermark is not None:
        d = d.withWatermark(ts_col, watermark)
    return (
        d.groupBy(
            F.session_window(F.col(ts_col), gap).alias("s"), "conv_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.collect_list(
                F.struct(ts_col, "turn_idx", "text")
            ).alias("_turns"),
        )
        .select(
            "conv_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_turns",
            F.when(
                F.size(F.expr("filter(_turns, t -> t.text IS NOT NULL)"))
                > 0,
                F.concat_ws(
                    " ", F.expr("transform(array_sort(_turns), t -> t.text)")
                ),
            ).alias("text"),
        )
    )
