"""CEP-style custom stateful operator: per-conversation PII-exposure
escalation.

Pattern: ALERT when a conversation has produced detections of at least
``min_distinct`` DIFFERENT infoTypes. The alert fires once per
conversation, stamped with the event time at which the threshold was
crossed (= the first detection ts of the ``min_distinct``-th distinct
infoType) — a classic CEP "count distinct within a key" pattern the
reference cannot express (it is batch-only).

Two implementations with identical semantics:

- ``escalation_alerts_batch``: declarative DataFrame plan (also the
  DuckDB-oracle shape): per (conv_id, info_type) first-seen ts, then
  the ``min_distinct``-th smallest first-seen per conversation.
- ``escalation_alerts_stream``: ``applyInPandasWithState`` over the
  detection stream, keyed on ``STATE_BUCKETS`` hash buckets of
  conv_id — each bucket's state holds its conversations' seen
  infoTypes (≤ min_distinct), fired flag and last activity; emits
  exactly one row per conversation when the threshold crosses.
  A conversation is EXPIRED by event time once it has been idle for
  the retention period — so the state store is O(recently active
  conversations), bounded even at 10^12 turns.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

ALERT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("alert_ts", TimestampType()),
        StructField("n_info_types", IntegerType()),
    ]
)

#: State key count of ``escalation_alerts_stream``. A constant, not an
#: option: the checkpointed state is keyed by bucket, so a count that
#: changed across a restart would look conversations up in the wrong
#: bucket.
STATE_BUCKETS = 8

_STATE_SCHEMA = (
    "convs ARRAY<STRING>, seens ARRAY<ARRAY<STRING>>, "
    "fireds ARRAY<BOOLEAN>, lasts ARRAY<LONG>"
)


def escalation_alerts_batch(
    detections: DataFrame, min_distinct: int = 3
) -> DataFrame:
    """(conv_id, alert_ts, n_info_types) for conversations reaching
    ``min_distinct`` distinct infoTypes; alert_ts = first-seen ts of the
    n-th distinct infoType."""
    first_seen = detections.groupBy("conv_id", "info_type").agg(
        F.min("ts").alias("first_ts")
    )
    ranked = first_seen.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("conv_id").orderBy("first_ts", "info_type")
        ),
    )
    return (
        ranked.filter(F.col("rk") == min_distinct)
        .select(
            "conv_id",
            F.col("first_ts").alias("alert_ts"),
            F.lit(min_distinct).alias("n_info_types"),
        )
    )


def escalation_alerts_stream(
    detections: DataFrame,
    min_distinct: int = 3,
    watermark: str = "10 minutes",
    retention: str = "1 hour",
) -> DataFrame:
    """Streaming twin via applyInPandasWithState with EVENT-TIME state
    expiry: a conversation's state is dropped once the watermark passes
    (last activity + ``retention``), so the state store is O(recently
    active conversations), not O(every conversation ever seen).

    Expiry semantics (tests/test_cep.py): a conversation idle past the
    retention loses its seen-infoType set — a much-later detection
    starts a fresh count rather than completing the old one, and a
    conversation that already fired cannot double-fire within the
    retention horizon (the fired flag lives exactly as long as the
    state). Re-fires after a full retention of silence are inherent to
    ANY bounded-state design; size ``retention`` to the maximum
    plausible conversation gap.

    State is keyed on ``xxhash64(conv_id) % STATE_BUCKETS``, not on
    the conversation: per micro-batch the operator runs one Python
    invocation per bucket rather than one per live conversation (the
    cost that dominates when thousands of conversations interleave in
    every batch). Each bucket carries its ``conv -> (seen set, fired,
    last activity)`` maps as parallel state arrays. Expiry is applied
    per conversation inside the bucket (``last activity + retention <
    watermark``), with the bucket's event-time timeout registered at
    its earliest live expiry so idle buckets still evict on time."""
    retention_ms = _duration_ms(retention)

    def _fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        convs, seens, fireds, lasts = (
            state.get if state.exists else ([], [], [], [])
        )
        seen_of = {c: list(s) for c, s in zip(convs, seens)}
        fired_of = dict(zip(convs, fireds))
        last_of = dict(zip(convs, lasts))

        def _evict(active: set) -> None:
            # event-time timeout per conv: drop state once the
            # watermark passes last + retention — except convs with
            # data THIS batch, which stay live
            for c in [
                c
                for c, last in last_of.items()
                if c not in active and last + retention_ms < wm
            ]:
                del seen_of[c], fired_of[c], last_of[c]

        if state.hasTimedOut:
            _evict(set())
        else:
            out = []
            rows = []
            for pdf in pdfs:
                rows.extend(zip(pdf["conv_id"], pdf["ts"], pdf["info_type"]))
            # one global (conv, ts, info_type) sort walks every conv in
            # (ts, info_type) event-time order
            rows.sort(key=lambda r: ((r[0] is not None, r[0]), r[1], r[2]))
            active = {r[0] for r in rows}
            for conv_id, ts, it in rows:
                last_of[conv_id] = max(
                    last_of.get(conv_id, -(1 << 62)), int(ts.value) // 1_000_000
                )
                if fired_of.get(conv_id, False):
                    continue
                seen = seen_of.setdefault(conv_id, [])
                fired_of.setdefault(conv_id, False)
                if it not in seen:
                    seen.append(it)
                    if len(seen) >= min_distinct:
                        fired_of[conv_id] = True
                        out.append((conv_id, ts, len(seen)))
            _evict(active)
            if out:
                yield pd.DataFrame(
                    out, columns=["conv_id", "alert_ts", "n_info_types"]
                )
        if not last_of:
            state.remove()
            return
        ks = list(last_of)
        state.update(
            (
                ks,
                [seen_of[c] for c in ks],
                [bool(fired_of[c]) for c in ks],
                [int(last_of[c]) for c in ks],
            )
        )
        # wake when the EARLIEST live conv expires (strictly above the
        # watermark, the setTimeoutTimestamp contract)
        state.setTimeoutTimestamp(
            max(min(last_of.values()) + retention_ms, wm + 1)
        )

    d = detections
    if d.isStreaming:
        d = d.withWatermark("ts", watermark)
    return (
        d.withColumn(
            "_bkt", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(STATE_BUCKETS))
        )
        .groupBy("_bkt")
        .applyInPandasWithState(
            _fn,
            outputStructType=ALERT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _duration_ms(text: str) -> int:
    """'1 hour' / '30 minutes' / '45 seconds' → milliseconds."""
    qty, unit = text.split()
    mult = {"second": 1_000, "minute": 60_000, "hour": 3_600_000}[
        unit.rstrip("s")
    ]
    return int(qty) * mult
