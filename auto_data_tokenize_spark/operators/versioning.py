"""Corpus snapshot versioning: the delta between two corpus versions.

No reference counterpart (auto-data-tokenize processes one input per
run); this is the incremental-processing primitive a continuously
refreshed 100 TB corpus needs — given snapshot v1 and snapshot v2,
compute exactly which documents were added, removed, or changed, so
every downstream stage (dedup index maintenance, tokenize, pack)
re-processes the DELTA instead of the corpus.

Scale notes: the diff is ONE co-partitioned full-outer join on the id
— with both snapshots bucketed by id (sources/bucketing.py) it is
shuffle-free; content comparison happens on fixed-width md5 hashes
computed as narrow codegen projections, so the join never carries
document payloads. Output size is bounded by the churn, not the
corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Per-column token: md5 of the value, or a non-hex NULL sentinel. Each
# token is separator-free ([0-9a-f] or '<null>'), so joining tokens
# with the unit separator is UNAMBIGUOUS regardless of content — a
# value containing \x1f (or literally equal to the sentinel) cannot
# forge another column's token, and concat_ws's NULL-skipping never
# fires (the CASE always yields a string). (NULL, 'x') ≠ ('x', NULL)
# and ('a\x1f', 'b') ≠ ('a', '\x1fb') by construction.
_SEP = "\x1f"
_NULL_TOKEN = "<null>"


def snapshot_hash_expr(content_cols: list[str]) -> F.Column:
    """md5 over per-column md5 tokens (NULL → a non-hex sentinel),
    unit-separator-joined — the per-row content fingerprint both
    engines compute identically and that no column VALUE can forge
    (twin: :func:`duckdb_snapshot_hash_sql`)."""
    if not content_cols:
        raise ValueError("content_cols must be non-empty")
    return F.md5(
        F.concat_ws(
            _SEP,
            *[
                F.coalesce(
                    F.md5(F.col(c).cast("string")), F.lit(_NULL_TOKEN)
                )
                for c in content_cols
            ],
        )
    )


def duckdb_snapshot_hash_sql(content_cols: list[str]) -> str:
    parts = ", ".join(
        f"coalesce(md5({c}::VARCHAR), '{_NULL_TOKEN}')"
        for c in content_cols
    )
    return f"md5(concat_ws(chr(31), {parts}))"


def corpus_delta(
    old: DataFrame,
    new: DataFrame,
    content_cols: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Diff two corpus snapshots by id + content fingerprint.

    Output: (id_col, status, old_hash, new_hash) with status in
    {'added', 'removed', 'changed'}; unchanged documents are filtered
    out (the whole point — the output is the re-processing work list).
    ``old_hash`` is NULL for added rows, ``new_hash`` for removed ones.

    Requires ``id_col`` to be unique within each snapshot (it is the
    join key; duplicated ids would fan out the diff).
    """
    h = snapshot_hash_expr(content_cols)
    o = old.select(F.col(id_col), h.alias("old_hash"))
    n = new.select(F.col(id_col), h.alias("new_hash"))
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status") != "unchanged")
        .select(id_col, "status", "old_hash", "new_hash")
    )


def duckdb_corpus_delta_sql(
    old_sql: str,
    new_sql: str,
    content_cols: list[str],
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`corpus_delta`."""
    h = duckdb_snapshot_hash_sql(content_cols)
    return f"""
WITH o AS (SELECT {id_col}, {h} AS old_hash FROM ({old_sql})),
n AS (SELECT {id_col}, {h} AS new_hash FROM ({new_sql})),
j AS (
  SELECT coalesce(o.{id_col}, n.{id_col}) AS {id_col},
         o.old_hash, n.new_hash
  FROM o FULL OUTER JOIN n ON o.{id_col} = n.{id_col}
)
SELECT {id_col},
       CASE WHEN old_hash IS NULL THEN 'added'
            WHEN new_hash IS NULL THEN 'removed'
            ELSE 'changed' END AS status,
       old_hash, new_hash
FROM j
WHERE old_hash IS NULL OR new_hash IS NULL OR old_hash <> new_hash
""".strip()


class SnapshotDeltaGate:
    """Streaming ingest-time snapshot diff: as documents of the NEW
    snapshot arrive, each is fingerprinted and left-joined against the
    persisted OLD snapshot's fingerprints, emitting only 'added' and
    'changed' rows — the continuous twin of :func:`corpus_delta`'s
    forward direction, so downstream stages re-process churn as it
    lands instead of waiting for a batch diff.

        with SnapshotDeltaGate(old_df, ["text", "lang"]) as gate:
            work = gate.apply(incoming_stream)
            ... run the stream ...

    'removed' is unobservable from an arriving-doc gate (nothing
    arrives for a deletion) — removals come from the batch
    :func:`corpus_delta` or as tombstones through the upsert sink.

    100 TB shape: the old side is (id, fixed-width hash) only —
    payloads never join; it is persisted once and reused every
    micro-batch. At bench scale AQE broadcasts it; at corpus scale
    bucket both snapshots by id (sources/bucketing.py) so the
    per-trigger exchange is stream-side only.
    """

    def __init__(
        self,
        old: DataFrame,
        content_cols: list[str],
        id_col: str = "doc_id",
    ):
        if old.isStreaming:
            # fail fast with the real contract: apply() would build a
            # stream-stream outer join Spark rejects at start() with a
            # misleading watermark/range-condition AnalysisException
            raise ValueError(
                "SnapshotDeltaGate requires a BATCH old snapshot (got a "
                "streaming DataFrame); diff two live streams via the "
                "upsert sink instead"
            )
        self.content_cols = list(content_cols)
        self.id_col = id_col
        self.old_hashes = old.select(
            F.col(id_col),
            snapshot_hash_expr(self.content_cols).alias("old_hash"),
        ).persist()

    def apply(self, incoming: DataFrame) -> DataFrame:
        s = incoming.withColumn(
            "new_hash", snapshot_hash_expr(self.content_cols)
        )
        j = s.join(self.old_hashes, self.id_col, "left_outer")
        status = F.when(
            F.col("old_hash").isNull(), F.lit("added")
        ).when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
        return (
            j.withColumn("status", status)
            .filter(F.col("status").isNotNull())
            .select(self.id_col, "status", "old_hash", "new_hash")
        )

    def __enter__(self) -> "SnapshotDeltaGate":
        return self

    def __exit__(self, *exc) -> None:
        self.old_hashes.unpersist()


def incremental_band_index(
    old_index: DataFrame,
    delta: DataFrame,
    new_snapshot: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Maintain a persisted MinHash/LSH band index under a snapshot
    delta: drop the bands of removed/changed documents, compute bands
    for added/changed documents ONLY, and union with the untouched
    remainder — so keeping the near-dup index current costs O(churn),
    not O(corpus). The result is row-identical to recomputing
    ``banded_keys(minhash_signatures(new_snapshot))`` from scratch
    (banding is a pure function of the text), which is exactly what
    the oracle checks.

    ``old_index`` must be a band index over the OLD snapshot in
    :func:`~auto_data_tokenize_spark.operators.dedup.banded_keys`
    shape ``(id, band_idx, band_key)`` built with the same shingle
    width ``k`` as passed here. ``delta`` is :func:`corpus_delta`
    output over (the old snapshot, ``new_snapshot``) whose content
    columns cover ``text_col`` (a delta that ignores the text would
    miss re-banding work).

    Both joins use the SAME undifferentiated delta id projection — no
    status split needed, because 'added' ids are absent from the old
    index (the anti-join ignores them) and 'removed' ids are absent
    from the new snapshot (the semi-join ignores them). The identical
    broadcast subtree means Spark builds the delta ONCE and
    ReusedExchange feeds both joins, so the delta's full-outer
    fingerprint join is never paid twice.

    Scale shape: the delta id list is churn-bounded, so both the
    anti-join (evict stale bands) and the semi-join (select churned
    docs to re-band) broadcast it — the corpus-sized index and
    snapshot never shuffle; only churned documents pay the signature
    aggregate. For churn too large to broadcast, drop the hint and
    bucket index + snapshot by id (sources/bucketing.py) so both joins
    stay co-located.
    """
    from auto_data_tokenize_spark.operators.dedup import (
        banded_keys,
        minhash_signatures,
    )

    missing = {"id", "band_idx", "band_key"} - set(old_index.columns)
    if missing:
        raise ValueError(
            f"old_index is not banded_keys output (missing {sorted(missing)})"
        )
    # ONE shared projection (no per-join rename): identical broadcast
    # subtrees are what lets ReusedExchange feed both joins from a
    # single delta evaluation
    churn_ids = F.broadcast(delta.select(F.col(id_col).alias("_churn_id")))
    kept = old_index.join(
        churn_ids, old_index["id"] == churn_ids["_churn_id"], "left_anti"
    )
    docs = new_snapshot.select(id_col, text_col)
    fresh_docs = docs.join(
        churn_ids, docs[id_col] == churn_ids["_churn_id"], "left_semi"
    )
    fresh = banded_keys(minhash_signatures(fresh_docs, id_col, text_col, k), id_col)
    return kept.unionByName(fresh)
