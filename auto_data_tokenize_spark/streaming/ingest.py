"""Composed streaming corpus-admission pipeline — the continuous form
of the full pre-training ingest gate chain:

    crawl stream ─► quality filter ─► near-dup gate (vs corpus bands)
                 ─► decontamination gate (vs eval shingles)
                 ─► exactly-once sink (admitted documents)

The per-document ADMIT decision needs doc-level anti-join semantics
("no band collides", "no shingle overlaps") that Spark's continuous
stream-static plans can't express without a watermarked aggregation, so
the chain composes inside ``foreachBatch`` — each micro-batch is a
plain batch DataFrame where anti-joins and doc-level reductions are
legal, and the ExactlyOnceSink's batch-id commit log keeps the whole
composition exactly-once under redelivery (the admit decision is a
deterministic function of batch content and the static gate tables, so
a replayed batch re-derives identical rows and the sink no-ops).

100 TB shape per micro-batch: quality is a narrow codegen filter that
runs FIRST (cheapest, largest rejection mass); band keys are one
projection + a semi-join against the corpus band table (bucket the
corpus table at real scale so this join co-locates); eval shingles are
megabytes and broadcast. Nothing aggregates over more than one
micro-batch — no state store, no watermark.

Every static-table gate here is an :class:`AdmissionGate`: pass it as
the ``sink`` of ``pipeline.run_to_sink``, the one stream runner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink


class AdmissionGate:
    """Base of the static-table gates below. A gate is the ``sink``
    argument of :func:`~auto_data_tokenize_spark.streaming.pipeline.run_to_sink`:
    each micro-batch goes through ``admit`` and the admitted rows into
    the gate's exactly-once sink. Use it as a context manager (or call
    :meth:`close`) so the static tables it persisted are released when
    the gate retires.

        with DsirGate(ratios, default, sink, min_avg_ratio_micro6=m) as g:
            run_to_sink(stream_df, g, ckpt)
    """

    sink: ExactlyOnceSink
    _persisted: tuple[DataFrame, ...] = ()

    def _persist(self, *tables: DataFrame) -> None:
        self._persisted = tables
        for t in tables:
            t.persist()

    def admit(self, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self.sink.foreach_batch(self.admit(batch_df), batch_id)

    def close(self) -> None:
        for t in self._persisted:
            t.unpersist()

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class FluencyGate(AdmissionGate):
    """Streaming LM fluency gate (the continuous form of the
    CCNet-style perplexity filter, ``operators/lm.py``): each
    micro-batch is scored against a STATIC Stupid Backoff model —
    five hash joins per batch against the persisted count tables,
    which at production scale are count-pruned and broadcast-sized —
    and only documents at or above ``min_avg_logp`` reach the
    exactly-once sink. No state store: the model is fixed for the
    life of the gate (retrain-and-swap is a redeploy, the same
    operational contract as the reference's DLP inspection templates),
    so the admit decision is a deterministic function of batch
    content and a replayed batch no-ops at the sink.

    Emits the scored columns (n_tokens, backoff-level hit counts,
    avg_logp) alongside the id so the sink doubles as the fluency
    audit log."""

    def __init__(
        self,
        lm,
        sink: ExactlyOnceSink,
        min_avg_logp: float,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.lm = lm
        self.sink = sink
        self.min_avg_logp = float(min_avg_logp)
        self.id_col = id_col
        self.text_col = text_col
        self._persist(lm.uni, lm.bi, lm.tri, lm.total)

    def admit(self, batch_df: DataFrame) -> DataFrame:
        from auto_data_tokenize_spark.operators.lm import (
            score_stupid_backoff,
        )

        scored = score_stupid_backoff(
            batch_df, self.lm, self.id_col, self.text_col
        )
        return scored.filter(
            F.col("avg_logp") >= F.lit(self.min_avg_logp)
        )


class IngestAdmissionPipeline(AdmissionGate):
    """Composition of the three ingest gates in front of an
    :class:`ExactlyOnceSink`. ``corpus_banded`` is the static
    banded-key table (``dedup.banded_keys`` over the existing corpus —
    maintained continuously by the q78-style upsert index at real
    scale); ``eval_df`` is the held-out eval suite (doc_id, text).
    Like every gate here it runs through ``pipeline.run_to_sink``; its
    own ``foreach_batch`` also releases the micro-batch's cached
    intermediates once the sink write is done."""

    def __init__(
        self,
        corpus_banded: DataFrame,
        eval_df: DataFrame,
        sink: ExactlyOnceSink,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 5,
    ):
        from auto_data_tokenize_spark.operators.dedup import word_shingles

        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        self.sink = sink
        self._batch_cache: list[DataFrame] = []
        self.corpus_keys = corpus_banded.select(
            "band_idx", "band_key"
        ).distinct()
        self.eval_shingles = (
            word_shingles(eval_df, text_col, k, out_col="_g")
            .select(F.explode_outer(F.array_distinct("_g")).alias("_s"))
            .distinct()
        )
        self._persist(self.corpus_keys, self.eval_shingles)

    def admit(self, batch_df: DataFrame) -> DataFrame:
        """The gate chain over one (batch) DataFrame; returns the
        admitted rows with the original columns."""
        from auto_data_tokenize_spark.operators.dedup import (
            banded_keys,
            minhash_signatures_rowwise,
            word_shingles,
        )
        from auto_data_tokenize_spark.operators.textstats import (
            quality_features,
        )

        cols = batch_df.columns
        # `passed` feeds three branches (bands, the fresh anti-join,
        # and — through fresh — the final result) and `fresh` feeds
        # two; without a persist Spark re-runs the quality_features
        # scan per branch, ~3x the gate's hot-path cost. Cached per
        # micro-batch, released by _release_batch_cache() after the
        # sink write (or at close()).
        passed = (
            quality_features(batch_df, self.text_col)
            .filter("is_quality")
            .select(*cols)
            .persist()
        )
        self._batch_cache.append(passed)
        bands = banded_keys(
            minhash_signatures_rowwise(passed, self.id_col, self.text_col, self.k),
            self.id_col,
        )
        dup_ids = (
            bands.join(self.corpus_keys, ["band_idx", "band_key"], "left_semi")
            .select(F.col("id").alias(self.id_col))
            .distinct()
        )
        fresh = passed.join(dup_ids, self.id_col, "left_anti").persist()
        self._batch_cache.append(fresh)
        cont_ids = (
            word_shingles(fresh, self.text_col, self.k, out_col="_g")
            .select(
                self.id_col,
                F.explode_outer(F.array_distinct("_g")).alias("_s"),
            )
            .join(F.broadcast(self.eval_shingles), "_s", "left_semi")
            .select(self.id_col)
            .distinct()
        )
        return fresh.join(cont_ids, self.id_col, "left_anti")

    def _release_batch_cache(self) -> None:
        for df in self._batch_cache:
            df.unpersist()
        self._batch_cache.clear()

    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        try:
            self.sink.foreach_batch(self.admit(batch_df), batch_id)
        finally:
            self._release_batch_cache()

    def close(self) -> None:
        self._release_batch_cache()
        super().close()


class DsirGate(AdmissionGate):
    """Streaming DSIR admission gate (the continuous form of
    ``operators/dsir.py``): each arriving document is scored against
    a STATIC hashed-n-gram importance ratio table (built once from a
    raw corpus + target set), and only documents whose per-gram
    average ratio clears ``min_avg_ratio_micro6`` reach the
    exactly-once sink. The comparison is the exact integer
    cross-multiplication ``logw_micro6 >= min * n_grams`` — no float
    division anywhere, so a replayed batch re-derives bit-identical
    decisions. Buckets outside the static table score the both-zero
    smoothing constant (``dsir_default_ratio_micro6``), keeping the
    streaming score equal to a batch rebuild.

    Per micro-batch: one lag-window gram pass over the batch, the
    ratio table (<= n_buckets rows) broadcasts, one id groupBy. No
    state store; retrain-and-swap is a redeploy.

    Emits (id, text, n_grams, logw_micro6) — the sink doubles as the
    selection audit log."""

    def __init__(
        self,
        ratios: DataFrame,
        default_ratio_micro6: int,
        sink: ExactlyOnceSink,
        min_avg_ratio_micro6: int,
        n_buckets: int = 4096,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.ratios = ratios.select("bucket", "ratio_micro6")
        self._persist(self.ratios)
        self.default_ratio_micro6 = int(default_ratio_micro6)
        self.sink = sink
        self.min_avg_ratio_micro6 = int(min_avg_ratio_micro6)
        self.n_buckets = n_buckets
        self.id_col = id_col
        self.text_col = text_col

    def admit(self, batch_df: DataFrame) -> DataFrame:
        from auto_data_tokenize_spark.operators.dsir import (
            score_against_ratios,
        )

        scored = score_against_ratios(
            batch_df,
            self.ratios,
            self.default_ratio_micro6,
            self.n_buckets,
            self.id_col,
            self.text_col,
        )
        return (
            batch_df.join(scored, self.id_col)
            .where(
                F.col("logw_micro6")
                >= F.lit(self.min_avg_ratio_micro6) * F.col("n_grams")
            )
            .select(
                self.id_col, self.text_col, "n_grams", "logw_micro6"
            )
        )


class BoilerplateGate(AdmissionGate):
    """Streaming boilerplate-span admission gate (the continuous form
    of :func:`operators.lines.remove_duplicated_spans`'s census): each
    arriving document is scored for the fraction of its tokens covered
    by k-token windows from a STATIC duplicated-window census
    (``operators.lines.duplicated_window_hashes`` over the existing
    corpus), and only documents at or below ``max_covered_frac`` reach
    the exactly-once sink — a crawl page that is mostly known
    site-chrome never lands in the corpus.

    No state store: the census is fixed for the life of the gate
    (rebuild-and-swap, the same operational contract as the other
    static-table gates), so the admit decision is deterministic and a
    replayed micro-batch no-ops at the sink. Per micro-batch the doc
    side does one forward-frame window pass (Exchange on the batch's
    id only); the census join is stream-static against the persisted
    hash set (bounded by the repeated-boilerplate universe — broadcast
    when pruned, bucketed at full scale).

    Emits (id, text, n_tokens, n_covered, covered_frac) so the sink
    doubles as the admission audit log.
    """

    def __init__(
        self,
        census: DataFrame,
        sink: ExactlyOnceSink,
        max_covered_frac: float,
        k: int = 8,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        if not (0.0 <= max_covered_frac <= 1.0):
            raise ValueError(
                "max_covered_frac must be in [0, 1], got "
                f"{max_covered_frac!r}"
            )
        if k < 2:
            raise ValueError(f"k must be >= 2, got {k}")
        self.census = census.select("window_hash")
        self._persist(self.census)
        self.sink = sink
        self.max_covered_frac = float(max_covered_frac)
        self.k = k
        self.id_col = id_col
        self.text_col = text_col

    def admit(self, batch_df: DataFrame) -> DataFrame:
        from auto_data_tokenize_spark.operators.lines import span_coverage

        cov = span_coverage(
            batch_df, self.census, self.k, self.id_col, self.text_col
        )
        return (
            batch_df.join(cov, self.id_col)
            .where(
                F.col("covered_frac") <= F.lit(self.max_covered_frac)
            )
            .select(
                self.id_col,
                self.text_col,
                "n_tokens",
                "n_covered",
                "covered_frac",
            )
        )


class SemanticDedupGate(AdmissionGate):
    """Streaming semantic-dedup admission gate (the continuous form of
    ``similarity.semantic_dedup``): each arriving embedding is probed
    against the FROZEN k-means centroids of the existing corpus, joined
    to the corpus's persisted cell table to collect candidate
    neighbors, exact-rescored with true cosine, and admitted only if no
    corpus vector reaches ``threshold``. The centroids are fixed for
    the life of the gate (retrain-and-swap is a redeploy, same contract
    as :class:`FluencyGate`'s LM), so the admit decision is a
    deterministic function of batch content + static tables and a
    replayed batch no-ops at the exactly-once sink.

    100 TB shape per micro-batch: probing is one Arrow matmul over the
    batch (centroids are nlist × dim, broadcast by closure); the
    candidate join is keyed on the int cell id against the
    cell-partitioned corpus table (bucket it at real scale); the
    rescore touches only candidates. Recall of the probe at the
    configured (nlist, nprobe) is pinned by tests, the same
    methodology that backs the batch operator's brute-force oracle."""

    def __init__(
        self,
        corpus: DataFrame,
        sink: ExactlyOnceSink,
        threshold: float = 0.9,
        nlist: int = 16,
        nprobe: int = 4,
        iters: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 42,
    ):
        from auto_data_tokenize_spark.operators.similarity import (
            semantic_cells,
        )

        if nprobe < 1:
            # nprobe=0 would silently admit EVERYTHING (empty probe
            # list → zero candidates → no collisions); fail loudly
            raise ValueError(f"nprobe must be >= 1, got {nprobe}")
        self.sink = sink
        self.threshold = float(threshold)
        self.nprobe = int(nprobe)
        self.id_col = id_col
        self.vec_col = vec_col
        cells, cents = semantic_cells(
            corpus, nlist, nprobe, iters, id_col, vec_col, seed
        )
        self.cents = cents
        self.corpus_cells = cells.withColumnRenamed(id_col, "_cid")
        self.corpus_vecs = corpus.select(
            F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cv")
        )
        self._persist(self.corpus_cells, self.corpus_vecs)

    def admit(self, batch_df: DataFrame) -> DataFrame:
        from auto_data_tokenize_spark.operators.similarity import (
            _argmin_cells_udf,
            with_cosine,
        )

        if len(self.cents) == 0:
            # empty corpus: nothing to collide with — admit everything
            return batch_df
        # as_array=True: n collapses to 1 for a single-centroid corpus
        # (or nprobe=1) and the explode below needs an ARRAY column
        n = min(self.nprobe, len(self.cents))
        probed = batch_df.withColumn(
            "_cells",
            _argmin_cells_udf(self.cents, n=n, as_array=True)(
                F.col(self.vec_col)
            ),
        ).select(
            self.id_col, F.explode_outer("_cells").alias("_cell")
        )
        cand = (
            probed.join(self.corpus_cells, "_cell")
            .select(self.id_col, "_cid")
            .distinct()
            .join(self.corpus_vecs, "_cid")
            .join(
                batch_df.select(
                    self.id_col, F.col(self.vec_col).alias("_av")
                ),
                self.id_col,
            )
        )
        dup_ids = (
            with_cosine(cand, "_av", "_cv")
            .filter(F.col("cosine") >= self.threshold)
            .select(self.id_col)
            .distinct()
        )
        return batch_df.join(dup_ids, self.id_col, "left_anti")


class NbQualityGate(AdmissionGate):
    """Streaming quality-classifier admission gate (the continuous
    form of ``operators/quality_clf.py``): each arriving document is
    scored against a STATIC Naive-Bayes model — the ratio table is
    vocabulary-bounded (count-cutoff pruned) and broadcasts per
    micro-batch — and only documents whose exact integer log-posterior
    ratio clears ``min_score_micro6`` reach the exactly-once sink.
    Integer compares only, so a replayed batch re-derives bit-identical
    decisions; retrain-and-swap is a redeploy (the FluencyGate/DsirGate
    operational contract).

    Emits (id, text, n_tokens, score_micro6) — the sink doubles as the
    classifier audit log."""

    def __init__(
        self,
        model,
        sink: ExactlyOnceSink,
        min_score_micro6: int,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.model = model
        self.sink = sink
        self.min_score_micro6 = int(min_score_micro6)
        self.id_col = id_col
        self.text_col = text_col
        self._persist(model.ratios, model.defaults)

    def admit(self, batch_df: DataFrame) -> DataFrame:
        from auto_data_tokenize_spark.operators.quality_clf import (
            score_nb,
        )

        scored = score_nb(
            batch_df, self.model, self.id_col, self.text_col
        )
        return (
            batch_df.join(scored, self.id_col)
            .where(F.col("score_micro6") >= F.lit(self.min_score_micro6))
            .select(self.id_col, self.text_col, "n_tokens", "score_micro6")
        )

    def close(self) -> None:
        super().close()
        self.model.unpersist()


def source_quota_stream(
    stream_df: DataFrame,
    quota: int,
    duration: str = "1 minute",
    key_col: str = "source",
    ts_col: str = "ts",
    id_col: str = "doc_id",
):
    """Per-(event-time window, source) admission quota on a live
    ingest stream: the first ``quota`` documents of each source in
    each tumbling window are admitted (with their admission rank);
    everything after is dropped — flood control, so one crawl feed
    bursting cannot flush the rest of the mix out of a processing
    window's budget.

    Ordering contract: admission is order-dependent, so the stream
    must deliver each (window, source) group's documents in event
    order (the append-log shape; within a micro-batch the operator
    sorts by (ts, id)). Under that contract decisions are invariant to
    micro-batch slicing — state carries the admitted count, so a group
    split across triggers admits exactly the same documents as one big
    trigger (pinned by test).

    Unlike a windowed aggregation there is NO watermark holdback:
    every arriving document is decided immediately (admit-or-drop is a
    function of state, not of window closure), so the committed output
    equals the batch row_number() twin with no final-watermark
    predicate. State is ONE integer per open (window, source);
    NoTimeout keeps the bench deterministic — at production retention,
    wire EventTimeTimeout so closed windows' counters expire instead
    of accumulating (the documented applyInPandasWithState timeout
    cost amortizes at production trigger sizes).

    Scale: window assignment is a pure projection; one shuffle on
    (window, source) per micro-batch with state bounded by key
    cardinality, never data volume.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    q = int(quota)
    if q < 1:
        raise ValueError(f"quota must be >= 1 (got {quota})")

    out_schema = (
        f"window_start timestamp, {key_col} string, {id_col} long, "
        f"{ts_col} timestamp, rank long"
    )

    def fn(key, pdfs, state: GroupState):
        taken = state.get[0] if state.exists else 0
        frames = [p for p in pdfs if len(p)]
        if not frames:
            state.update((int(taken),))
            return
        rows = pd.concat(frames).sort_values([ts_col, id_col])
        admit = max(0, min(q - taken, len(rows)))
        state.update((int(taken + admit),))
        if not admit:
            return
        out = rows.iloc[:admit]
        yield pd.DataFrame(
            {
                "window_start": out["window_start"].to_numpy(),
                key_col: key[1],
                id_col: out[id_col].to_numpy(),
                ts_col: out[ts_col].to_numpy(),
                "rank": (taken + 1 + pd.RangeIndex(admit)).astype("int64"),
            }
        )

    keyed = stream_df.select(
        F.window(ts_col, duration)["start"].alias("window_start"),
        key_col,
        id_col,
        ts_col,
    )
    return keyed.groupBy("window_start", key_col).applyInPandasWithState(
        fn, out_schema, "taken long", "append", GroupStateTimeout.NoTimeout
    )


def stratified_reservoir_stream(
    stream_df: DataFrame,
    strata: list[str],
    n_per_stratum: int = 10,
    id_col: str = "doc_id",
    seed: str = "adt-strat-v1",
):
    """Live deterministic stratified sample: maintain, per stratum, the
    ``n_per_stratum`` documents that sort FIRST by ``md5(seed:id)`` as
    the stream arrives — the continuously-current form of the batch
    ``operators.corpus.stratified_sample`` (same seed ⇒ the final
    maintained sample EQUALS the batch sample over the same corpus,
    which is the oracle).

    Unlike the order-contract gates (pack, quota), bottom-k of a set is
    ARRIVAL-ORDER-INVARIANT: any arrival order and any micro-batch
    slicing converge to the same final sample. Emission is CDC-style:
    each micro-batch emits only the sample SLOTS whose occupant changed
    (slot = rank in the maintained order), versioned by a per-stratum
    update counter, intended for the exactly-once sink's keyed upsert
    mode (key = strata + slot) whose merge-on-read resolution yields
    the current sample.

    The hash rank ``md5(seed:id)`` is computed JVM-side BEFORE the
    stateful step (the shared-expression house rule); the Python side
    only merges sorted lists. State = at most n (hash, id) pairs + one
    counter per stratum — bounded by strata × n, never data volume.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    n = int(n_per_stratum)
    if n < 1:
        raise ValueError(f"n_per_stratum must be >= 1 (got {n_per_stratum})")
    if not strata:
        raise ValueError("strata must be non-empty")

    strata_schema = ", ".join(f"{c} string" for c in strata)
    out_schema = (
        f"{strata_schema}, slot long, {id_col} long, version long"
    )

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            hashes, ids, ver = state.get
            hashes, ids = list(hashes), list(ids)
        else:
            hashes, ids, ver = [], [], 0
        frames = [p for p in pdfs if len(p)]
        if not frames:
            state.update((hashes, ids, int(ver)))
            return
        rows = pd.concat(frames)
        old = list(zip(hashes, ids))
        merged = sorted(
            set(old) | set(zip(rows["_h"], rows[id_col].astype(int)))
        )[:n]
        changed = [
            (slot, h, i)
            for slot, (h, i) in enumerate(merged, start=1)
            if slot > len(old) or old[slot - 1] != (h, i)
        ]
        if not changed:
            state.update((hashes, ids, int(ver)))
            return
        ver = int(ver) + 1
        state.update(
            ([h for h, _ in merged], [i for _, i in merged], ver)
        )
        out = {c: [key[k]] * len(changed) for k, c in enumerate(strata)}
        out["slot"] = [s for s, _, _ in changed]
        out[id_col] = [i for _, _, i in changed]
        out["version"] = [ver] * len(changed)
        yield pd.DataFrame(out)

    keyed = stream_df.select(
        *strata,
        F.col(id_col),
        F.md5(
            F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
        ).alias("_h"),
    )
    return keyed.groupBy(*strata).applyInPandasWithState(
        fn,
        out_schema,
        "hashes array<string>, ids array<long>, ver long",
        "append",
        GroupStateTimeout.NoTimeout,
    )


class AsofEnrichGate(AdmissionGate):
    """Streaming SCD2-style dimension enrichment: each arriving event
    is joined to the LATEST version of a static versioned dimension
    at-or-before its event time (``operators.asof.asof_join`` per
    micro-batch inside foreachBatch — a stream-static AS-OF is not
    expressible as a continuous plan without a watermarked aggregation,
    the same structural reason as the admission pipeline above).

        with AsofEnrichGate(dim, sink, on="user_id", right_ts="vts") as g:
            run_to_sink(event_stream, g, ckpt)

    The enrichment is a deterministic function of batch content and
    the persisted dimension, so a redelivered batch re-derives
    identical rows and the exactly-once sink no-ops — and the result
    equals the batch as-of join over the same events (the oracle).

    100 TB shape: the dimension persists once and is re-used every
    trigger (bucket it by the key at real scale so the per-trigger
    as-of's single key shuffle is stream-side only); per batch the
    as-of is one shuffle + a last-non-null window, never a range
    blowup. Dimension updates are a swap-and-redeploy, the same
    operational contract as the other static-model gates here.
    """

    def __init__(
        self,
        dim: DataFrame,
        sink: ExactlyOnceSink,
        on: str,
        left_ts: str = "ts",
        right_ts: str = "vts",
        right_cols: list[str] | None = None,
        how: str = "left",
        right_tiebreak: str | None = None,
    ):
        if dim.isStreaming:
            raise ValueError(
                "AsofEnrichGate requires a BATCH dimension (got a "
                "streaming DataFrame); maintain a live dimension through "
                "the upsert sink and swap snapshots instead"
            )
        self.sink = sink
        self.on = on
        self.left_ts = left_ts
        self.right_ts = right_ts
        self.right_cols = right_cols
        self.how = how
        self.right_tiebreak = right_tiebreak
        self.dim = dim
        self._persist(dim)

    def admit(self, batch_df: DataFrame) -> DataFrame:
        from auto_data_tokenize_spark.operators.asof import asof_join

        return asof_join(
            batch_df,
            self.dim,
            on=self.on,
            left_ts=self.left_ts,
            right_ts=self.right_ts,
            right_cols=self.right_cols,
            how=self.how,
            right_tiebreak=self.right_tiebreak,
        )
