"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship tokenize query at sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent SQL for the correctness gate.

The engine's primary input (transcripts) is not part of the driver's
TPC-H-ish tables, so it is synthesized deterministically (seed-fixed;
auto_data_tokenize_spark/datagen.py) under ``/root/repo/data/<sf>/``,
and oracle SQL reads those parquet files via absolute-path
``read_parquet``. Queries over ``events``/``documents``/``embeddings``
use the driver's pre-registered views directly.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in __import__("sys").path:
    __import__("sys").path.insert(0, REPO)

_PREPPED: set[str] = set()


def _prep(spark: SparkSession) -> None:
    """Make the package importable on executors regardless of the
    harness's cwd/session: ship it once per session via addPyFile
    (the in-session analogue of `spark-submit --py-files`)."""
    import zipfile

    sid = spark.sparkContext.applicationId
    if sid in _PREPPED:
        return
    zip_path = os.path.join("/tmp", "adt_pkg_for_executors.zip")
    if not _PREPPED:  # rebuild once per process so edits aren't shadowed
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            pkg = os.path.join(REPO, "auto_data_tokenize_spark")
            for root, _, files in os.walk(pkg):
                for f in files:
                    if f.endswith(".py"):
                        p = os.path.join(root, f)
                        z.write(p, os.path.relpath(p, REPO))
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _PREPPED.add(sid)


def _sf_name(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark import datagen
    from auto_data_tokenize_spark.sources.readers import read_transcripts

    d = datagen.ensure_sf(_sf_name(sf_dir))
    return read_transcripts(spark, os.path.join(d, "transcripts.parquet"))


def _detections(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.operators.identify import detections

    return detections(_transcripts(spark, sf_dir))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: free-form detect+tokenize of the transcript table
    under stable (conv_id, turn_idx) ordering (the reference's
    CsvTokenizationAndOrderingPipeline query)."""
    from auto_data_tokenize_spark.operators.ordering import globally_sorted
    from auto_data_tokenize_spark.operators.tokenize import tokenize_turns

    _prep(spark)
    df = _transcripts(spark, "/root/testdata/sf0.001")
    return globally_sorted(
        tokenize_turns(df).select("conv_id", "turn_idx", "role", "text_tok", "ts")
    )


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def q01_tokenize_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.operators.tokenize import tokenize_turns

    return tokenize_turns(_transcripts(spark, sf_dir)).select(
        "conv_id", "turn_idx", "text_tok"
    )


def q02_detections(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _detections(spark, sf_dir).select(
        "conv_id", "turn_idx", "info_type", "start", "end", "token"
    )


def q03_column_infotype_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.operators.identify import column_infotype_counts

    return column_infotype_counts(_transcripts(spark, sf_dir), ["text"]).select(
        "column_name", "info_type", F.col("count").alias("n")
    )


def q04_infotype_freq_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.operators.windows import infotype_frequencies

    return infotype_frequencies(_detections(spark, sf_dir), "5 minutes")


def q05_session_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.operators.windows import session_reports

    return session_reports(_detections(spark, sf_dir), "30 minutes").select(
        "conv_id", "session_start", "session_end", "n_detections", "n_info_types"
    )


def q06_sample_per_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.operators.sampler import sample_per_column

    return sample_per_column(
        _transcripts(spark, sf_dir), ["text", "role", "tool"], n=50, seed=42
    )


def q07_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def q08_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.operators.windows import sessionize_generic

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return sessionize_generic(
        ev, "user_id", gap="30 minutes", value_col="value"
    )


def q09_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.sources.readers import ensure_parallelism

    return ensure_parallelism(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    )


def q10_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.operators.textstats import token_counts

    return token_counts(_documents(spark, sf_dir)).select(
        "doc_id", "n_chars", "n_ws_tokens", "n_bpeish_tokens"
    )


def q11_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.operators.textstats import quality_features

    return quality_features(_documents(spark, sf_dir)).select(
        "doc_id", "n_stop_hits", "n_punct", "is_quality"
    )


def q12_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.operators.textstats import language_id

    return language_id(_documents(spark, sf_dir)).select("doc_id", "pred_lang")


def q13_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.operators.textstats import fingerprint

    return fingerprint(_documents(spark, sf_dir)).select("doc_id", "fingerprint")


def q14_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.operators.dedup import minhash_signatures

    sig = minhash_signatures(_documents(spark, sf_dir))
    # posexplode_outer, deliberately: plain posexplode makes Catalyst's
    # InferFiltersFromGenerate synthesize `size(sig) > 0` below the
    # exchange, re-evaluating the full 64-hash signature expression on
    # the unparallelized scan (200s vs 6s at sf0.1). sig is always
    # 64 elements, so _outer is semantically identical here.
    return sig.select(
        "doc_id", F.posexplode_outer("sig").alias("j", "minhash")
    )


def q15_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sig = minhash_signatures(_documents(spark, sf_dir))
    return lsh_candidate_pairs(sig)


def q16_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.operators.dedup import minhash_dedup

    return minhash_dedup(_documents(spark, sf_dir))


def q17_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.operators.similarity import cosine_topk

    # NO ensure_parallelism here, measured deliberately: repartitioning
    # the wide embedding arrays costs more than the single-task scan
    # saves at this scale (1.06 s -> 1.42 s), unlike the crypto
    # round-trips where per-row work dominates
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return cosine_topk(emb, queries_df, k=10).select(
        "query_id", "vec_id", "cosine", "rank"
    )


def _augmented_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's embeddings are i.i.d. random (max pairwise cosine
    ≈ 0.60 at sf0.1) — near-dup queries over them alone are vacuous
    0-row checks. Augment with deterministic, SQL-expressible planted
    near-copies: for vec_id < 50, v' = v + c·reverse(v) at
    vec_id + 1_000_000, with c = 0.3 (cos ≈ 0.95-0.96, kept at the 0.9
    threshold) for vec_id < 25 and c = 0.55 (cos ≈ 0.86-0.92,
    straddling the threshold) otherwise. The q18 oracle recomputes the
    identical augmentation in DuckDB, so both engines score the same
    corpus with real pairs on both sides of the cut."""
    # no ensure_parallelism: measured 3.0 s -> 4.5 s WITH it (the
    # embedding-array shuffle dominates; see q17's note)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    planted = base.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(
            "zip_with(v, reverse(v), (x, y) -> x +"
            " if(vec_id < 25, cast(0.3 as double), cast(0.55 as double)) * y)"
        ).alias("v"),
    )
    return base.unionByName(planted)


def q18_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs (cosine ≥ 0.9) found through multi-table
    LSH candidates + exact rescore; recall 1.0 at these parameters on
    this corpus is pinned by tests/test_similarity.py, which is what
    lets the exact brute-force SQL oracle apply. (10 planes, 24 tables:
    offline sweep showed 6.5x lower candidate volume than 6/16 at the
    same measured recall 1.0 on both sf0.01 and sf0.1.)"""
    from auto_data_tokenize_spark.operators.similarity import embedding_near_dups

    aug = _augmented_embeddings(spark, sf_dir)
    return embedding_near_dups(
        aug, threshold=0.9, dim=64, n_planes=10, n_tables=24, vec_col="v"
    )


def q19_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All doc pairs with SimHash Hamming distance ≤ 8 — exact by the
    pigeonhole block guarantee (n_blocks defaults to max_hamming + 1;
    the round-1 n_blocks=4 recall hole is structurally closed), and the
    signature itself is a pure JVM expression the DuckDB oracle
    recomputes verbatim."""
    from auto_data_tokenize_spark.operators.dedup import simhash_near_dups

    return simhash_near_dups(_documents(spark, sf_dir), max_hamming=8)


def q29_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (SIGMOD'03) partial-overlap fingerprints per doc —
    pure JVM expressions, recomputed verbatim by the DuckDB oracle."""
    from auto_data_tokenize_spark.operators.textstats import winnowing_fingerprints

    return winnowing_fingerprints(_documents(spark, sf_dir))


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark import datagen
    from auto_data_tokenize_spark.sources.readers import ensure_parallelism

    d = datagen.ensure_media(_sf_name(sf_dir))
    return ensure_parallelism(spark.read.parquet(os.path.join(d, "media.parquet")))


def q30_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction over binary media columns
    (mapInPandas plumbing with the deterministic fake decoder); the
    oracle is an INDEPENDENT pure-Python reimplementation of the
    decode spec materialized as golden parquet (datagen)."""
    from auto_data_tokenize_spark.operators.multimodal import extract_features

    feats = extract_features(_media(spark, sf_dir), dim=16)
    return feats.select(
        "media_id",
        "feat_dim",
        F.round(
            F.expr(
                "aggregate(transform(feature, x -> cast(x as double)),"
                " cast(0.0 as double), (a, v) -> a + v)"
            ),
            6,
        ).alias("feat_sum"),
    )


def q31_video_frame_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling fan-out (one row per sampled timestamp) folded
    back to per-video counts — a pure-SQL-checkable property of the
    UDTF-shaped mapInPandas stage."""
    from auto_data_tokenize_spark.operators.multimodal import sample_frames

    frames = sample_frames(_media(spark, sf_dir), every_ms=1000)
    return frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_frames"))


def q20_column_tokenize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-column tokenize → detokenize must reproduce the input
    exactly (ValueTokenizer encrypt/decrypt contract) — the oracle is
    simply the original columns."""
    from auto_data_tokenize_spark.operators.tokenize import (
        detokenize_columns,
        tokenize_columns,
    )

    from auto_data_tokenize_spark.sources.readers import ensure_parallelism

    # the scan partition count IS the crypto parallelism here (pure
    # projection, no shuffle) — a single small parquet file would
    # otherwise serialize the per-value AES-SIV onto one core
    cust = ensure_parallelism(
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    ).select("c_custkey", "c_name", "c_acctbal")
    enc = tokenize_columns(cust, ["c_name", "c_acctbal"], scope_col="c_custkey")
    # no original_types dict: restoration flows through the
    # ORIGINAL_TYPE column metadata tokenize_columns stamped
    return detokenize_columns(
        enc, ["c_name", "c_acctbal"], scope_col="c_custkey"
    ).select("c_custkey", "c_name", "c_acctbal")


def q21_infotype_freq_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.operators.windows import infotype_frequencies

    return infotype_frequencies(
        _detections(spark, sf_dir), "10 minutes", slide="5 minutes"
    )


def _staged_transcripts(case, sf_dir: str) -> DataFrame:
    """The transcripts fixture staged as 8 ts-ordered files under the
    case dir, read back as one single-trigger stream. Single trigger ⇒
    the initial watermark is -inf, so no in-batch drops; append-mode
    output is governed by the FINAL watermark = max(event ts) - delay,
    which the oracles reproduce in SQL."""
    from auto_data_tokenize_spark import datagen
    from auto_data_tokenize_spark.streaming import source

    d = datagen.ensure_sf(_sf_name(sf_dir))
    staged = source.stage_stream_input(
        os.path.join(d, "transcripts.parquet"),
        os.path.join(case.dir, "in"),
        n_files=8,
    )
    return source.transcripts_stream(case.spark, staged)


def q22_stream_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch golden, reproduced through Structured Streaming +
    the exactly-once sink (north_rule: same rows for the same input
    stream + watermark)."""
    from auto_data_tokenize_spark.streaming import pipeline

    with _stream_case(spark, "q22") as case:
        # no repartition here, measured deliberately: AES-SIV spans are
        # cheap enough that the exchange costs more than it buys
        # (3.6 s → 5.1 s warm at sf0.1), unlike q77's FF1 stream
        tok = pipeline.tokenize_stream(_staged_transcripts(case, sf_dir))
        return case.run(tok).select("conv_id", "turn_idx", "text_tok")


def q23_stream_session_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-closed session reports from the state store (append
    mode emits sessions with session_end <= max(ts) - delay, verified
    empirically; the oracle applies the same filter in SQL)."""
    from auto_data_tokenize_spark.streaming import pipeline

    with _stream_case(spark, "q23") as case:
        sessions = pipeline.session_report_stream(
            _staged_transcripts(case, sf_dir),
            gap="30 minutes",
            watermark="10 minutes",
        )
        # small-state single trigger: see run_to_sink
        result = case.run(sessions, shuffle_partitions=8)
    return result.select(
        "conv_id", "session_start", "session_end", "n_detections", "n_info_types"
    )


def q32_stream_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup (q09's streaming twin): per (hour window,
    text hash) first occurrence + copy count through the exactly-once
    sink; append mode emits only watermark-closed windows, which
    the oracle reproduces with the same final-watermark filter."""
    from auto_data_tokenize_spark.streaming import pipeline

    with _stream_case(spark, "q32") as case:
        firsts = pipeline.dedup_stream(
            _staged_transcripts(case, sf_dir),
            window="1 hour",
            watermark="10 minutes",
        )
        # small-state single trigger: see run_to_sink
        result = case.run(firsts, shuffle_partitions=8)
    return result.select(
        "window_start", "text_hash", "first_conv_id", "first_turn_idx", "n_copies"
    )


def q33_asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event picks the user's LATEST view
    event at-or-before the purchase time — the operator Spark lacks
    natively (DuckDB has ASOF JOIN, which is the oracle), built as
    union + one last-non-null window pass: a single shuffle on the
    key, vs a range join's two shuffles + full candidate-pair blowup."""
    from auto_data_tokenize_spark.operators.asof import asof_join

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    return asof_join(
        purchases, views, on="user_id", right_cols=["view_id"],
        right_tiebreak="view_id",
    ).select(
        "event_id", "user_id", "ts", "value",
        F.col("ts_asof").alias("view_ts"),
        F.col("view_id_asof").alias("view_id"),
    )


def q34_nested_tokenize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested/array tokenize-rename round-trip through the oracle gate
    (TokenizeColumnNameUpdater parity): nest customer columns into a
    struct + an array, tokenize the leaves in place (encrypted_* rename,
    types in column metadata), detokenize, and flatten back — the
    oracle is simply the original columns."""
    from auto_data_tokenize_spark.operators.tokenize import (
        detokenize_nested,
        tokenize_nested,
    )

    from auto_data_tokenize_spark.sources.readers import ensure_parallelism

    # scan partitions = crypto parallelism (see q20)
    cust = ensure_parallelism(
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    )
    nested = cust.select(
        "c_custkey",
        F.struct(F.col("c_name").alias("name"), F.col("c_acctbal").alias("bal")).alias("profile"),
        F.array("c_mktsegment").alias("segments"),
    )
    keys = ["$.profile.name", "$.profile.bal", "$.segments"]
    enc = tokenize_nested(nested, keys, scope_col="c_custkey")
    dec = detokenize_nested(enc, keys, scope_col="c_custkey")
    return dec.select(
        "c_custkey",
        F.col("profile.name").alias("c_name"),
        F.col("profile.bal").alias("c_acctbal"),
        F.col("segments")[0].alias("c_mktsegment"),
    )


def q35_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-count quantiles (exact interpolated
    percentiles — the length-cutoff calibration query); oracle =
    DuckDB quantile_cont, same continuous definition."""
    from auto_data_tokenize_spark.operators.textstats import length_quantiles_by_lang

    return length_quantiles_by_lang(_documents(spark, sf_dir))


def q36_stream_near_dup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest gate (stream-static join): incoming documents
    — the corpus re-crawled with ids offset; one third exact, one
    third lightly edited, one third novel — are flagged when any LSH band collides with the EXISTING corpus'
    banded signature table. Output: matched incoming doc ids. The
    oracle recomputes both sides' signatures/bands in SQL, so the gate
    decision (band collision, not fuzzy similarity) is exact."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.dedup import (
        NearDupGate,
        banded_keys,
        minhash_signatures,
    )

    corpus_banded = banded_keys(minhash_signatures(_documents(spark, sf_dir)))

    with _stream_case(spark, "q36") as case:
        in_dir = f"{case.dir}/in"
        os.makedirs(in_dir)
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
            ["doc_id", "text"]
        ]
        def _mutate(i, t):
            if i % 3 == 2:  # genuinely novel content — the gate must NOT flag
                return f"novel content row {i} with entirely fresh unseen words"
            if i % 3 == 1:  # light edit — near-dup, bands mostly survive
                return "edited v2 " + t
            return t  # exact re-crawl — every band collides
        pdf["text"] = [_mutate(i, t) for i, t in zip(pdf["doc_id"], pdf["text"])]
        pdf["doc_id"] = pdf["doc_id"] + 1000000
        # stage as multiple files so the micro-batch scan itself
        # parallelizes (one small parquet file = one scan partition); the
        # gate's internal repartition covers single-file feeds regardless
        n_files = 8
        for i in range(n_files):
            pdf.iloc[i::n_files].to_parquet(f"{in_dir}/docs-{i}.parquet", index=False)

        st = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
        with NearDupGate(corpus_banded) as gate:
            result = case.run(gate.apply(st))
    return result.select(F.col("id").alias("doc_id")).distinct()


def q37_avro_tokenize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's primary wire format exercised end-to-end on
    real .avro bytes (TransformingReader.java:221-223,
    EncryptionPipeline.java:125-132): customer columns → Avro container
    files (pure-Python codec when the spark-avro jar is absent) →
    read back → tokenize → detokenize. Oracle = the original columns:
    the whole loop must be lossless."""
    import shutil
    import tempfile

    from auto_data_tokenize_spark.operators.tokenize import (
        detokenize_columns,
        tokenize_columns,
    )
    from auto_data_tokenize_spark.sources.avro_io import read_avro, write_avro

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    base = tempfile.mkdtemp(prefix="adt_q37_")
    write_avro(cust, f"{base}/in")
    loaded = read_avro(spark, f"{base}/in")
    enc = tokenize_columns(loaded, ["c_name", "c_acctbal"], scope_col="c_custkey")
    dec = detokenize_columns(enc, ["c_name", "c_acctbal"], scope_col="c_custkey")
    write_avro(dec.select("c_custkey", "c_name", "c_acctbal"), f"{base}/out")
    # adopt the written container files (same keep-dir pattern as the
    # stream sinks) and return the LAZY distributed avro read instead
    # of a driver toPandas round trip of every row
    keep = _keep_dir()
    shutil.move(f"{base}/out", f"{keep}/out")
    result = read_avro(spark, f"{keep}/out")
    shutil.rmtree(base, ignore_errors=True)
    return result


def q38_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters (LSH candidates → exact verify →
    iterative connected components): every doc labeled with the
    smallest doc_id in its near-dup component. Oracle = DuckDB
    recursive CTE computing min-over-reachable on the identical
    verified edge set — pins the TRANSITIVE semantics q16's greedy
    pairwise dup_of cannot express."""
    from auto_data_tokenize_spark.operators.dedup import dup_clusters

    return dup_clusters(_documents(spark, sf_dir))


def q39_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus preparation pipeline (plans/pipelines.py): C4/
    Gopher-style quality gate → language filter → transitive near-dup
    clustering → one representative per cluster. Oracle = the same
    filters + recursive-CTE components in SQL. Output: surviving
    doc_ids."""
    from auto_data_tokenize_spark.plans.pipelines import (
        CorpusPrepConfig,
        prepare_corpus,
    )

    out = prepare_corpus(_documents(spark, sf_dir), CorpusPrepConfig())
    return out.select("doc_id")


def q40_stream_infotype_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical windowed rollup on the detection stream: 5-minute
    tumbling counts re-aggregated into hourly windows in ONE streaming
    query (two chained stateful aggregations; Spark ≥ 3.4
    ``window_time``). Append mode emits hourly windows closed by the
    final watermark; the oracle reproduces the same two-level rollup +
    watermark filter in SQL."""
    import pandas as pd

    from auto_data_tokenize_spark import datagen
    from auto_data_tokenize_spark.operators.windows import infotype_rollup
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    d = datagen.ensure_sf(_sf_name(sf_dir))
    with _stream_case(spark, "q40") as case:
        det_in = f"{case.dir}/det"
        os.makedirs(det_in)
        det_pd = pd.read_parquet(os.path.join(d, "detections.parquet"))
        det_pd[["info_type", "ts"]].to_parquet(f"{det_in}/d.parquet", index=False)

        schema = StructType(
            [StructField("info_type", StringType()), StructField("ts", TimestampType())]
        )
        st = spark.readStream.schema(schema).parquet(det_in)
        rollup = infotype_rollup(st, watermark="10 minutes")
        return case.run(rollup, shuffle_partitions=2)


def q41_view_purchase_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch interval join (binned; operators/asof.py range_join): all
    (purchase, view) pairs per user with the view in the hour before
    the purchase — the attribution-candidate query. Oracle = the naive
    BETWEEN join in SQL (same pairs; the binning is a plan property,
    not a semantic one)."""
    from auto_data_tokenize_spark.operators.asof import range_join

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    return range_join(
        purchases, views, on="user_id", lower_s=-3600, upper_s=0
    ).select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("view_id_r").alias("view_id"),
        F.col("ts_r").alias("view_ts"),
    )


def q42_kmv_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language KMV distinct-token sketch over the documents table
    (operators/sketches.py) alongside the exact distinct count — the
    oracle recomputes the SKETCH itself (identical hash → identical
    bottom-k → identical estimate), so the gate checks the estimator,
    not a tolerance band."""
    from auto_data_tokenize_spark.operators.sketches import kmv_distinct

    docs = _documents(spark, sf_dir)
    toks = docs.select(
        "lang",
        F.explode(F.expr("split(trim(lower(text)), '\\\\s+')")).alias("token"),
    ).filter("token <> ''")
    est = kmv_distinct(toks, "lang", "token", k=256)
    exact = toks.groupBy("lang").agg(
        F.countDistinct("token").alias("n_exact")
    )
    return est.join(exact, "lang").select("lang", "n_hashes", "kmv_est", "n_exact")


def q43_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard self-join via prefix filtering (AllPairs) —
    the zero-false-negative complement to the q15/q16 LSH path. The
    oracle is the brute-force all-pairs-sharing-a-shingle join, so the
    gate proves the prefix filter loses nothing."""
    from auto_data_tokenize_spark.operators.dedup import setsim_join

    return setsim_join(_documents(spark, sf_dir), threshold=0.6)


def q44_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (smoothed idf, rounded-score
    ordering contract shared with the cosine queries)."""
    from auto_data_tokenize_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_documents(spark, sf_dir), k=5)


def q45_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket train/val/test split — stable under
    re-runs and backfills (membership is a pure function of seed+id);
    zero shuffles."""
    from auto_data_tokenize_spark.operators.corpus import split_assign

    return split_assign(_documents(spark, sf_dir)).select(
        "doc_id", "bucket", "split"
    )


def q46_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing per language: doc → (offset,
    pack_id) in the 512-token stream — the LLM-pretraining batch
    layout, as ONE running-sum window shuffle."""
    from auto_data_tokenize_spark.operators.corpus import pack_sequences

    return pack_sequences(
        _documents(spark, sf_dir), target_tokens=512
    ).select("doc_id", "lang", "n_tokens", "offset", "pack_id")


def q47_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode: stdlib WAV/BMP payloads built by
    synth_real_media are parsed back by media_metadata (mapInPandas).
    The oracle reconstructs the expected metadata from the synth
    LAYOUT (16x12 bitmaps, 50 ms 8 kHz bursts) in pure SQL — it never
    touches the decoder, so the gate checks encode → parse fidelity."""
    from auto_data_tokenize_spark.operators.multimodal import (
        media_metadata,
        synth_real_media,
    )

    meta = media_metadata(synth_real_media(spark, n=30))
    # the operator returns NULLs for quarantined payloads; the gate
    # coalesces to sentinels so row sorting/hashing is total-ordered
    return meta.select(
        "media_id",
        F.coalesce("fmt", F.lit("opaque")).alias("fmt"),
        *[
            F.coalesce(c, F.lit(-1)).alias(c)
            for c in ("width", "height", "sample_rate", "n_samples", "duration_ms")
        ],
    )


_MAX_FILES_PER_TRIGGER = 2  # staged logs replay in several micro-batches


class _StreamCase:
    """One stream query's scratch dir ``dir``; see :func:`_stream_case`."""

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.dir = base

    def stage(
        self, pdf, schema, order_col: str = "doc_id", n_files: int = 8
    ) -> DataFrame:
        """Stage ``pdf`` under ``in/`` as ``order_col``-ordered
        sequential parquet files with strictly increasing mtimes
        (FileStreamSource orders pending files by modification time;
        ties break arbitrarily) — the append-log arrival contract the
        order-dependent streaming operators document — and return the
        ``maxFilesPerTrigger``-sliced stream over them, so gates
        exercise cross-batch state, never one trivial batch."""
        import time

        import numpy as np

        staged = os.path.join(self.dir, "in")
        os.makedirs(staged)
        t0 = time.time() - 100
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        for k, chunk in enumerate(np.array_split(pdf, n_files)):
            p = f"{staged}/part-{k:03d}.parquet"
            chunk.to_parquet(p)
            os.utime(p, (t0 + k, t0 + k))
        return (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", _MAX_FILES_PER_TRIGGER)
            .parquet(staged)
        )

    def sink(self, **kwargs):
        """The case's ``ExactlyOnceSink`` under ``out/``; ``kwargs``
        (e.g. upsert ``key_cols``/``version_col``) go to the sink."""
        from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

        return ExactlyOnceSink(os.path.join(self.dir, "out"), **kwargs)

    def run(
        self, stream_df, sink=None, shuffle_partitions: int | None = None
    ) -> DataFrame:
        """Run ``stream_df`` into ``sink`` (an ``ExactlyOnceSink`` or an
        ``AdmissionGate``; default :meth:`sink`) through
        ``pipeline.run_to_sink`` with its checkpoint under ``ckpt/``,
        then adopt the underlying sink's committed rows out of the
        case dir."""
        from auto_data_tokenize_spark.streaming import pipeline

        if sink is None:
            sink = self.sink()
        pipeline.run_to_sink(
            stream_df,
            sink,
            os.path.join(self.dir, "ckpt"),
            shuffle_partitions=shuffle_partitions,
        )
        return _adopt_sink_output(self.spark, getattr(sink, "sink", sink))


@contextmanager
def _stream_case(spark: SparkSession, name: str):
    """Scaffold of every stream query: yields a :class:`_StreamCase`
    over a fresh temp dir for the query's staged input, checkpoint and
    sink (queries that write their own input layout put it under
    ``case.dir``). The dir is removed when the block exits, on success
    or on error; an error propagates. The reader that
    :meth:`_StreamCase.run` returns reads an adopted keep dir OUTSIDE
    the case dir; keep dirs live until process exit."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix=f"adt_{name}_")
    try:
        yield _StreamCase(spark, base)
    finally:
        shutil.rmtree(base, ignore_errors=True)


_STREAM_KEEP: list[str] = []


def _cleanup_stream_keep() -> None:
    import shutil

    for d in _STREAM_KEEP:
        shutil.rmtree(d, ignore_errors=True)
    _STREAM_KEEP.clear()


def _keep_dir() -> str:
    """A fresh temp dir that outlives the query that fills it; every
    keep dir is reaped at process exit."""
    import atexit
    import tempfile

    keep = tempfile.mkdtemp(prefix="adt_stream_keep_")
    if not _STREAM_KEEP:
        atexit.register(_cleanup_stream_keep)
    _STREAM_KEEP.append(keep)
    return keep


def _adopt_sink_output(spark: SparkSession, sink) -> DataFrame:
    """Move the sink's committed table OUT of the query's tempdir (one
    same-FS rename) and return the lazy committed-batches reader over
    the moved files. Replaces the old read→toPandas→createDataFrame
    round trip, which pulled every committed row through the driver
    and re-shipped it as a LocalRelation on every downstream execution
    (guide §5: the driver should do almost no data work) — measured
    0.3-1.5 s per streaming query at sf0.1. Moved dirs are reaped at
    process exit. An Iceberg sink is refused: its data lives in the
    catalog, so moving the marker dir would split it from its table."""
    import shutil

    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    if sink.use_iceberg:
        raise ValueError(
            f"cannot adopt Iceberg sink {sink.iceberg_table!r}: its commit "
            "markers must stay next to the catalog table"
        )
    dest = os.path.join(_keep_dir(), "table")
    shutil.move(sink.table_path, dest)
    adopted = ExactlyOnceSink(
        dest,
        partition_by=sink.partition_by,
        key_cols=sink.key_cols,
        version_col=sink.version_col,
        tombstone_col=sink.tombstone_col,
        merge_schema=sink.merge_schema,
    )
    return adopted.read_committed(spark)


def q48_stream_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequence packing through the exactly-once sink: the
    per-lang offset state carries the concat-and-chop layout across
    micro-batches, so the committed stream output equals the batch
    q46 layout — the oracle is the SAME SQL twin."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.corpus import pack_sequences_stream

    with _stream_case(spark, "q48") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
            ["doc_id", "lang", "text"]
        ]
        st = case.stage(pdf, "doc_id long, lang string, text string")
        packed = pack_sequences_stream(st, target_tokens=512)
        result = case.run(packed, shuffle_partitions=2)
    return result.select("doc_id", "lang", "n_tokens", "offset", "pack_id")


def q49_bloom_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter ingest pre-gate: even-id docs form the corpus;
    incoming = odd-id docs (fresh) + exact copies of every 4th corpus
    doc (true dups). m is deliberately small (2048 bits) so REAL false
    positives occur — the oracle recomputes the identical bit array,
    so the gate checks the exact maybe-set (FPs included) AND the
    no-false-negative containment is_dup ⊆ bloom_maybe."""
    from auto_data_tokenize_spark.operators.sketches import bloom_gate

    docs = _documents(spark, sf_dir)
    corpus = docs.filter("doc_id % 2 = 0").select("doc_id", "text")
    incoming = (
        docs.filter("doc_id % 2 = 1")
        .select("doc_id", "text")
        .unionAll(
            docs.filter("doc_id % 4 = 0").select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
    )
    return bloom_gate(incoming, corpus, m_bits=2048).select(
        "doc_id", "bloom_maybe", "is_dup"
    )


def q50_stream_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup ingest gate, production shape: the corpus
    Bloom filter is collected ONCE as m/32 longs (kilobytes) and baked
    into the stream plan as an array literal, so the maybe-test is a
    pure codegen filter — no join, no shuffle, no state; true
    negatives die in the scan stage. Only maybe-survivors hit the
    exact broadcast verify. Same corpus/incoming construction as q49;
    the oracle is the q49 bit-array twin restricted to maybe rows."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.sketches import (
        bloom_maybe_expr,
        bloom_words_array,
    )

    docs = _documents(spark, sf_dir)
    corpus = docs.filter("doc_id % 2 = 0").select("doc_id", "text")
    words = bloom_words_array(corpus, m_bits=2048)

    with _stream_case(spark, "q50") as case:
        inc = pd.read_parquet(os.path.join(sf_dir, "documents.parquet")).loc[
            :, ["doc_id", "text"]
        ]
        fresh = inc[inc.doc_id % 2 == 1]
        copies = inc[inc.doc_id % 4 == 0].assign(
            doc_id=lambda d: d.doc_id + 1_000_000
        )
        st = case.stage(
            pd.concat([fresh, copies]).reset_index(drop=True),
            "doc_id long, text string",
        )
        survivors = st.filter(bloom_maybe_expr("text", words, m_bits=2048))
        # persisted: the static verify side of a stream-static join
        # re-executes its full plan (scan + distinct shuffle) on EVERY
        # micro-batch otherwise (the q142 prebuilt-index rationale)
        corpus_texts = (
            corpus.select(F.col("text").alias("_cv")).distinct().persist()
        )
        try:
            verified = survivors.join(
                F.broadcast(corpus_texts),
                survivors["text"] == F.col("_cv"),
                "left",
            ).select("doc_id", F.col("_cv").isNotNull().alias("is_dup"))
            result = case.run(verified)
        finally:
            corpus_texts.unpersist()
    return result.select("doc_id", "is_dup")


N_PACK_SHARDS = 4


def q51_pack_sequences_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing over the 100 TB-SAFE sharded layout: partition
    by (lang, shard) where shard = md5-prefix(doc_id) % 4 — the layout
    q46's own docstring prescribes for a monolingual corpus, where
    packing by lang alone would concentrate the window onto few tasks.
    The shard key is the portable cross-engine md5 hash, so the oracle
    derives the identical sharding and layout in pure SQL."""
    from auto_data_tokenize_spark.functions.xengine import spark_md5_prefix
    from auto_data_tokenize_spark.operators.corpus import pack_sequences

    docs = _documents(spark, sf_dir).withColumn(
        "shard",
        F.expr(
            f"{spark_md5_prefix('cast(doc_id as string)')} % {N_PACK_SHARDS}"
        ),
    )
    return pack_sequences(
        docs, target_tokens=512, part_cols=["lang", "shard"]
    ).select("doc_id", "lang", "shard", "n_tokens", "offset", "pack_id")


def q52_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-doc repetition: duplicate-word fraction
    (pure projection) + top-bigram fraction (one count shuffle with a
    deterministic (count, gram)-struct tie-break)."""
    from auto_data_tokenize_spark.operators.textstats import repetition_stats

    return repetition_stats(_documents(spark, sf_dir), n=2).select(
        "doc_id", "dup_word_frac", "top_ngram_frac"
    )


EVAL_MOD = 29  # doc_id % EVAL_MOD == 0 plays the held-out eval set


def q53_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: corpus docs sharing a distinct 5-word
    shingle with the held-out slice are flagged. The eval shingle set
    is broadcast (benchmarks are MBs; the corpus is the 100 TB side),
    so the corpus never shuffles except the per-doc hit count."""
    from auto_data_tokenize_spark.operators.corpus import decontaminate

    docs = _documents(spark, sf_dir)
    ev = docs.filter(f"doc_id % {EVAL_MOD} = 0").select("doc_id", "text")
    corpus = docs.filter(f"doc_id % {EVAL_MOD} != 0").select("doc_id", "text")
    return decontaminate(corpus, ev, k=5)


def _mix_rates() -> dict[str, float]:
    # even-numbered sources kept in full, odd downsampled to 35% —
    # a deterministic stand-in for tuned domain weights
    return {f"src{i}": (1.0 if i % 2 == 0 else 0.35) for i in range(20)}


def q54_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain reweighting: per-source keep rates applied
    via the portable md5 bucket — pure filter, zero shuffles, stable
    under re-runs and backfills."""
    from auto_data_tokenize_spark.operators.corpus import mix_sources

    return mix_sources(_documents(spark, sf_dir), _mix_rates()).select(
        "doc_id", "source", "lang"
    )


def q55_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style keyed upserts through the exactly-once sink's
    merge-on-read mode: documents replay as an update stream
    (key = doc_id % 100, version = doc_id), micro-batches APPEND
    cheaply, and the committed read resolves each key to its
    highest-version row — the dimension-maintenance shape. The oracle
    is the identical window resolution in SQL."""
    import pandas as pd

    with _stream_case(spark, "q55") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet")).loc[
            :, ["doc_id", "n_chars"]
        ]
        st = case.stage(pdf, "doc_id long, n_chars long")
        updates = st.select(
            (F.col("doc_id") % 100).alias("k"),
            F.col("doc_id").alias("version"),
            "n_chars",
        )
        sink = case.sink(key_cols=("k",), version_col="version")
        result = case.run(updates, sink)
    return result.select("k", "version", "n_chars")


def q56_dataset_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card: per-(lang, source) doc counts and token-length
    distribution — one partial-aggregated groupBy over the shared
    token contract."""
    from auto_data_tokenize_spark.operators.textstats import dataset_report

    return dataset_report(_documents(spark, sf_dir)).select(
        "lang", "source", "n_docs", "total_tokens",
        "min_tokens", "avg_tokens", "max_tokens",
    )


def q57_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with a 1-hour tolerance: each view event picks the
    user's NEXT purchase within 3600 s (merge_asof semantics Spark
    lacks natively; same single-shuffle union+window plan as q33, the
    tolerance a codegen post-filter). Oracle: DuckDB LATERAL pick."""
    from auto_data_tokenize_spark.operators.asof import asof_join

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"), "value"
    )
    return asof_join(
        views,
        purchases,
        on="user_id",
        right_cols=["purchase_id", "value"],
        right_tiebreak="purchase_id",
        direction="forward",
        tolerance=3600,
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_asof").alias("purchase_ts"),
        F.col("purchase_id_asof").alias("purchase_id"),
        F.col("value_asof").alias("purchase_value"),
    )


def q58_extended_detections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended-infoType detection stream over the planted
    PERSON_NAME/DATE_OF_BIRTH fixture — the reference demo's own
    transcript config (csv_dlp_tokenize_config.json:5-8 tokenizes
    PERSON_NAME, EMAIL_ADDRESS, DATE_OF_BIRTH; its chat fixture is
    tagged by a CUSTOM_FIRST_NAME_DETECTOR, i.e. a first-name
    dictionary). Same narrow detect→explode plan as q02, detector set
    selected per the DlpEncryptConfig infoType-list posture."""
    from auto_data_tokenize_spark import datagen
    from auto_data_tokenize_spark.functions.detectors import EXTENDED_INFO_TYPES
    from auto_data_tokenize_spark.operators.identify import detections
    from auto_data_tokenize_spark.sources.readers import read_transcripts

    d = datagen.ensure_extended(_sf_name(sf_dir))
    tr = read_transcripts(spark, os.path.join(d, "transcripts_ext.parquet"))
    return detections(tr, info_types=EXTENDED_INFO_TYPES).select(
        "conv_id", "turn_idx", "info_type", "start", "end", "token"
    )


def q59_stream_decontaminate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time eval-set decontamination (stream twin of q53): the
    corpus replays as an ingest stream and each arriving doc's distinct
    5-word shingles hash-join the broadcast eval shingle set — a
    stateless stream-static gate through the exactly-once sink. Output
    is the exact (doc_id, shingle) hit pairs, so the oracle (the same
    shingle construction in SQL) checks the gate decision pairwise."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.corpus import DecontaminationGate

    docs = _documents(spark, sf_dir)
    ev = docs.filter(f"doc_id % {EVAL_MOD} = 0").select("doc_id", "text")

    with _stream_case(spark, "q59") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet")).loc[
            :, ["doc_id", "text"]
        ]
        pdf = pdf[pdf["doc_id"] % EVAL_MOD != 0]
        st = case.stage(pdf, "doc_id long, text string")
        with DecontaminationGate(ev) as gate:
            result = case.run(gate.apply(st))
    return result.select("doc_id", "shingle")


def q60_config_driven_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-driven tokenization: the reference's own transcript demo
    config (csv_dlp_tokenize_config.json — freeFormColumn with
    PERSON_NAME/EMAIL_ADDRESS/DATE_OF_BIRTH) parsed and applied as one
    declarative plan over the extended-PII fixture; PHONE/CC spans must
    stay plaintext. Oracle: the pure-Python tokenizer golden under the
    same 3-infoType selection."""
    from auto_data_tokenize_spark import datagen
    from auto_data_tokenize_spark.operators.dlp_config import (
        apply_encrypt_config,
        parse_encrypt_config,
    )
    from auto_data_tokenize_spark.sources.readers import read_transcripts

    ref_cfg = "/root/reference/csv_dlp_tokenize_config.json"
    if os.path.exists(ref_cfg):
        specs = parse_encrypt_config(ref_cfg)
        # the reference file names its CSV column "transcript"; our
        # fixture column is "text" — same shape, engine-local name
        specs = [
            s.__class__(
                column_id="$.CsvRecord.text", parts=("text",),
                free_form=s.free_form, info_types=s.info_types,
                key_ref=s.key_ref,
            )
            for s in specs
        ]
    else:  # hermetic fallback: the identical shape inline
        specs = parse_encrypt_config(
            {
                "transforms": [
                    {
                        "columnId": "$.CsvRecord.text",
                        "freeFormColumn": "true",
                        "infoTypes": list(datagen.CONFIG_INFO_TYPES),
                    }
                ]
            }
        )

    d = datagen.ensure_extended(_sf_name(sf_dir))
    tr = read_transcripts(spark, os.path.join(d, "transcripts_ext.parquet"))
    return apply_encrypt_config(tr, specs, scope_col="conv_id").select(
        "conv_id", "turn_idx", "text"
    )


def q24_detokenize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_tokenize_spark.functions.udfs import detokenize_text_udf
    from auto_data_tokenize_spark.operators.tokenize import tokenize_turns

    tok = tokenize_turns(_transcripts(spark, sf_dir))
    return tok.select(
        "conv_id",
        "turn_idx",
        detokenize_text_udf()(F.col("conv_id"), F.col("text_tok")).alias("text"),
    )


def q25_salted_infotype_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase hot-key-proof aggregation (ShardAssigner semantics,
    dlp/BatchAndDlpDeIdRecords.java:216-234) must agree with the plain
    group-by; oracle = plain SQL count."""
    from auto_data_tokenize_spark.operators.skew import salted_agg

    det = _detections(spark, sf_dir)
    return salted_agg(det, ["info_type"], {"n": "count"}, n_salts=10)


def q26_token_dictionary_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful stream-stream join (detections × token dictionary) under
    watermarks, single trigger; oracle = the equivalent batch time-range
    join in SQL (TokenizedDataMerger's cross-stream analogue)."""
    import shutil

    import pandas as pd

    from auto_data_tokenize_spark import datagen
    from auto_data_tokenize_spark.streaming import source
    from auto_data_tokenize_spark.streaming.join import token_dictionary_join
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    d = datagen.ensure_sf(_sf_name(sf_dir))
    with _stream_case(spark, "q26") as case:
        det_in = f"{case.dir}/det"
        dict_in = f"{case.dir}/dict"
        os.makedirs(det_in)
        os.makedirs(dict_in)
        det_pd = pd.read_parquet(os.path.join(d, "detections.parquet"))
        det_pd[["conv_id", "turn_idx", "info_type", "token", "ts"]].to_parquet(
            f"{det_in}/d.parquet", index=False
        )
        shutil.copy(
            os.path.join(d, "token_dictionary.parquet"), f"{dict_in}/t.parquet"
        )

        det_schema = StructType(
            [
                StructField("conv_id", StringType()),
                StructField("turn_idx", IntegerType()),
                StructField("info_type", StringType()),
                StructField("token", StringType()),
                StructField("ts", TimestampType()),
            ]
        )
        det_stream = spark.readStream.schema(det_schema).parquet(det_in)
        dict_stream = source.token_dictionary_stream(spark, dict_in)
        joined = token_dictionary_join(det_stream, dict_stream, interval="10 minutes")
        # 8 state partitions: the join's per-micro-batch state-store commit
        # cost dominates at this rate (8.5 s -> 3.9 s measured at sf0.1);
        # production sizes this to state volume, not cores
        result = case.run(joined, shuffle_partitions=8)
    return result.select(
        "conv_id", "turn_idx", "info_type", "token", "ts", "dict_ts"
    )


def q27_escalation_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP pattern (batch twin): alert at the event time a conversation
    reaches 3 distinct infoTypes."""
    from auto_data_tokenize_spark.streaming.cep import escalation_alerts_batch

    return escalation_alerts_batch(_detections(spark, sf_dir), min_distinct=3)


def q28_stream_escalation_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pattern through applyInPandasWithState on the detection
    stream (custom stateful operator), single trigger — must equal the
    batch twin and thus the same SQL oracle."""
    from auto_data_tokenize_spark import datagen
    from auto_data_tokenize_spark.streaming.cep import escalation_alerts_stream
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    import pandas as pd

    d = datagen.ensure_sf(_sf_name(sf_dir))
    with _stream_case(spark, "q28") as case:
        det_in = f"{case.dir}/det"
        os.makedirs(det_in)
        det_pd = pd.read_parquet(os.path.join(d, "detections.parquet"))
        det_pd.to_parquet(f"{det_in}/d.parquet", index=False)

        schema = StructType(
            [
                StructField("conv_id", StringType()),
                StructField("turn_idx", IntegerType()),
                StructField("info_type", StringType()),
                StructField("start", IntegerType()),
                StructField("end", IntegerType()),
                StructField("token", StringType()),
                StructField("ts", TimestampType()),
            ]
        )
        st = spark.readStream.schema(schema).parquet(det_in)
        # the operator keys its state on 8 conv_id hash buckets, so 8
        # shuffle partitions match the state volume, not the cores (the
        # q26 rationale)
        alerts = escalation_alerts_stream(st, min_distinct=3)
        return case.run(alerts, shuffle_partitions=8)


def _with_prep(fn):
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _prep(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    return wrapped


def q61_deidentify_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The public PrimitiveTransformation oneof the reference's
    ColumnTransform embeds (auto_tokenize_messages.proto:203-205),
    config-driven over a whole table: characterMask, redact,
    deterministic dateShift (context-consistent per customer),
    fixedSizeBucketing, typed replace. Every transform is a narrow
    codegen projection — zero shuffles at any scale (plan-asserted in
    tests/test_deidentify.py)."""
    from auto_data_tokenize_spark.operators.dlp_config import (
        apply_encrypt_config,
        parse_encrypt_config,
    )

    specs = parse_encrypt_config(
        {
            "transforms": [
                {
                    "columnId": "$.Orders.o_orderpriority",
                    "transform": {
                        "characterMaskConfig": {
                            "maskingCharacter": "*",
                            "numberToMask": 1,
                        }
                    },
                },
                {
                    "columnId": "$.Orders.o_orderstatus",
                    "transform": {"redactConfig": {}},
                },
                {   # order is semantics-free: contexts read snapshots
                    "columnId": "$.Orders.o_orderdate",
                    "transform": {
                        "dateShiftConfig": {
                            "lowerBoundDays": -100,
                            "upperBoundDays": 100,
                            "context": {"name": "o_custkey"},
                        }
                    },
                },
                {
                    "columnId": "$.Orders.o_totalprice",
                    "transform": {
                        "fixedSizeBucketingConfig": {
                            "lowerBound": 0,
                            "upperBound": 500000,
                            "bucketSize": 50000,
                        }
                    },
                },
                {
                    "columnId": "$.Orders.o_custkey",
                    "transform": {
                        "replaceConfig": {"newValue": {"integerValue": 0}}
                    },
                },
            ]
        }
    )
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    return apply_encrypt_config(orders, specs).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        # ISO-render the shifted date so the cross-engine compare is
        # dtype-proof (DuckDB DATE surfaces as datetime64 via pandas)
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_totalprice",
    )


def q62_pseudonymize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cryptoHash (HMAC-SHA256 keyed pseudonyms, the one-way analogue
    of the reference's reversible tokens), timePart generalization of
    the timestamp, and explicit bucketingConfig on the value — over the
    events stream. The HMAC is the only Python stage (Arrow-batched,
    inherent per-value crypto); the rest is codegen."""
    from auto_data_tokenize_spark.operators.dlp_config import (
        apply_encrypt_config,
        parse_encrypt_config,
    )

    specs = parse_encrypt_config(
        {
            "transforms": [
                {
                    "columnId": "$.Event.user_id",
                    "transform": {"cryptoHashConfig": {}},
                },
                {
                    "columnId": "$.Event.ts",
                    "transform": {"timePartConfig": {"partToExtract": "HOUR_OF_DAY"}},
                },
                {
                    "columnId": "$.Event.value",
                    "transform": {
                        "bucketingConfig": {
                            "buckets": [
                                {"max": 0, "replacementValue": {"stringValue": "neg"}},
                                {"min": 0, "max": 100,
                                 "replacementValue": {"stringValue": "small"}},
                                {"min": 100,
                                 "replacementValue": {"stringValue": "large"}},
                            ]
                        }
                    },
                },
            ]
        }
    )
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return apply_encrypt_config(ev, specs).select(
        "event_id",
        F.col("user_id").alias("user_pseudonym"),
        F.col("ts").alias("hour_of_day"),
        "event_type",
        F.col("value").alias("value_bucket"),
    )


def q63_k_anonymity_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLP-style k-anonymity class-size histogram over customer
    quasi-identifiers (risk-analysis analogue: the metric an operator
    of the reference pipeline runs on its de-identified output). Two
    keyed partial-agg groupBys; no collects."""
    from auto_data_tokenize_spark.operators.risk import k_anonymity_histogram

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    return k_anonymity_histogram(cust, ["c_mktsegment", "c_nationkey"]).select(
        "class_size", "num_classes", "num_records"
    )


def q64_l_diversity_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity per equivalence class: quasi-identifiers
    (c_mktsegment, c_nationkey), sensitive attribute = account balance
    generalized to 1000-unit bands. Exact distinct (matches the SQL
    twin)."""
    from auto_data_tokenize_spark.operators.risk import l_diversity

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    banded = cust.withColumn(
        "acct_band", F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long")
    )
    return l_diversity(
        banded, ["c_mktsegment", "c_nationkey"], "acct_band"
    ).select("c_mktsegment", "c_nationkey", "class_size", "distinct_sensitive")


def q65_freeform_infotype_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free-form replaceWithInfoTypeConfig: every validated finding in
    the transcript text becomes ``[INFO_TYPE]`` — the irreversible
    sibling of q60's config-driven tokenization, same span machinery,
    same Arrow batch shape. Oracle: pure-Python golden
    (datagen.golden_labeled_ext) under the extended detector set."""
    from auto_data_tokenize_spark import datagen
    from auto_data_tokenize_spark.functions.detectors import EXTENDED_INFO_TYPES
    from auto_data_tokenize_spark.operators.dlp_config import (
        apply_encrypt_config,
        parse_encrypt_config,
    )
    from auto_data_tokenize_spark.sources.readers import read_transcripts

    specs = parse_encrypt_config(
        {
            "transforms": [
                {
                    "columnId": "$.CsvRecord.text",
                    "freeFormColumn": "true",
                    "infoTypes": list(EXTENDED_INFO_TYPES),
                    "transform": {"replaceWithInfoTypeConfig": {}},
                }
            ]
        }
    )
    d = datagen.ensure_extended(_sf_name(sf_dir))
    tr = read_transcripts(spark, os.path.join(d, "transcripts_ext.parquet"))
    return apply_encrypt_config(tr, specs).select("conv_id", "turn_idx", "text")


def q66_k_map_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-map estimation (DLP ``KMapEstimationConfig`` analogue): the
    released dataset is the high-balance customer subset, the
    re-identification population is the full customer table; each
    dataset class's k is its POPULATION class size. Both sides are
    aggregated to class granularity before the join, so the shuffle
    moves one row per distinct quasi-identifier tuple."""
    from auto_data_tokenize_spark.operators.risk import k_map_histogram

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    released = cust.where(F.col("c_acctbal") > F.lit(5000.0))
    return k_map_histogram(
        released, ["c_mktsegment", "c_nationkey"], cust
    ).select("k_map", "num_classes", "num_records")


def q67_delta_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """delta-presence (DLP ``DeltaPresenceEstimationConfig`` analogue):
    per population quasi-identifier class, the probability a member is
    present in the released high-balance subset. Same class-level join
    shape as q66; delta is a pure codegen projection."""
    from auto_data_tokenize_spark.operators.risk import delta_presence

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    released = cust.where(F.col("c_acctbal") > F.lit(5000.0))
    return delta_presence(
        released, ["c_mktsegment", "c_nationkey"], cust
    ).select(
        "c_mktsegment",
        "c_nationkey",
        "dataset_count",
        "population_count",
        F.round(F.col("delta"), 9).alias("delta"),
    )


def q68_categorical_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLP CategoricalStatsConfig analogue over orders.o_custkey: the
    value-frequency histogram ("how many customers placed exactly N
    orders"). Two keyed partial-agg groupBys, no collects."""
    from auto_data_tokenize_spark.operators.risk import (
        categorical_stats_histogram,
    )

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    return categorical_stats_histogram(orders, "o_custkey").select(
        "value_frequency", "num_values", "num_records"
    )


def q69_numerical_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLP NumericalStatsConfig analogue over orders.o_totalprice:
    min / max / exact interpolated quartiles, rounded to 4 decimals on
    both engines. One global aggregation with map-side partials."""
    from auto_data_tokenize_spark.operators.risk import numerical_stats

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    return numerical_stats(orders, "o_totalprice").select(
        "min_value", "max_value", "q_25", "q_50", "q_75"
    )


def q70_stream_k_anon_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming k-anonymity monitor over the de-identified event
    stream: bucket the numeric value (pure-codegen de-identification),
    then per hourly window emit the equivalence-class-size histogram
    for the (event_type, value_bucket) quasi-identifier tuple — two
    CHAINED stateful aggregations in ONE streaming query
    (risk.k_anonymity_monitor), append mode through the exactly-once
    sink. Oracle: same two-level rollup + final-watermark filter."""
    import pandas as pd

    from auto_data_tokenize_spark import datagen  # noqa: F401 (parity prep)
    from auto_data_tokenize_spark.operators.risk import k_anonymity_monitor
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    with _stream_case(spark, "q70") as case:
        ev_in = f"{case.dir}/ev"
        os.makedirs(ev_in)
        ev_pd = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))
        ev_pd[["event_type", "value", "ts"]].to_parquet(
            f"{ev_in}/e.parquet", index=False
        )

        schema = StructType(
            [
                StructField("event_type", StringType()),
                StructField("value", DoubleType()),
                StructField("ts", TimestampType()),
            ]
        )
        st = spark.readStream.schema(schema).parquet(ev_in)
        deid = st.select(
            "event_type",
            F.floor(F.col("value") / F.lit(100.0)).cast("long").alias("value_bucket"),
            "ts",
        )
        hist = k_anonymity_monitor(
            deid, ["event_type", "value_bucket"], watermark="10 minutes"
        )
        return case.run(hist, shuffle_partitions=2)


def q71_generalize_to_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ladder-based generalization to k-anonymity over customer
    (c_acctbal: raw -> $100 buckets -> $1000 buckets -> suppressed;
    c_mktsegment suppressed only at the top level). The level search
    probes class-granularity aggregates — one record-level shuffle
    total — and the SQL twin replays the identical search with CTEs,
    so the chosen level matches at every scale factor by
    construction."""
    from auto_data_tokenize_spark.operators.generalize import (
        generalized_classes,
    )

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    ladders = {
        "c_acctbal": [
            ("raw",),
            ("bucket", 100.0),
            ("bucket", 1000.0),
            ("suppress",),
        ],
        "c_mktsegment": [("raw",), ("raw",), ("raw",), ("suppress",)],
    }
    return generalized_classes(cust, ladders, k=15).select(
        "c_acctbal_low",
        "c_acctbal_high",
        "c_mktsegment",
        "class_size",
        F.col("level").cast("int").alias("level"),
    )


def q72_pii_density_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-density corpus gate over conversations: validated findings
    per 1 000 whitespace tokens, with the pass/reject verdict — the
    filter between the identify stage and corpus assembly. Both sides
    reduce to per-conversation scalars before the key join; the text
    never leaves its scan stage."""
    from auto_data_tokenize_spark.operators.corpus import pii_density_gate

    turns = _transcripts(spark, sf_dir)
    det = _detections(spark, sf_dir)
    return pii_density_gate(
        turns, det, key_cols=["conv_id"], max_per_1k_tokens=50.0
    ).select("conv_id", "n_pii", "n_tokens", "pii_per_1k", "passes")


def q73_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training over the documents corpus: one
    corpus-level shuffle to the distinct-word frequency table, then
    every merge round runs on that compact table with JVM-only pair
    counting and a literal-replace merge — no Python in the loop, one
    row per round to the driver. Oracle: the pure-Python golden
    (datagen.ensure_bpe), which the trainer must reproduce
    token-for-token."""
    from auto_data_tokenize_spark import datagen
    from auto_data_tokenize_spark.operators.bpe import train_bpe

    datagen.ensure_bpe(_sf_name(sf_dir))
    docs = _documents(spark, sf_dir)
    return train_bpe(docs, n_merges=datagen.BPE_MERGES).select(
        "rank", "left", "right"
    )


def q74_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the documents corpus with the learned BPE vocabulary
    (apply_bpe; merges read from the gate-checked q73 vocabulary — 30
    rows of driver state). Oracle: golden encode under the shared
    encode_text implementation, so the gate checks the Spark plumbing
    (Arrow batches, array schema, null/empty handling) end-to-end."""
    from auto_data_tokenize_spark import datagen
    from auto_data_tokenize_spark.operators.bpe import apply_bpe

    import pandas as pd

    d = datagen.ensure_bpe(_sf_name(sf_dir))
    merges_pd = pd.read_parquet(os.path.join(d, "bpe_merges.parquet"))
    merges = list(
        zip(merges_pd["left"].tolist(), merges_pd["right"].tolist())
    )
    docs = _documents(spark, sf_dir)
    return apply_bpe(docs, merges).select(
        "doc_id",
        "bpe_tokens",
        F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
    )


def q75_fpe_name_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cryptoReplaceFfxFpeConfig — FF1 format-preserving encryption
    (NIST SP 800-38G; the last locally-computable member of the
    reference's PrimitiveTransformation oneof,
    auto_tokenize_messages.proto:203-205) over customer names
    with a per-row context tweak (c_nationkey): tokens keep the
    length and {digits,dash} alphabet of the plaintext, equal
    (value, context) pairs tokenize equally, and decrypt restores the
    original exactly. Oracle: identity on c_phone plus TRUE literals
    for the in-format invariants (the FF1 implementation itself is
    pinned to NIST's published sample vectors in tests/test_fpe.py).
    Scale: two chained Arrow projections, zero shuffles."""
    from auto_data_tokenize_spark.operators.deidentify import (
        fpe_cipher_for,
        fpe_transform_udf,
    )

    alphabet = (
        "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz#"
    )
    from auto_data_tokenize_spark.sources.readers import ensure_parallelism

    cfg = {"customAlphabet": alphabet, "context": {"name": "c_nationkey"}}
    # single-file scan = 1 partition; the per-value FF1 work must fan
    # out across cores (no-op at production multi-file scale)
    cust = ensure_parallelism(
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select(
            "c_custkey", "c_name", "c_nationkey"
        )
    )
    cipher = fpe_cipher_for("c_name", cfg)
    ctx = F.col("c_nationkey").cast("string")
    tok = cust.withColumn(
        "tok", fpe_transform_udf(cipher)(F.col("c_name"), ctx)
    )
    return tok.select(
        "c_custkey",
        fpe_transform_udf(cipher, decrypt=True)(F.col("tok"), ctx).alias(
            "name"
        ),
        (F.length("tok") == F.length("c_name")).alias("len_preserved"),
        (F.col("tok") != F.col("c_name")).alias("token_differs"),
        F.col("tok").rlike("^[0-9A-Za-z#]+$").alias("alphabet_ok"),
    )


def q76_fpe_freeform_reidentify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free-form FPE with surrogate annotation, then re-identification:
    detected spans in turn text are FF1-encrypted and embedded as
    ``ADT_TOKEN(<len>):<ct>`` (DLP's surrogateInfoType contract), and
    the reverse pass finds every annotation by its declared length and
    decrypts it — the full DLP reidentify flow over free text. Oracle:
    the original transcript text (reidentify ∘ deidentify = identity).
    Scale: two narrow Arrow projections over the stream-shardable
    transcripts scan, zero shuffles."""
    from auto_data_tokenize_spark.functions.udfs import transform_text_udf
    from auto_data_tokenize_spark.operators.deidentify import (
        fpe_cipher_for,
        fpe_reidentify_udf,
        free_form_repl,
    )

    cfg = {"radix": 95, "surrogateInfoType": {"name": "ADT_TOKEN"}}
    tr = _transcripts(spark, sf_dir)
    repl = free_form_repl(
        {"cryptoReplaceFfxFpeConfig": cfg}, column="text"
    )
    masked = tr.withColumn("masked", transform_text_udf(repl)(F.col("text")))
    cipher = fpe_cipher_for("text", cfg)
    return masked.select(
        "conv_id",
        "turn_idx",
        fpe_reidentify_udf(cipher, "ADT_TOKEN")(F.col("masked")).alias("text"),
    )


def q77_stream_fpe_deidentify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q76's streaming twin (north_rule: the DLP deidentify flow as a
    continuous ingest pipeline): free-form FF1-FPE de-identify runs
    INSIDE Structured Streaming micro-batches and lands in the
    exactly-once sink; the committed masked stream is then batch
    re-identified. Oracle: the original transcript text — proving
    stream-deidentify ∘ sink ∘ reidentify = identity, i.e. the sink
    committed every turn exactly once AND the surrogate annotations
    survived the round trip. Scale: the stream stage is a narrow
    stateless Arrow projection (no watermark, no state store); the
    reverse pass is a second narrow projection — zero shuffles
    end-to-end beyond the sink's file commits."""
    from auto_data_tokenize_spark.operators.deidentify import (
        fpe_cipher_for,
        fpe_reidentify_udf,
    )

    from auto_data_tokenize_spark.sources.readers import ensure_parallelism
    from auto_data_tokenize_spark.streaming import pipeline

    with _stream_case(spark, "q77") as case:
        # 8 staged files = 8 scan partitions; the per-span FF1 crypto
        # must fan out across all cores (stateless stream repartition —
        # moving raw text once is cheap vs the Feistel rounds)
        masked = pipeline.deidentify_stream(
            _staged_transcripts(case, sf_dir).repartition(
                spark.sparkContext.defaultParallelism
            ),
            {
                "cryptoReplaceFfxFpeConfig": {
                    "radix": 95,
                    "surrogateInfoType": {"name": "ADT_TOKEN"},
                }
            },
        )
        # the committed read is a handful of sink files → few scan
        # partitions; the per-row FF1 decrypt must fan out across cores
        committed = ensure_parallelism(case.run(masked))
    cipher = fpe_cipher_for(
        "text", {"radix": 95, "surrogateInfoType": {"name": "ADT_TOKEN"}}
    )
    return committed.select(
        "conv_id",
        "turn_idx",
        fpe_reidentify_udf(cipher, "ADT_TOKEN")(F.col("masked")).alias("text"),
    )


def q78_stream_lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH index maintenance: the corpus arrives as a
    crawl stream (wave 1 = every document, wave 2 = a re-crawl of
    doc_id % 10 == 0 with EDITED text), each micro-batch computes
    row-local minhash band keys, and the keyed upsert sink maintains
    the banded index — key (id, band_idx), version = crawl_ver, so a
    re-crawled document's 16 band rows are REPLACED at read resolution
    rather than duplicated. This is how the q36 ingest gate's corpus
    side stays fresh without rebuilding: the index is a continuously
    maintained table, not a batch artifact. Oracle: band keys computed
    in SQL over the FINAL text of every document (latest crawl wins).
    Scale: stream stage is stateless (repartitioned per micro-batch,
    per-row codegen-friendly affine hashing); sink appends stay
    O(micro-batch) with merge-on-read resolution."""
    import time

    import pandas as pd

    from auto_data_tokenize_spark.operators.dedup import (
        banded_keys,
        minhash_signatures_rowwise,
    )

    with _stream_case(spark, "q78") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
            ["doc_id", "text"]
        ].sort_values("doc_id")
        in_dir = f"{case.dir}/in"
        os.makedirs(in_dir)
        t0 = time.time() - 100
        wave1 = pdf.assign(crawl_ver=1)
        for k in range(4):
            p = f"{in_dir}/crawl1-{k}.parquet"
            wave1.iloc[k::4].to_parquet(p, index=False)
            os.utime(p, (t0 + k, t0 + k))
        wave2 = pdf[pdf.doc_id % 10 == 0].assign(
            text=lambda d: d.text + " revised v2", crawl_ver=2
        )
        for k in range(2):
            p = f"{in_dir}/crawl2-{k}.parquet"
            wave2.iloc[k::2].to_parquet(p, index=False)
            os.utime(p, (t0 + 10 + k, t0 + 10 + k))

        st = (
            spark.readStream.schema("doc_id long, text string, crawl_ver long")
            .option("maxFilesPerTrigger", _MAX_FILES_PER_TRIGGER)
            .parquet(in_dir)
        )
        # spread each staged file's rows across cores before the
        # per-row shingle hashing (stateless stream repartition; same
        # rationale as NearDupGate.apply)
        st = st.repartition(spark.sparkContext.defaultParallelism)
        bands = banded_keys(
            minhash_signatures_rowwise(st, extra_cols=("crawl_ver",)),
            extra_cols=("crawl_ver",),
        )
        sink = case.sink(key_cols=("id", "band_idx"), version_col="crawl_ver")
        result = case.run(bands, sink)
    return result.select(
        "id",
        F.col("band_idx").cast("long").alias("band_idx"),
        "band_key",
        "crawl_ver",
    )


def q79_stream_corpus_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus-drift monitor — the dataset card (q56) as a
    LIVE dashboard: documents arrive as an ingest stream (deterministic
    arrival time = epoch + doc_id seconds), and a watermarked tumbling
    window aggregates per-(window, lang) doc counts and token totals in
    the state store; append mode emits only watermark-closed windows.
    This is how a 100 TB/day crawl pipeline watches language mix and
    token-length drift without a batch pass. Oracle: the same windowed
    aggregate in SQL with the identical final-watermark filter.
    Scale: one windowed shuffle with map-side partial aggregation;
    state = one row per open (window, lang)."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.textstats import ws_tokens_expr

    with _stream_case(spark, "q79") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
            ["doc_id", "text", "lang"]
        ]
        pdf["ts"] = pd.Timestamp("2026-01-01").to_datetime64() + pd.to_timedelta(
            pdf["doc_id"], unit="s"
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        st = case.stage(
            pdf, "doc_id long, text string, lang string, ts timestamp"
        )
        agg = (
            st.withWatermark("ts", "30 seconds")
            .withColumn("_nt", ws_tokens_expr("text"))
            .groupBy(F.window("ts", "1 minute").alias("w"), "lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("_nt").alias("total_tokens"),
                F.max("_nt").alias("max_tokens"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "lang", "n_docs", "total_tokens", "max_tokens",
            )
        )
        return case.run(agg, shuffle_partitions=2)


def q80_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sample: the 20 md5-first docs
    per (lang, source) stratum — the reproducible eval-slice /
    inspection-sample op (subset-invariant, seed-free, stable across
    reruns and cluster layouts, unlike rand()-based sampleBy). Scale:
    one shuffle on the stratum key; the rank is a bounded per-stratum
    window, no global sort."""
    from auto_data_tokenize_spark.operators.corpus import stratified_sample

    return stratified_sample(
        _documents(spark, sf_dir), ["lang", "source"], n_per_stratum=20
    ).select("doc_id", "lang", "source")


def q81_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-keyed exact dedup: documents that collide after
    lowercasing, punctuation stripping, and whitespace collapsing are
    duplicates even when raw bytes differ (the standard pre-pass before
    MinHash in C4/RefinedWeb-style corpus prep); keep the smallest
    doc_id per normalized key. Scale: pure codegen normalization
    projection + one groupBy shuffle on the normalized hash."""
    from auto_data_tokenize_spark.operators.corpus import normalized_dedup

    return normalized_dedup(_documents(spark, sf_dir)).select(
        "doc_id", "norm_hash", "n_dupes"
    )


def q82_stream_ingest_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed continuous corpus-admission pipeline (the capstone
    north-rule flow): a crawl stream of re-crawls, novel pages,
    eval-contaminated pages, and junk runs quality → near-dup gate (vs
    the existing corpus' LSH bands) → eval-decontamination →
    exactly-once sink, all inside foreachBatch (doc-level anti-join
    admission is not expressible in a continuous stream-static plan;
    the decision is a deterministic function of batch content + static
    gate tables, so redelivered batches re-derive identical rows and
    the sink no-ops). Oracle: the identical three-gate predicate in
    SQL over the reconstructed mixture. Scale: per micro-batch —
    narrow codegen quality filter FIRST, one band semi-join (bucketed
    corpus table co-locates it at real scale), broadcast eval
    shingles; no state store, no watermark."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.dedup import (
        banded_keys,
        minhash_signatures,
    )
    from auto_data_tokenize_spark.streaming.ingest import (
        IngestAdmissionPipeline,
    )

    docs = _documents(spark, sf_dir)
    ev = docs.filter(f"doc_id % {EVAL_MOD} = 0").select("doc_id", "text")
    corpus = docs.filter(f"doc_id % {EVAL_MOD} != 0").select("doc_id", "text")
    corpus_banded = banded_keys(minhash_signatures(corpus))

    with _stream_case(spark, "q82") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
            ["doc_id", "text"]
        ].sort_values("doc_id")
        by_id = dict(zip(pdf["doc_id"], pdf["text"]))
        inc = pdf[pdf["doc_id"] % EVAL_MOD != 0].copy()

        def _mk(d, t):
            m = d % 4
            if m == 0:
                return t  # exact re-crawl — bands collide, rejected
            if m == 1:  # genuinely novel quality page — admitted
                return (
                    f"novel content row {d} keeps the quality gate "
                    "happy with fresh words"
                )
            if m == 2:  # eval-contaminated page — decontamination drops
                return by_id[d - d % EVAL_MOD]
            return f"junk {d}"  # fails the quality gate

        inc["text"] = [_mk(d, t) for d, t in zip(inc["doc_id"], inc["text"])]
        inc["doc_id"] = inc["doc_id"] + 1000000
        st = case.stage(inc, "doc_id long, text string")
        st = st.repartition(spark.sparkContext.defaultParallelism)
        with IngestAdmissionPipeline(corpus_banded, ev, case.sink()) as pipe:
            result = case.run(st, pipe)
    return result.select("doc_id", F.md5("text").alias("text_md5"))


_PAGE_HEADER = "accept all cookies to continue."
_PAGE_FOOTER = "all rights reserved worldwide."


def _line_pages(docs: DataFrame, junk: bool = False) -> DataFrame:
    """Deterministic multi-line 'web pages' over the documents table
    (its texts carry no newlines, so the line operators need
    synthesized pages): universal header boilerplate, the document
    body, a unique crawl line, a semi-common promo line (shared by
    ~|docs|/40 pages), and a footer on even ids only; ``junk=True``
    adds the C4 bait lines (too short / no terminal punctuation /
    banned substrings). DuckDB twin: ``_duck_pages_sql`` — concat_ws
    skips NULLs in both engines, which is how the odd-id footer
    drops out."""
    parts = [
        F.lit(_PAGE_HEADER),
        F.col("text"),
        F.concat(F.lit("page "), "doc_id", F.lit(" was crawled today.")),
        F.concat(
            F.lit("promo code "), F.col("doc_id") % 40, F.lit(" applies.")
        ),
        F.when(F.col("doc_id") % 2 == 0, F.lit(_PAGE_FOOTER)),
    ]
    if junk:
        parts += [
            F.lit("short."),
            F.lit("this line has no terminal punctuation"),
            F.lit("enable javascript to view this content."),
            F.lit("config = { a: 1 }."),
            F.lit("lorem ipsum dolor sit amet."),
        ]
    return docs.select("doc_id", F.concat_ws("\n", *parts).alias("text"))


_SPAN_BOILER = (
    "this website uses cookies to improve your experience please "
    "accept our terms of service to continue reading"
)


def _span_pages(docs: DataFrame) -> DataFrame:
    """Deterministic single-line pages with planted duplicated SPANS
    (the documents texts are all distinct, so span dedup needs shared
    token runs): a universal 17-token disclaimer prefix on every
    third id, the unique body, and a 13-token promo suffix whose
    variant token is ``doc_id % 50`` (shared by ~|docs|/100 even
    ids). concat_ws skips NULLs in both engines, which is how the
    non-matching ids drop the boilerplate. DuckDB twin:
    ``_duck_span_pages_sql``."""
    return docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.when(F.col("doc_id") % 3 == 0, F.lit(_SPAN_BOILER)),
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit("subscribe to newsletter tier "),
                    F.col("doc_id") % 50,
                    F.lit(
                        " for exclusive daily offers and breaking"
                        " news updates"
                    ),
                ),
            ),
        ).alias("text"),
    )


def q90_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span removal (Lee et al. 2021,
    distributed k-token-window analogue of the suffix-array method):
    every token covered by an 8-token window whose exact sequence
    occurs in >= 2 distinct documents is removed — the planted
    disclaimer and promo spans vanish, the unique bodies survive.
    Scale: one Exchange on doc_id for both frame aggregates + ONE
    corpus-wide window-hash census (map-side combined, output
    bounded by the repeated-boilerplate universe, broadcast back)."""
    from auto_data_tokenize_spark.operators.lines import (
        remove_duplicated_spans,
    )

    pages = _span_pages(_documents(spark, sf_dir))
    return remove_duplicated_spans(pages, k=8, min_docs=2).select(
        "doc_id", F.md5("text").alias("text_md5"), "n_kept", "n_removed"
    )


def q92_loss_mask_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT loss-mask manifest for the packed chat dataset: per-turn
    whitespace-token spans of the rendered conversations shifted by
    the q89 pack offsets — (conv, turn, role, shard, pack_id,
    global_start, global_end, trainable) where only agent turns carry
    loss. Scale: the span window shares the conv_id Exchange with
    audit/render; the spans-to-pack join is conv_id-co-partitioned;
    arithmetic is all exact BIGINTs."""
    from auto_data_tokenize_spark.functions.xengine import spark_md5_prefix
    from auto_data_tokenize_spark.operators.conversations import (
        conversation_audit,
        loss_mask_spans,
        render_chat,
    )
    from auto_data_tokenize_spark.operators.corpus import pack_sequences

    tr = _transcripts(spark, sf_dir)
    ok = (
        conversation_audit(tr, max_role_run=3)
        .where("structurally_valid")
        .select("conv_id")
    )
    rendered = render_chat(tr).join(ok, "conv_id").withColumn(
        "shard", F.expr(f"{spark_md5_prefix('conv_id')} % {N_PACK_SHARDS}")
    )
    packed = pack_sequences(
        rendered,
        id_col="conv_id",
        text_col="text",
        target_tokens=512,
        part_cols=["shard"],
    ).select("conv_id", "shard", "offset", "pack_id")
    spans = loss_mask_spans(tr, trainable_role="agent")
    return spans.join(packed, "conv_id").select(
        "conv_id",
        "turn_idx",
        "role",
        "shard",
        "pack_id",
        (F.col("offset") + F.col("tok_start")).alias("global_start"),
        (F.col("offset") + F.col("tok_end")).alias("global_end"),
        "trainable",
    )


def q93_stream_boilerplate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q90 duplicated-span census as a continuous admission gate:
    crawl pages arrive as a file stream and each micro-batch is scored
    for the fraction of its tokens covered by the STATIC corpus
    census; only pages at or below 50% known-boilerplate coverage
    reach the exactly-once sink (the admission audit log). Oracle: the
    batch coverage + the same threshold in SQL. Scale per
    micro-batch: one forward-frame window pass over the batch, a
    stream-static join against the persisted census (bounded by the
    repeated-boilerplate universe); no state store — replayed batches
    re-derive identical rows and the sink no-ops."""
    from auto_data_tokenize_spark.operators.lines import (
        duplicated_window_hashes,
    )
    from auto_data_tokenize_spark.streaming.ingest import BoilerplateGate

    pages = _span_pages(_documents(spark, sf_dir))
    census = duplicated_window_hashes(pages, k=8, min_docs=2)

    with _stream_case(spark, "q93") as case:
        mix = pages.toPandas().sort_values("doc_id")
        st = case.stage(mix, "doc_id long, text string")
        st = st.repartition(spark.sparkContext.defaultParallelism)
        with BoilerplateGate(
            census, case.sink(), max_covered_frac=0.5, k=8
        ) as gate:
            result = case.run(st, gate)
    return result.select("doc_id", "n_tokens", "n_covered", "covered_frac")


_URL_BLOCKED = ("src3.example.com", "src7.example.com")


def _url_pages(docs: DataFrame) -> DataFrame:
    """Deterministic crawl URLs over the documents table, planting
    every canonicalization case: mixed-case scheme/host, a www.
    prefix on every 4th id, a trailing path slash on every 3rd,
    tracking params (utm_* / gclid) in varying order, and a fragment
    on every 7th — all of which canonicalize away, so re-crawls of
    the same page id (doc_id % 297 within a source) collapse to one
    canonical URL. DuckDB twin: ``_duck_url_pages_sql``."""
    pid = F.col("doc_id") % 297
    return docs.select(
        "doc_id",
        "n_chars",
        F.concat(
            F.when(F.col("doc_id") % 5 == 0, F.lit("HTTPS")).otherwise(
                F.lit("https")
            ),
            F.lit("://"),
            F.when(F.col("doc_id") % 4 == 0, F.lit("WWW.")).otherwise(
                F.lit("")
            ),
            F.col("source"),
            F.lit(".Example.COM/articles/"),
            pid,
            F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit("?utm_source=feed&id="), pid, F.lit("&x=1")),
            ).otherwise(
                F.concat(F.lit("?x=1&id="), pid, F.lit("&gclid=abc123"))
            ),
            F.when(F.col("doc_id") % 7 == 0, F.lit("#top")).otherwise(
                F.lit("")
            ),
        ).alias("url"),
    )


def q94_url_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/C4-style pre-content URL pass: canonicalize (case,
    www, trailing slash, tracking params, fragment), keep one page
    per canonical URL (first crawl wins), drop blocklisted domains,
    cap each domain at 5 pages by (n_chars DESC, id ASC). Scale: the
    canonical key groupBy is map-side combined, the blocklist
    broadcasts, the cap is ONE window shuffle on domain — all before
    any content pass runs."""
    from auto_data_tokenize_spark.operators.urls import url_pipeline

    pages = _url_pages(_documents(spark, sf_dir))
    blocked = spark.createDataFrame(
        [(d,) for d in _URL_BLOCKED], "domain string"
    )
    return url_pipeline(pages, blocked, cap_n=5, order_col="n_chars")


def q95_stream_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q91 DSIR estimator as a continuous admission gate: crawl
    docs arrive as a file stream and each micro-batch is scored
    against the STATIC importance-ratio table (raw = full corpus,
    target = English slice); docs whose per-gram average ratio
    clears -85000 micro-units — the measured en-vs-rest separation
    boundary at both gate SFs (en averages ~-58k/-73k, other langs
    ~-92k..-113k; alpha=1 smoothing with B comparable to the corpus
    totals shifts all averages negative) — reach the exactly-once
    sink. The threshold compare is exact integer
    cross-multiplication. Oracle: the batch weights filtered at the
    same threshold. Scale per micro-batch: one lag-window gram pass,
    the <= 4096-row ratio table broadcasts, one id groupBy; no state
    store."""
    from auto_data_tokenize_spark.operators.dsir import (
        dsir_default_ratio_micro6,
        dsir_log_ratios,
    )
    from auto_data_tokenize_spark.streaming.ingest import DsirGate

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    target = docs.join(
        _documents(spark, sf_dir)
        .where(F.col("lang") == "en")
        .select("doc_id"),
        "doc_id",
    )
    ratios = dsir_log_ratios(docs, target, n_buckets=4096)
    default = dsir_default_ratio_micro6(
        docs, target, n_buckets=4096
    ).first()[0]

    with _stream_case(spark, "q95") as case:
        mix = docs.toPandas().sort_values("doc_id")
        st = case.stage(mix, "doc_id long, text string")
        st = st.repartition(spark.sparkContext.defaultParallelism)
        with DsirGate(
            ratios,
            default,
            case.sink(),
            min_avg_ratio_micro6=-85000,
            n_buckets=4096,
        ) as gate:
            result = case.run(st, gate)
    return result.select("doc_id", "n_grams", "logw_micro6")


def q91_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023): hashed
    unigram+bigram bucket distributions of the English target slice
    vs the full mixed-language corpus, Laplace-smoothed importance
    log-ratios in exact integer micro-units, top-100 most
    target-like docs on a total order. Scale: two map-side-combined
    bucket censuses (<= 4096 rows each), the ratio table broadcasts,
    one doc_id groupBy — the corpus never self-joins."""
    from auto_data_tokenize_spark.operators.dsir import dsir_select

    docs = _documents(spark, sf_dir)
    target = docs.where(F.col("lang") == "en").select("doc_id", "text")
    return dsir_select(
        docs.select("doc_id", "text"), target, k=100, n_buckets=4096
    )


def q83_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document repeated-line removal: any line
    occurring in >= 5 distinct pages (the cookie header everywhere,
    the footer on even ids, the promo line shared by ~12 pages) is
    boilerplate and is stripped; unique lines and the document body
    survive in original order. Scale: one line-hash census shuffle
    (map-side combined, output = distinct boilerplate set) + the
    per-document regroup."""
    from auto_data_tokenize_spark.operators.lines import (
        remove_repeated_lines,
    )

    pages = _line_pages(_documents(spark, sf_dir))
    return remove_repeated_lines(pages, min_docs=5).select(
        "doc_id", F.md5("text").alias("text_md5"), "n_kept", "n_removed"
    )


def q84_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style per-line heuristic cleaning (Raffel et al. 2019
    §2.2): keep only lines ending in terminal punctuation with >= 3
    words and none of the banned substrings (lorem ipsum /
    javascript / curly brace); the synthesized pages plant one bait
    line per rule. Pure codegen predicates + the regroup shuffle."""
    from auto_data_tokenize_spark.operators.lines import c4_clean_lines

    pages = _line_pages(_documents(spark, sf_dir), junk=True)
    return c4_clean_lines(pages, min_words=3).select(
        "doc_id", F.md5("text").alias("text_md5"), "n_kept", "n_removed"
    )


def q85_lm_top_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff LM training (Brants et al. 2007): the trigram
    count table over the documents corpus, top-100 by (count desc,
    gram) — a total order, so the LIMIT boundary is deterministic.
    Scale: lag-window projection + ONE map-side-combined groupBy; the
    shuffle volume is the distinct trigram vocabulary."""
    from auto_data_tokenize_spark.operators.lm import train_stupid_backoff

    lm = train_stupid_backoff(_documents(spark, sf_dir))
    return lm.tri.orderBy(F.desc("cnt"), "gram").limit(100)


def q86_lm_fluency_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet-style LM fluency gate: train Stupid Backoff on the
    in-corpus split (doc_id % EVAL_MOD != 0), score a mixture of the
    full corpus, token-REVERSED variants (+1e6 ids: trigrams break,
    backoff to bigrams/unigrams), and out-of-vocabulary gibberish
    (+2e6 ids: exercises the unseen-unigram half-count). Emits exact
    integer backoff-level hit counts, the rounded per-token avg ln S,
    and the pass/fail of a -7.0 threshold. Scale: scoring is five
    hash joins against the (prunable, broadcast-sized) count tables —
    no corpus-wide aggregation except the per-document mean."""
    from auto_data_tokenize_spark.operators.lm import (
        score_stupid_backoff,
        train_stupid_backoff,
    )

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    lm = train_stupid_backoff(docs.filter(f"doc_id % {EVAL_MOD} != 0"))
    rev = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(
            " ", F.reverse(F.split(F.trim("text"), r"\s+"))
        ).alias("text"),
    )
    gib = docs.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.lit("zq"), "doc_id", F.lit(" glorp wibble frub nix")
        ).alias("text"),
    )
    mix = docs.unionByName(rev).unionByName(gib)
    return score_stupid_backoff(mix, lm).select(
        "doc_id",
        "n_tokens",
        "n_hit3",
        "n_hit2",
        "n_hit1",
        "avg_logp",
        (F.col("avg_logp") >= -7.0).alias("passes"),
    )


def q87_stream_fluency_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q86 LM fluency filter as a continuous ingest gate: the
    same corpus/reversed/gibberish crawl mixture arrives as a file
    stream and each micro-batch is scored inside foreachBatch against
    the STATIC Stupid Backoff tables (trained on the in-corpus
    split); only docs with avg_logp >= -7.0 reach the exactly-once
    sink, which doubles as the fluency audit log. Oracle: the batch
    q86 scoring filtered at the same threshold. Scale per micro-batch:
    five hash joins against persisted (count-prunable,
    broadcast-sized) model tables; no state store, no watermark —
    redelivered batches re-derive identical rows and the sink
    no-ops."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.lm import train_stupid_backoff
    from auto_data_tokenize_spark.streaming.ingest import FluencyGate

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    lm = train_stupid_backoff(docs.filter(f"doc_id % {EVAL_MOD} != 0"))

    with _stream_case(spark, "q87") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
            ["doc_id", "text"]
        ].sort_values("doc_id")
        rev = pdf.copy()
        rev["text"] = [
            " ".join(reversed(t.strip().split())) for t in rev["text"]
        ]
        rev["doc_id"] = rev["doc_id"] + 1000000
        gib = pdf.copy()
        gib["text"] = [
            f"zq{d} glorp wibble frub nix" for d in gib["doc_id"]
        ]
        gib["doc_id"] = gib["doc_id"] + 2000000
        mix = pd.concat([pdf, rev, gib], ignore_index=True)
        st = case.stage(mix, "doc_id long, text string")
        st = st.repartition(spark.sparkContext.defaultParallelism)
        with FluencyGate(lm, case.sink(), min_avg_logp=-7.0) as gate:
            result = case.run(st, gate)
    return result.select(
        "doc_id", "n_tokens", "n_hit3", "n_hit2", "n_hit1", "avg_logp"
    )


def q88_conversation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-structure audit over the transcripts table: per
    conversation, opening role, per-role turn counts, orphan tool
    results (role='tool' with no preceding tool call), longest
    same-role run, and the structural validity verdict — the
    transcript analogue of C4/CCNet document heuristics, upstream of
    chat rendering. Plan: ONE conv_id hash Exchange (lag + run-length
    windows and both groupBys share the key; plan-asserted in
    tests/test_conversations.py)."""
    from auto_data_tokenize_spark.operators.conversations import (
        conversation_audit,
    )

    return conversation_audit(_transcripts(spark, sf_dir), max_role_run=3)


def q89_chat_render_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transcripts-to-training-batches pipeline: audit → keep
    structurally valid conversations → render each under the
    deterministic chat template (<|role|> / <|role:tool|> headers,
    <|end|> terminator) → concat-and-chop pack the rendered docs into
    512-token sequences per md5 shard (the q51 sharded layout, so the
    packing window never concentrates on one task). Scale: one
    conv_id Exchange for audit+render, one (shard) window shuffle for
    packing; the audit→render join is conv_id-co-partitioned."""
    from auto_data_tokenize_spark.functions.xengine import spark_md5_prefix
    from auto_data_tokenize_spark.operators.conversations import (
        conversation_audit,
        render_chat,
    )
    from auto_data_tokenize_spark.operators.corpus import pack_sequences

    tr = _transcripts(spark, sf_dir)
    ok = (
        conversation_audit(tr, max_role_run=3)
        .where("structurally_valid")
        .select("conv_id")
    )
    rendered = render_chat(tr).join(ok, "conv_id").withColumn(
        "shard", F.expr(f"{spark_md5_prefix('conv_id')} % {N_PACK_SHARDS}")
    )
    return pack_sequences(
        rendered,
        id_col="conv_id",
        text_col="text",
        target_tokens=512,
        part_cols=["shard"],
    ).select("conv_id", "shard", "n_tokens", "offset", "pack_id")


def q96_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication over the augmented
    embedding corpus (q18's planted near-copies put real pairs on both
    sides of the 0.9 cut): k-means multi-probe cells generate the
    candidates, exact cosine verifies, greedy keep-min-id marks
    duplicates. Pair recall 1.0 at these (nlist=64, nprobe=4)
    parameters is pinned by tests/test_similarity.py at both gate SFs,
    which is what lets the brute-force SQL oracle apply — precision is
    exact by construction. (nlist=64 measured: same exact recall as
    16/32, ~30% faster — tighter cells prune more of the candidate
    quadratic.)"""
    from auto_data_tokenize_spark.operators.similarity import semantic_dedup

    aug = _augmented_embeddings(spark, sf_dir)
    # dup_of sorts alphabetically before vec_id, so the parity
    # harness's row sort would hit None-vs-int — sentinel -1 marks
    # survivors (same trick as the other nullable-first gate outputs)
    return semantic_dedup(
        aug, threshold=0.9, nlist=64, nprobe=4, vec_col="v"
    ).select(
        "vec_id",
        F.coalesce("dup_of", F.lit(-1).cast("long")).alias("dup_of"),
    )


def q97_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing (alpha = 0.5): per-source keep
    rates proportional to sqrt(source size) against a half-corpus
    budget, computed in exact integer micro-units so both engines
    derive identical 1/10000-bucket thresholds, then applied through
    the md5-bucket survival rule of q54 — tail sources are upsampled
    relative to raw proportions without duplicating documents. One
    partial-agg groupBy for the counts (driver holds only the source
    vocabulary), then a pure zero-shuffle filter."""
    from auto_data_tokenize_spark.operators.corpus import (
        mix_sources,
        temperature_rates,
    )

    docs = _documents(spark, sf_dir)
    rates = temperature_rates(docs, budget_num=1, budget_den=2)
    return mix_sources(docs, rates, default_rate=0.0).select(
        "doc_id", "source", "lang"
    )


def q98_stream_semantic_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q96 semantic dedup as a continuous admission gate: the 50
    planted near-copies arrive as an embedding stream and are probed
    against the frozen k-means cells of the STATIC base corpus; an
    arrival with any corpus vector at cosine ≥ 0.9 (exact rescore on
    candidates only) is rejected, the rest reach the exactly-once
    sink. The c=0.3 copies (cos ≈ 0.95) are rejected and the c=0.55
    copies (cos 0.86–0.92) split on the threshold, so both gate
    outcomes are exercised. Arrival-vs-arrival dedup is the batch
    operator's job (q96); the gate checks arrivals against the corpus
    only — the oracle is the same NOT-EXISTS over corpus pairs."""
    from auto_data_tokenize_spark.streaming.ingest import SemanticDedupGate

    aug = _augmented_embeddings(spark, sf_dir)
    corpus = aug.filter(F.col("vec_id") < 1000000)
    arrivals = aug.filter(F.col("vec_id") >= 1000000)

    with _stream_case(spark, "q98") as case:
        pdf = arrivals.toPandas().sort_values("vec_id")
        st = case.stage(
            pdf, "vec_id long, v array<double>", order_col="vec_id", n_files=4
        )
        st = st.repartition(spark.sparkContext.defaultParallelism)
        with SemanticDedupGate(
            corpus, case.sink(), threshold=0.9, nlist=16, nprobe=4, vec_col="v"
        ) as gate:
            result = case.run(st, gate)
    return result.select("vec_id")


def q99_image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicates over REAL decoded bitmaps: the 60-image
    synth corpus (40 independent + 20 perturbed near-copies) is
    BMP-encoded, decoded back by the stdlib parser, reduced to the
    integer-exact 64-bit aHash, and paired by the pigeonhole-complete
    hamming block join. The oracle hashes the same pixels with an
    INDEPENDENT pure-Python-loop implementation (datagen golden
    parquet, q30 methodology), so the gate checks the whole
    encode → decode → hash → block-join path against spec
    arithmetic."""
    from auto_data_tokenize_spark import datagen
    from auto_data_tokenize_spark.operators.multimodal import (
        image_ahash,
        image_near_dups,
        synth_image_corpus,
    )

    datagen.ensure_image_hashes(_sf_name(sf_dir))
    imgs = synth_image_corpus(
        spark,
        n_base=datagen.IMAGE_CORPUS_BASE,
        n_copies=datagen.IMAGE_CORPUS_COPIES,
    )
    return image_near_dups(image_ahash(imgs), max_hamming=8)


def q100_nb_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes quality classifier (the CCNet/GPT-3 linear-filter
    recipe): train on the documents table with lang=='en' as the
    positive label (a deterministic ground truth both engines can
    derive), score every document with the exact integer micro-unit
    log-posterior ratio. Train = one map-side-combined (token, class)
    groupBy; score = one broadcast hash join + per-doc partial agg —
    no iterative driver loop anywhere. min_count=2 exercises the
    vocabulary cutoff that keeps the model broadcast-sized at 100 TB."""
    from auto_data_tokenize_spark.operators.quality_clf import (
        score_nb,
        train_nb,
    )

    docs = _documents(spark, sf_dir).select("doc_id", "text", "lang")
    labeled = docs.withColumn("label", F.col("lang") == "en")
    model = train_nb(labeled, min_count=2)
    return score_nb(docs, model).select(
        "doc_id", "n_tokens", "score_micro6"
    )


NB_GATE_MIN_SCORE_MICRO6 = -450000


def q103_tink_keyset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tink-keyset wire-compatible tokenization: a cleartext AES256-SIV
    keyset (the reference's own key format; tinkey output) drives
    whole-column encrypt → decrypt, and the output must equal the
    input. Byte-parity with the reference's DaeadEncryptingValueTokenizer
    is pinned separately against its published golden encrypted records
    (tests/test_tink_compat.py) — this query gates the Spark column
    plumbing end-to-end on driver data."""
    import hashlib

    from auto_data_tokenize_spark.functions.tink_compat import (
        make_keyset_json,
    )
    from auto_data_tokenize_spark.operators.tokenize import (
        detokenize_columns_tink,
        tokenize_columns_tink,
    )
    from auto_data_tokenize_spark.sources.readers import ensure_parallelism

    ks = make_keyset_json(
        hashlib.sha512(b"adt-tink-demo").digest(), key_id=20260818
    )
    cols = ["c_name", "c_acctbal", "c_nationkey"]
    cust = ensure_parallelism(
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select(
            "c_custkey", "c_name", "c_acctbal", "c_nationkey"
        )
    )
    tok = tokenize_columns_tink(cust, cols, ks)
    back = detokenize_columns_tink(
        tok,
        cols,
        ks,
        {"c_name": "string", "c_acctbal": "double", "c_nationkey": "bigint"},
    )
    return back.select("c_custkey", "c_name", "c_acctbal", "c_nationkey")


def q102_rekey_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root-key rotation: tokenize customer columns under key A, rotate
    the tokenized table to key B in one zero-shuffle projection pass
    (clear text never re-materialized outside executors), then
    detokenize under B — the output must be byte-identical to the
    input, which is exactly what the oracle checks. Also gates that the
    rotation actually changed every token (old and new ciphertexts are
    disjoint) before the final decrypt."""
    import hashlib

    from auto_data_tokenize_spark.operators.tokenize import (
        detokenize_columns,
        rekey_columns,
        tokenize_columns,
    )
    from auto_data_tokenize_spark.sources.readers import ensure_parallelism

    key_a = hashlib.sha256(b"adt-rekey-old").digest()
    key_b = hashlib.sha256(b"adt-rekey-new").digest()
    cols = ["c_name", "c_acctbal"]
    cust = ensure_parallelism(
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select(
            "c_custkey", "c_name", "c_acctbal"
        )
    )
    old_tok = tokenize_columns(cust, cols, root_key=key_a)
    new_tok = rekey_columns(old_tok, cols, key_a, key_b)
    # rotation gate: every ciphertext of EVERY rotated column changed
    # (deterministic SIV under a different derived key can never
    # collide with the old token)
    o = old_tok.select(
        "c_custkey",
        F.col("encrypted_c_name").alias("_on"),
        F.col("encrypted_c_acctbal").alias("_oa"),
    )
    n = new_tok.select(
        "c_custkey",
        F.col("encrypted_c_name").alias("_nn"),
        F.col("encrypted_c_acctbal").alias("_na"),
    )
    unchanged = n.join(o, "c_custkey").filter(
        (F.col("_nn") == F.col("_on")) | (F.col("_na") == F.col("_oa"))
    )
    types = {"c_name": "string", "c_acctbal": "double"}
    back = detokenize_columns(new_tok, cols, types, root_key=key_b)
    # fold the rotation gate into the emitted frame: the oracle pins
    # n_unrotated = 0 on every row, so an unrotated token anywhere
    # fails the hash match
    return back.select("c_custkey", "c_name", "c_acctbal").join(
        unchanged.groupBy().agg(
            F.count(F.lit(1)).cast("long").alias("n_unrotated")
        ),
        how="cross",
    )


TOKEN_BUDGET_PER_LANG = 5_000


def q104_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget sampling — "take the best N tokens
    per language", the mixture-building primitive data recipes quote
    budgets in. Docs are taken by (n_chars DESC, doc_id ASC) priority
    until the whitespace-token running total would exceed the budget.
    ONE window shuffle on lang (the domain_cap pattern — per-key sort,
    no global order)."""
    from auto_data_tokenize_spark.operators.corpus import take_token_budget

    return take_token_budget(
        _documents(spark, sf_dir),
        TOKEN_BUDGET_PER_LANG,
        key_col="lang",
        order_col="n_chars",
    )


def q105_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EVAL-doc contamination scores (the reverse direction of
    q53): for each held-out doc, the fraction of its distinct 5-word
    shingles present anywhere in the corpus — GPT-3 appendix C's
    per-benchmark dirtiness table. The corpus is never shuffled: its
    shingles semi-join the broadcast eval universe and only the
    eval-bounded survivors aggregate."""
    from auto_data_tokenize_spark.operators.corpus import (
        contamination_report,
    )

    docs = _documents(spark, sf_dir)
    ev = docs.filter(f"doc_id % {EVAL_MOD} = 0").select("doc_id", "text")
    corpus = docs.filter(f"doc_id % {EVAL_MOD} != 0").select(
        "doc_id", "text"
    )
    return contamination_report(corpus, ev, k=5)


def q106_domain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain curation dashboard over the synthetic crawl: page
    count, quality pass rate, token volume — the table per-domain
    crawl rules are tuned from. Quality features are narrow codegen
    projections; the domain groupBy is map-side combined (output is
    domain-cardinality)."""
    from auto_data_tokenize_spark.operators.urls import (
        domain_curation_report,
    )

    docs = _documents(spark, sf_dir)
    pages = _url_pages(docs).select("doc_id", "url").join(
        docs.select("doc_id", "text"), "doc_id"
    )
    return domain_curation_report(pages)


HH_DEN = 200  # heavy-hitter threshold: tokens above 1/200 of the stream


def q107_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent tokens above a 1/200 stream-frequency threshold
    via per-partition Misra-Gries candidates + exact rescore of
    candidates only (operators/sketches.py heavy_hitters) — the
    vocabulary/stopword-mining primitive, shaped so the only full
    shuffle carries candidate tokens (<= 200 per partition), never the
    token universe. Oracle: the brute-force exact count at the
    identical integer threshold (the guarantee says the answer sets
    are equal; the gate checks it)."""
    from auto_data_tokenize_spark.operators.sketches import heavy_hitters

    docs = _documents(spark, sf_dir)
    toks = docs.select(
        F.explode(F.expr("split(trim(lower(text)), '\\\\s+')")).alias("token")
    ).filter("token <> ''")
    return heavy_hitters(toks, "token", num=1, den=HH_DEN)


def q108_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-epoch, 8-shard training-order assignment
    (operators/corpus.py epoch_shuffle): per-epoch pseudorandom global
    shuffle with NO global sort — one window shuffle on (epoch,
    shard), placement recomputable from (seed, epoch, id) alone.
    Oracle recomputes the identical md5-prefix placement."""
    from auto_data_tokenize_spark.operators.corpus import epoch_shuffle

    return epoch_shuffle(
        _documents(spark, sf_dir).select("doc_id"),
        n_epochs=3,
        n_shards=8,
        seed="r5",
    )


def q109_corpus_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions (operators/
    versioning.py corpus_delta): v1 drops the doc_id%10==0 slice
    (those become 'added' in v2), prefixes the %10==1 slice's text
    ('changed'), and v2 drops the %10==3 slice ('removed'). One
    co-partitioned full-outer join on fixed-width content hashes —
    the incremental-processing work list, bounded by churn."""
    from auto_data_tokenize_spark.operators.versioning import corpus_delta

    docs = _documents(spark, sf_dir).select("doc_id", "text", "lang")
    b = F.col("doc_id") % 10
    v1 = docs.filter(b != 0).withColumn(
        "text",
        F.when(
            b == 1,
            F.concat(F.lit("old:"), F.coalesce(F.col("text"), F.lit(""))),
        ).otherwise(F.col("text")),
    )
    v2 = docs.filter(b != 3)
    return corpus_delta(v1, v2, ["text", "lang"])


CHUNK_TOKENS, CHUNK_STRIDE = 32, 24


def q110_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (operators/corpus.py
    chunk_documents): 32-token windows advancing 24 — the
    embedding/RAG prep primitive. Pure codegen projection + one
    generator, zero shuffles; the oracle recomputes the identical
    window/containment rule in SQL."""
    from auto_data_tokenize_spark.operators.corpus import chunk_documents

    return chunk_documents(
        _documents(spark, sf_dir),
        chunk_tokens=CHUNK_TOKENS,
        stride=CHUNK_STRIDE,
    )


def q111_stream_delta_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q109 snapshot diff as an ingest-time gate (operators/
    versioning.py SnapshotDeltaGate): the v2 snapshot arrives as a
    file stream and each micro-batch's fingerprints left-join the
    persisted v1 fingerprints, emitting only added/changed work rows
    through the exactly-once sink ('removed' is unobservable from an
    arriving-doc gate — that side stays batch/tombstone). Oracle: the
    q109 SQL minus its 'removed' rows."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.versioning import (
        SnapshotDeltaGate,
    )

    docs = _documents(spark, sf_dir).select("doc_id", "text", "lang")
    b = F.col("doc_id") % 10
    v1 = docs.filter(b != 0).withColumn(
        "text",
        F.when(
            b == 1,
            F.concat(F.lit("old:"), F.coalesce(F.col("text"), F.lit(""))),
        ).otherwise(F.col("text")),
    )
    with _stream_case(spark, "q111") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet")).loc[
            :, ["doc_id", "text", "lang"]
        ]
        pdf = pdf[pdf["doc_id"] % 10 != 3]
        st = case.stage(pdf, "doc_id long, text string, lang string")
        with SnapshotDeltaGate(v1, ["text", "lang"]) as gate:
            result = case.run(gate.apply(st))
    return result.select("doc_id", "status", "old_hash", "new_hash")


TREND_MIN_COUNT = 25  # trending threshold: occurrences per 1-min window


def q112_stream_trending_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live trending-token monitor (streaming/pipeline.py
    trending_tokens_stream): documents arrive as an ingest stream
    (deterministic arrival time = epoch + doc_id seconds) and a
    watermarked 1-minute tumbling window counts whitespace tokens in
    the state store, emitting only (window, token) pairs that clear
    25 occurrences — the live twin of q107's vocabulary mining and the
    spike detector (spam bursts, template floods) a crawl ingest runs
    continuously. Append mode emits only watermark-closed windows;
    the oracle reproduces the identical tokenization, threshold, and
    final-watermark predicate in SQL."""
    import pandas as pd

    from auto_data_tokenize_spark.streaming.pipeline import (
        trending_tokens_stream,
    )

    with _stream_case(spark, "q112") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
            ["doc_id", "text"]
        ]
        pdf["ts"] = pd.Timestamp(
            "2026-01-01"
        ).to_datetime64() + pd.to_timedelta(pdf["doc_id"], unit="s")
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        st = case.stage(pdf, "doc_id long, text string, ts timestamp")
        agg = trending_tokens_stream(
            st,
            duration="1 minute",
            watermark="30 seconds",
            min_count=TREND_MIN_COUNT,
        )
        return case.run(agg, shuffle_partitions=2)


def q113_incremental_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-driven LSH index maintenance (operators/versioning.py
    incremental_band_index): given the q109 snapshot diff, evict the
    bands of removed/changed docs and re-band added/changed docs ONLY
    — keeping the near-dup index current costs O(churn) instead of the
    full-corpus signature pass (q78 is the streaming upsert twin of
    this; the batch delta path is what handles REMOVALS). Oracle: the
    full from-scratch band recompute over snapshot v2 — equality
    proves the incremental maintenance is exact. Scale: churn id lists
    broadcast into the anti-/semi-joins, so the corpus-sized index
    never shuffles and only churned docs pay the signature aggregate."""
    from auto_data_tokenize_spark.operators.dedup import (
        banded_keys,
        minhash_signatures,
    )
    from auto_data_tokenize_spark.operators.versioning import (
        corpus_delta,
        incremental_band_index,
    )

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    b = F.col("doc_id") % 10
    v1 = docs.filter(b != 0).withColumn(
        "text",
        F.when(
            b == 1,
            F.concat(F.lit("old:"), F.coalesce(F.col("text"), F.lit(""))),
        ).otherwise(F.col("text")),
    )
    v2 = docs.filter(b != 3)
    old_index = banded_keys(minhash_signatures(v1))
    delta = corpus_delta(v1, v2, ["text"])
    return incremental_band_index(old_index, delta, v2)


def q114_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source content-overlap matrix (operators/corpus.py
    source_overlap): shared distinct 5-word shingles, per-source
    shingle counts, and exact Jaccard for every source pair — the
    mixing diagnostic that catches two crawl feeds being substantially
    the same corpus before they are weighted as independent. Scale:
    one distinct shuffle + a shingle-keyed join whose fan-out is
    bounded by C(n_sources, 2) per shingle."""
    from auto_data_tokenize_spark.operators.corpus import source_overlap

    return source_overlap(_documents(spark, sf_dir))


QUOTA_PER_WINDOW = 2  # admitted docs per (1-min window, source)


def q115_stream_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(window, source) streaming admission quota (streaming/
    ingest.py source_quota_stream): the first 2 documents of each
    source in each 1-minute event-time window are admitted with their
    admission rank; later arrivals drop — flood control for bursting
    crawl feeds. Admission is decided immediately (no watermark
    holdback), state is one counter per open (window, source), and
    decisions are micro-batch-slicing invariant under ordered arrival.
    Oracle: the row_number() twin at the same quota."""
    import pandas as pd

    from auto_data_tokenize_spark.streaming.ingest import (
        source_quota_stream,
    )

    with _stream_case(spark, "q115") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
            ["doc_id", "source"]
        ]
        pdf["ts"] = pd.Timestamp(
            "2026-01-01"
        ).to_datetime64() + pd.to_timedelta(pdf["doc_id"], unit="s")
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        st = case.stage(pdf, "doc_id long, source string, ts timestamp")
        gated = source_quota_stream(st, quota=QUOTA_PER_WINDOW)
        return case.run(gated, shuffle_partitions=8)


RESERVOIR_N = 10  # maintained sample slots per stratum


def q116_stream_stratified_reservoir(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Live deterministic stratified sample (streaming/ingest.py
    stratified_reservoir_stream): per-lang bottom-10 by md5(seed:id)
    maintained in state as the stream arrives, CDC slot changes
    emitted through the exactly-once sink's keyed UPSERT mode
    (key = (lang, slot), merge-on-read) — the continuously-current
    audit/eval sample of a live corpus. Bottom-k of a set is
    arrival-order-invariant, so the final resolved sample EQUALS the
    batch stratified_sample at the same seed, which is the oracle."""
    import pandas as pd

    from auto_data_tokenize_spark.streaming.ingest import (
        stratified_reservoir_stream,
    )

    with _stream_case(spark, "q116") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
            ["doc_id", "lang"]
        ]
        st = case.stage(pdf, "doc_id long, lang string")
        sampled = stratified_reservoir_stream(
            st, ["lang"], n_per_stratum=RESERVOIR_N
        )
        sink = case.sink(key_cols=("lang", "slot"), version_col="version")
        result = case.run(sampled, sink, shuffle_partitions=8)
    return result.select("lang", "slot", "doc_id")


def q117_stream_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window exact distinct-token count + type-token ratio on the
    ingest stream (streaming/pipeline.py distinct_tokens_stream) — two
    CHAINED stateful aggregations (streaming COUNT(DISTINCT) is
    unsupported directly): (window, token) presence first, then the
    per-window count, the q40 rollup machinery at one granularity.
    A collapsing TTR is the live signature of a template flood.
    Oracle: COUNT(DISTINCT)/COUNT(*) per window at the identical
    final-watermark predicate."""
    import pandas as pd

    from auto_data_tokenize_spark.streaming.pipeline import (
        distinct_tokens_stream,
    )

    with _stream_case(spark, "q117") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
            ["doc_id", "text"]
        ]
        pdf["ts"] = pd.Timestamp(
            "2026-01-01"
        ).to_datetime64() + pd.to_timedelta(pdf["doc_id"], unit="s")
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        st = case.stage(pdf, "doc_id long, text string, ts timestamp")
        agg = distinct_tokens_stream(
            st, duration="1 minute", watermark="30 seconds"
        )
        return case.run(agg, shuffle_partitions=2)


def q118_stream_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained dataset card (streaming/pipeline.py
    dataset_card_stream): running per-(lang, source) doc counts and
    token totals updated per micro-batch, CDC-emitted through the
    upsert sink (key = (lang, source), merge-on-read) — materialized-
    view maintenance, the all-time complement of the q79 windowed
    monitor. Running sums are arrival-order-invariant, so the resolved
    card equals the batch aggregate (the oracle), under any slicing."""
    import pandas as pd

    from auto_data_tokenize_spark.streaming.pipeline import (
        dataset_card_stream,
    )

    with _stream_case(spark, "q118") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
            ["doc_id", "lang", "source", "text"]
        ]
        st = case.stage(
            pdf, "doc_id long, lang string, source string, text string"
        )
        card = dataset_card_stream(st)
        sink = case.sink(key_cols=("lang", "source"), version_col="version")
        result = case.run(card, sink, shuffle_partitions=8)
    # -1 sentinel for all-NULL-text strata: the parity harness sorts
    # rows as tuples over alphabetically sorted columns, and a nullable
    # numeric behind the non-unique 'lang' column would raise on the
    # None-vs-int tie-break (the documented gate-query contract)
    return result.select(
        "lang",
        "source",
        "n_docs",
        F.coalesce(F.col("total_tokens"), F.lit(-1)).alias("total_tokens"),
        F.coalesce(F.col("max_tokens"), F.lit(-1)).alias("max_tokens"),
    )


def q119_stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 dimension enrichment (streaming/ingest.py
    AsofEnrichGate): arriving events pick up the LATEST version of a
    deterministic per-user dimension at-or-before their event time
    (4 versions per user at 7-day boundaries offset by user_id % 24
    hours; tier = (user_id + k) % 5), left-as-of per micro-batch
    against the persisted dim through the exactly-once sink — events
    before their user's first version keep NULL attributes. Oracle:
    DuckDB's native ASOF LEFT JOIN over the identically-constructed
    dimension."""
    from auto_data_tokenize_spark.streaming.ingest import AsofEnrichGate

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "user_id", "ts"
    )
    dim = (
        ev.select("user_id")
        .distinct()
        .select("user_id", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k"))
        .select(
            "user_id",
            F.expr(
                "timestampadd(HOUR, CAST(user_id % 24 AS INT), "
                "timestampadd(DAY, k * 7, TIMESTAMP '2024-01-01'))"
            ).alias("vts"),
            ((F.col("user_id") + F.col("k")) % 5).alias("tier"),
        )
    )
    with _stream_case(spark, "q119") as case:
        pdf = ev.toPandas()
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        st = case.stage(
            pdf, "event_id long, user_id long, ts timestamp", order_col="event_id"
        )
        with AsofEnrichGate(
            dim, case.sink(), on="user_id", right_cols=["tier"]
        ) as gate:
            result = case.run(st, gate)
    return result.select(
        "event_id",
        "user_id",
        "ts",
        F.col("vts_asof").alias("version_ts"),
        F.col("tier_asof").alias("tier"),
    )


def q120_stream_assemble_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming conversation assembly (streaming/pipeline.py
    assemble_sessions_stream): gap-sessionized turns collected in the
    state store and emitted as ONE ordered assembled document per
    watermark-closed session — the SFT/chat-corpus compaction step run
    on the live turn stream. Emission order is pinned by struct sort,
    so arrival order never matters; all-NULL sessions assemble NULL
    (the SQL string_agg contract). Oracle: the q23 gap-islands SQL +
    ordered string_agg at the identical final-watermark predicate."""
    from auto_data_tokenize_spark.streaming.pipeline import (
        assemble_sessions_stream,
    )

    with _stream_case(spark, "q120") as case:
        sessions = assemble_sessions_stream(
            _staged_transcripts(case, sf_dir),
            gap="30 minutes",
            watermark="10 minutes",
        )
        result = case.run(sessions, shuffle_partitions=8)
    return result.select(
        "conv_id", "session_start", "session_end", "n_turns", "text"
    )


def q101_stream_nb_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q100 classifier as a continuous admission gate: documents
    arrive as a file stream and each micro-batch is scored against the
    STATIC Naive-Bayes model (trained once on the corpus with
    lang=='en' as the positive label); only docs whose exact integer
    log-posterior ratio clears the threshold reach the exactly-once
    sink. The threshold sits between the measured en / non-en score
    bands so both gate outcomes are exercised. Oracle: the q100 score
    SQL filtered at the same integer threshold. Per micro-batch: one
    token explode, the vocabulary-bounded ratio table broadcasts, one
    id groupBy — no state store."""
    from auto_data_tokenize_spark.operators.quality_clf import train_nb
    from auto_data_tokenize_spark.streaming.ingest import NbQualityGate

    docs = _documents(spark, sf_dir).select("doc_id", "text", "lang")
    model = train_nb(
        docs.withColumn("label", F.col("lang") == "en"), min_count=2
    )

    with _stream_case(spark, "q101") as case:
        pdf = docs.select("doc_id", "text").toPandas().sort_values("doc_id")
        st = case.stage(pdf, "doc_id long, text string")
        st = st.repartition(spark.sparkContext.defaultParallelism)
        with NbQualityGate(
            model, case.sink(), min_score_micro6=NB_GATE_MIN_SCORE_MICRO6
        ) as gate:
            result = case.run(st, gate)
    return result.select("doc_id", "n_tokens", "score_micro6")


SKEW_TOP_N, SKEW_PARTS = 20, 32


def q121_key_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics over the transcript stream's partitioning
    key (operators/skew.py skew_stats): the top-20 heaviest conv_ids
    with their table share and the salt factor that re-uniforms them
    under a 32-way shuffle — the measurement that DRIVES the module's
    salted_repartition/salted_agg at 10^12 turns (north_rule: 'skew
    handled explicitly' starts with finding the hot keys). Scale: one
    partial-agg groupBy to |keys| rows, broadcast total, TakeOrdered
    top-n — never a full sort shuffle."""
    from auto_data_tokenize_spark.operators.skew import skew_stats

    return skew_stats(
        _transcripts(spark, sf_dir),
        "conv_id",
        top_n=SKEW_TOP_N,
        partitions=SKEW_PARTS,
    )


def q122_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming language-mix drift monitor (operators/textstats.py
    distribution_drift_monitor): documents arrive as an ingest stream
    and each watermark-closed 1-minute window reports its observed-L1
    distance from the corpus baseline language distribution — the
    alarm that catches a scraper/router change in the window it
    happens. Two CHAINED stateful aggregations with a stream-static
    broadcast baseline join between them, append mode through the
    exactly-once sink. Oracle: the identical windowed L1 in SQL at the
    same final-watermark predicate."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.textstats import (
        baseline_shares,
        distribution_drift_monitor,
    )

    docs = _documents(spark, sf_dir).select("doc_id", "lang")
    # materialize the tiny baseline once: an unpersisted static side of
    # a stream-static join re-executes its full plan (a corpus scan +
    # groupBy here) on EVERY micro-batch
    base_raw = baseline_shares(docs, "lang")
    base_df = spark.createDataFrame(base_raw.collect(), base_raw.schema)

    with _stream_case(spark, "q122") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
            ["doc_id", "lang"]
        ]
        pdf["ts"] = pd.Timestamp("2026-01-01").to_datetime64() + pd.to_timedelta(
            pdf["doc_id"], unit="s"
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        st = case.stage(pdf, "doc_id long, lang string, ts timestamp")
        mon = distribution_drift_monitor(
            st,
            "lang",
            base_df,
            window="1 minute",
            watermark="30 seconds",
        )
        return case.run(mon, shuffle_partitions=2)


def q123_residual_leak_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-tokenization leak audit (operators/tokenize.py
    residual_leak_audit): recover every detected span's RAW text from
    the original turn via its (start, end) offsets and report, per
    infoType, how many survive verbatim in the de-identified output of
    their own turn — the compliance re-scan an auditor runs over data
    the pipeline wrote (the reference's inspection pipeline pointed at
    its own tokenization output). A healthy deployment reports
    n_leaked = 0 on every row; the oracle recomputes the identical
    substring-extraction + containment join over the golden transcript
    /detection/tokenized tables."""
    from auto_data_tokenize_spark.operators.tokenize import (
        residual_leak_audit,
        tokenize_turns,
    )

    tok = tokenize_turns(
        _transcripts(spark, sf_dir), keep_original=True
    ).select("conv_id", "turn_idx", "text", "text_tok")
    return residual_leak_audit(tok, _detections(spark, sf_dir))


PACK_UTIL_TOKENS = 512


def q124_pack_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report (operators/corpus.py
    pack_utilization): per language, how many 512-token sequences the
    q46 concat-and-chop layout fills, the fraction of sequence slots
    carrying real tokens (the rest is tail padding), and how many
    documents straddle a sequence boundary — the measurement that
    picks target_tokens for a corpus (padding waste vs split-doc
    truncation is a real GPU-hour trade at 100 TB). Scale: reuses the
    pack window's single shuffle; the report is a partial-agg groupBy
    on the same key."""
    from auto_data_tokenize_spark.operators.corpus import pack_utilization

    return pack_utilization(
        _documents(spark, sf_dir), target_tokens=PACK_UTIL_TOKENS
    )


HOT_KEY_MIN = 20


def q125_stream_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hot-key alarm (operators/skew.py hot_keys_monitor):
    q121's skew diagnostics as a LIVE monitor — per watermark-closed
    hourly window, every conv_id at >= 20 turns (the planted
    conv_hot_* flooders plus the occasional organic burst), emitted
    through the exactly-once sink. The support-bot conv that will
    stall tomorrow's batch pages the operator in the window it starts
    flooding. One windowed groupBy, state freed per closed window.
    Oracle: the same bucket/threshold SQL at the identical
    final-watermark predicate."""
    from auto_data_tokenize_spark.operators.skew import hot_keys_monitor

    with _stream_case(spark, "q125") as case:
        st = _staged_transcripts(case, sf_dir)
        mon = hot_keys_monitor(
            st.select("conv_id", "ts"),
            "conv_id",
            window="1 hour",
            watermark="10 minutes",
            min_count=HOT_KEY_MIN,
        )
        return case.run(mon, shuffle_partitions=2)


EMB_DIM = 64


def q126_stream_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming embedding-centroid drift monitor (operators/
    similarity.py centroid_drift_monitor): vectors arrive as an ingest
    stream and each watermark-closed 1-minute window reports the
    cosine of its mean embedding to the corpus baseline centroid — the
    alarm that catches an encoder/version change in the embedding feed
    the window it ships. ONE windowed groupBy carrying 64 running
    means, then a stateless broadcast join with the 1-row baseline and
    a pure-codegen cosine. Oracle: identical per-dim averaging /
    cosine / rounding in SQL at the same final-watermark predicate."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.similarity import (
        centroid,
        centroid_drift_monitor,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    # 1 row x 64 doubles, collected once: an unpersisted static side
    # would recompute the full-corpus centroid on every micro-batch
    base_raw = centroid(emb, "embedding", EMB_DIM)
    base_df = spark.createDataFrame(base_raw.collect(), base_raw.schema)

    with _stream_case(spark, "q126") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))[
            ["vec_id", "embedding"]
        ]
        pdf["ts"] = pd.Timestamp("2026-01-01").to_datetime64() + pd.to_timedelta(
            pdf["vec_id"], unit="s"
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        st = case.stage(
            pdf,
            "vec_id long, embedding array<float>, ts timestamp",
            order_col="vec_id",
        )
        mon = centroid_drift_monitor(
            st,
            "embedding",
            EMB_DIM,
            base_df,
            window="1 minute",
            watermark="30 seconds",
        )
        return case.run(mon, shuffle_partitions=2)


OOV_MIN_DF, OOV_TOP_K = 2, 20


def q127_stream_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming out-of-vocabulary-rate monitor (operators/textstats.py
    oov_rate_monitor): the live token stream is checked per 1-minute
    window against the top-20 vocabulary observed on the English slice
    of the corpus (min_df=2, count-desc truncation — the finite-vocab
    shape real tokenizers ship with) — the drift alarm that catches a
    new language, spam alphabet, or encoding bug in the ingest feed
    before any quality score moves. Stateless explode + broadcast
    vocab join, then ONE windowed groupBy. Oracle: same vocabulary and
    rate SQL at the identical final-watermark predicate."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.textstats import (
        oov_rate_monitor,
        vocab_from_corpus,
    )

    docs = _documents(spark, sf_dir).select("doc_id", "text", "lang")
    # 20 rows, collected once: an unpersisted static side would re-run
    # the full-corpus explode + groupBy + top-k on every micro-batch
    vocab_raw = vocab_from_corpus(
        docs.filter(F.col("lang") == "en"), min_df=OOV_MIN_DF, top_k=OOV_TOP_K
    )
    vocab = spark.createDataFrame(vocab_raw.collect(), vocab_raw.schema)

    with _stream_case(spark, "q127") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
            ["doc_id", "text"]
        ]
        pdf["ts"] = pd.Timestamp("2026-01-01").to_datetime64() + pd.to_timedelta(
            pdf["doc_id"], unit="s"
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        st = case.stage(pdf, "doc_id long, text string, ts timestamp")
        mon = oov_rate_monitor(
            st, vocab, window="1 minute", watermark="30 seconds"
        )
        return case.run(mon, shuffle_partitions=2)


NULL_TEXT_MOD, NULL_LANG_MOD = 11, 13


def q128_stream_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NULL-rate monitor (operators/errors.py
    completeness_monitor): the document feed arrives with a
    deterministic extractor fault injected (text NULLed on the
    doc_id%11 slice, lang on the %13 slice — the q109 fixture
    pattern), and each watermark-closed 1-minute window reports
    per-column null counts and rates through the exactly-once sink —
    the schema-health alarm that catches a silently-missing field in
    the window it breaks. ONE windowed groupBy counting every column
    in the same pass; the long-form un-pivot is stateless codegen.
    Oracle: same fault + same per-column rollup at the identical
    final-watermark predicate."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.errors import completeness_monitor

    with _stream_case(spark, "q128") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
            ["doc_id", "text", "lang"]
        ].copy()
        pdf.loc[pdf.doc_id % NULL_TEXT_MOD == 0, "text"] = None
        pdf.loc[pdf.doc_id % NULL_LANG_MOD == 0, "lang"] = None
        pdf["ts"] = pd.Timestamp("2026-01-01").to_datetime64() + pd.to_timedelta(
            pdf["doc_id"], unit="s"
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        st = case.stage(
            pdf, "doc_id long, text string, lang string, ts timestamp"
        )
        mon = completeness_monitor(
            st, ["text", "lang"], window="1 minute", watermark="30 seconds"
        )
        return case.run(mon, shuffle_partitions=2)


DUP_MOD = 7


def q129_stream_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming within-window duplicate-rate monitor (operators/
    dedup.py dup_rate_monitor): the document feed arrives with a
    deterministic redelivery storm injected (the doc_id%7 slice is
    delivered twice at the same event time — a replaying queue), and
    each watermark-closed window reports docs/distinct/dupes/rate
    through the exactly-once sink. Two CHAINED stateful aggregations
    (the q70 pattern); state freed per closed window. Oracle: the
    same doubled feed + two-level rollup at the identical
    final-watermark predicate."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.dedup import dup_rate_monitor

    with _stream_case(spark, "q129") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
            ["doc_id", "text"]
        ]
        dup = pdf[pdf.doc_id % DUP_MOD == 0]
        feed = pd.concat([pdf, dup], ignore_index=True)
        feed["ts"] = pd.Timestamp("2026-01-01").to_datetime64() + pd.to_timedelta(
            feed["doc_id"], unit="s"
        )
        feed["ts"] = feed["ts"].astype("datetime64[us]")
        st = case.stage(feed, "doc_id long, text string, ts timestamp")
        mon = dup_rate_monitor(
            st, window="1 minute", watermark="30 seconds"
        )
        return case.run(mon, shuffle_partitions=2)


DP_EPS, DP_SEED = 0.5, "adt-dp-r5"
CARD_DELTA_MOD = 10


def q130_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epsilon-DP corpus-composition release (operators/risk.py
    dp_histogram): per-(lang, source) document counts published under
    the Laplace mechanism — the privacy-preserving complement to the
    k-anonymity/k-map metrics for releasing statistics ABOUT a
    sensitive corpus. The draw is the documented deterministic
    inverse-CDF transform of the cross-engine md5 fragment, so the
    DuckDB oracle recomputes the release bit-for-bit at the shared
    round-6 grain. The (lang, source) category lists here are fixed
    public enums of the feed, satisfying the operator's public-domain
    assumption (for data-dependent domains pass ``domain=``). ONE
    partial-agg groupBy; noise is pure codegen over the category-sized
    aggregate."""
    from auto_data_tokenize_spark.operators.risk import dp_histogram

    return dp_histogram(
        _documents(spark, sf_dir).select("lang", "source"),
        ["lang", "source"],
        epsilon=DP_EPS,
        seed=DP_SEED,
    )


def q131_incremental_dataset_card(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental dataset-card maintenance (operators/textstats.py
    merge_dataset_reports): the corpus is split into a base snapshot
    and a delta (doc_id%10 — the q109 fixture pattern), each slice is
    reduced to its own dataset_report_partial (the mergeable
    pre-aggregation carrying the NULL-skipping mean denominator), and
    the partials are merged + rendered. At 100 TB this is how the
    nightly card is maintained — yesterday's merged partial plus
    today's delta partial, never a corpus re-scan. The oracle is the
    one-shot FULL recompute: the merge contract is bit-for-bit
    equality with it."""
    from auto_data_tokenize_spark.operators.textstats import (
        dataset_report_partial,
        merge_dataset_reports,
    )

    docs = _documents(spark, sf_dir)
    base = docs.filter(F.col("doc_id") % CARD_DELTA_MOD != 0)
    delta = docs.filter(F.col("doc_id") % CARD_DELTA_MOD == 0)
    return merge_dataset_reports(
        dataset_report_partial(base), dataset_report_partial(delta)
    ).select(
        "lang", "source", "n_docs", "total_tokens",
        "min_tokens", "avg_tokens", "max_tokens",
    )


def q132_stream_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed epsilon-DP release (operators/risk.py
    dp_histogram_monitor): per-window per-lang document counts
    published through the exactly-once sink with per-(window,
    category) independent Laplace draws — privacy-preserving live
    telemetry over a sensitive ingest feed. ONE windowed stateful
    groupBy (state freed per closed window); the noise key includes
    the window-start epoch so the oracle recomputes every draw.
    Oracle: same bucketing + same transform at the identical
    final-watermark predicate."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.risk import dp_histogram_monitor

    with _stream_case(spark, "q132") as case:
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
            ["doc_id", "lang"]
        ]
        pdf["ts"] = pd.Timestamp("2026-01-01").to_datetime64() + pd.to_timedelta(
            pdf["doc_id"], unit="s"
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        st = case.stage(pdf, "doc_id long, lang string, ts timestamp")
        mon = dp_histogram_monitor(
            st,
            ["lang"],
            window="1 minute",
            watermark="30 seconds",
            epsilon=DP_EPS,
            seed=DP_SEED,
        )
        return case.run(mon, shuffle_partitions=2)


def q133_token_scope_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crypto-contract audit (operators/tokenize.py token_scope_audit):
    per info_type, how many detected clear values are (a) scope-
    ISOLATED — a value seen in N conversations shows exactly N distinct
    tokens, so tokens never link across conversations — and (b)
    conversation-CONSISTENT — one token per (value, conv), so joins
    inside a conversation still work. The Spark side re-detects and
    re-tokenizes with the engine UDFs; the oracle reads the
    independently materialized pure-Python detections golden
    (datagen.golden_detections), so hash equality cross-checks the
    token structure between the two tokenizer implementations
    (the reference's keyset-scoped DAEAD determinism,
    EncryptionPipeline.java:117; ValueTokenizer contract)."""
    from auto_data_tokenize_spark.operators.tokenize import (
        token_scope_audit,
    )

    return token_scope_audit(
        _detections(spark, sf_dir), _transcripts(spark, sf_dir)
    )


# md5(conv_id) first hex digit picks the fault slices (disjoint):
TSM_ISO_DIGITS = ("0", "1", "2")  # scope-loss deploy (shadow scope)
TSM_CON_DIGITS = ("3", "4")  # rekey-on-retry redelivery


def q134_stream_token_scope_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming token-scope contract monitor (operators/tokenize.py
    token_scope_monitor): q133's crypto audit as a LIVE alarm. The
    detection-event feed arrives with two deterministic faults
    injected — a scope-loss deploy (the md5(conv)-sliced shadow
    duplicates reuse the SOURCE token under a second scope, so tokens
    link across conversations: isolation breach) and a rekey-on-retry
    storm (redelivered events carry a fresh token for the same (value,
    conversation): consistency breach) — and each watermark-closed
    window reports per (info_type, contract) group/breach/combo
    counts through the exactly-once sink. Three CHAINED stateful
    window aggregations after a stateless contract fan-out; state
    freed per closed window. Oracle: the same faulted feed + fan-out
    + distinct rollup at the identical final-watermark predicate."""
    import hashlib

    import pandas as pd

    from auto_data_tokenize_spark.operators.tokenize import (
        token_scope_monitor,
    )

    def md5(s: str) -> str:
        return hashlib.md5(s.encode("utf-8")).hexdigest()

    from auto_data_tokenize_spark import datagen

    with _stream_case(spark, "q134") as case:
        # detections/transcripts are datagen fixtures (the oracle reads
        # the same REPO/data/<sf> paths), not driver sf_dir tables
        dd = datagen.ensure_sf(_sf_name(sf_dir))
        det = pd.read_parquet(os.path.join(dd, "detections.parquet"))
        tr = pd.read_parquet(os.path.join(dd, "transcripts.parquet"))[
            ["conv_id", "turn_idx", "text"]
        ]
        f = det.merge(tr, on=["conv_id", "turn_idx"], how="inner")
        f["value_hash"] = [
            md5(t[s:e]) for t, s, e in zip(f["text"], f["start"], f["end"])
        ]
        f = f[["ts", "info_type", "value_hash", "conv_id", "token"]].rename(
            columns={"conv_id": "scope"}
        )
        sl = f["scope"].map(lambda c: md5(c)[0])
        shadow = f[sl.isin(TSM_ISO_DIGITS)].copy()
        shadow["scope"] = shadow["scope"] + "#shadow"
        retry = f[sl.isin(TSM_CON_DIGITS)].copy()
        retry["token"] = retry["token"].map(lambda t: md5(t + ":retry"))
        feed = pd.concat([f, shadow, retry], ignore_index=True)
        feed["ts"] = feed["ts"].astype("datetime64[us]")
        feed = feed.sort_values(
            ["ts", "value_hash", "scope", "token"]
        ).reset_index(drop=True)
        feed["event_id"] = range(len(feed))
        st = case.stage(
            feed,
            "ts timestamp, info_type string, value_hash string, "
            "scope string, token string, event_id long",
            order_col="event_id",
        )
        mon = token_scope_monitor(
            st, window="1 minute", watermark="30 seconds"
        )
        return case.run(mon, shuffle_partitions=4)


# erasure-request slice: identities whose md5 starts with one of these
# hex digits (~4/16 of subjects) file a right-to-be-forgotten request
ERASE_DIGITS = ("0", "1", "2", "3")


def _ext_detections(spark: SparkSession, sf_dir: str):
    """Engine-computed extended detections + the extended transcript
    table (the oracle reads the independently materialized pure-Python
    goldens for the same fixture, so every downstream linkage query
    also cross-checks the detector/tokenizer parity q58 pins)."""
    from auto_data_tokenize_spark import datagen
    from auto_data_tokenize_spark.functions.detectors import EXTENDED_INFO_TYPES
    from auto_data_tokenize_spark.operators.identify import detections
    from auto_data_tokenize_spark.sources.readers import read_transcripts

    d = datagen.ensure_extended(_sf_name(sf_dir))
    tr = read_transcripts(spark, os.path.join(d, "transcripts_ext.parquet"))
    return detections(tr, info_types=EXTENDED_INFO_TYPES), tr


def q135_entity_link_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy identity linkage (operators/linkage.py ed1_link_pairs):
    every pair of distinct detected PERSON_NAME mentions within
    Levenshtein distance 1, found via the pigeonhole-COMPLETE
    prefix/suffix blocked self-join — never a brute-force cross join —
    with the exact codegen ``levenshtein`` verify on candidates only.
    The mention set is the detected names plus a deterministically
    noised variant of each (middle character dropped — the OCR/typo
    noise record linkage exists to absorb). The oracle recomputes the
    SAME mention set and brute-forces all O(n^2) pairs in SQL, so hash
    equality proves the blocking scheme loses no pair."""
    from auto_data_tokenize_spark.operators.linkage import ed1_link_pairs

    return ed1_link_pairs(_ext_name_mentions(spark, sf_dir)).select(
        "name_a", "name_b", "dist"
    )


def q136_subject_access_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR subject-access map (operators/linkage.py
    subject_access_map): per exact normalized EMAIL_ADDRESS identity,
    the conversations that mention it, mention count, and first/last
    timestamps — the DSAR footprint the reference's per-column
    inspection report cannot answer (it aggregates by column, not by
    data subject). One span-to-text join + one partial-aggregated
    groupBy keyed on the subject population."""
    from auto_data_tokenize_spark.operators.linkage import subject_access_map

    det, tr = _ext_detections(spark, sf_dir)
    return subject_access_map(det, tr, info_type="EMAIL_ADDRESS").select(
        "identity", "n_convs", "n_mentions", "convs", "first_seen", "last_seen"
    )


def q137_stream_erasure_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation as a live CDC flow: the
    corpus arrives as keyed upsert rows (version 0) interleaved with
    erasure requests; each request fans out through the static
    identity index (identity -> conversations that mention it, a
    stream-static join — the request side is human-driven and tiny) to
    per-(conv_id, turn_idx) TOMBSTONES (version 1) through the
    exactly-once upsert sink. The committed read resolves keys LSM-
    style, so erased conversations vanish from reads regardless of
    arrival order or micro-batch redelivery. Output: the surviving
    turns; oracle: the batch anti-join twin."""
    import pandas as pd

    from auto_data_tokenize_spark import datagen
    from auto_data_tokenize_spark.operators.linkage import normalize_identity

    det, tr = _ext_detections(spark, sf_dir)
    idx = (
        det.filter(F.col("info_type") == "EMAIL_ADDRESS")
        .join(tr.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"])
        .select(
            normalize_identity(
                F.expr("substring(text, start + 1, end - start)")
            ).alias("identity"),
            "conv_id",
        )
        .distinct()
    )
    turns = tr.select("conv_id", "turn_idx").distinct()
    # conv-level fan-out: erasing a subject tombstones EVERY turn of
    # every conversation that mentions them; persisted so the joined
    # static side is computed once, not re-derived per micro-batch
    fanout = (
        idx.join(turns, "conv_id")
        .select("identity", "conv_id", "turn_idx")
        .persist()
    )

    d = datagen.ensure_extended(_sf_name(sf_dir))
    try:
        with _stream_case(spark, "q137") as case:
            corpus = pd.read_parquet(
                os.path.join(d, "transcripts_ext.parquet")
            ).loc[:, ["conv_id", "turn_idx", "text"]]
            rows = pd.DataFrame(
                {
                    "kind": "row",
                    "conv_id": corpus["conv_id"].astype("string"),
                    "turn_idx": corpus["turn_idx"].astype("Int32"),
                    "text": corpus["text"].astype("string"),
                    "identity": pd.array([None] * len(corpus), dtype="string"),
                    "version": 0,
                    "dead": False,
                }
            )
            req = (
                idx.filter(
                    F.substring(F.md5("identity"), 1, 1).isin(*ERASE_DIGITS)
                )
                .select("identity")
                .distinct()
                .toPandas()
            )
            erase = pd.DataFrame(
                {
                    "kind": "erase",
                    "conv_id": pd.array([None] * len(req), dtype="string"),
                    "turn_idx": pd.array([None] * len(req), dtype="Int32"),
                    "text": pd.array([None] * len(req), dtype="string"),
                    "identity": req["identity"].astype("string"),
                    "version": 1,
                    "dead": True,
                }
            )
            feed = pd.concat([rows, erase], ignore_index=True)
            feed["seq"] = range(len(feed))
            st = case.stage(
                feed,
                "kind string, conv_id string, turn_idx int, text string, "
                "identity string, version long, dead boolean, seq long",
                order_col="seq",
            )
            upserts = st.filter(F.col("kind") == "row").select(
                "conv_id", "turn_idx", "text", "version", "dead"
            )
            tomb = (
                st.filter(F.col("kind") == "erase")
                .select("identity", "version", "dead")
                .join(fanout, "identity")
                .select(
                    "conv_id",
                    "turn_idx",
                    F.lit(None).cast("string").alias("text"),
                    "version",
                    "dead",
                )
            )
            sink = case.sink(
                key_cols=("conv_id", "turn_idx"),
                version_col="version",
                tombstone_col="dead",
            )
            result = case.run(upserts.unionByName(tomb), sink)
    finally:
        fanout.unpersist()
    return result.select("conv_id", "turn_idx", "text")


def _ext_person_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized distinct detected PERSON_NAME strings — the identity
    catalog the linkage family works over."""
    from auto_data_tokenize_spark.operators.linkage import normalize_identity

    det, tr = _ext_detections(spark, sf_dir)
    spans = det.filter(F.col("info_type") == "PERSON_NAME").select(
        "conv_id", "turn_idx", "start", "end"
    )
    return (
        spans.join(tr.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"])
        .select(
            normalize_identity(
                F.expr("substring(text, start + 1, end - start)")
            ).alias("name")
        )
        .distinct()
    )


def _noised(name_col: str = "name"):
    """Deterministic typo: drop the middle character (the same
    derivation the oracles replay in SQL)."""
    ln = F.length(name_col)
    p = F.floor((ln + 1) / 2).cast("int")
    return F.concat(
        F.col(name_col).substr(F.lit(1), p - 1),
        F.col(name_col).substr(p + 1, ln),
    )


def _ext_name_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q135 mention fixture: the identity catalog plus one noised
    variant per name — shared by the linkage family so the batch
    pairs, the clusters, and the streaming match gate all see the same
    population."""
    names = _ext_person_names(spark, sf_dir)
    return names.unionByName(
        names.filter(F.length("name") > 1).select(_noised().alias("name"))
    )


def q138_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity clusters: the q135 Levenshtein<=1 edge set closed
    transitively with the same O(log n) pointer-jumping components
    engine the dedup family uses (operators/dedup.py
    connected_components) — each mention resolves to a canonical
    identity (the lexicographically smallest mention in its cluster),
    singletons to themselves. Oracle: recursive-CTE reachability over
    the brute-forced edge set, so the gate checks blocking
    completeness AND the transitive closure."""
    from auto_data_tokenize_spark.operators.dedup import connected_components
    from auto_data_tokenize_spark.operators.linkage import (
        ed1_link_pairs,
        normalize_identity,
    )

    mentions = _ext_name_mentions(spark, sf_dir)
    norm = (
        mentions.select(normalize_identity(F.col("name")).alias("name"))
        .filter(F.length("name") > 0)
        .distinct()
    )
    pairs = ed1_link_pairs(mentions)
    comp = connected_components(pairs, a="name_a", b="name_b")
    return norm.join(comp, norm["name"] == comp["id"], "left").select(
        "name", F.coalesce("cluster_id", "name").alias("canon")
    )


def q139_stream_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time identity resolution (operators/linkage.py
    ed1_match_stream): noised mentions arrive as a stream and match
    the static identity catalog within edit distance 1 through the
    blocked stream-static join (catalog side broadcast), rolled up
    per watermark-closed window through the exactly-once sink. The
    oracle replays the identical feed construction and brute-forces
    the matches in SQL under the same final-watermark predicate."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.linkage import (
        ed1_match_stream,
        normalize_identity,
    )

    # persisted: consumed once to derive the feed and then again by
    # every micro-batch of the stream-static match join
    catalog = _ext_person_names(spark, sf_dir).persist()
    feed = (
        catalog.filter(F.length("name") > 1)
        .select(normalize_identity(_noised()).alias("mention"))
        .filter(F.length("mention") > 0)
        .distinct()
        .toPandas()
        .sort_values("mention")
        .reset_index(drop=True)
    )
    feed["ts"] = pd.Timestamp("2026-01-01") + pd.to_timedelta(
        feed.index * 5, unit="s"
    )
    feed["ts"] = feed["ts"].astype("datetime64[us]")
    try:
        with _stream_case(spark, "q139") as case:
            st = case.stage(feed, "mention string, ts timestamp", order_col="ts")
            matched = ed1_match_stream(st, catalog)
            result = case.run(matched, shuffle_partitions=2)
    finally:
        catalog.unpersist()
    # the established closed-window emission contract: compare only
    # windows the final watermark provably closed
    max_ts = pd.Timestamp("2026-01-01") + pd.to_timedelta(
        (len(feed) - 1) * 5, unit="s"
    )
    horizon = max_ts - pd.Timedelta(seconds=30)
    return result.filter(
        F.col("window_start") + F.expr("INTERVAL 1 MINUTE") <= F.lit(horizon)
    ).select("window_start", "mention", "matched_name", "dist")


def _relog_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcripts plus a deterministic 're-logged' variant of every
    conversation (same exchange minus its final turn, conv_id suffixed
    '_rl') — the session-dedup population: a retried/resumed agent run
    re-emits the same turns under a fresh conv_id, which document- and
    turn-level dedup both miss. The oracles replay the identical
    construction in SQL."""
    from pyspark.sql import Window

    tr = _transcripts(spark, sf_dir).select("conv_id", "turn_idx", "text")
    w = Window.partitionBy("conv_id")
    variant = (
        tr.withColumn("_mx", F.max("turn_idx").over(w))
        .filter(F.col("turn_idx") < F.col("_mx"))
        .select(
            F.concat("conv_id", F.lit("_rl")).alias("conv_id"),
            "turn_idx",
            "text",
        )
    )
    return tr.unionByName(variant)


def q140_conversation_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level near-dup pairs (operators/conversations.py
    conversation_near_dups): conversations as SETS of turn-content
    fingerprints, exact Jaccard >= 0.8 via the AllPairs prefix-filter
    kernel generalized to arbitrary token sets (operators/dedup.py
    set_jaccard_join). The re-logged fixture guarantees a non-trivial
    match population ((n-1)/n >= 0.8 for conversations with >= 5
    distinct turn texts); the oracle brute-forces ALL fingerprint-
    sharing pairs in SQL, so the value-hash gate proves the prefix
    filter loses no pair."""
    from auto_data_tokenize_spark.operators.conversations import (
        conversation_near_dups,
    )

    return conversation_near_dups(_relog_fixture(spark, sf_dir), threshold=0.8)


def q141_conversation_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical session per near-dup cluster: the q140 pair set closed
    transitively by the pointer-jumping components kernel, every
    conversation mapped to the lexicographically smallest conv_id in
    its cluster (original conv_ids order before their '_rl' variants,
    so canon is stable). Oracle: recursive-CTE reachability over the
    brute-forced edge set — the q138 pattern at session granularity."""
    from auto_data_tokenize_spark.operators.conversations import (
        conversation_dedup,
    )

    return conversation_dedup(_relog_fixture(spark, sf_dir), threshold=0.8)


def q142_stream_session_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time session-dedup admission (operators/conversations.py
    turn_containment_stream): arriving conversations score the fraction
    of their distinct turn fingerprints already present in the static
    corpus index (stream-static left join on tfp, windowed collect_set
    rollup); re-logged sessions contain ~1.0 and are rejected, fresh
    sessions ~0 and admitted. Feed: every conversation's '_rl' variant
    (minus final turn — fully contained) plus a '_new' variant (text
    suffixed, disjoint fingerprints), arriving ts-ordered. Oracle
    replays the identical feed and the same closed-window predicate."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.conversations import (
        turn_containment_stream,
    )
    from auto_data_tokenize_spark import datagen

    dd = datagen.ensure_sf(_sf_name(sf_dir))
    tr = pd.read_parquet(os.path.join(dd, "transcripts.parquet"))[
        ["conv_id", "turn_idx", "text", "ts"]
    ]
    tr = tr[tr["text"].notna()]
    mx = tr.groupby("conv_id")["turn_idx"].transform("max")
    rl = tr[tr["turn_idx"] < mx].assign(conv_id=tr["conv_id"] + "_rl")
    new = tr.assign(conv_id=tr["conv_id"] + "_new", text=tr["text"] + " v2")
    # no tie-break needed: the staged append log re-sorts by ts and the
    # windowed rollup is equal-ts-arrival-order invariant
    feed = pd.concat([rl, new])[["conv_id", "text", "ts"]].reset_index(drop=True)
    feed["ts"] = feed["ts"].astype("datetime64[us]")
    # prebuilt + persisted index: the stream-static join re-evaluates
    # the static plan every micro-batch, so the md5+distinct must not
    # be part of it (the operator's production shape)
    from auto_data_tokenize_spark.operators.conversations import (
        corpus_fingerprint_index,
    )

    idx = corpus_fingerprint_index(_transcripts(spark, sf_dir)).persist()
    try:
        with _stream_case(spark, "q142") as case:
            st = case.stage(
                feed, "conv_id string, text string, ts timestamp", order_col="ts"
            )
            gated = turn_containment_stream(
                st, threshold=0.8, index=idx, broadcast_index=True
            )
            result = case.run(gated, shuffle_partitions=8)
    finally:
        idx.unpersist()

    horizon = pd.Timestamp(feed["ts"].max()) - pd.Timedelta(seconds=30)
    return result.filter(
        F.col("window_start") + F.expr("INTERVAL 1 MINUTE") <= F.lit(horizon)
    )


def q146_stream_trajectory_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time trajectory-quality admission (operators/
    trajectories.py trajectory_gate_stream): per arriving conversation
    slice (15-minute event-time window), flag retry loops (>= 2
    consecutive same-tool calls) and unanswered calls, admit only
    clean slices — the streaming twin of q145's batch flags, through
    the exactly-once sink. One windowed collect_list aggregate + a
    pure higher-order-function projection: no second shuffle, no
    Python. Oracle replays the same feed with the gaps-and-islands /
    anti-join construction and the closed-window predicate."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.trajectories import (
        trajectory_gate_stream,
    )
    from auto_data_tokenize_spark import datagen

    dd = datagen.ensure_sf(_sf_name(sf_dir))
    tr = pd.read_parquet(os.path.join(dd, "transcripts.parquet"))[
        ["conv_id", "turn_idx", "role", "tool", "ts"]
    ]
    tr["ts"] = tr["ts"].astype("datetime64[us]")
    with _stream_case(spark, "q146") as case:
        st = case.stage(
            tr,
            "conv_id string, turn_idx int, role string, tool string, ts timestamp",
            order_col="ts",
        )
        gated = trajectory_gate_stream(st, loop_threshold=2)
        result = case.run(gated, shuffle_partitions=2)

    horizon = pd.Timestamp(tr["ts"].max()) - pd.Timedelta(seconds=30)
    return result.filter(
        F.col("window_start") + F.expr("INTERVAL 15 MINUTE") <= F.lit(horizon)
    )


def q147_tool_latency_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-tool latency/answer-rate SLA monitor (operators/
    trajectories.py tool_latency_monitor): per 15-minute window and
    tool, calls / in-window answers / mean+max call-to-result latency
    — two chained windowed aggregations (window_time pattern), the
    operational twin of q143's batch stats, through the exactly-once
    sink. Oracle replays the feed with join-based first-following-
    result and the same integer-microsecond arithmetic, plus the
    closed-window predicate."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.trajectories import (
        tool_latency_monitor,
    )
    from auto_data_tokenize_spark import datagen

    dd = datagen.ensure_sf(_sf_name(sf_dir))
    tr = pd.read_parquet(os.path.join(dd, "transcripts.parquet"))[
        ["conv_id", "turn_idx", "role", "tool", "ts"]
    ]
    tr["ts"] = tr["ts"].astype("datetime64[us]")
    with _stream_case(spark, "q147") as case:
        st = case.stage(
            tr,
            "conv_id string, turn_idx int, role string, tool string, ts timestamp",
            order_col="ts",
        )
        result = case.run(tool_latency_monitor(st), shuffle_partitions=2)

    # the monitor's watermark advances with TOOL-BEARING turns (the
    # operator filters before the watermark node), so the closed-window
    # horizon must use the filtered feed's max ts, not the global one
    rel = tr[tr["tool"].notna() & tr["role"].isin(["agent", "tool"])]
    horizon = pd.Timestamp(rel["ts"].max()) - pd.Timedelta(seconds=30)
    return result.filter(
        F.col("window_start") + F.expr("INTERVAL 15 MINUTE") <= F.lit(horizon)
    )


def q148_conversation_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-aligned context-window chunking (operators/conversations.py
    conversation_windows): rendered conversations become overlapping
    16-token training windows advancing 8 tokens, turns never split,
    over-long/straddling turns quarantined as window_id NULL — the SFT
    complement to q100's document chunking, composed from the q92
    loss-mask spans. One conv shuffle + codegen explode(sequence);
    oracle replays the identical integer window algebra via
    generate_series."""
    from auto_data_tokenize_spark.operators.conversations import (
        conversation_windows,
    )

    return conversation_windows(
        _transcripts(spark, sf_dir), chunk_tokens=16, stride_tokens=8
    )


def q149_stream_conversation_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live SFT window assembly (operators/conversations.py
    conversation_windows_stream): per-conversation token offsets carry
    across micro-batches (applyInPandasWithState, two longs per open
    conversation), then the stateless integer window algebra fans
    turns into overlapping 16-token/stride-8 windows — q148's
    streaming twin, minus the W_last trailing cap (unknowable
    mid-stream), through the exactly-once sink. Feed honors the
    documented per-conversation turn-order contract by staging in
    (turn_idx, ts) order — conversations still interleave across
    micro-batches, exercising the cross-batch state carry. Oracle:
    the q148 twin with cap_trailing=False over the same feed (the
    stateful op emits every fed row; no watermark horizon)."""
    import pandas as pd

    from auto_data_tokenize_spark.operators.conversations import (
        conversation_windows_stream,
    )
    from auto_data_tokenize_spark import datagen

    dd = datagen.ensure_sf(_sf_name(sf_dir))
    tr = pd.read_parquet(os.path.join(dd, "transcripts.parquet"))[
        ["conv_id", "turn_idx", "role", "tool", "text", "ts"]
    ]
    tr["ts"] = tr["ts"].astype("datetime64[us]")
    tr["_arr"] = tr["turn_idx"].astype("int64") * 10_000_000 + (
        tr["ts"].astype("int64") % 10_000_000
    )
    with _stream_case(spark, "q149") as case:
        st = case.stage(
            tr,
            "conv_id string, turn_idx int, role string, tool string, "
            "text string, ts timestamp, _arr long",
            order_col="_arr",
        )
        wins = conversation_windows_stream(
            st.drop("_arr"), chunk_tokens=16, stride_tokens=8
        )
        return case.run(wins, shuffle_partitions=8)


def q150_assemble_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized SFT training samples (operators/conversations.py
    assemble_windows): each (conversation, window) of the q148
    manifest rendered to its window document (pieces joined in
    turn_idx order + <|end|>) with WINDOW-LOCAL trainable spans —
    the table a trainer consumes. The local base is the first
    member's tok_start; the text's whitespace tokens tile
    [0, n_tokens-1) exactly (loss-mask invariant). One conv shuffle
    + the (conv, window) rollup; oracle: ordered string_agg render +
    per-window MIN base, list-of-pair spans."""
    from auto_data_tokenize_spark.operators.conversations import (
        assemble_windows,
    )

    return assemble_windows(
        _transcripts(spark, sf_dir), chunk_tokens=16, stride_tokens=8
    )


def q143_tool_call_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool trajectory aggregates (operators/trajectories.py
    tool_call_stats): call/result/answered counts and first-following-
    result latency per tool over the transcript table — the usage
    profile of the agent's tool catalogue. One window on (conv_id,
    tool) + one tiny-key groupBy; latency accumulated in whole
    microseconds so the mean is order-independent. Oracle: join-based
    first-following-result with the identical integer-microsecond
    arithmetic."""
    from auto_data_tokenize_spark.operators.trajectories import tool_call_stats

    return tool_call_stats(_transcripts(spark, sf_dir))


def q144_tool_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-chain motifs (operators/trajectories.py
    tool_sequence_bigrams): consecutive tool-call pairs per
    conversation — the call-graph edge list a tool-routing policy
    trains on. One lead window over conv_id on the calls-only subset
    + one map-side-partial aggregate on the tool-pair key space."""
    from auto_data_tokenize_spark.operators.trajectories import (
        tool_sequence_bigrams,
    )

    return tool_sequence_bigrams(_transcripts(spark, sf_dir))


def q145_trajectory_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation structural-quality flags (operators/
    trajectories.py trajectory_flags): retry loops (gaps-and-islands
    longest same-tool call run) and unanswered calls (no later
    same-tool result) — the two flailing-agent signatures a
    trajectory-curation pass filters on. Oracle: identical islands
    construction + anti-join unanswered count."""
    from auto_data_tokenize_spark.operators.trajectories import trajectory_flags

    return trajectory_flags(_transcripts(spark, sf_dir), loop_threshold=3)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_tokenize_turns": _with_prep(q01_tokenize_turns),
        "q02_detections": _with_prep(q02_detections),
        "q03_column_infotype_counts": _with_prep(q03_column_infotype_counts),
        "q04_infotype_freq_tumbling": _with_prep(q04_infotype_freq_tumbling),
        "q05_session_reports": _with_prep(q05_session_reports),
        "q06_sample_per_column": _with_prep(q06_sample_per_column),
        "q07_events_tumbling": _with_prep(q07_events_tumbling),
        "q08_events_sessionize": _with_prep(q08_events_sessionize),
        "q09_exact_dedup": _with_prep(q09_exact_dedup),
        "q10_token_counts": _with_prep(q10_token_counts),
        "q11_quality": _with_prep(q11_quality),
        "q12_language_id": _with_prep(q12_language_id),
        "q13_fingerprint": _with_prep(q13_fingerprint),
        "q14_minhash_signatures": _with_prep(q14_minhash_signatures),
        "q15_lsh_candidates": _with_prep(q15_lsh_candidates),
        "q16_minhash_dedup": _with_prep(q16_minhash_dedup),
        "q17_cosine_topk": _with_prep(q17_cosine_topk),
        "q18_embedding_near_dups": _with_prep(q18_embedding_near_dups),
        "q19_simhash_near_dups": _with_prep(q19_simhash_near_dups),
        "q20_column_tokenize_roundtrip": _with_prep(q20_column_tokenize_roundtrip),
        "q21_infotype_freq_sliding": _with_prep(q21_infotype_freq_sliding),
        "q22_stream_tokenize": _with_prep(q22_stream_tokenize),
        "q23_stream_session_reports": _with_prep(q23_stream_session_reports),
        "q24_detokenize_roundtrip": _with_prep(q24_detokenize_roundtrip),
        "q25_salted_infotype_counts": _with_prep(q25_salted_infotype_counts),
        "q26_token_dictionary_join": _with_prep(q26_token_dictionary_join),
        "q27_escalation_alerts": _with_prep(q27_escalation_alerts),
        "q28_stream_escalation_alerts": _with_prep(q28_stream_escalation_alerts),
        "q29_winnowing_fingerprints": _with_prep(q29_winnowing_fingerprints),
        "q30_media_features": _with_prep(q30_media_features),
        "q31_video_frame_counts": _with_prep(q31_video_frame_counts),
        "q32_stream_dedup_first": _with_prep(q32_stream_dedup_first),
        "q33_asof_purchase_attribution": _with_prep(q33_asof_purchase_attribution),
        "q34_nested_tokenize_roundtrip": _with_prep(q34_nested_tokenize_roundtrip),
        "q35_length_quantiles": _with_prep(q35_length_quantiles),
        "q36_stream_near_dup_gate": _with_prep(q36_stream_near_dup_gate),
        "q37_avro_tokenize_roundtrip": _with_prep(q37_avro_tokenize_roundtrip),
        "q38_dup_clusters": _with_prep(q38_dup_clusters),
        "q39_corpus_prep": _with_prep(q39_corpus_prep),
        "q40_stream_infotype_rollup": _with_prep(q40_stream_infotype_rollup),
        "q41_view_purchase_range_join": _with_prep(q41_view_purchase_range_join),
        "q42_kmv_distinct_tokens": _with_prep(q42_kmv_distinct_tokens),
        "q43_setsim_join": _with_prep(q43_setsim_join),
        "q44_tfidf_top_terms": _with_prep(q44_tfidf_top_terms),
        "q45_split_assign": _with_prep(q45_split_assign),
        "q46_pack_sequences": _with_prep(q46_pack_sequences),
        "q47_media_metadata": _with_prep(q47_media_metadata),
        "q48_stream_pack_sequences": _with_prep(q48_stream_pack_sequences),
        "q49_bloom_dedup_gate": _with_prep(q49_bloom_dedup_gate),
        "q50_stream_bloom_gate": _with_prep(q50_stream_bloom_gate),
        "q51_pack_sequences_sharded": _with_prep(q51_pack_sequences_sharded),
        "q52_repetition_stats": _with_prep(q52_repetition_stats),
        "q53_decontaminate": _with_prep(q53_decontaminate),
        "q54_mix_sources": _with_prep(q54_mix_sources),
        "q55_stream_upsert": _with_prep(q55_stream_upsert),
        "q56_dataset_report": _with_prep(q56_dataset_report),
        "q57_asof_forward_tolerance": _with_prep(q57_asof_forward_tolerance),
        "q58_extended_detections": _with_prep(q58_extended_detections),
        "q59_stream_decontaminate_gate": _with_prep(q59_stream_decontaminate_gate),
        "q60_config_driven_tokenize": _with_prep(q60_config_driven_tokenize),
        "q61_deidentify_orders": _with_prep(q61_deidentify_orders),
        "q62_pseudonymize_events": _with_prep(q62_pseudonymize_events),
        "q63_k_anonymity_hist": _with_prep(q63_k_anonymity_hist),
        "q64_l_diversity_classes": _with_prep(q64_l_diversity_classes),
        "q65_freeform_infotype_labels": _with_prep(q65_freeform_infotype_labels),
        "q66_k_map_hist": _with_prep(q66_k_map_hist),
        "q67_delta_presence": _with_prep(q67_delta_presence),
        "q68_categorical_stats": _with_prep(q68_categorical_stats),
        "q69_numerical_stats": _with_prep(q69_numerical_stats),
        "q70_stream_k_anon_monitor": _with_prep(q70_stream_k_anon_monitor),
        "q71_generalize_to_k": _with_prep(q71_generalize_to_k),
        "q72_pii_density_gate": _with_prep(q72_pii_density_gate),
        "q73_bpe_train": _with_prep(q73_bpe_train),
        "q74_bpe_encode": _with_prep(q74_bpe_encode),
        "q75_fpe_name_roundtrip": _with_prep(q75_fpe_name_roundtrip),
        "q76_fpe_freeform_reidentify": _with_prep(q76_fpe_freeform_reidentify),
        "q77_stream_fpe_deidentify": _with_prep(q77_stream_fpe_deidentify),
        "q78_stream_lsh_index": _with_prep(q78_stream_lsh_index),
        "q79_stream_corpus_monitor": _with_prep(q79_stream_corpus_monitor),
        "q80_stratified_sample": _with_prep(q80_stratified_sample),
        "q81_normalized_dedup": _with_prep(q81_normalized_dedup),
        "q82_stream_ingest_admission": _with_prep(q82_stream_ingest_admission),
        "q83_line_dedup": _with_prep(q83_line_dedup),
        "q84_c4_clean": _with_prep(q84_c4_clean),
        "q85_lm_top_trigrams": _with_prep(q85_lm_top_trigrams),
        "q86_lm_fluency_filter": _with_prep(q86_lm_fluency_filter),
        "q87_stream_fluency_gate": _with_prep(q87_stream_fluency_gate),
        "q88_conversation_audit": _with_prep(q88_conversation_audit),
        "q89_chat_render_pack": _with_prep(q89_chat_render_pack),
        "q90_span_dedup": _with_prep(q90_span_dedup),
        "q91_dsir_select": _with_prep(q91_dsir_select),
        "q92_loss_mask_manifest": _with_prep(q92_loss_mask_manifest),
        "q93_stream_boilerplate_gate": _with_prep(q93_stream_boilerplate_gate),
        "q94_url_pipeline": _with_prep(q94_url_pipeline),
        "q95_stream_dsir_gate": _with_prep(q95_stream_dsir_gate),
        "q96_semantic_dedup": _with_prep(q96_semantic_dedup),
        "q97_temperature_mix": _with_prep(q97_temperature_mix),
        "q98_stream_semantic_gate": _with_prep(q98_stream_semantic_gate),
        "q99_image_near_dups": _with_prep(q99_image_near_dups),
        "q100_nb_quality_scores": _with_prep(q100_nb_quality_scores),
        "q101_stream_nb_gate": _with_prep(q101_stream_nb_gate),
        "q102_rekey_roundtrip": _with_prep(q102_rekey_roundtrip),
        "q103_tink_keyset_roundtrip": _with_prep(q103_tink_keyset_roundtrip),
        "q104_token_budget": _with_prep(q104_token_budget),
        "q105_contamination_report": _with_prep(q105_contamination_report),
        "q106_domain_curation": _with_prep(q106_domain_curation),
        "q107_heavy_hitter_tokens": _with_prep(q107_heavy_hitter_tokens),
        "q108_epoch_shuffle": _with_prep(q108_epoch_shuffle),
        "q109_corpus_delta": _with_prep(q109_corpus_delta),
        "q110_chunk_documents": _with_prep(q110_chunk_documents),
        "q111_stream_delta_gate": _with_prep(q111_stream_delta_gate),
        "q112_stream_trending_tokens": _with_prep(q112_stream_trending_tokens),
        "q113_incremental_band_index": _with_prep(q113_incremental_band_index),
        "q114_source_overlap": _with_prep(q114_source_overlap),
        "q115_stream_source_quota": _with_prep(q115_stream_source_quota),
        "q116_stream_stratified_reservoir": _with_prep(
            q116_stream_stratified_reservoir
        ),
        "q117_stream_distinct_tokens": _with_prep(q117_stream_distinct_tokens),
        "q118_stream_dataset_card": _with_prep(q118_stream_dataset_card),
        "q119_stream_asof_enrich": _with_prep(q119_stream_asof_enrich),
        "q120_stream_assemble_sessions": _with_prep(
            q120_stream_assemble_sessions
        ),
        "q121_key_skew_stats": _with_prep(q121_key_skew_stats),
        "q122_stream_drift_monitor": _with_prep(q122_stream_drift_monitor),
        "q123_residual_leak_audit": _with_prep(q123_residual_leak_audit),
        "q124_pack_utilization": _with_prep(q124_pack_utilization),
        "q125_stream_hot_keys": _with_prep(q125_stream_hot_keys),
        "q126_stream_centroid_drift": _with_prep(q126_stream_centroid_drift),
        "q127_stream_oov_rate": _with_prep(q127_stream_oov_rate),
        "q128_stream_completeness": _with_prep(q128_stream_completeness),
        "q129_stream_dup_rate": _with_prep(q129_stream_dup_rate),
        "q130_dp_histogram": _with_prep(q130_dp_histogram),
        "q131_incremental_dataset_card": _with_prep(q131_incremental_dataset_card),
        "q132_stream_dp_release": _with_prep(q132_stream_dp_release),
        "q133_token_scope_audit": _with_prep(q133_token_scope_audit),
        "q134_stream_token_scope_monitor": _with_prep(
            q134_stream_token_scope_monitor
        ),
        "q135_entity_link_pairs": _with_prep(q135_entity_link_pairs),
        "q136_subject_access_map": _with_prep(q136_subject_access_map),
        "q137_stream_erasure_propagation": _with_prep(
            q137_stream_erasure_propagation
        ),
        "q138_entity_clusters": _with_prep(q138_entity_clusters),
        "q139_stream_entity_match": _with_prep(q139_stream_entity_match),
        "q140_conversation_near_dups": _with_prep(q140_conversation_near_dups),
        "q141_conversation_dedup": _with_prep(q141_conversation_dedup),
        "q142_stream_session_gate": _with_prep(q142_stream_session_gate),
        "q143_tool_call_stats": _with_prep(q143_tool_call_stats),
        "q144_tool_bigrams": _with_prep(q144_tool_bigrams),
        "q145_trajectory_flags": _with_prep(q145_trajectory_flags),
        "q146_stream_trajectory_gate": _with_prep(q146_stream_trajectory_gate),
        "q147_tool_latency_monitor": _with_prep(q147_tool_latency_monitor),
        "q148_conversation_windows": _with_prep(q148_conversation_windows),
        "q149_stream_conversation_windows": _with_prep(
            q149_stream_conversation_windows
        ),
        "q150_assemble_windows": _with_prep(q150_assemble_windows),
    }


# --------------------------------------------------------------------------
# oracles (DuckDB SQL)
# --------------------------------------------------------------------------

# shared DuckDB fragments (documents-table shingling/minhash, mirrors
# auto_data_tokenize_spark/operators/dedup.py constructions exactly:
# one md5-derived base hash per shingle, 64 affine permutations)
_DUCK_SHINGLES = """
  SELECT doc_id,
         list_transform(range(0, greatest(length(w) - 5, 0) + 1),
                        i -> array_to_string(list_slice(w, i + 1, i + 5), ' ')) AS shingles
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
        FROM documents)
"""


def _duck_hs_fragment(shingles_sql: str) -> str:
    from auto_data_tokenize_spark.operators.dedup import duckdb_minhash_hs_sql

    return f"""
  SELECT doc_id, list_transform(shingles, s -> {duckdb_minhash_hs_sql('s')}) AS hs
  FROM ({shingles_sql}) shx
"""


def _duck_sig_fragment(shingles_sql: str) -> str:
    from auto_data_tokenize_spark.operators.dedup import duckdb_affine_sig_expr

    return f"""
  SELECT doc_id, {duckdb_affine_sig_expr('hs')} AS sig
  FROM ({_duck_hs_fragment(shingles_sql)}) hx
"""


_DUCK_HS = _duck_hs_fragment(_DUCK_SHINGLES)
_DUCK_SIG = _duck_sig_fragment(_DUCK_SHINGLES)


def _affine_consts() -> tuple[str, str, int]:
    from auto_data_tokenize_spark.operators.dedup import (
        MINHASH_P,
        duckdb_affine_coeff_lists,
    )

    a_list, b_list = duckdb_affine_coeff_lists(64)
    return a_list, b_list, MINHASH_P


_A_LIST, _B_LIST, _MINHASH_P = _affine_consts()


def _bpeish_duck() -> str:
    from auto_data_tokenize_spark.operators.textstats import BPEISH_RE

    return BPEISH_RE


def _en_stop_duck() -> str:
    from auto_data_tokenize_spark.operators.textstats import STOPWORDS

    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"


def _duck_lang_sql() -> str:
    from auto_data_tokenize_spark.operators.textstats import duckdb_language_id_sql

    return duckdb_language_id_sql("documents")


def _duck_simhash_sql() -> str:
    from auto_data_tokenize_spark.operators.dedup import duckdb_simhash_sql

    return duckdb_simhash_sql("documents")


def _duck_winnowing_sql() -> str:
    from auto_data_tokenize_spark.operators.textstats import duckdb_winnowing_sql

    return duckdb_winnowing_sql("documents")


def _duck_ws_tokens(text_col: str) -> str:
    from auto_data_tokenize_spark.operators.textstats import duckdb_ws_tokens_sql

    return duckdb_ws_tokens_sql(text_col)


def _duck_stratified_sql() -> str:
    from auto_data_tokenize_spark.operators.corpus import (
        duckdb_stratified_sample_sql,
    )

    return duckdb_stratified_sample_sql(
        "documents", ["lang", "source"], n_per_stratum=20
    )


def _duck_norm_text(text_col: str) -> str:
    from auto_data_tokenize_spark.operators.corpus import (
        duckdb_normalized_text_sql,
    )

    return duckdb_normalized_text_sql(text_col)


def _duck_banded_sql(src_sql: str) -> str:
    """Signatures + LSH band keys for an arbitrary (doc_id, text)
    source subquery — mirrors dedup.minhash_signatures + banded_keys
    exactly (q36 oracle needs it for BOTH sides of the gate)."""
    shingles_sql = f"""
          SELECT doc_id,
                 list_transform(range(0, greatest(length(w) - 5, 0) + 1),
                                i -> array_to_string(list_slice(w, i + 1, i + 5), ' ')) AS shingles
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
                FROM ({src_sql}) zz) ww
    """
    return f"""
      SELECT doc_id AS id, b AS band_idx,
             md5(array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), ',')) AS band_key
      FROM ({_duck_sig_fragment(shingles_sql)}) sigs,
           (SELECT unnest(range(0, 16)) AS b) bs
    """


def _duck_cluster_chain(src_sql: str) -> str:
    """CTE-chain text (no leading WITH): verified near-dup edges +
    min-over-reachable component labels (``lbl``) for an arbitrary
    (doc_id, text) source subquery — mirrors dedup.dup_clusters
    exactly. Callers prepend ``WITH RECURSIVE`` and join ``lbl``."""
    shingles = """
      SELECT doc_id,
             list_transform(range(0, greatest(length(w) - 5, 0) + 1),
                            i -> array_to_string(list_slice(w, i + 1, i + 5), ' ')) AS shingles
      FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
            FROM ({src}) zsrc) zw
    """.replace("{src}", src_sql)
    return f"""
            sigq AS ({_duck_sig_fragment(shingles)}),
            banded AS (
              SELECT doc_id AS id, b AS band_idx,
                     md5(array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), ',')) AS band_key
              FROM sigq, (SELECT unnest(range(0, 16)) AS b) bs
            ),
            capped AS (
              SELECT * FROM banded
              QUALIFY count(*) OVER (PARTITION BY band_idx, band_key) <= 64
            ),
            cpairs AS (
              SELECT DISTINCT x.id AS a, y.id AS b
              FROM capped x JOIN capped y USING (band_idx, band_key)
              WHERE x.id < y.id
            ),
            gsets AS (
              SELECT doc_id, list_distinct(shingles) AS g FROM ({shingles}) t
            ),
            edges AS (
              SELECT p.a, p.b
              FROM cpairs p
              JOIN gsets sa ON sa.doc_id = p.a
              JOIN gsets sb ON sb.doc_id = p.b
              WHERE round(length(list_distinct(list_filter(sa.g, s -> list_contains(sb.g, s))))::DOUBLE
                          / length(list_distinct(list_concat(sa.g, sb.g))), 6) >= 0.7
            ),
            sym AS (
              SELECT a AS s, b AS d FROM edges UNION SELECT b, a FROM edges
            ),
            reach(s, d) AS (
              SELECT s, d FROM sym
              UNION
              SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s
            ),
            lbl AS (
              SELECT s AS id, least(s, min(d)) AS cluster FROM reach GROUP BY s
            )
    """


def _duck_tfidf_sql() -> str:
    from auto_data_tokenize_spark.operators.textstats import duckdb_tfidf_sql

    return duckdb_tfidf_sql("documents", k=5)


def _duck_split_sql() -> str:
    from auto_data_tokenize_spark.operators.corpus import duckdb_split_sql

    return f"SELECT doc_id, bucket, split FROM ({duckdb_split_sql('documents')}) s"


def _duck_pack_sql() -> str:
    from auto_data_tokenize_spark.operators.corpus import duckdb_pack_sql

    return duckdb_pack_sql("documents", target_tokens=512)


def _duck_repetition_sql() -> str:
    from auto_data_tokenize_spark.operators.textstats import (
        duckdb_repetition_sql,
    )

    return (
        f"SELECT doc_id, dup_word_frac, top_ngram_frac "
        f"FROM ({duckdb_repetition_sql('documents', n=2)}) r"
    )


def _duck_decontaminate_sql() -> str:
    from auto_data_tokenize_spark.operators.corpus import (
        duckdb_decontaminate_sql,
    )

    return duckdb_decontaminate_sql(
        f"SELECT doc_id, text FROM documents WHERE doc_id % {EVAL_MOD} != 0",
        f"SELECT doc_id, text FROM documents WHERE doc_id % {EVAL_MOD} = 0",
        k=5,
    )


def _duck_decontaminate_hits_sql() -> str:
    from auto_data_tokenize_spark.operators.corpus import (
        duckdb_decontaminate_hits_sql,
    )

    return duckdb_decontaminate_hits_sql(
        f"SELECT doc_id, text FROM documents WHERE doc_id % {EVAL_MOD} != 0",
        f"SELECT doc_id, text FROM documents WHERE doc_id % {EVAL_MOD} = 0",
        k=5,
    )


def _duck_mix_sql() -> str:
    from auto_data_tokenize_spark.operators.corpus import duckdb_mix_sql

    inner = duckdb_mix_sql("documents", _mix_rates())
    return f"SELECT doc_id, source, lang FROM ({inner}) m"


_DUCK_AUG_CTES = """
        base AS (
          SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
          FROM embeddings
        ),
        planted AS (
          SELECT vec_id + 1000000 AS pvec_id,
                 list_transform(range(1, len(v) + 1),
                   i -> v[i] + (CASE WHEN vec_id < 25 THEN 0.3 ELSE 0.55 END)
                               * v[len(v) + 1 - i]) AS v
          FROM base WHERE vec_id < 50
        ),
        aug AS (
          SELECT vec_id, v FROM base
          UNION ALL
          SELECT pvec_id, v FROM planted
        )
"""

_DUCK_COS_XY = """round(list_dot_product(x.v, y.v)
                   / (sqrt(list_dot_product(x.v, x.v))
                      * sqrt(list_dot_product(y.v, y.v))), 6)"""


def _duck_semantic_dedup_sql() -> str:
    """Brute-force twin of q96: every exact pair at cosine >= 0.9
    (the operator's probe recall is pinned 1.0, q18 methodology),
    greedy min-id dup_of, -1 sentinel for survivors."""
    return f"""
        WITH {_DUCK_AUG_CTES},
        dup AS (
          SELECT y.vec_id AS vec_id, min(x.vec_id) AS dup_of
          FROM aug x JOIN aug y ON x.vec_id < y.vec_id
          WHERE {_DUCK_COS_XY} >= 0.9
          GROUP BY y.vec_id
        )
        SELECT a.vec_id, coalesce(d.dup_of, -1) AS dup_of
        FROM aug a LEFT JOIN dup d ON a.vec_id = d.vec_id
    """


def _duck_semantic_gate_sql() -> str:
    """Twin of q98: an arrival (planted id >= 1000000) is admitted iff
    no BASE-corpus vector reaches cosine 0.9 — arrival-vs-arrival is
    out of the gate's contract by design."""
    return f"""
        WITH {_DUCK_AUG_CTES}
        SELECT y.vec_id
        FROM aug y
        WHERE y.vec_id >= 1000000
          AND NOT EXISTS (
            SELECT 1 FROM aug x
            WHERE x.vec_id < 1000000 AND {_DUCK_COS_XY} >= 0.9
          )
    """


def _duck_temperature_mix_sql() -> str:
    from auto_data_tokenize_spark.operators.corpus import (
        duckdb_temperature_mix_sql,
    )

    inner = duckdb_temperature_mix_sql(
        "documents", budget_num=1, budget_den=2
    )
    return f"SELECT doc_id, source, lang FROM ({inner}) m"


def _duck_nb_sql() -> str:
    from auto_data_tokenize_spark.operators.quality_clf import (
        duckdb_nb_score_sql,
    )

    base = "SELECT doc_id, text, lang FROM documents"
    return duckdb_nb_score_sql(
        labeled_sql=f"SELECT *, lang = 'en' AS label FROM ({base}) b",
        docs_sql=base,
        min_count=2,
    )


def _duck_dataset_report_sql() -> str:
    from auto_data_tokenize_spark.operators.textstats import (
        duckdb_dataset_report_sql,
    )

    return duckdb_dataset_report_sql("documents")


def _duck_dp_histogram_sql() -> str:
    from auto_data_tokenize_spark.operators.risk import (
        duckdb_dp_histogram_sql,
    )

    return duckdb_dp_histogram_sql(
        "documents", ["lang", "source"], epsilon=DP_EPS, seed=DP_SEED
    )


def _duck_dp_monitor_sql() -> str:
    from auto_data_tokenize_spark.operators.risk import (
        duckdb_dp_histogram_monitor_sql,
    )

    return duckdb_dp_histogram_monitor_sql(
        "documents",
        ["lang"],
        ts_expr="TIMESTAMP '2026-01-01' + to_seconds(doc_id)",
        epsilon=DP_EPS,
        seed=DP_SEED,
    )


def _duck_pack_sharded_sql() -> str:
    from auto_data_tokenize_spark.functions.xengine import duckdb_md5_prefix
    from auto_data_tokenize_spark.operators.corpus import duckdb_pack_sql

    shard = f"{duckdb_md5_prefix('doc_id::VARCHAR')} % {N_PACK_SHARDS}"
    sharded = (
        f"(SELECT doc_id, lang, text, {shard} AS shard FROM documents) sd"
    )
    return duckdb_pack_sql(
        sharded, target_tokens=512, part_cols=["lang", "shard"]
    )


def _duck_conversation_audit_sql(tr: str) -> str:
    from auto_data_tokenize_spark.operators.conversations import (
        duckdb_conversation_audit_sql,
    )

    return duckdb_conversation_audit_sql(
        f"SELECT * FROM {tr}", max_role_run=3
    )


def _duck_chat_render_pack_sql(tr: str) -> str:
    """Twin of q89: audit → valid filter → chat render → sharded
    512-token packing, composed from the same twin builders the unit
    tests pin."""
    from auto_data_tokenize_spark.functions.xengine import duckdb_md5_prefix
    from auto_data_tokenize_spark.operators.conversations import (
        duckdb_conversation_audit_sql,
        duckdb_render_chat_sql,
    )
    from auto_data_tokenize_spark.operators.corpus import duckdb_pack_sql

    turns = f"SELECT * FROM {tr}"
    valid_rendered = f"""(
        WITH aud AS ({duckdb_conversation_audit_sql(turns, max_role_run=3)}),
             r AS ({duckdb_render_chat_sql(turns)})
        SELECT r.conv_id, r.text,
               {duckdb_md5_prefix('r.conv_id')} % {N_PACK_SHARDS} AS shard
        FROM r JOIN aud USING (conv_id)
        WHERE aud.structurally_valid
    ) vr"""
    return duckdb_pack_sql(
        valid_rendered,
        id_col="conv_id",
        text_col="text",
        target_tokens=512,
        part_cols=["shard"],
    )


def _duck_loss_mask_manifest(tr: str) -> str:
    """Twin of q92: the q89 pack layout joined with the per-turn
    loss-mask spans, shifted to global token positions."""
    from auto_data_tokenize_spark.operators.conversations import (
        duckdb_loss_mask_sql,
    )

    return f"""
        WITH pk AS ({_duck_chat_render_pack_sql(tr)}),
             sp AS ({duckdb_loss_mask_sql(f"SELECT * FROM {tr}")})
        SELECT sp.conv_id, sp.turn_idx, sp.role, pk.shard, pk.pack_id,
               pk."offset" + sp.tok_start AS global_start,
               pk."offset" + sp.tok_end AS global_end,
               sp.trainable
        FROM sp JOIN pk USING (conv_id)
    """


def _duck_bloom_sql() -> str:
    from auto_data_tokenize_spark.operators.sketches import duckdb_bloom_sql

    return duckdb_bloom_sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0",
        "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1"
        " UNION ALL SELECT doc_id + 1000000 AS doc_id, text"
        " FROM documents WHERE doc_id % 4 = 0",
        m_bits=2048,
    )


def _duck_kmv_tokens_sql() -> str:
    from auto_data_tokenize_spark.operators.sketches import duckdb_kmv_sql

    toks = """
      SELECT lang, tok AS token
      FROM (SELECT lang, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM documents) z
      WHERE tok <> ''
    """
    return f"""
        WITH kmv AS ({duckdb_kmv_sql(toks, "lang", "token", k=256)}),
        exact AS (
          SELECT lang, COUNT(DISTINCT token) AS n_exact FROM ({toks}) t GROUP BY lang
        )
        SELECT k.lang, k.n_hashes, k.kmv_est, e.n_exact
        FROM kmv k JOIN exact e USING (lang)
    """


def _duck_quantiles_sql() -> str:
    from auto_data_tokenize_spark.operators.textstats import duckdb_length_quantiles_sql

    return duckdb_length_quantiles_sql("documents")


_BPEISH = _bpeish_duck()
_EN_STOP = _en_stop_duck()


def _date_shift_salt(column: str) -> str:
    """The engine's dateShift salt for ``column`` (deidentify.py
    derives hkdf(root, 'adt-date-shift', 'dateShift:<col>') and folds
    its hex into the JVM hash expression) — recomputed here so the
    DuckDB twin hashes the identical bytes."""
    from auto_data_tokenize_spark.functions.tokenizer import (
        hkdf_sha256,
        resolve_root_key,
    )

    return hkdf_sha256(
        resolve_root_key(None), b"adt-date-shift",
        f"dateShift:{column}".encode(), 16,
    ).hex()


def _user_pseudonym_values(sf_name: str) -> str:
    """VALUES rows ``(user_id, pseudonym)`` for every distinct user in
    the events table at ``sf_name`` — HMAC-SHA256 computed with the
    stdlib (not the engine UDF) under the same HKDF-derived key, so the
    q62 twin is an independent reimplementation."""
    import base64
    import hashlib
    import hmac

    import duckdb

    from auto_data_tokenize_spark.functions.tokenizer import (
        hkdf_sha256,
        resolve_root_key,
    )

    key = hkdf_sha256(
        resolve_root_key(None), b"adt-crypto-hash", b"cryptoHash:user_id", 32
    )
    path = f"/root/testdata/{sf_name}/events.parquet"
    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT DISTINCT user_id FROM read_parquet('{path}') ORDER BY 1"
        ).fetchall()
    ]
    rows = []
    for uid in ids:
        mac = hmac.new(key, str(uid).encode(), hashlib.sha256).digest()
        rows.append(
            f"({uid}, '{base64.urlsafe_b64encode(mac).decode()}')"
        )
    return ", ".join(rows)


def _duck_pages_sql(junk: bool = False) -> str:
    """DuckDB twin of :func:`_line_pages`."""
    extra = (
        ", 'short.', 'this line has no terminal punctuation', "
        "'enable javascript to view this content.', "
        "'config = { a: 1 }.', 'lorem ipsum dolor sit amet.'"
    ) if junk else ""
    return f"""
        SELECT doc_id, concat_ws(chr(10),
            '{_PAGE_HEADER}',
            text,
            'page ' || doc_id || ' was crawled today.',
            'promo code ' || (doc_id % 40) || ' applies.',
            CASE WHEN doc_id % 2 = 0 THEN '{_PAGE_FOOTER}' END{extra}
        ) AS text FROM documents
    """


def _duck_line_dedup() -> str:
    from auto_data_tokenize_spark.operators.lines import duckdb_line_dedup_sql

    return duckdb_line_dedup_sql(_duck_pages_sql(), min_docs=5)


def _duck_c4_clean() -> str:
    from auto_data_tokenize_spark.operators.lines import duckdb_c4_clean_sql

    return duckdb_c4_clean_sql(_duck_pages_sql(junk=True), min_words=3)


def _duck_span_pages_sql() -> str:
    """DuckDB twin of :func:`_span_pages`."""
    return f"""
        SELECT doc_id, concat_ws(' ',
            CASE WHEN doc_id % 3 = 0 THEN '{_SPAN_BOILER}' END,
            text,
            CASE WHEN doc_id % 2 = 0 THEN
              'subscribe to newsletter tier ' || (doc_id % 50) ||
              ' for exclusive daily offers and breaking news updates'
            END
        ) AS text FROM documents
    """


def _duck_span_dedup() -> str:
    from auto_data_tokenize_spark.operators.lines import duckdb_span_dedup_sql

    return duckdb_span_dedup_sql(_duck_span_pages_sql(), k=8, min_docs=2)


def _duck_span_coverage() -> str:
    from auto_data_tokenize_spark.operators.lines import (
        duckdb_span_coverage_sql,
    )

    pages = _duck_span_pages_sql()
    return duckdb_span_coverage_sql(pages, pages, k=8, min_docs=2)


def _duck_url_pages_sql() -> str:
    """DuckDB twin of :func:`_url_pages`."""
    return """
        SELECT doc_id, n_chars,
          (CASE WHEN doc_id % 5 = 0 THEN 'HTTPS' ELSE 'https' END)
          || '://'
          || (CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END)
          || source || '.Example.COM/articles/' || (doc_id % 297)
          || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
          || (CASE WHEN doc_id % 2 = 0
                THEN '?utm_source=feed&id=' || (doc_id % 297) || '&x=1'
                ELSE '?x=1&id=' || (doc_id % 297) || '&gclid=abc123' END)
          || (CASE WHEN doc_id % 7 = 0 THEN '#top' ELSE '' END)
          AS url
        FROM documents
    """


def _duck_url_pipeline() -> str:
    from auto_data_tokenize_spark.operators.urls import (
        duckdb_url_pipeline_sql,
    )

    return duckdb_url_pipeline_sql(
        _duck_url_pages_sql(), _URL_BLOCKED, cap_n=5, order_col="n_chars"
    )


def _duck_token_budget() -> str:
    from auto_data_tokenize_spark.operators.corpus import (
        duckdb_token_budget_sql,
    )

    return duckdb_token_budget_sql(
        "SELECT * FROM documents",
        TOKEN_BUDGET_PER_LANG,
        key_col="lang",
        order_col="n_chars",
    )


def _duck_contamination_report() -> str:
    from auto_data_tokenize_spark.operators.corpus import (
        duckdb_contamination_report_sql,
    )

    return duckdb_contamination_report_sql(
        f"SELECT doc_id, text FROM documents WHERE doc_id % {EVAL_MOD} != 0",
        f"SELECT doc_id, text FROM documents WHERE doc_id % {EVAL_MOD} = 0",
        k=5,
    )


def _duck_heavy_hitter_tokens() -> str:
    from auto_data_tokenize_spark.operators.sketches import (
        duckdb_heavy_hitters_sql,
    )

    tok = (
        "SELECT token FROM ("
        "SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) "
        "AS token FROM documents) WHERE token <> ''"
    )
    return duckdb_heavy_hitters_sql(tok, "token", num=1, den=HH_DEN)


def _duck_epoch_shuffle() -> str:
    from auto_data_tokenize_spark.operators.corpus import (
        duckdb_epoch_shuffle_sql,
    )

    return duckdb_epoch_shuffle_sql(
        "SELECT doc_id FROM documents", n_epochs=3, n_shards=8, seed="r5"
    )


def _duck_corpus_delta() -> str:
    from auto_data_tokenize_spark.operators.versioning import (
        duckdb_corpus_delta_sql,
    )

    old_sql = (
        "SELECT doc_id, CASE WHEN doc_id % 10 = 1 "
        "THEN 'old:' || coalesce(text, '') ELSE text END AS text, lang "
        "FROM documents WHERE doc_id % 10 != 0"
    )
    new_sql = (
        "SELECT doc_id, text, lang FROM documents WHERE doc_id % 10 != 3"
    )
    return duckdb_corpus_delta_sql(old_sql, new_sql, ["text", "lang"])


def _duck_chunk_documents() -> str:
    from auto_data_tokenize_spark.operators.corpus import duckdb_chunk_sql

    return duckdb_chunk_sql(
        "SELECT doc_id, text FROM documents",
        chunk_tokens=CHUNK_TOKENS,
        stride=CHUNK_STRIDE,
    )


def _duck_stream_delta_gate() -> str:
    return (
        f"SELECT * FROM ({_duck_corpus_delta()}) WHERE status != 'removed'"
    )


def _duck_trending_tokens() -> str:
    """q112 twin: identical tokenization + 1-minute tumbling count +
    threshold, with the append-mode final-watermark predicate
    (window_end <= max(ts) - 30s) applied over the full arrival set."""
    return f"""
        WITH d AS (
          SELECT TIMESTAMP '2026-01-01' + to_seconds(doc_id) AS ts,
                 unnest(string_split_regex(trim(lower(text)), '\\s+'))
                   AS token
          FROM documents
        )
        SELECT make_timestamp((epoch_us(ts) // 60000000) * 60000000)
                 AS window_start,
               token, COUNT(*) AS n
        FROM d
        WHERE token <> ''
        GROUP BY 1, 2
        HAVING COUNT(*) >= {TREND_MIN_COUNT}
           AND window_start + INTERVAL 1 MINUTE <=
               (SELECT max(TIMESTAMP '2026-01-01' + to_seconds(doc_id))
                       - INTERVAL 30 SECOND
                FROM documents)
    """


def _duck_incremental_band_index() -> str:
    """q113 twin: the full from-scratch band recompute over snapshot
    v2 — the incremental maintenance must be row-identical to it."""
    return _duck_banded_sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 10 != 3"
    )


def _duck_source_overlap() -> str:
    from auto_data_tokenize_spark.operators.corpus import (
        duckdb_source_overlap_sql,
    )

    return duckdb_source_overlap_sql("SELECT source, text FROM documents")


def _duck_source_quota() -> str:
    """q115 twin: row_number over event order at the same quota; no
    final-watermark predicate (admission is decided on arrival, not at
    window close)."""
    return f"""
        WITH d AS (
          SELECT doc_id, source,
                 TIMESTAMP '2026-01-01' + to_seconds(doc_id) AS ts
          FROM documents
        ),
        r AS (
          SELECT make_timestamp((epoch_us(ts) // 60000000) * 60000000)
                   AS window_start,
                 source, doc_id, ts,
                 row_number() OVER (
                   PARTITION BY epoch_us(ts) // 60000000, source
                   ORDER BY ts, doc_id
                 ) AS rank
          FROM d
        )
        SELECT window_start, source, doc_id, ts, rank
        FROM r WHERE rank <= {QUOTA_PER_WINDOW}
    """


def _duck_stream_reservoir() -> str:
    """q116 twin: the batch stratified sample at the same seed, with
    the maintained slot = the md5-order rank."""
    return f"""
        SELECT lang, _rk AS slot, doc_id FROM (
          SELECT lang, doc_id,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5('adt-strat-v1' || ':' || doc_id::VARCHAR),
                            doc_id
                 ) AS _rk
          FROM documents
        ) WHERE _rk <= {RESERVOIR_N}
    """


def _duck_stream_distinct_tokens() -> str:
    """q117 twin: exact per-window COUNT(DISTINCT token) + TTR with
    the final-watermark predicate."""
    return """
        WITH d AS (
          SELECT TIMESTAMP '2026-01-01' + to_seconds(doc_id) AS ts,
                 unnest(string_split_regex(trim(lower(text)), '\\s+'))
                   AS token
          FROM documents
        )
        SELECT make_timestamp((epoch_us(ts) // 60000000) * 60000000)
                 AS window_start,
               COUNT(DISTINCT token) AS n_distinct_tokens,
               COUNT(*) AS n_tokens,
               round(COUNT(DISTINCT token) / COUNT(*), 6) AS ttr
        FROM d
        WHERE token <> ''
        GROUP BY 1
        HAVING window_start + INTERVAL 1 MINUTE <=
               (SELECT max(TIMESTAMP '2026-01-01' + to_seconds(doc_id))
                       - INTERVAL 30 SECOND
                FROM documents)
    """


def _duck_stream_dataset_card() -> str:
    """q118 twin: the batch per-(lang, source) aggregate the resolved
    running card must equal."""
    return f"""
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(coalesce(SUM(nt), -1) AS BIGINT) AS total_tokens,
               CAST(coalesce(MAX(nt), -1) AS BIGINT) AS max_tokens
        FROM (SELECT lang, source,
                     {_duck_ws_tokens("text")} AS nt
              FROM documents) d
        GROUP BY 1, 2
    """


def _duck_stream_asof_enrich() -> str:
    """q119 twin: native ASOF LEFT JOIN over the identically-
    constructed deterministic dimension."""
    return """
        WITH dim AS (
          SELECT u.user_id,
                 TIMESTAMP '2024-01-01'
                   + to_days((ks.k * 7)::INT)
                   + to_hours((u.user_id % 24)::INT) AS vts,
                 (u.user_id + ks.k) % 5 AS tier
          FROM (SELECT DISTINCT user_id FROM events) u,
               (SELECT unnest(range(0, 4)) AS k) ks
        )
        SELECT e.event_id, e.user_id, e.ts,
               d.vts AS version_ts, d.tier
        FROM events e
        ASOF LEFT JOIN dim d
          ON e.user_id = d.user_id AND e.ts >= d.vts
    """


def _duck_domain_curation() -> str:
    from auto_data_tokenize_spark.operators.urls import duckdb_domain_sql

    ws = "length(string_split_regex(trim(text), '\\s+'))"
    stop_hits = (
        f"length(list_filter({_EN_STOP}, "
        "w -> list_contains(string_split_regex(lower(text), '[^a-z]+'), w)))"
    )
    return f"""
        WITH p AS (
          SELECT u.doc_id, u.url, d.text
          FROM ({_duck_url_pages_sql()}) u
          JOIN documents d USING (doc_id)
        ),
        q AS (
          SELECT {duckdb_domain_sql("url")} AS domain,
                 CAST({ws} AS BIGINT) AS n_ws_tokens,
                 ({ws} >= 5 AND length(text) >= 20
                  AND {stop_hits} >= 1) AS is_quality
          FROM p
        )
        SELECT domain,
               CAST(count(*) AS BIGINT) AS n_pages,
               CAST(sum(CASE WHEN is_quality THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_quality,
               round(sum(CASE WHEN is_quality THEN 1 ELSE 0 END)
                     / count(*), 6) AS quality_rate,
               CAST(sum(n_ws_tokens) AS BIGINT) AS n_tokens
        FROM q GROUP BY domain
    """


def _duck_dsir_select() -> str:
    from auto_data_tokenize_spark.operators.dsir import (
        duckdb_dsir_select_sql,
    )

    return duckdb_dsir_select_sql(
        "SELECT doc_id, text FROM documents",
        "SELECT doc_id, text FROM documents WHERE lang = 'en'",
        k=100,
        n_buckets=4096,
    )


def _duck_dsir_weights() -> str:
    from auto_data_tokenize_spark.operators.dsir import (
        duckdb_dsir_weights_sql,
    )

    return duckdb_dsir_weights_sql(
        "SELECT doc_id, text FROM documents",
        "SELECT doc_id, text FROM documents WHERE lang = 'en'",
        n_buckets=4096,
    )


def _duck_lm_counts(docs_sql: str, order_col: str) -> str:
    from auto_data_tokenize_spark.operators.lm import duckdb_lm_counts_sql

    return duckdb_lm_counts_sql(docs_sql, order_col)


def _duck_lm_score(docs_sql: str, train_sql: str) -> str:
    from auto_data_tokenize_spark.operators.lm import duckdb_lm_score_sql

    return duckdb_lm_score_sql(docs_sql, train_sql)


def _duck_skew_sql(table: str, key: str, top_n: int, partitions: int) -> str:
    from auto_data_tokenize_spark.operators.skew import duckdb_skew_sql

    return duckdb_skew_sql(table, key, top_n=top_n, partitions=partitions)


def _duck_drift_sql(
    table: str, cat_col: str, window_us: int, ts_expr: str
) -> str:
    from auto_data_tokenize_spark.operators.textstats import duckdb_drift_sql

    return duckdb_drift_sql(table, cat_col, window_us=window_us, ts_expr=ts_expr)


def _duck_hot_keys_sql(table: str, key: str, min_count: int) -> str:
    from auto_data_tokenize_spark.operators.skew import duckdb_hot_keys_sql

    return duckdb_hot_keys_sql(table, key, min_count=min_count)


def _duck_centroid_drift_sql(
    table: str, vec_col: str, dim: int, ts_expr: str
) -> str:
    from auto_data_tokenize_spark.operators.similarity import (
        duckdb_centroid_drift_sql,
    )

    return duckdb_centroid_drift_sql(table, vec_col, dim, ts_expr=ts_expr)


def _duck_oov_sql(table: str, min_df: int, top_k: int, ts_expr: str) -> str:
    from auto_data_tokenize_spark.operators.textstats import (
        duckdb_oov_sql,
        duckdb_vocab_sql,
    )

    vocab = duckdb_vocab_sql(
        f"(SELECT text FROM {table} WHERE lang = 'en') e",
        min_df=min_df,
        top_k=top_k,
    )
    return duckdb_oov_sql(table, vocab, ts_expr=ts_expr)


def _duck_completeness_sql(table: str, cols: list[str]) -> str:
    from auto_data_tokenize_spark.operators.errors import (
        duckdb_completeness_sql,
    )

    return duckdb_completeness_sql(table, cols)


def _duck_dup_rate_sql(table: str) -> str:
    from auto_data_tokenize_spark.operators.dedup import duckdb_dup_rate_sql

    return duckdb_dup_rate_sql(table)


def _duck_pack_utilization_sql(table: str, target_tokens: int) -> str:
    from auto_data_tokenize_spark.operators.corpus import (
        duckdb_pack_utilization_sql,
    )

    return duckdb_pack_utilization_sql(table, target_tokens=target_tokens)


def _duck_token_scope_audit_sql(det: str, tr: str) -> str:
    from auto_data_tokenize_spark.operators.tokenize import (
        duckdb_token_scope_audit_sql,
    )

    return duckdb_token_scope_audit_sql(det, tr)


def _duck_token_scope_monitor_sql(table: str) -> str:
    from auto_data_tokenize_spark.operators.tokenize import (
        duckdb_token_scope_monitor_sql,
    )

    return duckdb_token_scope_monitor_sql(table)


def _relog_fixture_sql(tr: str) -> str:
    """SQL twin of :func:`_relog_fixture`."""
    return f"""
        SELECT conv_id, turn_idx, text FROM {tr}
        UNION ALL
        SELECT conv_id || '_rl' AS conv_id, turn_idx, text
        FROM (
          SELECT conv_id, turn_idx, text,
                 max(turn_idx) OVER (PARTITION BY conv_id) AS _mx
          FROM {tr}
        )
        WHERE turn_idx < _mx
    """


def _duck_conversation_near_dups_sql(turns_sql: str) -> str:
    from auto_data_tokenize_spark.operators.conversations import (
        duckdb_conversation_near_dups_sql,
    )

    return duckdb_conversation_near_dups_sql(turns_sql, threshold=0.8)


def _duck_conversation_dedup_sql(turns_sql: str) -> str:
    from auto_data_tokenize_spark.operators.conversations import (
        duckdb_conversation_dedup_sql,
    )

    return duckdb_conversation_dedup_sql(turns_sql, threshold=0.8)


def _duck_tool_call_stats_sql(turns_sql: str) -> str:
    from auto_data_tokenize_spark.operators.trajectories import (
        duckdb_tool_call_stats_sql,
    )

    return duckdb_tool_call_stats_sql(turns_sql)


def _duck_tool_bigrams_sql(turns_sql: str) -> str:
    from auto_data_tokenize_spark.operators.trajectories import (
        duckdb_tool_sequence_bigrams_sql,
    )

    return duckdb_tool_sequence_bigrams_sql(turns_sql)


def _duck_trajectory_flags_sql(turns_sql: str, loop_threshold: int = 3) -> str:
    from auto_data_tokenize_spark.operators.trajectories import (
        duckdb_trajectory_flags_sql,
    )

    return duckdb_trajectory_flags_sql(turns_sql, loop_threshold=loop_threshold)


def _duck_trajectory_gate_sql(tr: str) -> str:
    """q146 twin: the raw transcript feed, the per-(window, conv)
    gaps-and-islands / anti-join gate, and the closed-window
    predicate (only windows the stream's final watermark closed)."""
    from auto_data_tokenize_spark.operators.trajectories import (
        duckdb_trajectory_gate_sql,
    )

    inner = duckdb_trajectory_gate_sql(
        f"SELECT conv_id, turn_idx, role, tool, ts FROM {tr}",
        loop_threshold=2,
    )
    return f"""
        SELECT * FROM ({inner})
        WHERE window_start + INTERVAL 15 MINUTE <=
              (SELECT max(ts) - INTERVAL 30 SECOND FROM {tr})
    """


def _duck_conversation_windows_sql(tr: str, cap_trailing: bool = True) -> str:
    from auto_data_tokenize_spark.operators.conversations import (
        duckdb_conversation_windows_sql,
    )

    return duckdb_conversation_windows_sql(
        f"SELECT * FROM {tr}",
        chunk_tokens=16,
        stride_tokens=8,
        cap_trailing=cap_trailing,
    )


def _duck_assemble_windows_sql(tr: str) -> str:
    from auto_data_tokenize_spark.operators.conversations import (
        duckdb_assemble_windows_sql,
    )

    return duckdb_assemble_windows_sql(
        f"SELECT * FROM {tr}", chunk_tokens=16, stride_tokens=8
    )


def _duck_tool_latency_sql(tr: str) -> str:
    """q147 twin: the raw transcript feed through the per-(window,
    conv, tool) first-following-result construction, rolled up to
    (window, tool), plus the closed-window predicate."""
    from auto_data_tokenize_spark.operators.trajectories import (
        duckdb_tool_latency_monitor_sql,
    )

    inner = duckdb_tool_latency_monitor_sql(
        f"SELECT conv_id, turn_idx, role, tool, ts FROM {tr}"
    )
    return f"""
        SELECT * FROM ({inner})
        WHERE window_start + INTERVAL 15 MINUTE <=
              (SELECT max(ts) - INTERVAL 30 SECOND FROM {tr}
               WHERE tool IS NOT NULL AND role IN ('agent', 'tool'))
    """


def _duck_session_gate_sql(tr: str) -> str:
    """q142 twin: the identical feed construction (NULL-text turns
    dropped first, '_rl' = minus-final-turn, '_new' = suffixed text),
    the containment rollup, and the final-watermark predicate."""
    from auto_data_tokenize_spark.operators.conversations import (
        duckdb_turn_containment_sql,
    )

    feed = f"""
        WITH base AS (
          SELECT conv_id, turn_idx, text, ts FROM {tr}
          WHERE text IS NOT NULL
        ),
        rl AS (
          SELECT conv_id || '_rl' AS conv_id, text, ts
          FROM (SELECT *, max(turn_idx) OVER (PARTITION BY conv_id)
                  AS _mx FROM base)
          WHERE turn_idx < _mx
        ),
        fresh AS (
          SELECT conv_id || '_new' AS conv_id, text || ' v2' AS text, ts
          FROM base
        )
        SELECT * FROM rl UNION ALL SELECT * FROM fresh
    """
    inner = duckdb_turn_containment_sql(
        feed_sql=feed,
        corpus_sql=f"SELECT text FROM {tr}",
        threshold=0.8,
    )
    return f"""
        SELECT * FROM ({inner})
        WHERE window_start + INTERVAL 1 MINUTE <=
              (SELECT max(ts) - INTERVAL 30 SECOND FROM ({feed}))
    """


def oracle_sql(sf_name: str = "sf0.01") -> dict[str, str]:
    dd = f"{REPO}/data/{sf_name}"
    tr = f"read_parquet('{dd}/transcripts.parquet')"
    det = f"read_parquet('{dd}/detections.parquet')"
    tok = f"read_parquet('{dd}/tokenized_turns.parquet')"
    # materialize the extended-PII golden even if the oracle runs
    # before the Spark side (idempotent marker check)
    from auto_data_tokenize_spark import datagen

    datagen.ensure_extended(sf_name)
    datagen.ensure_bpe(sf_name)
    datagen.ensure_image_hashes(sf_name)

    return {
        "q01_tokenize_turns": f"""
            SELECT conv_id, turn_idx, text_tok FROM {tok}
        """,
        "q02_detections": f"""
            SELECT conv_id, turn_idx, info_type, start, "end", token FROM {det}
        """,
        "q03_column_infotype_counts": f"""
            SELECT '$.text' AS column_name, info_type, COUNT(*) AS n
            FROM {det} GROUP BY 1, 2
        """,
        "q04_infotype_freq_tumbling": f"""
            SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS window_start,
                   make_timestamp((epoch_us(ts) // 300000000) * 300000000 + 300000000) AS window_end,
                   info_type, COUNT(*) AS n
            FROM {det}
            GROUP BY 1, 2, 3
        """,
        "q05_session_reports": f"""
            WITH o AS (
              SELECT conv_id, ts, info_type,
                     CASE WHEN lag(ts) OVER (PARTITION BY conv_id ORDER BY ts) IS NULL
                          OR ts - lag(ts) OVER (PARTITION BY conv_id ORDER BY ts) > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS brk
              FROM {det}
            ), s AS (
              SELECT *, SUM(brk) OVER (PARTITION BY conv_id ORDER BY ts) AS sess
              FROM o
            )
            SELECT conv_id,
                   MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                   COUNT(*) AS n_detections,
                   COUNT(DISTINCT info_type) AS n_info_types
            FROM s GROUP BY conv_id, sess
        """,
        "q06_sample_per_column": f"""
            WITH up AS (
              SELECT '$.text' AS column_name, CAST(text AS VARCHAR) AS value FROM {tr}
              UNION ALL
              SELECT '$.role', CAST(role AS VARCHAR) FROM {tr}
              UNION ALL
              SELECT '$.tool', CAST(tool AS VARCHAR) FROM {tr}
            ), f AS (
              SELECT * FROM up WHERE value IS NOT NULL AND trim(value) <> ''
            ), r AS (
              SELECT column_name, value,
                     ROW_NUMBER() OVER (
                       PARTITION BY column_name
                       ORDER BY md5(concat_ws(chr(31), '42', column_name, value)), value
                     ) AS rn
              FROM f
            )
            SELECT column_name, value FROM r WHERE rn <= 50
        """,
        "q07_events_tumbling": """
            SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
                   make_timestamp((epoch_us(ts) // 3600000000) * 3600000000 + 3600000000) AS window_end,
                   event_type, COUNT(*) AS n, ROUND(SUM(value), 6) AS sum_value
            FROM events GROUP BY 1, 2, 3
        """,
        "q08_events_sessionize": """
            WITH o AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                          OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS brk
              FROM events
            ), s AS (
              SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sess
              FROM o
            )
            SELECT user_id,
                   MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 6) AS sum_value
            FROM s GROUP BY user_id, sess
        """,
        "q09_exact_dedup": """
            SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id,
                   COUNT(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        "q10_token_counts": f"""
            SELECT doc_id, length(text) AS n_chars,
                   length(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens,
                   length(regexp_extract_all(text, '{_BPEISH}')) AS n_bpeish_tokens
            FROM documents
        """,
        "q11_quality": f"""
            SELECT doc_id,
                   length(list_filter({_EN_STOP},
                          w -> list_contains(string_split_regex(lower(text), '[^a-z]+'), w)))
                     AS n_stop_hits,
                   length(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
                   (length(string_split_regex(trim(text), '\\s+')) >= 5
                    AND length(text) >= 20
                    AND length(list_filter({_EN_STOP},
                        w -> list_contains(string_split_regex(lower(text), '[^a-z]+'), w))) >= 1)
                     AS is_quality
            FROM documents
        """,
        "q12_language_id": _duck_lang_sql(),
        "q13_fingerprint": """
            SELECT doc_id,
                   md5(array_to_string(string_split_regex(trim(lower(text)), '\\s+'), ' '))
                     AS fingerprint
            FROM documents
        """,
        "q14_minhash_signatures": f"""
            WITH hx AS ({_DUCK_HS})
            SELECT doc_id, j,
                   list_min(list_transform(hs,
                            h -> ({_A_LIST}[j + 1] * h + {_B_LIST}[j + 1]) % {_MINHASH_P}))
                     AS minhash
            FROM hx, (SELECT unnest(range(0, 64)) AS j) js
        """,
        "q15_lsh_candidates": f"""
            WITH sig AS ({_DUCK_SIG}),
            banded AS (
              SELECT doc_id AS id, b AS band_idx,
                     md5(array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), ',')) AS band_key
              FROM sig, (SELECT unnest(range(0, 16)) AS b) bs
            ),
            capped AS (
              SELECT * FROM banded
              QUALIFY count(*) OVER (PARTITION BY band_idx, band_key) <= 64
            )
            SELECT DISTINCT x.id AS a, y.id AS b
            FROM capped x JOIN capped y USING (band_idx, band_key)
            WHERE x.id < y.id
        """,
        "q16_minhash_dedup": f"""
            WITH sig AS ({_DUCK_SIG}),
            banded AS (
              SELECT doc_id AS id, b AS band_idx,
                     md5(array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), ',')) AS band_key
              FROM sig, (SELECT unnest(range(0, 16)) AS b) bs
            ),
            capped AS (
              SELECT * FROM banded
              QUALIFY count(*) OVER (PARTITION BY band_idx, band_key) <= 64
            ),
            pairs AS (
              SELECT DISTINCT x.id AS a, y.id AS b
              FROM capped x JOIN capped y USING (band_idx, band_key)
              WHERE x.id < y.id
            ),
            gsets AS (
              SELECT doc_id, list_distinct(shingles) AS g FROM ({_DUCK_SHINGLES}) t
            ),
            ver AS (
              SELECT p.a, p.b,
                     round(length(list_distinct(list_filter(sa.g, s -> list_contains(sb.g, s))))::DOUBLE
                           / length(list_distinct(list_concat(sa.g, sb.g))), 6) AS j
              FROM pairs p
              JOIN gsets sa ON sa.doc_id = p.a
              JOIN gsets sb ON sb.doc_id = p.b
            ),
            dup AS (SELECT b AS doc_id, min(a) AS dup_of FROM ver WHERE j >= 0.7 GROUP BY 1)
            SELECT d.doc_id, dup.dup_of FROM documents d LEFT JOIN dup USING (doc_id)
        """,
        "q17_cosine_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 5
            ),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     round(list_dot_product(e.embedding::DOUBLE[], q.qv)
                           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
              FROM embeddings e, q
            )
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id) AS rank
            FROM scored
            QUALIFY rank <= 10
        """,
        "q18_embedding_near_dups": f"""
            WITH {_DUCK_AUG_CTES},
            scored AS (
              SELECT x.vec_id AS a, y.vec_id AS b,
                     {_DUCK_COS_XY} AS cosine
              FROM aug x JOIN aug y ON x.vec_id < y.vec_id
            )
            SELECT a, b, cosine FROM scored WHERE cosine >= 0.9
        """,
        "q19_simhash_near_dups": f"""
            WITH s AS ({_duck_simhash_sql()})
            SELECT x.doc_id AS a, y.doc_id AS b,
                   (bit_count(xor(x.sig_hi, y.sig_hi))
                    + bit_count(xor(x.sig_lo, y.sig_lo)))::INTEGER AS hamming
            FROM s x JOIN s y ON x.doc_id < y.doc_id
            WHERE bit_count(xor(x.sig_hi, y.sig_hi))
                  + bit_count(xor(x.sig_lo, y.sig_lo)) <= 8
        """,
        "q20_column_tokenize_roundtrip": """
            SELECT c_custkey, c_name, c_acctbal FROM customer
        """,
        "q21_infotype_freq_sliding": f"""
            SELECT make_timestamp(((epoch_us(ts) // 300000000) - o) * 300000000) AS window_start,
                   make_timestamp(((epoch_us(ts) // 300000000) - o) * 300000000 + 600000000) AS window_end,
                   info_type, COUNT(*) AS n
            FROM {det}, (SELECT unnest([0, 1]) AS o) offs
            GROUP BY 1, 2, 3
        """,
        "q22_stream_tokenize": f"""
            SELECT conv_id, turn_idx, text_tok FROM {tok}
        """,
        "q23_stream_session_reports": f"""
            WITH o AS (
              SELECT conv_id, ts, info_type,
                     CASE WHEN lag(ts) OVER (PARTITION BY conv_id ORDER BY ts) IS NULL
                          OR ts - lag(ts) OVER (PARTITION BY conv_id ORDER BY ts) > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS brk
              FROM {det}
            ), s AS (
              SELECT *, SUM(brk) OVER (PARTITION BY conv_id ORDER BY ts) AS sess
              FROM o
            ), sessions AS (
              SELECT conv_id,
                     MIN(ts) AS session_start,
                     MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                     COUNT(*) AS n_detections,
                     COUNT(DISTINCT info_type) AS n_info_types
              FROM s GROUP BY conv_id, sess
            )
            SELECT * FROM sessions
            WHERE session_end <= (SELECT MAX(ts) - INTERVAL 10 MINUTE FROM {det})
        """,
        "q24_detokenize_roundtrip": f"""
            SELECT conv_id, turn_idx, text FROM {tr}
        """,
        "q25_salted_infotype_counts": f"""
            SELECT info_type, COUNT(*) AS n FROM {det} GROUP BY 1
        """,
        "q26_token_dictionary_join": f"""
            SELECT d.conv_id, d.turn_idx, d.info_type, d.token, d.ts,
                   t.ts AS dict_ts
            FROM {det} d
            JOIN read_parquet('{dd}/token_dictionary.parquet') t
              ON d.token = t.token
             AND t.ts BETWEEN d.ts - INTERVAL 10 MINUTE
                          AND d.ts + INTERVAL 10 MINUTE
        """,
        "q27_escalation_alerts": f"""
            WITH fs AS (
              SELECT conv_id, info_type, MIN(ts) AS first_ts
              FROM {det} GROUP BY 1, 2
            ), r AS (
              SELECT *, row_number() OVER (PARTITION BY conv_id
                                           ORDER BY first_ts, info_type) AS rk
              FROM fs
            )
            SELECT conv_id, first_ts AS alert_ts, 3 AS n_info_types
            FROM r WHERE rk = 3
        """,
        "q28_stream_escalation_alerts": f"""
            WITH fs AS (
              SELECT conv_id, info_type, MIN(ts) AS first_ts
              FROM {det} GROUP BY 1, 2
            ), r AS (
              SELECT *, row_number() OVER (PARTITION BY conv_id
                                           ORDER BY first_ts, info_type) AS rk
              FROM fs
            )
            SELECT conv_id, first_ts AS alert_ts, 3 AS n_info_types
            FROM r WHERE rk = 3
        """,
        "q29_winnowing_fingerprints": _duck_winnowing_sql(),
        "q40_stream_infotype_rollup": f"""
            WITH f AS (
              SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS fw,
                     make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS hw,
                     info_type
              FROM {det}
            )
            SELECT hw AS window_start,
                   hw + INTERVAL 1 HOUR AS window_end,
                   info_type,
                   COUNT(*) AS n,
                   COUNT(DISTINCT fw) AS n_fine_windows
            FROM f
            GROUP BY 1, 2, 3
            HAVING hw + INTERVAL 1 HOUR
                   <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM {det})
        """,
        "q30_media_features": f"""
            SELECT media_id, feat_dim, feat_sum
            FROM read_parquet('{dd}/media_features.parquet')
        """,
        "q31_video_frame_counts": f"""
            SELECT media_id, CAST(ceil(duration_ms / 1000.0) AS BIGINT) AS n_frames
            FROM read_parquet('{dd}/media.parquet')
            WHERE duration_ms > 0
        """,
        "q36_stream_near_dup_gate": f"""
            WITH corpus_bands AS ({_duck_banded_sql("SELECT doc_id, text FROM documents")}),
            inc AS (
              SELECT doc_id + 1000000 AS doc_id,
                     CASE WHEN doc_id % 3 = 2
                          THEN 'novel content row ' || doc_id::VARCHAR
                               || ' with entirely fresh unseen words'
                          WHEN doc_id % 3 = 1 THEN 'edited v2 ' || text
                          ELSE text END AS text
              FROM documents
            ),
            inc_bands AS ({_duck_banded_sql("SELECT doc_id, text FROM inc")})
            SELECT DISTINCT i.id AS doc_id
            FROM inc_bands i
            JOIN corpus_bands c USING (band_idx, band_key)
        """,
        "q35_length_quantiles": _duck_quantiles_sql(),
        "q42_kmv_distinct_tokens": _duck_kmv_tokens_sql(),
        # brute-force all-pairs oracle: every pair sharing >= 1 shingle,
        # exact distinct-shingle Jaccard — proves setsim_join's prefix
        # filter is lossless (both sides filter on the ROUNDED score).
        "q43_setsim_join": f"""
            WITH gs AS (
              SELECT doc_id, list_distinct(shingles) AS g
              FROM ({_DUCK_SHINGLES}) t
            ),
            e AS (SELECT doc_id, unnest(g) AS s FROM gs),
            sz AS (SELECT doc_id, length(g) AS n FROM gs),
            inter AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
              FROM e x JOIN e y ON x.s = y.s AND x.doc_id < y.doc_id
              GROUP BY 1, 2
            )
            SELECT a, b,
                   round(c::DOUBLE / (na.n + nb.n - c), 6) AS jaccard
            FROM inter
            JOIN sz na ON na.doc_id = a
            JOIN sz nb ON nb.doc_id = b
            WHERE round(c::DOUBLE / (na.n + nb.n - c), 6) >= 0.6
        """,
        "q44_tfidf_top_terms": _duck_tfidf_sql(),
        "q45_split_assign": _duck_split_sql(),
        "q46_pack_sequences": _duck_pack_sql(),
        # the streaming packer's committed output must equal the batch
        # layout — same SQL twin as q46
        "q48_stream_pack_sequences": _duck_pack_sql(),
        "q51_pack_sequences_sharded": _duck_pack_sharded_sql(),
        "q52_repetition_stats": _duck_repetition_sql(),
        "q53_decontaminate": _duck_decontaminate_sql(),
        "q54_mix_sources": _duck_mix_sql(),
        # merge-on-read resolution is exactly a window: latest version
        # per key, and doc_id is unique so ties cannot occur
        "q55_stream_upsert": """
            SELECT k, version, n_chars FROM (
              SELECT doc_id % 100 AS k, doc_id AS version, n_chars,
                     row_number() OVER (PARTITION BY doc_id % 100
                                        ORDER BY doc_id DESC) AS rn
              FROM documents
            ) t WHERE rn = 1
        """,
        "q56_dataset_report": _duck_dataset_report_sql(),
        # golden computed by the pure-Python span oracle over the
        # planted extended-PII fixture (datagen.golden_detections_ext)
        "q58_extended_detections": f"""
            SELECT conv_id, turn_idx, info_type, start, "end", token
            FROM read_parquet('{dd}/detections_ext.parquet')
        """,
        "q59_stream_decontaminate_gate": _duck_decontaminate_hits_sql(),
        # golden computed by the pure-Python tokenizer under the
        # reference config's own 3-infoType selection
        "q60_config_driven_tokenize": f"""
            SELECT conv_id, turn_idx, text
            FROM read_parquet('{dd}/tokenized_ext3.parquet')
        """,
        # forward as-of with tolerance: LATERAL next-purchase pick,
        # same (ts ASC, event_id DESC) tie order as the Spark tiebreak
        "q57_asof_forward_tolerance": """
            SELECT v.event_id, v.user_id, v.ts,
                   rr.ts AS purchase_ts, rr.event_id AS purchase_id,
                   rr.value AS purchase_value
            FROM (SELECT * FROM events WHERE event_type = 'view') v
            JOIN LATERAL (
              SELECT p.ts, p.event_id, p.value
              FROM events p
              WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
                AND p.ts >= v.ts
                AND epoch(p.ts) - epoch(v.ts) <= 3600
              ORDER BY p.ts ASC, p.event_id DESC
              LIMIT 1
            ) rr ON TRUE
        """,
        "q49_bloom_dedup_gate": _duck_bloom_sql(),
        # the streaming gate emits only maybe-survivors with their
        # exact verdicts — the q49 bit-array twin restricted to them
        "q50_stream_bloom_gate": f"""
            SELECT doc_id, is_dup FROM ({_duck_bloom_sql()}) t
            WHERE bloom_maybe
        """,
        # expected metadata from the synth layout, never the decoder:
        # i%3==0 → 16x12 bmp, i%3==1 → 50ms/8kHz/400-sample wav,
        # i%3==2 → opaque container quarantined as nulls
        "q47_media_metadata": """
            SELECT i AS media_id,
                   CASE i % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav'
                        ELSE 'opaque' END AS fmt,
                   CASE i % 3 WHEN 0 THEN 16 ELSE -1 END AS width,
                   CASE i % 3 WHEN 0 THEN 12 ELSE -1 END AS height,
                   CASE i % 3 WHEN 1 THEN 8000 ELSE -1 END AS sample_rate,
                   CASE i % 3 WHEN 1 THEN 400 ELSE -1 END AS n_samples,
                   CASE i % 3 WHEN 1 THEN 50 ELSE -1 END AS duration_ms
            FROM (SELECT unnest(range(0, 30)) AS i) t
        """,
        "q34_nested_tokenize_roundtrip": """
            SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        """,
        "q37_avro_tokenize_roundtrip": """
            SELECT c_custkey, c_name, c_acctbal FROM customer
        """,
        "q38_dup_clusters": f"""
            WITH RECURSIVE
            {_duck_cluster_chain("SELECT doc_id, text FROM documents")}
            SELECT doc.doc_id, coalesce(l.cluster, doc.doc_id) AS cluster_id
            FROM documents doc LEFT JOIN lbl l ON l.id = doc.doc_id
        """,
        "q39_corpus_prep": f"""
            WITH RECURSIVE base AS (
              SELECT d.doc_id, d.text
              FROM documents d
              JOIN ({_duck_lang_sql()}) lng USING (doc_id)
              WHERE lng.pred_lang = 'en'
                AND length(string_split_regex(trim(d.text), '\\s+')) >= 5
                AND length(d.text) >= 20
                AND length(list_filter({_EN_STOP},
                    w -> list_contains(string_split_regex(lower(d.text), '[^a-z]+'), w))) >= 1
            ),
            {_duck_cluster_chain("SELECT doc_id, text FROM base")}
            SELECT b.doc_id
            FROM base b LEFT JOIN lbl l ON l.id = b.doc_id
            WHERE coalesce(l.cluster, b.doc_id) = b.doc_id
        """,
        "q41_view_purchase_range_join": """
            SELECT p.event_id AS purchase_id, p.user_id,
                   p.ts AS purchase_ts, v.event_id AS view_id, v.ts AS view_ts
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            JOIN (SELECT * FROM events WHERE event_type = 'view') v
              ON p.user_id = v.user_id
             AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
        """,
        "q33_asof_purchase_attribution": """
            SELECT p.event_id, p.user_id, p.ts, p.value,
                   v.ts AS view_ts, v.event_id AS view_id
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
              ON p.user_id = v.user_id AND p.ts >= v.ts
        """,
        "q32_stream_dedup_first": f"""
            WITH b AS (
              SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
                     md5(text) AS text_hash, ts, conv_id, turn_idx
              FROM {tr}
            ), r AS (
              SELECT *,
                     row_number() OVER (PARTITION BY window_start, text_hash
                                        ORDER BY ts, conv_id, turn_idx) AS rn,
                     count(*) OVER (PARTITION BY window_start, text_hash) AS n_copies
              FROM b
            )
            SELECT window_start, text_hash, conv_id AS first_conv_id,
                   turn_idx AS first_turn_idx, n_copies
            FROM r
            WHERE rn = 1
              AND window_start + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM {tr})
        """,
        # -- primitive de-identification transforms (deidentify.py) -----
        # dateShift twin: same keyed md5-prefix hash family the engine
        # uses (portable: Spark conv(substr(md5,1,8),16,10) == DuckDB
        # ('0x'||substr(md5,1,8))::BIGINT); salt precomputed below with
        # the identical HKDF derivation.
        "q61_deidentify_orders": f"""
            SELECT o_orderkey,
                   0 AS o_custkey,
                   CAST(NULL AS VARCHAR) AS o_orderstatus,
                   repeat('*', least(1, length(o_orderpriority)))
                     || substr(o_orderpriority,
                               least(1, length(o_orderpriority)) + 1)
                     AS o_orderpriority,
                   strftime(CAST(o_orderdate AS DATE)
                     + CAST(-100 + (('0x' || substr(md5(
                           '{_date_shift_salt("o_orderdate")}:'
                           || CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT
                         % 201) AS INTEGER), '%Y-%m-%d') AS o_orderdate,
                   CASE
                     WHEN o_totalprice IS NULL THEN NULL
                     WHEN o_totalprice < 0 THEN '<0'
                     WHEN o_totalprice >= 500000 THEN '>=500000'
                     ELSE CAST(CAST(floor(o_totalprice / 50000) * 50000 AS BIGINT) AS VARCHAR)
                          || '-' ||
                          CAST(CAST(least(floor(o_totalprice / 50000) * 50000 + 50000,
                                          500000) AS BIGINT) AS VARCHAR)
                   END AS o_totalprice
            FROM orders
        """,
        # cryptoHash twin: HMAC-SHA256 is not expressible in DuckDB SQL
        # (sha256 here is VARCHAR-only, HMAC needs raw key bytes), so
        # the pseudonym map for the BOUNDED user-id domain is computed
        # at SQL-build time with the stdlib hmac and joined as VALUES.
        "q62_pseudonymize_events": f"""
            SELECT e.event_id,
                   p.pseudonym AS user_pseudonym,
                   CAST(EXTRACT(HOUR FROM e.ts) AS INTEGER) AS hour_of_day,
                   e.event_type,
                   CASE
                     WHEN e.value < 0 THEN 'neg'
                     WHEN e.value >= 0 AND e.value < 100 THEN 'small'
                     WHEN e.value >= 100 THEN 'large'
                     ELSE CAST(e.value AS VARCHAR)
                   END AS value_bucket
            FROM events e
            JOIN (VALUES {_user_pseudonym_values(sf_name)})
                 AS p(user_id, pseudonym) USING (user_id)
        """,
        # -- risk analysis (risk.py) ------------------------------------
        "q63_k_anonymity_hist": """
            SELECT class_size,
                   COUNT(*) AS num_classes,
                   CAST(SUM(class_size) AS BIGINT) AS num_records
            FROM (SELECT c_mktsegment, c_nationkey,
                         COUNT(*) AS class_size
                  FROM customer GROUP BY 1, 2) t
            GROUP BY class_size
        """,
        "q64_l_diversity_classes": """
            SELECT c_mktsegment, c_nationkey,
                   COUNT(*) AS class_size,
                   CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
                        AS BIGINT) AS distinct_sensitive
            FROM customer GROUP BY 1, 2
        """,
        # pure-Python golden under the extended detector set
        "q65_freeform_infotype_labels": f"""
            SELECT conv_id, turn_idx, text
            FROM read_parquet('{dd}/labeled_ext.parquet')
        """,
        "q66_k_map_hist": """
            SELECT k_map,
                   COUNT(*) AS num_classes,
                   CAST(SUM(dataset_count) AS BIGINT) AS num_records
            FROM (
                SELECT ds.c_mktsegment, ds.c_nationkey, ds.dataset_count,
                       CAST(COALESCE(pop.k_map, 0) AS BIGINT) AS k_map
                FROM (SELECT c_mktsegment, c_nationkey,
                             COUNT(*) AS dataset_count
                      FROM customer WHERE c_acctbal > 5000.0
                      GROUP BY 1, 2) ds
                LEFT JOIN (SELECT c_mktsegment, c_nationkey,
                                  COUNT(*) AS k_map
                           FROM customer GROUP BY 1, 2) pop
                USING (c_mktsegment, c_nationkey)
            ) t
            GROUP BY k_map
        """,
        "q67_delta_presence": """
            SELECT pop.c_mktsegment, pop.c_nationkey,
                   CAST(COALESCE(ds.dataset_count, 0) AS BIGINT)
                       AS dataset_count,
                   CAST(pop.population_count AS BIGINT) AS population_count,
                   ROUND(COALESCE(ds.dataset_count, 0) * 1.0
                         / pop.population_count, 9) AS delta
            FROM (SELECT c_mktsegment, c_nationkey,
                         COUNT(*) AS population_count
                  FROM customer GROUP BY 1, 2) pop
            LEFT JOIN (SELECT c_mktsegment, c_nationkey,
                              COUNT(*) AS dataset_count
                       FROM customer WHERE c_acctbal > 5000.0
                       GROUP BY 1, 2) ds
            USING (c_mktsegment, c_nationkey)
        """,
        "q68_categorical_stats": """
            SELECT value_frequency,
                   COUNT(*) AS num_values,
                   CAST(SUM(value_frequency) AS BIGINT) AS num_records
            FROM (SELECT o_custkey, COUNT(*) AS value_frequency
                  FROM orders GROUP BY 1) t
            GROUP BY value_frequency
        """,
        "q69_numerical_stats": """
            SELECT ROUND(CAST(MIN(o_totalprice) AS DOUBLE), 4) AS min_value,
                   ROUND(CAST(MAX(o_totalprice) AS DOUBLE), 4) AS max_value,
                   ROUND(quantile_cont(o_totalprice, 0.25), 4) AS q_25,
                   ROUND(quantile_cont(o_totalprice, 0.50), 4) AS q_50,
                   ROUND(quantile_cont(o_totalprice, 0.75), 4) AS q_75
            FROM orders
        """,
        "q70_stream_k_anon_monitor": """
            WITH deid AS (
              SELECT event_type,
                     CAST(floor(value / 100.0) AS BIGINT) AS value_bucket,
                     make_timestamp((epoch_us(ts) // 3600000000)
                                    * 3600000000) AS hw
              FROM events
            ), classes AS (
              SELECT hw, event_type, value_bucket,
                     COUNT(*) AS class_size
              FROM deid GROUP BY 1, 2, 3
            )
            SELECT hw AS window_start,
                   hw + INTERVAL 1 HOUR AS window_end,
                   class_size,
                   COUNT(*) AS num_classes,
                   CAST(SUM(class_size) AS BIGINT) AS num_records
            FROM classes
            GROUP BY 1, 2, 3
            HAVING hw + INTERVAL 1 HOUR
                   <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        """,
        "q71_generalize_to_k": """
            WITH base AS (
              SELECT c_mktsegment AS seg, c_acctbal AS bal,
                     COUNT(*) AS n
              FROM customer GROUP BY 1, 2
            ),
            m0 AS (SELECT MIN(n) AS m FROM base),
            l1 AS (SELECT seg, floor(bal / 100.0) * 100.0 AS lo,
                          SUM(n) AS cs
                   FROM base GROUP BY 1, 2),
            m1 AS (SELECT MIN(cs) AS m FROM l1),
            l2 AS (SELECT seg, floor(bal / 1000.0) * 1000.0 AS lo,
                          SUM(n) AS cs
                   FROM base GROUP BY 1, 2),
            m2 AS (SELECT MIN(cs) AS m FROM l2),
            pick AS (
              SELECT CASE WHEN (SELECT m FROM m0) >= 15 THEN 0
                          WHEN (SELECT m FROM m1) >= 15 THEN 1
                          WHEN (SELECT m FROM m2) >= 15 THEN 2
                          ELSE 3 END AS lv
            )
            SELECT CAST(bal AS DOUBLE) AS c_acctbal_low,
                   CAST(bal AS DOUBLE) AS c_acctbal_high,
                   seg AS c_mktsegment,
                   CAST(n AS BIGINT) AS class_size,
                   CAST(0 AS INTEGER) AS level
            FROM base WHERE (SELECT lv FROM pick) = 0
            UNION ALL
            SELECT lo, lo + 100.0, seg, CAST(cs AS BIGINT),
                   CAST(1 AS INTEGER)
            FROM l1 WHERE (SELECT lv FROM pick) = 1
            UNION ALL
            SELECT lo, lo + 1000.0, seg, CAST(cs AS BIGINT),
                   CAST(2 AS INTEGER)
            FROM l2 WHERE (SELECT lv FROM pick) = 2
            UNION ALL
            SELECT CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), '*',
                   CAST((SELECT SUM(n) FROM base) AS BIGINT),
                   CAST(3 AS INTEGER)
            FROM pick WHERE lv = 3
        """,
        "q72_pii_density_gate": f"""
            WITH toks AS (
              SELECT conv_id,
                     CAST(SUM(length(string_split_regex(trim(text), '\\s+')))
                          AS BIGINT) AS n_tokens
              FROM {tr} GROUP BY 1
            ), pii AS (
              SELECT conv_id, COUNT(*) AS n_pii FROM {det} GROUP BY 1
            )
            SELECT t.conv_id,
                   CAST(COALESCE(p.n_pii, 0) AS BIGINT) AS n_pii,
                   t.n_tokens,
                   ROUND(COALESCE(p.n_pii, 0) * 1000.0
                         / GREATEST(t.n_tokens, 1), 6) AS pii_per_1k,
                   ROUND(COALESCE(p.n_pii, 0) * 1000.0
                         / GREATEST(t.n_tokens, 1), 6) <= 50.0 AS passes
            FROM toks t LEFT JOIN pii p USING (conv_id)
        """,
        # pure-Python BPE golden (datagen.ensure_bpe), deterministic
        "q73_bpe_train": f"""
            SELECT rank, "left", "right"
            FROM read_parquet('{dd}/bpe_merges.parquet')
        """,
        "q74_bpe_encode": f"""
            SELECT doc_id, bpe_tokens, n_bpe_tokens
            FROM read_parquet('{dd}/bpe_tokens.parquet')
        """,
        # FF1 roundtrip: decrypt(encrypt(x)) must equal x and the token
        # must stay in-format; the cipher itself is pinned to NIST's
        # published SP 800-38G sample vectors in tests/test_fpe.py
        "q75_fpe_name_roundtrip": """
            SELECT c_custkey, c_name AS name,
                   TRUE AS len_preserved, TRUE AS token_differs,
                   TRUE AS alphabet_ok
            FROM customer
        """,
        "q76_fpe_freeform_reidentify": f"""
            SELECT conv_id, turn_idx, text FROM {tr}
        """,
        # streaming deidentify ∘ exactly-once sink ∘ reidentify must be
        # the identity on the input stream (single trigger: watermark
        # starts at -inf, stateless projection — every turn commits)
        "q77_stream_fpe_deidentify": f"""
            SELECT conv_id, turn_idx, text FROM {tr}
        """,
        # the maintained index must equal the bands of each document's
        # LATEST crawl (re-crawled docs: version-2 rows replace v1)
        "q78_stream_lsh_index": f"""
            WITH final AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 10 = 0 THEN text || ' revised v2'
                          ELSE text END AS text,
                     CAST(CASE WHEN doc_id % 10 = 0 THEN 2 ELSE 1 END
                          AS BIGINT) AS crawl_ver
              FROM documents
            )
            SELECT b.id, b.band_idx, b.band_key, f.crawl_ver
            FROM ({_duck_banded_sql("SELECT doc_id, text FROM final")}) b
            JOIN final f ON f.doc_id = b.id
        """,
        # tumbling per-(window, lang) ingest stats; append mode emits
        # only watermark-closed windows (final watermark = max(ts)-30s)
        "q79_stream_corpus_monitor": f"""
            WITH d AS (
              SELECT lang,
                     TIMESTAMP '2026-01-01' + to_seconds(doc_id) AS ts,
                     CAST({_duck_ws_tokens("text")} AS BIGINT) AS nt
              FROM documents
            )
            SELECT make_timestamp((epoch_us(ts) // 60000000) * 60000000)
                     AS window_start,
                   lang, COUNT(*) AS n_docs,
                   CAST(SUM(nt) AS BIGINT) AS total_tokens,
                   CAST(MAX(nt) AS BIGINT) AS max_tokens
            FROM d
            GROUP BY 1, 2
            HAVING window_start + INTERVAL 1 MINUTE
                     <= (SELECT max(ts) - INTERVAL 30 SECOND FROM d)
        """,
        "q80_stratified_sample": f"""
            SELECT doc_id, lang, source
            FROM ({_duck_stratified_sql()}) s
        """,
        "q81_normalized_dedup": f"""
            SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
                   md5({_duck_norm_text("text")}) AS norm_hash,
                   COUNT(*) AS n_dupes
            FROM documents
            GROUP BY 2
        """,
        # the three-gate admission predicate over the reconstructed
        # crawl mixture: quality AND no corpus band collision AND no
        # eval shingle overlap
        "q82_stream_ingest_admission": f"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id % {EVAL_MOD} != 0
            ),
            incoming AS (
              SELECT c.doc_id + 1000000 AS doc_id,
                     CASE c.doc_id % 4
                       WHEN 0 THEN c.text
                       WHEN 1 THEN 'novel content row ' || c.doc_id ||
                                   ' keeps the quality gate happy with fresh words'
                       WHEN 2 THEN e.text
                       ELSE 'junk ' || c.doc_id
                     END AS text
              FROM corpus c
              JOIN documents e
                ON e.doc_id = c.doc_id - (c.doc_id % {EVAL_MOD})
            ),
            q AS (
              SELECT * FROM incoming
              WHERE length(string_split_regex(trim(text), '\\s+')) >= 5
                AND length(text) >= 20
                AND length(list_filter({_EN_STOP},
                      w -> list_contains(
                             string_split_regex(lower(text), '[^a-z]+'), w)
                    )) >= 1
            ),
            dup AS (
              SELECT DISTINCT b.id FROM
                ({_duck_banded_sql("SELECT doc_id, text FROM q")}) b
              JOIN ({_duck_banded_sql("SELECT doc_id, text FROM corpus")}) cb
                USING (band_idx, band_key)
            ),
            evs AS (
              SELECT DISTINCT unnest(list_distinct(list_transform(
                       range(0, greatest(len(w) - 5, 0) + 1),
                       i -> array_to_string(list_slice(w, i + 1, i + 5), ' ')
                     ))) AS s
              FROM (SELECT string_split_regex(trim(lower(text)), '\\s+') AS w
                    FROM documents WHERE doc_id % {EVAL_MOD} = 0) e
            ),
            cont AS (
              SELECT DISTINCT doc_id FROM (
                SELECT doc_id, unnest(list_distinct(list_transform(
                         range(0, greatest(len(w) - 5, 0) + 1),
                         i -> array_to_string(list_slice(w, i + 1, i + 5), ' ')
                       ))) AS s
                FROM (SELECT doc_id,
                             string_split_regex(trim(lower(text)), '\\s+') AS w
                      FROM q) g
              ) gs JOIN evs USING (s)
            )
            SELECT doc_id, md5(text) AS text_md5 FROM q
            WHERE doc_id NOT IN (SELECT id FROM dup)
              AND doc_id NOT IN (SELECT doc_id FROM cont)
        """,
        "q83_line_dedup": f"""
            SELECT doc_id, md5(text) AS text_md5, n_kept, n_removed
            FROM ({_duck_line_dedup()})
        """,
        "q84_c4_clean": f"""
            SELECT doc_id, md5(text) AS text_md5, n_kept, n_removed
            FROM ({_duck_c4_clean()})
        """,
        "q85_lm_top_trigrams": f"""
            SELECT gram, cnt
            FROM ({_duck_lm_counts("SELECT doc_id, text FROM documents", "tri")})
            ORDER BY cnt DESC, gram
            LIMIT 100
        """,
        "q86_lm_fluency_filter": f"""
            WITH mix AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id,
                     array_to_string(list_reverse(
                       string_split_regex(trim(text), '\\s+')), ' ') AS text
              FROM documents
              UNION ALL
              SELECT doc_id + 2000000 AS doc_id,
                     'zq' || doc_id || ' glorp wibble frub nix' AS text
              FROM documents
            )
            SELECT doc_id, n_tokens, n_hit3, n_hit2, n_hit1, avg_logp,
                   avg_logp >= -7.0 AS passes
            FROM ({_duck_lm_score(
                "SELECT doc_id, text FROM mix",
                f"SELECT doc_id, text FROM documents WHERE doc_id % {EVAL_MOD} != 0",
            )})
        """,
        "q87_stream_fluency_gate": f"""
            WITH mix AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id,
                     array_to_string(list_reverse(
                       string_split_regex(trim(text), '\\s+')), ' ') AS text
              FROM documents
              UNION ALL
              SELECT doc_id + 2000000 AS doc_id,
                     'zq' || doc_id || ' glorp wibble frub nix' AS text
              FROM documents
            )
            SELECT doc_id, n_tokens, n_hit3, n_hit2, n_hit1, avg_logp
            FROM ({_duck_lm_score(
                "SELECT doc_id, text FROM mix",
                f"SELECT doc_id, text FROM documents WHERE doc_id % {EVAL_MOD} != 0",
            )})
            WHERE avg_logp >= -7.0
        """,
        "q88_conversation_audit": _duck_conversation_audit_sql(tr),
        "q90_span_dedup": f"""
            SELECT doc_id, md5(text) AS text_md5, n_kept, n_removed
            FROM ({_duck_span_dedup()})
        """,
        "q91_dsir_select": _duck_dsir_select(),
        "q92_loss_mask_manifest": _duck_loss_mask_manifest(tr),
        "q93_stream_boilerplate_gate": f"""
            SELECT doc_id, n_tokens, n_covered, covered_frac
            FROM ({_duck_span_coverage()})
            WHERE covered_frac <= 0.5
        """,
        "q94_url_pipeline": _duck_url_pipeline(),
        "q95_stream_dsir_gate": f"""
            SELECT doc_id, n_grams, logw_micro6
            FROM ({_duck_dsir_weights()})
            WHERE logw_micro6 >= -85000 * n_grams
        """,
        "q89_chat_render_pack": f"""
            SELECT conv_id, shard, n_tokens, "offset", pack_id
            FROM ({_duck_chat_render_pack_sql(tr)})
        """,
        "q96_semantic_dedup": _duck_semantic_dedup_sql(),
        "q97_temperature_mix": _duck_temperature_mix_sql(),
        "q98_stream_semantic_gate": _duck_semantic_gate_sql(),
        "q99_image_near_dups": f"""
            WITH h AS (
              SELECT media_id, ahash
              FROM read_parquet('{dd}/image_ahash.parquet')
            )
            SELECT x.media_id AS a, y.media_id AS b,
                   bit_count(xor(x.ahash, y.ahash))::INTEGER AS hamming
            FROM h x JOIN h y ON x.media_id < y.media_id
            WHERE bit_count(xor(x.ahash, y.ahash)) <= 8
        """,
        "q100_nb_quality_scores": _duck_nb_sql(),
        "q101_stream_nb_gate": f"""
            SELECT * FROM ({_duck_nb_sql()}) s
            WHERE score_micro6 >= {NB_GATE_MIN_SCORE_MICRO6}
        """,
        "q102_rekey_roundtrip": """
            SELECT c_custkey, c_name, c_acctbal,
                   CAST(0 AS BIGINT) AS n_unrotated
            FROM customer
        """,
        "q103_tink_keyset_roundtrip": """
            SELECT c_custkey, c_name, c_acctbal,
                   CAST(c_nationkey AS BIGINT) AS c_nationkey
            FROM customer
        """,
        "q104_token_budget": _duck_token_budget(),
        "q105_contamination_report": _duck_contamination_report(),
        "q106_domain_curation": _duck_domain_curation(),
        "q107_heavy_hitter_tokens": _duck_heavy_hitter_tokens(),
        "q108_epoch_shuffle": _duck_epoch_shuffle(),
        "q109_corpus_delta": _duck_corpus_delta(),
        "q110_chunk_documents": _duck_chunk_documents(),
        "q111_stream_delta_gate": _duck_stream_delta_gate(),
        "q112_stream_trending_tokens": _duck_trending_tokens(),
        "q113_incremental_band_index": _duck_incremental_band_index(),
        "q114_source_overlap": _duck_source_overlap(),
        "q115_stream_source_quota": _duck_source_quota(),
        "q116_stream_stratified_reservoir": _duck_stream_reservoir(),
        "q117_stream_distinct_tokens": _duck_stream_distinct_tokens(),
        "q118_stream_dataset_card": _duck_stream_dataset_card(),
        "q119_stream_asof_enrich": _duck_stream_asof_enrich(),
        "q120_stream_assemble_sessions": f"""
            WITH o AS (
              SELECT conv_id, ts, turn_idx, text,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS brk
              FROM {tr}
              WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
            ), s AS (
              SELECT *, SUM(brk) OVER (
                PARTITION BY conv_id ORDER BY ts, turn_idx
              ) AS sess
              FROM o
            ), sessions AS (
              SELECT conv_id,
                     MIN(ts) AS session_start,
                     MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                     COUNT(*) AS n_turns,
                     string_agg(text, ' ' ORDER BY ts, turn_idx) AS text
              FROM s GROUP BY conv_id, sess
            )
            SELECT * FROM sessions
            WHERE session_end <= (SELECT MAX(ts) - INTERVAL 10 MINUTE FROM {tr})
        """,
        "q121_key_skew_stats": _duck_skew_sql(
            tr, "conv_id", SKEW_TOP_N, SKEW_PARTS
        ),
        "q122_stream_drift_monitor": f"""
            SELECT * FROM ({_duck_drift_sql(
                "documents",
                "lang",
                60_000_000,
                "TIMESTAMP '2026-01-01' + to_seconds(doc_id)",
            )}) m
            WHERE m.window_start + INTERVAL 1 MINUTE <=
                  (SELECT TIMESTAMP '2026-01-01' + to_seconds(max(doc_id))
                          - INTERVAL 30 SECOND
                   FROM documents)
        """,
        "q123_residual_leak_audit": f"""
            SELECT d.info_type,
                   COUNT(*) AS n_detections,
                   CAST(SUM(CASE WHEN d."end" > d.start
                                 AND strpos(t.text_tok,
                                 substring(r.text, d.start + 1,
                                           d."end" - d.start)) > 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
            FROM {det} d
            JOIN {tok} t USING (conv_id, turn_idx)
            JOIN {tr} r USING (conv_id, turn_idx)
            GROUP BY 1
        """,
        "q124_pack_utilization": _duck_pack_utilization_sql(
            "documents", target_tokens=PACK_UTIL_TOKENS
        ),
        "q125_stream_hot_keys": f"""
            SELECT * FROM ({_duck_hot_keys_sql(tr, "conv_id", HOT_KEY_MIN)}) m
            WHERE m.window_start + INTERVAL 1 HOUR <=
                  (SELECT max(ts) - INTERVAL 10 MINUTE FROM {tr})
        """,
        "q126_stream_centroid_drift": f"""
            SELECT * FROM ({_duck_centroid_drift_sql(
                "embeddings",
                "embedding",
                EMB_DIM,
                "TIMESTAMP '2026-01-01' + to_seconds(vec_id)",
            )}) m
            WHERE m.window_start + INTERVAL 1 MINUTE <=
                  (SELECT TIMESTAMP '2026-01-01' + to_seconds(max(vec_id))
                          - INTERVAL 30 SECOND
                   FROM embeddings)
        """,
        "q127_stream_oov_rate": f"""
            SELECT * FROM ({_duck_oov_sql(
                "documents",
                OOV_MIN_DF,
                OOV_TOP_K,
                "TIMESTAMP '2026-01-01' + to_seconds(doc_id)",
            )}) m
            WHERE m.window_start + INTERVAL 1 MINUTE <=
                  (SELECT TIMESTAMP '2026-01-01' + to_seconds(max(doc_id))
                          - INTERVAL 30 SECOND
                   FROM documents)
        """,
        "q128_stream_completeness": f"""
            WITH faulted AS (
              SELECT doc_id,
                     CASE WHEN doc_id % {NULL_TEXT_MOD} = 0 THEN NULL
                          ELSE text END AS text,
                     CASE WHEN doc_id % {NULL_LANG_MOD} = 0 THEN NULL
                          ELSE lang END AS lang,
                     TIMESTAMP '2026-01-01' + to_seconds(doc_id) AS ts
              FROM documents
            )
            SELECT * FROM ({_duck_completeness_sql(
                "faulted", ["text", "lang"]
            )}) m
            WHERE m.window_start + INTERVAL 1 MINUTE <=
                  (SELECT max(ts) - INTERVAL 30 SECOND FROM faulted)
        """,
        "q129_stream_dup_rate": f"""
            WITH feed AS (
              SELECT doc_id, text,
                     TIMESTAMP '2026-01-01' + to_seconds(doc_id) AS ts
              FROM documents
              UNION ALL
              SELECT doc_id, text,
                     TIMESTAMP '2026-01-01' + to_seconds(doc_id) AS ts
              FROM documents WHERE doc_id % {DUP_MOD} = 0
            )
            SELECT * FROM ({_duck_dup_rate_sql("feed")}) m
            WHERE m.window_start + INTERVAL 1 MINUTE <=
                  (SELECT max(ts) - INTERVAL 30 SECOND FROM feed)
        """,
        "q130_dp_histogram": _duck_dp_histogram_sql(),
        "q131_incremental_dataset_card": _duck_dataset_report_sql(),
        "q132_stream_dp_release": f"""
            SELECT * FROM ({_duck_dp_monitor_sql()}) m
            WHERE m.window_start + INTERVAL 1 MINUTE <=
                  (SELECT TIMESTAMP '2026-01-01' + to_seconds(max(doc_id))
                          - INTERVAL 30 SECOND
                   FROM documents)
        """,
        "q133_token_scope_audit": _duck_token_scope_audit_sql(det, tr),
        "q134_stream_token_scope_monitor": f"""
            WITH joined AS (
              SELECT d.ts, d.info_type,
                     md5(substr(t.text, d.start + 1, d."end" - d.start))
                       AS value_hash,
                     d.conv_id AS scope, d.token
              FROM {det} d JOIN {tr} t USING (conv_id, turn_idx)
            ), feed AS (
              SELECT * FROM joined
              UNION ALL
              SELECT ts, info_type, value_hash, scope || '#shadow', token
              FROM joined
              WHERE substr(md5(scope), 1, 1) IN {TSM_ISO_DIGITS!r}
              UNION ALL
              SELECT ts, info_type, value_hash, scope,
                     md5(token || ':retry')
              FROM joined
              WHERE substr(md5(scope), 1, 1) IN {TSM_CON_DIGITS!r}
            )
            SELECT * FROM ({_duck_token_scope_monitor_sql("feed")}) m
            WHERE m.window_start + INTERVAL 1 MINUTE <=
                  (SELECT max(ts) - INTERVAL 30 SECOND FROM feed)
        """,
        # blocking-free O(n^2) twin: hash equality proves the Spark
        # side's prefix/suffix pigeonhole blocking loses no pair
        "q135_entity_link_pairs": f"""
            WITH names0 AS (
              SELECT DISTINCT trim(regexp_replace(lower(
                       substr(t.text, d.start + 1, d."end" - d.start)
                     ), '\\s+', ' ', 'g')) AS name
              FROM read_parquet('{dd}/detections_ext.parquet') d
              JOIN read_parquet('{dd}/transcripts_ext.parquet') t
                USING (conv_id, turn_idx)
              WHERE d.info_type = 'PERSON_NAME'
            ), noised AS (
              SELECT trim(regexp_replace(lower(
                       substr(name, 1, (length(name) + 1) // 2 - 1)
                       || substr(name, (length(name) + 1) // 2 + 1)
                     ), '\\s+', ' ', 'g')) AS name
              FROM names0 WHERE length(name) > 1
            ), mentions AS (
              SELECT name FROM names0 WHERE length(name) > 0
              UNION
              SELECT name FROM noised WHERE length(name) > 0
            )
            SELECT a.name AS name_a, b.name AS name_b,
                   levenshtein(a.name, b.name)::INT AS dist
            FROM mentions a JOIN mentions b ON a.name < b.name
            WHERE levenshtein(a.name, b.name) <= 1
        """,
        "q136_subject_access_map": f"""
            SELECT trim(regexp_replace(lower(
                     substr(t.text, d.start + 1, d."end" - d.start)
                   ), '\\s+', ' ', 'g')) AS identity,
                   count(DISTINCT d.conv_id) AS n_convs,
                   count(*) AS n_mentions,
                   list_sort(list(DISTINCT d.conv_id)) AS convs,
                   min(d.ts) AS first_seen,
                   max(d.ts) AS last_seen
            FROM read_parquet('{dd}/detections_ext.parquet') d
            JOIN read_parquet('{dd}/transcripts_ext.parquet') t
              USING (conv_id, turn_idx)
            WHERE d.info_type = 'EMAIL_ADDRESS'
            GROUP BY 1
        """,
        "q137_stream_erasure_propagation": f"""
            WITH idx AS (
              SELECT DISTINCT trim(regexp_replace(lower(
                       substr(t.text, d.start + 1, d."end" - d.start)
                     ), '\\s+', ' ', 'g')) AS identity,
                     d.conv_id
              FROM read_parquet('{dd}/detections_ext.parquet') d
              JOIN read_parquet('{dd}/transcripts_ext.parquet') t
                USING (conv_id, turn_idx)
              WHERE d.info_type = 'EMAIL_ADDRESS'
            ), erased AS (
              SELECT DISTINCT conv_id FROM idx
              WHERE substr(md5(identity), 1, 1) IN {ERASE_DIGITS!r}
            )
            SELECT t.conv_id, t.turn_idx, t.text
            FROM read_parquet('{dd}/transcripts_ext.parquet') t
            WHERE t.conv_id NOT IN (SELECT conv_id FROM erased)
        """,
        # recursive-CTE reachability over the brute-forced edge set:
        # checks blocking completeness AND the transitive closure
        "q138_entity_clusters": f"""
            WITH RECURSIVE names0 AS (
              SELECT DISTINCT trim(regexp_replace(lower(
                       substr(t.text, d.start + 1, d."end" - d.start)
                     ), '\\s+', ' ', 'g')) AS name
              FROM read_parquet('{dd}/detections_ext.parquet') d
              JOIN read_parquet('{dd}/transcripts_ext.parquet') t
                USING (conv_id, turn_idx)
              WHERE d.info_type = 'PERSON_NAME'
            ), noised AS (
              SELECT trim(regexp_replace(lower(
                       substr(name, 1, (length(name) + 1) // 2 - 1)
                       || substr(name, (length(name) + 1) // 2 + 1)
                     ), '\\s+', ' ', 'g')) AS name
              FROM names0 WHERE length(name) > 1
            ), mentions AS (
              SELECT name FROM names0 WHERE length(name) > 0
              UNION
              SELECT name FROM noised WHERE length(name) > 0
            ), edges AS (
              SELECT a.name AS a, b.name AS b
              FROM mentions a JOIN mentions b ON a.name < b.name
              WHERE levenshtein(a.name, b.name) <= 1
            ), sym AS (
              SELECT a AS src, b AS dst FROM edges
              UNION ALL
              SELECT b AS src, a AS dst FROM edges
            ), reach(id, r) AS (
              SELECT name, name FROM mentions
              UNION
              SELECT s.src, r.r FROM sym s JOIN reach r ON r.id = s.dst
            )
            SELECT id AS name, min(r) AS canon FROM reach GROUP BY id
        """,
        "q139_stream_entity_match": f"""
            WITH catalog AS (
              SELECT DISTINCT trim(regexp_replace(lower(
                       substr(t.text, d.start + 1, d."end" - d.start)
                     ), '\\s+', ' ', 'g')) AS name
              FROM read_parquet('{dd}/detections_ext.parquet') d
              JOIN read_parquet('{dd}/transcripts_ext.parquet') t
                USING (conv_id, turn_idx)
              WHERE d.info_type = 'PERSON_NAME'
            ), feed0 AS (
              SELECT DISTINCT trim(regexp_replace(lower(
                       substr(name, 1, (length(name) + 1) // 2 - 1)
                       || substr(name, (length(name) + 1) // 2 + 1)
                     ), '\\s+', ' ', 'g')) AS mention
              FROM catalog WHERE length(name) > 1
            ), feed AS (
              SELECT mention,
                     TIMESTAMP '2026-01-01' + to_seconds(
                       5 * (row_number() OVER (ORDER BY mention) - 1)
                     ) AS ts
              FROM feed0 WHERE length(mention) > 0
            ), matches AS (
              SELECT make_timestamp((epoch_us(f.ts) // 60000000)
                       * 60000000) AS window_start,
                     f.mention, c.name AS matched_name,
                     levenshtein(f.mention, c.name)::INT AS dist
              FROM feed f JOIN catalog c
                ON levenshtein(f.mention, c.name) <= 1
            )
            SELECT DISTINCT window_start, mention, matched_name, dist
            FROM matches
            WHERE window_start + INTERVAL 1 MINUTE <=
                  (SELECT max(ts) - INTERVAL 30 SECOND FROM feed)
        """,
        "q140_conversation_near_dups": _duck_conversation_near_dups_sql(
            _relog_fixture_sql(tr)
        ),
        "q141_conversation_dedup": _duck_conversation_dedup_sql(
            _relog_fixture_sql(tr)
        ),
        "q142_stream_session_gate": _duck_session_gate_sql(tr),
        "q143_tool_call_stats": _duck_tool_call_stats_sql(
            f"SELECT * FROM {tr}"
        ),
        "q144_tool_bigrams": _duck_tool_bigrams_sql(f"SELECT * FROM {tr}"),
        "q145_trajectory_flags": _duck_trajectory_flags_sql(
            f"SELECT * FROM {tr}", loop_threshold=3
        ),
        "q146_stream_trajectory_gate": _duck_trajectory_gate_sql(tr),
        "q147_tool_latency_monitor": _duck_tool_latency_sql(tr),
        "q148_conversation_windows": _duck_conversation_windows_sql(tr),
        "q149_stream_conversation_windows": _duck_conversation_windows_sql(
            tr, cap_trailing=False
        ),
        "q150_assemble_windows": _duck_assemble_windows_sql(tr),
    }
