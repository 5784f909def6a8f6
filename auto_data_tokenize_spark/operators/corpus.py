"""Corpus-assembly operators for training-data pipelines: deterministic
dataset splits and sequence packing.

No reference counterpart (auto-data-tokenize stops at PII); these are
the last-mile ops between a deduplicated corpus and a training run.
Both are pure JVM expressions with verbatim DuckDB twins, so the
driver gate checks them exactly.

Scale notes:
- ``split_assign`` is a narrow projection — zero shuffles, trivially
  100 TB-safe, and stable: membership depends only on (seed, id), so
  re-runs, backfills, and late-arriving shards land in the same split.
- ``pack_sequences`` is one window shuffle on the partition columns.
  Packing is inherently order-dependent, so at scale the partition
  key must bound partition size: pack per (lang, shard) — any
  deterministic sharding works since sequences never cross partition
  boundaries anyway. The default partitions by lang alone, which is
  correct at any scale but concentrates a 100 TB monolingual corpus
  onto few tasks; pass ``part_cols=["lang", "shard"]`` there.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

# Split membership hashes through the same md5-hex-prefix construction
# as the minhash base hash (operators/dedup.py): portable signed-64
# arithmetic both engines compute bit-identically.
SPLIT_BUCKETS = 10_000


def _bucket_expr(id_col: str, seed: str) -> str:
    from auto_data_tokenize_spark.functions.xengine import spark_md5_prefix

    inner = f"concat('{seed}', ':', cast({id_col} as string))"
    return f"{spark_md5_prefix(inner)} % {SPLIT_BUCKETS}"


def _duck_bucket_expr(id_col: str, seed: str) -> str:
    from auto_data_tokenize_spark.functions.xengine import duckdb_md5_prefix

    inner = f"'{seed}' || ':' || {id_col}::VARCHAR"
    return f"({duckdb_md5_prefix(inner)} % {SPLIT_BUCKETS})"


def _boundaries(weights: dict[str, float]) -> list[tuple[str, int]]:
    """Cumulative integer bucket boundaries, largest split last so
    rounding slack lands there deterministically."""
    total = sum(weights.values())
    cum, out = 0.0, []
    for name, w in weights.items():
        cum += w / total
        out.append((name, min(int(round(cum * SPLIT_BUCKETS)), SPLIT_BUCKETS)))
    out[-1] = (out[-1][0], SPLIT_BUCKETS)
    return out


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    seed: str = "adt-split-v1",
) -> DataFrame:
    """Deterministic train/val/test assignment by hashed id bucket.

    bucket = md5-prefix(seed:id) mod 10000; split = the first weight
    boundary the bucket falls under. Membership is a pure function of
    (seed, id): adding data never reshuffles existing assignments, and
    two jobs with the same seed agree without coordination.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    b = F.expr(_bucket_expr(id_col, seed))
    expr = None
    for name, hi in _boundaries(weights):
        cond = b < hi
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("bucket", b).withColumn("split", expr)


def duckdb_split_sql(
    table: str,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    seed: str = "adt-split-v1",
) -> str:
    """DuckDB twin of ``split_assign`` (same buckets, same boundaries)."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    b = _duck_bucket_expr(id_col, seed)
    cases = " ".join(
        f"WHEN b < {hi} THEN '{name}'" for name, hi in _boundaries(weights)
    )
    return f"""
        SELECT * EXCLUDE (b), b AS bucket, CASE {cases} END AS split
        FROM (SELECT *, {b} AS b FROM {table}) t
    """


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_tokens: int = 512,
    part_cols: list[str] | None = None,
) -> DataFrame:
    """Concat-and-chop sequence packing (the standard LLM-pretraining
    shape): within each partition, documents are laid out in id order
    and the token stream is chopped into ``target_tokens`` sequences.
    A document's pack_id is the sequence its first token lands in;
    offset is its start position within the partition's stream.

    Deterministic and exactly SQL-expressible: one running-sum window
    per partition — Spark does partial aggregation per task and a
    single shuffle on the partition columns.
    """
    from auto_data_tokenize_spark.operators.textstats import ws_tokens_expr

    part_cols = part_cols or ["lang"]
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tok = ws_tokens_expr(text_col)
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("_cum", F.sum("n_tokens").over(w))
        .withColumn("offset", F.col("_cum") - F.col("n_tokens"))
        .withColumn(
            "pack_id", F.floor(F.col("offset") / F.lit(target_tokens))
        )
        .drop("_cum")
    )


def duckdb_pack_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_tokens: int = 512,
    part_cols: list[str] | None = None,
) -> str:
    """DuckDB twin of ``pack_sequences`` (same ordering, same chop).
    The projection is derived from id_col/part_cols so non-default
    parameters stay valid SQL."""
    from auto_data_tokenize_spark.operators.textstats import duckdb_ws_tokens_sql

    part_cols = part_cols or ["lang"]
    part = ", ".join(part_cols)
    cols = ", ".join(dict.fromkeys([id_col, *part_cols]))
    return f"""
        WITH t AS (
          SELECT {cols},
                 {duckdb_ws_tokens_sql(text_col)} AS n_tokens
          FROM {table}
        ),
        c AS (
          SELECT *,
                 CAST(sum(n_tokens) OVER (PARTITION BY {part} ORDER BY {id_col}
                                          ROWS UNBOUNDED PRECEDING) - n_tokens
                      AS BIGINT) AS "offset"
          FROM t
        )
        SELECT *, CAST("offset" // {target_tokens} AS BIGINT) AS pack_id FROM c
    """


def pack_sequences_stream(
    stream_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_tokens: int = 512,
    part_col: str = "lang",
):
    """Streaming concat-and-chop packing: the per-partition token
    stream CONTINUES across micro-batches — state (one long per
    partition key) carries the next start offset, so an append-log
    ingest packs identically to the batch operator run over the same
    ordered corpus.

    Ordering contract: packing is order-dependent, so the stream must
    deliver each partition's documents in id order (the append-log /
    ordered-file-drop shape; within a micro-batch the operator sorts
    by id). Under that contract the output is invariant to micro-batch
    slicing — pinned by test against the batch twin.

    Scale notes: state is ONE integer per partition key (bounded by
    key cardinality, not data volume); each micro-batch does one
    shuffle on the key, the same shape as the batch window. The token
    count is computed by the SAME JVM expression as the batch operator
    and the SQL twin (``ws_tokens_expr``) BEFORE the stateful step —
    the Python side only does the offset cumsum, so the two paths
    cannot diverge on tokenization (Unicode whitespace, edge-empty
    splits, null text all behave identically by construction).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from auto_data_tokenize_spark.operators.textstats import ws_tokens_expr

    out_schema = (
        f"{part_col} string, {id_col} long, n_tokens integer, "
        "offset long, pack_id long"
    )

    def fn(key, pdfs, state: GroupState):
        off = state.get[0] if state.exists else 0
        frames = [p for p in pdfs if len(p)]
        if not frames:
            state.update((int(off),))
            return
        rows = pd.concat(frames).sort_values(id_col)
        n_tok = rows["n_tokens"].astype("int64")
        starts = off + n_tok.cumsum() - n_tok
        state.update((int(off + int(n_tok.sum())),))
        yield pd.DataFrame(
            {
                part_col: key[0],
                id_col: rows[id_col].to_numpy(),
                "n_tokens": n_tok.astype("int32").to_numpy(),
                "offset": starts.to_numpy(),
                "pack_id": (starts // target_tokens).to_numpy(),
            }
        )

    return (
        stream_df.select(
            part_col, id_col, ws_tokens_expr(text_col).alias("n_tokens")
        )
        .groupBy(part_col)
        .applyInPandasWithState(
            fn, out_schema, "off long", "append", GroupStateTimeout.NoTimeout
        )
    )


def _duck_shingles_sql(src: str, k: int) -> str:
    """The ONE DuckDB twin of ``dedup.word_shingles`` used by every
    decontamination/contamination oracle in this module (it was
    triplicated; the word_shingles NULL-contract fix is exactly the
    class of drift a shared fragment prevents). NULL text: the NULL
    split makes ``g`` an empty list, so unnest emits zero rows — the
    same no-participation contract as the Spark side."""
    return f"""
          SELECT doc_id,
                 list_distinct(list_transform(
                     range(0, greatest(len(w) - {k}, 0) + 1),
                     i -> array_to_string(list_slice(w, i + 1, i + {k}), ' ')
                 )) AS g
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
                FROM ({src}) src)
        """


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Eval-set decontamination: flag corpus documents that share at
    least one distinct k-word shingle with any held-out evaluation
    document (the standard pre-training hygiene step — GPT-3 appendix C
    / PaLM-style n-gram overlap, over the same shingle construction as
    the dedup stack). Output: (id, n_hit_shingles, contaminated).

    100 TB shape: an eval/benchmark suite is megabytes while the corpus
    is the 100 TB side, so the eval shingle set is explicitly
    ``broadcast`` — the corpus side streams through a scan → shingle
    explode → broadcast hash semi-join with NO corpus-wide shuffle
    except the final per-doc count aggregation (map-side partial). The
    left join back to the id spine keeps clean documents with a zero
    count instead of dropping them silently.
    """
    from pyspark.sql import functions as FF
    from auto_data_tokenize_spark.operators.dedup import word_shingles

    ev = (
        word_shingles(eval_df, text_col, k, out_col="_g")
        .select(FF.explode_outer(FF.array_distinct("_g")).alias("_s"))
        .distinct()
    )
    cg = word_shingles(df, text_col, k, out_col="_g").select(
        id_col, FF.explode_outer(FF.array_distinct("_g")).alias("_s")
    )
    hits = (
        cg.join(FF.broadcast(ev), "_s")
        .groupBy(id_col)
        .agg(FF.count(FF.lit(1)).alias("_n"))
    )
    n_hits = FF.coalesce(FF.col("_n"), FF.lit(0).cast("long"))
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            n_hits.alias("n_hit_shingles"),
            (n_hits > 0).alias("contaminated"),
        )
    )


def duckdb_decontaminate_sql(
    corpus_sql: str, eval_sql: str, k: int = 5
) -> str:
    """DuckDB twin of ``decontaminate``: both inputs are SELECTs
    yielding (doc_id, text); the shingle construction mirrors
    ``word_shingles`` exactly (slice of lowercased whitespace split)."""

    return f"""
        WITH ev AS (
          SELECT DISTINCT unnest(g) AS s FROM ({_duck_shingles_sql(eval_sql, k)}) e
        ),
        cg AS (SELECT doc_id, unnest(g) AS s FROM ({_duck_shingles_sql(corpus_sql, k)}) c),
        h AS (
          SELECT cg.doc_id, count(*) AS n FROM cg JOIN ev USING (s) GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(coalesce(h.n, 0) AS BIGINT) AS n_hit_shingles,
               coalesce(h.n, 0) > 0 AS contaminated
        FROM (SELECT doc_id FROM ({corpus_sql}) c2) d
        LEFT JOIN h USING (doc_id)
    """


class DecontaminationGate:
    """Streaming ingest-time eval-set decontamination: flag an arriving
    document BEFORE it lands in the corpus when it shares a k-word
    shingle with the held-out evaluation suite — the continuous twin of
    :func:`decontaminate` and the same lifecycle/plan pattern as
    ``dedup.NearDupGate``.

        with DecontaminationGate(eval_df) as gate:
            hits = gate.apply(incoming_stream)   # (id, shingle) pairs
            ... run the stream ...

    100 TB shape: the eval suite is megabytes while the ingest stream
    is unbounded, so the distinct eval shingle set is persisted once
    and **broadcast** into every micro-batch; the stream side is a
    stateless per-row shingle projection → explode → broadcast hash
    join (no watermark, no state store, no stream-side shuffle beyond
    the initial repartition that spreads a single staged file across
    cores). Output is the exact (id, shingle) hit pairs — strictly
    more information than a per-doc flag, and aggregation-free so the
    gate stays stateless; count/flag summaries are one batch groupBy
    over the committed output.
    """

    def __init__(
        self,
        eval_df: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 5,
    ):
        from auto_data_tokenize_spark.operators.dedup import word_shingles

        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        ev = (
            word_shingles(eval_df, text_col, k, out_col="_g")
            .select(F.explode_outer(F.array_distinct("_g")).alias("shingle"))
            .distinct()
        )
        self._persisted = not eval_df.isStreaming
        if self._persisted:
            ev = ev.persist()
        self.eval_shingles = ev

    def apply(self, incoming: DataFrame) -> DataFrame:
        from auto_data_tokenize_spark.operators.dedup import word_shingles

        parallelism = incoming.sparkSession.sparkContext.defaultParallelism
        incoming = incoming.repartition(parallelism)
        pairs = word_shingles(incoming, self.text_col, self.k, out_col="_g").select(
            self.id_col, F.explode_outer(F.array_distinct("_g")).alias("shingle")
        )
        return pairs.join(F.broadcast(self.eval_shingles), "shingle").select(
            self.id_col, "shingle"
        )

    def close(self) -> None:
        if self._persisted:
            self.eval_shingles.unpersist()
            self._persisted = False

    def __enter__(self) -> "DecontaminationGate":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def duckdb_decontaminate_hits_sql(
    corpus_sql: str, eval_sql: str, k: int = 5
) -> str:
    """DuckDB twin of ``DecontaminationGate.apply``: the distinct
    (doc_id, shingle) hit pairs (shared shingle construction with
    :func:`duckdb_decontaminate_sql`)."""

    return f"""
        WITH ev AS (
          SELECT DISTINCT unnest(g) AS shingle FROM ({_duck_shingles_sql(eval_sql, k)}) e
        ),
        cg AS (
          SELECT doc_id, unnest(g) AS shingle FROM ({_duck_shingles_sql(corpus_sql, k)}) c
        )
        SELECT cg.doc_id, cg.shingle FROM cg JOIN ev USING (shingle)
    """


def mix_sources(
    df: DataFrame,
    rates: dict[str, float],
    id_col: str = "doc_id",
    source_col: str = "source",
    seed: str = "adt-mix-v1",
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic per-source downsampling to target mixture rates —
    the static domain-reweighting step of corpus assembly (keep
    fraction r of each source, Pile/DoReMi-style fixed weights): a doc
    survives iff md5-bucket(seed:id) < rate(source)·10000.

    Pure projection + filter — ZERO shuffles at any scale — and stable:
    survival depends only on (seed, id, source), so backfills and
    re-runs keep exactly the same documents, and rate changes are
    monotone (raising a source's rate only ADDS documents; the kept
    set at rate r is a subset of the kept set at r' > r). Unknown
    sources fall back to ``default_rate``.
    """
    for src, r in {**rates, "<default_rate>": default_rate}.items():
        if not 0.0 <= float(r) <= 1.0:
            # a typo like rate=35 (meaning 35%) would otherwise
            # silently keep 100%; negatives would silently drop all
            raise ValueError(
                f"rate for {src!r} must be in [0, 1], got {r!r}"
            )
    b = F.expr(_bucket_expr(id_col, seed))
    thr = None
    for src, r in rates.items():
        t = int(round(r * SPLIT_BUCKETS))
        cond = F.col(source_col) == src
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    thr = (
        thr.otherwise(int(round(default_rate * SPLIT_BUCKETS)))
        if thr is not None
        else F.lit(int(round(default_rate * SPLIT_BUCKETS)))
    )
    return df.filter(b < thr)


def duckdb_mix_sql(
    table: str,
    rates: dict[str, float],
    id_col: str = "doc_id",
    source_col: str = "source",
    seed: str = "adt-mix-v1",
    default_rate: float = 1.0,
) -> str:
    """DuckDB twin of ``mix_sources`` (same buckets, same thresholds;
    source names SQL-escaped, empty rates valid — matching the Spark
    side's handling of both edges)."""
    b = _duck_bucket_expr(id_col, seed)
    default = int(round(default_rate * SPLIT_BUCKETS))
    if not rates:
        return f"SELECT * FROM {table} WHERE {b} < {default}"
    cases = " ".join(
        f"WHEN {source_col} = '{src.replace(chr(39), chr(39) * 2)}' "
        f"THEN {int(round(r * SPLIT_BUCKETS))}"
        for src, r in rates.items()
    )
    return f"""
        SELECT * FROM {table}
        WHERE {b} < (CASE {cases} ELSE {default} END)
    """


def pii_density_gate(
    docs: DataFrame,
    detections: DataFrame,
    key_cols: list[str] | None = None,
    text_col: str = "text",
    max_per_1k_tokens: float = 50.0,
) -> DataFrame:
    """PII-density corpus gate: keep only documents whose validated
    PII findings per 1 000 whitespace tokens stay at or under the
    threshold — the filter that sits between the identify stage and
    corpus assembly, catching documents so saturated with personal
    data that masking them would destroy most of their content
    (standard web-corpus practice; the detectors are this engine's
    own identify output).

    ``docs`` carries the text (one row per key tuple after any
    upstream per-turn explode); ``detections`` carries one row per
    validated finding with the same key columns. Output: the key
    columns + ``n_pii, n_tokens, pii_per_1k`` (rounded to 6) +
    ``passes``, one row per input document, so downstream stages can
    either filter on ``passes`` or audit the rejected tail.

    Scale shape: one map-side-partial groupBy per side reduces both
    inputs to per-document scalars before the key-equi join; nothing
    wider than (key, two longs) ever shuffles, and the text column
    never leaves its scan stage.
    """
    keys = key_cols or ["doc_id"]
    missing = [c for c in keys if c not in docs.columns]
    if missing:
        raise ValueError(f"key columns not in docs: {missing}")
    if max_per_1k_tokens < 0:
        raise ValueError("max_per_1k_tokens must be >= 0")
    from auto_data_tokenize_spark.operators.textstats import ws_tokens_expr

    toks = docs.groupBy(*keys).agg(
        F.sum(ws_tokens_expr(text_col)).cast("long").alias("n_tokens")
    )
    pii = detections.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_pii")
    )
    joined = toks.join(pii, on=keys, how="left")
    density = (
        F.coalesce(F.col("n_pii"), F.lit(0))
        * F.lit(1000.0)
        / F.greatest(F.col("n_tokens"), F.lit(1))
    )
    return joined.select(
        *keys,
        F.coalesce(F.col("n_pii"), F.lit(0)).cast("long").alias("n_pii"),
        "n_tokens",
        F.round(density, 6).alias("pii_per_1k"),
        (F.round(density, 6) <= F.lit(max_per_1k_tokens)).alias("passes"),
    )


def stratified_sample(
    docs: DataFrame,
    strata: list[str],
    n_per_stratum: int = 20,
    id_col: str = "doc_id",
    seed: str = "adt-strat-v1",
) -> DataFrame:
    """Deterministic stratified sample: the ``n_per_stratum`` documents
    per stratum that sort FIRST by ``md5(seed:id)`` — a seed-keyed but
    otherwise stable order, so the sample is reproducible across runs,
    cluster layouts, and corpus subsets (a doc's membership never
    depends on which other docs share its partition, unlike
    ``df.sampleBy``'s rand()). The eval-slice / human-inspection /
    audit-sample op of a corpus release.

    Scale: one shuffle on the stratum key; the per-stratum window
    ranks within bounded groups (no global sort). For heavily skewed
    strata, pre-aggregate with a (stratum, salt) two-phase top-k; at
    n_per_stratum ≪ stratum size the single window is the right plan.
    """
    order_key = F.md5(
        F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(*strata).orderBy(order_key, F.col(id_col))
    return (
        docs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def duckdb_stratified_sample_sql(
    table: str,
    strata: list[str],
    n_per_stratum: int = 20,
    id_col: str = "doc_id",
    seed: str = "adt-strat-v1",
) -> str:
    """DuckDB twin of :func:`stratified_sample`."""
    keys = ", ".join(strata)
    return f"""
        SELECT * EXCLUDE (_rk) FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY {keys}
                   ORDER BY md5('{seed}' || ':' || {id_col}::VARCHAR), {id_col}
                 ) AS _rk
          FROM {table}
        ) WHERE _rk <= {n_per_stratum}
    """


# the whitespace CLASS is spelled out, never \s: Java's \s includes
# \x0b (vertical tab) while RE2's does not — hypothesis found the fork
# on '0\x0b0' (Spark '0 0' vs DuckDB '00'); an explicit class is the
# only spelling both engines read identically
_NORM_WS = r" \t\n\x0B\f\r"
_NORM_PUNCT_RE = rf"[^a-z0-9{_NORM_WS}]"
_NORM_WS_RE = rf"[{_NORM_WS}]+"


def normalized_text_expr(text_col: str) -> "F.Column":
    """The cross-engine normalization contract for dedup keys:
    lowercase → strip non-alphanumerics → collapse whitespace → trim.
    ASCII-scoped, explicitly-spelled character classes so Spark (Java
    regex) and DuckDB (RE2) agree byte-for-byte; both \\s and
    Unicode-category classes differ between the engines and silently
    fork the key space."""
    lowered = F.lower(F.col(text_col))
    stripped = F.regexp_replace(lowered, _NORM_PUNCT_RE, "")
    return F.trim(F.regexp_replace(stripped, _NORM_WS_RE, " "))


def duckdb_normalized_text_sql(text_col: str) -> str:
    """DuckDB twin of :func:`normalized_text_expr` (same explicit
    classes; RE2 reads the backslash escapes from the SQL literal)."""
    return (
        f"trim(regexp_replace(regexp_replace(lower({text_col}),"
        f" '{_NORM_PUNCT_RE}', '', 'g'), '{_NORM_WS_RE}', ' ', 'g'))"
    )


def normalized_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Normalization-keyed exact dedup: collapse documents whose texts
    are byte-identical AFTER :func:`normalized_text_expr` (case /
    punctuation / whitespace variants), keeping the smallest id per
    key — the standard cheap pre-pass before MinHash near-dup in
    C4/RefinedWeb-style corpus prep (removes the trivial duplicate
    mass so the LSH stage shuffles less).

    Scale: a pure codegen normalization projection, then ONE groupBy
    shuffle on md5(normalized) with map-side partial aggregation —
    min() and count() are duplicate-insensitive, so the result is
    independent of partitioning and arrival order."""
    key = F.md5(normalized_text_expr(text_col))
    return (
        docs.select(F.col(id_col), key.alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).cast("long").alias("n_dupes"),
        )
        .select(id_col, "norm_hash", "n_dupes")
    )


def temperature_rates(
    df: DataFrame,
    budget_num: int = 1,
    budget_den: int = 2,
    source_col: str = "source",
) -> dict[str, float]:
    """Temperature-based mixture rates (the multilingual-sampling rule
    of Conneau & Lample 2019, alpha = 0.5): source s gets an expected
    share proportional to sqrt(count_s), realized as a per-source keep
    rate against a total budget of ``budget_num/budget_den`` of the
    corpus, capped at 1. Feed the result straight to
    :func:`mix_sources` — together they are the "size-temperature"
    reweighting step of corpus assembly (upsamples tail sources
    relative to raw proportions without duplicating documents).

    Everything after the per-source counts is EXACT integer
    arithmetic, chosen so the DuckDB twin
    (:func:`duckdb_temperature_mix_sql`) reproduces the thresholds
    bit-for-bit: sqrt is IEEE correctly-rounded in both engines, it is
    quantized to integer micro-units BEFORE summing (integer sums are
    order-free; double sums are not), and the final threshold is one
    floor division. Thresholds are integer 1/10000 buckets, the same
    grid ``mix_sources`` quantizes to, so the returned floats
    round-trip exactly.

    Scale: one partial-agg groupBy; the driver holds only the
    per-source count list (bounded by the source vocabulary, like the
    IVF centroid summary). Python integers are unbounded, so the
    driver-side math cannot overflow at any corpus size (the SQL twin
    notes its BIGINT headroom)."""
    import math

    if budget_num < 0 or budget_den <= 0:
        raise ValueError("budget must be a non-negative rational p/q, q > 0")
    counts = {
        r["src"]: r["cnt"]
        for r in df.groupBy(F.col(source_col).alias("src"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    if None in counts:
        # mix_sources can never apply a NULL-keyed rate (its when-chain
        # condition `col == NULL` is never true), so NULL-source docs
        # would silently fall to default_rate while still inflating the
        # budget and the sqrt-weight denominators — and the SQL twin's
        # inner join would drop them instead. Fail fast.
        raise ValueError(
            f"{source_col} contains NULLs ({counts[None]} docs); assign "
            "an explicit source (or filter) before temperature mixing"
        )
    if not counts:
        return {}
    sw = {s: int(math.floor(math.sqrt(c) * 1_000_000)) for s, c in counts.items()}
    ssw = sum(sw.values())
    total = sum(counts.values())
    budget = (total * budget_num) // budget_den
    return {
        s: min(
            SPLIT_BUCKETS,
            (budget * SPLIT_BUCKETS * sw[s]) // (counts[s] * ssw),
        )
        / float(SPLIT_BUCKETS)
        for s in counts
    }


def duckdb_temperature_mix_sql(
    table: str,
    budget_num: int = 1,
    budget_den: int = 2,
    id_col: str = "doc_id",
    source_col: str = "source",
    seed: str = "adt-mix-v1",
) -> str:
    """DuckDB twin of ``mix_sources(df, temperature_rates(df, ...))``:
    recomputes the same integer micro-unit thresholds and the same
    md5-bucket survival rule in one statement. BIGINT products here
    hold to ~9e18 (budget × 10000 × sw); beyond that cast the
    threshold arithmetic to HUGEINT — the Spark side computes it in
    unbounded Python integers either way."""
    b = _duck_bucket_expr(id_col, seed)
    return f"""
        WITH _cnts AS (
          SELECT {source_col} AS _src, CAST(count(*) AS BIGINT) AS _cnt
          FROM {table} GROUP BY 1
        ),
        _w AS (
          SELECT _src, _cnt,
                 CAST(floor(sqrt(_cnt) * 1000000) AS BIGINT) AS _sw
          FROM _cnts
        ),
        _tot AS (
          SELECT CAST(sum(_sw) AS BIGINT) AS _ssw,
                 CAST(sum(_cnt) AS BIGINT) AS _total
          FROM _w
        ),
        _thr AS (
          SELECT _src,
                 least(
                   {SPLIT_BUCKETS},
                   (((_total * {int(budget_num)}) // {int(budget_den)})
                    * {SPLIT_BUCKETS} * _sw) // (_cnt * _ssw)
                 ) AS _t
          FROM _w, _tot
        )
        SELECT t.*
        FROM {table} t JOIN _thr ON t.{source_col} = _thr._src
        WHERE {b} < _t
    """


def take_token_budget(
    df: DataFrame,
    budget_tokens: int,
    key_col: str = "lang",
    order_col: str = "n_chars",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-key token-budget sampling — "take the best N tokens per
    language/source", the deterministic mixture-building primitive
    (Llama/GPT-style data recipes quote per-source token budgets, not
    document counts). Documents are taken in (``order_col`` DESC,
    id ASC) priority order — a total order, so the cut is
    deterministic — while the running whitespace-token total stays
    within ``budget_tokens``; the budget-crossing document is EXCLUDED
    (``cum_tokens <= budget``), so each key emits at most
    ``budget_tokens`` tokens. Token counts use the shared
    ``textstats.ws_tokens_expr`` contract.

    Output: (id, key, n_tokens, cum_tokens).

    100 TB shape: ONE window shuffle on the key (the domain_cap
    pattern) — per-key sort, no global order anywhere; the token count
    is a pure projection. Twin: :func:`duckdb_token_budget_sql`.
    """
    if budget_tokens < 1:
        raise ValueError(f"budget_tokens must be >= 1, got {budget_tokens}")
    from auto_data_tokenize_spark.operators.textstats import ws_tokens_expr

    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(order_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # NULL text counts as 0 tokens, explicitly on BOTH engines: a NULL
    # n_tokens would be skipped by the window SUM (admitting the doc
    # "for free" with an undefined count) — 0 keeps the admit
    # semantics identical and the output total exact.
    toks = df.select(
        id_col,
        key_col,
        order_col,
        F.coalesce(
            ws_tokens_expr(text_col).cast("long"), F.lit(0).cast("long")
        ).alias("n_tokens"),
    )
    return (
        toks.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w).cast("long")
        )
        .where(F.col("cum_tokens") <= F.lit(int(budget_tokens)))
        .select(id_col, key_col, "n_tokens", "cum_tokens")
    )


def duckdb_token_budget_sql(
    src_sql: str,
    budget_tokens: int,
    key_col: str = "lang",
    order_col: str = "n_chars",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`take_token_budget` (token rule =
    ``textstats.duckdb_ws_tokens_sql``, NULL text coalesced to 0 like
    the Spark side)."""
    from auto_data_tokenize_spark.operators.textstats import (
        duckdb_ws_tokens_sql,
    )

    return f"""
        WITH _t AS (
          SELECT {id_col}, {key_col}, {order_col},
                 CAST(coalesce({duckdb_ws_tokens_sql("text")}, 0)
                      AS BIGINT) AS n_tokens
          FROM ({src_sql}) src
        ),
        _c AS (
          SELECT *,
                 CAST(SUM(n_tokens) OVER (
                        PARTITION BY {key_col}
                        ORDER BY {order_col} DESC, {id_col} ASC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
          FROM _t
        )
        SELECT {id_col}, {key_col}, n_tokens, cum_tokens
        FROM _c WHERE cum_tokens <= {int(budget_tokens)}
    """


def contamination_report(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-EVAL-document contamination scores — the reverse direction
    of :func:`decontaminate`: for each held-out evaluation document,
    the fraction of its distinct k-word shingles present ANYWHERE in
    the corpus (GPT-3 appendix C reports exactly this per-benchmark
    "dirtiness"; q53 flags corpus docs, this scores the benchmark).
    Output: (id, n_shingles, n_hit, contaminated_frac) — frac rounded
    to 6 dp (cross-engine float contract), 0.0 for docs too short to
    shingle.

    100 TB shape: the corpus side is scan → shingle explode →
    semi-join against the BROADCAST eval-shingle universe → distinct;
    its output is bounded by the EVAL universe (megabytes), not the
    corpus, and that bounded present-set broadcasts back onto the
    per-eval-doc shingle table. The corpus is never shuffled; every
    aggregation runs on eval-sized tables.
    Twin: :func:`duckdb_contamination_report_sql`.
    """
    from auto_data_tokenize_spark.operators.dedup import word_shingles

    ev_pairs = word_shingles(eval_df, text_col, k, out_col="_g").select(
        id_col, F.explode_outer(F.array_distinct("_g")).alias("_s")
    )
    ev_set = ev_pairs.where(F.col("_s").isNotNull()).select("_s").distinct()
    cg = word_shingles(corpus, text_col, k, out_col="_g").select(
        F.explode_outer(F.array_distinct("_g")).alias("_s")
    )
    present = (
        cg.join(F.broadcast(ev_set), "_s", "left_semi")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    n_shingles = F.count("_s").cast("long")
    n_hit = F.count("_hit").cast("long")
    return (
        ev_pairs.join(F.broadcast(present), "_s", "left")
        .groupBy(id_col)
        .agg(
            n_shingles.alias("n_shingles"),
            n_hit.alias("n_hit"),
            F.when(n_shingles == 0, F.lit(0.0))
            .otherwise(F.round(n_hit / n_shingles, 6))
            .alias("contaminated_frac"),
        )
    )


def duckdb_contamination_report_sql(
    corpus_sql: str, eval_sql: str, k: int = 5
) -> str:
    """DuckDB twin of :func:`contamination_report` (shared shingle
    construction with :func:`duckdb_decontaminate_sql`)."""

    return f"""
        WITH ev AS (SELECT doc_id, unnest(g) AS s FROM ({_duck_shingles_sql(eval_sql, k)}) e),
        cs AS (SELECT DISTINCT unnest(g) AS s FROM ({_duck_shingles_sql(corpus_sql, k)}) c),
        present AS (SELECT s FROM (SELECT DISTINCT s FROM ev) es
                    WHERE s IN (SELECT s FROM cs)),
        j AS (
          SELECT ev.doc_id, ev.s,
                 CASE WHEN present.s IS NOT NULL THEN 1 END AS hit
          FROM ev LEFT JOIN present USING (s)
        )
        -- the doc spine keeps eval docs too short to shingle: DuckDB's
        -- unnest of an empty list emits ZERO rows where Spark's
        -- explode_outer emits one NULL row
        SELECT d.doc_id,
               CAST(count(j.s) AS BIGINT) AS n_shingles,
               CAST(count(j.hit) AS BIGINT) AS n_hit,
               CASE WHEN count(j.s) = 0 THEN 0.0
                    ELSE round(count(j.hit) / count(j.s), 6)
               END AS contaminated_frac
        FROM (SELECT DISTINCT doc_id FROM ({eval_sql}) sp) d
        LEFT JOIN j USING (doc_id)
        GROUP BY d.doc_id
    """


def epoch_shuffle(
    df: DataFrame,
    n_epochs: int,
    n_shards: int,
    seed: str = "epoch",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic multi-epoch training-order assignment: for each
    epoch e, every document gets a pseudorandom 64-bit position hash
    keyed by (seed, e, id); its shard is ``pos_hash % n_shards`` and
    its position is the rank within (epoch, shard) ordered by
    (pos_hash, id) — a fully reproducible global shuffle per epoch,
    with a DIFFERENT order each epoch, and no coordination: any worker
    can recompute any document's placement from (seed, epoch, id).

    Output: (epoch, shard, position, id_col), one row per document per
    epoch; position is 1-based within its shard.

    100 TB shape: there is NO global sort — the only exchange is one
    window shuffle on (epoch, shard), and shard count is chosen to
    bound per-task sort size (the training reader consumes shards
    independently, so a total order across shards is never needed).
    The position hash reuses the portable md5-prefix family, so the
    DuckDB twin recomputes placement bit-identically.
    """
    from auto_data_tokenize_spark.functions.xengine import spark_md5_prefix

    if n_epochs < 1:
        raise ValueError(f"n_epochs must be >= 1, got {n_epochs}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = spark_md5_prefix(
        f"concat('{seed}', ':', cast(epoch as string), ':', "
        f"cast({id_col} as string))"
    )
    e = df.select(
        id_col,
        F.explode(
            F.sequence(F.lit(0), F.lit(int(n_epochs) - 1))
        ).alias("epoch"),
    ).select(id_col, "epoch", F.expr(h).alias("pos_hash"))
    w = Window.partitionBy("epoch", "shard").orderBy(
        F.col("pos_hash").asc(), F.col(id_col).asc()
    )
    return (
        e.withColumn(
            "shard", (F.col("pos_hash") % F.lit(int(n_shards))).cast("long")
        )
        .select(
            F.col("epoch").cast("long").alias("epoch"),
            "shard",
            F.row_number().over(w).cast("long").alias("position"),
            id_col,
        )
    )


def duckdb_epoch_shuffle_sql(
    source_sql: str,
    n_epochs: int,
    n_shards: int,
    seed: str = "epoch",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`epoch_shuffle` (identical md5-prefix
    placement hash, identical (pos_hash, id) rank tie-break)."""
    from auto_data_tokenize_spark.functions.xengine import duckdb_md5_prefix

    h = duckdb_md5_prefix(
        f"'{seed}' || ':' || epoch::VARCHAR || ':' || {id_col}::VARCHAR"
    )
    return f"""
WITH e AS (
  SELECT {id_col}, unnest(range(0, {int(n_epochs)})) AS epoch
  FROM ({source_sql})
), h AS (
  SELECT {id_col}, epoch::BIGINT AS epoch, {h} AS pos_hash FROM e
)
SELECT epoch,
       (pos_hash % {int(n_shards)})::BIGINT AS shard,
       row_number() OVER (
         PARTITION BY epoch, pos_hash % {int(n_shards)}
         ORDER BY pos_hash ASC, {id_col} ASC
       )::BIGINT AS position,
       {id_col}
FROM h
""".strip()


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window token chunking — the embedding/RAG prep
    primitive: split each document into overlapping windows of
    ``chunk_tokens`` whitespace tokens, advancing ``stride`` tokens per
    window (stride < chunk_tokens ⇒ overlap; stride == chunk_tokens ⇒
    disjoint; stride > chunk_tokens would silently DROP tokens and
    raises). Trailing windows whose content is fully contained in the
    previous window are not emitted (a window starts at s > 0 only
    while ``s < n - chunk_tokens + stride``), so every token appears in
    at least one and at most ceil(chunk_tokens/stride) windows.

    Output: (id_col, chunk_idx, chunk_start, chunk_text,
    n_chunk_tokens); chunk_start is the 0-based token offset,
    chunk_idx = chunk_start / stride. NULL and blank text yield ZERO
    chunks, explicitly (the uniform NULL-text contract).

    100 TB shape: a pure codegen projection + one generator — zero
    shuffles, zero Python; the token array is a single column
    referenced by both the slice and the size, so it is materialized
    once per row (not re-split per window). Twin:
    :func:`duckdb_chunk_sql`.
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if not 1 <= stride <= chunk_tokens:
        raise ValueError(
            f"stride must be in [1, chunk_tokens]: got stride={stride}, "
            f"chunk_tokens={chunk_tokens} (a larger stride drops tokens)"
        )
    toks = (
        df.filter(
            F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
        )
        .select(
            id_col,
            F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks"),
        )
        .withColumn("_n", F.size("_toks"))
    )
    starts = toks.select(
        id_col,
        "_toks",
        "_n",
        F.explode(
            F.sequence(
                F.lit(0), F.col("_n") - F.lit(1), F.lit(int(stride))
            )
        ).alias("chunk_start"),
    ).filter(
        (F.col("chunk_start") == 0)
        | (
            F.col("chunk_start")
            < F.col("_n") - F.lit(int(chunk_tokens) - int(stride))
        )
    )
    return starts.select(
        id_col,
        F.expr(f"chunk_start div {int(stride)}")
        .cast("long")
        .alias("chunk_idx"),
        F.col("chunk_start").cast("long"),
        F.array_join(
            F.slice(F.col("_toks"), F.col("chunk_start") + 1, chunk_tokens),
            " ",
        ).alias("chunk_text"),
        F.least(
            F.lit(int(chunk_tokens)), F.col("_n") - F.col("chunk_start")
        )
        .cast("long")
        .alias("n_chunk_tokens"),
    )


def duckdb_chunk_sql(
    source_sql: str,
    chunk_tokens: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`chunk_documents` (same parameter guards:
    a stride above chunk_tokens would render token-DROPPING SQL)."""
    c, s = int(chunk_tokens), int(stride)
    if c < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {c}")
    if not 1 <= s <= c:
        raise ValueError(
            f"stride must be in [1, chunk_tokens]: got stride={s}, "
            f"chunk_tokens={c} (a larger stride drops tokens)"
        )
    return f"""
WITH d AS (
  SELECT {id_col}, string_split_regex(trim({text_col}), '\\s+') AS toks
  FROM ({source_sql})
  WHERE {text_col} IS NOT NULL AND trim({text_col}) <> ''
), st AS (
  SELECT {id_col}, toks, length(toks) AS n,
         unnest(generate_series(0, length(toks) - 1, {s})) AS chunk_start
  FROM d
)
SELECT {id_col},
       (chunk_start // {s})::BIGINT AS chunk_idx,
       chunk_start::BIGINT AS chunk_start,
       array_to_string(
         list_slice(toks, chunk_start + 1, least(chunk_start + {c}, n)),
         ' ') AS chunk_text,
       least({c}, n - chunk_start)::BIGINT AS n_chunk_tokens
FROM st
WHERE chunk_start = 0 OR chunk_start < n - {c - s}
""".strip()


def source_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Pairwise content-overlap matrix between corpus sources: for
    every source pair (a < b), the number of distinct k-word shingles
    they share, each side's distinct-shingle count, and the exact
    Jaccard — the corpus-mixing diagnostic that tells you two crawl
    feeds are substantially the same corpus BEFORE you weight them as
    independent (the source-level complement of per-document near-dup
    dedup).

    NULL text contributes no shingles; empty-string shingles (the
    blank-text artifact both engines produce) are dropped on both
    sides, so blank documents cannot manufacture overlap.

    Scale: distinct (source, shingle) is one shuffle with map-side
    combine; the shingle-keyed self-join fans out at most
    C(n_sources, 2) pairs per shingle, so cost is bounded by
    #distinct shingles x sources², fine for the tens-to-hundreds of
    sources a curation pipeline mixes. For web-scale source counts
    (per-domain granularity), replace the exact join with per-group
    KMV/MinHash sketches (operators/sketches.py) and estimate.
    """
    from auto_data_tokenize_spark.operators.dedup import word_shingles

    if int(k) < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    sh = (
        word_shingles(df, text_col, int(k))
        .select(
            F.col(group_col).alias("g"),
            F.explode_outer("shingles").alias("_s"),
        )
        .where(F.col("_s").isNotNull() & (F.col("_s") != ""))
        .distinct()
    )
    sizes = sh.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        sh.select(F.col("g").alias("source_a"), "_s")
        .join(sh.select(F.col("g").alias("source_b"), "_s"), "_s")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        pairs.join(sizes.select(F.col("g").alias("source_a"), F.col("n").alias("n_a")), "source_a")
        .join(sizes.select(F.col("g").alias("source_b"), F.col("n").alias("n_b")), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def duckdb_source_overlap_sql(
    source_sql: str,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 5,
) -> str:
    """DuckDB twin of :func:`source_overlap`."""
    kk = int(k)
    return f"""
WITH sh AS (
  SELECT DISTINCT {group_col} AS g,
         unnest(list_transform(
           range(0, greatest(len(w) - {kk}, 0) + 1),
           i -> array_to_string(list_slice(w, i + 1, i + {kk}), ' '))) AS s
  FROM (SELECT {group_col},
               string_split_regex(trim(lower({text_col})), '\\s+') AS w
        FROM ({source_sql}) z
        WHERE {text_col} IS NOT NULL) zz
),
shx AS (SELECT * FROM sh WHERE s <> ''),
sizes AS (SELECT g, COUNT(*) AS n FROM shx GROUP BY g),
pairs AS (
  SELECT a.g AS source_a, b.g AS source_b, COUNT(*) AS n_common
  FROM shx a JOIN shx b ON a.s = b.s AND a.g < b.g
  GROUP BY 1, 2
)
SELECT p.source_a, p.source_b, p.n_common,
       sa.n AS n_a, sb.n AS n_b,
       round(p.n_common / (sa.n + sb.n - p.n_common), 6) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.g = p.source_a
JOIN sizes sb ON sb.g = p.source_b
""".strip()


def pack_utilization(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_tokens: int = 512,
    part_cols: list[str] | None = None,
) -> DataFrame:
    """Training-efficiency report over the ``pack_sequences`` layout:
    per packing partition, how many fixed-size sequences the corpus
    fills, what fraction of their token slots carry real tokens
    (``utilization``; the rest is tail padding), and how many
    documents straddle a sequence boundary (``n_docs_split`` — the
    docs whose attention span a concat-and-chop loader truncates).
    This is the number that decides ``target_tokens`` for a corpus:
    packing at 512 vs 2048 trades padding waste against split docs,
    and at 100 TB the wrong choice wastes real GPU-hours.

    Scale: the pack window's single shuffle on ``part_cols`` followed
    by a partial-agg groupBy on the same key — no second shuffle (the
    partitioning is reused)."""
    packed = pack_sequences(
        df,
        id_col=id_col,
        text_col=text_col,
        target_tokens=target_tokens,
        part_cols=part_cols,
    )
    part_cols = part_cols or ["lang"]
    t = F.lit(target_tokens)
    split = (
        F.when(
            (F.col("n_tokens") > 0)
            & (
                F.floor((F.col("offset") + F.col("n_tokens") - 1) / t)
                != F.col("pack_id")
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
    )
    agg = packed.groupBy(*part_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(split).cast("long").alias("n_docs_split"),
    )
    n_seqs = F.when(
        F.col("total_tokens") > 0,
        F.floor((F.col("total_tokens") - 1) / t) + 1,
    ).otherwise(F.lit(0))
    return agg.withColumn("n_seqs", n_seqs.cast("long")).select(
        *part_cols,
        "n_docs",
        "total_tokens",
        "n_seqs",
        F.when(
            F.col("n_seqs") > 0,
            F.round(F.col("total_tokens") / (F.col("n_seqs") * t), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("utilization"),
        "n_docs_split",
        F.round(F.col("n_docs_split") / F.col("n_docs"), 6).alias("split_frac"),
    )


def duckdb_pack_utilization_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_tokens: int = 512,
    part_cols: list[str] | None = None,
) -> str:
    """DuckDB twin of ``pack_utilization`` (same layout via
    ``duckdb_pack_sql``, same split rule, same rounding)."""
    part_cols = part_cols or ["lang"]
    part = ", ".join(part_cols)
    pack = duckdb_pack_sql(
        table,
        id_col=id_col,
        text_col=text_col,
        target_tokens=target_tokens,
        part_cols=part_cols,
    )
    t = target_tokens
    return f"""
        WITH p AS ({pack}),
        a AS (
          SELECT {part},
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                 CAST(SUM(CASE WHEN n_tokens > 0
                               AND ("offset" + n_tokens - 1) // {t} != pack_id
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_split
          FROM p GROUP BY {part}
        )
        SELECT {part}, n_docs, total_tokens,
               CAST(CASE WHEN total_tokens > 0
                    THEN (total_tokens - 1) // {t} + 1
                    ELSE 0 END AS BIGINT) AS n_seqs,
               CASE WHEN total_tokens > 0
                    THEN ROUND(total_tokens * 1.0 /
                               (((total_tokens - 1) // {t} + 1) * {t}), 6)
                    ELSE 0.0 END AS utilization,
               n_docs_split,
               ROUND(n_docs_split * 1.0 / n_docs, 6) AS split_frac
        FROM a
    """
