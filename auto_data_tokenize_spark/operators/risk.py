"""Re-identification risk analysis (DLP risk-analysis analogue).

The reference engine's platform exposes privacy risk metrics over
de-identified tables through the public DLP risk-analysis API
(``RiskAnalysisJobConfig``: k-anonymity, l-diversity, k-map,
delta-presence). The reference repo itself stops at producing the
de-identified table; an operator of that pipeline measures residual
risk with exactly these metrics, so this engine implements the
locally-computable members:

- **k-anonymity**: group records by the quasi-identifier tuple; the
  table is k-anonymous iff every equivalence class has >= k records.
  Outputs per-class sizes and the DLP-style class-size histogram.
- **l-diversity**: additionally require each class to contain >= l
  distinct values of a sensitive attribute.
- **k-map**: class sizes measured against a re-identification
  *population* table instead of the dataset itself — each record's k
  is how many population individuals share its quasi-identifier
  tuple (``KMapEstimationConfig``; DLP estimates the population from
  public statistics, here the caller supplies it as a DataFrame).
- **delta-presence**: per quasi-identifier class, the probability
  delta = dataset_count / population_count that a population member
  of that class is present in the released dataset
  (``DeltaPresenceEstimationConfig``).

Scale posture: one keyed groupBy per metric (map-side partial
aggregation; the quasi-identifier tuple is the shuffle key — no
skew-prone global collects). k-map and delta-presence aggregate BOTH
sides to class granularity before joining, so the join moves only
(distinct QI tuples) rows, never raw records. ``count_distinct``
inside the class groupBy is exact, matching the SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "categorical_stats_histogram",
    "delta_presence",
    "delta_presence_histogram",
    "dp_histogram",
    "dp_histogram_monitor",
    "duckdb_dp_histogram_monitor_sql",
    "duckdb_dp_histogram_sql",
    "k_anonymity",
    "k_anonymity_histogram",
    "k_anonymity_monitor",
    "k_map",
    "k_map_histogram",
    "l_diversity",
    "l_diversity_histogram",
    "numerical_stats",
]


def _check_cols(df: DataFrame, cols: list[str]) -> None:
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in DataFrame: {missing}")
    if not cols:
        raise ValueError("quasi-identifier column list must be non-empty")


def k_anonymity(df: DataFrame, qi_cols: list[str]) -> DataFrame:
    """Equivalence classes over the quasi-identifier tuple:
    ``qi_cols... , class_size``. The table's k value is
    ``min(class_size)``."""
    _check_cols(df, qi_cols)
    return df.groupBy(*qi_cols).agg(F.count(F.lit(1)).alias("class_size"))


def k_anonymity_histogram(df: DataFrame, qi_cols: list[str]) -> DataFrame:
    """DLP-style result shape: how many equivalence classes (and
    records) exist at each class size — ``class_size, num_classes,
    num_records``. Two keyed aggregations, both with map-side partials."""
    classes = k_anonymity(df, qi_cols)
    return classes.groupBy("class_size").agg(
        F.count(F.lit(1)).alias("num_classes"),
        F.sum("class_size").cast("long").alias("num_records"),
    )


def l_diversity(
    df: DataFrame,
    qi_cols: list[str],
    sensitive_col: str,
) -> DataFrame:
    """Per equivalence class: ``qi_cols..., class_size,
    distinct_sensitive``. The table is l-diverse iff
    ``min(distinct_sensitive) >= l``."""
    _check_cols(df, qi_cols + [sensitive_col])
    return df.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).alias("class_size"),
        F.count_distinct(F.col(sensitive_col))
        .cast("long")
        .alias("distinct_sensitive"),
    )


def _null_safe_left_join(
    left: DataFrame, right: DataFrame, on: list[str]
) -> DataFrame:
    """Left join on the key columns with NULL-SAFE equality (<=>),
    keeping the left side's key columns. De-identified tables contain
    NULL quasi-identifiers by design (generalize.py's suppress level
    emits NULL/NULL), and a plain equi-join would report every
    NULL-bearing class as absent from the other side — misstating the
    risk in both directions."""
    r = right
    for c in on:
        r = r.withColumnRenamed(c, f"__r_{c}")
    cond = None
    for c in on:
        eq = left[c].eqNullSafe(r[f"__r_{c}"])
        cond = eq if cond is None else cond & eq
    joined = left.join(r, on=cond, how="left")
    return joined.drop(*[f"__r_{c}" for c in on])


def k_map(
    df: DataFrame, qi_cols: list[str], population: DataFrame
) -> DataFrame:
    """Per dataset equivalence class: ``qi_cols..., dataset_count,
    k_map`` where ``k_map`` is the POPULATION class size for that
    quasi-identifier tuple (0 when the tuple is absent from the
    population — a uniquely re-identifiable anomaly DLP reports as
    k=1; here the true 0 is kept so callers can distinguish it).
    The table's k-map value is ``min(k_map)`` over classes with
    ``k_map > 0``.

    Both sides are reduced to class granularity BEFORE the join, so
    the shuffle carries one row per distinct tuple, not per record."""
    _check_cols(df, qi_cols)
    _check_cols(population, qi_cols)
    ds = df.groupBy(*qi_cols).agg(F.count(F.lit(1)).alias("dataset_count"))
    pop = population.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).alias("k_map")
    )
    joined = _null_safe_left_join(ds, pop, qi_cols)
    return joined.withColumn(
        "k_map", F.coalesce(F.col("k_map"), F.lit(0)).cast("long")
    )


def k_map_histogram(
    df: DataFrame, qi_cols: list[str], population: DataFrame
) -> DataFrame:
    """DLP-style k-map result shape: how many dataset classes (and
    dataset records) sit at each population-anonymity level —
    ``k_map, num_classes, num_records``."""
    classes = k_map(df, qi_cols, population)
    return classes.groupBy("k_map").agg(
        F.count(F.lit(1)).alias("num_classes"),
        F.sum("dataset_count").cast("long").alias("num_records"),
    )


def delta_presence(
    df: DataFrame, qi_cols: list[str], population: DataFrame
) -> DataFrame:
    """Per POPULATION equivalence class: ``qi_cols...,
    dataset_count, population_count, delta`` with
    ``delta = dataset_count / population_count`` — the probability
    that a population member of this class is present in the released
    dataset. Classes absent from the dataset get delta 0.0; the
    table's delta-presence value is ``max(delta)``.

    Same join shape as :func:`k_map`: class-level aggregates on both
    sides, one row per distinct tuple through the shuffle."""
    _check_cols(df, qi_cols)
    _check_cols(population, qi_cols)
    pop = population.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).alias("population_count")
    )
    ds = df.groupBy(*qi_cols).agg(F.count(F.lit(1)).alias("dataset_count"))
    joined = _null_safe_left_join(pop, ds, qi_cols)
    return joined.select(
        *qi_cols,
        F.coalesce(F.col("dataset_count"), F.lit(0))
        .cast("long")
        .alias("dataset_count"),
        F.col("population_count").cast("long").alias("population_count"),
        (
            F.coalesce(F.col("dataset_count"), F.lit(0))
            / F.col("population_count")
        ).alias("delta"),
    )


def delta_presence_histogram(
    df: DataFrame,
    qi_cols: list[str],
    population: DataFrame,
    bucket_edges: list[float] | None = None,
) -> DataFrame:
    """How many population classes fall into each delta range —
    ``bucket_low, bucket_high, num_classes, num_population_records``.
    Buckets follow the DLP convention: half-open ``[low, high)`` with
    a final closed bucket ending at the last edge. Default edges
    mirror DLP's probability buckets (0, .01, .05, .1, .2, .3, .4,
    .5, 1).

    Classes whose delta falls OUTSIDE ``[edges[0], edges[-1]]`` are
    reported in an explicit overflow bucket with ``bucket_low =
    bucket_high = NULL`` rather than dropped — delta exceeds 1.0
    whenever the released dataset holds several records per population
    individual (event streams vs a census population), and those
    over-represented classes are precisely the highest-risk rows, so
    they must stay visible in the result."""
    edges = bucket_edges or [0.0, 0.01, 0.05, 0.1, 0.2, 0.3, 0.4, 0.5, 1.0]
    if sorted(edges) != edges or len(set(edges)) != len(edges):
        raise ValueError("bucket_edges must be strictly increasing")
    classes = delta_presence(df, qi_cols, population)
    # Closed-form bucket lookup as a CASE chain: pure codegen, no UDF.
    low = F.lit(None).cast("double")
    high = F.lit(None).cast("double")
    for i in range(len(edges) - 1):
        is_last = i == len(edges) - 2
        cond = (F.col("delta") >= F.lit(edges[i])) & (
            (F.col("delta") <= F.lit(edges[i + 1]))
            if is_last
            else (F.col("delta") < F.lit(edges[i + 1]))
        )
        low = F.when(cond, F.lit(edges[i])).otherwise(low)
        high = F.when(cond, F.lit(edges[i + 1])).otherwise(high)
    bucketed = classes.select(
        low.alias("bucket_low"),
        high.alias("bucket_high"),
        "population_count",
    )
    return bucketed.groupBy("bucket_low", "bucket_high").agg(
        F.count(F.lit(1)).alias("num_classes"),
        F.sum("population_count")
        .cast("long")
        .alias("num_population_records"),
    )


def k_anonymity_monitor(
    df: DataFrame,
    qi_cols: list[str],
    window: str = "1 hour",
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Windowed k-anonymity class-size histogram — the continuous
    monitor an operator runs over a de-identified event stream to
    catch anonymity regressions (a config change that starts emitting
    small equivalence classes) as they happen, not at the next batch
    audit. Works on batch and streaming inputs alike.

    Output: ``window_start, window_end, class_size, num_classes,
    num_records`` per tumbling window.

    Streaming shape: two CHAINED stateful aggregations in one query
    (Spark >= 3.4 multi-window support via ``window_time``) — class
    sizes per (window, QI tuple), then the histogram per (window,
    class_size). The first agg shrinks the stream to distinct-QI
    cardinality with map-side partials before any histogram state is
    touched; both state keys are bounded by (windows x tuples), and
    append mode emits each window once when the watermark passes."""
    _check_cols(df, qi_cols)
    d = df
    if watermark is not None:
        d = d.withWatermark(ts_col, watermark)
    classes = d.groupBy(
        F.window(F.col(ts_col), window).alias("w"), *qi_cols
    ).agg(F.count(F.lit(1)).alias("class_size"))
    return (
        classes.groupBy(
            F.window(F.window_time("w"), window).alias("cw"), "class_size"
        )
        .agg(
            F.count(F.lit(1)).alias("num_classes"),
            F.sum("class_size").cast("long").alias("num_records"),
        )
        .select(
            F.col("cw.start").alias("window_start"),
            F.col("cw.end").alias("window_end"),
            "class_size",
            "num_classes",
            "num_records",
        )
    )


def categorical_stats_histogram(df: DataFrame, col: str) -> DataFrame:
    """DLP ``CategoricalStatsConfig`` analogue: how often each value
    frequency occurs — ``value_frequency, num_values, num_records``
    (e.g. "3 distinct values appear exactly 17 times each"). Two keyed
    partial-agg groupBys, the same shape as the k-anonymity histogram
    but over a single column's values; NULLs count as a value, as DLP
    treats missing entries as an (absent) category of their own."""
    _check_cols(df, [col])
    freqs = df.groupBy(col).agg(F.count(F.lit(1)).alias("value_frequency"))
    return freqs.groupBy("value_frequency").agg(
        F.count(F.lit(1)).alias("num_values"),
        F.sum("value_frequency").cast("long").alias("num_records"),
    )


def numerical_stats(
    df: DataFrame, col: str, quantiles: list[float] | None = None
) -> DataFrame:
    """DLP ``NumericalStatsConfig`` analogue: one row of ``min_value,
    max_value, q_<pct>...`` with exact linearly-interpolated quantiles
    (``F.percentile``; SQL twin: ``quantile_cont``), each rounded to 4
    decimals so both engines agree bit-for-bit after their last-ulp
    interpolation differences. Single global aggregation with map-side
    partials; the exact percentile keeps per-group state proportional
    to distinct values — at 100 TB swap ``percentile_approx`` when
    estimate-grade quantiles are acceptable (DLP's own results are
    approximate)."""
    _check_cols(df, [col])
    qs = quantiles or [0.25, 0.5, 0.75]
    if any(not (0.0 <= q <= 1.0) for q in qs):
        raise ValueError("quantiles must be within [0, 1]")
    aggs = [
        F.round(F.min(col).cast("double"), 4).alias("min_value"),
        F.round(F.max(col).cast("double"), 4).alias("max_value"),
    ]
    for q in qs:
        aggs.append(
            F.round(F.percentile(F.col(col), F.lit(q)), 4).alias(
                f"q_{int(round(q * 100)):02d}"
            )
        )
    return df.agg(*aggs)


def l_diversity_histogram(
    df: DataFrame,
    qi_cols: list[str],
    sensitive_col: str,
) -> DataFrame:
    """How many classes exist at each sensitive-value diversity level:
    ``distinct_sensitive, num_classes, num_records``."""
    classes = l_diversity(df, qi_cols, sensitive_col)
    return classes.groupBy("distinct_sensitive").agg(
        F.count(F.lit(1)).alias("num_classes"),
        F.sum("class_size").cast("long").alias("num_records"),
    )


# --- differentially-private release -----------------------------------
#
# The DLP risk metrics above MEASURE residual re-identification risk;
# a differentially-private histogram RELEASES aggregate statistics with
# a provable bound on any individual's influence (epsilon-DP via the
# Laplace mechanism, Dwork et al., TCC 2006). This is the modern
# complement to the reference platform's risk-analysis API: publish
# per-category counts of a sensitive corpus (sources, languages,
# infoTypes) without the exact counts themselves becoming a side
# channel.
#
# Determinism contract (what makes this oracle-checkable): the noise
# draw is a PUBLIC deterministic function of (seed, category key) — the
# inverse-CDF Laplace transform applied to a uniform derived from the
# one cross-engine md5 fragment (functions/xengine.py). Both engines
# recompute bit-identical uniforms; the only cross-engine freedom is
# the last ulp of ln(), absorbed by the shared round-to-6-decimals
# release grain (the q44 TF-IDF precedent). A production deployment
# would rotate ``seed`` per release and keep it secret — determinism
# per (seed, key) is exactly the "one draw per statistic" discipline a
# real DP release needs anyway (re-drawing on re-query would let an
# attacker average the noise away).

DP_KEY_SEP = "\x1f"  # unit separator between key parts (chr(31))
DP_NULL = "\x1e"  # NULL-category sentinel inside the key (chr(30))


def _dp_check(epsilon: float, sensitivity: float) -> None:
    if not epsilon > 0:
        raise ValueError(f"epsilon must be > 0, got {epsilon!r}")
    if not sensitivity > 0:
        raise ValueError(f"sensitivity must be > 0, got {sensitivity!r}")


def _laplace_noise(key, b: float):
    """Deterministic Laplace(b) draw from a string key Column.

    u32 = md5-prefix32(key) (the xengine fragment), u = (u32 + 0.5) /
    2^32 in (0, 1); X = -b * sgn(u - 1/2) * ln(1 - 2|u - 1/2|) is the
    standard inverse-CDF transform. u can never be exactly 1/2 (u32 is
    an integer, 2^31 - 0.5 is not), so sgn never returns 0 and the ln
    argument stays in (0, 1]."""
    from auto_data_tokenize_spark.functions.xengine import (
        spark_md5_prefix_col,
    )

    u = (spark_md5_prefix_col(key).cast("double") + F.lit(0.5)) / F.lit(
        4294967296.0
    )
    v = u - F.lit(0.5)
    return (
        F.lit(-b)
        * F.signum(v)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(v))
    )


def _dp_release_cols(true_col, key, b: float):
    """(noisy_count, released_count) expressions shared by the batch
    and streaming shapes: noisy = round(true + Laplace(b), 6) — the
    raw epsilon-DP real release — and released = the conventional
    post-processed integer (non-negative, rounded; post-processing
    cannot weaken the DP guarantee)."""
    noisy = F.round(true_col + _laplace_noise(key, b), 6)
    released = F.greatest(F.lit(0.0), F.round(noisy, 0)).cast("long")
    return noisy.alias("noisy_count"), released.alias("released_count")


def _dp_key_parts(group_cols: list[str]):
    return [
        F.coalesce(F.col(c).cast("string"), F.lit(DP_NULL))
        for c in group_cols
    ]


def dp_histogram(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float = 1.0,
    seed: str = "adt-dp-v1",
    sensitivity: float = 1.0,
    domain: DataFrame | None = None,
) -> DataFrame:
    """Epsilon-DP category-count histogram (Laplace mechanism).

    Output: ``group_cols..., noisy_count double, released_count
    bigint`` — the true counts are aggregated but never emitted.
    ``sensitivity`` defaults to 1 (add/remove-one-record adjacency for
    a partition-disjoint histogram); scale b = sensitivity / epsilon.

    Domain caveat — which categories appear is itself information:
    without ``domain``, a category present in D but not in its
    neighbor D' yields a row in one release and none in the other,
    so the epsilon guarantee only holds when the category LIST is
    public knowledge independent of the data (fixed enum columns,
    published language codes). For data-dependent domains pass
    ``domain``: a DataFrame of ``group_cols`` enumerating the public
    category universe — every domain category is released (absent ones
    as noisy zeros) and data categories outside it are dropped, which
    is the textbook unknown-domain fix. The domain is a category list
    (broadcastable); the join is null-safe so a NULL category in the
    domain matches the data's NULL group.

    Scale posture: ONE partial-aggregated groupBy; the noise is a pure
    codegen projection over the (category-cardinality-sized) aggregate
    — nothing here grows with the record count, so the plan at 100 TB
    is the plan at 100 MB plus shuffle width."""
    _check_cols(df, group_cols)
    _dp_check(epsilon, sensitivity)
    b = sensitivity / epsilon
    counts = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("_true"))
    if domain is not None:
        _check_cols(domain, group_cols)
        dom = domain.select(*group_cols).dropDuplicates(group_cols)
        counts = _null_safe_left_join(dom, counts, group_cols).withColumn(
            "_true", F.coalesce(F.col("_true"), F.lit(0)).cast("long")
        )
    key = F.concat_ws(DP_KEY_SEP, F.lit(seed), *_dp_key_parts(group_cols))
    noisy, released = _dp_release_cols(F.col("_true"), key, b)
    return counts.select(*group_cols, noisy, released)


def dp_histogram_monitor(
    df: DataFrame,
    group_cols: list[str],
    window: str = "1 minute",
    ts_col: str = "ts",
    watermark: str | None = None,
    epsilon: float = 1.0,
    seed: str = "adt-dp-v1",
    sensitivity: float = 1.0,
) -> DataFrame:
    """Windowed epsilon-DP histogram release — privacy-preserving
    telemetry over a live sensitive stream (per-window category counts
    published as they close, without the exact counts leaking). Works
    on batch and streaming inputs alike (the k_anonymity_monitor
    pattern). The noise key includes the window-start epoch
    MICROsecond (sub-second windows stay distinct), so every (window,
    category) statistic gets its own independent draw; per-window
    releases are epsilon-DP individually (an individual appearing in
    w windows costs w * epsilon under composition — the caller's
    budgeting decision, as with any repeated DP release). The
    :func:`dp_histogram` domain caveat applies per window, and
    append-mode streaming cannot emit rows for categories it never
    saw: treat the released support as public (fixed enum feeds) or
    post-process against a public domain downstream.

    Output: ``window_start, window_end, group_cols..., noisy_count,
    released_count`` per watermark-closed tumbling window. ONE
    windowed stateful groupBy; noise is stateless codegen on the
    aggregate, state is freed as each window closes."""
    _check_cols(df, group_cols)
    _dp_check(epsilon, sensitivity)
    b = sensitivity / epsilon
    d = df
    if watermark is not None:
        d = d.withWatermark(ts_col, watermark)
    counts = d.groupBy(
        F.window(F.col(ts_col), window).alias("w"), *group_cols
    ).agg(F.count(F.lit(1)).alias("_true"))
    key = F.concat_ws(
        DP_KEY_SEP,
        F.lit(seed),
        F.unix_micros(F.col("w.start")).cast("string"),
        *_dp_key_parts(group_cols),
    )
    noisy, released = _dp_release_cols(F.col("_true"), key, b)
    return counts.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *group_cols,
        noisy,
        released,
    )


def _duck_dp_release_sql(true_sql: str, key_sql: str, b: float) -> str:
    """DuckDB fragment: ``noisy_count, released_count`` from a true
    count expression and a key expression (same transform, constant,
    and rounding order as the Spark side)."""
    from auto_data_tokenize_spark.functions.xengine import (
        duckdb_md5_prefix,
    )

    u = f"(({duckdb_md5_prefix(key_sql)})::DOUBLE + 0.5) / 4294967296.0"
    v = f"(({u}) - 0.5)"
    noise = f"(-({b!r}) * sign({v}) * ln(1.0 - 2.0 * abs({v})))"
    return (
        f"round(({true_sql}) + {noise}, 6) AS noisy_count, "
        f"CAST(greatest(0.0, round(round(({true_sql}) + {noise}, 6)))"
        f" AS BIGINT) AS released_count"
    )


def _duck_dp_key_sql(seed: str, parts: list[str]) -> str:
    quoted = ", ".join(
        f"coalesce(({p})::VARCHAR, chr(30))" for p in parts
    )
    return f"concat_ws(chr(31), '{seed}', {quoted})"


def duckdb_dp_histogram_sql(
    table: str,
    group_cols: list[str],
    epsilon: float = 1.0,
    seed: str = "adt-dp-v1",
    sensitivity: float = 1.0,
) -> str:
    """DuckDB twin of :func:`dp_histogram` (same key construction,
    uniform, transform, and rounding grain)."""
    _dp_check(epsilon, sensitivity)
    b = sensitivity / epsilon
    g = ", ".join(f'"{c}"' for c in group_cols)
    key = _duck_dp_key_sql(seed, [f'"{c}"' for c in group_cols])
    release = _duck_dp_release_sql("_true", key, b)
    return f"""
        SELECT {g}, {release}
        FROM (SELECT {g}, count(*) AS _true FROM {table} GROUP BY {g}) t
    """


def duckdb_dp_histogram_monitor_sql(
    table: str,
    group_cols: list[str],
    window_us: int = 60_000_000,
    ts_expr: str = "ts",
    epsilon: float = 1.0,
    seed: str = "adt-dp-v1",
    sensitivity: float = 1.0,
) -> str:
    """DuckDB twin of :func:`dp_histogram_monitor` (same bucketing as
    the other monitor twins; the streaming final-watermark predicate
    is the caller's outer filter)."""
    _dp_check(epsilon, sensitivity)
    b = sensitivity / epsilon
    g = ", ".join(f'"{c}"' for c in group_cols)
    key = _duck_dp_key_sql(
        seed, ["epoch_us(window_start)", *[f'"{c}"' for c in group_cols]]
    )
    release = _duck_dp_release_sql("_true", key, b)
    return f"""
        SELECT window_start,
               window_start + INTERVAL {window_us} MICROSECOND
                 AS window_end,
               {g}, {release}
        FROM (
          SELECT make_timestamp((epoch_us({ts_expr}) // {window_us})
                   * {window_us}) AS window_start,
                 {g}, count(*) AS _true
          FROM {table} GROUP BY 1, {g}
        ) t
    """
