"""Similarity search over embedding columns (array<float>): brute-force
cosine top-k baseline + LSH-bucketed approximate variant.

Scale design:
- Brute force: queries are broadcast (small side), the corpus scan
  stays partition-parallel; per-row dot products run JVM-side via
  ``aggregate(zip_with(...))`` inside codegen — no Python, no shuffle
  until top-k.
- Top-k: two-phase (per-partition partial top-k, then global) so a
  popular query id can't funnel the whole corpus through one reducer.
- LSH (random hyperplanes, public SimHash-for-cosine construction):
  deterministic signs from md5 of (plane, dim), signature = packed bit
  string; bucket equi-join prunes the corpus before exact rescoring.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType


def _dot_expr(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _norm_expr(a: str) -> str:
    return f"sqrt({_dot_expr(a, a)})"


def with_cosine(
    df: DataFrame, a_col: str, b_col: str, out_col: str = "cosine"
) -> DataFrame:
    return df.withColumn(
        out_col,
        F.round(
            F.expr(_dot_expr(a_col, b_col))
            / (F.expr(_norm_expr(a_col)) * F.expr(_norm_expr(b_col))),
            6,
        ),
    )


def topk_per_key(
    df: DataFrame,
    key: str,
    order_col: str,
    k: int,
    tie_break: str,
    descending: bool = True,
) -> DataFrame:
    """Two-phase top-k per key: partial top-k within each partition,
    then exact top-k over the ≤ k × n_partitions survivors. The final
    window sees a tiny input, so per-key skew is bounded."""
    oc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    tb = F.col(tie_break).asc()

    w_local = Window.partitionBy(key, F.spark_partition_id()).orderBy(oc, tb)
    partial = df.withColumn("_r", F.row_number().over(w_local)).filter(
        F.col("_r") <= k
    ).drop("_r")

    w_global = Window.partitionBy(key).orderBy(oc, tb)
    return (
        partial.withColumn("rank", F.row_number().over(w_global))
        .filter(F.col("rank") <= k)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the queries, score
    every (query, corpus) pair JVM-side, two-phase top-k.
    Output: (query_id, vec_id, cosine, rank)."""
    joined = corpus.crossJoin(F.broadcast(queries))
    scored = with_cosine(joined, vec_col, query_vec_col).select(
        query_id_col, id_col, "cosine"
    )
    return topk_per_key(scored, query_id_col, "cosine", k, tie_break=id_col).select(
        query_id_col, id_col, "cosine", "rank"
    )


def _plane_matrix(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Deterministic ±1 hyperplanes from md5 (no RNG state, so every
    executor/run regenerates identical planes)."""
    signs = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        h = hashlib.md5(f"{seed}|plane|{p}".encode()).digest()
        # expand to dim bytes deterministically
        buf = b""
        c = 0
        while len(buf) < dim:
            buf += hashlib.md5(h + c.to_bytes(4, "big")).digest()
            c += 1
        bits = np.frombuffer(buf[:dim], dtype=np.uint8)
        signs[p] = np.where(bits & 1, 1.0, -1.0)
    return signs


def lsh_signatures_udf(n_planes: int, dim: int, n_tables: int, seed: int = 42):
    """All ``n_tables`` hyperplane signatures in ONE Arrow pass
    (one matmul against the stacked (n_tables·n_planes, dim) plane
    matrix) — OR-amplification without multiplying the Python-UDF
    scans. Returns array<long> of length n_tables."""
    planes = _plane_matrix(n_planes * n_tables, dim, seed)

    @pandas_udf(ArrayType(LongType()))
    def _sigs(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        proj = m @ planes.T  # (n, n_tables*n_planes)
        bits = (proj > 0).astype(np.uint64).reshape(len(m), n_tables, n_planes)
        weights = np.uint64(1) << np.arange(n_planes, dtype=np.uint64)
        sig = (bits * weights).sum(axis=2).astype(np.int64)  # (n, n_tables)
        return pd.Series(list(sig), index=vecs.index)

    return _sigs


def _exploded_sigs(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
) -> DataFrame:
    """Adds (_tbl, _sig) — one row per (input row, hash table).
    posexplode_outer per house rule (InferFiltersFromGenerate trap);
    the signature array is always n_tables long."""
    sigs = lsh_signatures_udf(n_planes, dim, n_tables, seed)
    return df.withColumn("_sigs", sigs(F.col(vec_col))).select(
        "*", F.posexplode_outer("_sigs").alias("_tbl", "_sig")
    ).drop("_sigs")


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 16,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: bucket corpus and queries by hyperplane
    signature in ``n_tables`` independent tables (OR-amplification),
    union + dedupe candidates, exact-rescore same-bucket pairs only.
    Per-pair recall 1-(1-p^b)^K for bit-agreement prob p — the scale
    path when the corpus no longer fits a broadcast crossJoin."""
    c = _exploded_sigs(corpus, vec_col, dim, n_planes, n_tables, seed)
    q = _exploded_sigs(queries, query_vec_col, dim, n_planes, n_tables, seed)
    joined = c.join(F.broadcast(q), ["_tbl", "_sig"]).dropDuplicates(
        [query_id_col, id_col]
    )
    scored = with_cosine(joined, vec_col, query_vec_col).select(
        query_id_col, id_col, "cosine"
    )
    return topk_per_key(scored, query_id_col, "cosine", k, tie_break=id_col).select(
        query_id_col, id_col, "cosine", "rank"
    )


def _argmin_cells_udf(
    centroids: np.ndarray, n: int = 1, as_array: bool = False
):
    """vec → the ``n`` nearest centroid ids (squared-L2 argmin, one
    matmul per Arrow batch). Scalar int cell when ``n == 1`` and
    ``as_array`` is False (the ivf_index assign step); otherwise an
    array of cells — callers that ``explode`` the result MUST pass
    ``as_array=True``, or ``min(nprobe, nlist) == 1`` (nprobe=1, or a
    single-vector corpus) makes the column a plain INT and the explode
    dies with an AnalysisException."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    c = centroids.astype(np.float64)
    c_norms = (c * c).sum(axis=1)

    from pyspark.sql.types import IntegerType as _I

    scalar = n == 1 and not as_array
    ret = _I() if scalar else ArrayType(_I())

    @pandas_udf(ret)
    def _a(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32" if scalar else "object")
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        d2 = c_norms[None, :] - 2.0 * (m @ c.T)  # ||x||² constant per row
        if scalar:
            out = d2.argmin(axis=1).astype("int32")
            return pd.Series(out, index=vecs.index)
        idx = np.argsort(d2, axis=1, kind="stable")[:, :n]
        return pd.Series([[int(x) for x in row] for row in idx], index=vecs.index)

    return _a


def ivf_index(
    corpus: DataFrame,
    nlist: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """IVF (inverted-file) coarse quantizer: ``nlist`` centroids from
    ``iters`` Lloyd iterations, deterministically seeded by md5 order
    of ids (no RNG state — every run/executor rebuilds the same index).

    Scale shape: the assign step is one Arrow matmul pass over the
    corpus (distributed); the centroid update is posexplode →
    (cell, dim) partial-avg aggregation — the only driver-side data is
    the (nlist × dim) centroid matrix itself. Returns (assigned_df
    with an int ``_cell`` column, centroids ndarray)."""
    seeds = (
        corpus.select(id_col, vec_col)
        .withColumn(
            "_r", F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{seed}")))
        )
        .orderBy("_r", id_col)
        .limit(nlist)
        .collect()
    )
    cents = np.array([list(r[vec_col]) for r in seeds], dtype=np.float64)
    if len(cents) == 0:
        # empty corpus: no centroids to assign against (the UDF's
        # vectorized norm needs a 2-D matrix) — degenerate explicitly
        return (
            corpus.withColumn("_cell", F.lit(None).cast("int")),
            cents,
        )
    for _ in range(iters):
        assigned = corpus.withColumn(
            "_cell", _argmin_cells_udf(cents)(F.col(vec_col))
        )
        means = (
            assigned.select("_cell", F.posexplode_outer(vec_col).alias("_d", "_x"))
            .groupBy("_cell", "_d")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        for r in means:
            cents[r["_cell"]][r["_d"]] = r["_m"]
    assigned = corpus.withColumn("_cell", _argmin_cells_udf(cents)(F.col(vec_col)))
    return assigned, cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
) -> DataFrame:
    """IVF ANN top-k (the FAISS-style alternative to hyperplane LSH):
    assign the corpus to ``nlist`` centroid cells, probe each query's
    ``nprobe`` nearest cells, exact-rescore only those cells' vectors.
    Candidate fraction ≈ nprobe/nlist of the corpus per query; recall
    vs brute force is pinned by tests/test_similarity.py. The probed
    queries are broadcast; the corpus-side join key is the int cell id,
    so the scan stays partition-parallel with one equi-join."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    assigned, cents = ivf_index(corpus, nlist, iters, id_col, vec_col, seed)
    if len(cents) == 0:
        # empty corpus: nothing to probe — empty result, same schema
        return (
            queries.select(query_id_col)
            .crossJoin(corpus.select(id_col))
            .withColumn("cosine", F.lit(0.0))
            .withColumn("rank", F.lit(0))
            .limit(0)
        )
    q = queries.withColumn(
        "_cells",
        _argmin_cells_udf(
            cents, n=min(int(nprobe), len(cents)), as_array=True
        )(F.col(query_vec_col)),
    ).select("*", F.explode_outer("_cells").alias("_cell")).drop("_cells")
    joined = assigned.join(F.broadcast(q), "_cell")
    scored = with_cosine(joined, vec_col, query_vec_col).select(
        query_id_col, id_col, "cosine"
    )
    return topk_per_key(scored, query_id_col, "cosine", k, tie_break=id_col).select(
        query_id_col, id_col, "cosine", "rank"
    )


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 16,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cosine) with
    cosine ≥ threshold, a < b.

    Multi-table LSH (OR-amplification): ``n_tables`` independent
    ``n_planes``-bit hyperplane signatures; a pair is a candidate if it
    collides in ANY table; candidates are deduped on (a, b) ids, then
    vectors are joined back and exact cosine filters the output — so
    precision is exact and only recall depends on (n_planes, n_tables).
    Per-pair recall = 1-(1-p^b)^K with p = 1-θ/π; e.g. cos=0.9
    (p≈0.857): one 12-plane table finds 16%, 16 tables of 6 planes
    find 99.98%. tests/test_similarity.py pins measured recall vs
    brute force. Shuffles: one per-table-keyed candidate join (single
    exchange on (_tbl, _sig)), one dedupe, two id-keyed vector
    fetch-backs — no all-pairs stage anywhere.

    Scale note: n_planes sets bucket granularity (~n/2^b rows per
    bucket) and must grow with log2(corpus) while n_tables buys the
    recall back; the defaults favor small corpora."""
    c = _exploded_sigs(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        "v", dim, n_planes, n_tables, seed,
    ).select("_tbl", "_sig", "id")
    a = c.select("_tbl", "_sig", F.col("id").alias("a"))
    b = c.select("_tbl", "_sig", F.col("id").alias("b"))
    pairs = (
        a.join(b, ["_tbl", "_sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    vecs = corpus.select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_v"))
    rejoined = (
        pairs.join(vecs.withColumnRenamed("_vid", "a").withColumnRenamed("_v", "va"), "a")
        .join(vecs.withColumnRenamed("_vid", "b").withColumnRenamed("_v", "vb"), "b")
    )
    return (
        with_cosine(rejoined, "va", "vb")
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def semantic_cells(
    corpus: DataFrame,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """Multi-probe k-means cell assignment: each vector lands in its
    ``nprobe`` nearest of ``nlist`` deterministic Lloyd centroids
    (:func:`ivf_index` seeding — md5 order, no RNG state). Returns
    ``(cells_df(id, _cell), centroids ndarray)``; the exploded cell
    table is the blocking structure for :func:`semantic_dedup` and the
    streaming admission gate (which must probe ARRIVALS against the
    same frozen centroids).

    An EMPTY corpus yields zero centroids; the assignment UDF cannot
    matmul against a 0-row matrix, so this degenerates explicitly to
    an empty cell table (same empty-input posture as the DSIR
    totals)."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    _, cents = ivf_index(corpus, nlist, iters, id_col, vec_col, seed)
    if len(cents) == 0:
        return (
            corpus.select(
                id_col, F.lit(None).cast("int").alias("_cell")
            ).limit(0),
            cents,
        )
    n = min(int(nprobe), len(cents))
    cells = (
        corpus.withColumn(
            "_cells",
            _argmin_cells_udf(cents, n=n, as_array=True)(F.col(vec_col)),
        )
        .select(id_col, F.explode_outer("_cells").alias("_cell"))
    )
    return cells, cents


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with deterministic
    k-means, generate candidate pairs only WITHIN shared cells, exact-
    rescore candidates with true cosine, and mark a document as a
    duplicate if a *smaller-id* document with cosine ≥ ``threshold``
    exists (the same greedy keep-min-id policy as
    ``dedup.minhash_dedup``). Output: ``(id_col, dup_of nullable)``.

    Multi-probe assignment (``nprobe`` nearest cells per vector, OR
    over shared cells) is the recall knob: near-dup pairs are nearly
    coincident points, so they share a nearest-centroid set long
    before unrelated pairs do — tests/test_similarity.py pins measured
    pair recall 1.0 vs brute force at the driver-query parameters,
    which is what lets the exact brute-force SQL oracle apply (the
    q18 LSH methodology). Precision is exact regardless: every emitted
    dup is verified by true cosine.

    100 TB shape: the quadratic stage is per-cell, and SemDeDup's
    design point is that ``nlist`` grows with the corpus so cell
    population stays bounded; centroids (nlist × dim) are the only
    driver-side data. Shuffles: one cell-keyed candidate join, one
    pair dedupe, two id-keyed vector fetch-backs, one groupBy(b) —
    no all-pairs stage anywhere.

    Cross-engine contract: cosine is rounded to 6 decimals before the
    threshold compare (``with_cosine``), the same emission rule as
    q18's oracle."""
    cells, _ = semantic_cells(
        corpus, nlist, nprobe, iters, id_col, vec_col, seed
    )
    a = cells.select("_cell", F.col(id_col).alias("a"))
    b = cells.select("_cell", F.col(id_col).alias("b"))
    pairs = (
        a.join(b, "_cell")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # norms once per VECTOR, not per pair: higher-order-function
    # lambdas are interpreted, so cutting 2 of the 3 aggregate() evals
    # per candidate pair is the rescore hot path (measured 4.2 s →
    # ~1.6 s at 1.5M candidates). Float-identical to with_cosine: the
    # same dot, the same norm doubles, the same division and rounding.
    vecs = corpus.select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col).alias("_v"),
        F.expr(_norm_expr(vec_col)).alias("_n"),
    )
    rejoined = (
        pairs.join(
            vecs.select(
                F.col("_vid").alias("a"),
                F.col("_v").alias("va"),
                F.col("_n").alias("_na"),
            ),
            "a",
        )
        .join(
            vecs.select(
                F.col("_vid").alias("b"),
                F.col("_v").alias("vb"),
                F.col("_n").alias("_nb"),
            ),
            "b",
        )
    )
    dup_pairs = rejoined.withColumn(
        "cosine",
        F.round(
            F.expr(_dot_expr("va", "vb")) / (F.col("_na") * F.col("_nb")), 6
        ),
    ).filter(F.col("cosine") >= threshold)
    dup_of = dup_pairs.groupBy(F.col("b").alias(id_col)).agg(
        F.min("a").alias("dup_of")
    )
    return corpus.select(id_col).join(dup_of, id_col, "left")


def centroid(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Reference centroid: per-dimension mean of an embedding column —
    the broadcast side of ``centroid_drift_monitor``. One partial-agg
    global aggregate; output is a single row of ``dim`` doubles (KBs
    at any corpus size)."""
    return df.agg(
        *[
            F.avg(F.col(vec_col)[i].cast("double")).alias(f"_c{i}")
            for i in range(dim)
        ]
    )


def centroid_drift_monitor(
    df: DataFrame,
    vec_col: str,
    dim: int,
    baseline: DataFrame,
    window: str = "1 minute",
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Per-window embedding-centroid drift vs a reference centroid —
    the alarm that catches an encoder/version change in the embedding
    feed the window it ships (a new model's vectors move the mean;
    cosine to the baseline centroid drops). Works on batch and
    streaming inputs alike; streaming shape is ONE windowed groupBy
    (``dim`` avg aggregates, map-side partials) followed by a
    stateless broadcast join with the 1-row baseline and a pure-
    codegen cosine projection.

    Output per window: ``window_start, n_vecs,
    cos_to_baseline`` (round 6; NULL when either centroid has zero
    norm). State: ``dim`` running means per open window."""
    d = df.withWatermark(ts_col, watermark) if watermark is not None else df
    win = d.groupBy(F.window(F.col(ts_col), window).alias("w")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        *[
            F.avg(F.col(vec_col)[i].cast("double")).alias(f"_m{i}")
            for i in range(dim)
        ],
    )
    # constant-key equi-join instead of a cross join: stream-static
    # cross joins are rejected by the streaming planner
    j = win.withColumn("_k", F.lit(1)).join(
        F.broadcast(baseline.withColumn("_k", F.lit(1))), on="_k"
    )
    dot = sum(F.col(f"_m{i}") * F.col(f"_c{i}") for i in range(dim))
    nw = F.sqrt(sum(F.col(f"_m{i}") * F.col(f"_m{i}") for i in range(dim)))
    nb = F.sqrt(sum(F.col(f"_c{i}") * F.col(f"_c{i}") for i in range(dim)))
    return j.select(
        F.col("w.start").alias("window_start"),
        "n_vecs",
        F.when(
            (nw > 0) & (nb > 0), F.round(dot / (nw * nb), 6)
        ).alias("cos_to_baseline"),
    )


def duckdb_centroid_drift_sql(
    table: str,
    vec_col: str,
    dim: int,
    window_us: int = 60_000_000,
    ts_expr: str = "ts",
) -> str:
    """DuckDB twin of ``centroid_drift_monitor`` with the baseline
    computed over the same table (1-based list indexing; identical
    per-dim averaging, cosine, rounding, and zero-norm NULL rule)."""
    base_cols = ", ".join(
        f"AVG(CAST({vec_col}[{i + 1}] AS DOUBLE)) AS c{i}" for i in range(dim)
    )
    win_cols = ", ".join(
        f"AVG(CAST({vec_col}[{i + 1}] AS DOUBLE)) AS m{i}" for i in range(dim)
    )
    dot = " + ".join(f"w.m{i} * b.c{i}" for i in range(dim))
    nw = " + ".join(f"w.m{i} * w.m{i}" for i in range(dim))
    nb = " + ".join(f"b.c{i} * b.c{i}" for i in range(dim))
    return f"""
        WITH base AS (SELECT {base_cols} FROM {table}),
        win AS (
          SELECT make_timestamp((epoch_us({ts_expr}) // {window_us})
                   * {window_us}) AS window_start,
                 CAST(COUNT(*) AS BIGINT) AS n_vecs,
                 {win_cols}
          FROM {table}
          GROUP BY 1
        )
        SELECT w.window_start, w.n_vecs,
               CASE WHEN sqrt({nw}) > 0 AND sqrt({nb}) > 0
                    THEN ROUND(({dot}) / (sqrt({nw}) * sqrt({nb})), 6)
               END AS cos_to_baseline
        FROM win w, base b
    """
