"""Similarity search: exact brute-force top-k, LSH ANN recall,
embedding near-dups."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from auto_data_tokenize_spark.operators import similarity

DIM = 16


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(200, DIM)).astype(np.float32)
    vecs[5] = vecs[0] + rng.normal(scale=0.01, size=DIM).astype(np.float32)  # near-dup of 0
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def queries(spark, corpus):
    return (
        corpus.filter(F.col("vec_id") < 3)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )


def test_exact_topk_self_is_rank1(spark, corpus, queries):
    out = similarity.cosine_topk(corpus, queries, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert rows[0]["vec_id"] == q
        assert rows[0]["cosine"] == 1.0
        assert len(rows) == 5
    # near-dup planted at 5 must be #2 for query 0
    assert by_q[0][1]["vec_id"] == 5


def test_topk_matches_numpy(spark, corpus, queries):
    got = similarity.cosine_topk(corpus, queries, k=3).collect()
    emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in corpus.collect()}
    for q in range(3):
        qv = emb[q]
        sims = sorted(
            ((round(float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv))), 6), i)
             for i, v in emb.items()),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        want = [i for _, i in sims]
        have = [r["vec_id"] for r in sorted(
            (x for x in got if x["query_id"] == q), key=lambda r: r["rank"])]
        assert have == want, q


def test_lsh_ann_recall(spark, corpus, queries):
    exact = similarity.cosine_topk(corpus, queries, k=5).collect()
    approx = similarity.lsh_ann_topk(
        corpus, queries, k=5, dim=DIM, n_planes=8
    ).collect()
    # every query finds itself (same bucket trivially)
    self_hits = {r["query_id"] for r in approx if r["vec_id"] == r["query_id"]}
    assert self_hits == {0, 1, 2}
    # sane recall vs exact (same-bucket pruning loses some, not all)
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    assert len(exact_set & approx_set) >= 3


def test_embedding_near_dups(spark, corpus):
    out = similarity.embedding_near_dups(
        corpus, threshold=0.99, dim=DIM, n_planes=8
    ).collect()
    assert any((r["a"], r["b"]) == (0, 5) for r in out)
    for r in out:
        assert r["cosine"] >= 0.99


def test_q18_multi_table_lsh_recall_is_exact(spark):
    """At the q18 parameters (24 tables × 10 planes, threshold 0.9) the
    LSH near-dup pipeline must find EXACTLY the brute-force pairs on
    the sf0.01 corpus — this measured-recall=1.0 property is what
    licenses q18's exact SQL oracle."""
    import os

    sf = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf}/embeddings.parquet"):
        pytest.skip("driver testdata not present")
    import __spark_entry__ as em

    aug = em._augmented_embeddings(spark, sf)
    a = aug.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    b = aug.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    brute = {
        (r["a"], r["b"])
        for r in similarity.with_cosine(
            a.crossJoin(b).filter(F.col("a") < F.col("b")), "va", "vb"
        )
        .filter(F.col("cosine") >= 0.9)
        .collect()
    }
    lsh = {
        (r["a"], r["b"])
        for r in em.q18_embedding_near_dups(spark, sf).collect()
    }
    assert len(brute) >= 20  # the planted pairs exist
    assert lsh == brute      # recall 1.0, precision exact


def test_multi_table_beats_single_table_recall(spark, corpus):
    """OR-amplification sanity: with few planes per table, adding
    tables can only add candidate pairs (superset recall)."""
    single = {
        (r["a"], r["b"])
        for r in similarity.embedding_near_dups(
            corpus, threshold=0.9, dim=DIM, n_planes=6, n_tables=1
        ).collect()
    }
    multi = {
        (r["a"], r["b"])
        for r in similarity.embedding_near_dups(
            corpus, threshold=0.9, dim=DIM, n_planes=6, n_tables=8
        ).collect()
    }
    assert single <= multi
    assert (0, 5) in multi  # the planted near-dup


def test_ivf_topk_self_and_planted_recall(spark, corpus, queries):
    """IVF ANN: every query's own vector lands in its nearest-centroid
    cell (self always found); the planted near-dup of 0 shares 0's
    neighborhood; results are deterministic (md5-seeded Lloyd)."""
    rows = similarity.ivf_topk(corpus, queries, k=5, nlist=8, nprobe=3).collect()
    self_hits = {r["query_id"] for r in rows if r["vec_id"] == r["query_id"]}
    assert self_hits == {0, 1, 2}
    q0 = [r["vec_id"] for r in sorted(
        (x for x in rows if x["query_id"] == 0), key=lambda r: r["rank"])]
    assert q0[0] == 0 and 5 in q0  # planted near-dup found

    exact = similarity.cosine_topk(corpus, queries, k=5).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in rows}
    assert len(exact_set & approx_set) / len(exact_set) >= 0.3  # sanity floor

    again = {(r["query_id"], r["vec_id"], r["rank"]) for r in
             similarity.ivf_topk(corpus, queries, k=5, nlist=8, nprobe=3).collect()}
    assert again == {(r["query_id"], r["vec_id"], r["rank"]) for r in rows}


def test_scoring_is_jvm_side(spark, corpus, queries):
    plan = (
        similarity.cosine_topk(corpus, queries, k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the scoring crossJoin stage must not invoke Python
    assert "BatchEvalPython" not in plan


def test_semantic_dedup_small_plants(spark, corpus):
    """Greedy keep-min-id policy: the planted near-copy of vec 0
    (vec 5, cos ≈ 1) must carry dup_of=0; everything else in the
    i.i.d. corpus survives."""
    out = {
        r["vec_id"]: r["dup_of"]
        for r in similarity.semantic_dedup(
            corpus, threshold=0.95, nlist=8, nprobe=4
        ).collect()
    }
    assert out[5] == 0
    assert sum(v is not None for v in out.values()) == 1
    assert len(out) == 200


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_q96_semantic_recall_is_exact(spark, sf):
    """At the q96 parameters (nlist=64, nprobe=4, threshold 0.9) the
    cell-blocked pipeline must mark EXACTLY the brute-force dup set at
    BOTH gate scale factors — the measured-recall=1.0 property that
    licenses q96's exact SQL oracle (same methodology as q18's)."""
    import os

    if not os.path.exists(f"{sf}/embeddings.parquet"):
        pytest.skip("driver testdata not present")
    import __spark_entry__ as em

    aug = em._augmented_embeddings(spark, sf)
    a = aug.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    b = aug.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    pairs = (
        similarity.with_cosine(
            a.crossJoin(b).filter(F.col("a") < F.col("b")), "va", "vb"
        )
        .filter(F.col("cosine") >= 0.9)
        .collect()
    )
    want = {}
    for r in pairs:
        want[r["b"]] = min(want.get(r["b"], r["a"]), r["a"])
    got = {
        r["vec_id"]: r["dup_of"]
        for r in em.q96_semantic_dedup(spark, sf).collect()
    }
    assert len(want) >= 20  # planted dups exist on this corpus
    for vid, d in got.items():
        assert d == want.get(vid, -1)


def test_stream_semantic_gate_matches_batch(spark, tmp_path):
    """The streaming admission decision equals the batch NOT-EXISTS
    twin: rejected arrivals are exactly those with a corpus near-dup."""
    import numpy as np

    from auto_data_tokenize_spark.streaming import pipeline
    from auto_data_tokenize_spark.streaming.ingest import SemanticDedupGate
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    rng = np.random.default_rng(11)
    base = rng.normal(size=(120, DIM)).astype(np.float64)
    corpus_df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    # arrivals: 3 near-copies of corpus rows (rejected), 3 fresh (admitted)
    arr = []
    for j, src in enumerate([0, 7, 33]):
        arr.append((1000 + j, [float(x) for x in base[src] * 1.01]))
    fresh = rng.normal(size=(3, DIM))
    for j in range(3):
        arr.append((2000 + j, [float(x) for x in fresh[j]]))
    import pandas as pd

    pdf = pd.DataFrame(arr, columns=["vec_id", "embedding"])
    in_dir = str(tmp_path / "in")
    import os as _os

    _os.makedirs(in_dir)
    pdf.iloc[:3].to_parquet(f"{in_dir}/a.parquet", index=False)
    pdf.iloc[3:].to_parquet(f"{in_dir}/b.parquet", index=False)
    _os.utime(f"{in_dir}/a.parquet", (1, 1))
    _os.utime(f"{in_dir}/b.parquet", (2, 2))
    st = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    sink = ExactlyOnceSink(str(tmp_path / "out"))
    with SemanticDedupGate(
        corpus_df, sink, threshold=0.99, nlist=8, nprobe=4
    ) as gate:
        pipeline.run_to_sink(st, gate, str(tmp_path / "ckpt"))
    got = sorted(
        r["vec_id"] for r in sink.read_committed(spark).collect()
    )
    assert got == [2000, 2001, 2002]


def test_semantic_dedup_empty_corpus(spark):
    """Zero centroids must degenerate to an empty result, not a
    0-row-matmul crash (the DSIR empty-input posture)."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert similarity.semantic_dedup(empty).count() == 0


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_q98_gate_recall_matches_not_exists_oracle(spark, sf):
    """q98's probe configuration (nlist=16, nprobe=4, threshold 0.9)
    must admit EXACTLY the arrivals with no >= 0.9 corpus partner
    (brute force over corpus pairs) at both gate scale factors — the
    measured-recall property that licenses its NOT-EXISTS SQL oracle."""
    import os

    if not os.path.exists(f"{sf}/embeddings.parquet"):
        pytest.skip("driver testdata not present")
    import __spark_entry__ as em

    aug = em._augmented_embeddings(spark, sf)
    corpus = aug.filter(F.col("vec_id") < 1000000)
    arrivals = aug.filter(F.col("vec_id") >= 1000000)
    rejected = {
        r["a"]
        for r in similarity.with_cosine(
            arrivals.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
            .crossJoin(
                corpus.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
            ),
            "va",
            "vb",
        )
        .filter(F.col("cosine") >= 0.9)
        .select("a")
        .distinct()
        .collect()
    }
    want = sorted(
        r["vec_id"] for r in arrivals.select("vec_id").collect()
        if r["vec_id"] not in rejected
    )
    got = sorted(
        r["vec_id"] for r in em.q98_stream_semantic_gate(spark, sf).collect()
    )
    assert 0 < len(want) < 50  # both gate outcomes exercised
    assert got == want


def test_nprobe_one_and_single_vector_corpus(spark, corpus, queries):
    """min(nprobe, nlist) == 1 must yield an ARRAY cell column
    everywhere it is exploded (regression: the scalar-int UDF return
    made semantic_cells / ivf_topk die with an AnalysisException at
    nprobe=1 or on a single-vector corpus); nprobe=0 fails loudly."""
    rows = similarity.ivf_topk(
        corpus, queries, k=1, nlist=8, nprobe=1
    ).collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    for r in rows:  # self shares its own probe cell -> rank 1
        assert r["vec_id"] == r["query_id"] and r["rank"] == 1
    one = corpus.limit(1)
    cells, cents = similarity.semantic_cells(one, nlist=4, nprobe=4)
    assert len(cents) == 1 and cells.count() == 1
    with pytest.raises(ValueError, match="nprobe"):
        similarity.semantic_cells(corpus, nprobe=0)
    with pytest.raises(ValueError, match="nprobe"):
        similarity.ivf_topk(corpus, queries, nprobe=0)


def test_stream_semantic_gate_nprobe_one_and_zero(spark, tmp_path):
    """The streaming gate at nprobe=1 (and over a single-centroid
    corpus) must run, not AnalysisException; nprobe=0 — which would
    silently admit EVERYTHING — must raise at construction."""
    from auto_data_tokenize_spark.streaming.ingest import SemanticDedupGate
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    rng = np.random.default_rng(5)
    base = rng.normal(size=(1, DIM)).astype(np.float64)
    corpus_df = spark.createDataFrame(
        [(0, [float(x) for x in base[0]])],
        "vec_id long, embedding array<double>",
    )
    sink = ExactlyOnceSink(str(tmp_path / "out"))
    with pytest.raises(ValueError, match="nprobe"):
        SemanticDedupGate(corpus_df, sink, nprobe=0)
    fresh = rng.normal(size=DIM)
    batch = spark.createDataFrame(
        [
            (100, [float(x) for x in base[0] * 1.01]),  # near-copy
            (200, [float(x) for x in fresh]),           # fresh
        ],
        "vec_id long, embedding array<double>",
    )
    with SemanticDedupGate(
        corpus_df, sink, threshold=0.99, nlist=4, nprobe=1
    ) as gate:
        got = sorted(r["vec_id"] for r in gate.admit(batch).collect())
    assert got == [200]


def test_centroid_drift_monitor_exact(spark):
    """Hand-checked cosines: a window whose mean equals the baseline
    direction scores 1.0; an orthogonal window scores 0.0; an all-zero
    window yields NULL (zero-norm rule)."""
    import datetime as dt

    from auto_data_tokenize_spark.operators.similarity import (
        centroid,
        centroid_drift_monitor,
    )

    t0 = dt.datetime(2026, 1, 1)
    base_src = spark.createDataFrame(
        [([1.0, 0.0],), ([1.0, 0.0],)], "embedding array<float>"
    )
    base = centroid(base_src, "embedding", 2)

    df = spark.createDataFrame(
        [
            ([2.0, 0.0], t0),                                 # parallel
            ([0.0, 1.0], t0 + dt.timedelta(minutes=1)),       # orthogonal
            ([0.0, 0.0], t0 + dt.timedelta(minutes=2)),       # zero norm
        ],
        "embedding array<float>, ts timestamp",
    )
    out = {
        r["window_start"].minute: (r["n_vecs"], r["cos_to_baseline"])
        for r in centroid_drift_monitor(df, "embedding", 2, base).collect()
    }
    assert out[0] == (1, 1.0)
    assert out[1] == (1, 0.0)
    assert out[2] == (1, None)


def test_centroid_drift_is_jvm_side(spark):
    from auto_data_tokenize_spark.operators.similarity import (
        centroid,
        centroid_drift_monitor,
    )

    df = spark.createDataFrame(
        [([1.0, 2.0], __import__("datetime").datetime(2026, 1, 1))],
        "embedding array<float>, ts timestamp",
    )
    plan = (
        centroid_drift_monitor(df, "embedding", 2, centroid(df, "embedding", 2))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
