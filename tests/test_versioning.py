"""Corpus snapshot delta: status assignment, NULL-content hashing,
column-positional fingerprints, and the churn-bounded output."""

import pytest
from pyspark.sql import functions as F

from auto_data_tokenize_spark.operators.versioning import (
    corpus_delta,
    snapshot_hash_expr,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_corpus_delta_statuses(spark):
    old = _mk(spark, [(1, "a", "en"), (2, "b", "en"), (3, "c", "de")])
    new = _mk(spark, [(2, "b", "en"), (3, "CHANGED", "de"), (4, "d", "fr")])
    got = {
        r["doc_id"]: r["status"]
        for r in corpus_delta(old, new, ["text", "lang"]).collect()
    }
    # doc 2 unchanged -> absent; 1 removed, 3 changed, 4 added
    assert got == {1: "removed", 3: "changed", 4: "added"}


def test_corpus_delta_null_vs_empty_and_positional(spark):
    # NULL text != '' text; (NULL,'x') != ('x',NULL) — the sentinel +
    # separator keep the fingerprint positional
    old = _mk(spark, [(1, None, "en"), (2, None, "x"), (3, "s", "en")])
    new = _mk(spark, [(1, "", "en"), (2, "x", None), (3, "s", "en")])
    got = {
        r["doc_id"]: r["status"]
        for r in corpus_delta(old, new, ["text", "lang"]).collect()
    }
    assert got == {1: "changed", 2: "changed"}


def test_corpus_delta_hash_columns_nullability(spark):
    old = _mk(spark, [(1, "a", "en")])
    new = _mk(spark, [(2, "b", "en")])
    rows = {r["doc_id"]: r for r in corpus_delta(old, new, ["text"]).collect()}
    assert rows[1]["new_hash"] is None and rows[1]["old_hash"]
    assert rows[2]["old_hash"] is None and rows[2]["new_hash"]


def test_snapshot_hash_guard():
    with pytest.raises(ValueError, match="non-empty"):
        snapshot_hash_expr([])


def test_corpus_delta_matches_duckdb_twin(spark):
    """The in-test cross-engine check: same synthetic snapshots through
    Spark and the DuckDB twin SQL."""
    import duckdb

    from auto_data_tokenize_spark.operators.versioning import (
        duckdb_corpus_delta_sql,
    )

    rows = [
        (i, None if i % 7 == 0 else f"text {i % 13}", ["en", "de"][i % 2])
        for i in range(60)
    ]
    old = _mk(spark, [r for r in rows if r[0] % 5 != 0])
    new = _mk(
        spark,
        [
            (i, (t + "!" if t is not None and i % 3 == 0 else t), g)
            for (i, t, g) in rows
            if i % 4 != 1
        ],
    )
    got = sorted(
        (r["doc_id"], r["status"], r["old_hash"], r["new_hash"])
        for r in corpus_delta(old, new, ["text", "lang"]).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE snap (doc_id BIGINT, text VARCHAR, lang VARCHAR)"
    )
    con.executemany("INSERT INTO snap VALUES (?, ?, ?)", rows)
    sql = duckdb_corpus_delta_sql(
        "SELECT * FROM snap WHERE doc_id % 5 != 0",
        "SELECT doc_id, CASE WHEN text IS NOT NULL AND doc_id % 3 = 0 "
        "THEN text || '!' ELSE text END AS text, lang "
        "FROM snap WHERE doc_id % 4 != 1",
        ["text", "lang"],
    )
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want and got


def test_snapshot_delta_gate_matches_batch_forward_direction(spark):
    """Batch-applied gate (same plan the stream runs per micro-batch)
    equals corpus_delta minus 'removed'."""
    from auto_data_tokenize_spark.operators.versioning import (
        SnapshotDeltaGate,
    )

    old = _mk(spark, [(1, "a", "en"), (2, "b", "en"), (3, "c", "de")])
    new = _mk(spark, [(2, "b", "en"), (3, "X", "de"), (4, "d", "fr")])
    with SnapshotDeltaGate(old, ["text", "lang"]) as gate:
        got = {
            r["doc_id"]: r["status"] for r in gate.apply(new).collect()
        }
    want = {
        r["doc_id"]: r["status"]
        for r in corpus_delta(old, new, ["text", "lang"]).collect()
        if r["status"] != "removed"
    }
    assert got == want == {3: "changed", 4: "added"}


def test_corpus_delta_separator_injection_cannot_forge(spark):
    """A value containing the \\x1f separator (or the literal NULL
    sentinel) cannot make two different rows hash equal."""
    old = _mk(spark, [(1, "a\x1f", "b"), (2, "<null>", "en")])
    new = _mk(spark, [(1, "a", "\x1fb"), (2, None, "en")])
    got = {
        r["doc_id"]: r["status"]
        for r in corpus_delta(old, new, ["text", "lang"]).collect()
    }
    assert got == {1: "changed", 2: "changed"}


def test_snapshot_delta_gate_rejects_streaming_old(spark):
    from auto_data_tokenize_spark.operators.versioning import (
        SnapshotDeltaGate,
    )

    st = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="BATCH old snapshot"):
        SnapshotDeltaGate(st, ["value"])


def test_incremental_band_index_equals_full_recompute(spark):
    """Evict-and-reband under a delta must be row-identical to the
    from-scratch band recompute over the new snapshot — added, changed,
    removed, NULL-text (no sig row), and unchanged docs all covered."""
    from auto_data_tokenize_spark.operators.dedup import (
        banded_keys,
        minhash_signatures,
    )
    from auto_data_tokenize_spark.operators.versioning import (
        incremental_band_index,
    )

    words = "the quick brown fox jumps over a lazy dog near the old mill"
    old = _mk(
        spark,
        [
            (1, words, "en"),                  # unchanged
            (2, words + " twice told", "en"),  # changed in v2
            (3, "short doc " + words, "en"),   # removed in v2
            (5, None, "en"),                   # NULL text, unchanged
        ],
    ).select("doc_id", "text")
    new = _mk(
        spark,
        [
            (1, words, "en"),
            (2, words + " thrice told", "en"),
            (4, words + " a brand new arrival", "en"),  # added
            (5, None, "en"),
            (6, None, "en"),                   # added with NULL text
        ],
    ).select("doc_id", "text")

    old_index = banded_keys(minhash_signatures(old))
    delta = corpus_delta(old, new, ["text"])
    got = sorted(
        map(tuple, incremental_band_index(old_index, delta, new).collect())
    )
    want = sorted(
        map(tuple, banded_keys(minhash_signatures(new)).collect())
    )
    assert got == want and len(want) == 3 * 16  # docs 1,2,4 band; NULLs don't


def test_incremental_band_index_rejects_wrong_index_shape(spark):
    from auto_data_tokenize_spark.operators.versioning import (
        incremental_band_index,
    )

    docs = _mk(spark, [(1, "a", "en")]).select("doc_id", "text")
    bad = docs.selectExpr("doc_id AS id", "text AS band_key")
    delta = corpus_delta(docs, docs.limit(0), ["text"])
    with pytest.raises(ValueError, match="banded_keys output"):
        incremental_band_index(bad, delta, docs)


def test_incremental_band_index_rebands_only_churn(spark):
    """The signature aggregate must see ONLY churned documents — the
    O(churn) claim: with an empty delta nothing is recomputed and the
    old index passes through byte-identical (even if it disagrees with
    what a recompute would produce, proving no hidden full pass)."""
    from auto_data_tokenize_spark.operators.versioning import (
        incremental_band_index,
    )

    docs = _mk(spark, [(1, "x y z w v u t s r q p o", "en")]).select(
        "doc_id", "text"
    )
    # a deliberately WRONG old index: if any re-banding of unchanged
    # docs happened, the output would differ from this input
    fake = spark.createDataFrame(
        [(1, i, f"fake{i}") for i in range(16)],
        "id long, band_idx int, band_key string",
    )
    empty_delta = corpus_delta(docs, docs, ["text"])
    got = sorted(
        map(tuple, incremental_band_index(fake, empty_delta, docs).collect())
    )
    assert got == sorted(map(tuple, fake.collect()))
