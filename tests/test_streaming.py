"""Structured Streaming end-to-end tests: stream==batch equivalence,
watermark late-data drop, checkpoint kill/resume exactly-once,
stream-stream token-dictionary join."""

import glob
import os
import shutil
import time

import pandas as pd
import pandas.testing as pdt
import pytest
from pyspark.sql import functions as F

from auto_data_tokenize_spark import datagen
from auto_data_tokenize_spark.operators.identify import detections as detections_op
from auto_data_tokenize_spark.operators.windows import infotype_frequencies
from auto_data_tokenize_spark.streaming import pipeline, source
from auto_data_tokenize_spark.streaming.join import token_dictionary_join
from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink


@pytest.fixture(scope="module")
def stream_dir(sf_dir_small, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_in")
    return source.stage_stream_input(
        f"{sf_dir_small}/transcripts.parquet", str(d), n_files=6
    )


def _run(spark, stream_df, tmp, name):
    sink = ExactlyOnceSink(f"{tmp}/{name}_out")
    pipeline.run_to_sink(stream_df, sink, f"{tmp}/{name}_ckpt")
    return sink


def test_stream_tokenize_equals_batch_golden(spark, stream_dir, sf_dir_small, tmp_path):
    st = source.transcripts_stream(spark, stream_dir, max_files_per_trigger=2)
    sink = _run(spark, pipeline.tokenize_stream(st), tmp_path, "tok")
    got = (
        sink.read_committed(spark)
        .select("conv_id", "turn_idx", "text_tok")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    want = pd.read_parquet(f"{sf_dir_small}/tokenized_turns.parquet")[
        ["conv_id", "turn_idx", "text_tok"]
    ].reset_index(drop=True)
    pdt.assert_frame_equal(got, want, check_dtype=False)
    # multi-batch stream → multiple commits, lineage adds up
    assert len(sink.committed_batches()) >= 2
    assert sink.total_rows() == len(want)


def test_exactly_once_redelivery_is_noop(spark, stream_dir, tmp_path):
    st = source.transcripts_stream(spark, stream_dir)
    sink = _run(spark, pipeline.tokenize_stream(st), tmp_path, "redeliver")
    batches = sink.committed_batches()
    rows_before = sink.total_rows()
    # simulate Structured Streaming redelivering the last batch
    df = sink.read_committed(spark)
    sink.foreach_batch(df, batches[-1])
    assert sink.total_rows() == rows_before
    assert sink.committed_batches() == batches


def test_checkpoint_kill_and_resume_no_dupes(spark, sf_dir_small, tmp_path):
    """Feed half the files, run; add the rest; resume from the SAME
    checkpoint into the SAME sink → no duplicates, full coverage."""
    full = pd.read_parquet(f"{sf_dir_small}/transcripts.parquet")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    staged = source.stage_stream_input(
        f"{sf_dir_small}/transcripts.parquet", str(tmp_path / "all"), n_files=6
    )
    chunks = sorted(glob.glob(f"{staged}/*.parquet"))
    for c in chunks[:3]:
        shutil.copy(c, in_dir)

    sink = ExactlyOnceSink(str(tmp_path / "out"))
    ckpt = str(tmp_path / "ckpt")

    st = source.transcripts_stream(spark, in_dir, max_files_per_trigger=1)
    pipeline.run_to_sink(pipeline.tokenize_stream(st), sink, ckpt)
    mid_rows = sink.total_rows()
    assert 0 < mid_rows < len(full)

    # "restart": new query object, same checkpoint, more input
    for c in chunks[3:]:
        shutil.copy(c, in_dir)
    st2 = source.transcripts_stream(spark, in_dir, max_files_per_trigger=1)
    pipeline.run_to_sink(pipeline.tokenize_stream(st2), sink, ckpt)

    out = sink.read_committed(spark)
    assert out.count() == len(full)
    dupes = (
        out.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0


def test_watermark_drops_late_rows(spark, stream_dir, sf_dir_small, tmp_path):
    """Multi-batch stream with a 10-min watermark: late rows (generated
    30-60 min behind) are dropped from the state-store aggregate;
    on-time windows match the batch computation exactly."""
    st = source.transcripts_stream(spark, stream_dir, max_files_per_trigger=1)
    sink = _run(
        spark,
        pipeline.infotype_freq_stream(st, "5 minutes", watermark="10 minutes"),
        tmp_path,
        "freq",
    )
    got = sink.read_committed(spark).toPandas()

    batch_df = spark.read.parquet(f"{sf_dir_small}/transcripts.parquet")
    want = infotype_frequencies(detections_op(batch_df), "5 minutes").toPandas()

    key = ["window_start", "window_end", "info_type"]
    merged = want.merge(got, on=key, how="left", suffixes=("_b", "_s"))
    # streaming never exceeds batch counts and never invents windows
    extra = got.merge(want, on=key, how="left", indicator=True)
    assert (extra["_merge"] == "both").all()
    assert (merged["n_s"].fillna(0) <= merged["n_b"]).all()
    # late data existed → something was dropped
    assert merged["n_s"].fillna(0).sum() < merged["n_b"].sum()
    # but the overwhelming majority of mass is on time
    assert merged["n_s"].fillna(0).sum() > 0.8 * merged["n_b"].sum()


def test_session_stream_emits_closed_sessions(spark, stream_dir, tmp_path):
    st = source.transcripts_stream(spark, stream_dir, max_files_per_trigger=2)
    sink = _run(
        spark,
        pipeline.session_report_stream(st, gap="30 minutes", watermark="10 minutes"),
        tmp_path,
        "sess",
    )
    got = sink.read_committed(spark).toPandas()
    assert len(got) > 0
    assert (got["session_end"] > got["session_start"]).all()
    assert (got["n_detections"] > 0).all()


def test_stream_stream_join_matches_batch(spark, sf_dir_small, tmp_path):
    """Single-trigger stream-stream join == batch join (no state
    eviction inside one micro-batch)."""
    det_in = str(tmp_path / "det_in")
    dict_in = str(tmp_path / "dict_in")
    os.makedirs(det_in)
    os.makedirs(dict_in)
    det_pd = pd.read_parquet(f"{sf_dir_small}/detections.parquet")
    det_pd[["conv_id", "turn_idx", "info_type", "token", "ts"]].to_parquet(
        f"{det_in}/d.parquet", index=False
    )
    shutil.copy(f"{sf_dir_small}/token_dictionary.parquet", f"{dict_in}/t.parquet")

    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType, TimestampType,
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
    sink = _run(spark, joined, tmp_path, "join")
    got = (
        sink.read_committed(spark)
        .orderBy("conv_id", "turn_idx", "token", "dict_ts")
        .toPandas()
    )

    det_b = spark.read.parquet(f"{det_in}/d.parquet")
    dict_b = spark.read.parquet(f"{dict_in}/t.parquet")
    want = (
        token_dictionary_join(det_b, dict_b, interval="10 minutes")
        .orderBy("conv_id", "turn_idx", "token", "dict_ts")
        .toPandas()
    )
    assert len(want) > 0
    pdt.assert_frame_equal(
        got[sorted(got.columns)], want[sorted(want.columns)], check_dtype=False
    )


def test_metrics_listener_records_progress(spark, stream_dir, tmp_path):
    from auto_data_tokenize_spark.streaming.listener import JsonlMetricsListener

    listener = JsonlMetricsListener(str(tmp_path / "metrics"))
    spark.streams.addListener(listener)
    try:
        st = source.transcripts_stream(spark, stream_dir, max_files_per_trigger=3)
        _run(spark, pipeline.tokenize_stream(st), tmp_path, "metrics_run")
        # Listener events ride Spark's async listener bus: the query can
        # finish (awaitTermination returns) before onQueryProgress is
        # delivered to the Python callback. Poll before detaching.
        deadline = time.time() + 30
        lines: list[str] = []
        while time.time() < deadline:
            if os.path.exists(listener.path):
                with open(listener.path) as f:
                    lines = f.readlines()
                if any('"event": "progress"' in ln for ln in lines):
                    break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    assert any('"event": "progress"' in ln for ln in lines)
    assert any('"num_input_rows"' in ln for ln in lines)


def test_sink_compaction_preserves_rows_and_survives_appends(spark, tmp_path):
    """compact() merges all active batches behind an atomic HEAD
    cutover: same rows, one data dir; appends after compaction stay
    visible (positive ids above the floor); a second compaction folds
    everything again."""
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    sink = ExactlyOnceSink(str(tmp_path / "ctab"))
    for b in range(3):
        df = spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "v")
        sink.foreach_batch(df, b)
    assert sink.read_committed(spark).count() == 30
    assert sink.committed_batches() == [0, 1, 2]

    info = sink.compact(spark)
    assert info["compacted_batches"] == 3 and info["rows"] == 30
    assert sink.committed_batches() == [-1]
    got = sorted(r["v"] for r in sink.read_committed(spark).collect())
    assert got == list(range(30))
    import os
    assert not os.path.exists(sink._batch_dir(0))  # retired + GC'd

    # streaming continues: the next micro-batch id keeps increasing
    sink.foreach_batch(
        spark.range(100, 105).withColumnRenamed("id", "v"), 3
    )
    assert sink.committed_batches() == [-1, 3]
    assert sink.read_committed(spark).count() == 35
    assert sink.total_rows() == 35

    info2 = sink.compact(spark)
    assert info2["compacted_batches"] == 2
    assert sink.committed_batches() == [-2]
    assert sink.read_committed(spark).count() == 35

    # single active batch -> compaction is a no-op
    assert sink.compact(spark)["compacted_batches"] == 0


def test_sink_orphan_compacted_marker_is_invisible_without_head(spark, tmp_path):
    """Crash-mid-compaction simulation: a negative (compacted) marker
    published BEFORE the HEAD swap must stay invisible — otherwise
    readers would union the compacted copy with the originals."""
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    sink = ExactlyOnceSink(str(tmp_path / "crash"))
    for b in range(2):
        sink.foreach_batch(spark.range(b * 5, b * 5 + 5).withColumnRenamed("id", "v"), b)
    # simulate: compacted data + marker exist, HEAD swap never happened
    df = sink.read_committed(spark)
    df.write.mode("overwrite").parquet(sink._batch_dir(-1))
    sink._publish(-1, sink._batch_dir(-1))
    assert sink.committed_batches() == [0, 1]  # orphan -1 invisible
    assert sink.read_committed(spark).count() == 10  # no double rows
    # retrying compaction from this state converges cleanly
    info = sink.compact(spark)
    assert info["compacted_batches"] == 2
    assert sink.read_committed(spark).count() == 10


def test_compact_gc_collects_prior_crash_orphans(spark, tmp_path):
    """A batch redelivered AFTER compaction retired it (id <= floor)
    is invisible to readers but used to leak disk forever — compact()
    now GCs such orphans on entry."""
    import os

    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    sink = ExactlyOnceSink(str(tmp_path / "gctab"))
    for b in range(3):
        sink.foreach_batch(spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "v"), b)
    sink.compact(spark)
    assert sink.committed_batches() == [-1]

    # checkpoint redelivery of a retired id: marker was GC'd, so
    # foreach_batch rewrites it — invisible to readers, orphaned on disk
    sink.foreach_batch(spark.range(5).withColumnRenamed("id", "v"), 1)
    assert sink.committed_batches() == [-1]
    assert os.path.exists(sink._batch_dir(1))

    sink.compact(spark)  # GC pass runs even when compaction is a no-op
    assert not os.path.exists(sink._batch_dir(1))
    assert not os.path.exists(sink._commit_path(1))
    assert sink.read_committed(spark).count() == 30


class FakeIcebergAdapter:
    """Hermetic stand-in for the Iceberg catalog (the reference's
    Base64EncodingDlpStub pattern): an in-memory table keyed by row
    identity plus the snapshot-summary list the WAP-lite check reads.
    ``merge`` applies the LITERAL per-row semantics of the statement
    :func:`iceberg_merge_sql` generates — written independently of the
    sink's window-based resolution so the two cross-check each other.
    """

    def __init__(self):
        self.rows: list[dict] = []  # append mode: plain row log
        self.by_key: dict[tuple, dict] = {}  # merge mode: current row per key
        self.snapshots: list[dict] = []  # summaries, newest last
        self.merge_mode = False

    def ensure_available(self, spark):
        pass

    def table_exists(self, spark):
        return bool(self.snapshots)

    def has_batch(self, spark, batch_id):
        return any(
            s.get("adt.batch-id") == str(int(batch_id)) for s in self.snapshots
        )

    def _stamp(self, batch_id):
        self.snapshots.append({"adt.batch-id": str(int(batch_id))})

    def create(self, df, batch_id):
        self.append(df, batch_id)

    def append(self, df, batch_id):
        self.rows.extend(r.asDict() for r in df.collect())
        self._stamp(batch_id)

    def merge(self, spark, source, batch_id, key_cols, version_col):
        self.merge_mode = True
        for r in source.collect():
            s = r.asDict()
            k = tuple(s[c] for c in key_cols)
            t = self.by_key.get(k)
            if t is None:  # WHEN NOT MATCHED THEN INSERT *
                self.by_key[k] = s
            elif s[version_col] > t[version_col] or (
                s[version_col] == t[version_col]
                and s["_adt_batch"] > t["_adt_batch"]
            ):  # WHEN MATCHED AND (<monotone cond>) THEN UPDATE SET *
                self.by_key[k] = s
        self._stamp(batch_id)

    def read(self, spark):
        rows = list(self.by_key.values()) if self.merge_mode else self.rows
        return spark.createDataFrame(pd.DataFrame(rows))


def test_iceberg_append_crash_window_closed(spark, tmp_path, monkeypatch):
    """The round-3/4 documented gap, now CLOSED: a crash after the
    Iceberg commit but before the marker publish must NOT double-append
    on redelivery — the WAP-lite ``adt.batch-id`` snapshot stamp is
    checked before appending."""
    import os as _os

    from auto_data_tokenize_spark.streaming import sink as sink_mod

    fake = FakeIcebergAdapter()
    sink = sink_mod.ExactlyOnceSink(
        str(tmp_path / "ice"),
        use_iceberg=True,
        iceberg_table="cat.db.t",
        iceberg_adapter=fake,
    )
    df = spark.range(10).withColumnRenamed("id", "v")

    real_replace = _os.replace
    calls = {"n": 0}

    def crash_once(a, b):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("simulated crash before marker publish")
        return real_replace(a, b)

    monkeypatch.setattr(sink_mod.os, "replace", crash_once)
    with pytest.raises(OSError, match="simulated crash"):
        sink.foreach_batch(df, 7)
    # Iceberg committed, local marker did not
    assert len(fake.rows) == 10 and not sink.is_committed(7)

    sink.foreach_batch(df, 7)  # checkpoint redelivery
    assert len(fake.rows) == 10  # NO duplicate append
    assert sink.is_committed(7)
    assert sink.read_committed(spark).count() == 10

    sink.foreach_batch(df, 8)  # a genuinely new batch still appends
    assert len(fake.rows) == 20


def test_iceberg_upsert_merge_exactly_once(spark, tmp_path):
    """Upsert mode over Iceberg: MERGE INTO with the monotone
    (version, batch) condition. Redelivery is a no-op, ties break to
    the later batch, tombstones delete at read but keep suppressing
    late lower-version replays, and the resolved table equals the
    parquet commit-log sink fed the same batches."""
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    def mk(rows):
        return spark.createDataFrame(rows, "k string, v int, ver long, del boolean")

    batches = [
        (0, mk([("a", 1, 1, False), ("b", 1, 1, False)])),
        # update a, insert c, tombstone b; within-batch dupe for a
        (1, mk([("a", 2, 2, False), ("a", 99, 1, False),
                ("c", 1, 1, False), ("b", None, 2, True)])),
        # late LOWER-version replay for b must not resurrect it
        (2, mk([("b", 7, 1, False)])),
    ]

    fake = FakeIcebergAdapter()
    ice = ExactlyOnceSink(
        str(tmp_path / "ice"),
        use_iceberg=True,
        iceberg_table="cat.db.t",
        key_cols=("k",),
        version_col="ver",
        tombstone_col="del",
        iceberg_adapter=fake,
    )
    pq_sink = ExactlyOnceSink(
        str(tmp_path / "pq"),
        key_cols=("k",),
        version_col="ver",
        tombstone_col="del",
    )
    for bid, df in batches:
        ice.foreach_batch(df, bid)
        pq_sink.foreach_batch(df, bid)
    # checkpoint redelivery of every batch: markers dedupe, and even
    # with markers wiped the MERGE condition itself is a no-op
    for bid, df in batches:
        ice.foreach_batch(df, bid)
    os.unlink(ice._commit_path(1))
    ice.foreach_batch(batches[1][1], 1)

    got = {
        (r["k"], r["v"], r["ver"])
        for r in ice.read_committed(spark).collect()
    }
    assert got == {("a", 2, 2), ("c", 1, 1)}  # b tombstoned, a updated
    want = {
        (r["k"], r["v"], r["ver"])
        for r in pq_sink.read_committed(spark).collect()
    }
    assert got == want  # mode equivalence on identical input
    assert "_adt_batch" not in ice.read_committed(spark).columns


def test_iceberg_merge_sql_shape():
    """Pin the generated MERGE statement: null-safe key equality and
    the strictly-monotone update condition that makes redelivery a
    structural no-op."""
    from auto_data_tokenize_spark.streaming.sink import iceberg_merge_sql

    sql = iceberg_merge_sql("cat.db.t", "src_v", ("k1", "k2"), "ver")
    assert "MERGE INTO cat.db.t t USING src_v s" in sql
    assert "ON t.k1 <=> s.k1 AND t.k2 <=> s.k2" in sql
    assert (
        "WHEN MATCHED AND (s.ver > t.ver OR "
        "(s.ver = t.ver AND s._adt_batch > t._adt_batch)) "
        "THEN UPDATE SET *" in sql
    )
    assert "WHEN NOT MATCHED THEN INSERT *" in sql


def test_stream_rollup_matches_batch_twin(spark, tmp_path):
    """Chained stateful aggregations (5-min -> hourly) in one streaming
    query must equal the batch twin on watermark-closed hours."""
    import os

    import pandas as pd

    from auto_data_tokenize_spark import datagen
    from auto_data_tokenize_spark.operators.windows import infotype_rollup
    from auto_data_tokenize_spark.streaming import pipeline
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType, TimestampType

    d = datagen.ensure_sf("sf0.001")
    det_in = str(tmp_path / "det")
    os.makedirs(det_in)
    pd.read_parquet(f"{d}/detections.parquet")[["info_type", "ts"]].to_parquet(
        f"{det_in}/d.parquet", index=False
    )
    schema = StructType(
        [StructField("info_type", StringType()), StructField("ts", TimestampType())]
    )
    st = spark.readStream.schema(schema).parquet(det_in)
    sink = ExactlyOnceSink(str(tmp_path / "out"))
    pipeline.run_to_sink(
        infotype_rollup(st, watermark="10 minutes"),
        sink,
        str(tmp_path / "ckpt"),
        shuffle_partitions=4,
    )
    got = sink.read_committed(spark)

    batch = spark.read.schema(schema).parquet(det_in)
    final_wm = batch.agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm")
    ).first()["wm"]
    want = infotype_rollup(batch).filter(F.col("window_end") <= final_wm)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert got.count() > 0


def test_near_dup_gate_invariant_to_microbatch_slicing(spark, tmp_path):
    """The ingest gate's decisions are per-document, so splitting the
    same input across several triggers must flag exactly the same doc
    set as one big trigger (exactly-once sink dedupes redeliveries,
    not semantics)."""
    import os

    from auto_data_tokenize_spark.operators.dedup import (
        NearDupGate,
        banded_keys,
        minhash_signatures,
    )
    from auto_data_tokenize_spark.streaming import pipeline
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus_banded = banded_keys(minhash_signatures(docs))

    incoming = docs.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.when(F.col("doc_id") % 2 == 0, F.col("text")).otherwise(
            F.concat(F.lit("fresh unseen words entirely novel "), F.col("doc_id").cast("string"))
        ).alias("text"),
    )
    in_dir = str(tmp_path / "gate_in")
    incoming.repartition(6).write.parquet(in_dir)

    def run(max_files, tag):
        st = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", max_files)
            .parquet(in_dir)
        )
        with NearDupGate(corpus_banded) as gate:
            sink = ExactlyOnceSink(str(tmp_path / f"out_{tag}"))
            pipeline.run_to_sink(gate.apply(st), sink, str(tmp_path / f"ckpt_{tag}"))
            return {
                r["id"]
                for r in sink.read_committed(spark).select("id").distinct().collect()
            }

    single = run(100, "single")   # one trigger
    sliced = run(2, "sliced")     # several micro-batches
    assert single == sliced and len(single) > 0


def test_split_assign_is_mode_agnostic(spark, tmp_path):
    """split_assign is a stateless projection, so it applies to a
    streaming micro-batch unchanged and agrees with the batch twin —
    the corpus-assembly ops drop into a continuous ingest pipeline."""
    from auto_data_tokenize_spark.operators.corpus import split_assign

    rows = [(i, f"doc number {i} with some words") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    in_dir = str(tmp_path / "split_in")
    docs.repartition(5).write.parquet(in_dir)

    batch = {
        (r["doc_id"], r["split"])
        for r in split_assign(spark.read.parquet(in_dir)).collect()
    }

    st = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(in_dir)
    )
    got = set()
    q = (
        split_assign(st)
        .select("doc_id", "split")
        .writeStream.foreachBatch(
            lambda df, _eid: got.update(
                (r["doc_id"], r["split"]) for r in df.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "split_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert got == batch and len(got) == 300


# -- upsert (merge-on-read) mode ----------------------------------------------


def test_upsert_sink_resolves_latest_per_key(spark, tmp_path):
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    sink = ExactlyOnceSink(
        str(tmp_path / "t"), key_cols=("k",), version_col="v"
    )
    b0 = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (1, 11, "a2")], "k int, v int, val string"
    )
    b1 = spark.createDataFrame(
        [(2, 20, "b2"), (3, 5, "c")], "k int, v int, val string"
    )
    sink.foreach_batch(b0, 0)
    sink.foreach_batch(b1, 1)
    got = {r["k"]: (r["v"], r["val"]) for r in sink.read_committed(spark).collect()}
    assert got == {1: (11, "a2"), 2: (20, "b2"), 3: (5, "c")}

    # redelivery of an already-committed batch is a no-op
    sink.foreach_batch(b0, 0)
    again = {r["k"]: (r["v"], r["val"]) for r in sink.read_committed(spark).collect()}
    assert again == got


def test_upsert_version_tie_broken_by_batch_id(spark, tmp_path):
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    sink = ExactlyOnceSink(
        str(tmp_path / "t"), key_cols=("k",), version_col="v"
    )
    sink.foreach_batch(
        spark.createDataFrame([(1, 7, "old")], "k int, v int, val string"), 0
    )
    sink.foreach_batch(
        spark.createDataFrame([(1, 7, "new")], "k int, v int, val string"), 1
    )
    rows = sink.read_committed(spark).collect()
    assert len(rows) == 1 and rows[0]["val"] == "new"


def test_upsert_compaction_is_the_merge(spark, tmp_path):
    """compact() materializes the resolved view; reads after it (and
    after FURTHER appends) still resolve correctly."""
    import os

    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    path = str(tmp_path / "t")
    sink = ExactlyOnceSink(path, key_cols=("k",), version_col="v")
    for b, rows in enumerate(
        [[(1, 1, "x1"), (2, 1, "y1")], [(1, 2, "x2")], [(2, 3, "y3")]]
    ):
        sink.foreach_batch(
            spark.createDataFrame(rows, "k int, v int, val string"), b
        )
    sink.compact(spark)
    got = {r["k"]: r["val"] for r in sink.read_committed(spark).collect()}
    assert got == {1: "x2", 2: "y3"}
    # superseded versions are physically gone after the merge
    compacted = spark.read.parquet(os.path.join(path, "data", "batch_id=-1"))
    assert compacted.count() == 2
    # appends after compaction still win on higher version
    sink.foreach_batch(
        spark.createDataFrame([(1, 9, "x9")], "k int, v int, val string"), 3
    )
    got = {r["k"]: r["val"] for r in sink.read_committed(spark).collect()}
    assert got == {1: "x9", 2: "y3"}


def test_upsert_tombstone_deletes_key(spark, tmp_path):
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    sink = ExactlyOnceSink(
        str(tmp_path / "t"),
        key_cols=("k",),
        version_col="v",
        tombstone_col="del",
    )
    sink.foreach_batch(
        spark.createDataFrame(
            [(1, 1, "a", False), (2, 1, "b", False)],
            "k int, v int, val string, del boolean",
        ),
        0,
    )
    sink.foreach_batch(
        spark.createDataFrame(
            [(1, 2, None, True)], "k int, v int, val string, del boolean"
        ),
        1,
    )
    assert {r["k"] for r in sink.read_committed(spark).collect()} == {2}
    # the delete survives compaction (key physically dropped)
    sink.compact(spark)
    assert {r["k"] for r in sink.read_committed(spark).collect()} == {2}


def test_upsert_mode_guards(tmp_path):
    import pytest as _pytest

    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    with _pytest.raises(ValueError, match="BOTH key_cols and version_col"):
        ExactlyOnceSink(str(tmp_path / "a"), key_cols=("k",))
    with _pytest.raises(ValueError, match="BOTH key_cols and version_col"):
        ExactlyOnceSink(str(tmp_path / "b"), version_col="v")
    with _pytest.raises(ValueError, match="tombstone_col requires"):
        ExactlyOnceSink(str(tmp_path / "c"), tombstone_col="del")
    with _pytest.raises(ValueError, match="requires use_iceberg"):
        ExactlyOnceSink(str(tmp_path / "d"), iceberg_adapter=FakeIcebergAdapter())


def test_sink_schema_evolution(spark, tmp_path):
    """merge_schema=True: a later batch may ADD columns; reads union
    schemas with NULLs for old batches, and upsert resolution still
    works across the evolution boundary."""
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    sink = ExactlyOnceSink(
        str(tmp_path / "t"),
        key_cols=("k",),
        version_col="v",
        merge_schema=True,
    )
    sink.foreach_batch(
        spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], "k int, v int, val string"), 0
    )
    sink.foreach_batch(
        spark.createDataFrame(
            [(1, 2, "a2", "extra")], "k int, v int, val string, note string"
        ),
        1,
    )
    got = {r["k"]: (r["val"], r["note"]) for r in sink.read_committed(spark).collect()}
    assert got == {1: ("a2", "extra"), 2: ("b", None)}
    # compaction carries the evolved schema forward
    sink.compact(spark)
    got = {r["k"]: (r["val"], r["note"]) for r in sink.read_committed(spark).collect()}
    assert got == {1: ("a2", "extra"), 2: ("b", None)}


def test_upsert_tombstone_survives_compaction_vs_replay(spark, tmp_path):
    """The LSM delete hazard: compaction must RETAIN the winning
    tombstone so a late/replayed LOWER-version update cannot
    resurrect the deleted key."""
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    sink = ExactlyOnceSink(
        str(tmp_path / "t"), key_cols=("k",), version_col="v",
        tombstone_col="del",
    )
    schema = "k int, v int, val string, del boolean"
    sink.foreach_batch(spark.createDataFrame([(1, 1, "a", False)], schema), 0)
    sink.foreach_batch(spark.createDataFrame([(1, 2, None, True)], schema), 1)
    sink.compact(spark)
    # CDC redelivery of the OLD (v=1) update after the delete compacted
    sink.foreach_batch(spark.createDataFrame([(1, 1, "a", False)], schema), 2)
    assert sink.read_committed(spark).filter("k = 1").count() == 0


def test_upsert_rejects_internal_column_collisions(spark, tmp_path):
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    sink = ExactlyOnceSink(str(tmp_path / "t"), key_cols=("k",), version_col="v")
    bad = spark.createDataFrame([(1, 1, 5)], "k int, v int, batch_id int")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="collide with upsert-mode"):
        sink.foreach_batch(bad, 0)


def test_upsert_sink_kill_and_resume(spark, tmp_path):
    """North-rule resumability for the upsert mode: drain half the
    update log, then resume from the SAME checkpoint into the SAME
    sink — the final resolved state must equal a single uninterrupted
    run (no duplicate keys, latest versions win across the restart)."""
    import pandas as _pd

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    # ordered update log: two updates per key, second halves carry
    # higher versions for half the keys
    rows = [(k, v, f"val-{k}-{v}") for k in range(20) for v in (1, 2)]
    pdf = _pd.DataFrame(rows, columns=["k", "v", "val"])
    first = pdf[pdf.v == 1]                      # every key at v1
    second = pdf[(pdf.v == 2) & (pdf.k % 2 == 0)]  # even keys updated
    first.to_parquet(f"{in_dir}/a.parquet")

    sink = ExactlyOnceSink(
        str(tmp_path / "out"), key_cols=("k",), version_col="v"
    )
    ckpt = str(tmp_path / "ckpt")

    def run():
        st = (
            spark.readStream.schema("k long, v long, val string")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        pipeline.run_to_sink(st, sink, ckpt)

    run()
    mid = {r["k"]: r["v"] for r in sink.read_committed(spark).collect()}
    assert len(mid) == 20  # every key present after the first drain
    second.to_parquet(f"{in_dir}/b.parquet")
    run()  # resume from the same checkpoint
    got = {(r["k"], r["v"]) for r in sink.read_committed(spark).collect()}
    want = {(k, 2 if k % 2 == 0 else 1) for k in range(20)}
    assert got == want


def test_stream_fpe_deidentify_roundtrips(spark, stream_dir, sf_dir_small, tmp_path):
    """Streaming free-form FPE deidentify (q77 shape): every committed
    masked turn must re-identify back to the original text, and turns
    containing a detectable span must actually have been rewritten
    (the surrogate annotation is present in the masked stream)."""
    from auto_data_tokenize_spark.operators.deidentify import (
        fpe_cipher_for,
        fpe_reidentify_udf,
    )

    cfg = {"radix": 95, "surrogateInfoType": {"name": "ADT_TOKEN"}}
    st = source.transcripts_stream(spark, stream_dir, max_files_per_trigger=2)
    sink = _run(
        spark,
        pipeline.deidentify_stream(
            st, {"cryptoReplaceFfxFpeConfig": dict(cfg)}
        ),
        tmp_path,
        "fpe",
    )
    committed = sink.read_committed(spark)
    cipher = fpe_cipher_for("text", cfg)
    got = (
        committed.select(
            "conv_id",
            "turn_idx",
            F.col("masked").contains("ADT_TOKEN(").alias("annotated"),
            fpe_reidentify_udf(cipher, "ADT_TOKEN")(F.col("masked")).alias(
                "text"
            ),
        )
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    want = (
        pd.read_parquet(f"{sf_dir_small}/transcripts.parquet")[
            ["conv_id", "turn_idx", "text"]
        ]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pdt.assert_frame_equal(
        got[["conv_id", "turn_idx", "text"]], want, check_dtype=False
    )
    # the masked stream is genuinely rewritten, not a pass-through
    assert bool(got["annotated"].any())
    assert len(sink.committed_batches()) >= 2


def test_ingest_admission_pipeline_resume_no_dupes(spark, tmp_path):
    """The composed quality→near-dup→decontamination admission chain
    (q82 shape) across a checkpoint restart: drain half the crawl,
    resume into the SAME sink, and the admitted set must equal one
    uninterrupted run — the per-batch anti-join admission must not
    double-admit or re-admit on redelivery."""
    import pandas as _pd

    from auto_data_tokenize_spark.operators.dedup import (
        banded_keys,
        minhash_signatures,
    )
    from auto_data_tokenize_spark.streaming.ingest import (
        IngestAdmissionPipeline,
    )

    corpus = spark.createDataFrame(
        [(i, f"the corpus already holds document {i} with these exact words")
         for i in range(10)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "held out evaluation question about the meaning of life")],
        "doc_id long, text string",
    )
    banded = banded_keys(minhash_signatures(corpus))

    def crawl_row(i):
        m = i % 4
        if m == 0:  # re-crawl — rejected by the near-dup gate
            return f"the corpus already holds document {i % 10} with these exact words"
        if m == 1:  # novel — admitted
            return f"an entirely new page number {i} with plenty of fresh readable words"
        if m == 2:  # contaminated — rejected by decontamination
            return f"prefix {i} held out evaluation question about the meaning of life"
        return f"junk {i}"  # rejected by quality

    rows = [(1000 + i, crawl_row(i)) for i in range(40)]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    pdf = _pd.DataFrame(rows, columns=["doc_id", "text"])
    first, second = pdf.iloc[:20], pdf.iloc[20:]
    first.to_parquet(f"{in_dir}/a.parquet", index=False)

    sink = ExactlyOnceSink(str(tmp_path / "out"))
    ckpt = str(tmp_path / "ckpt")

    def run():
        st = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        with IngestAdmissionPipeline(banded, ev, sink) as pipe:
            pipeline.run_to_sink(st, pipe, ckpt)

    run()
    mid = {r["doc_id"] for r in sink.read_committed(spark).collect()}
    assert mid == {1000 + i for i in range(20) if i % 4 == 1}
    second.to_parquet(f"{in_dir}/b.parquet", index=False)
    run()  # resume from the same checkpoint
    got = {r["doc_id"] for r in sink.read_committed(spark).collect()}
    assert got == {1000 + i for i in range(40) if i % 4 == 1}
    # no duplicate admissions across the restart
    n = sink.read_committed(spark).count()
    assert n == len(got)


def test_fluency_gate_resume_no_dupes(spark, tmp_path):
    """Streaming LM fluency gate (q87 shape) across a checkpoint
    restart: fluent docs (trained vocabulary) pass, OOV gibberish is
    rejected, and resuming into the same sink must not double-admit."""
    import pandas as _pd

    from auto_data_tokenize_spark.operators.lm import train_stupid_backoff
    from auto_data_tokenize_spark.streaming.ingest import FluencyGate

    corpus = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(8)],
        "doc_id long, text string",
    )
    lm = train_stupid_backoff(corpus)

    def crawl_row(i):
        if i % 2 == 0:  # fluent — trigram hits everywhere
            return "the quick brown fox jumps over the lazy dog"
        return f"zq{i} glorp wibble frub nix"  # OOV — rejected

    rows = [(1000 + i, crawl_row(i)) for i in range(20)]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    pdf = _pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf.iloc[:10].to_parquet(f"{in_dir}/a.parquet", index=False)

    sink = ExactlyOnceSink(str(tmp_path / "out"))
    ckpt = str(tmp_path / "ckpt")

    def run():
        st = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        # -3.0 sits between the fluent docs (~-0.25: trigram hits
        # everywhere) and the OOV docs (~-6.3: with only 72 training
        # tokens the unseen half-count floor is ln(0.5/72) ~ -5, far
        # higher than at corpus scale) for this tiny model
        with FluencyGate(lm, sink, min_avg_logp=-3.0) as gate:
            pipeline.run_to_sink(st, gate, ckpt)

    run()
    mid = {r["doc_id"] for r in sink.read_committed(spark).collect()}
    assert mid == {1000 + i for i in range(10) if i % 2 == 0}
    pdf.iloc[10:].to_parquet(f"{in_dir}/b.parquet", index=False)
    run()  # resume from the same checkpoint
    rows_out = sink.read_committed(spark).collect()
    ids = {r["doc_id"] for r in rows_out}
    assert ids == {1000 + i for i in range(20) if i % 2 == 0}
    assert len(rows_out) == len(ids)
    # the sink carries the audit columns: every admitted row scored
    # with full trigram hits for interior positions
    assert all(r["n_hit3"] == r["n_tokens"] - 2 for r in rows_out)


def test_boilerplate_gate_resume_no_dupes(spark, tmp_path):
    """Streaming boilerplate-span gate (q93 shape) across a checkpoint
    restart: pages that are mostly known site-chrome are rejected,
    content-heavy pages pass, and resuming into the same sink must
    not double-admit."""
    import pandas as _pd

    from auto_data_tokenize_spark.operators.lines import (
        duplicated_window_hashes,
    )
    from auto_data_tokenize_spark.streaming.ingest import BoilerplateGate

    chrome = "accept all cookies and our terms of service to continue"
    body = "a genuinely unique sentence about topic number {} here"
    corpus = spark.createDataFrame(
        [(i, f"{chrome} {body.format(i)}") for i in range(6)],
        "doc_id long, text string",
    )
    census = duplicated_window_hashes(corpus, k=4, min_docs=2)

    def crawl_row(i):
        if i % 2 == 0:  # chrome-only page: fully covered -> rejected
            return chrome
        # chrome + a long unique tail: coverage < 0.5 -> admitted
        tail = " ".join(f"w{i}x{j}" for j in range(20))
        return f"{chrome} {tail}"

    rows = [(1000 + i, crawl_row(i)) for i in range(20)]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    pdf = _pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf.iloc[:10].to_parquet(f"{in_dir}/a.parquet", index=False)

    sink = ExactlyOnceSink(str(tmp_path / "out"))
    ckpt = str(tmp_path / "ckpt")

    def run():
        st = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        with BoilerplateGate(
            census, sink, max_covered_frac=0.5, k=4
        ) as gate:
            pipeline.run_to_sink(st, gate, ckpt)

    run()
    mid = {r["doc_id"] for r in sink.read_committed(spark).collect()}
    assert mid == {1000 + i for i in range(10) if i % 2 == 1}
    pdf.iloc[10:].to_parquet(f"{in_dir}/b.parquet", index=False)
    run()  # resume from the same checkpoint
    rows_out = sink.read_committed(spark).collect()
    ids = {r["doc_id"] for r in rows_out}
    assert ids == {1000 + i for i in range(20) if i % 2 == 1}
    assert len(rows_out) == len(ids)
    # audit columns: the chrome prefix (10 tokens, all covered by
    # 4-token census windows) over a 30-token page
    assert all(r["n_tokens"] == 30 and r["n_covered"] == 10 for r in rows_out)


def test_boilerplate_gate_validates_threshold(spark, tmp_path):
    from auto_data_tokenize_spark.streaming.ingest import BoilerplateGate

    census = spark.createDataFrame([("x",)], "window_hash string")
    sink = ExactlyOnceSink(str(tmp_path / "o"))
    with pytest.raises(ValueError, match="max_covered_frac"):
        BoilerplateGate(census, sink, max_covered_frac=1.5)
    with pytest.raises(ValueError, match="k must"):
        BoilerplateGate(census, sink, max_covered_frac=0.5, k=1)


def test_dsir_gate_resume_no_dupes(spark, tmp_path):
    """Streaming DSIR gate (q95 shape) across a checkpoint restart:
    target-like docs pass, off-target docs are rejected, and resuming
    into the same sink must not double-admit."""
    import pandas as _pd

    from auto_data_tokenize_spark.operators.dsir import (
        dsir_default_ratio_micro6,
        dsir_log_ratios,
    )
    from auto_data_tokenize_spark.streaming.ingest import DsirGate

    raw = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(4)]
        + [(10 + i, "omega psi chi phi") for i in range(4)],
        "doc_id long, text string",
    )
    tgt = raw.where("doc_id < 4")
    ratios = dsir_log_ratios(raw, tgt, n_buckets=64)
    default = dsir_default_ratio_micro6(raw, tgt, n_buckets=64).first()[0]

    def crawl_row(i):
        return (
            "alpha beta gamma delta" if i % 2 == 0
            else "omega psi chi phi"
        )

    rows = [(1000 + i, crawl_row(i)) for i in range(20)]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    pdf = _pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf.iloc[:10].to_parquet(f"{in_dir}/a.parquet", index=False)

    sink = ExactlyOnceSink(str(tmp_path / "out"))
    ckpt = str(tmp_path / "ckpt")

    def run():
        st = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        with DsirGate(
            ratios, default, sink, min_avg_ratio_micro6=0, n_buckets=64
        ) as gate:
            pipeline.run_to_sink(st, gate, ckpt)

    run()
    mid = {r["doc_id"] for r in sink.read_committed(spark).collect()}
    assert mid == {1000 + i for i in range(10) if i % 2 == 0}
    pdf.iloc[10:].to_parquet(f"{in_dir}/b.parquet", index=False)
    run()  # resume from the same checkpoint
    rows_out = sink.read_committed(spark).collect()
    ids = {r["doc_id"] for r in rows_out}
    assert ids == {1000 + i for i in range(20) if i % 2 == 0}
    assert len(rows_out) == len(ids)
    # target-like docs carry a strictly positive integer weight
    assert all(r["logw_micro6"] > 0 and r["n_grams"] == 7 for r in rows_out)


def test_nb_quality_gate_admits_what_batch_score_keeps(spark, tmp_path):
    """Streaming Naive-Bayes gate (q101 shape) through ``run_to_sink``:
    the admitted ids are exactly the ids a batch ``score_nb`` filter
    keeps at the same threshold, the runner returns one progress
    record per micro-batch, and leaving the gate releases the model
    tables it persisted."""
    import pandas as _pd

    from auto_data_tokenize_spark.operators.quality_clf import (
        score_nb,
        train_nb,
    )
    from auto_data_tokenize_spark.streaming.ingest import NbQualityGate

    labeled = spark.createDataFrame(
        [
            (i, "the quick brown fox reads good clean prose", True)
            if i % 2 == 0
            else (i, "click here buy now spam spam casino offer", False)
            for i in range(40)
        ],
        "doc_id long, text string, label boolean",
    )
    model = train_nb(labeled)

    texts = [
        "good clean prose about the brown fox",
        "buy now casino offer click here",
        "the fox reads spam",
        "clean prose click here",
        "words the model never saw",
    ]
    rows = [(1000 + i, texts[i % len(texts)]) for i in range(20)]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    pdf = _pd.DataFrame(rows, columns=["doc_id", "text"])
    for k in range(2):
        p = f"{in_dir}/part-{k}.parquet"
        pdf.iloc[k * 10 : (k + 1) * 10].to_parquet(p, index=False)
        os.utime(p, (1000 + k, 1000 + k))
    st = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    sink = ExactlyOnceSink(str(tmp_path / "out"))
    with NbQualityGate(model, sink, min_score_micro6=0) as gate:
        progress = pipeline.run_to_sink(st, gate, str(tmp_path / "ckpt"))
        assert model.ratios.is_cached and model.defaults.is_cached
    assert not model.ratios.is_cached and not model.defaults.is_cached

    got = [r["doc_id"] for r in sink.read_committed(spark).collect()]
    batch = spark.createDataFrame(pdf)
    want = {
        r["doc_id"]
        for r in score_nb(batch, model).collect()
        if r["score_micro6"] >= 0
    }
    assert sorted(got) == sorted(want)
    assert 0 < len(want) < len(rows)
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    assert [p["batchId"] for p in data_batches] == [0, 1]
    assert all("addBatch" in p["durationMs"] for p in data_batches)


def test_run_to_sink_gate_failure_raises_and_restores_conf(spark, tmp_path):
    """A gate whose ``admit`` raises inside a micro-batch: the runner
    re-raises with the original message, the sink commits no batch,
    and the per-query shuffle-partition setting does not leak into
    the session."""
    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    from auto_data_tokenize_spark.streaming.ingest import AdmissionGate

    class FailingGate(AdmissionGate):
        def __init__(self, sink):
            self.sink = sink

        def admit(self, batch_df):
            raise ValueError("admit failed on purpose")

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    pd.DataFrame({"doc_id": [1, 2], "text": ["a b", "c d"]}).to_parquet(
        f"{in_dir}/a.parquet", index=False
    )
    st = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    sink = ExactlyOnceSink(str(tmp_path / "out"))
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with FailingGate(sink) as gate:
        with _pytest.raises(
            StreamingQueryException, match="admit failed on purpose"
        ):
            pipeline.run_to_sink(
                st, gate, str(tmp_path / "ckpt"), shuffle_partitions=3
            )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert sink.committed_batches() == []


def test_stage_stream_input_clears_stale_chunks(spark, tmp_path):
    """A rerun that writes FEWER chunks must not leave the previous
    dataset's tail for the file source to replay (silent
    double-counting); unknown arrival_order values fail loudly."""
    import glob

    import pandas as pd
    import pytest as _pytest

    from auto_data_tokenize_spark.streaming import source

    src = str(tmp_path / "src.parquet")
    pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(16)],
            "ts": pd.date_range("2026-01-01", periods=16, freq="min"),
        }
    ).to_parquet(src, index=False)
    out = str(tmp_path / "staged")
    source.stage_stream_input(src, out, n_files=8)
    assert len(glob.glob(f"{out}/chunk-*.parquet")) == 8
    source.stage_stream_input(src, out, n_files=2)
    files = glob.glob(f"{out}/chunk-*.parquet")
    assert len(files) == 2
    total = sum(len(pd.read_parquet(f)) for f in files)
    assert total == 16  # exactly one copy of the dataset remains
    with _pytest.raises(ValueError, match="arrival_order"):
        source.stage_stream_input(src, out, arrival_order="shuffled")


def test_metrics_listener_records_termination_exception(tmp_path):
    """A crashed query must be distinguishable from a clean stop in
    progress.jsonl (regression: event.exception was dropped)."""
    import json
    import types

    from auto_data_tokenize_spark.streaming.listener import (
        JsonlMetricsListener,
    )

    listener = JsonlMetricsListener(str(tmp_path / "m"))
    ev = types.SimpleNamespace(
        id="q-1", exception="boom: executor lost", errorClassOnException=None
    )
    listener.onQueryTerminated(ev)
    clean = types.SimpleNamespace(id="q-2", exception=None)
    listener.onQueryTerminated(clean)
    recs = [
        json.loads(line)
        for line in open(listener.path).read().splitlines()
    ]
    assert recs[0]["exception"] == "boom: executor lost"
    assert "exception" not in recs[1]


def test_trending_tokens_stream_matches_batch_twin(spark, tmp_path):
    """Windowed trending-token counts must accumulate across micro-
    batches (the threshold is reachable only by summing two triggers'
    contributions within one window), honor the NULL/empty-text
    contract, and emit only watermark-closed windows."""
    import os

    import pandas as pd

    from auto_data_tokenize_spark.streaming.pipeline import (
        trending_tokens_stream,
    )
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink
    from auto_data_tokenize_spark.streaming import pipeline
    from pyspark.sql import functions as F

    t0 = pd.Timestamp("2026-01-01")
    rows = []
    # window [0,1min): 'spam' 2x in file A + 2x in file B -> only the
    # cross-batch sum clears min_count=4; 'rare' stays below
    rows += [(1, "spam spam rare", t0), (2, None, t0 + pd.Timedelta(seconds=10))]
    rows += [(3, "spam  spam", t0 + pd.Timedelta(seconds=20)), (4, "", t0 + pd.Timedelta(seconds=30))]
    # window [1,2min): closes the first window past the watermark
    rows += [(5, "quiet words only", t0 + pd.Timedelta(seconds=70))]
    # window [2,3min): above the final watermark -> never emits even
    # though 'hot' clears the threshold
    rows += [(6, "hot hot hot hot hot", t0 + pd.Timedelta(seconds=130))]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")

    staged = str(tmp_path / "in")
    os.makedirs(staged)
    for k, (lo, hi) in enumerate([(0, 2), (2, 4), (4, 6)]):
        p = f"{staged}/part-{k}.parquet"
        pdf.iloc[lo:hi].to_parquet(p, index=False)
        os.utime(p, (1000 + k, 1000 + k))

    st = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    sink = ExactlyOnceSink(str(tmp_path / "out"))
    pipeline.run_to_sink(
        trending_tokens_stream(st, min_count=4, watermark="30 seconds"),
        sink,
        str(tmp_path / "ckpt"),
        shuffle_partitions=4,
    )
    got = {
        (r["window_start"], r["token"], r["n"])
        for r in sink.read_committed(spark).collect()
    }
    assert got == {(t0.to_pydatetime(), "spam", 4)}

    # batch twin: same op on the batch frame + final-watermark filter
    batch = spark.read.schema("doc_id long, text string, ts timestamp").parquet(staged)
    final_wm = batch.agg(
        (F.max("ts") - F.expr("INTERVAL 30 SECONDS")).alias("wm")
    ).first()["wm"]
    want = {
        (r["window_start"], r["token"], r["n"])
        for r in trending_tokens_stream(batch, min_count=4)
        .filter(F.col("window_start") + F.expr("INTERVAL 1 MINUTE") <= F.lit(final_wm))
        .collect()
    }
    assert got == want


def test_trending_tokens_validates_min_count(spark):
    import pytest as _pytest

    from auto_data_tokenize_spark.streaming.pipeline import (
        trending_tokens_stream,
    )

    st = spark.readStream.format("rate").load()
    with _pytest.raises(ValueError, match="min_count"):
        trending_tokens_stream(st, min_count=0)


def _quota_run(spark, staged, tmp_base, max_files):
    from auto_data_tokenize_spark.streaming.ingest import source_quota_stream
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink
    from auto_data_tokenize_spark.streaming import pipeline

    st = (
        spark.readStream.schema("doc_id long, source string, ts timestamp")
        .option("maxFilesPerTrigger", max_files)
        .parquet(staged)
    )
    sink = ExactlyOnceSink(f"{tmp_base}/out{max_files}")
    pipeline.run_to_sink(
        source_quota_stream(st, quota=2),
        sink,
        f"{tmp_base}/ckpt{max_files}",
        shuffle_partitions=4,
    )
    return {
        (r["window_start"], r["source"], r["doc_id"], r["rank"])
        for r in sink.read_committed(spark).collect()
    }


def test_source_quota_gate_invariant_to_slicing_and_matches_twin(spark, tmp_path):
    """Cross-batch quota state: a (window, source) group split across
    triggers admits exactly the same docs as one big trigger, and both
    equal the batch row_number() twin."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    t0 = pd.Timestamp("2026-01-01")
    # 5 docs of source A and 3 of B inside one window, arriving in id
    # order across 4 files; quota=2 admits A:{0,1} B:{2,4} only
    rows = [
        (0, "A"), (1, "A"), (2, "B"), (3, "A"),
        (4, "B"), (5, "A"), (6, "B"), (7, "A"),
        # second window: A gets a fresh budget
        (70, "A"), (71, "A"), (72, "A"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "source"])
    pdf["ts"] = (t0.to_datetime64() + pd.to_timedelta(pdf["doc_id"], unit="s")).astype(
        "datetime64[us]"
    )
    staged = str(tmp_path / "in")
    os.makedirs(staged)
    for k in range(4):
        p = f"{staged}/part-{k}.parquet"
        pdf.iloc[k * 3 : (k + 1) * 3].to_parquet(p, index=False)
        os.utime(p, (1000 + k, 1000 + k))

    sliced = _quota_run(spark, staged, str(tmp_path), 1)
    one_shot = _quota_run(spark, staged, str(tmp_path), 4)
    assert sliced == one_shot

    batch = spark.read.schema("doc_id long, source string, ts timestamp").parquet(staged)
    from pyspark.sql.window import Window

    w = Window.partitionBy(
        F.window("ts", "1 minute")["start"], "source"
    ).orderBy("ts", "doc_id")
    want = {
        (r["window_start"], r["source"], r["doc_id"], r["rank"])
        for r in batch.select(
            F.window("ts", "1 minute")["start"].alias("window_start"),
            "source",
            "doc_id",
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= 2)
        .collect()
    }
    assert sliced == want
    admitted_ids = {d for (_, _, d, _) in sliced}
    assert admitted_ids == {0, 1, 2, 4, 70, 71}


def test_source_quota_validates_quota(spark):
    import pytest as _pytest

    from auto_data_tokenize_spark.streaming.ingest import source_quota_stream

    st = spark.readStream.format("rate").load()
    with _pytest.raises(ValueError, match="quota"):
        source_quota_stream(st, quota=0)


def test_stratified_reservoir_order_invariant_and_matches_batch(spark, tmp_path):
    """The maintained bottom-k sample must equal the batch
    stratified_sample regardless of arrival order or slicing, with
    CDC slot changes resolved by the upsert sink's merge-on-read."""
    import os

    import pandas as pd

    from auto_data_tokenize_spark.operators.corpus import stratified_sample
    from auto_data_tokenize_spark.streaming.ingest import (
        stratified_reservoir_stream,
    )
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink
    from auto_data_tokenize_spark.streaming import pipeline

    pdf = pd.DataFrame(
        {"doc_id": range(40), "lang": ["en", "de"] * 20}
    )

    def run(order, tag):
        staged = str(tmp_path / f"in{tag}")
        os.makedirs(staged)
        arranged = pdf.iloc[order].reset_index(drop=True)
        for k in range(4):
            p = f"{staged}/part-{k}.parquet"
            arranged.iloc[k * 10 : (k + 1) * 10].to_parquet(p, index=False)
            os.utime(p, (1000 + k, 1000 + k))
        st = (
            spark.readStream.schema("doc_id long, lang string")
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )
        sink = ExactlyOnceSink(
            str(tmp_path / f"out{tag}"),
            key_cols=("lang", "slot"),
            version_col="version",
        )
        pipeline.run_to_sink(
            stratified_reservoir_stream(st, ["lang"], n_per_stratum=3),
            sink,
            str(tmp_path / f"ckpt{tag}"),
            shuffle_partitions=4,
        )
        return {
            (r["lang"], r["slot"], r["doc_id"])
            for r in sink.read_committed(spark).collect()
        }

    forward = run(list(range(40)), "f")
    backward = run(list(range(39, -1, -1)), "b")
    assert forward == backward

    docs = spark.createDataFrame(pdf, "doc_id long, lang string")
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    order_key = F.md5(F.concat(F.lit("adt-strat-v1:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(order_key, "doc_id")
    want = {
        (r["lang"], r["slot"], r["doc_id"])
        for r in stratified_sample(docs, ["lang"], n_per_stratum=3)
        .withColumn("slot", F.row_number().over(w).cast("long"))
        .select("lang", "slot", "doc_id")
        .collect()
    }
    assert forward == want and len(want) == 6


def test_stratified_reservoir_validates_args(spark):
    import pytest as _pytest

    from auto_data_tokenize_spark.streaming.ingest import (
        stratified_reservoir_stream,
    )

    st = spark.readStream.format("rate").load()
    with _pytest.raises(ValueError, match="n_per_stratum"):
        stratified_reservoir_stream(st, ["lang"], n_per_stratum=0)
    with _pytest.raises(ValueError, match="strata"):
        stratified_reservoir_stream(st, [], n_per_stratum=3)


def test_distinct_tokens_stream_matches_batch_twin(spark, tmp_path):
    """Chained stateful aggs: per-window distinct-token counts must
    accumulate vocabulary across micro-batches and emit only
    watermark-closed windows."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from auto_data_tokenize_spark.streaming.pipeline import (
        distinct_tokens_stream,
    )
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink
    from auto_data_tokenize_spark.streaming import pipeline

    t0 = pd.Timestamp("2026-01-01")
    rows = [
        (1, "alpha beta", t0),                                # batch 1
        (2, "beta gamma", t0 + pd.Timedelta(seconds=20)),     # batch 2, same window
        (3, None, t0 + pd.Timedelta(seconds=25)),
        (4, "closer words here", t0 + pd.Timedelta(seconds=70)),
        # advances the final watermark to 160s: closes [60,120) but
        # leaves its own window [180,240) open
        (5, "open window stays", t0 + pd.Timedelta(seconds=190)),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    staged = str(tmp_path / "in")
    os.makedirs(staged)
    for k, (lo, hi) in enumerate([(0, 1), (1, 3), (3, 5)]):
        p = f"{staged}/part-{k}.parquet"
        pdf.iloc[lo:hi].to_parquet(p, index=False)
        os.utime(p, (1000 + k, 1000 + k))

    st = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    sink = ExactlyOnceSink(str(tmp_path / "out"))
    pipeline.run_to_sink(
        distinct_tokens_stream(st, watermark="30 seconds"),
        sink,
        str(tmp_path / "ckpt"),
        shuffle_partitions=4,
    )
    got = {
        (r["window_start"], r["n_distinct_tokens"], r["n_tokens"], r["ttr"])
        for r in sink.read_committed(spark).collect()
    }
    # window 0: alpha beta beta gamma -> 3 distinct / 4 tokens (vocab
    # merged across two micro-batches); window at 190s never closes
    assert got == {
        (t0.to_pydatetime(), 3, 4, 0.75),
        (
            (t0 + pd.Timedelta(seconds=60)).to_pydatetime(),
            3,
            3,
            1.0,
        ),
    }

    batch = spark.read.schema("doc_id long, text string, ts timestamp").parquet(staged)
    final_wm = batch.agg(
        (F.max("ts") - F.expr("INTERVAL 30 SECONDS")).alias("wm")
    ).first()["wm"]
    want = {
        (r["window_start"], r["n_distinct_tokens"], r["n_tokens"], r["ttr"])
        for r in distinct_tokens_stream(batch)
        .filter(F.col("window_start") + F.expr("INTERVAL 1 MINUTE") <= F.lit(final_wm))
        .collect()
    }
    assert got == want


def test_dataset_card_stream_resolves_to_batch_aggregate(spark, tmp_path):
    """Running totals across micro-batches, resolved by the upsert
    sink, must equal the batch per-stratum aggregate; NULL text counts
    the doc but contributes no tokens; an all-NULL stratum keeps NULL
    totals."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from auto_data_tokenize_spark.streaming.pipeline import dataset_card_stream
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink
    from auto_data_tokenize_spark.streaming import pipeline

    rows = [
        (1, "en", "s1", "one two three"),
        (2, "en", "s1", None),
        (3, "en", "s2", "four"),
        (4, "de", "s1", "funf sechs"),
        (5, "en", "s1", "seven eight nine ten"),
        (6, "xx", "s9", None),   # all-NULL stratum
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "lang", "source", "text"])
    staged = str(tmp_path / "in")
    os.makedirs(staged)
    for k in range(3):
        p = f"{staged}/part-{k}.parquet"
        pdf.iloc[k * 2 : (k + 1) * 2].to_parquet(p, index=False)
        os.utime(p, (1000 + k, 1000 + k))

    st = (
        spark.readStream.schema("doc_id long, lang string, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    sink = ExactlyOnceSink(
        str(tmp_path / "out"), key_cols=("lang", "source"), version_col="version"
    )
    pipeline.run_to_sink(
        dataset_card_stream(st),
        sink,
        str(tmp_path / "ckpt"),
        shuffle_partitions=4,
    )
    got = {
        (r["lang"], r["source"], r["n_docs"], r["total_tokens"], r["max_tokens"])
        for r in sink.read_committed(spark).collect()
    }
    assert got == {
        ("en", "s1", 3, 7, 4),
        ("en", "s2", 1, 1, 1),
        ("de", "s1", 1, 2, 2),
        ("xx", "s9", 1, None, None),
    }


def test_asof_enrich_gate_matches_batch_and_rejects_streaming_dim(spark, tmp_path):
    """Per-micro-batch as-of enrichment must equal the batch as-of
    join over the same events."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from auto_data_tokenize_spark.operators.asof import asof_join
    from auto_data_tokenize_spark.streaming.ingest import AsofEnrichGate
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink

    t0 = pd.Timestamp("2026-01-01")
    ev = pd.DataFrame(
        {
            "event_id": range(8),
            "user_id": [1, 1, 2, 2, 1, 2, 3, 1],
            "ts": [
                (t0 + pd.Timedelta(hours=h)).to_datetime64()
                for h in [0, 5, 2, 9, 12, 26, 1, 30]
            ],
        }
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    staged = str(tmp_path / "in")
    os.makedirs(staged)
    for k in range(4):
        p = f"{staged}/part-{k}.parquet"
        ev.iloc[k * 2 : (k + 1) * 2].to_parquet(p, index=False)
        os.utime(p, (1000 + k, 1000 + k))

    # dim: users 1 and 2 have versions at hours 1 and 24; user 3 none
    dim = spark.createDataFrame(
        [
            (1, (t0 + pd.Timedelta(hours=1)).to_pydatetime(), 10),
            (1, (t0 + pd.Timedelta(hours=24)).to_pydatetime(), 11),
            (2, (t0 + pd.Timedelta(hours=1)).to_pydatetime(), 20),
            (2, (t0 + pd.Timedelta(hours=24)).to_pydatetime(), 21),
        ],
        "user_id long, vts timestamp, tier long",
    )

    st = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    sink = ExactlyOnceSink(str(tmp_path / "out"))
    with AsofEnrichGate(dim, sink, on="user_id", right_cols=["tier"]) as gate:
        pipeline.run_to_sink(st, gate, str(tmp_path / "ckpt"))
    got = {
        (r["event_id"], r["vts_asof"], r["tier_asof"])
        for r in sink.read_committed(spark).collect()
    }

    batch = spark.read.schema("event_id long, user_id long, ts timestamp").parquet(staged)
    want = {
        (r["event_id"], r["vts_asof"], r["tier_asof"])
        for r in asof_join(
            batch, dim, on="user_id", right_ts="vts", right_cols=["tier"], how="left"
        ).collect()
    }
    assert got == want and len(got) == 8
    # event 0 (hour 0) precedes user 1's first version; user 3 has no dim
    by_event = {e: (v, t) for e, v, t in got}
    assert by_event[0] == (None, None) and by_event[6] == (None, None)
    assert by_event[7][1] == 11  # hour 30 -> the hour-24 version

    import pytest as _pytest

    rate = spark.readStream.format("rate").load()
    with _pytest.raises(ValueError, match="BATCH dimension"):
        AsofEnrichGate(rate, sink, on="user_id")


def test_assemble_sessions_stream_order_and_null_contract(spark, tmp_path):
    """Sessions spanning micro-batches must assemble in (ts, turn_idx)
    order regardless of within-batch arrival order; an all-NULL-text
    session assembles NULL, and open sessions never emit."""
    import os

    import pandas as pd

    from auto_data_tokenize_spark.streaming.pipeline import (
        assemble_sessions_stream,
    )
    from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink
    from auto_data_tokenize_spark.streaming import pipeline

    t0 = pd.Timestamp("2026-01-01")
    mk = lambda m: (t0 + pd.Timedelta(minutes=m)).to_datetime64()
    rows = [
        # conv A session 1: turns at 0, 5, 10 min (batch order scrambled
        # within each file); session closes via the 90-min turn
        ("A", 1, "hello", mk(5)),
        ("A", 0, "well", mk(0)),
        ("A", 2, "there", mk(10)),
        # conv B: all-NULL-text session at 0-2 min
        ("B", 0, None, mk(0)),
        ("B", 1, None, mk(2)),
        # late activity closes the early sessions, stays open itself
        ("A", 3, "new session", mk(90)),
        ("B", 2, "fresh", mk(95)),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    # an all-None slice would otherwise infer INT32 for text
    pdf["text"] = pdf["text"].astype("string")
    staged = str(tmp_path / "in")
    os.makedirs(staged)
    for k, (lo, hi) in enumerate([(0, 3), (3, 5), (5, 7)]):
        p = f"{staged}/part-{k}.parquet"
        pdf.iloc[lo:hi].to_parquet(p, index=False)
        os.utime(p, (1000 + k, 1000 + k))

    st = (
        spark.readStream.schema(
            "conv_id string, turn_idx long, text string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    sink = ExactlyOnceSink(str(tmp_path / "out"))
    pipeline.run_to_sink(
        assemble_sessions_stream(st, gap="30 minutes", watermark="10 minutes"),
        sink,
        str(tmp_path / "ckpt"),
        shuffle_partitions=4,
    )
    got = {
        (r["conv_id"], r["n_turns"], r["text"])
        for r in sink.read_committed(spark).collect()
    }
    # final watermark = 95min - 10 = 85min: both early sessions closed
    # (ends 40min / 32min), both 90+ sessions open
    assert got == {("A", 3, "well hello there"), ("B", 2, None)}
