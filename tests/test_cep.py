"""CEP escalation operator: applyInPandasWithState streaming twin must
match the declarative batch plan."""

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from auto_data_tokenize_spark.streaming import cep, pipeline, source
from auto_data_tokenize_spark.streaming.sink import ExactlyOnceSink


@pytest.fixture(scope="module")
def det_small(spark, sf_dir_small):
    return spark.read.parquet(f"{sf_dir_small}/detections.parquet")


def test_batch_alert_semantics(spark):
    rows = [
        ("c1", "EMAIL_ADDRESS", "2026-01-01 00:00:00"),
        ("c1", "EMAIL_ADDRESS", "2026-01-01 00:01:00"),
        ("c1", "PHONE_NUMBER", "2026-01-01 00:02:00"),
        ("c1", "CREDIT_CARD_NUMBER", "2026-01-01 00:05:00"),  # 3rd distinct → alert
        ("c1", "US_SOCIAL_SECURITY_NUMBER", "2026-01-01 00:06:00"),
        ("c2", "EMAIL_ADDRESS", "2026-01-01 00:00:00"),       # never reaches 3
        ("c2", "PHONE_NUMBER", "2026-01-01 00:01:00"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, info_type string, s string")
    df = df.withColumn("ts", F.col("s").cast("timestamp")).drop("s")
    out = cep.escalation_alerts_batch(df, min_distinct=3).collect()
    assert len(out) == 1
    r = out[0]
    assert r["conv_id"] == "c1"
    assert str(r["alert_ts"]) == "2026-01-01 00:05:00"
    assert r["n_info_types"] == 3


def test_stream_matches_batch_single_trigger(spark, det_small, tmp_path):
    det_in = str(tmp_path / "in")
    os.makedirs(det_in)
    src = det_small.toPandas()
    src["ts"] = src["ts"].astype("datetime64[us]")
    src.to_parquet(f"{det_in}/d.parquet", index=False)

    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType, TimestampType,
    )
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
    alerts = cep.escalation_alerts_stream(st, min_distinct=3)
    sink = ExactlyOnceSink(str(tmp_path / "out"))
    pipeline.run_to_sink(alerts, sink, str(tmp_path / "ckpt"))
    got = (
        sink.read_committed(spark).orderBy("conv_id").toPandas()
    )
    want = (
        cep.escalation_alerts_batch(det_small, min_distinct=3)
        .orderBy("conv_id")
        .toPandas()
    )
    assert len(want) > 0
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True)[sorted(got.columns)],
        want.reset_index(drop=True)[sorted(want.columns)],
        check_dtype=False,
    )


@pytest.mark.parametrize(
    "conv, active, shared",
    [("a", "wm", False), ("a", "c5", True)],
    ids=["own_bucket", "shared_bucket"],
)
def test_stream_state_expires_after_retention(
    spark, tmp_path, conv, active, shared
):
    """Event-time state expiry: a conversation idle past
    last-activity + retention loses its seen-infoType set (a later
    detection starts a FRESH count), while recently-active state is
    kept. Five micro-batches in three query runs against one checkpoint:

      b1: conv sees 2 distinct infoTypes; active drives the watermark
      b2/b3: only active's activity, 5h later → b3 runs under a
             watermark past conv's last activity + 1h → conv's state
             is dropped in b3
      b4: conv's 3rd distinct infoType arrives → does NOT complete
          the stale pair (fresh count = 1, no alert)
      b5: conv gets 2 more distinct infoTypes quickly → fresh count
          reaches 3 → exactly one alert, at the b5 crossing time
          (proves b4's state was fresh AND was retained into b5)

    State is keyed by conv_id hash bucket. In ``own_bucket`` conv's
    bucket gets no data in b3 and is evicted by its timeout. In
    ``shared_bucket`` active's rows land in conv's bucket, so conv is
    evicted inside a bucket invocation that has data. That is why
    b2–b4 share one run: each follows the last directly as a data
    batch, with no no-data batch between them whose timeout would
    evict conv first."""
    buckets = {
        r["c"]: r["b"]
        for r in spark.createDataFrame([(conv,), (active,)], "c string")
        .select("c", F.pmod(F.xxhash64("c"), F.lit(cep.STATE_BUCKETS)).alias("b"))
        .collect()
    }
    assert (buckets[conv] == buckets[active]) == shared
    in_dir = str(tmp_path / "in3")
    os.makedirs(in_dir)
    sink = ExactlyOnceSink(str(tmp_path / "out3"))
    ckpt = str(tmp_path / "ckpt3")
    schema = "conv_id string, info_type string, ts timestamp"

    stamp = [int(time.time())]

    def run_batch(*batches):
        # one query run; each staged file is one micro-batch, taken in
        # modification-time order
        for name, rows in batches:
            pdf = pd.DataFrame(rows, columns=["conv_id", "info_type", "ts"])
            pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
            path = f"{in_dir}/{name}.parquet"
            pdf.to_parquet(path, index=False)
            stamp[0] += 1
            os.utime(path, (stamp[0], stamp[0]))
        st = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        pipeline.run_to_sink(
            cep.escalation_alerts_stream(
                st, min_distinct=3, watermark="10 minutes", retention="1 hour"
            ),
            sink,
            ckpt,
        )

    run_batch(("b1", [
        (conv, "EMAIL_ADDRESS", "2026-01-01 00:00:00"),
        (conv, "PHONE_NUMBER", "2026-01-01 00:01:00"),
        (active, "EMAIL_ADDRESS", "2026-01-01 00:00:00"),
    ]))
    run_batch(
        ("b2", [(active, "EMAIL_ADDRESS", "2026-01-01 05:00:00")]),
        ("b3", [(active, "EMAIL_ADDRESS", "2026-01-01 05:01:00")]),
        ("b4", [(conv, "US_SOCIAL_SECURITY_NUMBER", "2026-01-01 06:00:00")]),
    )
    assert sink.read_committed(spark).count() == 0  # stale pair NOT completed

    run_batch(("b5", [
        (conv, "EMAIL_ADDRESS", "2026-01-01 06:01:00"),
        (conv, "PHONE_NUMBER", "2026-01-01 06:02:00"),
    ]))
    out = sink.read_committed(spark).toPandas()
    assert len(out) == 1
    assert out.iloc[0]["conv_id"] == conv
    assert str(out.iloc[0]["alert_ts"]) == "2026-01-01 06:02:00"


def test_stream_fires_once_across_batches(spark, tmp_path):
    """A conversation crossing the threshold in batch 1 must not
    re-alert when more detections arrive in batch 2."""
    import glob
    in_dir = str(tmp_path / "in2")
    os.makedirs(in_dir)
    b1 = pd.DataFrame(
        {
            "conv_id": ["x"] * 3,
            "info_type": ["EMAIL_ADDRESS", "PHONE_NUMBER", "CREDIT_CARD_NUMBER"],
            "ts": pd.to_datetime(
                ["2026-01-01 00:00:00", "2026-01-01 00:01:00", "2026-01-01 00:02:00"]
            ).astype("datetime64[us]"),
        }
    )
    sink = ExactlyOnceSink(str(tmp_path / "out2"))
    ckpt = str(tmp_path / "ckpt2")
    schema = "conv_id string, info_type string, ts timestamp"

    b1.to_parquet(f"{in_dir}/b1.parquet", index=False)
    st = spark.readStream.schema(schema).parquet(in_dir)
    pipeline.run_to_sink(
        cep.escalation_alerts_stream(st, min_distinct=3), sink, ckpt
    )
    assert sink.read_committed(spark).count() == 1

    b2 = b1.copy()
    b2["info_type"] = "US_SOCIAL_SECURITY_NUMBER"
    b2["ts"] = (b2["ts"] + pd.Timedelta(minutes=5)).astype("datetime64[us]")
    b2.to_parquet(f"{in_dir}/b2.parquet", index=False)
    st2 = spark.readStream.schema(schema).parquet(in_dir)
    pipeline.run_to_sink(
        cep.escalation_alerts_stream(st2, min_distinct=3), sink, ckpt
    )
    out = sink.read_committed(spark).toPandas()
    assert len(out) == 1  # still exactly one alert for conv x
