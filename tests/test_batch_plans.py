"""The batch plans behind DlpInspectionPipeline and
CsvTokenizationAndOrderingPipeline: ``tokenize_and_order`` orders before
it tokenizes and equals ``cluster_sorted(encrypt(df))`` row for row;
``sample_per_column`` and ``inspect`` equal pandas oracles written
without Spark; and the physical plans keep the shape that makes them
cheap (tokenize UDF above the range exchange, one sampler exchange with
a partial window limit)."""

import hashlib
import json
import re
from collections import Counter
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from auto_data_tokenize_spark.cli import main
from auto_data_tokenize_spark.functions.detectors import find_spans
from auto_data_tokenize_spark.operators import ordering, sampler, tokenize
from auto_data_tokenize_spark.plans import pipelines

STRING_COLUMNS = ["conv_id", "role", "text", "tool"]
KEYS = ("conv_id", "turn_idx")


@pytest.fixture(scope="module")
def turns_pdf(sf_dir_small):
    return pd.read_parquet(f"{sf_dir_small}/transcripts.parquet")


@pytest.fixture(scope="module")
def turns(spark, turns_pdf, tmp_path_factory):
    """The smoke transcripts as 4 parquet parts, so the range-bounds
    sample reads several input partitions."""
    d = tmp_path_factory.mktemp("turns")
    for i, part in enumerate(np.array_split(turns_pdf, 4)):
        part.to_parquet(d / f"part-{i}.parquet", index=False)
    return spark.read.parquet(str(d))


def _plan(df) -> list[tuple[int, str]]:
    """(depth, node) lines of the physical plan chosen for execution
    (read before the first action: afterwards AQE prints its final and
    initial plans both)."""
    tree = df._jdf.queryExecution().executedPlan().toString()
    out = []
    for line in tree.splitlines():
        node = line.lstrip(" +-:|")
        if node:
            out.append((len(line) - len(node), node))
    return out


def _under(plan, prefix: str) -> list[list[str]]:
    """For each node starting with ``prefix``, the nodes of its subtree."""
    subtrees = []
    for i, (depth, node) in enumerate(plan):
        if node.startswith(prefix):
            sub = []
            for d, n in plan[i + 1:]:
                if d <= depth:
                    break
                sub.append(n)
            subtrees.append(sub)
    return subtrees


def _by_partition(df) -> list[tuple]:
    return [tuple(r) for r in df.select(F.spark_partition_id().alias("_pid"), "*").collect()]


# -- tokenize_and_order ---------------------------------------------------


@contextmanager
def _full_range_sample(spark):
    """Spark seeds its range-bounds reservoir sample with the RDD id, so
    two executions of even the same plan may cut partitions at different
    keys. With 1000 sample points per output partition, each input
    part's reservoir (3 × 1000 × partitions / 4 parts) exceeds its 500
    rows: the sample is every row and the cuts a function of the keys."""
    conf = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "1000")
    try:
        yield
    finally:
        spark.conf.set(conf, old)


def _assert_same_partitions(spark, got, want):
    """The same rows in the same order; with a full range sample, also
    in the same partitions."""
    assert got.columns == want.columns
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    with _full_range_sample(spark):
        assert _by_partition(got) == _by_partition(want)


@pytest.mark.parametrize("num_partitions", [None, 4, 5])
def test_tokenize_and_order_equals_encrypt_then_sort(spark, turns, num_partitions):
    cfg = pipelines.EncryptConfig(free_form_columns=["text"])
    got = pipelines.tokenize_and_order(turns, cfg, KEYS, num_partitions)
    want = ordering.cluster_sorted(pipelines.encrypt(turns, cfg), KEYS, num_partitions)
    _assert_same_partitions(spark, got, want)
    if num_partitions:
        assert {r[0] for r in _by_partition(got)} == set(range(num_partitions))


def test_tokenize_and_order_runs_the_udf_above_the_range_exchange(spark, turns):
    cfg = pipelines.EncryptConfig(free_form_columns=["text"])
    plan = _plan(pipelines.tokenize_and_order(turns, cfg, num_partitions=4))
    assert any(n.startswith("ArrowEvalPython") for _, n in plan)
    (below,) = _under(plan, "Exchange rangepartitioning")
    assert not [n for n in below if n.startswith(("ArrowEvalPython", "BatchEvalPython"))]


def test_tokenize_and_order_encrypts_first_when_a_key_is_rewritten(spark, turns):
    """An order key that encrypt rewrites is only known after the UDF:
    the plan keeps today's order, and its rows too."""
    cfg = pipelines.EncryptConfig(free_form_columns=["conv_id"])
    got = pipelines.tokenize_and_order(turns, cfg, KEYS, 4)
    (below,) = _under(_plan(got), "Exchange rangepartitioning")
    assert any(n.startswith("ArrowEvalPython") for n in below)
    _assert_same_partitions(
        spark, got, ordering.cluster_sorted(pipelines.encrypt(turns, cfg), KEYS, 4)
    )


def test_cluster_sorted_through_a_renamed_key(spark, turns):
    """A key the transform writes (``encrypted_<name>``) is missing from
    the input: the transform runs first."""
    keys = ("encrypted_conv_id", "turn_idx")

    def enc(d):
        return tokenize.tokenize_columns(d, ["conv_id"])

    got = ordering.cluster_sorted_through(turns, enc, keys, 3)
    _assert_same_partitions(spark, got, ordering.cluster_sorted(enc(turns), keys, 3))


def test_cluster_sorted_through_a_key_the_transform_overwrites(spark, turns):
    """No caller lists the columns its transform writes: a key column
    replaced in place is seen in the plan, and the order is taken from
    the new values."""

    def flip(d):
        return d.withColumn("turn_idx", -F.col("turn_idx"))

    got = ordering.cluster_sorted_through(turns, flip, KEYS, 3)
    _assert_same_partitions(spark, got, ordering.cluster_sorted(flip(turns), KEYS, 3))


@pytest.mark.parametrize(
    "transform, keys",
    [
        # a key the config renames: encrypt runs first
        ({"columnId": "$.CsvRecord.conv_id"}, ("encrypted_conv_id", "turn_idx")),
        # keys the config leaves as is: ordered first, then tokenized
        ({"columnId": "$.CsvRecord.text", "freeFormColumn": "true"}, KEYS),
    ],
)
def test_cli_csv_tokenize_orders_by_an_encrypted_column(
    spark, turns_pdf, tmp_path, capsys, transform, keys
):
    src = tmp_path / "chats.csv"
    turns_pdf.drop(columns=["ts"]).to_csv(src, index=False)
    out_dir = tmp_path / "out"
    cfg = json.dumps({"transforms": [transform]})
    rc = main([
        "csv-tokenize",
        f"--inputPattern={src}",
        "--csvFirstRowHeader",
        f"--dlpEncryptConfigJson={cfg}",
        f"--orderingColumnNames={','.join(keys)}",
        f"--outputDirectory={out_dir}",
        "--csvFileShardCount=3",
    ])
    assert rc == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["ordered_by"] == list(keys)
    shards = sorted(out_dir.glob("part-*.csv"))
    assert len(shards) == 3
    # the CSV source reads every column as a string: turn_idx orders as text
    got = pd.concat([pd.read_csv(s, dtype=str) for s in shards], ignore_index=True)
    assert len(got) == len(turns_pdf)
    got_keys = list(zip(*(got[k] for k in keys)))
    assert got_keys == sorted(got_keys)


# -- sample_per_column ----------------------------------------------------


def _oracle_sample(pdf: pd.DataFrame, columns, n: int, seed: int = 42) -> dict[str, list[str]]:
    """Per column, the n non-blank values with the smallest
    md5(seed \\x1f $.column \\x1f value) hex digest, then value."""
    out = {}
    for c in columns:
        name = f"$.{c}"
        vals = [v for v in pdf[c].dropna().astype(str) if v.strip(" ") != ""]
        ranked = sorted(
            (hashlib.md5(f"{seed}\x1f{name}\x1f{v}".encode("utf-8")).hexdigest(), v) for v in vals
        )
        if ranked:
            out[name] = sorted(v for _, v in ranked[:n])
    return out


def _sample(df, columns, n) -> dict[str, list[str]]:
    got: dict[str, list[str]] = {}
    for r in sampler.sample_per_column(df, columns, n=n).collect():
        got.setdefault(r["column_name"], []).append(r["value"])
    return {k: sorted(v) for k, v in got.items()}


@pytest.mark.parametrize("n", [50, 1000, 1500])
def test_sample_per_column_equals_md5_rank_oracle(spark, turns, turns_pdf, n):
    want = _oracle_sample(turns_pdf, STRING_COLUMNS, n)
    assert _sample(turns, STRING_COLUMNS, n) == want
    assert len(want["$.text"]) == min(n, len(turns_pdf))


def test_sampler_plan_bounds_rows_per_task(spark, turns):
    """n ≤ the threshold: one exchange, with the optimizer's partial
    window limit below it (≤ n rows per column per map task)."""
    assert int(spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold")) == 1000
    plan = _plan(sampler.sample_per_column(turns, STRING_COLUMNS, n=1000))
    (below,) = _under(plan, "Exchange")
    partial = [n for n in below if n.startswith("WindowGroupLimit")]
    assert len(partial) == 1 and partial[0].endswith("Partial")
    assert "row_number(), 1000," in partial[0]


def test_sampler_plan_above_threshold_salts_first(spark, turns):
    """n above the threshold: no partial limit is planned, so a first
    window over (column, salt) buckets keeps ≤ n rows per bucket before
    the per-column exchange."""
    plan = _plan(sampler.sample_per_column(turns, STRING_COLUMNS, n=1500))
    assert not [n for _, n in plan if n.startswith("WindowGroupLimit")]
    upper, lower = _under(plan, "Exchange")
    k = len(upper) - len(lower) - 1
    between, salted = upper[:k], upper[k]
    assert [n for n in between if n.startswith("Filter (_rn") and n.endswith("<= 1500)")]
    m = re.match(r"Exchange hashpartitioning\(column_name#\d+, (\w+#\d+L?), \d+\)", salted)
    assert m, salted
    assert [n for n in lower if "pmod(crc32(cast(_rk#" in n and f", 32) AS {m.group(1)}" in n]


# -- inspect --------------------------------------------------------------


def _oracle_report(pdf, columns, n, info_types) -> dict[str, list[tuple[str, int]]]:
    out = {}
    for name, values in _oracle_sample(pdf, columns, n).items():
        counts = Counter(sp.info_type for v in values for sp in find_spans(v, info_types))
        if counts:
            out[name] = sorted(counts.items())
    return out


@pytest.mark.parametrize(
    "n, info_types",
    [(50, None), (1000, None), (1000, ("EMAIL_ADDRESS", "PERSON_NAME", "DATE_OF_BIRTH"))],
)
def test_inspect_report_equals_pandas_recount(spark, turns, turns_pdf, n, info_types):
    """Covers a column with no findings (``role``: absent from the
    report), an all-null column (``blank``: absent) and two columns with
    findings (``text`` and its upper-cased copy)."""
    columns = [*STRING_COLUMNS, "shout", "blank"]
    df = turns.withColumn("shout", F.upper("text")).withColumn("blank", F.lit(None).cast("string"))
    pdf = turns_pdf.assign(shout=turns_pdf["text"].str.upper(), blank=None)
    cfg = pipelines.InspectConfig(columns=columns, sample_size=n, observable_info_types=info_types)
    col_report, report = pipelines.inspect(df, cfg)
    assert col_report.schema.simpleString() == (
        "struct<column_name:string,info_types:array<struct<info_type:string,count:bigint>>>"
    )
    (row,) = report.collect()
    got = {
        c["column_name"]: [(it["info_type"], it["count"]) for it in c["info_types"]]
        for c in row["column_report"]
    }
    want = _oracle_report(pdf, columns, n, info_types)
    assert got == want
    assert [c["column_name"] for c in row["column_report"]] == sorted(want)
    assert "$.role" not in got and "$.blank" not in got
    assert {"$.text", "$.shout"} <= set(got)
    if info_types:
        assert {t for v in got.values() for t, _ in v} <= set(info_types)
