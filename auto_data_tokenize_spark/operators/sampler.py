"""Per-column deterministic sampler (RandomColumnarSampler analogue,
pipeline/RandomColumnarSampler.java:49-63; Sample.fixedSizePerKey).

The reference reservoir-samples ≤ n values per column to bound DLP
cost. A true reservoir is run-order-dependent; for golden equality we
need the *same* sample on every run and partitioning, so we rank by a
seeded hash of the value (md5) — uniform for our purposes, and a pure
function of the data — and keep each column's n smallest (rank, value)
pairs with one ``row_number()`` window partitioned by ``column_name``.

Scale design: a window partitioned by ``column_name`` alone would
funnel each column's entire data through one task (few distinct
columns = maximal skew). Spark's optimizer bounds that for us: for a
``row_number() <= n`` filter with ``n ≤
spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by default, the
reference's sample size) it plans a ``WindowGroupLimit … Partial``
below the window's exchange, so each map task ships at most n rows per
column and the reducer ranks ≤ n × map-tasks survivors. The top n of
the union of per-task top-n sets is the global top n, so the sample is
unchanged. Above the threshold Spark plans no partial limit; there a
salted first phase keeps the bound (rank within (column, salt) buckets
and keep ≤ n per bucket, then rank the ≤ n × salts survivors per
column) — the trick the reference hand-rolls with ShardAssigner
(dlp/BatchAndDlpDeIdRecords.java:216-234).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, WindowSpec, functions as F

from auto_data_tokenize_spark.operators.identify import unpivot_columns

# (column, salt) buckets of the first phase above the partial-limit threshold
_SALTS = 32
_LIMIT_THRESHOLD_CONF = "spark.sql.optimizer.windowGroupLimitThreshold"


def sample_per_column(
    df: DataFrame,
    columns: list[str],
    n: int = 1000,
    seed: int = 42,
) -> DataFrame:
    """≤ n deterministic pseudo-random values per column.

    Returns (column_name, value). ``sample_size=0`` keeps everything
    (DlpInspectionOptions.java:25-28 semantics).
    """
    unpivoted = unpivot_columns(df, columns)
    if n == 0:
        return unpivoted

    rank_key = F.md5(F.concat_ws("\x1f", F.lit(str(seed)), F.col("column_name"), F.col("value")))
    ranked = unpivoted.withColumn("_rk", rank_key)
    if n > int(df.sparkSession.conf.get(_LIMIT_THRESHOLD_CONF, "1000")):
        salt = F.pmod(F.crc32(F.col("_rk")), F.lit(_SALTS))
        ranked = _top(ranked, Window.partitionBy("column_name", salt), n)
    return _top(ranked, Window.partitionBy("column_name"), n).select("column_name", "value")


def _top(ranked: DataFrame, by: WindowSpec, n: int) -> DataFrame:
    """The n smallest (_rk, value) rows of each ``by`` partition."""
    w = by.orderBy("_rk", "value")
    return ranked.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= n).drop("_rn")
