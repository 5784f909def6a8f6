"""Identify / sensitivity-report operators (DlpInspectionPipeline
analogues, expressed as declarative DataFrame plans).

Pipeline shape (pipeline/DlpInspectionPipeline.java:110-191 restated):

    unpivot → sample → detect (Arrow UDF) → explode
    → groupBy(column).count per infoType → report

The reference shuffles four times (sample-per-key, batch, count,
global group — SURVEY.md §3.1). ``column_report_from_values`` counts
every infoType of a column in ONE aggregation keyed on the column
(partial map-side aggregation first, so its exchange carries at most
one row per column per map task), and the detect stage is narrow.
With the sampler's window exchange and the report's single-partition
agg, an inspect pass has three exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

from auto_data_tokenize_spark.functions.detectors import INFO_TYPES
from auto_data_tokenize_spark.functions.udfs import detect_spans_udf, info_types_udf


def detections(
    df: DataFrame,
    conv_col: str = "conv_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = ("turn_idx", "ts"),
    root_key: bytes | None = None,
    info_types: tuple[str, ...] | None = None,
) -> DataFrame:
    """One row per detected span: (conv_id, *extra, info_type, start,
    end, token). The detection *event stream* that feeds windowed
    aggregates and the token-dictionary join. ``info_types`` selects
    the detector set (None = the default four; pass
    ``detectors.EXTENDED_INFO_TYPES`` to add PERSON_NAME +
    DATE_OF_BIRTH, the reference demo's transcript config —
    csv_dlp_tokenize_config.json:5-8)."""
    spans = detect_spans_udf(root_key, info_types)(F.col(conv_col), F.col(text_col))
    return (
        df.select(conv_col, *extra_cols, F.explode(spans).alias("span"))
        .select(
            conv_col,
            *extra_cols,
            F.col("span.info_type").alias("info_type"),
            F.col("span.start").alias("start"),
            F.col("span.end").alias("end"),
            F.col("span.token").alias("token"),
        )
    )


def unpivot_columns(df: DataFrame, columns: list[str], schema_prefix: str = "$") -> DataFrame:
    """Un-pivot named columns to (column_name, value) pairs — the
    SplitRecordByKeysFn analogue (pipeline/RandomColumnarSampler.java:65-80).
    Column names get JSONPath-style schema keys (``$.col``) for parity
    with the reference's report shape (proto:130-170)."""
    pairs = []
    for c in columns:
        pairs.append(F.lit(f"{schema_prefix}.{c}"))
        pairs.append(F.col(c).cast("string"))
    stacked = df.select(
        F.expr(
            "stack({n}, {args}) as (column_name, value)".format(
                n=len(columns),
                args=", ".join(
                    f"'{schema_prefix}.{c}', cast(`{c}` as string)" for c in columns
                ),
            )
        )
    )
    # drop null/empty early — before any shuffle
    # (RandomColumnarSampler.java:54,73-74 semantics)
    return stacked.filter(F.col("value").isNotNull() & (F.trim("value") != ""))


def column_infotype_counts(
    df: DataFrame, columns: list[str], root_key: bytes | None = None
) -> DataFrame:
    """Per-(column, infoType) finding counts
    (dlp/DlpIdentify.java:114-128 semantics: Count.perElement)."""
    unpivoted = unpivot_columns(df, columns)
    return (
        unpivoted.select(
            "column_name", F.explode(info_types_udf()(F.col("value"))).alias("info_type")
        )
        .groupBy("column_name", "info_type")
        .agg(F.count(F.lit(1)).alias("count"))
    )


# ColumnInformation.info_types (proto:87-104), nullability included
_INFO_TYPE_COUNTS = ArrayType(
    StructType([StructField("info_type", StringType()), StructField("count", LongType(), False)]),
    containsNull=False,
)


def column_report_from_values(
    values: DataFrame, info_types: tuple[str, ...] | None
) -> DataFrame:
    """ColumnInformation rows (proto:87-104) of (column_name, value)
    rows, detected with ``info_types`` (None = the default four): per
    column, the list of (info_type, count). One aggregation keyed
    on ``column_name``: one ``count_if`` per infoType the detector can
    report, then the non-zero counts as (info_type, count) structs in
    infoType order. Columns with no findings are left out."""
    types = sorted(set(info_types or INFO_TYPES))
    found = values.select(
        "column_name",
        F.explode(info_types_udf(info_types)(F.col("value"))).alias("info_type"),
    )
    counts = found.groupBy("column_name").agg(
        *[F.count_if(F.col("info_type") == t).alias(t) for t in types]
    )
    report = F.filter(
        F.array(
            *[F.struct(F.lit(t).alias("info_type"), F.col(t).alias("count")) for t in types]
        ),
        lambda s: s["count"] > 0,
    ).cast(_INFO_TYPE_COUNTS)
    return counts.select("column_name", report.alias("info_types")).filter(
        F.size("info_types") > 0
    )


def inspection_report(
    column_report_df: DataFrame,
    source_type: str,
    input_pattern: str,
) -> DataFrame:
    """Single-row InspectionReport (proto:108-128;
    pipeline/MakeInspectionReport.java:86-98). The global group-to-one is
    a deliberate single-partition agg — the input here is already tiny
    (one row per column)."""
    return column_report_df.agg(
        F.current_timestamp().alias("timestamp"),
        F.lit(source_type).alias("source_type"),
        F.lit(input_pattern).alias("input_pattern"),
        F.sort_array(
            F.collect_list(F.struct("column_name", "info_types"))
        ).alias("column_report"),
    )
