"""The reference's three pipeline entry points, re-expressed as
DataFrame plans (SURVEY.md §3).

1. ``inspect``   — DlpInspectionPipeline.main (sample → identify →
   report), pipeline/DlpInspectionPipeline.java:110-191.
2. ``encrypt``   — EncryptionPipeline.main (bulk tokenize),
   pipeline/EncryptionPipeline.java:120-150.
3. ``tokenize_and_order`` — CsvTokenizationAndOrderingPipeline.main
   (transcript tokenize + stable ordering),
   pipeline/CsvTokenizationAndOrderingPipeline.java:104-125.

Each returns DataFrames; callers pick sinks (write.parquet / the
streaming ExactlyOnceSink / driver-side JSON for the one-row report).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from auto_data_tokenize_spark.operators import identify, ordering, sampler, tokenize


@dataclass
class InspectConfig:
    """DlpInspectionOptions analogue (pipeline/DlpInspectionOptions.java)."""
    columns: list[str] = field(default_factory=lambda: ["text"])
    sample_size: int = 1000          # 0 = no sampling (reference default 1000)
    source_type: str = "PARQUET"
    input_pattern: str = ""
    # --observableInfoTypes (DlpInspectionOptions.java:129-131): None =
    # every detector; a tuple restricts detection to the listed names
    observable_info_types: tuple[str, ...] | None = None


def inspect(df: DataFrame, cfg: InspectConfig) -> tuple[DataFrame, DataFrame]:
    """sample → identify → (column_report, inspection_report)."""
    sampled = sampler.sample_per_column(df, cfg.columns, n=cfg.sample_size)
    col_report = identify.column_report_from_values(sampled, cfg.observable_info_types)
    report = identify.inspection_report(
        col_report, cfg.source_type, cfg.input_pattern
    )
    return col_report, report


@dataclass
class EncryptConfig:
    """EncryptionPipelineOptions analogue: either free-form text columns
    (DLP-config path, csv_dlp_tokenize_config.json) or whole-value
    tokenize columns (--tokenizeColumns Tink path)."""
    free_form_columns: list[str] = field(default_factory=list)
    tokenize_columns: list[str] = field(default_factory=list)
    scope_col: str | None = "conv_id"
    root_key: bytes | None = None


def encrypt(df: DataFrame, cfg: EncryptConfig) -> DataFrame:
    out = df
    for c in cfg.free_form_columns:
        out = tokenize.tokenize_turns(
            out,
            conv_col=cfg.scope_col or "conv_id",
            text_col=c,
            out_col=c,  # in-place, like the reference's free-form transform
            keep_original=True,
            root_key=cfg.root_key,
        )
    if cfg.tokenize_columns:
        out = tokenize.tokenize_columns(
            out, cfg.tokenize_columns, scope_col=cfg.scope_col, root_key=cfg.root_key
        )
    return out


def tokenize_and_order(
    df: DataFrame,
    cfg: EncryptConfig,
    order_keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    num_partitions: int | None = None,
) -> DataFrame:
    """Range-partitioned stable sort on ``order_keys``, then encrypt —
    the transcript query the goldens assert on. The rows and their order
    are those of ``cluster_sorted(encrypt(df))``; ordering first keeps
    the tokenize UDF out of the range-bounds sampling job, so it runs
    once per row. When an order key is a column ``encrypt`` rewrites,
    encrypt runs first (``ordering.cluster_sorted_through``)."""
    return ordering.cluster_sorted_through(
        df, lambda d: encrypt(d, cfg), order_keys, num_partitions
    )


@dataclass
class CorpusPrepConfig:
    """Training-corpus preparation — the composition a large-scale
    pretraining pipeline runs continuously (no reference analogue; the
    reference stops at tokenization). Quality thresholds follow the
    public C4/Gopher-style heuristics in operators/textstats.py."""
    id_col: str = "doc_id"
    text_col: str = "text"
    languages: tuple[str, ...] = ("en",)
    require_quality: bool = True
    dedup: bool = True
    dedup_threshold: float = 0.7


def prepare_corpus(docs: DataFrame, cfg: CorpusPrepConfig | None = None) -> DataFrame:
    """quality gate → language filter → transitive near-dup clustering
    → keep one representative (smallest id) per cluster. Returns the
    surviving rows with the input's columns.

    Shape: the two filters are narrow codegen projections that run
    BEFORE the (shuffling) dedup, so the expensive stage sees only
    survivors — filter-then-dedup is the 100 TB ordering. The
    representative choice (min doc id per component) is deterministic,
    so reruns keep the same docs."""
    from auto_data_tokenize_spark.operators.dedup import dup_clusters
    from auto_data_tokenize_spark.operators.textstats import (
        language_id,
        quality_features,
    )

    cfg = cfg or CorpusPrepConfig()
    out = docs
    if cfg.require_quality:
        out = quality_features(out, cfg.text_col).filter("is_quality")
    if cfg.languages:
        out = language_id(out, cfg.text_col).filter(
            F.col("pred_lang").isin(*cfg.languages)
        )
    out = out.select(docs.columns)
    if cfg.dedup:
        reps = dup_clusters(
            out, cfg.id_col, cfg.text_col, threshold=cfg.dedup_threshold
        ).filter(F.col(cfg.id_col) == F.col("cluster_id"))
        out = out.join(reps.select(cfg.id_col), cfg.id_col, "left_semi")
    return out
