"""Per-layer probes for the traced run. Each calls one layer of the
package from outside and returns a number; they run after the timed
region so they never disturb the end-to-end figures."""

from __future__ import annotations

import time

from common import BENCH_ROOT_KEY, median

PROBE_REPS = 3
FUNCTIONS_SLICE = 4000  # turns; the functions layer runs single core, in-process


def _rate(rows: int, op, reps: int = PROBE_REPS) -> float:
    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        op()
        ts.append(time.perf_counter() - t)
    return rows / median(ts)


def functions_layer(tracer, turns) -> dict[str, float]:
    """Single-threaded baseline of the Arrow UDFs' kernels over a fixed
    slice of the workload's own turns. A fresh Tokenizer per repetition
    keeps its derived-key cache cold, as for a pass over new
    conversations."""
    from auto_data_tokenize_spark.functions.detectors import find_spans
    from auto_data_tokenize_spark.functions.tokenizer import Tokenizer

    s = turns.iloc[:FUNCTIONS_SLICE]
    convs, texts = s["conv_id"].tolist(), s["text"].tolist()

    def tokenize_all():
        tok = Tokenizer(BENCH_ROOT_KEY)
        return [tok.tokenize_text(c, t) for c, t in zip(convs, texts)]

    with tracer.span("functions.find_spans"):
        spans = _rate(len(texts), lambda: [find_spans(t) for t in texts])
    with tracer.span("functions.tokenize_text"):
        tok = _rate(len(texts), tokenize_all)
    return {"functions.find_spans_rows_per_s": spans, "functions.tokenize_text_rows_per_s": tok}


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def sources_layer(tracer, spark, table_dir: str, n_rows: int) -> dict[str, float]:
    from auto_data_tokenize_spark.sources.readers import read_transcripts

    with tracer.span("sources.read_transcripts"):
        r = _rate(n_rows, lambda: _noop(read_transcripts(spark, table_dir)))
    return {"sources.scan_rows_per_s": r}


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) run under one job group, from Spark's status tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return len(jobs), stages, tasks


def operators_layer(tracer, df, columns: list[str], n_rows: int) -> dict[str, float]:
    from auto_data_tokenize_spark.operators import sampler, tokenize

    with tracer.span("operators.sample_per_column"):
        ts = []
        for _ in range(PROBE_REPS):
            t = time.perf_counter()
            _noop(sampler.sample_per_column(df, columns, n=1000))
            ts.append(time.perf_counter() - t)
    with tracer.span("operators.tokenize_turns"):
        tok = _rate(
            n_rows,
            lambda: _noop(
                tokenize.tokenize_turns(df, out_col="text", keep_original=True, root_key=BENCH_ROOT_KEY)
            ),
        )
    return {"operators.sample_per_column_s": median(ts), "operators.tokenize_turns_rows_per_s": tok}
