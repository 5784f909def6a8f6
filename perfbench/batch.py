"""batch_inspect_tokenize: a closed loop with one client making repeated
rounds of the reference's two batch pipelines over a landed transcript
table — ``pipelines.inspect`` (sample → identify → report, collected),
then ``pipelines.tokenize_and_order`` written as parquet."""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import checks
import inputs
import layers
from common import BENCH_ROOT_KEY, median, warm_up

SF = 0.025  # 50k turns
TABLE_FILES = 8
INSPECT_COLUMNS = ["conv_id", "role", "text", "tool"]  # every string column
SAMPLE_SIZE = 1000  # the reference's default per-column sample
WARM_ROUNDS = 4  # the first round starts the Python workers; three more settle the JIT


def prepare(seed: int) -> dict:
    return {"turns": inputs.transcripts(SF, seed), "golden": inputs.golden_tokenized(SF, seed)}


def run(ctx, spark, data: dict) -> dict:
    """Returns the run's result: metrics, attempted/failed counts and errors."""
    from auto_data_tokenize_spark.plans import pipelines
    from auto_data_tokenize_spark.sources.readers import read_transcripts

    tracer, seconds = ctx.tracer, ctx.seconds
    turns = data["turns"]
    with ctx.generation():
        table = inputs.write_table(turns, os.path.join(ctx.run_dir, "table"), TABLE_FILES)
    out_dir = os.path.join(ctx.run_dir, "tokenized")

    inspect_cfg = pipelines.InspectConfig(
        columns=INSPECT_COLUMNS, sample_size=SAMPLE_SIZE, input_pattern=table
    )
    encrypt_cfg = pipelines.EncryptConfig(free_form_columns=["text"], root_key=BENCH_ROOT_KEY)
    report_rows: list = []

    def inspect_pass():
        with tracer.span("plans.inspect"):
            _, report = pipelines.inspect(read_transcripts(spark, table), inspect_cfg)
            report_rows[:] = report.collect()

    def tokenize_pass():
        with tracer.span("plans.tokenize_and_order"):
            pipelines.tokenize_and_order(read_transcripts(spark, table), encrypt_cfg).write.mode(
                "overwrite"
            ).parquet(out_dir)

    def one_round(tag) -> tuple[float, float]:
        """One client job: inspect the table, then tokenize it. Returns the
        two pass durations."""
        if ctx.trace:
            spark.sparkContext.setJobGroup(f"inspect-{tag}", "inspect")
        t0 = time.perf_counter()
        inspect_pass()
        if ctx.trace:
            spark.sparkContext.setJobGroup(f"tokenize-{tag}", "tokenize")
        t1 = time.perf_counter()
        tokenize_pass()
        return t1 - t0, time.perf_counter() - t1

    with tracer.span("session.warmup"):
        warm = warm_up(lambda: one_round("warm"), WARM_ROUNDS)
    ctx.timed_start()

    inspect_s, tokenize_s = [], []
    rounds = 0
    t_end = time.perf_counter() + seconds
    while rounds == 0 or time.perf_counter() < t_end:
        with tracer.span("round", index=rounds):
            a, b = one_round(rounds)
        inspect_s.append(a)
        tokenize_s.append(b)
        rounds += 1
    ctx.timed_end()

    with tracer.span("checks"):
        files = sorted(f for f in os.listdir(out_dir) if f.endswith(".parquet"))
        out = (
            pq.ParquetDataset([os.path.join(out_dir, f) for f in files]).read().to_pandas()
        )
        errors = checks.rows_equal(out, data["golden"], "text")
        errors += checks.ordered(out)
        errors += checks.roundtrip(out, turns, "text", BENCH_ROOT_KEY)
        errors += checks.counts_equal(
            checks.report_counts(report_rows),
            checks.sample_counts(turns, INSPECT_COLUMNS, SAMPLE_SIZE),
        )

    n = len(turns)
    e2e = {
        "rows_per_s": n / median(tokenize_s),
        # the whole inspect → tokenize job a client waits for; an inspect pass
        # alone is a chain of about 20 short stages whose wall time follows the
        # host's CPU steal more than the program (README, "Steadiness")
        "latency_p50_s": median([a + b for a, b in zip(inspect_s, tokenize_s)]),
    }
    layer: dict[str, float] = {}
    if ctx.trace:
        spark.sparkContext.setJobGroup("layers", "layers")
        df = read_transcripts(spark, table)
        layer.update(layers.functions_layer(tracer, turns))
        layer.update(layers.sources_layer(tracer, spark, table, n))
        layer.update(layers.operators_layer(tracer, df, INSPECT_COLUMNS, n))
        ji, si, ti = layers.job_counts(spark, f"inspect-{rounds - 1}")
        _, st, tt = layers.job_counts(spark, f"tokenize-{rounds - 1}")
        layer.update(
            {
                "plans.inspect_s": median(inspect_s),
                "plans.inspect_jobs": float(ji),
                "plans.inspect_stages": float(si),
                "plans.inspect_tasks": float(ti),
                "plans.tokenize_and_order_stages": float(st),
                "plans.tokenize_and_order_tasks": float(tt),
            }
        )
    return {
        "e2e": e2e,
        "layers": layer,
        "attempted": 2 * rounds,
        "failed": 0,
        "errors": errors,
        "info": {
            "rounds": rounds,
            "turns": n,
            "warmup_rounds_s": [round(x, 3) for x in warm],
            "inspect_s": [round(x, 4) for x in inspect_s],
            "tokenize_and_order_s": [round(x, 4) for x in tokenize_s],
        },
    }
