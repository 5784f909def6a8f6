"""Benchmark of the tokenize engine: one named workload per run.

    python3 perfbench/run.py --workload batch_inspect_tokenize --seed 1 --seconds 15 --trace 0

Prints the run record (environment, per-workload detail) as one JSON
line, then, as the last line, the result:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end-to-end metrics; with --trace 1 its
per-layer metrics, and the spans are written under .perfbench_work/.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager

T0 = time.perf_counter()
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
from common import ROOT, WORK  # noqa: E402

sys.path.insert(0, ROOT)

WORKLOADS = ("batch_inspect_tokenize", "stream_tokenize_live", "stream_scope_monitor")


class Context:
    """Run settings plus the clock marks that split set-up from input
    generation and from the timed region."""

    def __init__(self, seconds: int, trace: bool, run_dir: str):
        self.seconds = seconds
        self.trace = trace
        self.tracer = common.Tracer(trace)
        self.run_dir = run_dir
        self.generation_s = 0.0
        self.gen_at_timed = 0.0
        self.spark_ready = None
        self.t_timed = None
        self.t_timed_end = None

    @contextmanager
    def generation(self):
        """Input generation and oracle work: excluded from setup_s."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.generation_s += time.perf_counter() - t

    def timed_start(self) -> None:
        self.t_timed = time.perf_counter()
        self.gen_at_timed = self.generation_s

    def timed_end(self) -> None:
        self.t_timed_end = time.perf_counter()


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds < 1:
        ap.error("--seed must be >= 0 and --seconds >= 1")

    spec = load_spec()
    import auto_data_tokenize_spark  # noqa: F401  (fails fast outside a full checkout)

    if args.workload == "batch_inspect_tokenize":
        import batch as workload
    elif args.workload == "stream_tokenize_live":
        import live as workload
    else:
        import monitor as workload

    run_dir = common.fresh_dir(os.path.join(WORK, f"run-{args.workload}-{os.getpid()}"))
    ctx = Context(args.seconds, bool(args.trace), run_dir)
    rss = common.RssSampler()
    rss.start()
    cpu0 = common.cpu_times()
    spark = None
    try:
        with ctx.generation():
            data = workload.prepare(args.seed)
        common.prepare_process_env(run_dir)
        with ctx.tracer.span("session.start"):
            t = time.perf_counter()
            spark = common.start_spark(run_dir)
            start_s = time.perf_counter() - t
        ctx.spark_ready = time.perf_counter()
        gen_before_run = ctx.generation_s
        res = workload.run(ctx, spark, data)
        env = common.env_record(spark, cpu0)
    finally:
        if spark is not None:
            common.stop_spark(spark)
        peak_mb = rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    setup_s = ctx.t_timed - T0 - ctx.gen_at_timed
    warmup_s = ctx.t_timed - ctx.spark_ready - (ctx.gen_at_timed - gen_before_run)
    e2e = {"setup_s": setup_s, "peak_rss_mb": peak_mb, **res["e2e"]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        values = {"session.start_s": start_s, "session.warmup_s": warmup_s, **res["layers"]}
        names = [m["name"] for m in spec["per_layer"]]
        os.makedirs(WORK, exist_ok=True)
        trace_path = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
        ctx.tracer.dump(trace_path)
    else:
        values = e2e
        names = [m["name"] for m in spec["end_to_end"]]
        trace_path = None
    # a layer the workload does not exercise reads 0 (README, "Per-layer metrics")
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "timed_s": round(ctx.t_timed_end - ctx.t_timed, 3),
        "generation_s": round(ctx.generation_s, 3),
        "session_start_s": round(start_s, 3),
        "wall_s": round(time.perf_counter() - T0, 3),
        "end_to_end": {k: round(v, 6) for k, v in e2e.items()},
        "info": res["info"],
        "errors": res["errors"],
        "spans": trace_path,
    }
    print(json.dumps({"record": record}), flush=True)
    for e in res["errors"]:
        print(f"check failed: {e}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not res["errors"],
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
