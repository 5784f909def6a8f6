"""Per-micro-batch duration breakdown for the streaming queries.

Runs the named queries once and prints, for each micro-batch, its
``durationMs`` by phase (addBatch / getBatch / queryPlanning /
walCommit / commitOffsets) and each state operator's ``commitTimeMs``,
taken from the progress records that ``pipeline.run_to_sink`` (the
one stream runner, ingest gates included) returns. A thin wrapper
around ``run_to_sink`` collects the records of every query it runs.

Usage: python scripts/stream_profile.py q129_stream_dup_rate ...
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

CAPTURED: list[dict] = []


def _summary(p: dict) -> dict:
    """One micro-batch's phase split from a ``run_to_sink`` progress
    record."""
    return {
        "batchId": p["batchId"],
        "numInputRows": p.get("numInputRows"),
        "durationMs": p.get("durationMs"),
        "stateOperators": [
            {
                k: s.get(k)
                for k in (
                    "operatorName",
                    "commitTimeMs",
                    "numRowsTotal",
                    "numPartitions" if "numPartitions" in s else "numRowsUpdated",
                )
            }
            for s in p.get("stateOperators", [])
        ],
    }


def main() -> None:
    names = sys.argv[1:]
    import __spark_entry__ as em
    from auto_data_tokenize_spark.session import get_spark
    from auto_data_tokenize_spark.streaming import pipeline

    # every stream query (gates included) runs through run_to_sink,
    # which returns its progress records: record them per query
    run_to_sink = pipeline.run_to_sink

    def recording(*args, **kwargs):
        progress = run_to_sink(*args, **kwargs)
        CAPTURED.extend(_summary(p) for p in progress)
        return progress

    pipeline.run_to_sink = recording

    qs = em.queries()
    spark = get_spark("adt-stream-profile", cores=CPUS, shuffle_partitions=CPUS)
    try:
        spark.sparkContext.setJobDescription("warmup")
        em.q01_tokenize_turns(spark, "/root/testdata/sf0.001").write.mode(
            "overwrite"
        ).format("noop").save()
        for name in names:
            CAPTURED.clear()
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            wall = round(time.perf_counter() - t0, 3)
            print(f"=== {name}: wall={wall}s, {len(CAPTURED)} batches")
            for rec in CAPTURED:
                print(json.dumps(rec))
            tot = {}
            for rec in CAPTURED:
                for k, v in (rec["durationMs"] or {}).items():
                    tot[k] = tot.get(k, 0) + v
            print(f"--- totals(ms): {json.dumps(tot)}", flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
