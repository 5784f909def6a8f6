"""Round-6 optimization harness (bench.py is FROZEN; extra numbers live
here — guide §1.4 noop-sink isolation, per-query min-of-2, fresh or
shared session).

Usage:
    python bench_extra.py q28_stream_escalation_alerts q129_stream_dup_rate
    python bench_extra.py --all                            # every query

Prints one JSON line per query: {"name": ..., "t1": ..., "t2": ...,
"min": ...}. Identical methodology to bench.py's run_batch_queries
(construction+execution timed together, noop sink, min-of-2) so the
numbers are comparable; a quiet box is the caller's job.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    run_all = "--all" in args
    reps = 2
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    names = [a for a in args if not a.startswith("--")]

    import __spark_entry__ as em
    from auto_data_tokenize_spark.session import get_spark

    qs = em.queries()
    if run_all:
        names = list(qs)
    spark = get_spark("adt-bench-extra", cores=CPUS, shuffle_partitions=CPUS)
    try:
        _force(em.q01_tokenize_turns(spark, "/root/testdata/sf0.001"))  # warmup
        for name in names:
            q = qs[name]
            spark.sparkContext.setJobDescription(name)
            shots = [
                _timed(lambda q=q: _force(q(spark, SF_DIR))) for _ in range(reps)
            ]
            spark.sparkContext.setJobDescription(None)
            print(
                json.dumps(
                    {
                        "name": name,
                        "shots": shots,
                        "min": min(shots),
                        "loadavg": round(os.getloadavg()[0], 2),
                    }
                ),
                flush=True,
            )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
