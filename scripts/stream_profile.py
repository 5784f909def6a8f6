"""Per-micro-batch duration breakdown for the streaming queries.

Runs the named queries once and prints, for each micro-batch, its
``durationMs`` by phase (addBatch / getBatch / queryPlanning /
walCommit / commitOffsets) and each state operator's ``commitTimeMs``.
A ``StreamingQueryListener`` on the session collects the progress
events of every stream query an entry query starts; listener delivery
is asynchronous, so each entry query's report waits (bounded) until
all of its stream queries have reported termination.

Usage: python scripts/stream_profile.py q129_stream_dup_rate ...
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TERMINATION_WAIT_S = 60


class ProgressRecorder(StreamingQueryListener):
    """Progress records of every stream query on the session, in
    arrival order, plus the run ids that have started and terminated.
    ``onQueryStarted`` runs synchronously inside ``start()``, so once a
    caller's queries have returned, ``started`` names all of them."""

    def __init__(self):
        self.progress: list[dict] = []
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self.started.add(str(event.runId))

    def onQueryProgress(self, event) -> None:
        with self._cv:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated.add(str(event.runId))
            self._cv.notify_all()

    def reset(self) -> None:
        with self._cv:
            self.progress.clear()
            self.started.clear()
            self.terminated.clear()

    def drain(self, timeout_s: float) -> list[dict]:
        """Wait until every started query has terminated (at most
        ``timeout_s``); return the progress records seen so far."""
        with self._cv:
            done = self._cv.wait_for(
                lambda: self.started <= self.terminated, timeout=timeout_s
            )
            if not done:
                print(
                    f"!!! {len(self.started - self.terminated)} stream "
                    f"queries not terminated after {timeout_s}s",
                    flush=True,
                )
            return list(self.progress)


def _summary(p: dict) -> dict:
    """One micro-batch's phase split from a progress record."""
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

    qs = em.queries()
    spark = get_spark("adt-stream-profile", cores=CPUS, shuffle_partitions=CPUS)
    recorder = ProgressRecorder()
    spark.streams.addListener(recorder)
    try:
        spark.sparkContext.setJobDescription("warmup")
        em.q01_tokenize_turns(spark, "/root/testdata/sf0.001").write.mode(
            "overwrite"
        ).format("noop").save()
        for name in names:
            recorder.reset()
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            wall = round(time.perf_counter() - t0, 3)
            captured = [_summary(p) for p in recorder.drain(TERMINATION_WAIT_S)]
            print(f"=== {name}: wall={wall}s, {len(captured)} batches")
            for rec in captured:
                print(json.dumps(rec))
            tot = {}
            for rec in captured:
                for k, v in (rec["durationMs"] or {}).items():
                    tot[k] = tot.get(k, 0) + v
            print(f"--- totals(ms): {json.dumps(tot)}", flush=True)
    finally:
        spark.streams.removeListener(recorder)
        spark.stop()


if __name__ == "__main__":
    main()
