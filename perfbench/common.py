"""Shared plumbing for the tokenize-engine benchmark: the per-run work
directory, the Spark session, statistics, the span tracer, the memory
sampler and the environment record.

Nothing here starts a thread or a process at import time.
"""

from __future__ import annotations

import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# Everything the benchmark writes lives here (listed in .gitignore).
WORK = os.path.join(ROOT, ".perfbench_work")

# One fixed, benchmark-only root key: every layer is handed it
# explicitly, so no run falls back to the package's dev key.
BENCH_ROOT_KEY = bytes.fromhex(
    "5f3c9a0e7b2d4c61a8e9f01b2c3d4e5f60718293a4b5c6d7e8f9011223344556"
)


# -- statistics ---------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def tail_percentile(n: int) -> int:
    """The highest whole percentile p that leaves at least ten of ``n``
    samples strictly above it (nearest-rank: the p-th percentile is the
    ceil(p*n/100)-th smallest sample). 0 when n < 11: there is no tail."""
    best = 0
    for p in range(1, 100):
        if n - math.ceil(p * n / 100) >= 10:
            best = p
    return best


def percentile(xs, p: int) -> float:
    """Nearest-rank percentile (p in 1..100) of ``xs``."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return float(s[max(0, math.ceil(p * len(s) / 100) - 1)])


def spread(xs) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q2, q1, q3, (q3 - q1) / q2 if q2 else float("inf")


# -- tracing -------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent) recorded around the
    calls the benchmark makes into each layer. Disabled, ``span`` only
    yields; the untraced runs pay one generator step per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """Record a span measured elsewhere (a micro-batch phase)."""
        if not self.enabled:
            return -1
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "parent": parent, "start": start, "end": end, **attrs}
        )
        return sid

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- memory ----------------------------------------------------------------------


def _tree_pids(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: a page shared by n processes counts 1/n to
    each, so a child the JVM forks (and whose pages it still shares) does
    not count the JVM twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory (PSS) of this process and all its descendants
    (the JVM and its Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        total = sum(_pss_kb(p) for p in _tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


# -- environment -------------------------------------------------------------------


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two /proc/stat reads."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8])  # user..steal; guest time is already inside user
    return d[7] / total if total > 0 else 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Half the CPUs: the driver process, the JVM's GC and compiler
    threads and the Python workers share the rest, so a run measures the
    program rather than the scheduler of a shared host."""
    return max(1, nproc() // 2)


def git_commit() -> str:
    """HEAD's commit read from .git without running git; 'unknown' in a
    plain checkout."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        p = os.path.join(git, ref)
        if os.path.exists(p):
            with open(p) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def env_record(spark, cpu_before: list[int]) -> dict:
    return {
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "steal_share": round(steal_share(cpu_before, cpu_times()), 4),
        "nproc": nproc(),
        "spark_cores": spark_cores(),
        "spark": spark.version if spark is not None else None,
        "java": (
            spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
            if spark is not None
            else None
        ),
        "python": platform.python_version(),
        "git_commit": git_commit(),
    }


# -- work directory and session ------------------------------------------------------


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def prepare_process_env(run_dir: str) -> None:
    """Keep Spark's scratch files, Python temp files and JVM temp files
    inside the checkout. Must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # a fixed JVM heap bounds its share of peak_rss_mb
    os.environ["ADT_DRIVER_MEM"] = "2g"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def start_spark(run_dir: str):
    from auto_data_tokenize_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    cores = spark_cores()
    spark = get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit (its
    Python workers exit with it)."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    try:
        gateway.shutdown()
    except Py4JError:  # already closed; the wait below still decides
        pass
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def warm_up(op, reps: int) -> list[float]:
    """Run ``op`` a fixed ``reps`` times and return the durations. The
    count is fixed so that every run starts its timed region from the
    same point of the JIT and cache warm-up."""
    times: list[float] = []
    for _ in range(reps):
        t = time.perf_counter()
        op()
        times.append(time.perf_counter() - t)
    return times
