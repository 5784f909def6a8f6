"""Steadiness check: runs two sets of runs of the current tree and prints,
per workload and end-to-end metric, each set's median, quartiles and
spread ((q3 - q1) / median) next to the metric's bound, and the second
set's median shift against the first. Bounds in BENCHMARK.json are set
from this output.

    python3 perfbench/steadiness.py --workloads stream_tokenize_live --seeds 1 2 3 4 5 --sets 2

Runs go one at a time, from the checkout root, with BENCHMARK.json's
run_seconds. Every run's last line is kept in --out (JSON lines).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    if p.returncode != 0:
        raise RuntimeError(f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    return {"result": json.loads(lines[-1]), "record": json.loads(lines[-2])["record"], "wall_s": wall}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_work", "steadiness.jsonl"))
    args = ap.parse_args()
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    metrics = spec["per_layer"] if args.trace else spec["end_to_end"]
    runs: dict[tuple[str, int], list[dict]] = {}
    with open(args.out, "a") as log:
        for s in range(args.sets):
            for w in args.workloads:
                for seed in args.seeds:
                    r = run_once(w, seed, args.seconds, args.trace)
                    runs.setdefault((w, s), []).append(r)
                    log.write(json.dumps({"set": s, "workload": w, "seed": seed, **r}) + "\n")
                    log.flush()
                    env = r["record"]["env"]
                    print(f"set {s} {w} seed {seed}: wall {r['wall_s']:.1f}s correct={r['result']['correct']} "
                          f"loadavg={env['loadavg'][0]} steal={env['steal_share']}", flush=True)
    print()
    print(f"{'workload':24} {'metric':16} {'set':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6} {'shift':>7}")
    for w in args.workloads:
        first: dict[str, float] = {}
        for s in range(args.sets):
            rs = runs[(w, s)]
            share = {r["result"]["failed"] / r["result"]["attempted"] for r in rs}
            for m in metrics:
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in rs]
                med, q1, q3, sp = spread(vals)
                shift = ""
                if s == 0:
                    first[m["name"]] = med
                else:
                    base = first[m["name"]]
                    worse = (med - base) / base if m["better"] == "lower" else (base - med) / base
                    shift = f"{worse:+.3f}"
                bound = m.get("bound", "")
                print(f"{w:24} {m['name']:16} {s:>3} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:7.3f} {bound!s:>6} {shift:>7}")
            walls = [r["wall_s"] for r in rs]
            print(f"{w:24} {'(wall_s)':16} {s:>3} {statistics.median(walls):12.1f}   total {sum(walls):.0f}s; failed share {sorted(share)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
