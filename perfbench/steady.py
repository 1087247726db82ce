#!/usr/bin/env python3
"""Steadiness check of the benchmark.

Runs every workload of BENCHMARK.json K times, each with its own seed, and
prints per end-to-end metric the median, the quartiles (as
statistics.quantiles(values, n=4) gives them), the quartile spread
(Q3-Q1)/median and the full spread (max-min)/median against the metric's
bound.

    python3 perfbench/steady.py --runs 10 [--first-seed 1] [--workload incr_build]
        [--out perfbench/results/steadiness.txt]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed (exit {r.returncode})")
    res = json.loads(lines[-1])
    detail = next((json.loads(l[len("detail "):]) for l in lines if l.startswith("detail ")), {})
    res["wall_s"] = time.time() - t0
    res["noise"] = {k: detail.get(k) for k in ("load_avg_1m", "host.steal_ms", "host.other_cpu_frac")}
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    out = []

    def emit(line=""):
        print(line, flush=True)
        out.append(line)

    for w in workloads:
        runs = []
        for i in range(a.runs):
            seed = a.first_seed + i
            res = run_once(w, seed, bench["run_seconds"])
            runs.append(res)
            n = res["noise"]
            emit(f"{w} seed={seed} wall={res['wall_s']:.0f}s correct={res['correct']} "
                 f"load={n['load_avg_1m']} steal_ms={n['host.steal_ms']} "
                 f"other_cpu={n['host.other_cpu_frac']}")
        emit(f"\n{w}: {a.runs} runs, seeds {a.first_seed}..{a.first_seed + a.runs - 1}")
        emit(f"  {'metric':<16} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} "
             f"{'range/med':>9} {'bound':>6}  verdict")
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            iqr = (q3 - q1) / med
            rng = (max(vals) - min(vals)) / med
            # the acceptance rule: the quartile spread stays within the
            # bound; the target is a third of it
            ok = ("steady" if iqr <= bounds[m] / 3 else "within bound" if iqr <= bounds[m]
                  else "TOO NOISY")
            emit(f"  {m:<16} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} {iqr:>8.3f} {rng:>9.3f} "
                 f"{bounds[m]:>6}  {ok}")
        emit()
    if a.out:
        Path(a.out).write_text("\n".join(out) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
