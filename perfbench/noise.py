"""Noise self-check: repeat each workload and compare spreads to bounds.

    python3 perfbench/run.py --noise 10 [--workload interactive]

Runs every workload of BENCHMARK.json (or the one named) N times, with
seeds 1..N and tracing off, each in its own process; the first three
seeds also run traced.
For each end-to-end metric it prints the median, the quartiles and the
spread (interquartile range / median): "steady" below a third of the
metric's bound, "within bound" below the bound, else "NOISY" (the exit
code is then 1).  It also prints the host's steal time per run and the
tracing overhead (traced ops/min against the untraced median).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
TRACED_RUNS = 3


def bench_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def one_run(root: str, workload: str, seed: int, seconds: float,
            trace: int) -> tuple[dict, dict]:
    """Run the benchmark once in a fresh process: (details, result)."""
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=180)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as the driver computes them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(args) -> int:
    from perfbench.run import ROOT
    spec = bench_spec(ROOT)
    names = [args.workload] if args.workload else [w["name"] for w in spec["workloads"]]
    ok = True
    for w in names:
        runs, traced = [], []
        for seed in range(1, args.noise + 1):
            runs.append(one_run(ROOT, w, seed, args.seconds, 0))
            # traced runs sit next to untraced ones with the same seed, so
            # the host load the pair sees is as alike as it can be
            if seed <= TRACED_RUNS:
                traced.append(one_run(ROOT, w, seed, args.seconds, 1))
        print(f"== {w}: {args.noise} runs of {args.seconds:g} s")
        for i, (det, res) in enumerate(runs, 1):
            values = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"  seed {i}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} passes={len(det['pass_s'])} "
                  f"run_s={det['run_s']:.1f} host.steal_s={det['host.steal_s']:.2f} "
                  f"slowdown={det['window_slowdown']:.2f} "
                  f"{values}")
            ok &= res["correct"]
        for m in spec["end_to_end"]:
            vals = [res["metrics"][m["name"]]["value"] for _d, res in runs]
            med, q1, q3, sp = spread(vals)
            verdict = ("steady" if sp < m["bound"] / 3 else
                       "within bound" if sp < m["bound"] else "NOISY")
            ok &= verdict != "NOISY"
            print(f"  {m['name']:16s} median {med:10.4f} q1 {q1:10.4f} q3 {q3:10.4f} "
                  f"spread {sp:6.3f} bound {m['bound']:.2f} {verdict}")
        untraced = statistics.median(
            res["metrics"]["ops_per_min"]["value"] for _d, res in runs[:len(traced)])
        t_opm = statistics.median(
            res["metrics"]["trace.ops_per_min"]["value"] for _d, res in traced)
        ok &= all(res["correct"] for _d, res in traced)
        print(f"  tracing overhead: {1 - t_opm / untraced:+.1%} "
              f"({t_opm:.2f} traced vs {untraced:.2f} ops/min untraced, "
              f"median of {len(traced)} runs each)")
    return 0 if ok else 1
