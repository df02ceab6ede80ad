"""Steadiness report: run one workload several times, each with another
seed, and print every end-to-end metric's median, quartiles and
run-to-run spread next to the bound ``BENCHMARK.json`` fixes for it.

    python3 perfbench/steady.py --workload online_point --runs 10

The spread is the distance between the first and third quartile (as
``statistics.quantiles(values, n=4)`` gives them) over the median. A
metric whose spread exceeds its bound is flagged NOT STEADY. Each run's
result line is also appended to ``.bench_out/steady-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit code {out.returncode}")
    return {**json.loads(lines[-1]), "wall_s": time.perf_counter() - t0}


def report(spec: dict, results: list[dict]) -> int:
    """Print the table; return how many gated metrics are not steady."""
    bad = 0
    print(f"{'metric':24s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>8s} {'bound':>7s}  verdict")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results
                if m["name"] in r["metrics"]]
        if len(vals) < 2:
            print(f"{m['name']:24s} fewer than two values")
            bad += 1
            continue
        med, q1, q3, sp = spread(vals)
        verdict = "steady"
        if sp > m["bound"]:
            verdict, bad = "NOT STEADY", bad + 1
        print(f"{m['name']:24s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{sp:8.4f} {m['bound']:7.3f}  {verdict}")
    failed = sum(r["failed"] for r in results)
    wrong = sum(not r["correct"] for r in results)
    print(f"{len(results)} runs, {wrong} not correct, {failed} failed "
          f"operations")
    return bad + wrong


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    log = os.path.join(ROOT, ".bench_out", f"steady-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    results = []
    for i in range(args.runs):
        seed = args.first_seed + i
        res = run_once(args.workload, seed, spec["run_seconds"])
        results.append(res)
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, **res}) + "\n")
        print(f"seed {seed} ({res['wall_s']:.1f} s): " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True)
    return 1 if report(spec, results) else 0


if __name__ == "__main__":
    sys.exit(main())
