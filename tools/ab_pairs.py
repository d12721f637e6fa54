"""Interleaved A/B of the repository benchmark across two checkouts.

Usage:
    python3 tools/ab_pairs.py BASE CHANGE --workload ingest [--pairs 10]
        [--seed 101] [--metric round_s ...]

Runs ``perfbench/run.py`` once per side per pair, each in its own
checkout directory, with the same seed on both sides of a pair (seeds
``--seed``, ``--seed + 1``, ...), for the ``run_seconds`` that
``BENCHMARK.json`` declares. Which side goes first alternates from
pair to pair, so host drift over the runs lands on both sides alike.
The benchmark is only called, never edited: its command line, its
inputs and its output lines are the ones ``BENCHMARK.json`` declares.

For every requested metric it prints each side's median and quartiles,
how many pairs the change won (in the metric's ``better`` direction,
read from ``BENCHMARK.json``), and whether the change's median beats
the base median by more than the base side's quartile spread. Each
run's CPU steal share is printed next to its values, so a drifted pair
carries its own explanation. The last line of standard output is one
JSON object with every run's values.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base", help="checkout of the parent commit")
    p.add_argument("change", help="checkout of the change")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed", type=int, default=101, help="first pair's seed")
    p.add_argument(
        "--metric",
        action="append",
        help="metric to summarize (repeatable; default: every end-to-end "
        "metric in BENCHMARK.json)",
    )
    return p.parse_args(argv)


def run_once(
    checkout: str, workload: str, seed: int, seconds: int
) -> dict:
    """One benchmark run in ``checkout``: its metric values, steal share
    and wall time. A run that prints no result line is recorded with
    its exit code and stderr tail instead of metrics."""
    cmd = [
        sys.executable, "perfbench/run.py",
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        return {
            "seed": seed,
            "wall_s": round(wall, 1),
            "error": f"exit {proc.returncode}: {proc.stderr[-400:]}",
        }
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {
        "seed": seed,
        "wall_s": round(wall, 1),
        "steal_pct": detail.get("machine", {}).get("steal_pct"),
        "failed": result.get("failed"),
        "attempted": result.get("attempted"),
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(
    runs: dict[str, list[dict]], metric: str, lower_is_better: bool
) -> dict:
    pairs = [
        (b["metrics"][metric], c["metrics"][metric])
        for b, c in zip(runs["base"], runs["change"])
        if metric in b.get("metrics", {}) and metric in c.get("metrics", {})
    ]
    base = [b for b, _ in pairs]
    change = [c for _, c in pairs]
    wins = sum((c < b) if lower_is_better else (c > b) for b, c in pairs)
    bq, cq = quartiles(base), quartiles(change)
    return {
        "metric": metric,
        "better": "lower" if lower_is_better else "higher",
        "pairs": len(pairs),
        "wins": wins,
        "base_q1_median_q3": [round(x, 4) for x in bq],
        "change_q1_median_q3": [round(x, 4) for x in cq],
        # positive when the change's median is better
        "median_gain": round(
            (bq[1] - cq[1]) if lower_is_better else (cq[1] - bq[1]), 4
        ),
        "base_iqr": round(bq[2] - bq[0], 4),
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    better = {
        m["name"]: m["better"] == "lower"
        for m in declared.get("end_to_end", [])
    }
    runs: dict[str, list[dict]] = {"base": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            checkout = args.base if side == "base" else args.change
            r = run_once(
                checkout, args.workload, seed, declared["run_seconds"]
            )
            runs[side].append(r)
            shown = {
                k: v for k, v in r.get("metrics", {}).items()
                if not args.metric or k in args.metric
            }
            print(
                f"pair {i + 1}/{args.pairs} seed {seed} {side:6s} "
                f"steal {r.get('steal_pct')}% wall {r['wall_s']}s "
                f"{r.get('error') or json.dumps(shown)}",
                flush=True,
            )

    metrics = args.metric or [
        m["name"] for m in declared.get("end_to_end", [])
    ]
    summary = [summarize(runs, m, better.get(m, True)) for m in metrics]
    print(
        f"\n{'metric':32s} {'base q1/med/q3':>26s} "
        f"{'change q1/med/q3':>26s} {'wins':>6s} gain>IQR"
    )
    for s in summary:
        b, c = s["base_q1_median_q3"], s["change_q1_median_q3"]
        print(
            f"{s['metric']:32s} {b[0]:8.3f}/{b[1]:8.3f}/{b[2]:8.3f} "
            f"{c[0]:8.3f}/{c[1]:8.3f}/{c[2]:8.3f} "
            f"{s['wins']:>2d}/{s['pairs']:<3d} "
            f"{'yes' if s['median_gain'] > s['base_iqr'] else 'no'}"
        )
    for side in ("base", "change"):
        steals = [r.get("steal_pct") for r in runs[side]]
        print(f"steal % ({side}): {steals}")
    print(json.dumps(
        {"workload": args.workload, "summary": summary, "runs": runs}
    ))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
