"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,serve} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Generates the inputs from the seed, starts
one local[nproc - 1] Spark driver, sets the workload up three times
(``setup_s`` is the median), runs one untimed warm-up round, then timed
rounds until ``--seconds`` have passed and at least three rounds ran.
Every call's output is checked against the independent oracle. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it records
the machine, the run's phases and every call's time.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "out")
SETUPS = 3
WARM_ROUNDS = 1  # the first round after set-up runs cold
MIN_ROUNDS = 3  # the first timed round still runs slow; a median of three drops it


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if args.seconds < 1:
        raise SystemExit("--seconds must be at least 1")
    # the engine is imported from the checkout this file sits in; Spark's
    # Python workers find it through PYTHONPATH
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import sparksearchengine_spark  # noqa: F401  (fail before starting Spark)

    from oracle import self_check
    from spark_env import Machine, Tracer, cached_mb, persisted_ids, start_spark, stop_spark
    from workloads import WORKLOADS, Bench, Inputs

    self_check()
    # one core is left to the driver JVM, the client and the Python
    # workers: under host CPU steal a local[nproc] stage waits for
    # whichever core is descheduled (see README.md, "Core count")
    cores = len(os.sched_getaffinity(0))
    spark_cores = max(1, cores - 1)
    machine = Machine(cores)
    machine.begin()
    phases = {}
    t0 = time.perf_counter()
    inputs = Inputs(args.seed)
    phases["inputs_s"] = time.perf_counter() - t0
    spark = start_spark(WORK, spark_cores)
    phases["spark_start_s"] = time.perf_counter() - t0 - phases["inputs_s"]
    try:
        machine.spark_cores = spark.sparkContext.defaultParallelism
        tracer = Tracer(spark, enabled=bool(args.trace))
        bench = Bench(spark, inputs, tracer)
        wl = WORKLOADS[args.workload](bench)

        setup_s = []
        for _ in range(1 if args.trace else SETUPS):
            wl.release()
            t1 = time.perf_counter()
            wl.setup()
            setup_s.append(time.perf_counter() - t1)
        phases["setups_s"] = sum(setup_s)
        baseline = persisted_ids(spark)

        t1 = time.perf_counter()
        bench.counting = False
        for _ in range(WARM_ROUNDS):
            wl.round()
        bench.counting = True
        phases["warm_s"] = time.perf_counter() - t1

        rounds, mb, leftovers = [], [], []
        t_end = time.perf_counter() + args.seconds
        while len(rounds) < MIN_ROUNDS or time.perf_counter() < t_end:
            # collect garbage on both sides between rounds, so that the
            # rounds are not timed with the previous round's garbage
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            bench.round_s = 0.0
            wl.round()
            rounds.append(bench.round_s)
            mb.append(cached_mb(spark))
            left = persisted_ids(spark) - baseline
            leftovers.append(len(left))
            if left:
                # a call left caches behind: drop them so the next round
                # does not run on this one's leftovers
                wl.release()
                wl.setup()
                baseline = persisted_ids(spark)

        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "rounds": len(rounds),
            "calls": {k: [round(x, 4) for x in v] for k, v in bench.times.items()},
            "per_call": {k: round(v, 4) for k, v in wl.summary().items()},
            "rdds_left_per_round": max(leftovers),
            "phases": phases,
        }
        phases["measure_s"] = time.perf_counter() - t_end + args.seconds
        if args.trace:
            from layers import layer_metrics

            t1 = time.perf_counter()
            metrics = layer_metrics(bench, wl, rounds)
            phases["layers_s"] = time.perf_counter() - t1
        else:
            metrics = {
                "setup_s": {"value": statistics.median(setup_s), "unit": "s"},
                "round_s": {"value": statistics.median(rounds), "unit": "s"},
                "cached_mb": {"value": statistics.median(mb), "unit": "MiB"},
            }
    finally:
        stop_spark(spark)
    machine.end()
    detail["machine"] = machine.record()
    phases["total_s"] = time.perf_counter() - t0
    detail["phases"] = {k: round(v, 2) for k, v in phases.items()}
    print(json.dumps(detail))
    print(json.dumps({
        # failed calls are counted in "failed"; every other call's output
        # was checked and agreed with the oracle
        "correct": bench.attempted > 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
