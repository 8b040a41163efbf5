#!/usr/bin/env python
"""Measure the fixed cost of a Python task in local mode and print one
JSON line.

    python scripts/task_cost_probe.py [--cores 4] [--reps 5]

Each figure is the median of ``--reps`` runs after one warm-up run:

* ``python_tasks_s`` / ``jvm_tasks_s``: 40 trivial tasks through a Python
  RDD vs 40 JVM-only tasks (``range`` counted without leaving the JVM);
* ``engine_tasks_s``: 40 trivial Python tasks whose function calls
  ``vcf2parquet_spark._alloc.worker_setup()`` first, as every engine
  entry point does.  The setup forgets the worker's cached zip
  importers, and that outlives the task on a reused worker, so this leg
  runs last;
* ``worker_task_gap_s``: median start-to-start gap of consecutive
  Python tasks on one reused worker (40 one-element tasks);
* ``skeleton_s``: the two clustered-encode plan skeletons around a
  no-op ``mapInArrow`` — ``createDataFrame(n rows).repartition(n)``
  against ``range(min(n, cores), numPartitions=...)`` — for n = 3..8.

The difference between the first two, per task, is the fixed cost of
a plain Python task; ``engine_tasks_s`` against ``jvm_tasks_s`` is what
is left of it for an engine task.
"""
from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _median_wall(fn, reps: int) -> float:
    fn()                                   # warm-up: worker pool, JIT
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return round(statistics.median(walls), 3)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    import pyspark

    from vcf2parquet_spark.session import get_spark
    spark = get_spark(cores=args.cores, app_name="task_cost_probe")
    sc = spark.sparkContext

    def stamp(it):
        yield (os.getpid(), time.time())

    def gaps() -> float:
        by_pid: dict[int, list[float]] = {}
        for pid, t in sc.parallelize(range(40), 40).mapPartitions(
                stamp).collect():
            by_pid.setdefault(pid, []).append(t)
        d = [b - a for ts in by_pid.values()
             for a, b in zip(sorted(ts), sorted(ts)[1:])]
        return statistics.median(d)

    def noop(batches):
        for b in batches:
            yield b

    out = {
        "python_tasks_s": _median_wall(
            lambda: sc.parallelize(range(40), 40).map(lambda x: x).count(),
            args.reps),
        "jvm_tasks_s": _median_wall(
            lambda: spark.range(40, numPartitions=40)._jdf.javaRDD().count(),
            args.reps),
    }
    gaps()
    out["worker_task_gap_s"] = round(
        statistics.median(gaps() for _ in range(args.reps)), 3)
    skel = {}
    for n in range(3, 9):
        k = min(n, args.cores)
        skel[n] = {
            "createDataFrame_repartition": _median_wall(
                lambda n=n: spark.createDataFrame(
                    [(i,) for i in range(n)], "id long").repartition(n)
                .mapInArrow(noop, "id long").collect(), args.reps),
            "range": _median_wall(
                lambda k=k: spark.range(k, numPartitions=k)
                .mapInArrow(noop, "id long").collect(), args.reps),
        }
    out["skeleton_s"] = skel

    def engine(it):
        from vcf2parquet_spark._alloc import worker_setup
        worker_setup()
        return it

    out["engine_tasks_s"] = _median_wall(
        lambda: sc.parallelize(range(40), 40).mapPartitions(engine).count(),
        args.reps)
    spark.stop()
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    out["host"] = {"cores": args.cores, "usable_cores":
                   len(os.sched_getaffinity(0)), "mem_total_mb": mem_mb,
                   "python": platform.python_version(),
                   "pyspark": pyspark.__version__}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
