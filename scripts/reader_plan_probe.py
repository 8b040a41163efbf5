#!/usr/bin/env python
"""Time the ``vcfblocks`` batch and stream readers and print one JSON
line.

    python scripts/reader_plan_probe.py [--cores 4] [--reps 8] [--dir D]

Builds two tables from the same 6,000 synthetic rows: ``few`` (2
parts, fewer than the slots) and ``many`` (27 parts, more than the
slots).  For each table it times, as the median of ``--reps`` runs
after two warm-up runs:

* ``batch_<table>_s``: ``spark.read.format("vcfblocks").load(t).count()``
  — read planning (the manifest scan and pruning in Spark's Python
  planner process) plus every read task;
* ``stream_<table>_s``: ``count()`` of the one micro-batch an
  ``availableNow`` stream over the whole table delivers, timed inside
  ``foreachBatch`` — the stream reader's planning (snapshot walk and
  manifest reads) plus every read task, without the query's start-up.

The probe imports the engine from the tree it sits in, so an A/B runs
the same file from two checkouts.
"""
from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# table -> (input partitions, target_rows per part)
TABLES = {"few": (2, 3_000), "many": (4, 250)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--reps", type=int, default=8)
    ap.add_argument("--dir", default=None,
                    help="scratch directory for the tables (removed after)")
    args = ap.parse_args()

    import pyspark

    from vcf2parquet_spark.corpus import synth_corpus_arrow
    from vcf2parquet_spark.datasource import register_data_source
    from vcf2parquet_spark.encode import encode
    from vcf2parquet_spark.session import get_spark

    spark = get_spark(cores=args.cores, app_name="reader_plan_probe")
    root = tempfile.mkdtemp(prefix="reader_plan_", dir=args.dir)
    try:
        df = spark.createDataFrame(synth_corpus_arrow(6_000, seed=11))
        parts = {}
        for name, (n_in, target) in TABLES.items():
            job = encode(spark, df.coalesce(n_in), os.path.join(root, name),
                         target_rows=target)
            parts[name] = job["n_partitions"]
        register_data_source(spark)

        def batch(name):
            t0 = time.perf_counter()
            n = spark.read.format("vcfblocks").load(
                os.path.join(root, name)).count()
            assert n == 6_000, n
            return time.perf_counter() - t0

        runs = [0]

        def stream(name):
            walls = []

            def one(b, _):
                t0 = time.perf_counter()
                assert b.count() == 6_000
                walls.append(time.perf_counter() - t0)

            runs[0] += 1
            q = (spark.readStream.format("vcfblocks")
                 .load(os.path.join(root, name)).writeStream
                 .foreachBatch(one)
                 .option("checkpointLocation",
                         os.path.join(root, f"ckpt-{runs[0]}"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            assert len(walls) == 1, walls
            return walls[0]

        result = {}
        for leg, fn in (("batch", batch), ("stream", stream)):
            for name in TABLES:
                for _ in range(2):          # warm-up: workers, JIT
                    fn(name)
                result[f"{leg}_{name}_s"] = round(statistics.median(
                    fn(name) for _ in range(args.reps)), 4)
        result.update(
            parts=parts, cores=args.cores, reps=args.reps,
            slots=spark.sparkContext.defaultParallelism,
            pyspark=pyspark.__version__, python=platform.python_version())
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
