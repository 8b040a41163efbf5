#!/usr/bin/env python
"""Time a clustered encode and a full read that run right after a
shuffle ``encode()``, and print one JSON line.

    python scripts/after_encode_probe.py [--rounds 12] \
        [--before none|join] [--dir D]

A fresh ``local[4]`` session writes a 6,000-row corpus twice, as one
parquet file and as a file of 24 row groups, and builds a 30-part
table from the second with ``encode_clustered``.  Each round then runs
a shuffle ``encode()`` of the corpus (untimed), a timed
``encode_clustered`` of the row-group file, and a timed full
``decode()`` of the 30-part table.  ``--before join`` adds, after the
shuffle encode, the Spark work an ``encode()`` ran before its part ids
moved into the map-side packer: an Arrow-built plan DataFrame, a
null-safe broadcast join of the corpus to it, and a broadcast
``left_anti`` join against an Arrow-built part-id side, counted.

Output: the medians of each timed call's wall time over rounds 2–6 and
7–12 (round 1 is left out), and every round's time.  The probe imports
the engine from the tree it sits in, so an A/B runs the same file from
two checkouts.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=12)
    ap.add_argument("--before", default="none", choices=("none", "join"))
    ap.add_argument("--dir", default=None,
                    help="scratch directory for the tables (removed after)")
    args = ap.parse_args()

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from vcf2parquet_spark.corpus import synth_corpus_arrow
    from vcf2parquet_spark.decode import decode
    from vcf2parquet_spark.encode import encode, encode_clustered
    from vcf2parquet_spark.session import get_spark

    spark = get_spark(cores=4, app_name="after_encode_probe")
    root = tempfile.mkdtemp(prefix="after_encode_", dir=args.dir)

    def join_work(df):
        agg = df.groupBy("repo").agg(F.count("*").alias("cnt")).toArrow()
        plan = spark.createDataFrame(pa.table({
            "_plan_repo": agg.column("repo"),
            "base_part_id": pa.array(range(agg.num_rows), pa.int64())}))
        done = spark.createDataFrame(pa.table(
            {"part_id": pa.array([0, 1, 2], pa.int64())}))
        (df.join(F.broadcast(plan),
                 F.col("repo").eqNullSafe(F.col("_plan_repo")))
         .withColumn("part_id", F.col("base_part_id")
                     + F.pmod(F.xxhash64("path", "commit"), F.lit(4)))
         .join(F.broadcast(done), "part_id", "left_anti")
         .count())

    clustered, scan = [], []
    try:
        corpus = synth_corpus_arrow(6_000, 9)
        one = os.path.join(root, "one")
        rgs = os.path.join(root, "rgs")
        os.makedirs(one)
        os.makedirs(rgs)
        pq.write_table(corpus, os.path.join(one, "part-0.parquet"))
        pq.write_table(corpus, os.path.join(rgs, "part-0.parquet"),
                       row_group_size=250)
        table = os.path.join(root, "table")
        encode_clustered(spark, rgs, table, target_rows=200)
        for r in range(args.rounds):
            df = spark.read.parquet(one)
            encode(spark, df, os.path.join(root, f"s{r}"), target_rows=750)
            if args.before == "join":
                join_work(df)
            t0 = time.perf_counter()
            encode_clustered(spark, rgs, os.path.join(root, f"c{r}"),
                             target_rows=750)
            clustered.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            decode(spark, table).toArrow()
            scan.append(time.perf_counter() - t0)
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)

    res = {"before": args.before, "rounds": args.rounds}
    for name, xs in (("clustered", clustered), ("scan", scan)):
        for lo, hi in ((1, 6), (6, 12)):
            if xs[lo:hi]:
                res[f"{name}_{lo + 1}_{hi}_s"] = round(
                    statistics.median(xs[lo:hi]), 4)
        res[f"{name}_s"] = [round(x, 4) for x in xs]
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
