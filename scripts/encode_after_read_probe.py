#!/usr/bin/env python
"""Time small encodes that run right after reads, and print one JSON
line.

    python scripts/encode_after_read_probe.py [--rounds 12] \
        [--before none|exchange|tasks|both|pickled|file_list] [--dir D]

A fresh ``local[4]`` session builds a 30-part table (6,000 rows) and a
2,000-row parquet file of 8 row groups.  Each round then runs a
filtered ``decode()`` of the table followed by ``encode_clustered`` of
the file, and a full ``decode()`` followed by ``encode()`` of the same
file; only the two encodes are timed.  ``--before`` adds a throwaway
job in front of each encode, to test what the reads leave behind for
the encodes:

* ``none``: nothing;
* ``exchange``: a JVM-only hash exchange (``range`` → ``repartition``
  → ``count``), no Python;
* ``tasks``: 16 no-op Python tasks (``range`` → ``mapInArrow``), no
  exchange — as many tasks as ``decode()`` used to run;
* ``both``: ``exchange`` then ``tasks``;
* ``pickled``: a Python-list ``createDataFrame`` counted, the
  pickled-row stage that runs on its own ``pyspark.daemon``;
* ``file_list``: the two together the way ``decode()`` used to plan a
  read — a Python-list file list, ``repartition`` to 16, a no-op
  ``mapInArrow``.

Output: the medians of each encode's wall time over rounds 2–6 and
7–12 (round 1 is the first use of each path after start-up and is left
out), and the same for the JVM's JIT-compile and GC milliseconds spent
while the encode ran (``CompilationMXBean`` and the
``GarbageCollectorMXBean`` totals, read before and after it).  The
probe imports the engine from the tree it sits in, so an A/B runs the
same file from two checkouts.
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
    ap.add_argument("--before", default="none",
                    choices=("none", "exchange", "tasks", "both", "pickled",
                             "file_list"))
    ap.add_argument("--dir", default=None,
                    help="scratch directory for the tables (removed after)")
    args = ap.parse_args()

    import pyarrow.parquet as pq

    from vcf2parquet_spark.corpus import synth_corpus_arrow
    from vcf2parquet_spark.decode import decode
    from vcf2parquet_spark.encode import encode, encode_clustered
    from vcf2parquet_spark.session import get_spark

    spark = get_spark(cores=4, app_name="encode_after_read_probe")
    root = tempfile.mkdtemp(prefix="encode_after_read_", dir=args.dir)
    mx = spark._jvm.java.lang.management.ManagementFactory
    jit, gcs = mx.getCompilationMXBean(), list(mx.getGarbageCollectorMXBeans())

    def counters():
        return (time.perf_counter(), jit.getTotalCompilationTime(),
                sum(g.getCollectionTime() for g in gcs))

    def timed(fn, into):
        before = counters()
        fn()
        after = counters()
        into.append([a - b for a, b in zip(after, before)])

    def throwaway():
        if args.before in ("exchange", "both"):
            spark.range(0, 20_000, numPartitions=4).repartition(16).count()
        if args.before in ("tasks", "both"):
            spark.range(16, numPartitions=16).mapInArrow(
                lambda it: (b.slice(0, 0) for b in it), "id long").count()
        if args.before == "pickled":
            spark.createDataFrame([(str(i),) for i in range(30)],
                                  "path string").count()
        elif args.before == "file_list":
            files = spark.createDataFrame([(str(i),) for i in range(30)],
                                          "path string").repartition(16)
            files.mapInArrow(lambda it: (b.slice(0, 0) for b in it),
                             "path string").count()

    try:
        table = os.path.join(root, "table")
        encode(spark, spark.createDataFrame(synth_corpus_arrow(6_000, 7)),
               table, target_rows=200)
        src = os.path.join(root, "in")
        os.makedirs(src)
        corpus = synth_corpus_arrow(2_000, 9)
        pq.write_table(corpus, os.path.join(src, "part-0.parquet"),
                       row_group_size=250)
        repo = corpus.column("repo")[0].as_py()

        clustered, shuffle = [], []
        for r in range(args.rounds):
            decode(spark, table, filters=[("repo", "==", repo)]).toArrow()
            throwaway()
            out = os.path.join(root, f"c{r}")
            timed(lambda: encode_clustered(spark, src, out, target_rows=750),
                  clustered)

            decode(spark, table).toArrow()
            throwaway()
            out = os.path.join(root, f"s{r}")
            timed(lambda: encode(spark, spark.read.parquet(src), out,
                                 target_rows=750), shuffle)
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)

    res = {"before": args.before, "rounds": args.rounds}
    for name, runs in (("clustered", clustered), ("shuffle", shuffle)):
        for i, what in enumerate(("s", "jit_ms", "gc_ms")):
            xs = [r[i] for r in runs]
            for lo, hi in ((1, 6), (6, 12)):
                if xs[lo:hi]:
                    res[f"{name}_{lo + 1}_{hi}_{what}"] = round(
                        statistics.median(xs[lo:hi]), 4)
            res[f"{name}_{what}"] = [round(x, 4) for x in xs]
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
