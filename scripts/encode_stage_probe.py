#!/usr/bin/env python
"""Stage timeline of one ``encode()``, read from the JVM status store,
and print one JSON line.

    python scripts/encode_stage_probe.py [--rounds 8] [--dir D]

A fresh ``local[4]`` session writes a 6,000-row corpus to parquet and
runs ``encode()`` of it ``--rounds`` times, each into a new table; the
rounds before the last warm the JVM and the Python workers.  Each
encode runs under its own job group.  For the last one the probe reads
every job and stage of that group from ``statusStore()`` (``jobsList``
and ``lastStageAttempt``) and reports, in milliseconds from the call to
``encode()``: each job's submission and completion, and each stage's
name, task count, status, submission, first task launch and
completion.  ``gaps_ms`` lists the driver-side gaps: from the end of
one job or stage to the submission of the next.  ``walls_s`` holds
every round's wall time.  The probe imports the engine from the tree
it sits in, so an A/B runs the same file from two checkouts.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _opt_ms(opt, t0_ms: float):
    """A Scala ``Option[Date]`` as ms after ``t0_ms``, or None."""
    return round(opt.get().getTime() - t0_ms) if opt.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def timeline(spark, group: str, t0_ms: float) -> dict:
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = [j for j in _seq(store.jobsList(None))
            if j.jobGroup().isDefined() and j.jobGroup().get() == group]
    jobs.sort(key=lambda j: j.jobId())
    stage_ids = {sid for j in jobs for sid in
                 (j.stageIds().apply(i) for i in range(j.stageIds().size()))}
    stages = [store.lastStageAttempt(sid) for sid in sorted(stage_ids)]
    out_jobs = [{"job": j.jobId(), "stages": sorted(
                    j.stageIds().apply(i) for i in range(j.stageIds().size())),
                 "submit_ms": _opt_ms(j.submissionTime(), t0_ms),
                 "complete_ms": _opt_ms(j.completionTime(), t0_ms)}
                for j in jobs]
    out_stages = [{"stage": s.stageId(), "name": s.name().split(" at ")[0],
                   "tasks": s.numTasks(), "status": str(s.status()),
                   "submit_ms": _opt_ms(s.submissionTime(), t0_ms),
                   "first_task_ms": _opt_ms(s.firstTaskLaunchedTime(), t0_ms),
                   "complete_ms": _opt_ms(s.completionTime(), t0_ms)}
                  for s in stages]
    # driver gaps: every interval in which no job or stage of the group
    # was running, in time order
    spans = sorted((x["submit_ms"], x["complete_ms"])
                   for x in out_jobs + out_stages
                   if x["submit_ms"] is not None
                   and x["complete_ms"] is not None)
    gaps, end = [], 0
    for lo, hi in spans:
        if lo > end:
            gaps.append([end, lo])
        end = max(end, hi)
    return {"jobs": out_jobs, "stages": out_stages, "gaps_ms": gaps,
            "last_complete_ms": end}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=8)
    ap.add_argument("--dir", default=None,
                    help="scratch directory for the tables (removed after)")
    args = ap.parse_args()

    import pyarrow.parquet as pq

    from vcf2parquet_spark.corpus import synth_corpus_arrow
    from vcf2parquet_spark.encode import encode
    from vcf2parquet_spark.session import get_spark

    spark = get_spark(cores=4, app_name="encode_stage_probe")
    sc = spark.sparkContext
    root = tempfile.mkdtemp(prefix="encode_stage_", dir=args.dir)
    walls = []
    try:
        src = os.path.join(root, "in")
        os.makedirs(src)
        pq.write_table(synth_corpus_arrow(6_000, 9),
                       os.path.join(src, "part-0.parquet"))
        for r in range(args.rounds):
            group = f"encode_stage_probe_{r}"
            sc.setJobGroup(group, "encode stage timeline")
            t0 = time.time()
            encode(spark, spark.read.parquet(src), os.path.join(root, f"o{r}"),
                   target_rows=750)
            wall = time.time() - t0
            sc._jsc.clearJobGroup()
            walls.append(round(wall, 4))
        res = {"rounds": args.rounds, "walls_s": walls,
               "last_wall_ms": round(walls[-1] * 1000),
               **timeline(spark, group, t0 * 1000)}
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
