#!/usr/bin/env python
"""Cost of looking up each row's repo in the partition plan, as
``encode()``'s map-side packer does, and print one JSON line.

    python scripts/pack_lookup_probe.py [--rows 100000] [--batches 5]

Spark-free.  For plans of 10^3, 10^5 and 10^6 repos it times:

* ``dict_build_s``: the repo → plan-row ``dict`` a packer task builds
  once (``to_pylist`` plus the dict);
* ``dict_batch_s``: per batch, ``dictionary_encode`` the batch's repo
  column, look up its distinct values in the dict, ``take`` the rows
  (the packer's lookup);
* ``index_in_batch_s``: per batch, ``pc.index_in`` of the repo column
  against the whole plan (the alternative; it hashes the plan on every
  call).

Each batch holds ``--rows`` repo names drawn Zipf(1.2) over the plan,
as in a skewed corpus; the per-batch figures are medians over
``--batches`` batches.
"""
from __future__ import annotations

import argparse
import json
import statistics
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=100_000)
    ap.add_argument("--batches", type=int, default=5)
    args = ap.parse_args()

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    rng = np.random.default_rng(1)
    res = {"rows_per_batch": args.rows, "pyarrow": pa.__version__,
           "plans": []}
    for n in (10**3, 10**5, 10**6):
        plan_repo = pa.array([f"org/repo{i:07d}" for i in range(n)])
        t0 = time.perf_counter()
        row_of = {r: i for i, r in enumerate(plan_repo.to_pylist())}
        build = time.perf_counter() - t0
        dict_s, index_s, distinct = [], [], []
        for _ in range(args.batches):
            idx = (rng.zipf(1.2, args.rows) - 1) % n
            repo = plan_repo.take(pa.array(idx))

            t0 = time.perf_counter()
            enc = repo.dictionary_encode(null_encoding="encode")
            rows = np.asarray([row_of[r] for r in
                               enc.dictionary.to_pylist()], np.int64)
            got = rows[enc.indices.to_numpy(zero_copy_only=False)]
            dict_s.append(time.perf_counter() - t0)

            t0 = time.perf_counter()
            ref = pc.index_in(repo, value_set=plan_repo)
            index_s.append(time.perf_counter() - t0)

            if not np.array_equal(got, ref.to_numpy(zero_copy_only=False)):
                raise SystemExit("dict and index_in lookups disagree")
            distinct.append(len(enc.dictionary))
        res["plans"].append({
            "plan_repos": n, "dict_build_s": round(build, 4),
            "dict_batch_s": round(statistics.median(dict_s), 4),
            "index_in_batch_s": round(statistics.median(index_s), 4),
            "distinct_per_batch": int(statistics.median(distinct))})
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
