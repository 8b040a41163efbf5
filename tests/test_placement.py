"""Spark-free tests of work-unit placement: the planned unit loads
(``plan_partitions_arrow``'s third result) and the LPT unit→task
assignment both encode paths run on the driver (``assign_tasks``)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from vcf2parquet_spark.encode import plan_partitions_arrow
from vcf2parquet_spark.table import assign_tasks


@given(st.lists(st.one_of(st.integers(0, 3), st.integers(0, 10**9)),
                max_size=60), st.integers(1, 12))
@settings(max_examples=200, deadline=None)
def test_assign_tasks_properties(sizes, slots):
    task, n_tasks = assign_tasks(sizes, slots)
    assert n_tasks == min(len(sizes), slots)
    # every unit gets exactly one task in [0, n_tasks)
    assert task.shape == (len(sizes),)
    assert all(0 <= t < n_tasks for t in task.tolist())
    # deterministic
    again, n_again = assign_tasks(list(sizes), slots)
    assert n_again == n_tasks and again.tolist() == task.tolist()
    # balanced: the spread of task loads is at most the largest unit
    if sizes:
        loads = np.bincount(task, weights=np.asarray(sizes, float),
                            minlength=n_tasks)
        assert loads.max() - loads.min() <= max(sizes)
        # every task gets at least one unit
        assert set(task.tolist()) == set(range(n_tasks))


def test_assign_tasks_pinned():
    # largest first onto the least-loaded task; the two 9s tie on size
    # (unit 1 before unit 3) and the 2 on load (task 0 before task 1)
    task, n_tasks = assign_tasks([5, 9, 2, 9, 7, 1], 3)
    assert n_tasks == 3
    assert task.tolist() == [2, 0, 0, 1, 2, 1]
    task, n_tasks = assign_tasks([], 4)
    assert n_tasks == 0 and task.tolist() == []


def test_planned_unit_rows():
    """Salted units plan ceil(count/fanout) rows each; shared units plan
    the sum of their repos' counts."""
    repo = pa.array(["hot", "mid", "a", "b"])
    cnt = pa.array([1_000_000, 150_000, 10, 20], pa.int64())
    plan, next_id, rows = plan_partitions_arrow(repo, cnt, 250_000,
                                                offset=7)
    assert next_id == 12
    assert rows.dtype == np.int64
    assert rows.tolist() == [250_000] * 4 + [150_030]
    _, next_id, rows = plan_partitions_arrow(
        pa.array(["x", "y"]), pa.array([1_001, 3], pa.int64()), 500)
    assert next_id == 4 and rows.tolist() == [334, 334, 334, 3]


@given(st.lists(st.integers(1, 3_000), min_size=1, max_size=80),
       st.integers(1, 1_000), st.integers(0, 50))
@settings(max_examples=200, deadline=None)
def test_planned_unit_rows_match_loop(counts, target, offset):
    """The numpy unit loads equal a per-repo loop over the returned
    plan: salted repos add ceil(count/fanout) to each of their units,
    bundled repos their count to their shared unit."""
    repo = pa.array([f"r{i}" for i in range(len(counts))])
    cnt = pa.array(counts, pa.int64())
    plan, next_id, rows = plan_partitions_arrow(repo, cnt, target, offset)
    by_repo = dict(zip(repo.to_pylist(), counts))
    want = [0] * (next_id - offset)
    for r, base, fan in zip(*plan.to_pydict().values()):
        for k in range(fan):
            want[base + k - offset] += -(-by_repo[r] // fan)
    assert rows.tolist() == want
