"""Span recording for the traced benchmark run.

Spans are taken from the benchmark's own code only: a top-level span
around each user-facing operation, and child spans from wrappers that
replace public functions of the engine's modules for the duration of
the traced run.  Nothing inside ``vcf2parquet_spark`` is changed.

Only functions the driver process calls are wrapped.  A wrapper must
never reach a Spark task: cloudpickle ships a nested function's
globals by value, so wrapping a function that an executor closure names
(``encode.encode_partition``, ``decode.read_blocks_file``) would ship
the benchmark's wrapper to the Python workers.  Those layers are timed
by replaying their public functions in the benchmark process instead.

A probe whose target no longer exists (renamed or removed by a later
change) is recorded as missing; the run goes on without it.
"""

from __future__ import annotations

import functools
import importlib
import time
from contextlib import contextmanager

# (module, attribute, span name) — driver-side public calls only
DRIVER_PROBES = (
    ("vcf2parquet_spark.table", "committed_parts", "table.committed_parts"),
    ("vcf2parquet_spark.table", "snapshots", "table.snapshots"),
    ("vcf2parquet_spark.table", "live_parts", "table.live_parts"),
    ("vcf2parquet_spark.table", "commit_snapshot", "table.commit_snapshot"),
    ("vcf2parquet_spark.table", "write_table_meta", "table.write_table_meta"),
    ("vcf2parquet_spark.table", "read_table_meta", "table.read_table_meta"),
    ("vcf2parquet_spark.encode", "plan_partitions_arrow", "encode.plan"),
    ("vcf2parquet_spark.encode", "plan_file_units", "encode.plan_file_units"),
    ("vcf2parquet_spark.decode", "plan_decode_parts", "decode.plan"),
    # compact() imported these by name, so they are wrapped where it
    # looks them up
    ("vcf2parquet_spark.maintenance", "decode", "decode.decode"),
    ("vcf2parquet_spark.maintenance", "encode", "encode.encode"),
    ("vcf2parquet_spark.maintenance", "abandon_pending_rewrites",
     "maintenance.abandon_pending_rewrites"),
)


def resolve(module: str, attr: str):
    """The engine function ``module.attr``, or None if it is gone."""
    try:
        return getattr(importlib.import_module(module), attr)
    except (ImportError, AttributeError):
        return None


class Tracer:
    """In-memory span log.  A span is ``{name, start, end, parent, op}``:
    ``parent`` is the index of the enclosing span (None at top level)
    and ``op`` the id of the top-level operation it belongs to."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.missing: set[str] = set()
        self._stack: list[int] = []
        self._op = 0
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._op += 1
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": self._op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def patch(self, module: str, attr: str, name: str, suffix=None) -> bool:
        """Replace ``module.attr`` with a span-recording wrapper until
        :meth:`unpatch_all`.  ``suffix(args, kwargs)`` may extend the
        span name per call (e.g. with a column name).  False (and
        ``name`` marked missing) when the target is gone."""
        fn = resolve(module, attr)
        if fn is None:
            self.missing.add(name)
            return False

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            full = name if suffix is None else f"{name}.{suffix(args, kwargs)}"
            with self.span(full):
                return fn(*args, **kwargs)

        mod = importlib.import_module(module)
        self._saved.append((mod, attr, fn))
        setattr(mod, attr, traced)
        return True

    def patch_driver(self) -> None:
        for module, attr, name in DRIVER_PROBES:
            self.patch(module, attr, name)

    def unpatch_all(self) -> None:
        while self._saved:
            mod, attr, fn = self._saved.pop()
            setattr(mod, attr, fn)

    # -- aggregation ------------------------------------------------------

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(i)
        return kids

    def self_times(self) -> list[float]:
        """Per span: its duration minus the time its direct children
        cover (children of one span never overlap: the driver is one
        thread)."""
        kids = self._children()
        out = []
        for i, s in enumerate(self.spans):
            d = s["end"] - s["start"]
            for k in kids.get(i, ()):
                d -= self.spans[k]["end"] - self.spans[k]["start"]
            out.append(d)
        return out

    def operations(self) -> list[dict]:
        """One record per top-level span: its wall, the self time of
        every layer under it, and the unattributed remainder (the top
        span's own self time).  ``sum(layers) + unattributed == wall``
        holds by construction; ``check_err`` records the float error."""
        selfs = self.self_times()
        ops: dict[int, dict] = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is None:
                ops[s["op"]] = {"name": s["name"],
                                "wall": s["end"] - s["start"],
                                "unattributed": selfs[i], "layers": {}}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None and s["op"] in ops:
                lay = ops[s["op"]]["layers"]
                lay[s["name"]] = lay.get(s["name"], 0.0) + selfs[i]
        for o in ops.values():
            o["check_err"] = abs(sum(o["layers"].values())
                                 + o["unattributed"] - o["wall"])
        return list(ops.values())
