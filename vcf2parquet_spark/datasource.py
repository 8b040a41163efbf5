"""``vcfblocks`` — the encoded table as a real Spark data source.

pyspark 4.1's Python Data Source API makes the encoded blocks table a
first-class format for EVERY consumer (``spark.read.format("vcfblocks")
.load(out)``, temp views, BI tools), not just callers of
``decode.sql()``:

* **Partition-filter pushdown** (``DataSourceReader.pushFilters``,
  4.1.0): Catalyst hands the scan its conjunctive filters; bounds-
  checkable ones (``== < <= > >= <=> IN``, ``LIKE 'p%'`` prefixes via
  min/max, ``IS [NOT] NULL`` via the manifests' null counts) prune
  whole committed partitions via the manifest statistics — the same
  Iceberg-style plan as :func:`vcf2parquet_spark.decode.
  plan_decode_parts` — before a single block byte is read.  All
  filters are returned to Spark for exact row-level re-evaluation
  (partial pushdown, the Iceberg model), so results are always exact.
* **Column pruning** via the ``columns`` option (comma-separated):
  the pyarrow block read materializes only those columns' block rows.
  NOTE pyspark 4.1.2's Python DS API has no ``pruneColumns`` hook —
  verified empirically: a ``SELECT one_col`` plan shows the BatchScan
  still outputting every schema column — so per-query AUTOMATIC
  pruning remains the job of :func:`vcf2parquet_spark.decode.sql`;
  this option is the explicit hook for everyone else.
* **Time travel** via the ``snapshot_id`` option (int), mirroring
  ``decode(snapshot_id=...)``.
* ``include_derived`` option ("true"/"false"): expose the derived
  integer columns (size_bytes, n_lines) alongside the input schema.

Parallelism = one input partition per Python task, each holding a
list of committed blocks files placed on ``min(files, slots)`` tasks
by the planner ``decode()`` uses (``decode.plan_read``) — zero
shuffle, workers open their files directly with
pyarrow.  The reference has no reader analogue (its pipeline is
one-way, /root/reference/src/lib.rs:19-67); this is the Spark-native
surface an analytics engine needs on top.

The format is also WRITABLE (:class:`BlocksArrowWriter`): one task =
one input partition = one encoded partition through the same
``encode_partition`` kernels, with Spark's job-commit protocol mapped
onto the table's snapshot log (append/overwrite = Iceberg-style
logical snapshots, abort = file cleanup).

The format is STREAMABLE in both directions: a Structured Streaming
sink (:class:`BlocksStreamWriter`, exactly-once epoch commits) and a
source (:class:`BlocksStreamReader`) that tails the table's snapshot
log — each micro-batch emits the partitions newly introduced by
snapshots since the last committed offset, skipping compaction
rewrites, so a downstream pipeline can follow an encoded table the way
it would follow an Iceberg/Delta table.

Usage::

    from vcf2parquet_spark.datasource import register_data_source
    register_data_source(spark)
    df = (spark.read.format("vcfblocks")
          .option("columns", "lang,content").load(out))
    df2.write.format("vcfblocks").mode("append").save(out)
    q = (spark.readStream.format("vcfblocks").load(out)    # tail it
         .writeStream.format("memory").queryName("tail")
         .option("checkpointLocation", cp).start())
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterator, List, Optional, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)

from vcf2parquet_spark import table as tbl
from vcf2parquet_spark._alloc import worker_setup
from vcf2parquet_spark.decode import _SPARK_TYPES, plan_read, read_blocks_file
from vcf2parquet_spark.session import default_cores

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

FORMAT_NAME = "vcfblocks"

# Part-id namespace spacing between DISTINCT streaming queries writing
# the same table (see BlocksStreamWriter.commit/_alloc_base): each query
# gets a base that is a multiple of this, giving it QUERY_STRIDE/
# EPOCH_STRIDE = 10^6 epochs before it could reach the next query's
# region — and commit() raises loudly at that budget instead of
# colliding silently.
QUERY_STRIDE = 10 ** 12
# Per-query base registry: <table>/_stream_bases/q-<query key>.json
# ({"ckpt", "base", "last_batch", "query_id", "retired": [...]}) — one
# file per query so concurrent queries never read-modify-write each
# other's state — plus b-<n>.claim files created O_EXCL to make base
# allocation atomic.  The pre-r5 single-file registry is still READ
# (taken-base accounting + entry migration), never rewritten.
_STREAM_BASES_DIR = "_stream_bases"
_STREAM_BASES = "stream_bases.json"   # legacy (pre-r5), read-only

# Filter dataclass -> the manifest bounds-check op it prunes with.
# Everything else (Not, StringEndsWith/Contains, ...) is simply not
# prunable here and is left entirely to Spark's row-level pass.
_FILTER_OPS = {EqualTo: "==", GreaterThan: ">", GreaterThanOrEqual: ">=",
               LessThan: "<", LessThanOrEqual: "<=",
               In: "in", StringStartsWith: "startswith",
               IsNull: "isnull", IsNotNull: "notnull"}


def _table_path(options: dict) -> str:
    from vcf2parquet_spark.errors import StorageError

    path = options.get("path")
    if not path:
        raise StorageError("vcfblocks: .load(<table path>) is required")
    return path


def _schema_manifest(options: dict) -> dict:
    """ONE live manifest, for schema inference — O(snapshots) + a single
    JSON read, NOT the O(partitions) scan read planning does.  schema()
    runs once per ``spark.read`` and its result is baked into the plan;
    caching the read plan there instead would (a) ship O(partitions)
    manifest JSON inside the pickled DataSource/reader to every
    executor and (b) pin a held DataFrame to schema-inference time —
    so partitions() always re-plans fresh and schema() reads one file.
    Append guards keep every live manifest's schema identical
    (``BlocksArrowWriter.__init__``); after a schema-changing
    overwrite, the latest snapshot's parts carry the new schema."""
    from vcf2parquet_spark.errors import StorageError

    path = _table_path(options)
    # address ONE snapshot file directly — parsing the whole log would
    # be O(snapshots) json loads, worse than the manifest scan this
    # function avoids on a streaming table (one snapshot per epoch)
    files = dict(tbl.snapshot_files(path))
    snap = None
    snapshot_id = options.get("snapshot_id")
    if snapshot_id is not None:
        sid = int(snapshot_id)
        if sid not in files:
            raise StorageError(
                f"unknown snapshot {sid} under {path}; "
                f"have {sorted(files)}")
        with open(files[sid]) as f:
            snap = json.load(f)
        if not snap["part_ids"]:
            raise StorageError(f"no committed partitions under {path}")
    elif files:
        with open(files[max(files)]) as f:
            snap = json.load(f)
    part_id = snap["part_ids"][0] if snap and snap["part_ids"] else None
    if part_id is not None:
        return tbl.read_manifest(path, part_id)
    # no snapshot yet (or an empty live set): the NEWEST committed
    # manifest — a crashed/in-flight run's table is still
    # schema-readable, and after a schema-changing overwrite followed by
    # an empty one the latest schema wins.  Ids are parsed, not sorted
    # as names: part-100000 < part-99999 as strings.
    mdir = os.path.join(path, tbl.MANIFEST_DIR)
    ids = [int(n[5:-5])
           for n in (os.listdir(mdir) if os.path.isdir(mdir) else [])
           if n.startswith("part-") and n.endswith(".json")]
    if ids:
        return tbl.read_manifest(path, max(ids))
    raise StorageError(f"no committed partitions under {path}")


def _option_columns(options: dict, base: list[str],
                    all_cols: list[str]) -> list[str]:
    from vcf2parquet_spark.errors import SchemaError

    include_derived = str(options.get("include_derived", "false")
                          ).lower() in ("true", "1", "yes")
    cols = all_cols if include_derived else base
    if options.get("columns"):
        want = [c.strip() for c in options["columns"].split(",") if c.strip()]
        bad = [c for c in want if c not in all_cols]
        if bad:
            raise SchemaError(
                f"vcfblocks: unknown columns {bad}; table has {all_cols}")
        cols = want
    return cols


class BlocksReader(DataSourceReader):
    """Plans one :class:`InputPartition` per Python task, holding that
    task's list of committed blocks files (post-pruning, placed by
    :func:`~vcf2parquet_spark.decode.plan_read` on ``min(files,
    slots)`` tasks); each task decodes its files' blocks directly with
    pyarrow — the same zero-shuffle plan as ``decode()``."""

    def __init__(self, schema, options: dict, slots: int) -> None:
        self._options = dict(options)
        self._cols = [f.name for f in schema.fields]
        self._slots = slots
        self._pruning: list[tuple[str, str, object]] = []

    def pushFilters(self, filters: list[Filter]) -> list[Filter]:
        """Record bounds-checkable filters for manifest-level partition
        pruning; every filter is returned (= still evaluated by Spark),
        so the pushdown is partition-granular and always exact.  Eager
        (not a generator): the side effect on self must happen even if
        the caller never iterates the leftovers."""
        worker_setup()
        for f in filters:
            op = _FILTER_OPS.get(type(f))
            if op is not None and len(f.attribute) == 1:
                value = getattr(f, "value", None)   # Is(Not)Null: none
                self._pruning.append((f.attribute[0], op, value))
            elif (isinstance(f, EqualNullSafe) and len(f.attribute) == 1):
                # x <=> NULL is IsNull; x <=> v is == (nulls never match)
                self._pruning.append(
                    (f.attribute[0],
                     "isnull" if f.value is None else "==", f.value))
        return list(filters)

    def partitions(self) -> Sequence[InputPartition]:
        from vcf2parquet_spark.errors import StorageError

        worker_setup()
        # the ONE O(partitions) manifest scan per query execution —
        # always fresh, so a held DataFrame re-executed after new
        # commits sees them (schema() reads a single manifest instead)
        path = _table_path(self._options)
        sid = self._options.get("snapshot_id")
        plan = plan_read(path, self._slots,
                         snapshot_id=None if sid is None else int(sid),
                         filters=self._pruning)
        if not plan.selected:
            raise StorageError(f"no committed partitions under {path}")
        return [InputPartition(paths) for paths in plan.tasks]

    def read(self, partition: InputPartition) -> Iterator["pa.RecordBatch"]:
        # partitions() may prune to ZERO files (e.g. a filter outside
        # every manifest's bounds); Spark then schedules one task with
        # partition=None — an empty scan, not an error
        for path in (() if partition is None else partition.value):
            yield from read_blocks_file(path, self._cols)


class BlocksStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("vcfblocks").load(out)`` — tail an
    encoded table as a Structured Streaming source, the read half of
    the streaming story (the sink half is :class:`BlocksStreamWriter`).

    The snapshot log IS the offset axis (the Iceberg/Delta streaming
    model): an offset is ``{"snapshot_id": S}`` = "every row-carrying
    partition first referenced by snapshots <= S has been emitted".
    Each micro-batch plans the partitions FIRST introduced by snapshots
    in ``(start, end]``, placed on ``min(files, slots)`` tasks by the
    batch reader's planner — one :class:`InputPartition` per task,
    holding a list of blocks files, decoded executor-side by the same
    shared read as the batch reader, zero shuffle, no driver data path.

    Semantics (append-only stream, the Iceberg streaming-read model):

    * ``encode`` / ``append`` / ``overwrite`` / ``stream_epoch``
      snapshots carry their NEW partitions' rows downstream;
    * ``compact`` snapshots never re-emit: their ``rewrite_ids`` (the
      re-encoded copies of already-emitted rows) are skipped.  Other
      partitions first referenced by a compact snapshot — a crashed
      run's output the maintenance pass adopted — ARE emitted (their
      rows were never delivered).  ``compact()`` guarantees its
      SOURCES were snapshot-referenced beforehand, so rewrite outputs
      never mix emitted and unemitted rows.  A compact snapshot
      without ``rewrite_ids`` (pre-r5 format) skips every
      first-referenced partition, the old behavior;
    * ``overwrite`` emits the newly written rows only; rows it removed
      from the live set are NOT retracted (no changelog mode).
    * Partitions committed by a crashed/in-flight run (manifest present,
      no snapshot yet) are emitted once the next snapshot adopts them.

    Exactly-once: offsets live in the query's checkpoint; a replayed
    range re-plans the identical partition list because the snapshot
    log is immutable and part ids are never reused.  Retention caveat
    (standard for log-tailing sources): ``expire_snapshots`` must keep
    the snapshots past the slowest reader's committed offset — if the
    offset's snapshot has been expired, :meth:`partitions` raises a
    ``StorageError`` (the data files still exist, so nothing else would
    fail; silently continuing would re-emit every already-delivered
    partition as duplicates).

    Options: ``columns`` (pruning, same as batch), ``startingOffsets``
    = ``earliest`` (default: emit the whole existing table first) |
    ``latest`` (only snapshots committed after the query starts).
    """

    def __init__(self, schema, options: dict, slots: int) -> None:
        from vcf2parquet_spark.errors import StorageError

        self._path = _table_path(options)
        self._cols = [f.name for f in schema.fields]
        self._slots = slots
        start = str(options.get("startingOffsets", "earliest")).lower()
        if start not in ("earliest", "latest"):
            raise StorageError(
                f"vcfblocks: startingOffsets must be 'earliest' or "
                f"'latest', got {start!r}")
        self._start_latest = start == "latest"

    def _current(self) -> dict:
        snaps = tbl.snapshots(self._path)
        return {"snapshot_id": snaps[-1]["snapshot_id"] if snaps else -1}

    def initialOffset(self) -> dict:
        return self._current() if self._start_latest \
            else {"snapshot_id": -1}

    def latestOffset(self) -> dict:
        return self._current()

    def partitions(self, start: dict, end: dict
                   ) -> Sequence[InputPartition]:
        from vcf2parquet_spark.errors import StorageError

        worker_setup()
        lo, hi = int(start["snapshot_id"]), int(end["snapshot_id"])
        snaps = tbl.snapshots(self._path)
        if lo >= 0 and (not snaps or snaps[0]["snapshot_id"] > lo):
            # The snapshot at the committed offset has been expired:
            # "first seen by a snapshot > lo" attribution below the
            # offset is gone, so planning would re-emit the whole live
            # set as duplicates (data files still exist — nothing else
            # would error).  Fail loudly instead.
            oldest = snaps[0]["snapshot_id"] if snaps else None
            raise StorageError(
                f"vcfblocks stream: committed offset snapshot {lo} has "
                f"been expired from {self._path} (oldest retained: "
                f"{oldest}); continuing would re-emit already-delivered "
                "rows.  Keep expire_snapshots retention beyond the "
                "slowest reader's offset, or restart the query with a "
                "fresh checkpoint to re-read the table.")
        new: list[int] = []
        seen: set[int] = set()
        for s in snaps:                       # oldest first
            sid = s["snapshot_id"]
            if sid > hi:
                break
            skip = (set(s.get("rewrite_ids", s["part_ids"]))
                    if s["operation"] == "compact" else ())
            for p in s["part_ids"]:
                if p in seen:
                    continue
                seen.add(p)
                if sid > lo and p not in skip:
                    new.append(p)
        plan = plan_read(self._path, self._slots, manifests={
            p: tbl.read_manifest(self._path, p) for p in new})
        return [InputPartition(paths) for paths in plan.tasks]

    def read(self, partition: InputPartition
             ) -> Iterator["pa.RecordBatch"]:
        # an empty micro-batch has partition=None (see BlocksReader)
        for path in (() if partition is None else partition.value):
            yield from read_blocks_file(path, self._cols)

    def commit(self, end: dict) -> None:
        # progress lives in the query checkpoint; nothing to clean up
        pass


def _next_part_id(path: str, this_writer_next: int) -> int:
    """The id watermark a meta rewrite must carry forward: the max of
    what this writer just used and the table's previously recorded
    watermark (write_table_meta full-replaces the JSON, so dropping the
    key here would erase the watermark encode() recorded)."""
    try:
        prev = int(tbl.read_table_meta(path).get("next_part_id", 0))
    except (OSError, ValueError):
        prev = 0
    return max(prev, this_writer_next)


@dataclass
class PartCommit(WriterCommitMessage):
    """One task's commit message: which partition it encoded (None for
    an empty input split) and its size accounting."""
    part_id: Optional[int] = None
    n_rows: int = 0
    raw_bytes: int = 0
    enc_bytes: int = 0


class BlocksArrowWriter(DataSourceArrowWriter):
    """``df.write.format("vcfblocks").save(out)`` — the write half of
    the format, making the encoded table a full round trip through the
    standard Spark API.

    One task = one input partition of the DataFrame = one encoded
    partition (the user controls unit sizing via ``df.repartition``,
    exactly like the clustered path's rowgroup units): each task runs
    :func:`vcf2parquet_spark.encode.encode_partition` — the same
    profile → codec-select → kernel → atomic blocks-file + manifest
    commit as every other write path — and ships a :class:`PartCommit`
    back.  The driver-side :meth:`commit` then appends ONE snapshot,
    mapping Spark's commit protocol directly onto the table's
    Iceberg-style log:

    * ``mode("append")``  → snapshot over previous live set ∪ new parts
    * ``mode("overwrite")`` → snapshot over ONLY this job's parts — a
      LOGICAL overwrite (Iceberg semantics): old partitions leave the
      live set but stay on disk for time travel until
      ``expire_snapshots`` reclaims them.

    Failed/speculative task attempts are safe: part ids are derived
    from the deterministic Spark partition id and every file lands via
    unique-tmp + rename, and a retry re-encodes byte-identical blocks.
    A failed JOB calls :meth:`abort`, which deletes the parts reported
    in commit messages.  A part whose task committed its manifest but
    whose message never reached the driver is left behind as a
    committed-but-unsnapshotted partition — the table treats those
    exactly like a crashed ``encode()`` run's output (``live_parts``
    adopts them, the crash-resume semantics): re-running the same job
    overwrites them byte-identically, or ``snapshots``/``history`` +
    ``expire_snapshots`` reclaims abandoned ones.

    Note the global planning steps of :func:`vcf2parquet_spark.encode.
    encode` (repo-count partition plan, hot-repo salting, packed
    exchange) do NOT run here — Spark's writer protocol hands each task
    whatever partitioning the caller arranged.  For skew-aware layout
    use ``encode()``; this writer is the standard-API surface over the
    same kernels.
    """

    def __init__(self, schema, options: dict, overwrite: bool) -> None:
        from vcf2parquet_spark.encode import EncodeOptions
        from vcf2parquet_spark.errors import StorageError

        path = options.get("path")
        if not path:
            raise StorageError("vcfblocks: .save(<table path>) is required")
        self._path = path
        self._overwrite = overwrite
        kw: dict = {}
        if options.get("batch_size"):
            kw["batch_size"] = int(options["batch_size"])
        if options.get("residual"):
            kw["residual"] = options["residual"]
        if options.get("long_strings"):
            kw["long_strings"] = options["long_strings"]
        if str(options.get("sort", "true")).lower() in ("false", "0", "no"):
            kw["sort_columns"] = ()
        # snapshot=False: encode_partition commits manifests; THIS class
        # owns the snapshot, inside the Spark commit protocol
        self._opts = EncodeOptions(snapshot=False, resume=False, **kw)
        self._schema_columns = [f.name for f in schema.fields]
        tbl.init_layout(path)
        committed = tbl.committed_parts(path)
        self._offset = (max(committed) + 1) if committed else 0
        if committed and not overwrite:
            from vcf2parquet_spark.errors import SchemaError
            live = tbl.live_parts(path)
            have = next(iter(live.values()))["schema_columns"] if live \
                else next(iter(committed.values()))["schema_columns"]
            if list(have) != self._schema_columns:
                raise SchemaError(
                    f"vcfblocks append: incoming schema "
                    f"{self._schema_columns} != table schema {list(have)} "
                    f"(use mode('overwrite') to replace the live set)")

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> PartCommit:
        import pyarrow as pa

        from pyspark import TaskContext
        from vcf2parquet_spark.encode import encode_partition

        worker_setup(self._opts.arrow_cpu)

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return PartCommit(part_id=None)
        ctx = TaskContext.get()
        part_id = self._offset + (ctx.partitionId() if ctx else 0)
        t = pa.Table.from_batches(batches)
        s = encode_partition(part_id, t, self._path, self._opts,
                             self._schema_columns)
        return PartCommit(part_id=part_id, n_rows=s["n_rows"],
                          raw_bytes=s["raw_bytes"],
                          enc_bytes=s["enc_bytes"])

    def commit(self, messages: List[Optional[PartCommit]]) -> None:
        worker_setup()
        new = sorted(m.part_id for m in messages
                     if m is not None and m.part_id is not None)
        snap = tbl.commit_snapshot(
            self._path,
            operation="overwrite" if self._overwrite else "append",
            wall_time=time.time(),
            part_ids=new if self._overwrite else None)
        tbl.write_table_meta(self._path, {
            "current_snapshot_id": snap["snapshot_id"],
            "format": "vcf2parquet_spark.blocks.v1",
            "schema_columns": self._schema_columns,
            "n_partitions": snap["summary"]["n_partitions"],
            "next_part_id": _next_part_id(
                self._path, (max(new) + 1) if new else self._offset),
            "n_committed": snap["summary"]["n_partitions"],
            "n_rows": snap["summary"]["n_rows"],
            "raw_bytes": snap["summary"]["raw_bytes"],
            "enc_bytes": snap["summary"]["enc_bytes"],
            "batch_size": self._opts.batch_size,
            "target_rows": self._opts.target_rows,
            "encoded_this_run": new,
        })

    def abort(self, messages: List[Optional[PartCommit]]) -> None:
        worker_setup()
        for m in messages or []:
            if m is not None and getattr(m, "part_id", None) is not None:
                for p in (tbl.data_path(self._path, m.part_id),
                          tbl.manifest_path(self._path, m.part_id)):
                    try:
                        os.remove(p)
                    except OSError:
                        pass


@dataclass
class StagedPart(WriterCommitMessage):
    """One streaming task's staged output: blocks file + manifest JSON
    encoded into a per-attempt staging dir, final id assigned by the
    driver at epoch commit (the task does not know the batch id)."""
    task_pid: int = 0
    staged_dir: Optional[str] = None   # None = empty input split
    staged_data: Optional[str] = None
    manifest_json: Optional[str] = None
    n_rows: int = 0


class BlocksStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("vcfblocks").option("checkpointLocation",
    ...).start(out)`` — the Structured Streaming face of the format,
    with EXACTLY-ONCE row delivery mapped onto the table's snapshot log
    (the standard-API sibling of ``streaming.encode_stream``'s
    foreachBatch, which keeps the skew-planned ``encode()`` layout).

    The executor-side :meth:`write` does not know the micro-batch id,
    so each task encodes its split into a per-attempt STAGING dir
    (``<table>/_staging/<query key>/<uuid>`` — the query key is a hash
    of the checkpoint location, so two queries' staged files never
    share a directory) via the same ``encode_partition`` kernels and
    ships the blocks file + manifest location back.  The driver-side
    :meth:`commit` then assigns DETERMINISTIC final ids —
    ``query base + (batchId + 1) * EPOCH_STRIDE + task partition id``,
    the same epoch namespace as ``encode_stream`` plus a per-QUERY base
    (``_stream_bases/q-<key>.json``, one file per query — concurrent
    queries never touch each other's entry) so a second query with a
    fresh checkpoint — whose batchId restarts at 0 — cannot overwrite
    a previous query's committed files — and ``os.replace``s the
    staged files in.  Exactly-once follows without any dedupe
    bookkeeping:

    * a REPLAYED micro-batch (restart from the streaming checkpoint
      before its epoch committed) recomputes the SAME final ids and
      atomically overwrites the same files — never a duplicate row;
    * a crash mid-commit is healed by the replay finishing the same
      renames; the epoch's snapshot de-dupes itself
      (``commit_snapshot`` no-ops when the live set is unchanged);
    * each base entry records the checkpoint's own identity (Spark's
      ``<checkpoint>/metadata`` uuid, new on every checkpoint
      CREATION) and the committed-batch high-water mark: a changed id
      — or, when ids are unavailable, a batchId below the mark —
      means the checkpoint was deleted and recreated, so the entry is
      retired and the new incarnation gets fresh id space instead of
      silently ``os.replace``-ing the old incarnation's committed
      files;
    * failed/speculative task attempts stage under distinct uuids and
      only the reported attempt is adopted; :meth:`commit` drains THIS
      query's staging dir after its renames (which also reclaims its
      own earlier crashed epoch's leftovers, and cannot touch a
      concurrent query's staged files), :meth:`abort` removes the
      attempts it was told about — neither runs at query start, since
      Spark instantiates this writer more than once per query (see the
      ``__init__`` note); single-writer protocol per query.
    """

    def __init__(self, schema, options: dict, overwrite: bool) -> None:
        from vcf2parquet_spark.encode import EncodeOptions
        from vcf2parquet_spark.errors import StorageError
        from vcf2parquet_spark.streaming.encode_stream import EPOCH_STRIDE

        path = options.get("path")
        if not path:
            raise StorageError(
                "vcfblocks: .start(<table path>) / option('path') required")
        self._path = path
        # Stable per-QUERY identity: the checkpoint location (Spark
        # lower-cases option keys).  Two different streaming queries
        # writing the same table must not share a part-id namespace —
        # batchId restarts at 0 with every fresh checkpoint, so ids
        # derived from batchId alone would silently os.replace() the
        # previous query's committed files (code-review r5).
        self._ckpt = os.path.abspath(
            str(options.get("checkpointlocation") or ""))
        import hashlib
        self._stage_key = hashlib.sha256(
            self._ckpt.encode()).hexdigest()[:16]
        self._stride = EPOCH_STRIDE
        kw: dict = {}
        if options.get("batch_size"):
            kw["batch_size"] = int(options["batch_size"])
        if options.get("residual"):
            kw["residual"] = options["residual"]
        if options.get("long_strings"):
            kw["long_strings"] = options["long_strings"]
        if str(options.get("sort", "true")).lower() in ("false", "0", "no"):
            kw["sort_columns"] = ()
        self._opts = EncodeOptions(snapshot=False, resume=False, **kw)
        self._schema_columns = [f.name for f in schema.fields]
        tbl.init_layout(path)
        self._stage_root = os.path.join(path, "_staging", self._stage_key)
        os.makedirs(self._stage_root, exist_ok=True)
        os.makedirs(os.path.join(path, _STREAM_BASES_DIR), exist_ok=True)
        # NOTE: no staging purge here — Spark instantiates this writer
        # MORE than once per query (micro-batch planner and the lazy
        # commit runner), including AFTER tasks have already staged
        # files; purging belongs at the END of commit()/abort(), when
        # every adopted file has been renamed out and anything left is
        # a superseded attempt or a crashed epoch's leftovers.

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> StagedPart:
        import uuid

        import pyarrow as pa

        from pyspark import TaskContext
        from vcf2parquet_spark.encode import encode_partition

        worker_setup(self._opts.arrow_cpu)

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return StagedPart(task_pid=pid)
        staging = os.path.join(self._stage_root, uuid.uuid4().hex)
        tbl.init_layout(staging)
        t = pa.Table.from_batches(batches)
        s = encode_partition(pid, t, staging, self._opts,
                             self._schema_columns)
        with open(tbl.manifest_path(staging, pid)) as f:
            manifest_json = f.read()
        return StagedPart(task_pid=pid, staged_dir=staging,
                          staged_data=tbl.data_path(staging, pid),
                          manifest_json=manifest_json, n_rows=s["n_rows"])

    def _query_id(self) -> Optional[str]:
        """The checkpoint's own identity: Spark writes
        ``<checkpoint>/metadata`` = ``{"id": "<uuid>"}`` once, when the
        checkpoint is CREATED — so a deleted-and-recreated checkpoint
        at the same path carries a NEW id, which is how commit() tells
        a new incarnation from a legitimate replay.  None when
        unreadable (non-local checkpoint path; the batch-counter
        heuristic still applies)."""
        try:
            with open(os.path.join(self._ckpt, "metadata")) as f:
                return json.load(f).get("id")
        except (OSError, ValueError):
            return None

    def _entry_path(self) -> str:
        return os.path.join(self._path, _STREAM_BASES_DIR,
                            f"q-{self._stage_key}.json")

    def _read_entry(self) -> Optional[dict]:
        """This query's base entry: its own ``q-<key>.json``, else a
        legacy ``stream_bases.json`` record (migrated to the per-query
        file on the next write).  Only a MISSING q-file falls through
        to the legacy registry — any other read/parse failure raises,
        because acting on a stale legacy record (or allocating fresh)
        while a newer entry exists can resurrect a retired base."""
        try:
            f = open(self._entry_path())
        except FileNotFoundError:
            pass
        else:
            with f:
                return json.load(f)
        legacy = os.path.join(self._path, _STREAM_BASES)
        if os.path.exists(legacy):
            with open(legacy) as f:
                entries = json.load(f)
            e = entries.get(self._ckpt)
            if e is not None:
                base, last = ((int(e["base"]),
                               int(e.get("last_batch", -1)))
                              if isinstance(e, dict) else (int(e), -1))
                return {"base": base, "last_batch": last,
                        "query_id": None, "retired": []}
        return None

    def _write_entry(self, base: int, last_batch: int,
                     query_id: Optional[str],
                     retired: list[int]) -> None:
        tbl.atomic_write_bytes(
            self._entry_path(),
            json.dumps({"ckpt": self._ckpt, "base": base,
                        "last_batch": last_batch, "query_id": query_id,
                        "retired": retired},
                       sort_keys=True, indent=1).encode())

    def _alloc_base(self) -> int:
        """Smallest multiple of QUERY_STRIDE that (a) no query holds —
        current or retired, across every per-query entry, claim file,
        and the legacy registry — and (b) clears every part id already
        committed to the table, so a new query (or new incarnation)
        lands in untouched id space instead of overwriting files.
        The O_CREAT|O_EXCL claim file makes the allocation atomic
        against a concurrent query allocating in the same instant."""
        bdir = os.path.join(self._path, _STREAM_BASES_DIR)
        os.makedirs(bdir, exist_ok=True)
        taken: set[int] = set()
        for name in os.listdir(bdir):
            if name.startswith("b-") and name.endswith(".claim"):
                taken.add(int(name[2:-6]) * QUERY_STRIDE)
            elif name.startswith("q-") and name.endswith(".json"):
                try:
                    with open(os.path.join(bdir, name)) as f:
                        e = json.load(f)
                    taken.add(int(e["base"]))
                    taken.update(int(b) for b in e.get("retired", []))
                except (OSError, ValueError):
                    pass
        legacy = os.path.join(self._path, _STREAM_BASES)
        if os.path.exists(legacy):
            with open(legacy) as f:
                for k, e in json.load(f).items():
                    if k == "_retired":
                        taken.update(int(b) for b in e)
                    else:
                        taken.add(int(e["base"]) if isinstance(e, dict)
                                  else int(e))
        max_committed = -1
        mdir = os.path.join(self._path, tbl.MANIFEST_DIR)
        if os.path.isdir(mdir):
            for name in os.listdir(mdir):
                if name.startswith("part-") and name.endswith(".json"):
                    max_committed = max(max_committed,
                                        int(name[5:-5]))
        cand = 0
        while True:
            while cand in taken or cand + self._stride <= max_committed:
                cand += QUERY_STRIDE
            claim = os.path.join(bdir, f"b-{cand // QUERY_STRIDE}.claim")
            try:
                os.close(os.open(claim,
                                 os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                return cand
            except FileExistsError:
                taken.add(cand)

    def commit(self, messages: List[Optional[StagedPart]],
               batchId: int) -> None:
        import shutil

        from vcf2parquet_spark.errors import StorageError

        worker_setup()
        if (batchId + 1) * self._stride >= QUERY_STRIDE:
            raise StorageError(
                f"vcfblocks stream: query at {self._ckpt!r} exhausted "
                f"its part-id region ({QUERY_STRIDE // self._stride:,} "
                f"epochs) on table {self._path}; start a new query "
                "with a fresh checkpoint to continue")
        # Resolve this query's part-id base from ITS OWN entry file
        # (concurrent queries on the same table never read-modify-write
        # each other's state).  The reservation is persisted BEFORE any
        # rename: a crash after renames re-reads the same entry on
        # replay and recomputes the SAME final ids.
        qid = self._query_id()
        entry = self._read_entry()
        if entry is None:
            base, last, retired = self._alloc_base(), -1, []
            ident = qid
            self._write_entry(base, last, ident, retired)
        else:
            base = int(entry["base"])
            last = int(entry.get("last_batch", -1))
            retired = [int(b) for b in entry.get("retired", [])]
            ident = entry.get("query_id")
            # A deleted-and-recreated checkpoint at the same location:
            # its metadata carries a NEW query id (written once at
            # checkpoint creation) — or, when ids are unavailable,
            # batchId restarts BELOW the high-water mark (a legitimate
            # replay is only ever the last batch; note the counter
            # alone cannot see a recreation replaying batch 0 over a
            # one-batch incarnation, which is why the id check leads).
            # Reusing the base would re-derive the first incarnation's
            # final ids and os.replace() its committed files with
            # different rows.  Retire the old base — it stays reserved
            # so a later incarnation cannot land on it either — and
            # move to fresh id space.
            if (qid is not None and ident is not None
                    and qid != ident) or batchId < last:
                retired.append(base)
                base, last = self._alloc_base(), -1
                # the NEW incarnation's identity if readable; when the
                # counter caught the recreation with metadata unreadable
                # this is None — never the OLD id, which would fire a
                # second (spurious) retire once the metadata reads again
                ident = qid
                self._write_entry(base, last, ident, retired)
            elif ident is None and qid is not None:
                # adopt the identity (legacy entry, or a first commit
                # that raced the checkpoint-metadata write)
                ident = qid
                self._write_entry(base, last, ident, retired)
            # qid None with ident stored: a transient metadata-read
            # failure — keep the stored identity, never erase it
        staged = sorted((m for m in messages
                         if m is not None and m.staged_dir is not None),
                        key=lambda m: m.task_pid)
        max_id = -1
        for m in staged:
            final_id = base + (batchId + 1) * self._stride + m.task_pid
            manifest = json.loads(m.manifest_json)
            manifest["part_id"] = final_id
            manifest["stream_batch_id"] = batchId
            os.replace(m.staged_data, tbl.data_path(self._path, final_id))
            tbl.commit_manifest(self._path, final_id, manifest)
            max_id = max(max_id, final_id)
        # advance the high-water mark now that the epoch's files are in
        self._write_entry(base, max(last, batchId), ident, retired)
        # drain THIS query's staging dir: adopted files were renamed out
        # above; whatever remains is a superseded speculative attempt or
        # a crashed earlier epoch's leftovers (epochs are serial within
        # a query, so no in-flight task of ours can still be writing
        # here — and another query's staged files live under its own
        # key, untouched; an ABANDONED query's dir is reclaimed by
        # ``table.expire_snapshots``'s staging grace sweep)
        if os.path.isdir(self._stage_root):
            for d in os.listdir(self._stage_root):
                shutil.rmtree(os.path.join(self._stage_root, d),
                              ignore_errors=True)
        snap = tbl.commit_snapshot(self._path, operation="stream_epoch",
                                   wall_time=time.time())
        tbl.write_table_meta(self._path, {
            "current_snapshot_id": snap["snapshot_id"],
            "format": "vcf2parquet_spark.blocks.v1",
            "schema_columns": self._schema_columns,
            "n_partitions": snap["summary"]["n_partitions"],
            "next_part_id": _next_part_id(self._path, max_id + 1),
            "n_committed": snap["summary"]["n_partitions"],
            "n_rows": snap["summary"]["n_rows"],
            "raw_bytes": snap["summary"]["raw_bytes"],
            "enc_bytes": snap["summary"]["enc_bytes"],
            "batch_size": self._opts.batch_size,
            "target_rows": self._opts.target_rows,
            "last_stream_batch_id": batchId,
        })

    def abort(self, messages: List[Optional[StagedPart]],
              batchId: int) -> None:
        import shutil

        worker_setup()
        for m in messages or []:
            if m is not None and getattr(m, "staged_dir", None):
                shutil.rmtree(m.staged_dir, ignore_errors=True)


class BlocksDataSource(DataSource):
    """``spark.read.format("vcfblocks").load(out)`` — options:
    ``columns`` (comma-separated pruning), ``include_derived``
    ("true"), ``snapshot_id`` (int, time travel).  Writable:
    ``df.write.format("vcfblocks").mode("append"|"overwrite")
    .save(out)`` (options ``batch_size``, ``residual``,
    ``long_strings``, ``sort``)."""

    # Python tasks the readers plan for.  Spark runs schema/reader
    # planning in a separate Python process with no SparkContext, so
    # register_data_source binds the session's defaultParallelism here
    # on a subclass that is pickled by value with the registration;
    # None (the class used unregistered) means session.default_cores().
    slots: int | None = None

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _slots(self) -> int:
        return self.slots or default_cores()

    def schema(self) -> str:
        worker_setup()
        m = _schema_manifest(self.options)
        cols = _option_columns(self.options, list(m["schema_columns"]),
                               list(m["all_columns"]))
        return ", ".join(
            f"`{c}` {_SPARK_TYPES[m['profiles'][c]['type']]}"
            for c in cols)

    def reader(self, schema) -> BlocksReader:
        worker_setup()
        return BlocksReader(schema, self.options, self._slots())

    def writer(self, schema, overwrite: bool) -> BlocksArrowWriter:
        worker_setup()
        return BlocksArrowWriter(schema, self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> BlocksStreamWriter:
        worker_setup()
        return BlocksStreamWriter(schema, self.options, overwrite)

    def streamReader(self, schema) -> BlocksStreamReader:
        worker_setup()
        return BlocksStreamReader(schema, self.options, self._slots())


def register_data_source(spark) -> None:
    """Idempotently register the ``vcfblocks`` format on a session.

    Also enables ``spark.sql.python.filterPushdown.enabled`` (a runtime
    SQL conf, default false in 4.1): with it off, Spark refuses any
    Python reader that implements ``pushFilters``.  The registered
    class carries the session's ``defaultParallelism`` as the readers'
    slot count, the same count ``decode()`` plans for."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(type(
        BlocksDataSource.__name__, (BlocksDataSource,),
        {"slots": spark.sparkContext.defaultParallelism}))


def read_blocks(spark, output: str, columns: list[str] | None = None,
                include_derived: bool = False,
                snapshot_id: int | None = None):
    """Convenience wrapper: register + read as a DataFrame."""
    register_data_source(spark)
    r = spark.read.format(FORMAT_NAME)
    if columns:
        r = r.option("columns", ",".join(columns))
    if include_derived:
        r = r.option("include_derived", "true")
    if snapshot_id is not None:
        r = r.option("snapshot_id", int(snapshot_id))
    return r.load(output)
