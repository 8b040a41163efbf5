"""Encoded-table storage layout + per-partition checkpoint manifests.

Iceberg-style layout implemented directly over the filesystem (the
sandbox has no iceberg-spark-runtime jar; on a real cluster the writes
in ``encode.py`` swap to ``df.writeTo(...).append()`` one-liners):

    <output>/
      _table.json                   # table metadata + encode config + summary
      manifests/part-<id>.json      # per-partition codec manifest (commit marker)
      data/part-<id>.parquet        # encoded blocks for that partition

The per-partition manifest is the checkpoint unit: it is written
*after* the data file, both via tmp-file + atomic rename, so a partition
is either fully committed or absent — re-running ``encode`` skips every
committed partition (exact resume, north rule).  This generalizes the
reference's one-writer commit (`/root/reference/src/lib.rs:55-64`:
ArrowWriter close = the only commit point) to a distributed setting.

Metadata-scale note: driver planning (``committed_parts``) reads one
small JSON per partition — O(partitions) metadata IO, the flat-file
stand-in for Iceberg's manifest *lists* (which amortize exactly this
by grouping manifest entries into indexed avro files).  On the real
cluster this layer IS Iceberg (the swap above), whose manifest lists
and metadata caching make planning O(matching manifests), not
O(partitions); the flat layout keeps the sandbox implementation
crash-semantics-equivalent and byte-auditable.

Blocks table schema (the analogue of the reference's Parquet row groups,
one row here = one column × one row-batch):

    part_id int64, block_idx int32, column string, codec string,
    n_rows int64, raw_bytes int64, enc_bytes int64,
    meta string (JSON), data binary
"""

from __future__ import annotations

import json
import os
import uuid

import pyarrow as pa

BLOCKS_SCHEMA = pa.schema([
    ("part_id", pa.int64()),   # int64: streaming epochs namespace
                               # ids by epoch*1e6 — int32 overflows
                               # after ~2147 micro-batches
    ("block_idx", pa.int32()),
    ("column", pa.string()),
    ("codec", pa.string()),
    ("n_rows", pa.int64()),
    ("raw_bytes", pa.int64()),
    ("enc_bytes", pa.int64()),
    ("meta", pa.string()),
    ("data", pa.binary()),
])

MANIFEST_DIR = "manifests"
DATA_DIR = "data"
SNAPSHOT_DIR = "snapshots"
TABLE_FILE = "_table.json"


def part_name(part_id: int) -> str:
    return f"part-{part_id:05d}"


def data_path(output: str, part_id: int) -> str:
    return os.path.join(output, DATA_DIR, part_name(part_id) + ".parquet")


def manifest_path(output: str, part_id: int) -> str:
    return os.path.join(output, MANIFEST_DIR, part_name(part_id) + ".json")


def assign_tasks(sizes, slots: int):
    """Deterministic LPT placement of work units onto Python tasks.

    ``sizes[i]`` is unit i's planned load (rows or bytes).  Returns
    (task index per unit int32[len(sizes)], n_tasks) with ``n_tasks =
    min(len(sizes), slots)``: units go largest first onto the
    least-loaded task, ties broken by unit index, then by the task with
    fewer units, then task index.  The spread between the fullest and
    the emptiest task is at most the largest unit, and every task gets
    at least one unit.

    Placing units on the driver is what lets the clustered encode and
    every read path (``decode.plan_read``) run as one ``range`` stage
    or one input partition per task with no exchange, and lets the
    shuffle encode send each blob straight to its task; Spark's hash or
    round-robin placement of a few units leaves slots idle while
    stacking units on others.
    """
    import heapq

    import numpy as np
    sizes = np.asarray(sizes, np.int64)
    n = len(sizes)
    n_tasks = min(n, max(1, int(slots)))
    task = np.zeros(n, np.int32)
    heap = [(0, 0, t) for t in range(n_tasks)]   # (load, units, task)
    for i in np.lexsort((np.arange(n), -sizes)).tolist():
        load, units, t = heapq.heappop(heap)
        task[i] = t
        heapq.heappush(heap, (load + int(sizes[i]), units + 1, t))
    return task, n_tasks


def init_layout(output: str) -> None:
    os.makedirs(os.path.join(output, MANIFEST_DIR), exist_ok=True)
    os.makedirs(os.path.join(output, DATA_DIR), exist_ok=True)
    os.makedirs(os.path.join(output, SNAPSHOT_DIR), exist_ok=True)


def atomic_write_bytes(path: str, data: bytes) -> None:
    """tmp + fsync + rename: the partition commit primitive."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "wb") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


def write_blocks_file(path: str, table: pa.Table,
                      parquet_version: str = "2.6") -> None:
    """Write the blocks parquet for one partition atomically.

    ``parquet_version`` mirrors the reference's --parquet-version v1/v2
    switch (/root/reference/src/cli.rs:139-145): "1.0" writes v1 data
    pages, "2.4"/"2.6" v2.  Payloads are pre-compressed by our codecs,
    so the container itself is uncompressed; page statistics stay on
    (the reference always enables them, src/lib.rs:50).
    """
    import pyarrow.parquet as pq

    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    pq.write_table(table, tmp, compression="none",
                   version=parquet_version, write_statistics=True)
    os.rename(tmp, path)


def commit_manifest(output: str, part_id: int, manifest: dict) -> None:
    atomic_write_bytes(
        manifest_path(output, part_id),
        json.dumps(manifest, sort_keys=True, indent=1).encode())


def read_manifest(output: str, part_id: int) -> dict:
    with open(manifest_path(output, part_id)) as f:
        return json.load(f)


def committed_parts(output: str) -> dict[int, dict]:
    """part_id -> manifest for every committed partition (the checkpoint)."""
    mdir = os.path.join(output, MANIFEST_DIR)
    out: dict[int, dict] = {}
    if not os.path.isdir(mdir):
        return out
    for name in sorted(os.listdir(mdir)):
        if not (name.startswith("part-") and name.endswith(".json")):
            continue
        with open(os.path.join(mdir, name)) as f:
            m = json.load(f)
        out[int(m["part_id"])] = m
    return out


def write_table_meta(output: str, meta: dict) -> None:
    atomic_write_bytes(os.path.join(output, TABLE_FILE),
                       json.dumps(meta, sort_keys=True, indent=1).encode())


def read_table_meta(output: str) -> dict:
    with open(os.path.join(output, TABLE_FILE)) as f:
        return json.load(f)


# --- snapshot log (Iceberg-style table history / time travel) -------------
#
# Every successful encode (or streaming epoch) appends snap-<seq>.json
# recording exactly which committed partitions the table comprised at
# that point.  ``decode(..., snapshot_id=)`` reads the table AS OF that
# snapshot — the filesystem analogue of Iceberg's snapshot list +
# VERSION AS OF, and the lineage record the north rule's "per-partition
# lineage + metrics" asks for.  Snapshot ids are the dense sequence
# 0,1,2,... (deterministic, no wall-clock in the identity; wall time is
# carried only as an informational metric).


def snapshot_path(output: str, snapshot_id: int) -> str:
    return os.path.join(output, SNAPSHOT_DIR, f"snap-{snapshot_id:05d}.json")


def snapshot_files(output: str) -> list[tuple[int, str]]:
    """(snapshot_id, path) for every snapshot on disk, ordered by
    NUMERIC id — not filename: ``snap-{id:05d}`` names sort
    lexicographically wrong past 99,999 (``snap-100000`` <
    ``snap-99999``), a regime the streaming sink's one-snapshot-per-
    epoch cadence reaches long before its 10^6-epoch budget.  The one
    place the ``snap-<id>.json`` naming is parsed back (callers that
    need only the latest — or one id — read one file instead of the
    whole log)."""
    sdir = os.path.join(output, SNAPSHOT_DIR)
    if not os.path.isdir(sdir):
        return []
    return sorted(
        (int(n[5:-5]), os.path.join(sdir, n)) for n in os.listdir(sdir)
        if n.startswith("snap-") and n.endswith(".json"))


def snapshots(output: str) -> list[dict]:
    """All snapshots, oldest first."""
    out = []
    for _, path in snapshot_files(output):
        with open(path) as f:
            out.append(json.load(f))
    return out


def live_parts(output: str) -> dict[int, dict]:
    """part_id -> manifest for the CURRENT live set: the latest
    snapshot's partitions (compaction rewrites shrink this below the
    full committed set) plus any committed-but-not-yet-snapshotted
    partitions (an in-flight or crashed run — still readable).
    No snapshots at all -> every committed partition.

    Exception to the adoption rule: partitions whose manifest carries
    ``pending_rewrite`` are a compaction's in-flight rewrite — their
    rows duplicate live partitions until the compact snapshot swaps
    them in, so they are NEVER adopted (a reader between compaction's
    encode and its snapshot commit sees exactly the previous live set)."""
    manifests = committed_parts(output)
    snaps = snapshots(output)
    if not snaps:
        return {p: m for p, m in manifests.items()
                if not m.get("pending_rewrite")}
    ever = set()
    for s in snaps:
        ever.update(s["part_ids"])
    dangling = {p for p in set(manifests) - ever
                if not manifests[p].get("pending_rewrite")}
    live = set(snaps[-1]["part_ids"]) | dangling
    return {p: m for p, m in manifests.items() if p in live}


def commit_snapshot(output: str, operation: str,
                    wall_time: float | None = None,
                    part_ids: list[int] | None = None,
                    extra: dict | None = None) -> dict:
    """Append a snapshot.  ``part_ids=None`` captures the default live
    set (previous live ∪ newly committed partitions); compaction passes
    an explicit set that drops the rewritten partitions, plus
    ``extra={"rewrite_ids": ...}`` so log-tailing readers can tell a
    rewrite (rows already emitted) from an adopted partition (rows
    never emitted) — see ``BlocksStreamReader.partitions``.

    Written via the same tmp+rename primitive; the table file's
    ``current_snapshot_id`` is updated after, so a crash between the two
    leaves a readable table whose current pointer is simply one behind
    (the snapshot itself is still in the log — never a torn state).
    """
    manifests = committed_parts(output)
    prev = snapshots(output)
    if part_ids is None:
        part_ids = sorted(live_parts(output))
    else:
        part_ids = sorted(set(part_ids))
    sel = {p: manifests[p] for p in part_ids}   # KeyError = caller bug
    if prev and prev[-1]["part_ids"] == part_ids:
        return prev[-1]   # no-op (e.g. fully-resumed run): nothing changed
    sid = prev[-1]["snapshot_id"] + 1 if prev else 0
    snap = {
        "snapshot_id": sid,
        "parent_id": prev[-1]["snapshot_id"] if prev else None,
        "operation": operation,
        "part_ids": part_ids,
        "summary": {
            "n_partitions": len(sel),
            "n_rows": sum(m["n_rows"] for m in sel.values()),
            "raw_bytes": sum(m["raw_bytes"] for m in sel.values()),
            "enc_bytes": sum(m["enc_bytes"] for m in sel.values()),
        },
        "metrics": {"wall_time": wall_time},
    }
    if extra:
        snap.update(extra)
    atomic_write_bytes(snapshot_path(output, sid),
                       json.dumps(snap, sort_keys=True, indent=1).encode())
    return snap


def expire_snapshots(output: str, keep_last: int = 1,
                     staging_grace_hours: float = 24.0) -> dict:
    """Drop all but the last ``keep_last`` snapshots and DELETE data/
    manifest files no snapshot references anymore (Iceberg
    ``expire_snapshots`` analogue — reclaims compacted-away storage;
    time travel remains available within the kept window).

    Also reclaims ``_staging/<query>/<attempt>`` dirs older than
    ``staging_grace_hours`` — staged-but-uncommitted output of streaming
    queries that died and were never restarted (a live query's epoch
    commit drains only its OWN staging dir, so nothing else ever
    deletes an abandoned query's leftovers).  A live query's staged
    files are minutes old at most when its epoch commits, far inside
    any sane grace."""
    import os as _os
    import shutil as _shutil
    import time as _time

    def _sweep_staging() -> list[str]:
        removed: list[str] = []
        sroot = _os.path.join(output, "_staging")
        if not _os.path.isdir(sroot):
            return removed
        cutoff = _time.time() - staging_grace_hours * 3600
        for key in _os.listdir(sroot):
            kdir = _os.path.join(sroot, key)
            if not _os.path.isdir(kdir):
                continue
            for att in _os.listdir(kdir):
                d = _os.path.join(kdir, att)
                try:
                    # NEWEST mtime anywhere in the attempt tree: the
                    # dir's own mtime reflects creation, and a slow
                    # epoch's files keep landing long after that
                    newest = _os.path.getmtime(d)
                    for root, _, files in _os.walk(d):
                        for fn in files:
                            newest = max(newest, _os.path.getmtime(
                                _os.path.join(root, fn)))
                    if newest < cutoff:
                        _shutil.rmtree(d, ignore_errors=True)
                        removed.append(_os.path.join(key, att))
                except OSError:
                    pass
            try:
                _os.rmdir(kdir)        # only succeeds once empty
            except OSError:
                pass
        return removed

    snaps = snapshots(output)
    if not snaps:   # nothing to expire; never delete an unsnapshotted
        #             table's DATA — abandoned staging is still swept
        return {"expired_snapshots": [], "removed_parts": [],
                "removed_staged": _sweep_staging(),
                "kept_snapshots": []}
    keep = snaps[-max(keep_last, 1):]   # always keep at least the latest
    drop = snaps[: len(snaps) - len(keep)]
    referenced: set[int] = set()
    for s in keep:
        referenced.update(s["part_ids"])
    ever: set[int] = set()
    for s in snaps:
        ever.update(s["part_ids"])
    manifests = committed_parts(output)
    # never delete committed-but-unsnapshotted partitions: they belong
    # to an in-flight (or crashed, resumable) run.  Exception: a
    # CRASHED compaction's pending_rewrite partitions duplicate live
    # rows and are never adopted — reclaim them, but only past the
    # same grace window as staging (a LIVE compaction's rewrites are
    # minutes old between its manifest commits and its swap snapshot;
    # deleting those mid-run would break the swap)
    cutoff = _time.time() - staging_grace_hours * 3600
    for p in set(manifests) - ever:
        if not manifests[p].get("pending_rewrite"):
            referenced.add(p)
        else:
            try:
                if _os.path.getmtime(manifest_path(output, p)) >= cutoff:
                    referenced.add(p)
            except OSError:
                referenced.add(p)
    removed_parts = [p for p in sorted(manifests) if p not in referenced]
    for p in removed_parts:
        for path in (data_path(output, p), manifest_path(output, p)):
            if _os.path.exists(path):
                _os.remove(path)
    for s in drop:
        _os.remove(snapshot_path(output, s["snapshot_id"]))
    return {"expired_snapshots": [s["snapshot_id"] for s in drop],
            "removed_parts": removed_parts,
            "removed_staged": _sweep_staging(),
            "kept_snapshots": [s["snapshot_id"] for s in keep]}
