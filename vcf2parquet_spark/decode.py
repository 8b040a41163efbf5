"""Decode pipeline: encoded blocks + manifests → corpus DataFrame, verified.

Mirrors ``encode.py`` in reverse (SURVEY.md §3.4 ``decode.py`` stage):

* plan (:func:`plan_read`, shared with the ``vcfblocks`` readers):
  snapshot/time-travel resolution + manifest min/max pruning produce
  the committed-file list (read-committed by construction — uncommitted
  stray data files are never in the list), and the driver places the
  files on ``min(files, slots)`` tasks by encoded bytes with the same
  LPT placement the encode paths use;
* execute: one stage, ``range`` → ``mapInArrow``, with each task's
  file list in the closure; each task opens its files directly with
  pyarrow (column-pruned read) and decodes block by block — no
  exchange, no pickled-row stage, and ZERO shuffle of the encoded
  bytes;
* row-level predicates are applied on the decoded output (whole-stage
  codegen) after partition-level manifest pruning.

``verify`` proves the north-rule invariant — every ``content`` value
sha256-identical to the input — with Spark-side ``sha2(content, 256)``
group-counts full-outer-joined in a single action, so each side is
scanned exactly once and the full corpus never collects to the driver.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from vcf2parquet_spark import table as tbl
from vcf2parquet_spark._alloc import worker_setup
from vcf2parquet_spark.kernels import decode_column

_SPARK_TYPES = {
    "string": "string", "int64": "long",
    "float64": "double", "float32": "float", "bool": "boolean",
    "list<string>": "array<string>", "list<int64>": "array<long>",
    "list<float64>": "array<double>", "list<float32>": "array<float>",
    "list<bool>": "array<boolean>",
}


def _part_may_match(manifest: dict, col: str, op: str, value) -> bool:
    """Iceberg-style bounds check: can this partition contain rows
    matching ``col op value``?  Missing stats -> conservatively True."""
    prof = manifest.get("profiles", {}).get(col, {})
    # null-count ops read (n, n_nulls), not the value bounds
    if op == "isnull":
        nn = prof.get("n_nulls")
        return True if nn is None else nn > 0
    if op == "notnull":
        n, nn = prof.get("n"), prof.get("n_nulls")
        return True if n is None or nn is None else (n - nn) > 0
    lo, hi = prof.get("min"), prof.get("max")
    if lo is None or hi is None or value is None:
        # no bounds, or a NULL comparand (x op NULL matches no row, but
        # pruning must stay conservative — Spark's row pass settles it)
        return True
    if op == "in":
        # a NULL in the list never equals anything; an empty/all-null
        # list correctly prunes every partition (Spark still evaluates
        # the filter row-level, so the empty result is exact)
        return any(lo <= v <= hi for v in value if v is not None)
    if op == "startswith":
        # exact: a prefix-`value` string exists in [lo, hi] iff hi can
        # reach the prefix AND lo does not already exceed every string
        # carrying it (when lo's own prefix == value, lo itself
        # qualifies) — no prefix-increment needed
        p = str(value)
        return str(hi) >= p and str(lo)[: len(p)] <= p
    if op == "==":
        return lo <= value <= hi
    if op == "<=":
        return lo <= value
    if op == "<":
        return lo < value
    if op == ">=":
        return hi >= value
    if op == ">":
        return hi > value
    if op == "between":
        vlo, vhi = value
        return not (hi < vlo or lo > vhi)
    raise ValueError(f"unsupported pruning op: {op}")


def _select_manifests(output: str,
                      snapshot_id: int | None) -> dict[int, dict]:
    """The manifest selection every read path starts from: the LIVE set
    (latest snapshot ∪ adopted dangling parts), or — for time travel —
    the committed parts the requested snapshot references.  Raises on
    an unknown snapshot.  One definition, used by :func:`plan_read`
    (so by ``decode`` and the ``vcfblocks`` batch reader),
    ``plan_decode_parts`` and ``sql``, so snapshot resolution cannot
    drift between them."""
    from vcf2parquet_spark.errors import StorageError

    if snapshot_id is None:
        return tbl.live_parts(output)
    snaps = {s["snapshot_id"]: s for s in tbl.snapshots(output)}
    if snapshot_id not in snaps:
        raise StorageError(
            f"unknown snapshot {snapshot_id} under {output}; "
            f"have {sorted(snaps)}")
    keep = set(snaps[snapshot_id]["part_ids"])
    return {p: m for p, m in tbl.committed_parts(output).items()
            if p in keep}


def _columns_and_ddl(manifest: dict, columns: list[str] | None,
                     include_derived: bool,
                     output: str) -> tuple[list[str], str]:
    """Resolve the output column list against one manifest's recorded
    schema and build the Spark DDL from its profile type tags —
    validating unknown columns with a StorageError (not a KeyError)."""
    from vcf2parquet_spark.errors import StorageError

    cols = list(columns or (
        manifest["all_columns"] if include_derived
        else manifest["schema_columns"]))
    unknown = [c for c in cols if c not in manifest["profiles"]]
    if unknown:
        raise StorageError(
            f"unknown columns {unknown} under {output}; "
            f"have {sorted(manifest['profiles'])}")
    ddl = ", ".join(
        f"`{c}` {_SPARK_TYPES[manifest['profiles'][c]['type']]}"
        for c in cols)
    return cols, ddl


def read_blocks_file(path: str, cols: list[str]):
    """Decode one committed blocks file into RecordBatches — THE
    executor-side read, shared by ``decode()``'s file-list
    ``mapInArrow`` and the ``vcfblocks`` batch/streaming readers (one
    fix to block reassembly lands everywhere).  Zero shuffle: callers
    hand each worker a file path; pyarrow opens it directly."""
    import pyarrow.parquet as pq

    worker_setup(2)   # Arrow pin: see EncodeOptions.arrow_cpu

    t = pq.read_table(
        path, columns=["block_idx", "column", "meta", "data"],
        filters=[("column", "in", cols)])
    bidx = t.column("block_idx").to_numpy()
    names = t.column("column").to_pylist()
    metas = t.column("meta").to_pylist()
    # zero-copy payload views: BinaryScalar.as_buffer() aliases the
    # Arrow value buffer — .to_pylist() here would copy every encoded
    # byte into Python bytes objects before the kernels even see them
    # (kernels slice via get_section and np.frombuffer, both
    # memoryview-safe).  Cast to large_binary BEFORE combine_chunks: a
    # multi-chunk binary column whose payloads sum past 2 GiB would
    # overflow int32 offsets in combine_chunks (ArrowInvalid); 64-bit
    # offsets remove the coupling to encode's per-file bound.
    data_arr = t.column("data").cast(pa.large_binary()).combine_chunks()
    blocks: dict[int, dict] = {}
    for i in range(len(bidx)):
        blocks.setdefault(int(bidx[i]), {})[names[i]] = (
            memoryview(data_arr[i].as_buffer()), metas[i])
    for bi in sorted(blocks):
        by_col = blocks[bi]
        yield pa.record_batch(
            {c: decode_column(by_col[c][0], json.loads(by_col[c][1]))
             for c in cols})


def plan_decode_parts(output: str, filters: list[tuple] | None = None,
                      snapshot_id: int | None = None,
                      manifests: dict | None = None) -> list[int]:
    """Partition ids that may contain matching rows — the manifest-level
    pruning plan (the engine's analogue of Parquet/Iceberg min-max
    pruning, over OUR manifests: at 100 TB this is what turns a
    full-table decode into a few-partition read).  ``manifests`` lets a
    caller that already holds the selection (``decode`` does) skip a
    second O(partitions) metadata read — the dict must already embody
    the snapshot scope, so passing both is a contract error."""
    if manifests is not None:
        if snapshot_id is not None:
            raise ValueError(
                "plan_decode_parts: pass either manifests (an already-"
                "scoped selection) or snapshot_id, not both")
    else:
        manifests = _select_manifests(output, snapshot_id)
    return [pid for pid, m in sorted(manifests.items())
            if all(_part_may_match(m, c, op, v)
                   for c, op, v in (filters or []))]


@dataclass(frozen=True)
class ReadPlan:
    """What :func:`plan_read` hands a read path: the manifest selection
    before pruning (it names the schema when every part is pruned), the
    pruned-in part ids in ascending order, and one data-file list per
    task."""
    selected: dict[int, dict]
    part_ids: list[int]
    tasks: list[list[str]]


def plan_read(output: str, slots: int, *, snapshot_id: int | None = None,
              part_ids: list[int] | None = None,
              filters: list[tuple] | None = None,
              manifests: dict[int, dict] | None = None) -> ReadPlan:
    """The one read planner: ``decode`` and both ``vcfblocks`` readers
    turn a manifest selection, filters and a slot count into per-task
    file lists here.  The selection is ``manifests`` when the caller
    holds it (the stream reader's newly committed parts), else
    :func:`_select_manifests` (live set or ``snapshot_id``), restricted
    to ``part_ids`` when given; :func:`plan_decode_parts` prunes it and
    ``table.assign_tasks`` places the surviving files on ``min(files,
    slots)`` tasks, largest encoded size first, so one Python task per
    slot reads a balanced share and none idles."""
    if manifests is None:
        manifests = _select_manifests(output, snapshot_id)
    if part_ids is not None:
        keep = set(part_ids)
        manifests = {p: m for p, m in manifests.items() if p in keep}
    pids = plan_decode_parts(output, filters, manifests=manifests)
    task_of, n_tasks = tbl.assign_tasks(
        [manifests[p]["enc_bytes"] for p in pids], slots)
    tasks: list[list[str]] = [[] for _ in range(n_tasks)]
    for p, t in zip(pids, task_of.tolist()):
        tasks[t].append(tbl.data_path(output, p))
    return ReadPlan(manifests, pids, tasks)


def decode(spark: SparkSession, output: str,
           columns: list[str] | None = None,
           include_derived: bool = False,
           snapshot_id: int | None = None,
           filters: list[tuple] | None = None,
           part_ids: list[int] | None = None) -> DataFrame:
    """Reconstruct the encoded table as a DataFrame (lazy).

    ``snapshot_id`` reads the table AS OF that snapshot (time travel):
    only partitions committed at that point are scanned — the Iceberg
    ``VERSION AS OF`` analogue over the snapshot log in ``table.py``.

    ``filters`` — list of ``(column, op, value)`` with op in
    ``== <= < >= > between in isnull notnull startswith`` (value is
    ignored for the null ops; pass None) — prunes whole partitions via
    the manifest statistics (see :func:`plan_decode_parts`) and then
    applies the exact row-level predicate.
    """
    import os

    from vcf2parquet_spark.errors import StorageError

    plan = plan_read(output, spark.sparkContext.defaultParallelism,
                     snapshot_id=snapshot_id, part_ids=part_ids,
                     filters=filters)
    if not plan.selected:
        raise StorageError(f"no committed partitions under {output}")
    missing = [pid for pid in plan.part_ids
               if not os.path.exists(tbl.data_path(output, pid))]
    if missing:
        raise StorageError(
            f"manifest/data mismatch: committed partitions {missing} have no "
            f"data file under {output}/{tbl.DATA_DIR} — table is corrupt")
    # base columns come from the SELECTED manifests' own recorded schema,
    # not the table file: after a schema-changing overwrite the table
    # meta describes the new live set, but a snapshot_id read scans the
    # OLD parts — whose manifests carry the schema they were written
    # with.  When filters prune every part, the newest manifest of the
    # selection names the schema, never committed_parts()'s oldest
    # entry, which may be a non-live pre-overwrite part (code-review r5)
    schema_pid = plan.part_ids[0] if plan.part_ids else max(plan.selected)
    manifest = plan.selected[schema_pid]
    cols, _ = _columns_and_ddl(manifest, columns, include_derived, output)
    # the exact row predicates below need their columns even where
    # ``columns`` leaves them out: read those too, drop them after
    extra = list(dict.fromkeys(
        c for c, _, _ in filters or () if c not in cols))
    read_cols, ddl = _columns_and_ddl(manifest, cols + extra,
                                      include_derived, output)

    # One stage, no exchange: the driver placed the pruned files on
    # tasks (plan_read), task t reads tasks[t] from the closure and
    # opens each file directly with pyarrow — column pruning happens in
    # that read (only the requested columns' block rows materialize).
    # An all-pruned plan has no task lists; range(0) still yields an
    # empty DataFrame with the same schema.
    tasks = plan.tasks

    def _decode_files(batches):
        for b in batches:
            for t in b.column("id").to_pylist():
                for path in tasks[t]:
                    yield from read_blocks_file(path, read_cols)

    out = (spark.range(len(tasks), numPartitions=max(1, len(tasks)))
           .mapInArrow(_decode_files, schema=ddl))
    # manifest pruning is partition-granular; finish with the exact
    # row-level predicate (Catalyst expression, whole-stage codegen)
    for c, op, v in (filters or []):
        if op == "between":
            out = out.filter((F.col(c) >= v[0]) & (F.col(c) <= v[1]))
        else:
            out = out.filter(_OPS[op](F.col(c), v))
    return out.select(*cols) if extra else out


_OPS = {
    "==": lambda c, v: c == v,
    "<=": lambda c, v: c <= v,
    "<": lambda c, v: c < v,
    ">=": lambda c, v: c >= v,
    ">": lambda c, v: c > v,
    "in": lambda c, v: c.isin(*list(v)) if len(v) else F.lit(False),
    "isnull": lambda c, v: c.isNull(),
    "notnull": lambda c, v: c.isNotNull(),
    "startswith": lambda c, v: c.startswith(v),
}


def register_view(spark: SparkSession, output: str, name: str,
                  **decode_kwargs) -> DataFrame:
    """Expose an encoded table to Spark SQL: ``register_view(spark, out,
    'corpus')`` then ``spark.sql('SELECT lang, count(*) FROM corpus
    GROUP BY lang')``.  The view is the LAZY decode plan — nothing is
    materialized until a query runs.  Note the decode map's column set
    is fixed when the view is registered: pass ``columns=`` to prune
    the pyarrow block read itself (Catalyst prunes only above the map),
    and ``filters=`` for manifest-level partition pruning.  kwargs are
    decode()'s (columns=, snapshot_id=, filters=, ...).  For automatic
    per-query pruning use :func:`sql` instead."""
    df = decode(spark, output, **decode_kwargs)
    df.createOrReplaceTempView(name)
    return df


_re = __import__("re")
_IDENT_RE = _re.compile(r"`([^`]*)`|[A-Za-z_][A-Za-z0-9_$]*")
_WORD_BEFORE_RE = _re.compile(r"([A-Za-z_][A-Za-z0-9_$]*)$")
# keywords after which a bare `*` is star EXPANSION, not multiplication
_STAR_KEYWORDS = frozenset(("SELECT", "DISTINCT", "ALL"))


def _mask_sql(query: str) -> str:
    """One left-to-right pass masking string literals (→ ``''``),
    backquoted identifiers (→ ``c``) and comments (→ ``,``): a quote
    inside a comment or a comment marker inside a string never counts —
    two independent regex substitutions cannot guarantee that.  A
    comment becomes ``,`` (not a space) so a ``*`` FOLLOWING a comment
    classifies as star expansion: the over-approximating direction
    (keep all columns) — ``SELECT /*+ hint */ * FROM t`` must never
    read as arithmetic.  Bracketed comments don't nest here (Spark's
    do); an inner ``*/`` tail then leaves a ``*`` preceded by the
    ``,`` mask → star → still the safe direction."""
    out: list[str] = []
    i, n = 0, len(query)
    while i < n:
        ch = query[i]
        if ch == "'":                          # string literal, '' escape
            j = i + 1
            while j < n:
                if query[j] == "'":
                    if query.startswith("''", j):
                        j += 2
                        continue
                    break
                j += 1
            out.append("''")
            i = j + 1
        elif ch == "`":                        # backquoted identifier
            j = query.find("`", i + 1)
            out.append("c")
            i = (j if j != -1 else n) + 1
        elif query.startswith("--", i):        # line comment (keep \n)
            j = query.find("\n", i)
            out.append(",")
            i = j if j != -1 else n
        elif query.startswith("/*", i):        # bracketed comment
            j = query.find("*/", i + 2)
            out.append(",")
            i = (j + 2) if j != -1 else n
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _has_star_token(query: str) -> bool:
    """True iff the query contains a star-expansion token (``SELECT *``,
    ``tbl.*``, ``count(*)``) as opposed to an arithmetic ``*``
    (``n_lines*2``).  Classification is by the preceding token: star
    expansion follows nothing, ``,``, ``(``, ``.``, or a
    SELECT/DISTINCT/ALL keyword; multiplication follows an operand
    (identifier, number, ``)``, ``]``).  String literals, backquoted
    identifiers and comments are masked first (:func:`_mask_sql`) so a
    ``*`` inside them never counts — and a ``*`` after a comment
    always counts (``SELECT /*+ REPARTITION(4) */ * FROM t``)."""
    q = _mask_sql(query)
    for m in _re.finditer(r"\*", q):
        prev = q[:m.start()].rstrip()
        if not prev or prev[-1] in ",(.":
            return True
        w = _WORD_BEFORE_RE.search(prev)
        if w and w.group(1).upper() in _STAR_KEYWORDS:
            return True
    return False


def referenced_columns(query: str, all_columns: list[str]) -> list[str]:
    """Conservative per-query column-set extraction: every identifier
    token (bare or backquoted) in the SQL text, intersected with the
    table's columns, case-insensitively (Spark resolution default).

    Over-approximates by design — a column named inside a string
    literal or comment is kept (costs a decoded column, never
    correctness), and a star-expansion token (``SELECT *``, ``tbl.*``,
    ``count(*)`` — see :func:`_has_star_token`; arithmetic ``*`` does
    NOT count) keeps every column.  Under-approximation is impossible
    for identifier references: a direct column reference must spell the
    column name as an identifier.  One documented exception: with
    ``spark.sql.parser.quotedRegexColumnNames=true`` a backquoted REGEX
    column spec (e.g. ``SELECT `co.*` FROM t``) is not an identifier —
    its regex-matched columns are not detected here, so such queries
    may fail against the pruned view; that non-default parser mode is
    unsupported by :func:`sql` (use ``decode(columns=...)`` +
    ``register_view`` explicitly instead)."""
    if _has_star_token(query):
        return list(all_columns)
    toks = {(m.group(1) if m.group(1) is not None else m.group(0)).lower()
            for m in _IDENT_RE.finditer(query)}
    need = [c for c in all_columns if c.lower() in toks]
    return need or list(all_columns)


def sql(spark: SparkSession, output: str, query: str,
        view: str = "corpus", **decode_kwargs) -> DataFrame:
    """Run a SQL query over an encoded table with PER-QUERY column
    pruning — ``sql(spark, out, 'SELECT lang FROM corpus')`` reads only
    the ``lang`` block rows from disk.

    Catalyst prunes columns only *above* a ``mapInArrow`` (the UDF's
    output schema is opaque to it), so a statically-registered view
    must decode every column for any query.  This wrapper re-registers
    ``view`` per query with ``columns=`` set to the query's referenced
    column set (:func:`referenced_columns`) — the pyarrow block read
    then materializes only those columns' rows (same IO shape as
    ``decode(columns=...)``).  kwargs forward to :func:`decode`
    (snapshot_id=, filters=, include_derived=, ...)."""
    all_cols = decode_kwargs.pop("columns", None)
    if all_cols is None:
        if decode_kwargs.get("include_derived"):
            # the column universe must come from the SELECTION decode()
            # will read — the newest LIVE manifest (or the requested
            # snapshot's) — never committed_parts()'s oldest entry,
            # which after a schema-changing overwrite is a stale
            # pre-overwrite partition kept only for time travel
            manifests = _select_manifests(
                output, decode_kwargs.get("snapshot_id"))
            if manifests:
                all_cols = manifests[max(manifests)]["all_columns"]
            else:  # empty table: fall back to the base schema
                all_cols = tbl.read_table_meta(output)["schema_columns"]
        else:
            all_cols = tbl.read_table_meta(output)["schema_columns"]
    need = referenced_columns(query, all_cols)
    register_view(spark, output, view, columns=need, **decode_kwargs)
    return spark.sql(query)


def verify(spark: SparkSession, df: DataFrame, output: str) -> dict:
    """North-rule invariant check: decoded content sha256 == input's.

    Single-pass multiset compare: each side is scanned exactly once into
    per-(keys, sha) group counts, full-outer joined, and reduced to the
    four counters in ONE Spark action (the exceptAll-both-ways version
    decoded the table up to 4x).
    """
    decoded = decode(spark, output)
    cols = [c for c in df.columns if c != "content"]
    keys = [*cols, "content_sha"]

    def counted(d: DataFrame, side: str) -> DataFrame:
        return (d.select(*cols,
                         F.sha2(F.col("content"), 256).alias("content_sha"))
                .groupBy(*cols, "content_sha")
                .agg(F.count("*").alias(side)))

    # Null-SAFE key equality: name-list joins use null-unsafe `=`, so a
    # NULL in any key column (or sha2(NULL) = NULL content) would never
    # match its round-tripped twin and report phantom missing/extra.
    a, b = counted(df, "n_a").alias("a"), counted(decoded, "n_b").alias("b")
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}"))
    j = (a.join(b, cond, "full_outer")
         .select(F.coalesce("a.n_a", F.lit(0)).alias("n_a"),
                 F.coalesce("b.n_b", F.lit(0)).alias("n_b")))
    r = j.agg(
        F.coalesce(F.sum("n_a"), F.lit(0)).alias("rows_in"),
        F.coalesce(F.sum("n_b"), F.lit(0)).alias("rows_out"),
        F.coalesce(F.sum(F.greatest(F.col("n_a") - F.col("n_b"), F.lit(0))),
                   F.lit(0)).alias("missing"),
        F.coalesce(F.sum(F.greatest(F.col("n_b") - F.col("n_a"), F.lit(0))),
                   F.lit(0)).alias("extra"),
    ).collect()[0]
    return {"rows_in": r["rows_in"], "rows_out": r["rows_out"],
            "missing": r["missing"], "extra": r["extra"],
            "ok": (r["missing"] == 0 and r["extra"] == 0
                   and r["rows_in"] == r["rows_out"])}
