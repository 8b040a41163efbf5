"""Benchmark worker: runs one workload on one seed and writes its result.

Started by ``run.py`` (which sizes the JVM, sets the environment and
samples memory); not meant to be run by hand.  Every quantity of work —
row counts, appends, lookup keys and the order of operations — is a
pure function of ``--seed`` and ``--seconds``, never of elapsed time,
so the table state each operation sees is the same in every run.

Operations are interleaved across the run (each kind spread evenly over
the schedule), so a slow stretch of the host lands on all kinds alike
instead of on one.  Every operation's output is checked; a failed check
or an exception counts against ``ok_rate`` and the run goes on.
"""

from __future__ import annotations

import argparse
import collections
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from probes import Tracer, resolve

SCHEMA = ("repo", "path", "commit", "lang", "content")
# the engine adds size_bytes / n_lines at encode; per-column layer
# metrics are keyed by column so they survive a codec change
COLUMNS = SCHEMA + ("size_bytes", "n_lines")
OP_KINDS = ("encode_shuffle", "encode_clustered", "scan", "lookup",
            "append", "compact")
NOMINAL_SECONDS = 30   # the op counts below fill about this long on 4 cores
SETUP_REPS = 3
CANARY_SEED = 20261017
REGRET_SAMPLE_BYTES = 64 * 1024

# Op counts are per NOMINAL_SECONDS and scale with --seconds.
WORKLOADS = {
    # one corpus encoded by both paths, scanned and looked up, with a few
    # appends onto a log only a few snapshots deep: kernels, profile and
    # the encode exchange do the work, the table layer idles
    "bulk": {
        "rows": 6_000, "target_rows": 750, "rowgroup_rows": 250,
        "history_parts": 0, "history_rows": 0, "append_rows": 300,
        "counts": {"encode_shuffle": 4, "encode_clustered": 2, "scan": 2,
                   "lookup": 4, "append": 6},
    },
    # a log pre-built to over thirty snapshots of small parts, then
    # appends interleaved with lookups: every append and every read
    # rereads all manifests and snapshots while the kernels see only a
    # few hundred rows.  Deeper logs cost set-up time the run budget
    # (48 runs in 3420 s) does not have: the build is quadratic in depth.
    "append_log": {
        "rows": 2_000, "target_rows": 750, "rowgroup_rows": 250,
        "history_parts": 30, "history_rows": 30, "append_rows": 100,
        "counts": {"encode_shuffle": 5, "encode_clustered": 2, "scan": 2,
                   "lookup": 5, "append": 7},
    },
}


def stream_seed(seed: int, k: int) -> int:
    return (seed * 1_000_003 + k * 7_919) % (1 << 31)


def raw_bytes(t: pa.Table) -> int:
    """Raw corpus bytes: UTF-8 bytes of every string value."""
    return sum(int(pc.sum(pc.binary_length(t.column(c))).as_py() or 0)
               for c in SCHEMA)


def row_digests(t: pa.Table) -> list[bytes]:
    """sha256 of each row over the five corpus columns, length-framed."""
    cols = [t.column(c).to_pylist() for c in SCHEMA]
    out = []
    for vals in zip(*cols):
        h = hashlib.sha256()
        for v in vals:
            if v is None:
                h.update(b"\xff" * 8)
            else:
                b = v.encode()
                h.update(len(b).to_bytes(8, "little"))
                h.update(b)
        out.append(h.digest())
    return out


class Inputs:
    """Everything a run feeds the engine, generated from the seed."""

    def __init__(self, cfg: dict, seed: int, counts: dict) -> None:
        from vcf2parquet_spark.corpus import synth_corpus_arrow

        n_repos = max(5, min(200, cfg["rows"] // 400))
        self.corpus = synth_corpus_arrow(cfg["rows"], stream_seed(seed, 1),
                                         n_repos)
        ar, na = cfg["append_rows"], counts["append"]
        delta = synth_corpus_arrow(ar * na, stream_seed(seed, 2), n_repos)
        self.appends = [delta.slice(i * ar, ar) for i in range(na)]
        hr, hp = cfg["history_rows"], cfg["history_parts"]
        hist = synth_corpus_arrow(max(hr * hp, 1), stream_seed(seed, 3),
                                  n_repos)
        self.history = [hist.slice(i * hr, hr) for i in range(hp)]
        rng = np.random.default_rng(stream_seed(seed, 4))
        idx = rng.integers(0, self.corpus.num_rows, counts["lookup"])
        repo = self.corpus.column("repo")
        path = self.corpus.column("path")
        self.keys = [(repo[int(i)].as_py(), path[int(i)].as_py())
                     for i in idx]
        self.corpus_digests = row_digests(self.corpus)
        self.raw_mb = raw_bytes(self.corpus) / 1e6

    def fingerprint(self) -> str:
        h = hashlib.sha256()
        for d in self.corpus_digests:
            h.update(d)
        for t in (*self.appends, *self.history):
            for d in row_digests(t):
                h.update(d)
        h.update(json.dumps(self.keys).encode())
        return h.hexdigest()


class Expected:
    """What the serving table must hold: the rows inserted so far."""

    def __init__(self) -> None:
        self.rows: collections.Counter = collections.Counter()
        self.by_key: dict = collections.defaultdict(collections.Counter)
        self.n_rows = 0
        self.raw_mb = 0.0

    def add(self, t: pa.Table, digests: list[bytes] | None = None) -> None:
        digests = digests if digests is not None else row_digests(t)
        self.rows.update(digests)
        for r, p, d in zip(t.column("repo").to_pylist(),
                           t.column("path").to_pylist(), digests):
            self.by_key[(r, p)][d] += 1
        self.n_rows += t.num_rows
        self.raw_mb += raw_bytes(t) / 1e6


def schedule(counts: dict, serving_from_encode: bool,
             compact: bool) -> list[str]:
    """Fixed op order: every kind spread evenly over the run; compact
    (if asked for) and one scan of the result close it.  On a workload
    whose serving table is the first clustered encode's output, that
    encode goes first."""
    spread = dict(counts)
    spread["scan"] -= 1
    items = []
    for rank, kind in enumerate(OP_KINDS):
        n = spread.get(kind, 0)
        items += [((i + 0.5) / n, rank, kind) for i in range(n)]
    order = [k for _, _, k in sorted(items)]
    if serving_from_encode:
        order.remove("encode_clustered")
        order.insert(0, "encode_clustered")
    return order + (["compact"] if compact else []) + ["scan"]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def file_count(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


class Run:
    """One run of one workload: set-up, the operation schedule, checks,
    and (traced) the per-layer probes."""

    def __init__(self, args) -> None:
        self.args = args
        self.cfg = WORKLOADS[args.workload]
        scale = args.seconds / NOMINAL_SECONDS
        self.counts = {k: max(1, round(n * scale))
                       for k, n in self.cfg["counts"].items()}
        self.counts["scan"] = max(2, self.counts["scan"])
        self.work = os.path.abspath(args.work)
        self.tables = os.path.join(self.work, "tables")
        self.serving = os.path.join(self.tables, "serving")
        self.trace = bool(args.trace)
        self.tracer = Tracer()
        self.samples: dict = {k: [] for k in OP_KINDS}   # seconds
        self.traced_flags: dict = {k: [] for k in OP_KINDS}
        self.mb: dict = {k: [] for k in OP_KINDS}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.reencode_mismatches = 0
        self.layer: dict = {}          # per-layer measurements (trace)
        self.spark = None
        self.expected = Expected()
        self.encode_outputs: list[str] = []      # shuffle encodes
        self.clustered_outputs: list[str] = []
        self.compact_result: dict | None = None
        self.inputs: Inputs | None = None
        self.setup_times: list[float] = []
        self.get_spark_times: list[float] = []
        self._kind, self._traced_now = "", False

    # -- setup ------------------------------------------------------------

    def start_session(self) -> None:
        from vcf2parquet_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(self.work,
                                                        "warehouse")}
        t0 = time.perf_counter()
        self.spark = get_spark(extra_conf=conf)
        self.get_spark_times.append(time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        from vcf2parquet_spark.datasource import register_data_source
        register_data_source(self.spark)

    def write_inputs(self, inp: Inputs) -> None:
        d = os.path.join(self.work, "input")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.join(d, "rowgroups"))
        self.corpus_path = os.path.join(d, "corpus.parquet")
        pq.write_table(inp.corpus, self.corpus_path, compression="snappy")
        self.rowgroup_dir = os.path.join(d, "rowgroups")
        pq.write_table(inp.corpus,
                       os.path.join(self.rowgroup_dir, "part-0.parquet"),
                       compression="snappy",
                       row_group_size=self.cfg["rowgroup_rows"])

    def build_log(self, inp: Inputs) -> None:
        """Pre-build the serving table's snapshot log with the engine's
        own append protocol — ``encode_partition`` then
        ``commit_snapshot``, the pair the vcfblocks writer runs."""
        from vcf2parquet_spark import table as tbl
        from vcf2parquet_spark.encode import EncodeOptions, encode_partition

        shutil.rmtree(self.serving, ignore_errors=True)
        tbl.init_layout(self.serving)
        opts = EncodeOptions(snapshot=False, resume=False)
        tr = self.cfg["target_rows"]
        units = [inp.corpus.slice(o, tr)
                 for o in range(0, inp.corpus.num_rows, tr)]
        for pid, unit in enumerate([*units, *inp.history]):
            encode_partition(pid, unit, self.serving, opts, list(SCHEMA))
            tbl.commit_snapshot(self.serving, operation="append",
                                wall_time=time.time())

    def warm_up(self) -> None:
        """One tiny run of each operation kind through the same engine
        calls the timed ones make, so the Python workers have imported
        the engine and the JVM has loaded and compiled every code path
        (the parquet reader included) before timing starts."""
        from vcf2parquet_spark import decode, encode, encode_clustered
        from vcf2parquet_spark.corpus import synth_corpus_arrow

        d = os.path.join(self.tables, "warmup")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.join(d, "in"))
        t = synth_corpus_arrow(400, CANARY_SEED, 5)
        pq.write_table(t, os.path.join(d, "in", "part-0.parquet"),
                       compression="snappy", row_group_size=100)
        out = os.path.join(d, "table")
        steps = [time.perf_counter()]
        encode(self.spark, self.spark.read.parquet(os.path.join(d, "in")),
               out, target_rows=200)
        encode_clustered(self.spark, os.path.join(d, "in"),
                         os.path.join(d, "clustered"), target_rows=200)
        steps.append(time.perf_counter())
        (self.spark.createDataFrame(t.slice(0, 50)).coalesce(1).write
         .format("vcfblocks").mode("append").save(out))
        steps.append(time.perf_counter())
        decode(self.spark, out).toArrow()
        decode(self.spark, out, filters=[("lang", "==", "go")]).toArrow()
        steps.append(time.perf_counter())
        shutil.rmtree(d, ignore_errors=True)
        print("perfbench: warm-up: encodes %.2fs, append %.2fs, "
              "decodes %.2fs" % tuple(b - a for a, b in zip(steps, steps[1:])),
              file=sys.stderr, flush=True)

    def setup(self) -> Inputs:
        """Set up SETUP_REPS times; setup_s is the median.  Each
        repetition asks for the session, generates the inputs and builds
        the table state.  The first one also launches the JVM and warms
        up, which happens once per process; the later ones reuse the
        session, so the median measures the repeatable set-up work.  JVM
        launch is reported on its own as session.get_spark_s."""
        inp = None
        for rep in range(SETUP_REPS):
            t = [time.perf_counter()]
            self.start_session()
            t.append(time.perf_counter())
            inp = self.inputs = Inputs(self.cfg, self.args.seed, self.counts)
            self.write_inputs(inp)
            t.append(time.perf_counter())
            if self.cfg["history_parts"]:
                self.build_log(inp)
            t.append(time.perf_counter())
            if rep == 0:
                self.warm_up()
            t.append(time.perf_counter())
            self.setup_times.append(t[-1] - t[0])
            print("perfbench: setup %d: session %.2fs, inputs %.2fs, "
                  "table state %.2fs, warm-up %.2fs"
                  % (rep, *(b - a for a, b in zip(t, t[1:]))),
                  file=sys.stderr, flush=True)
        if self.cfg["history_parts"]:
            self.expected.add(inp.corpus, inp.corpus_digests)
            for h in inp.history:
                self.expected.add(h)
        return inp

    # -- operations -------------------------------------------------------

    def _call(self, fn):
        """Time one call into the engine's user-facing API.  In a traced
        operation the driver probes are active only during the call, and
        the operation's span covers exactly the timed call."""
        if not self._traced_now:
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0
        self.tracer.patch_driver()
        try:
            with self.tracer.span(self._kind) as rec:
                out = fn()
        finally:
            self.tracer.unpatch_all()
        return out, rec["end"] - rec["start"]

    def _table_rows(self) -> int:
        """Row total of the serving table's newest snapshot.  Falls back
        to counting through ``decode`` if the snapshot log's API or
        format has changed."""
        try:
            from vcf2parquet_spark import table as tbl
            with open(tbl.snapshot_files(self.serving)[-1][1]) as f:
                return int(json.load(f)["summary"]["n_rows"])
        except (ImportError, AttributeError, IndexError, KeyError,
                OSError, ValueError):
            from vcf2parquet_spark import decode
            return decode(self.spark, self.serving,
                          columns=["lang"]).count()

    def op_encode_shuffle(self, inp: Inputs, i: int):
        from vcf2parquet_spark import encode

        out = os.path.join(self.tables, f"encode-{i}")
        shutil.rmtree(out, ignore_errors=True)
        df = self.spark.read.parquet(self.corpus_path)
        job, dt = self._call(lambda: encode(
            self.spark, df, out, target_rows=self.cfg["target_rows"]))
        self.encode_outputs.append(out)
        return dt, inp.raw_mb, job["n_rows"] == inp.corpus.num_rows

    def op_encode_clustered(self, inp: Inputs, i: int):
        """The first clustered encode of a workload without a pre-built
        log creates the serving table: its units are fixed row ranges,
        so part count and bytes vary little from seed to seed (the
        shuffle path's repo-grouped units do)."""
        from vcf2parquet_spark import encode_clustered

        first_serving = (not self.cfg["history_parts"]
                         and not self.clustered_outputs)
        out = (self.serving if first_serving
               else os.path.join(self.tables, f"clustered-{i}"))
        shutil.rmtree(out, ignore_errors=True)
        job, dt = self._call(lambda: encode_clustered(
            self.spark, self.rowgroup_dir, out,
            target_rows=self.cfg["target_rows"]))
        self.clustered_outputs.append(out)
        if first_serving:
            self.expected.add(inp.corpus, inp.corpus_digests)
        return dt, inp.raw_mb, job["n_rows"] == inp.corpus.num_rows

    def op_scan(self, inp: Inputs, i: int):
        from vcf2parquet_spark import decode

        got, dt = self._call(
            lambda: decode(self.spark, self.serving).toArrow())
        ok = (got.num_rows == self.expected.n_rows
              and collections.Counter(row_digests(got))
              == self.expected.rows)
        return dt, self.expected.raw_mb, ok

    def op_lookup(self, inp: Inputs, i: int):
        from vcf2parquet_spark import decode

        repo, path = inp.keys[i]
        filters = [("repo", "==", repo), ("path", "==", path)]
        got, dt = self._call(lambda: decode(
            self.spark, self.serving, filters=filters).toArrow())
        ok = (collections.Counter(row_digests(got))
              == self.expected.by_key.get((repo, path),
                                          collections.Counter()))
        if self.trace:
            self.guard("decode.plan", self.probe_lookup, filters)
        return dt, 0.0, ok

    def op_append(self, inp: Inputs, i: int):
        batch = inp.appends[i]
        df = self.spark.createDataFrame(batch).coalesce(1)
        before = file_count(self.serving) if self.trace else 0
        _, dt = self._call(lambda: df.write.format("vcfblocks")
                           .mode("append").save(self.serving))
        ok = self._table_rows() == self.expected.n_rows + batch.num_rows
        if ok:
            self.expected.add(batch)
        if self.trace:
            self.guard("table.after_append", self.probe_append,
                       file_count(self.serving) - before, dt)
        return dt, 0.0, ok

    def op_compact(self, inp: Inputs, i: int):
        from vcf2parquet_spark.maintenance import compact

        data = os.path.join(self.serving, "data")
        before = set(os.listdir(data))
        res, dt = self._call(lambda: compact(
            self.spark, self.serving, target_rows=self.cfg["target_rows"]))
        self._add("maintenance.bytes_rewritten", sum(
            os.path.getsize(os.path.join(data, f))
            for f in set(os.listdir(data)) - before))
        self.compact_result = res
        ok = (res.get("status") == "committed"
              and res.get("n_rows") == self.expected.n_rows)
        return dt, 0.0, ok

    def run_ops(self, inp: Inputs) -> None:
        seen = collections.Counter()
        # only the traced run compacts, for the maintenance layer
        # metrics: no end-to-end metric times compaction, and on
        # append_log it costs seconds the run budget does not have
        plan = schedule(self.counts,
                        serving_from_encode=not self.cfg["history_parts"],
                        compact=self.trace)
        for kind in plan:
            i = seen[kind]
            seen[kind] += 1
            # traced run: alternate occurrences of each kind between
            # traced and untraced, so the tracing overhead is measured
            # inside the same run (compact runs once and is traced)
            traced = self.trace and i % 2 == 0
            self._kind, self._traced_now = kind, traced
            self.attempted += 1
            try:
                dt, mb, ok = getattr(self, f"op_{kind}")(inp, i)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                dt, mb, ok = None, 0.0, False
            if not ok:
                self.failed += 1
                self.failures.append(f"{kind}#{i}")
                print(f"perfbench: check failed: {kind}#{i}",
                      file=sys.stderr, flush=True)
            if dt is not None:
                self.samples[kind].append(dt)
                self.traced_flags[kind].append(traced)
                self.mb[kind].append(mb)

    # -- per-layer probes (traced run only) --------------------------------

    def _timed(self, module: str, attr: str, name: str, *args, **kwargs):
        fn = resolve(module, attr)
        if fn is None:
            self.tracer.missing.add(name)
            return None, None
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        return time.perf_counter() - t0, out

    def guard(self, name: str, fn, *args) -> None:
        """Run a layer probe; if the engine API it relies on has gone
        (a later change renamed or removed it), report the probe missing
        instead of failing the run."""
        try:
            fn(*args)
        except (ImportError, AttributeError, KeyError, TypeError):
            traceback.print_exc(file=sys.stderr)
            self.tracer.missing.add(name)

    def _add(self, name: str, value) -> None:
        if value is not None:
            self.layer.setdefault(name, []).append(value)

    def probe_append(self, new_files: int, wall: float) -> None:
        T = "vcf2parquet_spark.table"
        s_live, _ = self._timed(T, "live_parts", "table.live_parts_s",
                                self.serving)
        s_snap, snaps = self._timed(T, "snapshots", "table.snapshots_read_s",
                                    self.serving)
        s_man, _ = self._timed(T, "committed_parts",
                               "table.committed_parts_s", self.serving)
        self._add("table.live_parts_s", s_live)
        self._add("table.snapshots_read_s", s_snap)
        self._add("table.committed_parts_s", s_man)
        if snaps is not None:
            self._add("table.snapshot_depth", len(snaps))
        self._add("datasource.files_per_append", new_files)
        if None not in (s_live, s_snap, s_man):
            # the metadata reads the vcfblocks writer makes per append:
            # committed_parts + live_parts in its constructor, then
            # committed_parts + snapshots + live_parts in commit_snapshot
            self._add("table.append_read_share",
                      (2 * s_live + 2 * s_man + s_snap) / wall)

    def probe_lookup(self, filters: list) -> None:
        s_plan, plan = self._timed("vcf2parquet_spark.decode",
                                   "plan_decode_parts", "decode.plan_s",
                                   self.serving, filters)
        live = resolve("vcf2parquet_spark.table", "live_parts")
        dpath = resolve("vcf2parquet_spark.table", "data_path")
        if plan is None or live is None or dpath is None:
            self.tracer.missing.add("decode.parts_scanned_ratio")
            return
        self._add("decode.plan_s", s_plan)
        self._add("decode.parts_scanned_ratio",
                  len(plan) / max(1, len(live(self.serving))))
        self._add("decode.bytes_read_per_lookup",
                  sum(os.path.getsize(dpath(self.serving, p)) for p in plan))

    def replay_encode(self, out: str) -> None:
        """Time the executor-side layers in this process, on this run's
        own work units: each unit of the last shuffle encode is read
        back and re-encoded with ``encode_partition``."""
        from vcf2parquet_spark import table as tbl
        from vcf2parquet_spark.decode import read_blocks_file
        from vcf2parquet_spark.encode import EncodeOptions, encode_partition

        scratch = os.path.join(self.tables, "replay")
        shutil.rmtree(scratch, ignore_errors=True)
        tbl.init_layout(scratch)
        opts = EncodeOptions(snapshot=False, resume=False,
                             target_rows=self.cfg["target_rows"])
        units = {}
        read_all = 0.0
        for pid in sorted(tbl.committed_parts(out)):
            path = tbl.data_path(out, pid)
            t0 = time.perf_counter()
            units[pid] = pa.Table.from_batches(
                list(read_blocks_file(path, list(SCHEMA))))
            read_all += time.perf_counter() - t0
        self.layer["decode.read_file_s"] = [read_all]

        self.tracer.patch("vcf2parquet_spark.table", "write_blocks_file",
                          "table.write_blocks")
        self.tracer.patch("vcf2parquet_spark.encode", "profile_arrow",
                          "profile.profile",
                          suffix=lambda a, k: a[1] if len(a) > 1
                          else k.get("name", ""))
        unit_s = 0.0
        try:
            with self.tracer.span("replay.encode_units") as rec:
                for pid, t in units.items():
                    t0 = time.perf_counter()
                    encode_partition(pid, t, scratch, opts, list(SCHEMA))
                    unit_s += time.perf_counter() - t0
        finally:
            self.tracer.unpatch_all()
        replay_op = rec["op"]
        for s in self.tracer.spans:
            if s["op"] != replay_op or s["parent"] is None:
                continue
            d = s["end"] - s["start"]
            if s["name"] == "table.write_blocks":
                self.layer.setdefault("table.write_blocks_s", [0.0])[0] += d
            elif s["name"].startswith("profile.profile."):
                col = s["name"][len("profile.profile."):]
                self.layer.setdefault(f"profile.profile_s.{col}",
                                      [0.0])[0] += d
        self.layer["encode.unit_s"] = [unit_s]
        walls = self.samples["encode_shuffle"]
        if walls:
            self.layer["encode.exchange_overhead_s"] = [
                statistics.median(walls) - unit_s / self.args.cores]
        shutil.rmtree(scratch, ignore_errors=True)

    def replay_kernels(self, out: str) -> None:
        """Per-column kernel seconds and bytes from the blocks files of
        the last shuffle encode: every block is decoded and re-encoded
        with its recorded codec; the re-encode must be byte-identical."""
        from vcf2parquet_spark import table as tbl
        from vcf2parquet_spark.kernels import decode_column, encode_column

        acc = collections.defaultdict(lambda: [0.0, 0.0, 0, 0])
        first: dict = {}
        for pid in sorted(tbl.committed_parts(out)):
            blocks = pq.read_table(tbl.data_path(out, pid)).to_pylist()
            for b in blocks:
                meta = json.loads(b["meta"])
                t0 = time.perf_counter()
                arr = decode_column(b["data"], meta)
                t1 = time.perf_counter()
                payload, _ = encode_column(arr, b["codec"])
                t2 = time.perf_counter()
                if payload != b["data"]:
                    self.reencode_mismatches += 1
                    self.failures.append(f"reencode:{b['column']}")
                a = acc[b["column"]]
                a[0] += t2 - t1
                a[1] += t1 - t0
                a[2] += b["raw_bytes"]
                a[3] += b["enc_bytes"]
                first.setdefault(b["column"], (arr, b["codec"]))
        for col, (enc_s, dec_s, rb, eb) in acc.items():
            self.layer[f"kernels.enc_s.{col}"] = [enc_s]
            self.layer[f"kernels.dec_s.{col}"] = [dec_s]
            self.layer[f"kernels.raw_bytes.{col}"] = [rb]
            self.layer[f"kernels.enc_bytes.{col}"] = [eb]
        for col, (arr, codec) in first.items():
            regret = self.regret(arr, codec)
            if regret is not None:
                self.layer[f"select.regret.{col}"] = [regret]

    def regret(self, arr: pa.Array, chosen: str):
        """Chosen codec's bytes ÷ the smallest applicable candidate's,
        on the first block's leading REGRET_SAMPLE_BYTES of values."""
        from vcf2parquet_spark import kernels
        from vcf2parquet_spark.kernels import codecs

        if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
            bases = getattr(kernels, "STRING_CODECS", None)
            sizes = pc.binary_length(arr).fill_null(0).to_numpy()
        elif pa.types.is_integer(arr.type):
            bases = getattr(kernels, "INT_CODECS", None)
            sizes = np.full(len(arr), 8)
        else:
            return None
        cascades = getattr(codecs, "CASCADES", None)
        if bases is None or cascades is None:
            self.tracer.missing.add("select.regret")
            return None
        n = int(np.searchsorted(np.cumsum(sizes), REGRET_SAMPLE_BYTES)) + 1
        sample = arr.slice(0, min(n, len(arr)))
        chosen_len = len(kernels.encode_column(sample, chosen)[0])
        best = chosen_len
        for base in bases:
            for spec in (base, *(f"{base}+{c}" for c in cascades)):
                try:
                    best = min(best, len(kernels.encode_column(sample,
                                                               spec)[0]))
                except (ValueError, TypeError, KeyError, OverflowError):
                    continue    # codec not applicable to this sample
        return chosen_len / best

    # -- results ----------------------------------------------------------

    def end_state(self) -> dict:
        """Bytes on disk, from directory walks only (no engine API):
        the footprint of the last clustered encode, a fresh table
        holding exactly the corpus, against Parquet+snappy of the same
        rows; and the metadata of the serving table after the run
        against its data, all files on disk."""
        encoded = dir_bytes(os.path.join(self.clustered_outputs[-1],
                                         "data"))
        ref = os.path.join(self.work, "reference.parquet")
        pq.write_table(self.inputs.corpus, ref, compression="snappy")
        snappy = os.path.getsize(ref)
        os.remove(ref)
        meta = sum(dir_bytes(os.path.join(self.serving, d))
                   for d in ("manifests", "snapshots"))
        table_file = os.path.join(self.serving, "_table.json")
        if os.path.exists(table_file):
            meta += os.path.getsize(table_file)
        return {"encoded_bytes": encoded, "snappy_bytes": snappy,
                "meta_bytes": meta,
                "data_bytes": dir_bytes(os.path.join(self.serving, "data"))}

    def end_to_end(self, state: dict) -> dict:
        s = self.samples

        def rate(kind):
            return sum(self.mb[kind]) / sum(s[kind])

        def median_rate(kind):
            return statistics.median(m / t for m, t in zip(self.mb[kind],
                                                           s[kind]))

        return {
            "setup_s": (statistics.median(self.setup_times), "s"),
            "encode_shuffle_mbps": (median_rate("encode_shuffle"), "MB/s"),
            "encode_clustered_mbps": (median_rate("encode_clustered"),
                                      "MB/s"),
            "scan_verify_mbps": (rate("scan"), "MB/s"),
            "lookup_p50_s": (statistics.median(s["lookup"]), "s"),
            "append_p50_s": (statistics.median(s["append"]), "s"),
            "footprint_vs_snappy": (state["encoded_bytes"]
                                    / state["snappy_bytes"], "ratio"),
            "meta_bytes_ratio": (state["meta_bytes"] / state["data_bytes"],
                                 "ratio"),
            "ok_rate": ((self.attempted - self.failed) / self.attempted,
                        "ratio"),
        }

    def per_layer(self, state: dict) -> dict:
        lay = self.layer
        ops = self.tracer.operations()
        m: dict = {}

        def med(name, unit="s"):
            vals = lay.get(name)
            if vals:
                m[name] = (statistics.median(vals), unit)

        m["session.get_spark_s"] = (self.get_spark_times[0], "s")
        plans = [s["end"] - s["start"] for s in self.tracer.spans
                 if s["name"] == "encode.plan"]
        if plans:
            m["encode.plan_s"] = (statistics.median(plans), "s")
        for name in ("encode.unit_s", "encode.exchange_overhead_s",
                     "table.write_blocks_s", "decode.read_file_s",
                     "table.live_parts_s",
                     "table.snapshots_read_s", "table.committed_parts_s",
                     "table.append_read_share", "decode.plan_s",
                     "decode.parts_scanned_ratio"):
            med(name, unit="ratio" if name.endswith(("share", "ratio"))
                else "s")
        for name in ("decode.bytes_read_per_lookup",):
            med(name, unit="bytes")
        for name in ("datasource.files_per_append",):
            med(name, unit="count")
        if lay.get("table.snapshot_depth"):
            m["table.snapshot_depth"] = (lay["table.snapshot_depth"][-1],
                                         "count")
        m["table.meta_bytes"] = (state["meta_bytes"], "bytes")
        for col in COLUMNS:
            med(f"profile.profile_s.{col}")
            med(f"select.regret.{col}", unit="ratio")
            med(f"kernels.enc_s.{col}")
            med(f"kernels.dec_s.{col}")
            med(f"kernels.raw_bytes.{col}", unit="bytes")
            med(f"kernels.enc_bytes.{col}", unit="bytes")
        if self.compact_result and self.samples["compact"]:
            res = self.compact_result
            m["maintenance.compact_s"] = (self.samples["compact"][-1], "s")
            m["maintenance.parts_in"] = (len(res.get("rewritten_parts", [])),
                                         "count")
            m["maintenance.parts_out"] = (len(res.get("new_parts", [])),
                                          "count")
            med("maintenance.bytes_rewritten", unit="bytes")
        for kind in OP_KINDS:
            un = [o["unattributed"] for o in ops if o["name"] == kind]
            if un:
                m[f"unattributed_s.{kind}"] = (statistics.median(un), "s")
        measured = [o for o in ops if o["name"] in OP_KINDS]
        wall = sum(o["wall"] for o in measured)
        table_self = sum(v for o in measured
                         for k, v in o["layers"].items()
                         if k.startswith("table."))
        if wall:
            m["trace.table_self_share"] = (table_self / wall, "ratio")
        on = off = 0.0
        for kind in OP_KINDS:
            t = [x for x, f in zip(self.samples[kind],
                                   self.traced_flags[kind]) if f]
            u = [x for x, f in zip(self.samples[kind],
                                   self.traced_flags[kind]) if not f]
            if t and u:
                on += statistics.median(t)
                off += statistics.median(u)
        if off:
            m["trace.overhead_ratio"] = (on / off - 1.0, "ratio")
        m["trace.spans"] = (len(self.tracer.spans), "count")
        m["trace.sum_check_max_err_s"] = (
            max((o["check_err"] for o in measured), default=0.0), "s")
        return m

    def details(self, state: dict) -> dict:
        s = self.samples
        return {
            "samples": {k: len(v) for k, v in s.items()},
            "quartiles_s": {k: statistics.quantiles(v, n=4)
                            for k, v in s.items() if len(v) >= 2},
            "setup_times_s": self.setup_times,
            "state": state,
            "failures": self.failures,
            "missing_probes": sorted(self.tracer.missing),
        }

    def write_spans(self) -> None:
        out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{self.args.workload}-"
                                     f"{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump({"spans": self.tracer.spans,
                       "operations": self.tracer.operations()}, f)
        print(f"perfbench: spans written to {path}", file=sys.stderr)

    def layer_table(self) -> None:
        """Median self time per layer per op kind, to stderr."""
        by_kind: dict = collections.defaultdict(
            lambda: collections.defaultdict(list))
        for o in self.tracer.operations():
            by_kind[o["name"]]["(unattributed)"].append(o["unattributed"])
            by_kind[o["name"]]["(wall)"].append(o["wall"])
            for k, v in o["layers"].items():
                by_kind[o["name"]][k].append(v)
        for kind, layers in by_kind.items():
            print(f"perfbench: layers of {kind}:", file=sys.stderr)
            for k, v in sorted(layers.items()):
                print(f"    {k:40s} {statistics.median(v):9.4f} s  "
                      f"(n={len(v)})", file=sys.stderr)


def canary_fingerprint(workload: str) -> str:
    """Fingerprint of the workload's inputs at the canary seed and the
    nominal op counts."""
    cfg = WORKLOADS[workload]
    return Inputs(cfg, CANARY_SEED, cfg["counts"]).fingerprint()


def check_fingerprint(workload: str) -> str | None:
    """Regenerate the workload's inputs at the canary seed and compare
    with the recorded fingerprint: an edit to the corpus generator must
    fail the benchmark, not silently change the workload."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "fingerprints.json")) as f:
        want = json.load(f).get(workload)
    got = canary_fingerprint(workload)
    if got != want:
        return (f"input fingerprint of {workload!r} at seed {CANARY_SEED} "
                f"is {got}, recorded {want}: the corpus generator or the "
                f"workload definition changed")
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work")
    ap.add_argument("--cores", type=int)
    ap.add_argument("--result")
    ap.add_argument("--fingerprint-only", action="store_true",
                    help="print the canary fingerprint and exit")
    args = ap.parse_args()

    if args.fingerprint_only:
        print(json.dumps({args.workload: canary_fingerprint(args.workload)}))
        return 0
    if None in (args.work, args.cores, args.result):
        ap.error("--work, --cores and --result are required for a run")
    run = Run(args)
    marks = [("start", time.perf_counter())]
    err = check_fingerprint(args.workload)
    if err:
        print(f"perfbench: {err}", file=sys.stderr)
        return 4
    marks.append(("fingerprint", time.perf_counter()))
    try:
        inp = run.setup()
        marks.append(("setup", time.perf_counter()))
        run.run_ops(inp)
        marks.append(("operations", time.perf_counter()))
        state = run.end_state()
        if run.trace:
            out = run.encode_outputs[-1]
            run.guard("encode.replay", run.replay_encode, out)
            run.guard("kernels.replay", run.replay_kernels, out)
            metrics = run.per_layer(state)
            run.write_spans()
            run.layer_table()
        else:
            metrics = run.end_to_end(state)
        marks.append(("results", time.perf_counter()))
        details = run.details(state)
        details["input_fingerprint"] = inp.fingerprint()
    finally:
        if run.spark is not None:
            run.spark.stop()
    marks.append(("stop", time.perf_counter()))
    details["phases_s"] = {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])}
    result = {
        "correct": run.failed == 0 and run.reencode_mismatches == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    with open(args.result, "w") as f:
        json.dump({"result": result, "details": details}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
