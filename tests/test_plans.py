"""Physical-plan assertions: the plans we designed are the plans Catalyst
actually produces (SURVEY.md §4.2) — broadcast where intended, filters
and projections pushed into the parquet scan, no stray shuffles."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F


def _plan(df, mode="formatted") -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    from vcf2parquet_spark.corpus import synth_corpus
    p = str(tmp_path_factory.mktemp("plan") / "corpus.parquet")
    synth_corpus(spark, 2000, seed=42).write.parquet(p)
    return p


def test_decode_scan_pushes_partition_filter(spark, corpus_path, tmp_path):
    """Committed-partition and column filters must reach the blocks
    parquet scan (partition pruning analogue)."""
    from vcf2parquet_spark.encode import encode
    out = str(tmp_path / "blocks")
    encode(spark, spark.read.parquet(corpus_path), out, target_rows=500)
    blocks = (spark.read.parquet(f"{out}/data")
              .filter(F.col("part_id").isin([0, 1]))
              .filter(F.col("column").isin(["repo", "content"]))
              .select("part_id", "column", "meta"))
    s = _plan(blocks)
    assert "PushedFilters" in s and "In(part_id" in s, s
    # column pruning: data blob not read
    read_schema = [ln for ln in s.splitlines() if "ReadSchema" in ln]
    assert read_schema and "data" not in read_schema[0], read_schema


def test_corpus_scan_prunes_columns(spark, corpus_path):
    df = spark.read.parquet(corpus_path).select("repo", "lang")
    s = _plan(df)
    line = [ln for ln in s.splitlines() if "ReadSchema" in ln][0]
    assert "content" not in line, line


def test_profile_df_is_single_scan_partial_agg(spark, corpus_path):
    """profile_df must be scan → partial agg → exchange of tiny partials
    (map-side combine), not a row shuffle."""
    from vcf2parquet_spark.profile import profile_df
    df = spark.read.parquet(corpus_path)
    prof = profile_df(df, columns=["repo"])
    s = _plan(prof, "simple")
    assert "HashAggregate" in s or "SortAggregate" in s or "ObjectHashAggregate" in s
    # aggregation happens before the exchange (partial agg present)
    assert "partial" in s.lower()
    # ONE scan regardless of column count: the old per-column agg +
    # unionByName shape re-read the table #columns times
    multi = profile_df(df)          # all profile-able columns at once
    sm = _plan(multi, "simple")
    assert sm.count("Scan parquet") == 1, sm


def test_profile_df_dotted_column_names(spark):
    """A source column named 'a.b' must profile as one identifier, not
    parse as a struct-field access in the generated alias references."""
    from vcf2parquet_spark.profile import profile_df
    df = spark.createDataFrame(
        [("x", 3), ("y", 4), (None, 5)], ["a.b", "n`v"])
    rows = {r["column"]: r for r in profile_df(df).collect()}
    # n = TOTAL rows (profile_arrow's convention); n - n_nulls = values
    assert rows["a.b"]["n"] == 3 and rows["a.b"]["n_nulls"] == 1
    assert rows["n`v"]["n"] == 3 and rows["n`v"]["max_len"] == 5.0


def test_cosine_topk_broadcasts_queries(spark):
    from vcf2parquet_spark.functions.similarity import cosine_topk
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 2)
    plan = _plan(cosine_topk(emb, q, k=2))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exact_dedup_single_shuffle(spark):
    from vcf2parquet_spark.functions.dedup import exact_dedup
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    s = _plan(exact_dedup(docs), "simple")
    # one exchange for the window over md5(text); no join at all
    assert s.count("Exchange") <= 2
    assert "Join" not in s


def test_encode_shuffle_has_single_sort(spark, corpus_path, tmp_path):
    """encode's exchange shape: map-side mapInArrow packer →
    repartitionById(task) → sortWithinPartitions(part_id) → reduce-side
    mapInArrow plans exactly one Sort node and one exchange, which
    places each blob on its planned task — no hash exchange, no second
    sort or exchange around either Python stage."""
    from vcf2parquet_spark.encode import EncodeOptions, _encode_job

    job_df, _, _ = _encode_job(spark, spark.read.parquet(corpus_path),
                               str(tmp_path / "blocks"),
                               EncodeOptions(target_rows=500))
    s = _plan(job_df, "simple")
    assert s.count("+- Sort") == 1, s
    assert s.count("Exchange") == 1, s
    assert "Exchange shufflepartitionidpassthrough" in s, s
    assert "REPARTITION_BY_NUM" in s, s
    assert "hashpartitioning" not in s, s


def test_encode_plan_broadcasts_partition_plan(spark, corpus_path, tmp_path):
    """The work-unit assignment must never shuffle the corpus to meet the
    partition plan: the plan is shipped to every task inside the packer's
    closure, so encode's plan has no join of any kind — neither a
    sort-merge join nor a broadcast exchange of a plan DataFrame."""
    from vcf2parquet_spark.encode import EncodeOptions, _encode_job

    job_df, n_parts, _ = _encode_job(spark, spark.read.parquet(corpus_path),
                                     str(tmp_path / "blocks"),
                                     EncodeOptions(target_rows=500))
    assert n_parts > 1
    s = _plan(job_df, "simple")
    assert "SortMergeJoin" not in s, s
    assert "Join" not in s and "BroadcastExchange" not in s, s


def test_encode_clustered_plans_no_exchange(spark, corpus_path, tmp_path):
    """encode_clustered is one stage: Range → MapInArrow, no exchange."""
    from vcf2parquet_spark.encode import EncodeOptions, _clustered_job

    job_df, _, _ = _clustered_job(spark, corpus_path,
                                  str(tmp_path / "blocks"),
                                  EncodeOptions(target_rows=500))
    s = _plan(job_df, "simple")
    assert "Exchange" not in s, s
    lines = [ln for ln in s.splitlines() if ln.strip()]
    assert "MapInArrow" in lines[1] and "Range" in lines[2], s


def _group_stage_tasks(sc, group: str) -> list[list[int]]:
    """numTasks of each stage (by stage id) of each job of ``group``.

    The status store keeps ``spark.ui.retainedJobs`` jobs and
    ``spark.ui.retainedStages`` stages; past that it evicts, skipped
    stages first (their completion time sorts lowest), and
    ``getJobInfo`` / ``getStageInfo`` then return None.  The test
    session raises both limits above what one suite runs (conftest);
    an evicted entry still fails here, naming the cause."""
    tr = sc.statusTracker()
    out = []
    for jid in sorted(tr.getJobIdsForGroup(group)):
        job = tr.getJobInfo(jid)
        if job is None:
            raise AssertionError(
                f"job {jid} of group {group!r} was evicted from the status "
                f"store (spark.ui.retainedJobs = "
                f"{sc.getConf().get('spark.ui.retainedJobs', '1000')})")
        tasks = []
        for sid in sorted(job.stageIds):
            info = tr.getStageInfo(sid)
            if info is None:
                raise AssertionError(
                    f"stage {sid} of job {jid} (group {group!r}) was "
                    f"evicted from the status store; skipped stages go "
                    f"first (spark.ui.retainedStages = "
                    f"{sc.getConf().get('spark.ui.retainedStages', '1000')})")
            tasks.append(info.numTasks)
        out.append(tasks)
    return out


def test_encode_runs_one_task_per_slot(spark, tmp_path):
    """Both encode paths run min(units, defaultParallelism) Python
    tasks: encode_clustered as a single stage, encode() in its reduce
    stage (the last stage of its last job)."""
    from vcf2parquet_spark.corpus import synth_corpus
    from vcf2parquet_spark.encode import encode, encode_clustered

    sc = spark.sparkContext
    src = str(tmp_path / "src")
    (synth_corpus(spark, 3_000, seed=5, partitions=3).write
     .option("parquet.block.size", 64 * 1024).parquet(src))
    slots = sc.defaultParallelism
    try:
        sc.setJobGroup("enc_clustered", "task-count test")
        job = encode_clustered(spark, src, str(tmp_path / "c"),
                               target_rows=300)
        assert job["n_partitions"] > slots
        assert _group_stage_tasks(sc, "enc_clustered") == [[slots]]

        sc.setJobGroup("enc_shuffle", "task-count test")
        job = encode(spark, spark.read.parquet(src), str(tmp_path / "s"),
                     target_rows=300)
        assert job["n_partitions"] > slots
        assert _group_stage_tasks(sc, "enc_shuffle")[-1][-1] == slots

        # fewer units than slots: one task per unit
        sc.setJobGroup("enc_few", "task-count test")
        job = encode_clustered(spark, src, str(tmp_path / "f"),
                               target_rows=1_500)
        assert 1 < job["n_partitions"] < slots
        assert _group_stage_tasks(sc, "enc_few") == [[job["n_partitions"]]]
    finally:
        sc._jsc.clearJobGroup()


def test_multimodal_ops_are_narrow_maps(spark):
    """Feature extraction / resize / frame sampling must be shuffle-free
    narrow maps (mapInPandas) — memory bounded by Arrow batch size."""
    from vcf2parquet_spark.functions.multimodal import (
        extract_features, make_media_df, resize_media, sample_frames)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = make_media_df(spark, docs, payload_col="text")
    for q in (extract_features(media, dim=4),
              resize_media(media, width=4, height=4),
              sample_frames(media, every_n=2, frame_bytes=64)):
        s = _plan(q, "simple")
        assert "Exchange" not in s, s
        assert "MapInPandas" in s, s


def test_checkpoint_filters_are_not_literal_isin(spark, corpus_path,
                                                 tmp_path):
    """A resumed encode and the decode scan never filter on a literal In
    over part ids (plan bloat + O(n)/row at 1e4-1e5 committed
    partitions): the resumed encode's packer drops committed units'
    rows by their planned task, and decode reads an explicit committed
    file list."""
    from vcf2parquet_spark import table as tbl
    from vcf2parquet_spark.decode import decode
    from vcf2parquet_spark.encode import EncodeOptions, _encode_job, encode

    out = str(tmp_path / "blocks")
    df = spark.read.parquet(corpus_path)
    job = encode(spark, df, out, target_rows=500)
    # resume with the first half of the parts committed
    for pid in range(job["n_partitions"] // 2, job["n_partitions"]):
        os.remove(tbl.manifest_path(out, pid))
        os.remove(tbl.data_path(out, pid))
    job_df, _, _ = _encode_job(spark, df, out, EncodeOptions(target_rows=500))
    assert job_df is not None
    s = _plan(job_df, "simple")
    assert "part_id IN" not in s and "In(part_id" not in s, s
    assert "Join" not in s, s

    s = _plan(decode(spark, out), "simple")
    assert "part_id IN" not in s and "In(part_id" not in s, s


@pytest.fixture(scope="module")
def read_table(spark, tmp_path_factory):
    """A shuffle-encoded table with more parts than slots."""
    from vcf2parquet_spark.corpus import synth_corpus
    from vcf2parquet_spark.encode import encode

    out = str(tmp_path_factory.mktemp("read") / "blocks")
    job = encode(spark, synth_corpus(spark, 3_000, seed=5, partitions=3),
                 out, target_rows=300)
    assert job["n_partitions"] > spark.sparkContext.defaultParallelism
    return out, job


def test_decode_plans_range_map_in_arrow_no_exchange(spark, read_table):
    """decode() is one stage: Range → MapInArrow, no exchange and no
    scan of a Python-built file list."""
    from vcf2parquet_spark.decode import decode

    out, _ = read_table
    s = _plan(decode(spark, out), "simple")
    assert "Exchange" not in s and "ExistingRDD" not in s, s
    lines = [ln for ln in s.splitlines() if ln.strip()]
    assert "MapInArrow" in lines[1] and "Range" in lines[2], s


def test_decode_runs_one_task_per_slot(spark, read_table):
    """decode() runs min(files, defaultParallelism) tasks, also with
    fewer files than slots, and returns every row once."""
    from vcf2parquet_spark.decode import decode

    out, job = read_table
    sc = spark.sparkContext
    slots = sc.defaultParallelism
    try:
        sc.setJobGroup("dec_all", "task-count test")
        got = decode(spark, out).toArrow()
        assert got.num_rows == job["n_rows"]
        assert _group_stage_tasks(sc, "dec_all") == [[slots]]

        sc.setJobGroup("dec_few", "task-count test")
        few = decode(spark, out, part_ids=[0, 1]).toArrow()
        assert 0 < few.num_rows < job["n_rows"]
        assert _group_stage_tasks(sc, "dec_few") == [[2]]
    finally:
        sc._jsc.clearJobGroup()


def test_decode_all_pruned_keeps_schema(spark, read_table):
    """A filter that prunes every part reads zero files and still
    returns the unpruned read's schema, for every column selection —
    also one that leaves the filter's column out, which a filter that
    prunes nothing then applies to the right rows."""
    from vcf2parquet_spark.decode import decode, plan_read

    out, _ = read_table
    none = [("repo", "==", "no/such-repo")]
    plan = plan_read(out, 4, filters=none)
    assert plan.selected and plan.part_ids == [] and plan.tasks == []
    for kw in ({}, {"include_derived": True},
               {"columns": ["repo", "n_lines"]},
               {"columns": ["lang", "n_lines"]}):
        empty = decode(spark, out, filters=none, **kw)
        assert empty.schema == decode(spark, out, **kw).schema, kw
        assert empty.count() == 0

    rows = decode(spark, out, columns=["repo", "lang", "n_lines"]).toArrow()
    repo = rows.column("repo")[0].as_py()
    want = sorted((r["lang"], r["n_lines"]) for r in rows.to_pylist()
                  if r["repo"] == repo)
    got = decode(spark, out, columns=["lang", "n_lines"],
                 filters=[("repo", "==", repo)])
    assert got.columns == ["lang", "n_lines"]
    assert sorted(tuple(r) for r in got.collect()) == want
    assert "Exchange" not in _plan(decode(spark, out, filters=none),
                                   "simple")


def test_blocks_reader_plans_one_partition_per_slot(spark, read_table):
    """The batch vcfblocks read plans min(files, slots) input
    partitions, each pruned-in file exactly once, for slot counts below
    and above the file count, and runs that many tasks."""
    from pyspark.sql.datasource import EqualTo

    from vcf2parquet_spark import table as tbl
    from vcf2parquet_spark.datasource import (
        BlocksReader, register_data_source)
    from vcf2parquet_spark.decode import decode, plan_decode_parts

    out, job = read_table
    register_data_source(spark)
    full = spark.read.format("vcfblocks").load(out)
    sc = spark.sparkContext
    slots = sc.defaultParallelism

    repo = decode(spark, out).select("repo").first()["repo"]
    want = plan_decode_parts(out, [("repo", "==", repo)])
    for n in (2, slots, job["n_partitions"] + 5):
        parts = BlocksReader(full.schema, {"path": out}, n).partitions()
        files = [f for p in parts for f in p.value]
        assert len(parts) == min(job["n_partitions"], n)
        assert sorted(files) == sorted(tbl.data_path(out, p)
                                       for p in tbl.live_parts(out))

        reader = BlocksReader(full.schema, {"path": out}, n)
        reader.pushFilters([EqualTo(("repo",), repo)])
        parts = reader.partitions()
        files = [f for p in parts for f in p.value]
        assert len(parts) == min(len(want), n)
        assert sorted(files) == sorted(tbl.data_path(out, p) for p in want)

    try:
        sc.setJobGroup("ds_read", "task-count test")
        assert full.toArrow().num_rows == job["n_rows"]
        assert _group_stage_tasks(sc, "ds_read") == [
            [min(job["n_partitions"], slots)]]
    finally:
        sc._jsc.clearJobGroup()


def test_no_python_list_create_dataframe_in_engine():
    """No engine path builds a DataFrame from a Python list — a list or
    list-comprehension literal, or a name the same function binds to
    one: that runs a pickled-row stage on a second Python daemon.
    Arrow tables and DataFrames only."""
    import ast
    import os

    import vcf2parquet_spark

    lists = (ast.List, ast.ListComp)
    pkg = os.path.dirname(vcf2parquet_spark.__file__)
    hits = []
    for root, _, names in os.walk(pkg):
        for name in sorted(names):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                tree = ast.parse(f.read())
            for fn in ast.walk(tree):
                if not isinstance(fn, ast.FunctionDef):
                    continue
                bound = {t.id for n in ast.walk(fn)
                         if isinstance(n, ast.Assign)
                         and isinstance(n.value, lists)
                         for t in n.targets if isinstance(t, ast.Name)}
                for node in ast.walk(fn):
                    if not (isinstance(node, ast.Call)
                            and isinstance(node.func, ast.Attribute)
                            and node.func.attr == "createDataFrame"):
                        continue
                    data = (node.args[0] if node.args else next(
                        (k.value for k in node.keywords
                         if k.arg == "data"), None))
                    if isinstance(data, lists) or (
                            isinstance(data, ast.Name) and data.id in bound):
                        hits.append(f"{os.path.relpath(path, pkg)}:"
                                    f"{node.lineno}")
    assert not hits, sorted(set(hits))


_CENSUS_JOB = r"""
import json, os, sys
from vcf2parquet_spark import table as tbl
from vcf2parquet_spark.corpus import synth_corpus_arrow
from vcf2parquet_spark.decode import decode
from vcf2parquet_spark.encode import encode
from vcf2parquet_spark.session import get_spark

def census():
    procs = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        procs[int(pid)] = (ppid, cmd)
    jvms = [p for p, (pp, c) in procs.items()
            if pp == os.getpid() and "java" in c]
    daemon = [p for p, (pp, c) in procs.items()
              if pp in jvms and "pyspark.daemon" in c]
    workers = [p for p, (pp, c) in procs.items() if pp in daemon]
    return {"jvms": len(jvms), "daemons": len(daemon),
            "workers": len(workers)}

out = sys.argv[1]
spark = get_spark(cores=2)
df = spark.createDataFrame(synth_corpus_arrow(2_000, seed=3))
encode(spark, df, out, target_rows=300)
steps = {"encode": census()}
os.remove(tbl.manifest_path(out, 0))     # a lost commit: resume part 0
os.remove(tbl.data_path(out, 0))
job = encode(spark, df, out, target_rows=300)
assert job["n_rows"] == 2_000, job
steps["resumed encode"] = census()
assert decode(spark, out).toArrow().num_rows == 2_000
decode(spark, out, filters=[("repo", "==", "no/such-repo")]).toArrow()
steps["decode"] = census()
spark.stop()
print(json.dumps(steps))
"""


def test_decode_and_resumed_encode_start_one_python_daemon(tmp_path):
    """In a fresh session, encode, a resumed encode (its packer drops
    the committed part's rows) and decode (a full and an all-pruned read)
    run every Python task on one ``pyspark.daemon``: none of them
    starts the second daemon a pickled-row stage needs."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _CENSUS_JOB, str(tmp_path / "blocks")],
        capture_output=True, text=True, timeout=600, env=env, cwd=repo)
    assert proc.returncode == 0, proc.stderr[-3000:]
    steps = json.loads(proc.stdout.strip().splitlines()[-1])
    for step, c in steps.items():
        assert c["jvms"] == 1 and c["daemons"] == 1, (step, steps)


_SLOTS_JOB = r"""
import json, sys
from vcf2parquet_spark.corpus import synth_corpus_arrow
from vcf2parquet_spark.datasource import register_data_source
from vcf2parquet_spark.encode import encode
from vcf2parquet_spark.session import get_spark

out, cores = sys.argv[1], int(sys.argv[2])
spark = get_spark(cores=cores)
df = spark.createDataFrame(synth_corpus_arrow(2_000, seed=3))
job = encode(spark, df, out, target_rows=200)
register_data_source(spark)
got = {"files": job["n_partitions"],
       "slots": spark.sparkContext.defaultParallelism,
       "batch": spark.read.format("vcfblocks").load(out)
                .rdd.getNumPartitions()}
batches = []
q = (spark.readStream.format("vcfblocks").load(out).writeStream
     .foreachBatch(lambda b, _: batches.append(b.rdd.getNumPartitions()))
     .option("checkpointLocation", out + "-ckpt")
     .trigger(availableNow=True).start())
q.awaitTermination()
got["stream"] = batches
spark.stop()
print(json.dumps(got))
"""


def test_blocks_readers_plan_for_the_session_slots(tmp_path):
    """The vcfblocks batch and stream readers plan for the slots of the
    session that registered them, not for the host's CPU count or
    SPARK_GRAFT_CPUS: Spark plans Python data source reads in a
    separate process with no SparkContext."""
    import json
    import os
    import subprocess
    import sys

    cores = 3 if os.cpu_count() != 3 else 2
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, SPARK_DRIVER_MEM="1g",
               SPARK_GRAFT_CPUS=str(cores + 4))
    proc = subprocess.run(
        [sys.executable, "-c", _SLOTS_JOB, str(tmp_path / "blocks"),
         str(cores)],
        capture_output=True, text=True, timeout=600, env=env, cwd=repo)
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["slots"] == cores and got["files"] > cores + 4, got
    assert got["batch"] == cores and got["stream"] == [cores], got
