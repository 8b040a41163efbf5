"""Physical-plan assertions: the plans we designed are the plans Catalyst
actually produces (SURVEY.md §4.2) — broadcast where intended, filters
and projections pushed into the parquet scan, no stray shuffles."""

from __future__ import annotations

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


def test_encode_plan_broadcasts_partition_plan(spark, corpus_path):
    """The work-unit assignment join must be broadcast (tiny plan side),
    never a sort-merge join shuffling the corpus."""
    from vcf2parquet_spark.encode import plan_partitions
    df = spark.read.parquet(corpus_path)
    counts = [(r["repo"], r["cnt"]) for r in
              df.groupBy("repo").agg(F.count("*").alias("cnt")).collect()]
    plan, _ = plan_partitions(counts, 1000)
    plan_df = spark.createDataFrame(
        [(p["repo"], p["base_part_id"], p["fanout"]) for p in plan],
        "repo string, base_part_id int, fanout int")
    joined = df.join(F.broadcast(plan_df), "repo")
    s = _plan(joined)
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


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
    mapInArrow plans exactly one Sort node and one data exchange, which
    places each blob on its planned task — no hash exchange, no second
    sort or exchange around either Python stage."""
    from vcf2parquet_spark.encode import EncodeOptions, _encode_job

    job_df, _ = _encode_job(spark, spark.read.parquet(corpus_path),
                            str(tmp_path / "blocks"),
                            EncodeOptions(target_rows=500))
    s = _plan(job_df, "simple")
    assert s.count("+- Sort") == 1, s
    assert s.count("+- Exchange ") == 1, s      # the plan side broadcasts
    assert "Exchange shufflepartitionidpassthrough" in s, s
    assert "REPARTITION_BY_NUM" in s, s
    assert "hashpartitioning" not in s, s


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
    """numTasks of each stage (by stage id) of each job of ``group``."""
    tr = sc.statusTracker()
    return [[tr.getStageInfo(sid).numTasks
             for sid in sorted(tr.getJobInfo(jid).stageIds)]
            for jid in sorted(tr.getJobIdsForGroup(group))]


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


def test_checkpoint_filters_are_joins_not_literal_isin(spark, corpus_path,
                                                       tmp_path):
    """Resume filtering must be a broadcast anti-join and the decode
    scan an explicit committed-file list — never a literal In over
    part ids (plan bloat + O(n)/row at 1e4-1e5 committed partitions)."""
    from vcf2parquet_spark.decode import decode
    from vcf2parquet_spark.encode import anti_join_committed, encode

    out = str(tmp_path / "blocks")
    df = spark.read.parquet(corpus_path)
    encode(spark, df, out, target_rows=500)

    wp = df.withColumn("part_id",
                       F.pmod(F.xxhash64("path"), F.lit(10)).cast("int"))
    s = _plan(anti_join_committed(spark, wp, {0, 1, 2}), "simple")
    assert "LeftAnti" in s and "BroadcastHashJoin" in s, s
    assert "part_id IN" not in s and "In(part_id" not in s, s

    s = _plan(decode(spark, out), "simple")
    assert "part_id IN" not in s and "In(part_id" not in s, s
