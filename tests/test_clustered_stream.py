"""Tests for block bytes and the clustered encode path:

* golden per-part block digests of ``encode`` (one shuffle
  of packed Arrow-IPC blobs into the mapInArrow streaming kernel) and
  ``encode_clustered``, generated before the legacy raw-row, grouped
  ``applyInArrow`` and presort variants were removed — the byte-identity
  guard for both paths.
* ``encode_clustered`` — the shuffle-free Iceberg-partition path: work
  units are physical parquet rowgroup ranges read directly by the
  executor's Python worker (mirrors the reference's file-in →
  encoded-file-out unit, /root/reference/src/lib.rs:34-118).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import sys

import pyarrow.parquet as pq

from vcf2parquet_spark import table as tbl
from vcf2parquet_spark.corpus import synth_corpus
from vcf2parquet_spark.encode import (EncodeOptions, encode,
                                      encode_clustered, plan_file_units)
from vcf2parquet_spark.decode import decode, verify

N_ROWS = 5_000
GOLDEN_FILE = os.path.join(os.path.dirname(__file__), "golden",
                           "encode_blocks.json")


def _block_digests(out: str) -> dict[str, str]:
    per_part = {}
    for f in sorted(glob.glob(f"{out}/data/*.parquet")):
        t = pq.read_table(f)
        h = hashlib.sha256()
        for col in ("column", "codec", "meta"):
            h.update("".join(t.column(col).to_pylist()).encode())
        for d in t.column("data").to_pylist():
            h.update(d)
        per_part[os.path.basename(f)] = h.hexdigest()
    return per_part


def _golden_outputs(spark, root: str) -> dict[str, dict]:
    """Per-part block digests of ``encode`` (a salted multi-unit corpus,
    and NULLs in the sort columns) and ``encode_clustered`` (rowgroup-
    range units over two files), each with multi-block units."""
    df = synth_corpus(spark, 3_000, seed=23, partitions=3)
    nulls = spark.createDataFrame(
        [("org/r", f"f{j}.py", f"{j:040x}", "py",
          None if j % 7 == 0 else f"v{j} = {j}") for j in range(200)],
        "repo string, path string, commit string, lang string, "
        "content string")
    src = os.path.join(root, "src")
    _write_clustered_input(spark, df, src, row_group_size=300)
    encode(spark, df, f"{root}/encode",
           EncodeOptions(target_rows=400, batch_size=250))
    encode(spark, nulls, f"{root}/encode_nulls",
           EncodeOptions(target_rows=60, batch_size=20,
                         sort_columns=("repo", "path", "content")))
    encode_clustered(spark, src, f"{root}/encode_clustered",
                     EncodeOptions(target_rows=600, batch_size=250))
    return {name: _block_digests(f"{root}/{name}")
            for name in ("encode", "encode_nulls", "encode_clustered")}


def regen() -> None:
    import tempfile

    from vcf2parquet_spark.session import get_spark
    spark = get_spark(cores=4, shuffle_partitions=4)
    with tempfile.TemporaryDirectory() as root:
        got = _golden_outputs(spark, root)
    spark.stop()
    with open(GOLDEN_FILE, "w") as f:
        json.dump(got, f, indent=1, sort_keys=True)
    print(f"wrote {GOLDEN_FILE}")


def test_golden_block_bytes(spark, tmp_path):
    """End-to-end block bytes of both encode paths are pinned: any change
    to planning, sort order, codec selection or kernels that moves a
    byte must be deliberate (regenerate with:
    python tests/test_clustered_stream.py regen)."""
    with open(GOLDEN_FILE) as f:
        golden = json.load(f)
    got = _golden_outputs(spark, str(tmp_path))
    for name in golden:
        assert len(got[name]) > 1, name
        assert got[name] == golden[name], name
    assert set(got) == set(golden)


def _write_clustered_input(spark, df, path: str, row_group_size: int = 600):
    """Materialize df as a 2-file parquet table with small rowgroups so
    plan_file_units has real ranges to cut."""
    pdf = df.toPandas()
    import pyarrow as pa
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    os.makedirs(path, exist_ok=True)
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), f"{path}/part-000.parquet",
                   row_group_size=row_group_size)
    pq.write_table(t.slice(half), f"{path}/part-001.parquet",
                   row_group_size=row_group_size)


def test_plan_file_units_deterministic(spark, tmp_path):
    df = synth_corpus(spark, N_ROWS, seed=11, partitions=2)
    src = str(tmp_path / "src")
    _write_clustered_input(spark, df, src)
    units1, n1, cols1 = plan_file_units(src, target_rows=1_200)
    units2, n2, cols2 = plan_file_units(src, target_rows=1_200)
    assert units1 == units2 and n1 == n2 and cols1 == cols2
    assert n1 == len(units1) > 2          # multiple units per file
    assert cols1[:2] == ["repo", "path"]
    # units cover every rowgroup exactly once, in order
    for f in sorted({u["path"] for u in units1}):
        rgs = [r for u in units1 if u["path"] == f
               for r in range(u["rg_lo"], u["rg_hi"])]
        assert rgs == list(range(pq.ParquetFile(f).metadata.num_row_groups))


def test_encode_clustered_roundtrip_and_resume(spark, tmp_path):
    df = synth_corpus(spark, N_ROWS, seed=11, partitions=2)
    src = str(tmp_path / "src")
    _write_clustered_input(spark, df, src)
    out = str(tmp_path / "blocks")
    job = encode_clustered(spark, src, out, target_rows=1_200)
    assert job["n_committed"] == job["n_partitions"] > 2
    assert job["n_rows"] == N_ROWS
    # sha256 round-trip against the table as Spark reads it
    res = verify(spark, spark.read.parquet(src), out)
    assert res["ok"], res
    # exact resume: nothing left to encode on a second run
    job2 = encode_clustered(spark, src, out, target_rows=1_200)
    assert job2["encoded_this_run"] == []
    assert job2["n_committed"] == job["n_committed"]
    # partial resume: drop one partition's manifest, only it re-encodes
    victim = sorted(tbl.committed_parts(out))[0]
    os.remove(os.path.join(out, "manifests", f"part-{victim:05d}.json"))
    job3 = encode_clustered(spark, src, out, target_rows=1_200)
    assert job3["encoded_this_run"] == [victim]
    res = verify(spark, spark.read.parquet(src), out)
    assert res["ok"], res


def test_encode_clustered_deterministic_bytes(spark, tmp_path):
    """Same input table ⇒ same block bytes whichever task a unit runs on,
    next to whichever other units (units are cut from the physical
    layout, not the DAG): a full encode is compared with copies whose
    units were partly deleted and resumed, so the re-encoded units are
    placed on other tasks."""
    df = synth_corpus(spark, N_ROWS, seed=13, partitions=2)
    src = str(tmp_path / "src")
    _write_clustered_input(spark, df, src)
    opts = EncodeOptions(target_rows=1_200)
    full = str(tmp_path / "full")
    encode_clustered(spark, src, full, opts)
    want = _block_digests(full)
    pids = sorted(tbl.committed_parts(full))
    assert len(pids) > spark.sparkContext.defaultParallelism
    for i, redo in enumerate((pids[::2], pids[1:])):
        out = str(tmp_path / f"resume{i}")
        shutil.copytree(full, out)
        for pid in redo:
            os.remove(tbl.manifest_path(out, pid))
            os.remove(tbl.data_path(out, pid))
        job = encode_clustered(spark, src, out, opts)
        assert sorted(job["encoded_this_run"]) == redo
        assert _block_digests(out) == want


def test_encode_clustered_decode_columns(spark, tmp_path):
    df = synth_corpus(spark, 2_000, seed=17, partitions=1)
    src = str(tmp_path / "src")
    _write_clustered_input(spark, df, src, row_group_size=500)
    out = str(tmp_path / "blocks")
    encode_clustered(spark, src, out, target_rows=1_000)
    got = decode(spark, out).select("repo", "path", "content")
    want = spark.read.parquet(src).select("repo", "path", "content")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


if __name__ == "__main__" and "regen" in sys.argv:
    regen()
