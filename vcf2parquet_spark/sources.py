"""Corpus sources: read the (repo, path, commit, lang, content) table
from multiple formats, with transparent decompression.

Parity with the reference's source scan (SURVEY.md §2 op 1): the
reference auto-detects gzip/bzip2/xz around a record-oriented text file
(/root/reference/src/bin/vcf2parquet.rs:24-27, via niffler).  Spark's
text/json/csv readers decompress .gz/.bz2 natively per file extension —
the scan stays distributed and splittable (bz2) or file-parallel (gz),
so no custom byte-level code is needed; schema is applied explicitly
(never inferred) so the scan prunes columns and pushes filters.

xz has no Hadoop codec, so ``.xz`` inputs route through a
``binaryFile`` scan + ``lzma`` decompress + C-backed pandas parse
inside ``mapInPandas`` — file-parallel exactly like gzip (xz streams
are not splittable either), Arrow-batched, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from vcf2parquet_spark._alloc import worker_setup
from vcf2parquet_spark.errors import SchemaError

CORPUS_COLUMNS = ["repo", "path", "commit", "lang", "content"]
CORPUS_DDL = ("repo string, path string, commit string, "
              "lang string, content string")


# rows per decompressed parse chunk for .xz members: bounds worker
# memory to ~chunk_rows rows regardless of member size (a multi-GB
# member decompresses incrementally through lzma.LZMAFile)
XZ_CHUNK_ROWS = 100_000


def _iter_xz_chunks(raw: bytes, fmt: str, chunk_rows: int):
    """Stream-parse ONE compressed .xz member into pandas DataFrames of
    ≤ ``chunk_rows`` rows each, normalized to the corpus columns.

    ``lzma.LZMAFile`` decompresses incrementally as the pandas C parser
    pulls bytes — the whole decompressed member is never materialized
    (the round-4 ``lzma.decompress(raw)`` held it all in one worker,
    where the reference streams via niffler,
    /root/reference/src/bin/vcf2parquet.rs:24-27).  The compressed
    bytes themselves arrive whole from the binaryFile scan, matching
    the reference's file-at-a-time unit."""
    import io
    import lzma

    import pandas as pd

    buf = lzma.LZMAFile(io.BytesIO(raw))
    if fmt in ("jsonl", "json"):
        reader = pd.read_json(buf, lines=True, dtype="string",
                              chunksize=chunk_rows)
    else:
        # na_values=[""] (only) matches the native Spark CSV reader's
        # nullValue="" default, so the same corpus decodes identically
        # whether it arrived as .csv or .csv.xz; keep_default_na=False
        # stops pandas nulling literal "NA"/"null" strings, which Spark
        # keeps as text.
        reader = pd.read_csv(buf, dtype="string", keep_default_na=False,
                             na_values=[""], chunksize=chunk_rows)
    with reader:
        for part in reader:
            missing = [c for c in CORPUS_COLUMNS if c not in part.columns]
            if missing and fmt not in ("jsonl", "json"):
                # a CSV header IS the schema: a corpus column absent
                # from it is a malformed input, same SchemaError the
                # parquet path raises — silently encoding an all-null
                # fabricated column would corrupt the table
                from vcf2parquet_spark.errors import SchemaError
                raise SchemaError(
                    f"csv member missing corpus columns {missing}; "
                    f"header has {list(part.columns)}")
            for c in missing:
                # JSON rows legitimately omit keys (missing key == null
                # — the same semantics Spark's own json reader applies)
                part[c] = pd.Series(dtype="string", index=part.index)
            yield part[CORPUS_COLUMNS].astype(object)


def _read_xz(spark: SparkSession, path: str, fmt: str,
             chunk_rows: int = XZ_CHUNK_ROWS) -> DataFrame:
    """jsonl.xz / csv.xz: binaryFile scan (one task per file — the same
    parallelism Spark gives non-splittable .gz) + streaming lzma +
    chunked pandas C parsers inside mapInPandas (bounded memory per
    worker — see :func:`_iter_xz_chunks`)."""
    bin_df = spark.read.format("binaryFile").load(path) \
        .select("path", "content")

    def op(batches):
        worker_setup()
        for pdf in batches:
            for raw in pdf["content"]:
                yield from _iter_xz_chunks(raw, fmt, chunk_rows)

    return bin_df.mapInPandas(op, schema=CORPUS_DDL)


def read_corpus(spark: SparkSession, path: str, fmt: str = "parquet",
                xz_chunk_rows: int = XZ_CHUNK_ROWS) -> DataFrame:
    """Load a corpus table from parquet / jsonl(.gz|.bz2|.xz) /
    csv(.gz|.bz2|.xz).

    Returns exactly the 5 input_hint columns, validated.
    ``xz_chunk_rows`` bounds per-worker memory on .xz members (rows per
    streamed parse chunk).
    """
    if fmt.endswith(".xz") or path.endswith(".xz"):
        base = fmt.removesuffix(".xz")
        if base not in ("jsonl", "json", "csv"):
            raise SchemaError(f"unsupported corpus format: {fmt}")
        df = _read_xz(spark, path, base, chunk_rows=xz_chunk_rows)
    elif fmt == "parquet":
        df = spark.read.parquet(path)
    elif fmt in ("jsonl", "json"):
        df = spark.read.schema(CORPUS_DDL).json(path)
    elif fmt == "csv":
        df = (spark.read.schema(CORPUS_DDL)
              .option("header", True).option("multiLine", True)
              .option("escape", '"').csv(path))
    else:
        raise SchemaError(f"unsupported corpus format: {fmt}")
    missing = [c for c in CORPUS_COLUMNS if c not in df.columns]
    if missing:
        raise SchemaError(f"corpus at {path} missing columns {missing}")
    return df.select(*CORPUS_COLUMNS)


def write_corpus(df: DataFrame, path: str, fmt: str = "parquet",
                 compression: str | None = None) -> None:
    """Write a corpus table (test/bench helper; gz/bz2 via compression)."""
    w = df.write.mode("overwrite")
    if fmt == "parquet":
        w.option("compression", compression or "snappy").parquet(path)
    elif fmt in ("jsonl", "json"):
        w.option("compression", compression or "none").json(path)
    elif fmt == "csv":
        (w.option("header", True).option("escape", '"')
         .option("compression", compression or "none").csv(path))
    else:
        raise SchemaError(f"unsupported corpus format: {fmt}")
