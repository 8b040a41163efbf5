"""Multimodal column plumbing: binary payloads + typed metadata.

Images/audio/video are carried as opaque ``binary`` columns with a
metadata struct.  The Spark-side plumbing here is real and tested —
schema, partition-friendly batch iteration, Arrow UDF signatures, and
deterministic fake feature extraction — while the actual media decode
is STUBBED (``decode_image``) because no image/audio libraries exist in
this container; a deployment swaps `_decode_stub` for PIL/ffmpeg calls
inside the same ``mapInPandas`` batch loop without touching the plan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from vcf2parquet_spark._alloc import worker_setup

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),       # image|audio|video
    T.StructField("payload", T.BinaryType(), False),    # opaque bytes
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
])

FEATURE_SCHEMA = ("media_id long, kind string, n_bytes long, "
                  "checksum string, feature array<float>")


def make_media_df(spark, df: DataFrame, payload_col: str = "content",
                  key_col: str = "doc_id") -> DataFrame:
    """Adapt a text table into the media shape (payload = utf-8 bytes) —
    the deterministic fake used by tests and the bench."""
    return df.select(
        F.col(key_col).cast("long").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col(payload_col), "utf-8").alias("payload"),
        F.lit(64).alias("width").cast("int"),
        F.lit(64).alias("height").cast("int"))


def decode_image(payload: bytes) -> np.ndarray:
    """STUB — media decode is not available in this container.

    A real deployment replaces this with e.g. PIL.Image.open; the Spark
    plan (mapInPandas over binary batches) is unchanged.
    """
    raise NotImplementedError(
        "media decode requires image/audio libraries not present in this "
        "container; use extract_features(deterministic_fake=True)")


def _fake_decode(payload_series: pd.Series, dim: int) -> np.ndarray:
    """Deterministic fake 'decode + feature extraction': byte histogram
    folded to ``dim`` float32 features.  Fully vectorized per batch."""
    n = len(payload_series)
    out = np.zeros((n, dim), dtype=np.float32)
    offsets = np.zeros(n + 1, dtype=np.int64)
    lens = payload_series.str.len().to_numpy(dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = np.frombuffer(b"".join(payload_series.tolist()), dtype=np.uint8)
    row_of = np.repeat(np.arange(n, dtype=np.int64), lens)
    np.add.at(out, (row_of, flat % dim), 1.0)
    denom = np.maximum(lens, 1).astype(np.float32)[:, None]
    return out / denom


def extract_features(df: DataFrame, dim: int = 16,
                     deterministic_fake: bool = True) -> DataFrame:
    """mapInPandas feature extraction over binary media payloads.

    Batch shape: Arrow record batches of (media_id, kind, payload);
    output one feature row per media row.  The partitioning contract —
    narrow map, no shuffle, memory bounded by Arrow batch size — holds
    for the real decoder too.
    """
    import hashlib

    def features_op(batches):
        worker_setup()
        for pdf in batches:
            payloads = pdf["payload"]
            if deterministic_fake:
                feats = _fake_decode(payloads, dim)
            else:  # pragma: no cover — needs media libs
                feats = np.stack([decode_image(p) for p in payloads])
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": payloads.str.len(),
                "checksum": [hashlib.sha256(p).hexdigest() for p in payloads],
                "feature": list(feats),
            })

    cols = ["media_id", "kind", "payload"]
    return df.select(*cols).mapInPandas(features_op, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = ("media_id long, kind string, payload binary, "
                 "width int, height int")

FRAME_SCHEMA = "media_id long, frame_idx int, frame binary, n_bytes long"


def _fake_resize(payloads: pd.Series, wh: int) -> list[bytes]:
    """Deterministic fake resize: evenly-spaced byte sample of each
    payload down to ``wh`` bytes (gathers vectorized across the batch;
    a real deployment decodes + PIL-resizes inside the same loop)."""
    n = len(payloads)
    lens = payloads.str.len().to_numpy(dtype=np.int64)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = np.frombuffer(b"".join(payloads.tolist()), dtype=np.uint8)
    grid = np.arange(wh, dtype=np.int64)[None, :]
    idx = offsets[:-1, None] + grid * np.maximum(lens, 1)[:, None] // wh
    # clamp into [0, row end - 1]: an EMPTY row's "end - 1" points at
    # the previous row's last byte (or -1 -> 0 when everything before
    # it is empty) — always in bounds, and the gathered garbage is
    # zeroed by the lens == 0 mask below.  Clamping to the row START
    # instead would index one past the buffer for a trailing empty row.
    idx = np.minimum(idx, np.maximum(offsets[1:, None] - 1, 0))
    mat = (flat[idx] if len(flat)
           else np.zeros((n, wh), dtype=np.uint8))
    mat[lens == 0] = 0
    return [row.tobytes() for row in mat]


def resize_media(df: DataFrame, width: int = 32, height: int = 32,
                 deterministic_fake: bool = True) -> DataFrame:
    """mapInPandas resize: payload -> fixed width×height payload.

    Same plumbing contract as :func:`extract_features` — narrow map, no
    shuffle, Arrow-batched; swap the fake for a real decode+resize
    without touching the plan.
    """
    wh = width * height

    def resize_op(batches):
        worker_setup()
        for pdf in batches:
            if deterministic_fake:
                out = _fake_resize(pdf["payload"], wh)
            else:  # pragma: no cover — needs media libs
                out = [decode_image(p) for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "payload": out,
                "width": np.full(len(pdf), width, dtype=np.int32),
                "height": np.full(len(pdf), height, dtype=np.int32),
            })

    return (df.select("media_id", "kind", "payload")
            .mapInPandas(resize_op, schema=RESIZE_SCHEMA))


def sample_frames(df: DataFrame, every_n: int = 4,
                  frame_bytes: int = 256) -> DataFrame:
    """Frame sampling for video-like payloads: emit every ``every_n``-th
    fixed-size frame as its own row (1→many mapInPandas — the output
    row count varies per input row, which ``mapInPandas`` supports
    natively; an ``explode`` can't carry the per-frame decode hook)."""

    def frames_op(batches):
        worker_setup()
        for pdf in batches:
            payloads = pdf["payload"]
            n = len(payloads)
            lens = payloads.str.len().to_numpy(dtype=np.int64)
            offsets = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(lens, out=offsets[1:])
            flat = b"".join(payloads.tolist())
            # per-row sampled-frame counts, then one flat index space
            # (vectorized offset arithmetic — no per-row Python loop)
            n_frames = np.maximum(-(-lens // frame_bytes), 1)
            n_sampled = -(-n_frames // every_n)
            row_of = np.repeat(np.arange(n, dtype=np.int64), n_sampled)
            first_of_row = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(n_sampled, out=first_of_row[1:])
            within = (np.arange(len(row_of), dtype=np.int64)
                      - first_of_row[row_of])
            frame_idx = within * every_n
            starts = offsets[row_of] + frame_idx * frame_bytes
            ends = np.minimum(starts + frame_bytes, offsets[row_of + 1])
            ends = np.maximum(ends, starts)    # empty payload -> b""
            frames = [flat[s:e] for s, e in
                      zip(starts.tolist(), ends.tolist())]
            yield pd.DataFrame({
                "media_id": pdf["media_id"].to_numpy()[row_of],
                "frame_idx": frame_idx.astype(np.int32),
                "frame": frames,
                "n_bytes": (ends - starts),
            })

    return (df.select("media_id", "payload")
            .mapInPandas(frames_op, schema=FRAME_SCHEMA))
