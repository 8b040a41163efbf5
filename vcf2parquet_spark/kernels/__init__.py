"""Codec registry + column-level framing (types, nulls, cascades).

``encode_column(arr, codec)`` / ``decode_column(payload, meta)`` are the
only entry points the engine uses.  A codec spec is a base codec name
optionally cascaded with a general-purpose residual stage
``+{zlib,zstd,lz4,brotli,gzip}`` (the breadth analogue of the
reference's file-level codec enum, /root/reference/src/cli.rs:119-136;
high-entropy fallback documented in SURVEY.md §7); list columns compose
as ``list:<child spec>``:

    int64  :  plain | bitpack | for | delta | rle | dict | (+<residual>)
    string :  plain | dict | rle | fsst | (+<residual>)
    float  :  plain | rle | dict | (+<residual>)   (codecs run on the
              IEEE bit pattern via an exact int64 view — NaN payloads
              and -0.0 round-trip bit-identically)
    bool   :  bitmap | rle
    list<T>:  list:<spec for T>  (offsets delta+FOR-packed, child column
              recursed through its own codec)

This covers the reference's seven physical shapes — Boolean, Int32,
Float32, Utf8, List<Int32/Float32/Utf8>
(``/root/reference/src/columndata.rs:12-28``) — as Spark-side
boolean/int64/float32/float64/string/list columns.

Nulls are stripped into a validity bitmap section before the base codec
runs and re-inserted on decode — mirroring how the reference's builders
track nulls separately from values (``/root/reference/src/columndata.rs:92-103``).
List framing (offsets + recursed values) mirrors its List builders
(``columndata.rs:32-89``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from vcf2parquet_spark._alloc import tune_allocators
from vcf2parquet_spark.kernels import codecs as C
from vcf2parquet_spark.kernels import fsst as F
from vcf2parquet_spark.kernels.util import (
    get_section,
    pack_sections,
    pack_validity,
    unpack_validity,
)

# Kernels also run in the driver process (tests, and benchmarks that
# build tables with encode_partition in-process), where no engine entry
# point has called _alloc.worker_setup: without the tuned allocator
# that in-process build ran about 1.5x slower on a slow-page-fault host.
tune_allocators()

# base-codec tables: name -> (encode, decode) per logical type
_INT_CODECS = {
    "plain": (
        lambda v: (np.ascontiguousarray(v, np.int64).tobytes(), {"n": int(len(v))}),
        lambda p, m: np.frombuffer(p, np.int64).copy(),
    ),
    "bitpack": (C.enc_bitpack, C.dec_bitpack),
    "for": (C.enc_for, C.dec_for),
    "delta": (C.enc_delta, C.dec_delta),
    "rle": (C.enc_rle_int, C.dec_rle_int),
    "dict": (C.enc_dict_int, C.dec_dict_int),
}

_STR_CODECS = {
    "plain": (C.enc_plain_str, C.dec_plain_str),
    "dict": (C.enc_dict_str, C.dec_dict_str),
    "rle": (C.enc_rle_str, C.dec_rle_str),
    "fsst": (F.enc_fsst, F.dec_fsst),
}

# floats run their IEEE bit patterns through the int kernels ("plain"
# stores raw native-width bytes instead — no 2x blow-up for float32)
_FLOAT_CODECS = ("plain", "rle", "dict")

_BOOL_CODECS = {
    "bitmap": (C.enc_bool_bitmap, C.dec_bool_bitmap),
    "rle": (
        lambda v: C.enc_rle_int(np.ascontiguousarray(v).astype(np.int64)),
        lambda p, m: C.dec_rle_int(p, m).astype(bool),
    ),
}

STRING_CODECS = tuple(_STR_CODECS)
INT_CODECS = tuple(_INT_CODECS)
FLOAT_CODECS = _FLOAT_CODECS
BOOL_CODECS = tuple(_BOOL_CODECS)


def _split_spec(codec: str) -> tuple[str, str | None]:
    """``"fsst+zstd"`` → ``("fsst", "zstd")``; no cascade → ``(spec, None)``."""
    base, sep, tail = codec.rpartition("+")
    if sep and tail in C.CASCADES:
        return base, tail
    return codec, None


def _float_phys(t: pa.DataType) -> tuple[str, type, type]:
    """(type tag, numpy float dtype, numpy unsigned bit dtype)."""
    if pa.types.is_float32(t):
        return "float32", np.float32, np.uint32
    return "float64", np.float64, np.uint64


def _strip_nulls(arr: pa.Array, sections: dict) -> pa.Array:
    if arr.null_count:
        sections["validity"] = pack_validity(~np.asarray(arr.is_null()))
        return arr.drop_null()
    return arr


def encode_column(arr: pa.Array, codec: str) -> tuple[bytes, dict]:
    """Encode one column block. Returns (payload, meta). Deterministic."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    sections: dict[str, bytes] = {}
    meta: dict = {"codec": codec, "n": n, "n_nulls": int(arr.null_count)}

    if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type):
        if not codec.startswith("list:"):
            raise TypeError(f"list column needs a 'list:<child>' spec, got {codec}")
        values = _strip_nulls(arr, sections)
        lens = pc.list_value_length(values).cast(pa.int64()) \
                 .to_numpy(zero_copy_only=False)
        offsets = np.zeros(len(values) + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        child = values.flatten()
        p_off, m_off = C.enc_delta(offsets)
        p_child, m_child = encode_column(child, codec[len("list:"):])
        sections["offsets"] = p_off
        sections["child"] = p_child
        meta["type"] = f"list<{m_child['type']}>"
        meta["offsets"] = m_off
        meta["child"] = m_child
        payload, smeta = pack_sections(sections)
        meta["sections"] = smeta
        return payload, meta

    base, cascade = _split_spec(codec)
    if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
        meta["type"] = "string"
        values = _strip_nulls(arr, sections)
        enc, dec = _STR_CODECS[base]
        body, bmeta = enc(values.cast(pa.string()))
    elif pa.types.is_integer(arr.type):
        meta["type"] = "int64"
        values = _strip_nulls(arr, sections)
        enc, dec = _INT_CODECS[base]
        body, bmeta = enc(values.cast(pa.int64()).to_numpy(zero_copy_only=False))
    elif pa.types.is_floating(arr.type):
        tag, fdtype, udtype = _float_phys(arr.type)
        meta["type"] = tag
        values = _strip_nulls(arr, sections)
        v = values.to_numpy(zero_copy_only=False).astype(fdtype, copy=False)
        if base == "plain":
            body, bmeta = np.ascontiguousarray(v).tobytes(), {"n": int(len(v))}
        elif base in _FLOAT_CODECS:
            bits = np.ascontiguousarray(v).view(udtype).astype(np.int64)
            enc, dec = _INT_CODECS[base]
            body, bmeta = enc(bits)
        else:
            raise KeyError(f"unsupported float codec: {base}")
    elif pa.types.is_boolean(arr.type):
        meta["type"] = "bool"
        values = _strip_nulls(arr, sections)
        v = values.to_numpy(zero_copy_only=False).astype(np.uint8)
        enc, dec = _BOOL_CODECS[base]
        body, bmeta = enc(v)
    else:
        raise TypeError(f"unsupported column type for codec kernels: {arr.type}")

    if cascade:
        body = C.cascade_wrap(body, cascade)
    sections["body"] = body
    payload, smeta = pack_sections(sections)
    meta["base"] = bmeta
    meta["sections"] = smeta
    return payload, meta


def decode_column(payload: bytes, meta: dict) -> pa.Array:
    """Inverse of :func:`encode_column` — bit-identical round trip.

    Raises CodecError on corrupt payloads (engine error taxonomy,
    mirroring the reference's Arrow/Parquet error wrapping,
    /root/reference/src/error.rs:16-23).
    """
    try:
        return _decode_column(payload, meta)
    except (IndexError, ValueError, KeyError) as e:
        from vcf2parquet_spark.errors import CodecError
        raise CodecError(
            f"corrupt or mismatched block payload "
            f"(codec={meta.get('codec')}, n={meta.get('n')}): {e}") from e
    except Exception as e:  # zlib.error, pyarrow codec errors, etc.
        import zlib
        if isinstance(e, (zlib.error, pa.ArrowInvalid, pa.ArrowIOError)):
            from vcf2parquet_spark.errors import CodecError
            raise CodecError(f"residual stage failed: {e}") from e
        raise


def _decode_column(payload: bytes, meta: dict) -> pa.Array:
    typ = meta["type"]
    n = meta["n"]
    n_nulls = meta["n_nulls"]

    if typ.startswith("list<"):
        offsets = C.dec_delta(get_section(payload, meta["sections"], "offsets"),
                              meta["offsets"])
        child = decode_column(get_section(payload, meta["sections"], "child"),
                              meta["child"])
        values = pa.ListArray.from_arrays(
            pa.array(_i32_offsets(offsets), type=pa.int32()), child)
        if not n_nulls:
            return values
        valid = unpack_validity(
            get_section(payload, meta["sections"], "validity"), n)
        return _scatter_valid_list(values, valid)

    base, cascade = _split_spec(meta["codec"])
    body = get_section(payload, meta["sections"], "body")
    if cascade:
        body = C.cascade_unwrap(body, cascade)

    if typ == "string":
        values = _STR_CODECS[base][1](body, meta["base"])
        if not n_nulls:
            return values
        valid = unpack_validity(get_section(payload, meta["sections"], "validity"), n)
        return _scatter_valid_str(values, valid)
    elif typ == "int64":
        vals = _INT_CODECS[base][1](body, meta["base"])
        return _with_validity(vals, np.int64, pa.int64(), payload, meta)
    elif typ in ("float32", "float64"):
        fdtype = np.float32 if typ == "float32" else np.float64
        udtype = np.uint32 if typ == "float32" else np.uint64
        patype = pa.float32() if typ == "float32" else pa.float64()
        if base == "plain":
            vals = np.frombuffer(body, dtype=fdtype).copy()
        else:
            bits = _INT_CODECS[base][1](body, meta["base"])
            vals = bits.astype(udtype).view(fdtype)
        return _with_validity(vals, fdtype, patype, payload, meta)
    elif typ == "bool":
        vals = _BOOL_CODECS[base][1](body, meta["base"])
        return _with_validity(vals, bool, pa.bool_(), payload, meta)
    raise TypeError(f"unsupported type tag: {typ}")


def _with_validity(vals: np.ndarray, npdtype, patype: pa.DataType,
                   payload: bytes, meta: dict) -> pa.Array:
    """Re-insert nulls per the validity section (fixed-width types)."""
    if not meta["n_nulls"]:
        return pa.array(vals, type=patype)
    valid = unpack_validity(get_section(payload, meta["sections"], "validity"),
                            meta["n"])
    out = np.zeros(meta["n"], dtype=npdtype)
    out[valid] = vals
    return pa.array(out, type=patype, mask=~valid)


def _scatter_valid_str(values: pa.Array, valid: np.ndarray) -> pa.Array:
    """Re-insert nulls into a null-free string array per validity mask."""
    n = len(valid)
    if len(values) == 0:
        return pa.nulls(n, pa.string())
    idx = np.full(n, -1, dtype=np.int64)
    idx[valid] = np.arange(len(values), dtype=np.int64)
    take_idx = pa.array(np.where(valid, idx, 0), type=pa.int64())
    taken = values.take(take_idx)
    # apply mask: build with validity via pa.array of python-free route
    mask = pa.array(~valid)
    return pa.compute.if_else(mask, pa.scalar(None, pa.string()), taken)


def _i32_offsets(offsets: np.ndarray) -> np.ndarray:
    """Checked int64→int32 narrowing for Arrow list offsets: a block
    whose total child-element count exceeds 2^31-1 must fail loudly,
    not wrap into silently corrupt lists (blocks are bounded well below
    this by batch_size, so hitting it means a mis-framed payload)."""
    if len(offsets) and int(offsets[-1]) > np.iinfo(np.int32).max:
        from vcf2parquet_spark.errors import CodecError
        raise CodecError(
            f"list block child count {int(offsets[-1])} overflows int32 "
            "offsets")
    return offsets.astype(np.int32)


def _scatter_valid_list(values: pa.ListArray, valid: np.ndarray) -> pa.Array:
    """Re-insert nulls into a null-free list array per validity mask:
    null rows get a zero-length span and a null offset slot (Arrow's
    null-list encoding via nullable offsets)."""
    n = len(valid)
    lens = np.zeros(n, dtype=np.int64)
    lens[valid] = pc.list_value_length(values).cast(pa.int64()) \
                    .to_numpy(zero_copy_only=False)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    # a null in offsets[i] marks list i null (i < n; the final slot stays valid)
    mask = np.append(~valid, False)
    off_arr = pa.array(_i32_offsets(offsets), mask=mask)
    return pa.ListArray.from_arrays(off_arr, values.flatten())


def encoded_size(payload: bytes) -> int:
    return len(payload)
