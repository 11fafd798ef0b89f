"""Block container: the bridge between Arrow column chunks (inside
``applyInArrow``) and the numpy codec kernels.

One *block* = one column of one row-chunk of one encode group, stored as a
single row of the blocks table:

    pt, grp, block_id, column, codec, phys, n_rows, n_nulls,
    meta (json), payload (binary), orig_bytes, enc_bytes, checksum

Null handling lives here (codecs only see valid values): the validity bitmap
is ``np.packbits``-packed and carried as the first payload section.  The
checksum is a sha256 over the canonical decoded representation (null-zeroed
values + validity bitmap) computed at encode time and re-verified after
decode — the bit-identical round-trip gate.

Physical types cover the reference's full cell type system re-expressed
columnar: strings, ints (int32/int64), timestamps, doubles, plus the round-2
widening — boolean, float32, date, binary, and one-level ``list<primitive>``
(the reference's ndarray extension layout, offsets + flattened values,
``bids2table/extensions/ndarray.py:50-74``).  Struct columns are flattened a
layer up (encode.py) so the container only ever sees these physical types.

Reference seam: the opaque-cell + pack/unpack structure of
``bids2table/extensions/pickle.py:43-66`` and the per-file integrity records
of ``bids2table/logging.py:98-131``.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa

from .codecs import get_codec
from .codecs.base import (
    DTYPE_BIN,
    DTYPE_F32,
    DTYPE_F64,
    DTYPE_I64,
    DTYPE_STR,
    meta_dumps,
    meta_loads,
    strings_to_buf,
)

# physical (Spark-facing) type tags
PHYS_STRING = "string"
PHYS_INT = "int"
PHYS_LONG = "long"
PHYS_TS = "timestamp"
PHYS_TS_NTZ = "timestamp_ntz"
PHYS_DOUBLE = "double"
PHYS_BOOL = "boolean"
PHYS_FLOAT = "float"
PHYS_DATE = "date"
PHYS_BIN = "binary"

PHYS_TO_LOGICAL = {
    PHYS_STRING: DTYPE_STR,
    PHYS_INT: DTYPE_I64,
    PHYS_LONG: DTYPE_I64,
    PHYS_TS: DTYPE_I64,
    PHYS_TS_NTZ: DTYPE_I64,
    PHYS_DOUBLE: DTYPE_F64,
    PHYS_BOOL: DTYPE_I64,
    PHYS_FLOAT: DTYPE_F32,
    PHYS_DATE: DTYPE_I64,
    PHYS_BIN: DTYPE_BIN,
}

# bytes per value in the *uncompressed* canonical representation
_PHYS_WIDTH = {
    PHYS_INT: 4, PHYS_LONG: 8, PHYS_TS: 8, PHYS_TS_NTZ: 8,
    PHYS_DOUBLE: 8, PHYS_BOOL: 1, PHYS_FLOAT: 4, PHYS_DATE: 4,
}

BLOCKS_SCHEMA_DDL = (
    "pt string, grp string, block_id long, column string, codec string, "
    "phys string, n_rows long, n_nulls long, meta string, payload binary, "
    "orig_bytes long, enc_bytes long, checksum string, "
    "zmin string, zmax string, cmin string, cmax string"
)
# zmin/zmax: zone map over the PRIMARY SORT KEY of the chunk this block
# belongs to (every column block of one chunk shares the key range, the
# chunk is key-sorted, so they are just its first/last key).  Plain string
# columns -> parquet row-group stats -> point/range decode skips blocks at
# the scan (see manifest.decode_job key_range).  Values are stored through
# zone_key_value so LEXICOGRAPHIC comparison matches the key's native order
# for every physical type (plain str() of ints would prune '9' <= '11' as
# false and silently drop matching blocks).
#
# cmin/cmax (round 5): per-COLUMN zone map — min/max of THIS block's own
# values in the same order-preserving string alphabet, so predicates on
# non-key columns (role = 'assistant', ts ranges when conv_id is the key)
# prune chunks too (manifest.decode_job col_ranges).  Long string/binary
# values are bound-truncated (prefix for cmin, prefix + max-codepoint
# sentinel for cmax) so the metadata stays tiny; NULL bounds mean
# "unprunable — keep the chunk".  The reference gets this for free from
# parquet per-column row-group stats (bids2table/writer.py:102); the custom
# container stores them explicitly.


def zone_key_value(v, phys: str | None = None) -> str | None:
    """Order-preserving string image of a sort-key value.

    When ``phys`` (the key column's physical type) is given, the value is
    coerced to that type FIRST, so a value of another python type (a
    float64 7.0 for an int64 key, a string for a date key) images in the
    key's own alphabet: without coercion the float would image as 16-hex
    IEEE bits while the key's blocks carry 20-digit decimal, and the
    lexicographic compare between the two is meaningless (silently prunes
    matching blocks).  Without ``phys`` it dispatches on the runtime python
    type.
    Integers/timestamps/dates map to zero-padded offset-binary decimal,
    floats to sign-flipped IEEE bits in hex, bytes to hex — all
    fixed-width, so string order == native order."""
    import datetime

    if v is None or v != v:  # NaN/NaT guard (pandas nulls on promoted dtypes)
        return None
    if phys is not None:
        if phys in ("int", "long"):
            # float64-from-nullable-int is exact below 2**53; sort keys
            # (conv hashes are strings, turn indexes are small) stay inside
            v = int(v)
        elif phys in ("timestamp", "timestamp_ntz"):
            v = pd.Timestamp(v)
        elif phys == "boolean":
            v = bool(v)
        elif phys == "double":
            v = float(v)
        elif phys == "float":
            # image at float64 width either way; widen deterministically
            v = float(np.float32(v))
        elif phys == "date":
            # a string/Timestamp bound for a date key would image through the
            # str/timestamp branch (different alphabet than the encoder's
            # date image) and silently mis-prune; normalize to datetime.date
            v = pd.Timestamp(v).date()
        elif phys == "binary":
            v = v.encode() if isinstance(v, str) else bytes(v)
        elif phys == "string":
            v = str(v)
    if isinstance(v, str):
        return v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return f"{pd.Timestamp(v).value + (1 << 63):020d}"
    if isinstance(v, datetime.date):
        days = (v - datetime.date(1970, 1, 1)).days
        return f"{days + (1 << 63):020d}"
    if isinstance(v, (bool, np.bool_)):
        return f"{int(v) + (1 << 63):020d}"
    if isinstance(v, (int, np.integer)):
        return f"{int(v) + (1 << 63):020d}"
    if isinstance(v, (float, np.floating)):
        u = int(np.float64(v).view(np.uint64))
        u = u ^ 0xFFFFFFFFFFFFFFFF if u & (1 << 63) else u | (1 << 63)
        return f"{u:016x}"
    raise TypeError(f"unsupported zone-map key type: {type(v).__name__}")


_ZONE_STR_MAX = 64  # chars (string) / bytes (binary) kept of long values
_ZONE_HI_SENTINEL = "\U0010ffff"  # > any codepoint; UTF-8 order == codepoint order


def _zone_fixed_image(v: int) -> str:
    return f"{int(v) + (1 << 63):020d}"


def zone_col_bounds(valid, phys: str) -> tuple[str | None, str | None]:
    """Per-column zone bounds of one block: order-preserving string images of
    the valid values' min/max, in the SAME alphabet ``zone_key_value``
    produces for query bounds of that phys.

    ``valid`` is the kernel-domain view (int64 epoch-ns for timestamps,
    int64 days for dates, numpy for numerics, Arrow for strings/binary).
    Long strings are truncated: cmin to a prefix (a prefix only lowers the
    bound — still a valid lower bound), cmax to prefix + a max-codepoint
    sentinel (an upper bound for every value sharing the prefix; for binary
    the hex image gets ``"g"`` > any hex digit).  Returns (None, None) when
    unboundable (empty block, all-NaN floats) — callers must treat NULL
    bounds as unprunable."""
    n = len(valid)
    if n == 0:
        return None, None
    if phys in (PHYS_INT, PHYS_LONG, PHYS_BOOL, PHYS_TS, PHYS_TS_NTZ, PHYS_DATE):
        v = np.asarray(valid)
        return _zone_fixed_image(v.min()), _zone_fixed_image(v.max())
    if phys in (PHYS_DOUBLE, PHYS_FLOAT):
        v = np.asarray(valid, dtype=np.float64)
        import warnings

        with np.errstate(invalid="ignore"), warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            lo, hi = np.nanmin(v), np.nanmax(v)
        if lo != lo:  # all-NaN block: no range bound exists
            return None, None
        return zone_key_value(float(lo)), zone_key_value(float(hi))
    if phys in (PHYS_STRING, PHYS_BIN):
        import pyarrow.compute as pc

        arr = valid if isinstance(valid, pa.Array) else pa.array(valid)
        mm = pc.min_max(arr)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        if lo is None:
            return None, None
        if phys == PHYS_BIN:
            lo_s, hi_s = bytes(lo).hex(), bytes(hi).hex()
            sentinel, cut = "g", 2 * _ZONE_STR_MAX
        else:
            lo_s, hi_s, sentinel, cut = lo, hi, _ZONE_HI_SENTINEL, _ZONE_STR_MAX
        if len(lo_s) > cut:
            lo_s = lo_s[:cut]
        if len(hi_s) > cut:
            hi_s = hi_s[:cut] + sentinel
        return lo_s, hi_s
    return None, None  # list<T> and anything exotic: unprunable


def is_list_phys(phys: str) -> bool:
    return phys.startswith("list<") and phys.endswith(">")


def list_child_phys(phys: str) -> str:
    return phys[5:-1]


def pin_worker_threads() -> None:
    """Cap Arrow's per-process thread pools inside python workers (called at
    the top of every grouped UDF; idempotent).  See the session.py note —
    32 workers each defaulting to machine-wide pools makes local[32] slower
    than local[8]."""
    if pa.cpu_count() != 1:
        pa.set_cpu_count(1)
        try:
            pa.set_io_thread_count(1)
        except Exception:
            pass


def spark_field_phys(dt) -> str:
    """Map a Spark DataType to a physical tag."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StringType):
        return PHYS_STRING
    if isinstance(dt, T.IntegerType):
        return PHYS_INT
    if isinstance(dt, T.LongType):
        return PHYS_LONG
    if isinstance(dt, T.TimestampType):
        return PHYS_TS
    if isinstance(dt, T.TimestampNTZType):
        return PHYS_TS_NTZ
    if isinstance(dt, T.DoubleType):
        return PHYS_DOUBLE
    if isinstance(dt, T.FloatType):
        return PHYS_FLOAT
    if isinstance(dt, T.BooleanType):
        return PHYS_BOOL
    if isinstance(dt, T.DateType):
        return PHYS_DATE
    if isinstance(dt, T.BinaryType):
        return PHYS_BIN
    if isinstance(dt, T.ArrayType):
        child = spark_field_phys(dt.elementType)
        if is_list_phys(child):
            raise TypeError(f"nested lists not supported for encoding: {dt}")
        return f"list<{child}>"
    raise TypeError(
        f"unsupported column type for encoding: {dt} "
        "(struct columns are flattened by encode_table; see encode.py)"
    )


def _update_values_hash(h, values, phys: str) -> None:
    if phys in (PHYS_STRING, PHYS_BIN):
        offsets, buf = strings_to_buf(values)
        h.update(offsets.tobytes())
        h.update(buf)
    else:
        h.update(np.ascontiguousarray(values).tobytes())


def _canonical_bytes(values, mask: np.ndarray, phys: str) -> str:
    """Canonical byte image of a (valid-values, mask) column for checksums."""
    h = hashlib.sha256()
    h.update(np.packbits(mask).tobytes())
    _update_values_hash(h, values, phys)
    return h.hexdigest()


def _to_kernel_arrow(arr: pa.Array, phys: str):
    """(valid_values_for_kernel, validity_mask) of one Arrow column — the
    one conversion the encoder, the local selector and the stats pass share.

    Timestamps normalize to epoch ns regardless of the arrow unit, so
    checksums do not depend on the unit a batch arrives in; dates become
    int64 days; strings/binary stay Arrow arrays."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if arr.null_count:
        mask = arr.is_valid().to_numpy(zero_copy_only=False)
        valid_arr = arr.drop_null()
    else:
        mask = np.ones(n, dtype=bool)
        valid_arr = arr
    if phys in (PHYS_TS, PHYS_TS_NTZ):
        t = valid_arr.type
        vals = valid_arr.cast(pa.int64()).to_numpy(zero_copy_only=False)
        unit = t.unit if pa.types.is_timestamp(t) else "us"
        scale = {"s": 10**9, "ms": 10**6, "us": 10**3, "ns": 1}[unit]
        return vals * np.int64(scale), mask
    if phys == PHYS_DATE:
        # arrow has no direct date32 -> int64 cast; hop through int32 days
        return (
            valid_arr.cast(pa.int32()).cast(pa.int64()).to_numpy(zero_copy_only=False),
            mask,
        )
    if phys in (PHYS_INT, PHYS_LONG, PHYS_BOOL):
        return valid_arr.cast(pa.int64()).to_numpy(zero_copy_only=False), mask
    if phys == PHYS_DOUBLE:
        return valid_arr.cast(pa.float64()).to_numpy(zero_copy_only=False), mask
    if phys == PHYS_FLOAT:
        return valid_arr.cast(pa.float32()).to_numpy(zero_copy_only=False), mask
    return valid_arr, mask  # strings / binary stay as arrow arrays


def _orig_bytes(values, phys: str, n: int) -> int:
    if phys in (PHYS_STRING, PHYS_BIN):
        offs, _ = strings_to_buf(values)
        return int(offs[-1]) + 8 * n
    return _PHYS_WIDTH[phys] * n


def encode_block_arrow(
    pt: str,
    grp: str,
    block_id: int,
    column: str,
    arr: pa.Array,
    phys: str,
    codec_name: str,
) -> dict:
    """Arrow-native encode of one column chunk into a block-row dict."""
    if is_list_phys(phys):
        return _encode_list_block(pt, grp, block_id, column, arr, phys, codec_name)
    logical = PHYS_TO_LOGICAL[phys]
    valid, mask = _to_kernel_arrow(arr, phys)
    n = len(arr)
    n_nulls = int(n - mask.sum())
    codec = get_codec(codec_name)
    meta, payload = codec.encode(valid, logical)
    cmin, cmax = zone_col_bounds(valid, phys)
    if n_nulls:
        mask_b = np.packbits(mask).tobytes()
        payload = mask_b + payload
        meta = dict(meta)
        meta["mask_bytes"] = len(mask_b)
    return {
        "pt": pt,
        "grp": grp,
        "block_id": block_id,
        "column": column,
        "codec": codec_name,
        "phys": phys,
        "n_rows": n,
        "n_nulls": n_nulls,
        "meta": meta_dumps(meta),
        "payload": payload,
        "orig_bytes": _orig_bytes(valid, phys, n),
        "enc_bytes": len(payload),
        "checksum": _canonical_bytes(valid, mask, phys),
        "cmin": cmin,
        "cmax": cmax,
    }


# ----------------------------------------------------------------- list<T>


def _list_canonical(
    mask: np.ndarray, offsets: np.ndarray, child_valid, child_mask: np.ndarray, child_phys: str
) -> str:
    h = hashlib.sha256()
    h.update(np.packbits(mask).tobytes())
    h.update(np.ascontiguousarray(offsets, dtype=np.int64).tobytes())
    h.update(np.packbits(child_mask).tobytes())
    _update_values_hash(h, child_valid, child_phys)
    return h.hexdigest()


def _encode_list_block(
    pt: str, grp: str, block_id: int, column: str, arr: pa.Array, phys: str, codec_name: str
) -> dict:
    """list<primitive> layout (the reference ndarray extension re-expressed
    columnar, ``bids2table/extensions/ndarray.py:50-74``): delta-packed
    offsets + the flattened child values encoded with a normal kernel.

    ``codec_name`` names the CHILD codec (the offsets are always
    delta+bitpacked — they are monotone by construction)."""
    import pyarrow.compute as pc

    from .codecs.base import pack_sections

    child_phys = list_child_phys(phys)
    child_logical = PHYS_TO_LOGICAL[child_phys]
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if arr.null_count:
        mask = arr.is_valid().to_numpy(zero_copy_only=False)
        valid_arr = arr.drop_null()
    else:
        mask = np.ones(n, dtype=bool)
        valid_arr = arr
    lengths = pc.list_value_length(valid_arr).cast(pa.int64()).to_numpy(zero_copy_only=False)
    offsets = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(lengths)])
    flat = pc.list_flatten(valid_arr)  # honors slices; only valid lists' values
    child_valid, child_mask = _to_kernel_arrow(flat, child_phys)

    offs_meta, offs_payload = get_codec("delta").encode(offsets, DTYPE_I64)
    cmeta, cpayload = get_codec(codec_name).encode(child_valid, child_logical)
    sections = [offs_payload]
    child_has_nulls = bool((~child_mask).any())
    if child_has_nulls:
        sections.append(np.packbits(child_mask).tobytes())
    sections.append(cpayload)
    lens, payload = pack_sections(sections)
    meta = {
        "sections": lens,
        "offsets": offs_meta,
        "child": cmeta,
        "child_n": int(len(child_mask)),
        "child_nulls": child_has_nulls,
    }
    n_nulls = int(n - mask.sum())
    if n_nulls:
        mask_b = np.packbits(mask).tobytes()
        payload = mask_b + payload
        meta["mask_bytes"] = len(mask_b)
    return {
        "pt": pt,
        "grp": grp,
        "block_id": block_id,
        "column": column,
        "codec": codec_name,
        "phys": phys,
        "n_rows": n,
        "n_nulls": n_nulls,
        "meta": meta_dumps(meta),
        "payload": payload,
        "orig_bytes": 8 * n + _orig_bytes(child_valid, child_phys, int(len(child_mask))),
        "enc_bytes": len(payload),
        "checksum": _list_canonical(mask, offsets, child_valid, child_mask, child_phys),
        # range predicates over a list column have no single-value order;
        # NULL bounds = unprunable (decode_job col_ranges keeps the chunk)
        "cmin": None,
        "cmax": None,
    }


def _decode_list_block(row, meta: dict, payload: bytes, verify: bool) -> pa.Array:
    from .codecs.base import split_sections

    phys = row["phys"]
    child_phys = list_child_phys(phys)
    child_logical = PHYS_TO_LOGICAL[child_phys]
    n = int(row["n_rows"])
    n_nulls = int(row["n_nulls"])
    if n_nulls:
        mask_b = meta["mask_bytes"]
        mask = np.unpackbits(np.frombuffer(payload[:mask_b], dtype=np.uint8), count=n).astype(bool)
        payload = payload[mask_b:]
    else:
        mask = np.ones(n, dtype=bool)
    parts = split_sections(meta["sections"], payload)
    n_valid = int(mask.sum())
    offsets = get_codec("delta").decode(meta["offsets"], parts[0], n_valid + 1, DTYPE_I64)
    child_n = int(meta["child_n"])
    if meta.get("child_nulls"):
        child_mask = np.unpackbits(
            np.frombuffer(parts[1], dtype=np.uint8), count=child_n
        ).astype(bool)
        cpayload = parts[2]
    else:
        child_mask = np.ones(child_n, dtype=bool)
        cpayload = parts[1]
    child_valid = get_codec(row["codec"]).decode(
        meta["child"], cpayload, int(child_mask.sum()), child_logical
    )
    if verify:
        got = _list_canonical(mask, offsets, child_valid, child_mask, child_phys)
        if got != row["checksum"]:
            raise ValueError(
                f"checksum mismatch for block {row['pt']}/{row['grp']}/"
                f"{row['block_id']}/{row['column']}"
            )
    child_arr = _to_arrow(child_valid, child_mask, child_phys)
    lists = pa.LargeListArray.from_arrays(pa.array(offsets, type=pa.int64()), child_arr)
    if bool(mask.all()):
        return lists
    idx = np.cumsum(mask) - 1
    indices = pa.array(np.where(mask, idx, 0), type=pa.int64(), mask=~mask)
    return lists.take(indices)


def decode_block(row: dict | pd.Series, verify: bool = True) -> pa.Array:
    """Decode one block row back to a pyarrow array (with nulls)."""
    meta = meta_loads(row["meta"])
    phys = row["phys"]
    payload = row["payload"]
    if isinstance(payload, (bytearray, memoryview)):
        payload = bytes(payload)
    if is_list_phys(phys):
        return _decode_list_block(row, meta, payload, verify)
    logical = PHYS_TO_LOGICAL[phys]
    n = int(row["n_rows"])
    n_nulls = int(row["n_nulls"])
    if n_nulls:
        mask_b = meta["mask_bytes"]
        mask = np.unpackbits(
            np.frombuffer(payload[:mask_b], dtype=np.uint8), count=n
        ).astype(bool)
        payload = payload[mask_b:]
    else:
        mask = np.ones(n, dtype=bool)
    codec = get_codec(row["codec"])
    valid = codec.decode(meta, payload, int(mask.sum()), logical)
    if verify:
        got = _canonical_bytes(valid, mask, phys)
        if got != row["checksum"]:
            raise ValueError(
                f"checksum mismatch for block {row['pt']}/{row['grp']}/"
                f"{row['block_id']}/{row['column']}"
            )
    return _to_arrow(valid, mask, phys)


def _to_arrow(valid, mask: np.ndarray, phys: str) -> pa.Array:
    n = len(mask)
    all_valid = bool(mask.all())
    if phys in (PHYS_STRING, PHYS_BIN):
        if phys == PHYS_BIN:
            target = pa.binary()
            arr = valid if isinstance(valid, pa.Array) else pa.array(valid, type=pa.large_binary())
        else:
            target = pa.string()
            arr = valid if isinstance(valid, pa.Array) else pa.array(valid, type=pa.large_string())
        if all_valid:
            return arr.cast(target)
        idx = np.cumsum(mask) - 1  # position of each row in the valid array
        indices = pa.array(np.where(mask, idx, 0), type=pa.int64(), mask=~mask)
        return arr.take(indices).cast(target)
    vals = np.asarray(valid)
    full = np.zeros(n, dtype=vals.dtype if len(vals) else np.int64)
    full[mask] = vals
    null_mask = None if all_valid else ~mask
    if phys in (PHYS_TS, PHYS_TS_NTZ):
        return pa.array(full.view("datetime64[ns]"), type=pa.timestamp("ns"), mask=null_mask)
    if phys == PHYS_INT:
        return pa.array(full.astype(np.int32), type=pa.int32(), mask=null_mask)
    if phys == PHYS_LONG:
        return pa.array(full.astype(np.int64), type=pa.int64(), mask=null_mask)
    if phys == PHYS_BOOL:
        return pa.array(full.astype(bool), type=pa.bool_(), mask=null_mask)
    if phys == PHYS_DATE:
        return pa.array(full.astype(np.int32), type=pa.date32(), mask=null_mask)
    if phys == PHYS_FLOAT:
        return pa.array(full.astype(np.float32), type=pa.float32(), mask=null_mask)
    return pa.array(full.astype(np.float64), type=pa.float64(), mask=null_mask)
