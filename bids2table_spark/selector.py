"""Codec auto-selection: a cost model over sampled column statistics.

Two tiers (north rule: "per-partition cost-model auto-selector that samples
column statistics (NDV, run length, byte entropy)"):

* :func:`build_plan` — consumes the per-(pt, column) stats frame produced by
  :mod:`stats` (one Arrow sampling pass over the table) and emits
  ``{"pt/column": codec}``, the plan shipped to every encode task.
* :func:`choose_codec_local` — fallback used inside the encode UDF for
  columns/partitions missing from the plan; same cost model computed on the
  block itself (data is already in memory there, so the estimates are exact).

Both tiers see Arrow values converted by the encoder's own
``blocks._to_kernel_arrow`` and take their int and string statistics from
one extractor per type (:func:`int_stats`, :func:`str_stats`).  Each tier
keeps its own NDV rule, entropy window and float sampling stride.

Estimates are bytes-per-block approximations of each kernel's layout — they
only need to rank codecs correctly, not predict exact sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .codecs.base import strings_to_buf
from .codecs.bitpack import bit_width, gcd_deltas, patched_cost, zigzag

# --------------------------------------------------------------------------
# Shared stat extractors — stats._col_partial (global tier, per sampled
# chunk) and the local estimators (per block) both call these.


def int_stats(vals: np.ndarray) -> dict:
    """Int statistics BOTH selector tiers take from non-empty int64 kernel
    values (stats._col_partial per sampled chunk, estimate_int_sizes per
    block): min/max, patch-aware FOR and delta payload bytes, delta width
    and runs.  Keys are named as in stats.PARTIAL_DDL."""
    vmin = int(vals.min())
    # patch-aware: rare outliers (conversation-boundary deltas, stray ids)
    # become exceptions in the kernels, so the estimates must not let a
    # single wide value inflate the whole column's width; the rebase is the
    # one encode_i64 performs (wraparound-safe signed distance)
    s = {
        "vmin": vmin, "vmax": int(vals.max()), "runs": 1, "w_delta": 0,
        "for_pbytes": patched_cost(vals.view(np.uint64) - np.int64(vmin).view(np.uint64)),
        "delta_pbytes": 0.0,
    }
    if len(vals) > 1:
        dd, _ = gcd_deltas(vals)
        zz = zigzag(dd)
        s["w_delta"] = bit_width(int(zz.max()))
        s["delta_pbytes"] = patched_cost(zz)
        s["runs"] = int((vals[1:] != vals[:-1]).sum()) + 1
    return s


def str_stats(arr) -> tuple:
    """String/binary statistics BOTH selector tiers take from a non-empty,
    null-free Arrow array: ``(dictionary, runs, buf)`` — the distinct values,
    the run count, and the concatenated value bytes."""
    import pyarrow as pa

    big = (
        pa.large_binary()
        if pa.types.is_binary(arr.type) or pa.types.is_large_binary(arr.type)
        else pa.large_string()
    )
    arr = arr.cast(big)
    d = arr.dictionary_encode()
    codes = d.indices.to_numpy(zero_copy_only=False)
    runs = int((codes[1:] != codes[:-1]).sum()) + 1 if len(codes) > 1 else 1
    _, buf = strings_to_buf(arr)
    return d.dictionary, runs, buf


# --------------------------------------------------------------------------
# Shared cost models — BOTH selector tiers (the global build_plan over the
# stats frame and the per-block choose_codec_local) route through these, so
# the two tiers cannot drift: identical stats always yield identical codec
# choices (pinned by tests/test_selector.py::test_tiers_agree_on_same_stats).


def int_cost_model(
    n: int,
    w_for: int,
    runs: int,
    ndv: int,
    for_pbytes: float = 0.0,
    delta_pbytes: float = 0.0,
    w_delta: int = 0,
) -> dict[str, float]:
    """Estimated block bytes per int-family codec.  ``for_pbytes`` /
    ``delta_pbytes`` are patch-aware payload byte sums (codecs.bitpack
    .patched_cost); when absent (0) the global-width fallback applies."""
    w_runs = bit_width(n)
    ndv = max(int(ndv), 1)
    return {
        "plain": 8.0 * n,
        "forbp": (for_pbytes or w_for * n / 8) + 32,
        "delta": (delta_pbytes or w_delta * n / 8) + 48,
        "rle": runs * (w_for + w_runs) / 8 + 64,
        "dict": ndv * 8 + bit_width(ndv - 1) * n / 8 + 64,
    }


def str_cost_model(
    n: int, ndv: int, runs: int, total_bytes: float, fsst_ratio: float
) -> dict[str, float]:
    """Estimated block bytes per string/binary codec.  ``fsst_ratio`` is the
    expected compressed/original ratio (sampled trial or entropy-derived);
    dict/rle cascade their uniques blob through FSST, so their dictionary
    cost shrinks by the same ratio."""
    code_bits = bit_width(max(int(ndv) - 1, 0))
    uniq_bytes = total_bytes * ndv / n * min(1.0, fsst_ratio) + 8 * ndv
    return {
        "plain": total_bytes + 2.0 * n,
        "dict": uniq_bytes + code_bits * n / 8 + 64,
        "rle": uniq_bytes + runs * (code_bits + bit_width(n)) / 8 + 64,
        "fsst": total_bytes * fsst_ratio + 2.0 * n + 2048,
    }


def float_cost_model(n: int, w_alp: int, alp_hit: float, width: int) -> dict[str, float]:
    """plain vs ALP for float32/float64 (``width`` = 4 or 8 bytes/value)."""
    n_exc = (1.0 - alp_hit) * n
    return {
        "plain": float(width) * n,
        "alp": w_alp * n / 8 + n_exc * (width + 4) + 64,
    }


def entropy_fsst_ratio(entropy_bits: float) -> float:
    """FSST ratio estimate from byte entropy: near-random bytes (8 bits) ->
    ~1.0, low-entropy text (~4.2 bits) -> ~0.35; floor at 0.25."""
    return max(0.25, min(1.05, entropy_bits / 8.0 * 1.6 - 0.35))


def pick(est: dict[str, float]) -> str:
    """Deterministic argmin (ties break alphabetically)."""
    return min(est.items(), key=lambda kv: (kv[1], kv[0]))[0]


def estimate_int_sizes(vals: np.ndarray) -> dict[str, float]:
    vals = np.ascontiguousarray(vals, dtype=np.int64)
    n = len(vals)
    if n == 0:
        return {"forbp": 0.0}
    s = int_stats(vals)
    # the block is in memory: exact NDV up to 64k values, a strided
    # sample scaled by 4 beyond
    ndv = len(np.unique(vals)) if n <= 65536 else min(n, len(np.unique(vals[:: max(1, n // 65536)])) * 4)
    return int_cost_model(
        n, bit_width(s["vmax"] - s["vmin"]), s["runs"], ndv,
        for_pbytes=s["for_pbytes"], delta_pbytes=s["delta_pbytes"],
    )


def estimate_f64_sizes(vals: np.ndarray) -> dict[str, float]:
    """plain vs ALP for doubles: sample the exact-decimal hit rate and the
    FOR width of the scaled ints (see codecs/alp.py)."""
    from .codecs.alp import _exact_mask, choose_exponent

    n = len(vals)
    if n == 0:
        return {"plain": 0.0}
    e, hit = choose_exponent(vals)
    sample = vals[:: max(1, n // 1024)]
    _, enc = _exact_mask(sample, e)
    w = bit_width(int(enc.max()) - int(enc.min())) if len(enc) else 0
    return float_cost_model(n, w, hit, 8)


def estimate_f32_sizes(vals: np.ndarray) -> dict[str, float]:
    from .codecs.alp import _exact_mask_f32, choose_exponent_f32

    n = len(vals)
    if n == 0:
        return {"plain": 0.0}
    e, hit = choose_exponent_f32(vals)
    sample = vals[:: max(1, n // 1024)]
    _, enc = _exact_mask_f32(sample, e)
    w = bit_width(int(enc.max()) - int(enc.min())) if len(enc) else 0
    return float_cost_model(n, w, hit, 4)


def byte_entropy(buf: np.ndarray) -> float:
    """Shannon entropy (bits/byte) of a uint8 buffer."""
    if len(buf) == 0:
        return 0.0
    counts = np.bincount(buf, minlength=256)
    p = counts[counts > 0] / len(buf)
    return float(-(p * np.log2(p)).sum())


def _as_arrow(series):
    """A pandas Series (public API callers) converted once to Arrow; Arrow
    input passes through, chunked arrays combined."""
    import pyarrow as pa

    if not isinstance(series, (pa.Array, pa.ChunkedArray)):
        series = pa.Array.from_pandas(series)
    return series.combine_chunks() if isinstance(series, pa.ChunkedArray) else series


def estimate_str_sizes(series) -> dict[str, float]:
    arr = _as_arrow(series)
    arr = arr.drop_null() if arr.null_count else arr
    n = len(arr)
    if n == 0:
        return {"plain": 0.0}
    dictionary, runs, buf = str_stats(arr)
    ent = byte_entropy(np.frombuffer(buf[:65536], dtype=np.uint8))
    return str_cost_model(n, len(dictionary), runs, float(len(buf)), entropy_fsst_ratio(ent))


def choose_codec_local(series, phys: str) -> str:
    """Cost-model pick for one block (exact stats, data already in memory).
    Accepts a pyarrow Array or a pandas Series.  Values reach the estimators
    through the encoder's own conversion (blocks._to_kernel_arrow).  For
    list<T> columns the choice is made on the flattened child values (the
    codec names the CHILD kernel; offsets are always delta-packed)."""
    from .blocks import _to_kernel_arrow, is_list_phys, list_child_phys

    arr = _as_arrow(series)
    if is_list_phys(phys):
        import pyarrow.compute as pc

        flat = pc.list_flatten(arr.drop_null() if arr.null_count else arr)
        return choose_codec_local(flat, list_child_phys(phys))
    if phys in ("int", "long", "timestamp", "timestamp_ntz", "boolean", "date"):
        est = estimate_int_sizes(_to_kernel_arrow(arr, phys)[0])
    elif phys in ("string", "binary"):
        est = estimate_str_sizes(arr)
    elif phys == "double":
        est = estimate_f64_sizes(_to_kernel_arrow(arr, phys)[0])
    elif phys == "float":
        est = estimate_f32_sizes(_to_kernel_arrow(arr, phys)[0])
    else:
        return "plain"
    return pick(est)


def build_plan(stats_pdf: pd.DataFrame) -> dict[str, str]:
    """Global plan from the stats pass: {"pt/column": codec}.

    ``stats_pdf`` columns: pt, column, phys, n, ndv, runs, w_for, w_delta,
    total_bytes, entropy, fsst_sample_ratio (see stats.py).  A ``list<T>``
    phys selects for the flattened CHILD values (the plan codec names the
    child kernel; offsets are always delta-packed — blocks._encode_list_block).

    Routes through the SAME cost-model functions as choose_codec_local
    (int_cost_model / str_cost_model / float_cost_model), so the two tiers
    rank codecs identically given the same statistics.
    """
    from .blocks import is_list_phys, list_child_phys

    def _num(r, key) -> float:
        v = r.get(key)
        try:
            v = float(v)
        except (TypeError, ValueError):
            return 0.0
        return v if np.isfinite(v) else 0.0

    plan: dict[str, str] = {}
    for _, r in stats_pdf.iterrows():
        n = max(int(r["n"]), 1)
        phys = r["phys"]
        if is_list_phys(phys):
            phys = list_child_phys(phys)
        if phys in ("int", "long", "timestamp", "timestamp_ntz", "boolean", "date"):
            # patch-aware byte sums from the stats pass (stats._col_partial
            # via codecs.bitpack.patched_cost) keep the global plan's
            # FOR/delta ranking consistent with choose_codec_local on
            # outlier-bearing columns; NDV comes from the merged KMV sketch,
            # so low-NDV int columns (enum-like ids) can rank dict too
            est = int_cost_model(
                n, int(r["w_for"]), int(r["runs"]), int(r["ndv"]),
                for_pbytes=_num(r, "for_pbytes"),
                delta_pbytes=_num(r, "delta_pbytes"),
                w_delta=int(r["w_delta"]),
            )
        elif phys in ("string", "binary"):
            ratio = float(r.get("fsst_sample_ratio") or 0.0)
            if not ratio:
                ratio = entropy_fsst_ratio(float(r["entropy"]))
            est = str_cost_model(
                n, float(r["ndv"]), float(r["runs"]), float(r["total_bytes"]), ratio
            )
        elif phys == "double":
            est = float_cost_model(
                n, int(r.get("w_alp") or 64), _num(r, "alp_hit"), 8
            )
        elif phys == "float":
            est = float_cost_model(
                n, int(r.get("w_alp") or 32), _num(r, "alp_hit"), 4
            )
        else:
            est = {"plain": 0.0}
        plan[f"{r['pt']}/{r['column']}"] = pick(est)
    return plan
