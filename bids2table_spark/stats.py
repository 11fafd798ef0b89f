"""Column-statistics sampling pass feeding the codec selector.

The sample is split into ``defaultParallelism`` chunks by a hash of the
conversation key, so its parallelism scales with the cluster and no single
task holds a partition's whole sample.  Each chunk arrives as a
``pa.Table`` (``applyInArrow``) and its columns reach the statistics as the
kernel-domain values the encoder sees (``blocks._to_kernel_arrow``).  Each
chunk emits *mergeable* partials per (pt, column): counts, run counts,
min/max frames, byte HISTOGRAMS (entropy is computed from the summed
histogram — exactly, since entropy is a function of the distribution),
delta widths, sampled FSST ratios, ALP hit rates and a KMV distinct sketch
for NDV.

The merge (:func:`merge_partials`) runs driver-side in pandas over
n_pt x n_chunks x n_cols tiny rows, then feeds
:func:`bids2table_spark.selector.build_plan`.

Everything the north rule names (NDV, run length, byte entropy) is here,
Arrow-vectorized, never per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from .blocks import spark_field_phys
from .codecs.bitpack import bit_width
from .codecs import fsst as fsst_mod

PARTIAL_DDL = (
    "pt string, salt int, column string, phys string, n long, ndv long, "
    "runs long, vmin long, vmax long, w_delta int, total_bytes long, "
    "hist binary, fsst_sample_ratio double, alp_hit double, w_alp int, "
    "for_pbytes double, delta_pbytes double, kmv binary"
)

# KMV (k-minimum-values) distinct sketch: each chunk keeps the K smallest
# 64-bit value hashes; sketches MERGE by union+truncate, and the merged
# estimate is (K-1)/normalized_kth_min — so NDV no longer needs its own
# approx_count_distinct Spark job + materialized shared sample (round-4:
# the stats pass is now ONE job, and every stat merges).
_KMV_K = 256


def _kmv_sketch(values) -> bytes:
    """K smallest distinct 64-bit hashes of ``values`` (pandas C-speed hash)."""
    h = pd.util.hash_pandas_object(
        values if isinstance(values, pd.Series) else pd.Series(values), index=False
    ).to_numpy()
    hu = np.unique(h)  # sorted distinct
    return hu[:_KMV_K].tobytes()


def _kmv_estimate(sketches) -> int:
    """Merged NDV estimate from per-chunk KMV sketches."""
    ks = [np.frombuffer(b, dtype=np.uint64) for b in sketches if len(b)]
    if not ks:
        return 0
    hu = np.unique(np.concatenate(ks))
    if len(hu) < _KMV_K:
        return int(len(hu))
    kth = float(hu[_KMV_K - 1]) / float(2**64)
    return int(round((_KMV_K - 1) / kth))

STATS_COLUMNS = [
    "pt", "column", "phys", "n", "ndv", "runs", "w_for", "w_delta",
    "total_bytes", "entropy", "fsst_sample_ratio", "alp_hit", "w_alp",
    "for_pbytes", "delta_pbytes",
]

_FSST_SAMPLE_BYTES = 1 << 17
# the actual-compression trial needs only a RATIO estimate, not a good
# table: a 32KB slice at full refinement stays within ~0.05 of the 128KB
# ratio (measured round 4) at 3-4x less CPU, and caps the trial at a
# CONSTANT cost per chunk no matter how big the per-pt sample grows
_FSST_TRIAL_BYTES = 1 << 15

# phys tags the sampling pass understands; ``list<T>`` columns participate
# too (round 5): their partials are computed over the FLATTENED child values
# — exactly the view choose_codec_local ranks on — so the global plan covers
# them and blocks stop re-running the per-block estimator for every chunk
_STATS_PHYS = (
    "int", "long", "timestamp", "timestamp_ntz", "boolean", "date",
    "string", "binary", "double", "float",
)


def _stats_phys_ok(phys: str) -> bool:
    from .blocks import is_list_phys, list_child_phys

    if is_list_phys(phys):
        return list_child_phys(phys) in _STATS_PHYS
    return phys in _STATS_PHYS

_INT_PHYS = ("int", "long", "timestamp", "timestamp_ntz", "boolean", "date")

# PARTIAL_DDL type names -> the Arrow types applyInArrow must return
_DDL_ARROW = {
    "string": pa.string(), "int": pa.int32(), "long": pa.int64(),
    "double": pa.float64(), "binary": pa.binary(),
}


def _col_partial(
    pt: str, salt: int, name: str, phys: str, arr: pa.Array, trial: bool,
) -> dict:
    """Partial stats of one column of one (pt, chunk), over the values
    ``blocks._to_kernel_arrow`` hands the encode kernels (float NaN is a
    value there, as it is to the kernels).  ``trial``: run the (expensive)
    FSST actual-compression trial in this chunk."""
    from .blocks import _to_kernel_arrow, is_list_phys, list_child_phys
    from .selector import int_stats, str_stats

    if is_list_phys(phys):
        # list<T>: partials over the flattened child values (the same view
        # the list kernel encodes and choose_codec_local ranks on); the row
        # keeps the declared list phys — build_plan strips it to pick the
        # child branch, and the plan codec names the child kernel
        flat = pc.list_flatten(arr.drop_null() if arr.null_count else arr)
        out = _col_partial(pt, salt, name, list_child_phys(phys), flat, trial)
        out["phys"] = phys
        return out
    out = {
        "pt": pt, "salt": salt, "column": name, "phys": phys, "n": len(arr),
        "ndv": 0, "runs": 0, "vmin": 0, "vmax": 0, "w_delta": 0,
        "total_bytes": 0, "hist": b"", "fsst_sample_ratio": 0.0,
        "alp_hit": 0.0, "w_alp": 0, "for_pbytes": 0.0, "delta_pbytes": 0.0,
        "kmv": b"",
    }
    vals, _ = _to_kernel_arrow(arr, phys)
    if len(vals) == 0:
        return out
    if phys in _INT_PHYS:
        out["ndv"] = int(pd.unique(vals).size)
        out["kmv"] = _kmv_sketch(vals)
        # patch-aware byte estimates are per-chunk payload byte sums (summed
        # in merge_partials) — the chunk-local rebase matches what the
        # per-block kernels actually see, so rare outliers
        # (conversation-boundary resets) cost exceptions, not global width
        out.update(int_stats(vals))
        out["total_bytes"] = 8 * len(vals)
    elif phys in ("string", "binary"):
        dictionary, runs, buf = str_stats(vals)
        # hash only the chunk's DISTINCT values (the dictionary) — same
        # sketch, ndv-not-n hashing cost
        out.update(
            ndv=len(dictionary), runs=runs, total_bytes=len(buf),
            kmv=_kmv_sketch(dictionary.to_pandas()),
        )
        sample = np.frombuffer(buf[:_FSST_SAMPLE_BYTES], dtype=np.uint8)
        out["hist"] = np.bincount(sample, minlength=256).astype(np.int64).tobytes()
        # the actual-compression FSST trial is the expensive stat — run it in
        # ONE chunk per pt; histograms/counts still come from every chunk,
        # and the merge weights the ratio by bytes so missing chunks simply
        # don't contribute
        if trial and len(sample) >= 1024:
            head = sample[:_FSST_TRIAL_BYTES]
            table = fsst_mod._Table(fsst_mod.build_table(head))
            stream = fsst_mod.compress(head, table)
            out["fsst_sample_ratio"] = float(len(stream) + 8 * len(table.symbols)) / len(head)
    else:  # double / float
        out["ndv"] = int(pd.unique(vals).size)
        out["total_bytes"] = (8 if phys == "double" else 4) * len(vals)
        if phys == "double":
            from .codecs.alp import _exact_mask, choose_exponent

            e, hit = choose_exponent(vals)
            _, enc = _exact_mask(vals[:: max(1, len(vals) // 4096)], e)
        else:
            from .codecs.alp import _exact_mask_f32, choose_exponent_f32

            e, hit = choose_exponent_f32(vals)
            _, enc = _exact_mask_f32(vals[:: max(1, len(vals) // 4096)], e)
        out["alp_hit"] = float(hit)
        out["kmv"] = _kmv_sketch(vals)
        if len(enc):
            out["w_alp"] = bit_width(int(enc.max()) - int(enc.min()))
    return out


def _stats_fields(df, pt_col: str) -> list[tuple[str, str]]:
    fields = [
        (f.name, spark_field_phys(f.dataType))
        for f in df.schema.fields
        if f.name != pt_col
    ]
    return [(n, p) for n, p in fields if _stats_phys_ok(p)]


def sample_stats(
    df,
    pt_col: str = "pt",
    sort_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    fraction: float = 0.05,
    seed: int = 7,
):
    """Mergeable per-(pt, salt, column) partial stats from a seeded sample.

    Salting is by the conversation key (``sort_cols[0]``), so every
    conversation's rows land in ONE chunk and the per-chunk sort preserves
    the runs/delta structure the encode groups will actually see; chunk
    boundaries only ever split *between* conversations.

    Chunking is GLOBAL: one salt space of ``defaultParallelism`` chunks
    shared by every pt, with each chunk splitting by pt inside the Arrow
    function (per-pt salting made n_pt x salts chunks, and the per-chunk
    UDF cost dominated the pass: 128 chunks cost 2.2 s where 32 cost 1.2 s
    at identical output).  The per-pt FSST trial spreads over chunks by a
    per-pt hash so no single task pays every pt's trial."""
    from pyspark.sql import functions as F

    from .encode import flatten_struct_columns

    df = flatten_struct_columns(df).sample(fraction=min(1.0, fraction), seed=seed)
    fields = _stats_fields(df, pt_col)
    n_chunks = max(2, df.sparkSession.sparkContext.defaultParallelism)
    sampled = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(sort_cols[0])), F.lit(n_chunks)).cast("int")
    )
    # pin the post-shuffle partition count (REPARTITION_BY_NUM): the sample
    # is a few MB, and AQE's byte-based coalescing would otherwise collapse
    # the python stage to ONE task — every chunk's numpy work serialized in
    # a single worker (measured round 6; same fix as encode/decode)
    sampled = sampled.repartition(n_chunks, "_salt")
    schema = pa.schema(
        [(f.split()[0], _DDL_ARROW[f.split()[1]]) for f in PARTIAL_DDL.split(", ")]
    )

    def per_chunk(key, tbl):
        import hashlib

        from .blocks import pin_worker_threads

        pin_worker_threads()
        salt = key[0].as_py()
        tbl = tbl.sort_by([(c, "ascending") for c in (pt_col, *sort_cols)])
        pts = pc.run_end_encode(tbl.column(pt_col).combine_chunks())
        rows, lo = [], 0
        for pt, hi in zip(pts.values.to_pylist(), pts.run_ends.to_pylist()):
            sub, lo = tbl.slice(lo, hi - lo), hi
            if pt is None:  # rows without a pt get no plan key
                continue
            # exactly one chunk per pt runs the FSST trial (deterministic
            # per-pt hash — the trial chunk is stable across runs)
            trial = (
                int(hashlib.md5(str(pt).encode()).hexdigest()[:8], 16) % n_chunks
                == salt
            )
            rows.extend(
                _col_partial(str(pt), salt, name, phys, sub.column(name).combine_chunks(), trial)
                for name, phys in fields
            )
        return pa.Table.from_pylist(rows, schema=schema)

    return sampled.groupBy("_salt").applyInArrow(per_chunk, PARTIAL_DDL)


def _entropy_from_hist(counts: np.ndarray) -> float:
    total = counts.sum()
    if total == 0:
        return 0.0
    p = counts[counts > 0] / total
    return float(-(p * np.log2(p)).sum())


def merge_partials(partial: pd.DataFrame) -> pd.DataFrame:
    """Driver-side merge of :func:`sample_stats` partials into the
    per-(pt, column) stats frame ``selector.build_plan`` consumes."""
    from .blocks import is_list_phys, list_child_phys

    rows = []
    for (pt, col), g in partial.groupby(["pt", "column"], sort=True):
        phys = g["phys"].iloc[0]
        n = int(g["n"].sum())
        hists = [np.frombuffer(h, dtype=np.int64) for h in g["hist"] if len(h)]
        hist = np.sum(hists, axis=0) if hists else np.zeros(256, dtype=np.int64)
        has_trial = g["fsst_sample_ratio"].to_numpy() > 0
        tb = g["total_bytes"].to_numpy(dtype=np.float64) * has_trial
        w_fsst = float((g["fsst_sample_ratio"].to_numpy() * tb).sum() / tb.sum()) if tb.sum() else 0.0
        nn = g["n"].to_numpy(dtype=np.float64)
        w_alp_hit = float((g["alp_hit"].to_numpy() * nn).sum() / nn.sum()) if nn.sum() else 0.0
        base_phys = list_child_phys(phys) if is_list_phys(phys) else phys
        nonzero = g[g["n"] > 0]
        w_for = 0
        if base_phys in _INT_PHYS and len(nonzero):
            w_for = bit_width(int(nonzero["vmax"].max()) - int(nonzero["vmin"].min()))
        rows.append(
            {
                "pt": pt,
                "column": col,
                "phys": phys,
                "n": n,
                "ndv": _kmv_estimate(g["kmv"]) or int(g["ndv"].max()),
                "runs": int(g["runs"].sum()),
                "w_for": w_for,
                "w_delta": int(g["w_delta"].max()),
                "total_bytes": int(g["total_bytes"].sum()),
                "entropy": _entropy_from_hist(hist),
                "fsst_sample_ratio": w_fsst,
                "alp_hit": w_alp_hit,
                "w_alp": int(g["w_alp"].max()),
                "for_pbytes": float(g["for_pbytes"].sum()),
                "delta_pbytes": float(g["delta_pbytes"].sum()),
            }
        )
    return pd.DataFrame(rows, columns=STATS_COLUMNS)


def merged_stats(
    df,
    pt_col: str = "pt",
    sort_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    fraction: float = 0.05,
    seed: int = 7,
) -> pd.DataFrame:
    """Partial pass -> driver-side merge -> the per-(pt, column) stats frame
    ``selector.build_plan`` consumes.

    ONE pass over the sample (one Spark job; AQE runs its shuffle map stage
    as a second): every stat merges, including NDV — each chunk carries a
    KMV distinct sketch (k smallest value hashes), sketches union in the
    driver-side merge, and the estimate is (K-1)/kth_min."""
    return merge_partials(
        sample_stats(
            df, pt_col=pt_col, sort_cols=sort_cols, fraction=fraction, seed=seed
        ).toPandas()
    )


def plan_from_stats(df, **kwargs) -> dict[str, str]:
    """Convenience: mergeable stats pass -> selector plan."""
    from .selector import build_plan

    return build_plan(merged_stats(df, **kwargs))
