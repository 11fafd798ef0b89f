"""Driver-side kernel replay for the codecs, blocks and selector layers.

Reads committed block rows straight from the table's parquet files and, on
one core with no Spark, times ``decode_block`` with and without checksum
verification, ``encode_block_arrow`` (whose payload must come back
byte-identical), and every candidate codec's ``encode``/``decode`` for the
block's dtype.  The candidates' realised sizes give the selector's regret:
chosen size / best candidate size - 1.
"""

from __future__ import annotations

import glob
import os
import random
import time

import numpy as np
import pyarrow.parquet as pq

from harness import median

from bids2table_spark import blocks
from bids2table_spark.codecs import codecs_for_dtype, fsst, get_codec
from bids2table_spark.codecs.base import strings_to_buf
from bids2table_spark.encode import ERROR_CODEC

# codecs a transcript table can use (alp is float-only; the table has no floats)
CODECS = ("plain", "dict", "rle", "forbp", "delta", "fsst")
BLOCKS_PER_COLUMN = 3


def metric_names() -> list[str]:
    names = []
    for c in CODECS:
        names += [f"codecs.{c}.encode_mb_s", f"codecs.{c}.decode_mb_s"]
    return names + [
        "codecs.fsst.build_table_ms", "blocks.encode_block_mb_s", "blocks.decode_block_mb_s",
        "blocks.verify_share", "selector.regret_p50", "selector.regret_max",
    ]


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def sample_blocks(blocks_dir: str, seed: int) -> list[dict]:
    """Up to BLOCKS_PER_COLUMN data blocks per column, chosen by ``seed``."""
    rows = []
    for path in sorted(glob.glob(os.path.join(blocks_dir, "**", "*.parquet"), recursive=True)):
        rows += pq.read_table(path).to_pylist()
    by_col: dict[str, list[dict]] = {}
    for r in rows:
        if r["codec"] != ERROR_CODEC:
            by_col.setdefault(r["column"], []).append(r)
    rng = random.Random(seed)
    picked = []
    for col in sorted(by_col):
        cands = sorted(by_col[col], key=lambda r: (r["pt"], r["grp"], r["block_id"]))
        picked += rng.sample(cands, min(BLOCKS_PER_COLUMN, len(cands)))
    return picked


def replay(blocks_dir: str, seed: int, check) -> dict[str, float]:
    """Replay the sampled blocks; ``check(name, ok, detail)`` records each
    byte-identity and round-trip check.  Returns the layer metrics."""
    enc_t = {c: 0.0 for c in CODECS}
    dec_t = {c: 0.0 for c in CODECS}
    mb = {c: 0.0 for c in CODECS}
    build_ms, regrets = [], []
    blk_enc_t = blk_dec_t = blk_nov_t = blk_mb = 0.0
    for row in sample_blocks(blocks_dir, seed):
        where = f"{row['pt']}/{row['grp']}/{row['block_id']}/{row['column']}"
        arr, t_v = _timed(lambda: blocks.decode_block(row, verify=True))
        _, t_nv = _timed(lambda: blocks.decode_block(row, verify=False))
        again, t_e = _timed(lambda: blocks.encode_block_arrow(
            row["pt"], row["grp"], row["block_id"], row["column"], arr, row["phys"], row["codec"]))
        check("re-encoded block is byte-identical",
              again["payload"] == row["payload"] and again["checksum"] == row["checksum"], where)
        phys = row["phys"]
        logical = blocks.PHYS_TO_LOGICAL[phys]
        valid, mask = blocks._to_kernel_arrow(arr, phys)
        nbytes = blocks._orig_bytes(valid, phys, len(arr)) / 1e6
        blk_mb += nbytes
        blk_enc_t += t_e
        blk_dec_t += t_v
        blk_nov_t += t_nv
        sizes = {}
        for name in codecs_for_dtype(logical):
            if name not in enc_t:
                continue
            codec = get_codec(name)
            (meta, payload), te = _timed(lambda: codec.encode(valid, logical))
            back, td = _timed(lambda: codec.decode(meta, payload, len(valid), logical))
            check(f"{name} round trip", blocks._canonical_bytes(back, mask, phys) == row["checksum"], where)
            enc_t[name] += te
            dec_t[name] += td
            mb[name] += nbytes
            sizes[name] = len(payload)
        if row["codec"] in sizes:
            regrets.append(sizes[row["codec"]] / max(min(sizes.values()), 1) - 1.0)
        if logical == "str":
            _, raw = strings_to_buf(valid)
            _, tb = _timed(lambda: fsst.build_table(np.frombuffer(raw, dtype=np.uint8)))
            build_ms.append(tb * 1e3)
    out = {}
    for c in CODECS:
        out[f"codecs.{c}.encode_mb_s"] = mb[c] / enc_t[c] if enc_t[c] else 0.0
        out[f"codecs.{c}.decode_mb_s"] = mb[c] / dec_t[c] if dec_t[c] else 0.0
    out["codecs.fsst.build_table_ms"] = median(build_ms)
    out["blocks.encode_block_mb_s"] = blk_mb / blk_enc_t if blk_enc_t else 0.0
    out["blocks.decode_block_mb_s"] = blk_mb / blk_dec_t if blk_dec_t else 0.0
    out["blocks.verify_share"] = 1.0 - blk_nov_t / blk_dec_t if blk_dec_t else 0.0
    out["selector.regret_p50"] = median(regrets)
    out["selector.regret_max"] = max(regrets) if regrets else 0.0
    return out
