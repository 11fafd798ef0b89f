"""Selector tests: stats -> expected codec choice per column shape."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from bids2table_spark.selector import choose_codec_local, estimate_int_sizes, estimate_str_sizes
from bids2table_spark.stats import plan_from_stats
from bids2table_spark.synth import synth_transcripts


def test_local_choices():
    # long sorted runs of few values -> rle
    role_runs = pd.Series(["user"] * 400 + ["assistant"] * 400 + ["tool"] * 200)
    assert choose_codec_local(role_runs, "string") == "rle"
    # low NDV, alternating (no runs) -> dict
    alt = pd.Series(["user", "assistant"] * 500)
    assert choose_codec_local(alt, "string") == "dict"
    # distinct long text -> fsst
    text = pd.Series([f"the quick brown fox {i} jumps over the lazy dog" for i in range(800)])
    assert choose_codec_local(text, "string") == "fsst"
    # second-granular monotone timestamps -> delta
    ts = pd.Series(pd.to_datetime(1_700_000_000 + np.cumsum(np.random.default_rng(0).integers(1, 300, 1000)), unit="s"))
    assert choose_codec_local(ts, "timestamp") == "delta"
    # small-range ints -> forbp or rle beats plain
    small = pd.Series(np.arange(1000) % 128)
    assert choose_codec_local(small, "int") in ("forbp", "delta", "rle")


def test_size_estimates_rank_sanely():
    vals = np.repeat(np.arange(10), 100).astype(np.int64)  # long runs
    est = estimate_int_sizes(vals)
    assert est["rle"] < est["plain"] and est["forbp"] < est["plain"]
    s = estimate_str_sizes(pd.Series(["abc"] * 500 + ["defg"] * 500))
    assert s["dict"] < s["plain"] and s["rle"] < s["dict"]


def test_plan_from_stats_spark(spark):
    df = synth_transcripts(spark, n_conv=200, seed=42, n_pt=2).cache()
    plan = plan_from_stats(df, fraction=0.5)
    # keys are pt/column
    cols = {k.split("/", 1)[1] for k in plan}
    assert cols == {"conv_id", "turn_idx", "role", "text", "tool", "ts"}
    by_col = {}
    for k, v in plan.items():
        by_col.setdefault(k.split("/", 1)[1], set()).add(v)
    # conv_id sorts into long runs -> rle everywhere
    assert by_col["conv_id"] == {"rle"}
    # ts is near-monotone within conv -> delta
    assert by_col["ts"] == {"delta"}
    # role is low-NDV -> dict or rle
    assert by_col["role"] <= {"dict", "rle"}
    # text is high-entropy-ish templated NL -> fsst (or dict if very repetitive)
    assert by_col["text"] <= {"fsst", "dict"}


def test_stats_pass_is_salted_and_mergeable(spark):
    """Scale guard: the sampling pass must fan out over (pt, salt) chunks —
    round-1 ran one task per pt — and the merged frame must agree with a
    direct single-chunk computation on the stats that merge exactly."""
    import pyarrow.compute as pc

    from bids2table_spark.stats import _col_partial, _stats_fields, merge_partials, merged_stats, sample_stats

    df = synth_transcripts(spark, n_conv=300, seed=9, n_pt=2).cache()
    partial = sample_stats(df, fraction=1.0).toPandas()
    # fan-out: several salt chunks per pt actually materialized
    assert partial.groupby("pt")["salt"].nunique().min() >= 2
    merged = merged_stats(df, fraction=1.0)
    # reference: each whole pt as ONE chunk, sorted like the pass sorts
    tbl = df.toArrow().sort_by(
        [("pt", "ascending"), ("conv_id", "ascending"), ("turn_idx", "ascending")]
    )
    rows = []
    for pt in pc.unique(tbl.column("pt")).to_pylist():
        sub = tbl.filter(pc.equal(tbl.column("pt"), pt))
        rows += [
            _col_partial(pt, 0, name, phys, sub.column(name).combine_chunks(), trial=True)
            for name, phys in _stats_fields(df, "pt")
        ]
    one = merge_partials(pd.DataFrame(rows))
    m = merged.set_index(["pt", "column"]).sort_index()
    o = one.set_index(["pt", "column"]).sort_index()
    # exact merges: counts, byte totals, FOR frame width
    pd.testing.assert_series_equal(m["n"], o["n"])
    pd.testing.assert_series_equal(m["total_bytes"], o["total_bytes"])
    pd.testing.assert_series_equal(m["w_for"], o["w_for"])
    # runs merge up to ~a couple of boundaries per chunk (null-dropping can
    # split/join a run at each chunk edge)
    assert ((m["runs"] - o["runs"]).abs() <= 8).all()
    # entropy from summed histograms stays close to the single-chunk value
    assert (m["entropy"] - o["entropy"]).abs().max() < 0.2
    # and the resulting PLAN is the one that matters: identical
    from bids2table_spark.selector import build_plan

    assert build_plan(merged) == build_plan(one)
    df.unpersist()


def test_partial_keys_match_ddl():
    """Regression guard for round 3's ship-stopper: every field declared in
    PARTIAL_DDL must be emitted by _col_partial for EVERY phys branch
    (including the empty-series early return), and the merged row shape must
    cover STATS_COLUMNS.  Pure pandas — runs in milliseconds, no Spark."""
    from bids2table_spark.stats import _STATS_PHYS, PARTIAL_DDL, STATS_COLUMNS, _col_partial

    ddl_fields = {f.strip().split(" ")[0] for f in PARTIAL_DDL.split(",")}
    samples = {
        "int": pa.array([1, 2, 3], pa.int32()),
        "long": pa.array([10, 20, 20], pa.int64()),
        "timestamp": pa.array(pd.to_datetime([1e9, 2e9], unit="s")),
        "timestamp_ntz": pa.array(pd.to_datetime([1e9, 2e9], unit="s")),
        "boolean": pa.array([True, False, True]),
        "date": pa.array(pd.to_datetime(["2024-01-01", "2024-01-02"]).date),
        "string": pa.array(["aaa", "bbb", "aaa"]),
        "binary": pa.array([b"xy", b"zw"]),
        "double": pa.array([1.5, 2.5], pa.float64()),
        "float": pa.array([1.5, 2.5], pa.float32()),
    }
    assert set(samples) == set(_STATS_PHYS)
    for phys, arr in samples.items():
        out = _col_partial("p", 0, "c", phys, arr, trial=True)
        assert set(out) == ddl_fields, f"phys={phys}: keys != PARTIAL_DDL"
        empty = _col_partial("p", 0, "c", phys, arr.slice(0, 0), trial=True)
        assert set(empty) == ddl_fields, f"phys={phys}: empty-series keys != PARTIAL_DDL"
    # STATS_COLUMNS must be derivable: shared names + the merge-only extras
    assert set(STATS_COLUMNS) - {"entropy", "w_for"} <= ddl_fields


def test_tiers_agree_on_same_stats():
    """Round-4 verdict item: build_plan's int branch omitted dict, so a
    low-NDV int column got different codecs from the two tiers.  Both tiers
    now share one cost model — identical stats => identical choice, and the
    low-NDV int fixture must pick dict in BOTH."""
    from bids2table_spark.selector import build_plan
    from bids2table_spark.stats import _col_partial, merge_partials

    rng = np.random.default_rng(5)
    fixtures = {
        # 4 distinct wide values in random order: dict is the only small codec
        "low_ndv_int": (pd.Series(rng.integers(0, 4, 4000) * 1_000_003_111), "long"),
        "seq_int": (pd.Series(np.arange(4000, dtype=np.int64)), "long"),
        "sorted_runs_int": (pd.Series(np.repeat(np.arange(16), 250)), "long"),
        "low_ndv_str": (pd.Series(["user", "assistant"] * 2000), "string"),
    }
    for name, (series, phys) in fixtures.items():
        local = choose_codec_local(series, phys)
        p = _col_partial("p", 0, name, phys, pa.array(series), trial=True)
        plan = build_plan(merge_partials(pd.DataFrame([p])))
        assert plan[f"p/{name}"] == local, f"{name}: tiers disagree"
    assert choose_codec_local(fixtures["low_ndv_int"][0], "long") == "dict"


def test_list_columns_in_stats_pass(spark):
    """list<T> columns get global-plan coverage (round-4 gap #5): the stats
    frame carries a row per list column (child-value stats), build_plan
    emits a child-codec entry for it, and encode honors the plan."""
    from pyspark.sql import functions as F

    from bids2table_spark.encode import encode_table
    from bids2table_spark.stats import merged_stats
    from bids2table_spark.selector import build_plan

    df = (
        synth_transcripts(spark, n_conv=100, seed=11, n_pt=2)
        .withColumn(
            "marks",
            F.sequence(F.lit(0), F.pmod(F.xxhash64("conv_id"), F.lit(6)).cast("int")),
        )
        .cache()
    )
    stats = merged_stats(df, fraction=1.0)
    lst = stats[stats["column"] == "marks"]
    assert len(lst) == 2 and set(lst["phys"]) == {"list<int>"}
    assert (lst["n"] > 0).all() and (lst["total_bytes"] > 0).all()
    plan = build_plan(stats)
    picked = {plan[k] for k in plan if k.endswith("/marks")}
    # sequences 0..m: tiny child values — any int-family codec beats plain
    assert picked and "plain" not in picked
    blocks = encode_table(df, plan=plan, target_group_rows=4096).cache()
    got = {
        r["codec"]
        for r in blocks.filter(F.col("column") == "marks").select("codec").distinct().collect()
    }
    assert got == picked  # the plan, not the per-block fallback, decided
    blocks.unpersist()
    df.unpersist()


def _typed_stats_df(spark):
    """NULLs in every physical type the stats pass reads, plus a double
    column holding NaN next to its NULLs."""
    from pyspark.sql import functions as F

    h = F.xxhash64("conv_id", "turn_idx")

    def null(k):
        return F.pmod(h, F.lit(k)) == 0

    return synth_transcripts(spark, n_conv=60, seed=4, n_pt=2).select(
        "pt", "conv_id", "turn_idx",
        F.when(~null(7), F.pmod(h, F.lit(1000)).cast("int")).alias("i32"),
        F.when(~null(5), F.pmod(h, F.lit(100000))).alias("i64"),
        F.when(~null(6), F.col("turn_idx") % 3 == 0).alias("flag"),
        F.when(~null(4), F.to_date("ts")).alias("day"),
        F.when(~null(8), F.col("ts")).alias("ts2"),
        F.when(~null(3), F.col("role")).alias("s"),
        F.when(~null(9), F.encode("text", "utf-8")).alias("bin"),
        F.when(~null(5), F.pmod(h, F.lit(10000)) / 100.0).alias("dbl"),
        F.when(~null(6), (F.pmod(h, F.lit(1000)) / 8.0).cast("float")).alias("flt"),
        F.when(~null(7), F.sequence(F.lit(0), F.pmod(h, F.lit(5)).cast("int"))).alias("lst"),
        F.when(null(5), F.lit(None))
        .when(null(3), F.lit(float("nan")))
        .otherwise(F.pmod(h, F.lit(100)) / 4.0)
        .alias("nan_dbl"),
    )


def test_stats_pass_typed_columns(spark):
    """The Spark stats pass over NULL-bearing columns of every physical
    type: one row per (pt, column) with the full row count, a plan entry
    for every column that encode honours bit-identically, and float NaN
    counted as a value (the encode kernel's view), not dropped like NULL."""
    import pyarrow.compute as pc

    from bids2table_spark.decode import decode_table
    from bids2table_spark.encode import encode_table
    from bids2table_spark.selector import build_plan
    from bids2table_spark.stats import merged_stats

    df = _typed_stats_df(spark).cache()
    key = [("conv_id", "ascending"), ("turn_idx", "ascending")]
    src = df.toArrow().sort_by(key)
    cols = [c for c in df.columns if c != "pt"]
    stats = merged_stats(df, fraction=1.0)
    rows_per_pt = src.group_by("pt").aggregate([("pt", "count")]).to_pydict()
    rows_per_pt = dict(zip(rows_per_pt["pt"], rows_per_pt["pt_count"]))
    assert len(stats) == len(rows_per_pt) * len(cols)
    assert not stats.duplicated(["pt", "column"]).any()
    plain = stats[stats["column"] != "lst"]  # list n counts child values
    assert (plain["n"] == plain["pt"].map(rows_per_pt)).all()
    plan = build_plan(stats)
    assert set(plan) == {f"{pt}/{c}" for pt in rows_per_pt for c in cols}

    blocks = encode_table(df, plan=plan, target_group_rows=4096).cache()
    assert {r["codec"] for r in blocks.select("codec").distinct().collect()} <= set(plan.values())
    dec = decode_table(blocks).toArrow().sort_by(key)

    def bits(tbl):  # float.hex keeps NaN, -0.0 and NULL apart
        return [
            [v.hex() if isinstance(v, float) else v for v in tbl.column(c).to_pylist()]
            for c in cols
        ]

    assert bits(dec) == bits(src)
    blocks.unpersist()

    for pt, g in stats[stats["column"] == "nan_dbl"].groupby("pt"):
        vals = src.filter(pc.equal(src.column("pt"), pt)).column("nan_dbl").drop_null()
        v = vals.to_numpy()
        assert np.isnan(v).any()
        assert int(g["total_bytes"].iloc[0]) == 8 * len(v)
        assert int(g["ndv"].iloc[0]) == len(pd.unique(v))  # < KMV k: exact
    df.unpersist()


def test_patched_costs_flow_into_plan():
    """An int column with rare huge outliers: patched FOR/delta byte sums
    must make the global plan prefer forbp/delta over plain, matching the
    local selector on the same values."""
    from bids2table_spark.selector import build_plan
    from bids2table_spark.stats import STATS_COLUMNS, _col_partial

    rng = np.random.default_rng(3)
    vals = rng.integers(0, 100, 5000)
    vals[::512] = 2**60  # outliers: global width 61 bits, patched ~7 bits
    p = _col_partial("pt0", 0, "x", "long", pa.array(vals), trial=True)
    assert p["for_pbytes"] > 0 and p["delta_pbytes"] > 0
    # patched estimate is far below the global-width estimate
    assert p["for_pbytes"] < 61 * len(vals) / 8 / 4
    row = {c: p.get(c, 0) for c in STATS_COLUMNS}
    row.update(pt="pt0", column="x", entropy=0.0,
               w_for=61, ndv=101, n=len(vals))
    plan = build_plan(pd.DataFrame([row], columns=STATS_COLUMNS))
    assert plan["pt0/x"] in ("forbp", "delta")
    local = choose_codec_local(pd.Series(vals), "long")
    assert local in ("forbp", "delta")
