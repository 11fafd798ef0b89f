"""Resume/idempotency tests — mirrors the reference's 'second run processes
nothing' assertion (``tests/test_engine.py:43-48``) plus the interrupted-run
case the north rule requires."""

from __future__ import annotations

import glob
import os
import uuid

import pandas as pd
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from bids2table_spark.manifest import (
    MANIFEST_DDL, decode_job, encode_job, load_salt_plan, read_manifest,
)
from bids2table_spark.synth import synth_transcripts

KEY = ["conv_id", "turn_idx"]


@pytest.fixture(scope="module")
def transcripts(spark):
    return synth_transcripts(spark, n_conv=240, seed=42, n_pt=4).cache()


def _sorted(df) -> pd.DataFrame:
    pdf = df.toPandas()
    return pdf[sorted(pdf.columns)].sort_values(KEY, ignore_index=True)


def test_interrupt_resume_identical(spark, transcripts, tmp_path):
    out = str(tmp_path / "enc")
    r1 = encode_job(
        spark, transcripts, out, run_id="run1",
        block_rows=1024, target_group_rows=1024, max_groups=3,
    )
    assert r1["groups_encoded"] == 3
    # resume: finishes the rest, skips the committed 3
    r2 = encode_job(
        spark, transcripts, out, run_id="run2",
        block_rows=1024, target_group_rows=1024,
    )
    assert r2["groups_skipped"] == 3
    assert r2["groups_encoded"] == r1["groups_total"] - 3
    pd.testing.assert_frame_equal(_sorted(transcripts), _sorted(decode_job(spark, out)))
    # idempotent third run: nothing pending
    r3 = encode_job(spark, transcripts, out, run_id="run3",
                    block_rows=1024, target_group_rows=1024)
    assert r3["groups_encoded"] == 0
    assert r3["groups_skipped"] == r1["groups_total"]


def test_manifest_metrics(spark, transcripts, tmp_path):
    out = str(tmp_path / "enc2")
    summary = encode_job(spark, transcripts, out, run_id="r", target_group_rows=4096)
    m = read_manifest(spark, out).toPandas()
    assert (m["status"] == "committed").all()
    assert m["n_rows"].sum() == transcripts.count() == summary["n_rows"]
    assert summary["enc_bytes"] < summary["orig_bytes"]
    assert m["codecs"].str.contains("conv_id").all()


def test_manifest_reads_only_own_run(spark, transcripts, tmp_path):
    """Scale guard: an incremental run's manifest derivation must read only
    its own run_id directory, never the accumulated block history."""
    out = str(tmp_path / "enc3")
    encode_job(spark, transcripts, out, run_id="runA", target_group_rows=4096,
               max_groups=2)
    encode_job(spark, transcripts, out, run_id="runB", target_group_rows=4096)
    import os

    bdir = str(tmp_path / "enc3" / "blocks")
    assert sorted(os.listdir(bdir)) >= ["run_id=runA", "run_id=runB"]
    m = read_manifest(spark, out).toPandas()
    # runB's manifest rows cover only the groups runB encoded (not runA's 2)
    assert set(m[m.run_id == "runB"][["pt", "grp"]].itertuples(index=False)).isdisjoint(
        set(m[m.run_id == "runA"][["pt", "grp"]].itertuples(index=False))
    )
    pd.testing.assert_frame_equal(_sorted(transcripts), _sorted(decode_job(spark, out)))


def test_failed_group_isolated_and_retried(spark, transcripts, tmp_path):
    """A poisoned group becomes status='failed' (job completes, reference
    crawler.py:92 behavior); the next run re-attempts exactly those groups."""
    out = str(tmp_path / "enc4")
    bad_plan = {"pt-0001/text": "no_such_codec"}  # poison one pt
    r1 = encode_job(spark, transcripts, out, run_id="bad", plan=bad_plan,
                    target_group_rows=4096)
    assert r1["groups_failed"] > 0
    assert r1["groups_encoded"] + r1["groups_failed"] == r1["groups_total"]
    m = read_manifest(spark, out).toPandas()
    failed = m[m.status == "failed"]
    assert (failed["pt"] == "pt-0001").all() and len(failed) == r1["groups_failed"]
    assert failed["error"].str.contains("no_such_codec").all()
    # retry with a sane plan: only the failed groups are re-encoded
    r2 = encode_job(spark, transcripts, out, run_id="fix", target_group_rows=4096)
    assert r2["groups_encoded"] == r1["groups_failed"]
    assert r2["groups_failed"] == 0
    assert r2["groups_skipped"] == r1["groups_encoded"]
    pd.testing.assert_frame_equal(_sorted(transcripts), _sorted(decode_job(spark, out)))


def test_decode_projection_pushdown(spark, transcripts, tmp_path):
    """Column/pt selection must reach the blocks parquet scan as pushed
    filters (payloads of unrequested columns are never read), and the
    decoded frame must carry only the requested columns."""
    from bids2table_spark.manifest import committed_blocks
    from bids2table_spark.plans import scan_pushdown
    from pyspark.sql import functions as F

    out = str(tmp_path / "proj")
    encode_job(spark, transcripts, out, run_id="p", target_group_rows=4096)
    dec = decode_job(spark, out, columns=["conv_id", "turn_idx", "role"])
    assert set(dec.columns) == {"pt", "conv_id", "turn_idx", "role"}
    blocks = committed_blocks(spark, out).filter(
        F.col("column").isin(["conv_id", "turn_idx", "role"])
    )
    info = scan_pushdown(blocks)
    assert any("column" in f for f in (info["pushed_filters"] or [])), info
    # values must match a full decode's projection
    full = decode_job(spark, out).select("pt", "conv_id", "turn_idx", "role")
    assert dec.exceptAll(full).count() == 0 and full.exceptAll(dec).count() == 0


def test_zone_map_pruned_range_decode(spark, transcripts, tmp_path):
    """key_range decode must (a) read strictly fewer blocks than a full
    decode, (b) still contain every row of the requested key range."""
    from bids2table_spark.manifest import committed_blocks
    from pyspark.sql import functions as F

    out = str(tmp_path / "zone")
    encode_job(spark, transcripts, out, run_id="z", block_rows=512,
               target_group_rows=2048)
    lo, hi = "conv-000000000020", "conv-000000000039"
    all_blocks = committed_blocks(spark, out)
    pruned = all_blocks.filter((F.col("zmax") >= lo) & (F.col("zmin") <= hi))
    assert 0 < pruned.count() < all_blocks.count(), "zone map must prune"
    dec = decode_job(spark, out, key_range=(lo, hi)).filter(
        F.col("conv_id").between(lo, hi)
    )
    want = transcripts.filter(F.col("conv_id").between(lo, hi))
    assert dec.count() == want.count() > 0
    cols = [c for c in want.columns]
    assert dec.select(cols).exceptAll(want.select(cols)).count() == 0


def test_resume_uses_persisted_salt_plan(spark, transcripts, tmp_path):
    """Group identity must survive a resume under different sizing knobs:
    the stored salt plan wins over a recomputation (ADVICE: a different
    defaultParallelism would otherwise remap conversations)."""
    from bids2table_spark.manifest import load_salt_plan

    out = str(tmp_path / "enc5")
    r1 = encode_job(spark, transcripts, out, run_id="a", target_group_rows=1024,
                    max_groups=3)
    plan_stored = load_salt_plan(spark, out)
    assert plan_stored and sum(plan_stored.values()) == r1["groups_total"]
    # resume with a very different group-size target: labels must not move
    r2 = encode_job(spark, transcripts, out, run_id="b", target_group_rows=32768)
    assert r2["groups_total"] == r1["groups_total"]
    assert r2["groups_skipped"] == 3
    pd.testing.assert_frame_equal(_sorted(transcripts), _sorted(decode_job(spark, out)))


def test_resume_detects_grown_input(spark, transcripts, tmp_path):
    """Rows added after the first run hash into committed groups; the
    anti-join would skip them wholesale.  The growth guard must raise
    instead of silently dropping the new rows (ADVICE round 2)."""
    from bids2table_spark.synth import synth_transcripts

    out = str(tmp_path / "grown")
    encode_job(spark, transcripts, out, run_id="first", target_group_rows=4096)
    grown = synth_transcripts(spark, n_conv=300, seed=42, n_pt=4)  # superset
    with pytest.raises(RuntimeError, match="drifted"):
        encode_job(spark, grown, out, run_id="second", target_group_rows=4096)
    # the escape hatch stays available, and skips everything (documented loss)
    r = encode_job(spark, grown, out, run_id="third", target_group_rows=4096,
                   verify_growth=False)
    assert r["groups_encoded"] == 0


def test_numeric_zone_key_range(spark, transcripts, tmp_path):
    """Zone-map pruning over a NUMERIC primary key must use the key's native
    order: plain str() ranges would prune '9' <= '11' as false and silently
    drop matching blocks (ADVICE round 2)."""
    from pyspark.sql import functions as F

    num = transcripts.withColumn(
        "conv_id", F.substring("conv_id", 6, 12).cast("long")
    )
    out = str(tmp_path / "numzone")
    encode_job(spark, num, out, run_id="n", block_rows=256, target_group_rows=1024)
    dec = decode_job(spark, out, key_range=(9, 11)).filter(
        F.col("conv_id").between(9, 11)
    )
    want = num.filter(F.col("conv_id").between(9, 11))
    assert dec.count() == want.count() > 0
    cols = want.columns
    assert dec.select(cols).exceptAll(want.select(cols)).count() == 0


def test_committed_blocks_prunes_superseded_runs(spark, transcripts, tmp_path):
    """A re-encode (resume=False) supersedes the first run's blocks; the
    committed reader must prune the dead run_id= partition AT PLANNING TIME
    (literal isin -> PartitionFilters), not merely drop its rows post-join."""
    from bids2table_spark.manifest import committed_blocks
    from bids2table_spark.plans import plan_str

    out = str(tmp_path / "superseded")
    encode_job(spark, transcripts, out, run_id="old", target_group_rows=4096)
    encode_job(spark, transcripts, out, run_id="new", target_group_rows=4096,
               resume=False)
    blocks = committed_blocks(spark, out)
    assert blocks.filter("run_id = 'old'").count() == 0
    txt = plan_str(blocks)
    part_lines = [l for l in txt.splitlines() if "PartitionFilters" in l]
    assert part_lines and any("run_id" in l and "new" in l for l in part_lines), txt
    assert not any("old" in l for l in part_lines), part_lines
    pd.testing.assert_frame_equal(_sorted(transcripts), _sorted(decode_job(spark, out)))


def test_column_metadata_roundtrip(spark, transcripts, tmp_path):
    """Per-column StructField metadata survives encode -> decode (reference
    carries per-column string metadata through concat/prefix,
    bids2table/schema.py:277-284; Spark ops like withColumnRenamed already
    preserve it natively — the gap was the codec layer)."""
    out = str(tmp_path / "meta")
    tagged = (
        transcripts
        .withMetadata("text", {"lang": "en", "source": "synth"})
        .withMetadata("ts", {"unit": "ns", "tz": "UTC"})
    )
    # metadata also survives the rename/prefix op on the Spark side
    assert tagged.withColumnRenamed("text", "body").schema["body"].metadata == {
        "lang": "en", "source": "synth"
    }
    encode_job(spark, tagged, out, run_id="m1", target_group_rows=4096)
    dec = decode_job(spark, out)
    assert dec.schema["text"].metadata == {"lang": "en", "source": "synth"}
    assert dec.schema["ts"].metadata == {"unit": "ns", "tz": "UTC"}
    # untagged columns stay metadata-free
    assert dec.schema["role"].metadata == {}
    pd.testing.assert_frame_equal(_sorted(transcripts), _sorted(dec))


def test_empty_salt_bucket_converges(spark, tmp_path):
    """A salt bucket that receives zero conversations (hash imbalance) must
    still get a committed manifest row, or resume re-encodes forever."""
    import pyspark.sql.functions as F

    # one conversation, forced n_salts=2: one bucket is empty by pigeonhole
    pdf = pd.DataFrame([
        ("p0", "conv-solo", t, "user", f"m{t}", None,
         pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=t)) for t in range(600)],
        columns=["pt", "conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df = spark.createDataFrame(
        pdf, "pt string, conv_id string, turn_idx int, role string, "
             "text string, tool string, ts timestamp_ntz")
    out = str(tmp_path / "empty_bucket")
    s1 = encode_job(spark, df, out, run_id="r1", target_group_rows=300)
    assert s1["groups_total"] == 2
    assert s1["groups_encoded"] == 2  # incl. the empty bucket, committed
    # second run must be a pure no-op (0 pending -> early exit)
    s2 = encode_job(spark, df, out, run_id="r2")
    assert s2["groups_encoded"] == 0 and s2["groups_skipped"] == 2
    dec = decode_job(spark, out)
    assert dec.count() == 600


def test_pt_col_normalization_roundtrip(spark, tmp_path):
    """encode_job(pt_col='partition') must work end-to-end and decode back
    with the caller's column name (round-4 fix: it crashed after writing
    blocks because the container schema hardcodes 'pt')."""
    pdf = pd.DataFrame([
        ("a", f"c{i//50:02d}", i % 50, "user", f"t{i}", None,
         pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=i)) for i in range(400)],
        columns=["partition", "conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df = spark.createDataFrame(
        pdf, "partition string, conv_id string, turn_idx int, role string, "
             "text string, tool string, ts timestamp_ntz")
    out = str(tmp_path / "ptcol")
    s = encode_job(spark, df, out, run_id="p1", pt_col="partition",
                   target_group_rows=200)
    assert s["groups_failed"] == 0 and s["n_rows"] == 400
    dec = decode_job(spark, out)
    assert "partition" in dec.columns and "pt" not in dec.columns
    assert dec.count() == 400


def test_reserved_grp_column_rejected(spark, tmp_path):
    df = spark.createDataFrame(
        [("p0", "c0", 0, "x")], "pt string, conv_id string, turn_idx int, grp string")
    with pytest.raises(ValueError, match="grp"):
        encode_job(spark, df, str(tmp_path / "g"), run_id="g1")


def test_pinned_run_retry_does_not_double_count(spark, transcripts, tmp_path):
    """Re-running a pinned run_id after a simulated crash-after-commit must
    not re-append manifest rows for already-committed groups (the summary
    previously double-counted their bytes)."""
    import pyspark.sql.functions as F

    out = str(tmp_path / "retry")
    s1 = encode_job(spark, transcripts, out, run_id="rX", max_groups=2)
    s2 = encode_job(spark, transcripts, out, run_id="rX")  # same run_id
    m = read_manifest(spark, out)
    dup = (
        m.groupBy("pt", "grp").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0, "duplicate manifest rows for one (pt, grp)"
    total_rows = transcripts.count()
    # summary for a reused run_id is cumulative for that run_id — exactly
    # the input's total, never more (double-counted rows exceeded it)
    assert s2["n_rows"] == total_rows
    dec = decode_job(spark, out)
    assert dec.count() == total_rows


def test_schema_growth_on_resume_errors_then_allows(spark, transcripts, tmp_path):
    """Round-5 schema evolution: resuming with a NEW column while committed
    groups are skipped must raise by default (the old behavior silently
    committed groups without it); on_new_columns='allow' proceeds and decode
    null-fills the column for pre-growth groups."""
    import pyspark.sql.functions as F

    out = str(tmp_path / "grow")
    r1 = encode_job(
        spark, transcripts, out, run_id="g1",
        target_group_rows=4096, max_groups=2,
    )
    assert r1["groups_encoded"] == 2
    wider = transcripts.withColumn("score", F.length("text").cast("double"))
    with pytest.raises(RuntimeError, match="score"):
        encode_job(spark, wider, out, run_id="g2", target_group_rows=4096)
    r2 = encode_job(
        spark, wider, out, run_id="g2", target_group_rows=4096,
        on_new_columns="allow",
    )
    assert r2["groups_skipped"] == 2
    dec = decode_job(spark, out)
    assert "score" in dec.columns
    got = dec.toPandas()
    exp = wider.toPandas()
    # full table decoded; score is NULL exactly for the 2 pre-growth groups'
    # rows and exact elsewhere
    assert len(got) == len(exp)
    n_null = int(got["score"].isna().sum())
    assert 0 < n_null < len(got)
    merged = got.merge(
        exp[KEY + ["score"]], on=KEY, suffixes=("", "_exp"), how="left"
    )
    filled = merged[~merged["score"].isna()]
    assert (filled["score"] == filled["score_exp"]).all()


def test_mixed_schema_append_prefix_null_fills(spark, tmp_path):
    """Appending a wider-schema batch under a fresh group_prefix (the
    supported append path) yields the union schema on decode, with typed
    NULLs for the earlier batch's groups — the reference's null-fill cast
    (schema.py:195-224) re-expressed over the block container."""
    import pyspark.sql.functions as F

    out = str(tmp_path / "mixed")
    a = synth_transcripts(spark, n_conv=60, seed=1, n_pt=2)
    b = synth_transcripts(spark, n_conv=60, seed=2, n_pt=2).withColumn(
        "conv_id", F.concat(F.lit("b-"), F.col("conv_id"))
    ).withColumn("rating", (F.length("text") % 5).cast("int"))
    encode_job(spark, a, out, run_id="a", group_prefix="a:", target_group_rows=4096)
    encode_job(spark, b, out, run_id="b", group_prefix="b:", target_group_rows=4096)
    dec = decode_job(spark, out)
    assert "rating" in dec.columns
    n_a, n_b = a.count(), b.count()
    assert dec.count() == n_a + n_b
    assert dec.filter(F.col("rating").isNull()).count() == n_a
    # projection decode of ONLY the evolved column still null-fills
    proj = decode_job(spark, out, columns=["conv_id", "rating"])
    assert set(proj.columns) == {"pt", "conv_id", "rating"}
    assert proj.filter(F.col("rating").isNotNull()).count() == b.count()


def test_col_ranges_nonkey_zone_pruning(spark, transcripts, tmp_path):
    """Per-column zone maps: a ts-range col_ranges decode must return every
    matching row while decoding strictly fewer chunks than a full decode
    (ts correlates with the conv_id sort inside groups only loosely, but
    narrow ranges still prune)."""
    import pyspark.sql.functions as F

    from bids2table_spark.manifest import committed_blocks

    out = str(tmp_path / "colzone")
    encode_job(spark, transcripts, out, run_id="z", block_rows=512,
               target_group_rows=2048)
    lo, hi = transcripts.agg(
        F.expr("percentile(cast(ts as double), 0.48)"),
        F.expr("percentile(cast(ts as double), 0.52)"),
    ).first()
    lo_ts = pd.Timestamp(lo, unit="s", tz="UTC")
    hi_ts = pd.Timestamp(hi, unit="s", tz="UTC")
    pruned = decode_job(spark, out, col_ranges={"ts": (lo_ts, hi_ts)})
    full = decode_job(spark, out)
    exact = full.filter(F.col("ts").between(F.lit(lo_ts), F.lit(hi_ts)))
    got = pruned.filter(F.col("ts").between(F.lit(lo_ts), F.lit(hi_ts)))
    assert got.count() == exact.count() > 0
    # pruning really happened: the candidate decode is smaller than full
    assert pruned.count() < full.count()
    # string column point-range on a non-key column also stays exact
    r = decode_job(spark, out, col_ranges={"role": ("tool", "tool")})
    assert (
        r.filter(F.col("role") == "tool").count()
        == full.filter(F.col("role") == "tool").count()
    )


def test_group_universe_guard(spark, transcripts, tmp_path):
    """The driver-held group universe is bounded and documented: exceeding
    max_group_universe fails fast with sizing guidance instead of building
    a multi-GB driver list."""
    with pytest.raises(RuntimeError, match="max_group_universe"):
        encode_job(
            spark, transcripts, str(tmp_path / "cap"), run_id="cap",
            target_group_rows=1024, max_group_universe=2,
        )


def test_projection_of_only_new_column_keeps_old_groups(spark, tmp_path):
    """Projecting ONLY an evolution-added column must still emit every
    pre-growth group's rows as typed NULLs: each chunk's col_idx==0 anchor
    block keeps the group alive in the decode even when no requested block
    exists for it (without the anchor, old groups vanished silently)."""
    import pyspark.sql.functions as F

    out = str(tmp_path / "projnew")
    a = synth_transcripts(spark, n_conv=60, seed=3, n_pt=2)
    b = synth_transcripts(spark, n_conv=60, seed=4, n_pt=2).withColumn(
        "conv_id", F.concat(F.lit("b-"), F.col("conv_id"))
    ).withColumn("rating", (F.length("text") % 5).cast("int"))
    encode_job(spark, a, out, run_id="a", group_prefix="a:", target_group_rows=4096)
    encode_job(spark, b, out, run_id="b", group_prefix="b:", target_group_rows=4096)
    proj = decode_job(spark, out, columns=["rating"])
    assert set(proj.columns) == {"pt", "rating"}
    n_a, n_b = a.count(), b.count()
    assert proj.count() == n_a + n_b  # the bug dropped a's rows entirely
    assert proj.filter(F.col("rating").isNull()).count() == n_a
    assert proj.filter(F.col("rating").isNotNull()).count() == n_b


def test_phys_change_on_reencode_raises(spark, tmp_path):
    """A column re-appearing with a different physical type must fail fast
    at encode time — decode would otherwise cast new blocks to the stale
    recorded phys (crash or silent reinterpretation), and col_ranges would
    compare bounds across incompatible alphabets."""
    import pyspark.sql.functions as F

    out = str(tmp_path / "physchg")
    a = synth_transcripts(spark, n_conv=40, seed=5, n_pt=2).withColumn(
        "v", F.length("text").cast("long")
    )
    encode_job(spark, a, out, run_id="a", group_prefix="a:", target_group_rows=4096)
    b = synth_transcripts(spark, n_conv=40, seed=6, n_pt=2).withColumn(
        "conv_id", F.concat(F.lit("b-"), F.col("conv_id"))
    ).withColumn("v", F.col("text").substr(1, 3))
    with pytest.raises(RuntimeError, match="physical type"):
        encode_job(spark, b, out, run_id="b", group_prefix="b:",
                   target_group_rows=4096)


def test_cross_prefix_append_does_not_disarm_growth_guard(spark, tmp_path):
    """The growth guard compares against the columns committed under the
    RESUMING prefix: a wider append under another prefix must not disarm
    on_new_columns='error' for the original prefix (the union ledger did)."""
    import pyspark.sql.functions as F

    a = synth_transcripts(spark, n_conv=60, seed=7, n_pt=2)
    out = str(tmp_path / "pfxguard")
    encode_job(spark, a, out, run_id="a", target_group_rows=1024, max_groups=2)
    wider_b = synth_transcripts(spark, n_conv=20, seed=8, n_pt=2).withColumn(
        "conv_id", F.concat(F.lit("b-"), F.col("conv_id"))
    ).withColumn("n_chars", F.length("text"))
    # fresh prefix with the new column: allowed (no committed group skipped)
    encode_job(spark, wider_b, out, run_id="b", group_prefix="b:",
               target_group_rows=4096)
    # resume the DEFAULT prefix with the wider schema: must still raise even
    # though the union ledger now contains n_chars
    wider_a = a.withColumn("n_chars", F.length("text"))
    with pytest.raises(RuntimeError, match="n_chars"):
        encode_job(spark, wider_a, out, run_id="c", target_group_rows=1024)


def test_legacy_dir_ledger_not_seeded(spark, tmp_path):
    """Appending into a pre-ledger dir (round-4 layout: committed runs but
    no __columns__ in colmeta) must NOT seed the ledger from the new run's
    columns alone — decode would treat the partial ledger as the complete
    column list and silently drop old-run-only columns."""
    import json

    import pyspark.sql.functions as F

    out = str(tmp_path / "legacy")
    a = synth_transcripts(spark, n_conv=40, seed=9, n_pt=2)
    encode_job(spark, a, out, run_id="a", group_prefix="a:", target_group_rows=4096)
    # simulate a round-4 dir: strip the ledger keys from the sidecar
    p = f"{out}/colmeta.json"
    meta = json.load(open(p))
    meta.pop("__columns__", None)
    meta.pop("__prefix_columns__", None)
    json.dump(meta, open(p, "w"))
    # append a NARROWER batch under a fresh prefix
    b = synth_transcripts(spark, n_conv=40, seed=10, n_pt=2).withColumn(
        "conv_id", F.concat(F.lit("b-"), F.col("conv_id"))
    ).drop("tool")
    encode_job(spark, b, out, run_id="b", group_prefix="b:", target_group_rows=4096)
    meta2 = json.load(open(p))
    assert "__columns__" not in meta2  # ledger stays absent, not partial
    dec = decode_job(spark, out)
    assert "tool" in dec.columns  # old-run-only column survives via discovery
    assert dec.count() == a.count() + b.count()
    assert dec.filter(F.col("tool").isNotNull()).count() > 0


def test_colmeta_hadoop_fs_roundtrip(spark, tmp_path):
    """Object-store seam: the colmeta sidecar reads/writes through the
    Hadoop FileSystem API for URI paths (s3a://, hdfs://, …) so the
    schema-evolution guard and col_ranges phys coercion are NOT silently
    inert off local disk.  Exercised here via a file:// URI passed straight
    to the FS helpers (the scheme Hadoop maps to LocalFileSystem)."""
    from bids2table_spark.manifest import _fs_read_text, _fs_write_text

    uri = f"file://{tmp_path}/side/colmeta.json"
    assert _fs_read_text(spark, uri) is None
    _fs_write_text(spark, uri, '{"k": "v"}')
    assert _fs_read_text(spark, uri) == '{"k": "v"}'
    _fs_write_text(spark, uri, '{"k": "w"}')  # overwrite semantics
    assert _fs_read_text(spark, uri) == '{"k": "w"}'


def test_backfill_reencodes_exactly_stale_groups(spark, tmp_path):
    """on_new_columns='backfill': committed groups whose live manifest row
    lacks the new column are re-encoded under the new run_id (latest
    committed row supersedes — Iceberg rewrite semantics), groups that
    already carry it are skipped, and decode has NO null-filled holes."""
    import pyspark.sql.functions as F

    from bids2table_spark.manifest import committed_blocks

    out = str(tmp_path / "backfill")
    base = synth_transcripts(spark, n_conv=240, seed=11, n_pt=4)
    wider = base.withColumn("score", F.length("text").cast("double"))
    # run 1: half the groups at the narrow schema
    r1 = encode_job(spark, base, out, run_id="g1",
                    target_group_rows=4096, max_groups=2)
    assert r1["groups_encoded"] == 2
    # run 2: rest of the groups at the wide schema (mixed table)
    r2 = encode_job(spark, wider, out, run_id="g2", target_group_rows=4096,
                    on_new_columns="allow")
    assert r2["groups_skipped"] == 2
    # run 3: backfill — exactly the 2 stale groups re-encode; nothing else
    r3 = encode_job(spark, wider, out, run_id="g3", target_group_rows=4096,
                    on_new_columns="backfill")
    assert r3["groups_encoded"] == 2
    assert r3["groups_skipped"] == r1["groups_total"] - 2
    dec = decode_job(spark, out)
    assert dec.filter(F.col("score").isNull()).count() == 0
    got = dec.toPandas()[sorted(dec.columns)].sort_values(KEY, ignore_index=True)
    exp = wider.toPandas()
    exp = exp[sorted(exp.columns)].sort_values(KEY, ignore_index=True)
    got.insert(0, "pt", got.pop("pt"))  # align column positions after sort
    exp.insert(0, "pt", exp.pop("pt"))
    pd.testing.assert_frame_equal(got, exp)
    # the reader serves every backfilled group from the NEW run only
    live = committed_blocks(spark, out).select("run_id").distinct()
    assert {r["run_id"] for r in live.collect()} == {"g2", "g3"}
    # idempotent: a repeat backfill finds nothing stale
    r4 = encode_job(spark, wider, out, run_id="g4", target_group_rows=4096,
                    on_new_columns="backfill")
    assert r4["groups_encoded"] == 0


def test_vacuum_deletes_only_superseded_runs(spark, tmp_path):
    """vacuum_job removes run dirs no live manifest row references (the
    backfill's superseded originals), never live ones or unknown in-flight
    dirs, and decode is bit-identical afterwards."""
    import os

    import pyspark.sql.functions as F

    from bids2table_spark.manifest import vacuum_job

    out = str(tmp_path / "vac")
    base = synth_transcripts(spark, n_conv=120, seed=12, n_pt=2)
    wider = base.withColumn("score", F.length("text").cast("double"))
    encode_job(spark, base, out, run_id="v1", target_group_rows=4096)
    encode_job(spark, wider, out, run_id="v2", target_group_rows=4096,
               on_new_columns="backfill")
    # an in-flight run dir the manifest doesn't know about must survive
    inflight = f"{out}/blocks/run_id=inflight"
    os.makedirs(inflight)
    open(f"{inflight}/part-0.parquet", "w").close()
    res = vacuum_job(spark, out)
    assert res["runs_deleted"] == 1  # v1 fully superseded by the backfill
    dirs = set(os.listdir(f"{out}/blocks"))
    assert "run_id=v1" not in dirs
    assert {"run_id=v2", "run_id=inflight"} <= dirs
    dec = decode_job(spark, out)
    got = dec.toPandas()[sorted(dec.columns)].sort_values(KEY, ignore_index=True)
    exp = wider.toPandas()
    exp = exp[sorted(exp.columns)].sort_values(KEY, ignore_index=True)
    pd.testing.assert_frame_equal(got, exp)
    # second vacuum is a no-op
    assert vacuum_job(spark, out)["runs_deleted"] == 0


def _prefixed(spark, seed, tag, n_conv=40):
    import pyspark.sql.functions as F

    return synth_transcripts(spark, n_conv=n_conv, seed=seed, n_pt=2).withColumn(
        "conv_id", F.concat(F.lit(f"{tag}-"), F.col("conv_id"))
    )


def test_compact_small_groups_roundtrip(spark, tmp_path):
    """compact_job rewrites the small groups of incremental appends into
    full-size ones, tombstones the originals, stays idempotent, and the
    decoded table is unchanged before and after (and after vacuum)."""
    from bids2table_spark.manifest import (
        _latest_committed, compact_job, vacuum_job,
    )

    out = str(tmp_path / "compact")
    batches = [_prefixed(spark, s, f"e{s}") for s in (21, 22, 23)]
    for i, b in enumerate(batches):
        encode_job(spark, b, out, run_id=f"e{i}", group_prefix=f"e{i}:",
                   target_group_rows=4096)
    full = batches[0].unionByName(batches[1]).unionByName(batches[2])
    live_before = _latest_committed(read_manifest(spark, out)).filter(
        "n_rows > 0").count()
    res = compact_job(spark, out, target_group_rows=65536)
    assert res["groups_compacted"] >= 2
    assert 0 < res["groups_created"] < res["groups_compacted"]
    assert res["rows_rewritten"] == full.count()
    live_after = _latest_committed(read_manifest(spark, out)).filter(
        "n_rows > 0").count()
    assert live_after < live_before
    pd.testing.assert_frame_equal(_sorted(full), _sorted(decode_job(spark, out)))
    # idempotent: the compacted groups are full now, nothing to do
    res2 = compact_job(spark, out, target_group_rows=65536)
    assert res2["groups_compacted"] == 0
    # vacuum drops the fully superseded append runs; decode unchanged
    vac = vacuum_job(spark, out)
    assert vac["runs_deleted"] >= 1
    pd.testing.assert_frame_equal(_sorted(full), _sorted(decode_job(spark, out)))


def test_compact_requires_two_victims_per_pt(spark, tmp_path):
    """A lone small group per pt is NOT rewritten (rewriting cannot reduce
    the group count — the convergence floor)."""
    from bids2table_spark.manifest import compact_job

    out = str(tmp_path / "lone")
    encode_job(spark, _prefixed(spark, 31, "x"), out, run_id="x",
               target_group_rows=65536)
    res = compact_job(spark, out, target_group_rows=65536)
    assert res["groups_compacted"] == 0 and res["run_id"] is None


def test_time_travel_as_of(spark, tmp_path):
    """decode_job(as_of=run_id | timestamp) replays the table as of that
    commit; snapshots() lists the history in commit order."""
    from bids2table_spark.manifest import snapshots

    out = str(tmp_path / "tt")
    a = _prefixed(spark, 41, "a")
    b = _prefixed(spark, 42, "b")
    encode_job(spark, a, out, run_id="t1", group_prefix="a:",
               target_group_rows=4096)
    encode_job(spark, b, out, run_id="t2", group_prefix="b:",
               target_group_rows=4096)
    snaps = snapshots(spark, out).toPandas()
    assert list(snaps["run_id"]) == ["t1", "t2"]
    assert (snaps["groups_failed"] == 0).all()
    assert int(snaps.set_index("run_id")["n_rows"]["t1"]) == a.count()
    # as_of run_id: only batch A visible
    pd.testing.assert_frame_equal(
        _sorted(a), _sorted(decode_job(spark, out, as_of="t1")))
    # as_of the commit timestamp: identical view
    ts1 = snaps.set_index("run_id")["committed_at"]["t1"]
    pd.testing.assert_frame_equal(
        _sorted(a), _sorted(decode_job(spark, out, as_of=ts1)))
    # no as_of: the full table
    pd.testing.assert_frame_equal(
        _sorted(a.unionByName(b)), _sorted(decode_job(spark, out)))


def test_time_travel_pre_compaction_and_expiry(spark, tmp_path):
    """A pre-compaction as_of reads the ORIGINAL groups (history intact);
    after vacuum_job deletes them, the expired snapshot fails loudly
    instead of silently returning missing groups as zero rows."""
    from bids2table_spark.manifest import compact_job, vacuum_job

    out = str(tmp_path / "ttc")
    a = _prefixed(spark, 51, "a")
    b = _prefixed(spark, 52, "b")
    encode_job(spark, a, out, run_id="t1", group_prefix="a:",
               target_group_rows=4096)
    encode_job(spark, b, out, run_id="t2", group_prefix="b:",
               target_group_rows=4096)
    res = compact_job(spark, out, target_group_rows=65536)
    assert res["groups_compacted"] >= 2
    full = a.unionByName(b)
    # live view and the pre-compaction snapshot agree on content
    pd.testing.assert_frame_equal(_sorted(full), _sorted(decode_job(spark, out)))
    pd.testing.assert_frame_equal(
        _sorted(full), _sorted(decode_job(spark, out, as_of="t2")))
    vacuum_job(spark, out)
    pd.testing.assert_frame_equal(_sorted(full), _sorted(decode_job(spark, out)))
    with pytest.raises(RuntimeError, match="expired"):
        decode_job(spark, out, as_of="t2").count()


# --- encode_job commit tail: Spark job budget, the exact manifest rows and
# file schema it appends, resume next to other group prefixes, and crash
# safety of the persisted salt plan.


def _count_jobs(spark, fn):
    """Run ``fn`` under its own job group; return (result, Spark job count)."""
    sc = spark.sparkContext
    group = f"b2t-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-end events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def test_fresh_encode_job_budget(spark, tmp_path):
    """A fresh encode runs at most 7 Spark jobs: salt plan 2, block write 2,
    manifest tail 3 (one collected aggregate + one append)."""
    df = synth_transcripts(spark, n_conv=120, seed=5, n_pt=2)
    s, jobs = _count_jobs(
        spark, lambda: encode_job(spark, df, str(tmp_path / "b"), run_id="j1",
                                  target_group_rows=1024)
    )
    assert s["groups_encoded"] == s["groups_total"] > 1
    assert jobs <= 7, f"fresh encode_job ran {jobs} Spark jobs"


@pytest.fixture
def failed_and_empty(spark):
    """pt p0: one 600-turn conversation split into two salt buckets (one is
    empty by pigeonhole); pt p1: two conversations, poisoned by the plan."""
    t0 = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        [("p0", "solo", i, "user", f"m{i}", None, t0 + pd.Timedelta(seconds=i))
         for i in range(600)]
        + [("p1", f"c{i // 100}", i % 100, "user", f"t{i}", None,
            t0 + pd.Timedelta(seconds=i)) for i in range(200)],
        columns=["pt", "conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    return spark.createDataFrame(
        pdf, "pt string, conv_id string, turn_idx int, role string, "
             "text string, tool string, ts timestamp_ntz")


def test_manifest_rows_and_file_schema(spark, failed_and_empty, tmp_path):
    out = str(tmp_path / "fe")
    s = encode_job(spark, failed_and_empty, out, run_id="fe1",
                   plan={"p1/text": "no_such_codec"}, target_group_rows=300)
    assert (s["groups_total"], s["groups_encoded"], s["groups_failed"]) == (3, 2, 1)
    assert s["n_rows"] == 600
    m = read_manifest(spark, out).toPandas().set_index(["pt", "grp"]).sort_index()
    assert (m["run_id"] == "fe1").all()

    data = m[m["n_blocks"] > 0]
    assert len(data) == 1 and data.index[0][0] == "p0"
    row = data.iloc[0]
    assert (row["status"], row["n_rows"]) == ("committed", 600)
    assert row["orig_bytes"] == s["orig_bytes"] and row["enc_bytes"] == s["enc_bytes"]
    assert len(row["checksum"]) == 64 and pd.isna(row["error"])
    assert row["codecs"].startswith('["conv_id:')

    gap = m.loc["p0"][m.loc["p0"]["n_blocks"] == 0]
    assert len(gap) == 1
    g = gap.iloc[0]
    assert g["status"] == "committed" and pd.isna(g["error"])
    assert (g["n_rows"], g["orig_bytes"], g["enc_bytes"]) == (0, 0, 0)
    assert (g["codecs"], g["checksum"]) == ("[]", "")

    bad = m.loc["p1"]
    assert len(bad) == 1
    b = bad.iloc[0]
    assert b["status"] == "failed" and b["n_blocks"] == 0 and b["n_rows"] == 0
    assert "no_such_codec" in b["error"] and b["codecs"] == "[]"

    # one manifest file per commit, with the MANIFEST_DDL types; run_id,
    # status and committed_at are written NOT NULL, every other column
    # nullable
    files = glob.glob(os.path.join(out, "manifest", "*.parquet"))
    assert len(files) == 1
    want = spark.createDataFrame([], MANIFEST_DDL).schema
    got = spark.read.parquet(files[0]).schema
    assert [(f.name, f.dataType) for f in got] == [(f.name, f.dataType) for f in want]
    nullable = {f.name: f.nullable for f in pq.read_schema(files[0])}
    assert nullable == {
        f.name: f.name not in ("run_id", "status", "committed_at") for f in want
    }

    # the retry re-encodes exactly the failed group; decode is the input
    s2 = encode_job(spark, failed_and_empty, out, run_id="fe2", target_group_rows=300)
    assert (s2["groups_encoded"], s2["groups_skipped"], s2["n_rows"]) == (1, 2, 200)
    pd.testing.assert_frame_equal(_sorted(failed_and_empty), _sorted(decode_job(spark, out)))


def test_resume_next_to_other_prefixes(spark, tmp_path):
    """Resuming an interrupted epoch in a table that holds other epochs must
    compare the input only against its own prefix's committed groups —
    another epoch's groups have no rows in this input by design."""
    out = str(tmp_path / "epochs")
    a = _prefixed(spark, 41, "a")
    b = _prefixed(spark, 42, "b")
    encode_job(spark, a, out, run_id="e0", group_prefix="e0-", target_group_rows=256)
    s1 = encode_job(spark, b, out, run_id="e1", group_prefix="e1-",
                    target_group_rows=256, max_groups=1)
    assert s1["groups_encoded"] == 1 < s1["groups_total"]
    s2 = encode_job(spark, b, out, run_id="e1r", group_prefix="e1-",
                    target_group_rows=256)
    assert s2["groups_skipped"] == 1
    assert s2["groups_encoded"] == s1["groups_total"] - 1
    pd.testing.assert_frame_equal(
        _sorted(a.unionByName(b)), _sorted(decode_job(spark, out))
    )


def test_truncated_salt_plan_part_keeps_labels(spark, tmp_path):
    """A torn salt_plan part file is skipped on its own: the stored plan
    still fixes the group labels, so a resume under a very different size
    target neither regroups nor re-encodes committed groups."""
    df = synth_transcripts(spark, n_conv=120, seed=7, n_pt=2)
    out = str(tmp_path / "torn")
    s1 = encode_job(spark, df, out, run_id="t1", target_group_rows=512, max_groups=2)
    stored = load_salt_plan(spark, out)
    assert sum(stored.values()) == s1["groups_total"] > 2
    (part,) = glob.glob(os.path.join(out, "salt_plan", "part-*.parquet"))
    with open(part, "rb") as fh:
        blob = fh.read()
    with open(os.path.join(out, "salt_plan", "part-torn.parquet"), "wb") as fh:
        fh.write(blob[: len(blob) // 2])
    assert load_salt_plan(spark, out) == stored
    s2 = encode_job(spark, df, out, run_id="t2", target_group_rows=65536)
    assert s2["groups_total"] == s1["groups_total"]
    assert s2["groups_skipped"] == 2
    pd.testing.assert_frame_equal(_sorted(df), _sorted(decode_job(spark, out)))


def test_salt_plan_write_crash_leaves_no_part_file(spark, tmp_path, monkeypatch):
    """A crash mid-write of the salt plan leaves no visible part file, so
    the next run sees no plan rather than a torn one."""
    import pyarrow.parquet

    def torn_write(table, where, **kw):
        with open(where, "wb") as fh:
            fh.write(b"PAR1 torn")
        raise OSError("disk full")

    df = synth_transcripts(spark, n_conv=40, seed=9, n_pt=2)
    out = str(tmp_path / "crash")
    monkeypatch.setattr(pyarrow.parquet, "write_table", torn_write)
    with pytest.raises(OSError, match="disk full"):
        encode_job(spark, df, out, run_id="c1")
    monkeypatch.undo()
    assert glob.glob(os.path.join(out, "salt_plan", "part-*")) == []
    assert load_salt_plan(spark, out) == {}
    s = encode_job(spark, df, out, run_id="c2")
    assert s["groups_encoded"] == s["groups_total"]
    assert load_salt_plan(spark, out)
