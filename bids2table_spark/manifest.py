"""Per-partition lineage/metrics manifest + resumable encode job.

The reference's append-only ProcessedLog (``bids2table/logging.py:37-131``)
re-imagined as a small Parquet table next to the encoded blocks:

    out_dir/
      blocks/run_id=…/…       encoded block rows, partitioned by run
      manifest/…              one row per attempted (pt, grp) group
      salt_plan/…             persisted {scope, pt -> n_salts} (resume identity)

Resume = left anti-join of pending groups against committed manifest rows
(the reference's ``filter_paths`` join, ``logging.py:133-164``).  Blocks are
written before their manifest rows; a crash between the two leaves orphan
blocks that are never read, because readers inner-join blocks with the
latest committed manifest row per group on (pt, grp, run_id) — the poor
man's Iceberg snapshot (seam kept so an Iceberg catalog can replace the
path layout; see sources/).

Scale notes (the three round-1 scale-killers this layout fixes):

* blocks are partitioned by ``run_id``, so deriving a run's manifest reads
  ONLY that run's directory — an incremental run never re-lists the full
  block history (round-1 re-scanned everything per run, per micro-batch);
* the salt plan is persisted on first run and reloaded on resume, so group
  labels are a stable function of (scope, pt, conv_id) even if the resuming
  cluster has different parallelism or the input grew;
* per-group failures (reference: ``bids2table/crawler.py:92`` failure
  tables) become ``status='failed'`` manifest rows instead of killing the
  job; a later run re-attempts exactly those groups.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .decode import decode_table
from .encode import ERROR_CODEC, encode_grouped, flatten_struct_columns
from .partitioning import DEFAULT_GROUP_ROWS, salt_plan, with_group

MANIFEST_DDL = (
    "pt string, grp string, run_id string, n_blocks long, n_rows long, "
    "orig_bytes long, enc_bytes long, codecs string, checksum string, "
    "status string, committed_at timestamp, error string"
)
SALT_PLAN_DDL = "scope string, pt string, n_salts int"


def _paths(out_dir: str) -> tuple[str, str, str]:
    out_dir = out_dir.rstrip("/")
    return f"{out_dir}/blocks", f"{out_dir}/manifest", f"{out_dir}/salt_plan"


class _phase_timer:
    """Env-gated (B2T_TIMING=1) wall-clock phase log for encode_job — the
    job is many small Spark actions and one big one; this attributes the
    total without a profiler run."""

    def __init__(self, tag: str) -> None:
        import time

        self.on = bool(os.environ.get("B2T_TIMING"))
        self.tag, self.t0, self.clk = tag, time.time(), time.time

    def lap(self, phase: str) -> None:
        if self.on:
            t = self.clk()
            print(f"[{self.tag}] {phase}: {t - self.t0:.2f}s", flush=True)
            self.t0 = t


def _colmeta_path(out_dir: str) -> str:
    return f"{out_dir.rstrip('/')}/colmeta.json"


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text sidecar through the Hadoop FileSystem API — the
    same abstraction every Spark write uses, so the sidecar lands wherever
    the blocks do (s3a://, hdfs://, gs://), not only on local disk."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(spark: SparkSession, path: str) -> str | None:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _save_colmeta(
    out_dir: str,
    df: DataFrame,
    keyinfo: dict | None = None,
    columns: dict[str, str] | None = None,
    prefix: str = "",
) -> None:
    """Persist per-column Spark field metadata (reference carries per-column
    string metadata through concat/prefix, bids2table/schema.py:277-284; the
    Spark-native channel is StructField.metadata).  Driver-side JSON sidecar —
    tiny, written once per out_dir; object-store paths go through the Hadoop
    FS API (same destination as the blocks), local paths write directly.

    ``keyinfo`` (stored under the reserved ``__keyinfo__`` name, never a
    valid column) records the sort-key column + phys type and the caller's
    original pt column name so decode can coerce ``key_range`` bounds to
    the key's physical type and restore the pt column name.

    ``columns`` ({flattened_name: phys}) is recorded under ``__columns__``
    as the out_dir's encoded COLUMN SET — the schema-evolution ledger.  It
    merges with any previously recorded set (earlier columns keep their
    col_idx; genuinely new ones are appended), so encode_job can detect a
    grown input schema on resume and decode_job can coerce ``col_ranges``
    bounds to each column's physical type (reference analog: the
    IncrementalTable accepts per-handler schema growth and cast_to_schema
    null-fills missing fields, bids2table/table.py:34-50 +
    schema.py:195-224).  A column re-appearing with a DIFFERENT physical
    type raises — decode would cast new blocks to the stale phys and
    col_ranges would compare bounds across incompatible alphabets; type
    changes need a fresh out_dir.  ``__prefix_columns__`` additionally
    records the column set PER group_prefix, because the growth guard must
    compare a resume against the columns *its own prefix* committed — the
    global union would let a wider append under another prefix disarm the
    guard for the original one."""
    import json

    spark = df.sparkSession
    existing = _load_colmeta(out_dir, spark)
    existing.pop("__keyinfo__", None)
    prev_cols = existing.pop("__columns__", None) or {}
    prev_pfx = existing.pop("__prefix_columns__", None) or {}
    meta = dict(existing)
    meta.update({f.name: f.metadata for f in df.schema.fields if f.metadata})
    if columns is not None:
        merged = dict(prev_cols)
        nxt = max((int(c["col_idx"]) for c in merged.values()), default=-1) + 1
        for name, phys in columns.items():
            cur = merged.get(name)
            if cur is None:
                merged[name] = {"phys": phys, "col_idx": nxt}
                nxt += 1
            elif cur["phys"] != phys:
                raise RuntimeError(
                    f"column {name!r} was committed with physical type "
                    f"{cur['phys']!r} but this run carries it as {phys!r} — "
                    "decode would cast new blocks to the stale type and "
                    "col_ranges bounds would compare across incompatible "
                    "alphabets. Type changes need a fresh out_dir."
                )
        meta["__columns__"] = merged
        pfx_set = sorted(set(prev_pfx.get(prefix) or ()) | set(columns))
        meta["__prefix_columns__"] = {**prev_pfx, prefix: pfx_set}
    else:
        if prev_cols:
            meta["__columns__"] = prev_cols
        if prev_pfx:
            meta["__prefix_columns__"] = prev_pfx
    if keyinfo:
        meta["__keyinfo__"] = keyinfo
    if not meta:
        return
    text = json.dumps(meta, sort_keys=True)
    p = _colmeta_path(out_dir).removeprefix("file://")
    if "://" in p:
        _fs_write_text(spark, _colmeta_path(out_dir), text)
        return
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as fh:
        fh.write(text)


def _load_colmeta(out_dir: str, spark: SparkSession | None = None) -> dict[str, dict]:
    import json

    p = _colmeta_path(out_dir).removeprefix("file://")
    if "://" in p:
        if spark is None:
            return {}
        text = _fs_read_text(spark, _colmeta_path(out_dir))
        return json.loads(text) if text else {}
    if not os.path.isfile(p):
        return {}
    with open(p) as fh:
        return json.load(fh)


def _exists(path: str) -> bool:
    """Cheap existence probe for local paths (avoids raising+logging a JVM
    AnalysisException per run on the common 'first run, nothing there yet'
    case). Non-local URIs fall through to True and the read's own handling."""
    p = path.removeprefix("file://")
    if "://" in p:
        return True
    return os.path.exists(p)


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    _, mpath, _ = _paths(out_dir)
    if not _exists(mpath):
        return None
    try:
        return spark.read.parquet(mpath)
    except Exception:
        return None


def _latest_committed(m: DataFrame, pt_col: str = "pt", as_of=None) -> DataFrame:
    """Latest committed manifest row per (pt, grp) — THE definition of the
    live run for a group; resume verification and the reader must agree on
    it, so both go through this helper.

    ``as_of`` (a commit timestamp) restricts the vote to rows committed at
    or before that instant: the manifest log is append-only and supersede
    is by-recency, so filtering by time replays the table exactly as a
    reader would have seen it then — time travel for free (Iceberg's
    snapshot-id read re-expressed over the poor-man's snapshot)."""
    rows = m.filter(F.col("status") == "committed")
    if as_of is not None:
        rows = rows.filter(F.col("committed_at") <= F.lit(as_of))
    w = Window.partitionBy(pt_col, "grp").orderBy(
        F.col("committed_at").desc(), F.col("run_id").desc()
    )
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _as_of_ts(m: DataFrame, as_of):
    """Resolve a user-facing ``as_of`` to a commit timestamp.  A string is
    first tried as a run_id (its snapshot = everything committed up to that
    run's last manifest append); anything else — datetime, pandas
    Timestamp, or a timestamp-looking string — is used as the instant
    itself.  Two runs landing in the same microsecond tie-break by
    inclusion (both visible), which only ever widens the view to what a
    contemporaneous reader saw."""
    if as_of is None:
        return None
    if isinstance(as_of, str):
        ts = (
            m.filter(F.col("run_id") == as_of)
            .agg(F.max("committed_at"))
            .collect()[0][0]
        )
        if ts is not None:
            return ts
    import pandas as pd

    return pd.Timestamp(as_of)


def snapshots(spark: SparkSession, out_dir: str) -> DataFrame:
    """Iceberg's ``snapshots`` metadata table analog: one row per run, in
    commit order, with the run's own totals.  Feed a row's ``run_id`` (or
    ``committed_at``) to ``decode_job(as_of=...)`` to read the table as of
    that commit.  History survives until ``vacuum_job`` deletes superseded
    block directories (expire-snapshots semantics: after a vacuum only the
    live view is readable)."""
    m = read_manifest(spark, out_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest under {out_dir}")
    is_c = F.col("status") == "committed"
    return (
        m.groupBy("run_id")
        .agg(
            F.max("committed_at").alias("committed_at"),
            F.sum(is_c.cast("long")).alias("groups_committed"),
            F.sum((~is_c).cast("long")).alias("groups_failed"),
            F.sum(F.when(is_c, F.col("n_rows")).otherwise(0)).alias("n_rows"),
            F.sum(F.when(is_c, F.col("enc_bytes")).otherwise(0)).alias("enc_bytes"),
        )
        .orderBy("committed_at", "run_id")
    )


def load_salt_plan(
    spark: SparkSession, out_dir: str, scope: str = ""
) -> dict[str, int]:
    """Persisted salt plan for ``scope`` (empty = the batch job).

    An unreadable part file (torn by a crash of a writer that predates the
    atomic rename) is skipped on its own; the rest of the plan still holds
    every label it recorded.  Dropping the whole plan instead would let a
    resume re-derive n_salts from the current input and move group labels
    under already-committed groups."""
    _, _, ppath = _paths(out_dir)
    if not _exists(ppath):
        return {}
    rows = (
        spark.read.schema(SALT_PLAN_DDL)
        .option("ignoreCorruptFiles", "true")
        .parquet(ppath)
        .filter(F.col("scope") == scope)
        .groupBy("pt")
        .agg(F.min("n_salts").alias("n_salts"))  # deterministic under dup appends
        .collect()
    )
    return {r["pt"]: int(r["n_salts"]) for r in rows}


def _append_salt_plan(
    spark: SparkSession, ppath: str, scope: str, new_pts: dict[str, int]
) -> None:
    """Persist new (scope, pt, n_salts) rows.  The plan is a handful of
    rows, so on a local filesystem it is written straight from the driver
    with pyarrow — one fewer Spark job per encode (round 6); the file name
    is unique, so concurrent appends never clobber.  The file is written
    under a hidden temp name (readers skip dot-files) and renamed into
    place, so a crash mid-write never leaves a torn part file.  Non-local
    URIs keep the Spark write (the driver has no direct filesystem there;
    the task-commit protocol makes it atomic)."""
    rows = sorted(new_pts.items())
    local = ppath.removeprefix("file://")
    if "://" not in local:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(local, exist_ok=True)
        tbl = pa.table(
            {
                "scope": pa.array([scope] * len(rows), pa.string()),
                "pt": pa.array([pt for pt, _ in rows], pa.string()),
                "n_salts": pa.array([int(n) for _, n in rows], pa.int32()),
            }
        )
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(local, f".{name}.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(local, name))
        return
    from .session import local_df

    local_df(
        spark, [(scope, pt, int(n)) for pt, n in rows], SALT_PLAN_DDL
    ).coalesce(1).write.mode("append").parquet(ppath)


def resolve_salt_plan(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    scope: str = "",
    pt_col: str = "pt",
    target_group_rows: int | None = DEFAULT_GROUP_ROWS,
    target_group_bytes: int | str | None = None,
    resume: bool = True,
) -> dict[str, int]:
    """Stable resume identity: group labels must be a pure function of
    (scope, pt, conv_id), NOT of the cluster that happens to run the retry.

    First run persists its computed plan; a resume reloads it verbatim (a
    different ``defaultParallelism`` or a grown input would otherwise remap
    conversations to different grp labels and silently skip/redo rows).
    Partitions unseen by the stored plan are appended — they have no
    committed groups yet, so extending is always safe.
    """
    _, _, ppath = _paths(out_dir)
    stored = load_salt_plan(spark, out_dir, scope) if resume else {}
    fresh = salt_plan(
        df, pt_col=pt_col, target_group_rows=target_group_rows,
        target_group_bytes=target_group_bytes,
    )
    new_pts = {pt: n for pt, n in fresh.items() if pt not in stored}
    if new_pts and resume:
        _append_salt_plan(spark, ppath, scope, new_pts)
    plan = {pt: stored.get(pt, new_pts.get(pt, 1)) for pt in fresh}
    # stored pts absent from this df keep their labels for future runs but
    # contribute no pending groups now
    return plan


def encode_job(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    plan: dict[str, str] | None = None,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    pt_col: str = "pt",
    conv_col: str = "conv_id",
    block_rows: int = 65_536,
    target_group_rows: int = DEFAULT_GROUP_ROWS,
    target_group_bytes: int | str | None = None,
    resume: bool = True,
    max_groups: int | None = None,
    group_prefix: str = "",
    verify_growth: bool = True,
    on_new_columns: str = "error",
    max_group_universe: int = 4_000_000,
    _extra_manifest: DataFrame | None = None,
) -> dict:
    """Encode ``df`` into out_dir, skipping already-committed groups.

    Returns a summary dict (groups encoded/skipped/failed, bytes).
    ``target_group_bytes`` (int bytes or "64 MiB"-style string) adds a raw
    BYTE bound on group size alongside the row target — fat-row partitions
    get more, smaller groups (reference parity: the writer flushes
    byte-sized partitions, ``bids2table/writer.py:39,45``; see
    ``partitioning.salt_plan``).  ``max_groups`` caps the number of groups
    this run commits — used by tests to simulate an interrupted job.  ``group_prefix`` scopes group
    labels (streaming passes the epoch id so a new micro-batch never
    collides with an earlier batch's committed labels).

    Resume is only valid over the SAME input: rows added after the first
    run hash into already-committed groups, which the anti-join would skip
    wholesale — silent data loss.  ``verify_growth`` (default on) compares
    the input's per-group row counts against the committed manifest rows of
    this run's group universe (other prefixes are not compared) and raises
    on drift; it costs one extra pass over the skipped groups'
    input, so callers with an immutability guarantee can disable it.
    Appends belong in a fresh ``group_prefix``/``out_dir`` (the streaming
    path's per-epoch prefix is exactly this).

    SCHEMA EVOLUTION (``on_new_columns``): the out_dir's colmeta sidecar
    records the encoded column set PER group_prefix; when a resume's input
    carries columns absent from its prefix's set AND committed groups are
    being skipped, those groups would silently never encode the new
    columns.  ``"error"`` (default) raises — the round-4 silent-skip bug
    made loud; ``"allow"`` proceeds: new groups encode the full schema,
    committed groups keep their old column set, and ``decode_job``
    null-fills the missing columns per group (reference null-fill cast:
    bids2table/schema.py:195-224); ``"backfill"`` re-encodes every
    committed group whose live manifest row lacks any of the new columns —
    the rewrite lands under this run_id and supersedes the old blocks at
    read time (latest committed row wins — Iceberg RewriteDataFiles
    semantics), so the whole table carries the grown schema with no
    null-filled holes.  Membership is decided from each group's OWN
    manifest row (its ``codecs`` column lists what it encoded), so a table
    whose groups grew at different times backfills exactly the stale ones.
    Superseded blocks stay on disk until ``vacuum_job``.  Appends via a
    fresh ``group_prefix`` with a wider schema never error (no committed
    group is being skipped) — that is the supported mixed-schema path.
    """
    if on_new_columns not in ("error", "allow", "backfill"):
        raise ValueError(
            f"on_new_columns must be 'error', 'allow' or 'backfill', got {on_new_columns!r}"
        )
    run_id = run_id or uuid.uuid4().hex[:12]
    bpath, mpath, _ = _paths(out_dir)
    run_path = f"{bpath}/run_id={run_id}"

    from .blocks import spark_field_phys

    # the block container names its partition column 'pt' (BLOCKS_SCHEMA_DDL);
    # normalize the caller's pt column to it and record the original name so
    # decode_job can rename it back — without this any pt_col != 'pt' crashed
    # after the blocks were already written (manifest groupBy on a column the
    # block schema doesn't have)
    orig_pt_col = pt_col
    if pt_col != "pt":
        if "pt" in df.columns:
            raise ValueError(
                f"pt_col={pt_col!r} but the input also has a column named 'pt' "
                "(the container's reserved partition column); rename one"
            )
        df = df.withColumnRenamed(pt_col, "pt")
        pt_col = "pt"
    fdf = flatten_struct_columns(df)
    # resolve key_phys on the FLATTENED schema: a nested sort key (e.g.
    # 'a·b') only materializes post-flatten, and without its phys the
    # decode-side key_range bound coercion silently disappears while the
    # encode side images with the post-flatten phys
    try:
        key_phys = spark_field_phys(fdf.schema[key_cols[0]].dataType)
    except Exception:
        key_phys = None
    keyinfo = {
        "key_cols": list(key_cols),
        "key_phys": key_phys,
        "pt_col": orig_pt_col,
        "conv_col": conv_col,
    }
    cols_now = {
        f.name: spark_field_phys(f.dataType)
        for f in fdf.schema.fields
        if f.name != pt_col
    }
    colmeta_all = _load_colmeta(out_dir, spark) if resume else {}
    prev_cols = colmeta_all.get("__columns__") or {}
    # the growth guard compares against the columns THIS prefix committed —
    # a wider append under another prefix must not disarm it (per-prefix
    # ledger).  Dirs written before per-prefix tracking fall back to the
    # union ledger: that can only under-detect (the union is a superset),
    # never falsely error.
    pcmap = colmeta_all.get("__prefix_columns__")
    if pcmap is not None:
        guard_cols = set(pcmap.get(group_prefix) or ())
    else:
        guard_cols = set(prev_cols)
    new_cols = sorted(c for c in cols_now if guard_cols and c not in guard_cols)
    pre_flat_df = df  # colmeta is saved post-growth-check: metadata sits on
    # the original top-level fields (struct parents included)
    df = fdf
    _pt = _phase_timer(run_id)
    splan = resolve_salt_plan(
        spark, df, out_dir, scope=group_prefix, pt_col=pt_col,
        target_group_rows=target_group_rows,
        target_group_bytes=target_group_bytes, resume=resume,
    )
    grouped = with_group(
        df, splan, pt_col=pt_col, conv_col=conv_col, group_prefix=group_prefix
    )

    # the group universe comes from the (tiny) salt plan — no extra pass over
    # the data; (pt, grp) membership is a pure function of conv_id + plan.
    # DRIVER-MEMORY BOUND: the universe lives on the driver as one (pt, grp)
    # tuple per group — ~50 B each, so the default cap of 4M groups is a few
    # hundred MB of heap (the 10^12-turn / 256k-rows-per-group regime).  A
    # bigger table should raise target_group_rows, not the cap: group count,
    # not row count, is what the driver holds.
    n_total = sum(splan.values())
    if n_total > max_group_universe:
        raise RuntimeError(
            f"group universe {n_total} exceeds max_group_universe="
            f"{max_group_universe}; raise target_group_rows (fewer, larger "
            "groups) or partition the input into separate out_dirs"
        )
    all_groups = [
        (pt, f"{group_prefix}g{s:04d}")
        for pt, n in sorted(splan.items())
        for s in range(n)
    ]
    from .session import local_df

    _pt.lap("salt_plan")
    keys_ddl = f"{pt_col} string, grp string"
    mdf = read_manifest(spark, out_dir) if resume else None
    done = None
    if mdf is not None:
        done = mdf.filter(F.col("status") == "committed").select(pt_col, "grp").distinct()
        if on_new_columns == "backfill":
            # a committed group whose LIVE manifest row lacks any of the
            # input's CURRENT columns is re-encoded in full under this
            # run_id; its fresh committed row supersedes the old one at
            # read time.  The group's own codecs list (JSON
            # ["column:codec", ...]) is the per-group column record —
            # strip the codec suffix and set-diff against cols_now (NOT
            # against the ledger diff: an earlier 'allow' run already
            # taught the ledger the new column, but the groups it skipped
            # are still stale).  Empty gap rows (n_rows=0) have nothing to
            # rewrite and stay done.
            latest = _latest_committed(mdf, pt_col)
            cols_arr = F.expr(
                "transform(from_json(codecs, 'array<string>'), "
                "x -> regexp_replace(x, ':[^:]*$', ''))"
            )
            stale = (
                F.size(F.array_except(F.array(*[F.lit(c) for c in cols_now]), cols_arr)) > 0
            ) & (F.col("n_rows") > 0)
            done = latest.filter(~stale).select(pt_col, "grp")
    # the pending set lives on the driver as a list of (pt, grp) keys, bounded
    # by the group universe: the manifest tail below filters and fills gaps
    # against it without another Spark job
    pending = all_groups
    if done is not None:
        universe = local_df(spark, all_groups, keys_ddl)
        pending = [
            tuple(r)
            for r in universe.join(done, on=[pt_col, "grp"], how="left_anti").collect()
        ]
    n_pending = len(pending)
    if new_cols and n_pending < n_total and on_new_columns == "error":
        raise RuntimeError(
            "input schema grew since the committed run — resuming would "
            f"commit groups WITHOUT the new column(s) {new_cols} for the "
            f"{n_total - n_pending} already-committed group(s), which decode "
            "would then null-fill. Pass on_new_columns='allow' to accept "
            "that (mixed-schema table, nulls for old groups), or re-encode "
            "into a fresh out_dir to backfill."
        )
    # a PRE-LEDGER dir (committed runs exist but no __columns__ recorded —
    # written by round-4 code) must not have its ledger seeded from this
    # run's columns alone: decode would treat the partial ledger as the
    # complete column list and silently drop old-run-only columns.  Leave
    # the ledger absent; decode falls back to discovering columns from the
    # blocks themselves (table_columns), which still sees every run.
    legacy_dir = resume and mdf is not None and not prev_cols
    _save_colmeta(
        out_dir, pre_flat_df, keyinfo,
        columns=None if legacy_dir else cols_now, prefix=group_prefix,
    )
    _pt.lap("pending/resume")
    if done is not None and n_pending < n_total and verify_growth:
        # only THIS run's group universe is compared: committed groups of
        # other group_prefixes (earlier streaming epochs, compactions) have
        # no rows in this input by design and are not drift
        latest = (
            _latest_committed(mdf, pt_col)
            .join(F.broadcast(universe), on=[pt_col, "grp"], how="left_semi")
            .select(pt_col, "grp", "n_rows")
        )
        in_counts = (
            grouped.join(F.broadcast(latest.select(pt_col, "grp")), on=[pt_col, "grp"], how="left_semi")
            .groupBy(pt_col, "grp")
            .agg(F.count("*").alias("_in_rows"))
        )
        drift = (
            latest.join(in_counts, on=[pt_col, "grp"], how="left")
            .filter(F.coalesce(F.col("_in_rows"), F.lit(0)) != F.col("n_rows"))
        )
        bad = drift.select(pt_col, "grp", "n_rows", "_in_rows").take(5)
        if bad:
            detail = ", ".join(
                f"{r[pt_col]}/{r['grp']}: committed {r['n_rows']} rows, input now has {r['_in_rows'] or 0}"
                for r in bad
            )
            raise RuntimeError(
                "input drifted since the committed run — resuming would silently "
                f"skip changed groups ({detail}). Re-encode into a fresh out_dir / "
                "group_prefix, or pass verify_growth=False if the drift is expected."
            )
    if max_groups is not None:
        # UTF-8 byte order (Spark's string order) is code-point order, so
        # this is the same slice as an orderBy(pt, grp).limit(max_groups)
        pending = sorted(pending)[:max_groups]
        n_pending = len(pending)
    if n_pending == 0:
        if _extra_manifest is not None:
            # a retried compact_job whose encode fully committed last time
            # but crashed before the tombstone append lands the tombstones
            # here — the convergence path that makes compaction idempotent
            _extra_manifest.write.mode("append").parquet(mpath)
        return {"run_id": run_id, "groups_total": n_total, "groups_encoded": 0,
                "groups_skipped": n_total, "groups_failed": 0,
                "orig_bytes": 0, "enc_bytes": 0, "n_rows": 0}

    if n_pending == n_total:
        todo = grouped  # fresh encode: skip the semi-join entirely
    else:
        todo = grouped.join(
            F.broadcast(local_df(spark, pending, keys_ddl)),
            on=[pt_col, "grp"], how="left_semi",
        )
    blocks = encode_grouped(
        todo, key_cols=key_cols, pt_col=pt_col, plan=plan,
        block_rows=block_rows, num_partitions=n_pending,
    )

    # 1) durable blocks first, into THIS run's own partition directory (no
    # per-pt hive dirs: each encode task emits one file; pt lives as a
    # column, and readers select via the manifest join).  A run_path that
    # already exists means a crashed-then-retried pinned run_id — the only
    # case the block-level dedup window and the mpath-replay summary below
    # are for.
    fresh_run = not _exists(run_path)
    _pt.lap("pre_encode")
    blocks.write.mode("append").option("compression", "zstd").parquet(run_path)
    _pt.lap("encode_write")

    # 2) … then manifest rows derived from what actually landed on disk, by
    # ONE aggregate over the blocks' metadata columns, collected: at most
    # one row per group, and the group universe is driver-bounded above.
    # Reading run_path (not the blocks root) means an incremental run's job
    # graph touches only its own output — never the accumulated history.
    # The explicit schema keeps an all-empty-groups write (no part files)
    # from failing schema inference.
    from .encode import BLOCKS_DDL_WITH_IDX

    written = spark.read.schema(BLOCKS_DDL_WITH_IDX).parquet(run_path)
    if not fresh_run:
        # a crashed-then-retried run with a pinned run_id appends a second,
        # bit-identical copy of some blocks; dedup so metrics stay exact
        wd = Window.partitionBy(pt_col, "grp", "block_id", "column").orderBy("checksum")
        written = (
            written.withColumn("_rn", F.row_number().over(wd))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    is_data = F.col("codec") != ERROR_CODEC
    per_group = (
        written.groupBy(pt_col, "grp")
        .agg(
            F.sum(is_data.cast("long")).alias("n_blocks"),
            F.sum(F.when(F.col("col_idx") == 0, F.col("n_rows")).otherwise(0)).alias("n_rows"),
            F.sum("orig_bytes").alias("orig_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
            # JSON array of distinct column:codec pairs — NOT a map: the
            # per-block local chooser may legally pick different codecs for
            # different blocks of one column, and duplicate map keys throw
            F.to_json(
                F.array_sort(
                    F.array_distinct(
                        F.collect_list(
                            F.when(is_data, F.concat_ws(":", F.col("column"), F.col("codec")))
                        )
                    )
                )
            ).alias("codecs"),
            F.sha2(
                F.concat_ws(
                    ",",
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                is_data,
                                F.concat_ws(":", F.col("column"), F.col("block_id"), F.col("checksum")),
                            )
                        )
                    ),
                ),
                256,
            ).alias("checksum"),
            F.max(F.when(~is_data, F.col("meta"))).alias("error"),
        )
        .collect()
    )
    landed = {(r[pt_col], r["grp"]): r for r in per_group}
    # one manifest row per group of THIS attempt's pending set: a retried
    # pinned run_id's run_path also holds blocks of groups the first attempt
    # already committed, and those must not be re-appended.  A salt bucket
    # that received ZERO conversations (hash imbalance on a small n_salts)
    # has no blocks; without an explicit committed gap row it would stay
    # pending forever and every resume would re-run the whole encode.
    rows = []
    for key in pending:
        r = landed.get(key)
        if r is None:
            rows.append((*key, 0, 0, 0, 0, "[]", "", None))
        else:
            # a group is failed only if it has NO data blocks: a retried
            # pinned run_id leaves the previous attempt's error row in
            # run_path next to the retry's data blocks, and the stale error
            # must not poison the successful retry's manifest row
            rows.append((
                *key, r["n_blocks"], r["n_rows"], r["orig_bytes"], r["enc_bytes"],
                r["codecs"], r["checksum"], r["error"] if r["n_blocks"] == 0 else None,
            ))
    # ONE manifest append: new groups, gap rows and any compaction
    # tombstones (_extra_manifest) become visible together, and a crash
    # before it leaves only unreachable orphan blocks.  run_id, status and
    # committed_at are Spark literals so the file schema marks them NOT
    # NULL; coalesce(1) keeps one manifest file per commit (Iceberg-style).
    to_write = local_df(
        spark, rows,
        f"{pt_col} string, grp string, n_blocks long, n_rows long, "
        "orig_bytes long, enc_bytes long, codecs string, checksum string, "
        "error string",
    ).select(
        pt_col, "grp", F.lit(run_id).alias("run_id"), "n_blocks", "n_rows",
        "orig_bytes", "enc_bytes", "codecs", "checksum",
        F.when(F.col("error").isNotNull(), F.lit("failed"))
        .otherwise(F.lit("committed")).alias("status"),
        F.current_timestamp().alias("committed_at"), "error",
    )
    if _extra_manifest is not None:
        to_write = to_write.unionByName(_extra_manifest)
    to_write.coalesce(1).write.mode("append").parquet(mpath)
    _pt.lap("manifest_write")

    n_failed = sum(r[8] is not None for r in rows)  # error column
    agg = (
        len(rows) - n_failed, n_failed,
        *(sum(r[i] for r in rows) for i in (4, 5, 3)),  # orig, enc, n_rows
    )
    if not fresh_run:
        # a retried pinned run_id reports cumulatively for the run_id: the
        # LATEST row per (pt, grp) within this run.  A replayed epoch
        # re-encodes previously-failed groups and appends committed rows —
        # the superseded failed rows must not keep counting (a streaming
        # retry would loop forever on groups_failed > 0)
        m = spark.read.parquet(mpath).filter(F.col("run_id") == run_id)
        wlast = Window.partitionBy(pt_col, "grp").orderBy(F.col("committed_at").desc())
        m = m.withColumn("_rn", F.row_number().over(wlast)).filter(F.col("_rn") == 1)
        agg = m.agg(
            F.sum((F.col("status") == "committed").cast("long")),
            F.sum((F.col("status") == "failed").cast("long")),
            F.sum("orig_bytes"), F.sum("enc_bytes"), F.sum("n_rows"),
        ).collect()[0]
    return {
        "run_id": run_id,
        "groups_total": n_total,
        "groups_encoded": agg[0] or 0,
        "groups_failed": agg[1] or 0,
        "groups_skipped": n_total - n_pending,
        "orig_bytes": agg[2] or 0,
        "enc_bytes": agg[3] or 0,
        "n_rows": agg[4] or 0,
    }


def committed_blocks(spark: SparkSession, out_dir: str, as_of=None) -> DataFrame:
    """Blocks joined to the latest committed manifest row per (pt, grp) —
    orphan blocks from crashed runs and failed groups are invisible here.
    ``as_of`` (run_id or timestamp) reads the table as of that commit; see
    ``snapshots``.  Time travel requires the superseded block dirs to still
    exist — ``vacuum_job`` collapses history to the live view."""
    bpath, _, _ = _paths(out_dir)
    m = read_manifest(spark, out_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest under {out_dir}")
    latest_rows = _latest_committed(m, as_of=_as_of_ts(m, as_of))
    if as_of is not None:
        # a vacuumed run dir would silently read as zero rows (its partition
        # directory simply isn't there) — an expired snapshot must fail
        # loudly instead (Iceberg's "snapshot has expired").  Only runs that
        # actually wrote data blocks need their dir (tombstones and
        # empty-gap rows have n_blocks=0 and no dir by design).
        need = [
            r["run_id"]
            for r in latest_rows.filter(F.col("n_blocks") > 0)
            .select("run_id").distinct().collect()
        ]
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.Path(bpath).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        gone = [
            rid for rid in need
            if not fs.exists(jvm.org.apache.hadoop.fs.Path(f"{bpath}/run_id={rid}"))
        ]
        if gone:
            raise RuntimeError(
                f"snapshot as_of={as_of!r} is expired: vacuum_job deleted "
                f"superseded run dir(s) {sorted(gone)} it depends on"
            )
    latest = latest_rows.select("pt", "grp", "run_id")
    # explicit static partition pruning: the live run_id set is tiny (one
    # per surviving run), so materialize it driver-side and filter with a
    # literal isin — superseded run_id= directories are pruned at planning
    # time (PartitionFilters), not discovered-then-dropped by the join
    live_runs = [r["run_id"] for r in latest.select("run_id").distinct().collect()]
    # explicit schema (not inference): pre-round-5 part-files lack the
    # cmin/cmax zone columns and read as NULL here — which every consumer
    # treats as unprunable — instead of failing resolution (or resolving
    # nondeterministically in a mixed old/new dir, where inference samples
    # one file's footer)
    from .encode import BLOCKS_DDL_WITH_IDX

    blocks = (
        spark.read.option("basePath", bpath)
        .schema(BLOCKS_DDL_WITH_IDX + ", run_id string")
        .parquet(bpath)
        .filter(F.col("run_id").isin(live_runs))
    )
    return blocks.filter(F.col("codec") != ERROR_CODEC).join(
        F.broadcast(latest), on=["pt", "grp", "run_id"], how="inner"
    )


def vacuum_job(spark: SparkSession, out_dir: str) -> dict:
    """Delete block directories of fully superseded runs (Iceberg's
    expire-snapshots analog for this layout).

    Safe by the reader's own rule: ``committed_blocks`` resolves content
    through the LATEST committed manifest row per (pt, grp), so a
    ``run_id=…`` directory is unreachable exactly when no group's live row
    references it — backfill rewrites and re-encoded failures accumulate
    such dirs.  Two guards keep this concurrency-tolerant: only run_ids the
    manifest KNOWS about are candidates (an in-flight encode's dir, whose
    manifest rows aren't written yet, is never touched), and the manifest
    log itself is append-only and untouched (the lineage/metrics history
    survives the vacuum).  Goes through the Hadoop FS API, so it works
    wherever the blocks live.  Returns {runs_deleted, runs_live}."""
    bpath, _, _ = _paths(out_dir)
    m = read_manifest(spark, out_dir)
    if m is None:
        return {"runs_deleted": 0, "runs_live": 0}
    live = {
        r["run_id"]
        for r in _latest_committed(m).select("run_id").distinct().collect()
    }
    known = {r["run_id"] for r in m.select("run_id").distinct().collect()}
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(bpath)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    deleted = 0
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not name.startswith("run_id="):
                continue
            rid = name.split("=", 1)[1]
            if rid in known and rid not in live:
                fs.delete(st.getPath(), True)
                deleted += 1
    return {"runs_deleted": deleted, "runs_live": len(live)}


def compact_job(
    spark: SparkSession,
    out_dir: str,
    target_group_rows: int = DEFAULT_GROUP_ROWS,
    min_fill: float = 0.5,
    block_rows: int = 65_536,
    run_id: str | None = None,
) -> dict:
    """Rewrite undersized committed groups into full-size ones (Iceberg's
    RewriteDataFiles / bin-pack analog — the small-files problem is THE
    operational failure mode of incremental ingest at scale: every
    streaming epoch / append prefix lands its own salt-planned groups, and
    a year of hourly micro-batches leaves millions of tiny groups whose
    per-group overhead dominates the read path).

    A group is a victim when its live row has ``0 < n_rows <
    min_fill * target_group_rows`` and its pt holds at least TWO victims
    (rewriting a lone small group cannot reduce the group count — this
    floor is what makes repeated compactions converge instead of churning).
    Victims are decoded (checksum-verified), re-encoded under a prefix
    derived from the victim-set hash, and superseded by tombstone manifest
    rows (committed, ``n_rows=0``) that ride in the SAME manifest append as
    the new groups' rows — the append is the commit point, so readers never
    see the copies double-counted.  Deterministic run_id + prefix make the
    job idempotent: a crash anywhere re-converges on re-run (the resume
    anti-join skips already-committed compacted groups; a crash after full
    commit but before tombstones lands the tombstones via encode_job's
    early-return path).  Superseded blocks remain until ``vacuum_job``;
    time travel to a pre-compaction ``as_of`` reads the original groups.

    Resuming one of the ORIGINAL append prefixes after compaction fails
    loudly (verify_growth sees the tombstone's 0 rows vs the input's) —
    compact only prefixes that are done writing.  The victim key list is
    collected driver-side: bounded by the same documented group-universe
    cap as the salt plan (~50 B per group).
    """
    import hashlib

    m = read_manifest(spark, out_dir)
    noop = {"run_id": None, "groups_compacted": 0, "groups_created": 0,
            "rows_rewritten": 0}
    if m is None:
        return noop
    colmeta = _load_colmeta(out_dir, spark)
    keyinfo = colmeta.get("__keyinfo__") or {}
    latest = _latest_committed(m)
    thresh = max(1, int(min_fill * target_group_rows))
    small = latest.filter((F.col("n_rows") > 0) & (F.col("n_rows") < thresh))
    per_pt = Window.partitionBy("pt")
    victims = (
        small.withColumn("_k", F.count("*").over(per_pt))
        .filter(F.col("_k") >= 2)
        .select("pt", "grp", "n_rows")
        .collect()
    )
    if not victims:
        return noop
    keys = sorted((r["pt"], r["grp"]) for r in victims)
    sig = hashlib.sha256(
        "\n".join(f"{p}\x00{g}" for p, g in keys).encode()
    ).hexdigest()[:10]
    run_id = run_id or f"compact-{sig}"
    prefix = f"c{sig}:"

    from .session import local_df

    todo = local_df(spark, keys, "pt string, grp string")
    blocks = committed_blocks(spark, out_dir).join(
        F.broadcast(todo), on=["pt", "grp"], how="left_semi"
    )
    colinfo = colmeta.get("__columns__") or {}
    dec_cols = (
        [
            (nm, v["phys"])
            for nm, v in sorted(colinfo.items(), key=lambda kv: int(kv[1]["col_idx"]))
        ]
        if colinfo
        else None
    )
    df = decode_table(blocks, columns=dec_cols, verify=True)
    orig_pt = keyinfo.get("pt_col") or "pt"
    if orig_pt != "pt":
        df = df.withColumnRenamed("pt", orig_pt)
    key_cols = tuple(keyinfo.get("key_cols") or ("conv_id", "turn_idx"))
    conv_col = keyinfo.get("conv_col") or key_cols[0]

    _, mpath, _ = _paths(out_dir)
    mschema = spark.read.parquet(mpath).schema
    tombstones = (
        todo.withColumn("run_id", F.lit(f"{run_id}.ts"))
        .withColumn("n_blocks", F.lit(0).cast("long"))
        .withColumn("n_rows", F.lit(0).cast("long"))
        .withColumn("orig_bytes", F.lit(0).cast("long"))
        .withColumn("enc_bytes", F.lit(0).cast("long"))
        .withColumn("codecs", F.lit("[]"))
        .withColumn("checksum", F.lit(""))
        .withColumn("status", F.lit("committed"))
        .withColumn("committed_at", F.current_timestamp())
        .withColumn("error", F.lit(None).cast("string"))
        .select(*[f.name for f in mschema.fields])
    )
    res = encode_job(
        spark, df, out_dir, run_id=run_id, group_prefix=prefix,
        key_cols=key_cols, pt_col=orig_pt, conv_col=conv_col,
        block_rows=block_rows, target_group_rows=target_group_rows,
        resume=True, _extra_manifest=tombstones,
    )
    return {
        "run_id": run_id,
        "groups_compacted": len(keys),
        "groups_created": res["groups_encoded"],
        "rows_rewritten": int(sum(r["n_rows"] for r in victims)),
    }


def decode_job(
    spark: SparkSession,
    out_dir: str,
    verify: bool = True,
    columns: list[str] | None = None,
    pts: list[str] | None = None,
    key_range: tuple[str, str] | None = None,
    col_ranges: dict[str, tuple] | None = None,
    as_of=None,
) -> DataFrame:
    """Decode the committed state of out_dir back to the original table.

    ``columns`` / ``pts`` push projection and partition selection down
    THROUGH the codec layer: the blocks scan filters on the ``column`` /
    ``pt`` columns (parquet row-group pruning via PushedFilters), so
    unrequested columns' payload bytes are never read, shuffled, or
    decoded — the custom format keeps Spark's column-pruning economics.

    ``key_range=(lo, hi)`` prunes by the per-block ZONE MAP over the
    primary sort key (blocks store the chunk's first/last key as plain
    string columns, so the range predicate reaches parquet row-group
    stats): point lookups / range scans decode only overlapping blocks.
    The result still contains whole overlapping blocks — apply the exact
    row predicate downstream.

    ``col_ranges={column: (lo, hi), ...}`` prunes by the per-COLUMN zone
    maps (round 5): a chunk is decoded only if EVERY constrained column's
    block may overlap its range.  The candidate pass scans only the tiny
    metadata columns (pt, grp, block_id, column, cmin, cmax) — parquet
    column pruning keeps payload bytes unread — and the surviving chunk
    keys semi-join the full scan.  Bounds are coerced to each column's
    recorded physical type via the colmeta ledger; blocks with NULL bounds
    (list columns, all-NaN floats, pre-round-5 dirs) are never pruned.
    Like ``key_range``, whole overlapping chunks are returned — apply the
    exact row predicate downstream.

    ``as_of`` (a run_id from ``snapshots`` or a commit timestamp) reads the
    table as of that commit — groups encoded later vanish, groups rewritten
    later (backfill/compaction) read their pre-rewrite blocks.  The read
    uses the CURRENT column ledger (Iceberg-style schema-on-read): columns
    added after the snapshot decode as typed NULLs.  History is readable
    until ``vacuum_job`` deletes superseded runs."""
    blocks = committed_blocks(spark, out_dir, as_of=as_of)
    if pts is not None:
        blocks = blocks.filter(F.col("pt").isin(list(pts)))
    colmeta = _load_colmeta(out_dir, spark)
    keyinfo = colmeta.pop("__keyinfo__", None) or {}
    colinfo = colmeta.pop("__columns__", None) or {}
    colmeta.pop("__prefix_columns__", None)
    if col_ranges:
        from .blocks import zone_key_value

        # chunk-level pruning BEFORE the column projection: the constrained
        # column's block must vote even when it is not being decoded
        aggs, conds = [], []
        for idx, (cname, (lo, hi)) in enumerate(sorted(col_ranges.items())):
            phys = (colinfo.get(cname) or {}).get("phys")
            lo_i, hi_i = zone_key_value(lo, phys), zone_key_value(hi, phys)
            overlap = (
                F.when(F.col("cmin").isNull() | F.col("cmax").isNull(), 1)
                .when((F.col("cmax") >= F.lit(lo_i)) & (F.col("cmin") <= F.lit(hi_i)), 1)
                .otherwise(0)
            )
            aggs.append(
                F.max(F.when(F.col("column") == cname, overlap)).alias(f"_k{idx}")
            )
            # a chunk with NO block for the column (schema evolution) is
            # kept — its rows decode to NULL there, and NULL never matches
            # a range predicate, but pruning decisions stay conservative
            conds.append(F.coalesce(F.col(f"_k{idx}"), F.lit(1)) == 1)
        keep = (
            blocks.select("pt", "grp", "block_id", "column", "cmin", "cmax")
            .groupBy("pt", "grp", "block_id")
            .agg(*aggs)
        )
        for c in conds:
            keep = keep.filter(c)
        blocks = blocks.join(
            keep.select("pt", "grp", "block_id"),
            on=["pt", "grp", "block_id"],
            how="left_semi",
        )
    proj_blocks = None
    if columns is not None:
        want = set(columns)
        for c in columns:  # a nested leaf needs every ancestor's validity leaf
            parts = c.split("·")
            for i in range(1, len(parts)):
                want.add("·".join(parts[:i]) + "·__defined__")
        wanted = F.col("column").isin(sorted(want))
        for c in columns:  # struct parents: pull in every parent·field block
            wanted = wanted | F.col("column").startswith(f"{c}·")
        proj_blocks = blocks.filter(wanted)
        # ANCHOR: every chunk also keeps its col_idx==0 block even when not
        # requested.  A group encoded before a requested column existed has
        # no block for that column, and a projection of ONLY such columns
        # would make the whole chunk vanish from the groupBy — its rows
        # silently dropped instead of null-filled.  decode_table never
        # decodes an unrequested block's payload (it reads only n_rows),
        # and the payload/meta bytes are nulled here so the decode shuffle
        # moves one metadata-only row per chunk, not the anchor's blob.
        blocks = (
            blocks.filter(wanted | (F.col("col_idx") == 0))
            .withColumn("payload", F.when(wanted, F.col("payload")))
            .withColumn("meta", F.when(wanted, F.col("meta")))
        )
    # the colmeta ledger fixes the output column list + order driver-side —
    # no extra distinct-over-blocks Spark job, and groups encoded before a
    # column existed (schema evolution) still yield the full union schema
    dec_cols = None
    if colinfo:
        ordered = [
            (nm, v["phys"])
            for nm, v in sorted(colinfo.items(), key=lambda kv: int(kv[1]["col_idx"]))
        ]
        if columns is None:
            dec_cols = ordered
        else:
            dec_cols = [
                (nm, ph)
                for nm, ph in ordered
                if nm in want or any(nm.startswith(f"{c}·") for c in columns)
            ]
    elif columns is not None:
        # pre-ledger dir: discover the projected column list from the
        # projection-only frame, NOT the anchor-inclusive one decode reads —
        # otherwise the anchor column leaks into the output schema
        from .decode import table_columns

        dec_cols = table_columns(proj_blocks)
    if key_range is not None:
        from .blocks import zone_key_value

        # bounds pass through the same order-preserving image the encoder
        # stored, COERCED to the key column's recorded phys type — a bound
        # whose python type doesn't match (ints for a double key, floats
        # for an int key) would otherwise image into a different fixed-width
        # alphabet and the lexicographic compare silently mis-prunes
        key_phys = keyinfo.get("key_phys")
        lo, hi = (zone_key_value(v, key_phys) for v in key_range)
        blocks = blocks.filter((F.col("zmax") >= lo) & (F.col("zmin") <= hi))
    out = decode_table(blocks, columns=dec_cols, verify=verify)
    # reattach per-column field metadata captured at encode time
    if colmeta:
        present = set(out.columns)
        for name, meta in colmeta.items():
            if name in present:
                out = out.withMetadata(name, meta)
    # restore the caller's pt column name (encode normalized it to 'pt')
    orig_pt = keyinfo.get("pt_col")
    if orig_pt and orig_pt != "pt" and "pt" in out.columns:
        out = out.withColumnRenamed("pt", orig_pt)
    return out
