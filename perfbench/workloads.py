"""The benchmark workloads.  Each one stresses a different layer of
bids2table_spark and bypasses the others (see README.md for the reasons and
the sizes).  A workload builds its inputs from ``synth_transcripts(seed=…)``
in ``setup``, pays one-time JVM/Python-worker costs in ``warm``, runs a
closed loop of one operation in ``window`` and checks every output in
``verify``, outside the timed window.

The library is always called through its modules (``manifest.encode_job``,
not a name bound at import), so a traced run's wrappers see every call.
"""

from __future__ import annotations

import os
import random
import time

from harness import CPU_PARTS, closed_loop, hash_aggs, median, table_digest, tail

from bids2table_spark import manifest, stats, synth
from bids2table_spark.operators import dedup, text

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "pt"]

# Public functions wrapped in spans by a traced run: (module, attribute,
# span name, compute a returned DataFrame inside the span).
INSTRUMENTED = [
    (stats, "plan_from_stats", "stats.plan_from_stats", False),
    (manifest, "encode_job", "manifest.encode_job", False),
    (manifest, "decode_job", "manifest.decode_job", True),
    (manifest, "read_manifest", "manifest.read_manifest", False),
    (manifest, "committed_blocks", "manifest.committed_blocks", False),
    (text, "normalize_text", "operators.text.normalize_text", True),
    (text, "quality_score", "operators.text.quality_score", True),
    (dedup, "exact_dedup", "operators.dedup.exact_dedup", True),
    (dedup, "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs", True),
    (dedup, "connected_components", "operators.dedup.connected_components", True),
]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


class Workload:
    """Shared state: the session, tracer, scratch directory, seed, the
    correctness ledger and the named values the report prints."""

    rows_unit = "turns"

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)
        self.ops = 0
        self.op_failures = 0
        self.checks: list[tuple[str, bool, str]] = []
        self.report: dict[str, tuple[float, str]] = {}

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    def guarded(self, name: str, fn) -> None:
        """Run one correctness check; an exception is a failed check."""
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 — a crash is a failed check
            self.check(name, False, f"{type(exc).__name__}: {exc}"[:300])

    def attempt(self, fn):
        """Run one timed operation, counting it; a raise is a failed op."""
        self.ops += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — keep the loop running
            self.op_failures += 1
            self.check("operation", False, f"{type(exc).__name__}: {exc}"[:300])
            return None

    def synth(self, n_conv: int):
        """The cached transcript table for this seed and its row count."""
        with self.tracer.span("synth.synth_transcripts"):
            df = synth.synth_transcripts(self.spark, n_conv=n_conv, seed=self.seed).cache()
            n = df.count()
        return df, n

    def out(self, name: str) -> str:
        return os.path.join(self.work, name)

    def op_rows(self, i: int) -> int:
        """Rows (turns or documents) operation ``i`` processes."""
        return self.n

    def loop(self, seconds: float, op) -> dict:
        """Closed loop of ``op``; wall and CPU figures per operation.  The
        CPU figure is the window's CPU over its operations: a mean, which
        stays smooth where a workload's operations differ in size."""
        def traced_op(i):
            self.tracer.op = f"{self.tracer.phase}-{i}"  # spans of one operation share it
            self.attempt(lambda: op(i))

        samples = closed_loop(seconds, traced_op)
        self.tracer.op = None
        wall = [w for w, _ in samples]
        cpu = [c for _, c in samples]
        return {
            "op_cpu_s": sum(sum(c.values()) for c in cpu) / len(cpu),
            "cpu_parts": {k: sum(c[k] for c in cpu) / len(cpu) for k in CPU_PARTS},
            "cpu_per_op": cpu,
            "op_s_p50": median(wall),
            "rows_per_s": sum(self.op_rows(i) for i in range(len(wall))) / sum(wall),
            "op_tail": tail(wall),
            "latencies": wall,
        }

    # The JVM keeps compiling for several operations: in a fresh session
    # the first costs about twice what the fifth does.  Operations in that
    # stretch cost more the slower the host lets the compiler threads run,
    # so the window starts after WARM_OPS of them (see README.md).
    WARM_OPS = 3

    def warm(self) -> None:
        """WARM_OPS untimed operations before the window."""
        for i in range(1, self.WARM_OPS + 1):
            self.attempt(lambda: self.op(-i))

    # interface ------------------------------------------------------------
    def setup(self) -> None: ...
    def op(self, i: int) -> None: ...
    def window(self, seconds: float) -> dict: ...
    def verify(self) -> None: ...

    def blocks_dir(self) -> str | None:
        return None

    def layer_metrics(self) -> dict[str, float]:
        return {}


class BulkEncode(Workload):
    """One operation is one fresh ``plan_from_stats`` + ``encode_job`` of the
    whole table, with no decode: the codec encode kernels, the stats pass
    and the commit path do the work.  The decode side is checked, and timed
    for the report only, after the window: a full checksum-verified
    ``decode_job`` and seeded selective reads (``key_range`` point lookups,
    ``col_ranges`` windows on ``ts`` and ``columns=`` projections)."""

    N_CONV = 1_000  # ~29k turns
    PROJECTIONS = (["conv_id", "turn_idx", "role"], ["ts", "tool"], ["text"])
    TS_WINDOW_S = 3_600
    READS_PER_KIND = 1

    def setup(self):
        self.df, self.n = self.synth(self.N_CONV)
        self.digest = table_digest(self.df, COLS)
        self.runs: list[tuple[str, dict]] = []

    def op(self, i: int):
        out = self.out(f"bulk-{len(self.runs)}")
        plan = stats.plan_from_stats(self.df, fraction=0.05)
        summary = manifest.encode_job(self.spark, self.df, out, run_id=f"bulk-{i}", plan=plan)
        self.runs.append((out, summary))

    def window(self, seconds):
        res = self.loop(seconds, self.op)
        self.report["encode_turns_per_s"] = (res["rows_per_s"], "turns/s")
        return res

    @staticmethod
    def _pred(kind, arg):
        from pyspark.sql import functions as F

        if kind == "key":
            return F.col("conv_id") == arg
        if kind == "ts":
            return F.col("ts").cast("long").between(*arg)
        return None

    def _read(self, table, kind, arg):
        """(scanned, rows, hash) of one decode of ``table``; rows and hash
        count only the rows the exact predicate keeps."""
        import pandas as pd

        cols = COLS
        if kind == "full":
            out = manifest.decode_job(self.spark, table)
        elif kind == "key":
            out = manifest.decode_job(self.spark, table, key_range=(arg, arg))
        elif kind == "ts":
            lo, hi = (pd.Timestamp(v, unit="s") for v in arg)
            out = manifest.decode_job(self.spark, table, col_ranges={"ts": (lo, hi)})
        else:
            cols = list(arg)
            out = manifest.decode_job(self.spark, table, columns=cols)
        r = out.agg(*hash_aggs(cols, self._pred(kind, arg))).collect()[0]
        return int(r["scanned"]), int(r["rows"] or 0), str(r["hash"] or 0)

    def _reads(self):
        reads = [("full", None)]
        for j in range(self.READS_PER_KIND):
            c = self.rng.randrange(self.N_CONV)
            lo = synth._EPOCH_2024 + (c * 997) % (86400 * 365)  # conversation c's first turn
            reads += [
                ("key", f"conv-{self.rng.randrange(self.N_CONV):012d}"),
                ("ts", (lo, lo + self.TS_WINDOW_S)),
                ("cols", tuple(self.PROJECTIONS[j % len(self.PROJECTIONS)])),
            ]
        return reads

    def _expected(self, kind, arg):
        """(rows, hash) a plain Spark filter or projection of the input gives."""
        if kind == "full":
            return self.digest[1:]
        if kind == "cols":
            return table_digest(self.df, list(arg))[1:]
        return table_digest(self.df, COLS, self._pred(kind, arg))[1:]

    def verify(self):
        sizes = []
        for out, s in self.runs:
            self.check("encode summary", s["groups_failed"] == 0 and s["n_rows"] == self.n, f"{s}")
            sizes.append(dir_bytes(os.path.join(out, "blocks")))
        self.check("bytes identical across encodes", len(set(sizes)) == 1, f"{sizes}")
        table = self.runs[-1][0]
        lat: dict[str, list[float]] = {}
        wanted = scanned = 0
        for kind, arg in self._reads():
            name = "decode == input (content hash)" if kind == "full" else f"{kind} read == plain Spark filter"

            def one():
                nonlocal wanted, scanned
                t0 = time.perf_counter()
                got = self._read(table, kind, arg)
                lat.setdefault(kind, []).append(time.perf_counter() - t0)
                exp = self._expected(kind, arg)
                self.check(name, got[1:] == exp, f"{arg}: {got} vs {exp}")
                if kind in ("key", "ts"):
                    wanted += got[1]
                    scanned += got[0]

            self.guarded(name, one)
        self.rows_per_hit = scanned / wanted if wanted else 0.0
        if lat.get("full"):
            self.report["decode_turns_per_s (one decode after the window)"] = (self.n / lat["full"][0], "turns/s")
        reads = [x for k, v in lat.items() if k != "full" for x in v]
        self.report[f"lookup_s_p50 (over {len(reads)} selective reads after the window)"] = (median(reads), "s")
        ref = self.out("ref-zstd")
        self.df.write.mode("overwrite").option("compression", "zstd").parquet(ref)
        self.bytes_per_turn = sizes[-1] / self.n
        self.ratio = sizes[-1] / dir_bytes(ref)
        self.report["bytes_per_turn"] = (self.bytes_per_turn, "B/turn")
        self.report["ratio_vs_zstd"] = (self.ratio, "ratio")

    def blocks_dir(self):
        return os.path.join(self.runs[-1][0], "blocks")

    def layer_metrics(self):
        return {
            "blocks.bytes_per_turn": self.bytes_per_turn,
            "blocks.ratio_vs_zstd": self.ratio,
            "manifest.lookup_rows_per_hit": self.rows_per_hit,
        }


class DedupCurate(Workload):
    """One operation is the curation pipeline normalize_text ->
    quality_score -> exact_dedup -> dedup_clusters over one corpus of
    transcript-text documents.  Only ``operators`` runs; no codec, block or
    manifest code.

    The seed's table splits into N_CORPORA corpora of interleaved
    conversations, and operation ``i`` curates corpus ``i mod N_CORPORA``.
    How many label-propagation rounds connected components needs depends on
    the corpus (one pass ran 75 to 108 Spark jobs, depending on the seed),
    so a window that curates several corpora measures their mix rather
    than one corpus's round count."""

    rows_unit = "docs"
    N_CONV = 150  # per corpus: ~4.9k documents, about half exact duplicates
    N_CORPORA = 4  # warm-up takes corpora 3, 2, 1, so the window repeats one
    MIN_QUALITY = 0.3

    def setup(self):
        from pyspark.sql import functions as F

        with self.tracer.span("synth.synth_transcripts"):
            conv = F.substring("conv_id", 6, 12).cast("long")
            self.docs = (
                synth.synth_transcripts(self.spark, n_conv=self.N_CONV * self.N_CORPORA, seed=self.seed)
                .select(
                    (conv % self.N_CORPORA).cast("int").alias("corpus"),
                    (conv * 1024 + F.col("turn_idx")).alias("doc_id"),
                    "text",
                )
                .cache()
            )
            counts = {r["corpus"]: r["count"] for r in self.docs.groupBy("corpus").count().collect()}
        self.sizes = [counts[k] for k in range(self.N_CORPORA)]
        self.n = sum(self.sizes) / self.N_CORPORA
        self.digests: list[tuple[int, tuple]] = []

    def corpus(self, k: int):
        """Corpus ``k``: every N_CORPORA-th conversation, from the k-th on."""
        from pyspark.sql import functions as F

        return self.docs.filter(F.col("corpus") == k).select("doc_id", "text")

    def curate(self, docs):
        from pyspark.sql import functions as F

        norm = text.normalize_text(docs).select("doc_id", F.col("norm_text").alias("text"))
        good = text.quality_score(norm).filter(F.col("quality") >= self.MIN_QUALITY).select("doc_id")
        kept = norm.join(good, "doc_id", "left_semi")
        canon = dedup.exact_dedup(kept).select(F.col("canonical_doc_id").alias("doc_id"))
        unique = kept.join(canon, "doc_id", "left_semi")
        clusters = dedup.dedup_clusters(unique)
        return kept, table_digest(clusters, ["doc_id", "cluster_id", "is_canonical"])

    def op_rows(self, i: int) -> int:
        return self.sizes[i % self.N_CORPORA]

    def op(self, i: int):
        k = i % self.N_CORPORA
        self.kept, d = self.curate(self.corpus(k))
        self.digests.append((k, d))

    def window(self, seconds):
        res = self.loop(seconds, self.op)
        self.report["curate_docs_per_s"] = (res["rows_per_s"], "docs/s")
        return res

    def verify(self):
        from pyspark.sql import functions as F

        if len({k for k, _ in self.digests}) == len(self.digests):
            # no corpus was curated twice: repeat the last one
            self.guarded("cluster output identical on every pass", lambda: self.op(self.digests[-1][0]))
        for k in sorted({k for k, _ in self.digests}):
            got = [d for c, d in self.digests if c == k]
            if len(got) > 1:
                self.check("cluster output identical on every pass", len(set(got)) == 1, f"corpus {k}: {got}")
        distinct = self.kept.select("text").distinct().count()
        n_exact = dedup.exact_dedup(self.kept).count()
        self.check("exact_dedup == distinct", n_exact == distinct, f"{n_exact} vs {distinct}")
        self.pairs = 0.0
        if self.tracer.enabled:
            unique = self.kept.join(
                dedup.exact_dedup(self.kept).select(F.col("canonical_doc_id").alias("doc_id")),
                "doc_id", "left_semi",
            )
            self.pairs = dedup.minhash_lsh_pairs(unique).count() / max(distinct, 1)

    def layer_metrics(self):
        return {"operators.dedup.lsh_pairs_per_doc": self.pairs}


WORKLOADS = {
    "bulk_encode": BulkEncode,
    "dedup_curate": DedupCurate,
}
