"""Measurement plumbing shared by the workloads: spans with Spark job
accounting, process-tree RSS and CPU readings from /proc, the closed loop,
percentile helpers and an order-independent table hash.

Nothing here changes what the library computes.  Tracing wraps public
functions on their modules only when a traced run asks for it, so an
untraced run calls the library exactly as a user would.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile of ``xs`` with at least ten samples beyond it, as
    ``(percentile, value)``; ``None`` when fewer than eleven samples exist."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    return 100.0 * (n - 10) / n, s[n - 11]


class Tracer:
    """Spans (name, start, end, parent) around calls into the library's
    layers, each tagged with its own Spark job group so that job, stage and
    task counts are read back from ``statusTracker()`` when the span ends.

    Disabled, ``span`` is a no-op and ``instrument`` installs nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self.phase = "setup"
        self.op = None
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        self._next_id = 0

    def bind(self, sc) -> None:
        self.sc = sc

    def _counts(self, group: str) -> tuple[int, int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped stage: its shuffle output was reused
                stages += 1
                tasks += si.numCompletedTasks + si.numFailedTasks
                failed += si.numFailedTasks
        return len(jobs), stages, tasks, failed

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    def _drain_listener(self) -> None:
        # job/task end events reach the status store asynchronously; wait
        # for them so counts are exact, not a race with the listener bus
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 — private API; counts may then lag
            time.sleep(0.05)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid, self._next_id = self._next_id, self._next_id + 1
        span = {
            "id": f"{os.getpid()}-{sid}", "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op, "phase": self.phase, "name": name,
            "group": f"perfbench-{os.getpid()}-{sid}", "child": [0, 0, 0, 0],
        }
        self._stack.append(span)
        self._set_group(span)
        span["start"] = time.perf_counter()
        try:
            yield
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            own = (0, 0, 0, 0)
            if self.sc is not None:
                self._drain_listener()
                own = self._counts(span["group"])
            incl = [a + b for a, b in zip(own, span.pop("child"))]
            span["jobs"], span["stages"], span["tasks"], span["failed_tasks"] = incl
            if self._stack:
                parent = self._stack[-1]
                parent["child"] = [a + b for a, b in zip(parent["child"], incl)]
            self._set_group(self._stack[-1] if self._stack else None)
            span.pop("group")
            self.spans.append(span)

    def instrument(self, module, attr: str, name: str, materialize: bool = False) -> None:
        """Replace ``module.attr`` with a spanned wrapper (traced runs only).

        ``materialize`` computes a returned DataFrame inside the span
        (``localCheckpoint``), so a lazy operator's work is charged to it
        rather than to whichever later call happens to run the plan."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if materialize and hasattr(out, "localCheckpoint"):
                    out = out.localCheckpoint(eager=True)
                return out

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, fn))

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def of(self, name: str, phase: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and (phase is None or s["phase"] == phase)]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def proc_table() -> dict[int, tuple[int, str, list[str]]]:
    """pid -> (parent pid, command name, /proc/<pid>/stat fields from the
    state onwards) for every live process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = rest.split()
        table[int(d)] = (int(fields[1]), head.split("(", 1)[1], fields)
    return table


def descendants(root: int, table=None) -> list[int]:
    """``root`` and every live process below it."""
    table = proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def process_part(pid: int, me: int, comm: str) -> str:
    """Which part of the run a process belongs to: "driver" (this process),
    "workers" (Spark's Python workers and their daemon) or "jvm" (the JVM
    and any helper process it spawns)."""
    if pid == me:
        return "driver"
    return "workers" if comm.startswith("python") else "jvm"


class RssSampler:
    """Peak resident set size of this process and all its descendants (the
    driver, the JVM it launched and Spark's Python workers), from /proc:
    the whole tree, the JVM, the Python side, and the largest single
    Python worker."""

    PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = self.peak_jvm_kb = self.peak_py_kb = self.peak_worker_kb = 0
        self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        table = proc_table()
        total = jvm = 0
        workers = []
        for pid in descendants(me, table):
            if pid not in table:
                continue
            _, comm, fields = table[pid]
            part = process_part(pid, me, comm)
            if part == "jvm" and comm != "java":
                continue  # a helper the JVM spawned reports the JVM's pages until it execs
            kb = int(fields[21]) * self.PAGE_KB  # rss, in pages
            total += kb
            if part == "jvm":
                jvm += kb
            elif part == "workers":
                workers.append(kb)
        self.peak_kb = max(self.peak_kb, total)
        self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)
        self.peak_py_kb = max(self.peak_py_kb, total - jvm)
        self.peak_worker_kb = max([self.peak_worker_kb] + workers)
        self.peak_workers = max(self.peak_workers, len(workers))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _cpu_ticks(fields: list[str]) -> int:
    return sum(int(x) for x in fields[11:15])  # utime, stime, cutime, cstime


CPU_PARTS = ("driver", "jvm", "workers")


def tree_cpu_s() -> dict[str, float]:
    """CPU seconds used so far by this process and its live descendants
    (with their reaped children), split into the driver (this process), the
    JVM and Spark's Python workers."""
    table = proc_table()
    parts = dict.fromkeys(CPU_PARTS, 0)
    me = os.getpid()
    for pid in descendants(me, table):
        if pid in table:
            _, comm, fields = table[pid]
            parts[process_part(pid, me, comm)] += _cpu_ticks(fields)
    tick = os.sysconf("SC_CLK_TCK")
    return {k: v / tick for k, v in parts.items()}


def closed_loop(seconds: float, op) -> list[tuple[float, dict[str, float]]]:
    """Call ``op(i)`` back to back until ``seconds`` have passed (at least
    once); each call starts only after the previous one returned.  Returns
    the wall seconds and the per-part CPU seconds (see ``tree_cpu_s``) of
    every call."""
    samples: list[tuple[float, dict[str, float]]] = []
    t_end = time.perf_counter() + seconds
    while True:
        t0, c0 = time.perf_counter(), tree_cpu_s()
        op(len(samples))
        c1 = tree_cpu_s()
        samples.append((time.perf_counter() - t0, {k: c1[k] - c0[k] for k in CPU_PARTS}))
        if time.perf_counter() >= t_end:
            return samples


def row_hash(cols):
    """Per-row 64-bit hash over ``cols`` cast to string (type-independent, so
    an input column and its decoded counterpart hash alike)."""
    from pyspark.sql import functions as F

    return F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\u0000null")) for c in cols])


def hash_aggs(cols, pred=None):
    """Aggregates giving (rows, order-independent content hash) of the rows
    where ``pred`` holds, plus the number of rows scanned."""
    from pyspark.sql import functions as F

    keep = F.lit(True) if pred is None else pred
    return [
        F.count(F.lit(1)).alias("scanned"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("rows"),
        F.sum(F.when(keep, row_hash(cols).cast("decimal(38,0)"))).alias("hash"),
    ]


def table_digest(df, cols=None, pred=None) -> tuple[int, int, str]:
    """(scanned, rows, hash) of ``df`` in one Spark job."""
    cols = list(cols or df.columns)
    r = df.agg(*hash_aggs(cols, pred)).collect()[0]
    return int(r["scanned"]), int(r["rows"] or 0), str(r["hash"] or 0)
