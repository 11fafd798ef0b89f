#!/usr/bin/env python3
"""bids2table_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload bulk_encode --seed 1 --seconds 16 --trace 0

Drives only the public API, from one process, on local[<cores>], one call
after another (a closed loop with one client).  Prints a readable report,
then as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones in BENCHMARK.json; ``--trace 1`` runs
untraced, traced, traced and untraced half windows, writes the spans to
``.perfbench_work/spans/`` and reports the per-layer metrics and the
tracing overhead instead.

Everything it writes (Spark scratch, tables, spans) stays under
``.perfbench_work/`` at the root of the checkout it runs from.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "4g"  # the library's 48g default exceeds a 15 GB host


def configure_env(run_dir: str, cpus: int) -> None:
    """Pin the session's size and keep every file Spark, the JVM and the
    Python workers write inside the checkout.  Must run before the JVM
    starts: the workers inherit this environment from it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # run from any directory: Spark's Python workers import the library too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process this run
    started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    from harness import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF from its parent
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid())[1:] and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def set_tracing(tracer, on: bool) -> None:
    """Install (or remove) the span wrappers on the library's modules."""
    from workloads import INSTRUMENTED

    tracer.restore()
    tracer.enabled = on
    for spec in INSTRUMENTED:
        tracer.instrument(*spec)


def layer_metrics(tracer, wl, warm_s: float, overhead: dict, replayed: dict) -> dict:
    from harness import median

    def spans(name):
        for phase in ("window", "setup"):
            got = tracer.of(name, phase)
            if got:
                return got
        return tracer.of(name)

    m = {
        "session.warmup_s": warm_s,
        "trace.overhead_s": overhead["op_s_p50"],
        "trace.overhead_cpu_s": overhead["op_cpu_s"],
    }
    from workloads import INSTRUMENTED

    for name in ["session.get_spark", "synth.synth_transcripts"] + [spec[2] for spec in INSTRUMENTED]:
        got = spans(name)
        m[f"{name}_s"] = median([s["end"] - s["start"] for s in got])
        m[f"{name}.jobs"] = median([s["jobs"] for s in got])
        m[f"{name}.tasks"] = median([s["tasks"] for s in got])
        m[f"{name}.failed_tasks"] = sum(s["failed_tasks"] for s in got)
    m.update(replayed)
    m.update(wl.layer_metrics())
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    sys.path.insert(0, ROOT)
    import bids2table_spark

    if not os.path.abspath(bids2table_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"bids2table_spark imported from outside {ROOT}: {bids2table_spark.__file__}")
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    configure_env(run_dir, cpus)

    from harness import RssSampler, Tracer
    from workloads import WORKLOADS

    from bids2table_spark import session

    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = session.get_spark(app=f"perfbench-{args.workload}")
            session_s = time.perf_counter() - t0
            tracer.bind(spark.sparkContext)
            set_tracing(tracer, bool(args.trace))
            wl = WORKLOADS[args.workload](spark, tracer, os.path.join(run_dir, "data"), args.seed)
            t0 = time.perf_counter()
            wl.setup()
            build_s = time.perf_counter() - t0
            tracer.phase = "warm"
            t0 = time.perf_counter()
            wl.warm()
            warm_s = time.perf_counter() - t0
            overhead = None
            if args.trace:
                # untraced, traced, traced, untraced, each half a window:
                # the JVM keeps getting faster for several operations, and
                # this order cancels a steady drift out of the
                # traced-minus-untraced difference
                runs = {}
                for tag in ("untraced", "window", "window2", "untraced2"):
                    set_tracing(tracer, tag.startswith("window"))
                    tracer.phase = tag.rstrip("2")
                    runs[tag] = wl.window(args.seconds / 2)
                set_tracing(tracer, True)
                res = runs["untraced2"]
                overhead = {
                    k: (runs["window"][k] + runs["window2"][k] - runs["untraced"][k] - runs["untraced2"][k]) / 2
                    for k in ("op_s_p50", "op_cpu_s")
                }
            else:
                tracer.phase = "window"
                res = wl.window(args.seconds)
            tracer.phase = "verify"
            wl.verify()
            replayed = {}
            if args.trace:
                from replay import metric_names, replay

                replayed = dict.fromkeys(metric_names(), 0.0)
                if wl.blocks_dir():
                    replayed.update(replay(wl.blocks_dir(), args.seed, wl.check))
            tracer.restore()
            stop_spark(spark)
            spark = None
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    setup_s = session_s + build_s + warm_s
    failed = wl.op_failures + sum(not ok for _, ok, _ in wl.checks)
    attempted = wl.ops + len(wl.checks)
    unit = wl.rows_unit
    print(f"# workload {args.workload}  seed {args.seed}  window {args.seconds:g} s  "
          f"local[{cpus}]  driver memory {DRIVER_MEM}  trace {args.trace}")
    print(f"setup_s = {setup_s:.3f} s  (session {session_s:.3f} s + inputs {build_s:.3f} s + warm-up {warm_s:.3f} s)")
    print(f"op_cpu_s = {res['op_cpu_s']:.4f} cpu_s  (CPU per operation of the driver, JVM and Python "
          "workers, over the window; by part: " + ", ".join(f"{k} {v:.3f}" for k, v in res["cpu_parts"].items()) + ")")
    for i, c in enumerate(res["cpu_per_op"]):
        print(f"#   op {i}: " + " ".join(f"{k} {v:.2f}" for k, v in c.items()) + f"  total {sum(c.values()):.2f}")
    print(f"op_s_p50 = {res['op_s_p50']:.4f} s  (wall, {len(res['latencies'])} operations: "
          + " ".join(f"{x:.3f}" for x in res["latencies"]) + ")")
    if res["op_tail"]:
        pct, val = res["op_tail"]
        print(f"op_s_tail = {val:.4f} s  (p{pct:.1f} of {len(res['latencies'])} operations)")
    else:
        print(f"op_s_tail = n/a  ({len(res['latencies'])} operations; a tail needs at least 11)")
    print(f"rows_per_s = {res['rows_per_s']:.1f} {unit}/s  (wall)")
    for name, (val, u) in wl.report.items():
        print(f"{name} = {val:.4f} {u}")
    print(f"worker_peak_rss_mb = {rss.peak_worker_kb / 1024:.1f} MB  (largest Python worker; up to "
          f"{rss.peak_workers} Python processes under the JVM; peaks: all Python "
          f"{rss.peak_py_kb / 1024:.1f} MB, JVM {rss.peak_jvm_kb / 1024:.1f} MB, whole tree {rss.peak_mb:.1f} MB)")
    print(f"error_rate = {failed / max(attempted, 1):.4f}  ({failed} failed of {attempted} operations and checks)")
    for name, ok, detail in wl.checks:
        if not ok:
            print(f"FAILED {name}: {detail}")

    if args.trace:
        path = os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.jsonl")
        tracer.write(path)
        print(f"# {len(tracer.spans)} spans written to {os.path.relpath(path, ROOT)}")
        print(f"# tracing overhead (traced minus untraced windows): op_s_p50 {overhead['op_s_p50']:+.4f} s, "
              f"op_cpu_s {overhead['op_cpu_s']:+.4f} cpu_s")
        values = layer_metrics(tracer, wl, warm_s, overhead, replayed)
        metrics = {}
        for m in spec["per_layer"]:
            metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            print(f"{m['name']} = {metrics[m['name']]['value']:.4f} {m['unit']}")
    else:
        values = {"setup_s": setup_s, "op_cpu_s": res["op_cpu_s"],
                  "worker_peak_rss_mb": rss.peak_worker_kb / 1024}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
