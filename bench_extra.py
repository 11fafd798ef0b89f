#!/usr/bin/env python
"""Extra benchmarks for the optimization rounds (bench.py is frozen for
measurement — this file holds the guide-§1 instrumentation):

* per-query isolation with the noop sink (times the computation, not the
  sink) and labelled jobs;
* ``--explain DIR --suffix before|after``: capture ``explain("formatted")``
  for each query into DIR/<query>_<suffix>.txt;
* encode phase timing via B2T_TIMING=1 (see manifest._phase_timer).

Usage:
    python bench_extra.py [--queries a,b,c] [--passes N] \
        [--explain plans/r06 --suffix before]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import HEADLINE, warm_session  # noqa: E402  (frozen harness reused)
from bids2table_spark.plans import plan_str  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=",".join(HEADLINE))
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--explain", default=None, help="dir for explain dumps")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--encode", action="store_true", help="run encode_bench too")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from bids2table_spark.session import get_spark

    spark = get_spark(app="b2t-bench-extra", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    names = [n for n in args.queries.split(",") if n]
    warm_session(spark)

    if args.explain:
        os.makedirs(os.path.join(REPO, args.explain), exist_ok=True)

    samples: dict[str, list[float]] = {n: [] for n in names}
    for p in range(args.passes):
        spark.catalog.clearCache()
        for name in names:
            spark.sparkContext.setJobDescription(f"{name} pass{p}")
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(round(time.time() - t0, 3))
            if args.explain and p == 0:
                path = os.path.join(REPO, args.explain, f"{name}_{args.suffix}.txt")
                with open(path, "w") as fh:
                    fh.write(plan_str(df))
            spark.sparkContext.setJobDescription(None)

    out = {
        "sf_dir": sf_dir,
        "cpus": cpus,
        "queries_min": {n: min(v) for n, v in samples.items()},
        "samples": samples,
    }
    if args.encode:
        from bench import encode_bench

        out["encode"] = encode_bench(spark, int(os.environ.get("B2T_CONV", "20000")))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
