#!/usr/bin/env python
"""Isolated per-op profiler.

For each requested op: one warm-up + N timed runs to the noop sink
(median reported), labelled via setJobDescription, and the
explain("formatted") dumped to plans/<tag>/<op>_<suffix>.txt (not
tracked by git) so the plan evidence matches the recorded timing.
Caches cleared between ops (same discipline as bench.py).

Each op also gets the number of generated classes Spark compiled
(codegen cache misses), for the warm-up (including the plan dump's
build) and for each timed run. The session caches compiled classes,
so a timed run that compiles anything has generated code that differs
per call. And each gets what its build cost (the op function call
that returns the DataFrame, before anything runs), for the warm-up and
for each timed run: the py4j round trips the calling thread made (py4j
sends the release commands of freed JVM handles from its own thread,
whenever Python's GC gets to them; those are left out) and the Spark
jobs the build ran (eager actions such as first(), count() or a
checkpoint), counted by a job group around the call.

Usage:
  python tools/profile_ops.py [--runs N] [--tag dump] [--suffix before]
                              [--no-plans] op1 op2 ...
Prints one JSON line: {"timings": {"op": sec, ...}, "compiles":
{"op": {"warmup": n, "timed": [n, ...]}, ...}, "py4j_calls": {same
shape}, "build_jobs": {same shape}} plus loadavg bracket.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tpc_di_etl_using_pyspark_spark.plans.registry import all_queries  # noqa: E402
from tpc_di_etl_using_pyspark_spark.session import get_spark  # noqa: E402


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("ops", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--tag", default="dump")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument(
        "--bench-protocol",
        action="store_true",
        help="clear caches between OPS only (bench.py/driver discipline: "
        "an op's warm-up run materializes its internal cache()s and the "
        "timed runs reuse them via the CacheManager's canonicalized-plan "
        "match); default clears per RUN (cold-cache isolation)",
    )
    args = ap.parse_args()

    load0 = round(os.getloadavg()[0], 2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("op-profile")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    plan_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.tag,
    )
    if not args.no_plans:
        os.makedirs(plan_dir, exist_ok=True)

    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    # py4j round trips: every command this thread sends
    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    sent = [0]

    def counted(*a, **kw):
        if threading.get_ident() == caller:
            sent[0] += 1
        return send(*a, **kw)

    client.send_command = counted
    out: dict[str, float] = {}
    compiles: dict[str, dict] = {}
    py4j_calls: dict[str, dict] = {}
    build_jobs: dict[str, dict] = {}
    for op in args.ops:
        fn = queries[op]
        spark.catalog.clearCache()
        c0 = compiled.getCount()
        if not args.no_plans:
            with open(
                os.path.join(plan_dir, f"{op}_{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(_formatted_plan(fn(spark, sf_dir)))
        runs = []
        run_compiles = []
        run_py4j = []
        run_jobs = []
        for i in range(args.runs + 1):  # first run is the warm-up
            if not args.bench_protocol:
                spark.catalog.clearCache()
            group = f"profile-build-{op}-{i}"
            sc.setJobGroup(group, f"{op} run{i} build")
            t0 = time.perf_counter()
            n0 = sent[0]
            df = fn(spark, sf_dir)
            run_py4j.append(sent[0] - n0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            run_jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            sc.setJobDescription(f"{op} run{i}")
            df.write.mode("overwrite").format("noop").save()
            if i > 0:
                runs.append(time.perf_counter() - t0)
            c1 = compiled.getCount()
            run_compiles.append(c1 - c0)
            c0 = c1
        sc.setJobDescription(None)
        out[op] = round(statistics.median(runs), 3)
        compiles[op] = {"warmup": run_compiles[0], "timed": run_compiles[1:]}
        py4j_calls[op] = {"warmup": run_py4j[0], "timed": run_py4j[1:]}
        build_jobs[op] = {"warmup": run_jobs[0], "timed": run_jobs[1:]}
        print(
            f"#   {op}: {out[op]}  {[round(r, 3) for r in runs]}  compiles {run_compiles}"
            f"  py4j {run_py4j}  build jobs {run_jobs}",
            file=sys.stderr,
        )

    print(
        json.dumps(
            {
                "timings": out,
                "compiles": compiles,
                "py4j_calls": py4j_calls,
                "build_jobs": build_jobs,
                "loadavg_start": load0,
                "loadavg_end": round(os.getloadavg()[0], 2),
                "sf_dir": sf_dir,
                "runs": args.runs,
            }
        )
    )


if __name__ == "__main__":
    main()
