#!/usr/bin/env python3
"""Repo benchmark: registered ops as named workloads over seeded inputs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run: generate the workload's inputs from the seed, start the
engine's session on local[nproc], run untimed warm-up passes, then
timed passes (closed loop, one client: each op starts after
the previous one finished) for S seconds, check every op's output
against its DuckDB oracle off the clock, and print one JSON line last.
With --trace 0 that line carries the end-to-end metrics; with
--trace 1 timed passes alternate untraced/traced and the line carries
the per-layer metrics, and the spans go to .work/trace-*.json.

Everything the run writes stays under perfbench/.work. NOTES.md
describes the metrics and workloads.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PKG = "tpc_di_etl_using_pyspark_spark"

# Untimed warm-up: passes run until one is within STEADY of the pass
# before it. The first pass is cold (JVM class loading and code
# generation for every op) and the second is still 10-25% slower than
# the third, so warm-up is three passes in practice; MAX_WARMUP bounds
# it so that one run fits its time budget.
STEADY = 0.10
MAX_WARMUP = 3
# Options of the Spark JVM. A fixed young generation: with G1's adaptive
# sizing the young generation follows heap expansions, whose timing
# differs run to run, and the JVM's peak RSS swung by 35% between runs
# of the same inputs; with it fixed, peak RSS follows what the old
# generation holds. JIT compiler threads that never exit: cpu_s leaves
# out their CPU (see main), which must then be read while they live.
JVM_OPTS = "-Xmn512m -XX:-UseDynamicNumberOfCompilerThreads"
# The JVM heap (spark.driver.memory). The inputs are a few MB; the engine's 8g default
# only lets the heap (and peak RSS) grow with GC timing.
HEAP = "2g"
# timed passes per run, at least (pass_s and cpu_s are their medians)
MIN_TIMED = 2


def _args() -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _environment(nproc: int) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    work dir, before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    for d in ("tmp", "spark-local", "scratch", "land"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the short-lived launcher JVM of spark-submit, too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"),
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_OPTS}"),
        "pyspark-shell",
    ])


def _redirect_scratch() -> None:
    """The engine's write-then-read-back ops (FINWIRE, HR csv, merge
    upsert) keep their files in a pid-scoped scratch dir; keep it inside
    the work dir, same layout."""
    from tpc_di_etl_using_pyspark_spark.plans import core_scans, tpcdi_ops

    def scratch(d: str, op: str) -> str:
        tag = os.path.basename(os.path.normpath(d)) or "sf"
        path = os.path.join(WORK, "scratch", f"p{os.getpid()}", tag, op)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path

    core_scans._scratch = tpcdi_ops._scratch = scratch


def _inputs(name: str, wl, seed: int, key_domains: dict) -> list[tuple[str, dict]]:
    """[(fixture dir, {table: {rows, bytes}})], generated once per
    (generator source, workload inputs, seed) and reused after."""
    import datagen

    with open(datagen.__file__, "rb") as f:
        key = hashlib.sha1(f.read() + repr((wl.inputs, seed)).encode()).hexdigest()[:12]
    base = os.path.join(WORK, "inputs", f"{name}-s{seed}-{key}")
    marker = os.path.join(base, "manifest.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return [(os.path.join(base, d), m) for d, m in json.load(f)]
    shutil.rmtree(base, ignore_errors=True)
    inp = wl.inputs
    reps = datagen.replicas(seed, inp.replicas, inp.sf, key_domains, name, inp.overrides)
    sets = [(f"slice{i}", datagen.merge([r])) for i, r in enumerate(reps)] if inp.split \
        else [("data", datagen.merge(reps))]
    out = [(d, datagen.write_tables(tables, os.path.join(base, d))) for d, tables in sets]
    with open(marker, "w") as f:
        json.dump(out, f)
    return [(os.path.join(base, d), m) for d, m in out]


class Bench:
    def __init__(self, spark, queries, wl, name, fixtures) -> None:
        self.spark, self.queries, self.wl, self.name = spark, queries, wl, name
        self.fixtures = fixtures
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.outputs: dict[tuple[str, str], tuple] = {}
        self.op_s: dict[str, list[float]] = {}
        self.record_ops = False

    def items(self):
        for fixture in self.fixtures:
            for op in self.wl.ops:
                yield fixture, op

    def trace_id(self, fixture: str, op: str) -> str:
        return op if len(self.fixtures) == 1 else f"{op}@{os.path.basename(fixture)}"

    def land_dir(self, fixture: str, op: str) -> str:
        return os.path.join(WORK, "land", self.name, os.path.basename(fixture), op)

    def sink(self, df, fixture: str, op: str, collect: bool) -> dict | None:
        if collect:
            from gate import multiset

            self.outputs[(fixture, op)] = multiset(df.columns, df.collect())
        elif self.wl.sink == "parquet":
            path = self.land_dir(fixture, op)
            df.write.mode("overwrite").parquet(path)
            files = [f for f in os.listdir(path) if f.endswith(".parquet")]
            return {"files": len(files),
                    "bytes": sum(os.path.getsize(os.path.join(path, f)) for f in files)}
        else:
            df.write.mode("overwrite").format("noop").save()
        return None

    def failure(self, fixture: str, op: str, e: BaseException) -> None:
        self.failed += 1
        self.errors.append(f"{self.trace_id(fixture, op)}: {type(e).__name__}: {str(e)[:300]}")

    def run_pass(self, collect: bool = False) -> float:
        t0 = time.perf_counter()
        for fixture, op in self.items():
            self.attempted += 1
            t1 = time.perf_counter()
            try:
                self.sink(self.queries[op](self.spark, fixture), fixture, op, collect)
            except Exception as e:  # noqa: BLE001 — a failed op is a measured outcome
                self.failure(fixture, op, e)
            finally:
                self.spark.catalog.clearCache()
            if self.record_ops:
                self.op_s.setdefault(op, []).append(time.perf_counter() - t1)
        return time.perf_counter() - t0

    def traced_pass(self, tracer) -> dict:
        ps = tracer.span("pass", None, None, kind="pass")
        for fixture, op in self.items():
            self.attempted += 1
            try:
                span, df = tracer.build(ps, self.trace_id(fixture, op), self.queries[op],
                                        self.spark, fixture)
                tracer.catalyst(span, df)
                tracer.execute(span, lambda: self.sink(df, fixture, op, False))
            except Exception as e:  # noqa: BLE001 — a failed op is a measured outcome
                self.failure(fixture, op, e)
            finally:
                self.spark.catalog.clearCache()
        tracer.set_group(None)
        return tracer.close(ps)

    def check(self, oracles: dict) -> bool:
        """Off-the-clock gate: each op's output (the collected warm-up
        output, or the parquet the last pass landed) against its DuckDB
        oracle. A mismatch counts as a failed execution. Returns whether
        the gate's self-check held: a corrupted output must count too."""
        from gate import Oracle, corrupt, mismatch

        selfcheck = None
        for fixture in self.fixtures:
            oracle = Oracle(fixture)
            try:
                for op in self.wl.ops:
                    if self.wl.sink == "parquet":
                        path = self.land_dir(fixture, op)
                        got = oracle.landed(path) if os.path.isdir(path) else None
                    else:
                        got = self.outputs.get((fixture, op))
                    if got is None:  # the op raised; already counted
                        continue
                    want = oracle.expected(oracles[op])
                    why = mismatch(got, want)
                    if why is not None:
                        self.failed += 1
                        self.errors.append(f"{self.trace_id(fixture, op)}: oracle mismatch: {why}")
                    if selfcheck is None:
                        before = self.failed
                        self.failed += mismatch(corrupt(got), want) is not None
                        selfcheck = self.failed == before + 1
                        self.failed = before
            finally:
                oracle.close()
        return bool(selfcheck)


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM, then wait for every process we started."""
    import procstat
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — escalate below
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(procstat.tree()) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in procstat.tree()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main() -> None:
    if not os.path.isdir(os.path.join(ROOT, PKG)) or not os.path.isfile(
        os.path.join(ROOT, "tools", "parity_sweep.py")
    ):
        print(f"error: engine sources ({PKG}/, tools/) not found in {ROOT}", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    args = _args()

    import procstat
    from workloads import WORKLOADS

    start = procstat.process_start_epoch()
    nproc = len(os.sched_getaffinity(0))
    host = {"nproc": nproc, "loadavg_start": os.getloadavg()}
    _environment(nproc)
    wl = WORKLOADS[args.workload]

    if args.trace:
        import layers

        layers.install_library_wrappers()
    import __spark_entry__
    from tools.scale_probe import KEY_DOMAINS
    from tpc_di_etl_using_pyspark_spark.plans.registry import all_queries
    from tpc_di_etl_using_pyspark_spark.session import get_spark

    t = time.time()
    inputs = _inputs(args.workload, wl, args.seed, KEY_DOMAINS)
    gen_s = time.time() - t
    rows = sum(m["rows"] for _, tables in inputs for m in tables.values())

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        _redirect_scratch()
        bench = Bench(spark, all_queries(), wl, args.workload, [d for d, _ in inputs])
        tracer = layers.Tracer(spark, nproc) if args.trace else None

        rss_by_name: dict[str, float] = {}

        def sample():
            """(CPU, JIT compiler CPU, peak RSS) of the process tree."""
            nonlocal rss_by_name
            pids = procstat.tree()
            by_name = procstat.peak_rss_by_name(pids)
            if sum(by_name.values()) > sum(rss_by_name.values()):
                rss_by_name = by_name
            return procstat.cpu_seconds(pids), procstat.jit_cpu_seconds(pids), sum(by_name.values())

        # warm-up, untimed, until a pass is within STEADY of the one
        # before (at most MAX_WARMUP passes); the first pass of a noop
        # workload collects the outputs the gate checks later
        warm: list[float] = []
        peak = 0.0
        while len(warm) < MAX_WARMUP and (
            len(warm) < 2 or warm[-1] < warm[-2] * (1 - STEADY)
        ):
            warm.append(bench.run_pass(collect=not warm and wl.sink == "noop"))
            peak = max(peak, sample()[2])

        setup_s = time.time() - start - gen_s
        timed: list[float] = []
        # CPU per pass without the JIT compiler's: after warm-up the
        # compiler still takes 2-10 CPU-seconds a pass, falling pass by
        # pass, and it swung cpu_s by 10% between runs; it is reported
        # beside (jit_cpu_s per run, jvm.jit_cpu_s per layer)
        cpu: list[float] = []
        jit: list[float] = []
        traced: list[dict] = []
        layer_passes: list[dict] = []
        bench.record_ops = True
        steal0 = procstat.steal_seconds()
        w0 = time.perf_counter()
        while (time.perf_counter() - w0 < args.seconds or len(timed) < MIN_TIMED
               or (tracer and not traced)):
            if tracer is not None and len(traced) < len(timed):
                ps = bench.traced_pass(tracer)
                traced.append(ps)
                layer_passes.append(tracer.harvest(ps))
                continue
            c0, j0, _ = sample()
            timed.append(bench.run_pass())
            c1, j1, rss = sample()
            cpu.append((c1 - c0) - (j1 - j0))
            jit.append(j1 - j0)
            peak = max(peak, rss)

        host["steal_s_timed"] = procstat.steal_seconds() - steal0
        t = time.perf_counter()
        selfcheck = bench.check(__spark_entry__.oracle_sql())
        gate_s = time.perf_counter() - t
        if tracer is not None:
            # bench.py's probe runs its query four times, about 10 s:
            # on every run it would not fit the time budget
            from bench import calibration_sec

            host["calibration_sec"] = calibration_sec(spark)
    finally:
        t = time.perf_counter()
        _shutdown(spark)
        shutdown_s = time.perf_counter() - t
    host["loadavg_end"] = os.getloadavg()

    pass_s = statistics.median(timed)
    if tracer is None:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (pass_s, "s"),
            "rows_per_s": (rows / pass_s, "1/s"),
            "cpu_s": (statistics.median(cpu), "s"),
            "peak_rss_mb": (peak, "MB"),
            "op_ok_frac": (1.0 - bench.failed / bench.attempted, "ratio"),
        }
    else:
        traced_s = statistics.median(p["end"] - p["start"] for p in traced)
        values = {
            "session.start_s": session_s,
            "jvm.jit_cpu_s": statistics.median(jit),
            **layers.median_metrics(layer_passes),
            "trace.pass_s": traced_s,
            "trace.untraced_pass_s": pass_s,
            "trace.overhead_s": traced_s - pass_s,
        }
        metrics = {k: (values[k], u) for k, u in layers.LAYER_METRICS.items()}
        with open(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "host": host,
                       "metrics": values, "spans": tracer.spans}, f)

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "host": host,
        "input_rows": rows, "input_bytes": sum(m["bytes"] for _, tb in inputs for m in tb.values()),
        "gen_s": gen_s, "session_s": session_s, "gate_s": gate_s, "shutdown_s": shutdown_s,
        "warmup_s": warm, "passes_s": timed,
        "cpu_s": cpu, "jit_cpu_s": jit,
        "op_s": {op: statistics.median(v) for op, v in bench.op_s.items()},
        "peak_rss_mb_by_process": rss_by_name,
        "op_fail_frac": bench.failed / bench.attempted,
        "gate_selfcheck": selfcheck, "errors": bench.errors,
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(detail, f)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": bench.failed == 0 and selfcheck,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
