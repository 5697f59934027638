"""Per-layer tracing for the benchmark's traced passes.

Layers, top down:
- build: the op function call (`plans.*`). py4j round trips are
  counted by wrapping the py4j client's `send_command`; jobs run while
  the plan is built are found by job group.
- library modules called during the build (`LIBRARY`): their public
  functions are wrapped before `plans.registry` is imported, and each
  call runs under its own job group so eager jobs are attributed.
- catalyst: analysis + optimization + planning of the op's DataFrame
  from `queryExecution().tracker().phases()`; node and exchange counts
  from its initial physical plan.
- execute: the sink call; jobs, stages and task metrics read from
  Spark's status store (which works with the UI off), per job group.

Spans (name, start, end, parent, trace id = the op) are kept for the
whole run and written as JSON.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import statistics
import time

PKG = "tpc_di_etl_using_pyspark_spark"
# layer name -> modules whose public functions make up the layer
LIBRARY = {
    "tpcdi.pipeline": ["tpcdi.pipeline"],
    "llm.minhash": ["llm.minhash"],
    "llm.simhash": ["llm.simhash"],
    "llm.similarity": ["llm.similarity"],
    "llm.components": ["llm.components"],
    "sources": ["sources." + m.name for m in pkgutil.iter_modules(
        [os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), PKG, "sources")]
    )],
    "streaming.ops": ["streaming.ops"],
}

_ACTIVE: Tracer | None = None


def install_library_wrappers() -> None:
    """Wrap every public function of the LIBRARY modules. Must run before
    `plans.registry` is imported: the plan modules bind these functions
    by name at import time."""
    for layer, mods in LIBRARY.items():
        for modname in mods:
            mod = importlib.import_module(f"{PKG}.{modname}")
            for name, fn in list(vars(mod).items()):
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__
                    and not name.startswith("_")
                ):
                    setattr(mod, name, _wrap(layer, fn))


def _wrap(layer: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tr = _ACTIVE
        if tr is None or not tr.in_build:
            return fn(*args, **kwargs)
        return tr.library_call(layer, fn, args, kwargs)

    return wrapper


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Tracer:
    def __init__(self, spark, cores: int) -> None:
        global _ACTIVE
        self.spark, self.sc, self.cores = spark, spark.sparkContext, cores
        jvm = self.sc._jvm
        self.jvm, self.gw = jvm, self.sc._gateway
        self.store = self.sc._jsc.sc().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self.spans: list[dict] = []
        self.in_build = False
        self.counting = False
        self.py4j_calls = 0
        self.stack: list[dict] = []
        self.group = None
        self.seq = 0
        client = self.gw._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self.counting:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted
        _ACTIVE = self

    # -- spans ----------------------------------------------------------
    def span(self, name: str, parent: dict | None, trace: str | None, **attrs) -> dict:
        s = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
             "parent": parent["id"] if parent else None, "trace": trace, **attrs}
        self.spans.append(s)
        return s

    def close(self, s: dict) -> dict:
        s["end"] = time.time()
        return s

    def set_group(self, group: str | None) -> None:
        counting, self.counting = self.counting, False
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)
        self.group = group
        self.counting = counting

    # -- build layer ------------------------------------------------------
    def library_call(self, layer: str, fn, args, kwargs):
        self.seq += 1
        outer = self.group
        parent = self.stack[-1]
        s = self.span(f"{layer}.{fn.__name__}", parent, parent["trace"], kind="library",
                      layer=layer, group=f"{self.prefix}|lib|{layer}|{self.seq}")
        self.set_group(s["group"])
        self.stack.append(s)
        try:
            return fn(*args, **kwargs)
        finally:
            self.stack.pop()
            self.close(s)
            self.set_group(outer)

    def build(self, pass_span: dict, trace: str, fn, spark, fixture: str):
        """Run the op function as the build layer; return (span, df)."""
        self.prefix = f"p{pass_span['id']}|{trace}"
        op = self.span("op", pass_span, trace, kind="op")
        b = self.span("build", op, trace, kind="build", group=f"{self.prefix}|build")
        self.set_group(b["group"])
        self.stack = [b]
        self.py4j_calls, self.in_build, self.counting = 0, True, True
        try:
            df = fn(spark, fixture)
        finally:
            self.in_build = self.counting = False
            self.close(b)
            b["py4j_calls"] = self.py4j_calls
        return op, df

    def catalyst(self, op: dict, df) -> None:
        c = self.span("catalyst", op, op["trace"], kind="catalyst")
        self.set_group(f"{self.prefix}|catalyst")
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().treeString()
        phases = qe.tracker().phases()
        ms = 0
        for k in ("analysis", "optimization", "planning"):
            o = phases.get(k)
            if o.isDefined():
                ms += o.get().durationMs()
        self.close(c)
        names = [ln.lstrip(" :+-|").split(" ", 1)[0] for ln in plan.splitlines() if ln.strip()]
        c.update(phase_s=ms / 1000.0,
                 nodes=sum(1 for n in names if n != "AdaptiveSparkPlan"),
                 exchanges=sum(1 for n in names if n.endswith("Exchange")))

    def execute(self, op: dict, sink) -> dict:
        x = self.span("execute", op, op["trace"], kind="execute", group=f"{self.prefix}|execute")
        self.set_group(x["group"])
        try:
            x.update(sink() or {})
        finally:
            self.close(x)
            info = self.sc._jsc.sc().getRDDStorageInfo()
            op["cache_bytes"] = sum(i.memSize() + i.diskSize() for i in info)
            self.set_group(None)
            self.close(op)
        return x

    # -- status store -----------------------------------------------------
    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def harvest(self, pass_span: dict) -> dict:
        """Attach the pass's Spark jobs and stages to its spans (as
        children of the build/library/execute span whose job group ran
        them) and return the pass's per-layer metrics."""
        arr = self.jvm.java.util.ArrayList
        jobs = self._json(self.store.jobsList(None))
        stages = self._json(self.store.stageList(
            arr(), False, False, self.gw.new_array(self.jvm.double, 0), arr()))
        attempts: dict[int, list] = {}
        for s in stages:
            attempts.setdefault(s["stageId"], []).append(s)
        mine = [s for s in self.spans if s["id"] > pass_span["id"]]
        groups = {s["group"]: s for s in mine if s.get("group")}
        m = dict.fromkeys(METRIC_KEYS, 0.0)
        exec_iv: dict[int, list] = {}
        seen_stages: set = set()
        q = self.gw.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        for j in jobs:
            owner = groups.get(j.get("jobGroup"))
            if owner is None or j.get("submissionTime") is None:
                continue
            t0 = j["submissionTime"] / 1000.0
            t1 = (j.get("completionTime") or j["submissionTime"]) / 1000.0
            js = {"id": len(self.spans), "name": f"job {j['jobId']}", "start": t0, "end": t1,
                  "parent": owner["id"], "trace": owner["trace"], "kind": "job",
                  "tasks": j["numTasks"], "failed_tasks": j["numFailedTasks"]}
            self.spans.append(js)
            kind = owner["kind"]
            if kind in ("build", "library"):
                m["plans.eager_jobs"] += 1
                m["plans.eager_job_s"] += t1 - t0
                if kind == "library":
                    m[f"{owner['layer']}.jobs"] += 1
                continue
            if kind != "execute":
                continue
            exec_iv.setdefault(owner["id"], []).append((t0, t1))
            m["exec.jobs"] += 1
            for sid in j["stageIds"]:
                if sid not in attempts or sid in seen_stages:
                    continue
                st = max(attempts[sid], key=lambda a: a["attemptId"])
                if st["status"] == "SKIPPED":
                    continue
                seen_stages.add(sid)
                for a in attempts[sid]:
                    self._stage_metrics(m, a)
                    self.spans.append({
                        "id": len(self.spans), "name": f"stage {sid}.{a['attemptId']}",
                        "start": (a.get("submissionTime") or 0) / 1000.0,
                        "end": (a.get("completionTime") or a.get("submissionTime") or 0) / 1000.0,
                        "parent": js["id"], "trace": js["trace"], "kind": "stage",
                        "tasks": a["numTasks"]})
                if st["numTasks"] >= 2:
                    summ = self._json(self.store.taskSummary(sid, st["attemptId"], q))
                    if summ:
                        med, mx = summ["executorRunTime"]
                        if med > 0:
                            m["exec.skew"] = max(m["exec.skew"], mx / med)
        m["exec.s"] = sum(_union_s(iv) for iv in exec_iv.values())
        for s in mine:
            dur = (s["end"] or s["start"]) - s["start"]
            if s["kind"] == "build":
                m["plans.build_s"] += dur
                m["plans.py4j_calls"] += s["py4j_calls"]
                m["plans.self_s"] += dur - sum(
                    c["end"] - c["start"] for c in mine if c["parent"] == s["id"] and c["kind"] == "library")
            elif s["kind"] == "library":
                m[f"{s['layer']}.calls"] += 1
                m[f"{s['layer']}.self_s"] += dur - sum(
                    c["end"] - c["start"] for c in mine if c["parent"] == s["id"] and c["kind"] == "library")
            elif s["kind"] == "catalyst":
                m["catalyst.s"] += s["phase_s"]
                m["catalyst.nodes"] += s["nodes"]
                m["catalyst.exchanges"] += s["exchanges"]
            elif s["kind"] == "execute":
                m["sink.bytes"] += s.get("bytes", 0)
                m["sink.files"] += s.get("files", 0)
            elif s["kind"] == "op":
                m["cache.bytes"] += s.get("cache_bytes", 0)
        if m["exec.s"] > 0:
            m["exec.core_util"] = m["exec.task_s"] / (m["exec.s"] * self.cores)
        return m

    @staticmethod
    def _stage_metrics(m: dict, st: dict) -> None:
        m["exec.stages"] += 1
        m["exec.tasks"] += st["numTasks"]
        m["exec.failed_tasks"] += st["numFailedTasks"]
        m["exec.task_s"] += st["executorRunTime"] / 1000.0
        m["exec.task_cpu_s"] += st["executorCpuTime"] / 1e9
        m["exec.gc_s"] += st["jvmGcTime"] / 1000.0
        m["exec.shuffle_write_bytes"] += st["shuffleWriteBytes"]
        m["exec.shuffle_read_bytes"] += st["shuffleReadBytes"]
        m["exec.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        if st.get("submissionTime") and st.get("firstTaskLaunchedTime"):
            m["exec.stage_wait_s"] += (st["firstTaskLaunchedTime"] - st["submissionTime"]) / 1000.0


# Every per-layer metric with its unit, in report order.
LAYER_METRICS: dict[str, str] = {
    "session.start_s": "s",
    "jvm.jit_cpu_s": "s",
    "plans.build_s": "s",
    "plans.self_s": "s",
    "plans.py4j_calls": "count",
    "plans.eager_jobs": "count",
    "plans.eager_job_s": "s",
    **{f"{layer}.{k}": u for layer in LIBRARY for k, u in (("calls", "count"), ("self_s", "s"), ("jobs", "count"))},
    "catalyst.s": "s",
    "catalyst.nodes": "count",
    "catalyst.exchanges": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.task_cpu_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.stage_wait_s": "s",
    "exec.core_util": "ratio",
    "exec.skew": "ratio",
    "exec.gc_s": "s",
    "exec.failed_tasks": "count",
    "sink.bytes": "bytes",
    "sink.files": "count",
    "cache.bytes": "bytes",
    "trace.pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s",
}
METRIC_KEYS = [k for k in LAYER_METRICS if not k.startswith(("session.", "jvm.", "trace."))]


def median_metrics(per_pass: list[dict]) -> dict[str, float]:
    return {k: statistics.median(p[k] for p in per_pass) for k in METRIC_KEYS}
