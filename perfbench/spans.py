"""Spans around distill_spark's public entry points, with Spark engine
counters per span.

Nothing here edits the package: ``Tracer.install`` swaps each listed
function (and every module-level alias other distill_spark modules
imported) for a wrapper that opens a span. A span records name, start,
end, parent and op id, and sets the Spark job group to its own id, so
each job lands on the innermost open span. ``SparkCounters`` reads the
jobs and stages back from the SparkContext status store, which Spark
keeps even with the UI disabled. ``UdfProfile`` reads the time spent in
one function inside the pandas-UDF workers from Spark's UDF profiler.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time

RUNNING_WAIT_S = 30.0

# (module, attribute, span name). An attribute "Cls.meth" wraps a method.
TARGETS = [
    ("distill_spark.api", "ToolSurface.deduplicate_chunks", "api"),
    ("distill_spark.api", "ToolSurface.store_memory", "api"),
    ("distill_spark.api", "ToolSurface.recall_memory", "api"),
    ("distill_spark.api", "ToolSurface.push_session", "api"),
    ("distill_spark.api", "ToolSurface.session_context", "api"),
    ("distill_spark.plans.pipeline", "run_pipeline", "pipeline"),
    ("distill_spark.plans.dedupe", "dedupe", "dedupe"),
    ("distill_spark.operators.cluster", "similarity_edges",
     "cluster.similarity_edges"),
    ("distill_spark.operators.cluster", "connected_components",
     "cluster.connected_components"),
    ("distill_spark.operators.select", "select_representatives",
     "select.select_representatives"),
    ("distill_spark.operators.mmr", "mmr_rerank", "mmr"),
    ("distill_spark.operators.kmeans_dedup", "kmeans_dedup", "kmeans"),
    ("distill_spark.memory", "MemoryStore.store_batch", "memory.store_batch"),
    ("distill_spark.memory", "MemoryStore.recall", "memory.recall"),
    ("distill_spark.session", "push_batch", "session.push_batch"),
    ("distill_spark.session", "session_context", "session.session_context"),
    ("distill_spark.graph", "blast_radius", "graph.blast_radius"),
    ("distill_spark.operators.pagerank", "pagerank", "pagerank"),
]


class Tracer:
    """In-memory span recorder. Inactive until ``active`` is set, so one
    process can alternate traced and untraced ops."""

    def __init__(self, sc):
        self.sc = sc
        self.active = False
        self.op = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def span(self, name: str) -> "_Span":
        return _Span(self, name)

    def _open(self, name: str) -> dict:
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"pb{len(self.spans)}", "name": name,
               "parent": parent["id"] if parent else None, "op": self.op,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.time()
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            rec = self._open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self._close(rec)
            rec["result"] = out
            return out
        return traced

    def install(self, targets=TARGETS) -> None:
        """Wrap every target, including the aliases other distill_spark
        modules hold from ``from x import f``."""
        for mod_name, attr, name in targets:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = owner.__dict__[leaf]
            wrapped = self.wrap(orig, name)
            setattr(owner, leaf, wrapped)
            if not path:
                for mod in list(sys.modules.values()):
                    if not getattr(mod, "__name__", "").startswith("distill_spark"):
                        continue
                    for k, v in list(vars(mod).items()):
                        if v is orig:
                            setattr(mod, k, wrapped)

    def wrap_attr(self, obj, attr: str, name: str) -> None:
        """Wrap an instance attribute (e.g. a ToolSurface's embedder)."""
        setattr(obj, attr, self.wrap(getattr(obj, attr), name))


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.rec = tracer, name, None

    def __enter__(self):
        if self.tracer.active:
            self.rec = self.tracer._open(self.name)
        return self.rec

    def __exit__(self, *exc):
        if self.rec is not None:
            self.tracer._close(self.rec)
        return False


class UdfProfile:
    """Time inside one Python function that runs in the pandas-UDF
    workers, read from Spark's own UDF profiler (``perf``, cProfile in
    the worker, results shipped back with the task). Turned on only
    while a traced op runs."""

    CONF = "spark.sql.pyspark.udf.profiler"

    def __init__(self, spark, module_file: str, func: str):
        self.spark, self.file, self.func = spark, module_file, func

    def start(self) -> None:
        self.spark.profile.clear()
        self.spark.conf.set(self.CONF, "perf")

    def stop(self) -> float:
        """Seconds spent in the function (cumulative, all workers)."""
        self.spark.conf.unset(self.CONF)
        total = 0.0
        for st in self.spark._profiler_collector._perf_profile_results.values():
            for (path, _, name), (_, _, _, cum, _) in st.stats.items():
                if name == self.func and path.endswith(self.file):
                    total += cum
        self.spark.profile.clear()
        return total


def self_seconds(spans: list[dict]) -> dict[str, float]:
    """Span id -> duration minus the part its direct children cover
    (children run one after another on the one driver thread)."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] in child:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


class SparkCounters:
    """Finished jobs and their stages from the SparkContext status store.

    ``harvest`` returns each job started since the previous call once,
    and counts each stage once, under the first job that lists it (a
    later job lists a reused shuffle stage as skipped). It first waits
    for running jobs to end: a broadcast an op started but no longer
    needed can still be running when the op returns, and counting it
    half-done would make the counts depend on timing."""

    def __init__(self, sc):
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()

    def harvest(self) -> list[dict]:
        # the status store is fed by the listener bus: drain it first so
        # the jobs that just returned are complete in the store
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        deadline = time.monotonic() + RUNNING_WAIT_S
        while time.monotonic() < deadline and any(
                jobs.apply(i).status().toString() == "RUNNING"
                for i in range(jobs.size())
                if jobs.apply(i).jobId() not in self._seen_jobs):
            time.sleep(0.05)
            self._bus.waitUntilEmpty()
            jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid in self._seen_jobs:
                continue
            self._seen_jobs.add(jid)
            group = j.jobGroup()
            rec = {"job": jid,
                   "group": group.get() if group.isDefined() else None,
                   "submit": _epoch(j.submissionTime()),
                   "end": _epoch(j.completionTime()),
                   "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                   "executor_cpu_s": 0.0, "jvm_gc_s": 0.0,
                   "shuffle_write_bytes": 0, "stage_tasks": []}
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in self._seen_stages:
                    continue
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue  # skipped here: ran (or will run) elsewhere
                self._seen_stages.add(sid)
                rec["stages"] += 1
                rec["tasks"] += st.numCompleteTasks()
                rec["stage_tasks"].append([st.name(), st.numCompleteTasks()])
                rec["executor_run_s"] += st.executorRunTime() / 1e3
                rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
                rec["jvm_gc_s"] += st.jvmGcTime() / 1e3
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out.append(rec)
        return out


def _epoch(opt_date):
    return opt_date.get().getTime() / 1e3 if opt_date.isDefined() else None


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
