"""Seeded end-to-end benchmark for distill_spark.

    python3 perfbench/run.py --workload serving --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke --seed 1

Run from the root of a checkout. One process, one Spark session on
local[<cpus>], one client with one op in flight. The workload's inputs
come from --seed alone; every op's output is checked against the
generator's ground truth. A run times whole cycles (one op of every
kind the workload runs) until --seconds is used, and at least one. With
--trace 0 the last stdout line is the end-to-end result; with --trace 1
the run alternates traced and untraced cycles and reports per-layer
metrics from the traced ones, plus the tracing overhead. --smoke runs
every op family once at tiny sizes with all checks and tracing on. Exit
code 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"

END_TO_END = {  # name -> unit
    "setup_s": "s", "cycle_s": "s", "cycle_cpu_s": "s"}

# per-layer metric -> (span names, what): wall = time in the calls,
# self = wall minus child spans, jobs = jobs whose innermost span it is
LAYER = {
    "api.self_s": (("api",), "self"),
    "api.jobs": (("api",), "jobs"),
    "dedupe.self_s": (("dedupe",), "self"),
    "dedupe.jobs": (("dedupe",), "jobs"),
    "pipeline.self_s": (("pipeline",), "self"),
    "pipeline.sink_s": (("pipeline.sink",), "wall"),
    "cluster.similarity_edges_s": (("cluster.similarity_edges",), "wall"),
    "cluster.similarity_edges_jobs": (("cluster.similarity_edges",), "jobs"),
    "cluster.connected_components_s": (("cluster.connected_components",), "wall"),
    "cluster.connected_components_jobs": (("cluster.connected_components",), "jobs"),
    "select.select_representatives_s": (("select.select_representatives",), "wall"),
    "mmr.mmr_rerank_s": (("mmr",), "wall"),
    "mmr.jobs": (("mmr",), "jobs"),
    "kmeans.call_s": (("kmeans",), "wall"),
    "kmeans.action_s": (("kmeans.action",), "wall"),
    "kmeans.jobs": (("kmeans", "kmeans.action"), "jobs"),
    "memory.store_batch_s": (("memory.store_batch",), "wall"),
    "memory.store_batch_jobs": (("memory.store_batch",), "jobs"),
    "memory.recall_s": (("memory.recall",), "wall"),
    "memory.recall_jobs": (("memory.recall",), "jobs"),
    "session.push_batch_s": (("session.push_batch",), "wall"),
    "session.session_context_s": (("session.session_context",), "wall"),
    "embed.s": (("embed",), "wall"),
    "graph.blast_radius_s": (("graph.blast_radius", "graph.collect"), "wall"),
    "graph.blast_radius_jobs": (("graph.blast_radius", "graph.collect"), "jobs"),
    "pagerank.s": (("pagerank", "pagerank.collect"), "wall"),
    "pagerank.jobs": (("pagerank", "pagerank.collect"), "jobs"),
}
SPARK = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
         "jvm_gc_s", "shuffle_write_bytes")
OTHER_LAYER = ("runtime.get_spark_s", "compress.extractive_s", "cluster.edges",
               "memory.bytes_written_per_user_byte", "memory.snapshot_files",
               "spark.driver_s", "trace.overhead_s")


def unit_of(metric: str) -> str:
    if metric.endswith(("_s", ".s")):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric == "memory.bytes_written_per_user_byte":
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    return list(LAYER) + [f"spark.{k}" for k in SPARK] + list(OTHER_LAYER)


def tail(values: list[float]):
    """Highest percentile with at least ten samples beyond it."""
    if len(values) < 11:
        return None, None
    v = sorted(values)
    k = len(v) - 11
    return v[k], 100.0 * (k + 1) / len(v)


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, the JVM and the Python
    workers (live ones from /proc, ended ones through their parents)."""
    total = sum(os.times()[:4])
    ticks = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return total + ticks / os.sysconf("SC_CLK_TCK")


def files_by_inode(path: str) -> dict[int, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[st.st_ino] = st.st_size
    return out


class Run:
    """One Spark session driving one or more workloads."""

    def __init__(self, work: str, trace: bool):
        from distill_spark.runtime import get_spark

        self.work, self.trace = work, trace
        t = time.perf_counter()
        tmp = os.path.join(work, "tmp")
        self.spark = get_spark(extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}"
                " -XX:-UsePerfData",
        })
        self.session_s = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.jvm_pid = self.sc._gateway.proc.pid
        self.tracer = self.counters = self.profile = None
        if trace:
            import workloads
            from spans import SparkCounters, Tracer, UdfProfile

            self.tracer = Tracer(self.sc)
            self.tracer.install()
            workloads.span = self.tracer.span
            self.counters = SparkCounters(self.sc)
            self.profile = UdfProfile(self.spark, "textproc.py",
                                      "extractive_compress")

    def workload(self, name: str, seed: int, seconds: float, smoke: bool) -> dict:
        from workloads import FAMILIES, WORKLOADS

        names = WORKLOADS[name]
        fams = [FAMILIES[f](self.spark, os.path.join(self.work, name, f),
                            seed, smoke, len(names) == 1) for f in names]
        setup_parts = {"session": self.session_s}
        for fam in fams:
            t = time.perf_counter()
            fam.build()
            setup_parts[fam.name] = time.perf_counter() - t
            surface = getattr(fam, "surface", None)
            if self.tracer is not None and surface is not None:
                self.tracer.wrap_attr(surface, "_embed", "embed")
        if self.counters is not None:
            self.counters.harvest()  # set-up jobs belong to no op
        setup_s = sum(setup_parts.values())

        cycle = [(fam, kind) for fam in fams for kind in fam.kinds]
        cycles, fails = [], []
        steal0, t0 = steal_ticks(), time.perf_counter()
        while True:
            # a traced run is three cycles: the first (it pays first-use
            # costs, like the one an untraced run times) untraced, then
            # a traced one and an untraced one on the same input mix
            traced = self.trace and len(cycles) == 1
            rows = [self._op(fam, kind, len(cycles), traced)
                    for fam, kind in cycle]
            cycles.append({"traced": traced, "rows": rows,
                           "wall": sum(r["wall"] for r in rows),
                           "cpu": sum(r["cpu"] for r in rows)})
            for r in rows:
                fails += r["fails"]
            if self.trace:
                if len(cycles) == 3:
                    break
                continue
            # stop before a cycle that would likely overrun the window
            left = seconds - (time.perf_counter() - t0)
            if left < statistics.median(c["wall"] for c in cycles):
                break
        window_s = time.perf_counter() - t0
        steal_s = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
        return {"workload": name, "seed": seed, "cycles": cycles,
                "fails": fails, "setup_s": setup_s, "setup_parts": setup_parts,
                "window_s": window_s,
                "steal_s": steal_s, "load1": os.getloadavg()[0],
                "families": fams}

    def _op(self, fam, kind: str, c: int, traced: bool) -> dict:
        tr, key = self.tracer, f"{fam.name}:{kind}:{c}"
        store = getattr(fam, "store_dir", None) if traced else None
        before = files_by_inode(store) if store else None
        if traced:
            tr.active, tr.op = True, key
            self.profile.start()
        cpu0 = tree_cpu_s()
        try:
            with (tr.span("op") if tr is not None else contextlib.nullcontext()):
                wall, items, fails = fam.op(kind, c)
        finally:
            if tr is not None:
                tr.active = False
        row = {"family": fam.name, "kind": kind, "wall": wall,
               "cpu": tree_cpu_s() - cpu0, "items": items, "fails": fails}
        if tr is None:
            return row
        jobs = self.counters.harvest()
        if traced:
            row["layer"] = self._layer(fam, key, jobs, wall, before)
            row["jobs"] = jobs
        return row

    def _layer(self, fam, key: str, jobs: list[dict], wall: float, before) -> dict:
        from spans import self_seconds, union_seconds

        out = {"compress.extractive_s": self.profile.stop()}
        spans = [s for s in self.tracer.spans if s["op"] == key]
        name_of = {s["id"]: s["name"] for s in spans}
        selfs = self_seconds(spans)
        for m, (names, what) in LAYER.items():
            if what == "jobs":
                out[m] = sum(1 for j in jobs if name_of.get(j["group"]) in names)
            else:
                out[m] = sum(selfs[s["id"]] if what == "self"
                             else s["end"] - s["start"]
                             for s in spans if s["name"] in names)
        out["spark.jobs"] = len(jobs)
        for k in SPARK[1:]:
            out[f"spark.{k}"] = sum(j[k] for j in jobs)
        ivals = [(j["submit"], j["end"]) for j in jobs if j["end"]]
        out["spark.driver_s"] = wall - union_seconds(ivals)
        # aux counts run after the op's jobs were harvested, under their
        # own group, and are dropped from every counter
        self.sc.setJobGroup("aux", "aux")
        edges = [s["result"] for s in spans
                 if s["name"] == "cluster.similarity_edges"]
        out["cluster.edges"] = sum(e.count() for e in edges)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.counters.harvest()
        for s in spans:
            s.pop("result", None)
        out["memory.bytes_written_per_user_byte"] = 0.0
        out["memory.snapshot_files"] = 0
        if before is not None:
            after = files_by_inode(fam.store_dir)
            new = sum(sz for ino, sz in after.items() if ino not in before)
            out["memory.bytes_written_per_user_byte"] = new / max(fam.user_bytes, 1)
            out["memory.snapshot_files"] = len(after)
        return out

    def close(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        kids = descendants(os.getpid())
        try:
            self.spark.stop()
        finally:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                try:
                    gw.shutdown()
                except Exception:  # noqa: BLE001 — the JVM may be gone already
                    pass
                gw.proc.stdin.close()
                try:
                    gw.proc.wait(timeout=20)
                except Exception:  # noqa: BLE001 — fall through to kill
                    gw.proc.kill()
                    gw.proc.wait()
            wait_gone(kids, 20)


def wait_gone(pids: set[int], timeout: float) -> None:
    end = time.monotonic() + timeout
    while pids and time.monotonic() < end:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")
                and not _zombie(p)}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def op_metrics(res: dict, plain: list[dict]) -> dict:
    """The per-family figures of the untraced cycles, under the names a
    user of each tool knows them by."""
    rows = [r for c in plain for r in c["rows"]]
    out = {}

    def walls(fam, kind=None):
        return [r["wall"] for r in rows
                if r["family"] == fam and kind in (None, r["kind"])]

    for fam in res["families"]:
        f = fam.name
        if f == "tool_dedupe":
            w = walls(f)
            out["call_p50_s"] = statistics.median(w)
            out["call_tail_s"] = tail(w)
            out["chunks_per_s"] = sum(
                r["items"] for r in rows if r["family"] == f) / sum(w)
        elif f == "corpus_distill":
            out["pipeline_p50_s"] = statistics.median(walls(f, "pipeline"))
            out["kmeans_p50_s"] = statistics.median(walls(f, "kmeans"))
            out["corpus_chunks_per_s"] = sum(
                r["items"] for r in rows if r["family"] == f) / sum(walls(f))
            out["dup_recall"] = fam.dup_recall
        elif f == "agent_memory":
            for part in ("push", "store", "recall", "context"):
                out[f"{part}_p50_s"] = statistics.median(fam.parts[part])
            for kind in fam.kinds:
                out[f"{kind}_p50_s"] = statistics.median(walls(f, kind))
            out["turn_tail_s"] = tail(walls(f))
        elif f == "impact_graph":
            out["blast_radius_p50_s"] = statistics.median(walls(f, "blast_radius"))
            out["pagerank_p50_s"] = statistics.median(walls(f, "pagerank"))
    return out


def summarize(res: dict, run: Run, trace: bool) -> dict:
    cycles = res["cycles"]
    plain = [c for c in cycles if not c["traced"]] or cycles
    rows = [r for c in cycles for r in c["rows"]]
    attempted = len(rows)
    failed = sum(1 for r in rows if r["fails"])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    human = {"setup_s": res["setup_s"],
             "cycle_s": statistics.median(c["wall"] for c in plain),
             "cycle_cpu_s": statistics.median(c["cpu"] for c in plain),
             "peak_rss_mb": (py_kb + vm_hwm_kb(run.jvm_pid)) / 1024.0,
             "failed_frac": failed / attempted}
    human.update(op_metrics(res, plain))
    if trace:
        # per-layer figures are per cycle: the sum over the cycle's ops
        per_cycle = [{m: sum(r["layer"][m] for r in c["rows"])
                      for m in c["rows"][0]["layer"]}
                     for c in cycles if c["traced"]]
        metrics = {m: statistics.median(p[m] for p in per_cycle)
                   for m in per_cycle[0]}
        metrics["runtime.get_spark_s"] = run.session_s
        metrics["trace.overhead_s"] = cycles[1]["wall"] - cycles[2]["wall"]
        metrics = {m: metrics[m] for m in per_layer_names()}
    else:
        metrics = {m: human[m] for m in END_TO_END}
    return {"correct": not res["fails"], "attempted": attempted,
            "failed": failed, "human": human, "metrics": metrics}


def report(res: dict, out: dict) -> None:
    w = res["workload"]
    for k, v in out["human"].items():
        if k.endswith("_tail_s"):
            v, pct = v
            print(f"{w} {k} = " + (f"{v:.6g} s (p{pct:.0f})" if v is not None
                                   else "n/a (needs 11 samples)"))
            continue
        unit = ("1/s" if k.endswith("per_s") else "MB" if k.endswith("_mb")
                else "s" if k.endswith("_s") else "")
        print(f"{w} {k} = {v:.6g} {unit}".rstrip())
    print(f"{w} ops = {out['attempted']} in {len(res['cycles'])} cycles "
          f"(window {res['window_s']:.1f} s); host steal {res['steal_s']:.2f} s,"
          f" load1 {res['load1']:.2f}")
    for f in res["fails"][:10]:
        print(f"{w} CHECK FAILED: {f}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="serving")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "distill_spark", "__init__.py")):
        print(f"perfbench: no distill_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import FAMILIES, WORKLOADS

    names = list(FAMILIES) if args.smoke else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", uuid.uuid4().hex[:12])
    os.makedirs(os.path.join(work, "tmp"))
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # pandas-UDF workers import distill_spark by name
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, ROOT)

    trace = args.trace == 1 or args.smoke
    run = None
    ok = True
    # a terminated run still stops its JVM and Python workers (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        run = Run(work, trace)
        last = None
        for name in names:
            res = run.workload(name, args.seed, 0 if args.smoke else args.seconds,
                               args.smoke)
            out = summarize(res, run, trace)
            report(res, out)
            write_record(res, out, args, run)
            ok = ok and out["correct"]
            last = out
    except Exception:  # noqa: BLE001 — report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        if run is not None:
            run.close()
        shutil.rmtree(work, ignore_errors=True)
    if args.smoke:
        print(f"smoke: {'all checks passed' if ok else 'CHECKS FAILED'}")
    else:
        print(json.dumps({
            "correct": ok, "attempted": last["attempted"],
            "failed": last["failed"],
            "metrics": {m: {"value": v, "unit": unit_of(m) if trace
                            else END_TO_END[m]}
                        for m, v in last["metrics"].items()}}))
    return 0 if ok else 1


def write_record(res: dict, out: dict, args, run: Run) -> None:
    """Full run record (per-op rows, host witness, spans) beside the
    checkout's other outputs, for later diffing."""
    d = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(d, exist_ok=True)
    res = {k: v for k, v in res.items() if k != "families"}
    rec = {"args": vars(args), "result": res, "summary": out,
           "spans": run.tracer.spans if run.tracer is not None else None}
    path = os.path.join(d, f"{res['workload']}-seed{args.seed}-trace"
                           f"{int(run.trace)}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(rec, f, default=str)


if __name__ == "__main__":
    sys.exit(main())
