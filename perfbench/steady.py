"""Steadiness evidence for the benchmark.

    python3 perfbench/steady.py --seed 5 --other-seed 6
    python3 perfbench/steady.py --spread 10 --seed 101 --out spread_a.json

Default mode, for each workload: two traced runs with the same seed must
give the same spark.jobs, spark.stages and spark.tasks for every traced
op, and an untraced run with another seed must pass every check. Then
the smoke mode runs every op family at tiny sizes.
Writes perfbench/evidence/steady.json.

--spread N: N untraced runs per workload, seeds --seed .. --seed+N-1;
for each end-to-end metric the median and the quartile spread
(Q3 - Q1) / median, as statistics.quantiles(values, n=4) gives them,
plus each run's wall time from launch to exit and the host steal in its
window. Writes perfbench/evidence/spread.json (or --out).

Exits 1 if any run fails a check or a count differs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ("spark.jobs", "spark.stages", "spark.tasks")


def run(args: list[str]) -> tuple[int, dict | None]:
    """Run the benchmark; return its exit code and its run record, with
    the run's wall time from launch to exit under "run_wall_s"."""
    t = time.perf_counter()
    p = subprocess.Popen([sys.executable, os.path.join(HERE, "run.py")] + args,
                         cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True)
    out, _ = p.communicate()
    wall = time.perf_counter() - t
    print(f"[{wall:.0f} s] " + (out.strip().splitlines()[-1][:200]
                                if out.strip() else "(no output)"), flush=True)
    name = args[args.index("--workload") + 1] if "--workload" in args else None
    if name is None:
        return p.returncode, None
    trace = args[args.index("--trace") + 1]
    seed = args[args.index("--seed") + 1]
    path = os.path.join(ROOT, ".perfbench_out",
                        f"{name}-seed{seed}-trace{trace}-{p.pid}.json")
    if not os.path.exists(path):
        return p.returncode, None
    with open(path) as f:
        rec = json.load(f)
    rec["run_wall_s"] = wall
    return p.returncode, rec


def op_counts(record: dict | None) -> list[dict]:
    if record is None:
        return []
    return [{k: r["layer"][k] for k in COUNTS}
            for c in record["result"]["cycles"] if c["traced"]
            for r in c["rows"]]


def repeat_counts(a) -> tuple[bool, dict]:
    ok, evidence = True, {"seed": a.seed, "other_seed": a.other_seed,
                          "workloads": {}}
    for w in a.workloads.split(","):
        base = ["--workload", w, "--seconds", a.seconds]
        runs = [run(base + ["--seed", a.seed, "--trace", "1"]) for _ in range(2)]
        counts = [op_counts(rec) for _, rec in runs]
        n = min(len(c) for c in counts)
        same = n > 0 and counts[0][:n] == counts[1][:n]
        code, _ = run(base + ["--seed", a.other_seed, "--trace", "0"])
        evidence["workloads"][w] = {
            "same_seed_counts": counts, "counts_repeat": same,
            "same_seed_exit": [c for c, _ in runs], "other_seed_exit": code}
        ok = ok and same and code == 0 and all(c == 0 for c, _ in runs)
    code, _ = run(["--smoke", "--seed", a.seed])
    evidence["smoke_exit"] = code
    return ok and code == 0, evidence


def spreads(a) -> tuple[bool, dict]:
    ok, evidence = True, {"seconds": a.seconds, "workloads": {}}
    seeds = [str(int(a.seed) + k) for k in range(a.spread)]
    for w in a.workloads.split(","):
        values: dict[str, list[float]] = {}
        walls, steal = [], []
        for s in seeds:
            code, rec = run(["--workload", w, "--seed", s, "--seconds",
                             a.seconds, "--trace", "0"])
            ok = ok and code == 0 and rec is not None
            if rec:
                walls.append(rec["run_wall_s"])
                steal.append(rec["result"]["steal_s"])
            for m, v in (rec["summary"]["metrics"].items() if rec else ()):
                values.setdefault(m, []).append(v)
        out = {}
        for m, v in values.items():
            q = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            out[m] = {"median": med, "spread": (q[2] - q[0]) / med,
                      "values": v}
            print(f"{w} {m}: median {med:.4g} spread {out[m]['spread']:.3f}")
        print(f"{w} run wall: mean {statistics.mean(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        evidence["workloads"][w] = {"seeds": seeds, "metrics": out,
                                    "run_wall_s": walls,
                                    "window_steal_s": steal}
    return ok, evidence


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", default="5")
    ap.add_argument("--other-seed", default="6")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--workloads", default="serving,batch")
    ap.add_argument("--out", default=None,
                    help="evidence file name (default steady.json or spread.json)")
    ap.add_argument("--spread", type=int, default=0)
    a = ap.parse_args()
    ok, evidence = spreads(a) if a.spread else repeat_counts(a)
    evidence["ok"] = ok
    os.makedirs(os.path.join(HERE, "evidence"), exist_ok=True)
    name = a.out or ("spread.json" if a.spread else "steady.json")
    with open(os.path.join(HERE, "evidence", name), "w") as f:
        json.dump(evidence, f, indent=1)
    print("steady:", "ok" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
