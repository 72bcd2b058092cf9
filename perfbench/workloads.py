"""Workloads: seeded input generators, the ops a user runs on them, and
output checks against the generators' ground truth.

An op family (``ToolDedupe``, ``CorpusDistill``, ``AgentMemory``,
``ImpactGraph``) builds its inputs from ``seed`` alone in ``build`` and
runs one op of a kind in ``op``, which returns the op's wall time, the
number of items it handled and the list of failed checks. A workload is
one or more families; one cycle of a workload is one op of every kind
of every family, in order.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import time
import uuid
from collections import deque

import numpy as np

DIM = 64
T0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

# span(name) opens a trace span around an action the package leaves to
# its caller (a sink write, a count); the harness swaps in its tracer's
span = lambda name: contextlib.nullcontext()  # noqa: E731


def timed(fn, *args, **kwargs):
    t = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t


def random_words(rng, n: int) -> str:
    """Words of random letters: char-trigram embeddings of two such
    texts are near-orthogonal, so only planted repeats are duplicates."""
    lens = rng.integers(3, 9, n)
    letters = rng.integers(0, 26, int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append("".join(chr(97 + c) for c in letters[at:at + k]))
        at += k
    return " ".join(out)


def planted(rng, n: int, noise: float = 0.15):
    """n vectors of dim DIM, a third of them near-duplicates planted in
    families: cosine distance ~0.02 inside a family, ~1 between."""
    n_dup = n // 3
    n_fam = n - n_dup
    heads = rng.standard_normal((n_fam, DIM))
    fam = np.concatenate([np.arange(n_fam), rng.integers(0, n_fam, n_dup)])
    perm = rng.permutation(n)
    fam = fam[perm]
    return heads[fam] + noise * rng.standard_normal((n, DIM)), fam, n_fam


class ToolDedupe:
    """``ToolSurface.deduplicate_chunks(payload, target_k=20)`` on seeded
    payloads of 250-350 chunks (100-500 in the single-family workload),
    a third of them planted near-duplicates."""

    name = "tool_dedupe"
    kinds = ("call",)
    target_k = 20

    def __init__(self, spark, workdir: str, seed: int, smoke: bool, alone: bool):
        self.spark, self.workdir, self.seed = spark, workdir, seed
        self.sizes = (40, 60) if smoke else (100, 500) if alone else (250, 350)
        self.rng = np.random.default_rng([seed, 11])
        self._calls = 0
        self.surface = None

    def build(self) -> None:
        from distill_spark.api import ToolSurface

        self.surface = ToolSurface(self.spark, self.workdir)

    def payload(self, n: int):
        self._calls += 1
        vecs, fam, n_fam = planted(self.rng, n)
        chunks, family = [], {}
        for j in range(n):
            cid = f"s{self.seed}o{self._calls}c{j}"
            family[cid] = int(fam[j])
            chunks.append({"id": cid, "text": random_words(self.rng, 12),
                           "embedding": vecs[j].tolist(),
                           "score": float(self.rng.random())})
        return chunks, family, n_fam

    def op(self, kind: str, i: int):
        lo, hi = self.sizes
        return self._call(int(self.rng.integers(lo, hi + 1)))

    def _call(self, n: int):
        chunks, family, n_fam = self.payload(n)
        res, wall = timed(self.surface.deduplicate_chunks, chunks,
                          target_k=self.target_k)
        fails = []
        if res["stats"]["cluster_count"] != n_fam:
            fails.append(f"cluster_count {res['stats']['cluster_count']}"
                         f" != planted families {n_fam}")
        fams = [family[c["id"]] for c in res["chunks"]]
        if len(fams) != min(self.target_k, n_fam) or len(set(fams)) != len(fams):
            fails.append(f"{len(fams)} outputs from {len(set(fams))} families")
        return wall, n, fails


class CorpusDistill:
    """Batch ops over a seeded chunk corpus in parquet: ``run_pipeline``
    (dedup on the banded sign-LSH route, extractive compress, no MMR)
    into a no-op sink, and a count of ``kmeans_dedup`` rows on ``kept``.

    The auto route goes banded only above n^2*dim > 1e10 (~12.5k chunks
    at dim 64), where one pipeline op takes 35-45 s on 4 cores; the
    corpus here is 2k chunks with the route named, so the same banded
    code runs at a cost the run's time allows."""

    name = "corpus_distill"
    kinds = ("pipeline", "kmeans")
    recall_floor = 0.85

    def __init__(self, spark, workdir: str, seed: int, smoke: bool, alone: bool):
        self.spark, self.workdir, self.seed = spark, workdir, seed
        self.n = 300 if smoke else 2000

    def build(self) -> None:
        import pandas as pd

        n, rng = self.n, np.random.default_rng([self.seed, 21])
        vecs, self.fam, self.n_fam = planted(rng, n)
        # several sentences a chunk, so extractive compress has spans to drop
        texts = [". ".join(random_words(rng, 8).capitalize() for _ in range(5))
                 + "." for _ in range(n)]
        path = os.path.join(self.workdir, "corpus.parquet")
        os.makedirs(self.workdir, exist_ok=True)
        pd.DataFrame({"id": [f"c{j}" for j in range(n)], "text": texts,
                      "embedding": list(vecs.astype(np.float32)),
                      "score": rng.random(n)}).to_parquet(path)
        self.df = self.spark.read.parquet(path)
        self.kept_ref = None

    def _pipeline(self, df) -> list[str]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from distill_spark.plans.pipeline import PipelineOptions, run_pipeline

        res, _ = run_pipeline(df, PipelineOptions(dedup_method="banded"))
        # the kept ids ride out of the sink's own pass as an observed
        # metric: collecting them afterwards would run the pipeline twice
        kept = Observation("kept")
        with span("pipeline.sink"):
            (res.observe(kept, F.collect_list("id").alias("ids"))
             .write.format("noop").mode("overwrite").save())
        return kept.get["ids"]

    def _kmeans(self, df) -> int:
        from distill_spark.operators.kmeans_dedup import kmeans_dedup

        out = kmeans_dedup(df)
        with span("kmeans.action"):
            return out.filter("kept").count()

    def op(self, kind: str, i: int):
        if kind == "pipeline":
            ids, wall = timed(self._pipeline, self.df)
            kept = [int(x[1:]) for x in ids]
            fails = []
            families = set(self.fam[kept].tolist())
            if len(families) != self.n_fam:
                fails.append(f"{self.n_fam - len(families)} families lost: "
                             "a cluster spans two families")
            self.dup_recall = (self.n - len(kept)) / (self.n - self.n_fam)
            if self.dup_recall < self.recall_floor:
                fails.append(f"dup_recall {self.dup_recall:.3f} below "
                             f"{self.recall_floor}")
            return wall, self.n, fails
        kept, wall = timed(self._kmeans, self.df)
        fails = []
        # pruning only drops rows within 0.05 of their cluster's medoid,
        # so every family keeps a row; the fit is deterministic
        if not self.n_fam <= kept <= self.n:
            fails.append(f"kmeans kept {kept} outside [{self.n_fam}, {self.n}]")
        if self.kept_ref is not None and kept != self.kept_ref:
            fails.append(f"kmeans kept {kept}, earlier {self.kept_ref}")
        self.kept_ref = kept
        return wall, self.n, fails


class AgentMemory:
    """One agent session over one memory store pre-filled with 50
    memories. Each turn runs push_session, store_memory, recall_memory
    and session_context. A fresh turn stores a new text, a repeat turn an
    exact repeat of a stored one. Run alone, a cycle is one of each; in
    the serving mix, one fresh turn (a turn costs 15-25 s on 4 cores,
    and the mix's runs have to fit the benchmark's hour)."""

    name = "agent_memory"

    def __init__(self, spark, workdir: str, seed: int, smoke: bool, alone: bool):
        self.spark, self.workdir, self.seed = spark, workdir, seed
        self.kinds = (("fresh_turn", "repeat_turn") if alone
                      else ("fresh_turn",))
        self.population = 20 if smoke else 50
        self.rng = np.random.default_rng([seed, 31])
        self.texts = [random_words(self.rng, int(self.rng.integers(20, 40)))
                      for _ in range(self.population)]
        self.surface = self.session = None
        self.parts: dict = {}

    def build(self) -> None:
        import distill_spark.api as api
        from distill_spark.api import ToolSurface

        # memory ids come from uuid4 inside the tool; seed them so the
        # id-hash buckets a write touches repeat from run to run
        api.uuid = _SeededUUID(np.random.default_rng([self.seed, 7]))
        self.surface = ts = ToolSurface(self.spark, self.workdir)
        rows = [(f"m{k}", t, ts._embed([t])[0], []) for k, t in
                enumerate(self.texts)]
        df = self.spark.createDataFrame(
            rows, "id string, text string, embedding array<float>, "
                  "tags array<string>")
        n = ts.memory.store_batch(df, T0)["inserted"].count()
        if n != self.population:
            raise RuntimeError(f"pre-population stored {n} of "
                               f"{self.population}")
        self.session = ts.create_session()["session_id"]
        self.store_dir = ts.memory.path
        self.pushes = 0

    def op(self, kind: str, i: int):
        ts, fails = self.surface, []
        self.pushes += 1
        now = T0 + dt.timedelta(minutes=self.pushes)
        content = random_words(self.rng, 30)
        repeat = kind == "repeat_turn"
        text = (self.texts[int(self.rng.integers(self.population))] if repeat
                else random_words(self.rng, int(self.rng.integers(20, 40))))
        self.user_bytes = len(text.encode())
        t0 = time.perf_counter()
        ts.push_session(self.session, content)
        t1 = time.perf_counter()
        st = ts.store_memory(text, now=now)
        t2 = time.perf_counter()
        rc = ts.recall_memory(text, now=now)
        t3 = time.perf_counter()
        ctx = ts.session_context(self.session)
        t4 = time.perf_counter()
        for k, v in (("push", t1 - t0), ("store", t2 - t1),
                     ("recall", t3 - t2), ("context", t4 - t3)):
            self.parts.setdefault(k, []).append(v)
        if repeat and (st["stored"] != 0 or not st["duplicates"]):
            fails.append(f"exact repeat stored={st['stored']}")
        if not repeat and st["stored"] != 1:
            fails.append(f"fresh text stored={st['stored']}")
        if not rc["entries"] or rc["entries"][0]["text"] != text:
            fails.append("just-stored text is not recalled at rank 1")
        if (len(ctx["entries"]) != self.pushes
                or ctx["entries"][-1]["content"] != content):
            fails.append(f"session holds {len(ctx['entries'])} entries "
                         f"after {self.pushes} pushes")
        return t4 - t0, 1, fails


class _SeededUUID:
    def __init__(self, rng):
        self.rng = rng

    def uuid4(self):
        return uuid.UUID(bytes=self.rng.bytes(16), version=4)


class ImpactGraph:
    """``graph.blast_radius(edges, seeds, max_depth=3)`` for 5 seeded
    changed files and ``pagerank(edges, iterations=8)`` over a seeded
    power-law import graph in parquet: 50k files and ~200k edges run
    alone, 10k files and ~40k edges in the batch mix."""

    name = "impact_graph"
    kinds = ("blast_radius", "pagerank")
    damping = 0.85

    def __init__(self, spark, workdir: str, seed: int, smoke: bool, alone: bool):
        self.spark, self.workdir, self.seed = spark, workdir, seed
        self.n_files, self.n_edges = ((500, 2000) if smoke else
                                      (50_000, 200_000) if alone else
                                      (10_000, 40_000))
        self.rng = np.random.default_rng([seed, 41])

    def build(self) -> None:
        import pandas as pd

        n, rng = self.n_files, np.random.default_rng([self.seed, 1])
        w = 1.0 / np.arange(1, n + 1) ** 1.1
        hub = rng.permutation(n)  # popularity rank -> file
        src = rng.integers(0, n, self.n_edges)
        dst = hub[rng.choice(n, self.n_edges, p=w / w.sum())]
        self.pairs = np.unique(np.stack([src, dst], 1)[src != dst], axis=0)
        path = os.path.join(self.workdir, "edges.parquet")
        os.makedirs(self.workdir, exist_ok=True)
        pd.DataFrame({"src": [f"f{x}" for x in self.pairs[:, 0]],
                      "dst": [f"f{x}" for x in self.pairs[:, 1]]}).to_parquet(path)
        self.edges = self.spark.read.parquet(path)
        self.pr_ref = pagerank_ref(self.pairs, 8, self.damping)

    def _blast(self, edges, seeds):
        from distill_spark import graph

        seeds_df = self.spark.createDataFrame([(f"f{x}",) for x in seeds],
                                              "node string")
        out = graph.blast_radius(edges, seeds_df, max_depth=3)
        with span("graph.collect"):
            return out.collect()

    def _pagerank(self, edges):
        from distill_spark.operators.pagerank import pagerank

        out = pagerank(edges, iterations=8)
        with span("pagerank.collect"):
            return out.toPandas()

    def op(self, kind: str, i: int):
        fails = []
        if kind == "blast_radius":
            seeds = [int(x) for x in
                     self.rng.choice(self.n_files, 5, replace=False)]
            got, wall = timed(self._blast, self.edges, seeds)
            if {(r["node"], r["depth"]) for r in got} != bfs(self.pairs, seeds, 3):
                fails.append(f"blast radius of {seeds} differs from BFS")
            return wall, len(self.pairs), fails
        pr, wall = timed(self._pagerank, self.edges)
        got = dict(zip(pr["node"], pr["pr"]))
        ref = self.pr_ref
        if (len(got) != len(ref)
                or max(abs(got.get(k, -1.0) - v) for k, v in ref.items()) > 1e-6):
            fails.append("pagerank differs from numpy power iteration")
        return wall, len(self.pairs), fails


def bfs(pairs, seeds, max_depth):
    """Reverse-edge BFS (who imports the changed files), seeds excluded."""
    rev: dict[int, list[int]] = {}
    for s, d in pairs:
        rev.setdefault(int(d), []).append(int(s))
    depth = {s: 0 for s in seeds}
    frontier = deque(seeds)
    while frontier:
        u = frontier.popleft()
        if depth[u] == max_depth:
            continue
        for v in rev.get(u, ()):
            if v not in depth:
                depth[v] = depth[u] + 1
                frontier.append(v)
    return {(f"f{n}", d) for n, d in depth.items() if d > 0}


def pagerank_ref(pairs, iterations, damping):
    """PR_{t+1}(v) = (1-d)/N + d * sum_{u->v} PR_t(u)/deg(u), no dangling
    redistribution, over the nodes that appear in an edge."""
    nodes = np.unique(pairs)
    idx = np.searchsorted(nodes, pairs)
    n = len(nodes)
    deg = np.bincount(idx[:, 0], minlength=n).astype(np.float64)
    pr = np.full(n, 1.0 / n)
    for _ in range(iterations):
        share = pr[idx[:, 0]] / deg[idx[:, 0]]
        pr = (1 - damping) / n + damping * np.bincount(
            idx[:, 1], weights=share, minlength=n)
    return {f"f{k}": v for k, v in zip(nodes, pr)}


FAMILIES = {f.name: f for f in (ToolDedupe, CorpusDistill, AgentMemory,
                                ImpactGraph)}
# the four op families run alone by their names; the two mixes are the
# request path (per-call job floors, driver work) and the batch path
# (executor work, shuffle, iterative job chains)
WORKLOADS = {**{n: (n,) for n in FAMILIES},
             "serving": ("tool_dedupe", "agent_memory"),
             "batch": ("corpus_distill", "impact_graph")}
