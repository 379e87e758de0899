"""curate_batch: cold passes of the LLM-data curation chain over a seeded
corpus. Each pass reads its inputs under a path the process has never
seen, so the engine's prepared-plan cache (keyed on query and input
path) cannot serve it: the pass pays plan building and execution in
full — operator kernels, shuffles and GC. The first pass is also the
first full chain the process runs, as in a batch job submitted on its
own, so it includes code generation and Python worker start-up.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from harness import Ctx, Oracle, check_declared, digest, median

SF = 0.01  # 500 documents, 500 embeddings
# Stages are independent queries over the same corpus, so the pass runs
# them the way a batch scheduler would: one per core at a time, in chain
# order.
WORKERS = len(os.sched_getaffinity(0))
# Warm-up runs the cheapest stages on another path: it starts the
# session's scan and codegen paths, and proves that the same queries on a
# new path are not served from the prepared-plan cache.
WARM_STAGES = ("dedup_exact", "text_quality")
CHAIN = (
    "pipeline_curate", "dedup_exact",
    "dedup_minhash_pairs", "dedup_components",
    "dedup_ngram_jaccard", "dedup_exact_substrings",
    "text_quality", "bpe_encode", "text_tfidf",
    "dedup_embedding_pairs", "dedup_semantic", "text_winnowing",
)


class Workload:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.last_plan: dict = {}
        self.lookups = self.hits = 0
        self.passes: list[dict] = []
        self._lock = threading.Lock()

    def _fresh_copy(self, tag: str) -> str:
        dst = os.path.join(self.ctx.work, tag)
        shutil.copytree(self.data, dst, ignore=shutil.ignore_patterns("_DONE"))
        return dst

    def setup(self) -> None:
        from hdfs_mapreduce_spark.sources.catalog import TABLES, load_table

        ctx, tr = self.ctx, self.ctx.tracer
        self.data = ctx.inputs_for(ctx.sf)
        warm = self._fresh_copy("warm")
        for t in TABLES:
            with tr.span("sources.load", "sources"):
                load_table(ctx.spark, warm, t)
        with tr.span("session.warm", "session"):
            for name in WARM_STAGES:
                self.stage(name, warm, timed=False)

    def run_pass(self, path: str) -> dict:
        with ThreadPoolExecutor(WORKERS) as pool:
            stages = list(pool.map(lambda n: self.stage(n, path, timed=True), CHAIN))
        # Digests are taken after the pass, so the pass wall is all engine.
        for rec in stages:
            if rec["ok"]:
                rec["result"] = digest(rec.pop("cols"), [tuple(r) for r in rec.pop("rows")])
        wall = max(r["t1"] for r in stages) - min(r["t0"] for r in stages)
        return {"stages": stages, "wall": wall}

    def stage(self, name: str, path: str, timed: bool) -> dict:
        from hdfs_mapreduce_spark.plans import QUERIES

        ctx, tr = self.ctx, self.ctx.tracer
        rec = {"name": name, "ok": True}
        df = None
        t0 = time.perf_counter()
        try:
            with tr.op(name, ctx.spark):
                with tr.span("plans.build", "plans"):
                    df = QUERIES[name](ctx.spark, path)
                with tr.span("plans.exec", "plans"):
                    rows = df.collect()
            rec["cols"], rec["rows"] = df.columns, rows
        except Exception as exc:  # a failed stage is counted, never fatal
            rec.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:300])
        rec["t0"], rec["t1"] = t0, time.perf_counter()
        with self._lock:
            # A hit is the engine handing back a DataFrame it returned
            # before for this query, on any path.
            if timed and df is not None:
                self.lookups += 1
                self.hits += self.last_plan.get(name) is df
            if df is not None:
                self.last_plan[name] = df
        return rec

    def measure(self) -> None:
        start = time.perf_counter()
        while not self.passes or time.perf_counter() - start < self.ctx.seconds:
            path = self._fresh_copy(f"pass_{len(self.passes)}")
            self.passes.append(self.run_pass(path))

    def check(self) -> None:
        ctx = self.ctx
        oracle = Oracle(self.data)
        try:
            for p in self.passes:
                for rec in p["stages"]:
                    ctx.attempted += 1
                    if not rec["ok"]:
                        ctx.fail(rec["name"], rec["error"])
                    else:
                        check_declared(ctx, oracle, rec["name"], rec["result"])
        finally:
            oracle.close()

    def metrics(self) -> None:
        ctx = self.ctx
        lat = [r["t1"] - r["t0"] for p in self.passes for r in p["stages"] if r["ok"]]
        walls = [p["wall"] for p in self.passes]
        ctx.report["batch_wall_s"] = (median(walls), "s")
        ctx.report["passes"] = (len(walls), "count")
        n_docs = ctx.input_rows["documents"]
        ctx.report["docs_per_s"] = (n_docs / median(walls), "docs/s")
        ctx.per_layer["plans.cache_hit_frac"] = (
            self.hits / self.lookups if self.lookups else 0.0, "ratio")
        self.op_latencies = lat
        self.window_s = sum(walls)
