"""interactive_mix: a closed loop of two client threads on one long-lived
session, each sending short requests drawn by seed from a fixed pool.

Every pool entry is run once during set-up, and the loop then runs
untimed for a few seconds before the window, so declared queries are
served from warm prepared plans: the window measures what a dashboard or
service sees on repeat traffic — plan lookup, job submission and
driver-side gaps — rather than heavy shuffles.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.parquet as pq

import datagen
from harness import Ctx, Oracle, check_declared, digest, percentile, tail_pct

SF = 0.1
CLIENTS = 2
# Untimed closed-loop seconds after set-up and before the window: the
# driver JVM keeps compiling hot paths for well over a minute, and
# request latency fell by a quarter over the first 45 s of a loop started
# right after the first pass, which made short windows drift. The loop is
# not part of ``setup_s``.
SETTLE_S = 10.0
ENGINE_DOCS = 500  # documents in the table Engine.compute counts
ANN_QUERIES = 8  # query vectors per ANN request
ANN_VECTORS = 2_000
ANN_NLIST, ANN_NPROBE, ANN_K = 16, 4, 10
# Mean recall@10 of the IVF-PQ probe against exact top-10 must stay at
# or above this floor, which catches a change that trades recall away
# for speed. The index quantizes each 64-d vector to eight 4-bit codes,
# so recall is modest even on the clustered corpus it is built over.
ANN_RECALL_FLOOR = 0.20

# Declared queries with short results at sf0.1 (at most a few thousand
# rows). Queries that return 10k+ rows are left out: their latency is the
# client's row transfer, not the engine's request path.
DECLARED = (
    "q1_wordcount", "q3_group_avg", "q4_multi_agg", "q5_sorted_distinct",
    "q6_topk", "q7_join_agg", "q8_anti_join", "q12_rollup", "q13_cube",
    "q17_approx_quantiles", "q20_pivot", "q22_retention",
    "q24_exact_percentile", "q25_grouping_sets", "tpch_q3_shipping",
    "tpch_q5_region", "tpch_q10_returns", "events_windowed",
    "events_funnel", "events_histogram", "events_attribution",
    "events_quantile_hist", "text_bm25", "plugin_binary_wordcount",
)
# Requests are drawn uniformly from the pool, in decks: each deck is the
# pool in a seeded order, so every run serves the same mix.
POOL = DECLARED + ("engine_wordcount", "ann_probe")


def _wc_mapper(rec):
    for tok in rec["text"].replace("\t", " ").split(" "):
        if tok:
            yield {"key": tok, "value": 1}


def _wc_reducer(key, pdf):
    import pandas as pd

    return pd.DataFrame({"token": [key[0]], "cnt": [int(pdf["value"].sum())]})


class Workload:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.deck_rng = np.random.default_rng([ctx.seed, 3])
        self.ann_rng = np.random.default_rng([ctx.seed, 4])
        self.decks: list[str] = []
        self.deck_pos = 0
        self.seen_plans: dict = {}
        self.lookups = self.hits = 0
        self.results: list[dict] = []
        self._outputs = itertools.count(1)
        self._lock = threading.Lock()

    # --- set-up -----------------------------------------------------------
    def setup(self) -> None:
        from hdfs_mapreduce_spark.engine import Engine
        from hdfs_mapreduce_spark.operators.ann_index import build_ivfpq_index
        from hdfs_mapreduce_spark.sources.catalog import TABLES, load_table

        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        self.data = ctx.inputs_for(ctx.sf)
        t = time.perf_counter()
        ann_path = os.path.join(self.data, "ann_corpus.parquet")
        if not os.path.exists(ann_path):
            corpus = datagen.clustered_embeddings(
                np.random.default_rng([ctx.seed, 2]), ANN_VECTORS
            )
            datagen.write_tables({"ann_corpus": corpus}, self.data)
        ctx.gen_s += time.perf_counter() - t
        ctx.input_bytes = datagen.dir_bytes(self.data)
        emb = pq.read_table(ann_path)
        self.vec_ids = emb.column("vec_id").to_numpy()
        self.vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
        for t in TABLES:
            with tr.span("sources.load", "sources"):
                load_table(spark, self.data, t)

        self.engine_src = os.path.join(ctx.work, "engine_src")
        datagen.write_tables(
            {"documents": pq.read_table(os.path.join(self.data, "documents.parquet"))
             .slice(0, ENGINE_DOCS)},
            self.engine_src,
        )

        def engine_ready():
            self.engine = Engine(spark, os.path.join(ctx.work, "warehouse"))
            with tr.span("engine.put", "engine"):
                self.engine.put(
                    os.path.join(self.engine_src, "documents.parquet"), "docs", fmt="parquet"
                )
            self.request("engine_wordcount", False)

        def index_ready():
            with tr.span("operators.ann_build", "operators"):
                self.index = build_ivfpq_index(
                    load_table(spark, self.data, "ann_corpus"),
                    nlist=ANN_NLIST,
                    base=os.path.join(ctx.work, "ann"),
                )
            self.request("ann_probe", False)

        # Warm-up serves every pool entry once, one client thread per core,
        # which prepares every plan.
        with tr.span("session.warm", "session"):
            with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
                tasks = [pool.submit(engine_ready), pool.submit(index_ready)]
                tasks += [pool.submit(self.request, n, False) for n in DECLARED]
                for f in tasks:
                    f.result()

    def settle(self) -> None:
        """The client loop, untimed, so the window starts on a settled
        session."""
        self._loop(SETTLE_S, timed=False)

    # --- one request ------------------------------------------------------
    def request(self, name: str, timed: bool) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        rec = {"name": name, "ok": True, "timed": timed}
        t0 = time.perf_counter()
        try:
            with tr.op(name, ctx.spark):
                if name == "engine_wordcount":
                    payload = self._engine_wordcount()
                elif name == "ann_probe":
                    payload = self._ann_probe()
                else:
                    payload = self._declared(name, timed)
        except Exception as exc:  # a failed request is counted, never fatal
            rec.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:300])
            payload = None
        rec["t0"], rec["latency"] = t0, time.perf_counter() - t0
        if rec["ok"]:
            rec["result"] = payload
        with self._lock:
            self.results.append(rec)

    def _declared(self, name: str, timed: bool):
        from hdfs_mapreduce_spark.plans import QUERIES

        tr = self.ctx.tracer
        with tr.span("plans.build", "plans"):
            df = QUERIES[name](self.ctx.spark, self.data)
        key = (name, self.data)
        with self._lock:
            # A hit is the engine handing back the very DataFrame it
            # returned before for the same (query, input path).
            if timed:
                self.lookups += 1
                self.hits += self.seen_plans.get(key) is df
            self.seen_plans[key] = df
        with tr.span("plans.exec", "plans"):
            rows = df.collect()
        return df.columns, [tuple(r) for r in rows]

    def _engine_wordcount(self):
        with self._lock:
            out = f"wc_{next(self._outputs)}"
        with self.ctx.tracer.span("engine.compute", "engine"):
            df = self.engine.compute(
                "docs", _wc_mapper, _wc_reducer,
                map_schema="key string, value long",
                reduce_schema="token string, cnt long",
                output_name=out,
            )
            rows = df.collect()
        return df.columns, [tuple(r) for r in rows]

    def _ann_probe(self):
        from pyspark.sql import functions as F

        from hdfs_mapreduce_spark.operators.ann_index import ann_probe_ivfpq
        from hdfs_mapreduce_spark.sources.catalog import load_table

        with self._lock:
            ids = [int(i) for i in self.ann_rng.choice(self.vec_ids, ANN_QUERIES, replace=False)]
        with self.ctx.tracer.span("operators.ann_probe", "operators"):
            queries = load_table(self.ctx.spark, self.data, "ann_corpus").filter(
                F.col("vec_id").isin(ids)
            )
            rows = ann_probe_ivfpq(
                self.index, queries, k=ANN_K, nprobe=ANN_NPROBE
            ).collect()
        got: dict[int, list[int]] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), []).append(int(r["neighbor_id"]))
        return ids, got

    # --- measured window --------------------------------------------------
    def measure(self) -> None:
        """Whole decks until ``seconds`` have passed, so every run serves
        the same mix of requests."""
        self.window_s = self._loop(self.ctx.seconds, timed=True)

    def _loop(self, seconds: float, timed: bool) -> float:
        start = time.perf_counter()
        stop = threading.Event()

        def next_request():
            with self._lock:
                i = self.deck_pos
                self.deck_pos += 1
                if i % len(POOL) == 0 and time.perf_counter() - start >= seconds:
                    stop.set()
                if stop.is_set():
                    return None
                while i >= len(self.decks):
                    self.decks += [POOL[k] for k in self.deck_rng.permutation(len(POOL))]
                return self.decks[i]

        def client():
            while (name := next_request()) is not None:
                self.request(name, timed)

        threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return time.perf_counter() - start

    # --- checks (outside the measured window) -----------------------------
    def check(self) -> None:
        from hdfs_mapreduce_spark.plans import ORACLE_SQL

        ctx = self.ctx
        oracle = Oracle(self.data)
        # The engine's compute verb runs the reference word count, the
        # relation q1_wordcount declares, over the stored documents.
        engine_oracle = Oracle(self.engine_src, tables=("documents",))
        engine_want = engine_oracle.digest(ORACLE_SQL["q1_wordcount"])
        engine_oracle.close()
        recalls = []
        try:
            for rec in self.results:
                ctx.attempted += 1
                if not rec["ok"]:
                    ctx.fail(rec["name"], rec["error"])
                elif rec["name"] == "ann_probe":
                    recalls.append(self._recall(*rec["result"]))
                elif rec["name"] == "engine_wordcount":
                    if digest(*rec["result"]) != engine_want:
                        ctx.fail("engine_wordcount", "word count != DuckDB word count")
                else:
                    check_declared(ctx, oracle, rec["name"], digest(*rec["result"]))
        finally:
            oracle.close()
        self.recall = sum(recalls) / len(recalls) if recalls else 0.0
        if recalls and self.recall < ANN_RECALL_FLOOR:
            ctx.fail("ann_probe", f"mean recall@10 {self.recall:.3f} < {ANN_RECALL_FLOOR}")

    def _recall(self, ids: list[int], got: dict) -> float:
        """Mean recall@10 of the probe against exact top-10 by distance
        (the vectors are unit length, so L2 and cosine rank alike)."""
        pos = {int(v): i for i, v in enumerate(self.vec_ids)}
        total = 0.0
        for q in ids:
            d = np.linalg.norm(self.vecs - self.vecs[pos[q]], axis=1)
            exact = set(self.vec_ids[np.argsort(d, kind="stable")[:ANN_K]].tolist())
            total += len(exact & set(got.get(q, []))) / ANN_K
        return total / len(ids)

    # --- metrics ----------------------------------------------------------
    def metrics(self) -> None:
        ctx = self.ctx
        timed = [r for r in self.results if r["timed"] and r["ok"]]
        lat = [r["latency"] for r in timed]
        p = tail_pct(len(lat))
        if p is not None:
            ctx.report[f"req_p{p}_s"] = (percentile(lat, p), "s")
        ctx.report["requests"] = (len(lat), "count")
        ctx.report["ann_recall_at_10"] = (self.recall, "ratio")
        ctx.per_layer["plans.cache_hit_frac"] = (
            self.hits / self.lookups if self.lookups else 0.0, "ratio")
        ctx.per_layer["operators.ann_recall_at_10"] = (self.recall, "ratio")
        self.op_latencies = lat
