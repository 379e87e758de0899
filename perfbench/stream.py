"""stream_ingest: a micro-batch loop driven by the benchmark — the only
workload that writes. Each step

1. admits the next document batch through the online near-dup gate
   (``streaming.dedup.dedup_ingest_batch``),
2. commits the next events batch to the log-structured table
   (``streaming.logtable.upsert_batch``), and
3. reads the table's merge-on-read snapshot beside the writes
   (``streaming.logtable.snapshot``).

``streaming.logtable.compact`` runs after every ``COMPACT_EVERY`` commits,
so a change that makes commits cheaper by deferring work to reads or to
compaction shows in the step time.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from harness import Ctx, digest, median

DOCS_PER_BATCH = 200
EVENTS_PER_BATCH = 500
KEY_SPACE = 2_000  # upsert keys repeat across batches
MAX_BATCHES = 64
COMPACT_EVERY = 4
# The window is a fixed number of whole compaction cycles, one per
# CYCLE_S of ``--seconds``, so every run does the same work however fast
# the engine is. Dedup state grows from step to step, so a time-bounded
# loop would make the step median depend on how many steps fit.
CYCLE_S = 6.0
WARM_STEPS = 2
EVENT_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")


def make_batches(seed: int, out_dir: str) -> None:
    """Seeded document and upsert batches: the seed draws the corpus, its
    near-duplicates, which documents go into which batch, and each upsert
    batch's keys (distinct within a batch) and values."""
    if datagen.is_done(out_dir):
        return
    rng = np.random.default_rng([seed, 1])
    docs = datagen.documents(rng, MAX_BATCHES * DOCS_PER_BATCH)
    order = rng.permutation(docs.num_rows)
    events = datagen.events(rng, MAX_BATCHES * EVENTS_PER_BATCH, 1_500)
    os.makedirs(out_dir, exist_ok=True)
    for b in range(MAX_BATCHES):
        take = np.sort(order[b * DOCS_PER_BATCH:(b + 1) * DOCS_PER_BATCH])
        pq.write_table(docs.take(take), os.path.join(out_dir, f"docs_{b}.parquet"))
        ev = events.slice(b * EVENTS_PER_BATCH, EVENTS_PER_BATCH)
        keys = rng.choice(KEY_SPACE, EVENTS_PER_BATCH, replace=False)
        ev = ev.set_column(0, "event_id", pa.array(keys, pa.int64()))
        pq.write_table(ev, os.path.join(out_dir, f"events_{b}.parquet"))
    open(os.path.join(out_dir, "_DONE"), "w").close()


def near_dup_root(text: str) -> str:
    """The text a generated document derives from. The generator makes a
    near-duplicate by appending " dup" to another document's text (word
    3-gram Jaccard 0.7 to 0.99 against it, above the gate's 0.5), while
    independent texts share almost no 3-grams. So documents with the same
    root are near-duplicates of each other, and documents with different
    roots are not."""
    while text.endswith(" dup"):
        text = text[: -len(" dup")]
    return text


def expected_admissions(batches: list[list[tuple[int, str]]]) -> list[set[int]]:
    """The ids the near-dup gate must admit from each offered batch of
    ``(doc_id, text)``: a document is admitted if and only if no
    near-duplicate of it was offered before it, in an earlier batch or
    in the same batch with a smaller id."""
    seen: set[str] = set()
    out = []
    for docs in batches:
        admit = set()
        for doc_id, text in sorted(docs):
            root = near_dup_root(text)
            if root not in seen:
                seen.add(root)
                admit.add(doc_id)
        out.append(admit)
    return out


class Workload:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.steps: list[dict] = []
        self.accept_frac = 0.0

    def setup(self) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        self.batches = os.path.join(
            ctx.inputs, f"v{datagen.GEN_VERSION}_stream_seed{ctx.seed}"
        )
        if not datagen.is_done(self.batches):
            ctx.generate("stream", "make_batches", ctx.seed, self.batches)
        with tr.span("session.warm", "session"):
            # Two steps on separate state, with batches the timed loop
            # never reaches, so code generation and worker start-up are
            # paid before the window.
            state = self._state("warm")
            for i in range(WARM_STEPS):
                self.step(state, i, MAX_BATCHES - 1 - i)

    def _state(self, tag: str) -> dict:
        root = os.path.join(self.ctx.work, f"stream_{tag}")
        return {
            "dedup": os.path.join(root, "dedup"),
            "log": os.path.join(root, "log"),
            "live_versions": 0,
        }

    def step(self, state: dict, i: int, batch: int) -> dict:
        from hdfs_mapreduce_spark.streaming.dedup import dedup_ingest_batch
        from hdfs_mapreduce_spark.streaming.logtable import compact, snapshot, upsert_batch

        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        rec = {"i": i, "batch": batch, "ok": True}
        t0 = time.perf_counter()
        try:
            with tr.op(f"step_{i}", spark):
                with tr.span("streaming.dedup_ingest", "streaming"):
                    docs = spark.read.parquet(os.path.join(self.batches, f"docs_{batch}.parquet"))
                    dedup_ingest_batch(docs, i, state["dedup"])
                t1 = time.perf_counter()
                with tr.span("streaming.upsert", "streaming"):
                    ev = spark.read.parquet(os.path.join(self.batches, f"events_{batch}.parquet"))
                    upsert_batch(ev, i, state["log"], "event_id")
                t2 = time.perf_counter()
                state["live_versions"] += 1
                with tr.span("streaming.snapshot", "streaming"):
                    snap = snapshot(spark, state["log"], "event_id")
                    rows = snap.collect()
                t3 = time.perf_counter()
                rec["versions"] = state["live_versions"]
                if (i + 1) % COMPACT_EVERY == 0:
                    with tr.span("streaming.compact", "streaming"):
                        compact(spark, state["log"], "event_id")
                    state["live_versions"] = 1
            rec.update(ingest_s=t1 - t0, commit_s=t2 - t1, snapshot_s=t3 - t2)
            rec["cols"], rec["rows"] = snap.columns, rows
        except Exception as exc:  # a failed step is counted, never fatal
            rec.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:300])
        rec["latency"] = time.perf_counter() - t0
        if rec["ok"]:
            rec["result"] = digest(rec.pop("cols"), [tuple(r) for r in rec.pop("rows")])
        return rec

    def measure(self) -> None:
        self.state = self._state("run")
        cycles = max(1, math.ceil(self.ctx.seconds / CYCLE_S))
        start = time.perf_counter()
        for i in range(min(cycles * COMPACT_EVERY, MAX_BATCHES - WARM_STEPS)):
            self.steps.append(self.step(self.state, i, i))
        self.window_s = time.perf_counter() - start

    # --- checks -------------------------------------------------------------
    def check(self) -> None:
        """Each step's snapshot against DuckDB's latest row per key over
        the upserts so far, and each step's admissions against the
        near-duplicates the generator planted. A step with any problem
        counts as one failed op."""
        from hdfs_mapreduce_spark.streaming.dedup import read_accepted

        ctx = self.ctx
        problems = {rec["i"]: [] for rec in self.steps}
        for rec in self.steps:
            if not rec["ok"]:
                problems[rec["i"]].append(rec["error"])
        for i, why in self._check_snapshots():
            problems[i].append(why)
        if all(rec["ok"] for rec in self.steps):
            for i, why in self._check_admitted(read_accepted(ctx.spark, self.state["dedup"])):
                problems[i].append(why)
        for i, whys in problems.items():
            ctx.attempted += 1
            if whys:
                ctx.fail(f"step_{i}", "; ".join(whys))

    def _check_snapshots(self) -> list[tuple[int, str]]:
        import duckdb

        con = duckdb.connect()
        out = []
        try:
            files = ", ".join(
                "'" + os.path.join(self.batches, "events_%d.parquet" % r["batch"]) + "'"
                for r in self.steps
            )
            con.execute(
                "CREATE VIEW ups AS SELECT *, "
                "regexp_extract(filename, 'events_([0-9]+)', 1)::INT AS b "
                f"FROM read_parquet([{files}], filename=true)"
            )
            cols = ", ".join(EVENT_COLS)
            for rec in self.steps:
                if not rec["ok"]:
                    continue
                cur = con.execute(
                    f"SELECT {cols} FROM (SELECT *, row_number() OVER "
                    "(PARTITION BY event_id ORDER BY b DESC) AS rn "
                    f"FROM ups WHERE b <= {rec['batch']}) WHERE rn = 1"
                )
                want = digest([d[0] for d in cur.description], cur.fetchall())
                if rec["result"] != want:
                    out.append((rec["i"], "snapshot != latest row per key"))
        finally:
            con.close()
        return out

    def _check_admitted(self, accepted) -> list[tuple[int, str]]:
        """Every step admits exactly the documents with no near-duplicate
        offered before them (``expected_admissions``): a gate that admits
        a near-duplicate, rejects a first occurrence, admits a document
        twice or admits one it was not offered fails the step."""
        got: dict[int, list[int]] = {}
        if accepted is not None:
            for r in accepted.select("batch_id", "doc_id").collect():
                got.setdefault(r["batch_id"], []).append(r["doc_id"])
        offered = [
            list(zip(*pq.read_table(
                os.path.join(self.batches, f"docs_{rec['batch']}.parquet"),
                columns=["doc_id", "text"],
            ).to_pydict().values()))
            for rec in self.steps
        ]
        offered_n = sum(len(docs) for docs in offered)
        self.accept_frac = sum(map(len, got.values())) / offered_n if offered_n else 0.0
        out = []
        for rec, docs, want in zip(self.steps, offered, expected_admissions(offered)):
            mine = got.pop(rec["i"], [])
            ids = {d for d, _ in docs}
            if len(mine) != len(set(mine)):
                out.append((rec["i"], "a document was admitted twice"))
            if set(mine) - ids:
                out.append((rec["i"], "admitted a document it was not offered"))
            if n := len(set(mine) & ids - want):
                out.append((rec["i"], f"admitted {n} near-duplicates of earlier documents"))
            if n := len(want - set(mine)):
                out.append((rec["i"], f"rejected {n} documents with no earlier near-duplicate"))
        for batch_id in got:
            out.append((self.steps[-1]["i"], f"admissions under unknown batch {batch_id}"))
        return out

    # --- metrics ------------------------------------------------------------
    def metrics(self) -> None:
        ctx = self.ctx
        ok = [r for r in self.steps if r["ok"]]
        ctx.report["ingest_docs_per_s"] = (
            len(ok) * DOCS_PER_BATCH / self.window_s, "docs/s")
        ctx.report["commit_p50_s"] = (median([r["commit_s"] for r in ok]), "s")
        ctx.report["snapshot_p50_s"] = (median([r["snapshot_s"] for r in ok]), "s")
        ctx.notes.append(
            "step latencies s: " + " ".join(f"{r['latency']:.3f}" for r in self.steps))
        ctx.per_layer["streaming.dedup_accept_frac"] = (self.accept_frac, "ratio")
        ctx.per_layer["streaming.snapshot_versions"] = (
            median([r["versions"] for r in ok]), "count")
        offered = sum(
            os.path.getsize(os.path.join(self.batches, f"{kind}_{r['batch']}.parquet"))
            for r in ok for kind in ("docs", "events")
        )
        ctx.input_bytes = offered
        state = datagen.dir_bytes(self.state["dedup"]) + datagen.dir_bytes(self.state["log"])
        ctx.per_layer["streaming.state_bytes_per_input_byte"] = (
            state / offered if offered else 0.0, "ratio")
        self.op_latencies = [r["latency"] for r in ok]
