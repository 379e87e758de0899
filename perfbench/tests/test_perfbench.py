"""Self-test of the benchmark at a tiny scale: every workload runs traced
and prints every metric ``BENCHMARK.json`` names with its unit, the spans
it writes nest with non-negative self time, a perturbed result is
reported as a failed op, and the stream admission check fails a gate
that admits a near-duplicate or rejects a first occurrence.

    python3 -m pytest perfbench/tests -q     (about three minutes)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
ALL_WORKLOADS = ("interactive_mix", "curate_batch", "stream_ingest")
ARGS = ["--seed", "5", "--seconds", "2", "--sf", "0.001"]


def _run(code_or_script: list[str], timeout: int = 600) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, *code_or_script],
        cwd=ROOT, capture_output=True, text=True, timeout=timeout,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


def _printed(stdout: str) -> dict[str, str]:
    """``name value unit`` report lines → {name: unit}."""
    out = {}
    for line in stdout.splitlines():
        parts = line.split()
        if len(parts) == 3:
            try:
                float(parts[1])
            except ValueError:
                continue
            out[parts[0]] = parts[2]
    return out


def _self_times_ok(spans: list[dict]) -> None:
    from spans import merged_length

    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[dict]] = {}
    eps = 1e-3
    for s in spans:
        assert s["end"] >= s["start"], s
        if s["parent"] is not None:
            parent = by_id[s["parent"]]
            assert parent["start"] - eps <= s["start"] and s["end"] <= parent["end"] + eps, (s, parent)
            assert parent["op"] == s["op"], (s, parent)
            kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        covered = merged_length((c["start"], c["end"]) for c in kids.get(s["id"], ()))
        assert s["end"] - s["start"] - covered >= -eps, s


@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_traced_run_prints_every_metric_and_nested_spans(workload):
    result, stdout = _run(
        ["perfbench/run.py", "--workload", workload, "--trace", "1", *ARGS]
    )
    assert result["correct"] and result["failed"] == 0, stdout[-3000:]
    assert result["attempted"] >= 1
    metrics = result["metrics"]
    for m in SPEC["per_layer"]:
        assert metrics[m["name"]]["unit"] == m["unit"], m["name"]
    printed = _printed(stdout)
    for m in SPEC["end_to_end"]:
        assert printed.get(m["name"]) == m["unit"], m["name"]
    assert "failed_frac" in printed
    spans = json.load(open(os.path.join(ROOT, ".perfbench_work", "traces", f"{workload}_seed5.json")))
    assert any(s["phase"] == "measure" for s in spans)
    _self_times_ok(spans)


def test_untraced_run_reports_end_to_end_metrics_only():
    result, _ = _run(["perfbench/run.py", "--workload", "stream_ingest", "--trace", "0", *ARGS])
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert result["metrics"][m["name"]]["value"] > 0


PERTURB = """
import sys
sys.path.insert(0, "perfbench")
sys.path.insert(0, ".")
from pyspark.sql import functions as F
import hdfs_mapreduce_spark.plans as plans
orig = plans.QUERIES["q3_group_avg"]
def perturbed(spark, sf_dir):
    df = orig(spark, sf_dir)
    col = df.columns[-1]
    return df.withColumn(col, F.col(col) + F.lit(1))
plans.QUERIES["q3_group_avg"] = perturbed
import run
sys.exit(run.main(sys.argv[1:]))
"""


def test_perturbed_result_is_flagged_as_failed():
    result, stdout = _run(
        ["-c", PERTURB, "--workload", "interactive_mix", "--trace", "0", *ARGS]
    )
    assert not result["correct"]
    assert result["failed"] >= 1
    assert "FAILED q3_group_avg" in stdout


def _gate_by_exact_jaccard(batches, threshold=0.5):
    """The near-dup gate's rule over exact word 3-gram Jaccard, brute
    force: admit a document unless an admitted earlier one, or a smaller
    id admitted from its own batch, is a near-duplicate of it."""
    def shingles(text):
        t = text.lower().split()
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)} or {" ".join(t)}

    kept, out = [], []
    for docs in batches:
        admit = set()
        for doc_id, text in sorted(docs):
            sh = shingles(text)
            if all(len(sh & k) / len(sh | k) < threshold for k in kept):
                kept.append(sh)
                admit.add(doc_id)
        out.append(admit)
    return out


def test_stream_admission_check(tmp_path):
    import pyarrow.parquet as pq

    import harness
    import stream
    from spans import Tracer

    ctx = harness.Ctx("stream_ingest", 1, 1.0, 0.001, Tracer(False), str(tmp_path), str(tmp_path))
    wl = stream.Workload(ctx)
    wl.batches = str(tmp_path)
    stream.make_batches(1, wl.batches)
    wl.steps = [{"i": i, "batch": i, "ok": True} for i in range(4)]
    batches = [
        list(zip(*pq.read_table(os.path.join(wl.batches, f"docs_{i}.parquet"),
                                columns=["doc_id", "text"]).to_pydict().values()))
        for i in range(4)
    ]
    want = _gate_by_exact_jaccard(batches)
    # The generator's near-duplicates agree with exact Jaccard, and the
    # batches hold some for the gate to reject.
    assert stream.expected_admissions(batches) == want
    assert sum(map(len, want)) < sum(map(len, batches))

    class Rows:
        def __init__(self, admitted):
            self.rows = [{"batch_id": i, "doc_id": d} for i, ids in enumerate(admitted) for d in ids]

        def select(self, *cols):
            return self

        def collect(self):
            return self.rows

    assert wl._check_admitted(Rows(want)) == []
    assert wl.accept_frac == sum(map(len, want)) / sum(map(len, batches))
    admit_all = [{d for d, _ in docs} for docs in batches]
    assert any("near-duplicates" in why for _, why in wl._check_admitted(Rows(admit_all)))
    admit_none = [set() for _ in batches]
    assert any("no earlier near-duplicate" in why for _, why in wl._check_admitted(Rows(admit_none)))
    twice = [sorted(w) + sorted(w)[:1] for w in want]
    assert any("twice" in why for _, why in wl._check_admitted(Rows(twice)))
