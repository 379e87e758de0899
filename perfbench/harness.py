"""Shared pieces of the workloads: the run context, result checks against
DuckDB, latency statistics and process memory."""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import datagen
from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tests"))

from oracle import canon_rows  # noqa: E402  (tests/oracle.py)


@dataclass
class Ctx:
    """Everything one run shares: the session, the tracer, its directories
    and the op/check bookkeeping that feeds ``attempted``/``failed``."""

    workload: str
    seed: int
    seconds: float
    sf: float | None
    tracer: Tracer
    work: str  # per-run scratch, removed at exit
    inputs: str  # per-seed input cache, kept across runs
    spark: object = None
    gen_s: float = 0.0
    attempted: int = 0
    failures: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)  # end-to-end: name -> (value, unit)
    per_layer: dict = field(default_factory=dict)  # layer figures the workload knows
    report: dict = field(default_factory=dict)  # workload-specific extras
    notes: list = field(default_factory=list)  # free-text report lines
    input_rows: dict = field(default_factory=dict)
    input_bytes: int = 0

    def fail(self, what: str, why: str) -> None:
        self.failures.append(f"{what}: {why}")

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def generate(self, module: str, func: str, *args) -> None:
        """Run the input generator ``module.func(*args)`` in a child
        interpreter: its memory stays out of this process's peak RSS, and
        its time is kept out of ``setup_s``."""
        t = time.perf_counter()
        subprocess.run(
            [sys.executable, "-c", f"import {module}; {module}.{func}(*{args!r})"],
            check=True,
        )
        self.gen_s += time.perf_counter() - t

    def inputs_for(self, sf: float) -> str:
        """The generated tables for this run's seed (cached per seed)."""
        path = datagen.table_dir(sf, self.seed, self.inputs)
        if not datagen.is_done(path):
            self.generate("datagen", "materialize", sf, self.seed, self.inputs)
        self.input_rows = datagen.sizes(sf)
        self.input_bytes = datagen.dir_bytes(path)
        return path


# --- statistics ---------------------------------------------------------
def median(values) -> float:
    return statistics.median(values) if values else 0.0


def tail_pct(n: int) -> int | None:
    """Highest of the usual percentiles with at least ten samples beyond
    it, or None when there are fewer than twenty samples."""
    for p in (99, 95, 90, 80, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(p / 100 * len(s) + 0.5)) - 1))
    return s[k]


# --- correctness --------------------------------------------------------
def digest(cols, rows) -> tuple[tuple[str, ...], int, str]:
    """Order-insensitive fingerprint of a result: sorted column names,
    row count and a hash of the canonical row multiset (the comparison
    ``tests/oracle.py`` makes: columns by name, doubles to 6 places)."""
    canon = canon_rows(list(cols), rows)
    h = hashlib.sha256()
    for line in sorted(canon.elements()):
        h.update(line.encode())
        h.update(b"\n")
    return tuple(sorted(cols)), len(rows), h.hexdigest()


class Oracle:
    """DuckDB over one input directory, answering declared queries'
    ``ORACLE_SQL`` as digests (memoized per query)."""

    def __init__(self, data_dir: str, tables=datagen.TABLES):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {max(1, len(os.sched_getaffinity(0)))}")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )
        self._memo: dict[str, tuple] = {}

    def digest(self, sql: str):
        if sql not in self._memo:
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            self._memo[sql] = digest(cols, cur.fetchall())
        return self._memo[sql]

    def close(self) -> None:
        self.con.close()


def check_declared(ctx: Ctx, oracle: Oracle, name: str, got) -> bool:
    """Compare one declared query's result digest with its DuckDB oracle;
    a mismatch is recorded as a failed op."""
    from hdfs_mapreduce_spark.plans import ORACLE_SQL

    want = oracle.digest(ORACLE_SQL[name])
    if got != want:
        ctx.fail(name, f"result {got[:2]} != oracle {want[:2]} (or hash differs)")
        return False
    return True


# --- process memory -----------------------------------------------------
def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant — the Spark driver JVM and its Python workers —
    including the reaped children of each, from /proc."""
    ticks = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this Python driver plus the Spark
    driver JVM it launched, from /proc."""
    me = os.getpid()
    total = _status_kb(me, "VmHWM")
    for child in _children(me):
        try:
            with open(f"/proc/{child}/comm") as f:
                if f.read().strip() != "java":
                    continue
        except OSError:
            continue
        total += _status_kb(child, "VmHWM")
    return total / 1024.0


def process_start_epoch() -> float:
    """Wall-clock time this process was created (from /proc), so set-up
    time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")
