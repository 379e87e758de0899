"""Seeded generator for the engine's ten input tables.

The tables have the schemas, value ranges and key relations of the
star-schema fixtures the engine's declared queries are written against
(region/nation/customer/supplier/part/orders/lineitem, the ``events``
stream table, the ``documents`` corpus and the 64-d ``embeddings``).
Row counts scale with ``sf``; the same ``(sf, seed)`` always yields
byte-identical parquet files, so a run's inputs are a pure function of
its ``--seed``.

Corpus shape matters to the dedup operators: about 5% of documents are
near-duplicates (another document's text plus one extra token), so the
pair-producing queries have work to do at every size.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("red", "new", "hot", "small", "cold", "large", "old", "blue")
PART_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
EMBED_DIM = 64
DUP_FRAC = 0.05
# Part of every cache path: bump when the generated bytes change.
GEN_VERSION = 1

_US_PER_DAY = 86_400_000_000


def _epoch_us(d: datetime) -> int:
    return int((d - datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _days(rng, n: int, start: datetime, end: datetime) -> pa.Array:
    lo = _epoch_us(start) // _US_PER_DAY
    hi = _epoch_us(end) // _US_PER_DAY
    return pa.array(rng.integers(lo, hi + 1, n) * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (sf0.1 ≈ 600k lineitems)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(n) < DUP_FRAC):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _vector_table(vecs: np.ndarray, label: np.ndarray) -> pa.Table:
    n = len(vecs)
    flat = pa.array(vecs.astype(np.float32).reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label, pa.int32()),
        }
    )


def embeddings(rng, n: int) -> pa.Table:
    """Unclustered unit vectors with a random label in 0..9."""
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return _vector_table(vecs, rng.integers(0, 10, n))


def clustered_embeddings(rng, n: int, clusters: int = 32, noise: float = 1.0) -> pa.Table:
    """Unit vectors around ``clusters`` random centres — the geometry of
    real embedding corpora, where nearest neighbours share a topic."""
    centres = rng.standard_normal((clusters, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, clusters, n)
    vecs = centres[label] + noise / np.sqrt(EMBED_DIM) * rng.standard_normal((n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return _vector_table(vecs, label)


def events(rng, n: int, n_users: int) -> pa.Table:
    start = _epoch_us(datetime(2024, 1, 1))
    ts = np.sort(rng.integers(start, start + 30 * _US_PER_DAY, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    adj = rng.integers(0, len(PART_ADJ), np_)
    noun = rng.integers(0, len(PART_NOUN), np_)
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(np_, dtype=np.int64),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
            "p_type": _pick(rng, PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": 900.0 + rng.integers(0, 1000, np_) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": _days(rng, no, datetime(1995, 1, 1), datetime(2001, 8, 1)),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl),
            "l_partkey": rng.integers(0, np_, nl),
            "l_suppkey": rng.integers(0, ns, nl),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
            "l_linestatus": _pick(rng, ("F", "O"), nl),
            "l_shipdate": _days(rng, nl, datetime(1995, 1, 2), datetime(2001, 11, 4)),
        }
    )
    t["events"] = events(rng, n["events"], max(150, nc // 10))
    t["documents"] = documents(rng, n["documents"])
    t["embeddings"] = embeddings(rng, n["embeddings"])
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write each table as ``<out_dir>/<name>.parquet`` (write-then-rename,
    so a reader never sees a half-written file)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def table_dir(sf: float, seed: int, cache_root: str) -> str:
    return os.path.join(cache_root, f"v{GEN_VERSION}_sf{sf:g}_seed{seed}")


def is_done(out_dir: str) -> bool:
    """Whether ``out_dir`` holds a complete generated set."""
    return os.path.exists(os.path.join(out_dir, "_DONE"))


def materialize(sf: float, seed: int, cache_root: str) -> str:
    """The generated tables for ``(sf, seed)`` under ``cache_root``,
    generating them on first use. Returns the table directory."""
    out = table_dir(sf, seed, cache_root)
    if not is_done(out):
        write_tables(generate(sf, seed), out)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )
