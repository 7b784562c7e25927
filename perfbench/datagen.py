"""Seeded synthetic inputs in the engine's table layout.

Produces the ten tables the engine's catalog reads (`region` ...
`embeddings`, one parquet file each) with the shapes of the project's
star-schema test data: TPC-H-like keys and value ranges, a 30-day
events stream with naive TIMESTAMP(MICROS) timestamps, a 31-word
documents corpus with ~5% near-duplicates, and unit-norm 64-d
embeddings over ten labels.

The base tables come from a fixed data seed, so every workload seed
runs against the same tables and per-seed timings stay comparable; the
workload seed only picks what the workloads derive from them (update
keys, micro-batch split points, the range read bounds, operation order).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

#: Row counts per unit scale factor (TPC-H proportions).
_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "users": 15_000,
}
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.15, 0.14, 0.13, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

DAY_US = 86_400_000_000
_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def us(date: str) -> int:
    return int((np.datetime64(date, "us") - _EPOCH).astype(np.int64))


def sizes(sf: float) -> dict[str, int]:
    return {k: max(1, int(round(v * sf))) for k, v in _PER_SF.items()}


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    lo_d, hi_d = us(lo) // DAY_US, us(hi) // DAY_US
    days = rng.integers(lo_d, hi_d + 1, n, dtype=np.int64)
    return pa.array(days * DAY_US, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor `sf` (deterministic)."""
    rng = np.random.default_rng(DATA_SEED)
    n = sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, 8, npart), rng.integers(0, 8, npart)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart).tolist(),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        }
    )
    ne = n["events"]
    start = us("2024-01-01")
    ts = np.sort(rng.integers(start, start + 30 * DAY_US, ne, dtype=np.int64))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def _documents(rng) -> pa.Table:
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 100))))
        for _ in range(N_DOCUMENTS)
    ]
    # ~5% near-duplicates: a copy of another document plus a marker word
    for i in rng.choice(N_DOCUMENTS, N_DOCUMENTS // 20, replace=False):
        j = int(rng.integers(0, N_DOCUMENTS))
        if j != i:
            texts[i] = texts[j] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCUMENTS, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng) -> pa.Table:
    labels = rng.integers(0, 10, N_EMBEDDINGS)
    centers = rng.normal(size=(10, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = rng.normal(size=(N_EMBEDDINGS, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    x += 0.15 * centers[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
            "embedding": pa.array(
                x.astype(np.float32).tolist(), pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def fingerprint(data_dir: str) -> str:
    """Content hash of the staged parquet files (names + bytes)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(data_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]
