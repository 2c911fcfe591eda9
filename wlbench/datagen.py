"""Deterministic input tables for the workload benchmark.

The catalog's queries read ten parquet tables (``queries.TABLES``): a
TPC-H-style star (region, nation, customer, supplier, part, orders,
lineitem), an ``events`` click stream, a ``documents`` text corpus with
near-duplicates, and 64-d unit ``embeddings`` in ten clusters. This
module writes them from a seed with numpy and pyarrow only, in the
column types the catalog expects (int64 keys, int32 small ints, 2-dp
doubles, naive microsecond timestamps, float32 vectors).

Row counts follow the scale factor ``sf`` the way TPC-H does: orders
1.5 M x sf, lineitem 4 x orders, customer 150 k x sf, part 200 k x sf,
supplier 10 k x sf, events 1 M x sf; documents and embeddings never
drop below 500 rows so that the similarity operators have work at
small scales. ``workloads.inputs`` writes them once per checkout.
"""

from __future__ import annotations

import json
import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generator's output changes, so cached tables and the
#: committed goldens are known to belong to the same data.
VERSION = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
N_SOURCES = 20
N_CLUSTERS = 10
DIM = 64

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _us(ts: str) -> int:
    return int((np.datetime64(ts, "us") - _EPOCH).astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """2-dp amounts drawn as whole cents, so every value is exact."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo, hi = _us(first), _us(last)
    day = 86_400_000_000
    return _ts(lo + rng.integers(0, (hi - lo) // day + 1, n) * day)


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every input table at scale factor ``sf``, from ``seed``."""
    rng = np.random.default_rng([seed, round(sf * 1_000_000)])
    n_cust = max(int(150_000 * sf), 30)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 300)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 500)
    n_users = max(n_ev // 70, 10)
    n_docs = max(int(50_000 * sf), 500)
    n_vec = max(int(20_000 * sf), 500)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [
                f"{ADJECTIVES[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": retail,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    partkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(partkey, i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.02, 2.3, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    lo = _us("2024-01-01")
    span = 30 * 86_400_000_000
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": _ts(np.sort(lo + rng.integers(0, span, n_ev))),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for _ in range(n_docs):
        if texts and rng.random() < 0.06:
            # near-duplicate: an earlier document with one word replaced
            words = texts[int(rng.integers(0, len(texts)))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=[0.15, 0.4, 0.15, 0.15, 0.15]),
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    centers = rng.normal(size=(N_CLUSTERS, DIM))
    label = rng.integers(0, N_CLUSTERS, n_vec)
    vec = centers[label] + rng.normal(scale=0.8, size=(n_vec, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), i64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, i32),
        }
    )
    return out


def write(out_dir: str, sf: float, seed: int) -> str:
    """Write every table under ``out_dir`` (once) and return it. A
    ``READY`` marker is written last, so a half-written directory from an
    interrupted run is regenerated instead of read."""
    marker = os.path.join(out_dir, "READY")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(f"sf={sf} seed={seed} v{VERSION}\n")
    return out_dir

