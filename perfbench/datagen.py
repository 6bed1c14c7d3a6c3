"""Seeded benchmark inputs.

Batch workloads read a TPC-H-shaped star schema: the ten tables the
query registry reads, with the column names and types described in
TESTDATA.md. One base dataset is generated from a fixed generator seed;
a workload seed then shifts every entity key and every foreign key by
``seed * KEY_STRIDE`` -- the key-offset scheme of
``tools/make_scale_probe.py`` -- so joins land exactly as in the base,
group sizes are unchanged and every seed costs the same work. Seed 0 is
the base itself.

The pickup stream reads users, stores and products over the key ranges
of ``sources.generator`` (10k / 1k / 10k), the dimension shapes of
``schemas.USER_SCHEMA`` / ``STORE_SCHEMA`` / ``PRODUCT_SCHEMA``.
"""

from __future__ import annotations

import json
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_SEED = 42
# a multiple of 10**6 keeps ``key % m`` for every m dividing 10**6, so
# modulus-based sampling in the queries picks the same rows on every seed
KEY_STRIDE = 1_000_000
MAX_SEED = 2**31 - 1

# table -> columns carrying an entity key (same map as make_scale_probe)
KEYED = {
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
TABLES = ["region", "nation", *KEYED]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
EMB_DIM = 64
N_LABELS = 10


def _ts(days_from: str, n: int, span_days: int, rng: np.random.Generator) -> np.ndarray:
    base = np.datetime64(days_from, "D")
    return (base + rng.integers(0, span_days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The base star schema at scale factor ``sf`` (0.01 = 60k lineitems)."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_evt = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(int(50_000 * sf), 100), max(int(50_000 * sf), 100)
    n_users = max(int(15_000 * sf), 20)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", n_ord, 6 * 365 + 200, rng),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_no = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    l_qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_pk = rng.integers(0, n_part, n_li, dtype=np.int64)
    perm = rng.permutation(n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": l_ok[perm],
        "l_partkey": l_pk[perm],
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": l_no[perm],
        "l_quantity": l_qty[perm],
        "l_extendedprice": np.round(l_qty * (900.0 + (l_pk % 1000) * 0.1) * rng.uniform(0.98, 1.02, n_li), 2)[perm],
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts("1995-01-02", n_li, 6 * 365 + 300, rng),
    })
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_evt).astype("timedelta64[us]")
    )
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, n_users, n_evt, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(np.minimum(rng.exponential(50.0, n_evt), 490.0) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)],
    })
    texts = []
    for _ in range(n_doc):
        if texts and rng.random() < 0.05:  # near-duplicate of an earlier doc
            src = texts[int(rng.integers(0, len(texts)))].split()
            src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    centers = rng.normal(size=(N_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n_vec)
    vecs = 0.14 * centers[labels] + rng.normal(scale=1 / np.sqrt(EMB_DIM), size=(n_vec, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_seeded(base: dict[str, pa.Table], seed: int, out_dir: str) -> None:
    """Write the key-offset copy for ``seed`` as one parquet file per
    table (the testdata layout)."""
    if not 0 <= seed <= MAX_SEED:
        raise ValueError(f"seed must be in [0, {MAX_SEED}], got {seed}")
    os.makedirs(out_dir, exist_ok=True)
    offset = seed * KEY_STRIDE
    for name in TABLES:
        tbl = base[name]
        for col in KEYED.get(name, []):
            shifted = pc.add(tbl[col], pa.scalar(offset, pa.int64()))
            tbl = tbl.set_column(tbl.schema.get_field_index(col), col, shifted)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# --- pickup-stream dimensions (sources.generator key ranges) ---------------

def write_stream_dims(n_users: int, n_stores: int, n_products: int, out_dir: str) -> None:
    """Users / stores / products covering every key the rate-source
    generator can draw; product prices are seeded from BASE_SEED."""
    rng = np.random.default_rng(BASE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    names = [f"{PART_ADJ[i % 8].capitalize()} {PART_NOUN[(i // 8) % 8].capitalize()}" for i in range(64)]
    users = pa.table({
        "user_id": [str(i) for i in range(n_users)],
        "name": [names[i % 64] for i in range(n_users)],
        "email": [f"{names[i % 64].replace(' ', '.').lower()}.{i}@foo.com" for i in range(n_users)],
    })
    stores = pa.table({
        "store_id": [str(i) for i in range(n_stores)],
        "name": [names[(i * 7) % 64] for i in range(n_stores)],
        "city": ["Minneapolis"] * n_stores,
        "state": ["MN"] * n_stores,
        "postal_code": [f"55{400 + i % 500}" for i in range(n_stores)],
    })
    prices = rng.integers(100, 10_000, n_products)
    products = pa.table({
        "sku": [str(i).rjust(10, "0") for i in range(n_products)],
        "price": pa.array([Decimal(int(p)) / 100 for p in prices], pa.decimal128(12, 2)),
    })
    for name, tbl in (("users", users), ("stores", stores), ("products", products)):
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
