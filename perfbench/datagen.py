"""Seeded generator for the benchmark's TPC-H-shaped parquet dataset.

Writes the ten tables `sources.tpch.read_tables` expects (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the same column names, types and value domains as the reference test
data, at any scale factor. Row counts follow sf: at sf=0.1 there are 15,000
customers, 150,000 orders (~600,000 line items), 100,000 events by 1,500
users, 5,000 documents and 2,000 embeddings.

The same (sf, seed) always writes byte-identical tables, so a dataset is
built once per checkout and reused by every run (`ensure_dataset`).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table value "
    "window graph node edge path plan cache index shard page"
).split()
EMB_DIM = 64
EMB_CLUSTERS = 10
BRANDS = 25


def table_sizes(sf: float) -> dict[str, int]:
    def n(base: int, floor: int) -> int:
        return max(floor, int(round(base * sf)))

    return {
        "customer": n(150_000, 30),
        "supplier": n(10_000, 5),
        "part": n(200_000, 40),
        "orders": n(1_500_000, 300),
        "events": n(1_000_000, 400),
        "users": n(15_000, 20),
        "documents": n(50_000, 60),
        "embeddings": n(20_000, 80),
    }


def _ts_us(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _write(out: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out: str, sf: float, seed: int = 0) -> None:
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    os.makedirs(out, exist_ok=True)

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(
            ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
        ),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })

    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), nc)]
        ),
    })

    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2)),
    })

    npart = n["part"]
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), npart)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), npart)]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, BRANDS + 1, npart)]
        ),
        "p_type": pa.array(
            np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), npart)]
        ),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900 + rng.uniform(0, 99.9, npart), 2)
        ),
    })

    no = n["orders"]
    day_us = 86_400 * 1_000_000
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": _ts_us(dt.datetime(1995, 1, 1), odays * day_us),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, len(PRIORITIES), no)]
        ),
    })

    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    l_order = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_num = (np.arange(nl) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    partkey = rng.integers(0, npart, nl).astype(np.int64)
    price = np.round(qty * (900 + rng.uniform(0, 99.9, nl)), 2)
    ship = np.repeat(odays, lines) + rng.integers(1, 122, nl)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(partkey),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(l_num),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _ts_us(dt.datetime(1995, 1, 1), ship * day_us),
    })

    ne = n["events"]
    month_us = 30 * day_us
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts_us(dt.datetime(2024, 1, 1), rng.integers(0, month_us, ne)),
        "user_id": pa.array(rng.integers(0, n["users"], ne).astype(np.int64)),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), ne)]
        ),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })

    nd = n["documents"]
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.15:
            # near-duplicate of an earlier document: a few words replaced
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 12)):
                toks[j] = words[rng.integers(0, len(words))]
        else:
            toks = list(words[rng.integers(0, len(words), rng.integers(8, 100))])
        texts.append(" ".join(toks))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), nd)]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    nv = n["embeddings"]
    centers = rng.normal(0, 1, (EMB_CLUSTERS, EMB_DIM))
    label = rng.integers(0, EMB_CLUSTERS, nv)
    vec = centers[label] + rng.normal(0, 1.0, (nv, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def ensure_dataset(root: str, sf: float, seed: int = 0) -> str:
    """Build the dataset under `root` once; later calls reuse it. A partial
    build never becomes visible: tables land in a temp dir that is renamed
    into place only when complete."""
    out = os.path.join(root, f"sf{sf:g}-seed{seed}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(tmp, sf, seed)
    os.replace(tmp, out)
    return out
