"""Seeded TPC-H-shaped test tables for the benchmark.

Writes the ten tables the engine's suites read (``graph.TABLES``), one
parquet file each, with the same column names and types as the
reference test data. Sizes scale with ``sf`` the way TPC-H does
(sf=0.01: 1,500 customers, 100 suppliers, 15,000 orders). The content
depends only on ``seed``, so two runs with one seed see identical
tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join index graph edge node query plan stage "
    "task shuffle cache state"
).split()
EMB_DIM = 64
EMB_LABELS = 10
#: every document whose id is ≡ 0 mod this is a near-copy of its
#: predecessor, so the dedup jobs always have pairs to find
NEAR_DUP_EVERY = 5


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(25, int(10_000 * sf)),
        "part": max(50, int(200_000 * sf)),
        "orders": max(200, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(500, int(1_000_000 * sf)),
        "documents": max(50, int(50_000 * sf)),
        "embeddings": max(50, int(50_000 * sf)),
    }


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, start: str, n_days: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _text(rng, n_words: int) -> str:
    return " ".join(rng.choice(WORDS, n_words))


def generate(out: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out``; returns the row count per table."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    i32, i64 = pa.int32(), pa.int64()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    npart = n["part"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(["small", "red", "blue", "large"], npart),
            rng.choice(["ring", "widget", "bolt", "gear"], npart))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "PROMO"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900.0 + np.arange(npart) % 1000 * 0.1, 2),
    })
    no = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(rng, no, "1992-01-01", 2500),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": _money(rng, nl, 900.0, 100000.0),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1992-01-01", 2500),
    })
    ne = n["events"]
    users = max(15, ne // 66)
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, users, ne), i64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": _money(rng, ne, 0.0, 100.0),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for d in range(nd):
        if d % NEAR_DUP_EVERY == 0 and d > 0:
            words = texts[-1].split()
            words[rng.integers(0, len(words))] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(8, 90))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{d % 20}" for d in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    nm = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, nm)
    vecs = centers[labels] + rng.normal(0.0, 1.2, (nm, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nm), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return {"region": 5, "nation": 25, **n}

