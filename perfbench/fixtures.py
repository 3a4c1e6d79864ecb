"""Deterministic fixture generator for the benchmark.

Writes the engine's ten fixture tables (the TPC-H-like star schema, the
``events`` log, ``documents`` and ``embeddings``) with the schemas the
registry keys read, one parquet file per table, each a single row group.
The data depends only on ``DATA_SEED`` and the scale factor, never on the
benchmark's ``--seed``, so every run reads byte-identical inputs and the
fingerprint below identifies them.

Row counts follow TPC-H proportions: lineitem is about 6,000,000 x sf rows,
orders 1,500,000 x sf. ``documents`` and ``embeddings`` stay at 500 rows,
with about 5% near-duplicate documents built by word substitution.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "red", "blue", "hot", "green", "large", "cold", "shiny"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en"] * 9 + ["de", "es", "fr", "zh"] * 3
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_DAY_MS = 86_400_000
_EPOCH_1995 = 788_918_400_000  # 1995-01-01 in ms
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01 in us
N_DOCS = 500
N_VECS = 500
DIM = 64


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": [900 + (i % 1000) / 10 for i in range(n_part)],
    })
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_MS
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    lines = rng.poisson(3.0, n_ord) + 1
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    order = rng.permutation(n_li)
    okey, lnum = okey[order], lnum[order]
    ship = odate[okey] + rng.integers(1, 122, n_li) * _DAY_MS
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, pa.timestamp("ms")),
    })
    ts = _EPOCH_2024_US + np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_evt), pa.int64()),
        "event_type": [_EVENTS[i] for i in rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(40.0, n_evt) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.05:
            # near duplicate: an earlier document with one word swapped and
            # one appended (3-word-shingle Jaccard stays above 0.8)
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            words.append(_WORDS[int(rng.integers(0, len(_WORDS)))])
        else:
            n = int(rng.integers(30, 100))
            words = [_WORDS[k] for k in rng.integers(0, len(_WORDS), n)]
        text = " ".join(words)
        while text in texts:  # every document text is distinct
            text += " " + _WORDS[int(rng.integers(0, len(_WORDS)))]
        texts.append(text)
    t["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    label = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0, 1, (10, DIM))
    vecs = centers[label] + rng.normal(0, 1.5, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return t


def write(out_dir: str, sf: float) -> str:
    """Write every table under ``out_dir`` and return the fixture fingerprint:
    a digest of each table's row count and parquet bytes."""
    os.makedirs(out_dir, exist_ok=True)
    digest = hashlib.sha256(f"sf={sf}".encode())
    for name, table in _tables(sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        with open(path, "rb") as f:
            digest.update(f"{name}:{table.num_rows}:".encode() + f.read())
    return digest.hexdigest()[:16]


def describe(out_dir: str) -> dict[str, dict[str, int]]:
    """Rows, bytes and row groups of each written table."""
    out = {}
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        md = pq.ParquetFile(path).metadata
        out[name] = {"rows": md.num_rows, "bytes": os.path.getsize(path),
                     "row_groups": md.num_row_groups}
    return out
