"""Seeded input tables: the star schema, events, documents and
embeddings the registry entries read, and from which lake.py derives the
``lake_ingest`` landing files.

The tables follow the column types and value domains of the engine's
synthetic test tables (TESTDATA.md): the same seed gives the same rows. Documents and embeddings carry planted near-duplicates so the
dedup entries have clusters to find.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

# Rows per table of the engine's sf0.1 test tables (TESTDATA.md); a run
# generates ``scale`` times these.
SF01_ROWS = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000,
}


def sizes(scale: float) -> dict[str, int]:
    return {k: max(10, round(v * scale)) for k, v in SF01_ROWS.items()}


WORDS = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
_NOUN = ["bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_LANGS = ["en"] * 3 + ["zh", "de", "es", "fr"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (pd.Timestamp(end) - pd.Timestamp(start)).days
    days = pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, span + 1, n), "D")
    return days.astype("datetime64[us]")


def star_tables(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n = sizes(scale)
    i32 = np.int32
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    pk = np.arange(n["part"], dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n["part"]),
                                              rng.choice(_NOUN, n["part"]))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(_PTYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(i32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, m).astype(i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, m),
        "l_discount": np.round(rng.integers(0, 11, m) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, m) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["O", "F"], m),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
    })
    e = n["events"]
    ts = (pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.sort(rng.integers(0, 30 * 86400 * 10**6, e)), "us"
    )).astype("datetime64[us]")
    t["events"] = pd.DataFrame({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 150, e).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, e),
        "value": _money(rng, 0.01, 490.02, e),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng, n: int) -> pd.DataFrame:
    """A fifth of the documents are near-duplicates (a few word edits)
    of distinct originals, so every seed plants the same cluster shape."""
    n_dup = n // 5
    texts = [list(rng.choice(WORDS, rng.integers(10, 90))) for _ in range(n - n_dup)]
    for src in rng.choice(len(texts), n_dup, replace=False):
        words = list(texts[src])
        for j in rng.integers(0, len(words), max(1, len(words) // 20)):
            words[j] = WORDS[rng.integers(0, len(WORDS))]
        texts.append(words)
    order = rng.permutation(n)
    text = [" ".join(texts[i]) for i in order]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(_LANGS, n),
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": np.array([len(s) for s in text], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pd.DataFrame:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0, 1, (10, dim))
    vecs = centroids[labels] + rng.normal(0, 1.5, (n, dim))
    # a tenth are near-copies of distinct originals
    picks = rng.choice(n, 2 * (n // 10), replace=False)
    dup, src = picks[: n // 10], picks[n // 10:]
    vecs[dup] = vecs[src] + rng.normal(0, 0.01, (len(dup), dim))
    labels[dup] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels.astype(np.int32),
    })


def write_star(seed: int, scale: float, out_dir: str) -> dict[str, pd.DataFrame]:
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(seed, scale)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return tables
