"""Seeded synthetic tables in the engine's testdata schemas.

The batch queries read ten parquet tables (``session.TABLES``). This
module writes them from a seed alone, with the column names, parquet
types and value domains the queries and their DuckDB oracles expect:
TPC-H-like order/lineitem facts, an ``events`` stream table, text
``documents`` with planted near-duplicates (so the shingle/MinHash paths
find pairs) and clustered 64-d ``embeddings``. The same seed gives
byte-identical tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at scale factor 1 (the engine's testdata ratios)
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "group filter stream big"
).split()
COLORS = ["red", "blue", "green", "small", "hot", "cold", "big", "old"]
NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "cog"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

_DAY_US = 86_400 * 1_000_000


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random word sequences; every tenth document is an edited copy of
    an earlier one so similarity joins have true pairs to find."""
    out: list[str] = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            toks = out[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            toks = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(8, 100)))]
        out.append(" ".join(toks))
    return out


def make_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """All ten tables as pandas frames (deterministic in ``seed``)."""
    rng = np.random.default_rng(seed)
    n = {t: max(10, int(r * sf)) for t, r in ROWS_AT_SF1.items()}
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    })
    nc = n["customer"]
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in zip(
            rng.integers(0, len(COLORS), npart), rng.integers(0, len(NOUNS), npart))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype("float64")
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype("int64"),
        "l_partkey": rng.integers(0, npart, nl).astype("int64"),
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = n["events"]
    start_us = np.datetime64("2024-01-01", "us").astype("int64")
    t["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": (start_us + rng.integers(0, 30 * _DAY_US, ne)).astype("datetime64[us]"),
        "user_id": rng.integers(0, max(10, ne // 66), ne).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.gamma(2.0, 25.0, ne) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = _texts(rng, nd)
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": list(vecs.astype("float32")),
        "label": labels.astype("int32"),
    })
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group,
    like the engine's testdata); returns row counts. Skips the work when
    a finished copy for the same (sf, seed) is already there."""
    stamp = os.path.join(out_dir, "_rows.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return json.load(fh)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, df in make_tables(sf, seed).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", pa.array(df["embedding"].tolist(), pa.list_(pa.float32()))
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = len(df)
    tmp = stamp + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(rows, fh)
    os.replace(tmp, stamp)
    return rows
