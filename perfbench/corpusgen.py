"""Seeded tables in the shape of the engine's testdata layout.

Ten parquet tables per directory, with the columns and types
``cve_manager_spark.sources.testdata`` loads: the TPC-H-like star schema
(region, nation, customer, supplier, part, orders, lineitem), ``events``,
``documents`` (bag-of-words texts with planted exact and near
duplicates) and ``embeddings`` (64-dim float vectors around 10 centres).
``scale`` is the fraction of the testdata layout's sf0.1 row counts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the layout's sf0.1 tables.
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
VOCAB = (
    "spark sql batch part line column order small big sort fast slow value "
    "scan hash group query agg table key filter stream merge join window "
    "customer vector the a data row"
).split()
LANGS = ["en", "zh", "fr", "es", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, base: str, span: int, n: int) -> np.ndarray:
    return np.datetime64(base, "us") + (rng.integers(0, span, n) * np.timedelta64(1, "D")).astype(
        "timedelta64[us]"
    )


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i % 97 == 96:
            texts.append(texts[-1])  # exact duplicate
        elif i % 41 == 40:
            w = texts[-1].split()  # near duplicate: one word replaced
            w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(w))
        else:
            ln = int(rng.integers(8, 80))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), ln)))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(0, 0.18, size=(10, 64))
    labels = rng.integers(0, 10, size=n)
    vecs = (centers[labels] + rng.normal(0, 0.07, size=(n, 64))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })


def events(seed: int, scale: float) -> pa.Table:
    """The ``events`` table alone, as a stream source is cut from."""
    return _events(np.random.default_rng(seed), max(10, int(SF01_ROWS["events"] * scale)))


def _events(rng, n: int) -> pa.Table:
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(0, span_us, n).astype("timedelta64[us]"))
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n // 67), n), pa.int64()),
        "event_type": pa.array(rng.choice(["view", "click", "purchase", "signup", "error"], n), pa.string()),
        "value": pa.array(np.round(rng.random(n) * 100, 2), pa.float64()),
        "props": pa.array([f'{{"k": {int(v)}}}' for v in rng.integers(0, 100, n)], pa.string()),
    })


def _star(rng, rows: dict[str, int]) -> dict[str, pa.Table]:
    nc, ns, np_, no, nl = (rows[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.random(nc) * 11_000 - 1_000, 2), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.random(ns) * 11_000 - 1_000, 2), pa.float64()),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(np_), pa.int64()),
            "p_name": pa.array([" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), 2)) for _ in range(np_)]),
            "p_brand": pa.array([f"Brand#{i % 25}" for i in range(np_)]),
            "p_type": pa.array(rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], np_)),
            "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32), pa.int32()),
            "p_retailprice": pa.array(np.round(rng.random(np_) * 100 + 900, 1), pa.float64()),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], no), pa.string()),
            "o_totalprice": pa.array(np.round(rng.random(no) * 400_000 + 1_000, 2), pa.float64()),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2400, no), pa.timestamp("us")),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no), pa.string()
            ),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64), pa.float64()),
            "l_extendedprice": pa.array(np.round(rng.random(nl) * 104_000 + 900, 2), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
            "l_linestatus": pa.array(rng.choice(["O", "F"], nl), pa.string()),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, nl), pa.timestamp("us")),
        }),
    }


def generate(out_dir: str, seed: int, scale: float) -> str:
    """Write the ten tables under ``out_dir``; return it."""
    rng = np.random.default_rng(seed)
    rows = {k: max(10, int(v * scale)) for k, v in SF01_ROWS.items()}
    tables = _star(rng, rows)
    tables["events"] = _events(rng, rows["events"])
    tables["documents"] = _documents(rng, rows["documents"])
    tables["embeddings"] = _embeddings(rng, rows["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
