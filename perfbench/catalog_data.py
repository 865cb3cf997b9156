"""Seeded catalog tables for the query-catalog headliners.

Same table names, column names and types as the fixtures
``__spark_entry__.queries()`` reads (a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``), sized by ``scale``
(``scale=0.01`` gives about 60k lineitem rows). Values are random from
the seed; every headliner is checked against its DuckDB oracle on the
same files, so no particular distribution is needed for correctness.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _ts(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")


def _day(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    return np.datetime64(start, "D").astype("datetime64[us]") + (
        rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    )


def _write(out: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    tmp = os.path.join(out, f".{name}.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(out, f"{name}.parquet"))


def write_catalog(out: str, seed: int, scale: float) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 100)
    n_ord = max(int(1_500_000 * scale), 500)
    n_li = max(int(6_000_000 * scale), 2000)
    n_ev = max(int(1_000_000 * scale), 1000)
    n_doc = max(int(50_000 * scale), 200)
    n_emb = max(int(50_000 * scale), 200)

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{a} widget" for a in rng.choice(["cold", "small", "big", "red", "shiny"], n_part)
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _day(rng, n_ord, "1995-01-01", 2400),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _day(rng, n_li, "1995-01-02", 2500),
    })
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(_ts(rng, n_ev, "2024-01-01", 30)),
        "user_id": rng.integers(0, max(n_cust // 100, 20), n_ev).astype(np.int64),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lens = rng.integers(10, 100, n_doc)
    texts = [" ".join(rng.choice(_WORDS, n)) for n in lens]
    for i in range(0, n_doc, 40):  # near-duplicates for the dedup operators
        texts[i] = texts[i // 2] + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "ru"], n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(0, 0.1, (n_emb, 64)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
    })
