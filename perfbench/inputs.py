"""Deterministic input tables for the benchmark.

Only the tables the workloads read are made: customer, supplier, orders,
lineitem, documents and embeddings. They follow the engine's fixture
schema and shape (FIXTURES.md at the repository root; README.md sets the
graphs they give beside the fixture's) and are generated from one fixed
numpy seed, so every run of every workload reads the same bytes.
``--seed`` never reaches these tables: it only picks the keys the
``etl_upsert`` targets start with.

Scale ``sf`` follows the fixture convention: sf0.01 has 15,000 orders
and about 60,000 lineitems.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import uuid
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
#: share of documents that are a near copy of an earlier one (the fixture's)
NEAR_COPY = 0.05
SEGMENTS = ("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
#: the tables made, and the only ones the expectations read and hash
TABLES = ("customer", "supplier", "orders", "lineitem", "documents", "embeddings")
#: written by ``build`` last, so a directory holding it is complete
DONE = "_COMPLETE"


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (seconds * 1_000_000).astype("int64") + int(base.timestamp() * 1_000_000)
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents of 10-99 words over the fixture's 30-word
    vocabulary; one in twenty is a near copy of an earlier one (a word
    swapped and ``dup`` appended), so the near-dup graph has edges."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < NEAR_COPY:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words) + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Isotropic unit vectors with labels drawn apart from them, as in the
    fixture: about 12 % of all pairs have a cosine over 0.15."""
    vecs = rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    label = rng.integers(0, labels, n)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_doc = int(1_500_000 * sf), max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    day = 86_400
    out: dict[str, pa.Table] = {}
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("P", "O", "F")[j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2400, n_ord) * day),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
        }
    )
    # 1-7 lines per order, ~4 on average, numbered from 1 within the order
    per_order = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord), per_order)
    starts = np.cumsum(per_order) - per_order
    l_ln = np.arange(len(l_ok)) - np.repeat(starts, per_order) + 1
    n_li = len(l_ok)
    qty = rng.integers(1, 51, n_li).astype("float64")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_ok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_ln, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("R", "A", "N")[j] for j in rng.integers(0, 3, n_li)],
            "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2500, n_li) * day),
        }
    ).take(pa.array(rng.permutation(n_li)))
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def build(root: Path, sf: float) -> Path:
    """Write every table of scale ``sf`` under ``root/sf<sf>`` once, plus
    the DuckDB database file the JDBC extract reads ``orders`` from.
    A finished directory is published by one rename, so an interrupted
    build is never mistaken for a finished one."""
    import duckdb

    final = root / f"sf{sf}"
    if (final / DONE).exists():
        return final
    root.mkdir(parents=True, exist_ok=True)
    tmp = root / f".tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    tmp.mkdir()
    try:
        for name, table in tables(sf).items():
            pq.write_table(table, tmp / f"{name}.parquet")
        con = duckdb.connect(str(tmp / "source.duckdb"))
        try:
            con.execute(
                "CREATE TABLE orders AS SELECT * FROM read_parquet(?) ORDER BY o_orderkey",
                [str(tmp / "orders.parquet")],
            )
        finally:
            con.close()
        (tmp / DONE).touch()
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final
