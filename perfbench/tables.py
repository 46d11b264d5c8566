"""Seeded relational tables for the query_mix workload, laid out as the
query inventory reads them (``<dir>/<table>.parquet``, one file and one
row group each), at the sizes of scale factor 0.02.

``documents`` is drawn from the shared benchmark corpus, so the dedup
and rule keys see its planted duplicates.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.corpus import FILE_ROWS, Corpus

SF = 0.02
#: rows of the documents and embeddings tables
DOCS, VECTORS = 2000, 1000
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_DAY_US = 86_400 * 10**6
_EPOCH_1995_US = 788_918_400 * 10**6  # 1995-01-01T00:00:00


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(directory: str, name: str, table: pa.Table) -> None:
    pq.write_table(
        table, os.path.join(directory, f"{name}.parquet"), row_group_size=len(table) + 1
    )


def write_tables(directory: str, seed: int, corpus: Corpus) -> dict[str, int]:
    """Write every table; returns rows per table."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(seed + 7919)
    n_cust, n_supp = int(150_000 * SF), int(10_000 * SF)
    n_orders, n_docs, n_vecs = int(1_500_000 * SF), DOCS, VECTORS
    ts = pa.timestamp("us")

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        }),
    }
    order_day = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": pa.array(_EPOCH_1995_US + order_day * _DAY_US, ts),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)  # 1-7 lines per order, ~120k in all
    l_order = np.repeat(np.arange(n_orders), lines)
    n_lines = len(l_order)
    l_number = np.arange(n_lines) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * SF), n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, 900.0, 2100.0, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_lines)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_lines)],
        "l_shipdate": pa.array(
            _EPOCH_1995_US
            + (order_day[l_order] + rng.integers(1, 122, n_lines)) * _DAY_US,
            ts,
        ),
    })
    # straddle the first file boundary: planted copies only sit past it
    doc_ids = range(FILE_ROWS - n_docs // 2, FILE_ROWS - n_docs // 2 + n_docs)
    docs = [corpus.norm[i] for i in doc_ids]
    tables["documents"] = pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": docs,
        "lang": np.array(_LANGS)[rng.integers(0, 5, n_docs)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in docs], pa.int64()),
    })
    vecs = rng.normal(0.0, 0.1, (n_vecs, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    for name, table in tables.items():
        _write(directory, name, table)
    return {name: len(t) for name, t in tables.items()}
