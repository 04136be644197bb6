"""Deterministic sf0.1-shaped catalog data for the benchmark.

The engine's catalog (``sensql_presto_spark.catalog.TABLES``) reads ten
parquet tables from one directory.  This module writes all ten, with the
schemas, row counts and value distributions of the engine's sf0.1 test
data: a TPC-H-like star schema, a 100,000-row ``events`` stream, a
5,000-document corpus with 5 % near-duplicates, and 2,000 labelled 64-d
unit embeddings.

The data depends only on ``DATA_SEED``, never on the benchmark's
``--seed``: every run reads the same tables, and the run seed only picks
requests.  Generation takes a few seconds and is done once per checkout;
``ensure`` skips it when the stamp file of a finished generation exists.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bumped whenever the generated tables change, so a stale cache regenerates.
VERSION = 1

_SCALE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_VOCAB = (
    "spark window merge table column vector stream value data small join filter big group "
    "hash customer sort order slow line part fast row the agg key query a scan batch"
).split()


def _ts(days_from_epoch: np.ndarray) -> pa.Array:
    micros = (days_from_epoch * 86_400_000_000).astype("int64")
    return pa.array(micros, type=pa.timestamp("us"))


def _days(start: str, end: str) -> tuple[int, int]:
    base = np.datetime64("1970-01-01")
    return int((np.datetime64(start) - base).astype(int)), int((np.datetime64(end) - base).astype(int))


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = _SCALE_ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
            "c_mktsegment": segments[rng.integers(0, 5, n["customer"])],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
        }
    )
    adjectives = np.array(["large", "hot", "blue", "red", "small", "old", "new", "cold"])
    nouns = np.array(["ring", "bolt", "plate", "gear", "rod", "anvil", "widget", "gizmo"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(n["part"])
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": np.char.add(
                np.char.add(adjectives[rng.integers(0, 8, n["part"])], " "),
                nouns[rng.integers(0, 8, n["part"])],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n["part"]).astype(str)),
            "p_type": types[rng.integers(0, 6, n["part"])],
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    )
    lo, hi = _days("1995-01-01", "2001-08-01")
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n["orders"]), 2),
            "o_orderdate": _ts(rng.integers(lo, hi + 1, n["orders"])),
            "o_orderpriority": priorities[rng.integers(0, 5, n["orders"])],
        }
    )
    lo, hi = _days("1995-01-02", "2001-11-04")
    m = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, m), 2),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
            "l_shipdate": _ts(rng.integers(lo, hi + 1, m)),
        }
    )
    m = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span = 30 * 86_400_000_000
    event_types = np.array(["click", "error", "purchase", "signup", "view"])
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(m), pa.int64()),
            "ts": pa.array(start + np.sort(rng.integers(0, span, m)), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, m), pa.int64()),
            "event_type": event_types[rng.integers(0, 5, m)],
            "value": np.round(rng.exponential(50.0, m), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (m, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(m), pa.int64()),
            "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def _documents(rng: np.random.Generator, m: int) -> pa.Table:
    """Bag-of-words documents; every 20th is an earlier document plus ' dup'."""
    texts: list[str] = []
    for i in range(m):
        if i % 20 == 11:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    langs = np.array(["en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 6, m)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(m), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(m)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def ensure(data_dir: str) -> str:
    """Write the tables under ``data_dir`` unless a finished copy is there."""
    stamp = os.path.join(data_dir, f".complete-v{VERSION}")
    if os.path.exists(stamp):
        return data_dir
    tmp = data_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(data_dir, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in _tables(np.random.default_rng(DATA_SEED)).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, f".complete-v{VERSION}"), "w").close()
    os.replace(tmp, data_dir)
    return data_dir


if __name__ == "__main__":
    import sys

    ensure(sys.argv[1])
