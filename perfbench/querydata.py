"""Seeded generator for the tables the query registry reads.

Same table names, columns and types as the registry's inputs (a TPC-H-ish
star schema plus ``documents``, ``embeddings`` and ``events``), at roughly
a thousandth of TPC-H scale factor 1. Every table is a pure function of the
seed, so a seed names one input set.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["cold", "small", "large", "blue", "old", "new", "red", "green"]
PART_NOUN = ["widget", "bolt", "rod", "anvil", "ring", "gear", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

ROWS = {
    "documents": 500,
    "embeddings": 500,
    "events": 1000,
    "lineitem": 6000,
    "orders": 1500,
    "customer": 150,
    "part": 200,
    "supplier": 10,
}


def _i64(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int64), pa.int64())


def _i32(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int32), pa.int32())


def _f64(a) -> pa.Array:
    return pa.array(np.round(np.asarray(a, dtype=np.float64), 2), pa.float64())


def _str(a) -> pa.Array:
    return pa.array([str(x) for x in a], pa.string())


def _days(rng, n: int, lo: str, hi: str) -> pa.Array:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = a + rng.integers(0, int((b - a) / np.timedelta64(1, "D")), n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    words = rng.integers(10, 100, n["documents"])
    texts = [" ".join(rng.choice(VOCAB, k)) for k in words]
    vecs = rng.normal(size=(n["embeddings"], 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    span_us = 30 * 24 * 3600 * 1_000_000
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, span_us, n["events"])
    ).astype("timedelta64[us]")
    return {
        "documents": pa.table({
            "doc_id": _i64(np.arange(n["documents"])),
            "text": _str(texts),
            "lang": _str(rng.choice(LANGS, n["documents"])),
            "source": _str(f"src{i % 20}" for i in range(n["documents"])),
            "n_chars": _i64([len(t) for t in texts]),
        }),
        "embeddings": pa.table({
            "vec_id": _i64(np.arange(n["embeddings"])),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": _i32(rng.integers(0, 10, n["embeddings"])),
        }),
        "events": pa.table({
            "event_id": _i64(np.arange(n["events"])),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": _i64(rng.integers(0, 15, n["events"])),
            "event_type": _str(rng.choice(EVENT_TYPES, n["events"])),
            "value": _f64(rng.exponential(50.0, n["events"])),
            "props": _str(json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n["events"])),
        }),
        "lineitem": pa.table({
            "l_orderkey": _i64(rng.integers(0, n["orders"], n["lineitem"])),
            "l_partkey": _i64(rng.integers(0, n["part"], n["lineitem"])),
            "l_suppkey": _i64(rng.integers(0, n["supplier"], n["lineitem"])),
            "l_linenumber": _i32(rng.integers(1, 8, n["lineitem"])),
            "l_quantity": _f64(rng.integers(1, 51, n["lineitem"])),
            "l_extendedprice": _f64(rng.uniform(900, 105000, n["lineitem"])),
            "l_discount": _f64(rng.uniform(0, 0.1, n["lineitem"])),
            "l_tax": _f64(rng.uniform(0, 0.08, n["lineitem"])),
            "l_returnflag": _str(rng.choice(["N", "A", "R"], n["lineitem"])),
            "l_linestatus": _str(rng.choice(["O", "F"], n["lineitem"])),
            "l_shipdate": _days(rng, n["lineitem"], "1995-01-01", "2001-11-05"),
        }),
        "orders": pa.table({
            "o_orderkey": _i64(np.arange(n["orders"])),
            "o_custkey": _i64(rng.integers(0, n["customer"], n["orders"])),
            "o_orderstatus": _str(rng.choice(["O", "F", "P"], n["orders"])),
            "o_totalprice": _f64(rng.uniform(1000, 500000, n["orders"])),
            "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
            "o_orderpriority": _str(rng.choice(PRIORITIES, n["orders"])),
        }),
        "customer": pa.table({
            "c_custkey": _i64(np.arange(n["customer"])),
            "c_name": _str(f"Customer#{i:09d}" for i in range(n["customer"])),
            "c_nationkey": _i32(rng.integers(0, 25, n["customer"])),
            "c_acctbal": _f64(rng.uniform(-999, 9999, n["customer"])),
            "c_mktsegment": _str(rng.choice(SEGMENTS, n["customer"])),
        }),
        "part": pa.table({
            "p_partkey": _i64(np.arange(n["part"])),
            "p_name": _str(
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, n["part"]), rng.choice(PART_NOUN, n["part"]))
            ),
            "p_brand": _str(f"Brand#{b}" for b in rng.integers(1, 26, n["part"])),
            "p_type": _str(rng.choice(PART_TYPES, n["part"])),
            "p_size": _i32(rng.integers(1, 51, n["part"])),
            "p_retailprice": _f64(900 + np.arange(n["part"]) * 0.1),
        }),
        "supplier": pa.table({
            "s_suppkey": _i64(np.arange(n["supplier"])),
            "s_name": _str(f"Supplier#{i:09d}" for i in range(n["supplier"])),
            "s_nationkey": _i32(rng.integers(0, 25, n["supplier"])),
            "s_acctbal": _f64(rng.uniform(-999, 9999, n["supplier"])),
        }),
        "nation": pa.table({
            "n_nationkey": _i32(np.arange(25)),
            "n_name": _str(f"NATION_{i}" for i in range(25)),
            "n_regionkey": _i32(np.arange(25) % 5),
        }),
        "region": pa.table({
            "r_regionkey": _i32(np.arange(5)),
            "r_name": _str(REGIONS),
        }),
    }


def write(seed: int, out_dir: str) -> list[str]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the names."""
    os.makedirs(out_dir, exist_ok=True)
    out = tables(seed)
    for name, table in out.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return list(out)
