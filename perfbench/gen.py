"""Benchmark inputs: the engine's ten input tables, generated offline.

The table CONTENTS are fixed (one content seed, sizes close to the sf0.01
tier of TESTDATA.md), so every slug's expected output is the same for every
benchmark seed. The benchmark seed only picks a row-order permutation and
where each table is cut into its N_FILES parquet part files under
``<out>/<table>.parquet/``. The number of files is the same for every seed:
each file is one scan task, so a seed-dependent count would change the work
a pass does.
A slug whose output changes with the seed therefore depends on row order or
file layout, which the engine promises it does not. ``single_file`` writes
each table as one ``<table>.parquet`` file, the layout the DuckDB oracle reads.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240101

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000
N_EVENTS = 10000
N_USERS = 150
N_DOCS = 500
N_VECS = 500
EMBED_DIM = 64
N_FILES = 3

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
P_ADJ = ("small", "red", "blue", "hot", "cold", "green", "big", "shiny")
P_NOUN = ("ring", "widget", "bolt", "gear", "anvil", "spring", "valve", "nut")
P_TYPES = ("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO")


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days, n) * 86_400_000_000).astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables() -> dict[str, pa.Table]:
    """Every table's rows in canonical order; identical on every call."""
    rng = np.random.default_rng(CONTENT_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, N_CUSTOMER, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, N_SUPPLIER, -999.99, 9999.99),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{rng.choice(P_ADJ)} {rng.choice(P_NOUN)}" for _ in range(N_PART)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(P_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), N_ORDERS),
        "o_totalprice": _money(rng, N_ORDERS, 1000, 500000),
        "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", 2400),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype("float64"),
        "l_extendedprice": _money(rng, N_LINEITEM, 900, 105000),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), N_LINEITEM),
        "l_linestatus": rng.choice(("F", "O"), N_LINEITEM),
        "l_shipdate": _days(rng, N_LINEITEM, "1995-01-02", 2500),
    })
    # Events: a 30-day stream, timestamps strictly increasing with event_id.
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // N_EVENTS, N_EVENTS)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.maximum(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    # Documents: random bags of words; every 20th one re-uses an earlier
    # document's text with a marker token, so the dedup family has
    # near-duplicate pairs to find.
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and i % 20 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS),
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    # Embeddings: unit vectors loosely clustered around ten labelled centres.
    labels = rng.integers(0, 10, N_VECS)
    centres = rng.normal(size=(10, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    vecs = 0.15 * centres[labels] + rng.normal(scale=1 / np.sqrt(EMBED_DIM), size=(N_VECS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_inputs(out_dir: str, seed: int, single_file: bool = False) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables().items():
        rows[name] = table.num_rows
        if single_file:
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
            continue
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        cuts = np.sort(rng.choice(np.arange(1, table.num_rows), N_FILES - 1, replace=False))
        bounds = [0, *cuts.tolist(), table.num_rows]
        leaf = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(leaf, exist_ok=True)
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            pq.write_table(table.slice(lo, hi - lo), os.path.join(leaf, f"part-{i:05d}.parquet"))
    return rows

