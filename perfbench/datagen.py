"""Seeded synthetic inputs for the benchmark.

``write_clean`` writes the ten tables the engine reads (the TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``) with the
same schemas and value ranges as the engine's test data. The star
schema has TPC-H sizes at scale factor 0.1 (600,000 line items,
150,000 orders, 15,000 customers, 20,000 parts, 1,000 suppliers);
``events``, ``documents`` and ``embeddings`` have fixed
sizes. ``write_dirty`` writes the copy the ``etl_batch`` workload
loads: the four pipeline sources with seeded dirt that the cleaning
layer must remove, plus the clean ``nation``, ``region`` and
``orders`` tables the pipelines join.

The same seed always gives the same bytes of data.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Star schema: TPC-H sizes at scale factor 0.1.
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 10000
N_USERS = 150
N_DOCS = 500
N_VECS = 500
DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a the row query stream key agg scan slow table part merge window order "
    "column join vector fast spark line small customer group value hash "
    "batch sort data big filter"
).split()
# Share of rows whose defaulted column holds the default in the clean
# data and NULL in the dirty copy.
DEFAULTED_SHARE = 0.03
# Shares of dirty rows added per source: NULL-key rows, losing duplicates.
NULL_KEY_SHARE = 0.01
DUP_SHARE = 0.02


def _days(rng, n, start: datetime, end: datetime) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def clean_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    seg = rng.choice(SEGMENTS, N_CUSTOMER).astype(object)
    seg[rng.random(N_CUSTOMER) < DEFAULTED_SHARE] = "UNKNOWN"
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, N_CUSTOMER, -999.99, 9999.99),
        "c_mktsegment": pa.array(seg, pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, N_SUPPLIER, -999.99, 9999.99),
    })
    brand = np.array([f"Brand#{i}" for i in rng.integers(1, 26, N_PART)], object)
    brand[rng.random(N_PART) < DEFAULTED_SHARE] = "UNKNOWN"
    ptype = rng.choice(PART_TYPES, N_PART).astype(object)
    ptype[rng.random(N_PART) < DEFAULTED_SHARE] = "UNKNOWN"
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
        ],
        "p_brand": pa.array(brand, pa.string()),
        "p_type": pa.array(ptype, pa.string()),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": 900.0 + rng.integers(0, 1000, N_PART) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, N_ORDERS, 1000.0, 499999.99),
        "o_orderdate": _days(rng, N_ORDERS, datetime(1995, 1, 1), datetime(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    })

    # Draw extra line items, then keep the first of each primary key so
    # (orderkey, linenumber, partkey, suppkey) is unique.
    m = int(N_LINEITEM * 1.05)
    ok = rng.integers(0, N_ORDERS, m)
    ln = rng.integers(1, 8, m)
    pk = rng.integers(0, N_PART, m)
    sk = rng.integers(0, N_SUPPLIER, m)
    key = ((ok * 8 + ln) * N_PART + pk) * N_SUPPLIER + sk
    _, first = np.unique(key, return_index=True)
    idx = np.sort(first)[:N_LINEITEM]
    n = len(idx)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(ok[idx], pa.int64()),
        "l_partkey": pa.array(pk[idx], pa.int64()),
        "l_suppkey": pa.array(sk[idx], pa.int64()),
        "l_linenumber": pa.array(ln[idx], pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(float),
        "l_extendedprice": _money(rng, n, 901.0, 104999.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, n, datetime(1995, 1, 2), datetime(2001, 11, 4)),
    })

    ts0 = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": ts0 + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": _money(rng, N_EVENTS, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })

    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word changed
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            w = list(rng.choice(WORDS, int(rng.integers(8, 90))))
        texts.append(" ".join(w))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })

    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.8, (N_VECS, DIM))) * 0.1
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


# Per pipeline source: primary key, the column a losing duplicate
# changes (it must sort after the clean row under the pipeline's dedupe
# order, which starts with this column), and the defaulted columns.
_DIRT = {
    "customer": (["c_custkey"], "c_name", {"c_mktsegment": "UNKNOWN"}),
    "supplier": (["s_suppkey"], "s_name", {}),
    "part": (["p_partkey"], "p_name", {"p_brand": "UNKNOWN", "p_type": "UNKNOWN"}),
    "lineitem": (
        ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"], "l_quantity", {}
    ),
}


def dirty_table(name: str, clean: pa.Table, seed: int) -> pa.Table:
    """``clean`` plus NULL-key rows and losing key duplicates, with the
    defaulted columns' default values turned back into NULLs. Cleaning
    it with the pipeline's spec gives back exactly ``clean``."""
    pk, loser_col, defaults = _DIRT[name]
    rng = np.random.default_rng([seed, TABLES.index(name)])
    df = clean.to_pandas()
    for col, default in defaults.items():
        df[col] = df[col].where(df[col] != default, None)
    n = len(df)
    nulls = df.iloc[rng.choice(n, max(1, int(n * NULL_KEY_SHARE)), replace=False)].copy()
    nulls[pk[0]] = None
    dups = df.iloc[rng.choice(n, max(1, int(n * DUP_SHARE)), replace=False)].copy()
    if dups[loser_col].dtype == object:
        dups[loser_col] = dups[loser_col] + "~"
    else:
        dups[loser_col] = dups[loser_col] + 1000
    import pandas as pd

    out = pd.concat([df, nulls, dups], ignore_index=True)
    out = out.iloc[rng.permutation(len(out))]
    return pa.Table.from_pandas(out, schema=clean.schema, preserve_index=False)


def write_clean(out_dir: str, seed: int) -> dict[str, pa.Table]:
    os.makedirs(out_dir, exist_ok=True)
    tables = clean_tables(seed)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return tables


def write_dirty(out_dir: str, clean: dict[str, pa.Table], seed: int) -> None:
    """Write the ``etl_batch`` source copy."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES[:7]:
        tbl = dirty_table(name, clean[name], seed) if name in _DIRT else clean[name]
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def month_bounds(month: str) -> tuple[datetime, datetime]:
    """First and last day (inclusive) of ``YYYY-MM``."""
    lo = datetime.strptime(month + "-01", "%Y-%m-%d")
    nxt = (lo.replace(day=28) + timedelta(days=4)).replace(day=1)
    return lo, nxt - timedelta(days=1)
