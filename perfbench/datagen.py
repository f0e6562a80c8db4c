"""Seeded generator of the star-schema fixture the engine reads.

Writes one single-row-group parquet file per table into a directory,
with the column names and physical types the engine's models, registry
queries and DuckDB oracles expect (customer/orders/lineitem feed the
medallion DAG; the rest feed the query and dedup mixes). The same seed
always gives byte-identical tables. No Spark job runs here: the
fixture exists before the session starts.

Sizes follow the sf0.01 shape: 1,500 customers, 15,000 orders,
60,000 line items, 10,000 events and 500 documents. The sf0.1 shape
does not fit the benchmark's run budget (see README.md).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_VARIANTS = 16
ORDER_EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2_400
EVENT_EPOCH = dt.datetime(2024, 1, 1)
US_PER_DAY = 86_400 * 1_000_000


def _days_to_ts(days: np.ndarray, epoch: dt.datetime) -> pa.Array:
    us = (epoch - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    return pa.array(us + days.astype(np.int64) * US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; every tenth is a near-copy of an earlier
    one (a word appended or one word replaced), so the near-dup
    operators find real pairs and clusters."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words.append("dup")
            else:
                words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 90))))
        texts.append(" ".join(words))
    lang = rng.choice(LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """All tables for `seed`; `scale` shrinks every table but the corpus."""
    rng = np.random.default_rng(seed)
    n = {t: size if t == "documents" else int(size * scale) for t, size in SIZES.items()}
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), pa.float64()),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, npart), rng.choice(NOUNS, npart))]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, npart), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) * 0.1, 1), pa.float64()),
    })
    no = n["orders"]
    order_days = rng.integers(0, ORDER_DAYS, no)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(STATUSES, no), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, no), pa.float64()),
        "o_orderdate": _days_to_ts(order_days, ORDER_EPOCH),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), pa.string()),
    })
    nl = n["lineitem"]
    l_order = rng.integers(0, no, nl)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, nl), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), pa.string()),
        "l_shipdate": _days_to_ts(order_days[l_order] + rng.integers(1, 122, nl), ORDER_EPOCH),
    })
    ne = n["events"]
    ev_us = np.sort(rng.choice(30 * US_PER_DAY, ne, replace=False))
    epoch_us = (EVENT_EPOCH - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(epoch_us + ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, nc // 10, ne), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2) + 0.01, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    })
    # the corpus cycles through DOC_VARIANTS seeds, so the digest of the
    # slow neardup_clusters oracle can be committed for every variant
    doc_rng = np.random.default_rng([seed % DOC_VARIANTS, 7])
    tables["documents"] = _documents(doc_rng, n["documents"])
    return tables


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)

