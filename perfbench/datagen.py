"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine reads (``session.TABLES``) as one
single-row-group parquet file each, with the schemas, value domains and
size ratios of the engine's TPC-H-ish test fixtures: uniform keys and
measures, an exponential ``events.value``, time-ordered events over 30
days, a 30-word document vocabulary with ~5% " dup"-suffixed near
duplicates, and unit-norm 64-d float32 embeddings. The same ``(sf, seed)``
always gives the same values.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "cold", "large", "hot", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "rod", "anvil", "plate"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

ORDER_DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = (dt.datetime(2001, 8, 1) - ORDER_DAY0).days
SHIP_DAY0 = dt.datetime(1995, 1, 2)
SHIP_DAYS = (dt.datetime(2001, 11, 4) - SHIP_DAY0).days
EVENT_T0 = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86400 * 10**6


def _days(rng, day0, n_days, n):
    days = rng.integers(0, n_days + 1, n).astype("timedelta64[D]")
    return pa.array((np.datetime64(day0, "us") + days).astype("datetime64[us]"),
                    pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1500, round(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, round(1_000_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -1000, 10000, n_supp),
    })
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                               rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, ORDER_DAY0, ORDER_DAYS, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.10, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, SHIP_DAY0, SHIP_DAYS, n_line),
    })
    offs = np.sort(rng.integers(0, EVENT_SPAN_US, n_ev)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64(EVENT_T0, "us") + offs, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, n_ev * 3 // 200), n_ev),
                            pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def write(out_dir: str, sf: float, seed: int) -> None:
    """Write every table to ``out_dir/<name>.parquet`` (one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))

