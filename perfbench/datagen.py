"""Seeded input generators for the three workloads.

Every generator takes a ``random.Random`` or a seed and returns plain
Python data or writes parquet files; the program under test only ever sees
the generated inputs.  Same seed, same inputs.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- TPC-H-shaped tables for bulk_graph ---------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "black", "white", "small", "large", "tiny"]
NOUNS = ["anvil", "bolt", "widget", "ring", "gear", "spring", "valve", "nut"]

# Row counts of the generated store: a third of TPC-H sf0.01's orders,
# which keeps one pass of the graph queries within ten seconds on four
# cores.  Customers stay at sf0.01's count: doc_find_predicates keeps only
# names ending in "00", and with fewer customers some seeds match none.
TPCH_ROWS = {"customer": 1500, "supplier": 40, "part": 300, "orders": 5000}
MAX_LINES_PER_ORDER = 7


def _epoch_us(days: np.ndarray, start: dt.date) -> np.ndarray:
    base = dt.datetime(start.year, start.month, start.day).timestamp()
    return ((base + days.astype(np.int64) * 86400) * 1_000_000).astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tpch(seed: int, out_dir: str) -> None:
    """Write region/nation/customer/supplier/part/orders/lineitem parquet
    files with the column names and types the graph queries read."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    ts = pa.timestamp("us")
    n_c, n_s, n_p, n_o = (TPCH_ROWS[t] for t in ("customer", "supplier", "part", "orders"))

    nations = rng.integers(0, 25, n_c)
    acctbal = _money(rng, -999.99, 9999.99, n_c)
    segments = rng.choice(SEGMENTS, n_c)
    # doc_find_predicates keeps BUILDING or MACHINERY (or rich) customers
    # outside nation 3 whose name ends in "00": plant one, so that no seed
    # leaves it empty
    segments[0], nations[0] = "BUILDING", 4
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in range(n_c)],
            "c_nationkey": pa.array(nations, pa.int32()),
            "c_acctbal": acctbal,
            "c_mktsegment": segments,
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p), pa.int64()),
            "p_name": [f"{rng.choice(COLORS)} {rng.choice(NOUNS)}" for _ in range(n_p)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
            "p_type": rng.choice(PART_TYPES, n_p),
            "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 2),
        }),
    }
    order_days = rng.integers(0, 2404, n_o)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": pa.array(_epoch_us(order_days, dt.date(1995, 1, 1)), ts),
        "o_orderpriority": rng.choice(PRIORITIES, n_o),
    })
    lines = rng.integers(1, MAX_LINES_PER_ORDER + 1, n_o)
    l_order = np.repeat(np.arange(n_o), lines)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_l = len(l_order)
    qty = rng.integers(1, 51, n_l).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": pa.array(
            _epoch_us(order_days[l_order] + rng.integers(1, 122, n_l), dt.date(1995, 1, 1)), ts
        ),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- documents table for store_cdc ----------------------------------------------

WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark the line "
    "sort window order data column join small customer query big stream filter "
    "group a"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.14, 0.44, 0.14, 0.13, 0.15]
N_SOURCES = 20


def doc_row(rng: random.Random, doc_id: int) -> tuple:
    text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(8, 80)))
    lang = rng.choices(LANGS, LANG_WEIGHTS)[0]
    return (doc_id, text, lang, f"src{rng.randrange(N_SOURCES)}", len(text))


# -- social graph for oltp_social --------------------------------------------------

CITIES = [f"city{k}" for k in range(12)]
KNOWS_PER_PERSON = 5  # drawn with replacement; self loops are dropped
VISITS_PER_PERSON = 1


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (k + 1) ** s for k in range(n)]


def social_graph(rng: random.Random, n_people: int, n_places: int):
    """People (name/age/city), places, ``knows`` edges with a few hubs
    (targets drawn Zipf-skewed over a shuffled ranking) and ``visits``
    edges.  No self loops.  Returns (people, places, knows, visits) where
    edges are (src_index, dst_index) pairs."""
    people = [
        {"name": f"person{i}", "age": rng.randint(16, 80), "city": rng.choice(CITIES)}
        for i in range(n_people)
    ]
    places = [{"name": f"place{i}", "city": rng.choice(CITIES)} for i in range(n_places)]
    ranking = list(range(n_people))
    rng.shuffle(ranking)
    weights = zipf_weights(n_people, 0.9)
    knows = []
    for src in range(n_people):
        for dst in rng.choices(ranking, weights, k=KNOWS_PER_PERSON):
            if dst != src:
                knows.append((src, dst))
    visits = [
        (src, rng.randrange(n_places))
        for src in range(n_people)
        for _ in range(VISITS_PER_PERSON)
    ]
    return people, places, knows, visits
