"""Seeded fixture tables for the operator-mix workload.

Writes one parquet file per table with the schema and value domains of
the repository's sf fixtures (a TPC-H-like star schema plus ``events``
and ``documents``), so every declared query and its DuckDB twin run
unchanged against them. Row counts scale with ``sf`` as in the
fixtures (``lineitem`` has 6M·sf rows).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
PART_NOUN = ["bolt", "gear", "nut", "pipe", "plate", "ring", "valve", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]  # the fixtures are ~40% English
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(start: str, end: str, rng, n) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n)
    return d.astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _documents(rng, n: int) -> dict:
    """Random-word texts; 5% are a copy of an earlier document plus a
    ``dup`` token (near duplicates) and 0.2% exact copies."""
    texts = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and u < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 101))
            texts.append(" ".join(_pick(rng, VOCAB, k)))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, LANGS, n),
        "source": np.array([f"src{i % 20}" for i in range(n)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def generate(seed: int, sf: float) -> dict[str, dict]:
    """Column dicts per table, deterministic in (seed, sf)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev, n_doc = int(6_000_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    n_users = max(1, int(15_000 * sf))
    i32, i64 = np.int32, np.int64
    t = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": np.array(REGIONS, dtype=object),
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object),
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=i64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(n_cust)], dtype=object),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=i64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(n_supp)], dtype=object),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    pk = np.arange(n_part, dtype=i64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(_pick(rng, PART_ADJ, n_part).astype(str), " "),
            _pick(rng, PART_NOUN, n_part).astype(str),
        ).astype(object),
        "p_brand": np.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], dtype=object
        ),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=i64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", rng, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(i64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(i64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(i64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days("1995-01-02", "2001-11-04", rng, n_li),
    }
    month_us = 30 * 86_400 * 1_000_000
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=i64),
        "ts": (
            np.datetime64("2024-01-01", "us")
            + np.sort(rng.integers(0, month_us, n_ev)).astype("timedelta64[us]")
        ),
        "user_id": rng.integers(0, n_users, n_ev).astype(i64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], dtype=object
        ),
    }
    t["documents"] = _documents(rng, n_doc)
    return t


def write(seed: int, sf: float, out_dir: str) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in generate(seed, sf).items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
