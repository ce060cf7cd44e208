"""Deterministic inputs for the benchmark.

``write_tables`` writes the ten fixture tables the engine's catalog
reads (``catalog.TABLES``), with the schemas and value ranges of the
engine's test fixtures, at a given scale factor (1.0 = 6M lineitem
rows). ``event_table`` builds the events-shaped rows the stream
workloads land as files. Both draw every value from a seeded NumPy generator,
so the same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "green", "small", "hot", "cold", "shiny", "old"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "spring", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window column join small big line customer query order sort "
    "filter data group stream vector"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _days(rng: np.random.Generator, n: int, lo_day: int, hi_day: int) -> pa.Array:
    days = rng.integers(lo_day, hi_day, n)
    return pa.array(EPOCH_1995 + (days * DAY_US).astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys], pa.string())


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)], pa.string())


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def relational_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """The ten fixture tables at ``scale`` (TPC-H row ratios)."""
    rng = np.random.default_rng(seed)
    n_cust = max(1, int(150_000 * scale))
    n_supp = max(1, int(10_000 * scale))
    n_part = max(1, int(200_000 * scale))
    n_ord = max(1, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(1, int(1_000_000 * scale))
    n_docs = max(1, int(50_000 * scale))
    n_vec = max(1, int(50_000 * scale))

    cust = np.arange(n_cust)
    supp = np.arange(n_supp)
    part = np.arange(n_part)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(cust, pa.int64()),
            "c_name": _names("Customer", cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(supp, pa.int64()),
            "s_name": _names("Supplier", supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": pa.array(part, pa.int64()),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
                    rng.integers(0, len(PART_ADJ), n_part),
                    rng.integers(0, len(PART_NOUN), n_part),
                )],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (part % 1000) / 10, 2), pa.float64()),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, 0, 2404),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), pa.float64()),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, pa.float64()),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, 1, 2499),
        }),
        "events": event_table(0, n_ev, 150, rng),
        "documents": _documents(rng, n_docs),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(
                list(rng.normal(0, 0.1, (n_vec, 64)).astype(np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(rng.integers(0, 4, n_vec), pa.int32()),
        }),
    }
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [_text(rng, int(k)) for k in rng.integers(8, 80, n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def event_table(first_id: int, n: int, users: int, rng: np.random.Generator) -> pa.Table:
    """``n`` events with ids from ``first_id``. Event time advances
    about one second per event id, so files written in id order are
    also in event-time order."""
    ids = np.arange(first_id, first_id + n)
    ts = EPOCH_2024 + (ids * 1_000_000 + rng.integers(0, 1_000_000, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n) + 0.01, 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def write_tables(out_dir: str, scale: float, seed: int) -> None:
    """Write every fixture table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in relational_tables(scale, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
