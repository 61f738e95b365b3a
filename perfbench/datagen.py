"""Seeded synthetic star schema for the benchmark.

Writes the ten tables the query registry reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column types, value domains and scale rules
of the project's TPC-H-ish test data: row counts follow the scale factor,
the same seed always yields byte-identical tables, and a new seed redraws
every value while keeping sizes and distributions, so query cost depends
on the scale factor and not on the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
NOUNS = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DUP_SHARE = 0.05
EMBED_DIM = 64


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _uniform_ts(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    """Day-granular timestamps in [lo, hi] (TIMESTAMP(MICROS), not UTC-adjusted)."""
    day = 86_400_000_000
    days = rng.integers(0, (_us(hi) - _us(lo)) // day + 1, n)
    return pa.array(_us(lo) + days * day, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist()


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
        for _ in range(n)
    ]
    # near-duplicates: a share of the documents are another document's
    # text plus a marker token, so every dedup operator has real pairs
    n_dup = int(n * DUP_SHARE)
    dup_ids = rng.choice(n, n_dup, replace=False)
    for i in dup_ids:
        src = int(rng.integers(0, n))
        if src != i:
            texts[i] = texts[src] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    m = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(m), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{ADJECTIVES[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _uniform_ts(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": i32(rng.integers(1, 8, n_li)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _uniform_ts(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    span = _us("2024-01-31") - _us("2024-01-01")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(
                _us("2024-01-01") + np.sort(rng.integers(0, span, n_ev)), pa.timestamp("us")
            ),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vec)
    return t


def write_star(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        rows[name] = table.num_rows
    return rows
