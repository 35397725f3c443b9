"""Seeded synthetic analytics tables for the ``analytics`` workload.

The query set in ``__spark_entry__`` reads ten parquet tables (a TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``). The
benchmark may only read what it generates inside its checkout, so it builds
tables with the same names, column types and value domains from ``seed``
with NumPy and writes them with pyarrow; no Spark job runs here.

Sizes are ``ROWS_PER_SF`` times ``sf``; the value domains follow the
driver's sf0.1 tables (25 nations, 5 segments, 31-word text vocabulary,
64-dim unit embeddings in 10 labelled clusters, ~5% near-duplicate docs).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS_PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "green", "shiny"]
PART_NOUN = ["ring", "bolt", "anvil", "widget", "gear", "spring", "valve", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table value vector window").split()

EPOCH_1995 = np.datetime64("1995-01-01", "D")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _days(rng: np.random.Generator, n: int, span: int) -> np.ndarray:
    return (EPOCH_1995 + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # ~5% near-duplicates: an earlier doc with one word swapped, tagged
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i == 0:
            continue
        toks = texts[rng.integers(0, i)].split()
        toks[rng.integers(0, len(toks))] = WORDS[rng.integers(0, len(WORDS))]
        texts[i] = " ".join(toks + ["dup"])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] * 0.35 + rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as pyarrow tables; a pure function of (seed, sf)."""
    rng = np.random.default_rng(seed)
    n = {t: max(10, int(r * sf)) for t, r in ROWS_PER_SF.items()}
    n_c, n_s, n_p, n_o, n_l = (n["customer"], n["supplier"], n["part"],
                               n["orders"], n["lineitem"])
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_c)]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_s)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p, dtype=np.int64)),
        "p_name": pa.array(np.array(names)[rng.integers(0, len(names), n_p)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_p)]),
        "p_size": pa.array(rng.integers(1, 51, n_p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_p) % 1000) / 10, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n_o)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_o)),
        "o_orderdate": pa.array(_days(rng, n_o, 2405)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_o)]),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_l)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_l) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_l) / 100, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_l)]),
        "l_shipdate": pa.array(_days(rng, n_l, 2499)),
    })
    n_e = n["events"]
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_e))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, n_e // 66), n_e).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_e)]),
        "value": pa.array(np.round(rng.exponential(60.0, n_e).clip(0, 560), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns total rows."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        total += table.num_rows
    return total
