"""Seeded generator for the benchmark's input tables.

Writes the ten fixture tables the engine's inventory reads
(``region nation customer supplier part orders lineitem events
documents embeddings``), one parquet file each, with the same schemas
and value distributions as the repository's TPC-H-ish test fixtures
(see FIXTURES.md). The same ``(seed, scale)`` always gives the same
bytes, so a run's inputs depend only on its seed. ``scale`` plays the
role of the TPC-H scale factor: ``scale=0.1`` gives 600,000 lineitem
rows (about 17 MB of parquet across all tables).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "red", "small", "tiny"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMBED_DIM = 64

SHIP_LO = dt.datetime(1995, 1, 2)
SHIP_DAYS = 2498  # last ship date 2001-11-04
ORDER_LO = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # last order date 2001-08-01
EVENT_LO = dt.datetime(2024, 1, 1)
EVENT_SECONDS = 30 * 86400
_US_PER_DAY = 86_400_000_000


def sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale`` (TPC-H-style linear scaling)."""
    s = scale
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * s)),
        "supplier": max(10, int(10_000 * s)),
        "part": max(200, int(200_000 * s)),
        "orders": max(1_500, int(1_500_000 * s)),
        "lineitem": max(6_000, int(6_000_000 * s)),
        "events": max(1_000, int(1_000_000 * s)),
        "documents": max(500, int(50_000 * s)),
        "embeddings": max(500, int(20_000 * s)),
    }


def _ts_us(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array | list]) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path, compression="snappy")
    return path


def lineitem_columns(
    rng: np.random.Generator,
    n: int,
    orderkeys: np.ndarray,
    n_part: int,
    n_supp: int,
) -> dict[str, pa.Array]:
    """Lineitem-shaped columns for ``n`` rows over the given order keys."""
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": pa.array(orderkeys.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_cents(qty * rng.uniform(900.0, 2100.0, n))),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts_us(SHIP_LO, rng.integers(0, SHIP_DAYS, n) * _US_PER_DAY),
    }


def _documents(rng: np.random.Generator, n: int) -> dict[str, list]:
    """Word-salad documents over a 31-word vocabulary; about 5% are
    near-duplicates of an earlier document (its text plus ``" dup"``),
    so the dedup jobs have real candidate pairs to verify."""
    vocab = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 100)))]))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, EMBED_DIM))
    x = rng.normal(size=(n, EMBED_DIM)) + 0.6 * centers[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel())
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32)), flat
        ),
        "label": pa.array(labels.astype(np.int32)),
    }


def generate(out_dir: str, seed: int, scale: float, tables: list[str] | None = None) -> dict[str, int]:
    """Write the fixture tables under ``out_dir``; return their row counts.

    Each table draws from its own child generator, so restricting
    ``tables`` does not change the bytes of the tables written."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(scale)
    wanted = tables or TABLES
    streams = dict(zip(TABLES, np.random.SeedSequence(seed).spawn(len(TABLES))))
    for name in wanted:
        rng = np.random.default_rng(streams[name])
        k = n[name]
        if name == "region":
            cols = {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}
        elif name == "nation":
            keys = np.arange(25, dtype=np.int32)
            cols = {
                "n_nationkey": pa.array(keys),
                "n_name": pa.array([f"NATION_{i}" for i in keys]),
                "n_regionkey": pa.array(keys % 5),
            }
        elif name == "customer":
            cols = {
                "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
                "c_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
                "c_acctbal": pa.array(_cents(rng.uniform(0.0, 10_000.0, k))),
                "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, k)]),
            }
        elif name == "supplier":
            cols = {
                "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
                "s_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
                "s_acctbal": pa.array(_cents(rng.uniform(0.0, 10_000.0, k))),
            }
        elif name == "part":
            keys = np.arange(k, dtype=np.int64)
            adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), k)]
            noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), k)]
            cols = {
                "p_partkey": pa.array(keys),
                "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
                "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, k)]),
                "p_size": pa.array(rng.integers(1, 51, k).astype(np.int32)),
                "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
            }
        elif name == "orders":
            cols = {
                "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n["customer"], k).astype(np.int64)),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, k)]),
                "o_totalprice": pa.array(_cents(rng.uniform(900.0, 500_000.0, k))),
                "o_orderdate": _ts_us(ORDER_LO, rng.integers(0, ORDER_DAYS, k) * _US_PER_DAY),
                "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, k)]),
            }
        elif name == "lineitem":
            cols = lineitem_columns(
                rng, k, rng.integers(0, n["orders"], k), n["part"], n["supplier"]
            )
        elif name == "events":
            offs = np.sort(rng.integers(0, EVENT_SECONDS * 1_000_000, k))
            cols = {
                "event_id": pa.array(np.arange(k, dtype=np.int64)),
                "ts": _ts_us(EVENT_LO, offs),
                "user_id": pa.array(rng.integers(0, max(15, k // 66), k).astype(np.int64)),
                "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, k)]),
                "value": pa.array(_cents(rng.exponential(40.0, k))),
                "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
            }
        elif name == "documents":
            cols = _documents(rng, k)
        elif name == "embeddings":
            cols = _embeddings(rng, k)
        else:
            raise ValueError(f"unknown table {name!r}")
        _write(out_dir, name, cols)
    return {t: n[t] for t in wanted}

