"""Seeded generator for the engine's input tables.

Writes one parquet file per table under ``<out_dir>/<name>.parquet``,
the layout ``etl_spark.io.load`` reads. Schemas and value domains follow
FIXTURES.md (section B): a TPC-H-like star schema, an ``events`` stream
and the ``documents`` / ``embeddings`` corpus tables. The same
``(seed, scale)`` always writes the same bytes.

Row counts scale with ``scale`` (1.0 would be 6M lineitems); the corpus
tables have a floor of 500 rows so near-duplicate detection has pairs
to find at every scale.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("red", "blue", "green", "black", "white", "small", "large", "steel")
NOUNS = ("ring", "widget", "bolt", "anvil", "gear", "spring", "valve", "pipe")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMBED_DIM = 64
NEAR_DUP_SHARE = 0.05

_DAY_US = 86_400_000_000
_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2404  # through 2001-08-01
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")
_EVENT_SPAN_US = 30 * _DAY_US


def table_sizes(scale: float) -> dict[str, int]:
    """Row count per table at ``scale``."""
    return {
        "region": len(REGIONS),
        "nation": 25,
        "customer": max(30, round(150_000 * scale)),
        "supplier": max(10, round(10_000 * scale)),
        "part": max(20, round(200_000 * scale)),
        "orders": max(300, round(1_500_000 * scale)),
        "events": max(200, round(1_000_000 * scale)),
        "documents": max(500, round(50_000 * scale)),
        "embeddings": max(500, round(20_000 * scale)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _relational(rng: np.random.Generator, n: dict[str, int]) -> dict[str, pa.Table]:
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    keys = np.arange
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(keys(len(REGIONS)), pa.int32()),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(keys(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(keys(25) % len(REGIONS), pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(keys(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(keys(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }),
        "part": pa.table({
            "p_partkey": pa.array(keys(npart), pa.int64()),
            "p_name": [
                f"{COLORS[c]} {NOUNS[w]}"
                for c, w in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys(npart) % 1000) * 0.1, 2),
        }),
    }
    order_day = rng.integers(0, _ORDER_DAYS, no)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(keys(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.choice(3, no, p=(0.49, 0.49, 0.02))],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": pa.array(_ORDER_EPOCH + order_day * _DAY_US, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(keys(no), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    ship_day = np.repeat(order_day, lines) + rng.integers(1, 122, nl)
    shipped = ship_day < _ORDER_DAYS - 400
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(keys(nl) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.where(shipped, np.array(("A", "R"))[rng.integers(0, 2, nl)], "N"),
        "l_linestatus": np.where(shipped, "F", "O"),
        "l_shipdate": pa.array(_ORDER_EPOCH + ship_day * _DAY_US, pa.timestamp("us")),
    })
    return tables


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    users = max(15, n // 66)
    ts = np.sort(rng.integers(0, _EVENT_SPAN_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(_EVENT_EPOCH + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(40.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    # Every seed gets the same document lengths (10..100 words, in a
    # seeded order) and the same near-duplicate structure, so the work
    # a query does hardly depends on the seed.
    lengths = rng.permutation(10 + (np.arange(n) * 91) // n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # A share of documents in the second half repeat a first-half
    # document's text plus a marker token: near-duplicates for the
    # shingle/MinHash queries. They come in pairs that copy the same
    # base, so each pair is also an exact duplicate.
    n_dup = 2 * max(1, round(NEAR_DUP_SHARE * n / 2))
    dups = np.sort(rng.choice(np.arange(n // 2, n), n_dup, replace=False))
    bases = rng.choice(n // 2, n_dup // 2, replace=False)
    for j, i in enumerate(dups):
        texts[i] = texts[int(bases[j // 2])] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(n + 1) * EMBED_DIM, pa.int32()), flat
        ),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table for ``(seed, scale)``; return rows per table."""
    n = table_sizes(scale)
    tables = _relational(np.random.default_rng([seed, 1]), n)
    tables["events"] = _events(np.random.default_rng([seed, 2]), n["events"])
    tables["documents"] = _documents(np.random.default_rng([seed, 3]), n["documents"])
    tables["embeddings"] = _embeddings(np.random.default_rng([seed, 4]), n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
