"""Seeded stand-in for the catalog's test tables.

Writes the ten tables the catalog reads (``plans.testdata_queries.TABLES``)
as one parquet file each, scaled by ``sf`` (sf=0.01: 60,000 lineitem
rows). The benchmark never reads the published test tables; this
generator is matched to them on table and column names, types and row
counts, and on the value properties the distribution-sensitive entries
depend on, as README.md lists and the benchmark's tests check. It is
not the published data: other properties may differ.

Money-like doubles carry two decimals, so the oracle's rounded sums
sit on exact values in both engines.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_NOUN = ["ring", "bolt", "widget", "gear", "nut", "pipe", "valve", "spring"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small order customer query "
    "big group filter stream vector"
).split()
_EPOCH = np.datetime64("1995-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """About 5% of the documents copy an earlier original and append
    " dup": 3-word-shingle Jaccard 0.89-0.99 to it. No original is
    copied twice, so no two documents are equal."""
    vocab = np.array(_WORDS)
    texts: list[str] = []
    originals: list[int] = []  # not copies, not yet copied
    for i in range(n):
        if originals and rng.random() < 0.05:
            k = originals.pop(int(rng.integers(len(originals))))
            texts.append(f"{texts[k]} dup")
        else:
            originals.append(i)
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [_LANGS[k] for k in rng.integers(0, len(_LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(size=(10, dim))
    vecs = centroids[labels] + 2.0 * rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32()),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_users = int(1_500_000 * sf), int(6_000_000 * sf), int(15_000 * sf)
    n_events, n_docs, n_emb = int(1_000_000 * sf), int(50_000 * sf), max(500, int(20_000 * sf))

    def pick(options, n):
        return np.array(options)[rng.integers(0, len(options), n)]

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pick(_SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(pick(_ADJ, n_part), pick(_NOUN, n_part))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": pick(_PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }),
    }
    order_days = rng.integers(0, 2405, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _EPOCH + order_days.astype("timedelta64[D]"),
        "o_orderpriority": pick(_PRIORITIES, n_ord),
    })
    l_order = rng.integers(0, n_ord, n_line)
    ship_days = order_days[l_order] + rng.integers(1, 95, n_line)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _EPOCH + ship_days.astype("timedelta64[D]"),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(month_us, n_events, replace=False))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pick(_EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_emb)
    return tables


def write_tables(out_dir: Path, seed: int, sf: float) -> int:
    """Write every table; returns the bytes written."""
    out_dir.mkdir(parents=True, exist_ok=True)
    total = 0
    for name, table in make_tables(seed, sf).items():
        path = out_dir / f"{name}.parquet"
        pq.write_table(table, path)
        total += path.stat().st_size
    return total
