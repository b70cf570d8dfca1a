"""Seeded generator for the registry's input tables.

Writes the ten tables the registry queries read (``region`` ...
``embeddings``) with the column names, types and value ranges of the
repo's synthetic TPC-H-ish star schema plus its ``events``,
``documents`` and ``embeddings`` tables. ``scale`` follows the same
convention: lineitem has about ``6_000_000 * scale`` rows.

Documents are drawn from a small vocabulary, and one in five is a light
edit of an earlier document, so the near-duplicate families find pairs.
Files are cached per (seed, scale) under the cache directory.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_ADJ = ("red", "old", "cold", "hot", "new", "small")
_NOUN = ("bolt", "plate", "widget", "gear", "ring", "anvil")
_EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "window spark order data column join small big line customer query "
    "filter sort group stream vector"
).split()


def _day_stamps(rng, n, lo: dt.date, hi: dt.date) -> np.ndarray:
    days = rng.integers(0, (hi - lo).days + 1, n)
    return (np.datetime64(lo, "D") + days).astype("datetime64[us]")


def _tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0xBA7C])
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_docs = int(1_000_000 * scale), int(50_000 * scale)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1 % 1100, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": money(900.0, 500_000.0, n_ord),
        "o_orderdate": _day_stamps(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(("R", "A", "N"), n_li),
        "l_linestatus": rng.choice(("F", "O"), n_li),
        "l_shipdate": _day_stamps(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    # events: ~4-minute mean spacing from 2024-01-01, sorted by time
    gaps = rng.exponential(4 * 60 * 1e6 * 0.01 / scale, n_ev).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(2, int(15_000 * scale)), n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": money(0.01, 490.0, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[k] for k in rng.integers(0, len(_VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    emb = rng.normal(0.0, 0.15, (n_docs, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, n_docs).astype(np.int32),
    })
    return t


def build_tables(cache_dir: str, seed: int, scale: float) -> str:
    """→ directory holding ``<table>.parquet`` for every table."""
    root = os.path.join(cache_dir, f"batch-s{seed}-sf{scale:g}")
    if not os.path.exists(os.path.join(root, "DONE")):
        os.makedirs(root, exist_ok=True)
        for name, table in _tables(seed, scale).items():
            pq.write_table(table, os.path.join(root, f"{name}.parquet"))
        open(os.path.join(root, "DONE"), "w").close()
    return root
