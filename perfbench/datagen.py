"""Seeded inputs for the benchmark: the reduced TPC-H star schema the
engine's queries are graded on (TESTDATA.md) and the lakehouse batches.

Shapes and value domains follow the synthetic test corpora, so every query
exercises the same code paths; the values come from
``numpy.random.default_rng(seed)``, so two seeds give two different
datasets of the same size.  Only numpy and pyarrow are used: the engine
never sees the generator, only its files.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return (datetime(y, m, d) - datetime(1970, 1, 1)).days * _US_PER_DAY


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, pa.array(values)).cast(pa.string())


def _labelled(prefix: str, keys: np.ndarray) -> pa.Array:
    digits = pc.utf8_lpad(pc.cast(pa.array(keys), pa.string()), 9, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: tuple, end: tuple, n: int) -> pa.Array:
    lo, hi = _epoch_us(*start) // _US_PER_DAY, _epoch_us(*end) // _US_PER_DAY
    days = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(days * _US_PER_DAY, pa.timestamp("us"))


def tpch_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The reduced TPC-H tables at scale ``sf`` (lineitem = 6M * sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(150, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    keys = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": keys,
        "c_name": _labelled("Customer#", keys),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    keys = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": keys,
        "s_name": _labelled("Supplier#", keys),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": pc.binary_join_element_wise(
            _pick(rng, P_ADJ, n_part), _pick(rng, P_NOUN, n_part), " "
        ),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1),
    })
    keys = np.arange(n_ord, dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 900.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, (1995, 1, 1), (2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, (1995, 1, 2), (2001, 11, 4), n_line),
    })
    return t


WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
         "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
         "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector",
         "window"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def corpus_tables(seed: int, n_docs: int = 500, n_events: int = 10_000) -> dict[str, pa.Table]:
    """The pipeline corpora beside the TPC-H tables: ``documents`` (one
    in twenty a copy of an earlier document with `` dup`` appended),
    ``embeddings`` (64-d unit vectors around ten label centroids) and the
    ``events`` stream (timestamps rising with ``event_id`` over 30 days)."""
    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(WORDS[w] for w in words))
    ids = np.arange(n_docs, dtype=np.int64)
    t = {"documents": pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })}
    labels = rng.integers(0, 10, n_docs).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 0.6, (n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    start = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(start, start + 30 * _US_PER_DAY, n_events))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n_events),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    return t


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    """One ``<name>.parquet`` per table, the layout the engine's registry reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def lakehouse_batch(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    """``lineitem``-projection rows for the given ``l_orderkey`` values."""
    n = len(keys)
    return pa.table({
        "l_orderkey": keys.astype(np.int64),
        "l_partkey": rng.integers(0, 200_000, n),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
    })
