"""Seeded generator for the engine's fixture tables.

Writes the ten tables the queries read (``region`` … ``embeddings``) as
single-row-group parquet files with the fixture schemas listed in
FIXTURES.md, at a given scale factor. Column distributions follow the
committed fixtures: uniform keys, TPC-H-style enumerations, a 31-word
vocabulary for documents with 5% near-duplicates (``base + " dup"``) and a
few exact duplicates, unit-norm 64-d embeddings, and exponential event
values over 30 days of timestamps. The same seed gives byte-identical
tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_EPOCH_US = 86_400 * 1_000_000


def _day_us(year: int, month: int, day: int) -> int:
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us").astype(np.int64))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def _documents(rng, n: int) -> dict:
    n_words = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    vocab = np.array(VOCAB)
    texts, pos = [], 0
    for k in n_words:
        texts.append(" ".join(vocab[words[pos:pos + k]]))
        pos += k
    # 5% near-duplicates and 8 exact duplicates of earlier documents
    # give the dedup operators real work to find.
    n_near = n // 20
    near = set(rng.choice(np.arange(n // 2, n), n_near, replace=False).tolist())
    for i in sorted(near):
        texts[i] = texts[int(rng.integers(0, n // 2))] + " dup"
    for i in rng.choice(np.arange(n // 2, n), 8, replace=False).tolist():
        if i not in near:
            texts[i] = texts[int(rng.integers(0, n // 2))]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    }


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": max(1, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)), "embeddings": max(500, int(20_000 * sf)),
    }


def _retail(n_part: int) -> np.ndarray:
    return np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)


def _region(rng, n):
    return {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }


def _nation(rng, n):
    return {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }


def _customer(rng, n):
    k = n["customer"]
    return {
        "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, k)),
    }


def _supplier(rng, n):
    k = n["supplier"]
    return {
        "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
    }


def _part(rng, n):
    k = n["part"]
    return {
        "p_partkey": pa.array(np.arange(k, dtype=np.int64)),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in rng.integers(0, 8, (k, 2))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
        "p_type": pa.array(rng.choice(P_TYPES, k)),
        "p_size": pa.array(rng.integers(1, 51, k).astype(np.int32)),
        "p_retailprice": pa.array(_retail(k)),
    }


def _days(rng, first: int, last: int, k: int) -> pa.Array:
    return _ts(rng.integers(first // _EPOCH_US, last // _EPOCH_US + 1, k) * _EPOCH_US)


def _orders(rng, n):
    k = n["orders"]
    return {
        "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k)),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), k)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, k)),
        "o_orderdate": _days(rng, _day_us(1995, 1, 1), _day_us(2001, 8, 1), k),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, k)),
    }


def _lineitem(rng, n):
    k = n["lineitem"]
    part = rng.integers(0, n["part"], k)
    qty = rng.integers(1, 51, k).astype(np.float64)
    return {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k)),
        "l_partkey": pa.array(part),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k)),
        "l_linenumber": pa.array(rng.integers(1, 8, k).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * _retail(n["part"])[part] * rng.uniform(0.02, 2.33, k), 2)),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), k)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), k)),
        "l_shipdate": _days(rng, _day_us(1995, 1, 2), _day_us(2001, 11, 4), k),
    }


def _events(rng, n):
    k = n["events"]
    return {
        "event_id": pa.array(np.arange(k, dtype=np.int64)),
        "ts": _ts(np.sort(_day_us(2024, 1, 1) + rng.integers(0, 30 * _EPOCH_US, k))),
        "user_id": pa.array(rng.integers(0, n["users"], k)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, k)),
        "value": pa.array(np.round(rng.exponential(50.0, k), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
    }


def _embeddings(rng, n):
    k = n["embeddings"]
    emb = rng.standard_normal((k, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(k, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k).astype(np.int32)),
    }


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events,
    "documents": lambda rng, n: _documents(rng, n["documents"]),
    "embeddings": _embeddings,
}


def generate(out_dir: str, sf: float, seed: int, tables=TABLES) -> None:
    """Write ``tables`` for ``sf`` under ``out_dir``. Each table draws from
    its own stream of ``seed``, so a table does not depend on which others
    are written."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = _sizes(sf)
    for name in tables:
        rng = np.random.default_rng([seed, TABLES.index(name)])
        _write(out_dir, name, _BUILDERS[name](rng, sizes))
