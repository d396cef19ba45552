"""Deterministic input generator for the benchmark.

The engine's fixture tables (TPC-H-ish star schema, an ``events`` stream
table, ``documents`` and ``embeddings``) are rebuilt here from a fixed base
seed, with the schemas and value distributions of the canonical fixture, so
the benchmark needs nothing outside its checkout.  The base tables never
depend on the run seed: the pinned checksums in ``pins.json`` hold for them.
The run seed drives only what a run does with them: the order of operations
and the event batches an ETL tick lands.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

# Row counts at sf=1; every table but the dimensions scales linearly.
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
EMB_DIM = 64

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86_400


def _rows(name: str, sf: float) -> int:
    return max(1, round(ROWS_AT_SF1[name] * sf))


def n_users(sf: float) -> int:
    return max(1, _rows("customer", sf) // 10)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first: dt.date, last: dt.date, n: int) -> np.ndarray:
    span = (last - first).days
    base = np.datetime64(first, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def base_tables(sf: float) -> dict[str, pa.Table]:
    """All ten fixture tables at scale ``sf``, from :data:`BASE_SEED`."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = _rows("customer", sf), _rows("supplier", sf), _rows("part", sf)
    n_ord, n_li = _rows("orders", sf), _rows("lineitem", sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _keyed_names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _keyed_names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li)),
    })
    t["events"] = events_table(rng, 0, _rows("events", sf), EVENTS_START, EVENTS_SPAN_S,
                               n_users(sf))
    t["documents"] = _documents(rng, _rows("documents", sf))
    t["embeddings"] = _embeddings(rng, _rows("embeddings", sf))
    return t


def events_table(rng, first_id: int, n: int, start: dt.datetime, span_s: float,
                 n_users: int) -> pa.Table:
    """``n`` events with ids from ``first_id``, ts sorted over ``span_s``."""
    offs = np.sort(rng.integers(0, int(span_s * 1e6), n))
    ts = np.datetime64(start, "us") + offs.astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def _documents(rng, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 101))]) for _ in range(n)]
    marked = rng.random(n) < 0.05
    texts = [f"{s} dup" if m else s for s, m in zip(texts, marked)]
    # exact duplicates: a few marked documents re-appear later under new ids
    src = np.flatnonzero(marked)
    for i in range(max(1, n // 600)):
        a, b = src[i], n - 1 - i
        if b > a:
            texts[b] = texts[a]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.standard_normal((10, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n, dtype=np.int32)
    vec = rng.standard_normal((n, EMB_DIM)) / np.sqrt(EMB_DIM) + 0.07 * centers[label]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_base(out_dir: str, sf: float) -> None:
    """Write the base tables as ``<out_dir>/<name>.parquet`` files."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in base_tables(sf).items():
        write_table(table, os.path.join(out_dir, f"{name}.parquet"))
