"""Seeded generator for the tables the benchmark workloads read.

Column names, types and value domains follow the registry's star schema
(``region nation customer supplier part orders lineitem``) plus the
``events``, ``documents`` and ``embeddings`` tables.  Row counts are
``scale`` times the 1x counts below; ``fact_mult`` multiplies the
``lineitem``/``orders`` row counts again and writes those two tables as
a directory of several part files instead of one file.  The same
(seed, scale, fact_mult) always gives byte-identical data.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 1x row counts (the sf0.01 shape of the registry's tables)
BASE_ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500,
    "embeddings": 500,
}
FACT_TABLES = ("lineitem", "orders")
FACT_FILES = 8  # part files per fact table when fact_mult > 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
ORDER_DAY0 = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404   # 1995-01-01 .. 2001-08-01
SHIP_DAY0 = np.datetime64("1995-01-02", "us")
SHIP_DAYS = 2499    # 1995-01-02 .. 2001-11-04
EVENT_T0 = np.datetime64("2024-01-01", "us")
EVENT_SPAN_US = 30 * 86400 * 10**6
DAY_US = np.timedelta64(86400 * 10**6, "us")


def _rows(table: str, scale: float, fact_mult: int = 1) -> int:
    n = max(1, round(BASE_ROWS[table] * scale))
    return n * fact_mult if table in FACT_TABLES else n


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)], pa.string())


def _keys(n):
    return pa.array(np.arange(n, dtype=np.int64))


def _region(rng, scale, fm):
    return pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": pa.array(REGIONS)})


def _nation(rng, scale, fm):
    k = np.arange(25, dtype=np.int32)
    return pa.table({"n_nationkey": pa.array(k),
                     "n_name": pa.array([f"NATION_{i}" for i in k]),
                     "n_regionkey": pa.array(k % 5)})


def _customer(rng, scale, fm):
    n = _rows("customer", scale)
    return pa.table({
        "c_custkey": _keys(n),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })


def _supplier(rng, scale, fm):
    n = _rows("supplier", scale)
    return pa.table({
        "s_suppkey": _keys(n),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })


def _part(rng, scale, fm):
    n = _rows("part", scale)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return pa.table({
        "p_partkey": _keys(n),
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) / 10,
                                           1)),
    })


def _orders(rng, scale, fm):
    n = _rows("orders", scale, fm)
    return pa.table({
        "o_orderkey": _keys(n),
        "o_custkey": pa.array(rng.integers(0, _rows("customer", scale), n)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n)),
        "o_orderdate": pa.array(
            ORDER_DAY0 + rng.integers(0, ORDER_DAYS, n) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def _lineitem(rng, scale, fm):
    n = _rows("lineitem", scale, fm)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, _rows("orders", scale, fm), n)),
        "l_partkey": pa.array(rng.integers(0, _rows("part", scale), n)),
        "l_suppkey": pa.array(rng.integers(0, _rows("supplier", scale), n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n), 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(
            SHIP_DAY0 + rng.integers(0, SHIP_DAYS, n) * DAY_US),
    })


def _events(rng, scale, fm):
    n = _rows("events", scale)
    offs = np.sort(rng.integers(0, EVENT_SPAN_US, n))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": _keys(n),
        "ts": pa.array(EVENT_T0 + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, round(150 * scale)), n)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, scale, fm):
    n = _rows("documents", max(scale, 1.0))
    vocab = np.asarray(WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, n)]
    # ~5% near-duplicates: another document's text plus a " dup" suffix
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    return pa.table({
        "doc_id": _keys(n),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def _embeddings(rng, scale, fm):
    n = _rows("embeddings", max(scale, 1.0))
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32)),
        pa.array(v.ravel()))
    return pa.table({
        "vec_id": _keys(n),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


TABLES = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def generate(root: str, seed: int, scale: float, fact_mult: int = 1) -> str:
    """Write every table under ``root`` once per (seed, scale, fact_mult)
    and return the data directory.  An existing complete directory is
    reused; a partial one (interrupted run) is rebuilt."""
    out = os.path.join(root, f"seed{seed}-x{scale:g}-f{fact_mult}")
    done = os.path.join(out, "_COMPLETE")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for i, (name, make) in enumerate(TABLES.items()):
        # one generator stream per table, so a table's rows do not
        # depend on which other tables were generated before it
        rng = np.random.default_rng([seed, i])
        table = make(rng, scale, fact_mult)
        path = os.path.join(out, f"{name}.parquet")
        if fact_mult > 1 and name in FACT_TABLES:
            os.makedirs(path)
            step = -(-table.num_rows // FACT_FILES)
            for k in range(FACT_FILES):
                pq.write_table(table.slice(k * step, step),
                               os.path.join(path, f"part-{k:03d}.parquet"))
        else:
            pq.write_table(table, path)
    open(done, "w").close()
    return out
