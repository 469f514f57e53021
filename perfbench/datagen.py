"""Seeded input generators for the benchmark.

Every table the engine's catalog knows (``catalog.TABLES``) is produced
from one ``numpy`` generator seeded by the benchmark's ``--seed``, with
the schemas and value domains of the TPC-H-ish fixture corpus: same
column names and Arrow types, same categorical domains, the same date
ranges and the same near-duplicate share in ``documents``. The same
seed always yields the same bytes.

``scale`` multiplies the sf0.1 row counts of the fact tables
(customer, orders, lineitem, events, documents, embeddings); the
dimension tables (region, nation, supplier, part) keep their sf0.1
sizes. Each table is one Parquet file, as in the fixture corpus.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)

_DAY_US = 86_400_000_000
_EPOCH = np.datetime64("1970-01-01", "D")


def _day_us(day: str) -> int:
    return int((np.datetime64(day, "D") - _EPOCH).astype(np.int64)) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng, values, n, p=None) -> pa.Array:
    """Dictionary-sample ``n`` strings from ``values`` as a plain
    string column (the fixtures store strings undictionaried)."""
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, pa.array(values)).cast(pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _fact_tables(rng, scale: float) -> dict[str, pa.Table]:
    n_cust = max(1, int(15_000 * scale))
    n_ord = max(1, int(150_000 * scale))
    n_li = 4 * n_ord
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    o_day0 = _day_us("1995-01-01")
    o_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(o_day0 + rng.integers(0, o_days + 1, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    l_day0 = _day_us("1995-01-02")
    l_days = int((np.datetime64("2001-11-04") - np.datetime64("1995-01-02")).astype(int))
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, 20_000, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1_000, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _ts(l_day0 + rng.integers(0, l_days + 1, n_li) * _DAY_US),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def _dim_tables(rng) -> dict[str, pa.Table]:
    region = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(1_000, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1_000)],
        "s_nationkey": rng.integers(0, 25, 1_000, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, 1_000),
    })
    n_part = 20_000
    adj = rng.integers(0, len(ADJECTIVES), n_part)
    noun = rng.integers(0, len(NOUNS), n_part)
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    return {"region": region, "nation": nation, "supplier": supplier, "part": part}


def events_table(rng, n: int, first_id: int = 0, start: str = "2024-01-01",
                 days: int = 30, users: int = 1_500, props: bool = True) -> pa.Table:
    """``n`` events with ids ``first_id..``, ``ts`` ascending with the id
    (exponential inter-arrivals spread over ``days`` from ``start``)."""
    gaps = rng.exponential(1.0, n)
    span_us = days * _DAY_US - 60_000_000
    offs = np.cumsum(gaps)
    offs = (offs / offs[-1] * span_us).astype(np.int64)
    cols = {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": _ts(_day_us(start) + 10_000_000 + offs),
        "user_id": rng.integers(0, users, n, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
    }
    if props:
        cols["props"] = pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])
    return pa.table(cols)


def _aux_tables(rng, scale: float) -> dict[str, pa.Table]:
    n_ev = max(100, int(100_000 * scale))
    n_doc = max(100, int(5_000 * scale))
    n_vec = max(100, int(2_000 * scale))
    events = events_table(rng, n_ev, users=max(15, int(1_500 * scale)))
    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        if i % 20 == 11 and i > 0:
            # 5% near-duplicates: an earlier-drawn doc's text plus a marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]))
    documents = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(0.0, 0.125, (n_vec, 64)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec, dtype=np.int32),
    })
    return {"events": events, "documents": documents, "embeddings": embeddings}


def generate(out: str, seed: int, scale: float) -> dict:
    """Write the whole corpus into the empty directory ``out`` and
    return ``{"dir", "gen_s", "tables": {name: {"rows", "bytes"}}}``."""
    t0 = time.perf_counter()
    rng = np.random.default_rng(seed)
    tables = {}
    for group in (_dim_tables(rng), _fact_tables(rng, scale), _aux_tables(rng, scale)):
        for name, table in group.items():
            path = os.path.join(out, f"{name}.parquet")
            pq.write_table(table, path)
            tables[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return {"dir": out, "gen_s": time.perf_counter() - t0, "tables": tables}
