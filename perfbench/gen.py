"""Seeded input generator for the benchmark.

Same ten-table star schema, dtypes and value distributions as
``tools/gen_sf1.py`` (whose constants it imports), but with the seed and the
scale as arguments, so every benchmark seed gets its own inputs and a claim
can be re-checked on a seed nobody tuned against.

``scale`` is a multiple of sf0.1, as in gen_sf1: 0.1 is an sf0.01-equivalent
input (10 000 events, 60 000 line items).  ``documents`` and ``embeddings``
keep the 500-row floor the committed test fixtures have below sf0.1.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gen_sf1 import (  # noqa: E402
    BASE,
    EVENT_TYPES,
    LANG_P,
    LANGS,
    P_ADJ,
    P_NOUN,
    P_TYPES,
    PRIORITIES,
    REGIONS,
    SEGMENTS,
    VOCAB,
)

_US = "us"
_DAY_US = 86_400_000_000
_FLOOR = {"documents": 500, "embeddings": 500}


def _ts_us(iso: str) -> int:
    d = dt.datetime.fromisoformat(iso).replace(tzinfo=dt.timezone.utc)
    return int(d.timestamp() * 1_000_000)


def _rows(name: str, scale: float) -> int:
    return max(_FLOOR.get(name, 1), int(round(BASE[name] * scale)))


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write one parquet file per table into ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    n_cust = _rows("customer", scale)
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, n_cust), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]),
    })

    n_supp = _rows("supplier", scale)
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, n_supp), 2)),
    })

    n_part = _rows("part", scale)
    names = [f"{a} {n}" for a in P_ADJ for n in P_NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([names[i] for i in rng.integers(0, 64, n_part)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([P_TYPES[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })

    n_ord = _rows("orders", scale)
    date_lo, date_hi = _ts_us("1995-01-01"), _ts_us("2001-08-01")
    n_days = (date_hi - date_lo) // _DAY_US
    o_dates = date_lo + rng.integers(0, n_days + 1, n_ord) * _DAY_US
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(
            [("O", "P", "F")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(o_dates, pa.timestamp(_US)),
        "o_orderpriority": pa.array(
            [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]),
    })

    nlines = rng.poisson(4.0, n_ord)
    l_orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), nlines)
    n_li = len(l_orderkey)
    starts = np.repeat(np.concatenate(([0], np.cumsum(nlines)[:-1])), nlines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_orderkey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(
            (np.arange(n_li, dtype=np.int64) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) * 0.01, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) * 0.01, 2)),
        "l_returnflag": pa.array(
            [("R", "N", "A")[i] for i in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("O", "F")[i] for i in rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(
            np.repeat(o_dates, nlines) + rng.integers(1, 96, n_li) * _DAY_US,
            pa.timestamp(_US)),
    })

    n_ev = _rows("events", scale)
    ev_lo, ev_hi = _ts_us("2024-01-01"), _ts_us("2024-01-31")
    ts = np.sort(rng.integers(ev_lo, ev_hi, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp(_US)),
        "user_id": pa.array(rng.integers(0, max(1, int(1500 * scale)), n_ev)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)]),
    })

    n_doc = _rows("documents", scale)
    lens = rng.integers(10, 101, n_doc)
    word_idx = rng.integers(0, len(VOCAB), int(lens.sum()))
    bounds = np.concatenate(([0], np.cumsum(lens)))
    texts = [
        " ".join(VOCAB[i] for i in word_idx[bounds[k]:bounds[k + 1]])
        for k in range(n_doc)
    ]
    # planted exact duplicates, 1 per 625 documents as in gen_sf1
    for i in range(625, n_doc, 625):
        texts[i] = texts[i - 1]
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n_emb = _rows("embeddings", scale)
    dim = 64
    centers = rng.standard_normal((10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_emb).astype(np.int32)
    raw = centers[label] * 2.0 + rng.standard_normal((n_emb, dim))
    raw /= np.linalg.norm(raw, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(raw.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label),
    })

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
    return {name: t.num_rows for name, t in tables.items()}
