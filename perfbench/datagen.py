"""Seeded fixture generator for the benchmark.

Writes the ten tables the engine reads (``schemas.TABLE_SCHEMAS``) as one
parquet file each, with the column types, key ranges and value domains of
the engine's TPC-H-like fixtures (``FIXTURES.md``). Sizes follow a scale
factor ``sf`` the same way the fixtures do: ``sf=0.01`` gives 15k orders,
~60k lineitems and 10k events. The same ``(seed, sf)`` gives byte-identical
tables; another seed changes every value but keeps sizes and domains.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - EPOCH) // dt.timedelta(microseconds=1)


def _midnights(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> np.ndarray:
    days = rng.integers(0, (hi - lo).days + 1, n)
    return _us(lo) + days * 86_400_000_000


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("int64"), pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table in memory; row counts scale with ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(15, n_cust // 10)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000, 500_000),
            "o_orderdate": _ts(
                _midnights(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1))
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(0, 8, n_ord)  # 0..7 lines per order, ~4 on average
    n_li = int(lines.sum())
    ends = np.cumsum(lines)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(n_ord), lines), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(
                np.arange(n_li) - np.repeat(ends - lines, lines) + 1, pa.int32()
            ),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, n_li, 900, 105_000),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(
                _midnights(rng, n_li, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4))
            ),
        }
    )
    ev_lo = _us(dt.datetime(2024, 1, 1))
    ev_span = 30 * 86_400_000_000
    ts = np.sort(rng.choice(ev_span, n_ev, replace=False)) + ev_lo
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.1, (10, EMBED_DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (n_emb, EMBED_DIM))).astype("float32")
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts

