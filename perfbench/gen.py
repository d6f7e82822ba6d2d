"""Seeded input generator for the benchmark.

``write_tables(out_dir, seed)`` writes the ten parquet tables the suite
queries read (``region nation customer supplier part orders lineitem
events documents embeddings``) with the schemas, value domains and
sf0.01 row counts of the engine's test fixtures (TESTDATA.md), including
their near-duplicate document families.  ``write_month(path, seed)``
writes the one-month event table of the ``monthly_pipeline`` workload
and returns its row count and its actual null and duplicate shares.

Everything is drawn from ``numpy.random.default_rng(seed)``: the same
seed gives byte-identical tables, another seed gives other values with
the same shapes.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.01 row counts of the fixture tables.
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
# As in the fixtures, one document in twenty is a near-duplicate: a
# distinct other document's text with " dup" appended, so at 5-token
# shingles each pair has Jaccard similarity 0.86-0.99, and no two
# documents are exact duplicates.
NEAR_DUP_DOC_SHARE = 0.05
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
# monthly_pipeline: MONTH_REPLICAS copies of MONTH_BASE_ROWS events, the
# share of ``value`` set to NULL, and the share of rows appended again as
# exact duplicates
MONTH_BASE_ROWS = 10_000
MONTH_REPLICAS = 35
MONTH_NULL_SHARE = 0.01
MONTH_DUP_SHARE = 0.02
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EMBED_DIM = 64

_US = 1_000_000
_DAY_US = 86_400 * _US
_EVENTS_START_US = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * _US
_EVENTS_SPAN_US = 30 * _DAY_US
_ORDERS_START_US = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp()) * _US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal money values in [lo, hi], stored as double."""
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    """Midnight timestamps ``lo..hi`` days after 1995-01-01."""
    us = _ORDERS_START_US + rng.integers(lo, hi + 1, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``events``: one month of user events, ``event_id`` in ``ts`` order."""
    ts = np.sort(_EVENTS_START_US + rng.integers(0, _EVENTS_SPAN_US, n))
    users = max(n * 3 // 200, 1)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
            "c_name": _names("Customer", c),
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)],
        }
    )
    s = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
            "s_name": _names("Supplier", s),
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, p)],
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
        }
    )
    o = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, c, o, dtype=np.int64)),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(rng, 0, 2403, o),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)],
        }
    )
    li = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, p, li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, s, li, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
            "l_shipdate": _days(rng, 1, 2498, li),
        }
    )
    t["events"] = events_table(rng, n["events"])
    d = n["documents"]
    texts = [
        " ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
        for k in rng.integers(10, 100, d)
    ]
    copies = rng.choice(d, round(d * NEAR_DUP_DOC_SHARE), replace=False)
    originals = rng.choice(np.setdiff1d(np.arange(d), copies), len(copies), replace=False)
    for i, j in zip(copies, originals):
        texts[i] = texts[j] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(d, dtype=np.int64)),
            "text": texts,
            "lang": rng.choice(LANGS, d, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    e = n["embeddings"]
    vec = rng.standard_normal((e, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(e, dtype=np.int64)),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, e), pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten suite tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = {}
    for name, table in _tables(rng).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def write_month(path: str, seed: int) -> dict[str, float]:
    """One month of events: ``MONTH_REPLICAS`` copies of a seeded base table with
    disjoint ``event_id`` ranges, about ``MONTH_NULL_SHARE`` of ``value``
    set to NULL and about ``MONTH_DUP_SHARE`` exact duplicate rows appended.

    Returns the row count and the actual null and duplicate shares.
    """
    rng = np.random.default_rng(seed)
    base = events_table(rng, MONTH_BASE_ROWS)
    parts = []
    for k in range(MONTH_REPLICAS):
        part = base.set_column(0, "event_id", pa.array(base["event_id"].to_numpy() + k * MONTH_BASE_ROWS))
        parts.append(part)
    month = pa.concat_tables(parts)
    n = month.num_rows
    value = month["value"].to_numpy(zero_copy_only=False)
    nulls = rng.random(n) < MONTH_NULL_SHARE
    month = month.set_column(4, "value", pa.array(value, mask=nulls))
    dups = month.take(np.sort(rng.choice(n, int(rng.binomial(n, MONTH_DUP_SHARE)), replace=False)))
    month = pa.concat_tables([month, dups])
    pq.write_table(month, path, row_group_size=1 << 20)
    total = month.num_rows
    return {
        "rows": total,
        "null_share": (int(nulls.sum()) + int(dups["value"].null_count)) / total,
        "dup_share": dups.num_rows / total,
    }
