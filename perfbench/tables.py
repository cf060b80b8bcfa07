"""Seeded generator of the query battery's parquet tables.

The battery reads ten tables (``ufo_dedup_spark.session.load_tables``):
a TPC-H-like star schema, an ``events`` stream, a ``documents`` corpus with
planted near-duplicates and an ``embeddings`` table of unit vectors. This
module writes them with the same column names and Arrow types the queries
and their DuckDB oracles expect, from a seed, so the benchmark owns its
inputs: the same (seed, sizes) gives byte-identical tables.

Values are drawn so that ranked queries have no ties: money columns are
distinct cents and event timestamps are distinct microseconds.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_DIMS = 64
_EVENT_USERS = 15


@dataclass(frozen=True)
class TableSizes:
    """Row counts. ``sf`` scales the relational tables as TPC-H does
    (150k customers per unit); documents and embeddings are fixed-size."""

    sf: float = 0.001
    documents: int = 500
    embeddings: int = 200

    def rows(self, per_unit: int) -> int:
        return max(1, int(round(per_unit * self.sf)))


def _distinct_cents(rng: np.random.Generator, n: int, lo: float, hi: float):
    """n distinct values in [lo, hi) with two decimals."""
    cents = rng.choice(int((hi - lo) * 100), size=n, replace=False)
    return np.round(lo + cents / 100.0, 2)


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array(seconds.astype("int64"), pa.int64()).cast(pa.timestamp("s")).cast(
        pa.timestamp("us")
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.06:
            # planted near-duplicate: an earlier doc with one word changed
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = _WORDS[
                int(rng.integers(0, len(_WORDS)))
            ]
            words.append("dup")
        else:
            words = [
                _WORDS[j]
                for j in rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))
            ]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P).tolist(), pa.string()),
            "source": pa.array(
                [f"src{k}" for k in rng.integers(0, 20, n)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def generate(seed: int, sizes: TableSizes) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; a pure function of (seed, sizes)."""
    rng = np.random.default_rng([seed, 0x7AB1E5])
    n_cust = sizes.rows(150_000)
    n_supp = sizes.rows(10_000)
    n_part = sizes.rows(200_000)
    n_ord = sizes.rows(1_500_000)
    n_evt = sizes.rows(1_000_000)
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_distinct_cents(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust).tolist()),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_distinct_cents(rng, n_supp, -999.99, 9999.99)),
        }
    )
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [
                    f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, len(_PART_ADJ), n_part),
                        rng.integers(0, len(_PART_NOUN), n_part),
                    )
                ]
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(_PART_TYPES, n_part).tolist()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(retail),
        }
    )
    day = 86_400
    d0 = 788_918_400  # 1995-01-01
    order_days = rng.integers(0, 2404, n_ord)  # through 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
            "o_totalprice": pa.array(_distinct_cents(rng, n_ord, 1000.0, 500000.0)),
            "o_orderdate": _ts(d0 + order_days * day),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord).tolist()),
        }
    )
    lines_per = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines_per)
    n_li = len(l_order)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(
                _distinct_cents(rng, n_li, 900.0, 105000.0)
            ),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li).tolist()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li).tolist()),
            "l_shipdate": _ts(
                d0 + (order_days[l_order] + rng.integers(1, 122, n_li)) * day
            ),
        }
    )
    # distinct microsecond timestamps spread over 30 days of January 2024
    ev_us = np.sort(
        rng.choice(30 * day * 1_000_000, size=n_evt, replace=False)
    ) + 1_704_067_200 * 1_000_000
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(ev_us, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(
                rng.integers(0, _EVENT_USERS, n_evt), pa.int64()
            ),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_evt).tolist()),
            "value": pa.array(_distinct_cents(rng, n_evt, 0.0, 330.0)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
        }
    )
    t["documents"] = _documents(rng, sizes.documents)
    vecs = rng.standard_normal((sizes.embeddings, _DIMS))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(sizes.embeddings), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, sizes.embeddings), pa.int32()),
        }
    )
    return t


def write(out_dir: str, seed: int, sizes: TableSizes) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in generate(seed, sizes).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
