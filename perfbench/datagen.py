"""Seeded star-schema inputs for the benchmark.

Writes the four star tables the reference-shaped views read
(``sources/views.py``: users <- customer, books <- part, ratings <-
lineitem JOIN orders) as parquet, with the row counts and value ranges of
the TPC-H-shaped test data the engine is developed against:

- customer: 150,000 x sf rows, 5 market segments, acctbal in [-999.99, 9999.99]
- part:     200,000 x sf rows, names drawn from a small word list (titles repeat)
- orders:   1,500,000 x sf rows, custkey uniform over customers
- lineitem: 1 + Poisson(3) lines per order, quantity 1..50; partkey drawn
  with probability ``TASTE_SHARE`` from the parts of the customer's market
  segment, else uniformly, so the co-rating graph has communities to find
  and its modularity does not swing with the seed as a structureless
  random graph's does

Only the columns the views read are written. The same ``(sf, seed)``
gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
TASTE_SHARE = 0.7
WORDS = np.array(
    ["almond", "antique", "blue", "burnished", "chiffon", "coral", "dark",
     "forest", "frosted", "ghost", "khaki", "lace", "large", "linen", "metallic",
     "misty", "navy", "olive", "pale", "ring", "rose", "sandy", "smoke", "tan"]
)


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts of the generated tables at scale factor ``sf``."""
    return {
        "customer": max(int(150_000 * sf), 20),
        "part": max(int(200_000 * sf), 20),
        "orders": max(int(1_500_000 * sf), 100),
    }


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The four star tables as Arrow tables, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    n_cust, n_part, n_ord = n["customer"], n["part"], n["orders"]

    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), n_cust)],
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
    })
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(WORDS[rng.integers(0, len(WORDS), n_part)], " "),
            WORDS[rng.integers(0, len(WORDS), n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": TYPES[rng.integers(0, len(TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
    })
    lines_per_order = 1 + rng.poisson(3.0, n_ord)
    n_line = int(lines_per_order.sum())
    # taste: a share of each customer's lines comes from the parts of its
    # segment (partkey % len(SEGMENTS)), the rest uniformly from all parts
    segment = np.searchsorted(SEGMENTS, customer.column("c_mktsegment").to_numpy())
    line_segment = segment[np.repeat(orders.column("o_custkey").to_numpy(), lines_per_order)]
    in_taste = rng.random(n_line) < TASTE_SHARE
    partkey = np.where(
        in_taste,
        line_segment + len(SEGMENTS) * rng.integers(0, n_part // len(SEGMENTS), n_line),
        rng.integers(0, n_part, n_line),
    )
    lineitem = pa.table({
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines_per_order),
        "l_partkey": partkey.astype(np.int64),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
    })
    return {"customer": customer, "part": part, "orders": orders, "lineitem": lineitem}


def write_star(out_dir: str, sf: float, seed: int) -> str:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
