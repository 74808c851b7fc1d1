"""Seeded input generators. The same seed gives byte-identical inputs.

The engine only ever sees what these functions produce: a TPC-H-shaped
catalog (``nation``/``customer``/``orders`` parquet, the tables the two
campaign pipelines read) and clustered unit vectors for the two index
families.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
N_NATIONS = 25


def write_catalog(
    out_dir: str, seed: int, n_customers: int = 15_000, orders_per_customer: int = 10
) -> dict[str, int]:
    """Write the sf0.1-sized catalog the ingest and read pipelines load.
    Returns the row count of each table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
            "n_regionkey": pa.array([i % 5 for i in range(N_NATIONS)], pa.int32()),
        }
    )
    keys = np.arange(n_customers, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, N_NATIONS, n_customers).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_customers)],
        }
    )
    n_orders = n_customers * orders_per_customer
    day0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2404, n_orders).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_customers, n_orders).astype(np.int64),
            "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
            "o_orderdate": pa.array(day0 + days.astype("timedelta64[us]"), pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    tables = {"nation": nation, "customer": customer, "orders": orders}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def clustered_vectors(
    rng: np.random.Generator, n: int, dim: int, centers: np.ndarray, spread: float
) -> np.ndarray:
    """``n`` unit vectors drawn around randomly chosen ``centers``."""
    pick = rng.integers(0, len(centers), n)
    return unit(centers[pick] + spread * rng.standard_normal((n, dim)))


def unit_centers(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    c = rng.standard_normal((n, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def unit(v: np.ndarray) -> np.ndarray:
    """Rows scaled to unit length, as float32."""
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
