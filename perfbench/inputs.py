"""Seeded benchmark inputs, written to parquet under the run's work dir.

Documents and embeddings come from the package's own generators
(`sources.synthetic_documents`, `sources.synthetic_embeddings`); the
TPC-H-shaped tables come from a numpy generator here that mirrors the
column names, types and value domains the registered relational queries
read (region names, date ranges, flags).  Every table is a pure function
of (seed, size), so the same seed gives the same inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "large", "hot", "old", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "gear", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]

_DAY_US = 86_400_000_000


def _days_since_epoch(iso: str) -> int:
    return int(np.datetime64(iso, "D").astype(np.int64))


def _day_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> int:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


def write_tpch_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write region..lineitem plus events at scale `sf` (1.0 ~ 6M
    lineitems, the TPC-H convention).  Returns {table: row count}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(100, int(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[rng.integers(0, 7, n_part)], " "),
        np.array(PART_NOUN)[rng.integers(0, 7, n_part)],
    )
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    o_lo, o_hi = _days_since_epoch("1995-01-01"), _days_since_epoch("2001-08-01")
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _day_ts(rng.integers(o_lo, o_hi + 1, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    l_lo, l_hi = _days_since_epoch("1995-01-02"), _days_since_epoch("2001-11-04")
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _day_ts(rng.integers(l_lo, l_hi + 1, n_line)),
    })
    t0 = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
    ts = np.sort(t0 + rng.integers(0, 30 * _DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.0, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_line, "events": n_ev,
    }


def write_documents(spark, out_dir: str, n: int, seed: int) -> str:
    """`fresh_documents` (~4% exact, ~3% near duplicates) as
    `<out_dir>/documents.parquet`; returns the path."""
    from crawling_vectordb_llm_spark.sources.synthetic_documents import (
        fresh_documents,
    )

    path = os.path.join(out_dir, "documents.parquet")
    fresh_documents(spark, n, seed=seed).write.mode("overwrite").parquet(path)
    return path


def write_embeddings(spark, out_dir: str, n: int, seed: int, clustered: bool) -> str:
    """`fresh_embeddings` (isotropic, ~5% near dups; ids join 1:1 to the
    documents) or `clustered_embeddings` (32 tight clusters) as
    `<out_dir>/embeddings.parquet`; returns the path."""
    from crawling_vectordb_llm_spark.sources.synthetic_documents import (
        fresh_embeddings,
    )
    from crawling_vectordb_llm_spark.sources.synthetic_embeddings import (
        clustered_embeddings,
    )

    path = os.path.join(out_dir, "embeddings.parquet")
    df = (
        clustered_embeddings(spark, n, seed=seed)
        if clustered
        else fresh_embeddings(spark, n, seed=seed)
    )
    df.write.mode("overwrite").parquet(path)
    return path


def dir_bytes(path: str) -> int:
    """Bytes of the file `path`, or of every regular file under it (0 if
    it does not exist)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
