"""Seeded inputs.  The same seed gives byte-identical rows; the program
under test only ever sees the generated files."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pa_csv
import pyarrow.parquet as pq

LINEITEM_FILES = 8
PG_DDL = (
    "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
    "l_quantity double precision, l_extendedprice double precision, "
    "l_discount double precision, l_tax double precision, l_returnflag text, "
    "l_linestatus text, l_shipdate timestamptz"
)

FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def lineitem_rows(n: int, seed: int) -> pd.DataFrame:
    """Lineitem-shaped rows, ordered by distinct ``l_orderkey`` values so
    range partitions over it are balanced and any prefix is a key range."""
    rng = np.random.default_rng(seed)
    qty = rng.integers(1, 51, n).astype("float64")
    ship = np.datetime64("1992-01-01", "us") + rng.integers(0, 2500 * 86400, n).astype(
        "timedelta64[s]"
    )
    return pd.DataFrame(
        {
            "l_orderkey": np.sort(rng.choice(4 * n, n, replace=False)) + 1,
            "l_partkey": rng.integers(1, 20_000, n),
            "l_suppkey": rng.integers(1, 1_000, n),
            "l_linenumber": rng.integers(1, 8, n).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"], dtype=object), n),
            "l_linestatus": rng.choice(np.array(["F", "O"], dtype=object), n),
            "l_shipdate": pd.DatetimeIndex(ship).tz_localize("UTC"),
        }
    )


def write_lineitem(df: pd.DataFrame, pg_rows: int, out_dir: str) -> dict:
    """Write ``df`` as ``LINEITEM_FILES`` parquet parts (so the Spark read
    has one task per part) and its first ``pg_rows`` rows as CSV for
    ``psql \\copy``."""
    pq_dir = os.path.join(out_dir, "lineitem_parquet")
    os.makedirs(pq_dir)
    for i, part in enumerate(np.array_split(np.arange(len(df)), LINEITEM_FILES)):
        table = pa.Table.from_pandas(df.iloc[part], preserve_index=False)
        pq.write_table(table, os.path.join(pq_dir, f"part-{i:03d}.parquet"))
    csv = os.path.join(out_dir, "lineitem.csv")
    pa_csv.write_csv(
        pa.Table.from_pandas(df.iloc[:pg_rows], preserve_index=False),
        csv,
        pa_csv.WriteOptions(include_header=False),
    )
    return {
        "lineitem_parquet": {"rows": len(df), "bytes": dir_bytes(pq_dir), "path": pq_dir},
        "lineitem_csv": {"rows": pg_rows, "bytes": os.path.getsize(csv), "path": csv},
    }


def permute_fixture(src_dir: str, out_dir: str, seed: int) -> dict:
    """Copy every fixture table with its rows in a seeded order.  Query
    results do not depend on row order, so every oracle result is
    unchanged while the physical layout Spark reads differs per seed."""
    os.makedirs(out_dir)
    rng = np.random.default_rng(seed)
    sizes = {}
    for name in FIXTURE_TABLES:
        src = os.path.join(src_dir, f"{name}.parquet")
        table = pq.read_table(src)
        meta = pq.ParquetFile(src).metadata
        rg = max(1, meta.row_group(0).num_rows) if meta.num_row_groups else None
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        dst = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, dst, row_group_size=rg)
        sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(dst)}
    return sizes


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )
