"""Correctness checks behind ``success_rate``.

* Tables: row count plus order-insensitive checksums (sums of xxhash64),
  one per column and one over whole rows, compared with the same figures
  computed over the input (or over a pandas model of the expected table).
* Query outputs: a canonical hash of the pandas frame (columns sorted by
  name, numbers as float64, rows sorted), compared with the hash of the
  DuckDB oracle's result over the same fixture files.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

ALL = "__all_columns"


def table_checksums(df) -> dict:
    """{"rows": n, column: checksum, ...} for a Spark DataFrame, in one job."""
    from pyspark.sql import functions as F

    def csum(*cols):
        return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))

    cols = sorted(df.columns)
    row = df.agg(
        F.count(F.lit(1)).alias("__rows"),
        csum(*cols).alias(ALL),
        *[csum(c).alias(c) for c in cols],
    ).collect()[0]
    out = {"rows": int(row["__rows"])}
    out.update({c: str(row[c]) for c in [ALL, *cols]})
    return out


def times(sums: dict, n: int) -> dict:
    """The checksums of ``n`` copies of a table with checksums ``sums``:
    every figure is a sum, so the union of ``n`` tables that each equal the
    input must give ``n`` times the input's figures."""
    return {c: v * n if c == "rows" else str(int(v) * n) for c, v in sums.items()}


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        s = df[col]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype("int64").astype("float64").where(s.notna())
        elif pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
            s = s.astype("float64")
        else:
            s = s.map(_canon_value)
        df[col] = s
    df = df.sort_values(by=list(df.columns), na_position="last", kind="mergesort")
    return df.reset_index(drop=True)


def _canon_value(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return repr([_canon_value(x) for x in v])
    if isinstance(v, dict):
        return repr(sorted((k, _canon_value(x)) for k, x in v.items()))
    if isinstance(v, (bool, np.bool_)):
        return repr(float(v))
    if isinstance(v, (int, float, np.integer, np.floating)):
        return repr(float(v))
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result frame, equal across engines for
    equal values (int/float width and tz representation normalised)."""
    c = _canon(df)
    h = hashlib.sha256(repr(list(c.columns)).encode())
    h.update(str(len(c)).encode())
    for col in c.columns:
        h.update(pd.util.hash_pandas_object(c[col].astype(object).map(repr), index=False).values.tobytes())
    return h.hexdigest()


def duckdb_oracle(fixture_dir: str, tables, sql_by_name: dict[str, str]) -> dict[str, str]:
    """name -> hash of the DuckDB oracle result over ``fixture_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')"
            )
        return {n: frame_hash(con.execute(sql).fetchdf()) for n, sql in sql_by_name.items()}
    finally:
        con.close()
