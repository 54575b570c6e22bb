"""Local replica of the driver's oracle comparison: run the Spark query and
the DuckDB SQL side-by-side, sort columns by name, sort rows, compare values.
This is the same gate CORRECTNESS_r{N}.json applies, so tests that pass here
should pass the driver."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

from etl_cascalog_spark.io import TABLES


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # In-memory DuckDB spills to ./.tmp in the CWD by default — a big-SF
    # oracle sweep once dropped 23.6 GB of scratch inside the repo (and a
    # snapshot commit picked it up). Spill belongs under /tmp.
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: str(v) if v is not None and not (isinstance(v, float) and math.isnan(v)) else None)
    df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str, float_exact: bool = True) -> None:
    compare_frames(normalize(spark_df.toPandas()), normalize(con.execute(sql).df()), float_exact)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame, float_exact: bool = True) -> None:
    """The value comparison of two ``normalize``-d frames; raises
    ``AssertionError`` naming the first difference."""
    assert list(got.columns) == list(want.columns), f"columns differ: {list(got.columns)} vs {list(want.columns)}"
    assert len(got) == len(want), f"row counts differ: {len(got)} vs {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            g = g.astype(float)
            w = w.astype(float)
            both_nan = g.isna() & w.isna()
            if float_exact:
                eq = (g == w) | both_nan
            else:
                eq = ((g - w).abs() < 1e-9) | both_nan
            assert eq.all(), f"column {c} differs:\n{pd.DataFrame({'got': g[~eq], 'want': w[~eq]}).head(10)}"
        else:
            eq = (g == w) | (g.isna() & w.isna())
            assert eq.all(), f"column {c} differs:\n{pd.DataFrame({'got': g[~eq], 'want': w[~eq]}).head(10)}"
