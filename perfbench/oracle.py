"""Output checks against the registry's DuckDB oracle SQL.

Frames are canonicalised the way ``tests/test_oracle_parity.py`` does
(columns sorted by name, rows sorted by every column) and compared
exactly, first as values and then as strings.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pandas as pd

from gmall2021_flink_dw_spark.sources.batch import TABLES


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
            drop=True
        )
    return df


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the canonical frames are equal, else the reason."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rowcount {len(got)} vs {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return f"values differ: {str(e).splitlines()[0]}"
    gs = got.astype(str).sort_values(list(got.columns)).reset_index(drop=True)
    ws = want.astype(str).sort_values(list(want.columns)).reset_index(drop=True)
    if not (gs.values == ws.values).all():
        return "stringified values differ"
    return None


class Oracle:
    """DuckDB connection with the input tables as views."""

    def __init__(self, tables: dict[str, str]):
        self.con = duckdb.connect()
        for name, pattern in tables.items():
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{pattern}')"
            )

    @classmethod
    def over_dir(cls, sf_dir: str) -> "Oracle":
        return cls({t: os.path.join(sf_dir, f"{t}.parquet") for t in TABLES})

    def query(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    def read_back(self, out_dir: str) -> pd.DataFrame:
        """A parquet directory written by Spark, read by DuckDB."""
        files = sorted(glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True))
        if not files:
            raise FileNotFoundError(f"no parquet files under {out_dir}")
        listing = ", ".join(f"'{f}'" for f in files)
        return self.con.execute(
            f"SELECT * FROM read_parquet([{listing}], hive_partitioning = true)"
        ).df()

    def close(self) -> None:
        self.con.close()
