"""Result checks against each registry query's DuckDB oracle, with the
comparator the engine's correctness gate uses: both sides as pandas frames,
columns sorted by name, rows sorted, then every cell compared as its string
form (so an int64 sum against a float64 sum is a mismatch, as it is there).
"""

from __future__ import annotations

import duckdb
import pandas as pd


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def mismatch(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when the two results are equal under the gate's comparator,
    else a one-line reason."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"row count {len(spark_pdf)} != {len(oracle_pdf)}"
    a, b = _canon(spark_pdf), _canon(oracle_pdf)
    for col in a.columns:
        for x, y in zip(a[col].tolist(), b[col].tolist()):
            if str(x) != str(y):
                return f"column {col}: {x!r} != {y!r}"
    return None


class Oracle:
    """DuckDB views over the same parquet files the engine reads."""

    def __init__(self, data_dir: str, tables: list[str]) -> None:
        self.con = duckdb.connect()
        for name in tables:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{name}.parquet')"
            )

    def query(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    def close(self) -> None:
        self.con.close()
