"""DuckDB oracle check: each query's Spark output against its oracle
twin from ``registry.all_oracle_sql()``, run over the same parquet.

The comparison is ``tools/driver_sim.py``'s: columns sorted by name,
rows sorted by every column, then an exact frame compare.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from corpus import TABLES


def _norm(p: pd.DataFrame) -> pd.DataFrame:
    p = p.reindex(sorted(p.columns), axis=1)
    if len(p):
        p = p.sort_values(by=list(p.columns), na_position="first", kind="mergesort")
    return p.reset_index(drop=True)


class Oracle:
    """One DuckDB connection with a view per corpus table."""

    def __init__(self, sf_dir: str, oracle_sql: dict[str, str]):
        self.sql = oracle_sql
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def mismatch(self, name: str, spark_df) -> str | None:
        """None when ``spark_df`` equals the oracle's rows, else why not."""
        if name not in self.sql:
            return "no oracle twin"
        got = _norm(spark_df.toPandas())
        want = _norm(self.con.sql(self.sql[name]).df())
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        except AssertionError as ex:
            return str(ex)[:300]
        return None

    def close(self) -> None:
        self.con.close()
