"""DuckDB differential check of the program's written results.

Each query's oracle SQL (`graft.SparkEntry.oracleSql`) runs in DuckDB over
the same input tables; the program's result, written as parquet, must
equal it cell for cell after sorting columns by name. Floats compare by
their full-precision repr, NaN equals NaN, nulls equal nulls. Row order
counts, as every declared query fixes its output order.
"""
import math

import duckdb
import pandas as pd

from datagen import TABLES


def norm_cell(v):
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{norm_cell(k)}:{norm_cell(x)}" for k, x in v.items()) + "}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return f"{type(v).__name__}:{v}" if isinstance(v, (int, bool)) else str(v)


def frame_sig(df):
    df = df[sorted(df.columns)]
    return list(df.columns), [tuple(norm_cell(v) for v in row)
                              for row in df.itertuples(index=False, name=None)]


class Oracle:
    def __init__(self, data_dir):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")

    def write(self, sql, path):
        """Write the oracle's result for `sql` as one parquet file."""
        self.con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")

    def expected(self, sql):
        return frame_sig(self.con.execute(sql).fetchdf())

    def compare(self, expected, result_dir):
        """None when the written result equals `expected`, else why not."""
        got = frame_sig(self.con.execute(
            f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").fetchdf())
        if got[0] != expected[0]:
            return f"columns {got[0]} != oracle {expected[0]}"
        if len(got[1]) != len(expected[1]):
            return f"{len(got[1])} rows != oracle {len(expected[1])}"
        for i, (a, b) in enumerate(zip(got[1], expected[1])):
            if a != b:
                return f"row {i}: {a} != oracle {b}"
        return None

    def close(self):
        self.con.close()
