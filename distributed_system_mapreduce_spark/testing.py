"""Local replica of the driver's correctness gate.

The driver runs each ``queries()[name]`` and its ``oracle_sql()[name]`` via
DuckDB at sf0.01, then compares row-count + schema + order-insensitive
value-hash (/root/repo/__spark_entry__.py:3-8). This module reproduces that
compare locally so mismatches are caught in pytest, not by the driver.
"""

from __future__ import annotations

import datetime as _dt
import math

import duckdb
import numpy as np
import pandas as pd

from .sources.io import TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Register the driver tables as DuckDB views, same names as the driver."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_cell(v):
    """Canonicalize one cell so Spark- and DuckDB-collected values compare."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        # queries round their own float outputs; repr of equal doubles matches
        return repr(v)
    if isinstance(v, (np.floating,)):
        return _canon_cell(float(v))
    if isinstance(v, (np.integer,)):
        return repr(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, (pd.Timestamp, _dt.datetime)):
        if v != v:  # NaT
            return "<null>"
        return v.isoformat()
    if isinstance(v, np.datetime64):  # cells of a frame with only timestamp columns
        return _canon_cell(pd.Timestamp(v))
    return repr(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    """Sorted rows of canonical cells, columns in name order. The frame is
    interleaved once with ``to_numpy``, which yields the cells ``df.iloc[i][c]``
    yields (an all-numeric frame upcasts its ints to float in both), without
    building a row Series per row."""
    cols = sorted(df.columns)
    return sorted(tuple(_canon_cell(v) for v in row) for row in df[cols].to_numpy())


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str) -> list[str]:
    """Return a list of mismatch descriptions (empty == parity)."""
    problems: list[str] = []
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        problems.append(f"{name}: column names differ: spark={s_cols} oracle={o_cols}")
        return problems
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(
            f"{name}: row count differs: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
        )
        return problems
    s_rows = canonical_rows(spark_pdf)
    o_rows = canonical_rows(oracle_pdf)
    if s_rows != o_rows:
        diffs = [
            (a, b) for a, b in zip(s_rows, o_rows) if a != b
        ][:5]
        problems.append(
            f"{name}: {sum(a != b for a, b in zip(s_rows, o_rows))} row(s) differ; "
            f"first diffs (spark vs oracle): {diffs}"
        )
    return problems


def run_parity(name: str, spark, con: duckdb.DuckDBPyConnection, sf_dir: str) -> list[str]:
    from .registry import ORACLES, QUERIES

    sdf = QUERIES[name](spark, sf_dir).toPandas()
    odf = con.execute(ORACLES[name]).df()
    return compare_frames(sdf, odf, name)
