"""Output checks, run after the timed passes.

Outputs are read back from the parquet the program wrote and compared
with DuckDB over the same input directory by the repository's own
oracle gate, ``scripts/check_oracle.py`` (row count, column names,
column kinds and sorted cell values; floats must match exactly).
"""

from __future__ import annotations

import glob
import importlib.util
import os

import duckdb
import pandas as pd

_spec = importlib.util.spec_from_file_location(
    "check_oracle",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "scripts", "check_oracle.py"),
)
_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_oracle)

connect = _oracle.duck_connection


def read_output(con: duckdb.DuckDBPyConnection, path: str) -> pd.DataFrame:
    """Read a parquet part-directory written by Spark."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet parts under {path}")
    return con.execute("SELECT * FROM read_parquet(?)", [files]).df()


def check(con, path: str, want: pd.DataFrame) -> list[str]:
    """Problems found between the output under ``path`` and the oracle's
    answer; an empty list means they agree."""
    try:
        return _oracle.compare(path, read_output(con, path), want)
    except Exception as e:  # an unreadable output is a failed item
        return [f"{type(e).__name__}: {e}"]
