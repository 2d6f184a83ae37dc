"""Order-insensitive comparison of Spark results with DuckDB oracles: column
names, row count and a hash of the sorted rows.  The oracle connection and
the cell normalisation are the test suite's (``tests/oracle_utils.py``)."""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd

from tests.oracle_utils import duck_connection as connect  # noqa: F401
from tests.oracle_utils import normalize, oracle_frame


def digest(rows: list[tuple[str, ...]]) -> str:
    """Hash of already sorted, normalised rows."""
    h = hashlib.sha256()
    for r in rows:
        h.update(b"\x1e" + "\x1f".join(r).encode())
    return h.hexdigest()


def compare(spark_pdf: pd.DataFrame, con: duckdb.DuckDBPyConnection, sql: str) -> str | None:
    """None when the Spark rows equal the oracle's, else a reason."""
    try:
        want_df = oracle_frame(con, sql)
    except AssertionError as e:  # a DuckDB type the driver cannot hash-match
        return str(e)
    got_cols, got = normalize(spark_pdf)
    want_cols, want = normalize(want_df)
    if got_cols != want_cols:
        return f"columns {got_cols} vs oracle {want_cols}"
    if len(got) != len(want):
        return f"rows {len(got)} vs oracle {len(want)}"
    if digest(got) != digest(want):
        return "row values differ"
    return None
