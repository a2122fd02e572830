"""Correctness checks against DuckDB, run after the timed window.

Registry queries are compared with ``registry.ORACLE[name]`` over the
same directory; ad-hoc SQL with the same statement on DuckDB views;
both through the repo's own comparison rules
(``tests/oracle_compare.assert_frames_match``). A mismatch is returned
as a message, never raised, so the caller counts it as a failed op.
Imported only after set-up, so the program's imports fall inside
``setup_s``.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

from perfbench.gen import UPLOAD_TABLES

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tests"))
from oracle_compare import assert_frames_match  # noqa: E402


class Oracle:
    """One DuckDB connection with the ten tables of ``data_dir`` as views."""

    def __init__(self, data_dir: str, temp_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET enable_progress_bar = false")
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        self.con.execute("SET threads = 4")
        self.point(data_dir)

    def point(self, data_dir: str) -> None:
        from hetnetdb_spark.schemas import TABLE_NAMES

        for t in TABLE_NAMES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def frame(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()

    def close(self) -> None:
        self.con.close()


def compare(got: pd.DataFrame, want: pd.DataFrame, name: str) -> str | None:
    try:
        assert_frames_match(got, want, name)
    except AssertionError as exc:
        return str(exc)[:400]
    return None


def from_json_rows(rows: list[dict], want: pd.DataFrame) -> pd.DataFrame:
    """Rebuild a frame from the service's JSON rows in the oracle's
    column types. Spark's JSON writer renders timestamps at millisecond
    precision, so the oracle side is floored to milliseconds by the
    caller (``json_wire``) rather than the answer being widened."""
    got = pd.DataFrame(rows, columns=list(want.columns))
    for c in want.columns:
        if pd.api.types.is_datetime64_any_dtype(want[c]):
            got[c] = pd.to_datetime(got[c], utc=True).dt.tz_localize(None)
        elif pd.api.types.is_float_dtype(want[c]):
            got[c] = got[c].astype("float64")
    return got


def json_wire(want: pd.DataFrame) -> pd.DataFrame:
    want = want.copy()
    for c in want.columns:
        if pd.api.types.is_datetime64_any_dtype(want[c]):
            want[c] = want[c].dt.floor("ms")
    return want


def load_upload(oracle: Oracle, table: str, csv_path: str) -> None:
    """Make ``table`` the DuckDB twin of one CSV upload."""
    oracle.con.execute(
        f"CREATE OR REPLACE TABLE {table} AS SELECT * FROM read_csv('{csv_path}', header = true, "
        "columns = {'id': 'INTEGER', 'grp': 'VARCHAR', 'qty': 'INTEGER', 'price': 'DOUBLE'})"
    )


def upload_table_of(sql: str) -> str | None:
    for t in UPLOAD_TABLES:
        if f" {t} " in sql:
            return t
    return None
