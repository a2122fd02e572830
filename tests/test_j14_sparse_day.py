"""j14 on a day without overlapping pairs.

The sweep-line spelling of `j14_interval_overlap_join` sums per-day
contributions, so a day whose intervals are pairwise disjoint sums
to 0; the oracle's self-join spelling emits no row for that day. The
fixtures never show it (every fixture day has overlapping users), so
this builds a day with a single active user.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

from hetnetdb_spark import registry
from tests.conftest import SF_DIR
from tests.oracle_compare import assert_frames_match

registry.load_all()


def test_j14_one_user_day_matches_oracle(spark, tmp_path):
    events = pq.read_table(f"{SF_DIR}/events.parquet")
    day1 = pc.less(events["ts"], dt.datetime(2024, 1, 2))
    lone = events.filter(day1)["user_id"][0]
    keep = pc.or_(pc.invert(day1), pc.equal(events["user_id"], lone))
    pq.write_table(events.filter(keep), f"{tmp_path}/events.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    n_days = con.execute(
        "SELECT COUNT(DISTINCT date_trunc('day', ts)) FROM events"
    ).fetchone()[0]
    expected = con.execute(registry.ORACLE["j14_interval_overlap_join"]).fetchdf()
    assert len(expected) == n_days - 1, "the one-user day must have no pairs"

    got = registry.QUERIES["j14_interval_overlap_join"](spark, str(tmp_path)).toPandas()
    assert_frames_match(got, expected, "j14_interval_overlap_join")
