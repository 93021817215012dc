"""Sessionization: the batch window variant vs the DuckDB oracle."""

from __future__ import annotations

import duckdb
import pytest

from core_spark.operators.sessions import sessionize_batch, sql_sessionize

SF = "/root/testdata/sf0.001"


@pytest.mark.spark
class TestSessionizeBatch:
    def test_matches_duckdb_oracle(self, spark):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        ev = spark.read.parquet(f"{SF}/events.parquet")
        got = (
            sessionize_batch(ev, gap_minutes=30)
            .orderBy("user_id", "session_start")
            .toPandas()
        )
        want = duckdb.sql(
            sql_sessionize(f"'{SF}/events.parquet'", 30)
            + " ORDER BY user_id, session_start"
        ).df()
        assert len(got) == len(want)
        assert got["user_id"].tolist() == want["user_id"].astype(int).tolist()
        assert got["n_events"].tolist() == want["n_events"].astype(int).tolist()
        assert got["session_start"].tolist() == want["session_start"].tolist()
        assert got["session_end"].tolist() == want["session_end"].tolist()

    def test_gap_semantics(self, spark):
        rows = [
            (1, "2024-01-01 00:00:00", 10, 1.0),
            (2, "2024-01-01 00:10:00", 10, 2.0),
            (3, "2024-01-01 01:10:00", 10, 3.0),  # > 30min gap -> new session
            (4, "2024-01-01 00:00:00", 20, 4.0),
        ]
        from datetime import datetime

        ev = spark.createDataFrame(
            [(i, datetime.fromisoformat(t), u, v) for i, t, u, v in rows],
            "event_id bigint, ts timestamp, user_id bigint, value double",
        )
        got = sessionize_batch(ev).orderBy("user_id", "session_start").collect()
        assert [(r.user_id, r.n_events, r.total_value) for r in got] == [
            (10, 2, 3.0),
            (10, 1, 3.0),
            (20, 1, 4.0),
        ]

