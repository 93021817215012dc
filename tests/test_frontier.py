"""schedule_frontier (operators/frontier.py) gates: the politeness
invariants, host affinity, cross-engine parity, stats, and plan shape."""

import hashlib

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

from core_spark.operators.frontier import (
    schedule_frontier, sql_schedule_frontier,
)

N_WORKERS, DELAY = 4, 7

_ROWS = [
    # (doc_id, host, url, prio) — h0 is a mega-host, h1 small, h2 single
    *[(i, "h0.example", f"https://h0.example/p{i}", i % 3)
      for i in range(20)],
    *[(100 + i, "h1.example", f"https://h1.example/p{i}", 1)
      for i in range(5)],
    (200, "h2.example", "https://h2.example/", 9),
]


def _schedule(spark):
    df = spark.createDataFrame(
        _ROWS, "doc_id long, host string, url string, prio long")
    return schedule_frontier(df, N_WORKERS, DELAY,
                             priority_sql="prio").collect()


class TestInvariants:
    def test_politeness_and_affinity(self, spark):
        rows = _schedule(spark)
        by_host = {}
        for r in rows:
            by_host.setdefault(r.host, []).append(r)
        for host, hr in by_host.items():
            # host affinity: one worker owns the host
            assert len({r.worker for r in hr}) == 1
            # politeness: slots are exactly delay apart, 0-based, dense
            assert sorted(r.fetch_slot for r in hr) == \
                [i * DELAY for i in range(len(hr))]
            # priority first: fetch order is non-increasing priority
            in_order = sorted(hr, key=lambda r: r.fetch_ix)
            prios = [r.prio for r in in_order]
            assert prios == sorted(prios, reverse=True)

    def test_worker_is_portable_hash(self, spark):
        rows = _schedule(spark)
        for r in rows:
            want = int(hashlib.md5(
                f"{r.host}:frontier".encode()).hexdigest()[:15], 16) \
                % N_WORKERS
            assert r.worker == want

    def test_deterministic_across_partitionings(self, spark):
        df = spark.createDataFrame(
            _ROWS, "doc_id long, host string, url string, prio long")
        want = {(r.doc_id, r.worker, r.fetch_ix, r.fetch_slot)
                for r in schedule_frontier(df, N_WORKERS, DELAY,
                                           priority_sql="prio").collect()}
        for n in (1, 7, 32):
            got = {(r.doc_id, r.worker, r.fetch_ix, r.fetch_slot)
                   for r in schedule_frontier(df.repartition(n), N_WORKERS,
                                              DELAY,
                                              priority_sql="prio").collect()}
            assert got == want


class TestParityAndStats:
    def test_duckdb_twin_matches(self, spark):
        want = {(r.doc_id, r.worker, r.fetch_ix, r.fetch_slot)
                for r in _schedule(spark)}
        con = duckdb.connect()
        vals = ", ".join(f"({i}, '{h}', '{u}', {p})"
                         for i, h, u, p in _ROWS)
        con.execute(f"CREATE TABLE f AS SELECT * FROM (VALUES {vals}) "
                    f"_(doc_id, host, url, prio)")
        got = {tuple(r) for r in con.execute(sql_schedule_frontier(
            "f", N_WORKERS, DELAY, priority_sql="prio",
            cols="doc_id")).fetchall()}
        assert got == want

    def test_validation(self):
        with pytest.raises(ValueError, match="positive"):
            sql_schedule_frontier("f", 0, 5)
        with pytest.raises(ValueError, match="positive"):
            sql_schedule_frontier("f", 4, 0)

    def test_plan_one_exchange_no_python(self, spark):
        df = spark.createDataFrame(
            _ROWS, "doc_id long, host string, url string, prio long")
        plan = schedule_frontier(df, N_WORKERS, DELAY, priority_sql="prio") \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9),      # host id
                  st.integers(0, 999),    # url id
                  st.integers(0, 3)),     # priority
        min_size=1, max_size=40, unique_by=lambda t: (t[0], t[1])),
    st.integers(1, 5),                    # n_workers
    st.integers(1, 9),                    # delay
)
def test_fuzz_duckdb_twin_politeness_invariants(rows, n_workers, delay):
    """Twin-level fuzz (no Spark in the loop): for random frontiers the
    DuckDB emission must satisfy every scheduling invariant the Spark
    side pins — affinity, dense politeness slots, priority order."""
    con = duckdb.connect()
    vals = ", ".join(
        f"('h{h}.x', 'https://h{h}.x/p{u}', {p})" for h, u, p in rows)
    con.execute(f"CREATE TABLE f AS SELECT * FROM (VALUES {vals}) "
                f"_(host, url, prio)")
    got = con.execute(sql_schedule_frontier(
        "f", n_workers, delay, priority_sql="prio",
        cols="host, url, prio")).fetchall()
    assert len(got) == len(rows)
    by_host = {}
    for host, url, prio, worker, ix, slot in got:
        by_host.setdefault(host, []).append((ix, slot, prio, worker))
    for host, hr in by_host.items():
        hr.sort()
        assert len({w for _, _, _, w in hr}) == 1          # affinity
        assert [i for i, _, _, _ in hr] == list(range(len(hr)))  # dense
        assert all(s == i * delay for i, s, _, _ in hr)    # politeness
        prios = [p for _, _, p, _ in hr]
        assert prios == sorted(prios, reverse=True)        # priority
