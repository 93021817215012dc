"""Link-graph PageRank: integer exactness, mass conservation, engine parity."""

from __future__ import annotations

import hashlib
from fractions import Fraction

import pytest

from core_spark.operators.linkgraph import (
    derive_host_edges,
    initial_rank,
    pagerank,
    sql_host_pagerank,
)
from core_spark.plans import materialize

N_HOSTS, K_OUT, ITERS = 13, 4, 3


def _hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _model_edges(doc_ids, n_hosts=N_HOSTS, k_out=K_OUT):
    hosts = sorted({d % n_hosts for d in doc_ids})
    n = len(hosts)
    return hosts, [
        (h, hosts[_hash60(f"lg_{h}_{j}") % n])
        for h in hosts
        for j in range(k_out)
    ]


def _model_pagerank_fraction(hosts, edges, k_out=K_OUT, iters=ITERS):
    """Exact-rational model: proves the BIGINT path loses nothing."""
    r0 = Fraction(initial_rank(k_out, iters))
    ranks = {h: r0 for h in hosts}
    for _ in range(iters):
        inflow = {h: Fraction(0) for h in hosts}
        for s, d in edges:
            inflow[d] += ranks[s]
        ranks = {
            h: Fraction(3, 20) * r0 + Fraction(17, 20) * inflow[h] / k_out
            for h in hosts
        }
    return ranks


def test_fraction_model_is_integral_and_conserves_mass():
    hosts, edges = _model_edges(range(200))
    ranks = _model_pagerank_fraction(hosts, edges)
    r0 = initial_rank(K_OUT, ITERS)
    for v in ranks.values():
        assert v.denominator == 1  # integer-exact by construction
    assert sum(ranks.values()) == len(hosts) * r0  # mass conserved
    assert len(set(ranks.values())) > 1  # non-trivial (ranks differ)


@pytest.mark.spark
def test_spark_matches_fraction_model(spark):
    docs = spark.range(200).withColumnRenamed("id", "doc_id")
    edges = derive_host_edges(docs, n_hosts=N_HOSTS, k_out=K_OUT)
    got = {
        r["host"]: (r["in_deg"], r["rank"])
        for r in pagerank(edges, k_out=K_OUT, iters=ITERS).collect()
    }
    hosts, medges = _model_edges(range(200))
    model = _model_pagerank_fraction(hosts, medges)
    indeg = {h: 0 for h in hosts}
    for _, d in medges:
        indeg[d] += 1
    assert set(got) == set(hosts)
    for h in hosts:
        assert got[h] == (indeg[h], int(model[h]))


@pytest.mark.spark
def test_duckdb_twin_matches_spark(spark):
    import duckdb

    docs = spark.range(150).withColumnRenamed("id", "doc_id")
    edges = derive_host_edges(docs, n_hosts=N_HOSTS, k_out=K_OUT)
    got = sorted(
        tuple(r) for r in pagerank(edges, k_out=K_OUT, iters=ITERS).collect()
    )
    sql = sql_host_pagerank(
        "SELECT range AS doc_id FROM range(150)",
        n_hosts=N_HOSTS, k_out=K_OUT, iters=ITERS,
    )
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == want


@pytest.mark.spark
def test_pagerank_identical_under_reliable_materialization(spark, monkeypatch):
    docs = spark.range(120).withColumnRenamed("id", "doc_id")

    def run():
        e = derive_host_edges(docs, n_hosts=N_HOSTS, k_out=K_OUT)
        return sorted(
            tuple(r) for r in pagerank(e, k_out=K_OUT, iters=ITERS).collect()
        )

    base = run()
    monkeypatch.setattr(materialize, "is_local_master", lambda master: False)
    assert run() == base


# ---------------------------------------------------------------------------
# pagerank_weighted — the general (real-crawl) variant
# ---------------------------------------------------------------------------

# (src, dst, n_links): a has out-degree 3 across two dsts (multiplicity
# 2 toward b), b points back to a, d is a dangling receiver, e is an
# isolated self-loop.
W_EDGES = [
    ("a", "b", 2),
    ("a", "c", 1),
    ("b", "a", 1),
    ("c", "d", 1),
    ("e", "e", 1),
]
W_R0 = 10**12


def _model_pagerank_weighted(edges, iters=3, r0=W_R0):
    """Truncating-integer Python model (the contract: every division is
    floor division on non-negative ints — bit-portable)."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    out_total = {}
    for s, _, n in edges:
        out_total[s] = out_total.get(s, 0) + n
    teleport = (3 * r0) // 20
    ranks = {h: r0 for h in nodes}
    for _ in range(iters):
        inflow = {h: 0 for h in nodes}
        for s, d, n in edges:
            inflow[d] += (ranks[s] * n) // out_total[s]
        ranks = {h: teleport + (17 * inflow[h]) // 20 for h in nodes}
    return sorted(ranks.items())


def _w_edges_df(spark):
    return spark.createDataFrame(
        W_EDGES, "src_host string, dst_host string, n_links bigint"
    )


@pytest.mark.spark
def test_weighted_spark_matches_python_model(spark):
    from core_spark.operators.linkgraph import pagerank_weighted

    got = sorted(
        (r["host"], r["rank"])
        for r in pagerank_weighted(_w_edges_df(spark), iters=3).collect()
    )
    assert got == _model_pagerank_weighted(W_EDGES)


@pytest.mark.spark
def test_weighted_duckdb_twin_matches_spark(spark):
    import duckdb

    from core_spark.operators.linkgraph import (
        pagerank_weighted, sql_pagerank_weighted,
    )

    got_spark = sorted(
        (r["host"], r["rank"])
        for r in pagerank_weighted(_w_edges_df(spark), iters=3).collect()
    )
    values = ", ".join(f"('{s}', '{d}', {n})" for s, d, n in W_EDGES)
    got_duck = sorted(
        (h, int(r))
        for h, r in duckdb.connect().execute(
            sql_pagerank_weighted(
                f"SELECT * FROM (VALUES {values})"
                " AS t(src_host, dst_host, n_links)",
                iters=3,
            )
        ).fetchall()
    )
    assert got_spark == got_duck


def test_weighted_model_semantics():
    """Dangling + multiplicity sanity on the Python model itself: the
    dangling receiver 'd' ends above teleport-only mass, b receives
    twice c's share of a's rank, and the self-loop node keeps feeding
    itself (rank strictly above teleport)."""
    ranks = dict(_model_pagerank_weighted(W_EDGES))
    teleport = (3 * W_R0) // 20
    assert ranks["d"] > teleport          # receives from c
    assert ranks["b"] > ranks["c"]        # 2-vs-1 multiplicity from a
    assert ranks["e"] > teleport          # self-loop inflow


@pytest.mark.spark
def test_weighted_identical_under_reliable_materialization(spark, monkeypatch):
    from core_spark.operators.linkgraph import pagerank_weighted

    def run():
        return sorted(
            tuple(r)
            for r in pagerank_weighted(_w_edges_df(spark), iters=3).collect()
        )

    base = run()
    monkeypatch.setattr(materialize, "is_local_master", lambda master: False)
    assert run() == base


# ---------------------------------------------------------------------------
# HITS
# ---------------------------------------------------------------------------

import duckdb  # noqa: E402

from core_spark.operators.linkgraph import (  # noqa: E402
    hits, hits_bound, sql_hits,
)

# hand-checkable mutual-reinforcement graph: d0 is a hub pointing at the
# two authorities a1/a2; d3 points at a1 only; a1 points back at d0.
_HITS_EDGES = [("d0", "a1"), ("d0", "a2"), ("d3", "a1"), ("a1", "d0")]


def _hits_model(edges, iters):
    nodes = sorted({u for e in edges for u in e})
    hub = {n: 1 for n in nodes}
    auth = {n: 0 for n in nodes}
    for _ in range(iters):
        auth = {n: sum(hub[s] for s, d in edges if d == n) for n in nodes}
        hub = {n: sum(auth[d] for s, d in edges if s == n) for n in nodes}
    return auth, hub


@pytest.mark.spark
def test_hits_vs_model_and_duckdb(spark):
    df = spark.createDataFrame(_HITS_EDGES, "src string, dst string")
    for iters in (1, 2, 3):
        got = {r.host: (r.authority, r.hub)
               for r in hits(df, iters=iters).collect()}
        auth, hub = _hits_model(_HITS_EDGES, iters)
        assert got == {n: (auth[n], hub[n]) for n in auth}

        con = duckdb.connect()
        vals = ", ".join(f"('{s}', '{d}')" for s, d in _HITS_EDGES)
        duck = {r[0]: (r[1], r[2]) for r in con.execute(sql_hits(
            f"SELECT * FROM (VALUES {vals}) _(src, dst)",
            iters=iters)).fetchall()}
        assert duck == got


@pytest.mark.spark
def test_hits_separates_hubs_from_authorities(spark):
    """The property PageRank can't express: d0 is the best HUB but a1 is
    the best AUTHORITY, and HITS says so on both axes."""
    df = spark.createDataFrame(_HITS_EDGES, "src string, dst string")
    got = {r.host: r for r in hits(df, iters=2).collect()}
    assert max(got.values(), key=lambda r: r.authority).host == "a1"
    assert max(got.values(), key=lambda r: r.hub).host == "d0"
    # no-in-link nodes hold authority 0 and are kept
    assert got["d3"].authority == 0 and got["d3"].hub > 0


def test_hits_bound_states_the_worst_case():
    assert hits_bound(2, 2, 2) == 16
    # realistic crawl bound: 3 rounds at degree 1024 stays inside BIGINT
    assert hits_bound(1024, 1024, 3) < 2 ** 63


def test_hits_zero_iters_raises_on_both_twins(spark):
    df = spark.createDataFrame(_HITS_EDGES, "src string, dst string")
    with pytest.raises(ValueError, match="iters must be >= 1"):
        hits(df, iters=0)
    with pytest.raises(ValueError, match="iters must be >= 1"):
        sql_hits("edges", iters=0)
