"""Public-suffix (eTLD+1) extraction: hand vectors in the style of the
official publicsuffix.org test file (restricted to the embedded rule
snapshot), a pure-Python reference model, dual-engine parity, hygiene,
and plan shape."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

from core_spark.operators import psl


# ---------------------------------------------------------------- model
def _py_psl(host):
    """Independent pure-Python PSL algorithm over the same snapshot."""
    if host is None:
        return (None, None)
    h = host.lower()
    if h.endswith("."):
        h = h[:-1]
    if h == "" or h.startswith(".") or h.endswith(".") or ".." in h:
        return (None, None)
    labels = h.split(".")

    def matches(rule_labels):
        if len(rule_labels) > len(labels):
            return False
        tail = labels[-len(rule_labels):]
        return all(r == "*" or r == t for r, t in zip(rule_labels, tail))

    ps_len = None
    for exc in psl.EXCEPTION_RULES:
        rl = exc.split(".")
        if matches(rl):
            ps_len = len(rl) - 1
            break
    if ps_len is None:
        best = 1  # implicit '*'
        for r in psl.EXACT_RULES:
            rl = r.split(".")
            if matches(rl):
                best = max(best, len(rl))
        for t in psl.WILDCARD_TAILS:
            rl = ["*"] + t.split(".")
            if matches(rl):
                best = max(best, len(rl))
        ps_len = best
    ps = ".".join(labels[-ps_len:])
    reg = ".".join(labels[-(ps_len + 1):]) if len(labels) > ps_len else None
    return (ps, reg)


# (host, public_suffix, reg_domain) — publicsuffix.org-style vectors,
# every arm of the snapshot: exact, wildcard, exception, private
# registry, implicit default, normalization, hygiene.
VECTORS = [
    ("example.com", "com", "example.com"),
    ("b.example.com", "com", "example.com"),
    ("a.b.example.com", "com", "example.com"),
    ("com", "com", None),
    ("biz", "biz", None),
    ("example.co.uk", "co.uk", "example.co.uk"),
    ("a.blog.example.co.uk", "co.uk", "example.co.uk"),
    ("co.uk", "co.uk", None),
    ("uk", "uk", None),
    ("alice.github.io", "github.io", "alice.github.io"),
    ("deep.alice.github.io", "github.io", "alice.github.io"),
    ("github.io", "github.io", None),
    ("me.blogspot.com", "blogspot.com", "me.blogspot.com"),
    ("blogspot.com", "blogspot.com", None),
    # wildcard *.ck + exception !www.ck
    ("ck", "ck", None),
    ("shop.ck", "shop.ck", None),
    ("x.shop.ck", "shop.ck", "x.shop.ck"),
    ("www.ck", "ck", "www.ck"),
    ("a.www.ck", "ck", "www.ck"),
    # wildcard *.kawasaki.jp + exception !city.kawasaki.jp
    ("kawasaki.jp", "jp", "kawasaki.jp"),
    ("foo.kawasaki.jp", "foo.kawasaki.jp", None),
    ("a.foo.kawasaki.jp", "foo.kawasaki.jp", "a.foo.kawasaki.jp"),
    ("city.kawasaki.jp", "kawasaki.jp", "city.kawasaki.jp"),
    ("x.city.kawasaki.jp", "kawasaki.jp", "city.kawasaki.jp"),
    # deep wildcard *.compute.amazonaws.com (4-label rule)
    ("compute.amazonaws.com", "com", "amazonaws.com"),
    ("node7.compute.amazonaws.com", "node7.compute.amazonaws.com", None),
    ("vm.node7.compute.amazonaws.com", "node7.compute.amazonaws.com",
     "vm.node7.compute.amazonaws.com"),
    ("s3.amazonaws.com", "s3.amazonaws.com", None),
    ("data.s3.amazonaws.com", "s3.amazonaws.com", "data.s3.amazonaws.com"),
    # normalization + hygiene
    ("WWW.CK.", "ck", "www.ck"),
    ("Example.COM", "com", "example.com"),
    ("localhost", "localhost", None),
    ("bad..host", None, None),
    (".leading", None, None),
    ("trailing..", None, None),  # strips ONE dot, then '.$' label empty
    ("", None, None),
    (None, None, None),
]


def test_python_model_on_vectors():
    for host, ps, reg in VECTORS:
        assert _py_psl(host) == (ps, reg), host


def _duckdb_rows(hosts):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join("(?)" for _ in hosts) + ") v(host)", hosts)
    return con.execute(psl.sql_registrable("t", "host")).fetchall()


def test_duckdb_emission_on_vectors():
    got = _duckdb_rows([v[0] for v in VECTORS])
    assert got == [(h, p, r) for h, p, r in VECTORS]


@pytest.mark.spark
def test_spark_matches_duckdb_and_model(spark):
    hosts = [v[0] for v in VECTORS]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {r.host: (r.public_suffix, r.reg_domain)
           for r in psl.registrable_domain(df, "host").collect()}
    for host, ps, reg in VECTORS:
        assert got[host] == (ps, reg), host
    # the DuckDB twin agrees with the DataFrame operator
    twin = {host: (ps, reg) for host, ps, reg in _duckdb_rows(hosts)}
    assert twin == got


@pytest.mark.spark
def test_plan_is_one_shuffle_free_codegen_projection(spark):
    df = spark.createDataFrame([("a.co.uk",)], "host string")
    plan = (psl.registrable_domain(df, "host")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
    assert plan.lstrip().startswith("*("), plan  # whole-stage codegen


_LABEL = st.sampled_from(
    ["a", "b", "www", "city", "shop", "ck", "uk", "co", "jp", "io",
     "com", "github", "kawasaki", "amazonaws", "compute", "s3",
     "blogspot", "example", "x0", "np"])


@settings(max_examples=120, deadline=None)
@given(st.lists(_LABEL, min_size=1, max_size=6))
def test_duckdb_matches_python_model_fuzz(labels):
    """Random hosts assembled from snapshot-adjacent labels — exercises
    accidental rule hits (e.g. '...co.uk' mid-host) and near-misses."""
    host = ".".join(labels)
    con = duckdb.connect()
    con.execute("CREATE TABLE t(host VARCHAR)")
    con.execute("INSERT INTO t VALUES (?)", [host])
    got = con.execute(psl.sql_registrable("t", "host")).fetchone()
    assert got == (host, *_py_psl(host))
