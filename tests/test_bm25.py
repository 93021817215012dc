"""BM25 retrieval: Python-model parity on both engines, edge semantics, and
the plan shape that makes it scale."""

from __future__ import annotations

import duckdb
import pytest

from core_spark.operators.bm25 import (
    B_DEN,
    B_NUM,
    K1_DEN,
    K1_NUM,
    RARITY,
    SCALE,
    bm25_topk,
    sql_bm25_topk,
)

DOCS = [
    (1, "apple banana apple cherry"),
    (2, "banana banana banana banana banana banana"),
    (3, "cherry apple"),
    (4, "durian elderberry fig"),
    (5, "apple apple apple apple apple apple apple apple"),
    (6, "fig banana cherry apple durian"),
    (7, ""),  # empty doc: no terms, never a candidate
]
QUERIES = [("qa", ["apple", "banana"]), ("qr", ["durian"])]


def _model_topk(docs, queries, k):
    """Independent Python model of the integer scorer."""
    toks = {d: (t.split(" ") if t else []) for d, t in docs}
    toks = {d: [x for x in t if x] for d, t in toks.items()}
    n = len(docs)
    t_total = sum(len(t) for t in toks.values())
    a, c, p, q = K1_NUM, K1_DEN, B_NUM, B_DEN
    out = []
    for qid, terms in queries:
        scores = {}
        for term in set(terms):
            df = sum(1 for t in toks.values() if term in t)
            if df == 0:
                continue
            w = (n * RARITY) // df
            for d, t in toks.items():
                tf = t.count(term)
                if tf == 0:
                    continue
                num = tf * (a + c) * q * t_total * SCALE
                den = c * q * t_total * tf + a * (q - p) * t_total + a * p * len(t) * n
                scores[d] = scores.get(d, 0) + (num // den) * w
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out += [(qid, d, s, i + 1) for i, (d, s) in enumerate(ranked)]
    return sorted(out)


@pytest.mark.spark
class TestBM25:
    def _spark_rows(self, spark, k=3):
        df = spark.createDataFrame(DOCS, "doc_id long, text string").selectExpr(
            "doc_id", "filter(split(text, ' '), x -> x != '') AS toks"
        )
        return sorted(
            tuple(r) for r in bm25_topk(df, QUERIES, k=k).collect()
        )

    def test_matches_python_model(self, spark):
        assert self._spark_rows(spark) == _model_topk(DOCS, QUERIES, 3)

    def test_duckdb_twin_matches_model(self):
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE d AS SELECT * FROM (VALUES "
            + ", ".join(f"({i}, '{t}')" for i, t in DOCS)
            + ") _(doc_id, text)"
        )
        sql = sql_bm25_topk(
            "d", "list_filter(string_split(text, ' '), x -> x != '')", QUERIES, k=3
        )
        got = sorted(tuple(r) for r in con.execute(sql).fetchall())
        assert got == _model_topk(DOCS, QUERIES, 3)

    def test_rare_term_dominates(self, spark):
        # 'durian' (df=2) must outrank nothing else for qr; only docs 4,6 hit
        rows = [r for r in self._spark_rows(spark) if r[0] == "qr"]
        assert [r[1] for r in rows] == [4, 6]

    def test_no_hit_query_returns_nothing(self, spark):
        df = spark.createDataFrame(DOCS, "doc_id long, text string").selectExpr(
            "doc_id", "filter(split(text, ' '), x -> x != '') AS toks"
        )
        out = bm25_topk(df, [("qz", ["zzz"])], k=3).collect()
        assert out == []

    def test_plan_shape(self, spark):
        """Broadcast joins everywhere, no sort-merge join, and the top-k
        window carries a group-limit (no full per-query sort at scale)."""
        df = spark.createDataFrame(DOCS, "doc_id long, text string").selectExpr(
            "doc_id", "filter(split(text, ' '), x -> x != '') AS toks"
        )
        plan = bm25_topk(df, QUERIES, k=3)._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert "WindowGroupLimit" in plan
