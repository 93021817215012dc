"""Standing-query routing: model parity both engines, veto, edges, plan."""

from __future__ import annotations

import duckdb
import pytest

from core_spark.operators.percolate import route_queries, sql_route_queries

DOCS = [
    (1, "spark window sort merge"),
    (2, "spark sort slow merge"),      # vetoed for q_sort by 'slow'
    (3, "window spark"),               # q_spark only
    (4, "sort merge"),                 # q_sort only
    (5, "sort"),                       # incomplete req
    (6, None),
    (7, "spark spark window window"),  # duplicate tokens are harmless
]

QUERIES = [
    ("q_spark", ["spark", "window"], []),
    ("q_sort", ["sort", "merge"], ["slow"]),
]


def model(docs, queries):
    out = set()
    for i, text in docs:
        toks = set((text or "").split(" "))
        for name, req, veto in queries:
            if set(req) <= toks and not (set(veto) & toks):
                out.add((i, name))
    return out


EXPECT = model(DOCS, QUERIES)


def test_model_hand_checks():
    # doc 2 matches NOTHING: no 'window' for q_spark, vetoed for q_sort
    assert EXPECT == {
        (1, "q_spark"), (1, "q_sort"),
        (3, "q_spark"), (4, "q_sort"), (7, "q_spark"),
    }


def _vals():
    rows = ", ".join(
        f"({i}, " + ("NULL" if t is None else f"'{t}'") + ")"
        for i, t in DOCS
    )
    return f"SELECT * FROM (VALUES {rows}) t(doc_id, text)"


def test_duckdb_twin_matches_model():
    got = set(duckdb.sql(sql_route_queries(_vals(), QUERIES)).fetchall())
    assert got == EXPECT


@pytest.mark.spark
def test_spark_matches_model(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        (r["doc_id"], r["query_name"])
        for r in route_queries(df, QUERIES).collect()
    }
    assert got == EXPECT


@pytest.mark.spark
def test_plan_has_no_shuffle_join_python(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    plan = (
        route_queries(df, QUERIES)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for bad in ("Exchange", "Join", "Python"):
        assert bad not in plan


@pytest.mark.spark
def test_quote_and_backslash_in_registry(spark):
    rows = [(1, "it's a\\b"), (2, "its ab")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    qs = [("q'1", ["it's"], ["a\\b"]), ("q2", ["a\\b"], [])]
    got = {
        (r["doc_id"], r["query_name"])
        for r in route_queries(df, qs).collect()
    }
    assert got == {(1, "q2")}  # q'1 vetoed on doc 1, absent on doc 2
    oracle = set(duckdb.sql(sql_route_queries(
        "SELECT 1 AS doc_id, 'it''s a\\b' AS text", qs)).fetchall())
    assert oracle == {(1, "q2")}


def test_rejects_bad_registry():
    for bad in (
        [],
        [("q1", [], [])],
        [("q1", ["a"], []), ("q1", ["b"], [])],
        [("", ["a"], [])],
        [("q1", ["two words"], [])],
    ):
        with pytest.raises(ValueError):
            sql_route_queries("SELECT 1", bad)


@pytest.mark.spark
class TestStreamingPercolation:
    def test_stream_routing_matches_batch(self, spark, tmp_path):
        """route_queries is a pure map+explode (stateless), so the
        streaming twin is foreachBatch-free: readStream -> the SAME
        operator -> append sink, no watermark, no state. Stream output
        over 3 incremental files == one-shot batch routing, and the
        registry veto must fire identically across file boundaries."""
        from core_spark.operators.percolate import route_queries

        queries = [
            ("q_spark", ["spark", "window"], []),
            ("q_sort", ["sort", "merge"], ["slow"]),
        ]
        rows = [
            (1, "spark window sort merge"),
            (2, "spark sort slow merge"),
            (3, "window spark"),
            (4, "sort merge"),
            (5, "sort"),
            (6, None),
        ]
        input_dir = str(tmp_path / "in")
        for i, (d, t) in enumerate(rows):
            spark.createDataFrame([(d, t)], "doc_id long, text string") \
                .coalesce(1).write.mode("append").parquet(input_dir)

        out_dir = str(tmp_path / "routed")
        stream = spark.readStream.schema("doc_id long, text string") \
            .option("maxFilesPerTrigger", 1).parquet(input_dir)
        q = (
            route_queries(stream, queries)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = {
            (r["doc_id"], r["query_name"])
            for r in spark.read.parquet(out_dir).collect()
        }
        batch = spark.read.parquet(input_dir)
        want = {
            (r["doc_id"], r["query_name"])
            for r in route_queries(batch, queries).collect()
        }
        assert got == want
        assert (1, "q_sort") in got and (2, "q_sort") not in got
