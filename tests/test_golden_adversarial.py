"""Adversarial source shapes from the reference's integration territory
(scanner_test.go:808-1154): fixture/mock exclusion, deep nesting,
mixed-framework files, non-UTF8 sources. Each builds a (path, source)
frame in memory and runs the REAL distributed path (candidate filter ->
Arrow inventory kernel / detect cascade), not unit shims.
"""

from __future__ import annotations

import pytest


JEST_BYTES = b"import { it } from '@jest/globals'; it('test', () => {});"


@pytest.mark.spark
def test_fixture_and_mock_dirs_excluded(spark):
    """TestScan_FixtureExclusion parity: __fixtures__/__mocks__ content
    under __tests__ never becomes a test-file candidate; the sibling
    component.test.ts does."""
    from pyspark.sql import functions as F

    from core_spark.sources.ingest import sql_test_file_candidate

    tree = spark.createDataFrame(
        [("__tests__/__fixtures__/data.js",), ("__tests__/__mocks__/module.js",),
         ("__tests__/component.test.ts",)],
        "path string",
    )
    cands = [
        r["path"]
        for r in tree.filter(F.expr(sql_test_file_candidate("path"))).collect()
    ]
    assert cands == ["__tests__/component.test.ts"]


@pytest.mark.spark
def test_deep_nesting_inventory(spark):
    """An 8-directory-deep file with 5 nested describe levels: the
    distributed inventory keeps the full suite_path chain and 1-based
    line spans at every depth."""
    from core_spark.operators.inventory import extract_inventory

    deep_src = (
        "jest.mock('./x');\n"
        "describe('l1', () => {\n"
        " describe('l2', () => {\n"
        "  describe('l3', () => {\n"
        "   describe('l4', () => {\n"
        "    describe('l5', () => {\n"
        "     it('leaf', () => {});\n"
        "    });\n"
        "   });\n"
        "  });\n"
        " });\n"
        "});\n"
    )
    docs = spark.createDataFrame(
        [("a/b/c/d/e/f/g/h/deep.test.js", deep_src)], "path string, source string"
    )
    rows = {r["name"]: r for r in extract_inventory(docs).collect()}
    leaf = rows["leaf"]
    assert list(leaf["suite_path"]) == ["l1", "l2", "l3", "l4", "l5"]
    assert leaf["kind"] == "test" and leaf["line"] == 7
    assert rows["l5"]["suite_path"] == ["l1", "l2", "l3", "l4"]


@pytest.mark.spark
def test_mixed_framework_file_priority(spark):
    """A file carrying jest, playwright AND cypress signals resolves by
    the registry's priority order (cy.* content is the strongest match
    here) — deterministically, not by input order."""
    from core_spark.operators.detect import default_registry, detect, lang_col

    mixed = (
        "import { test } from '@playwright/test';\n"
        "describe('mixed', () => {\n"
        "  it('jest-ish', () => { jest.mock('./x'); });\n"
        "  it('cy-ish', () => { cy.visit('/'); });\n"
        "});\n"
    )
    df = spark.createDataFrame(
        [("src/mixed.test.ts", mixed)], "url string, text string"
    ).withColumn("lang", lang_col("url"))
    got = detect(df, default_registry(), lang_col_name="lang").collect()
    assert [r["framework"] for r in got] == ["cypress"]


@pytest.mark.spark
def test_non_utf8_source_survives(spark):
    """A latin-1 source (invalid UTF-8 bytes) flows from a binary column
    through string cast -> Arrow kernel without crashing; ASCII test names
    still extract, the mojibake byte lands in U+FFFD. A plain CAST keeps
    the invalid bytes inside the UTF8String and the first Arrow transfer
    throws MALFORMED_CHARACTER_CODING; make_valid_utf8 repairs them."""
    from pyspark.sql import functions as F

    from core_spark.operators.inventory import extract_inventory

    latin1 = (
        "// caf\xe9 r\xe9sum\xe9 comment\n"
        "describe('suite', () => {\n"
        "  it('works', () => { jest.mock('./x'); });\n"
        "});\n"
    ).encode("latin-1")
    docs = spark.createDataFrame(
        [("enc/weird.test.js", latin1)], "path string, content binary"
    ).select("path", F.expr("make_valid_utf8(CAST(content AS STRING))").alias("source"))
    rows = {r["name"]: r for r in extract_inventory(docs).collect()}
    assert "works" in rows and rows["works"]["kind"] == "test"
    assert list(rows["works"]["suite_path"]) == ["suite"]
    # invalid bytes were repaired to U+FFFD instead of poisoning Arrow
    assert "caf�" in docs.collect()[0]["source"]


@pytest.mark.spark
def test_cargo_crates_and_csharp_test_dir(spark):
    """TestScan_CargoTest + TestScan_CSharpTestDirectory parity, through
    the real distributed path (candidate filter -> detect -> inventory): a non-_test.rs file under crates/ is a candidate and
    yields cargo-test with both #[test] fns; a non-standard-named .cs
    under test/ yields mstest with its [TestMethod]."""
    from pyspark.sql import functions as F

    from core_spark.operators.detect import default_registry, detect, lang_col
    from core_spark.operators.inventory import extract_inventory
    from core_spark.sources.ingest import sql_test_file_candidate

    rust = (
        "#[cfg(test)]\n"
        "mod tests {\n"
        "    #[test]\n"
        "    fn test_addition() { assert_eq!(2 + 2, 4); }\n"
        "    #[test]\n"
        "    fn test_subtraction() { assert_eq!(5 - 3, 2); }\n"
        "}\n"
    )
    cs = (
        "using Microsoft.VisualStudio.TestTools.UnitTesting;\n\n"
        "namespace SomeProject;\n\n"
        "[TestClass]\n"
        "public class DataRowTests_Regular\n"
        "{\n"
        "    [TestMethod]\n"
        "    public void Test1() => Assert.IsTrue(true);\n"
        "}\n"
    )
    tree = spark.createDataFrame(
        [("crates/core/flags/defs.rs", rust),
         ("test/SomeProject/DataRowTests_Regular.cs", cs)],
        "path string, source string",
    )
    cand = tree.filter(F.expr(sql_test_file_candidate("path")))
    assert cand.count() == 2  # both non-standard names are candidates
    det = {
        r["url"]: r["framework"]
        for r in detect(
            cand.selectExpr("path AS url", "source AS text").withColumn(
                "lang", lang_col("url")
            ),
            default_registry(),
            lang_col_name="lang",
        ).collect()
    }
    assert det == {
        "crates/core/flags/defs.rs": "cargo-test",
        "test/SomeProject/DataRowTests_Regular.cs": "mstest",
    }
    inv = {}
    for r in extract_inventory(cand).collect():
        inv.setdefault(r["path"], []).append((r["kind"], r["name"]))
    assert sorted(inv["crates/core/flags/defs.rs"]) == [
        ("suite", "tests"),
        ("test", "test_addition"),
        ("test", "test_subtraction"),
    ]
    assert sorted(inv["test/SomeProject/DataRowTests_Regular.cs"]) == [
        ("suite", "DataRowTests_Regular"),
        ("test", "Test1"),
    ]


@pytest.mark.spark
def test_empty_tree_yields_empty_stable_schema(spark):
    """Reference TestScan 'empty inventory for empty directory'
    (scanner_test.go:27-47): an empty input is a valid scan — zero rows,
    not an error, and the inventory schema is the full stable one so
    downstream aggregations compile against nothing."""
    from core_spark.operators.inventory import INVENTORY_SCHEMA, extract_inventory

    files = spark.createDataFrame([], "path string, source string")
    inv = extract_inventory(files)
    assert inv.count() == 0
    assert inv.schema == spark.createDataFrame([], INVENTORY_SCHEMA).schema


@pytest.mark.spark
def test_multi_file_errors_aggregate_per_file(spark, tmp_path):
    """Reference TestScan 'aggregate errors from multiple files'
    (scanner_test.go:184-208): several files failing in the same scan
    each surface as their OWN error-as-data row while healthy files in
    the same batch still produce inventory rows — one bad file must
    never fail the stage or mask another file's error."""
    from pyspark.sql import functions as F

    from core_spark.operators.inventory import extract_inventory

    # 4000-level describe nesting blows the recursive-descent kernel's
    # recursion limit — a genuinely hostile (generated) source, and the
    # organic way to reach the error arm: the kernels never raise on
    # ordinary garbage (fuzz-hardened), only on resource exhaustion.
    hostile = (
        "describe('d', () => {\n" * 4000
        + "it('x', () => {});\n"
        + "});\n" * 4000
    )
    rows = [
        ("ok/a.test.js", JEST_BYTES.decode()),
        ("bad/one.test.js", hostile),
        ("ok/b.test.js", JEST_BYTES.decode()),
        ("bad/two.test.js", hostile),
    ]
    df = spark.createDataFrame(rows, "path string, source string")
    inv = extract_inventory(df)
    errs = {r["path"]: r["err"] for r in inv.where("err IS NOT NULL").collect()}
    assert set(errs) == {"bad/one.test.js", "bad/two.test.js"}
    assert all("RecursionError" in e for e in errs.values())
    good = inv.where("err IS NULL")
    assert sorted(
        r["path"] for r in good.select("path").distinct().collect()
    ) == ["ok/a.test.js", "ok/b.test.js"]
    assert good.where(F.col("name") == "test").count() == 2
