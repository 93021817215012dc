"""Corpus scan and test-file candidate predicate tests (SURVEY.md §2.1)."""

from __future__ import annotations

import pytest

from core_spark.sources.ingest import CORPUS_SCHEMA_FIELDS, read_corpus


@pytest.mark.spark
class TestCorpusAndSinks:
    def test_read_corpus_validates(self, spark, tmp_path):
        from core_spark.data.synth import webpages_spark

        path = str(tmp_path / "corpus")
        webpages_spark(spark, 50, 2).select(
            "url", "warc_ts", "html", "lang", "doc_id"
        ).write.parquet(path)
        df = read_corpus(spark, path)
        assert set(CORPUS_SCHEMA_FIELDS) <= set(df.columns)

        bad = str(tmp_path / "bad")
        spark.range(5).write.parquet(bad)
        with pytest.raises(ValueError, match="corpus schema mismatch"):
            read_corpus(spark, bad)


class TestCandidatePredicate:
    """F1 — the 11-language test-file candidate predicate as one portable
    SQL boolean (scanner.go:664-951); same string runs on Spark and DuckDB."""

    CASES = [
        ("pkg/parser_test.go", True), ("pkg/parser.go", False),
        ("src/app.test.ts", True), ("src/app.ts", False),
        ("src/__tests__/x.ts", True), ("a/__fixtures__/x.ts", False),
        ("src/__fixtures__/x.test.ts", True),
        ("a/cypress/e2e/x.js", True), ("e2e/login.setup.ts", True),
        ("src/main/java/FooTest.java", False), ("src/test/java/FooTest.java", True),
        ("x/CalculatorTest.java", True), ("x/Calculator.java", False),
        ("tests/test_core.py", True), ("pkg/conftest.py", False),
        ("tests/util.py", True), ("a/helper.py", False),
        ("spec/models/user_spec.rb", True), ("spec/support/helper.rb", False),
        ("src/lib.rs", True), ("docs/x.rs", False),
        ("geo_test.cc", True), ("contest.cc", False), ("DatabaseTest.cc", True),
        ("x/WebTest.php", True), ("Tests/CaseTests.swift", True),
        ("Sources/x.swift", False), ("x/ThingSpec.kt", True),
        ("x/SpecThing.kt", False), ("X.Tests/Foo.cs", True),
        ("x/readme.md", False), ("crates/core/src/lib.rs", True),
    ]

    def test_spark_matches_duckdb_and_expectations(self, spark):
        import duckdb

        from core_spark.sources.ingest import sql_test_file_candidate

        sql = sql_test_file_candidate("p")
        df = spark.createDataFrame([(p,) for p, _ in self.CASES], "p string")
        from pyspark.sql import functions as F

        got_spark = {
            r["p"]: bool(r["ok"])
            for r in df.withColumn("ok", F.expr(sql)).collect()
        }
        for path, want in self.CASES:
            assert got_spark[path] is want, f"spark: {path}"
            duck = duckdb.sql(
                f"SELECT {sql} FROM (SELECT '{path}' AS p)"
            ).fetchone()[0]
            assert bool(duck) is want, f"duckdb: {path}"


def test_iceberg_seam_fails_cleanly_without_runtime(spark):
    """The Iceberg arm is a wired seam: without the runtime jar/catalog in
    this container, the read must fail with Spark's own catalog error (not
    a silent wrong-format read). Documents the README limitation."""
    import pytest as _pytest

    from core_spark.sources.ingest import read_corpus

    from pyspark.errors import AnalysisException

    with _pytest.raises(AnalysisException):
        read_corpus(spark, "nosuch_iceberg_table", fmt="iceberg")
