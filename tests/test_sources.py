"""Corpus scan and test-file candidate predicate tests (SURVEY.md §2.1)."""

from __future__ import annotations

import os

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

    @staticmethod
    def _corpus(spark, path, n=50, extra=False):
        from pyspark.sql import functions as F

        from core_spark.data.synth import webpages_spark

        df = webpages_spark(spark, n, 2).select("url", "warc_ts", "html", "lang", "doc_id")
        (df.withColumn("extra", F.lit(1)) if extra else df).write.mode("overwrite").parquet(path)

    @staticmethod
    def _iceberg(spark, path):
        """An Iceberg table root of the corpus with one position-delete and
        one equality-delete snapshot on top; returns its data files."""
        from pyspark.sql import functions as F

        from core_spark.data.synth import webpages_spark
        from core_spark.sources.iceberg import IcebergFixtureWriter, load_table_metadata, plan_files, select_snapshot

        docs = webpages_spark(spark, 50, 2).select("url", "warc_ts", "html", "lang", "doc_id")
        writer = IcebergFixtureWriter(path, docs.schema)
        writer.append(docs)
        writer.delete_positions(spark, F.col("doc_id") % 7 == 3)
        writer.delete_equality(docs.where("doc_id < 5"), ["doc_id"])
        return [f["file_path"] for f in plan_files(path, select_snapshot(load_table_metadata(path)))["data"]]

    @staticmethod
    def _jobs(spark, group, fn):
        """Spark jobs that ``fn`` starts, counted by job group."""
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def test_read_corpus_reread_starts_no_job(self, spark, tmp_path):
        """No read starts a job: a parquet path reads one footer on the
        driver, an Iceberg root (with both kinds of deletes) takes its schema
        from the table metadata."""
        path, table = str(tmp_path / "corpus"), str(tmp_path / "table")
        self._corpus(spark, path)
        self._iceberg(spark, table)
        # the deletes drop doc_ids 3, 10, ..., 45 (7) and 0-4 (5, one shared)
        for root, rows in ((path, 50), (table, 39)):
            assert self._jobs(spark, f"first-{root}", lambda: read_corpus(spark, root)) == 0
            assert self._jobs(spark, f"again-{root}", lambda: read_corpus(spark, root)) == 0
            assert read_corpus(spark, root).count() == rows

    def test_read_corpus_schema_is_the_inferred_schema(self, spark, tmp_path):
        """The footer read gives what inference gives, on a Spark-written
        corpus (its footers carry Spark's row metadata) and on a pyarrow one
        in perfbench's ``write_corpus`` shape (``timestamp[us, tz=UTC]``
        and ``binary`` columns, no Spark metadata). The Iceberg metadata
        schema gives what inference over the snapshot's data files gives."""
        from perfbench.workloads import DOCS_PER_FILE, write_corpus

        by_spark = str(tmp_path / "by_spark")
        self._corpus(spark, by_spark)
        by_arrow = str(tmp_path / "by_arrow")
        write_corpus(by_arrow, 0, 2)
        for path in (by_spark, by_arrow):
            assert read_corpus(spark, path).schema == spark.read.parquet(path).schema
        assert read_corpus(spark, by_arrow).count() == 2 * DOCS_PER_FILE
        table = str(tmp_path / "table")
        data_files = self._iceberg(spark, table)
        assert read_corpus(spark, table).schema == spark.read.parquet(*data_files).schema

    def test_read_corpus_added_bad_file_revalidates(self, spark, tmp_path):
        path = tmp_path / "corpus"
        self._corpus(spark, str(path))
        read_corpus(spark, str(path))
        bad = tmp_path / "bad"
        spark.range(3).write.parquet(str(bad))
        # inference reads the footer of the first data file in path order
        (path / "a.parquet").write_bytes(next(bad.glob("*.parquet")).read_bytes())
        with pytest.raises(ValueError, match="corpus schema mismatch"):
            read_corpus(spark, str(path))

    def test_read_corpus_reads_an_iceberg_table_root(self, spark, tmp_path):
        """A directory holding ``metadata/`` is an Iceberg table root: it is
        read through ``read_iceberg`` and gets the same corpus schema check."""
        from core_spark.data.synth import webpages_spark
        from core_spark.sources.iceberg import IcebergFixtureWriter

        docs = webpages_spark(spark, 50, 2).select("url", "warc_ts", "html", "lang", "doc_id")
        table = str(tmp_path / "table")
        IcebergFixtureWriter(table, docs.schema).append(docs)
        df = read_corpus(spark, table)
        assert sorted(df.columns) == sorted(docs.columns) and df.count() == 50
        bad = str(tmp_path / "bad")
        IcebergFixtureWriter(bad, spark.range(5).schema).append(spark.range(5))
        with pytest.raises(ValueError, match="corpus schema mismatch"):
            read_corpus(spark, bad)

    def test_read_corpus_replaced_files_revalidate(self, spark, tmp_path):
        path = str(tmp_path / "corpus")
        self._corpus(spark, path)
        assert "extra" not in read_corpus(spark, path).columns
        part = next((tmp_path / "corpus").glob("part-*.parquet"))
        st = part.stat()  # rewritten in place: same names and bytes, newer mtime
        os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 5 * 10**9))
        assert "extra" not in read_corpus(spark, path).columns
        part.rename(part.with_name("part-renamed.parquet"))  # same bytes, other files
        assert "extra" not in read_corpus(spark, path).columns
        self._corpus(spark, path, n=60, extra=True)
        df = read_corpus(spark, path)
        assert "extra" in df.columns and df.count() == 60
        spark.range(3).write.mode("overwrite").parquet(path)
        with pytest.raises(ValueError, match="corpus schema mismatch"):
            read_corpus(spark, path)


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

