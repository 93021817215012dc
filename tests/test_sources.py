"""S1-S8 source/sink parity tests (SURVEY.md §2.1)."""

from __future__ import annotations

import os
import re

import pytest

from core_spark.sources.ingest import (
    CORPUS_SCHEMA_FIELDS,
    glob_filter,
    glob_regex,
    read_corpus,
    read_file_tree,
    write_snapshot,
)


#: Doublestar semantics over root-relative paths (SURVEY.md F2):
#: (pattern, path, matches).
GLOB_CASES = [
    ("*.py", "app.py", True),
    ("*.py", "src/app.py", False),
    ("src/*.js", "src/x.js", True),
    ("src/*.js", "src/a/x.js", False),
    ("a/**/b.js", "a/b.js", True),
    ("a/**/b.js", "a/x/y/b.js", True),
    ("a/**/b.js", "a/xb.js", False),
    ("**/*.py", "app.py", True),
    ("**/*.py", "src/a/app.py", True),
    ("?.md", "a.md", True),
    ("?.md", "ab.md", False),
    ("?.md", "a/b.md", False),
    ("a.py", "axpy", False),
]


@pytest.mark.parametrize("pattern,path,hit", GLOB_CASES)
def test_glob_table(pattern, path, hit):
    assert (re.fullmatch(glob_regex(pattern), path) is not None) is hit


@pytest.mark.spark
class TestFileTree:
    @pytest.fixture()
    def tree(self, tmp_path):
        files = {
            "src/app.py": b"print('hi')",
            "src/node_modules/dep/index.js": b"module.exports = 1",
            "vendor/lib.go": b"package lib",
            "docs/readme.md": b"# readme",
            "big.bin": b"x" * 2048,
        }
        for rel, content in files.items():
            p = tmp_path / rel
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_bytes(content)
        return str(tmp_path)

    def test_skip_dirs_and_size(self, spark, tree):
        df = read_file_tree(spark, tree, max_file_size=1024)
        paths = sorted(r.path.split(str(tree))[-1] for r in df.collect())
        assert "/src/app.py" in paths
        assert "/docs/readme.md" in paths
        assert not any("node_modules" in p for p in paths)  # S4
        assert not any("vendor" in p for p in paths)        # S4
        assert not any("big.bin" in p for p in paths)       # F3

    def test_glob_filter(self, spark, tree):
        df = read_file_tree(spark, tree)
        py = glob_filter(df, ["**/*.py"], tree)
        assert all(r.path.endswith(".py") for r in py.collect())
        assert py.count() == 1

    def test_glob_table_through_spark(self, spark):
        """The same table through the JVM regex, on absolute ``file:``
        paths under a scan root."""
        prefix = "file:/scan/root/"
        df = spark.createDataFrame(
            sorted({(prefix + p,) for _pat, p, _hit in GLOB_CASES}),
            "path string",
        )
        for pat in {pat for pat, _p, _hit in GLOB_CASES}:
            got = {r.path for r in glob_filter(df, [pat], "/scan/root").collect()}
            for q, p, hit in GLOB_CASES:
                if q == pat:
                    assert ((prefix + p) in got) is hit, (pat, p)

    def test_pushdown_in_plan(self, spark, tree):
        """The size/skip predicates must appear as data filters, not Python."""
        df = read_file_tree(spark, tree, max_file_size=1024)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Filter" in plan
        assert "mapInPandas" not in plan.lower()


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

    def test_snapshot_sink_deterministic(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(3, "c"), (1, "a"), (2, "b")], "id bigint, v string"
        )
        out = str(tmp_path / "snap")
        write_snapshot(df, out, order_by=["id"])
        back = spark.read.parquet(out).collect()
        assert [r.id for r in back] == [1, 2, 3]
        assert len([f for f in os.listdir(out) if f.endswith(".parquet")]) == 1


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

    def test_predicate_is_pushed_to_scan(self, spark, tmp_path):
        from core_spark.sources.ingest import read_file_tree, test_file_candidates

        (tmp_path / "a_test.go").write_text("package a")
        (tmp_path / "a.go").write_text("package a")
        df = test_file_candidates(read_file_tree(spark, str(tmp_path)))
        rows = [r["path"] for r in df.select("path").collect()]
        assert len(rows) == 1 and rows[0].endswith("a_test.go")


def test_iceberg_seam_fails_cleanly_without_runtime(spark):
    """The Iceberg arm is a wired seam: without the runtime jar/catalog in
    this container, the read must fail with Spark's own catalog error (not
    a silent wrong-format read). Documents the README limitation."""
    import pytest as _pytest

    from core_spark.sources.ingest import read_corpus

    from pyspark.errors import AnalysisException

    with _pytest.raises(AnalysisException):
        read_corpus(spark, "nosuch_iceberg_table", fmt="iceberg")
