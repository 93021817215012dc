"""Detection cascade tests — reproduces the reference's detector unit
semantics (pkg/parser/detection/detector_test.go shapes: priority, early
return, veto)."""

from __future__ import annotations

import collections

import pytest

from core_spark.operators.detect import (
    Definition,
    PRIORITY_GENERIC,
    PRIORITY_SPECIALIZED,
    detect,
    lang_col,
    sort_registry,
)

REGISTRY = [
    Definition(
        name="jest",
        priority=PRIORITY_GENERIC,
        content_patterns=(r"\bdescribe\(", r"\bit\("),
    ),
    Definition(
        name="vitest",
        priority=PRIORITY_SPECIALIZED,
        content_patterns=(r"\bvi\.mock\(",),
    ),
    Definition(
        name="cypress",
        priority=150,
        filename_patterns=(r"\.cy\.[jt]s$",),
        content_patterns=(r"\bcy\.visit\(",),
    ),
    Definition(
        name="mocha",
        priority=PRIORITY_GENERIC,
        content_patterns=(r"\bdescribe\(",),
        negative_patterns=(r"NO_MOCHA",),
    ),
]


def test_registry_order():
    names = [d.name for d in sort_registry(REGISTRY)]
    assert names == ["vitest", "cypress", "jest", "mocha"]


@pytest.mark.spark
class TestCascade:
    def rows(self, spark, rows):
        return spark.createDataFrame(rows, "url string, text string")

    def test_priority_and_sources(self, spark):
        df = self.rows(
            spark,
            [
                # specialized priority: vitest's content arm outranks jest's
                ("a.test.js", "vi.mock('x'); describe('x')"),
                # strong filename beats content
                ("b.cy.ts", "describe('e2e')"),
                # content: vitest (specialized) outranks jest on shared describe?
                # no — jest's describe pattern vs mocha's: jest sorts first
                ("c.test.js", "describe('unit', () => {})"),
                # veto: mocha suppressed, jest still matches
                ("d.test.js", "describe('x') NO_MOCHA"),
                ("e.txt", "nothing here"),
            ],
        )
        df = df.withColumn("lang", lang_col("url"))
        out = detect(df, REGISTRY, "lang", path_col="url").orderBy("url").collect()
        by = {r.url: r for r in out}
        assert by["a.test.js"].framework == "vitest"
        assert by["a.test.js"].detect_source == "content-pattern"
        assert by["b.cy.ts"].framework == "cypress"
        assert by["b.cy.ts"].detect_source == "strong-filename"
        assert by["b.cy.ts"].confidence == 100
        assert by["c.test.js"].framework == "jest"  # priority order among content
        assert by["c.test.js"].confidence == 40
        assert by["d.test.js"].framework == "jest"  # mocha vetoed, jest arm wins
        assert by["e.txt"].framework is None
        assert by["e.txt"].detect_source == "unknown"

        dist = collections.Counter(r.detect_source for r in out)
        assert dist == {"strong-filename": 1, "content-pattern": 3, "unknown": 1}

    def test_lang_detect(self, spark):
        df = spark.createDataFrame(
            [("x/app.PY",), ("y/m.go",), ("z/q.tsx",), ("w/none",)], "path string"
        )
        out = {r.path: r.lang for r in df.withColumn("lang", lang_col("path")).collect()}
        assert out == {"x/app.PY": "python", "y/m.go": "go",
                       "z/q.tsx": "typescript", "w/none": None}
