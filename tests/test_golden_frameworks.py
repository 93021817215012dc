"""Per-framework golden snapshots — VERDICT r2 #7: every one of the 22
registry frameworks appears in the fixture tree with nesting and the
statuses its dialect supports, snapshot-compared (the reference's
tests/integration/snapshot.go model: pinned goldens, regeneration flag).

Two gates per file:
  * detect(): the registry cascade attributes the INTENDED framework
    (language-filtered content/filename batteries, priority order);
  * extract_inventory(): the full flattened rows (incl. spans where the
    kernel tracks them) match the pinned JSON golden for the file's
    language family in tests/golden/<family>.json.

Regenerate after an intentional kernel change with:
    SPARK_GRAFT_UPDATE_GOLDENS=1 python -m pytest tests/test_golden_frameworks.py
"""

from __future__ import annotations

import json
import os
import pathlib

import pytest

GOLDEN_DIR = pathlib.Path(__file__).parent / "golden"

# path -> (expected framework from detect(), file content)
FRAMEWORK_FILES: dict[str, tuple[str, str]] = {
    # -- JS/TS family (5 frameworks, one kernel) ---------------------------
    "js/jest/sum.test.ts": (
        "jest",
        "jest.mock('./api');\n"
        "describe('sum', () => {\n"
        "  it('adds', () => {});\n"
        "  it.skip('overflows', () => {});\n"
        "  describe('nested', () => {\n"
        "    test.todo('later');\n"
        "  });\n"
        "});\n",
    ),
    "js/vitest/calc.test.ts": (
        "vitest",
        "import { vi, describe, it } from 'vitest';\n"
        "vi.fn();\n"
        "describe('calc', () => {\n"
        "  it('works', () => {});\n"
        "  it.only('focus', () => {});\n"
        "});\n",
    ),
    "js/playwright/nav.spec.ts": (
        "playwright",
        "import { test, expect } from '@playwright/test';\n"
        "test.describe('nav', () => {\n"
        "  test('loads', async ({ page }) => { await page.goto('/'); });\n"
        "  test.fixme('broken', async () => {});\n"
        "});\n",
    ),
    "js/cypress/login.cy.ts": (
        "cypress",
        "describe('login', () => {\n"
        "  it('visits', () => { cy.visit('/login'); });\n"
        "  it.skip('flaky', () => { cy.get('#x'); });\n"
        "});\n",
    ),
    "js/mocha/api.test.js": (
        "mocha",
        "describe('api', function () {\n"
        "  this.timeout(500);\n"
        "  it('responds', function () {});\n"
        "  xit('slow', function () {});\n"
        "});\n",
    ),
    # -- Python family (2) -------------------------------------------------
    "python/pytest/test_mod.py": (
        "pytest",
        "import pytest\n\n"
        "def test_top():\n    pass\n\n"
        "@pytest.mark.skip\ndef test_off():\n    pass\n\n"
        "class TestGroup:\n"
        "    def test_in(self):\n        pass\n"
        "    @pytest.mark.xfail\n    def test_flaky(self):\n        pass\n",
    ),
    "python/unittest/test_legacy.py": (
        "unittest",
        "import unittest\n\n"
        "class TestLegacy(unittest.TestCase):\n"
        "    def test_a(self):\n        pass\n"
        "    @unittest.skip('na')\n    def test_b(self):\n        pass\n"
        "    @unittest.expectedFailure\n    def test_c(self):\n        pass\n",
    ),
    # -- Go / Rust / C++ ---------------------------------------------------
    "go/gotesting/core_test.go": (
        "go-testing",
        'package core\n\nimport "testing"\n\n'
        "func TestCore(t *testing.T) {\n"
        '\tt.Run("sub one", func(t *testing.T) {\n'
        '\t\tt.Run("deep", func(t *testing.T) {})\n'
        "\t})\n"
        "}\n"
        "func BenchmarkCore(b *testing.B) {}\n"
        "func FuzzCore(f *testing.F) {}\n",
    ),
    "rust/cargotest/lib.rs": (
        "cargo-test",
        "#[test]\nfn test_top() {}\n\n"
        "#[cfg(test)]\nmod tests {\n"
        "    #[test]\n    fn test_in() {}\n"
        "    #[test]\n    #[ignore]\n    fn test_off() {}\n"
        "    #[test]\n    #[should_panic]\n    fn test_boom() {}\n"
        "}\n",
    ),
    "cpp/gtest/geo_test.cc": (
        "gtest",
        "#include <gtest/gtest.h>\n\n"
        "TEST(Geo, Near) {}\n"
        "TEST(Geo, DISABLED_Far) {}\n"
        "TEST_F(GeoFixture, Projected) {}\n"
        "TEST_P(GeoParam, Sweep) {}\n",
    ),
    # -- JVM family (testng / junit5 / junit4 / kotest) --------------------
    "java/testng/FlowTest.java": (
        "testng",
        "import org.testng.annotations.Test;\n\n"
        "public class FlowTest {\n"
        "    @Test\n    public void runs() {}\n"
        "    @Test(enabled = false)\n    public void parked() {}\n"
        "}\n",
    ),
    "java/junit5/CalcTest.java": (
        "junit5",
        "import org.junit.jupiter.api.Test;\n"
        "import org.junit.jupiter.api.Disabled;\n\n"
        "class CalcTest {\n"
        "    @Test\n    void adds() {}\n"
        "    @Test\n    @Disabled\n    void slow() {}\n"
        "    @Nested\n    class Inner {\n"
        "        @Test\n        void deep() {}\n"
        "    }\n"
        "}\n",
    ),
    "java/junit4/OldTest.java": (
        "junit4",
        "import org.junit.Test;\nimport org.junit.Ignore;\n\n"
        "public class OldTest {\n"
        "    @Test\n    public void works() {}\n"
        "    @Test\n    @Ignore\n    public void skipped() {}\n"
        "}\n",
    ),
    "kotlin/kotest/PaySpec.kt": (
        "kotest",
        "import io.kotest.core.spec.style.FunSpec\n\n"
        "class PaySpec : FunSpec({\n"
        "    test(\"charges\") {}\n"
        "    xtest(\"refunds\") {}\n"
        "    context(\"edge\") {\n"
        "        test(\"zero\") {}\n"
        "    }\n"
        "})\n",
    ),
    # -- .NET family (3 dialects, one kernel) ------------------------------
    "csharp/nunit/BankTests.cs": (
        "nunit",
        "using NUnit.Framework;\n\n"
        "[TestFixture]\npublic class BankTests {\n"
        "    [Test]\n    public void Deposits() {}\n"
        "    [Test]\n    [Ignore(\"wip\")]\n    public void Transfers() {}\n"
        "}\n",
    ),
    "csharp/xunit/CartTests.cs": (
        "xunit",
        "using Xunit;\n\n"
        "public class CartTests {\n"
        "    [Fact]\n    public void Adds() {}\n"
        "    [Fact(Skip = \"later\")]\n    public void Removes() {}\n"
        "    [Theory]\n    [InlineData(1)]\n    [InlineData(2)]\n"
        "    public void Totals(int n) {}\n"
        "}\n",
    ),
    "csharp/mstest/AuthTests.cs": (
        "mstest",
        "using Microsoft.VisualStudio.TestTools.UnitTesting;\n\n"
        "[TestClass]\npublic class AuthTests {\n"
        "    [TestMethod]\n    public void LogsIn() {}\n"
        "    [TestMethod]\n    [Ignore]\n    public void LogsOut() {}\n"
        "}\n",
    ),
    # -- Ruby family (2) ---------------------------------------------------
    "ruby/rspec/cart_spec.rb": (
        "rspec",
        "RSpec.describe 'Cart' do\n"
        "  it 'adds' do\n  end\n"
        "  xit 'later' do\n  end\n"
        "  context 'empty' do\n"
        "    it 'totals zero' do\n    end\n"
        "  end\nend\n",
    ),
    "ruby/minitest/order_test.rb": (
        "minitest",
        "require 'minitest/autorun'\n\n"
        "class OrderTest < Minitest::Test\n"
        "  def test_places\n  end\n"
        "  def test_cancels\n  end\n"
        "end\n",
    ),
    # -- PHP / Swift -------------------------------------------------------
    "php/phpunit/InvoiceTest.php": (
        "phpunit",
        "<?php\nuse PHPUnit\\Framework\\TestCase;\n\n"
        "class InvoiceTest extends TestCase\n{\n"
        "    public function testIssues(): void {}\n"
        "    /** @test */\n    public function paysLate(): void {}\n"
        "}\n",
    ),
    "swift/swifttesting/LedgerTests.swift": (
        "swift-testing",
        "import Testing\n\n"
        "@Suite(\"Ledger\")\nstruct LedgerTests {\n"
        "    @Test(\"balances\")\n    func balances() { #expect(true) }\n"
        "    @Test(.disabled(\"wip\"))\n    func audits() {}\n"
        "}\n",
    ),
    "swift/xctest/WalletTests.swift": (
        "xctest",
        "import XCTest\n\n"
        "class WalletTests: XCTestCase {\n"
        "    func testFunds() { XCTAssertEqual(1, 1) }\n"
        "    func testEmpty() throws { throw XCTSkip(\"na\") }\n"
        "}\n",
    ),
}


def _family(path: str) -> str:
    return path.split("/", 1)[0]


@pytest.fixture(scope="module")
def inventory_rows(spark):
    """Run the REAL distributed path once: (path, source) frame ->
    inventory Arrow stage; return {path: [row, ...]} sorted canonically."""
    from core_spark.operators.inventory import extract_inventory

    docs = spark.createDataFrame(
        [(p, c) for p, (_fw, c) in FRAMEWORK_FILES.items()],
        "path string, source string",
    )
    rows = extract_inventory(docs).collect()
    by_path: dict[str, list[dict]] = {}
    for r in rows:
        d = r.asDict()
        d["suite_path"] = list(d["suite_path"] or [])
        by_path.setdefault(d.pop("path"), []).append(d)
    for v in by_path.values():
        v.sort(key=lambda d: (d["line"] or 0, d["kind"] or "", d["name"] or ""))
    return by_path


def test_all_22_frameworks_detected(spark):
    """Every registry framework is attributed to its fixture by the real
    cascade (content/filename batteries, language-filtered, priority
    order) — one file per framework, 22 frameworks."""
    from pyspark.sql import functions as F

    from core_spark.operators.detect import default_registry, detect, lang_col

    assert len({fw for fw, _ in FRAMEWORK_FILES.values()}) == 22
    df = spark.createDataFrame(
        [(p, c) for p, (_fw, c) in FRAMEWORK_FILES.items()],
        "url string, text string",
    ).withColumn("lang", lang_col("url"))
    got = {
        r["url"]: r["framework"]
        for r in detect(df, default_registry(), lang_col_name="lang").collect()
    }
    want = {p: fw for p, (fw, _c) in FRAMEWORK_FILES.items()}
    assert got == want, {k: (got.get(k), want[k]) for k in want if got.get(k) != want[k]}


@pytest.mark.parametrize("family", sorted({_family(p) for p in FRAMEWORK_FILES}))
def test_family_golden(inventory_rows, family):
    got = {
        p: rows for p, rows in inventory_rows.items() if _family(p) == family
    }
    # every fixture file of the family must produce inventory rows
    for p in FRAMEWORK_FILES:
        if _family(p) == family:
            assert p in got and got[p], f"no inventory rows for {p}"
    golden_path = GOLDEN_DIR / f"{family}.json"
    if os.environ.get("SPARK_GRAFT_UPDATE_GOLDENS"):
        GOLDEN_DIR.mkdir(exist_ok=True)
        golden_path.write_text(json.dumps(got, indent=1, sort_keys=True) + "\n")
        pytest.skip(f"regenerated {golden_path.name}")
    assert golden_path.exists(), (
        f"missing golden {golden_path}; run with SPARK_GRAFT_UPDATE_GOLDENS=1"
    )
    want = json.loads(golden_path.read_text())
    assert got == want
