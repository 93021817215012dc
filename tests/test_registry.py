"""D6/D7 — the real framework registry over the detection cascade.

One representative snippet per framework runs through detect() with
default_registry(); priority collisions resolve exactly as the reference's
registry ordering does (TestNG Specialized beats JUnit5 Generic on the
shared @Test; Vitest Specialized beats Jest on shared describe/it)."""

from __future__ import annotations

from core_spark.operators.detect import default_registry, detect, sort_registry

LANGS = {
    "jest": "javascript", "vitest": "javascript", "playwright": "typescript",
    "cypress": "javascript", "mocha": "javascript",
    "pytest": "python", "unittest": "python",
    "go-testing": "go", "cargo-test": "rust", "gtest": "cpp",
    "testng": "java", "junit5": "java", "junit4": "java", "kotest": "kotlin",
    "nunit": "csharp", "xunit": "csharp", "mstest": "csharp",
    "rspec": "ruby", "minitest": "ruby", "phpunit": "php",
    "swift-testing": "swift", "xctest": "swift",
}

SNIPPETS = {
    "jest": "const fn = jest.fn(); jest.mock('./m'); test('x', () => {});",
    "vitest": "import { vi } from 'vitest'\nvi.fn(); test('x', () => {});",
    "playwright": "test.describe('a', () => {}); await page.goto('https://x');",
    "cypress": "cy.visit('/'); cy.get('#id').click();",
    "mocha": "describe('s', function() { this.timeout(500); });",
    "pytest": "@pytest.mark.skip\ndef test_x():\n    pass",
    "unittest": "class T(unittest.TestCase):\n    def test(self):\n        self.assertEqual(1, 1)",
    "go-testing": "func TestX(t *testing.T) {\n\tt.Run(\"s\", nil)\n}",
    "cargo-test": "#[cfg(test)]\nmod tests { #[test]\nfn a() {} }",
    "gtest": "#include <gtest/gtest.h>\nTEST(S, N) {}",
    "testng": "import org.testng.annotations.Test;\n@Test(enabled = false)\npublic void a() {}",
    "junit5": "@ParameterizedTest\n@Nested\nclass T {} // org.junit.jupiter",
    "junit4": "import org.junit.Test;\n@RunWith(JUnit4.class)\nclass T {}",
    "kotest": "class T : FunSpec({ test(\"a\") {} })",
    "nunit": "using NUnit.Framework;\n[TestFixture]\npublic class T {}",
    "xunit": "using Xunit;\n[Fact]\npublic void A() {}",
    "mstest": "[TestClass]\npublic class T { [TestMethod]\npublic void A() {} }",
    "rspec": "RSpec.describe 'x' do\nend",
    "minitest": "class T < Minitest::Test\n  def test_a\n  end\nend",
    "phpunit": "class T extends TestCase { public function testA(): void { $this->assertSame(1, 1); } }",
    "swift-testing": "import Testing\n@Suite struct S { @Test func a() { #expect(1 == 1) } }",
    "xctest": "class T: XCTestCase {\n    func testA() { XCTAssertEqual(1, 1) }\n}",
}


def test_registry_covers_all_reference_strategies():
    names = {d.name for d in default_registry()}
    assert len(names) == 22  # every strategy directory in the reference


def test_every_framework_detected(spark):
    rows = [(name, text, LANGS[name]) for name, text in SNIPPETS.items()]
    df = spark.createDataFrame(rows, "expected string, text string, lang string")
    out = detect(
        df.withColumn("url", df.expected), default_registry(),
        path_col="url", text_col="text", lang_col_name="lang",
    ).toPandas()
    got = dict(zip(out.expected, out.framework))
    wrong = {k: v for k, v in got.items() if v != k}
    assert not wrong, f"misdetected: {wrong}"


def test_priority_collisions(spark):
    # TestNG's import beats JUnit's shared @Test content; vitest beats jest
    # when both batteries fire
    rows = [
        ("testng", "import org.testng.annotations.Test;\n@Test\npublic void a() {}", "java"),
        ("vitest", "import { vi } from 'vitest'\nvi.fn(); jest.fn();", "javascript"),
    ]
    df = spark.createDataFrame(rows, "expected string, text string, lang string")
    out = detect(
        df.withColumn("url", df.expected), default_registry(),
        path_col="url", text_col="text", lang_col_name="lang",
    ).toPandas()
    got = dict(zip(out.expected, out.framework))
    assert got == {"testng": "testng", "vitest": "vitest"}


def test_registry_order_deterministic():
    order = [d.name for d in sort_registry(default_registry())]
    assert order[:4] == ["rspec", "swift-testing", "testng", "vitest"]
    assert order == [d.name for d in sort_registry(default_registry())]
