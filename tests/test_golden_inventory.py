"""Golden-snapshot integration test — the reference's layer-2 strategy
(tests/integration/snapshot.go: scan a real repo tree, compare aggregate
counts field-by-field against a pinned golden).

Here the 'repo' is a deterministic multi-language set of fixture files in
a (path, source) frame, run through the REAL distributed path (inventory
Arrow stage -> counts) and compared against literal expected counts per
file.
"""

from __future__ import annotations

FIXTURE_FILES = {
    "src/app.test.ts": (
        "describe('App', () => {\n"
        "  it('boots', () => {});\n"
        "  it.skip('slow path', () => {});\n"
        "});\n"
        "test.each([[1],[2]])('case %d', () => {});\n"
    ),
    "py/test_core.py": (
        "import pytest\n\n"
        "def test_alpha():\n    pass\n\n"
        "@pytest.mark.xfail\ndef test_beta():\n    pass\n\n"
        "class TestGroup:\n    def test_inner(self):\n        pass\n"
    ),
    "go/core_test.go": (
        'package core\nimport "testing"\n'
        "func TestMain2(t *testing.T) {\n"
        '\tt.Run("sub", func(t *testing.T) {})\n}\n'
        "func BenchmarkIt(b *testing.B) {}\n"
    ),
    "rust/lib.rs": (
        "#[test]\nfn test_one() {}\n\n"
        "mod tests {\n    #[test]\n    #[ignore]\n    fn test_two() {}\n}\n"
    ),
    "cpp/geo.cc": "TEST(Geo, Near) {}\nTEST(Geo, DISABLED_Far) {}\n",
    "java/CalcTest.java": (
        "class CalcTest {\n    @Test\n    void adds() {}\n"
        "    @Test\n    @Disabled\n    void slow() {}\n}\n"
    ),
    "ruby/spec.rb": (
        "RSpec.describe 'Top' do\n  it 'works' do\n  end\n"
        "  xit 'later' do\n  end\nend\n"
    ),
    "cs/Suite.cs": (
        "using Xunit;\npublic class Suite {\n"
        "    [Fact]\n    public void A() {}\n"
        "    [Theory]\n    [InlineData(1)]\n    [InlineData(2)]\n"
        "    public void B(int x) {}\n}\n"
    ),
    "swift/CaseTests.swift": (
        "class CaseTests: XCTestCase {\n    func testA() {}\n"
        "    func testSkip() throws { throw XCTSkip(\"na\") }\n}\n"
    ),
    "php/WebTest.php": (
        "<?php\nclass WebTest extends TestCase {\n"
        "    public function testAdd(): void {}\n"
        "    /** @test */\n    public function named(): void {}\n}\n"
    ),
    "kotlin/Spec.kt": (
        "class Spec : FunSpec({\n    test(\"a\") {}\n    xtest(\"b\") {}\n})\n"
    ),
    "docs/readme.md": "# not a test file\n",
}

# the pinned golden: path -> (n_suites, n_tests, n_skipped_or_xfail)
GOLDEN = {
    "src/app.test.ts": (1, 3, 1),     # App suite; boots, slow path, each-dynamic
    "py/test_core.py": (1, 3, 1),     # TestGroup; alpha, beta(xfail), inner
    "go/core_test.go": (1, 2, 0),     # TestMain2 suite; sub, BenchmarkIt
    "rust/lib.rs": (1, 2, 1),         # tests mod; test_one, test_two(ignored)
    "cpp/geo.cc": (1, 2, 1),          # Geo; Near, DISABLED_Far
    "java/CalcTest.java": (1, 2, 1),  # CalcTest; adds, slow(@Disabled)
    "ruby/spec.rb": (1, 2, 1),        # Top; works, later(xit)
    "cs/Suite.cs": (1, 3, 0),         # Suite; A, B, B
    "swift/CaseTests.swift": (1, 2, 1),
    "php/WebTest.php": (1, 2, 0),
    "kotlin/Spec.kt": (1, 2, 1),
}


def test_golden_inventory_over_file_tree(spark):
    from pyspark.sql import functions as F

    from core_spark.operators.inventory import extract_inventory

    docs = spark.createDataFrame(
        list(FIXTURE_FILES.items()), "path string, source string"
    )
    inv = extract_inventory(docs)
    agg = (
        inv.filter("err IS NULL")
        .groupBy("path")
        .agg(
            F.sum((F.col("kind") == "suite").cast("int")).alias("n_suites"),
            F.sum((F.col("kind") == "test").cast("int")).alias("n_tests"),
            F.sum(F.col("status").isin("skipped", "xfail").cast("int")).alias("n_skip"),
        )
        .toPandas()
        .set_index("path")
    )
    got = {
        p: (int(r.n_suites), int(r.n_tests), int(r.n_skip))
        for p, r in agg.iterrows()
    }
    assert got == GOLDEN, f"diff: {set(got.items()) ^ set(GOLDEN.items())}"
