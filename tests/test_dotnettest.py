"""P12 goldens — semantics from the reference's nunit/xunit/mstest
strategies (pkg/parser/strategies/{nunit,xunit,mstest}/definition.go)."""

from __future__ import annotations

from core_spark.functions.dotnettest import detect_dialect, parse_csharp_tests


def suites(rows, path=()):
    return [r for r in rows if r["kind"] == "suite" and r["suite_path"] == list(path)]


def _tests(rows, path):
    return [r for r in rows if r["kind"] == "test" and r["suite_path"] == list(path)]


# -- NUnit -------------------------------------------------------------------

def test_nunit_basic():
    rows = parse_csharp_tests(
        "using NUnit.Framework;\n\n"
        "public class CalculatorTests {\n"
        "    [Test]\n    public void Adds() { Assert.AreEqual(2, 1+1); }\n"
        "    [Test]\n    public void Subtracts() {}\n"
        "    public void Helper() {}\n}\n",
    )
    assert [s["name"] for s in suites(rows)] == ["CalculatorTests"]
    assert [t["name"] for t in _tests(rows, ["CalculatorTests"])] == [
        "Adds", "Subtracts",
    ]


def test_nunit_testcase_counted_individually():
    rows = parse_csharp_tests(
        "public class T {\n"
        "    [TestCase(1, 2)]\n    [TestCase(3, 4)]\n"
        "    public void Sum(int a, int b) {}\n}\n",
    )
    # one test PER [TestCase] attribute (CHANGELOG 'dotnet' rule)
    assert [t["name"] for t in _tests(rows, ["T"])] == ["Sum", "Sum"]


def test_nunit_testcase_testname_rename():
    rows = parse_csharp_tests(
        "public class T {\n"
        "    [TestCase(1, TestName = \"custom case\")]\n"
        "    public void Sum(int a) {}\n}\n",
    )
    assert [t["name"] for t in _tests(rows, ["T"])] == ["custom case"]


def test_nunit_description_and_ignore():
    rows = parse_csharp_tests(
        "public class T {\n"
        "    [Test(Description = \"pretty\")]\n    public void Ugly() {}\n"
        "    [Test]\n    [Ignore(\"slow\")]\n    public void Skipped() {}\n"
        "    [TestCaseSource(nameof(Cases))]\n    public void FromSource() {}\n}\n",
    )
    got = _tests(rows, ["T"])
    assert [(t["name"], t["status"], t["modifier"]) for t in got] == [
        ("pretty", "active", ""),
        ("Skipped", "skipped", "[Ignore]"),
        ("FromSource", "active", ""),
    ]


def test_nunit_class_ignore_inherited():
    rows = parse_csharp_tests(
        "[Ignore(\"all\")]\npublic class T {\n"
        "    [Test]\n    public void A() {}\n}\n",
    )
    assert suites(rows)[0]["status"] == "skipped"
    assert _tests(rows, ["T"])[0]["status"] == "skipped"


def test_nunit_nested_classes():
    rows = parse_csharp_tests(
        "public class Outer {\n"
        "    [Test]\n    public void A() {}\n"
        "    public class Inner {\n        [Test]\n        public void B() {}\n    }\n}\n",
    )
    assert [t["name"] for t in _tests(rows, ["Outer"])] == ["A"]
    assert [s["name"] for s in suites(rows, ["Outer"])] == ["Inner"]
    assert [t["name"] for t in _tests(rows, ["Outer", "Inner"])] == ["B"]


def test_empty_class_dropped():
    assert parse_csharp_tests("public class Helper { public void X() {} }\n") == []


# -- xUnit -------------------------------------------------------------------

def test_xunit_fact_theory():
    rows = parse_csharp_tests(
        "using Xunit;\n\npublic class T {\n"
        "    [Fact]\n    public void Works() {}\n"
        "    [Theory]\n    [InlineData(1)]\n    [InlineData(2)]\n"
        "    public void Param(int x) {}\n}\n",
    )
    # Fact single + one per InlineData
    assert [t["name"] for t in _tests(rows, ["T"])] == ["Works", "Param", "Param"]


def test_xunit_skip_and_displayname():
    rows = parse_csharp_tests(
        "public class T {\n"
        "    [Fact(Skip = \"broken\", DisplayName = \"nice\")]\n"
        "    public void A() {}\n"
        "    [Theory(Skip = \"later\")]\n    [InlineData(1)]\n"
        "    public void B(int x) {}\n}\n",
    )
    got = _tests(rows, ["T"])
    assert [(t["name"], t["status"], t["modifier"]) for t in got] == [
        ("nice", "skipped", "Skip"),
        ("B", "skipped", "Skip"),
    ]


def test_xunit_custom_fact_suffix():
    rows = parse_csharp_tests(
        "using Xunit;\n\npublic class T {\n"
        "    [UIFact]\n    public void Custom() {}\n"
        "    [UITheory]\n    public void CustomTheory() {}\n}\n",
    )
    assert [t["name"] for t in _tests(rows, ["T"])] == ["Custom", "CustomTheory"]


def test_xunit_theory_memberdata_single():
    rows = parse_csharp_tests(
        "public class T {\n"
        "    [Theory]\n    [MemberData(nameof(Data))]\n"
        "    public void FromMember(int x) {}\n}\n",
    )
    assert [t["name"] for t in _tests(rows, ["T"])] == ["FromMember"]


# -- MSTest ------------------------------------------------------------------

def test_mstest_basic():
    rows = parse_csharp_tests(
        "using Microsoft.VisualStudio.TestTools.UnitTesting;\n\n"
        "[TestClass]\npublic class T {\n"
        "    [TestMethod]\n    public void A() {}\n"
        "    [DataTestMethod]\n    [DataRow(1)]\n    public void B(int x) {}\n"
        "    [TestMethod(DisplayName = \"shown\")]\n    public void C() {}\n"
        "    [TestMethod]\n    [Ignore]\n    public void D() {}\n}\n",
    )
    got = _tests(rows, ["T"])
    assert [(t["name"], t["status"]) for t in got] == [
        ("A", "active"), ("B", "active"), ("shown", "active"), ("D", "skipped"),
    ]
    assert got[3]["modifier"] == "[Ignore]"


# -- dialect detection -------------------------------------------------------

def test_detect_dialect():
    assert detect_dialect("using Xunit;\n[Fact] ...") == "xunit"
    assert detect_dialect("using Microsoft.VisualStudio.TestTools.UnitTesting;") == "mstest"
    assert detect_dialect("using NUnit.Framework;\n[Test]") == "nunit"


def test_expression_bodied_members_skipped_over():
    rows = parse_csharp_tests(
        "public class T {\n"
        "    public int X => 3;\n"
        "    private int Helper() => 4;\n"
        "    [Test]\n    public void Real() {}\n}\n",
    )
    assert [t["name"] for t in _tests(rows, ["T"])] == ["Real"]


# -- preprocessor-directive tolerance (ADR core/15; xunit fixtures) ----------

def test_preprocessor_wrapping_nested_class():
    rows = parse_csharp_tests(
        "using Xunit;\n\npublic class Specs\n{\n"
        "#if NET6_0_OR_GREATER\n"
        "    public class NonGeneric\n    {\n"
        "        [Fact]\n        public void Test1() { }\n\n"
        "        [Fact]\n        public void Test2() { }\n    }\n"
        "#endif\n\n"
        "    public class Generic\n    {\n"
        "        [Fact]\n        public void Test3() { }\n    }\n}\n",
    )
    assert [s["name"] for s in suites(rows)] == ["Specs"]
    assert [s["name"] for s in suites(rows, ["Specs"])] == ["NonGeneric", "Generic"]
    assert len(_tests(rows, ["Specs", "NonGeneric"])) == 2
    assert len(_tests(rows, ["Specs", "Generic"])) == 1


def test_preprocessor_wrapping_methods():
    rows = parse_csharp_tests(
        "using Xunit;\n\npublic class Specs\n{\n"
        "    [Fact]\n    public void CommonTest1() { }\n\n"
        "#if NET6_0_OR_GREATER\n"
        "    [Fact]\n    public void Net6Test1() { }\n\n"
        "    [Fact]\n    public void Net6Test2() { }\n"
        "#endif\n\n"
        "    [Fact]\n    public void CommonTest2() { }\n}\n",
    )
    assert [t["name"] for t in _tests(rows, ["Specs"])] == [
        "CommonTest1", "Net6Test1", "Net6Test2", "CommonTest2",
    ]


def test_preprocessor_if_else_both_counted():
    rows = parse_csharp_tests(
        "using Xunit;\n\npublic class ConditionalTests\n{\n"
        "#if NETFRAMEWORK\n"
        "    [Fact]\n    public void FrameworkOnlyTest() { }\n"
        "#else\n"
        "    [Fact]\n    public void CoreOnlyTest() { }\n"
        "#endif\n}\n",
    )
    assert [t["name"] for t in _tests(rows, ["ConditionalTests"])] == [
        "FrameworkOnlyTest", "CoreOnlyTest",
    ]
