"""D1, D4, D6-D8 — the detection cascade: priority-ordered, early-return
framework routing as pure Column expressions.

Reference semantics reproduced (SURVEY.md §2.3):

  D1  language detect        extension -> lang (when-chain)
  D4  strong-filename        confidence-100 filename patterns
  D6  content matcher        regex battery, confidence 40
  D7  priority registry      Definitions sorted by (priority DESC, name ASC)
                             (framework/registry.go:50-71); the sort fixes
                             the when()-chain order at plan-build time, so
                             determinism is compile-time — free on Spark
  D8  negative match         veto predicate evaluated before positive arms

The early-return order is strong-filename > content (detection/detector.go:
14-21, ADR core/04); each source gets a ``detect_source`` label and
confidence. The reference's import tier (D2/D3) and config-scope tier (D5)
need an import list and a config-file discovery walk; the input here is a
table of (path, text), so neither tier has an analog.

Everything is whole-stage-codegen'd Column logic — at 10^12 rows the cascade
costs one projection, no UDF, no shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass

# ---------------------------------------------------------------------------
# Registry (D7)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Definition:
    """A detectable 'framework' (strategy registry entry).

    Mirrors framework/definition.go: name, priority tier (Specialized=200 >
    E2E=150 > Generic=100), per-signal matchers. Patterns are Java/RE2-safe
    regexes (shared subset).
    """

    name: str
    priority: int = 100
    languages: tuple[str, ...] = ()          # empty = any
    filename_patterns: tuple[str, ...] = ()  # strong, confidence 100
    content_patterns: tuple[str, ...] = ()   # confidence 40
    negative_patterns: tuple[str, ...] = ()  # veto (D8)


PRIORITY_SPECIALIZED = 200
PRIORITY_E2E = 150
PRIORITY_GENERIC = 100


def sort_registry(defs: list[Definition]) -> list[Definition]:
    """Priority DESC then name ASC — registry.go:50-71 determinism rule."""
    return sorted(defs, key=lambda d: (-d.priority, d.name))


# ---------------------------------------------------------------------------
# D1: language detect (extension chain)
# ---------------------------------------------------------------------------

EXT_LANG = {
    ".go": "go", ".py": "python", ".js": "javascript", ".jsx": "javascript",
    ".ts": "typescript", ".tsx": "typescript", ".java": "java", ".kt": "kotlin",
    ".rb": "ruby", ".rs": "rust", ".cs": "csharp", ".php": "php",
    ".swift": "swift", ".cpp": "cpp", ".cc": "cpp", ".html": "html",
}


def lang_col(path_col: str):
    """Extension -> language when-chain (detector.go:256-287)."""
    from pyspark.sql import functions as F

    expr = F.lit(None).cast("string")
    # build in reverse so the first extension listed wins
    for ext, lang in reversed(list(EXT_LANG.items())):
        expr = F.when(F.lower(F.col(path_col)).endswith(ext), F.lit(lang)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# Cascade assembly (D4, D6, D8 in priority order)
# ---------------------------------------------------------------------------

def _content_cond(F, text_col: str, d: Definition):
    cond = None
    for p in d.content_patterns:
        c = F.col(text_col).rlike(p)
        cond = c if cond is None else (cond | c)
    return cond


def _veto_cond(F, text_col: str, path_col: str, d: Definition):
    cond = None
    for p in d.negative_patterns:
        c = F.col(text_col).rlike(p) | F.col(path_col).rlike(p)
        cond = c if cond is None else (cond | c)
    return cond


def detect(df, registry: list[Definition], lang_col_name: str,
           path_col: str = "url", text_col: str = "text"):
    """Append (framework, detect_source, confidence) via the full cascade.

    Early-return is encoded by ONE when-chain whose arm order is: every
    strong-filename arm (priority order), then every content arm — first
    true arm wins, as in detector.go:42-78. Negative patterns guard their definition's arms (D8).
    Definitions with a language list only compete for rows whose
    ``lang_col_name`` is in it (registry.go FindByLanguage — minitest's
    `def test_*` must never beat pytest's on a Python file).
    """
    from pyspark.sql import functions as F

    defs = sort_registry(registry)
    arms: list[tuple] = []  # (cond, name, source, confidence)

    def lang_guard(d, cond):
        if d.languages:
            return cond & F.col(lang_col_name).isin(*d.languages)
        return cond

    for d in defs:
        veto = _veto_cond(F, text_col, path_col, d)
        for p in d.filename_patterns:
            cond = F.col(path_col).rlike(p)
            if veto is not None:
                cond = cond & ~veto
            arms.append((lang_guard(d, cond), d.name, "strong-filename", 100))
    for d in defs:
        veto = _veto_cond(F, text_col, path_col, d)
        cond = _content_cond(F, text_col, d)
        if cond is None:
            continue
        if veto is not None:
            cond = cond & ~veto
        arms.append((lang_guard(d, cond), d.name, "content-pattern", 40))

    fw = F.lit(None).cast("string")
    src = F.lit("unknown")
    conf = F.lit(0)
    for cond, name, source, confidence in reversed(arms):
        fw = F.when(cond, F.lit(name)).otherwise(fw)
        src = F.when(cond, F.lit(source)).otherwise(src)
        conf = F.when(cond, F.lit(confidence)).otherwise(conf)

    return (
        df.withColumn("framework", fw)
        .withColumn("detect_source", src)
        .withColumn("confidence", conf)
    )


# ---------------------------------------------------------------------------
# The real framework registry (D6/D7): all 23 strategies with the
# reference's actual filename/content patterns (each strategy's
# NewDefinition + content matcher battery; representative subset per
# framework, Java-regex-safe). Priorities mirror framework/constants.go:
# Specialized=200 (vitest, rspec, swift-testing, testng) > E2E=150
# (cypress, playwright) > Generic=100.
# ---------------------------------------------------------------------------

def default_registry() -> list[Definition]:
    return [
        # -- JS/TS ----------------------------------------------------------
        Definition(
            name="vitest", priority=PRIORITY_SPECIALIZED,
            languages=("javascript", "typescript"),
            content_patterns=(r"\bvi\.fn\s*\(", r"\bvi\.mock\s*\(",
                              r"import\s*\{[^}]*\}\s*from\s*['\"]vitest['\"]"),
        ),
        Definition(
            name="jest", priority=PRIORITY_GENERIC,
            languages=("javascript", "typescript"),
            content_patterns=(r"\bjest\.fn\s*\(", r"\bjest\.mock\s*\(",
                              r"\bjest\.spyOn\s*\(", r"\bjest\.clearAllMocks\s*\("),
        ),
        Definition(
            name="playwright", priority=PRIORITY_E2E,
            languages=("javascript", "typescript"),
            content_patterns=(r"\btest\.describe\s*\(", r"\bpage\.goto\s*\(",
                              r"\bexpect\s*\(\s*page\s*[\).]"),
        ),
        Definition(
            name="cypress", priority=PRIORITY_E2E,
            languages=("javascript", "typescript"),
            filename_patterns=(r"\.cy\.(js|ts|jsx|tsx)$",),
            content_patterns=(r"\bcy\.visit\s*\(", r"\bcy\.get\s*\(",
                              r"\bcy\.intercept\s*\("),
        ),
        Definition(
            name="mocha", priority=PRIORITY_GENERIC,
            languages=("javascript", "typescript"),
            content_patterns=(r"\bthis\.timeout\s*\(", r"\bthis\.retries\s*\(",
                              r"\bmocha\.setup\s*\("),
        ),
        # -- Python ---------------------------------------------------------
        Definition(
            name="pytest", priority=PRIORITY_GENERIC, languages=("python",),
            # NOTE: the reference's PytestFileMatcher (test_*.py, partial
            # confidence 20) is deliberately NOT a filename_pattern here —
            # detector.go:133-137 only consults DefiniteMatch (100)
            # patterns in the strong-filename phase, so a test_*.py name
            # must never outrank another framework's content match
            # (e.g. unittest.TestCase in test_legacy.py).
            content_patterns=(r"@pytest\.mark\.\w+", r"@pytest\.fixture",
                              r"pytest\.raises\s*\(", r"pytest\.param\s*\("),
        ),
        Definition(
            name="unittest", priority=PRIORITY_GENERIC, languages=("python",),
            content_patterns=(r"unittest\.TestCase", r"self\.assertEqual\s*\(",
                              r"@unittest\.skip"),
        ),
        # -- Go / Rust / C++ ------------------------------------------------
        Definition(
            name="go-testing", priority=PRIORITY_GENERIC, languages=("go",),
            filename_patterns=(r"_test\.go$",),
            content_patterns=(r"func\s+Test[A-Z_]\w*\s*\(t\s+\*testing\.T\)",
                              r"\bt\.Run\s*\("),
        ),
        Definition(
            name="cargo-test", priority=PRIORITY_GENERIC, languages=("rust",),
            content_patterns=(r"#\[test\]", r"#\[cfg\(test\)\]",
                              r"#\[should_panic", r"\w*test\w*!\s*\("),
        ),
        Definition(
            name="gtest", priority=PRIORITY_GENERIC, languages=("cpp",),
            content_patterns=(r"#include\s*<gtest/gtest\.h>", r"\bTEST\s*\(",
                              r"\bTEST_F\s*\(", r"\bTEST_P\s*\(",
                              r"::testing::Test"),
        ),
        # -- JVM ------------------------------------------------------------
        Definition(
            name="testng", priority=PRIORITY_SPECIALIZED, languages=("java",),
            content_patterns=(r"import\s+org\.testng", r"@Test\s*\([^)]*enabled\s*=",
                              r"@DataProvider"),
        ),
        Definition(
            name="junit5", priority=PRIORITY_GENERIC, languages=("java", "kotlin"),
            content_patterns=(r"@ParameterizedTest", r"@RepeatedTest",
                              r"@TestFactory", r"@Nested",
                              r"org\.junit\.jupiter"),
        ),
        Definition(
            name="junit4", priority=PRIORITY_GENERIC, languages=("java",),
            content_patterns=(r"import\s+org\.junit\.Test\s*;", r"@BeforeClass",
                              r"@RunWith"),
        ),
        Definition(
            name="kotest", priority=PRIORITY_GENERIC, languages=("kotlin",),
            content_patterns=(r":\s*FunSpec\s*\(", r":\s*StringSpec\s*\(",
                              r":\s*BehaviorSpec\s*\(", r":\s*DescribeSpec\s*\(",
                              r":\s*WordSpec\s*\(", r":\s*FreeSpec\s*\("),
        ),
        # -- .NET -----------------------------------------------------------
        Definition(
            name="nunit", priority=PRIORITY_GENERIC, languages=("csharp",),
            content_patterns=(r"\[TestFixture\]", r"\[TestCase\(",
                              r"using\s+NUnit\.Framework\s*;"),
        ),
        Definition(
            name="xunit", priority=PRIORITY_GENERIC, languages=("csharp",),
            content_patterns=(r"\[Fact\]", r"\[Theory\]", r"\[InlineData\(",
                              r"using\s+Xunit\s*;"),
        ),
        Definition(
            name="mstest", priority=PRIORITY_GENERIC, languages=("csharp",),
            content_patterns=(r"\[TestMethod\]", r"\[TestClass\]",
                              r"\[DataTestMethod\]",
                              r"using\s+Microsoft\.VisualStudio\.TestTools\.UnitTesting\s*;"),
        ),
        # -- Ruby -----------------------------------------------------------
        Definition(
            name="rspec", priority=PRIORITY_SPECIALIZED, languages=("ruby",),
            filename_patterns=(r"_spec\.rb$",),
            content_patterns=(r"RSpec\.describe\b", r"RSpec\.configure\b",
                              r"\bshared_examples\b"),
        ),
        Definition(
            name="minitest", priority=PRIORITY_GENERIC, languages=("ruby",),
            content_patterns=(r"Minitest::Test", r"\bdef\s+test_\w+",
                              r"\bmust_equal\b"),
        ),
        # -- PHP / Swift ----------------------------------------------------
        Definition(
            name="phpunit", priority=PRIORITY_GENERIC, languages=("php",),
            content_patterns=(r"extends\s+TestCase", r"#\[Test\]",
                              r"\$this->assert\w+\("),
        ),
        Definition(
            name="swift-testing", priority=PRIORITY_SPECIALIZED, languages=("swift",),
            content_patterns=(r"#expect\(", r"#require\(", r"import\s+Testing",
                              r"@Suite\b"),
        ),
        Definition(
            name="xctest", priority=PRIORITY_GENERIC, languages=("swift",),
            content_patterns=(r"class\s+\w+\s*:\s*XCTestCase",
                              r"\bfunc\s+test[A-Z]\w*\s*\(", r"\bXCTAssert",
                              r"\bXCTSkip\b"),
        ),
    ]
