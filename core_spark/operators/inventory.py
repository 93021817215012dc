"""Test-inventory extraction operator — the §2.4 per-document compute
kernel family run as ONE Arrow stage (reference: the strategy registry of
pkg/parser/framework/registry.go mapped to a Python dict of pure kernels,
SURVEY.md §2.10 'pluggable strategy registry').

Kernels are pure functions (core_spark/functions/jstest.py, pytest_ext.py)
callable without Spark — the reference's §3.3 'direct strategy parse' seam,
golden-tested in tests/test_jstest.py / test_pytest_ext.py against fixtures
ported from the reference's own table-driven tests.

Dispatch is by file extension, mirroring the reference's extension dispatch
(pkg/parser/scanner.go:664-693); .py files split pytest/unittest on the
``unittest.TestCase`` content signal (the reference resolves this via the
detection cascade's import matcher — D2/D3 — which our detect.py models;
here the two-way split is inlined for the single-stage path).

Error-as-data: a kernel exception becomes one row with ``err`` set and the
other columns null — the stage never fails (mandatory at 10^12 rows,
SURVEY §4 last row).
"""

from __future__ import annotations

# Location columns mirror the reference's domain.Location (location.go:4-15):
# line/end_line 1-based, start_col/end_col 0-based with end exclusive.
# Kernels that don't track spans yet emit NULLs (JS/Go/Python populate all
# four; the oracled driver queries don't select them, so adding columns
# can't break value hashes).
INVENTORY_SCHEMA = (
    "path string, kind string, suite_path array<string>, name string, "
    "status string, modifier string, line int, end_line int, "
    "start_col int, end_col int, err string"
)


def _dispatch(path: str, source: str) -> list[dict]:
    from core_spark.functions import (
        dotnettest,
        gotest,
        gtest,
        javatest,
        jstest,
        kotlintest,
        phptest,
        pytest_ext,
        rubytest,
        rusttest,
        swifttest,
    )

    low = path.lower()
    if low.endswith(".java"):
        return javatest.parse_java_tests(source, filename=path)
    if low.endswith(".rb"):
        return rubytest.parse_ruby_tests(source)
    if low.endswith(".cs"):
        return dotnettest.parse_csharp_tests(source)
    if low.endswith(".swift"):
        return swifttest.parse_swift_tests(source)
    if low.endswith(".php"):
        return phptest.parse_phpunit_tests(source)
    if low.endswith((".kt", ".kts")):
        return kotlintest.parse_kotlin_tests(source)
    if low.endswith((".js", ".jsx", ".ts", ".tsx", ".mjs", ".cjs")):
        return jstest.parse_js_tests(source, filename=path)
    if low.endswith(".py"):
        if "unittest.TestCase" in source or "import unittest" in source:
            return pytest_ext.parse_unittest_tests(source)
        return pytest_ext.parse_pytest_tests(source)
    if low.endswith("_test.go"):
        return gotest.parse_go_tests(source)
    if low.endswith(".rs"):
        return rusttest.parse_rust_tests(source)
    if low.endswith((".cc", ".cpp", ".cxx", ".h", ".hpp")):
        return gtest.parse_gtest(source)
    return []


def extract_inventory(df, source_col: str = "source", path_col: str = "path"):
    """(path, source) rows -> flattened inventory rows (one per suite/test).

    One mapInPandas stage; per-file kernels run inside the Arrow batch.
    Files yielding no entities produce no rows; kernel errors produce one
    err row per file.
    """
    import pandas as pd

    def run(batches):
        for pdf in batches:
            out = {
                "path": [], "kind": [], "suite_path": [], "name": [],
                "status": [], "modifier": [], "line": [], "end_line": [],
                "start_col": [], "end_col": [], "err": [],
            }
            loc_keys = ("line", "end_line", "start_col", "end_col")
            paths = pdf[path_col].to_numpy()
            sources = pdf[source_col].to_numpy()
            for j in range(len(pdf)):
                path = str(paths[j])
                try:
                    rows = _dispatch(path, str(sources[j]))
                except Exception as e:  # error-as-data, never fail the stage
                    out["path"].append(path)
                    for k in ("kind", "suite_path", "name", "status",
                              "modifier", *loc_keys):
                        out[k].append(None)
                    out["err"].append(f"{type(e).__name__}: {e}"[:500])
                    continue
                for r in rows:
                    out["path"].append(path)
                    out["kind"].append(r["kind"])
                    out["suite_path"].append(r["suite_path"])
                    out["name"].append(r["name"])
                    out["status"].append(r["status"])
                    out["modifier"].append(r["modifier"])
                    for k in loc_keys:
                        out[k].append(r.get(k))
                    out["err"].append(None)
            # suite_path must be an object Series: letting pandas infer the
            # dtype of a list-of-lists column trips Arrow's NumPyConverter
            yield pd.DataFrame(
                {
                    k: pd.Series(v, dtype=object) if k == "suite_path" else v
                    for k, v in out.items()
                }
            )

    return df.select(path_col, source_col).mapInPandas(run, INVENTORY_SCHEMA)


HINTS_SCHEMA = "path string, imports array<string>, calls array<string>"


def extract_hints_stage(df, source_col: str = "source", path_col: str = "path"):
    """P19 — domain-hints extraction as one Arrow stage: (path, source) ->
    (path, imports, calls); files with no hints produce no row (the
    reference returns nil hints, domain_hints/extractor.go)."""
    import pandas as pd

    from core_spark.functions.domain_hints import extract_hints

    def run(batches):
        for pdf in batches:
            paths, imps, calls = [], [], []
            ps = pdf[path_col].to_numpy()
            srcs = pdf[source_col].to_numpy()
            for j in range(len(pdf)):
                try:
                    h = extract_hints(str(ps[j]), str(srcs[j]))
                except Exception:
                    h = None  # error-as-data: drop, never fail the stage
                if h is None:
                    continue
                paths.append(str(ps[j]))
                imps.append(h["imports"])
                calls.append(h["calls"])
            yield pd.DataFrame(
                {
                    "path": paths,
                    "imports": pd.Series(imps, dtype=object),
                    "calls": pd.Series(calls, dtype=object),
                }
            )

    return df.select(path_col, source_col).mapInPandas(run, HINTS_SCHEMA)

