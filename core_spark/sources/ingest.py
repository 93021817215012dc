"""Sources — the corpus table scan and the reference's test-file candidate
predicate (SURVEY.md §2.1).

``read_corpus`` scans the web-pages table that the flagship reads: a parquet
path or an Iceberg table root, told apart by the input itself.
``sql_test_file_candidate`` is the reference's name filter (F1) as one
portable SQL boolean over a path column, so a scan can drop non-candidates
before any Arrow stage runs.
The reference's filesystem discovery walk and config-scope phase
(SURVEY.md §3.1 steps 1-2) have no analog here: the input is a table.
"""

from __future__ import annotations

import os

from .iceberg import read_iceberg

CORPUS_SCHEMA_FIELDS = {
    "url": "string",
    "warc_ts": "timestamp",
    "html": "binary",
    "lang": "string",
}


def _footer_schema(spark, path: str):
    """``spark.read.parquet(path).schema`` with no Spark job: the footer that
    inference reads in a one-task job (the first ``_common_metadata``, else
    ``_metadata``, else data file, in path-string order), read on the driver
    with Spark's reader and converter under the session's settings."""
    from urllib.parse import unquote

    from pyspark.sql.types import StructType, _parse_datatype_json_string

    jvm, jspark = spark._jvm, spark._jsparkSession
    # a user schema skips inference: this load only lists the files
    index = spark.read.schema(StructType()).parquet(path)._jdf.queryExecution().analyzed().relation().location()
    uris = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(index.inputFiles()).mkString("\n")
    names = [unquote(u) for u in uris.split("\n") if u]
    if not names:
        return StructType()  # fails the corpus schema check
    rank = {"_common_metadata": 0, "_metadata": 1}
    i = min(range(len(names)), key=lambda i: (rank.get(names[i].rsplit("/", 1)[-1], 2), names[i]))
    parquet = getattr(getattr(jvm.org.apache.spark.sql.execution.datasources.parquet, "ParquetFileFormat$"), "MODULE$")
    conf = jspark.sessionState().newHadoopConf()
    footers = parquet.readParquetFootersInParallel(conf, index.allFiles().slice(i, i + 1), False)
    return _parse_datatype_json_string(parquet.readSchema(footers, jspark).get().json())


def read_corpus(spark, path: str):
    """Scan the web-pages table at ``path`` and check its ``CORPUS_SCHEMA_FIELDS``.

    A local Iceberg table root (a directory holding ``metadata/``) is read with
    ``read_iceberg``; any other path is parquet, loaded with ``_footer_schema``:
    no Spark job, and no state kept."""
    if os.path.isdir(os.path.join(path, "metadata")):
        df = read_iceberg(spark, path)
    else:
        df = spark.read.schema(_footer_schema(spark, path)).parquet(path)
    have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    missing = [f"{k}:{t}" for k, t in CORPUS_SCHEMA_FIELDS.items() if have.get(k) != t]
    if missing:
        raise ValueError(f"corpus schema mismatch, need {missing}, have {have}")
    return df


# ---------------------------------------------------------------------------
# F1 — test-file candidate predicate (pkg/parser/scanner.go:664-951 +
# shared/{kotlinast:451-482, dotnetast:229-258, swiftast:139-163})
#
# The 11 per-language filename heuristics as ONE portable SQL boolean over
# the path column. This is the scan-level pushdown that prunes ~99% of a
# source corpus BEFORE any Arrow stage runs — at 100 TB the cheapest
# parse is the one that never happens. Only POSITION/LEFT/RIGHT/LOWER/
# LENGTH string ops are used, which behave identically on Spark and
# DuckDB, so the SAME string serves the engine and the oracle.
# ---------------------------------------------------------------------------

def _p_ends(col: str, s: str) -> str:
    return f"(RIGHT({col}, {len(s)}) = '{s}')"


def _p_starts(col: str, s: str) -> str:
    return f"(LEFT({col}, {len(s)}) = '{s}')"


def _p_has(col: str, s: str) -> str:
    return f"(POSITION('{s}' IN {col}) > 0)"


def _p_dir(col: str, d: str) -> str:
    """path contains /d/ or starts with d/ (the reference's two-form dir
    checks)."""
    return f"({_p_has(col, '/' + d + '/')} OR {_p_starts(col, d + '/')})"


def sql_test_file_candidate(path_col: str) -> str:
    """Boolean SQL expr: is ``path_col`` a test-file candidate?

    Byte-faithful port of isTestFileCandidate's per-extension dispatch.
    ``_b`` below is the lowercase basename, ``_p`` the full path (callers
    should pass forward-slash paths, as the corpus does).
    """
    p = f"({path_col})"
    # basename: substring after the last '/', via reverse-position trick is
    # unportable — instead both engines agree on regexp_replace with a
    # greedy prefix strip
    b = f"regexp_replace({p}, '^.*/', '')"
    lb = f"LOWER({b})"

    js = (
        f"({_p_has(lb, '.test.')} OR {_p_has(lb, '.spec.')} OR {_p_has(lb, '.cy.')}"
        f" OR {_p_ends(lb, '.setup.js')} OR {_p_ends(lb, '.setup.ts')}"
        f" OR {_p_ends(lb, '.setup.jsx')} OR {_p_ends(lb, '.setup.tsx')}"
        f" OR {_p_ends(lb, '.teardown.js')} OR {_p_ends(lb, '.teardown.ts')}"
        f" OR {_p_ends(lb, '.teardown.jsx')} OR {_p_ends(lb, '.teardown.tsx')}"
        f" OR (NOT ({_p_dir(p, '__fixtures__')} OR {_p_dir(p, '__mocks__')})"
        f"     AND ({_p_dir(p, '__tests__')} OR {_p_has(p, '/cypress/e2e/')}"
        f"          OR {_p_has(p, '/cypress/component/')})))"
    )
    go = _p_ends(b, "_test.go")
    java = (
        # scanner.go:718-724 checks Contains('/test/','/tests/') only —
        # a top-level 'test/Foo.java' does NOT qualify (no prefix form)
        f"(NOT ({_p_has(p, '/src/main/')} OR {_p_starts(p, 'src/main/')})"
        f" AND ({_p_ends(b, 'Test.java')} OR {_p_ends(b, 'Tests.java')}"
        f"      OR {_p_starts(b, 'Test')}"
        f"      OR {_p_has(p, '/test/')} OR {_p_has(p, '/tests/')}"
        f"      OR {_p_has(p, '/src/test/')}))"
    )
    kotlin = (
        f"({_p_ends(b, 'Test.kt')} OR {_p_ends(b, 'Tests.kt')} OR {_p_ends(b, 'Spec.kt')}"
        f" OR {_p_ends(b, 'Test.kts')} OR {_p_ends(b, 'Tests.kts')} OR {_p_ends(b, 'Spec.kts')}"
        f" OR {_p_starts(b, 'Test')}"
        f" OR {_p_has(p, '/test/')} OR {_p_has(p, '/tests/')} OR {_p_has(p, '/src/test/')})"
    )
    python = (
        f"(CASE WHEN {b} = 'conftest.py' THEN FALSE"
        f" WHEN {_p_starts(b, 'test_')} OR {_p_ends(b, '_test.py')} THEN TRUE"
        f" WHEN {_p_dir(p, 'tests')} THEN TRUE"
        f" ELSE FALSE END)"
    )
    csharp = (
        f"({_p_ends(b, 'Test.cs')} OR {_p_ends(b, 'Tests.cs')} OR {_p_starts(b, 'Test')}"
        f" OR {_p_ends(b, 'Spec.cs')} OR {_p_ends(b, 'Specs.cs')}"
        f" OR {_p_has(p, '/test/')} OR {_p_has(p, '/tests/')}"
        f" OR {_p_has(p, '.Tests/')} OR {_p_has(p, '.Test/')}"
        f" OR {_p_has(p, '.Specs/')} OR {_p_has(p, '.Spec/')}"
        f" OR {_p_starts(p, 'test/')} OR {_p_starts(p, 'tests/')}"
        f" OR {_p_starts(p, 'Tests/')} OR {_p_has(p, '/Tests/')})"
    )
    ruby = (
        f"(CASE WHEN {b} = 'spec_helper.rb' OR {b} = 'rails_helper.rb' THEN FALSE"
        f" WHEN {_p_ends(b, '_spec.rb')} OR {_p_ends(b, '_test.rb')} THEN TRUE"
        f" WHEN {_p_dir(p, 'spec')} THEN NOT ({_p_has(p, '/spec/support/')}"
        f"                                    OR {_p_starts(p, 'spec/support/')})"
        f" WHEN {_p_dir(p, 'test')} THEN TRUE"
        f" ELSE FALSE END)"
    )
    rust = (
        f"({_p_ends(b, '_test.rs')} OR {_p_dir(p, 'tests')} OR {_p_dir(p, 'src')}"
        f" OR {_p_dir(p, 'crates')})"
    )
    # name without extension for C++ *Test rule (case-sensitive T, len > 4)
    cpp_name = f"regexp_replace({b}, '\\.[^.]*$', '')"
    cpp = (
        f"({_p_ends(f'LOWER({cpp_name})', '_test')}"
        f" OR {_p_ends(f'LOWER({cpp_name})', '_unittest')}"
        f" OR ({_p_ends(cpp_name, 'Test')} AND LENGTH({cpp_name}) > 4)"
        f" OR {_p_dir(p, 'test')} OR {_p_dir(p, 'tests')})"
    )
    php = (
        f"({_p_ends(b, 'Test.php')} OR {_p_ends(b, 'Tests.php')} OR {_p_starts(b, 'Test')}"
        f" OR {_p_dir(p, 'test')} OR {_p_dir(p, 'tests')})"
    )
    swift = (
        f"({_p_ends(b, 'Test.swift')} OR {_p_ends(b, 'Tests.swift')}"
        f" OR {_p_has(p, '/Tests/')} OR {_p_has(p, '/XCTests/')} OR {_p_has(p, 'Tests/')})"
    )

    # extension dispatch via suffix checks (portable — regexp_replace
    # backreference syntax differs between engines). CASE order is
    # load-bearing: '.kts' must dispatch before the '.ts' suffix would.
    def _ext_in(*exts):
        return "(" + " OR ".join(_p_ends(lb, e) for e in exts) + ")"

    cases = " ".join([
        f"WHEN {_ext_in('.kt', '.kts')} THEN {kotlin}",
        f"WHEN {_ext_in('.ts', '.tsx', '.js', '.jsx', '.mjs', '.cjs')} THEN {js}",
        f"WHEN {_p_ends(lb, '.go')} THEN {go}",
        f"WHEN {_p_ends(lb, '.java')} THEN {java}",
        f"WHEN {_p_ends(lb, '.py')} THEN {python}",
        f"WHEN {_p_ends(lb, '.cs')} THEN {csharp}",
        f"WHEN {_p_ends(lb, '.rb')} THEN {ruby}",
        f"WHEN {_p_ends(lb, '.rs')} THEN {rust}",
        f"WHEN {_ext_in('.cc', '.cpp', '.cxx')} THEN {cpp}",
        f"WHEN {_p_ends(lb, '.php')} THEN {php}",
        f"WHEN {_p_ends(lb, '.swift')} THEN {swift}",
    ])
    return f"(CASE {cases} ELSE FALSE END)"

