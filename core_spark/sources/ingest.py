"""Sources — the corpus table scan and the reference's test-file candidate
predicate (SURVEY.md §2.1).

``read_corpus`` scans the web-pages table (parquet or Iceberg) that every
registry query and the flagship read. ``sql_test_file_candidate`` is the
reference's name filter (F1) as one portable SQL boolean over a path
column, so a scan can drop non-candidates before any Arrow stage runs.
The reference's filesystem discovery walk and config-scope phase
(SURVEY.md §3.1 steps 1-2) have no analog here: the input is a table.
"""

from __future__ import annotations

CORPUS_SCHEMA_FIELDS = {
    "url": "string",
    "warc_ts": "timestamp",
    "html": "binary",
    "lang": "string",
}


# (fmt, path) -> (validated schema, digest of the file listing it came from).
# The memo pays off only where one process reads an unchanged path again:
# every fused_scan benchmark pass after the first does, and so would a
# long-lived session that re-queries one corpus. A job that reads its corpus
# once gains nothing from it; no registry query, script or the spatial_join
# workload calls read_corpus. One entry per distinct (fmt, path) read.
_SCHEMAS: dict[tuple[str, str], tuple] = {}


def _listing_digest(df) -> str:
    """SHA-256 of the ``FileStatus`` strings (path, length, modification
    time; Spark's listing leaves access time and owner empty) of every file
    a path read covers, in listing order (a reordered listing only costs a
    new inference). The file index the read already listed holds them, and
    the string and its digest are built in the JVM: no Spark job, no
    per-file py4j call, and no O(files) string through py4j (handing over
    the 11 KB string of 32 files took 42 ms). Driver time is O(files) in
    the JVM: 6 ms at 32 files, 11 ms at 2,000 (4-core host)."""
    jvm = df.sparkSession._jvm
    files = df._jdf.queryExecution().analyzed().relation().location().allFiles()
    text = files.addString(jvm.scala.collection.mutable.StringBuilder(), "\n")
    sha = jvm.java.security.MessageDigest.getInstance("SHA-256")
    sha.update(jvm.java.nio.charset.StandardCharsets.UTF_8.encode(jvm.java.nio.CharBuffer.wrap(text)))
    return bytes(sha.digest()).hex()


def read_corpus(spark, path: str, fmt: str = "parquet", validate: bool = True):
    """Scan the web-pages table (BASELINE.json input_hint schema).

    ``fmt='iceberg'`` reads a catalog table name instead of a path (same
    DataFrame downstream — Iceberg's scan does partition pruning on pushed
    predicates exactly like the parquet reader here).

    Inferring a path's schema costs a Spark job on every read, so the
    validated schema is kept per ``(fmt, path)`` with a digest of the files
    it came from (``_listing_digest``); a read whose files, lengths and
    modification times are unchanged reuses it, and any other read is
    inferred and validated again. Only repeated reads of one path gain; a
    first read pays the digest on top of the inference.
    """
    key = (fmt, path)
    if fmt == "iceberg":
        df = spark.read.table(path)
    else:
        if validate and key in _SCHEMAS:
            schema, digest = _SCHEMAS[key]
            df = spark.read.format(fmt).schema(schema).load(path)
            if _listing_digest(df) == digest:
                return df
        df = spark.read.format(fmt).load(path)
    if validate:
        have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        missing = [
            f"{k}:{t}" for k, t in CORPUS_SCHEMA_FIELDS.items()
            if have.get(k) != t
        ]
        if missing:
            raise ValueError(f"corpus schema mismatch, need {missing}, have {have}")
        if fmt != "iceberg":
            _SCHEMAS[key] = (df.schema, _listing_digest(df))
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

