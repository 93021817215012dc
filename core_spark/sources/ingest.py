"""Sources & sinks — the reference's Source abstraction re-expressed as
Spark readers (SURVEY.md §2.1 S1-S8).

Reference model: a Source streams files under a root with path-escape
protection (pkg/source/local.go:21-113), discovery walks skip vendored
subtrees (pkg/parser/scanner.go:42-51), candidates are filtered by name
pattern and size BEFORE being read (scanner.go:468-489). The Spark analogs
keep the same ordering discipline: every cheap predicate is a pushed Column
filter on the scan, applied before any UDF stage.

| Reference | Here |
| --- | --- |
| LocalSource + discovery walk (S1, S3) | ``read_file_tree`` (binaryFile) |
| skip-dir pruning (S4) | path predicates -> partition/file pruning |
| glob patterns (F2) | ``pathGlobFilter`` read option + regexp filter |
| max-file-size (F3) | ``length(content) <= cap`` filter |
| corpus table scan (graft) | ``read_corpus`` (parquet / iceberg) |
| JSON / snapshot sinks (S7, S8) | ``write_snapshot`` (deterministic order) |
"""

from __future__ import annotations

import os
import re

DEFAULT_SKIP_DIRS = (
    "node_modules", ".git", "vendor", "dist", ".next", "__pycache__", ".cache",
)  # reference list: pkg/parser/scanner.go:42-51 ('coverage' is special:
# skipped ONLY at the scan root — shouldSkipDir, scanner.go:656-659 — so
# it is handled positionally in read_file_tree, not in this set)

DEFAULT_MAX_FILE_SIZE = 10 * 1024 * 1024  # scanner.go:37

CORPUS_SCHEMA_FIELDS = {
    "url": "string",
    "warc_ts": "timestamp",
    "html": "binary",
    "lang": "string",
}


def read_corpus(spark, path: str, fmt: str = "parquet", validate: bool = True):
    """Scan the web-pages table (BASELINE.json input_hint schema).

    ``fmt='iceberg'`` reads a catalog table name instead of a path (same
    DataFrame downstream — Iceberg's scan does partition pruning on pushed
    predicates exactly like the parquet reader here).
    """
    if fmt == "iceberg":
        df = spark.read.table(path)
    else:
        df = spark.read.format(fmt).load(path)
    if validate:
        have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        missing = [
            f"{k}:{t}" for k, t in CORPUS_SCHEMA_FIELDS.items()
            if have.get(k) != t
        ]
        if missing:
            raise ValueError(f"corpus schema mismatch, need {missing}, have {have}")
    return df


def read_file_tree(
    spark,
    root: str,
    glob: str | None = None,
    skip_dirs: tuple[str, ...] = DEFAULT_SKIP_DIRS,
    max_file_size: int = DEFAULT_MAX_FILE_SIZE,
    recursive: bool = True,
):
    """binaryFile scan of a file tree with the reference's pruning rules.

    Returns (path, modificationTime, length, content) rows. Skip-dir and
    size predicates are Column filters — Catalyst prunes listed files before
    content ever reaches Python (the S4 'never descend' analog; at the
    listing level Spark still enumerates, so for vendored monorepos prefer a
    ``pathGlobFilter`` that excludes the dirs outright).

    CAVEAT (test_golden_adversarial.py): Hadoop's hidden-path filter
    silently drops every path segment starting with ``_`` or ``.`` —
    ``__tests__``, ``__mocks__``, ``.github`` never reach this scan, and
    jest trees live in ``__tests__``. Repo-shaped trees should use
    ``walk_file_tree`` (the reference's WalkDir analog, which also
    implements the F4 symlink filter); this scan is for big plain trees
    where distributed listing matters.
    """
    from pyspark.sql import functions as F

    reader = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true" if recursive else "false")
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(root)
    for d in skip_dirs:
        df = df.filter(~F.col("path").contains(f"/{d}/"))
    # root-level 'coverage/' only (scanner.go:656-659: shouldSkipDir skips
    # a coverage dir iff its parent IS the scan root; nested
    # tests/*/coverage dirs are real content and stay)
    df = df.filter(
        ~F.col("path").rlike("^" + re.escape(_root_uri(root)) + "/coverage/")
    )
    df = df.filter(F.col("length") <= max_file_size)
    return df


def _root_uri(root: str) -> str:
    """The scan root as the ``path`` column spells it, no trailing slash."""
    uri = (
        root if "://" in root or root.startswith("file:")
        else "file:" + os.path.abspath(root)
    )
    return uri.rstrip("/")


#: Arrow-safe source text from a binary content column: a plain CAST keeps
#: invalid UTF-8 bytes inside the UTF8String, and the first Arrow transfer
#: (mapInPandas kernels, toPandas) then throws MALFORMED_CHARACTER_CODING.
#: make_valid_utf8 repairs invalid sequences to U+FFFD up front — the Go
#: reference regex-scans raw bytes and never crashes on them; this is the
#: Spark-side equivalent (test_golden_adversarial.py pins it end-to-end).
SAFE_SOURCE_EXPR = "make_valid_utf8(CAST(content AS STRING))"


def _empty_meta_pdf():
    import pandas as pd

    return pd.DataFrame(
        {"path": pd.Series(dtype=object),
         "modificationTime": pd.Series(dtype="datetime64[ns, UTC]"),
         "length": pd.Series(dtype="int64")}
    )


def _read_contents(batches):
    """mapInPandas stage: attach file bytes to (path, mtime, length) rows
    (shared by both walk_file_tree modes); unreadable files yield NULL."""
    for pdf in batches:
        blobs = []
        for pth in pdf["path"]:
            fp = pth[5:] if pth.startswith("file:") else pth
            try:
                with open(fp, "rb") as fh:
                    blobs.append(fh.read())
            except OSError:
                blobs.append(None)
        pdf = pdf.copy()
        pdf["content"] = blobs
        yield pdf


def _walk_subtree(
    top: str,
    skip_dirs: tuple[str, ...],
    max_file_size: int,
) -> list[tuple[str, object, int]]:
    """Reference shouldSkipDir semantics over ONE subtree: named skip
    dirs pruned everywhere, symlinked files skipped, symlinked dirs
    never followed. ``coverage`` is NOT special here — the root-level
    rule is the caller's job. Pure stdlib so it runs on executors."""
    import datetime
    import stat as statmod

    out: list[tuple[str, object, int]] = []
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = sorted(d for d in dirnames if d not in skip_dirs)
        for fn in sorted(filenames):
            p = os.path.join(dirpath, fn)
            try:
                st = os.lstat(p)
            except OSError:
                continue
            if statmod.S_ISLNK(st.st_mode):  # F4: symlink filter
                continue
            if st.st_size > max_file_size:
                continue
            out.append((
                "file:" + p,
                datetime.datetime.fromtimestamp(
                    st.st_mtime, tz=datetime.timezone.utc
                ),
                int(st.st_size),
            ))
    return out


def walk_file_tree(
    spark,
    root: str,
    glob: str | None = None,
    skip_dirs: tuple[str, ...] = DEFAULT_SKIP_DIRS,
    max_file_size: int = DEFAULT_MAX_FILE_SIZE,
    distributed: bool = False,
):
    """Discovery walk + distributed content read — the faithful analog
    of the reference's filepath.WalkDir scan (scanner.go:641-662):

    - sees ``__tests__`` / ``__mocks__`` / ``.github`` and every other
      ``_``/``.``-prefixed dir that Hadoop's hidden-path filter silently
      drops from ``read_file_tree`` (only the named ``skip_dirs`` are
      pruned, plus ``coverage`` at the scan root only);
    - skips symlinked files and never follows symlinked dirs — the F4
      symlink filter (TestScan_SymlinkSkipping parity);
    - ``distributed=False`` (default): listing is sequential on the
      driver exactly like the reference's walk — right for repo-shaped
      trees. ``distributed=True``: the driver enumerates only the scan
      root's immediate entries (where the root-only coverage rule and
      root-level files live) and fans each top-level subtree out to the
      executors, which walk AND read in one Arrow stage — the monorepo
      path (a million-file tree costs the driver one readdir; executors
      parallelize by subtree over the shared filesystem). Both modes
      return identical rows (pinned in test_golden_adversarial.py).
      Skew caveat: parallelism is by TOP-LEVEL subtree, so one huge
      subtree serializes onto one task — for such trees pass that
      subtree as the scan root instead (its own children then fan out).

    Returns the same (path, modificationTime, length, content) schema as
    ``read_file_tree``, with the same ``file:`` path prefix.
    """
    import datetime
    import stat as statmod

    import pandas as pd

    root_abs = os.path.abspath(root)
    if distributed:
        subtrees: list[str] = []
        listed: list[tuple[str, object, int]] = []
        for name in sorted(os.listdir(root_abs)):
            p = os.path.join(root_abs, name)
            try:
                st = os.lstat(p)
            except OSError:
                continue
            if statmod.S_ISLNK(st.st_mode):
                continue
            if statmod.S_ISDIR(st.st_mode):
                if name in skip_dirs or name == "coverage":
                    continue  # root-only coverage rule lives here
                subtrees.append(p)
            elif st.st_size <= max_file_size:
                listed.append((
                    "file:" + p,
                    datetime.datetime.fromtimestamp(
                        st.st_mtime, tz=datetime.timezone.utc
                    ),
                    int(st.st_size),
                ))
        meta_schema = "path string, modificationTime timestamp, length long"
        root_files = spark.createDataFrame(
            pd.DataFrame(
                listed, columns=["path", "modificationTime", "length"]
            )
            if listed
            else _empty_meta_pdf(),
            meta_schema,
        )
        tops = spark.createDataFrame(
            [(t,) for t in subtrees], "top string"
        ).repartition(max(1, len(subtrees)))

        def _list(batches):
            for pdf in batches:
                rows = []
                for top in pdf["top"]:
                    rows.extend(_walk_subtree(top, skip_dirs, max_file_size))
                yield pd.DataFrame(
                    rows, columns=["path", "modificationTime", "length"]
                ) if rows else _empty_meta_pdf()

        meta = root_files.unionByName(tops.mapInPandas(_list, meta_schema))
        if glob:
            meta = glob_filter(meta, [glob], root_abs)
        return meta.mapInPandas(
            _read_contents,
            "path string, modificationTime timestamp, length long,"
            " content binary",
        )
    listed: list[tuple[str, object, int]] = []
    for dirpath, dirnames, filenames in os.walk(root_abs):
        dirnames[:] = sorted(
            d for d in dirnames
            if d not in skip_dirs
            and not (d == "coverage" and dirpath == root_abs)
        )
        for fn in sorted(filenames):
            p = os.path.join(dirpath, fn)
            try:
                st = os.lstat(p)
            except OSError:
                continue
            if statmod.S_ISLNK(st.st_mode):  # F4: symlink filter
                continue
            if st.st_size > max_file_size:
                continue
            listed.append((
                "file:" + p,
                datetime.datetime.fromtimestamp(
                    st.st_mtime, tz=datetime.timezone.utc
                ),
                int(st.st_size),
            ))
    meta = spark.createDataFrame(
        pd.DataFrame(listed, columns=["path", "modificationTime", "length"])
        if listed
        else _empty_meta_pdf(),
        "path string, modificationTime timestamp, length long",
    )
    if glob:
        meta = glob_filter(meta, [glob], root_abs)
    return meta.mapInPandas(
        _read_contents,
        "path string, modificationTime timestamp, length long, content binary",
    )


_GLOB_TOKEN = re.compile(r"\*\*/|\*\*|\*|\?|.", re.S)
_GLOB_REGEX = {"**/": "(?:.*/)?", "**": ".*", "*": "[^/]*", "?": "[^/]"}


def glob_regex(pattern: str) -> str:
    """Doublestar glob -> regex over a root-relative path (F2): ``**/``
    spans zero or more directories, ``**`` anything, while ``*`` and
    ``?`` stay inside one path segment."""
    return "".join(
        _GLOB_REGEX.get(t) or re.escape(t) for t in _GLOB_TOKEN.findall(pattern)
    )


def glob_filter(df, patterns: list[str], root: str, path_col: str = "path"):
    """Keep rows whose path, relative to the scan ``root``, matches any of
    the doublestar ``patterns`` (one anchored regex Column predicate)."""
    from pyspark.sql import functions as F

    if not patterns:
        return df
    alts = "|".join(glob_regex(p) for p in patterns)
    return df.filter(
        F.col(path_col).rlike(f"^{re.escape(_root_uri(root))}/(?:{alts})$")
    )


def write_snapshot(df, path: str, order_by: list[str], fmt: str = "parquet"):
    """Deterministic sink: explicit total order before writing (the
    reference sorts results because goroutines finish out of order,
    pkg/parser/scanner.go:558-564 — Spark tasks do too)."""
    (
        df.orderBy(*order_by)
        .coalesce(1)
        .write.mode("overwrite")
        .format(fmt)
        .save(path)
    )


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


def test_file_candidates(df, path_col: str = "path"):
    """Filter to test-file candidates — a pure-Column predicate Catalyst
    pushes to the scan (S4/F1 pushdown; assert PushedFilters in plans)."""
    from pyspark.sql import functions as F

    return df.filter(F.expr(sql_test_file_candidate(path_col)))
