"""Text-analysis operators for training-data curation: token counting,
quality scoring, language-ID, document fingerprinting.

All four are pure Column-expression stages — no Python UDF anywhere — so at
100 TB they run inside whole-stage codegen on the JVM, fully pushdown- and
AQE-compatible. Each operator has a Spark emission and a DuckDB oracle
emission computing the same values (syntax differs where the engines do;
semantics are pinned by the shared test corpus).

Design sources are public heuristics (C4/Gopher-style quality signals,
stopword-density language ID); the *shape* — a priority cascade of cheap
per-document predicates producing a label column — mirrors the reference's
framework detection cascade (pkg/parser/detection/detector.go:42-78,
SURVEY.md D1-D8): content evidence scored per candidate, highest priority
wins, deterministic tie-break by fixed ordering.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Tokenization + quality signals
# ---------------------------------------------------------------------------

# BPE-ish word splitter: runs of letters/digits or single non-space symbols —
# approximates how byte-pair tokenizers segment at word/punct boundaries, so
# its count tracks real token budgets far closer than whitespace words do
# (punctuation-heavy web text: 'Hello, world!' = 4 BPE-ish vs 2 whitespace).
# \p{L} is Java-regex; DuckDB RE2 uses the same \p{L} syntax — shared subset.
# Consumed by spark/duck_quality_cols as the oracled n_bpe_tokens column.
TOKEN_PATTERN = r"[\p{L}\p{N}]+|[^\p{L}\p{N}\s]"


def spark_bpe_token_count(text_col: str) -> str:
    """BPE-ish token count (Spark SQL; Java-regex literal escaping)."""
    pat = TOKEN_PATTERN.replace("\\", "\\\\")
    return (
        f"CASE WHEN {text_col} IS NULL THEN 0 "
        f"ELSE regexp_count({text_col}, '{pat}') END"
    )


def duck_bpe_token_count(text_col: str) -> str:
    """DuckDB twin (RE2; raw backslashes in the literal)."""
    return (
        f"CASE WHEN {text_col} IS NULL THEN 0 "
        f"ELSE len(regexp_extract_all({text_col}, '{TOKEN_PATTERN}')) END"
    )

STOPWORDS = (
    "the of and to in a is that it for on with as are this be at or by an "
    "from was were has have not but they you we his her its their"
).split()


def spark_token_count(text_col: str) -> str:
    """Whitespace token count (Spark SQL expr). Empty/NULL-safe."""
    return (
        f"CASE WHEN {text_col} IS NULL OR trim({text_col}) = '' THEN 0 "
        f"ELSE size(split(trim({text_col}), '\\\\s+')) END"
    )


def duck_token_count(text_col: str) -> str:
    return (
        f"CASE WHEN {text_col} IS NULL OR trim({text_col}) = '' THEN 0 "
        f"ELSE len(string_split_regex(trim({text_col}), '\\s+')) END"
    )


_ALPHABET = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"


def spark_stop_count(text_col: str) -> str:
    """Integer stopword-hit count (tokenize-once membership; see
    spark_quality_cols docstring for why this beats a \\b-alternation)."""
    stop_arr = ", ".join(f"'{w}'" for w in STOPWORDS)
    return (
        f"size(filter(regexp_extract_all(lower({text_col}), '[a-z0-9_]+', 0),"
        f" x -> array_contains(array({stop_arr}), x)))"
    )


def duck_stop_count(text_col: str) -> str:
    stop_arr = ", ".join(f"'{w}'" for w in STOPWORDS)
    return (
        f"len(list_filter(regexp_extract_all(lower({text_col}), '[a-z0-9_]+', 0),"
        f" x -> list_contains([{stop_arr}], x)))"
    )


def spark_quality_cols(text_col: str) -> dict[str, str]:
    """Quality-signal expressions: {out_col: spark_sql_expr}.

    Char-class counts use length-difference over ``translate`` (a plain
    char-map deletion — no regex engine, ~3x cheaper than the former
    regexp_replace passes at 10^12 rows); the stopword count tokenizes
    ONCE into a ``\\w+`` array and filters by membership, which is
    match-for-match identical to the former ``\\b(alt)\\b`` alternation
    scan (a boundary match exists iff the maximal \\w-run equals the
    stopword) without running a 30-branch alternation at every position.
    """
    n = f"length({text_col})"
    alpha = f"({n} - length(translate({text_col}, '{_ALPHABET}', '')))"
    punct = f"({n} - length(translate({text_col}, '.!?,;:', '')))"
    digits = f"({n} - length(translate({text_col}, '0123456789', '')))"
    stop_n = spark_stop_count(text_col)
    toks = spark_token_count(text_col)
    return {
        "n_chars": n,
        "n_tokens": toks,
        "n_bpe_tokens": spark_bpe_token_count(text_col),
        "alpha_ratio": f"CASE WHEN {n} > 0 THEN CAST({alpha} AS DOUBLE)/{n} ELSE 0.0 END",
        "punct_ratio": f"CASE WHEN {n} > 0 THEN CAST({punct} AS DOUBLE)/{n} ELSE 0.0 END",
        "digit_ratio": f"CASE WHEN {n} > 0 THEN CAST({digits} AS DOUBLE)/{n} ELSE 0.0 END",
        "stopword_ratio": (
            f"CASE WHEN {toks} > 0 THEN CAST({stop_n} AS DOUBLE)/({toks}) ELSE 0.0 END"
        ),
        "mean_token_len": (
            f"CASE WHEN {toks} > 0 THEN CAST({alpha} + {digits} AS DOUBLE)/({toks}) "
            f"ELSE 0.0 END"
        ),
    }


def duck_quality_cols(text_col: str) -> dict[str, str]:
    n = f"length({text_col})"
    alpha = f"({n} - length(translate({text_col}, '{_ALPHABET}', '')))"
    punct = f"({n} - length(translate({text_col}, '.!?,;:', '')))"
    digits = f"({n} - length(translate({text_col}, '0123456789', '')))"
    stop_n = duck_stop_count(text_col)
    toks = duck_token_count(text_col)
    return {
        "n_chars": n,
        "n_tokens": toks,
        "n_bpe_tokens": duck_bpe_token_count(text_col),
        "alpha_ratio": f"CASE WHEN {n} > 0 THEN CAST({alpha} AS DOUBLE)/{n} ELSE 0.0 END",
        "punct_ratio": f"CASE WHEN {n} > 0 THEN CAST({punct} AS DOUBLE)/{n} ELSE 0.0 END",
        "digit_ratio": f"CASE WHEN {n} > 0 THEN CAST({digits} AS DOUBLE)/{n} ELSE 0.0 END",
        "stopword_ratio": (
            f"CASE WHEN {toks} > 0 THEN CAST({stop_n} AS DOUBLE)/({toks}) ELSE 0.0 END"
        ),
        "mean_token_len": (
            f"CASE WHEN {toks} > 0 THEN CAST({alpha} + {digits} AS DOUBLE)/({toks}) "
            f"ELSE 0.0 END"
        ),
    }


# ---------------------------------------------------------------------------
# Language ID: stopword-marker scoring cascade
# ---------------------------------------------------------------------------

# Characteristic high-frequency markers per language (public stopword lists).
# Scored by occurrence count; highest score wins, ties broken by list order
# (the reference's priority-then-name registry ordering, registry.go:50-71).
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " is ", " that "],
    "de": [" der ", " und ", " die ", " ist ", " nicht "],
    "fr": [" le ", " la ", " et ", " est ", " les "],
    "es": [" el ", " de la ", " que ", " es ", " los "],
    "pt": [" o ", " de ", " que ", " é ", " uma "],
    "ru": [" и ", " в ", " не ", " что ", " это "],
}


def _count_occurrences_spark(text_col: str, marker: str) -> str:
    m = marker.replace("'", "''")
    return (
        f"CAST((length({text_col}) - length(replace({text_col}, '{m}', ''))) "
        f"/ {len(marker)} AS BIGINT)"
    )


def sql_lang_id(text_col: str, langs: list[str] | None = None) -> str:
    """Language-ID as ONE portable SQL expression (replace/length arithmetic
    and CASE only — runs verbatim on Spark and DuckDB).

    Returns 'und' (undetermined) when no marker fires.
    """
    langs = langs or list(LANG_MARKERS)
    padded = f"(' ' || lower({text_col}) || ' ')"
    scores = {
        lang: "(" + " + ".join(
            _count_occurrences_spark(padded, m) for m in LANG_MARKERS[lang]
        ) + ")"
        for lang in langs
    }
    # arg-max with first-listed-wins tie-break: lang_i beats lang_j for j<i
    # only with a strictly greater score
    arms = []
    for i, lang in enumerate(langs):
        conds = [f"{scores[lang]} > 0"]
        for j, other in enumerate(langs):
            if j < i:
                conds.append(f"{scores[lang]} > {scores[other]}")
            elif j > i:
                conds.append(f"{scores[lang]} >= {scores[other]}")
        arms.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(arms) + " ELSE 'und' END"


def lang_id_steps(text_col: str, langs: list[str] | None = None,
                  out: str = "lang_pred") -> list[tuple[str, str]]:
    """Language-ID as STEPWISE (col_name, sql) emissions for the Spark side.

    Same semantics as ``sql_lang_id`` (arg-max score, first-listed wins
    ties, 'und' when no marker fires) but each language score is emitted
    ONCE as its own column and the arg-max is array-based:
    ``array_position(scores, array_max(scores))`` returns the FIRST index
    achieving the max — exactly the cascade's tie-break — so no score
    expression is ever textually repeated. The monolithic CASE repeated
    every score across its comparison arms (~330 ``replace()`` calls,
    40 KB): janino failed to compile ``processNext()`` and the stage ran
    INTERPRETED (24.6s for corpus_curation at sf0.1). Stepwise columns are
    protected from re-inlining by SPARK-36718 (CollapseProject refuses to
    duplicate non-cheap aliases) — the hexgrid.apply_steps rule.

    Apply with ``hexgrid.apply_steps``; intermediates are '_'-prefixed and
    dropped. The DuckDB oracle keeps the portable ``sql_lang_id`` monolith
    (equivalent arg-max; DuckDB's vector engine has no codegen cliff).
    """
    langs = langs or list(LANG_MARKERS)
    p = f"_{out}_"
    steps: list[tuple[str, str]] = [
        (f"{p}pad", f"(' ' || lower({text_col}) || ' ')")
    ]
    for lang in langs:
        score = " + ".join(
            _count_occurrences_spark(f"{p}pad", m) for m in LANG_MARKERS[lang]
        )
        steps.append((f"{p}s_{lang}", f"({score})"))
    arr = "array(" + ", ".join(f"{p}s_{lang}" for lang in langs) + ")"
    names = "array(" + ", ".join(f"'{lang}'" for lang in langs) + ")"
    steps.append((f"{p}arr", arr))
    steps.append((f"{p}mx", f"array_max({p}arr)"))
    steps.append((
        out,
        f"(CASE WHEN {p}mx > 0 "
        f"THEN element_at({names}, CAST(array_position({p}arr, {p}mx) AS INT)) "
        f"ELSE 'und' END)",
    ))
    return steps


# ---------------------------------------------------------------------------
# Document fingerprint (md5-derived 60-bit id; portable across engines)
# ---------------------------------------------------------------------------

def spark_fingerprint(text_col: str) -> str:
    """60-bit content fingerprint as BIGINT (Spark dialect)."""
    return f"CAST(conv(substr(md5({text_col}), 1, 15), 16, 10) AS BIGINT)"


def duck_fingerprint(text_col: str) -> str:
    """Same fingerprint, DuckDB dialect (identical value)."""
    return f"(('0x' || substr(md5({text_col}), 1, 15))::BIGINT)"


# ---------------------------------------------------------------------------
# Rolling-hash winnowing fingerprints (Rabin-Karp + Schleimer et al. MOSS)
# ---------------------------------------------------------------------------

#: polynomial base / modulus for the token rolling hash. M = 2^31 - 1 keeps
#: every intermediate (acc < M, acc*B < 2^51) inside BIGINT on both engines;
#: token hashes are the portable md5 recipe reduced mod M.
WINNOW_B = 1_000_003
WINNOW_M = (1 << 31) - 1
WINNOW_W = 4  # tokens per rolling window
WINNOW_G = 4  # winnowing guarantee window (windows per min-selection)


def _rolling_expr(th: str, i: str, dialect: str) -> str:
    """Unrolled w-term Rabin-Karp window hash starting at 1-based ``i``
    over token-hash array ``th`` — IDENTICAL integer arithmetic text on
    both engines (no fold builtin needed, w is small and fixed)."""
    el = (lambda j: f"element_at({th}, {i} + {j})") if dialect == "spark" \
        else (lambda j: f"{th}[{i} + {j}]")
    acc = el(0)
    for j in range(1, WINNOW_W):
        acc = f"((({acc}) * {WINNOW_B} + {el(j)}) % {WINNOW_M})"
    return acc


def winnow_steps(text_col: str, dialect: str, out: str = "fps"
                 ) -> list[tuple[str, str]]:
    """Stepwise columns (CLAUDE.md rule) ending in ``out`` = the SORTED
    DISTINCT winnowed fingerprint array:

    1. ``_wth``  token hashes mod M (one md5 per token);
    2. ``_wrh``  rolling window hashes (w consecutive token hashes,
       Rabin-Karp polynomial — a shared substring of >= w tokens yields
       identical window hashes wherever it appears);
    3. ``out``   winnowed selection: min hash of every g consecutive
       windows (Schleimer et al.) — position-robust fingerprints whose
       overlap measures shared content, distinct + sorted.
    """
    if dialect == "spark":
        toks = f"split(trim({text_col}), ' ')"
        th = (
            f"transform({toks}, t -> CAST(conv(substr(md5(t), 1, 15),"
            f" 16, 10) AS BIGINT) % {WINNOW_M})"
        )
        # filter-then-transform: sequence(1, n) is ascending for n >= 1
        # (token arrays are never empty: split('') = ['']); a sequence
        # with a negative span DESCENDS in Spark, so the window count is
        # enforced by the filter, never by the sequence bound
        rh = (
            f"transform(filter(sequence(1, size(_wth)),"
            f" i -> i <= size(_wth) - {WINNOW_W - 1}),"
            f" i -> {_rolling_expr('_wth', 'i', 'spark')})"
        )
        wn = (
            f"array_sort(array_distinct(transform("
            f"filter(sequence(1, greatest(size(_wrh), 1)),"
            f" i -> i <= size(_wrh) - {WINNOW_G - 1}),"
            f" i -> array_min(slice(_wrh, i, {WINNOW_G})))))"
        )
    else:
        toks = f"string_split(trim({text_col}), ' ')"
        th = (
            f"[('0x' || substr(md5(t), 1, 15))::BIGINT % {WINNOW_M}"
            f" for t in {toks}]"
        )
        rh = (
            f"[{_rolling_expr('_wth', 'i', 'duckdb')}"
            f" for i in range(1, len(_wth) + 1)"
            f" if i <= len(_wth) - {WINNOW_W - 1}]"
        )
        wn = (
            f"list_sort(list_distinct([list_min(_wrh[i:i + {WINNOW_G - 1}])"
            f" for i in range(1, len(_wrh) + 1)"
            f" if i <= len(_wrh) - {WINNOW_G - 1}]))"
        )
    return [("_wth", th), ("_wrh", rh), (out, wn)]
