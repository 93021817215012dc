"""Gopher quality-filter rules (Rae et al. 2021, Table A1) — the
word-statistics half of Gopher's curation recipe (the repetition half is
functions/repetition.py; together they complete the published set):

  - word count in [50, 100,000]
  - mean word length in [3, 10]
  - symbol-to-word ratio ('#' or '...') at most 0.1
  - at most 90% of lines start with a bullet ('-' or '*')
  - at most 30% of lines end with an ellipsis ('...')
  - at least 80% of words contain an alphabetic character
  - at least 2 of the 8 Gopher stop words present as whole words

Every gate is evaluated in INTEGER cross-multiplication (e.g. the 0.8
alpha rule is ``5*alpha_words >= 4*words``) — no double ever crosses an
engine boundary, the host_quality_gate pattern (CLAUDE.md portability
rules). All signals are within-row higher-order-function work over the
token/line arrays: one codegen'd stepwise projection, Exchange-free and
Python-free (pytest plan-asserted) — the scale-right shape for a
per-doc gate at 10^12 rows. The '...' count uses the bracket-class
regex ``[.][.][.]`` so no backslash escape crosses the Spark/DuckDB
literal-handling divergence; matches are non-overlapping in both
engines (RE2 and Java agree).

No reference counterpart (specvital/core has no text-quality
subsystem); thresholds follow the published Gopher appendix.
"""

from __future__ import annotations

from core_spark.functions.textstats import _ALPHABET

#: Gopher's stop-word presence list (Rae et al. A1: "must contain at
#: least two of ...")
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")

#: (signal, gate) output columns in emission order
GATE_COLS = [
    "g_word_count",
    "g_mean_len",
    "g_symbol",
    "g_bullet",
    "g_ellipsis",
    "g_alpha",
    "g_stop",
    "gopher_kept",
]


def gopher_steps(text_col: str, dialect: str) -> list[tuple[str, str]]:
    """Stepwise (name, expr) emissions, same structure on both engines."""
    spark = dialect == "spark"
    # words split on ANY whitespace run (space/tab/newline) — multi-line
    # docs must not weld '-\nword' into one token. The class is written
    # with explicit 2-char escapes so each engine's literal handling
    # (Spark processes \\t; DuckDB passes \t through to RE2) yields the
    # same regex.
    if spark:
        toks = (
            f"filter(split(trim({text_col}), '[ \\\\t\\\\n]+'),"
            f" w -> w != '')"
        )
        ltoks = "transform(_gtoks, w -> lower(w))"
        size, contains = "size", "array_contains"
        sum_len = (
            "aggregate(_gtoks, CAST(0 AS BIGINT), (a, w) -> a + length(w))"
        )
        lines = f"split({text_col}, '\\\\n')"
        n_ellipsis = (
            f"{size}(regexp_extract_all({text_col}, '[.][.][.]', 0))"
        )
        alpha_words = (
            f"{size}(filter(_gtoks, w ->"
            f" length(translate(w, '{_ALPHABET}', '')) < length(w)))"
        )
        bullet = (
            "size(filter(_glines, l -> left(ltrim(l), 1) IN ('-', '*')))"
        )
        ell_lines = "size(filter(_glines, l -> right(rtrim(l), 3) = '...'))"
    else:
        toks = (
            f"list_filter(string_split_regex(trim({text_col}),"
            f" '[ \\t\\n]+'), w -> w != '')"
        )
        ltoks = "list_transform(_gtoks, w -> lower(w))"
        size, contains = "len", "list_contains"
        sum_len = (
            "list_aggregate(list_transform(_gtoks, w -> length(w)), 'sum')"
        )
        lines = f"string_split({text_col}, chr(10))"
        n_ellipsis = f"{size}(regexp_extract_all({text_col}, '[.][.][.]'))"
        alpha_words = (
            f"{size}(list_filter(_gtoks, w ->"
            f" length(translate(w, '{_ALPHABET}', '')) < length(w)))"
        )
        bullet = (
            "len(list_filter(_glines, l -> left(ltrim(l), 1) IN ('-', '*')))"
        )
        ell_lines = (
            "len(list_filter(_glines, l -> right(rtrim(l), 3) = '...'))"
        )
    n_hash = f"(length({text_col}) - length(translate({text_col}, '#', '')))"
    stop_types = " + ".join(
        f"(CASE WHEN {contains}(_gltoks, '{s}') THEN 1 ELSE 0 END)"
        for s in GOPHER_STOPS
    )
    big = "CAST({} AS BIGINT)"
    return [
        ("_gtoks", toks),
        ("_gltoks", ltoks),
        ("_glines", lines),
        ("words", big.format(f"COALESCE({size}(_gtoks), 0)")),
        ("sum_word_len", big.format(f"COALESCE({sum_len}, 0)")),
        ("n_symbols", big.format(f"COALESCE({n_hash} + {n_ellipsis}, 0)")),
        ("n_lines", big.format(f"COALESCE({size}(_glines), 0)")),
        ("bullet_lines", big.format(f"COALESCE({bullet}, 0)")),
        ("ellipsis_lines", big.format(f"COALESCE({ell_lines}, 0)")),
        ("alpha_words", big.format(f"COALESCE({alpha_words}, 0)")),
        ("stop_types", big.format(f"COALESCE({stop_types}, 0)")),
        # gates: pure BIGINT cross-multiplication, no doubles anywhere
        ("g_word_count", "words BETWEEN 50 AND 100000"),
        (
            "g_mean_len",
            "3 * words <= sum_word_len AND sum_word_len <= 10 * words",
        ),
        ("g_symbol", "10 * n_symbols <= words"),
        ("g_bullet", "10 * bullet_lines <= 9 * n_lines"),
        ("g_ellipsis", "10 * ellipsis_lines <= 3 * n_lines"),
        ("g_alpha", "5 * alpha_words >= 4 * words"),
        ("g_stop", "stop_types >= 2"),
        (
            "gopher_kept",
            "COALESCE(g_word_count AND g_mean_len AND g_symbol AND g_bullet"
            " AND g_ellipsis AND g_alpha AND g_stop, false)",
        ),
    ]


def sql_gopher_gate(
    table_sql: str, select_cols: str, text_col: str = "text"
) -> str:
    """DuckDB twin: the same steps nested as subqueries."""
    inner = table_sql
    for name, expr in gopher_steps(text_col, "duckdb"):
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
    outs = (
        "words, sum_word_len, n_symbols, n_lines, bullet_lines,"
        " ellipsis_lines, alpha_words, stop_types, "
        + ", ".join(GATE_COLS)
    )
    return f"SELECT {select_cols}, {outs} FROM ({inner})"
