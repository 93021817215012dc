"""C4-style page cleaning — the Raffel et al. 2020 (T5, §2.2) heuristic
rule set, the most widely reused web-corpus cleaning recipe:

  line level (applied to every newline-delimited line):
    - keep only lines ending in a terminal punctuation mark (., !, ?)
    - keep only lines with at least ``min_words`` words (paper: 3)
    - drop any line containing the word "javascript" (case-insensitive)
  page level:
    - drop pages with fewer than ``min_sentences`` sentences after line
      cleaning (paper: 5) — approximated here as terminal-punctuation
      count in the cleaned text (the paper used a sentence splitter;
      for punctuation-terminated lines the two agree)
    - drop pages whose ORIGINAL text contains "lorem ipsum" or a curly
      bracket "{" (the paper's placeholder/code tells), plus any extra
      ``banned`` phrases (the paper's blocklist; parameterized here)

Everything is codegen'd JVM SQL — one stepwise projection, no shuffle,
no Python: split lines, FILTER with the line predicate (filter, never a
CASE around the HOF — CLAUDE.md), rejoin, count sentences, evaluate the
page gate. At 100 TB this rides the scan like every other row-local
filter; compose upstream of dedup so boilerplate lines never reach the
shingle stage. Both dialects emit the same step list so the DuckDB
oracle is the same computation textually (one engine-parity caveat:
Spark's empty array_join is '' while DuckDB's array_to_string is NULL —
the duck emission COALESCEs inside a NULL-text guard).

No reference counterpart (specvital/core has no corpus subsystem).
"""

from __future__ import annotations

TERMINALS = ("'.'", "'!'", "'?'")


def line_keep_pred(line: str, dialect: str, min_words: int = 3) -> str:
    """SQL boolean over a line-string expression ``line``."""
    terms = ", ".join(TERMINALS)
    if dialect == "spark":
        words = f"size(filter(split(trim({line}), ' +'), w -> w != ''))"
    else:
        words = (
            f"len(list_filter(string_split_regex(trim({line}), ' +'),"
            f" w -> w != ''))"
        )
    return (
        f"right(rtrim({line}), 1) IN ({terms})"
        f" AND {words} >= {min_words}"
        f" AND NOT contains(lower({line}), 'javascript')"
    )


def clean_steps(
    text_col: str,
    dialect: str,
    min_words: int = 3,
    min_sentences: int = 5,
    banned: tuple[str, ...] = (),
) -> list[tuple[str, str]]:
    """Stepwise (name, expr) list — apply with hexgrid.apply_steps on
    Spark, nest as subquery SELECTs for the DuckDB twin. Appends
    ``_c4lines``/``_c4kept`` working columns and the outputs
    ``c4_clean`` (text), ``n_lines``/``n_kept``/``n_sent`` (INT),
    ``c4_kept`` (BOOLEAN)."""
    pred = line_keep_pred("l", dialect, min_words)
    if dialect == "spark":
        # '\\n' reaches the JVM as the 2-char regex \n -> newline
        split_lines = f"split({text_col}, '\\\\n')"
        kept = f"filter(_c4lines, l -> {pred})"
        clean = "array_join(_c4kept, char(10))"
        size = "size"
        extract = "regexp_extract_all(c4_clean, '[.!?]', 0)"
    else:
        split_lines = f"string_split({text_col}, chr(10))"
        kept = f"list_filter(_c4lines, l -> {pred})"
        # array_to_string of an empty list is NULL in DuckDB ('' on
        # Spark) — COALESCE inside the NULL-text guard aligns them
        clean = (
            f"CASE WHEN {text_col} IS NULL THEN NULL"
            f" ELSE COALESCE(array_to_string(_c4kept, chr(10)), '') END"
        )
        size = "len"
        extract = "regexp_extract_all(c4_clean, '[.!?]')"
    # extra banned phrases: lowercase them (they compare against
    # lower(_c4_orig) — an uppercase phrase would never match) and
    # escape per dialect (Spark literals are Hive-style backslash,
    # DuckDB doubles quotes)
    def _phrase(b: str) -> str:
        s = b.lower()
        if dialect == "spark":
            s = s.replace("\\", "\\\\").replace("'", "\\'")
        else:
            s = s.replace("'", "''")
        return s

    page_bans = [
        "NOT contains(lower(_c4_orig), 'lorem ipsum')",
        "NOT contains(_c4_orig, '{')",
    ] + [f"NOT contains(lower(_c4_orig), '{_phrase(b)}')" for b in banned]
    return [
        # pin the original text once: the page gate reads it after the
        # projection may have shadowed/derived columns
        ("_c4_orig", text_col),
        ("_c4lines", split_lines),
        ("_c4kept", kept),
        ("c4_clean", clean),
        ("n_lines", f"CAST(COALESCE({size}(_c4lines), 0) AS INT)"),
        ("n_kept", f"CAST(COALESCE({size}(_c4kept), 0) AS INT)"),
        ("n_sent", f"CAST(COALESCE({size}({extract}), 0) AS INT)"),
        (
            "c4_kept",
            f"COALESCE(n_sent >= {min_sentences}"
            f" AND {' AND '.join(page_bans)}, false)",
        ),
    ]


def sql_c4_clean(
    table_sql: str,
    select_cols: str,
    text_col: str = "text",
    min_words: int = 3,
    min_sentences: int = 5,
    banned: tuple[str, ...] = (),
) -> str:
    """DuckDB twin: the same steps nested as subqueries; returns
    ``select_cols`` plus the C4 output columns."""
    inner = table_sql
    for name, expr in clean_steps(
        text_col, "duckdb", min_words, min_sentences, banned
    ):
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
    return (
        f"SELECT {select_cols}, c4_clean, n_lines, n_kept, n_sent, c4_kept"
        f" FROM ({inner})"
    )
