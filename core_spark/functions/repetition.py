"""Gopher-style within-document repetition signals (training-data curation).

Per-document token/bigram repetition statistics of the kind Rae et al.'s
Gopher quality rules gate on (duplicate-token fraction, most-frequent
token / 2-gram fraction). Everything is computed WITHIN the row with
higher-order array functions — ``transform`` / ``filter`` / ``array_max``
on Spark, ``list_transform`` / ``list_filter`` / ``list_aggregate`` on
DuckDB — so the Spark stage is a pure codegen'd map with NO shuffle and no
Python: the scale-right shape for a per-doc signal at 10^12 rows (the
alternative explode + groupBy(doc_id, token) plan shuffles every token).

The per-row cost of the top-count step is O(distinct * n) element
comparisons; web documents cap n in the thousands, so it stays cheap
relative to one shuffle per token.

Spark emission is STEPWISE (tokens / bigrams as intermediate columns —
the hexgrid.apply_steps rule) so the token-array expression is not
re-inlined into every downstream reference; the DuckDB twin uses nested
subqueries for the same reason.

No reference counterpart (specvital/core has no text-quality subsystem);
the signal set follows the public Gopher / Dolma curation rules.
"""

from __future__ import annotations

# Output column order (shared by both dialects and the driver query).
REP_COLS = [
    "n_tokens",
    "n_distinct",
    "top_token_n",
    "top_bigram_n",
    "dup_token_frac",
    "top_token_frac",
    "top_bigram_frac",
]


def _frac(num: str, den: str) -> str:
    """Portable guarded ratio (pure +,-,*,/ on BIGINTs -> bit-identical)."""
    return (
        f"CASE WHEN ({den}) > 0 THEN CAST({num} AS DOUBLE) / ({den}) "
        "ELSE 0.0 END"
    )


def rep_steps(text_col: str) -> list[tuple[str, str]]:
    """Stepwise Spark SQL columns for hexgrid.apply_steps.

    ``_toks``/``_bigrams`` are intermediates (dropped by apply_steps);
    the rest are the REP_COLS outputs.
    """
    toks = (
        f"CASE WHEN {text_col} IS NULL OR trim({text_col}) = '' "
        "THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE split(trim({text_col}), '\\\\s+') END"
    )
    bigrams = (
        "CASE WHEN size(_toks) >= 2 THEN "
        "transform(sequence(0, size(_toks) - 2), "
        "i -> concat(_toks[i], ' ', _toks[i + 1])) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    top = (
        "CAST(coalesce(array_max(transform(array_distinct({arr}), "
        "x -> size(filter({arr}, y -> y = x)))), 0) AS BIGINT)"
    )
    return [
        ("_toks", toks),
        ("_bigrams", bigrams),
        ("n_tokens", "CAST(size(_toks) AS BIGINT)"),
        ("n_distinct", "CAST(size(array_distinct(_toks)) AS BIGINT)"),
        ("top_token_n", top.format(arr="_toks")),
        ("top_bigram_n", top.format(arr="_bigrams")),
        ("dup_token_frac", _frac("n_tokens - n_distinct", "n_tokens")),
        ("top_token_frac", _frac("top_token_n", "n_tokens")),
        ("top_bigram_frac", _frac("top_bigram_n", "n_tokens - 1")),
    ]


def with_repetition(df, text_col: str = "text"):
    """Append REP_COLS (Spark DataFrame stage — JVM map, no shuffle)."""
    from core_spark.functions.hexgrid import apply_steps

    return apply_steps(df, rep_steps(text_col))


def duck_rep_sql(table: str, text_col: str = "text",
                 keys: str = "doc_id") -> str:
    """DuckDB twin: same signals via list lambdas, nested-subquery stepwise."""
    toks = (
        f"CASE WHEN {text_col} IS NULL OR trim({text_col}) = '' "
        "THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split_regex(trim({text_col}), '\\s+') END"
    )
    # range(2, n+1) is end-exclusive -> i in 2..n; t[i-1], t[i] are 1-based
    bigrams = (
        "CASE WHEN len(_toks) >= 2 THEN "
        "list_transform(range(2, len(_toks) + 1), "
        "i -> _toks[i - 1] || ' ' || _toks[i]) "
        "ELSE CAST([] AS VARCHAR[]) END"
    )
    top = (
        "CAST(coalesce(list_aggregate(list_transform(list_distinct({arr}), "
        "x -> len(list_filter({arr}, y -> y = x))), 'max'), 0) AS BIGINT)"
    )
    return f"""
        SELECT {keys},
               n_tokens,
               n_distinct,
               top_token_n,
               top_bigram_n,
               {_frac('n_tokens - n_distinct', 'n_tokens')} AS dup_token_frac,
               {_frac('top_token_n', 'n_tokens')} AS top_token_frac,
               {_frac('top_bigram_n', 'n_tokens - 1')} AS top_bigram_frac
        FROM (
          SELECT {keys},
                 CAST(len(_toks) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(_toks)) AS BIGINT) AS n_distinct,
                 {top.format(arr='_toks')} AS top_token_n,
                 {top.format(arr='_bigrams')} AS top_bigram_n
          FROM (
            SELECT {keys}, _toks, {bigrams} AS _bigrams
            FROM (SELECT {keys}, {toks} AS _toks FROM {table})
          )
        )
    """
