"""BPE tokenizer training: merge rounds as declarative Spark plans.

Byte-pair-encoding training (Sennrich et al. 2016 — the tokenizer-
construction algorithm behind GPT/Llama vocabularies) is an iterative
argmax: count adjacent token pairs over the corpus, merge the most
frequent pair everywhere, repeat. This module runs N rounds with the
corpus never leaving the cluster:

  - pair counting is one explode of within-row adjacent pairs
    (``zip_with`` over the array and its shifted self) + a uniform-key
    hash-agg with map-side combine;
  - the per-round winner is a 1-row aggregate
    ``max(struct(cnt, -ord))``-style argmax (ties break to the
    lexicographically SMALLEST pair, pinned) that joins back as a
    broadcast cross join — no ``collect()`` anywhere, the loop is N
    unrolled declarative rounds;
  - the merge applies corpus-wide as a LEFT FOLD over each token array
    (Spark ``aggregate`` HOF with an array accumulator; DuckDB
    ``list_reduce`` folding into a space-joined string): if the
    accumulator's last token is ``left`` and the next is ``right``,
    replace the tail with the merged token, else append — exactly BPE's
    leftmost-first single-pass application (``a a a`` under merge
    ``(a,a)`` becomes ``aa a``, never ``a aa``, and the fresh merged
    token is not re-merged within the pass — both pinned in tests).
    NOT the string-replace trick: ``replace(' a b ', ' ab ')`` over a
    space-joined row MISSES every other occurrence because adjacent
    matches share the delimiting space (``' a b a b '`` has
    non-overlapping matches only at positions 0 and 2) — a real bug the
    first cut had, caught by the cross-engine fixture;
  - each round's corpus pins via ``plans.materialize.pin``
    (plan depth grows per round otherwise — the connected-components
    lesson).

Tokens must not contain spaces (they come from a whitespace split, so
they can't) — the space-join representation depends on it, and the
operator asserts it cheaply via the join/split round trip in tests.

Output: (round, left, right, pair_count) — the learned merge table,
rounds 1-based in application order. Apply-side (encoding a new corpus
with a learned table) is the same replace chain in one projection.

100-TB shape: each round is scan → within-row pairs → one hash-agg on
uniform (left,right) keys → broadcast of ONE row → projection. The
corpus shuffles ZERO times (only pair counts do); rounds serialize by
construction (BPE is inherently sequential), so wall time is
N × one-aggregation — the published distributed-BPE shape. The
per-round pin keeps lineage flat; `reliable` strategy survives
executor loss mid-training.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.plans.materialize import pin


def _pair_counts(toks: DataFrame) -> DataFrame:
    """(left, right, cnt) over adjacent within-row pairs. Rows with
    fewer than two tokens contribute nothing (and the size guard keeps
    the ANSI slice lengths nonnegative)."""
    pairs = toks.filter(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1), "
                "slice(toks, 2, size(toks) - 1), "
                "(l, r) -> struct(l AS left, r AS right))"
            )
        ).alias("_p")
    ).select("_p.left", "_p.right")
    return pairs.groupBy("left", "right").agg(F.count("*").alias("cnt"))


def _argmax_pair(counts: DataFrame) -> DataFrame:
    """The 1-row winner: max count, ties to lexicographically smallest
    (left, right). Implemented as an order-free aggregate so it stays a
    single reduction: max(struct(cnt, negated-order))."""
    # orderBy+limit(1) would also work but plans a global sort; strings
    # have no negation trick for a single max(struct), so: max cnt
    # first, then min (left, right) among rows at that cnt — two
    # order-free 1-row aggregates joined by the count. An empty counts
    # table yields a NULL aggregate row, filtered out here (that round
    # emits nothing).
    mx = counts.agg(F.max("cnt").alias("cnt"))
    return (
        counts.join(F.broadcast(mx), "cnt")
        .agg(
            F.min(F.struct("left", "right")).alias("_w"),
            F.max("cnt").alias("cnt"),
        )
        .select(
            F.col("_w.left").alias("left"),
            F.col("_w.right").alias("right"),
            "cnt",
        )
        .filter(F.col("left").isNotNull())
    )


def _apply_merge(toks: DataFrame, winner: DataFrame) -> DataFrame:
    """Merge the winner pair corpus-wide: one left fold per row
    (leftmost-first, single pass, the fresh token never re-merges).
    O(n) steps per row; each step's slice+concat copies the accumulator,
    so the row cost is O(n^2) element moves — trivial at document token
    counts, and entirely inside whole-stage codegen."""
    return (
        toks.crossJoin(F.broadcast(winner))
        .select(
            F.expr(
                "aggregate(toks, CAST(array() AS ARRAY<STRING>), "
                "(acc, x) -> CASE WHEN size(acc) > 0 "
                "AND element_at(acc, -1) = left AND x = right "
                "THEN concat(slice(acc, 1, size(acc) - 1), "
                "array(concat(left, right))) "
                "ELSE concat(acc, array(x)) END)"
            ).alias("toks")
        )
    )


def bpe_train(
    df: DataFrame, n_merges: int, toks_col: str = "toks"
) -> DataFrame:
    """Learn ``n_merges`` BPE merge rules over the token-array corpus.

    Returns (round, left, right, pair_count), round 1-based. Rounds with
    an empty corpus (or no adjacent pairs left) emit nothing.
    """
    toks = pin(df.select(F.col(toks_col).alias("toks")))
    out = None
    for rnd in range(1, n_merges + 1):
        winner = _argmax_pair(_pair_counts(toks)).select(
            F.lit(rnd).cast("long").alias("round"),
            "left",
            "right",
            F.col("cnt").alias("pair_count"),
        )
        # winner is NOT pinned: its plan roots at the round's pinned
        # corpus (depth stays flat), it is one row, and the only double
        # evaluation — output union + the merge's broadcast — is a
        # cheap re-agg over materialized partitions. Pinning it was
        # measured as 4 extra job barriers for nothing. The corpus IS
        # pinned per round (the connected-components lesson: the next
        # round's count AND merge both consume it, and lineage would
        # otherwise nest every prior round's fold).
        out = winner if out is None else out.unionByName(winner)
        if rnd < n_merges:
            toks = pin(_apply_merge(toks, winner.select("left", "right")))
    return out


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    toks_col: str = "toks",
    out_col: str = "toks",
) -> DataFrame:
    """Apply a LEARNED merge table to a token-array column — the
    tokenizer's encode side. Merges apply in table order, one
    leftmost-first pass each (exactly how training applied them, so
    ``bpe_encode(corpus, bpe_train(corpus))`` reproduces the training
    corpus's final state — pinned in tests). The merge table is a
    tokenizer ARTIFACT (tiny, driver-side literal), so the whole chain
    compiles into one nested-fold projection: zero joins, zero
    shuffles, whole-stage codegen."""
    # Spark string literals are Hive-style: backslash escapes are live,
    # so escape backslashes BEFORE quotes or a token ending in '\' turns
    # the closing quote into \' (ParseException) and '\b'-like tokens
    # silently become control characters — diverging from the DuckDB
    # twin, whose ''-doubling needs no backslash handling.
    def _lit(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "\\'")

    expr = toks_col
    for left, right in merges:
        l, r = _lit(left), _lit(right)
        expr = (
            f"aggregate({expr}, CAST(array() AS ARRAY<STRING>), "
            f"(acc, x) -> CASE WHEN size(acc) > 0 "
            f"AND element_at(acc, -1) = '{l}' AND x = '{r}' "
            f"THEN concat(slice(acc, 1, size(acc) - 1), array('{l}{r}')) "
            f"ELSE concat(acc, array(x)) END)"
        )
    other = [c for c in df.columns if c != toks_col]
    return df.selectExpr(*other, f"{expr} AS {out_col}")


def sql_bpe_encode(
    table: str, toks_sql: str, merges: list[tuple[str, str]],
    extra_cols: str = "",
) -> str:
    """DuckDB twin of ``bpe_encode``: the same nested list_reduce folds
    over a space-joined accumulator. ``extra_cols`` is a leading
    projection like ``"doc_id, "``."""
    expr = toks_sql
    for left, right in merges:
        l, r = left.replace("'", "''"), right.replace("'", "''")
        expr = (
            f"(CASE WHEN len({expr}) = 0 THEN {expr} ELSE "
            f"string_split(list_reduce({expr}, (acc, x) -> "
            f"CASE WHEN regexp_extract(acc, '([^ ]*)$', 1) = '{l}' "
            f"AND x = '{r}' "
            f"THEN regexp_replace(acc, '[^ ]*$', '') || '{l}{r}' "
            f"ELSE acc || ' ' || x END), ' ') END)"
        )
    return f"SELECT {extra_cols}{expr} AS toks FROM {table}"


def sql_bpe_train(
    table: str, toks_sql: str, n_merges: int
) -> str:
    """DuckDB oracle — the same rounds UNROLLED in one WITH chain (the
    space-join replace has identical left-to-right non-overlapping
    semantics in DuckDB's ``replace``)."""
    def pair_cte(src: str, i: int) -> str:
        # lhs/rhs internally: LEFT/RIGHT are reserved words in DuckDB
        return f"""
        pairs{i} AS (
          SELECT p['l'] AS lhs, p['r'] AS rhs FROM (
            SELECT unnest([{{'l': toks[j], 'r': toks[j + 1]}}
                           for j in range(1, len(toks))]) AS p
            FROM {src}
          )
        ), counts{i} AS (
          SELECT lhs, rhs, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM pairs{i} GROUP BY 1, 2
        ), win{i} AS (
          SELECT CAST({i} AS BIGINT) AS round, lhs, rhs, cnt AS pair_count
          FROM counts{i}
          ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1
        )"""

    def merge_cte(src: str, i: int) -> str:
        # the same left fold: list_reduce's accumulator is the space-
        # joined merged prefix (first element is the init); the last
        # token is inspected/replaced with fixed regexes (no token text
        # ever enters a pattern), then the string splits back to a list
        return f"""
        corpus{i} AS (
          SELECT CASE WHEN len(t.toks) = 0 THEN t.toks ELSE
            string_split(list_reduce(t.toks, (acc, x) ->
              CASE WHEN regexp_extract(acc, '([^ ]*)$', 1) = w.lhs
                        AND x = w.rhs
                   THEN regexp_replace(acc, '[^ ]*$', '') || w.lhs || w.rhs
                   ELSE acc || ' ' || x END), ' ')
          END AS toks
          FROM {src} t CROSS JOIN win{i} w
        )"""

    ctes = [f"corpus0 AS (SELECT {toks_sql} AS toks FROM {table})"]
    for i in range(1, n_merges + 1):
        ctes.append(pair_cte(f"corpus{i - 1}", i))
        if i < n_merges:
            ctes.append(merge_cte(f"corpus{i - 1}", i))
    unions = " UNION ALL ".join(
        f'SELECT round, lhs AS "left", rhs AS "right", pair_count '
        f"FROM win{i}"
        for i in range(1, n_merges + 1)
    )
    return "WITH " + ", ".join(ctes) + " " + unions
