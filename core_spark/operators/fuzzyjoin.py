"""Fuzzy string self-join: deletion-neighborhood blocking + exact verify.

Typo-level near-duplicates — retyped titles, off-by-one-character URLs,
OCR'd anchors — sit below every token-level dedup's radar: one deleted
character changes the whole token, so shingle/MinHash/Jaccard machinery
sees two unrelated strings. The classic tool is an edit-distance join,
and the classic scale problem is that edit distance has no direct
equi-join key.

The FastSS / SymSpell construction (Bocek, Hunt, Stiller 2007, "Fast
Similarity Search in Large Dictionaries") supplies one: let ``U_d(s)``
be the set of strings reachable from ``s`` by AT MOST ``d`` single-
character deletions (including ``s`` itself). Then

    ed(u, v) <= d  ⟺  U_d(u) ∩ U_d(v) ≠ ∅

so exploding every string into its deletion variants and equi-joining
on the variant is a COMPLETE candidate generator — no false negatives,
and false positives are killed by one exact ``levenshtein`` verify on
the candidate pairs only. The blowup is the knob: |U_1| = len+1,
|U_2| ~ len²/2 — fine for the short strings this is for (titles, URLs,
anchors), not for documents (use span/minhash dedup there).

Plan shape: variant table built by a JVM higher-order transform (no
Python anywhere), pinned once (self-join — CLAUDE.md rule), one
uniform-key equi shuffle on the variant string, pair dedup via one
DISTINCT hash-agg on (id_a, id_b), then the built-in ``levenshtein``
verify map-side. A pair sharing many variants reaches the DISTINCT as
a few short rows — candidate volume is bounded by the variant fanout,
never by |table|².

Skew caveat (documented contract): identical strings all share the
variant key ``s`` itself, so a boilerplate title repeated across a
million pages becomes one mega-key. Exact-duplicate strings should be
collapsed FIRST (dedup_exact on the title column) and re-expanded
after — same routing discipline as weburl's mega-host cap.

Portability caveat: Spark's ``levenshtein`` counts CODEPOINTS, DuckDB's
counts BYTES — they diverge on non-ASCII (`café`→`cafe` is 1 vs 2).
Oracle-compared fixtures must stay ASCII; the pytest battery pins the
divergence so nobody re-discovers it.

No reference counterpart (specvital/core has no similarity subsystem);
the algorithm is the published FastSS formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from core_spark.plans.materialize import pin


def deletion_variants_expr(col: str, max_dist: int) -> str:
    """SQL: ``U_d(col)`` — every string reachable by at most ``max_dist``
    single-character deletions, deduplicated, including ``col`` itself.
    Pure JVM higher-order functions; array size ~ C(len, d)."""
    if max_dist < 1:
        raise ValueError(f"max_dist must be >= 1, got {max_dist}")
    frontier = f"array({col})"
    out = f"array({col})"
    for _ in range(max_dist):
        frontier = (
            f"array_distinct(flatten(transform({frontier}, v ->"
            " transform(sequence(1, length(v)), i ->"
            " concat(substr(v, 1, i - 1), substr(v, i + 1, length(v)))))))"
        )
        out = f"array_distinct(concat({out}, {frontier}))"
    return out


def fuzzy_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "s",
    max_dist: int = 1,
) -> DataFrame:
    """All pairs (id_a < id_b) whose ``text_col`` values are within
    edit distance ``max_dist``. Output (id_a, id_b, dist) — ``dist``
    is the exact edit distance (0 means identical strings under
    distinct ids; NULL strings never pair). Complete by the FastSS
    guarantee; exact by the levenshtein verify."""
    variants = pin(
        df.where(f"{id_col} IS NOT NULL AND {text_col} IS NOT NULL")
        .selectExpr(
            f"{id_col} AS _fid",
            f"{text_col} AS _fs",
            f"explode({deletion_variants_expr(text_col, max_dist)})"
            " AS _fkey",
        )
    )
    a = variants.selectExpr(
        "_fkey", "_fid AS id_a", "_fs AS _sa"
    )
    b = variants.selectExpr(
        "_fkey", "_fid AS id_b", "_fs AS _sb"
    )
    cand = (
        a.join(b, "_fkey")
        .where("id_a < id_b")
        .select("id_a", "id_b", "_sa", "_sb")
        .distinct()
    )
    return (
        cand.selectExpr(
            "id_a", "id_b",
            "CAST(levenshtein(_sa, _sb) AS BIGINT) AS dist",
        )
        .where(f"dist <= {int(max_dist)}")
    )


def sql_fuzzy_pairs(table_sql: str, max_dist: int) -> str:
    """DuckDB twin via the INDEPENDENT brute-force plan: every ordered
    pair, exact levenshtein, no blocking anywhere — so the FastSS
    completeness claim itself is what the cross-engine gate checks.
    ``table_sql`` must yield columns (id, s); compared strings must be
    ASCII (byte-vs-codepoint caveat in the module docstring)."""
    return f"""
        WITH t AS ({table_sql})
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        FROM t a JOIN t b ON a.id < b.id
        WHERE a.s IS NOT NULL AND b.s IS NOT NULL
          AND levenshtein(a.s, b.s) <= {int(max_dist)}
    """
