"""Change-data-capture merge — MERGE INTO as a declarative plan.

The warehouse ingestion primitive the table-format sources
(deltalake/iceberg) consume downstream: apply a changelog of
insert/update/delete operations to a base snapshot and produce the
next snapshot. This is SQL MERGE INTO / SCD type 1 (url_history is
the type-2 sibling that KEEPS history; this one resolves to current
state only).

Semantics:
- changes carry (key, op ∈ {'I','U','D'}, seq, val); per key the
  change with the HIGHEST seq wins — ties broken by (op, val) via
  the struct-max so the result is total-order deterministic even on
  malformed feeds (a well-formed feed has unique seq per key; the
  tie-break just refuses to be nondeterministic about garbage).
- winning op D ⇒ the key is absent from the output, whether or not
  it existed in base (idempotent deletes — replayed feeds are the
  norm in CDC).
- winning op I/U ⇒ the key carries the change's val (upsert: I vs U
  are not distinguished on apply — the distinction matters to
  auditing, not to state; both engines treat them identically).
- keys untouched by the changelog keep their base val.

Exactness: pure key/BIGINT plumbing — no floats anywhere.

Scale shape: ONE hash-agg collapses the changelog to its per-key
winner (max(struct(seq, op, val)) — the standing argmax idiom),
then ONE full-outer equi-join against base on the uniform key. The
changelog is typically ≪ base (a day's changes vs the corpus): AQE
broadcasts the collapsed winner table when it fits; neither side is
ever windowed.

The DuckDB twin resolves the winner with ROW_NUMBER ORDER BY
(seq DESC, op DESC, val DESC) — the independent argmax formulation
— and the merge with a FULL OUTER + COALESCE of the same shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_OPS = ("I", "U", "D")


def _collapse(c: DataFrame) -> DataFrame:
    """(k, op, seq, cval) winners of a normalized change set — the
    per-key struct-max."""
    return (
        c.groupBy("k")
        .agg(F.expr(
            "max(named_struct('seq', seq, 'op', op, 'v', cval))"
        ).alias("w"))
        .selectExpr("k", "w.op AS op", "w.seq AS seq", "w.v AS cval")
    )


def cdc_merge(
    base: DataFrame,
    changes: DataFrame,
    key_col: str = "key",
    val_col: str = "val",
) -> DataFrame:
    """Rows (key, val): the next snapshot after applying ``changes``
    (key, op, seq, val) to ``base`` (key, val). NULL keys dropped on
    both inputs; invalid ops raise at plan time via an in-plan
    guard (raise_error arm — malformed feeds must fail loudly, not
    merge silently)."""
    b = base.where(F.col(key_col).isNotNull()).selectExpr(
        f"{key_col} AS k", f"{val_col} AS bval"
    )
    ops = ", ".join(f"'{o}'" for o in _OPS)
    # NULL seq dropped on ingest: an unsequenced change cannot be
    # ordered, and a NULL field inside the struct-max would ride
    # engine-dependent comparison semantics
    c = changes.where(
        F.col(key_col).isNotNull() & F.col("seq").isNotNull()
    ).selectExpr(
        f"{key_col} AS k",
        f"CASE WHEN op IN ({ops}) THEN op"
        " ELSE raise_error(concat('cdc_merge: invalid op ', op))"
        " END AS op",
        "CAST(seq AS BIGINT) AS seq",
        f"{val_col} AS cval",
    )
    winner = _collapse(c).selectExpr(
        "k AS wk", "op AS wop", "cval AS wval"
    )
    return (
        b.join(winner, F.col("k") == F.col("wk"), "full_outer")
        .where("wop IS NULL OR wop <> 'D'")
        .selectExpr(
            "COALESCE(k, wk) AS key",
            "CASE WHEN wop IS NOT NULL THEN wval ELSE bval END AS val",
        )
    )


def sql_cdc_merge(
    base_sql: str,
    changes_sql: str,
    key_col: str = "key",
    val_col: str = "val",
) -> str:
    """DuckDB twin: ROW_NUMBER winner + FULL OUTER COALESCE merge —
    the independent argmax formulation. Feeds are assumed valid (the
    Spark side's raise_error guard has no SQL twin; the oracle runs
    well-formed fixtures)."""
    return f"""
        WITH cdc_base AS (
            SELECT {key_col} AS k, {val_col} AS bval
            FROM ({base_sql}) s WHERE {key_col} IS NOT NULL
        ),
        cdc_chg AS (
            SELECT {key_col} AS k, op, CAST(seq AS BIGINT) AS seq,
                   {val_col} AS cval
            FROM ({changes_sql}) s
            WHERE {key_col} IS NOT NULL AND seq IS NOT NULL
        ),
        cdc_winner AS (
            SELECT k AS wk, op AS wop, cval AS wval
            FROM (
                SELECT k, op, cval,
                       ROW_NUMBER() OVER (PARTITION BY k
                           ORDER BY seq DESC, op DESC, cval DESC)
                           AS rn
                FROM cdc_chg
            ) WHERE rn = 1
        )
        SELECT COALESCE(k, wk) AS key,
               CASE WHEN wop IS NOT NULL THEN wval ELSE bval END AS val
        FROM cdc_base FULL OUTER JOIN cdc_winner
            ON cdc_base.k = cdc_winner.wk
        WHERE wop IS NULL OR wop <> 'D'
    """
