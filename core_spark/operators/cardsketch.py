"""Mergeable cardinality sketch (linear counting) with a deterministic gate.

At 10^12 rows, per-group COUNT(DISTINCT key) shuffles every distinct key;
the sketch answer is a fixed-size bitmap per group: hash each key into m
buckets, count the buckets hit (V), estimate distinct ≈ −m·ln(1 − V/m)
(Whang et al. 1990, linear counting). The bitmap is MERGEABLE (bitwise
OR), so partial sketches combine map-side and across corpus shards /
days — the property exact distinct counting fundamentally lacks.

What this module gates EXACTLY: the bucket-hit count V, computed from
the portable 60-bit md5 — deterministic and bit-identical in DuckDB.
The ln-based ESTIMATE is deliberately NOT a compared value (CLAUDE.md
portability: no transcendentals cross engines); ``estimate_distinct``
computes it driver-side from the gated integers. Spark's native
approx_count_distinct (HLL++) is the production alternative but is not
cross-engine reproducible, hence not the oracled operator — same
trade-off as ann_ivf vs ann_topk.

Second sketch in the family: HyperLogLog (Flajolet et al. 2007).
Linear counting saturates once V approaches m (its estimate diverges at
V == m), so a fixed-size bitmap sized for 10^6 distinct is useless at
10^9; HLL's registers track max leading-zero RANKS, giving ~1.04/sqrt(m)
relative error at ANY cardinality from the same fixed m-register state.
The state here is exactly portable: the 60-bit md5 splits into b bucket
bits (h % m) and a (60-b)-bit rank source (h DIV m); rank uses the
repo's bin()-length floor-log2 (qsketch pattern); registers are a
per-(group, bucket) MAX — mergeable under ANY partitioning, map-side
combinable, and shard-unionable, like the bitmap. The oracled values
are all exact integers: the register fingerprint (sorted bucket:reg
string, md5'd), the registers-hit count, and the harmonic sum
pre-scaled by 2^(W+1) so it is a BIGINT (W = 60-b rank-source bits;
each register contributes 2^(W+1-reg), empties 2^(W+1); at b=8 the sum
is bounded by 2^61 — no float ever crosses an engine). The 1/x and ln
steps live in ``hll_estimate`` driver-side, with the standard
small-range linear-counting correction.

No reference counterpart (specvital/core has no sketch subsystem).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

_SALT = ":lc"


def _bucket(key_sql: str, m: int, dialect: str) -> str:
    if dialect == "spark":
        return (
            f"CAST(conv(substr(md5(CAST({key_sql} AS STRING) || '{_SALT}'),"
            f" 1, 15), 16, 10) AS BIGINT) % {m}"
        )
    return (
        f"('0x' || substr(md5(CAST({key_sql} AS VARCHAR) || '{_SALT}'),"
        f" 1, 15))::BIGINT % {m}"
    )


def distinct_sketch(
    df: DataFrame,
    group_col: str,
    key_sql: str,
    m: int = 4096,
) -> DataFrame:
    """(group, n_rows, n_distinct_exact, lc_buckets_hit).

    ``n_distinct_exact`` rides along at fixture scale so the sketch's
    accuracy is VISIBLE in the gated data; at production scale you drop
    it and keep only the mergeable bucket count.
    """
    bucket = _bucket(key_sql, m, "spark")
    return (
        df.select(
            F.col(group_col),
            F.expr(key_sql).alias("_k"),
            F.expr(bucket).alias("_b"),
        )
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("_k").alias("n_distinct_exact"),
            F.countDistinct("_b").alias("lc_buckets_hit"),
        )
    )


def sql_distinct_sketch(
    table: str, group_col: str, key_sql: str, m: int = 4096
) -> str:
    """DuckDB oracle twin (same md5-bucket definition)."""
    bucket = _bucket(key_sql, m, "duckdb")
    return f"""
        SELECT {group_col},
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT {key_sql}) AS BIGINT)
                 AS n_distinct_exact,
               CAST(COUNT(DISTINCT {bucket}) AS BIGINT) AS lc_buckets_hit
        FROM {table}
        GROUP BY {group_col}
    """


def estimate_distinct(buckets_hit: int, m: int = 4096) -> float:
    """Linear-counting estimate from the gated integer (driver-side —
    ln never enters a compared value). Saturated sketch (V == m) has no
    finite estimate; callers should grow m."""
    if buckets_hit >= m:
        return float("inf")
    return -m * math.log(1.0 - buckets_hit / m)


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

_HLL_SALT = ":hll"
_HLL_BITS = 60  # the portable md5-slice width shared repo-wide


def _hll_exprs(key_sql: str, b: int, dialect: str) -> tuple[str, str]:
    """(bucket_expr, rank_expr) from the 60-bit md5: low b bits bucket,
    the remaining W = 60-b bits are the rank source (leading-zero count
    + 1, via the portable bin()-length floor-log2)."""
    m, w_bits = 1 << b, _HLL_BITS - b
    if dialect == "spark":
        h = (f"CAST(conv(substr(md5(CAST({key_sql} AS STRING) || "
             f"'{_HLL_SALT}'), 1, 15), 16, 10) AS BIGINT)")
    else:
        h = (f"('0x' || substr(md5(CAST({key_sql} AS VARCHAR) || "
             f"'{_HLL_SALT}'), 1, 15))::BIGINT")
    bucket = f"({h}) % {m}"
    w = f"(({h}) // {m})" if dialect == "duckdb" else f"(({h}) DIV {m})"
    rank = (f"CASE WHEN {w} = 0 THEN {w_bits + 1} "
            f"ELSE {w_bits} - (length(bin({w})) - 1) END")
    return bucket, rank


def hll_registers(
    df: DataFrame, group_col: str, key_sql: str, b: int = 8
) -> DataFrame:
    """Sparse register table (group, bucket, reg) — THE mergeable state.

    A renamed view of :func:`hll_partials` minus the row count (ONE
    hash/rank/agg implementation to keep in sync, not two). One
    uniform-key hash-agg (map-side MAX combine); at 100 TB this is the
    only shuffle and it carries at most m rows per group per partition.
    Absent buckets mean reg 0.
    """
    return hll_partials(df, group_col, key_sql, b).select(
        group_col,
        F.col("_b").alias("bucket"),
        F.col("_reg").alias("reg"),
    )


def merge_hll_registers(
    *register_dfs: DataFrame, group_col: str | None = None
) -> DataFrame:
    """sketch(A ∪ B) == merge(sketch(A), sketch(B)): per-register MAX.

    ``group_col`` is inferred by exclusion only when the inputs carry
    exactly (group, bucket, reg); pass it explicitly otherwise.
    """
    it = iter(register_dfs)
    out = next(it)
    for d in it:
        out = out.unionByName(d)
    if group_col is None:
        extra = [c for c in out.columns if c not in ("bucket", "reg")]
        if len(extra) != 1:
            raise ValueError(
                "merge_hll_registers: cannot infer the group column from "
                f"columns {out.columns} — pass group_col explicitly")
        group_col, = extra
    return out.groupBy(group_col, "bucket").agg(F.max("reg").alias("reg"))


def hll_partials(
    df: DataFrame, group_col: str, key_sql: str, b: int = 8
) -> DataFrame:
    """(group, _b, _reg, _n): registers + row counts — the mergeable
    partial a shard/day contributes. Merging = MAX(_reg) + SUM(_n) per
    (group, _b), which is exactly what a re-application of the same
    hash-agg over unioned partials computes."""
    bucket, rank = _hll_exprs(key_sql, b, "spark")
    return (
        df.select(
            F.col(group_col),
            F.expr(bucket).alias("_b"),
            F.expr(rank).cast("long").alias("_rank"),
        )
        .groupBy(group_col, "_b")
        .agg(F.max("_rank").alias("_reg"), F.count("*").alias("_n"))
    )


def hll_sketch_from_partials(
    partials: DataFrame, group_col: str, b: int = 8
) -> DataFrame:
    """Final rollup of a (group, _b, _reg, _n) register table into the
    oracled sketch row — see :func:`hll_sketch` for the column
    contract. Input registers must already be merged (one row per
    (group, _b))."""
    m, w_bits = 1 << b, _HLL_BITS - b
    return partials.groupBy(group_col).agg(
        F.sum("_n").alias("n_rows"),
        F.count("*").alias("hll_regs_hit"),
        (
            F.sum(F.expr(f"SHIFTLEFT(CAST(1 AS BIGINT), {w_bits + 1} - _reg)"))
            + (F.lit(m) - F.count("*"))
            * F.lit(1 << (w_bits + 1)).cast("long")
        ).alias("hll_sum_scaled"),
        F.md5(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(_b, _reg))),"
                       " s -> concat(s._b, ':', s._reg))"),
                ",",
            )
        ).alias("hll_reg_fp"),
    )


def hll_sketch(
    df: DataFrame, group_col: str, key_sql: str, b: int = 8
) -> DataFrame:
    """(group, n_rows, hll_regs_hit, hll_sum_scaled, hll_reg_fp) — the
    sketch state as exact integers + a deterministic fingerprint.

    ``hll_sum_scaled`` = sum over ALL m registers of 2^(W+1 - reg)
    (empty registers contribute 2^(W+1)) — the HLL harmonic denominator
    pre-scaled to a BIGINT so the oracle compares it exactly; at b=8 it
    is bounded by 2^61. ``hll_reg_fp`` pins the registers themselves
    (sorted "bucket:reg" string, md5'd; empties implied). Composition:
    :func:`hll_partials` → :func:`hll_sketch_from_partials`, so the
    same rollup serves one batch and a shard merge identically.
    """
    return hll_sketch_from_partials(
        hll_partials(df, group_col, key_sql, b), group_col, b)


def sql_hll_sketch(
    table: str, group_col: str, key_sql: str, b: int = 8
) -> str:
    """DuckDB oracle twin — same bucket/rank derivation, same exact
    integers, string_agg ORDER BY for the fingerprint."""
    m, w_bits = 1 << b, _HLL_BITS - b
    bucket, rank = _hll_exprs(key_sql, b, "duckdb")
    return f"""
        WITH regs AS (
          SELECT {group_col}, {bucket} AS _b,
                 MAX({rank}) AS _reg, COUNT(*) AS _n
          FROM {table}
          GROUP BY {group_col}, {bucket}
        )
        SELECT {group_col},
               CAST(SUM(_n) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS hll_regs_hit,
               CAST(SUM(CAST(1 AS BIGINT) << ({w_bits + 1} - _reg))
                    + ({m} - COUNT(*))
                      * (CAST(1 AS BIGINT) << {w_bits + 1}) AS BIGINT)
                 AS hll_sum_scaled,
               md5(string_agg(_b || ':' || _reg, ',' ORDER BY _b))
                 AS hll_reg_fp
        FROM regs
        GROUP BY {group_col}
    """


def hll_estimate(sum_scaled: int, regs_hit: int, b: int = 8) -> float:
    """HLL estimate from the gated integers (driver-side — the division
    and ln never enter a compared value). Standard small-range
    correction: below 2.5m with empty registers, linear counting on the
    register occupancy is more accurate than the raw harmonic mean."""
    m, w_bits = 1 << b, _HLL_BITS - b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = alpha * m * m * float(1 << (w_bits + 1)) / float(sum_scaled)
    if raw <= 2.5 * m and regs_hit < m:
        return m * math.log(m / (m - regs_hit))
    return raw
