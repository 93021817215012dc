"""Co-visitation pairs: entities that repeatedly share space-time.

``contact_join`` (stjoin.py) finds instantaneous proximity — pairs
within eps meters AND tau seconds, exact. Co-visitation is the
COARSE, repeated-evidence question: which entity pairs appear in the
same (cell, time-bucket) on at least ``min_shared`` DISTINCT
occasions? That's the companionship/convoy-candidate signal of the
published co-location literature — robust to GPS jitter (bucket, not
distance) and to one-off coincidences (the min_shared floor).

Plan shape: distinct (entity, cell, bucket) visits — one uniform
hash-agg — then the bucket-blocked self-join (equi on the composite
(cell, bucket) key, ``a < b`` orientation for single emission), then
one pair hash-agg counting DISTINCT shared buckets. The visit table
feeds both join branches, so it is eagerly pinned (CLAUDE.md rule).

The skew story is load-bearing: a crowded bucket (train station at
9am) contributes |B|² candidate pairs, and at web scale one such
bucket dwarfs the rest of the join combined. The required
``max_bucket_users`` gate drops buckets with more than that many distinct entities BEFORE
pairing — the standard move in the co-location literature (Crandall
et al. 2010 weight co-occurrences by inverse crowd size; a crowded
place carries ~zero companionship evidence), so the cap is a
SEMANTIC parameter with a denial-of-skew side effect, not a silent
truncation: dropped buckets are dropped identically on both engines,
and the oracle's generation rule exercises the cut. Within kept
buckets the candidate count is bounded by cap² per bucket — uniform
by construction.

Exactness: everything is BIGINT counts over natural keys; time
buckets are exact integer microseconds (``unix_micros`` /
``epoch_us`` — subsecond timestamps never touch a double or an
engine-specific second-truncation). Integer division is trunc on
Spark and floor on DuckDB — identical for the post-1970 timestamps
this operates on (pre-epoch data would need an explicit FLOOR).
NULL entity/position/timestamp rows drop on ingest.

The DuckDB twin deliberately runs the INDEPENDENT plan — brute-force
entity-pair cross join over per-entity visit SETS with list
intersection — so the bucket-blocked join's completeness (and the
crowd gate's placement BEFORE pairing) is what the gate checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from core_spark.plans.materialize import pin


def co_visits(
    df: DataFrame,
    cell_size: float,
    bucket_seconds: int,
    max_bucket_users: int,
    min_shared: int = 2,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """(a, b, shared_buckets) for entity pairs a < b sharing at least
    ``min_shared`` distinct (cell, bucket) visits, crowded buckets
    (> max_bucket_users distinct entities) excluded from evidence."""
    g = float(cell_size)
    if not g > 0:
        raise ValueError(f"cell_size must be > 0, got {cell_size}")
    b = int(bucket_seconds)
    if b < 1:
        raise ValueError(f"bucket_seconds must be >= 1, got {bucket_seconds}")
    k = int(min_shared)
    if k < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    cap = int(max_bucket_users)
    if cap < 2:
        raise ValueError(f"max_bucket_users must be >= 2, got {cap}")

    visits = (
        df.selectExpr(
            f"{entity_col} AS _e",
            f"CAST(FLOOR(CAST({lat_col} AS DOUBLE) / {g!r}) AS BIGINT)"
            " AS _ci",
            f"CAST(FLOOR(CAST({lon_col} AS DOUBLE) / {g!r}) AS BIGINT)"
            " AS _cj",
            # exact integer µs bucketing: subsecond timestamps never hit
            # a double or an engine-specific truncation (events carry µs).
            # The CAST lifts TIMESTAMP_NTZ parquet columns via the session
            # zone — the repo pins every session to UTC, matching the
            # twin's naive epoch_us.
            f"unix_micros(CAST({ts_col} AS TIMESTAMP))"
            f" DIV {b * 1_000_000} AS _bt",
        )
        .where("_e IS NOT NULL AND _ci IS NOT NULL AND _cj IS NOT NULL"
               " AND _bt IS NOT NULL")
        .distinct()
    )
    kept = visits.groupBy("_ci", "_cj", "_bt").agg(
        F.count(F.lit(1)).alias("_n")
    ).where(F.col("_n") <= cap).drop("_n")
    visits = pin(visits.join(kept, ["_ci", "_cj", "_bt"]))
    a = visits.selectExpr("_e AS a", "_ci", "_cj", "_bt")
    bb = visits.selectExpr("_e AS b", "_ci", "_cj", "_bt")
    return (
        a.join(bb, ["_ci", "_cj", "_bt"])
        .where("a < b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_buckets"))
        .where(F.col("shared_buckets") >= k)
    )


def sql_co_visits(
    points_sql: str,
    cell_size: float,
    bucket_seconds: int,
    max_bucket_users: int,
    min_shared: int = 2,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> str:
    """DuckDB oracle twin on the INDEPENDENT plan: per-entity visit
    sets, brute-force pair cross join, list-intersection counting."""
    g = float(cell_size)
    b = int(bucket_seconds)
    k = int(min_shared)
    cap = int(max_bucket_users)
    return f"""
        WITH visits AS (
          SELECT DISTINCT {entity_col} AS _e,
                 CAST(FLOOR(CAST({lat_col} AS DOUBLE) / {g!r}) AS BIGINT)
                   AS _ci,
                 CAST(FLOOR(CAST({lon_col} AS DOUBLE) / {g!r}) AS BIGINT)
                   AS _cj,
                 epoch_us({ts_col}) // {b * 1_000_000} AS _bt
          FROM ({points_sql}) src
          WHERE {entity_col} IS NOT NULL AND {ts_col} IS NOT NULL
            AND {lat_col} IS NOT NULL AND {lon_col} IS NOT NULL
        ),
        crowd AS (
          SELECT _ci, _cj, _bt FROM visits
          GROUP BY _ci, _cj, _bt HAVING COUNT(*) > {cap}
        ),
        sets AS (
          -- visits is already row-distinct; scalar-encode each visit
          -- (list_intersect over nested lists is unimplemented)
          SELECT _e, LIST(_ci || ':' || _cj || ':' || _bt) AS vset
          FROM visits v
          WHERE NOT EXISTS (SELECT 1 FROM crowd c
            WHERE c._ci = v._ci AND c._cj = v._cj AND c._bt = v._bt)
          GROUP BY _e
        )
        SELECT s1._e AS a, s2._e AS b,
               CAST(LEN(LIST_INTERSECT(s1.vset, s2.vset)) AS BIGINT)
                 AS shared_buckets
        FROM sets s1, sets s2
        WHERE s1._e < s2._e
          AND LEN(LIST_INTERSECT(s1.vset, s2.vset)) >= {k}
    """
