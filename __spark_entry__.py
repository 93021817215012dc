"""Driver contract for the spark-graft builder (PySpark target).

Every operator family from SURVEY.md §2 (reference parity + graft geospatial
G1-G9 + training-data ops) is represented by a ``REGISTRY`` row: its Spark
builder plus a DuckDB oracle, or the reason it is rows-only. ``queries()`` and
``oracle_sql()`` are derived from that one table. The driver runs both at
sf=0.01 and compares row-count + schema + order-insensitive value hash, so
every aggregate/computed column is aliased identically on both sides.

Geo queries derive deterministic (lat, lon) from ``doc_id`` with pure
integer/double arithmetic (portable bit-for-bit across Spark and DuckDB);
hexgrid cell ids are THE SAME generated SQL on both engines
(core_spark/functions/hexgrid.py). Operators that need Python (STRtree PIP,
SimHash stage) are checked against *independent* SQL plans (ray-cast parity
join) or run rows-only where no SQL equivalent exists.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from core_spark.data.polygons import edges_sql_values
from core_spark.functions import hexgrid as hx
from core_spark.functions import textstats as ts
from core_spark.functions.geoparse import sql_dec_mentions
from core_spark.functions.repetition import duck_rep_sql
from core_spark.functions.textstats import duck_stop_count, duck_token_count
from core_spark.operators import dedup as dd
from core_spark.operators import heavyhitters as hh
from core_spark.operators import linkgraph as lg
from core_spark.operators import lmscore as lms
from core_spark.operators import semdedup as sdd
from core_spark.operators.asof import sql_asof_join
from core_spark.operators.bm25 import sql_bm25_topk
from core_spark.operators.bpe import sql_bpe_encode, sql_bpe_train
from core_spark.operators.cardsketch import sql_distinct_sketch
from core_spark.operators.decontaminate import (
    sql_contaminated_docs,
    sql_decontaminate_spans,
)
from core_spark.operators.dsir import sql_importance_weights
from core_spark.operators.history import sql_scd2_intervals
from core_spark.operators.knn import sql_knn
from core_spark.operators.packing import sql_pack_sequences
from core_spark.operators.paradedup import sql_dedup_paragraphs
from core_spark.operators.pip import sql_pip_parity_join
from core_spark.operators.qsketch import sql_group_quantile_sketch
from core_spark.operators.quantiles import sql_exact_group_quantiles
from core_spark.operators.rangejoin import sql_range_join_pairs
from core_spark.operators.sampling import (
    keep_predicate,
    sql_mixture_sample,
    sql_sample_quota,
)
from core_spark.operators.sessions import sql_sessionize
from core_spark.operators.spandedup import sql_dedup_substrings
from core_spark.operators.termstats import sql_distinctive_terms
from core_spark.operators.tiles import sql_compact_cells
from core_spark.operators.urlfilter import sql_filter_blocked_hosts
from core_spark.operators.weburl import (
    sql_canonicalize, sql_cap_per_host, sql_gate_hosts_by_quality,
    sql_latest_snapshot,
)
from core_spark.operators.zorder import sql_zorder_bucket_stats
from core_spark.plans.materialize import pin

# ---------------------------------------------------------------------------
# Shared fragments
# ---------------------------------------------------------------------------

# deterministic synthetic coordinates per document — pure portable arithmetic
LAT_EXPR = "CAST((doc_id * 37) % 170 AS DOUBLE) - 85.0 + 0.25"
LON_EXPR = "CAST((doc_id * 53) % 350 AS DOUBLE) - 175.0 + 0.5"

# kNN probe points (moderate latitudes so the k-ring completeness bound holds)
KNN_QUERIES = [
    (0, 40.7128, -74.0060),
    (1, 35.6895, 139.6917),
    (2, -23.5505, -46.6333),
    (3, 51.5072, -0.1276),
    (4, -33.8688, 151.2093),
    (5, 1.3521, 103.8198),
]
KNN_K = 5
KNN_RES = 1
KNN_RING = 4

N_POLYGONS = 96


def _docs(spark: SparkSession, sf_dir: str, wide: bool = True) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # The fixture is a single-file table, so the scan is a few-task stage;
    # wide=True rebalances to the executor pool for compute-heavy work
    # (Python parse kernels AND md5-heavy JVM stages: dedup_minhash went
    # 5s -> 33s when run narrow). wide=False is the opt-in for provably
    # cheap scan-centric queries, where the repartition is a measured
    # ~0.5-1s of pure overhead (geoparse_dec 1.2s -> 0.37s at sf0.1).
    # The asymmetry sets the default: narrow saves ~0.7s on cheap queries
    # but costs 10-30s on heavy ones. At real scale the table has many
    # files/row-groups and the branch never fires (scan pushdown kept).
    if wide:
        n = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < n:
            df = df.repartition(n)
    return df


def _points(spark: SparkSession, sf_dir: str, wide: bool = True) -> DataFrame:
    return _docs(spark, sf_dir, wide=wide).selectExpr(
        "doc_id", f"{LAT_EXPR} AS lat", f"{LON_EXPR} AS lon", "lang"
    )


_POINTS_SQL = (
    f"SELECT doc_id, {LAT_EXPR} AS lat, {LON_EXPR} AS lon, lang FROM documents"
)


def _knn_queries_values() -> str:
    rows = ", ".join(f"({q}, {la!r}, {lo!r})" for q, la, lo in KNN_QUERIES)
    return f"VALUES {rows}"


# ---------------------------------------------------------------------------
# Query implementations (Spark side)
# ---------------------------------------------------------------------------

def q_tile_assign(spark, sf_dir):
    """G3: per-doc hexgrid cell ids at res 5/7/9 — pure JVM Column arithmetic
    (hexgrid.with_cells)."""
    from core_spark.operators.tiles import assign_tiles

    return assign_tiles(
        _points(spark, sf_dir), resolutions=(5, 7, 9)
    ).select("doc_id", "h3_r5", "h3_r7", "h3_r9")


def q_tile_parent_rollup(spark, sf_dir):
    """G3 hierarchy: r7 -> parent == exact aperture-7 up-aggregation."""
    from core_spark.operators.tiles import assign_tiles, rollup_tiles

    tiled = assign_tiles(_points(spark, sf_dir), resolutions=(7,))
    return (
        rollup_tiles(tiled, "h3_r7", 1)
        .withColumnRenamed("h3_r7_p", "h3_r6")
        .groupBy("h3_r6")
        .count()
        .withColumnRenamed("count", "doc_count")
    )


def q_zonal_rollup(spark, sf_dir):
    """G7/A5: per-tile doc count + per-language counts at res 5 (two-phase)."""
    from pyspark.sql import functions as F

    from core_spark.operators.tiles import assign_tiles

    pts = assign_tiles(_points(spark, sf_dir), resolutions=(5,))
    return pts.groupBy("h3_r5", "lang").agg(F.count("*").alias("n"))


def q_pip_join(spark, sf_dir):
    """G5: broadcast STRtree + ray-cast PIP join (checked against an
    independent SQL ray-cast parity plan in the oracle)."""
    from core_spark.data.polygons import admin_polygons
    from core_spark.operators.pip import pip_join

    pts = _points(spark, sf_dir).withColumnRenamed("doc_id", "pt_id")
    return (
        pip_join(pts, admin_polygons(N_POLYGONS))
        .filter("admin_id IS NOT NULL")
        .selectExpr("pt_id", "admin_id")
    )


def q_knn(spark, sf_dir):
    """G6: k-ring kNN, provably complete at (res=1, ring=4) for these probes.

    Output excludes dist_m: trig is not bit-portable across engines
    (.claude/skills/verify gotcha); ordering is robust because lattice
    distances are well separated.
    """
    from core_spark.operators.knn import knn_adaptive
    from core_spark.operators.tiles import assign_tiles

    # NO eager checkpoint on the 800k-row tiled docs (round-4 change): with
    # max_rounds=1 the docs plan has exactly ONE consumer in the common
    # path — knn_adaptive checkpoints the (tiny) ring-join output, the
    # remainder anti-join never touches docs, and the brute-force fallback
    # is gated on a non-empty remainder (almost never fires; recomputing
    # the cheap scan+cell-steps plan in that rare case beats always paying
    # a full-corpus materialization, which measured 6-15s of the query).
    docs = assign_tiles(_points(spark, sf_dir), resolutions=(KNN_RES,))
    queries = spark.createDataFrame(
        [(q, la, lo) for q, la, lo in KNN_QUERIES],
        "query_id bigint, qlat double, qlon double",
    )
    # exact regardless of data density: ring pass keeps provably-complete
    # queries; stragglers (sparse sf where the 5th neighbor exceeds the
    # proven radius) fall through to a distributed brute-force pass, so the
    # result always matches the brute-force oracle instead of relying on the
    # conservative bound happening to hold
    return knn_adaptive(
        docs, queries, k=KNN_K, res=KNN_RES, ring=KNN_RING, max_rounds=1
    ).selectExpr("query_id", "rank", "doc_id")


def q_geoparse_dec(spark, sf_dir):
    """G2: decimal-coordinate extraction via the shared regex — the mention
    text is synthesized portably (integer printf only), then parsed back."""
    lats, lons = sql_dec_mentions("mention_text")
    return _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id",
        "concat('located at ', CAST(doc_id % 90 AS STRING), '.1234', ', -',"
        " CAST(doc_id % 179 AS STRING), '.5678', ' nearby') AS mention_text",
    ).selectExpr(
        "doc_id",
        f"CAST({lats}[0] AS DOUBLE) AS mlat",
        f"CAST({lons}[0] AS DOUBLE) AS mlon",
    )


def q_detect_cascade(spark, sf_dir):
    """D1-D8 parity: priority-ordered content-matcher cascade with early
    return — first hit wins, exactly the reference's detector discipline
    (pkg/parser/detection/detector.go:42-78)."""
    cascade = """
    CASE
      WHEN text LIKE '%spark%' AND text LIKE '%stream%' THEN 'streaming'
      WHEN text LIKE '%spark%' THEN 'batch'
      WHEN text LIKE '%vector%' THEN 'vector'
      WHEN text LIKE '%window%' OR text LIKE '%merge%' THEN 'analytic'
      ELSE 'unknown'
    END
    """
    return (
        _docs(spark, sf_dir, wide=False)
        .selectExpr("doc_id", f"{cascade} AS framework")
        .groupBy("framework")
        .count()
        .withColumnRenamed("count", "n_docs")
    )


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: md5-fingerprint grouping, lowest-id representative."""
    return dd.exact_dedup(_docs(spark, sf_dir))


def q_dedup_ngram(spark, sf_dir):
    """N-gram Jaccard near-dup pairs, EXACT AllPairs mode (the oracle is
    the exact plan; t=0.4 deliberately exercises the worst case). The
    default ``mode='auto'`` would route t<0.7 through MinHash+verify —
    the 100-TB path, gated separately in test_textstats_dedup.py."""
    return dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir), k=3, threshold=0.4, mode="exact"
    )


def q_dedup_ngram_routed(spark, sf_dir):
    """The auto-routed twin of ``dedup_ngram`` at t=0.4: MinHash-LSH
    candidates (band parameters chosen for a >= 0.9 recall floor at the
    threshold) + the SAME exact-Jaccard verification — the 100-TB path
    for low thresholds (PLANS 28: 3.4x faster than exact at sf0.1, all
    256 exact pairs recovered there). Rows-only BY DESIGN: recall is
    probabilistically bounded, not certain, so an exact oracle would be
    wrong; exactness of every emitted pair and subset-of-exact are
    pytest-gated (test_ngram_routing)."""
    return dd.ngram_jaccard_pairs(_docs(spark, sf_dir), k=3, threshold=0.4)


def q_dedup_minhash(spark, sf_dir):
    """Banded MinHash LSH candidate pairs (md5-derived portable hashes)."""
    return dd.minhash_lsh_pairs(_docs(spark, sf_dir), k=2, n_perm=8, bands=4)


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup, integer-exact oracled variant: quantized
    vectors + planted md5-noise near-dup copies (the raw table is random
    vectors with no near pairs), literal-hyperplane sketch blocking, exact
    cross-multiplied integer cosine verify, bit-portable between Spark and
    DuckDB."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return dd.embedding_dup_pairs_int(vecs, dim=64, n_planes=8)


def q_semdedup(spark, sf_dir):
    """SemDeDup (operators/semdedup.py — Abbas et al. 2023): per-cluster
    triangular-max pruning with the paper's keep-low-centroid-similarity
    policy, integer-exact end to end (quantized vectors, sketch-bucket
    clusters, BIGINT centroid mean + L2 rank, cross-multiplied cosine
    threshold). The corpus's raw vectors are random (no organic near
    pairs), so md5-noise near-dup copies are planted exactly as in
    dedup_embedding; flag-style output gates every member's verdict,
    not just the survivors."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = sdd.quantize_vectors(vecs)
    hexint = (
        "CAST(conv(substr(md5(concat(CAST(vec_id AS STRING), '_', "
        "CAST(i AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )
    noise = dd._emb_noise("vec_id").replace("HEXINT", hexint)
    elem_q = dd._emb_quant("element_at(CAST(embedding AS array<double>), i)")
    noisy = vecs.selectExpr(
        f"vec_id + {dd.EMB_COPY_OFFSET} AS id",
        f"transform(sequence(1, 64), i -> {elem_q} + {noise}) AS qv",
    )
    return sdd.semdedup_flags(base.unionAll(noisy), dim=64, n_planes=6)


def _sql_semdedup_oracle() -> str:
    """DuckDB twin of q_semdedup: same planting, same policy pipeline."""
    base_qv = f"[{dd._emb_quant('x')} for x in CAST(embedding AS DOUBLE[])]"
    hexint = (
        "('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '_' || "
        "CAST(i AS VARCHAR)), 1, 15))::BIGINT"
    )
    noise = dd._emb_noise("vec_id").replace("HEXINT", hexint)
    elem_q = dd._emb_quant("embedding[i]")
    qv_cte = (
        f"SELECT vec_id AS id, {base_qv} AS qv FROM embeddings "
        f"UNION ALL SELECT vec_id + {dd.EMB_COPY_OFFSET} AS id, "
        f"[{elem_q} + {noise} for i in range(1, 65)] AS qv FROM embeddings"
    )
    return sdd.sql_semdedup(qv_cte, dim=64, n_planes=6)


def q_text_quality(spark, sf_dir):
    """Quality signals: char/token counts, alpha/punct/digit/stopword ratios."""
    return _docs(spark, sf_dir).selectExpr(
        "doc_id",
        *[f"{e} AS {k}" for k, e in ts.spark_quality_cols("text").items()],
    )


def _sql_fingerprint_winnow() -> str:
    """DuckDB twin of q_fingerprint_winnow (same stepwise emission)."""
    from core_spark.functions.textstats import winnow_steps

    inner = "SELECT doc_id, text FROM documents"
    for name, expr in winnow_steps("text", "duckdb"):
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
    return f"""
SELECT doc_id,
       CAST(len(fps) AS INT) AS n_fps,
       COALESCE(fps[1], 0) AS fp_min,
       COALESCE(fps[-1], 0) AS fp_max,
       COALESCE(list_sum(fps), 0)::BIGINT AS fp_sum
FROM ({inner})
"""


def q_fingerprint_winnow(spark, sf_dir):
    """Rolling-hash winnowing fingerprints (textstats.winnow_steps —
    Rabin-Karp token windows + Schleimer et al. min-selection): per doc
    the fingerprint-set size and min/max/sum — position-robust content
    ids whose overlap measures shared substrings (the MOSS scheme),
    complementing the whole-doc md5 `fingerprint`. Pure stepwise JVM
    SQL, one projection, no shuffle."""
    from core_spark.functions.textstats import winnow_steps

    docs = _docs(spark, sf_dir, wide=False)
    stepped = hx.apply_steps(docs, winnow_steps("text", "spark"))
    return stepped.selectExpr(
        "doc_id",
        "CAST(size(fps) AS INT) AS n_fps",
        "COALESCE(try_element_at(fps, 1), 0) AS fp_min",
        "COALESCE(try_element_at(fps, -1), 0) AS fp_max",
        "COALESCE(aggregate(fps, CAST(0 AS BIGINT), (a, x) -> a + x), 0)"
        " AS fp_sum",
    )


def q_text_langid(spark, sf_dir):
    """Stopword-marker language ID — stepwise score columns + array arg-max
    on Spark (codegen-safe; textstats.lang_id_steps), monolithic portable
    CASE on DuckDB (same arg-max semantics)."""
    return hx.apply_steps(
        _docs(spark, sf_dir, wide=False).select("doc_id", "text"),
        ts.lang_id_steps("text"),
    ).select("doc_id", "lang_pred")


def q_fingerprint(spark, sf_dir):
    """60-bit md5-derived content fingerprint (portable)."""
    return _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id", f"{ts.spark_fingerprint('text')} AS fp"
    )


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-k over embeddings (JVM aggregate/zip_with);
    scores excluded from comparison (float-sum order is engine-specific)."""
    from core_spark.operators.similarity import brute_force_topk

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (
        vecs.filter("vec_id < 3")
        .selectExpr("vec_id AS query_id", "CAST(embedding AS array<double>) AS qvec")
    )
    return brute_force_topk(vecs, queries, k=5).selectExpr(
        "query_id", "rank", "vec_id"
    )


def q_agg_histogram(spark, sf_dir):
    """A2/A3 parity: framework-histogram analog — lang x source counts."""
    from pyspark.sql import functions as F

    return (
        _docs(spark, sf_dir)
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


def q_scan_filter_agg(spark, sf_dir):
    """S/F parity: pushdown-friendly scan -> filter -> project -> agg
    (TPC-H q6 shape; filters reach the parquet scan)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter("l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24")
        .selectExpr("l_extendedprice * l_discount AS rev")
        .selectExpr(
            "CAST(ROUND(SUM(rev), 4) AS DOUBLE) AS revenue",
            "COUNT(*) AS n_rows",
        )
    )


def q_join_agg(spark, sf_dir):
    """J1 parity: broadcast dim join + rollup (orders x customer -> nation)."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr("CAST(ROUND(SUM(o_totalprice), 2) AS DOUBLE)").alias("total_price"),
        )
    )


def q_window_topk(spark, sf_dir):
    """O2/O3 parity: deterministic top-2 orders per customer (window +
    row_number with full tie-break, the detector's best-match rule)."""
    from pyspark.sql import Window, functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter("rank <= 2")
        .selectExpr("o_custkey", "rank", "o_orderkey")
    )


def q_set_ops(spark, sf_dir):
    """J3/J4 parity: snapshot-diff analog — 'missing' set = customers with
    no urgent order (left-anti join, the reference's missing-files diff,
    tests/integration/snapshot.go:244-264)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    urgent = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        "o_orderpriority LIKE '1%'"
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .selectExpr("c_custkey")
    )


def q_events_rollup(spark, sf_dir):
    """Streaming-analog batch rollup over the events table (hour-of-day x
    type). TZ pinned to UTC so parquet timestamps agree with DuckDB."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.expr("CAST(hour(ts) AS INT)").alias("hour_of_day"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.expr("CAST(ROUND(SUM(value), 4) AS DOUBLE)").alias("total_value"),
        )
    )


RASTER_RES = 3
RASTER_PIXEL = 6.0


def q_rasterize(spark, sf_dir):
    """G7 raster half: zonal counts -> equirectangular pixel grid. Pixel
    centers use the SAME cell arithmetic as documents (shared sql_cell), so
    the oracle reproduces the raster exactly in DuckDB."""
    from pyspark.sql import functions as F

    from core_spark.operators.tiles import assign_tiles
    from core_spark.operators.zonal import rasterize

    pts = assign_tiles(_points(spark, sf_dir), resolutions=(RASTER_RES,))
    zonal = pts.groupBy(f"h3_r{RASTER_RES}").agg(F.count("*").alias("doc_count"))
    return rasterize(
        spark, zonal, RASTER_RES, RASTER_PIXEL, cell_col=f"h3_r{RASTER_RES}"
    )


def q_pricing_summary(spark, sf_dir):
    """A-parity depth: TPC-H q1-shape aggregate battery (sum/avg/count per
    group, deterministic rounding)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_li")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS sum_qty,
               CAST(ROUND(SUM(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
               CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS sum_disc_price,
               CAST(ROUND(AVG(l_quantity), 6) AS DOUBLE) AS avg_qty,
               COUNT(*) AS count_order
        FROM _li
        WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """)


def q_semi_join(spark, sf_dir):
    """J-parity depth: left-semi join (EXISTS) — customers having at least
    one order above a price threshold."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    big = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        "o_totalprice > 200000"
    )
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_semi"
    ).selectExpr("c_custkey", "c_nationkey")


def q_ann_ivf(spark, sf_dir):
    """ANN scale path (rows-only): IVF bucketed search — recall measured
    against brute force in tests/test_textstats_dedup.py::test_ivf_recall."""
    import pandas as pd

    from core_spark.operators.similarity import ivf_topk

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").selectExpr(
        "vec_id", "CAST(embedding AS array<double>) AS embedding"
    )
    qrows = vecs.filter("vec_id < 3").collect()
    queries_pd = pd.DataFrame(
        {"query_id": [r.vec_id for r in qrows], "qvec": [list(r.embedding) for r in qrows]}
    )
    return ivf_topk(spark, vecs, queries_pd, k=5, n_centroids=8, n_probe=3)


def q_corpus_curation(spark, sf_dir):
    """End-to-end training-data curation flow in ONE driver-gated query:
    quality gate (token count, alpha/digit ratios — the C4/Gopher-style
    signals) -> language gate (en) -> exact dedup keeping the min-id
    representative with its duplicate count. Composes the oracled
    primitives (textstats quality cols, sql_lang_id, exact_dedup), so the
    DuckDB twin is the same CTE chain over the same emissions. At 10^12
    rows the plan is scan -> codegen'd filters (pushdown-friendly) -> one
    hash-agg shuffle on a uniform 60-bit fingerprint. The language gate
    uses the stepwise lang_id emission (textstats.lang_id_steps): the
    former monolithic CASE inside the filter was a 40 KB expression that
    failed janino compilation and ran interpreted (24.6s -> target ~5s)."""
    from core_spark.functions.textstats import lang_id_steps, spark_quality_cols

    docs = _docs(spark, sf_dir)
    cols = spark_quality_cols("text")
    gated = docs.selectExpr(
        "doc_id", "text",
        f"{cols['n_tokens']} AS n_tokens",
        f"{cols['alpha_ratio']} AS alpha_ratio",
        f"{cols['digit_ratio']} AS digit_ratio",
    ).filter(
        "n_tokens >= 5 AND alpha_ratio >= 0.5 AND digit_ratio <= 0.3"
    )
    gated = (
        hx.apply_steps(gated, lang_id_steps("text"))
        .filter("lang_pred = 'en'")
        .drop("lang_pred")
    )
    return dd.exact_dedup(gated).selectExpr(
        "doc_id", "CAST(dup_count AS BIGINT) AS dup_count"
    )


def _sql_corpus_curation_oracle() -> str:
    from core_spark.functions.textstats import duck_quality_cols, sql_lang_id
    from core_spark.operators.dedup import duck_fingerprint

    cols = duck_quality_cols("text")
    return f"""
WITH gated AS (
  SELECT doc_id, text
  FROM documents
  WHERE {cols['n_tokens']} >= 5
    AND {cols['alpha_ratio']} >= 0.5
    AND {cols['digit_ratio']} <= 0.3
    AND ({sql_lang_id('text')}) = 'en'
)
SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS dup_count
FROM gated GROUP BY {duck_fingerprint('text')}
"""


_SPAN_TEMPLATES = [
    # fixed-width ids (lpad 6) keep every token position constant across
    # docs, so the expected Location values are CONSTANTS the oracle emits
    ("describe('S<<I>>', () => {\n  it('a', () => {});\n});\n", ".test.ts"),
    ("def test_a_<<I>>():\n    pass\n", ".py"),
    ('package p\n\nimport "testing"\n\n'
     "func TestA<<I>>(t *testing.T) {\n"
     '\tt.Run("s", func(t *testing.T) {})\n}\n', "_test.go"),
]


def q_inventory_spans(spark, sf_dir):
    """Location parity, driver-gated: the full {line, start_col, end_line,
    end_col} span of every inventory row for fixed-shape JS/Python/Go
    sources (ids lpad'ed to 6 so spans are doc-independent), hashed against
    hand-derived constants in the oracle (verified independently in
    tests/test_spans.py). Convention: 1-based lines, 0-based cols, end
    exclusive — reference domain/location.go:4-15 via treesitter.go:114-125."""
    from pyspark.sql import functions as F

    from core_spark.operators.inventory import extract_inventory

    # doc_id < 10^6 on BOTH sides: lpad TRUNCATES longer ids (both
    # engines), which would break the id round-trip and collide documents
    docs = _docs(spark, sf_dir, wide=True).select("doc_id").filter(
        "doc_id < 1000000"
    )
    idstr = F.lpad(F.col("doc_id").cast("string"), 6, "0")
    src = F.lit(None).cast("string")
    path = F.lit(None).cast("string")
    for k, (tpl, ext) in enumerate(_SPAN_TEMPLATES):
        cond = F.col("doc_id") % len(_SPAN_TEMPLATES) == k
        src = F.when(cond, F.replace(F.lit(tpl), F.lit("<<I>>"), idstr)).otherwise(src)
        path = F.when(cond, F.concat(idstr, F.lit(ext))).otherwise(path)
    gen = docs.select(path.alias("path"), src.alias("source"))
    inv = extract_inventory(gen, source_col="source", path_col="path")
    return inv.selectExpr(
        "CAST(regexp_extract(path, '^[0-9]+', 0) AS BIGINT) AS doc_id",
        "kind", "name",
        "CAST(line AS BIGINT) AS line",
        "CAST(start_col AS BIGINT) AS start_col",
        "CAST(end_line AS BIGINT) AS end_line",
        "CAST(end_col AS BIGINT) AS end_col",
    )


def _sql_inventory_spans_oracle() -> str:
    i = "lpad(CAST(doc_id AS VARCHAR), 6, '0')"
    arms = [
        # k=0 JS: describe -> (1,0,3,2); it -> (2,2,2,19)
        f"SELECT doc_id, 'suite' AS kind, 'S' || {i} AS name, 1 AS line,"
        f" 0 AS start_col, 3 AS end_line, 2 AS end_col"
        f" FROM documents WHERE doc_id < 1000000 AND doc_id % 3 = 0",
        "SELECT doc_id, 'test', 'a', 2, 2, 2, 19 FROM documents WHERE doc_id < 1000000 AND doc_id % 3 = 0",
        # k=1 Python: def spans decl through body end (ast end positions)
        f"SELECT doc_id, 'test', 'test_a_' || {i}, 1, 0, 2, 8"
        f" FROM documents WHERE doc_id < 1000000 AND doc_id % 3 = 1",
        # k=2 Go: func spans 'func'..'}' on lines 5-7; t.Run spans the call
        f"SELECT doc_id, 'suite', 'TestA' || {i}, 5, 0, 7, 1"
        f" FROM documents WHERE doc_id < 1000000 AND doc_id % 3 = 2",
        "SELECT doc_id, 'test', 's', 6, 1, 6, 34 FROM documents WHERE doc_id < 1000000 AND doc_id % 3 = 2",
    ]
    return " UNION ALL ".join(arms)


def q_ann_ivf_recall(spark, sf_dir):
    """Rows-only recall bound for the IVF scale path (VERDICT r2 #10):
    recall@5 of ivf_topk against brute_force_topk per query, FILTERED to
    recall >= 0.8 — so the healthy row count equals the query count (3)
    and any recall regression shows up as dropped rows in CORRECTNESS
    instead of only in the pytest. Deterministic: same queries, same
    md5-ranked centroid sample as ann_ivf."""
    import pandas as pd
    from pyspark.sql import functions as F

    from core_spark.operators.similarity import brute_force_topk, ivf_topk

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").selectExpr(
        "vec_id", "CAST(embedding AS array<double>) AS embedding"
    )
    qrows = vecs.filter("vec_id < 3").collect()
    queries_pd = pd.DataFrame(
        {"query_id": [r.vec_id for r in qrows],
         "qvec": [list(r.embedding) for r in qrows]}
    )
    qdf = spark.createDataFrame(queries_pd, "query_id bigint, qvec array<double>")
    # materialize: both n_probe branches semi-join against `exact` (union
    # branches recompute, the round-3 self-join lesson)
    exact = (
        brute_force_topk(vecs, qdf, k=5).select("query_id", "vec_id")
        .transform(pin)
    )
    # Gate BOTH configs: n_probe=3 is what q_ann_ivf ships (measured floor
    # 0.6 — a probe-ordering regression shows here first) and n_probe=5 is
    # the 0.8-recall tier (measured sweep: 3 -> [1.0, 0.6, 0.8],
    # 5 -> [1.0, 0.8, 1.0]). Healthy = 6 rows (3 queries x 2 configs).
    parts = []
    for n_probe, bound in ((3, 0.6), (5, 0.8)):
        approx = ivf_topk(
            spark, vecs, queries_pd, k=5, n_centroids=8, n_probe=n_probe
        ).select("query_id", "vec_id")
        hits = exact.join(approx, ["query_id", "vec_id"], "left_semi")
        parts.append(
            hits.groupBy("query_id")
            .agg((F.count("*") / F.lit(5.0)).alias("recall_at_5"))
            .filter(F.col("recall_at_5") >= bound)
            .select(F.lit(n_probe).alias("n_probe"), "query_id", "recall_at_5")
        )
    return parts[0].unionByName(parts[1])


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization via window composition (lag -> gap flag ->
    running sum = session id -> groupBy)."""
    from core_spark.operators.sessions import sessionize_batch

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize_batch(ev, gap_minutes=30).selectExpr(
        "user_id",
        "CAST(unix_timestamp(session_start) AS BIGINT) AS start_s",
        "CAST(unix_timestamp(session_end) AS BIGINT) AS end_s",
        "n_events",
        "CAST(ROUND(total_value, 4) AS DOUBLE) AS total_value",
    )


def q_extract_invariant(spark, sf_dir):
    """G1 rows-only check: re-extract the synthetic corpus html and return
    rows violating the byte-identity invariant — MUST be empty (the driver
    records row count; 0 rows == invariant holds)."""
    from core_spark.data.synth import webpages_spark
    from core_spark.functions.extract import with_extracted_text

    pages = webpages_spark(spark, 2000, 8).withColumnRenamed("text", "expected")
    got = with_extracted_text(pages)
    return got.filter("text <> expected OR extract_error IS NOT NULL").selectExpr(
        "doc_id", "url"
    )


def q_rollup_sets(spark, sf_dir):
    """A5/§2.5 parity: multi-level rollup via ROLLUP grouping sets (the
    reference's per-resolution aggregation analog, SURVEY.md §2.5)."""
    from pyspark.sql import functions as F

    return (
        _docs(spark, sf_dir)
        .rollup("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.grouping("lang").alias("g_lang"),
            F.grouping("source").alias("g_source"),
        )
    )


def q_zonal_salted(spark, sf_dir):
    """G8: the per-cell count of the mega-cell-skewed points. A count is
    decomposable, so ``salted_counts`` needs no salt: the partial count
    below its one exchange already bounds a mega-cell's reducer input by
    the number of map tasks. The oracle is the plain per-cell count."""
    from core_spark.operators.tiles import assign_tiles
    from core_spark.operators.zonal import salted_counts

    pts = assign_tiles(_points(spark, sf_dir), resolutions=(5,))
    return salted_counts(pts, "h3_r5")


# JS/TS test-file templates covering the P6 semantic space; <<I>> is the
# doc id. The ORACLE does not run the kernel — it emits the EXPECTED
# inventory rows straight from these generation rules, so any kernel
# mis-parse breaks the hash (end-to-end extraction check, like
# extract_invariant's byte-identity gate).
_JS_TEMPLATES = [
    # suite + active test + skipped test
    "describe('Suite <<I>>', () => { it('alpha <<I>>', () => {}); "
    "it.skip('beta <<I>>', () => {}); });",
    # .each chained call -> single dynamic test (ADR-02)
    "test.each([[1],[2]])('case %d of <<I>>', () => {});",
    # loop body -> dynamic placeholder name
    "for (const x of xs) { test('gen ' + x, () => {}); }",
    # IIFE ternary callee -> active suite; fit -> focused test
    ";(process.env.CI ? describe.skip : describe)('ternary <<I>>', "
    "() => { fit('focus <<I>>', () => {}); });",
    # forEach iterator -> dynamic test, template-literal name kept raw
    "items.forEach(item => { it(`dyn ${item} <<I>>`, () => {}); });",
    # var-declaration unwrap + RuleTester.run
    "const t = xit('var <<I>>', () => {}); "
    "ruleTester.run('rule <<I>>', rule, { valid: 1, invalid: 2 });",
    # playwright import-alias + fixture-extend re-binding
    # (playwright/definition.go:187-339)
    "import { test as base } from '@playwright/test';\n"
    "const test = base.extend({ u: 1 });\n"
    "test('ext <<I>>', async () => {});\n"
    "base.describe('fixture suite <<I>>', () => {"
    " base('aliased <<I>>', () => {});"
    " base.fixme('broken <<I>>', () => {}); });",
]

_PY_TEMPLATES = [
    # top-level tests, one skipped
    "def test_top_<<I>>():\n    pass\n\n"
    "@pytest.mark.skip(reason='x')\ndef test_skip_<<I>>():\n    pass\n",
    # pytest class, xfail method
    "class TestGroup<<I>>:\n    def test_m1(self):\n        pass\n"
    "    @pytest.mark.xfail\n    def test_m2(self):\n        pass\n",
    # unittest class with inherited skip + override
    "import unittest\n@unittest.skip('c')\n"
    "class TestU<<I>>(unittest.TestCase):\n"
    "    def test_a(self):\n        pass\n"
    "    @unittest.expectedFailure\n    def test_b(self):\n        pass\n",
    # parametrize counts as one test
    "@pytest.mark.parametrize('x', [1, 2])\ndef test_param_<<I>>(x):\n    pass\n",
]


def _inventory_query(spark, sf_dir, templates, ext):
    from pyspark.sql import functions as F

    from core_spark.operators.inventory import extract_inventory

    exts = ext if isinstance(ext, list) else [ext] * len(templates)
    docs = _docs(spark, sf_dir).select("doc_id")
    idstr = F.col("doc_id").cast("string")
    src = F.lit(None).cast("string")
    path = F.lit(None).cast("string")
    for k, tpl in enumerate(templates):
        cond = F.col("doc_id") % len(templates) == k
        src = F.when(cond, F.replace(F.lit(tpl), F.lit("<<I>>"), idstr)).otherwise(src)
        path = F.when(cond, F.concat(idstr, F.lit(exts[k]))).otherwise(path)
    gen = docs.select(path.alias("path"), src.alias("source"))
    inv = extract_inventory(gen, source_col="source", path_col="path")
    return inv.selectExpr(
        "CAST(regexp_extract(path, '^[0-9]+', 0) AS BIGINT) AS doc_id",
        "kind",
        "concat_ws('/', suite_path) AS suite_path",
        "name",
        "status",
        "modifier",
    )


def q_jstest_inventory(spark, sf_dir):
    """P6: real JS/TS recursive-descent extraction kernel over
    deterministically generated test files; oracle = expected rows from the
    generation rules (not a reimplementation of the kernel)."""
    return _inventory_query(spark, sf_dir, _JS_TEMPLATES, ".test.ts")


def q_pytest_inventory(spark, sf_dir):
    """P8/P9: pytest/unittest extraction (stdlib-ast kernels) with the
    unittest split driven by the content signal; same oracle scheme."""
    return _inventory_query(spark, sf_dir, _PY_TEMPLATES, ".py")


_NATIVE_TEMPLATES = [
    # Go: t.Run subtests make a suite; bare test + benchmark
    'package p\n\nimport "testing"\n\n'
    "func TestAlpha<<I>>(t *testing.T) {\n"
    '\tt.Run("sub one", func(t *testing.T) {})\n'
    '\tt.Run("sub two", func(t *testing.T) {})\n}\n\n'
    "func TestBeta<<I>>(t *testing.T) {}\n\n"
    "func BenchmarkGamma<<I>>(b *testing.B) {}\n",
    # Rust: top-level + ignored + mod tests
    "#[test]\nfn test_a_<<I>>() {}\n\n"
    "#[test]\n#[ignore]\nfn test_b_<<I>>() {}\n\n"
    "mod tests {\n    #[test]\n    fn test_in_mod_<<I>>() {}\n}\n",
    # C++ gtest: DISABLED_ status
    "TEST(Suite<<I>>, Works) {}\nTEST(Suite<<I>>, DISABLED_Slow) {}\n",
    # Java JUnit5: DisplayName rename, Disabled, @Nested recursion
    "class Calc<<I>>Test {\n"
    "    @Test\n    void adds<<I>>() {}\n"
    "    @Test\n    @Disabled(\"flaky\")\n    void slow() {}\n"
    "    @Test\n    @DisplayName(\"pretty name <<I>>\")\n    void ugly() {}\n"
    "    @Nested\n    class Inner {\n        @Test\n        void deep() {}\n    }\n}\n",
    # Ruby RSpec: nesting + xit + anonymous
    "RSpec.describe \"Top <<I>>\" do\n"
    "  it \"works <<I>>\" do\n  end\n"
    "  xit \"skipped\" do\n  end\n"
    "  context \"when ready\" do\n    it { is_expected.to be_valid }\n  end\nend\n",
]
_NATIVE_EXTS = ["_test.go", ".rs", ".cc", ".java", ".rb"]


def q_native_inventory(spark, sf_dir):
    """P7/P15/P16/P10/P13: Go/Rust/C++/Java/Ruby test extraction over
    generated sources with the expected-rows-from-generation-rules oracle."""
    return _inventory_query(spark, sf_dir, _NATIVE_TEMPLATES, _NATIVE_EXTS)


_MANAGED_TEMPLATES = [
    # C# xUnit: Fact + Theory/InlineData + Skip
    "using Xunit;\n\npublic class Suite<<I>> {\n"
    "    [Fact]\n    public void Works<<I>>() {}\n"
    "    [Theory]\n    [InlineData(1)]\n    [InlineData(2)]\n"
    "    public void Param(int x) {}\n"
    "    [Fact(Skip = \"broken\")]\n    public void Broken() {}\n}\n",
    # Swift XCTest: skip + async modifiers
    "import XCTest\n\nclass Case<<I>>Tests: XCTestCase {\n"
    "    func testAlpha<<I>>() {}\n"
    "    func testSkip() throws { throw XCTSkip(\"na\") }\n"
    "    func testAsync() async { await f() }\n}\n",
    # PHP PHPUnit: prefix + @test docblock + #[Test]/#[Skip]
    "<?php\nclass Web<<I>>Test extends TestCase {\n"
    "    public function testAdd<<I>>(): void {}\n"
    "    /** @test */\n    public function annotated(): void {}\n"
    "    #[Test]\n    #[Skip]\n    public function offline(): void {}\n}\n",
    # Kotlin Kotest FunSpec: nesting + xtest skip
    "class Spec<<I>> : FunSpec({\n"
    "    test(\"adds <<I>>\") {}\n"
    "    xtest(\"later\") {}\n"
    "    context(\"edge\") {\n        test(\"deep\") {}\n    }\n})\n",
]
_MANAGED_EXTS = [".cs", ".swift", ".php", ".kt"]


def q_managed_inventory(spark, sf_dir):
    """P12/P17/P14: C#/Swift/PHP test extraction over generated sources
    with the expected-rows-from-generation-rules oracle."""
    return _inventory_query(spark, sf_dir, _MANAGED_TEMPLATES, _MANAGED_EXTS)


def _sql_managed_inventory_oracle() -> str:
    i = "CAST(doc_id AS VARCHAR)"
    arms = [
        # k=0 C# xUnit
        f"SELECT doc_id, 'suite' AS kind, '' AS suite_path, 'Suite' || {i} AS name,"
        f" 'active' AS status, '' AS modifier FROM documents WHERE doc_id % 4 = 0",
        f"SELECT doc_id, 'test', 'Suite' || {i}, 'Works' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 4 = 0",
        f"SELECT doc_id, 'test', 'Suite' || {i}, 'Param', 'active', ''"
        f" FROM documents WHERE doc_id % 4 = 0",
        f"SELECT doc_id, 'test', 'Suite' || {i}, 'Param', 'active', ''"
        f" FROM documents WHERE doc_id % 4 = 0",
        f"SELECT doc_id, 'test', 'Suite' || {i}, 'Broken', 'skipped', 'Skip'"
        f" FROM documents WHERE doc_id % 4 = 0",
        # k=1 Swift XCTest
        f"SELECT doc_id, 'suite', '', 'Case' || {i} || 'Tests', 'active', ''"
        f" FROM documents WHERE doc_id % 4 = 1",
        f"SELECT doc_id, 'test', 'Case' || {i} || 'Tests', 'testAlpha' || {i},"
        f" 'active', '' FROM documents WHERE doc_id % 4 = 1",
        f"SELECT doc_id, 'test', 'Case' || {i} || 'Tests', 'testSkip', 'skipped',"
        f" 'XCTSkip' FROM documents WHERE doc_id % 4 = 1",
        f"SELECT doc_id, 'test', 'Case' || {i} || 'Tests', 'testAsync', 'active',"
        f" 'async' FROM documents WHERE doc_id % 4 = 1",
        # k=2 PHP PHPUnit
        f"SELECT doc_id, 'suite', '', 'Web' || {i} || 'Test', 'active', ''"
        f" FROM documents WHERE doc_id % 4 = 2",
        f"SELECT doc_id, 'test', 'Web' || {i} || 'Test', 'testAdd' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 4 = 2",
        f"SELECT doc_id, 'test', 'Web' || {i} || 'Test', 'annotated', 'active', ''"
        f" FROM documents WHERE doc_id % 4 = 2",
        f"SELECT doc_id, 'test', 'Web' || {i} || 'Test', 'offline', 'skipped', '#[Skip]'"
        f" FROM documents WHERE doc_id % 4 = 2",
        # k=3 Kotlin Kotest
        f"SELECT doc_id, 'suite', '', 'Spec' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 4 = 3",
        f"SELECT doc_id, 'test', 'Spec' || {i}, 'adds ' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 4 = 3",
        f"SELECT doc_id, 'test', 'Spec' || {i}, 'later', 'skipped', 'xtest'"
        f" FROM documents WHERE doc_id % 4 = 3",
        f"SELECT doc_id, 'suite', 'Spec' || {i}, 'edge', 'active', ''"
        f" FROM documents WHERE doc_id % 4 = 3",
        f"SELECT doc_id, 'test', 'Spec' || {i} || '/edge', 'deep', 'active', ''"
        f" FROM documents WHERE doc_id % 4 = 3",
    ]
    return " UNION ALL ".join(arms)


def _sql_native_inventory_oracle() -> str:
    i = "CAST(doc_id AS VARCHAR)"
    arms = [
        # k=0 Go
        f"SELECT doc_id, 'suite' AS kind, '' AS suite_path, 'TestAlpha' || {i} AS name,"
        f" 'active' AS status, '' AS modifier FROM documents WHERE doc_id % 5 = 0",
        f"SELECT doc_id, 'test', 'TestAlpha' || {i}, 'sub one', 'active', ''"
        f" FROM documents WHERE doc_id % 5 = 0",
        f"SELECT doc_id, 'test', 'TestAlpha' || {i}, 'sub two', 'active', ''"
        f" FROM documents WHERE doc_id % 5 = 0",
        f"SELECT doc_id, 'test', '', 'TestBeta' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 5 = 0",
        f"SELECT doc_id, 'test', '', 'BenchmarkGamma' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 5 = 0",
        # k=1 Rust
        f"SELECT doc_id, 'test', '', 'test_a_' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 5 = 1",
        f"SELECT doc_id, 'test', '', 'test_b_' || {i}, 'skipped', '#[ignore]'"
        f" FROM documents WHERE doc_id % 5 = 1",
        "SELECT doc_id, 'suite', '', 'tests', 'active', ''"
        " FROM documents WHERE doc_id % 5 = 1",
        f"SELECT doc_id, 'test', 'tests', 'test_in_mod_' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 5 = 1",
        # k=2 C++
        f"SELECT doc_id, 'suite', '', 'Suite' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 5 = 2",
        f"SELECT doc_id, 'test', 'Suite' || {i}, 'Works', 'active', ''"
        f" FROM documents WHERE doc_id % 5 = 2",
        f"SELECT doc_id, 'test', 'Suite' || {i}, 'DISABLED_Slow', 'skipped', 'DISABLED_'"
        f" FROM documents WHERE doc_id % 5 = 2",
        # k=3 Java JUnit5
        f"SELECT doc_id, 'suite', '', 'Calc' || {i} || 'Test', 'active', ''"
        f" FROM documents WHERE doc_id % 5 = 3",
        f"SELECT doc_id, 'test', 'Calc' || {i} || 'Test', 'adds' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 5 = 3",
        f"SELECT doc_id, 'test', 'Calc' || {i} || 'Test', 'slow', 'skipped', '@Disabled'"
        f" FROM documents WHERE doc_id % 5 = 3",
        f"SELECT doc_id, 'test', 'Calc' || {i} || 'Test', 'pretty name ' || {i},"
        f" 'active', '' FROM documents WHERE doc_id % 5 = 3",
        f"SELECT doc_id, 'suite', 'Calc' || {i} || 'Test', 'Inner', 'active', ''"
        f" FROM documents WHERE doc_id % 5 = 3",
        f"SELECT doc_id, 'test', 'Calc' || {i} || 'Test/Inner', 'deep', 'active', ''"
        f" FROM documents WHERE doc_id % 5 = 3",
        # k=4 Ruby RSpec
        f"SELECT doc_id, 'suite', '', 'Top ' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 5 = 4",
        f"SELECT doc_id, 'test', 'Top ' || {i}, 'works ' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 5 = 4",
        f"SELECT doc_id, 'test', 'Top ' || {i}, 'skipped', 'skipped', 'xit'"
        f" FROM documents WHERE doc_id % 5 = 4",
        f"SELECT doc_id, 'suite', 'Top ' || {i}, 'when ready', 'active', ''"
        f" FROM documents WHERE doc_id % 5 = 4",
        f"SELECT doc_id, 'test', 'Top ' || {i} || '/when ready', '(anonymous)',"
        f" 'active', '' FROM documents WHERE doc_id % 5 = 4",
    ]
    return " UNION ALL ".join(arms)


def _sql_js_inventory_oracle() -> str:
    i = "CAST(doc_id AS VARCHAR)"
    arms = [
        # k=0
        f"SELECT doc_id, 'suite' AS kind, '' AS suite_path, 'Suite ' || {i} AS name,"
        f" 'active' AS status, '' AS modifier FROM documents WHERE doc_id % 7 = 0",
        f"SELECT doc_id, 'test', 'Suite ' || {i}, 'alpha ' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 7 = 0",
        f"SELECT doc_id, 'test', 'Suite ' || {i}, 'beta ' || {i}, 'skipped', 'skip'"
        f" FROM documents WHERE doc_id % 7 = 0",
        # k=1
        f"SELECT doc_id, 'test', '', 'case %d of ' || {i} || ' (dynamic cases)',"
        f" 'active', '' FROM documents WHERE doc_id % 7 = 1",
        # k=2
        "SELECT doc_id, 'test', '', '(dynamic) (dynamic cases)', 'active', ''"
        " FROM documents WHERE doc_id % 7 = 2",
        # k=3
        f"SELECT doc_id, 'suite', '', 'ternary ' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 7 = 3",
        f"SELECT doc_id, 'test', 'ternary ' || {i}, 'focus ' || {i}, 'focused', 'fit'"
        f" FROM documents WHERE doc_id % 7 = 3",
        # k=4 (template literal kept raw; '$' || '{' avoids f-string noise)
        f"SELECT doc_id, 'test', '', 'dyn ${{item}} ' || {i} || ' (dynamic cases)',"
        f" 'active', '' FROM documents WHERE doc_id % 7 = 4",
        # k=5
        f"SELECT doc_id, 'test', '', 'var ' || {i}, 'skipped', 'xit'"
        f" FROM documents WHERE doc_id % 7 = 5",
        f"SELECT doc_id, 'test', '', 'rule ' || {i} || ' (dynamic cases)', 'active', ''"
        f" FROM documents WHERE doc_id % 7 = 5",
        # k=6 playwright alias + extend
        f"SELECT doc_id, 'test', '', 'ext ' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 7 = 6",
        f"SELECT doc_id, 'suite', '', 'fixture suite ' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 7 = 6",
        f"SELECT doc_id, 'test', 'fixture suite ' || {i}, 'aliased ' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 7 = 6",
        f"SELECT doc_id, 'test', 'fixture suite ' || {i}, 'broken ' || {i},"
        f" 'skipped', 'fixme' FROM documents WHERE doc_id % 7 = 6",
    ]
    return " UNION ALL ".join(arms)


def _sql_py_inventory_oracle() -> str:
    i = "CAST(doc_id AS VARCHAR)"
    arms = [
        # k=0
        f"SELECT doc_id, 'test' AS kind, '' AS suite_path, 'test_top_' || {i} AS name,"
        f" 'active' AS status, '' AS modifier FROM documents WHERE doc_id % 4 = 0",
        f"SELECT doc_id, 'test', '', 'test_skip_' || {i}, 'skipped', '@pytest.mark.skip'"
        f" FROM documents WHERE doc_id % 4 = 0",
        # k=1
        f"SELECT doc_id, 'suite', '', 'TestGroup' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 4 = 1",
        f"SELECT doc_id, 'test', 'TestGroup' || {i}, 'test_m1', 'active', ''"
        f" FROM documents WHERE doc_id % 4 = 1",
        f"SELECT doc_id, 'test', 'TestGroup' || {i}, 'test_m2', 'xfail',"
        f" '@pytest.mark.xfail' FROM documents WHERE doc_id % 4 = 1",
        # k=2
        f"SELECT doc_id, 'suite', '', 'TestU' || {i}, 'skipped', '@unittest.skip'"
        f" FROM documents WHERE doc_id % 4 = 2",
        f"SELECT doc_id, 'test', 'TestU' || {i}, 'test_a', 'skipped', '@unittest.skip'"
        f" FROM documents WHERE doc_id % 4 = 2",
        f"SELECT doc_id, 'test', 'TestU' || {i}, 'test_b', 'xfail',"
        f" '@unittest.expectedFailure' FROM documents WHERE doc_id % 4 = 2",
        # k=3
        f"SELECT doc_id, 'test', '', 'test_param_' || {i}, 'active', ''"
        f" FROM documents WHERE doc_id % 4 = 3",
    ]
    return " UNION ALL ".join(arms)


_HINT_TEMPLATES = [
    # JS: ES6 import + require + member/plain calls
    "import a from 'pkg<<I>>';\nconst b = require('req<<I>>');\n"
    "svc<<I>>.run(1);\nplain<<I>>();\n",
    # Python: dotted + from imports, blacklist filtering
    "import mod<<I>>\nfrom pkg<<I>>.sub import thing\n\n"
    "def test_x():\n    svc<<I>>.call(1)\n    helper<<I>>()\n"
    "    pytest.raises(ValueError)\n",
    # Go: import block + statement-position calls
    'package p\n\nimport (\n\t"testing"\n\t"corp/lib<<I>>"\n)\n\n'
    "func TestA(t *testing.T) {\n\tsvc<<I>>.Do(1)\n\thelp<<I>>()\n}\n",
    # C++: system + local includes, ::-qualified call, gtest blacklist
    '#include <iostream>\n#include "hdr<<I>>.h"\n\nvoid run() {\n'
    "    svc<<I>>.go(1);\n    ns<<I>>::util::fire(2);\n    EXPECT_EQ(1, 1);\n}\n",
    # C#: usings, member + plain calls, Assert blacklist
    "using System;\nusing Corp<<I>>.Services;\n\nclass T {\n    void M() {\n"
    "        svc<<I>>.Find(1);\n        Plain<<I>>();\n"
    "        Assert.True(1 == 1);\n    }\n}\n",
    # Kotlin: dotted imports, navigation + simple calls, kotest blacklist
    "import com.corp<<I>>.Service\nimport io.kotest.matchers.shouldBe\n\n"
    "fun main() {\n    svc<<I>>.deliver(1)\n    maker<<I>>()\n    shouldBe(1)\n}\n",
    # PHP: use + require imports, ->/:: calls, $this blacklist
    "<?php\nuse App\\Svc<<I>>;\nrequire 'boot<<I>>.php';\n\nclass W {\n"
    "    public function go(): void {\n        $repo<<I>>->save(1);\n"
    "        Gate<<I>>::open(2);\n        $this->assertTrue(true);\n    }\n}\n",
    # Swift: @testable import, navigation-only calls (plain + XCTest dropped)
    "import Foundation\n@testable import Core<<I>>\n\nfunc check() {\n"
    "    svc<<I>>.emit(1)\n    lone<<I>>()\n    XCTAssertEqual(1, 1)\n}\n",
]
_HINT_EXTS = [".test.ts", ".py", ".go", ".cc", ".cs", ".kt", ".php", ".swift"]


def q_domain_hints(spark, sf_dir):
    """P19: imports+calls extraction for JS/Python/Go over generated
    sources; the oracle emits the expected hint rows from the generation
    rules (2-segment normalization, framework-call blacklist, require->
    import routing all gated by the value hash)."""
    from pyspark.sql import functions as F

    from core_spark.operators.inventory import extract_hints_stage

    docs = _docs(spark, sf_dir).select("doc_id")
    idstr = F.col("doc_id").cast("string")
    src = F.lit(None).cast("string")
    path = F.lit(None).cast("string")
    for k, tpl in enumerate(_HINT_TEMPLATES):
        cond = F.col("doc_id") % len(_HINT_TEMPLATES) == k
        src = F.when(cond, F.replace(F.lit(tpl), F.lit("<<I>>"), idstr)).otherwise(src)
        path = F.when(cond, F.concat(idstr, F.lit(_HINT_EXTS[k]))).otherwise(path)
    gen = docs.select(path.alias("path"), src.alias("source"))
    hints = extract_hints_stage(gen)
    exploded = hints.selectExpr(
        "CAST(regexp_extract(path, '^[0-9]+', 0) AS BIGINT) AS doc_id",
        "explode(concat(transform(imports, x -> struct('import' AS kind, x AS value)),"
        " transform(calls, x -> struct('call' AS kind, x AS value)))) AS h",
    )
    return exploded.selectExpr("doc_id", "h.kind AS kind", "h.value AS value")


def _sql_domain_hints_oracle() -> str:
    i = "CAST(doc_id AS VARCHAR)"
    arms = [
        # k=0 JS
        f"SELECT doc_id, 'import' AS kind, 'pkg' || {i} AS value FROM documents WHERE doc_id % 8 = 0",
        f"SELECT doc_id, 'import', 'req' || {i} FROM documents WHERE doc_id % 8 = 0",
        f"SELECT doc_id, 'call', 'svc' || {i} || '.run' FROM documents WHERE doc_id % 8 = 0",
        f"SELECT doc_id, 'call', 'plain' || {i} FROM documents WHERE doc_id % 8 = 0",
        # k=1 Python (pytest.raises blacklisted)
        f"SELECT doc_id, 'import', 'mod' || {i} FROM documents WHERE doc_id % 8 = 1",
        f"SELECT doc_id, 'import', 'pkg' || {i} || '.sub' FROM documents WHERE doc_id % 8 = 1",
        f"SELECT doc_id, 'call', 'svc' || {i} || '.call' FROM documents WHERE doc_id % 8 = 1",
        f"SELECT doc_id, 'call', 'helper' || {i} FROM documents WHERE doc_id % 8 = 1",
        # k=2 Go
        f"SELECT doc_id, 'import', 'testing' FROM documents WHERE doc_id % 8 = 2",
        f"SELECT doc_id, 'import', 'corp/lib' || {i} FROM documents WHERE doc_id % 8 = 2",
        f"SELECT doc_id, 'call', 'svc' || {i} || '.Do' FROM documents WHERE doc_id % 8 = 2",
        f"SELECT doc_id, 'call', 'help' || {i} FROM documents WHERE doc_id % 8 = 2",
        # k=3 C++ (EXPECT_EQ blacklisted; ns::util::fire -> 2-segment)
        f"SELECT doc_id, 'import', 'iostream' FROM documents WHERE doc_id % 8 = 3",
        f"SELECT doc_id, 'import', 'hdr' || {i} || '.h' FROM documents WHERE doc_id % 8 = 3",
        f"SELECT doc_id, 'call', 'svc' || {i} || '.go' FROM documents WHERE doc_id % 8 = 3",
        f"SELECT doc_id, 'call', 'ns' || {i} || '.util' FROM documents WHERE doc_id % 8 = 3",
        # k=4 C# (Assert.True blacklisted)
        f"SELECT doc_id, 'import', 'System' FROM documents WHERE doc_id % 8 = 4",
        f"SELECT doc_id, 'import', 'Corp' || {i} || '.Services' FROM documents WHERE doc_id % 8 = 4",
        f"SELECT doc_id, 'call', 'svc' || {i} || '.Find' FROM documents WHERE doc_id % 8 = 4",
        f"SELECT doc_id, 'call', 'Plain' || {i} FROM documents WHERE doc_id % 8 = 4",
        # k=5 Kotlin (shouldBe blacklisted)
        f"SELECT doc_id, 'import', 'com.corp' || {i} || '.Service' FROM documents WHERE doc_id % 8 = 5",
        f"SELECT doc_id, 'import', 'io.kotest.matchers.shouldBe' FROM documents WHERE doc_id % 8 = 5",
        f"SELECT doc_id, 'call', 'svc' || {i} || '.deliver' FROM documents WHERE doc_id % 8 = 5",
        f"SELECT doc_id, 'call', 'maker' || {i} FROM documents WHERE doc_id % 8 = 5",
        # k=6 PHP ($this->assertTrue blacklisted)
        f"SELECT doc_id, 'import', 'App\\Svc' || {i} FROM documents WHERE doc_id % 8 = 6",
        f"SELECT doc_id, 'import', 'boot' || {i} || '.php' FROM documents WHERE doc_id % 8 = 6",
        f"SELECT doc_id, 'call', 'repo' || {i} || '.save' FROM documents WHERE doc_id % 8 = 6",
        f"SELECT doc_id, 'call', 'Gate' || {i} || '.open' FROM documents WHERE doc_id % 8 = 6",
        # k=7 Swift (plain lone()/XCTAssertEqual not navigation -> dropped)
        f"SELECT doc_id, 'import', 'Foundation' FROM documents WHERE doc_id % 8 = 7",
        f"SELECT doc_id, 'import', 'Core' || {i} FROM documents WHERE doc_id % 8 = 7",
        f"SELECT doc_id, 'call', 'svc' || {i} || '.emit' FROM documents WHERE doc_id % 8 = 7",
    ]
    return " UNION ALL ".join(arms)


# (framework, language, source snippet) arms for the registry-cascade
# query; <<I>> keeps snippets unique per doc
_DETECT_ARMS = [
    ("jest", "javascript",
     "const a<<I>> = jest.fn(); jest.mock('./m'); test('x', () => {});"),
    ("vitest", "javascript",
     "import { vi } from 'vitest'\nvi.fn(); jest.fn(); // <<I>>"),
    ("pytest", "python",
     "@pytest.mark.skip\ndef test_x<<I>>():\n    pass"),
    ("go-testing", "go",
     "func TestX<<I>>(t *testing.T) {\n\tt.Run(\"s\", nil)\n}"),
    ("testng", "java",
     "import org.testng.annotations.Test;\n@Test\npublic void a<<I>>() {}"),
    ("kotest", "kotlin",
     "class T<<I>> : FunSpec({ test(\"a\") {} })"),
    ("rspec", "ruby",
     "RSpec.describe 'x<<I>>' do\nend"),
    ("xctest", "swift",
     "class T<<I>>: XCTestCase {\n    func testA() { XCTAssertEqual(1, 1) }\n}"),
]


def q_framework_detect(spark, sf_dir):
    """D6/D7 over the REAL registry: per-framework snippets generated from
    doc_id run the full priority cascade (incl. the TestNG-over-JUnit5
    collision via priority order and language filtering); the oracle emits
    the expected framework from the generation rules."""
    from pyspark.sql import functions as F

    from core_spark.operators.detect import default_registry, detect

    docs = _docs(spark, sf_dir).select("doc_id")
    idstr = F.col("doc_id").cast("string")
    text = F.lit(None).cast("string")
    lang = F.lit(None).cast("string")
    for k, (_fw, lg, tpl) in enumerate(_DETECT_ARMS):
        cond = F.col("doc_id") % len(_DETECT_ARMS) == k
        text = F.when(cond, F.replace(F.lit(tpl), F.lit("<<I>>"), idstr)).otherwise(text)
        lang = F.when(cond, F.lit(lg)).otherwise(lang)
    gen = docs.select("doc_id", text.alias("text"), lang.alias("lang"),
                      idstr.alias("url"))
    out = detect(gen, default_registry(), path_col="url", text_col="text",
                 lang_col_name="lang")
    return out.select("doc_id", "framework", "detect_source")


def _sql_framework_detect_oracle() -> str:
    n = len(_DETECT_ARMS)
    # every arm here fires its content battery (testng via its
    # import-looking CONTENT pattern)
    sources = {
        "jest": "content-pattern", "vitest": "content-pattern",
        "pytest": "content-pattern", "go-testing": "content-pattern",
        "testng": "content-pattern", "kotest": "content-pattern",
        "rspec": "content-pattern", "xctest": "content-pattern",
    }
    arms = [
        f"SELECT doc_id, '{fw}' AS framework, '{sources[fw]}' AS detect_source"
        f" FROM documents WHERE doc_id % {n} = {k}"
        for k, (fw, _lg, _tpl) in enumerate(_DETECT_ARMS)
    ]
    return " UNION ALL ".join(arms)


_PATH_ARMS = [
    "concat('pkg/mod', CAST(doc_id AS STRING), '_test.go')",
    "concat('pkg/mod', CAST(doc_id AS STRING), '.go')",
    "concat('src/app', CAST(doc_id AS STRING), '.test.ts')",
    "concat('src/__fixtures__/f', CAST(doc_id AS STRING), '.ts')",
    "concat('src/main/java/Big', CAST(doc_id AS STRING), 'Test.java')",
    "concat('src/test/java/Big', CAST(doc_id AS STRING), 'Test.java')",
    "concat('tests/test_mod', CAST(doc_id AS STRING), '.py')",
    "concat('spec/models/m', CAST(doc_id AS STRING), '_spec.rb')",
    "concat('spec/support/h', CAST(doc_id AS STRING), '.rb')",
    "concat('crates/c', CAST(doc_id AS STRING), '/src/lib.rs')",
    "concat('bench/geo', CAST(doc_id AS STRING), '_test.cc')",
    "concat('docs/readme', CAST(doc_id AS STRING), '.md')",
]


def _path_gen_sql() -> str:
    """Deterministic per-doc path — SAME CASE expression on both engines."""
    cases = " ".join(
        f"WHEN doc_id % {len(_PATH_ARMS)} = {k} THEN {arm}"
        for k, arm in enumerate(_PATH_ARMS)
    )
    return f"(CASE {cases} END)"


def q_test_file_filter(spark, sf_dir):
    """F1: the 11-language candidate-file predicate over generated paths.
    The ORACLE runs the IDENTICAL generated SQL in DuckDB (portable
    POSITION/LEFT/RIGHT/LOWER string ops) — exact cross-engine parity of
    the scan-level pushdown predicate.

    ``path`` is projected ONCE in an inner select on BOTH engines: the
    predicate references its input ~114x, and inlining the 12-arm path
    CASE at every reference tripled the runtime (6.1s -> 2.x; Catalyst
    keeps the stepwise alias un-collapsed per SPARK-36718 because it is
    non-cheap and multiply referenced)."""
    from core_spark.sources.ingest import sql_test_file_candidate

    return _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id",
        f"{_path_gen_sql()} AS path",
    ).selectExpr(
        "doc_id",
        "path",
        f"{sql_test_file_candidate('path')} AS is_candidate",
    )


def _sql_test_file_filter_oracle() -> str:
    from core_spark.sources.ingest import sql_test_file_candidate

    return (
        f"SELECT doc_id, path, {sql_test_file_candidate('path')} AS is_candidate "
        f"FROM (SELECT doc_id, {_path_gen_sql()} AS path FROM documents)"
    )


def q_outline(spark, sf_dir):
    """P6-analog/A1: heading-tree inventory counts. Heading-rich html is
    synthesized deterministically per doc_id, so the oracle emits the
    EXPECTED counts from the generation rules (the stack walk itself is
    golden-tested in tests/test_structure.py)."""
    from core_spark.functions.structure import outline_counts, with_outline

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "CAST(doc_id AS STRING) AS url",
        "CAST(concat('<h1>Doc ', doc_id, '</h1><p>intro words</p>',"
        " CASE WHEN doc_id % 2 = 0 THEN '<h2>Even</h2><p>a b c</p>' ELSE '' END,"
        " CASE WHEN doc_id % 3 = 0 THEN '<h2>Fizz</h2><h3>Deep</h3><p>x y</p>' ELSE '' END"
        ") AS BINARY) AS html",
    )
    return outline_counts(with_outline(docs))


GAZ_TOKENS = ["spark", "window", "vector", "stream", "merge", "hash", "join", "scan"]


def q_token_match(spark, sf_dir):
    """D3 parity: broadcast-lookup matcher — every (doc, matched token) pair
    against a small in-memory 'gazetteer' (the import-pattern matcher shape,
    pkg/parser/framework/matchers/import.go:26-49)."""
    from pyspark.sql import functions as F

    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.expr("split(trim(text), '\\\\s+')")).alias("token"),
    )
    return toks.filter(F.col("token").isin(GAZ_TOKENS)).distinct()


def q_s2_assign(spark, sf_dir):
    """G4 rows-only: S2 cell ids (level 10) via the vectorized numpy kernel —
    no SQL equivalent exists (Hilbert-curve bit interleave); kernel invariants
    golden-tested in tests/test_s2.py."""
    from core_spark.operators.tiles import assign_tiles

    return assign_tiles(
        _points(spark, sf_dir), resolutions=(), s2_level=10
    ).select("doc_id", "s2_cell")


S2_ZONAL_LEVEL = 2


def q_s2_zonal(spark, sf_dir):
    """G7 on the spherical S2 lattice (area-uniform cells, no planar-seam
    caveats): per-cell rollup at level 2 — doc count + language
    diversity. Rows-only by design (the Hilbert bit-interleave has no
    SQL twin); gated by the dual-implementation pytest instead
    (tests/test_s2.py: vectorized numpy kernel vs independent scalar
    bit-walk, plus this exact rollup compared end-to-end). Routing:
    hexgrid is the fast planar JVM-SQL lattice (seam caveats at ±180 and
    the poles — COVERAGE.md); S2 is the global path for worldwide
    corpora."""
    from pyspark.sql import functions as F

    from core_spark.functions.s2 import s2_cell_col

    pts = _points(spark, sf_dir)
    return (
        pts.withColumn(
            "s2_cell", s2_cell_col("lat", "lon", S2_ZONAL_LEVEL)
        )
        .groupBy("s2_cell")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware near-dup collapse (operators/dedup.py::
    dedup_keep_best): same MinHash->verify->connected-components
    pipeline as dedup_cluster, but each duplicate family keeps its
    LONGEST member (ties -> lowest doc_id) — the production curation
    policy — via a component-keyed min(struct(-score, id)) argmax.
    Oracled against the independent recursive-CTE closure plan."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    hs = docs.select(
        F.col("doc_id"),
        F.expr(dd.spark_hashed_shingles("text", 3)).alias("_shs"),
    ).transform(pin)
    cands = dd.minhash_lsh_pairs(docs, k=3, n_perm=8, bands=4, hashed_sets=hs)
    pairs = dd.verify_pairs_jaccard(cands, docs, k=3, threshold=0.5,
                                    hashed_sets=hs)
    return dd.dedup_keep_best(docs, pairs, "length(text)").selectExpr(
        "doc_id"
    )


def q_dedup_cluster(spark, sf_dir):
    """Near-dup clustering end-to-end: MinHash-LSH candidates -> exact
    Jaccard verify -> connected components (alternating star contraction)
    -> the kept representative set. Oracled against an INDEPENDENT DuckDB
    plan (recursive transitive-closure CTE + min label).

    The hashed-shingle sets are materialized ONCE (plans.materialize.pin) and
    shared by the signature stage and both sides of the verify join — one
    md5 tokenize pass over the corpus instead of three."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    hs = docs.select(
        F.col("doc_id"),
        F.expr(dd.spark_hashed_shingles("text", 3)).alias("_shs"),
    ).transform(pin)
    cands = dd.minhash_lsh_pairs(docs, k=3, n_perm=8, bands=4, hashed_sets=hs)
    pairs = dd.verify_pairs_jaccard(cands, docs, k=3, threshold=0.5, hashed_sets=hs)
    return dd.dedup_keep_representatives(docs, pairs).selectExpr("doc_id")


def q_pipeline_stats(spark, sf_dir):
    """G9 rows-only: run the checkpointed flagship pipeline on a tiny corpus
    (resumes instantly on re-run — fingerprint cache) and return the
    per-stage lineage metrics the manifest recorded."""
    from core_spark.plans.pipeline import run_pipeline

    out = run_pipeline(spark, "/tmp/spark_graft_entry_pipeline", n_docs=500,
                       partitions=4)
    rows = [
        (m["stage"], m["row_count"], m["n_files"])
        for m in out["_manifest"].metrics()
    ]
    return spark.createDataFrame(rows, "stage string, row_count bigint, n_files int")


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs, Hamming <= 3 — the radius where 4-band
    blocking is provably complete (pigeonhole), so the banded plan matches
    the oracle's brute-force all-pairs scan exactly. Signatures come from
    the vectorized numpy kernel; the oracle recomputes them independently
    in DuckDB SQL (md5-derived bits are engine-portable)."""
    # trim(): a whitespace-only doc tokenizes to [] in the kernel but [''] in
    # DuckDB's string_split_regex — excluded on BOTH sides for parity
    docs = _docs(spark, sf_dir).filter("text IS NOT NULL AND trim(text) <> ''")
    return dd.simhash_candidates(dd.with_simhash(docs), max_hamming=3).selectExpr(
        "id_a", "id_b", "CAST(hamming AS BIGINT) AS hamming"
    )


def _media_blobs(docs):
    """doc_id DataFrame -> (doc_id, media binary) via the doc_id templates
    shared by q_media_pipeline and q_multimodal_curation (and mirrored by
    their oracles' CASE expressions): arm = doc_id%5 picks the codec
    (fake/PNG/baseline JPEG/truncated-fake/progressive JPEG), size and
    gray level are doc_id mod templates with gray ≡ 128 (mod 5) so the
    JPEG DC survives the flat quantization exactly (jpeg.py docstring —
    the progressive scan script encodes the same quantized coefficients,
    so the exactness rule carries over)."""
    import numpy as np
    import pandas as pd

    from core_spark.functions.jpeg import encode_jpeg
    from core_spark.operators.multimodal import encode_fake_image, encode_png

    def gen(batches):
        # fixture-generation cost control (NOT the operator under test):
        # the template space is small (5 arms x 7w x 6h x 19 gray levels),
        # memoize the pure-Python encoders per worker
        cache: dict = {}

        def _blob(arm, w, h, v):
            blob = cache.get((arm, w, h, v))
            if blob is None:
                img = np.full((h, w, 3), v, np.uint8)
                if arm == 1:
                    blob = encode_png(img)
                elif arm == 2:
                    blob = encode_jpeg(img)
                elif arm == 4:
                    blob = encode_jpeg(img, progressive=True)
                else:
                    blob = encode_fake_image(img)
                    if arm == 3:
                        blob = blob[:-1]  # -> truncated_payload
                cache[(arm, w, h, v)] = blob
            return blob

        for pdf in batches:
            blobs = [
                _blob(int(did) % 5, 5 + int(did) % 7, 4 + int(did) % 6,
                      128 + 5 * ((int(did) * 7) % 19 - 9))
                for did in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    return docs.mapInPandas(gen, "doc_id bigint, media binary")


def q_media_pipeline(spark, sf_dir):
    """Multimodal decode pipeline, driver-gated by a generation-rule oracle.

    Per-doc constant gray images are synthesized from doc_id templates in
    four real codec arms — the fake header, PNG (RFC 2083), baseline JPEG
    and progressive JPEG (ITU-T T.81 Annex G, functions/jpeg.py) — plus a
    deterministic corrupt arm (_media_blobs), then decoded back through
    the fused stage. Gray
    values are chosen ≡ 128 (mod 5) so the JPEG DC survives the flat
    quantization exactly (jpeg.py docstring): every codec round-trips
    BIT-exactly, and DuckDB emits the EXPECTED output straight from the
    generation rules — the decoders are oracle-gated without a SQL
    reimplementation (same trick as inventory_spans).
    """
    from pyspark.sql import functions as F

    from core_spark.operators.multimodal import with_media_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    blobs = _media_blobs(docs)
    # ONE fused Arrow stage for decode (metadata + thumb): chained
    # mapInPandas anti-scales (CLAUDE.md / with_media_features docstring)
    return with_media_features(blobs, size=2).select(
        "doc_id",
        "media_format",
        F.col("media_ok").cast("int").alias("media_ok"),
        "width",
        "height",
        F.element_at("thumb", 1).alias("thumb_v"),
        "decode_error",
    )


def q_audio_features(spark, sf_dir):
    """WAV audio decode + features, driver-gated by a generation-rule oracle.

    Per-doc PCM16 square waves (alternating +A/-A, amplitude and length
    from doc_id templates, mono/stereo alternating) are encoded with
    functions/wav.py and decoded back through the fused
    with_audio_features stage. Every emitted feature is integer-derived
    (peak = mean_abs = A exactly; duration = n/8000, plain IEEE division
    in both engines), so DuckDB emits the EXPECTED output straight from
    the templates. One arm truncates the data chunk: fmt-derived fields
    survive, features NULL, error recorded — error-as-data end to end.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from core_spark.functions.wav import encode_wav
    from core_spark.operators.multimodal import with_audio_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def gen(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 64 + did % 97
                amp = 100 + (did * 11) % 900
                wave = (amp * (-1) ** np.arange(n)).astype(np.int16)
                if did % 2:
                    wave = np.column_stack([wave, wave])
                blob = encode_wav(wave, 8000)
                if did % 5 == 4:
                    blob = blob[:-3]  # -> truncated_payload, error-as-data
                blobs.append(blob)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "audio": blobs})

    blobs = docs.mapInPandas(gen, "doc_id bigint, audio binary")
    return with_audio_features(blobs).select(
        "doc_id",
        F.col("audio_ok").cast("int").alias("audio_ok"),
        "channels",
        "sample_rate",
        "n_samples",
        "duration_s",
        "peak_amp",
        "mean_abs",
        "audio_error",
    )


def q_video_frames(spark, sf_dir):
    """MJPEG frame sampling, driver-gated by a generation-rule oracle.

    Per-doc motion-JPEG streams (2-6 constant-gray frames; sizes, counts
    and per-frame gray levels from doc_id templates, levels ≡ 128 mod 5
    so the JPEG DC survives quantization exactly — jpeg.py docstring) are
    split marker-aware and every 2nd frame decoded in the fused
    with_video_frames stage. DuckDB emits the expected sampled rows from
    the templates via a VALUES cross join (frame_idx ∈ {0,2,4} under
    n_frames); one arm cuts the final EOI — a single error row.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from core_spark.functions.jpeg import encode_jpeg
    from core_spark.operators.multimodal import with_video_frames

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def gen(batches):
        # fixture-generation cost control, NOT part of the operator under
        # test: the template space is <= 5*4*19 distinct constant-gray
        # frames, so memoize the pure-Python encoder per worker (cache
        # lives inside gen — a decorated local won't pickle)
        cache: dict = {}

        def _frame(w, h, v):
            blob = cache.get((w, h, v))
            if blob is None:
                blob = cache[(w, h, v)] = encode_jpeg(
                    np.full((h, w, 3), v, np.uint8))
            return blob

        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                nf = 2 + did % 5
                w, h = 6 + did % 5, 5 + did % 4
                blob = b"".join(
                    _frame(w, h, 128 + 5 * ((did * 7 + f * 3) % 19 - 9))
                    for f in range(nf))
                if did % 7 == 6:
                    blob = blob[:-2]  # cut the final EOI -> one error row
                blobs.append(blob)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "video": blobs})

    blobs = docs.mapInPandas(gen, "doc_id bigint, video binary")
    return with_video_frames(blobs, every=2).select(
        "doc_id",
        F.col("video_ok").cast("int").alias("video_ok"),
        "n_frames",
        "frame_idx",
        "frame_w",
        "frame_h",
        "frame_mean",
        "video_error",
    )


def q_multimodal_curation(spark, sf_dir):
    """Multimodal curation flow: the text quality gate (same C4/Gopher-ish
    thresholds as corpus_curation) joined with the decoded media features
    of the SAME documents (_media_blobs templates -> fused Arrow stage),
    keeping only decodable media, rolled up per media format.

    Composition is the point: Arrow-stage output participates in ordinary
    JVM relational ops (equi-join on doc_id -> hash agg). At 10^12 rows
    the plan is two codegen'd scans -> one shuffle join on the uniform
    doc_id key -> tiny agg; the media branch's blob never crosses a
    shuffle (with_media_features projects it away inside the stage). The
    oracle composes the textstats twins with the media generation rules.
    """
    from pyspark.sql import functions as F

    from core_spark.functions.textstats import spark_quality_cols
    from core_spark.operators.multimodal import with_media_features

    docs = _docs(spark, sf_dir)
    cols = spark_quality_cols("text")
    gated = (
        docs.selectExpr(
            "doc_id",
            f"{cols['n_tokens']} AS n_tokens",
            f"{cols['alpha_ratio']} AS alpha_ratio",
            f"{cols['digit_ratio']} AS digit_ratio",
        )
        .filter("n_tokens >= 5 AND alpha_ratio >= 0.5 AND digit_ratio <= 0.3")
        .select("doc_id", "n_tokens")
    )
    media = (
        with_media_features(_media_blobs(docs.select("doc_id")), size=2)
        .filter("media_ok")
        .select("doc_id", "media_format", "width", "height")
    )
    return (
        gated.join(media, "doc_id")
        .groupBy("media_format")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.sum(F.expr("CAST(width * height AS BIGINT)")).alias("sum_pixels"),
        )
    )


def _sql_multimodal_curation_oracle() -> str:
    from core_spark.functions.textstats import duck_quality_cols

    cols = duck_quality_cols("text")
    return f"""
WITH gated AS (
  SELECT doc_id, {cols['n_tokens']} AS n_tokens
  FROM documents
  WHERE {cols['n_tokens']} >= 5
    AND {cols['alpha_ratio']} >= 0.5
    AND {cols['digit_ratio']} <= 0.3
),
media AS (
  SELECT doc_id,
         CASE doc_id % 5 WHEN 1 THEN 'image/png'
                         WHEN 2 THEN 'image/jpeg'
                         WHEN 4 THEN 'image/jpeg'
                         ELSE 'fakeimg/v1' END AS media_format,
         5 + doc_id % 7 AS width,
         4 + doc_id % 6 AS height
  FROM documents WHERE doc_id % 5 <> 3
)
SELECT m.media_format,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(g.n_tokens) AS BIGINT) AS sum_tokens,
       CAST(SUM(m.width * m.height) AS BIGINT) AS sum_pixels
FROM gated g JOIN media m USING (doc_id)
GROUP BY m.media_format
"""


# ---------------------------------------------------------------------------
# Training-data curation round 2: PII / repetition / decontamination /
# sampling (no reference counterpart — the training-data brief's curation
# family; each is a pure declarative plan with a full DuckDB twin)
# ---------------------------------------------------------------------------

def _pii_aug_expr(dialect: str) -> str:
    """Deterministic PII-bearing text from doc_id (generation-rule input).

    Every doc gets exactly one of {email, phone, ipv4} appended by
    ``doc_id % 3`` and docs with ``doc_id % 5 = 0`` additionally get an
    SSN-shaped id, so all four redaction categories are exercised, including
    multi-category docs. Only int->string casting differs per dialect.
    """
    s = "STRING" if dialect == "spark" else "VARCHAR"

    def c(e: str) -> str:
        return f"CAST({e} AS {s})"

    return (
        "text || CASE doc_id % 3"
        f" WHEN 0 THEN ' contact dev' || {c('doc_id')} || '@mail'"
        f" || {c('doc_id % 7')} || '.org now'"
        f" WHEN 1 THEN ' call (' || {c('200 + doc_id % 700')} || ') '"
        f" || {c('200 + doc_id % 700')} || '-' || {c('1000 + doc_id % 9000')}"
        " || ' today'"
        f" ELSE ' node 10.' || {c('doc_id % 256')} || '.'"
        f" || {c('doc_id % 250')} || '.' || {c('1 + doc_id % 254')} || ' up'"
        " END || CASE WHEN doc_id % 5 = 0 THEN"
        f" ' id ' || {c('100 + doc_id % 900')} || '-' || {c('10 + doc_id % 90')}"
        f" || '-' || {c('2000 + doc_id % 8000')} || '.' ELSE '' END"
    )


def q_pii_redact(spark, sf_dir):
    """PII counts + typed-placeholder redaction (functions/pii.py) over
    deterministically PII-augmented text. Per-row JVM regex map — no
    shuffle; the DuckDB twin runs the same patterns (RE2/Java shared
    subset) with per-dialect escaping only."""
    from core_spark.functions import pii as pi

    aug = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_pii_aug_expr('spark')} AS text"
    )
    return aug.selectExpr(
        "doc_id",
        *[f"{e} AS {k}" for k, e in pi.pii_cols("text", "spark").items()],
    )


def _sql_pii_redact_oracle() -> str:
    from core_spark.functions import pii as pi

    cols = ", ".join(
        f"{e} AS {k}" for k, e in pi.pii_cols("text", "duckdb").items()
    )
    return (
        f"SELECT doc_id, {cols} FROM "
        f"(SELECT doc_id, {_pii_aug_expr('duckdb')} AS text FROM documents)"
    )


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition signals (functions/repetition.py): duplicate
    -token fraction, top token/bigram counts + fractions — all within-row
    higher-order array functions, a codegen'd map with NO shuffle (the
    explode+groupBy alternative shuffles every token at corpus scale)."""
    from core_spark.functions import repetition as rp

    return rp.with_repetition(
        _docs(spark, sf_dir).select("doc_id", "text")
    ).drop("text")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/decontaminate.py): the planted
    benchmark is every 50th doc of the same corpus, so docs are flagged when
    they share a 5-token shingle with it — broadcast gram join, map-side
    filtered; only matching grams shuffle."""
    from core_spark.operators.decontaminate import contaminated_docs

    docs = _docs(spark, sf_dir)
    return contaminated_docs(docs, docs.filter("doc_id % 50 = 0"), k=5)


def q_decontaminate_spans(spark, sf_dir):
    """Span-level decontamination (operators/decontaminate.py::
    decontaminate_spans): contaminated k-gram runs are REMOVED as merged
    [start,end) token spans instead of flagging whole docs — benchmark
    gram hashes broadcast, corpus positions filtered map-side, removal
    machinery shared with span dedup. Benchmark = every 50th doc, so
    those docs are fully scrubbed and quoting docs lose just the
    quoted run."""
    from core_spark.operators.decontaminate import decontaminate_spans

    docs = _docs(spark, sf_dir)
    return decontaminate_spans(docs, docs.filter("doc_id % 50 = 0"), k=5)


def q_refinery_subdoc(spark, sf_dir):
    """Sub-document refinery — the round-5 operators composed as ONE
    oracled chain (the corpus_refinery pattern): cross-doc span dedup
    over boilerplate-planted text -> span-level decontamination of the
    deduped text (benchmark = every 50th doc) -> token-mixture
    reweighting of the scrubbed corpus. Output (doc_id, lang,
    n_tokens_clean). Each stage is the standalone audited operator; the
    chain gates their composition (column renames between stages, empty
    texts after scrubbing, mixture over post-clean token counts)."""
    from pyspark.sql import functions as F

    from core_spark.operators.decontaminate import decontaminate_spans
    from core_spark.operators.sampling import mixture_sample
    from core_spark.operators.spandedup import dedup_substrings

    base = pin(
        _docs(spark, sf_dir).selectExpr(
            "doc_id", f"{SPAN_GEN_SQL} AS text", "lang"
        )
    )
    langs = base.select("doc_id", "lang")
    t1 = (
        dedup_substrings(base, SPAN_K)
        .selectExpr("doc_id", "text_dedup AS text")
        .join(langs, "doc_id")
    )
    t2 = (
        decontaminate_spans(t1, t1.filter("doc_id % 50 = 0"), k=5)
        .selectExpr("doc_id", "text_clean AS text")
        .join(langs, "doc_id")
    )
    return mixture_sample(
        t2, MIXTURE_TARGETS, "size(split(trim(text), ' '))"
    ).select(
        "doc_id",
        "lang",
        F.expr("CAST(size(split(trim(text), ' ')) AS INT)").alias(
            "n_tokens_clean"
        ),
    )


SAMPLE_RATES = {"en": 0.5, "de": 0.9, "es": 0.9, "fr": 0.9, "zh": 0.25}
#: target token shares for the training mix; 'es' has no target -> dropped
MIXTURE_TARGETS = {"en": 0.5, "de": 0.2, "fr": 0.2, "zh": 0.1}


def q_mixture_sample(spark, sf_dir):
    """Training-mix reweighting (operators/sampling.py::mixture_sample):
    downsample strata so output TOKEN shares hit MIXTURE_TARGETS — the
    binding stratum (smallest tokens/share) survives whole and sets the
    output size, the rest are hash-thresholded; untargeted strata drop.
    One tiny per-stratum aggregate -> broadcast rates -> codegen'd
    filter; no data-row shuffle, no driver collect."""
    from core_spark.operators.sampling import mixture_sample

    docs = _docs(spark, sf_dir, wide=False)
    return mixture_sample(
        docs, MIXTURE_TARGETS, "size(split(trim(text), ' '))"
    ).selectExpr("doc_id", "lang")


def q_sample_stratified(spark, sf_dir):
    """Deterministic hash-threshold stratified sample (operators/sampling.py)
    — per-lang keep rates as a pure codegen'd filter, no shuffle; the kept
    set is stable under repartitioning and identical in DuckDB."""
    from core_spark.operators.sampling import sample_stratified

    return sample_stratified(
        _docs(spark, sf_dir, wide=False), SAMPLE_RATES
    ).select("doc_id", "lang", "source")


def q_sample_quota(spark, sf_dir):
    """Exact per-stratum quota sample: first 25 docs per lang in portable
    md5-hash order (one window per stratum; the skew trade-off vs the
    hash-threshold sampler is documented in operators/sampling.py)."""
    from core_spark.operators.sampling import sample_quota

    return sample_quota(
        _docs(spark, sf_dir, wide=False), 25
    ).select("doc_id", "lang")


# URL generation rules (generation-rule oracle: same SQL text on both
# engines derives a synthetic url / crawl timestamp per doc, so the URL
# operators are gated without a url column in the fixture table). Eight
# arms cover the canonicalizer's branch space: mixed-case hosts, default
# and non-default ports, www prefixes, index.html, trailing slashes,
# tracking params (leading / trailing / only), fragments, root paths,
# and a near-miss tracking name ('xfbclid' must survive — ADVICE r4).
URL_GEN_SQL = """
CASE CAST(doc_id % 9 AS INT)
  WHEN 0 THEN 'https://SITE' || source || '.Example.com/a/' || CAST(doc_id AS STRING)
  WHEN 1 THEN 'https://site' || source || '.example.com:443/a/' || CAST(doc_id AS STRING) || '/'
  WHEN 2 THEN 'http://www.site' || source || '.example.com:80/a/' || CAST(doc_id AS STRING) || '?utm_source=feed'
  WHEN 3 THEN 'https://site' || source || '.example.com/a/' || CAST(doc_id AS STRING) || '/index.html'
  WHEN 4 THEN 'https://site' || source || '.example.com:8443/a/' || CAST(doc_id AS STRING)
  WHEN 5 THEN 'https://site' || source || '.example.com/a/' || CAST(doc_id AS STRING) || '?q=1&utm_campaign=x#frag'
  WHEN 6 THEN 'http://site' || source || '.example.com/a/' || CAST(doc_id AS STRING) || '?utm_a=1&utm_b=2'
  WHEN 7 THEN 'https://Site' || source || '.Example.com/'
  ELSE 'http://site' || source || '.example.com/a/' || CAST(doc_id AS STRING) || '?xfbclid=1&utm_source=f'
END
""".strip()

# ~3 recrawls per url; the crawl timestamp is doc_id-scrambled so the
# latest snapshot is NOT simply the max doc_id of the group.
URL_CRAWL_SQL = (
    "'https://s' || CAST(CAST(FLOOR(doc_id / 3.0) AS BIGINT) % 7 AS STRING)"
    " || '.example/p/' || CAST(CAST(FLOOR(doc_id / 3.0) AS BIGINT) AS STRING)"
)
TS_CRAWL_SQL = "CAST(1700000000 + (doc_id * 7919) % 100000 AS BIGINT)"
HOST_CAP = 15


def q_url_host_cap(spark, sf_dir):
    """URL canonicalization + skew-aware per-host cap (operators/weburl.py):
    stepwise one-pass-per-rule normalization (lowercase host, default-port
    and www strip, tracking-param and fragment removal, index.html /
    trailing-slash rewrite), then at most HOST_CAP docs per host in
    portable md5 order — over-cap mega-hosts pay the window, the long
    tail passes through a broadcast anti-join."""
    from core_spark.operators.weburl import canonicalize_url, cap_per_host

    df = _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id", "source", f"{URL_GEN_SQL} AS url"
    )
    return cap_per_host(
        canonicalize_url(df), HOST_CAP
    ).select("doc_id", "host", "url_canon")


# Domain-blocklist generation rule: six arms cover the suffix-match
# branch space after canonicalization — exact blocked host, one- and
# two-level subdomains of it, a near-miss label prefix (xsite... must
# SURVIVE), a blocked parent suffix behind a non-default port, and a
# clean host. Blocked when source is src3/src7 (arms 0/1/3) or the
# .example.org parent is listed (arm 4).
BL_URL_GEN_SQL = """
CASE CAST(doc_id % 6 AS INT)
  WHEN 0 THEN 'https://site' || source || '.example.com/a/' || CAST(doc_id AS STRING)
  WHEN 1 THEN 'https://cdn.site' || source || '.example.com/a/' || CAST(doc_id AS STRING)
  WHEN 2 THEN 'https://xsite' || source || '.example.com/a/' || CAST(doc_id AS STRING)
  WHEN 3 THEN 'https://a.b.site' || source || '.example.com/a/' || CAST(doc_id AS STRING)
  WHEN 4 THEN 'https://site' || source || '.example.org:8443/a/' || CAST(doc_id AS STRING)
  ELSE 'https://site' || source || '.example.net/a/' || CAST(doc_id AS STRING)
END
""".strip()
BL_DOMAINS = ["sitesrc3.example.com", "sitesrc7.example.com", "example.org"]


def q_url_blocklist(spark, sf_dir):
    """RefinedWeb-style domain-blocklist filter (operators/urlfilter.py):
    canonicalize -> drop every doc whose host label-suffix-matches a
    blocked domain. The host directory (distinct hosts) pays the suffix
    explode, never the corpus; matched hosts broadcast into a final
    anti join, so surviving documents never shuffle."""
    from core_spark.operators.urlfilter import filter_blocked_hosts
    from core_spark.operators.weburl import canonicalize_url

    df = _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id", "source", f"{BL_URL_GEN_SQL} AS url"
    )
    bl = spark.createDataFrame([(d,) for d in BL_DOMAINS], "domain string")
    return filter_blocked_hosts(
        canonicalize_url(df), bl
    ).select("doc_id", "host", "url_canon")


PARA_TOKENS = 10


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide paragraph-level exact dedup, first occurrence wins
    (operators/paradedup.py — Lee et al. 2022 paragraph-hash variant):
    winner-per-hash via a map-side-combining MIN aggregate, no window;
    paragraphs derived as 10-token chunks (the fixture corpus has no
    newline structure; real corpora split on blank lines)."""
    from core_spark.operators.paradedup import (
        dedup_paragraphs, paragraphs_expr, tokens_expr,
    )

    df = (
        _docs(spark, sf_dir)
        .selectExpr("doc_id", f"{tokens_expr('text', 'spark')} AS _toks")
        .selectExpr(
            "doc_id",
            f"{paragraphs_expr('_toks', PARA_TOKENS, 'spark')} AS paras",
        )
    )
    return dedup_paragraphs(df)


# Substring-span dedup generation rule: plant two multi-token boilerplate
# spans (13 and 12 tokens, k=SPAN_K grams) across 60% of docs at
# NON-paragraph-aligned offsets (prepended/appended to otherwise-unique
# text) — exactly what paragraph-level dedup misses. Shared SQL text on
# both engines (generation-rule oracle pattern).
SPAN_K = 6
_SPAN_B1 = (
    "legal notice all rights reserved unauthorized reproduction of this"
    " material is strictly prohibited"
)
_SPAN_B2 = (
    "subscribe to our weekly newsletter and follow our page for daily"
    " updates"
)
SPAN_GEN_SQL = f"""
CASE CAST(doc_id % 5 AS INT)
  WHEN 0 THEN '{_SPAN_B1}' || ' ' || text
  WHEN 1 THEN text || ' ' || '{_SPAN_B2}'
  WHEN 2 THEN '{_SPAN_B1}' || ' ' || text || ' ' || '{_SPAN_B2}'
  ELSE text
END
""".strip()


def q_span_dedup(spark, sf_dir):
    """Cross-document substring-level dedup (operators/spandedup.py — the
    Spark-native fixed-k-gram variant of Lee et al.'s ExactSubstr):
    positional k-gram inverted index -> cross-doc first-occurrence
    winners (min struct, overflow-free) -> flagged starts merged into
    maximal [start, end) token spans by a within-row fold -> covered
    tokens removed. Three uniform-key shuffles, all per-row work in JVM
    higher-order functions."""
    from core_spark.operators.spandedup import dedup_substrings

    df = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{SPAN_GEN_SQL} AS text"
    )
    return dedup_substrings(df, SPAN_K)


VOCAB_V, TFIDF_K = 30, 3


def q_tfidf_topk(spark, sf_dir):
    """Per-doc distinctive terms (operators/termstats.py): corpus document
    frequency (within-row distinct before the explode), top-V broadcast
    vocabulary, per-doc top-k by integer-exact (tf DESC, df ASC, term ASC)
    — within-row tf and within-row top-k cut, no token-level shuffle and
    no corpus-wide window."""
    from core_spark.operators.termstats import (
        distinctive_terms, document_frequency, top_vocab,
    )

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", "split(trim(text), ' ') AS toks"
    )
    vocab = top_vocab(document_frequency(docs), VOCAB_V)
    return distinctive_terms(docs, vocab, TFIDF_K)


def q_card_sketch(spark, sf_dir):
    """Mergeable linear-counting cardinality sketch per lang
    (operators/cardsketch.py): the deterministic bucket-hit count is the
    gated value; exact distinct rides along so the estimator's accuracy
    is visible in the compared data; the ln estimate stays driver-side."""
    from core_spark.operators.cardsketch import distinct_sketch

    return distinct_sketch(
        _docs(spark, sf_dir, wide=False), "lang", "md5(text)"
    )


def q_hll_sketch(spark, sf_dir):
    """HyperLogLog per lang (operators/cardsketch.py::hll_sketch) — the
    cardinality sketch that does NOT saturate where linear counting does
    (fixed m=256 registers serve any cardinality at ~6.5% error). The
    entire register state is oracled exactly: register fingerprint
    (sorted bucket:reg, md5), registers-hit count, and the harmonic
    denominator pre-scaled to a BIGINT (2^(W+1-reg) per register) so no
    float crosses engines; the 1/x + ln estimate stays driver-side
    (hll_estimate, accuracy pytested to the 1.04/sqrt(m) bound at 100
    to 200k distinct). ONE uniform-(lang,bucket) hash-agg with map-side
    MAX combine, then a per-lang re-agg of ≤256 rows; registers merge
    across shards/days by MAX (pytested shard-union + 1/7/32-way
    partition invariance)."""
    from core_spark.operators.cardsketch import hll_sketch

    return hll_sketch(_docs(spark, sf_dir, wide=False), "lang", "md5(text)")


FP_PREFIX_K = 2


def q_incremental_dedup(spark, sf_dir):
    """Incremental crawl admission (operators/dedup.py::admit_new_docs):
    odd doc_ids are the new snapshot, even the existing corpus; a doc is
    admitted iff its prefix fingerprint (first 2 tokens — chosen so both
    rejection paths bite on the fixture: 61 existing hits, 43 within-
    batch dups) is novel. Within-batch winner via MIN hash-agg; existing
    set checked by a shuffle anti join on the uniform fp key, never
    broadcast."""
    from core_spark.operators.dedup import admit_new_docs

    fp = (
        f"md5(array_join(slice(split(trim(text), ' '), 1, {FP_PREFIX_K}),"
        " ' '))"
    )
    docs = _docs(spark, sf_dir).selectExpr("doc_id", f"{fp} AS fp")
    return admit_new_docs(
        docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
    )


def q_incremental_bloom(spark, sf_dir):
    """Bloom-gated crawl admission (operators/bloomadmit.py): same
    fixture and same oracle as incremental_dedup, but routed through
    the shuffle-free ledger probe — per-bucket md5-Bloom bitmaps built
    without shuffling the ledger, definite misses admitted with no
    ledger access, maybe-hits verified by broadcast semi/anti joins.
    No false negatives ⇒ output is PROVABLY identical to the exact
    anti-join, so the oracle is inherited unchanged; the bloom can only
    affect the route, never the answer (equivalence + plan-shape
    pytests in test_bloomadmit.py)."""
    from core_spark.operators.bloomadmit import admit_new_docs_bloom

    fp = (
        f"md5(array_join(slice(split(trim(text), ' '), 1, {FP_PREFIX_K}),"
        " ' '))"
    )
    docs = _docs(spark, sf_dir).selectExpr("doc_id", f"{fp} AS fp")
    return admit_new_docs_bloom(
        docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
    )


def q_group_quantiles(spark, sf_dir):
    """Exact per-lang p50/p90/p99 of document length (operators/
    quantiles.py): integer-rank definition (value at ceil(n·p) in total
    (value, key) order), pure BIGINT target math — engine-deterministic
    where percentile built-ins aren't; approx_percentile documented as
    the non-oracled at-scale path."""
    from core_spark.operators.quantiles import exact_group_quantiles

    return exact_group_quantiles(
        _docs(spark, sf_dir, wide=False), "lang", "n_chars"
    )


REFINERY_CAP, REFINERY_PCT, REFINERY_BUDGET, REFINERY_SHARDS = 10, 5, 256, 8


def q_corpus_refinery(spark, sf_dir):
    """End-to-end web-corpus refinery — the full curation chain as ONE
    DataFrame program: derive crawl url+ts (generation rules) →
    canonicalize → latest-crawl-per-URL → per-host cap → host-level
    quality gate → sequence packing. Every stage is the same operator the
    standalone queries use; the oracle composes the stages' SQL twins in
    the same order, so the CHAIN is gated, not just the pieces."""
    from core_spark.functions.textstats import (
        spark_stop_count, spark_token_count,
    )
    from core_spark.operators.packing import pack_sequences
    from core_spark.operators.weburl import (
        canonicalize_url, cap_per_host, gate_hosts_by_quality,
        latest_snapshot,
    )

    df = canonicalize_url(
        _docs(spark, sf_dir).selectExpr(
            "doc_id", "source", "text",
            f"{URL_GEN_SQL} AS url",
            f"{TS_CRAWL_SQL} AS ts_epoch",
        )
    ).selectExpr(
        "doc_id", "host", "url_canon", "ts_epoch",
        f"CAST({spark_stop_count('text')} AS BIGINT) AS stop_n",
        f"CAST({spark_token_count('text')} AS BIGINT) AS n_tokens",
    )
    latest = latest_snapshot(df, "url_canon", "ts_epoch", "doc_id")
    capped = cap_per_host(latest, REFINERY_CAP)
    gated = gate_hosts_by_quality(capped, REFINERY_PCT)
    return pack_sequences(
        gated, REFINERY_BUDGET, REFINERY_SHARDS
    ).select("doc_id", "host", "n_tokens", "shard", "bin", "offset")


# tile_compact generation rule: a filled 50-wide axial box of r9 cells
# (doc_id x 7 offsets = 3,500 cells) so interior 7-families promote at
# 9->8 and the promoted region still contains complete families at 8->7 —
# multi-level compaction is actually exercised, box edges stay put.
_P59, _P29, _P28 = 1 << 59, 1 << 29, 1 << 28
CELL_FROM_IDX = (
    f"CAST(9 AS BIGINT) * {_P59} + ((idx % 50) + {_P28})"
    f" * CAST({_P29} AS BIGINT)"
    f" + (CAST(FLOOR(idx / 50.0) AS BIGINT) + {_P28})"
)
RES_FROM_CELL = (
    f"CAST(FLOOR(CAST(cell AS DOUBLE) / {float(_P59)!r}) AS BIGINT)"
)


def q_tile_compact(spark, sf_dir):
    """H3-style cell-set compaction (operators/tiles.py::compact_cells):
    complete 7-child families collapse into their parent recursively —
    fixed-depth level loop, one hash-agg + one anti join per level, the
    working set shrinking ~7x each time."""
    from core_spark.operators.tiles import compact_cells

    gen = (
        _docs(spark, sf_dir, wide=False)
        .selectExpr("doc_id", "explode(sequence(0, 6)) AS j")
        .selectExpr("doc_id * 7 + j AS idx")
        .selectExpr(f"{CELL_FROM_IDX} AS cell")
    )
    return compact_cells(gen, input_res=9, min_res=5).selectExpr(
        "cell", f"{RES_FROM_CELL} AS res"
    )


def q_asof_join(spark, sf_dir):
    """Temporal as-of join (operators/asof.py): every event gets the most
    recent STRICTLY-earlier error event of the same user via the
    union-window plan (one key shuffle, no range-join blowup); the oracle
    is DuckDB's native ASOF JOIN — an independent implementation."""
    from core_spark.operators.asof import asof_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    errors = ev.filter("event_type = 'error'").selectExpr(
        "user_id", "ts", "event_id AS err_id"
    )
    return asof_join(
        ev.select("event_id", "user_id", "ts"),
        errors,
        key="user_id",
        ts_col="ts",
        payload_cols=["err_id"],
        prefix="prior_",
    ).select("event_id", "prior_err_id")


RANGE_R = 2.0


def q_range_join(spark, sf_dir):
    """Spatial range join (operators/rangejoin.py): all point pairs within
    2° planar distance via epsilon-grid blocking — explode ×9 into the
    3×3 neighborhood, one equi shuffle join, exact predicate; never a
    cartesian. Oracle is the honest brute-force O(n²) cross join."""
    from core_spark.operators.rangejoin import range_join_pairs

    return range_join_pairs(_points(spark, sf_dir, wide=False), RANGE_R)


HOST_GATE_PCT = 5


def q_host_quality_gate(spark, sf_dir):
    """Domain-level quality gating (operators/weburl.py): canonical host
    per doc, integer stopword-density aggregate per host, and a broadcast
    anti join dropping every doc of under-threshold hosts — composition of
    the URL and textstats subsystems; good-host docs never shuffle."""
    from core_spark.functions.textstats import (
        spark_stop_count, spark_token_count,
    )
    from core_spark.operators.weburl import (
        canonicalize_url, gate_hosts_by_quality,
    )

    df = canonicalize_url(
        _docs(spark, sf_dir).selectExpr(
            "doc_id", "source", "text", f"{URL_GEN_SQL} AS url"
        )
    ).selectExpr(
        "doc_id",
        "host",
        f"CAST({spark_stop_count('text')} AS BIGINT) AS stop_n",
        f"CAST({spark_token_count('text')} AS BIGINT) AS n_tokens",
    )
    return gate_hosts_by_quality(df, HOST_GATE_PCT).select(
        "doc_id", "host", "stop_n", "n_tokens"
    )


PACK_BUDGET, PACK_SHARDS = 256, 8


def q_pack_sequences(spark, sf_dir):
    """Deterministic sequence packing (operators/packing.py): per-doc
    (shard, bin, offset) under a 256-token budget — concat-then-chunk
    semantics, md5-sharded so packing parallelizes; the only shuffle is
    the per-shard window in deterministic hash order."""
    from core_spark.operators.packing import pack_sequences

    df = _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id",
        "CAST(size(split(trim(text), ' ')) AS BIGINT) AS n_tokens",
    )
    return pack_sequences(df, PACK_BUDGET, PACK_SHARDS).select(
        "doc_id", "n_tokens", "shard", "bin", "offset"
    )


def q_url_latest(spark, sf_dir):
    """Latest-crawl-per-URL snapshot dedup (operators/weburl.py): one
    max(struct(ts, key)) hash aggregate with map-side combine picks the
    newest recrawl per URL — no per-URL window sort."""
    from core_spark.operators.weburl import latest_snapshot

    df = _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id",
        f"{URL_CRAWL_SQL} AS url",
        f"{TS_CRAWL_SQL} AS ts_epoch",
    )
    return latest_snapshot(df, "url", "ts_epoch", "doc_id").select(
        "doc_id", "url", "ts_epoch"
    )


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial tile-assignment + zonal rollup on sf0.001."""
    return q_zonal_rollup(spark, "/root/testdata/sf0.001")


def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) layout bucket stats — the write-side spatial
    layout op (Iceberg OPTIMIZE ZORDER analog, zorder.py docstring).
    Buckets are zkey-prefix ranges (the file boundaries a range-
    clustered write produces); min/max lat/lon per bucket are exactly
    the column stats a scan prunes on. The layout op itself
    (repartitionByRange + sortWithinPartitions) is plan- and
    data-asserted in tests/test_zorder.py; this query oracles the key
    derivation + footprints bit-for-bit (pure +,*,/ quantization,
    multiply/mask interleave on BIGINT)."""
    from pyspark.sql import functions as F

    import core_spark.operators.zorder as zo

    pts = _points(spark, sf_dir, wide=False)
    keyed = zo.with_zorder_key(pts)
    return (
        keyed.selectExpr(f"zkey DIV {1 << 26} AS bucket", "lat", "lon")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("lat").alias("min_lat"),
            F.max("lat").alias("max_lat"),
            F.min("lon").alias("min_lon"),
            F.max("lon").alias("max_lon"),
        )
    )


def q_link_pagerank(spark, sf_dir):
    """Host link-graph PageRank, exact BIGINT arithmetic (3 damped
    rounds at damping 17/20 over a deterministic md5-derived host graph
    with uniform out-degree 4 — linkgraph.py module docstring). The
    classic iterative web-scale workload: per-round materialization via
    pin, uniform-key shuffles, node directory joined against
    the edge table. Oracled bit-for-bit (derivation + all rounds are
    integer-exact on both engines; a fractions.Fraction pytest proves
    the DIV steps lose nothing)."""
    docs = _docs(spark, sf_dir, wide=False)
    edges = lg.derive_host_edges(docs, n_hosts=97, k_out=4)
    return lg.pagerank(edges, k_out=4, iters=3)


# Outlink generation rule: seven arms cover the href extraction spec's
# branch space — double/single/unquoted values, uppercase tag+attr, a
# <link> tag behind www.+default-port noise, relative/mailto rejection,
# and a two-link document (order + multiplicity). The DuckDB twin never
# parses HTML: it derives the EXPECTED target hosts straight from the
# same arms (generation-rule oracle, CLAUDE.md trick), so a parser bug
# on any arm breaks the match.
OUTLINK_DST_SQL = "concat('h', CAST(doc_id % 23 AS STRING), '.example')"
OUTLINK_SRC_SQL = "concat('s', CAST(doc_id % 11 AS STRING), '.example')"
OUTLINK_HTML_SQL = """
CASE CAST(doc_id % 7 AS INT)
  WHEN 0 THEN '<p>plain text, no links</p>'
  WHEN 1 THEN '<a href="https://' || _dst || '/p1">x</a>'
  WHEN 2 THEN '<A HREF=''https://' || _dst || '/p2''>x</A>'
  WHEN 3 THEN '<a class="c" href=https://' || _dst || '/p3>x</a>'
  WHEN 4 THEN '<link rel="next" href="https://WWW.' || _dst || ':443/n">'
  WHEN 5 THEN '<a href="/rel">x</a><a href="mailto:a@b.c">y</a>'
  ELSE '<a href="https://' || _dst || '/a">x</a><div>mid</div>' ||
       '<a href="http://other.' || _dst || '/b">y</a>'
END
""".strip()


def _sql_outlink_edges(src_sql: str) -> str:
    """DuckDB expected-edges derivation for the OUTLINK_HTML_SQL arms —
    an independent plan that never parses HTML (the twin reads the
    expected targets off the generation rule)."""
    return f"""
        SELECT src_host, dst_host, COUNT(*) AS n_links
        FROM (
          SELECT src_host, unnest(dsts) AS dst_host FROM (
            SELECT {src_sql} AS src_host,
                   CASE CAST(doc_id % 7 AS INT)
                     WHEN 1 THEN [_dst]
                     WHEN 2 THEN [_dst]
                     WHEN 3 THEN [_dst]
                     WHEN 4 THEN [_dst]
                     WHEN 5 THEN CAST([] AS VARCHAR[])
                     WHEN 0 THEN CAST([] AS VARCHAR[])
                     ELSE [_dst, 'other.' || _dst]
                   END AS dsts
            FROM (SELECT doc_id, {OUTLINK_DST_SQL} AS _dst
                  FROM documents)
          )
        )
        GROUP BY src_host, dst_host
    """


def q_site_outlinks(spark, sf_dir):
    """Real-markup outlink extraction -> host edge rollup
    (functions/weblinks.py): JVM regexp_extract_all over <a>/<link>
    href values (both quote styles + unquoted, case-insensitive),
    absolute http(s) only, dst host canonicalized (lowercase, default
    port + www stripped) — then (src_host, dst_host, n_links) with one
    uniform-key aggregate. Payload never survives the explode."""
    from core_spark.functions.weblinks import host_edges, with_outlinks

    df = (
        _docs(spark, sf_dir, wide=False)
        .selectExpr("doc_id", f"{OUTLINK_DST_SQL} AS _dst")
        .selectExpr(
            f"{OUTLINK_SRC_SQL} AS src_host",
            f"{OUTLINK_HTML_SQL} AS html_str",
        )
    )
    return host_edges(with_outlinks(df))


DSIR_BUCKETS, DSIR_TARGET = 512, "lang = 'en'"


def q_dsir_weights(spark, sf_dir):
    """DSIR-style importance reweighting (operators/dsir.py — Xie et
    al. 2023, integer-exact variant): hashed word-bigram buckets, two
    bounded bag-of-features models (target = English docs; raw = the
    md5-gated half sample), per-bucket add-1 fixed-point likelihood
    ratio, per-doc mean ratio via ONE broadcast join + per-doc re-agg.
    Measured on the fixture: target-language docs score highest (the
    selection signal DSIR resamples by)."""
    from core_spark.operators.dsir import importance_weights

    return importance_weights(
        _docs(spark, sf_dir, wide=False),
        DSIR_TARGET,
        n_buckets=DSIR_BUCKETS,
    )


# src hosts drawn from the DST namespace (h0..h10 ⊂ h0..h22) so the
# PageRank graph has hosts that both emit and receive links; h11..h22
# and the other.* subdomains are dangling receivers (mass-leak arm).
OUTLINK_PR_SRC_SQL = "concat('h', CAST(doc_id % 11 AS STRING), '.example')"


def q_outlink_pagerank(spark, sf_dir):
    """The real-crawl capstone: HTML -> href extraction -> host edge
    rollup -> general weighted PageRank (variable out-degree, edge
    multiplicities, dangling hosts) — linkgraph.pagerank_weighted,
    bit-portable truncating-BIGINT iteration, per-round pin.
    The oracle composes the expected-edge derivation (never parses
    HTML) with the unrolled 3-round twin."""
    from core_spark.functions.weblinks import host_edges, with_outlinks

    df = (
        _docs(spark, sf_dir, wide=False)
        .selectExpr("doc_id", f"{OUTLINK_DST_SQL} AS _dst")
        .selectExpr(
            f"{OUTLINK_PR_SRC_SQL} AS src_host",
            f"{OUTLINK_HTML_SQL} AS html_str",
        )
    )
    edges = host_edges(with_outlinks(df))
    return lg.pagerank_weighted(edges, iters=3)


# Decomposed accents + angstrom sign + a control + tab runs, appended to
# every doc so the NFC oracle actually exercises composition (the synth
# corpus is ASCII-ish, where NFC is the identity). Kept in one constant so
# the Spark literal and the DuckDB chr()-built twin cannot drift.
_NFC_SUFFIX = "\t élève  Ångström \x07 Å"


def q_text_normalize(spark, sf_dir):
    """Unicode text normalization (functions/textnorm.normalize_text):
    JVM-codegen'd cleanup (strip C0/DEL controls keeping \\n, collapse
    space/tab runs, trim) + NFC via ONE Arrow-batched pandas_udf — the
    documented slow-path exception, since Spark has no built-in NFC.
    Oracled byte-for-byte against DuckDB's nfc_normalize (NFC is a
    Unicode-standard function, so utf8proc and Python's unicodedata
    must agree); char length + md5 prefix of the normalized text pin
    byte identity per doc."""
    from pyspark.sql import functions as F

    from core_spark.functions import textnorm as tn

    # wide=True: the NFC Arrow stage is Python-side compute over every
    # doc — exactly the shape the pool rebalance exists for.
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    raw = docs.withColumn("raw", F.concat("text", F.lit(_NFC_SUFFIX)))
    return tn.normalize_text(raw, "raw", "norm").selectExpr(
        "doc_id",
        "CAST(length(norm) AS INT) AS n_norm",
        "substring(md5(norm), 1, 16) AS norm_fp",
    )


def _sql_text_normalize() -> str:
    """DuckDB twin of q_text_normalize. The suffix is rebuilt from
    codepoints with chr() so no raw control/combining bytes ride inside
    the SQL text."""
    from core_spark.functions.textnorm import sql_clean_nfc

    suffix = " || ".join(f"chr({ord(c)})" for c in _NFC_SUFFIX)
    norm = sql_clean_nfc(f"(text || {suffix})")
    return f"""
SELECT doc_id,
       CAST(length({norm}) AS INT) AS n_norm,
       substring(md5({norm}), 1, 16) AS norm_fp
FROM documents
"""


# Case + accents + decomposition + word-final capital sigma (where the
# JVM's Final_Sigma rule would fire if fold_text didn't translate Σ→σ
# before lower) — appended so the fold oracle exercises every folding
# step, not just ASCII lowercasing.
_FOLD_SUFFIX = "\t ÉLÈVE  Ångström\x07 ΣΙΓΜΑΣ Å"


def q_text_fold(spark, sf_dir):
    """CCNet-style dedup-key folding (functions/textnorm.fold_text):
    JVM cleanup → strip ALL Unicode marks (NFD → drop Mn/Mc/Me → NFC,
    exactly DuckDB strip_accents' utf8proc STRIPMARK map) in ONE Arrow
    stage → JVM Σ→σ translate + lower. Accent/case/composition variants
    collapse to one key, so exact dedup / fingerprints / decon grams
    catch near-identical docs byte-hashing misses (pytest demos the
    collapse). Oracled byte-for-byte vs lower(strip_accents(...)) —
    engine-parity fuzz in tests/test_textnorm.py found and pinned the
    one real divergence (JVM conditional Final_Sigma)."""
    from pyspark.sql import functions as F

    from core_spark.functions import textnorm as tn

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    raw = docs.withColumn("raw", F.concat("text", F.lit(_FOLD_SUFFIX)))
    return tn.fold_text(raw, "raw", "fold").selectExpr(
        "doc_id",
        "CAST(length(fold) AS INT) AS n_fold",
        "substring(md5(fold), 1, 16) AS fold_fp",
    )


def _sql_text_fold() -> str:
    """DuckDB twin of q_text_fold (suffix rebuilt from codepoints with
    chr(), same as _sql_text_normalize)."""
    from core_spark.functions.textnorm import sql_fold

    suffix = " || ".join(f"chr({ord(c)})" for c in _FOLD_SUFFIX)
    folded = sql_fold(f"(text || {suffix})")
    return f"""
SELECT doc_id,
       CAST(length({folded}) AS INT) AS n_fold,
       substring(md5({folded}), 1, 16) AS fold_fp
FROM documents
"""


def _c4_gen_steps(dialect: str) -> list[tuple[str, str]]:
    """Generation rule for the C4-cleaning oracle: the fixture corpus has
    no newlines or punctuation, so derive a web-page-like column — 8-token
    lines whose terminator ('.', '!', '?', or none) is chosen by the
    line's own md5 (content-addressed, so no list-index primitive is
    needed — DuckDB's list_transform has no index arg), plus a junk first
    line by doc_id arm (lorem-ipsum page ban / javascript line ban /
    curly-brace page ban / too-short line / clean). Same steps textually
    on both engines."""
    from core_spark.operators.paradedup import (
        _hash60, paragraphs_expr, tokens_expr,
    )

    h = _hash60("l", "spark" if dialect == "spark" else "duckdb")
    term = (
        f"CASE CAST({h} % 4 AS INT) WHEN 0 THEN '.' WHEN 1 THEN '!'"
        f" WHEN 2 THEN '?' ELSE '' END"
    )
    if dialect == "spark":
        plines = f"transform(_rawlines, l -> l || {term})"
        joined = "array_join(_plines, char(10))"
        nl = "char(10)"
    else:
        plines = f"list_transform(_rawlines, l -> l || {term})"
        joined = "COALESCE(array_to_string(_plines, chr(10)), '')"
        nl = "chr(10)"
    junk = (
        f"CASE CAST(doc_id % 5 AS INT)"
        f" WHEN 0 THEN 'lorem ipsum dolor sit amet.' || {nl} || _joined"
        f" WHEN 1 THEN 'please enable javascript to continue.' || {nl}"
        f" || _joined"
        f" WHEN 2 THEN 'var f = function() {{ return 1; }}.' || {nl}"
        f" || _joined"
        f" WHEN 3 THEN 'too short.' || {nl} || _joined"
        f" ELSE _joined END"
    )
    return [
        ("_toks", tokens_expr("text", dialect)),
        ("_rawlines", paragraphs_expr("_toks", 8, dialect)),
        ("_plines", plines),
        ("_joined", joined),
        ("gen_text", junk),
    ]


def q_c4_clean(spark, sf_dir):
    """C4-style page cleaning (operators/c4clean.py — the Raffel et al.
    2020 §2.2 heuristics): line-level terminal-punctuation / min-words /
    javascript rules, page-level min-sentences / lorem-ipsum /
    curly-brace gates. One codegen'd stepwise projection, no shuffle, no
    Python (plan-asserted Exchange-free in pytest). Input lines+
    punctuation derived by _c4_gen_steps (generation-rule oracle);
    outputs pin the cleaned text by md5 prefix."""
    from core_spark.operators.c4clean import clean_steps

    docs = _docs(spark, sf_dir, wide=False).select("doc_id", "text")
    gen = hx.apply_steps(docs, _c4_gen_steps("spark"))
    out = hx.apply_steps(gen, clean_steps("gen_text", "spark"))
    return out.selectExpr(
        "doc_id",
        "n_lines",
        "n_kept",
        "n_sent",
        "c4_kept",
        "substring(md5(c4_clean), 1, 16) AS clean_fp",
    )


def _sql_c4_clean_oracle() -> str:
    from core_spark.operators.c4clean import clean_steps

    inner = "SELECT doc_id, text FROM documents"
    for name, expr in _c4_gen_steps("duckdb") + clean_steps(
        "gen_text", "duckdb"
    ):
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
    return f"""
SELECT doc_id, n_lines, n_kept, n_sent, c4_kept,
       substring(md5(c4_clean), 1, 16) AS clean_fp
FROM ({inner})
"""


def _gopher_gen_steps(dialect: str) -> list[tuple[str, str]]:
    """Generation rule for the Gopher-gate oracle: the fixture corpus has
    single-space words, no lines, and only ONE Gopher stop word ('the'),
    so every doc would fail g_stop vacuously. Derive 8-token lines with
    content-hash decorations (bullets ~40%, ellipsis endings ~20%) and
    doc_id arms that push each gate across its threshold: all-bullet
    pages, stop-word-bearing pages, symbol-heavy pages, and plain pages."""
    from core_spark.operators.paradedup import (
        _hash60, paragraphs_expr, tokens_expr,
    )

    h = _hash60("l", "spark" if dialect == "spark" else "duckdb")
    deco = (
        f"CASE CAST({h} % 5 AS INT) WHEN 0 THEN '- ' || l"
        f" WHEN 1 THEN l || '...' WHEN 2 THEN '* ' || l ELSE l END"
    )
    if dialect == "spark":
        dlines = f"transform(_rawlines, l -> {deco})"
        joined = "array_join(_dlines, char(10))"
        nl = "char(10)"
    else:
        dlines = f"list_transform(_rawlines, l -> {deco})"
        joined = "COALESCE(array_to_string(_dlines, chr(10)), '')"
        nl = "chr(10)"
    gen = (
        f"CASE CAST(doc_id % 4 AS INT)"
        f" WHEN 0 THEN '- ' || replace(_joined, {nl}, {nl} || '- ')"
        f" WHEN 1 THEN _joined || {nl} ||"
        f" 'and that have with the of to be'"
        f" WHEN 2 THEN _joined || ' ### ## # ... ...'"
        f" ELSE _joined END"
    )
    return [
        ("_toks", tokens_expr("text", dialect)),
        ("_rawlines", paragraphs_expr("_toks", 8, dialect)),
        ("_dlines", dlines),
        ("_joined", joined),
        ("gen_text", gen),
    ]


def q_gopher_gate(spark, sf_dir):
    """Gopher quality rules (operators/gopherrules.py — Rae et al. 2021
    Table A1, the word-statistics half; repetition.py is the other
    half): word count / mean word length / symbol ratio / bullet- and
    ellipsis-line fractions / alphabetic-word fraction / stop-word
    presence, every gate in pure BIGINT cross-multiplication (no double
    ever compared). One Exchange-free Python-free stepwise projection
    (plan-asserted in pytest); lines + gate-crossing arms derived by
    _gopher_gen_steps."""
    from core_spark.operators.gopherrules import GATE_COLS, gopher_steps

    docs = _docs(spark, sf_dir, wide=False).select("doc_id", "text")
    gen = hx.apply_steps(docs, _gopher_gen_steps("spark"))
    out = hx.apply_steps(gen, gopher_steps("gen_text", "spark"))
    return out.select(
        "doc_id",
        "words",
        "sum_word_len",
        "n_symbols",
        "bullet_lines",
        "ellipsis_lines",
        "alpha_words",
        "stop_types",
        *GATE_COLS,
    )


def _sql_gopher_gate_oracle() -> str:
    from core_spark.operators.gopherrules import GATE_COLS, gopher_steps

    inner = "SELECT doc_id, text FROM documents"
    for name, expr in _gopher_gen_steps("duckdb") + gopher_steps(
        "gen_text", "duckdb"
    ):
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
    outs = ", ".join(
        [
            "doc_id", "words", "sum_word_len", "n_symbols",
            "bullet_lines", "ellipsis_lines", "alpha_words", "stop_types",
        ]
        + GATE_COLS
    )
    return f"SELECT {outs} FROM ({inner})"


# Constant five-sentence page built from corpus-pool words + Gopher stop
# words: passes C4 (punctuated ≥3-word lines) and Gopher (≥50 words,
# stops present), and its trigrams are in-distribution so the LM score
# stays under the pipeline threshold. Planted at doc_id%20==1 (as-is)
# and %20==5 (UPPERCASED) so the fold-key dedup stage has a real
# cross-case duplicate family to collapse.
_PIPE_CONST_LINES = [
    "the table scan and value part with that have merge sort now.",
    "a fast row hash of the big data column stays here today.",
    "the small batch join and window agg keep that order well.",
    "a slow filter group with the key value line runs fine too.",
    "the query stream sort of a part table ends this page now.",
]
#: integer LM-score ceiling for the pipeline's fluency gate (keeps both
#: planted case variants: measured 263,711 / 943,103 at sf0.01)
_PIPE_LM_MAX = 1_000_000


def _pipe_gen_expr(dialect: str) -> str:
    """The pipeline's input arm (applies after _c4_gen_steps' _joined):
    planted constant pages, a lorem page-ban arm, a stop-word-bearing
    punctuated line (the main survivor arm), and a curly-brace arm."""
    nl = "char(10)" if dialect == "spark" else "chr(10)"
    const = f" || {nl} || ".join(f"'{l}'" for l in _PIPE_CONST_LINES)
    const_up = f" || {nl} || ".join(
        f"'{l.upper()}'" for l in _PIPE_CONST_LINES
    )
    return (
        f"CASE"
        f" WHEN CAST(doc_id % 20 AS INT) = 1 THEN {const}"
        f" WHEN CAST(doc_id % 20 AS INT) = 5 THEN {const_up}"
        f" WHEN CAST(doc_id % 4 AS INT) = 0 THEN"
        f" 'lorem ipsum dolor sit amet.' || {nl} || _joined"
        f" WHEN CAST(doc_id % 4 AS INT) = 1 THEN _joined || {nl} ||"
        f" 'and that we have with the of be here today.'"
        f" WHEN CAST(doc_id % 4 AS INT) = 2 THEN"
        f" 'var f = function() {{ return 1; }}.' || {nl} || _joined"
        f" ELSE _joined END"
    )


def q_pipeline_modern(spark, sf_dir):
    """The modern web-pipeline capstone, composed end-to-end from this
    round's operators: C4 page cleaning → Gopher quality gates (on the
    cleaned text) → char-trigram LM fluency → fold-key (case/accent-
    insensitive) exact-dedup representative selection. Flag-style
    output (one row per doc: c4_kept, gopher_kept, lm score, fold_fp,
    final_kept) so every stage's behavior is oracled, not just the
    surviving set; final_kept = all gates AND lowest-id member of the
    doc's fold family. The planted constant page (two byte-distinct
    case variants across ~50 docs) collapses to ONE representative —
    the cross-case dedup that byte-level hashing cannot do. Chain
    tables that feed multiple consumers are pinned (CLAUDE.md rule);
    the LM stage's double corpus scan is the operator's own documented
    shape."""
    from pyspark.sql import functions as F

    from core_spark.functions import textnorm as tn
    from core_spark.operators.c4clean import clean_steps
    from core_spark.operators.gopherrules import gopher_steps

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    # gen_text must land in the SAME apply_steps call as _joined —
    # apply_steps drops _-prefixed intermediates when it returns
    gen = hx.apply_steps(
        docs,
        _c4_gen_steps("spark")[:-1]
        + [("gen_text", _pipe_gen_expr("spark"))],
    ).select("doc_id", "gen_text")
    chain = hx.apply_steps(gen, clean_steps("gen_text", "spark"))
    chain = hx.apply_steps(chain, gopher_steps("c4_clean", "spark"))
    flags = pin(
        chain.select("doc_id", "c4_kept", "gopher_kept", "c4_clean")
    )
    scores = lms.trigram_fluency(
        flags.selectExpr("doc_id", "c4_clean AS text"), vocab_size=256
    ).select("doc_id", "score")
    joined = flags.join(scores, "doc_id")
    folded = pin(
        tn.fold_text(joined, "c4_clean", "_fold").selectExpr(
            "doc_id",
            "c4_kept",
            "gopher_kept",
            "score",
            "substring(md5(_fold), 1, 16) AS fold_fp",
            f"COALESCE(c4_kept AND gopher_kept AND score < {_PIPE_LM_MAX},"
            f" false) AS _cand",
        )
    )
    winners = (
        folded.where("_cand")
        .groupBy("fold_fp")
        .agg(F.min("doc_id").alias("_rep"))
    )
    return (
        folded.join(winners, "fold_fp", "left")
        .selectExpr(
            "doc_id",
            "c4_kept",
            "gopher_kept",
            "score",
            "fold_fp",
            "COALESCE(_cand AND doc_id = _rep, false) AS final_kept",
        )
    )


def _sql_pipeline_modern() -> str:
    from core_spark.functions.textnorm import sql_fold
    from core_spark.operators.c4clean import clean_steps
    from core_spark.operators.gopherrules import gopher_steps

    inner = "SELECT doc_id, text FROM documents"
    steps = (
        _c4_gen_steps("duckdb")[:-1]
        + [("gen_text", _pipe_gen_expr("duckdb"))]
        + clean_steps("gen_text", "duckdb")
        + gopher_steps("c4_clean", "duckdb")
    )
    for name, expr in steps:
        inner = f"SELECT *, {expr} AS {name} FROM ({inner})"
    flags = (
        f"SELECT doc_id, c4_kept, gopher_kept, c4_clean FROM ({inner})"
    )
    lm = lms.sql_trigram_fluency(
        f"(SELECT doc_id, c4_clean AS text FROM ({flags}))", vocab_size=256
    )
    return f"""
WITH flags AS ({flags}), lm AS ({lm}),
j AS (
  SELECT f.doc_id, f.c4_kept, f.gopher_kept, l.score,
         substring(md5({sql_fold('f.c4_clean')}), 1, 16) AS fold_fp,
         COALESCE(f.c4_kept AND f.gopher_kept
                  AND l.score < {_PIPE_LM_MAX}, false) AS _cand
  FROM flags f JOIN lm l USING (doc_id)
),
w AS (
  SELECT fold_fp, MIN(doc_id) AS _rep FROM j WHERE _cand GROUP BY fold_fp
)
SELECT j.doc_id, j.c4_kept, j.gopher_kept, j.score, j.fold_fp,
       COALESCE(j._cand AND j.doc_id = w._rep, false) AS final_kept
FROM j LEFT JOIN w USING (fold_fp)
"""


def q_warc_roundtrip(spark, sf_dir):
    """WARC source gate (sources/warc.py — ISO 28500, Common Crawl's
    native format): every document is encoded as a single-record WARC
    archive (odd doc_ids as a per-record-gzip member, the standard
    .warc.gz layout) and parsed back with the REAL record parser in the
    same Arrow stage; the emitted fields come from the PARSED record,
    so header grammar, Content-Length slicing, gzip membering, and
    payload bytes are all gated byte-for-byte against a pure-SQL
    derivation of the same fields."""
    import hashlib

    import pandas as pd

    from core_spark.sources.warc import encode_warc, parse_warc

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "url", "warc_ts", "rec_type", "n_payload",
                "payload_fp")}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                i = int(doc_id)
                s = i % 86400
                ts = f"2026-01-01T{s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}Z"
                rec = {
                    "url": f"https://corpus.example/doc/{i}",
                    "ts": ts,
                    "payload": str(text).encode("utf-8"),
                }
                data = encode_warc([rec], per_record_gzip=bool(i % 2))
                (p,) = parse_warc(data)
                assert p["parse_error"] is None, p["parse_error"]
                out["doc_id"].append(i)
                out["url"].append(p["target_uri"])
                out["warc_ts"].append(p["warc_date"])
                out["rec_type"].append(p["warc_type"])
                out["n_payload"].append(len(p["payload"]))
                out["payload_fp"].append(
                    hashlib.md5(p["payload"]).hexdigest()[:16]
                )
            yield pd.DataFrame(out)

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return docs.mapInPandas(
        run,
        "doc_id long, url string, warc_ts string, rec_type string,"
        " n_payload int, payload_fp string",
    )


_SQL_WARC_ROUNDTRIP = """
SELECT doc_id,
       'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       '2026-01-01T' || lpad(CAST((doc_id % 86400) // 3600 AS VARCHAR), 2, '0')
         || ':' || lpad(CAST((doc_id % 3600) // 60 AS VARCHAR), 2, '0')
         || ':' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || 'Z'
         AS warc_ts,
       'response' AS rec_type,
       CAST(strlen(text) AS INT) AS n_payload,
       substring(md5(text), 1, 16) AS payload_fp
FROM documents
"""


def q_iceberg_scan(spark, sf_dir):
    """Iceberg v2 table-format gate (sources/iceberg.py over the repo's
    own Avro codec, avrolite.py — no Iceberg runtime jar): the corpus is
    committed to a REAL on-disk Iceberg table as three snapshots
    (append; merge-on-read position deletes keyed by Spark's
    (_metadata.file_path, row_index) coordinates; equality deletes on
    (lang, source)), then read back through the full metadata chain —
    version-hint → metadata.json → manifest-list avro → manifest avro →
    snapshot-pruned parquet scan + broadcast anti-join delete layers.
    Three arms oracle three read paths: `current` (both delete layers),
    `snap1` (time travel by snapshot id), `asof_pos` (time travel by
    timestamp, position deletes only). Values gated byte-for-byte via
    md5(text). ``ingest.read_corpus`` reads a table root through the
    same ``read_iceberg``; this proves the engine speaks the format
    itself and that MOR deletes stay broadcast anti-joins
    (plan-asserted in test_iceberg.py)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from core_spark.sources.iceberg import (
        IcebergFixtureWriter, load_table_metadata, read_iceberg,
    )

    docs = _docs(spark, sf_dir, wide=False).select(
        "doc_id", "lang", "source", "text")
    root = os.path.join(
        tempfile.gettempdir(),
        f"core_spark_iceberg_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}")
    shutil.rmtree(root, ignore_errors=True)  # always a fresh deterministic build
    w = IcebergFixtureWriter(root, docs.schema)
    s1 = w.append(docs, n_files=4)
    w.delete_positions(spark, F.col("doc_id") % 7 == 3)
    w.delete_equality(
        docs.filter(F.col("doc_id") % 13 == 0).select("lang", "source"),
        ["lang", "source"])
    md = load_table_metadata(root)
    ts2 = sorted(s["timestamp-ms"] for s in md["snapshots"])[1]

    def arm(name, df):
        return df.select(
            F.lit(name).alias("arm"), "doc_id", "lang", "source",
            F.md5("text").alias("text_md5"))

    return (
        arm("current", read_iceberg(spark, root))
        .unionAll(arm("snap1", read_iceberg(spark, root, snapshot_id=s1)))
        .unionAll(arm("asof_pos", read_iceberg(spark, root, as_of_ms=ts2)))
    )


_SQL_ICEBERG_SCAN = """
WITH eq_keys AS (
  SELECT DISTINCT lang, source FROM documents WHERE doc_id % 13 = 0
)
SELECT 'current' AS arm, d.doc_id, d.lang, d.source, md5(d.text) AS text_md5
FROM documents d
WHERE d.doc_id % 7 <> 3
  AND NOT EXISTS (SELECT 1 FROM eq_keys k
                  WHERE k.lang = d.lang AND k.source = d.source)
UNION ALL
SELECT 'snap1' AS arm, doc_id, lang, source, md5(text) AS text_md5
FROM documents
UNION ALL
SELECT 'asof_pos' AS arm, doc_id, lang, source, md5(text) AS text_md5
FROM documents WHERE doc_id % 7 <> 3
"""


def q_delta_scan(spark, sf_dir):
    """Delta Lake table-format gate (sources/deltalake.py — the PUBLIC
    transaction-log protocol, no delta-spark jar): the corpus is
    committed to a REAL on-disk Delta table partitioned by lang as
    v0 CREATE → v1 append → v2 copy-on-write DELETE (doc_id%7==3;
    remove+add rewrite of exactly the affected files) → checkpoint
    parquet at v2 → v3 append of a re-crawl batch. Four arms oracle
    four read paths: `current` (checkpoint + post-checkpoint replay —
    the checkpoint IS on the path), `v1` (time travel by version,
    pre-checkpoint JSON replay), `asof` (time travel by In-Commit
    Timestamp), `pruned` (plan-time partition pruning off the log's
    partitionValues — only lang=en files reach Spark, plan-asserted in
    test_deltalake.py). Values gated byte-for-byte via md5(text)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from core_spark.sources.deltalake import DeltaFixtureWriter, read_delta

    docs = _docs(spark, sf_dir, wide=False).select(
        "doc_id", "lang", "source", "text")
    root = os.path.join(
        tempfile.gettempdir(),
        f"core_spark_delta_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}")
    shutil.rmtree(root, ignore_errors=True)  # always a fresh deterministic build
    w = DeltaFixtureWriter(root, docs.schema, partition_cols=["lang"])
    v1 = w.append(docs, n_files=4)
    w.delete_where(spark, F.col("doc_id") % 7 == 3)
    ts_v2 = 1_700_000_000_000 + 3 * 60_000  # ICT clock: v0,v1,v2 commits
    w.checkpoint()
    recrawl = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "lang", "source",
        F.concat(F.lit("v2:"), F.col("text")).alias("text"))
    w.append(recrawl, n_files=2)

    def arm(name, df):
        return df.select(
            F.lit(name).alias("arm"), "doc_id", "lang", "source",
            F.md5("text").alias("text_md5"))

    return (
        arm("current", read_delta(spark, root))
        .unionAll(arm("v1", read_delta(spark, root, version=v1)))
        .unionAll(arm("asof", read_delta(spark, root, as_of_ms=ts_v2)))
        .unionAll(arm("pruned", read_delta(
            spark, root, partition_filter={"lang": "en"})))
    )


_SQL_DELTA_SCAN = """
SELECT 'current' AS arm, doc_id, lang, source, md5(text) AS text_md5
FROM documents WHERE doc_id % 7 <> 3
UNION ALL
SELECT 'current' AS arm, doc_id + 1000000, lang, source,
       md5('v2:' || text) AS text_md5
FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT 'v1' AS arm, doc_id, lang, source, md5(text) AS text_md5
FROM documents
UNION ALL
SELECT 'asof' AS arm, doc_id, lang, source, md5(text) AS text_md5
FROM documents WHERE doc_id % 7 <> 3
UNION ALL
SELECT 'pruned' AS arm, doc_id, lang, source, md5(text) AS text_md5
FROM documents WHERE doc_id % 7 <> 3 AND lang = 'en'
UNION ALL
SELECT 'pruned' AS arm, doc_id + 1000000, lang, source,
       md5('v2:' || text) AS text_md5
FROM documents WHERE doc_id % 10 = 0 AND lang = 'en'
"""


RAG_CHUNK_SIZE, RAG_CHUNK_OVERLAP = 16, 4


def q_rag_chunks(spark, sf_dir):
    """RAG / embedding-window chunking (operators/chunking.py): the
    standard sliding token window (size 16, overlap 4) over every doc,
    with 0-based end-EXCLUSIVE token provenance spans (the repo-wide
    location convention; same SHAPE as span_dedup/decontaminate_spans
    coordinates — index-for-index composition needs the same tokenizer,
    see the module docstring). ONE codegen'd projection + within-row explode — no
    shuffle, no Python, no window (plan-asserted in test_chunking.py);
    at scale this is a map-only stage whose output partitioning is the
    consumer's choice. Chunk text gated byte-for-byte via md5."""
    from pyspark.sql import functions as F

    from core_spark.operators.chunking import chunk_documents

    docs = _docs(spark, sf_dir, wide=False).select("doc_id", "text")
    chunks = chunk_documents(docs, RAG_CHUNK_SIZE, RAG_CHUNK_OVERLAP)
    return chunks.select(
        "doc_id", "chunk_ix", "tok_start", "tok_end", "n_tokens",
        F.md5("chunk_text").alias("fp"))


def _sql_rag_chunks() -> str:
    from core_spark.operators.chunking import sql_chunk_documents

    inner = sql_chunk_documents(
        "documents", RAG_CHUNK_SIZE, RAG_CHUNK_OVERLAP)
    return f"""
        SELECT doc_id, chunk_ix, tok_start, tok_end, n_tokens,
               md5(chunk_text) AS fp
        FROM ({inner})
    """


def _sql_hll_sketch_q() -> str:
    from core_spark.operators.cardsketch import sql_hll_sketch

    return sql_hll_sketch("documents", "lang", "md5(text)")


HITS_ITERS, HITS_HOSTS, HITS_KOUT = 2, 97, 4


def q_link_hits(spark, sf_dir):
    """HITS hubs & authorities (operators/linkgraph.py::hits) over the
    same derived host graph as link_pagerank — the axis PageRank can't
    express: authorities (hosts worth linking TO) vs hubs (directories
    worth crawling FROM), the distinction seed selection and crawl
    prioritization actually use. Exact BIGINT: Kleinberg's per-round L2
    normalization only bounds floats, rankings are scale-invariant, so
    the integer variant skips it (hits_bound() states the worst-case
    magnitude). Per round: one edges⋈scores join per direction on
    uniform host keys + hash-agg + directory left-join, pinned per
    round; the DuckDB twin unrolls both rounds bit-for-bit."""
    from core_spark.operators.linkgraph import derive_host_edges, hits

    edges = derive_host_edges(
        _docs(spark, sf_dir, wide=False),
        n_hosts=HITS_HOSTS, k_out=HITS_KOUT)
    return hits(edges, iters=HITS_ITERS)


def _sql_link_hits() -> str:
    from core_spark.operators.linkgraph import (
        sql_derived_host_edges, sql_hits,
    )

    return sql_hits(
        sql_derived_host_edges(
            "SELECT doc_id FROM documents",
            n_hosts=HITS_HOSTS, k_out=HITS_KOUT),
        iters=HITS_ITERS)


# Triangle fixture graph: one md5-derived edge draw per doc over 200
# nodes — uniform random multigraph, so density (and with it the
# triangle count: ~20 at sf0.001, thousands at sf0.01) scales with the
# corpus while the node directory stays fixed. Self-loops arise
# naturally (1/200 of draws) and exercise the hygiene path.
TRI_NODES = 200
TRI_EDGE_SPARK = (
    "CAST(conv(substr(md5(concat('tri_{side}_', CAST(doc_id AS STRING))),"
    f" 1, 15), 16, 10) AS BIGINT) % {TRI_NODES}"
)
TRI_EDGE_DUCK = (
    "(('0x' || substr(md5('tri_{side}_' || CAST(doc_id AS VARCHAR)),"
    f" 1, 15))::BIGINT) % {TRI_NODES}"
)


def q_link_triangles(spark, sf_dir):
    """Per-node triangle counting (operators/triangles.py) — the local
    clustering signal under community pre-filters and link-spam
    heuristics, on the same kind of host graph linkgraph.py ranks. The
    plan is the Suri-Vassilvitskii degree-ordered orientation: every
    edge points from its (degree, id)-lower endpoint, so wedge
    generation fans out from low-degree ends only and a mega-hub never
    owns a d² reducer (the WWW'11 "curse of the last reducer" fix).
    The DuckDB oracle is an INDEPENDENT algorithm — brute-force ordered
    triple join, no orientation — so the trick itself is gated."""
    from core_spark.operators.triangles import triangle_counts

    edges = _docs(spark, sf_dir, wide=False).selectExpr(
        TRI_EDGE_SPARK.format(side="a") + " AS src",
        TRI_EDGE_SPARK.format(side="b") + " AS dst",
    )
    return triangle_counts(edges)


def _sql_link_triangles() -> str:
    from core_spark.operators.triangles import sql_triangle_counts

    a = TRI_EDGE_DUCK.format(side="a")
    b = TRI_EDGE_DUCK.format(side="b")
    return sql_triangle_counts(
        f"SELECT {a} AS src, {b} AS dst FROM documents"
    )


# Fuzzy-title fixture: ~4-doc title classes whose COUNT scales with the
# corpus (class = doc_id % 150 crossed with doc_id DIV 600, so pair
# volume stays linear in |docs|); within a class, arm 2 deletes and
# arm 4 substitutes one character of the shared base title — planted
# edit-distance-1 pairs, with delete-vs-substitute siblings sitting at
# distance 2 as built-in near-misses. ASCII only (Spark levenshtein
# counts codepoints, DuckDB counts bytes — pinned in the pytest).
# The %4=1 subset bounds the oracle's brute-force pair count.
def _fuzzy_title_exprs(dialect: str) -> tuple[str, str]:
    """(base_expr over doc_id, title_expr over column b) — shared rule."""
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    div = "DIV" if dialect == "spark" else "//"
    base = (
        f"concat('crawl report ', CAST(doc_id % 150 AS {cast}),"
        f" ' batch ', CAST((doc_id {div} 600) AS {cast}))"
    )
    pos = "(7 + doc_id % 6)"
    title = f"""CASE
          WHEN doc_id % 5 = 2 THEN concat(
            substr(b, 1, {pos} - 1), substr(b, {pos} + 1, length(b)))
          WHEN doc_id % 5 = 4 THEN concat(
            substr(b, 1, {pos} - 1), 'x', substr(b, {pos} + 1, length(b)))
          ELSE b END"""
    return base, title


def q_fuzzy_titles(spark, sf_dir):
    """Edit-distance self-join (operators/fuzzyjoin.py): typo-level
    near-duplicate titles that every token-level dedup misses (one
    deleted character changes the whole token). FastSS deletion-
    neighborhood blocking — ed(u,v) <= d guarantees a shared <=d-
    deletion variant, so the variant equi-join is a COMPLETE candidate
    generator — then one exact levenshtein verify. Pure JVM end to end
    (higher-order transform builds the variants, built-in levenshtein
    verifies). The DuckDB oracle is the INDEPENDENT brute-force
    all-pairs plan, so the completeness claim itself is gated."""
    from core_spark.operators.fuzzyjoin import fuzzy_pairs

    base, title = _fuzzy_title_exprs("spark")
    titles = (
        _docs(spark, sf_dir, wide=False)
        .where("doc_id % 4 = 1")
        .selectExpr("doc_id", "doc_id AS id", f"{base} AS b")
        .selectExpr("id", f"{title} AS s")
    )
    return fuzzy_pairs(titles, "id", "s", max_dist=1)


def _sql_fuzzy_titles() -> str:
    from core_spark.operators.fuzzyjoin import sql_fuzzy_pairs

    base, title = _fuzzy_title_exprs("duckdb")
    return sql_fuzzy_pairs(
        f"""SELECT id, {title} AS s FROM (
              SELECT doc_id, doc_id AS id, {base} AS b FROM documents
              WHERE doc_id % 4 = 1) src""",
        1,
    )


# PSL fixture hosts: 12 arms covering every rule class of the embedded
# snapshot — exact multi-label (co.uk), private registry (github.io,
# blogspot.com), wildcard (*.ck, *.compute.amazonaws.com), exception
# (!www.ck, !city.kawasaki.jp), implicit default (deep .org), bare TLD,
# case + trailing-dot normalization, and an invalid-host arm (NULL out).
def _psl_host_expr(dialect: str) -> str:
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    m = f"CAST(doc_id % 97 AS {cast})"
    return f"""CASE doc_id % 12
      WHEN 0 THEN concat('example', {m}, '.com')
      WHEN 1 THEN concat('a', {m}, '.sub.example', {m}, '.co.uk')
      WHEN 2 THEN concat('user', {m}, '.github.io')
      WHEN 3 THEN 'www.ck'
      WHEN 4 THEN concat('x', {m}, '.shop.ck')
      WHEN 5 THEN concat('x', {m}, '.city.kawasaki.jp')
      WHEN 6 THEN concat('vm.node', {m}, '.compute.amazonaws.com')
      WHEN 7 THEN 'com'
      WHEN 8 THEN concat('Data', {m}, '.S3.AmazonAWS.COM.')
      WHEN 9 THEN 'bad..host'
      WHEN 10 THEN concat('me', {m}, '.blogspot.com')
      ELSE concat('deep.a', {m}, '.b.example', {m}, '.org') END"""


def q_domain_extract(spark, sf_dir):
    """Registrable-domain (eTLD+1) extraction (operators/psl.py): the
    publicsuffix.org algorithm over an embedded snapshot subset,
    compiled to ONE shuffle-free codegen'd projection (per-label-count
    IN-lists over stepwise suffix columns — no join, no broadcast, no
    Python). Wildcards, exceptions and private registries all covered;
    both engines run byte-identical step SQL, so the oracle gates the
    compiled expression itself."""
    from core_spark.operators.psl import registrable_domain

    hosts = _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id", f"{_psl_host_expr('spark')} AS host")
    return registrable_domain(hosts, "host")


def _sql_domain_extract() -> str:
    from core_spark.operators.psl import sql_registrable

    src = (f"(SELECT doc_id, {_psl_host_expr('duckdb')} AS host"
           f" FROM documents) src")
    return sql_registrable(src, "host")


# KDE fixture: a pseudo-scatter on an integer lattice (every coordinate
# and cell center is integer-valued at g=8, so all kernel arithmetic is
# EXACT on both engines), coprime moduli so density varies per cell.
_KDE_LAT = "CAST((doc_id % 211) * 3 AS DOUBLE)"
_KDE_LON = "CAST((doc_id % 197) * 3 AS DOUBLE)"
_KDE_VAL = "CAST(doc_id % 17 AS INT)"
_KDE_G, _KDE_R = 8.0, 16.0


def q_kde_heatmap(spark, sf_dir):
    """Focal kernel smoothing (operators/kde.py): KDE heatmap + kernel-
    regression value surface per raster cell — Epanechnikov kernel
    (compact support = blockable; no transcendentals = oracle-safe),
    weights quantized to BIGINT so group sums are partition-order-
    independent. Epsilon-grid ×9 replication + ONE equi shuffle, never
    a cartesian; the DuckDB oracle is the INDEPENDENT brute-force
    every-cell-vs-every-point plan, so the blocking's completeness is
    what the gate checks."""
    from core_spark.operators.kde import kernel_heatmap

    pts = _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id",
        f"{_KDE_LAT} AS lat",
        f"{_KDE_LON} AS lon",
        f"{_KDE_VAL} AS value",
    )
    return kernel_heatmap(pts, _KDE_G, _KDE_R)


def _sql_kde_heatmap() -> str:
    from core_spark.operators.kde import sql_kernel_heatmap

    src = (f"SELECT doc_id, {_KDE_LAT} AS lat, {_KDE_LON} AS lon,"
           f" {_KDE_VAL} AS value FROM documents")
    return sql_kernel_heatmap(src, _KDE_G, _KDE_R)


BFS_SEEDS_SPARK = "doc_id % 97"  # seed hosts: host % 13 = 0
BFS_HOPS = 4


def q_link_bfs(spark, sf_dir):
    """Multi-source BFS crawl-depth labeling (operators/bfs.py): every
    host's minimum link-hop distance from the seed set over the same
    derived host graph linkgraph.py ranks — the crawl-frontier priority
    / blocklist-expansion primitive. Bulk-synchronous frontier rounds
    (one uniform-key shuffle each, dist + frontier pinned per round via
    pin, early exit on empty frontier, static max_hops stage
    graph). The DuckDB oracle is an INDEPENDENT plan — recursive-CTE
    enumeration of all (node, hops) pairs within the bound, MIN per
    node — so the incremental anti-join frontier logic itself is
    gated."""
    from core_spark.operators.bfs import bfs_hops

    docs = _docs(spark, sf_dir, wide=False)
    edges = lg.derive_host_edges(docs, n_hosts=97, k_out=4)
    seeds = (
        docs.selectExpr(f"{BFS_SEEDS_SPARK} AS node").distinct()
        .where("node % 13 = 0")
    )
    return bfs_hops(edges, seeds, max_hops=BFS_HOPS)


def _sql_link_bfs() -> str:
    from core_spark.operators.bfs import sql_bfs_hops

    return sql_bfs_hops(
        lg.sql_derived_host_edges(
            "SELECT doc_id FROM documents", n_hosts=97, k_out=4
        ),
        "SELECT DISTINCT (doc_id % 97) AS node FROM documents"
        " WHERE (doc_id % 97) % 13 = 0",
        BFS_HOPS,
    )


# Hull fixture: a bounded integer scatter — BOTH coordinates derive from
# ONE residue (r = doc_id % 61), so the distinct point set is <= 61 at
# EVERY SF (the O(n^4) Caratheodory oracle stays SF-invariant) while the
# Spark side still crunches the full corpus through distinct + phase 1.
_HULL_X = "(doc_id % 61) * (doc_id % 61) % 61"
_HULL_Y = "((doc_id % 61) * (doc_id % 61) * (doc_id % 61)"\
    " + 3 * (doc_id % 61)) % 61"


def q_convex_hull(spark, sf_dir):
    """Distributed convex hull (operators/hull.py): corpus footprint
    extraction via two-phase monotone chain — hash-agg DISTINCT, ONE
    mapInArrow local-hull reduction per batch (exact Python-int cross
    products), repartition(1) + final chain. The CCW ``pos`` order is
    pytest-gated (test_hull.py); the oracled projection is the vertex
    SET. The DuckDB oracle is an INDEPENDENT algorithm — Caratheodory
    membership (segment + non-degenerate-triangle NOT EXISTS over the
    deduped set), so the chain's geometry is what the gate checks."""
    from core_spark.operators.hull import convex_hull

    pts = _docs(spark, sf_dir, wide=False).selectExpr(
        f"{_HULL_X} AS x", f"{_HULL_Y} AS y"
    )
    return convex_hull(pts).select("x", "y")


def _sql_convex_hull() -> str:
    from core_spark.operators.hull import sql_convex_hull

    return sql_convex_hull(
        f"SELECT {_HULL_X} AS x, {_HULL_Y} AS y FROM documents"
    )


_MORAN_CELL = 15.0  # coarse grid: occupied cells bounded (~288) at every SF


def q_moran_i(spark, sf_dir):
    """Global spatial autocorrelation (operators/moran.py): Moran's I
    with rook adjacency over the raster doc-density grid — the
    is-this-surface-clustered statistic. Integer-exact by clearing
    denominators (d_i = n*x_i - S BIGINT deviations; double sums would
    be partition-order-dependent); adjacency is a map-side ×4
    neighbor-KEY explode + ONE uniform equi shuffle, never a theta
    join. The DuckDB oracle is the INDEPENDENT brute-force O(c²)
    non-equi pair join with scalar-subquery totals."""
    from core_spark.operators.moran import cell_counts, morans_i

    pts = _points(spark, sf_dir, wide=False)
    return morans_i(cell_counts(pts, _MORAN_CELL))


def _sql_moran_i() -> str:
    from core_spark.operators.moran import sql_morans_i

    return sql_morans_i(_POINTS_SQL, _MORAN_CELL)


_Q3_CUT = "1998-06-01 00:00:00"


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): the classic 3-way join —
    filtered dimension (BUILDING customers, broadcast), date-pruned
    fact-to-fact join, top-10 by revenue. Revenue quantized per-line to
    cents BEFORE the sum (FLOOR of identical double ops both engines),
    so the BIGINT aggregate is partition-order-free — the repo's answer
    to double-SUM nondeterminism; deterministic tie-break on orderkey
    makes LIMIT 10 stable."""
    from pyspark.sql import functions as F

    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .where("c_mktsegment = 'BUILDING'").select("c_custkey")
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        f"o_orderdate < TIMESTAMP '{_Q3_CUT}'"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        f"l_shipdate > TIMESTAMP '{_Q3_CUT}'"
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .selectExpr(
            "l_orderkey", "o_orderdate", "o_orderpriority",
            "CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0)"
            " AS BIGINT) AS cents",
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum("cents").alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), "l_orderkey")
        .limit(10)
    )


def _sql_shipping_priority() -> str:
    return f"""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
                    * 100.0) AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '{_Q3_CUT}'
          AND l_shipdate > TIMESTAMP '{_Q3_CUT}'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue_cents DESC, l_orderkey
        LIMIT 10
    """


def q_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): the 6-table broadcast
    chain — region filter → nation → supplier, customer co-nation
    constraint, revenue per nation. Every SMALL dimension is
    broadcast-HINTED (region 5 rows → nation → supplier ~100);
    customer rides AQE, and orders⋈lineitem is the one
    shuffle-by-nature join (broadcast at bench scale via AQE).
    Same cents quantization as Q3."""
    from pyspark.sql import functions as F

    sf = sf_dir
    region = spark.read.parquet(f"{sf}/region.parquet").where(
        "r_name = 'ASIA'")
    nation = spark.read.parquet(f"{sf}/nation.parquet")
    supp = spark.read.parquet(f"{sf}/supplier.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    nat = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    s = supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey) \
        .select("s_suppkey", "s_nationkey", "n_name")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey)
              & (cust.c_nationkey == s.s_nationkey))
        .selectExpr(
            "n_name",
            "CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0)"
            " AS BIGINT) AS cents",
        )
        .groupBy("n_name")
        .agg(F.sum("cents").alias("revenue_cents"))
    )


def _sql_supplier_volume() -> str:
    return """
        SELECT n_name,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
                    * 100.0) AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
        GROUP BY n_name
    """


def q_returned_items(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting): which customers
    returned the most revenue in a quarter — date-windowed orders ⋈
    R-flagged lineitems ⋈ customer, nation broadcast for the display
    column, stable top-20. Cents quantization per the Q3/Q5 recipe."""
    from pyspark.sql import functions as F

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'"
        " AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        "l_returnflag = 'R'"
    )
    return (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .selectExpr(
            "c_custkey", "c_name", "n_name",
            "CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0)"
            " AS BIGINT) AS cents",
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum("cents").alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), "c_custkey")
        .limit(20)
    )


def _sql_returned_items() -> str:
    return """
        SELECT c_custkey, c_name, n_name,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
                    * 100.0) AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM customer, orders, lineitem, nation
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue_cents DESC, c_custkey
        LIMIT 20
    """


# Emerging-hotspot fixture: 8 time buckets; western cells lose half
# their late-bucket mass (falling) and eastern cells half their early
# mass (rising) — one WHERE, identical text both engines.
_EMERG_BUCKET = "(doc_id * 13) % 8"
_EMERG_KEEP = (
    "NOT (lon < 0 AND bucket >= 4 AND doc_id % 2 = 0)"
    " AND NOT (lon >= 0 AND bucket < 4 AND doc_id % 2 = 0)"
)
_EMERG_T, _EMERG_THRESH = 8, 5


def q_emerging_hotspots(spark, sf_dir):
    """Emerging hot spots (operators/emerging.py): Mann-Kendall trend
    per space-time-cube cell — where is density RISING, not just
    extreme (the GIS emerging-hot-spot analysis). S = Σ sign(n_j−n_i)
    is rank-based and PURE INTEGER — the first family member whose
    exactness costs nothing; two hash-aggs + one codegen'd projection,
    zero joins, zero Python; zero-fill via the pivot. Oracle: the
    INDEPENDENT no-pivot plan (bucket spine + positional pair
    self-join)."""
    from core_spark.operators.emerging import emerging_hotspots

    pts = (
        _points(spark, sf_dir, wide=False)
        .selectExpr("doc_id", "lat", "lon", f"{_EMERG_BUCKET} AS bucket")
        .where(_EMERG_KEEP)
    )
    return emerging_hotspots(
        pts, _MORAN_CELL, _EMERG_T, _EMERG_THRESH)


def _sql_emerging_hotspots() -> str:
    from core_spark.operators.emerging import sql_emerging_hotspots

    src = (f"SELECT doc_id, lat, lon, {_EMERG_BUCKET} AS bucket"
           f" FROM ({_POINTS_SQL})")
    return sql_emerging_hotspots(
        f"SELECT * FROM ({src}) WHERE {_EMERG_KEEP}",
        _MORAN_CELL, _EMERG_T, _EMERG_THRESH,
    )


def q_lisa(spark, sf_dir):
    """Local Moran's I / LISA (operators/moran.py::lisa_moran): the
    per-cell decomposition of the global statistic — cluster members
    read positive, spatial outliers negative; Σ d_i·nbr_dev_sum_i
    equals the global numerator (pytest-asserted identity). Shared
    _rook_pairs plan; every shuffled value exact BIGINT, one IEEE
    chain per cell. Oracle: INDEPENDENT brute-force neighbor sum over
    the shared CTE preamble."""
    from core_spark.operators.moran import cell_counts, lisa_moran

    pts = _points(spark, sf_dir, wide=False)
    return lisa_moran(cell_counts(pts, _MORAN_CELL))


def _sql_lisa() -> str:
    from core_spark.operators.moran import sql_lisa_moran

    return sql_lisa_moran(_POINTS_SQL, _MORAN_CELL)


def q_order_priority_check(spark, sf_dir):
    """TPC-H Q4 shape (order priority checking): EXISTS as a LEFT-SEMI
    join — orders in a quarter with at least one late-shipped line
    (shipdate > orderdate + 90 days; the driver schema has no
    commit/receipt dates, so lateness is defined against the order
    date), counted per priority. The semi join never duplicates an
    order with many late lines — the correctness point of the shape."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'"
        " AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.expr("o_orderdate + INTERVAL 90 DAY")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def _sql_order_priority_check() -> str:
    return """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        GROUP BY o_orderpriority
    """


def q_promo_share(spark, sf_dir):
    """TPC-H Q14 shape (promo revenue share): conditional-aggregate
    ratio per ship month — part dimension broadcast (2k rows), revenue
    cents-quantized per line, the share computed as ONE division of two
    exact BIGINTs (never a ratio of double sums)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_type")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .selectExpr(
            "date_trunc('month', l_shipdate) AS ship_month",
            "CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0)"
            " AS BIGINT) AS cents",
            "p_type = 'ECONOMY' AS is_promo",
        )
        .groupBy("ship_month")
        .agg(
            F.sum(F.expr("CASE WHEN is_promo THEN cents ELSE 0L END"))
            .alias("promo_cents"),
            F.sum("cents").alias("total_cents"),
        )
        .selectExpr(
            "ship_month", "promo_cents", "total_cents",
            "100.0 * CAST(promo_cents AS DOUBLE)"
            " / CAST(total_cents AS DOUBLE) AS promo_pct",
        )
    )


def _sql_promo_share() -> str:
    return """
        SELECT ship_month, promo_cents, total_cents,
               100.0 * CAST(promo_cents AS DOUBLE)
                 / CAST(total_cents AS DOUBLE) AS promo_pct
        FROM (
          SELECT date_trunc('month', l_shipdate) AS ship_month,
                 CAST(SUM(CASE WHEN p_type = 'ECONOMY' THEN
                   CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
                        * 100.0) AS BIGINT) ELSE 0 END) AS BIGINT)
                   AS promo_cents,
                 CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
                      * 100.0) AS BIGINT)) AS BIGINT) AS total_cents
          FROM lineitem, part
          WHERE l_partkey = p_partkey
          GROUP BY 1
        )
    """


_Q7_N1, _Q7_N2 = "NATION_3", "NATION_7"


def q_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping): bidirectional nation-pair
    trade by ship year — the double-dimension join (nation joined TWICE
    under different roles) plus a disjunctive pair predicate and a
    year() rollup. Both nation sides broadcast; the pair filter applies
    AFTER both role joins (the standard Q7 trap is pushing one arm of
    the OR into a single-role filter). Cents recipe as Q3/Q5/Q10/Q18."""
    from pyspark.sql import functions as F

    sf = sf_dir
    supp = spark.read.parquet(f"{sf}/supplier.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    n1 = spark.read.parquet(f"{sf}/nation.parquet").selectExpr(
        "n_nationkey AS n1_key", "n_name AS supp_nation")
    n2 = spark.read.parquet(f"{sf}/nation.parquet").selectExpr(
        "n_nationkey AS n2_key", "n_name AS cust_nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .join(F.broadcast(supp), supp.s_suppkey == li.l_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            f"(supp_nation = '{_Q7_N1}' AND cust_nation = '{_Q7_N2}')"
            f" OR (supp_nation = '{_Q7_N2}' AND cust_nation = '{_Q7_N1}')"
        )
        .selectExpr(
            "supp_nation", "cust_nation",
            "year(l_shipdate) AS l_year",
            "CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0)"
            " AS BIGINT) AS cents",
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("cents").alias("revenue_cents"))
    )


def _sql_volume_shipping() -> str:
    return f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
                    * 100.0) AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM supplier, lineitem, orders, customer,
             nation n1, nation n2
        WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
          AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
          AND c_nationkey = n2.n_nationkey
          AND ((n1.n_name = '{_Q7_N1}' AND n2.n_name = '{_Q7_N2}')
            OR (n1.n_name = '{_Q7_N2}' AND n2.n_name = '{_Q7_N1}'))
        GROUP BY 1, 2, 3
    """


_Q18_MINQTY = 300


def q_large_orders(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): the HAVING-subquery
    shape — orders whose total quantity exceeds a threshold, then
    the customer join for reporting. The aggregated subquery resolves
    as aggregate-then-INNER-join carrying sum_qty (a semi join could
    not project it; the win vs naive is no re-aggregation outer-side);
    quantities are integral-by-contract doubles, CAST per line before
    the SUM so the aggregate is BIGINT-exact; o_totalprice reported as
    cents via a deterministic projection FLOOR."""
    from pyspark.sql import functions as F

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    big = (
        li.selectExpr("l_orderkey", "CAST(FLOOR(l_quantity) AS BIGINT) AS q")
        .groupBy("l_orderkey").agg(F.sum("q").alias("sum_qty"))
        .where(f"sum_qty > {_Q18_MINQTY}")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .selectExpr(
            "c_custkey", "o_orderkey", "o_orderdate",
            "CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)"
            " AS totalprice_cents",
            "sum_qty",
        )
        .orderBy(F.desc("totalprice_cents"), "o_orderkey")
        .limit(10)
    )


def _sql_large_orders() -> str:
    return f"""
        SELECT c_custkey, o_orderkey, o_orderdate,
               CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)
                 AS totalprice_cents,
               sum_qty
        FROM customer, orders,
             (SELECT l_orderkey,
                     CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT)
                       AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING SUM(CAST(FLOOR(l_quantity) AS BIGINT)) > {_Q18_MINQTY}) big
        WHERE o_orderkey = big.l_orderkey AND c_custkey = o_custkey
        ORDER BY totalprice_cents DESC, o_orderkey
        LIMIT 10
    """


# Ring-validity fixture: 40 quads, every 4th a bowtie (vertex order
# flipped), as flat (ring_id, pos, x, y) rows via a posexploded struct
# array — same rule in both emitters.
_RINGV_QUAD = (
    "array("
    " struct(0L AS pos, CAST(r % 23 AS BIGINT) AS x,"
    "        CAST(r % 19 AS BIGINT) AS y),"
    " struct(1L AS pos, CAST(r % 23 + r % 5 + 2 AS BIGINT) AS x,"
    "        CAST(r % 19 AS BIGINT) AS y),"
    " struct(2L AS pos,"
    "        CAST(CASE WHEN r % 4 = 0 THEN r % 23"
    "             ELSE r % 23 + r % 5 + 2 END AS BIGINT) AS x,"
    "        CAST(r % 19 + r % 5 + 2 AS BIGINT) AS y),"
    " struct(3L AS pos,"
    "        CAST(CASE WHEN r % 4 = 0 THEN r % 23 + r % 5 + 2"
    "             ELSE r % 23 END AS BIGINT) AS x,"
    "        CAST(r % 19 + r % 5 + 2 AS BIGINT) AS y))"
)


def q_ring_validate(spark, sf_dir):
    """Ring validity gate (operators/polyvalid.py): OGC simple-ring
    check before PIP/shoelace — non-adjacent edges must not touch,
    adjacent edges must share only their vertex (spikes, repeats,
    bowties flagged); bad geometry becomes DATA, not downstream join
    corruption. Edges via ONE lead() window whose ring clustering the
    pair join reuses; exact integer battery throughout. The twin shares
    the predicate (it IS the spec) but none of the plan."""
    from core_spark.operators.polyvalid import validate_rings

    docs = _docs(spark, sf_dir, wide=False)
    verts = (
        docs.selectExpr("doc_id % 40 AS ring_id").distinct()
        .selectExpr("ring_id", "ring_id AS r")
        .selectExpr("ring_id", f"explode({_RINGV_QUAD}) AS v")
        .selectExpr("ring_id", "v.pos AS pos", "v.x AS x", "v.y AS y")
    )
    return validate_rings(verts)


def _sql_ring_validate() -> str:
    from core_spark.operators.polyvalid import sql_validate_rings

    verts = (
        "SELECT ring_id, u.pos AS pos, u.x AS x, u.y AS y FROM ("
        " SELECT DISTINCT (doc_id % 40) AS ring_id, (doc_id % 40) AS r"
        " FROM documents) base,"
        " LATERAL (SELECT 0 AS pos, r % 23 AS x, r % 19 AS y"
        "  UNION ALL SELECT 1, r % 23 + r % 5 + 2, r % 19"
        "  UNION ALL SELECT 2,"
        "   CASE WHEN r % 4 = 0 THEN r % 23 ELSE r % 23 + r % 5 + 2 END,"
        "   r % 19 + r % 5 + 2"
        "  UNION ALL SELECT 3,"
        "   CASE WHEN r % 4 = 0 THEN r % 23 + r % 5 + 2 ELSE r % 23 END,"
        "   r % 19 + r % 5 + 2) u"
    )
    return sql_validate_rings(verts)


# Contact fixture: a bounded entity directory (211 signatures) derived
# from the events table, so the O(n²) twin is SF-invariant.
_CONTACT_EVS = [
    "(event_id % 211) AS event_id",
    "(event_id % 211) * 5 % 19 AS x",
    "(event_id % 211) * 7 % 17 AS y",
    "(event_id % 211) * 11 % 31 AS t",
]
_CONTACT_EPS, _CONTACT_TAU = 3, 4


def q_contact_join(spark, sf_dir):
    """Spatiotemporal contact join (operators/stjoin.py): pairs near in
    space AND time — co-location events, convoy detection's first
    stage. The epsilon-grid lifted to (x, y, t): probe side replicates
    to its 3×3×3 block neighborhood, home side stays put, ONE uniform
    equi shuffle on the composite key; the time bucket is also the skew
    answer (it slices a dense cell's history into τ-width pieces).
    Structural single emission, exact integer conjunction. Oracle: the
    honest O(n²) self cross join, no blocking."""
    from core_spark.operators.stjoin import contact_pairs

    evs = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr(*_CONTACT_EVS).distinct()
    )
    return contact_pairs(evs, eps=_CONTACT_EPS, tau=_CONTACT_TAU)


def _sql_contact_join() -> str:
    from core_spark.operators.stjoin import sql_contact_pairs

    inner = ("SELECT DISTINCT " + ", ".join(_CONTACT_EVS) + " FROM events")
    return sql_contact_pairs(inner, _CONTACT_EPS, _CONTACT_TAU)


# Areal fixture: raster cells (G=8) from a bounded quantized frame,
# 20 residue-derived zones with arbitrary corners.
_AREAL_G = 8
_AREAL_PX = "(doc_id * 37) % 96"
_AREAL_PY = "(doc_id * 53) % 80"
_AREAL_ZONES = (
    "SELECT DISTINCT (doc_id % 20) AS zone_id,"
    " (doc_id % 20) * 17 % 89 AS xmin, (doc_id % 20) * 23 % 71 AS ymin,"
    " (doc_id % 20) * 17 % 89 + (doc_id % 20) % 13 + 1 AS xmax,"
    " (doc_id % 20) * 23 % 71 + (doc_id % 20) % 9 + 1 AS ymax"
)


def q_areal_interp(spark, sf_dir):
    """Areal-weighted interpolation (operators/areal.py): re-aggregate
    the rasterized doc-density grid onto misaligned zones, splitting
    boundary cells pro-rata by EXACT integer overlap area (Goodchild &
    Lam areal weighting) — the question PIP zonal can't answer once the
    data is already gridded. Map-side zone→cell-id explode + ONE
    uniform equi shuffle; the raster side never replicates; est_scaled
    is an exact BIGINT with constant denominator G², est is the one
    IEEE division. Oracle: INDEPENDENT brute-force non-equi cross join."""
    from core_spark.operators.areal import areal_interpolate

    docs = _docs(spark, sf_dir, wide=False)
    cells = (
        docs.selectExpr(f"{_AREAL_PX} AS px", f"{_AREAL_PY} AS py")
        .selectExpr(f"CAST(FLOOR(px / {_AREAL_G}.0) AS BIGINT) AS cx",
                    f"CAST(FLOOR(py / {_AREAL_G}.0) AS BIGINT) AS cy")
        .groupBy("cx", "cy").count().withColumnRenamed("count", "value")
    )
    zones = docs.selectExpr(
        "doc_id % 20 AS zone_id",
        "(doc_id % 20) * 17 % 89 AS xmin",
        "(doc_id % 20) * 23 % 71 AS ymin",
        "(doc_id % 20) * 17 % 89 + (doc_id % 20) % 13 + 1 AS xmax",
        "(doc_id % 20) * 23 % 71 + (doc_id % 20) % 9 + 1 AS ymax",
    ).distinct()
    return areal_interpolate(cells, zones, _AREAL_G)


def _sql_areal_interp() -> str:
    from core_spark.operators.areal import sql_areal_interpolate

    cells = (
        f"SELECT CAST(FLOOR(({_AREAL_PX}) / {_AREAL_G}.0) AS BIGINT) AS cx,"
        f" CAST(FLOOR(({_AREAL_PY}) / {_AREAL_G}.0) AS BIGINT) AS cy,"
        f" CAST(COUNT(*) AS BIGINT) AS value FROM documents GROUP BY 1, 2"
    )
    return sql_areal_interpolate(
        cells, f"{_AREAL_ZONES} FROM documents", _AREAL_G
    )


def q_geary_c(spark, sf_dir):
    """Geary's C (operators/moran.py::gearys_c): the difference-based
    ESDA statistic completing the family (Moran global covariance, Gi*
    local, Geary local-roughness). Same shifted-key adjacency; the
    numerator Σ(x_i − x_j)² is already integer — no mean in it — and
    the denominator reuses the cleared n²-scaled form; the reported C
    is one fixed-order IEEE double chain. Oracle: INDEPENDENT O(c²)
    non-equi pair join."""
    from core_spark.operators.moran import cell_counts, gearys_c

    pts = _points(spark, sf_dir, wide=False)
    return gearys_c(cell_counts(pts, _MORAN_CELL))


def _sql_geary_c() -> str:
    from core_spark.operators.moran import sql_gearys_c

    return sql_gearys_c(_POINTS_SQL, _MORAN_CELL)


# Snap fixture: bounded point directory (67 pings) vs the _SEG_LEFT
# roads; both SF-invariant so the O(n*m) twin stays honest.
_SNAP_PTS = [
    "(doc_id % 67) AS pt_id",
    "(doc_id % 67) % 21 - 3 AS x",
    "(doc_id % 67) % 23 - 4 AS y",
]
_SNAP_EPS = 2


def q_snap_join(spark, sf_dir):
    """Point-to-segment snap join (operators/snap.py): which road
    segments is each ping within eps of — the map-matching candidate
    step, closing the spatial-join family (point↔segment). Exact
    segment-clamped distance with the rational denominator cleared
    (every branch integer); ONE-SIDED blocking — segments replicate to
    their eps-expanded bbox cells, points stay home, so each pair meets
    in exactly ONE cell and needs no dedup. The DuckDB oracle is the
    honest O(n·m) gridless cross join."""
    from core_spark.operators.snap import snap_join

    docs = _docs(spark, sf_dir, wide=False)
    pts = docs.selectExpr(*_SNAP_PTS).distinct()
    segs = docs.selectExpr(*_SEG_LEFT).distinct()
    return snap_join(pts, segs, eps=_SNAP_EPS, cell=4.0)


def _sql_snap_join() -> str:
    from core_spark.operators.snap import sql_snap_join

    return sql_snap_join(
        _seg_sql(_SNAP_PTS),
        _seg_sql(_SEG_LEFT),
        _SNAP_EPS,
    )


# Spatial capstone: geoparse-frame pings, fixed-point quantized (×4 is
# exact on the .25/.5 lattice), folded into the roads' frame with the
# sign-safe pmod normal form — identical text on both engines.
_PING_X = (f"((CAST(FLOOR(({LON_EXPR}) * 4) AS BIGINT) % 29) + 29)"
           " % 29 - 2")
_PING_Y = (f"((CAST(FLOOR(({LAT_EXPR}) * 4) AS BIGINT) % 31) + 31)"
           " % 31 - 3")
_SPIPE_EPS, _SPIPE_CELL, _SPIPE_G = 2, 4.0, 3.0


def q_spatial_pipeline(spark, sf_dir):
    """Spatial capstone: the round's join family composed end-to-end —
    quantized pings (fixed-point ×4, exact on the geoparse lattice) →
    snap_join against the roads directory (one-sided eps-expanded
    blocking) → DISTINCT matched pings (a ping snapping to 3 segments
    counts once) → raster density → Getis-Ord Gi* hot spots of
    ROAD-MATCHED activity. The oracle composes the same stages from
    the INDEPENDENT twins (gridless O(n·m) snap, brute-force O(c²)
    neighborhood join), so the chain is gated end-to-end, not just its
    pieces — the crawl_pipeline convention."""
    from core_spark.operators.moran import cell_counts, getis_ord_gi
    from core_spark.operators.snap import snap_join

    from core_spark.plans.materialize import pin

    docs = _docs(spark, sf_dir, wide=False)
    # pings feeds the snap AND the coordinate carry-back join -> pinned
    # once (CLAUDE.md multi-consumer rule; the crawl_pipeline precedent)
    pings = pin(docs.selectExpr(
        "doc_id AS pt_id", f"{_PING_X} AS x", f"{_PING_Y} AS y"))
    roads = docs.selectExpr(*_SEG_LEFT).distinct()
    matched = (
        snap_join(pings, roads, eps=_SPIPE_EPS, cell=_SPIPE_CELL)
        .select("pt").distinct()
    )
    mp = pings.join(matched, pings.pt_id == matched.pt).selectExpr(
        "CAST(y AS DOUBLE) AS lat", "CAST(x AS DOUBLE) AS lon")
    return getis_ord_gi(cell_counts(mp, _SPIPE_G))


def _sql_spatial_pipeline() -> str:
    from core_spark.operators.moran import sql_getis_ord_gi
    from core_spark.operators.snap import sql_snap_join

    pings = (f"SELECT doc_id AS pt_id, {_PING_X} AS x, {_PING_Y} AS y"
             f" FROM documents")
    snap = sql_snap_join(pings, _seg_sql(_SEG_LEFT), _SPIPE_EPS)
    matched_pts = (
        f"SELECT CAST(p.y AS DOUBLE) AS lat, CAST(p.x AS DOUBLE) AS lon"
        f" FROM ({pings}) p"
        f" JOIN (SELECT DISTINCT pt FROM ({snap})) m ON p.pt_id = m.pt"
    )
    return sql_getis_ord_gi(matched_pts, _SPIPE_G)


_SSSP_W = "(src * 7 + dst * 11) % 9 + 1"  # same text both engines
_SSSP_HOPS = 4


def q_link_costs(spark, sf_dir):
    """Weighted shortest paths (operators/sssp.py): bounded Bellman-Ford
    over the derived host graph with deterministic per-edge costs —
    cheapest crawl route from the seed set within the hop horizon.
    Distances are NOT append-only (a heavy direct edge can be beaten by
    a lighter multi-hop path), so each round expands AND reconciles
    (anti-join + union, never a full regroup); two pins per round via
    pin. The DuckDB oracle is the INDEPENDENT recursive-CTE
    path-state enumeration + MIN per node."""
    from core_spark.operators.sssp import sssp_costs

    docs = _docs(spark, sf_dir, wide=False)
    edges = lg.derive_host_edges(docs, n_hosts=97, k_out=4).selectExpr(
        "src", "dst", f"{_SSSP_W} AS w")
    seeds = (
        docs.selectExpr(f"{BFS_SEEDS_SPARK} AS node").distinct()
        .where("node % 13 = 0")
    )
    return sssp_costs(edges, seeds, max_hops=_SSSP_HOPS)


def _sql_link_costs() -> str:
    from core_spark.operators.sssp import sql_sssp_costs

    inner = lg.sql_derived_host_edges(
        "SELECT doc_id FROM documents", n_hosts=97, k_out=4
    )
    return sql_sssp_costs(
        f"SELECT src, dst, {_SSSP_W} AS w FROM ({inner})",
        "SELECT DISTINCT (doc_id % 97) AS node FROM documents"
        " WHERE (doc_id % 97) % 13 = 0",
        _SSSP_HOPS,
    )


def q_hotspots_gi(spark, sf_dir):
    """Local hot-spot detection (operators/moran.py::getis_ord_gi):
    Getis-Ord Gi* z-scores per raster cell — Moran's I's LOCAL
    companion (where ARE the clusters?). Queen+self neighborhood via
    the same shifted-key ×9 explode + ONE equi shuffle; every shuffled
    aggregate integer; the z chain is int64→double, one mul/div chain
    + IEEE sqrt (correctly rounded on both engines) — bit-identical.
    Oracle: INDEPENDENT brute-force O(c²) non-equi neighborhood join."""
    from core_spark.operators.moran import cell_counts, getis_ord_gi

    pts = _points(spark, sf_dir, wide=False)
    return getis_ord_gi(cell_counts(pts, _MORAN_CELL))


def _sql_hotspots_gi() -> str:
    from core_spark.operators.moran import sql_getis_ord_gi

    return sql_getis_ord_gi(_POINTS_SQL, _MORAN_CELL)


# Segment-join fixtures: two bounded directories (roads / borders) from
# single residues, so the O(n*m) twin stays SF-invariant while Spark
# dedups the full corpus into them.
_SEG_LEFT = [
    "(doc_id % 60) AS seg_id",
    "(doc_id % 60) % 17 AS x1",
    "(doc_id % 60) % 19 AS y1",
    "(doc_id % 60) % 17 + (doc_id % 60) % 7 - 3 AS x2",
    "(doc_id % 60) % 19 + (doc_id % 60) % 5 - 2 AS y2",
]
_SEG_RIGHT = [
    "(doc_id % 53) AS seg_id",
    "(doc_id % 53) % 13 AS x1",
    "(doc_id % 53) % 11 AS y1",
    "(doc_id % 53) % 13 + (doc_id % 53) % 9 - 4 AS x2",
    "(doc_id % 53) % 11 + 3 - (doc_id % 53) % 6 AS y2",
]


def _seg_sql(exprs: list) -> str:
    """The DuckDB emission of a fixture expression list — the list is
    the single source of truth, the SQL string derives from it."""
    return "SELECT DISTINCT " + ", ".join(exprs) + " FROM documents"


def q_segment_join(spark, sf_dir):
    """Line-overlay join (operators/segjoin.py): which roads cross which
    borders — PBSM envelope blocking (map-side grid replication, ONE
    uniform equi shuffle, reference-point single emission) + the exact
    CLRS orientation battery as stepwise codegen'd BIGINT columns.
    Closed semantics (touching counts). The DuckDB oracle is the honest
    O(n*m) cross join with the same predicate and NO grid — the
    independent plan that gates the blocking's completeness."""
    from core_spark.operators.segjoin import segment_join

    docs = _docs(spark, sf_dir, wide=False)
    left = docs.selectExpr(*_SEG_LEFT).distinct()
    right = docs.selectExpr(*_SEG_RIGHT).distinct()
    return segment_join(left, right, cell=4.0)


def _sql_segment_join() -> str:
    from core_spark.operators.segjoin import sql_segment_join

    return sql_segment_join(
        _seg_sql(_SEG_LEFT), _seg_sql(_SEG_RIGHT)
    )


FRONTIER_WORKERS, FRONTIER_DELAY = 8, 5


def q_crawl_frontier(spark, sf_dir):
    """Crawl-frontier scheduling (operators/frontier.py): canonicalize →
    admit each URL once (min-doc winner, max-n_chars priority) →
    politeness-correct fetch plan. worker = md5(host) % 8 gives host
    affinity (per-host politeness needs zero cross-worker coordination);
    fetch_slot = per-host rank × 5s with rank ordered (priority DESC,
    md5(url), url) — deterministic and partition-invariant (pytested).
    ONE window shuffle on the host key; a mega-host's deep partition IS
    the crawl's inherent politeness lower bound, mitigated upstream by
    cap_per_host."""
    from pyspark.sql import functions as F

    from core_spark.operators.frontier import schedule_frontier
    from core_spark.operators.weburl import canonicalize_url

    df = _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id", "source", "n_chars", f"{URL_GEN_SQL} AS url")
    cand = canonicalize_url(df).groupBy("host", "url_canon").agg(
        F.min("doc_id").alias("doc_id"), F.max("n_chars").alias("prio"))
    sched = schedule_frontier(
        cand, FRONTIER_WORKERS, FRONTIER_DELAY,
        url_col="url_canon", priority_sql="prio")
    return sched.select("doc_id", "host", "url_canon", "worker",
                        "fetch_ix", "fetch_slot")


def _sql_crawl_frontier() -> str:
    from core_spark.operators.frontier import sql_schedule_frontier
    from core_spark.operators.weburl import sql_canonicalize

    canon = sql_canonicalize(
        f"(SELECT doc_id, source, n_chars, {URL_GEN_SQL} AS url"
        " FROM documents)")
    cand = (
        "(SELECT host, url_canon, MIN(doc_id) AS doc_id,"
        f" MAX(n_chars) AS prio FROM ({canon}) GROUP BY host, url_canon)")
    return sql_schedule_frontier(
        cand, FRONTIER_WORKERS, FRONTIER_DELAY,
        url_col="url_canon", priority_sql="prio",
        cols="doc_id, host, url_canon")


REDIR_ROUNDS = 4  # pointer-doubling budget = 2**4 = 16 hops


def q_url_redirects(spark, sf_dir):
    """Redirect-chain resolution (operators/redirects.py): pointer
    doubling over a functional redirect graph — ceil(log2(L)) rounds of
    ONE uniform-key equi self-join each (pinned per round, the CLAUDE.md
    self-join rule), then terminal status via one left join against the
    distinct-src directory. The fixture graph derives per-doc chains of
    depth doc_id % 9 from the corpus (closed-form terminals 'c<id>_0'),
    plus planted arms the operator must REFUSE to resolve: a 3-cycle, a
    self-redirect, and an 18-deep chain whose tail exceeds the 2**4-hop
    budget (L17/L18 unresolved; L16 resolves exactly at the boundary).
    The oracle is STRONGER than a twin: it emits the expected output
    straight from the generation rule — no doubling anywhere in the
    SQL (hops = j, terminal = suffix _0, unresolved arms literal)."""
    from pyspark.sql import functions as F

    from core_spark.operators.redirects import resolve_redirects

    chains = (
        _docs(spark, sf_dir, wide=False)
        .where("doc_id % 9 > 0")
        .selectExpr(
            "doc_id",
            "explode(sequence(1, CAST(doc_id % 9 AS INT))) AS j",
        )
        .selectExpr(
            "concat('c', CAST(doc_id AS STRING), '_',"
            " CAST(j AS STRING)) AS src",
            "concat('c', CAST(doc_id AS STRING), '_',"
            " CAST(j - 1 AS STRING)) AS dst",
        )
    )
    planted = [
        ("cyc0", "cyc1"), ("cyc1", "cyc2"), ("cyc2", "cyc0"),
        ("selfy", "selfy"),
    ] + [(f"L{j}", f"L{j - 1}") for j in range(1, 19)]
    # literal arms built JVM-side (range+explode; CLAUDE.md: never
    # createDataFrame on a query path)
    lit = (
        spark.range(1)
        .select(F.explode(F.array(*[
            F.struct(F.lit(s).alias("src"), F.lit(d).alias("dst"))
            for s, d in planted
        ])).alias("_s"))
        .select("_s.src", "_s.dst")
    )
    return resolve_redirects(
        chains.unionByName(lit), rounds=REDIR_ROUNDS)


def _sql_url_redirects() -> str:
    """Closed-form expected output from the generation rule (no doubling)."""
    return """
        WITH chain AS (
          SELECT doc_id,
                 UNNEST(generate_series(1, CAST(doc_id % 9 AS INT))) AS j
          FROM documents WHERE doc_id % 9 > 0
        )
        SELECT 'c' || CAST(doc_id AS VARCHAR) || '_' || CAST(j AS VARCHAR)
                 AS src,
               'c' || CAST(doc_id AS VARCHAR) || '_0' AS final_url,
               CAST(j AS BIGINT) AS hops,
               CAST(1 AS INT) AS resolved
        FROM chain
        UNION ALL
        SELECT 'L' || CAST(j AS VARCHAR),
               CASE WHEN j <= 16 THEN 'L0' END,
               CAST(CASE WHEN j <= 16 THEN j END AS BIGINT),
               CAST(CASE WHEN j <= 16 THEN 1 ELSE 0 END AS INT)
        FROM generate_series(1, 18) t(j)
        UNION ALL
        SELECT v.src, NULL, NULL, CAST(0 AS INT)
        FROM (VALUES ('cyc0'), ('cyc1'), ('cyc2'), ('selfy')) v(src)
    """


# Zipf(2) host derivation via the ruler sequence on doc_id: h0 gets half
# the docs, h1 a quarter, ... h5 1/64th, everything else is a singleton
# tail host — the per-host page-count shape real heavy-hitter jobs see
# (the corpus's own token distribution is near-uniform: 31 words, useless
# for discrimination). Same integer CASE on both engines.
def _ruler_host_sql(dialect: str) -> str:
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    arms = " ".join(
        f"WHEN doc_id % {2 << j} = {1 << j} THEN 'h{j}'" for j in range(6)
    )
    return f"CASE {arms} ELSE 'tail' || CAST(doc_id AS {cast}) END"


def _gj_sq_json(cx: str, cy: str, h: float) -> str:
    """SQL expr: JSON ring text for a square centered (cx, cy), half-size
    h — corners in fixed CCW order with the RFC-required closure."""
    corners = [(-1, -1), (1, -1), (1, 1), (-1, 1), (-1, -1)]
    pts = ", ',', ".join(
        f"'[', CAST(({cx}) + {dx * h} AS STRING), ',', "
        f"CAST(({cy}) + {dy * h} AS STRING), ']'"
        for dx, dy in corners
    )
    return f"concat('[', {pts}, ']')"


def _geojson_directory(spark, sf_dir):
    """The shared GeoJSON fixture texts (generation rule documented on
    q_geojson_scan); feeds the scan query AND the polygon_area query."""
    from core_spark.plans.materialize import pin

    ts = pin(
        _docs(spark, sf_dir, wide=False)
        .selectExpr("CAST(doc_id % 19 AS INT) AS t").distinct()
    )
    feat = (
        "concat('{\"type\": \"Feature\", \"id\": \"f', CAST(t AS STRING),"
        " '\", \"properties\": {\"admin_id\": ', CAST(t AS STRING),"
        " '}, \"geometry\": ', ")
    point_geom = (
        "concat('{\"type\": \"Point\", \"coordinates\": [',"
        " CAST(t * 0.25 AS STRING), ',', CAST(t * 0.5 - 2.0 AS STRING),"
        " ']}')")
    outer = _gj_sq_json("t * 1.0", "t * 0.5", 0.5)
    hole = _gj_sq_json("t * 1.0", "t * 0.5", 0.25)
    poly_geom = (
        f"concat('{{\"type\": \"Polygon\", \"coordinates\": [', {outer},"
        f" CASE WHEN t % 8 = 5 THEN concat(',', {hole}) ELSE '' END,"
        " ']}')")
    mp0 = _gj_sq_json("t * 1.0", "0.0", 0.5)
    mp1 = _gj_sq_json("t * 1.0", "3.0", 0.25)
    mp_geom = (
        f"concat('{{\"type\": \"MultiPolygon\", \"coordinates\": [[',"
        f" {mp0}, '],[', {mp1}, ']]}}')")
    line_geom = ("'{\"type\": \"LineString\","
                 " \"coordinates\": [[0.0,0.0],[1.0,1.0]]}'")
    unclosed = (
        "'{\"type\": \"Polygon\", \"coordinates\":"
        " [[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,1.0]]]}'")
    texts = ts.selectExpr(
        "concat('g', CAST(t AS STRING)) AS src",
        f"""CASE
          WHEN t = 11 THEN '{{not json'
          WHEN t = 15 THEN concat('{{\"type\": \"Feature\", \"id\": \"f',
            CAST(t AS STRING), '\", \"geometry\": null}}')
          WHEN t = 3 THEN {feat}{line_geom}, '}}')
          WHEN t = 7 THEN {feat}{unclosed}, '}}')
          WHEN t % 4 = 0 THEN {feat}{point_geom}, '}}')
          WHEN t % 4 = 1 THEN {feat}{poly_geom}, '}}')
          ELSE {feat}{mp_geom}, '}}')
        END AS geojson""",
    )
    return texts


def q_geojson_scan(spark, sf_dir):
    """GeoJSON source (sources/geojson.py, RFC 7946): Feature documents
    derived from the corpus — Point / Polygon-with-hole / MultiPolygon
    arms plus four error arms (LineString unsupported, unclosed ring,
    invalid JSON, null geometry) — parsed in ONE Arrow stage and
    exploded to per-vertex rows so every compared value is a scalar
    (coordinates are exact binary fractions; the driver compare never
    sees a nested array). The oracle derives the expected vertices
    straight from the generation rule's corner arithmetic — no JSON
    anywhere in the SQL. Healthy features parse even when the same
    batch holds malformed documents (error-as-data, pinned in pytest)."""
    from pyspark.sql import functions as F

    from core_spark.sources.geojson import parse_geojson

    parsed = parse_geojson(_geojson_directory(spark, sf_dir))
    return (
        parsed.select(
            "src", "feature_ix", "fid", "geom_type",
            F.expr("CAST(element_at(props, 'admin_id') AS BIGINT)")
            .alias("admin_id"),
            "part_ix", "lon", "lat", "error",
            F.posexplode_outer("rings").alias("ring_ix", "_ring"),
        )
        .select(
            "src", "feature_ix", "fid", "geom_type", "admin_id",
            "part_ix", "lon", "lat", "error",
            F.col("ring_ix").cast("long").alias("ring_ix"),
            F.posexplode_outer("_ring").alias("vertex_ix", "_pt"),
        )
        .selectExpr(
            "src", "feature_ix", "fid", "geom_type", "admin_id",
            "part_ix", "ring_ix",
            "CAST(vertex_ix AS BIGINT) AS vertex_ix",
            "coalesce(_pt[0], lon) AS x",
            "coalesce(_pt[1], lat) AS y",
            "error",
        )
    )


def _sql_geojson_scan() -> str:
    """Expected vertex rows straight from the generation rule."""
    return """
        WITH ts AS (
          SELECT DISTINCT CAST(doc_id % 19 AS INT) AS t FROM documents
        ),
        corners AS (
          SELECT * FROM (VALUES
            (0, -1, -1), (1, 1, -1), (2, 1, 1), (3, -1, 1), (4, -1, -1)
          ) c(v, dx, dy)
        )
        -- Point arm (t%4=0)
        SELECT 'g' || CAST(t AS VARCHAR) AS src,
               CAST(0 AS BIGINT) AS feature_ix,
               'f' || CAST(t AS VARCHAR) AS fid,
               'Point' AS geom_type, CAST(t AS BIGINT) AS admin_id,
               CAST(NULL AS BIGINT) AS part_ix,
               CAST(NULL AS BIGINT) AS ring_ix,
               CAST(NULL AS BIGINT) AS vertex_ix,
               t * 0.25 AS x, t * 0.5 - 2.0 AS y,
               CAST(NULL AS VARCHAR) AS error
        FROM ts WHERE t % 4 = 0
        UNION ALL
        -- Polygon arm (t%4=1, t<>5/13 ring 0 only; t%8=5 adds the hole)
        SELECT 'g' || CAST(t AS VARCHAR), 0, 'f' || CAST(t AS VARCHAR),
               'Polygon', t, 0, r.ring_ix, c.v,
               t * 1.0 + c.dx * (CASE WHEN r.ring_ix = 0
                                      THEN 0.5 ELSE 0.25 END),
               t * 0.5 + c.dy * (CASE WHEN r.ring_ix = 0
                                      THEN 0.5 ELSE 0.25 END),
               NULL
        FROM ts
        CROSS JOIN (VALUES (0), (1)) r(ring_ix)
        CROSS JOIN corners c
        WHERE t % 4 = 1 AND t NOT IN (3, 7, 11, 15)
          AND (r.ring_ix = 0 OR t % 8 = 5)
        UNION ALL
        -- MultiPolygon arm (t%4=2): two parts, ring 0 each
        SELECT 'g' || CAST(t AS VARCHAR), 0, 'f' || CAST(t AS VARCHAR),
               'MultiPolygon', t, p.part_ix, 0, c.v,
               t * 1.0 + c.dx * (CASE WHEN p.part_ix = 0
                                      THEN 0.5 ELSE 0.25 END),
               (CASE WHEN p.part_ix = 0 THEN 0.0 ELSE 3.0 END)
                 + c.dy * (CASE WHEN p.part_ix = 0 THEN 0.5 ELSE 0.25 END),
               NULL
        FROM ts
        CROSS JOIN (VALUES (0), (1)) p(part_ix)
        CROSS JOIN corners c
        WHERE t % 4 = 2
        UNION ALL
        -- error arms
        SELECT 'g' || CAST(t AS VARCHAR),
               CASE WHEN t = 11 THEN NULL ELSE 0 END,
               CASE WHEN t = 11 THEN NULL
                    ELSE 'f' || CAST(t AS VARCHAR) END,
               CASE WHEN t = 3 THEN 'LineString'
                    WHEN t = 7 THEN 'Polygon' END,
               NULL,
               CASE WHEN t = 7 THEN 0 END,
               NULL, NULL, NULL, NULL,
               CASE WHEN t = 3 THEN 'unsupported geometry type: LineString'
                    WHEN t = 7 THEN 'ring not closed'
                    WHEN t = 11 THEN 'invalid json'
                    WHEN t = 15 THEN 'missing geometry' END
        FROM ts WHERE t IN (3, 7, 11, 15)
    """


def _rect_gen_exprs(div: str) -> list[str]:
    """Jittered-lattice rect derivation over t = doc_id % 211 (one
    emission, both engines; only the integer-division token differs)."""
    xmin = "(t % 15) * 3.0 + (t % 7) * 0.25"
    ymin = f"((t {div} 15) % 15) * 3.0 + (t % 5) * 0.25"
    return [
        "t AS rect_id",
        f"{xmin} AS xmin",
        f"{ymin} AS ymin",
        f"{xmin} + (t % 4) * 1.75 + 0.5 AS xmax",
        f"{ymin} + (t % 6) * 0.75 + 0.25 AS ymax",
    ]


RECT_CELL = 2.0


def q_rect_join(spark, sf_dir):
    """PBSM rectangle-intersection join (operators/rectjoin.py, Patel &
    DeWitt 1996): the candidate generator under every polygon/envelope
    join — grid the plane, replicate each rect to the cells its extent
    covers (within-row sequence explode), ONE equi shuffle on integer
    cell keys, then the PBSM reference-point trick: a pair is emitted
    only in the cell holding its intersection's lower-left corner, so
    a pair sharing 40 cells emits ONCE with no dedup shuffle
    (plan-asserted Deduplicate-free; cell-size invariance pytested at
    g=0.5/1/4). Touching edges count (closed intervals). 211 derived
    rects on a jittered lattice, 256 intersecting pairs; the oracle is
    the honest O(n²) cross-join — an independent plan."""
    from core_spark.operators.rectjoin import rect_join_pairs

    rects = (
        _docs(spark, sf_dir, wide=False)
        .selectExpr("CAST(doc_id % 211 AS INT) AS t").distinct()
        .selectExpr(*_rect_gen_exprs("DIV"))
    )
    return rect_join_pairs(rects, RECT_CELL)


def _sql_rect_join() -> str:
    from core_spark.operators.rectjoin import sql_rect_join_pairs

    cols = ", ".join(_rect_gen_exprs("//"))
    rects = (
        f"SELECT {cols} FROM (SELECT DISTINCT CAST(doc_id % 211 AS INT)"
        " AS t FROM documents)"
    )
    return sql_rect_join_pairs(f"({rects})")


TRAJ_LAT = "CAST((event_id * 31) % 160 AS DOUBLE) * 0.25 - 20.0"
TRAJ_LON = "CAST((event_id * 17) % 320 AS DOUBLE) * 0.25 - 40.0"


def q_trajectories(spark, sf_dir):
    """Spatiotemporal rollup (operators/trajectory.py) over the events
    table: per-user path length / net displacement / longest step /
    bbox from (ts, event_id)-ordered positions (coordinates derived
    from event_id by generation rule — exact quarter-degree lattice).
    Every compared length is a BIGINT micro-unit built FLOOR(sqrt·1e6)
    per step BEFORE summation (double sums are association-order-
    dependent; sqrt is IEEE-correctly-rounded so it is portable where
    trig is not). ONE Exchange: the lag window and the rollup share the
    user_id hash clustering (plan-asserted in pytest). The twin
    computes endpoints with a DIFFERENT plan (FIRST/LAST_VALUE windows
    vs Spark's struct extrema) — agreement is evidence."""
    from core_spark.operators.trajectory import trajectory_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id", "ts", "event_id",
        f"{TRAJ_LAT} AS lat", f"{TRAJ_LON} AS lon",
    )
    return trajectory_stats(ev)


def _sql_trajectories() -> str:
    from core_spark.operators.trajectory import sql_trajectory_stats

    return sql_trajectory_stats(
        "SELECT user_id, ts, event_id,"
        f" {TRAJ_LAT} AS lat, {TRAJ_LON} AS lon FROM events"
    )


_PHRASE = ["value", "table"]  # 38 docs / 42 hits at sf0.01: overlap arm live

# Veto arms measurably fire at sf0.01: sortmerge 320->48, hashagg 321->47.
_ROUTES = [
    ("route_sortmerge", ["sort", "merge"], ["slow"]),
    ("route_sparkwin", ["spark", "window"], []),
    ("route_hashagg", ["hash", "agg"], ["scan"]),
]


def q_query_route(spark, sf_dir):
    """Standing-query routing (operators/percolate.py): a registry of
    named boolean queries (req terms AND-ed, veto terms excluded) —
    the percolator/topic-routing shape, and detect.py's D3+D8
    matcher/veto semantics transplanted to webtext. The registry
    compiles into ONE literal array-of-structs inside a codegen'd
    projection (bpe.py artifact pattern): zero joins, zero shuffles,
    zero Python — classification is embarrassingly parallel at crawl
    scale. Oracle: the INVERTED plan (postings join + arity check +
    veto anti-join)."""
    from core_spark.operators.percolate import route_queries

    return route_queries(
        _docs(spark, sf_dir, wide=False).select("doc_id", "text"), _ROUTES)


def _sql_query_route() -> str:
    from core_spark.operators.percolate import sql_route_queries

    return sql_route_queries("SELECT doc_id, text FROM documents", _ROUTES)


def q_phrase_search(spark, sf_dir):
    """Positional phrase search (operators/phrases.py): exact
    token-sequence retrieval — the order-aware primitive BM25's bag of
    words cannot express. The driver-literal phrase compiles into ONE
    within-row HOF projection (indexed tokens → per-term shifted
    positions → L-way array_intersect): zero shuffles, zero Python,
    map-side only. The oracle runs the OTHER plan — the textbook
    positional-index explode + offset self-join — so the within-row
    algebra is gated against honest postings arithmetic. match_count
    counts overlapping occurrences; first_pos is 0-based (repo span
    convention)."""
    from core_spark.operators.phrases import phrase_search

    return phrase_search(
        _docs(spark, sf_dir, wide=False).select("doc_id", "text"), _PHRASE)


def _sql_phrase_search() -> str:
    from core_spark.operators.phrases import sql_phrase_search

    return sql_phrase_search("SELECT doc_id, text FROM documents", _PHRASE)


def q_od_flows(spark, sf_dir):
    """Origin-destination flow matrix (operators/odmatrix.py): per
    (user, day) the first/last ping define a trip; trips aggregate to
    per-cell-pair flows scored against the gravity/independence
    expectation m_o·m_d/N from the matrix's own marginals. Exact
    BIGINT counts + cross-multiplied anomaly gate; lift is one IEEE
    multiply/divide chain (nothing floating is summed). Two uniform
    hash-aggs, pinned multi-consumer flow matrix, cell-bounded
    marginals come back as broadcast joins. Oracle: ROW_NUMBER
    endpoints + window-SUM marginals — a fully different plan."""
    from core_spark.operators.odmatrix import od_flows

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id", "ts", "event_id",
        f"{TRAJ_LAT} AS lat", f"{TRAJ_LON} AS lon",
    )
    return od_flows(ev, 5.0)


def _sql_od_flows() -> str:
    from core_spark.operators.odmatrix import sql_od_flows

    return sql_od_flows(
        "SELECT user_id, ts, event_id,"
        f" {TRAJ_LAT} AS lat, {TRAJ_LON} AS lon FROM events",
        5.0,
    )


def q_co_visits(spark, sf_dir):
    """Co-visitation pairs (operators/covisit.py): entities sharing >=3
    distinct (10°-cell, day) buckets — contact_join's coarse,
    repeated-evidence sibling (companionship, not instantaneous
    proximity). Crowded buckets (>10 distinct users) drop BEFORE
    pairing — the Crandall et al. inverse-crowd rule, which is also
    the |B|² skew fix — and the cap is MEASURABLY live at sf0.01
    (8,482 → 4,518 pairs). Exact integer-µs bucketing, one pinned
    visit table, composite-key equi self-join, never cartesian.
    Oracle: the INDEPENDENT brute-force entity-pair plan over
    list-intersected visit sets."""
    from core_spark.operators.covisit import co_visits

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id", "ts",
        f"{TRAJ_LAT} AS lat", f"{TRAJ_LON} AS lon",
    )
    return co_visits(ev, 10.0, 86400, min_shared=3, max_bucket_users=10)


def _sql_co_visits() -> str:
    from core_spark.operators.covisit import sql_co_visits

    return sql_co_visits(
        "SELECT user_id, ts,"
        f" {TRAJ_LAT} AS lat, {TRAJ_LON} AS lon FROM events",
        10.0, 86400, min_shared=3, max_bucket_users=10,
    )


def q_geo_terms(spark, sf_dir):
    """Per-cell distinctive terms (operators/geoterms.py): the direct
    fusion of the graft's two axes — per 15° grid cell, the top-5
    terms by (cell support DESC, global df ASC, term ASC), the
    integer-exact ranking a lift score induces along each axis
    (termstats.py stance: no libm in compared values). One pinned
    multi-consumer hit table, two uniform hash-aggs, one term-keyed
    equi join of two vocabulary-sized aggregates, WindowGroupLimit
    top-k (plan-asserted). Oracle: global df via a WINDOW over raw
    hits instead of the join."""
    from core_spark.operators.geoterms import geo_terms

    docs = _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id", "text", f"{LAT_EXPR} AS lat", f"{LON_EXPR} AS lon")
    return geo_terms(docs, _MORAN_CELL, k=5, min_cell_df=2)


def _sql_geo_terms() -> str:
    from core_spark.operators.geoterms import sql_geo_terms

    return sql_geo_terms(
        f"SELECT doc_id, text, {LAT_EXPR} AS lat, {LON_EXPR} AS lon"
        " FROM documents",
        _MORAN_CELL, k=5, min_cell_df=2,
    )


# Emerging-terms fixture: the drift attribute must be INDEPENDENT of
# the bucket residue — bucket = 5·doc_id mod 8 is a bijection of
# doc_id mod 8, so any doc_id-parity condition collapses to a fixed
# per-bucket constant (measured: the parity version planted a comb,
# not a ramp). FLOOR(doc_id/8.0)%8 < bucket gives P(term|b) = b/8.
_ETERM_RAMP = "CAST(FLOOR(doc_id / 8.0) AS BIGINT) % 8"
_ETERM_TEXT = (
    f"text || (CASE WHEN lon >= 0 AND {_ETERM_RAMP} < bucket"
    " THEN ' localboom' ELSE '' END)"
    f" || (CASE WHEN lon < 0 AND {_ETERM_RAMP} < (7 - bucket)"
    " THEN ' localbust' ELSE '' END)"
)


def _eterm_src_sql() -> str:
    return (
        f"SELECT doc_id, lat, lon, bucket, {_ETERM_TEXT} AS text FROM"
        f" (SELECT doc_id, text, {LAT_EXPR} AS lat, {LON_EXPR} AS lon,"
        f" {_EMERG_BUCKET} AS bucket FROM documents)"
    )


def q_emerging_terms(spark, sf_dir):
    """Emerging topics per region (operators/emergterms.py): the
    Mann-Kendall space-time cube keyed by (cell, TERM) — which topics
    are RISING where, the geo_terms × emerging_hotspots composition.
    Document-frequency counting (array_distinct before the explode:
    one spammy page can't fake a trend), one uniform cube hash-agg,
    the T-column pivot, sign terms in one projection — zero joins,
    zero Python; min_total cuts the vocabulary tail inside the pivot
    HAVING. Planted regional drift is live: 'localboom' rises in all
    4 east cells, 'localbust' falls in all 4 west. Oracle: the
    independent no-pivot spine + positional pair self-join."""
    from core_spark.operators.emergterms import emerging_terms

    docs = _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id", "text",
        f"{LAT_EXPR} AS lat", f"{LON_EXPR} AS lon",
        f"{_EMERG_BUCKET} AS bucket",
    ).selectExpr("doc_id", "lat", "lon", "bucket",
                 f"{_ETERM_TEXT} AS text")
    return emerging_terms(docs, 90.0, 8, threshold=8, min_total=15)


def _sql_emerging_terms_q() -> str:
    from core_spark.operators.emergterms import sql_emerging_terms

    return sql_emerging_terms(_eterm_src_sql(), 90.0, 8,
                              threshold=8, min_total=15)


def q_regionize(spark, sf_dir):
    """Raster region labeling (operators/regions.py): connected blobs
    of active cells (count >= 2, rook) — the GIS dissolve, composed
    entirely from audited primitives: cell_counts hash-agg →
    _rook_pairs shifted-key adjacency (the ESDA family's ONE
    adjacency plan) → Kiveris large/small-star CC → label join with
    isolated cells keeping their own id; region sizes ride one window
    over the bounded region key. 174 cells → 12 regions (one 152-cell
    continent + islands) at every SF. Oracle: the INDEPENDENT
    algorithm end to end — non-equi |Δ|=1 adjacency + recursive-CTE
    min-label closure (dbscan convention)."""
    from core_spark.operators.regions import regionize

    return regionize(_points(spark, sf_dir, wide=False), 15.0, min_count=2)


def _sql_regionize() -> str:
    from core_spark.operators.regions import sql_regionize

    return sql_regionize(_POINTS_SQL, 15.0, min_count=2)


def q_crawl_budget(spark, sf_dir):
    """Hamilton apportionment (operators/apportion.py): split a 10k-slot
    crawl budget across the raster density cells — the scheduling end
    of the emerging-hotspot story. floor quota (B·m DIV M) + the
    leftover slots to the R largest remainders (remainder DESC, cell
    ASC tie-break): Σ alloc == B EXACTLY, every stratum within 1 of
    its real quota, pure BIGINT end to end. One broadcast 1-row total,
    one codegen'd quota projection, ONE window over the bounded
    stratum set. Oracle: scalar-subquery total + correlated-count
    rank — no window."""
    from core_spark.operators.apportion import apportion_budget
    from core_spark.operators.moran import cell_counts

    cells = cell_counts(_points(spark, sf_dir, wide=False), 15.0) \
        .withColumnRenamed("x", "mass")
    return apportion_budget(cells, 10_000, ["cx", "cy"])


def _sql_crawl_budget() -> str:
    from core_spark.operators.apportion import sql_apportion_budget

    g = 15.0
    cells = f"""
        SELECT CAST(FLOOR(lon / {g!r}) AS BIGINT) AS cx,
               CAST(FLOOR(lat / {g!r}) AS BIGINT) AS cy,
               CAST(COUNT(*) AS BIGINT) AS mass
        FROM ({_POINTS_SQL}) p
        WHERE lat IS NOT NULL AND lon IS NOT NULL
          AND NOT isnan(lat) AND NOT isnan(lon)
        GROUP BY 1, 2
    """
    return sql_apportion_budget(cells, 10_000, ["cx", "cy"])


_MM_X = f"((CAST(FLOOR(({TRAJ_LON}) * 4) AS BIGINT) % 29) + 29) % 29"
_MM_Y = f"((CAST(FLOOR(({TRAJ_LAT}) * 4) AS BIGINT) % 31) + 31) % 31"


def q_map_match(spark, sf_dir):
    """Greedy map matching (operators/mapmatch.py): event pings folded
    into the roads frame → snap candidates (shared snap.py one-sided
    blocking, distance key kept) → per-ping argmin via min(STRUCT(IEEE
    num/den double, seg)) — equal rationals are equal doubles, ties
    fall to the id, deterministic on both engines → per-user lag
    window → road-to-road transition counts (the road-network
    odmatrix). Unmatched pings drop out of the sequence; dwells are
    not transitions. Oracle: gridless O(n·m) snap + ROW_NUMBER argmin
    — independent of blocking and struct extrema."""
    from core_spark.operators.mapmatch import map_match

    pings = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id", "event_id", f"{_MM_X} AS x", f"{_MM_Y} AS y")
    roads = _docs(spark, sf_dir, wide=False).selectExpr(
        *_SEG_LEFT).distinct()
    return map_match(pings, roads, eps=2, cell=4.0)


def _sql_map_match() -> str:
    from core_spark.operators.mapmatch import sql_map_match

    pings = (f"SELECT user_id, event_id, {_MM_X} AS x, {_MM_Y} AS y"
             " FROM events")
    return sql_map_match(pings, _seg_sql(_SEG_LEFT), eps=2)


_ZQ_BOX = (-20.0, 30.0, -60.0, 40.0)  # lat_min, lat_max, lon_min, lon_max


def q_zorder_bbox(spark, sf_dir):
    """Z-order bbox query (operators/zquery.py): the read-side payoff
    of zorder_layout — the box becomes <=64 contiguous Morton ranges
    (driver-side quadtree decomposition, BIGMIN's simpler sibling)
    plus the residual exact predicate, so correctness NEVER depends on
    the range budget, only scan cost does (a coarser cover is a
    superset the residual absorbs). On a laid-out table the ranges are
    the stats-pruning clause (PushedFilters-asserted in pytest).
    Oracle: the plain bbox filter with no key machinery."""
    from core_spark.operators.zquery import bbox_query

    la0, la1, lo0, lo1 = _ZQ_BOX
    return bbox_query(_points(spark, sf_dir, wide=False),
                      la0, la1, lo0, lo1)


def _sql_zorder_bbox() -> str:
    from core_spark.operators.zquery import sql_bbox_query

    la0, la1, lo0, lo1 = _ZQ_BOX
    return sql_bbox_query(_POINTS_SQL, la0, la1, lo0, lo1)


def q_stay_points(spark, sf_dir):
    """Stay-point detection (operators/staypoints.py): maximal runs of
    >=3 CONSECUTIVE pings in one 20° cell — dwells, not visits (a
    return to the same cell opens a NEW stay; consecutiveness is the
    semantics and the fixture plants a return). Gaps-and-islands via
    the rn-difference trick; both windows and the rollup share the
    entity hash clustering — ONE Exchange, plan-asserted. Oracle: the
    OTHER island formulation (lag change flags + running SUM), so the
    trick itself is gated."""
    from core_spark.operators.staypoints import stay_points

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id", "ts", "event_id",
        f"{TRAJ_LAT} AS lat", f"{TRAJ_LON} AS lon",
    )
    return stay_points(ev, 20.0, min_pings=3)


def _sql_stay_points() -> str:
    from core_spark.operators.staypoints import sql_stay_points

    return sql_stay_points(
        "SELECT user_id, ts, event_id,"
        f" {TRAJ_LAT} AS lat, {TRAJ_LON} AS lon FROM events",
        20.0, min_pings=3,
    )


def q_mirror_hosts(spark, sf_dir):
    """Mirror-host detection (operators/mirrors.py): verified
    cross-host near-dup pairs rolled into a host-pair evidence matrix
    — the site-level drop-the-whole-host signal (RefinedWeb-style).
    LSH proposes (the audited banded plan), a pure-BIGINT
    cross-multiplied Jaccard verify disposes (no float anywhere —
    dedup.py's ratio column replaced by the verdict inequality),
    least/greatest pair normalization, same-host pairs excluded.
    Both arms live at sf0.01: 18 host pairs, 3 flagged mirrors.
    Oracle: the nested independent chain (minhash twin + list_intersect
    verify + rollup)."""
    from core_spark.operators.mirrors import mirror_hosts

    # md5-heavy (corpus shingled twice): the wide doc pool is the
    # CLAUDE.md asymmetry rule — wide=False measured 28.4s, wide ~9s;
    # k=3 shingles (the dedup-family default) cut the candidate set
    # ~8x vs k=2 (46,630 -> weak pairs never reach verify): 9 -> 5.1s
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", "text",
        "'m' || CAST(doc_id % 16 AS STRING) AS host")
    return mirror_hosts(docs, min_pairs=2, k=3, n_perm=8, bands=4,
                        t_num=4, t_den=5)


def _sql_mirror_hosts() -> str:
    from core_spark.operators.mirrors import sql_mirror_hosts

    src = ("(SELECT doc_id, text,"
           " 'm' || CAST(doc_id % 16 AS VARCHAR) AS host FROM documents)")
    return sql_mirror_hosts(src, min_pairs=2, k=3, n_perm=8, bands=4,
                            t_num=4, t_den=5)


# k-core fixture: a 20-host dense core (+1/+3/+7 ring links), a 10-host
# chain (20..29) whose peel CASCADES one node per round, and a 67-host
# periphery with single core links. Modeled: 20-node 3-core after 6
# peel rounds at sf>=0.01 — the cascade is what the fixture exercises.
_KCORE_A = "doc_id % 97"
_KCORE_B = (
    f"CASE WHEN ({_KCORE_A}) < 20 THEN"
    f" (({_KCORE_A}) + (CASE CAST(doc_id % 3 AS INT)"
    " WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 7 END)) % 20"
    f" WHEN ({_KCORE_A}) < 30 THEN"
    f" (CASE WHEN doc_id % 2 = 0 AND ({_KCORE_A}) < 29"
    f" THEN ({_KCORE_A}) + 1 ELSE ({_KCORE_A}) - 10 END)"
    f" ELSE ({_KCORE_A}) % 20 END"
)


def q_link_kcore(spark, sf_dir):
    """k-core decomposition (operators/kcore.py): iterative degree-<k
    peeling to the fixed point — link-farm / spam-core detection, the
    subgraph question PageRank and triangles don't answer. Per round:
    one uniform degree hash-agg + two left-semi edge filters, pinned
    via pin; convergence = the kept-edge COUNT repeating
    (peeling only removes, so an unchanged count IS the fixpoint);
    non-convergence raises. Oracle: 8 UNROLLED peel rounds with
    MATERIALIZED CTEs (plain CTEs inline 3^rounds copies — measured
    DuckDB planner hang, PLANS §100)."""
    from core_spark.operators.kcore import k_core

    edges = _docs(spark, sf_dir, wide=False).selectExpr(
        f"{_KCORE_A} AS src", f"{_KCORE_B} AS dst").distinct()
    return k_core(edges, k=3)


def _sql_link_kcore() -> str:
    from core_spark.operators.kcore import sql_k_core

    edges = (f"SELECT DISTINCT {_KCORE_A} AS src, {_KCORE_B} AS dst"
             " FROM documents")
    return sql_k_core(edges, k=3, rounds=8)


def q_link_clustering(spark, sf_dir):
    """Local clustering coefficients (triangles.clustering_coefficients):
    Watts-Strogatz 2T/(d(d−1)) per host over the same derived graph
    link_triangles counts — the graph-stats family closes with the
    normalized local density (PageRank = global importance, k-core =
    subgraph membership, triangles = raw local density, lcc = the
    normalized form). Exact BIGINT numerator/degree ride along; the
    coefficient is ONE IEEE chain, bit-identical cross-engine; NULL
    under degree 2 (undefined, not zero). Oracle: the independent
    brute-force triple join + the same projection."""
    from core_spark.operators.triangles import clustering_coefficients

    edges = _docs(spark, sf_dir, wide=False).selectExpr(
        TRI_EDGE_SPARK.format(side="a") + " AS src",
        TRI_EDGE_SPARK.format(side="b") + " AS dst",
    )
    return clustering_coefficients(edges)


def _sql_link_clustering() -> str:
    from core_spark.operators.triangles import sql_clustering_coefficients

    return sql_clustering_coefficients(
        f"SELECT {TRI_EDGE_DUCK.format(side='a')} AS src,"
        f" {TRI_EDGE_DUCK.format(side='b')} AS dst FROM documents"
    )


_GM_CELL = 15.0
_GM_SCORE = [
    "coalesce(mentions, 0L) AS mentions",
    "coalesce(present, 0L) AS present",
    # lift and the exact gate follow the od_flows recipe: cross-
    # multiplied BIGINT verdict (exact while m·P fits int64), one IEEE
    # chain for the reported ratio; p=0 cells with mentions are
    # over-mentioned by definition (infinite lift), lift NULL there
    "CASE WHEN coalesce(present, 0L) > 0 AND mtot > 0"
    " THEN CAST(coalesce(mentions, 0L) AS DOUBLE) * CAST(ptot AS DOUBLE)"
    " / (CAST(coalesce(present, 0L) AS DOUBLE) * CAST(mtot AS DOUBLE))"
    " END AS lift",
    "CAST(coalesce(mentions, 0L) * ptot >"
    " 2 * coalesce(present, 0L) * mtot AS INT) AS over_mentioned",
]


def q_geo_mentions(spark, sf_dir):
    """Geo-mention bias capstone: where the corpus TALKS ABOUT vs where
    it IS FROM — geoparse-extracted mention coordinates (the flagship's
    G2 regex, the gated stage) and doc-origin points rastered onto the
    same 15° grid, full-outer joined, each cell scored against the
    independence expectation with the od_flows recipe (exact
    cross-multiplied gate at factor 2 + one IEEE lift chain;
    mention-only cells are over-mentioned by definition). Totals ride
    a broadcast 1-row aggregate; both rasters pin (multi-consumer).
    Oracle: window-SUM totals + the same FULL OUTER join — no
    broadcast machinery."""
    from pyspark.sql import functions as F

    mentions = q_geoparse_dec(spark, sf_dir).selectExpr(
        f"CAST(FLOOR(mlat / {_GM_CELL!r}) AS BIGINT) AS cell_i",
        f"CAST(FLOOR(mlon / {_GM_CELL!r}) AS BIGINT) AS cell_j",
    ).groupBy("cell_i", "cell_j").agg(
        F.count(F.lit(1)).cast("long").alias("mentions"))
    presence = _points(spark, sf_dir, wide=False).selectExpr(
        f"CAST(FLOOR(lat / {_GM_CELL!r}) AS BIGINT) AS cell_i",
        f"CAST(FLOOR(lon / {_GM_CELL!r}) AS BIGINT) AS cell_j",
    ).groupBy("cell_i", "cell_j").agg(
        F.count(F.lit(1)).cast("long").alias("present"))
    mentions, presence = pin(mentions), pin(presence)
    mtot = mentions.agg(F.sum("mentions").cast("long").alias("mtot"))
    ptot = presence.agg(F.sum("present").cast("long").alias("ptot"))
    return (
        mentions.join(presence, ["cell_i", "cell_j"], "full_outer")
        .crossJoin(F.broadcast(mtot))
        .crossJoin(F.broadcast(ptot))
        .selectExpr("cell_i", "cell_j", *_GM_SCORE)
    )


def _sql_geo_mentions() -> str:
    lats, lons = sql_dec_mentions("mention_text")
    mention_src = f"""
        SELECT CAST(FLOOR(CAST({lats}[1] AS DOUBLE) / {_GM_CELL!r})
               AS BIGINT) AS cell_i,
               CAST(FLOOR(CAST({lons}[1] AS DOUBLE) / {_GM_CELL!r})
               AS BIGINT) AS cell_j
        FROM (SELECT 'located at ' || CAST(doc_id % 90 AS VARCHAR)
                     || '.1234' || ', -'
                     || CAST(doc_id % 179 AS VARCHAR) || '.5678'
                     || ' nearby' AS mention_text
              FROM documents) t
    """
    score = ", ".join(_GM_SCORE).replace("0L", "0")
    return f"""
        WITH m AS (
          SELECT cell_i, cell_j, CAST(COUNT(*) AS BIGINT) AS mentions
          FROM ({mention_src}) src GROUP BY 1, 2
        ),
        p AS (
          SELECT CAST(FLOOR(lat / {_GM_CELL!r}) AS BIGINT) AS cell_i,
                 CAST(FLOOR(lon / {_GM_CELL!r}) AS BIGINT) AS cell_j,
                 CAST(COUNT(*) AS BIGINT) AS present
          FROM ({_POINTS_SQL}) pts GROUP BY 1, 2
        ),
        joined AS (
          SELECT COALESCE(m.cell_i, p.cell_i) AS cell_i,
                 COALESCE(m.cell_j, p.cell_j) AS cell_j,
                 m.mentions, p.present,
                 CAST(SUM(COALESCE(m.mentions, 0)) OVER () AS BIGINT)
                   AS mtot,
                 CAST(SUM(COALESCE(p.present, 0)) OVER () AS BIGINT)
                   AS ptot
          FROM m FULL OUTER JOIN p
            ON m.cell_i = p.cell_i AND m.cell_j = p.cell_j
        )
        SELECT cell_i, cell_j, {score} FROM joined
    """


def q_kn_counts(spark, sf_dir):
    """Kneser-Ney n-gram count tables (operators/kneserney.py): the
    four integer statistics interpolated-KN smoothing needs — c(gram),
    history mass, distinct continuations N1+(h•), distinct
    predecessors N1+(•s) — over whitespace trigrams of the corpus
    text. ONE big gram hash-agg (map-side combine absorbs stopword
    skew); history/continuation stats re-aggregate the PINNED gram
    table and join back on prefix/suffix keys; short docs drop via a
    plain filter BEFORE the HOF (never a CASE around it); min_count
    prunes output AFTER full-distribution stats. Oracle: the
    INDEPENDENT window plan — all four stats as COUNT/COUNT-DISTINCT
    windows over RAW gram rows, no re-agg, no joins."""
    from core_spark.operators.kneserney import kn_ngram_stats

    return kn_ngram_stats(_docs(spark, sf_dir), n=3, min_count=2)


def _sql_kn_counts() -> str:
    from core_spark.operators.kneserney import sql_kn_ngram_stats

    return sql_kn_ngram_stats(
        "SELECT text FROM documents", n=3, min_count=2)


# IDW fixture: digit-decomposed raster of scattered readings (the
# variogram layout idea at a coarser 0.25 step, both axes mod 50 so the
# frame is bounded 12.25x12.25 at EVERY scale factor — beyond 2,500
# docs positions repeat with fresh nugget values, which IDW handles as
# coincident readings). Value = integer trend 2*lat_step + lon_step +
# doc_id%7 nugget. cell 2.0 puts node centers on the 0.25 lattice
# (exact-hit arm: d2=0, w=scale); radius 1.0 keeps ~50 readings per
# node at 16 pts/unit^2 AND populates the rim nodes whose centers sit
# 0.75 outside the point hull (radius 0.75 left them empty: 6 rows).
_IDW_LAT = "(doc_id % 50) * 0.25"
_IDW_LON = "((doc_id DIV 50) % 50) * 0.25"
_IDW_VAL = ("CAST((doc_id % 50) * 2 + (doc_id DIV 50) % 50"
            " + doc_id % 7 AS BIGINT)")
_IDW_CELL, _IDW_RADIUS = 2.0, 1.0


def q_idw(spark, sf_dir):
    """Inverse-distance-weighted raster fill (operators/idw.py):
    Shepard power-2 interpolation from scattered readings to a
    complete lattice — zonal's missing cousin (field AT each node,
    not contents IN each cell). Weights are FIXED-POINT scale DIV
    (d2_micro+1) so numerator and denominator are exact BIGINTs,
    order-free under any shuffle; the estimate is ONE trailing IEEE
    division. Nodes generate JVM-side from a broadcast 1-row bbox
    (bm25 literal-table rule) with an in-plan raise_error node-count
    guard; the epsilon-grid join replicates the cheap NODE side x9
    (points outnumber nodes at web scale) into ONE uniform equi
    shuffle. Oracle: the honest O(nodes*points) cross join over the
    same generated lattice — gates 3x3 neighborhood completeness."""
    from core_spark.operators.idw import idw_fill

    pts = _docs(spark, sf_dir, wide=False).selectExpr(
        f"{_IDW_LAT} AS lat",
        f"{_IDW_LON} AS lon",
        f"{_IDW_VAL} AS value",
    )
    return idw_fill(pts, _IDW_CELL, _IDW_RADIUS)


def _sql_idw() -> str:
    from core_spark.operators.idw import sql_idw_fill

    pts = (
        f"SELECT {_IDW_LAT} AS lat, {_IDW_LON} AS lon,"
        f" {_IDW_VAL} AS value FROM documents"
    ).replace(" DIV ", " // ")
    return sql_idw_fill(pts, _IDW_CELL, _IDW_RADIUS)


def q_collocations(spark, sf_dir):
    """PMI collocation extraction (operators/collocations.py): adjacent
    bigrams lift-ranked by c_xy*N/(c_x*c_y) — Church & Hanks' PMI
    ordering WITHOUT the forbidden log (monotone transform; counts
    exact BIGINT, lift IEEE double products/quotient in fixed order).
    Two raw-stream hash-aggs (vocab + bigrams, map-side combine eats
    the Zipf head), vocab PINNED for its three consumers, N broadcast
    from a 1-row re-agg; min_count prunes OUTPUT only, after
    full-distribution counts. Oracle: the INDEPENDENT positional plan
    — tokens at (doc,pos), bigrams via pos+1 self-join, unigram
    counts as windows over raw token rows."""
    from core_spark.operators.collocations import pmi_collocations

    return pmi_collocations(_docs(spark, sf_dir), min_count=3)


def _sql_collocations() -> str:
    from core_spark.operators.collocations import sql_pmi_collocations

    return sql_pmi_collocations(
        "SELECT text FROM documents", min_count=3)


def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend slopes (operators/theilsen.py): the
    Mann-Kendall family's missing half — emerging.py tests IS there a
    trend (integer sign test), this estimates HOW STEEP, robustly
    (median of pairwise slopes, ~29% breakdown point). Hourly event
    volume per event_type; each slope ONE IEEE division of exact
    BIGINT diffs, median by RANK SELECTION over the sorted within-row
    slope array (no accumulation ever crosses a shuffle); the O(m²)
    pair build is within-row AFTER the bucketing hash-agg, guarded by
    an in-plan raise_error at max_points. Oracle: the INDEPENDENT
    t<t' self-join row plan with explicit row_number ranks."""
    from core_spark.operators.theilsen import theil_sen

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_type AS key",
        "CAST(unix_timestamp(ts) AS BIGINT) DIV 3600 AS t",
        "1 AS y",
    )
    return theil_sen(ev)


def _sql_theil_sen() -> str:
    from core_spark.operators.theilsen import sql_theil_sen

    ev = ("SELECT event_type AS key,"
          " CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS t,"
          " 1 AS y FROM events")
    return sql_theil_sen(ev)


# Hausdorff fixture: each user's footprint scatters over a 2x2-unit
# box anchored at a center chosen by user_id % 64 on an 8x8 grid of
# 4-unit spacing — same-center trajectories (users congruent mod 64)
# overlap with holes (67 events sample 256 offset cells ~23%), so H
# varies and threshold 0.4 splits the 108-pair same-center universe
# 92 pass / 16 fail at sf0.01; cross-center pairs sit >= 2.1 apart
# and die in the blocking (provably H > t by the bbox-corner lemma).
_HSD_LAT = ("CAST(user_id % 8 AS DOUBLE) * 4.0"
            " + CAST(event_id % 16 AS DOUBLE) * 0.125")
_HSD_LON = ("CAST((user_id DIV 8) % 8 AS DOUBLE) * 4.0"
            " + CAST((event_id DIV 16) % 16 AS DOUBLE) * 0.125")
_HSD_T = 0.4


def q_hausdorff(spark, sf_dir):
    """Discrete Hausdorff similarity join (operators/hausdorff.py):
    every trajectory pair with H <= t — set-to-set path similarity
    (Huttenlocher 1993). Hausdorff is max-of-min, PURE ORDER
    STATISTICS: the rangejoin d2_micro quantization carries the whole
    decision in exact BIGINTs (max-min over d² = (max-min over d)² by
    monotonicity), no float sum anywhere; hdist = one trailing /1e6 +
    IEEE-correctly-rounded SQRT. Blocking is SOUND by the bbox-corner
    lemma (H<=t forces bbox mins within t componentwise): epsilon-grid
    on the (min_lat,min_lon) corner, 3x3 replication, pinned traj
    self-join, each pair found in exactly one cell; the m*n verify is
    a within-row nested HOF behind a raise_error max_points guard.
    Oracle: the INDEPENDENT no-blocking plan — all point pairs, two
    directed GROUP BY cascades — gating blocking completeness."""
    from core_spark.operators.hausdorff import hausdorff_join

    pts = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id AS tid", f"{_HSD_LAT} AS lat", f"{_HSD_LON} AS lon")
    return hausdorff_join(pts, _HSD_T)


def q_link_assortativity(spark, sf_dir):
    """Newman degree assortativity (operators/assortativity.py) over
    the SAME host-edge fixture triangles/clustering rank — the
    one-number who-links-to-whom summary (r > 0 hubs↔hubs, r < 0
    hubs↔leaves). The undirected simplification makes r fully
    RATIONAL: the two Pearson denominator factors coincide, so num
    and den are exact BIGINT hash-agg sums and r is ONE trailing IEEE
    division — no sqrt, no float sum crossing a shuffle. The DuckDB
    twin is the INDEPENDENT window plan (directed half-edges, degrees
    as COUNT(*) windows — no degree table, no joins)."""
    from core_spark.operators.assortativity import degree_assortativity

    edges = _docs(spark, sf_dir, wide=False).selectExpr(
        TRI_EDGE_SPARK.format(side="a") + " AS src",
        TRI_EDGE_SPARK.format(side="b") + " AS dst",
    )
    return degree_assortativity(edges)


def _sql_link_assortativity() -> str:
    from core_spark.operators.assortativity import sql_degree_assortativity

    a = TRI_EDGE_DUCK.format(side="a")
    b = TRI_EDGE_DUCK.format(side="b")
    return sql_degree_assortativity(
        f"SELECT {a} AS src, {b} AS dst FROM documents"
    )


def q_skipgram(spark, sf_dir):
    """Skip-gram (center, context, dist) pair counts
    (operators/skipgram.py) — the word2vec/GloVe co-occurrence
    extraction step. Forward-only within-row HOF pair build (half the
    exploded volume), ONE hash-agg on (center, context, dist) with
    map-side combine eating the Zipf head, backward direction derived
    from the AGGREGATED forward table by mirroring (zero extra
    shuffle); min_count prunes OUTPUT rows only. Pure BIGINT counts —
    no float anywhere. Oracle: the INDEPENDENT positional plan (tokens
    WITH ORDINALITY, forward pairs from a positional range self-join,
    same mirror/prune tail)."""
    from core_spark.operators.skipgram import skipgram_pairs

    return skipgram_pairs(_docs(spark, sf_dir), window=2, min_count=3)


def _sql_skipgram() -> str:
    from core_spark.operators.skipgram import sql_skipgram_pairs

    return sql_skipgram_pairs(
        "SELECT text FROM documents", window=2, min_count=3)


def q_host_gini(spark, sf_dir):
    """Gini crawl concentration (operators/gini.py) over the SAME
    ruler-host fixture the heavy-hitter/host-cap family uses — the
    one-number BEFORE/AFTER meter for per-host capping (h0 holds half
    the corpus: G is high by construction). Fully RATIONAL: exact
    BIGINT num/den at the tie-collapsed distinct-count grain (closed
    form ranks — NEVER a global row_number over the host table), ONE
    trailing IEEE division. Oracle: the INDEPENDENT textbook plan
    (literal row_number over (cnt, host), direct rank formula)."""
    from core_spark.operators.gini import gini_concentration

    items = _docs(spark, sf_dir, wide=False).selectExpr(
        _ruler_host_sql("spark") + " AS item")
    return gini_concentration(items)


def _sql_host_gini() -> str:
    from core_spark.operators.gini import sql_gini_concentration

    return sql_gini_concentration(
        f"SELECT {_ruler_host_sql('duckdb')} AS item FROM documents")


def q_tile_diversity(spark, sf_dir):
    """Simpson host-diversity per hexgrid r5 cell (operators/
    diversity.py) — the tiling twin of host_gini: instead of ONE
    global concentration number, a per-tile monoculture meter
    (D = 0: one ruler-host owns the cell — the geographic link-farm /
    mirror shape; D → 1: evenly mixed). Fuses G3 tiling (exact JVM
    cell arithmetic) with the Zipf(2) ruler-host fixture at the
    (cell, host) grain. Fully RATIONAL: exact BIGINT num/den, ONE
    trailing IEEE division; N=1 cells report NULL via an integer
    CASE. Oracle: the INDEPENDENT list-aggregate plan in DuckDB."""
    from core_spark.operators.diversity import simpson_diversity
    from core_spark.operators.tiles import assign_tiles

    pts = assign_tiles(_points(spark, sf_dir), resolutions=(5,))
    rows = pts.selectExpr(
        "h3_r5 AS grp", _ruler_host_sql("spark") + " AS item")
    return simpson_diversity(rows)


def _sql_tile_diversity() -> str:
    from core_spark.operators.diversity import sql_simpson_diversity

    return sql_simpson_diversity(
        f"SELECT {hx.sql_cell('lat', 'lon', 5)} AS grp,"
        f" {_ruler_host_sql('duckdb')} AS item FROM ({_POINTS_SQL})"
    )


def q_tile_richness(spark, sf_dir):
    """Chao1 unseen-richness + Good-Turing coverage per hexgrid r5
    cell (operators/richness.py) — the OTHER half of tile_diversity's
    question: Simpson measures how mixed the hosts you SAW are; Chao1
    estimates how many hosts you HAVEN'T seen (frontier sizing per
    cell) and coverage = what share of the cell's mass the crawl
    already holds (stop criterion). Same (cell, ruler-host) grain,
    same two-hash-agg shape; every factor (s_obs, f1, f2, N) exact
    BIGINT, each estimate ONE trailing IEEE division — always defined
    (N≥1 per emitted group; f2=0 is the bias-corrected form's point).
    Oracle: the INDEPENDENT count-of-counts plan (an extra
    frequency-of-frequencies grain level)."""
    from core_spark.operators.richness import chao1_richness
    from core_spark.operators.tiles import assign_tiles

    pts = assign_tiles(_points(spark, sf_dir), resolutions=(5,))
    rows = pts.selectExpr(
        "h3_r5 AS grp", _ruler_host_sql("spark") + " AS item")
    return chao1_richness(rows)


def _sql_tile_richness() -> str:
    from core_spark.operators.richness import sql_chao1_richness

    return sql_chao1_richness(
        f"SELECT {hx.sql_cell('lat', 'lon', 5)} AS grp,"
        f" {_ruler_host_sql('duckdb')} AS item FROM ({_POINTS_SQL})"
    )


# Rank-stability fixture: per event_type, each user's activity count
# in the first vs second half of the 30-day events window — the
# snapshot-drift shape (did the user-popularity ranking hold?). The
# half predicate is a plain timestamp comparison (portable text; no
# date arithmetic crosses the compared values — x/y are BIGINT counts).
_KT_SPLIT = "TIMESTAMP '2024-01-16 00:00:00'"


def q_rank_stability(spark, sf_dir):
    """Kendall tau-b rank correlation (operators/kendall.py): per
    event_type, did the user-activity RANKING hold between the two
    halves of the month — the drift meter between crawl snapshots
    (emerging.py's Mann-Kendall S is exactly cd against time; this
    generalizes to arbitrary paired columns + the tie-corrected
    normalizer). ONE hash-agg buckets events to (type, user, x, y),
    then per key a within-row HOF aggregate over the i<j pair stream
    (struct accumulator, raise_error guard; swap symmetry makes pair
    order irrelevant). cd/n0/n1/n2 EXACT BIGINT; tau_b = ONE trailing
    IEEE division over one exactly-rounded SQRT. Oracle: the
    INDEPENDENT rn<rn' self-join row plan."""
    from pyspark.sql import functions as F

    from core_spark.operators.kendall import kendall_tau

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pairs = (
        ev.where("event_type IS NOT NULL AND user_id IS NOT NULL")
        .groupBy("event_type", "user_id")
        .agg(
            F.expr(f"SUM(CASE WHEN ts < {_KT_SPLIT} THEN 1 ELSE 0 END)")
            .alias("x"),
            F.expr(f"SUM(CASE WHEN ts >= {_KT_SPLIT} THEN 1 ELSE 0 END)")
            .alias("y"),
        )
        .selectExpr("event_type AS key", "x", "y")
    )
    return kendall_tau(pairs)


def _sql_rank_stability() -> str:
    from core_spark.operators.kendall import sql_kendall_tau

    pairs = f"""
        SELECT event_type AS key,
               SUM(CASE WHEN ts < {_KT_SPLIT} THEN 1 ELSE 0 END) AS x,
               SUM(CASE WHEN ts >= {_KT_SPLIT} THEN 1 ELSE 0 END) AS y
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        GROUP BY event_type, user_id
    """
    return sql_kendall_tau(pairs)


def q_quality_shift(spark, sf_dir):
    """Mann-Whitney U / rank-sum test (operators/mannwhitney.py): per
    language, is the document-length distribution on the ruler
    mega-host h0 (doc_id%2=1 — half the corpus) DIFFERENT from the
    long tail? The nonparametric A/B quality-shift detector, with the
    ROC identity auc = U/(n_a·n_b) as the effect size. Ranks never
    materialize per row — closed-form doubled average ranks at the
    tie-collapsed distinct-value grain (the gini recipe); u2/tie_sum
    exact BIGINT; auc and z are short fixed-order IEEE tails beside
    exact factors (z NULL on zero variance via integer CASE). Oracle:
    the INDEPENDENT literal-ranks plan (row_number + exactly-divisible
    block averages)."""
    from core_spark.operators.mannwhitney import rank_sum_test

    rows = _docs(spark, sf_dir, wide=False).selectExpr(
        "lang AS key",
        "CASE WHEN doc_id % 2 = 1 THEN 'mega' ELSE 'tail' END AS grp",
        "LENGTH(text) AS value",
    )
    return rank_sum_test(rows, "mega")


def _sql_quality_shift() -> str:
    from core_spark.operators.mannwhitney import sql_rank_sum_test

    rows = (
        "SELECT lang AS key,"
        " CASE WHEN doc_id % 2 = 1 THEN 'mega' ELSE 'tail' END AS grp,"
        " LENGTH(text) AS value FROM documents"
    )
    return sql_rank_sum_test(rows, "mega")


# Knox fixture: a 250x40 background lattice (100k-µdeg spacing, eps
# 150k reaches the 8-neighborhood) with pseudo-uniform times, plus a
# ~0.3% outbreak clump (event_id % 333 = 0) packed into a 3x3
# micro-cell AND a 400-tick window — close-in-space pairs and
# close-in-time pairs both exist independently in the background
# (live margins), but joint closeness concentrates in the clump:
# ratio >> 1 by construction. Clump size is deliberately sublinear
# pain: a 3% clump put C(3030,2) ≈ 4.6M pairs through EVERY marginal
# pass at sf0.1 (measured 14.6s); at 0.3% the pair volume is ~45k
# and the statistic's signal is unchanged in kind.
_KX_C = "event_id % 333 = 0"
# Background de-stacked per PLANS §111 (first cut: 10 events per
# lattice position and a fixed 1e6-tick domain put ~4.5M pairs
# through EACH marginal pass at sf0.1; a plain (id*7919)%2^25 retry
# killed the temporal margin instead — an arithmetic progression mod
# M has NO small residues at these sizes). Space: a 250x400 lattice,
# one event per position at sf0.1. Time: 64 non-overlapping
# 700k-tick bands keyed by id%64, position (id DIV 64)%4096 at step
# 151 inside the band — temporal closeness then requires SAME id%64
# and |Δid| = 64k (k ≤ 3), which is ≥ 6.4e6 µdeg apart on the space
# lattice: both margins are LIVE and roughly linear in n, and the
# background contributes ~zero JOINT pairs by construction (the
# interaction signal is the clump's alone). tau_inf = 2^26 covers
# the ≤ 45M-tick span through sf0.1 (the oracle's unbounded margins
# fail loudly if a bigger SF ever outgrows it).
_KX_X = (f"CASE WHEN {_KX_C} THEN 12500000 + (event_id % 3) * 10000"
         " ELSE (event_id % 250) * 100000 END")
_KX_Y = (f"CASE WHEN {_KX_C} THEN 2500000"
         " + ((event_id DIV 3) % 3) * 10000"
         " ELSE ((event_id DIV 250) % 400) * 100000 END")
_KX_T = (f"CASE WHEN {_KX_C} THEN 500000 + (event_id % 400)"
         " ELSE (event_id % 64) * 700000"
         " + ((event_id DIV 64) % 4096) * 151 END")
_KX_EPS, _KX_TAU = 150_000, 500
_KX_EPS_INF, _KX_TAU_INF = 400_000_000, 67_108_864


def q_knox(spark, sf_dir):
    """Knox space-time interaction test (operators/knox.py): do
    close-in-space event pairs ALSO cluster in time — the outbreak /
    flashmob / coordinated-crawl-burst detector that Ripley (space
    only) and the burst family (time only) each miss. Composes three
    counts of the AUDITED stjoin.contact_pairs kernel (27-key
    composite-grid blocking, exact BIGINT conjunction), marginals via
    degenerate-axis bounds whose sufficiency the oracle's UNBOUNDED
    predicates gate; all counts EXACT BIGINT, ratio = fixed-order IEEE
    mul/div beside exact factors, NULL margin via integer comparisons
    (never an overflowable BIGINT product). Oracle: ONE honest O(n²)
    cross join with conditional sums."""
    from core_spark.operators.knox import knox_test

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id",
        f"{_KX_X} AS x", f"{_KX_Y} AS y", f"{_KX_T} AS t",
    )
    return knox_test(
        ev, _KX_EPS, _KX_TAU, eps_inf=_KX_EPS_INF, tau_inf=_KX_TAU_INF)


def _sql_knox() -> str:
    from core_spark.operators.knox import sql_knox_test

    ev = (
        f"SELECT event_id, {_KX_X} AS x, {_KX_Y} AS y, {_KX_T} AS t"
        " FROM events"
    ).replace(" DIV ", " // ")
    return sql_knox_test(ev, _KX_EPS, _KX_TAU)


# Colocation fixture — digit-decomposed lattices (the variogram
# lesson: the occupied area GROWS with n, so density and pairs stay
# LINEAR in corpus size; the first stacked-lattice version measured
# 62s at sf0.1 from quadratic per-position multiplicity). Three
# regimes: click+purchase interleave on a dense 0.5-spacing lattice
# (8-neighborhood at r=1.0 — PI ≈ 1), signup+view interleave along
# 2.0-spaced corridors where only the ±0.5-lon in-row neighbors reach
# (cross-type with coin-flip odds — moderate PI), and error sits at
# 5.0 spacing with unique positions (no pairs -> ABSENT, the
# no-evidence arm). Positions are unique below event_id 262144 per
# zone, so no pair is a distance-0 collision.
_CL_LAT = (
    "CASE WHEN event_type IN ('click', 'purchase')"
    " THEN (event_id % 64) * 0.5"
    " WHEN event_type IN ('signup', 'view')"
    " THEN 200.0 + (event_id % 16) * 2.0"
    " ELSE 1000.0 + (event_id % 8) * 5.0 END"
)
_CL_LON = (
    "CASE WHEN event_type IN ('click', 'purchase')"
    " THEN ((event_id DIV 64) % 4096) * 0.5"
    " WHEN event_type IN ('signup', 'view')"
    " THEN ((event_id DIV 16) % 16384) * 0.5"
    " ELSE ((event_id DIV 8) % 32768) * 5.0 END"
)
_CL_R = 1.0


def q_colocation(spark, sf_dir):
    """Colocation participation index (operators/colocation.py):
    Shekhar-Huang PI = min(pr_a, pr_b) per unordered event-type pair
    — the k=2 stage every Apriori-style colocation miner prunes on
    ("which event types fire at the same places"). Neighbor pairs
    from the audited epsilon-grid kernel; participants via ONE
    distinct on the uniform (pair, member) key; every factor EXACT
    BIGINT, pr/pi trailing IEEE divisions + LEAST beside exact
    factors; pairless category pairs ABSENT. Oracle: the honest
    O(n²) neighbor plan with the same participation algebra."""
    from core_spark.operators.colocation import colocation_pi

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "event_type AS cat",
        f"{_CL_LAT} AS lat", f"{_CL_LON} AS lon",
    )
    return colocation_pi(ev, _CL_R, key="event_id", cat_col="cat")


def _sql_colocation() -> str:
    from core_spark.operators.colocation import sql_colocation_pi

    ev = (
        f"SELECT event_id, event_type AS cat, {_CL_LAT} AS lat,"
        f" {_CL_LON} AS lon FROM events"
    ).replace(" DIV ", " // ")
    return sql_colocation_pi(ev, _CL_R, key="event_id", cat_col="cat")


def q_volume_shift(spark, sf_dir):
    """CUSUM changepoint (operators/changepoint.py): per event_type,
    WHERE in the 30-day window did the daily volume regime shift —
    Page's max-|CUSUM| split, the single step every recursive
    segmentation is built from (theil_sen says HOW STEEP, emerging
    says IS there a trend; this says WHEN it broke). Mean-clearing
    makes the argmax ALL-INTEGER: D_k = n·S_k − k·T exact BIGINT,
    tie-break to smallest t on integers; cusum/mean_left/mean_right
    are trailing IEEE divisions beside exact factors; windows run at
    the daily-bucket grain only. Oracle: the INDEPENDENT t'<=t
    self-join prefix plan + QUALIFY row_number selection."""
    from core_spark.operators.changepoint import cusum_changepoint

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_type AS key", "EXTRACT(DAY FROM ts) AS t", "1 AS x")
    return cusum_changepoint(ev)


def _sql_volume_shift() -> str:
    from core_spark.operators.changepoint import sql_cusum_changepoint

    return sql_cusum_changepoint(
        "SELECT event_type AS key, EXTRACT(DAY FROM ts) AS t, 1 AS x"
        " FROM events"
    )


# Keyness fixture: the real 31-word corpus vocabulary (ORs hover near
# 1 — the null arm) plus one planted marker token per slice appended to
# the text (slam-dunk b=0 / a=0 arms at the extremes, exercising the
# Haldane smoothing that keeps them finite).
_KY_TEXT = (
    "concat(text, CASE WHEN doc_id % 2 = 1"
    " THEN ' megamarker' ELSE ' tailmarker' END)"
)


def q_host_keyness(spark, sf_dir):
    """Odds-ratio keyness (operators/keyness.py): which terms
    over-index on the ruler mega-host h0 vs the long tail — the
    contrastive-vocabulary audit for domain skew / filter-drop
    analysis (tfidf = distinctive of THIS doc, PMI = words attracting
    each other, keyness = what slice A says that B doesn't). Log-free
    via the doubled Haldane form: num=(2a+1)(2d+1), den=(2b+1)(2c+1)
    EXACT BIGINT, odds_ratio ONE trailing IEEE division (rank-
    equivalent to log-odds by monotonicity); document-frequency grain
    (within-row distinct BEFORE the explode) makes spam repetition
    keyness-neutral; ONE uniform term hash-agg + broadcast totals.
    Oracle: the INDEPENDENT two-subquery FULL-OUTER plan."""
    from core_spark.operators.keyness import odds_ratio_keyness

    docs = _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id % 2 = 1 AS is_a",
        f"split(trim({_KY_TEXT}), ' ') AS toks",
    )
    return odds_ratio_keyness(docs, min_count=5)


def _sql_host_keyness() -> str:
    from core_spark.operators.keyness import sql_odds_ratio_keyness

    docs = (
        f"SELECT doc_id, doc_id % 2 = 1 AS is_a, {_KY_TEXT} AS text"
        " FROM documents"
    )
    return sql_odds_ratio_keyness(docs, min_count=5)


_ACF_T = "(EXTRACT(DAY FROM ts) - 1) * 24 + EXTRACT(HOUR FROM ts)"
_ACF_LAGS = (1, 24)


def q_volume_acf(spark, sf_dir):
    """Sample autocorrelation (operators/acf.py): per event_type, is
    the hourly crawl volume PERIODIC — r_1 (momentum) and r_24 (daily
    seasonality) over the month, the screen before any forecast or
    anomaly model (emerging = IS there a trend, theil_sen = how
    steep, cusum = when it broke, acf = does it repeat). The moran
    denominator-clearing recipe: d_t = n·x_t − S exact BIGINT behind
    an in-plan overflow guard, num/den exact integer aggregates with
    the n² factors cancelling, acf ONE trailing IEEE division, NULL
    on constant series via integer CASE; lag pairs at EXACT bucket
    distance through ONE uniform equi join on (key, t+L). Oracle:
    the INDEPENDENT no-window plan (GROUP BY stats joined back, one
    explicit self-join per lag UNION ALL'd)."""
    from core_spark.operators.acf import acf

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_type AS key", f"{_ACF_T} AS t", "1 AS x")
    return acf(ev, _ACF_LAGS)


def _sql_volume_acf() -> str:
    from core_spark.operators.acf import sql_acf

    return sql_acf(
        f"SELECT event_type AS key, {_ACF_T} AS t, 1 AS x FROM events",
        _ACF_LAGS,
    )


def q_quadrat(spark, sf_dir):
    """Quadrat variance-to-mean dispersion (operators/quadrat.py):
    the O(n) first-order CSR screen run BEFORE Ripley's O(n·density)
    second-order pass — one number (VMR = 1 Poisson, >> 1 clustered,
    < 1 regular) over a 16×16 grid of 2-unit quadrats covering the
    SAME digit-decomposed raster window ripley/variogram use. Empty
    cells enter via the CLOSED-FORM universe N = nx·ny (never a
    scan); num = N·Σc² − T², den = N·T exact BIGINT, vmr ONE trailing
    IEEE division, NULL on empty window; out-of-window points audited
    in n_outside, never silently dropped. Oracle: the INDEPENDENT
    textbook plan (generate_series universe with empties
    materialized)."""
    from core_spark.operators.quadrat import quadrat_dispersion

    pts = _docs(spark, sf_dir, wide=False).selectExpr(
        f"{_VGM_LAT} AS lat", f"{_VGM_LON} AS lon")
    return quadrat_dispersion(pts, 0.0, 0.0, 2.0, 16, 16)


def _sql_quadrat() -> str:
    from core_spark.operators.quadrat import sql_quadrat_dispersion

    pts = (
        f"SELECT {_VGM_LAT} AS lat, {_VGM_LON} AS lon FROM documents"
    ).replace(" DIV ", " // ")
    return sql_quadrat_dispersion(pts, 0.0, 0.0, 2.0, 16, 16)


# Join-count fixture: the occupied 2-unit lattice cells of the raster
# window, labeled in width-4 stripes — same-label cells border each
# other except at stripe seams, so BW lands far BELOW its random-
# labeling expectation (bw_ratio << 1, the segregation regime).
_JC_CELLS = (
    "SELECT DISTINCT (doc_id % 256) DIV 16 AS ix,"
    " ((doc_id DIV 256) % 256) DIV 16 AS iy"
    " FROM documents"
)


def q_lang_segregation(spark, sf_dir):
    """Join-count statistics (operators/joincount.py): the CATEGORICAL
    twin of the moran family — over a labeled cell surface, are BW
    (mixed-label) rook adjacencies rarer than random labeling expects
    (segregation: language regions, topic enclaves, spam farms)?
    Adjacency via two shifted equi-joins on the ONCE-pinned cell
    table (right/down orientation — each unordered pair exactly
    once, no distance math); BB/WW/BW and the expectation factors
    2·J·nB·nW / n(n−1) all EXACT BIGINT; the two reported doubles are
    single fixed-order IEEE divisions, NULL margins via integer
    comparisons. Oracle: the INDEPENDENT |dix|+|diy|=1 distance-
    predicate cross join under lexicographic ordering."""
    from core_spark.operators.joincount import join_counts

    cells = _docs(spark, sf_dir, wide=False).selectExpr(
        "(doc_id % 256) DIV 16 AS ix",
        "((doc_id DIV 256) % 256) DIV 16 AS iy",
    ).distinct().selectExpr("ix", "iy", "(ix DIV 4) % 2 = 0 AS is_b")
    return join_counts(cells)


def _sql_lang_segregation() -> str:
    from core_spark.operators.joincount import sql_join_counts

    cells = (
        f"SELECT ix, iy, (ix DIV 4) % 2 = 0 AS is_b FROM ({_JC_CELLS}) c"
    ).replace(" DIV ", " // ")
    return sql_join_counts(cells)


# minute-grain tick: integer EXTRACTs only (EPOCH/SECOND differ in
# fractional handling across engines; minute parts are unambiguous)
_BU_T = ("(EXTRACT(DAY FROM ts) - 1) * 1440"
         " + EXTRACT(HOUR FROM ts) * 60 + EXTRACT(MINUTE FROM ts)")


def q_crawl_burstiness(spark, sf_dir):
    """Goh-Barabási burstiness (operators/burstiness.py): per user,
    are event arrivals CLUMPED (B→1 bursts+silences), Poisson (B≈0),
    or metronomic (B→−1 cron/polling bots) — the traffic-shape
    fingerprint for bot detection and politeness tuning; acf asks
    does VOLUME repeat, this asks are ARRIVALS clumped. Gaps from ONE
    lag window on the uniform user key (tie order irrelevant: the
    sorted-sequence difference multiset is unique); m/S/Q exact
    BIGINT, variance cleared to m·Q−S², B = one exactly-rounded IEEE
    sqrt + fixed-order tail beside exact factors, NULL via integer
    CASE under 2 gaps or all-zero gaps. Oracle: the INDEPENDENT
    rn=rn'+1 self-join plan (no lag window)."""
    from core_spark.operators.burstiness import burstiness

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id AS key", f"{_BU_T} AS t")
    return burstiness(ev)


def _sql_crawl_burstiness() -> str:
    from core_spark.operators.burstiness import sql_burstiness

    return sql_burstiness(
        f"SELECT user_id AS key, {_BU_T} AS t FROM events")


def q_user_streaks(spark, sf_dir):
    """Longest activity streak (operators/streaks.py): per user, the
    longest unbroken run of active days over the month — the
    continuity metric crawl-ops dashboards key on (how long has this
    host been continuously reachable / this user continuously
    active). Gaps-and-islands via the day − dense_rank constant-
    difference trick (staypoints' calendar-grain sibling): ONE
    distinct on the uniform (key, day) grain eats raw volume, windows
    at the distinct-day grain only, ALL-INTEGER end to end (no
    doubles anywhere), tie-break longest-then-earliest on BIGINTs.
    Oracle: the INDEPENDENT lag-flag cumulative-sum island plan +
    QUALIFY selection."""
    from core_spark.operators.streaks import longest_streaks

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id AS key", "EXTRACT(DAY FROM ts) AS day")
    return longest_streaks(ev)


def _sql_user_streaks() -> str:
    from core_spark.operators.streaks import sql_longest_streaks

    return sql_longest_streaks(
        "SELECT user_id AS key, EXTRACT(DAY FROM ts) AS day FROM events")


_FN_STEPS = ("view", "click", "purchase")


def q_funnel(spark, sf_dir):
    """Strict-order funnel (operators/funnel.py): how many users
    view THEN click THEN purchase (strictly increasing ticks — equal
    ticks do not chain) — the product-analytics staple over the
    events stream. Greedy earliest-match is provably optimal for
    reachability (exchange argument), so ONE ordered within-row
    linear fold per user decides the whole funnel (lambda volume =
    events-per-user, the LINEAR case HOFs are right for — unlike the
    O(m²) kendall core); raw stream filtered to step labels map-side
    BEFORE the collect; counts exact BIGINT, conversion ONE trailing
    IEEE division. Oracle: the INDEPENDENT chained-CTE plan (one
    min-after-t CTE per step, no arrays)."""
    from core_spark.operators.funnel import funnel

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id AS key", f"{_BU_T} AS t", "event_type AS label")
    return funnel(ev, _FN_STEPS)


def _sql_funnel() -> str:
    from core_spark.operators.funnel import sql_funnel

    return sql_funnel(
        f"SELECT user_id AS key, {_BU_T} AS t, event_type AS label"
        " FROM events",
        _FN_STEPS,
    )


def q_kanon_audit(spark, sf_dir):
    """k-anonymity audit (operators/kanonymity.py): under the
    (lang, length-decile, ruler-host-class) quasi-identifier tuple,
    how much of the corpus sits in equivalence classes below k=10 —
    the INDIRECT re-identification surface a release review gates on
    after pii.py strips direct identifiers. ONE hash-agg on the
    uniform quasi tuple + ONE 1-row conditional re-agg; all counts
    exact BIGINT, risk_share the single trailing IEEE division; NULL
    quasi values form their own class (dropping them would
    understate risk). Oracle: the INDEPENDENT count-of-counts
    frequency-of-frequencies plan."""
    from core_spark.operators.kanonymity import k_anonymity

    rows = _docs(spark, sf_dir, wide=False).selectExpr(
        "lang",
        "LENGTH(text) DIV 10 AS lbucket",
        "CASE WHEN doc_id % 2 = 1 THEN 'mega' ELSE 'tail' END AS hclass",
    )
    return k_anonymity(rows, ("lang", "lbucket", "hclass"), 10)


def _sql_kanon_audit() -> str:
    from core_spark.operators.kanonymity import sql_k_anonymity

    rows = (
        "SELECT lang, LENGTH(text) DIV 10 AS lbucket,"
        " CASE WHEN doc_id % 2 = 1 THEN 'mega' ELSE 'tail' END AS hclass"
        " FROM documents"
    ).replace(" DIV ", " // ")
    return sql_k_anonymity(rows, ("lang", "lbucket", "hclass"), 10)


# Cohort fixture: stagger user onboarding deterministically (drop
# each user's events before day user_id % 20) so weekly cohorts 0..4
# all exist; retention then decays as later weeks thin out.
_CO_ROWS = (
    "SELECT user_id AS key,"
    " (EXTRACT(DAY FROM ts) - 1) DIV 7 AS period"
    " FROM events WHERE EXTRACT(DAY FROM ts) > user_id % 20"
)


def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix (operators/cohorts.py): of the users
    first active in week W, how many were still active k weeks later
    — the decay curve recrawl scheduling and capacity planning key on
    (cohort = first-seen period, age = periods since). ONE distinct
    on the uniform (user, period) grain eats raw volume, cohort via
    ONE min hash-agg + ONE uniform equi join (never a window over
    events), cell counts exact BIGINT, retention ONE trailing IEEE
    division; age-0 rows are the retention-1.0 verification arm,
    empty cells ABSENT (sparse semantics). Oracle: the INDEPENDENT
    min-window plan (window semantics instead of join semantics)."""
    from core_spark.operators.cohorts import cohort_retention

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id", "ts").selectExpr(
        "user_id AS key",
        "(EXTRACT(DAY FROM ts) - 1) DIV 7 AS period",
        "EXTRACT(DAY FROM ts) > user_id % 20 AS _keep",
    ).where("_keep").select("key", "period")
    return cohort_retention(ev)


def _sql_cohort_retention() -> str:
    from core_spark.operators.cohorts import sql_cohort_retention

    return sql_cohort_retention(_CO_ROWS.replace(" DIV ", " // "))


def q_ldiv_audit(spark, sf_dir):
    """l-diversity audit (operators/kanonymity.py::l_diversity,
    Machanavajjhala 2007): the attribute-leak complement of
    kanon_audit — a class can be k-anonymous yet expose its sensitive
    column when it takes < l distinct values there. Quasi =
    (lang, ruler-host-class), sensitive = length decile, l=3.
    Two-level distinct plan (ONE distinct on the uniform
    (quasi, sensitive) grain — never a memory-heavy COUNT(DISTINCT)
    agg at scale — re-aggregated to per-class diversity + a parallel
    row-count hash-agg joined on the same uniform tuple); NULL
    sensitive counts as a value on both engines. Oracle: the
    INDEPENDENT one-pass COUNT(DISTINCT)+NULL-presence plan."""
    from core_spark.operators.kanonymity import l_diversity

    rows = _docs(spark, sf_dir, wide=False).selectExpr(
        "lang",
        "CASE WHEN doc_id % 2 = 1 THEN 'mega' ELSE 'tail' END AS hclass",
        "LENGTH(text) DIV 10 AS sens",
    )
    return l_diversity(rows, ("lang", "hclass"), "sens", 3)


def _sql_ldiv_audit() -> str:
    from core_spark.operators.kanonymity import sql_l_diversity

    rows = (
        "SELECT lang,"
        " CASE WHEN doc_id % 2 = 1 THEN 'mega' ELSE 'tail' END AS hclass,"
        " LENGTH(text) DIV 10 AS sens FROM documents"
    ).replace(" DIV ", " // ")
    return sql_l_diversity(rows, ("lang", "hclass"), "sens", 3)


_XC_LAGS = (-24, -1, 0, 1, 24)


def q_click_leads_purchase(spark, sf_dir):
    """Cross-correlation (operators/xcorr.py): does the hourly CLICK
    volume lead the hourly PURCHASE volume — the lead-lag screen of
    transfer-function modeling, the two-series generalization of
    volume_acf, at lags ±1 and ±24 plus the contemporaneous 0. Five
    exact-BIGINT aggregates per lag from ONE hash-agg over the
    matched-bucket join (a-side exploded once per lag into ONE
    uniform equi join); the Pearson combination deliberately crosses
    to a FIXED-ORDER IEEE double tail (m·Sxx exceeds int64 long
    before the inputs are big — unlike acf's deviation form), exact
    factors emitted beside it; NULL via double-zero comparisons on
    constant support or m<2. Oracle: the INDEPENDENT one-self-join-
    per-lag UNION ALL plan."""
    from core_spark.operators.xcorr import cross_correlation

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_type AS key", f"{_ACF_T} AS t", "1 AS x")
    return cross_correlation(ev, "click", "purchase", _XC_LAGS)


def _sql_click_leads_purchase() -> str:
    from core_spark.operators.xcorr import sql_cross_correlation

    return sql_cross_correlation(
        f"SELECT event_type AS key, {_ACF_T} AS t, 1 AS x FROM events",
        "click", "purchase", _XC_LAGS,
    )


# geo_report capstone: one (metric, qualifier, num, den, value) row
# per global statistic — num/den carry each metric's OWN exact
# factors (documented per arm), value its trailing double.
_GR_ARMS = (
    ("quadrat_vmr", "0", "num", "den", "vmr"),
    ("ripley_khat", "bin", "cum_pairs", "n_points", "khat"),
    ("knox_ratio", "0", "n_st", "n0", "knox_ratio"),
    ("host_gini", "0", "num", "den", "gini"),
    ("link_assortativity", "0", "num", "den", "assortativity"),
)
_GR_PROJ = (
    "'{m}' AS metric", "CAST({q} AS BIGINT) AS qualifier",
    "CAST({n} AS BIGINT) AS num", "CAST({d} AS BIGINT) AS den",
    "{v} AS value",
)


def q_geo_report(spark, sf_dir):
    """Geo-audit report capstone: the five global statistics a
    spatial corpus review opens with — quadrat VMR (first-order
    screen), Ripley K per annulus (second-order), Knox space-time
    interaction, host Gini concentration, link assortativity — as
    ONE (metric, qualifier, num, den, value) table, each row carrying
    its own exact BIGINT factors beside the trailing double. The
    CHAIN is what this query gates (the corpus_refinery precedent):
    every component is the standalone audited operator, and the
    oracle is the UNION ALL of the component oracles under the same
    projection."""
    base = {
        "quadrat_vmr": q_quadrat,
        "ripley_khat": q_ripley,
        "knox_ratio": q_knox,
        "host_gini": q_host_gini,
        "link_assortativity": q_link_assortativity,
    }
    out = None
    for m, q, n, d, v in _GR_ARMS:
        part = base[m](spark, sf_dir).selectExpr(
            *[s.format(m=m, q=q, n=n, d=d, v=v) for s in _GR_PROJ])
        out = part if out is None else out.union(part)
    return out


def _sql_geo_report() -> str:
    oracles = {
        "quadrat_vmr": _sql_quadrat(),
        "ripley_khat": _sql_ripley(),
        "knox_ratio": _sql_knox(),
        "host_gini": _sql_host_gini(),
        "link_assortativity": _sql_link_assortativity(),
    }
    parts = [
        "SELECT "
        + ", ".join(s.format(m=m, q=q, n=n, d=d, v=v) for s in _GR_PROJ)
        + f" FROM ({oracles[m]}) sub_{m}"
        for m, q, n, d, v in _GR_ARMS
    ]
    return "\nUNION ALL\n".join(parts)


# WARC fixture: each doc becomes one response record (HTTP preamble +
# text payload; corpus verified ASCII and 'WARC/'-free, so byte length
# = char length and resync cannot land inside a payload), 10 records
# per file in doc_id order; every 37th doc gets a corrupted
# Content-Length -> the error-as-data + salvaged-URI + resync arm.
_WC_CRLF = "chr(13), chr(10)"
_WC_BAD = "doc_id % 37 = 0"
_WC_URI = "'http://h', CAST(doc_id % 7 AS STRING), '.example/doc/', CAST(doc_id AS STRING)"
_WC_PAYLOAD = (
    f"concat('HTTP/1.1 200 OK', {_WC_CRLF}, {_WC_CRLF}, text)"
)
_WC_REC = (
    "concat("
    f"'WARC/1.0', {_WC_CRLF},"
    f"'WARC-Type: response', {_WC_CRLF},"
    f"'WARC-Record-ID: <urn:doc:', CAST(doc_id AS STRING), '>', {_WC_CRLF},"
    f"'WARC-Target-URI: ', {_WC_URI}, {_WC_CRLF},"
    f"'Content-Length: ', CASE WHEN {_WC_BAD} THEN 'XX'"
    f" ELSE CAST(LENGTH({_WC_PAYLOAD}) AS STRING) END, {_WC_CRLF},"
    f"{_WC_CRLF}, {_WC_PAYLOAD}, {_WC_CRLF}, {_WC_CRLF})"
)


def q_warc_scan(spark, sf_dir):
    """WARC archive scan (sources/warc.py): build per-file WARC blobs
    IN SQL from the doc generation rules (10 records/file, a
    corrupted Content-Length every 37th doc), then parse them back
    through the from-scratch ISO 28500 reader — ONE Arrow-batched
    mapInPandas stage, Content-Length-authoritative skip (payload
    bytes can't desync well-formed records), error-as-data rows with
    salvaged URIs and deterministic resync. The oracle NEVER parses:
    DuckDB emits the EXPECTED record rows straight from the same
    generation rules (the inventory oracle trick), gating version/
    header/length/md5/resync behavior end to end; md5 is the
    engine-portable digest."""
    from pyspark.sql import functions as F

    from core_spark.sources.warc import scan_warc

    blobs = (
        _docs(spark, sf_dir).selectExpr(
            "doc_id DIV 10 AS file_id",
            "doc_id",
            f"{_WC_REC} AS rec",
        )
        .groupBy("file_id")
        .agg(F.expr(
            "array_join(transform(sort_array(collect_list("
            "struct(doc_id, rec))), s -> s.rec), '') AS warc"))
    )
    return scan_warc(blobs, blob_col="warc", keep_cols=("file_id",))


def _sql_warc_scan() -> str:
    bad = _WC_BAD
    payload = _WC_PAYLOAD
    return f"""
        SELECT doc_id // 10 AS file_id,
               CAST(row_number() OVER (PARTITION BY doc_id // 10
                                       ORDER BY doc_id) - 1 AS INT)
                 AS rec_index,
               'response' AS warc_type,
               concat({_WC_URI}) AS target_uri,
               CASE WHEN {bad} THEN NULL
                    ELSE CAST(LENGTH({payload}) AS BIGINT)
               END AS content_length,
               CASE WHEN {bad} THEN NULL ELSE md5({payload})
               END AS payload_md5,
               CASE WHEN {bad} THEN 'bad-content-length'
               END AS parse_error
        FROM documents
    """


def q_langid_eval(spark, sf_dir):
    """Classifier evaluation capstone (operators/confusion.py):
    the langid heuristic audited against the lang label as a
    confusion matrix with per-cell precision/recall contributions —
    evaluation as a first-class oracle-gated query (diagonal rows =
    class recall/precision, off-diagonal rows NAME which confusion
    costs what). Composes the audited text_langid stepwise kernel;
    cell and marginal counts exact BIGINT (ONE hash-agg + two
    broadcast marginal joins), contributions single trailing IEEE
    divisions. Oracle: sql_lang_id's portable CASE expression feeding
    the INDEPENDENT window-marginal twin."""
    from core_spark.operators.confusion import confusion_matrix

    preds = hx.apply_steps(
        _docs(spark, sf_dir, wide=False).select("doc_id", "lang", "text"),
        ts.lang_id_steps("text"),
    ).select("lang", "lang_pred")
    return confusion_matrix(preds, "lang", "lang_pred")


def _sql_langid_eval() -> str:
    from core_spark.operators.confusion import sql_confusion_matrix

    pairs = (
        f"SELECT lang AS truth, {ts.sql_lang_id('text')} AS pred"
        " FROM documents"
    )
    return sql_confusion_matrix(pairs)


def q_robust_host_score(spark, sf_dir):
    """Exact trimmed mean (operators/trimmed.py): per language, the
    doc-length center with the 25 most extreme documents dropped from
    each side — the robust LEVEL summary that survives spam outliers
    without the median's information loss (theil_sen robustifies
    slopes; this robustifies levels). Rows never rank individually:
    kept-mass per value block via pure BIGINT interval arithmetic at
    the tie-collapsed value grain (the gini recipe), deterministic
    even when ties straddle a cut; trimmed_sum exact, mean ONE
    trailing IEEE division; n ≤ 2k keys ABSENT. Oracle: the
    INDEPENDENT literal row_number row-grain plan."""
    from core_spark.operators.trimmed import trimmed_mean

    rows = _docs(spark, sf_dir, wide=False).selectExpr(
        "lang AS key", "LENGTH(text) AS value")
    return trimmed_mean(rows, 25)


def _sql_robust_host_score() -> str:
    from core_spark.operators.trimmed import sql_trimmed_mean

    return sql_trimmed_mean(
        "SELECT lang AS key, LENGTH(text) AS value FROM documents", 25)


# Directed-graph fixture for the structural-hygiene pair: a forward
# ring (one edge per node), a 1/3-reciprocated backward arm + chords,
# and a mega-hub fanning out to doc_id % 500 (self-loop included when
# the fan hits 100) — handshakes, citations, a heavy tail and the
# excluded-self-loop arm all live.
_RC_I = "(doc_id % 60)"
_RC_SRC = (
    f"CASE doc_id % 3 WHEN 0 THEN {_RC_I}"
    f" WHEN 1 THEN CASE WHEN {_RC_I} % 3 = 0"
    f" THEN ({_RC_I} + 1) % 60 ELSE {_RC_I} END"
    " ELSE 100 END"
)
_RC_DST = (
    f"CASE doc_id % 3 WHEN 0 THEN ({_RC_I} + 1) % 60"
    f" WHEN 1 THEN CASE WHEN {_RC_I} % 3 = 0"
    f" THEN {_RC_I} ELSE ({_RC_I} + 7) % 60 END"
    " ELSE doc_id % 500 END"
)


def q_link_reciprocity(spark, sf_dir):
    """Directed reciprocity (operators/reciprocity.py): the share of
    distinct directed edges whose reverse exists — citations vs
    handshakes; link-exchange / mirror rings detected STRUCTURALLY
    (mirrors.py finds the same shape by content). Distinct edge set
    pinned once; membership via ONE left-semi self-join on the
    swapped key (never a full join); self-loops counted apart and
    excluded from the ratio; counts exact BIGINT, ratio ONE trailing
    IEEE division. Oracle: the INDEPENDENT EXISTS-predicate plan."""
    from core_spark.operators.reciprocity import reciprocity

    links = _docs(spark, sf_dir, wide=False).selectExpr(
        f"{_RC_SRC} AS src", f"{_RC_DST} AS dst")
    return reciprocity(links)


def _sql_link_reciprocity() -> str:
    from core_spark.operators.reciprocity import sql_reciprocity

    return sql_reciprocity(
        f"SELECT {_RC_SRC} AS src, {_RC_DST} AS dst FROM documents")


def q_degree_tail(spark, sf_dir):
    """Out-degree CCDF at powers of two (operators/reciprocity.py):
    #hosts with degree ≥ 2^j — the LOG-FREE heavy-tail diagnostic
    (doubling thresholds ARE the log axis; a power law reads as a
    near-constant ratio between consecutive exact counts — no float
    fit ever enters the engine). Degrees from ONE hash-agg over the
    distinct non-self edge set; thresholds from a JVM-side
    spark.range crossed with the tie-collapsed degree-count grain
    (gini's trick — never the node table). Oracle: the INDEPENDENT
    direct degree≥threshold join on generate_series."""
    from core_spark.operators.reciprocity import degree_ccdf

    links = _docs(spark, sf_dir, wide=False).selectExpr(
        f"{_RC_SRC} AS src", f"{_RC_DST} AS dst")
    return degree_ccdf(links, 10)


def _sql_degree_tail() -> str:
    from core_spark.operators.reciprocity import sql_degree_ccdf

    return sql_degree_ccdf(
        f"SELECT {_RC_SRC} AS src, {_RC_DST} AS dst FROM documents", 10)


# Survival fixture: every real user is active through day 30, so
# churn is planted — each user goes quiet after a staggered horizon
# 10 + user_id % 20; duration = last active day within the horizon,
# and durations landing in the final 3 days are CENSORED (the window
# closed while they were alive) — the truncation that makes a naive
# mean lifetime wrong and KM right. Stratified into 3 user cohorts.
_SV_ROWS = (
    "SELECT CAST(user_id % 3 AS STRING) AS key, duration,"
    " CASE WHEN duration <= 27 THEN 1 ELSE 0 END AS event"
    " FROM (SELECT user_id,"
    "   MAX(CASE WHEN EXTRACT(DAY FROM ts) <= 10 + user_id % 20"
    "       THEN EXTRACT(DAY FROM ts) END) AS duration"
    "   FROM events WHERE user_id IS NOT NULL GROUP BY user_id) u"
    " WHERE duration IS NOT NULL"
)


def q_user_survival(spark, sf_dir):
    """Kaplan-Meier survival (operators/survival.py): per user
    cohort, the censoring-aware churn curve — subjects last seen in
    the final 3 days are censored, the truncation that makes a naive
    mean lifetime WRONG and the product-limit estimator right.
    d/c/n exact BIGINT with n in closed form at the tie-collapsed
    duration grain; the survival product multiplies STRICTLY
    left-to-right on both engines (Spark per-prefix within-row fold,
    DuckDB recursive CTE — never a windowed product aggregate, whose
    segment-tree order is unspecified), identical factor text →
    bit-identical curves. Oracle: that INDEPENDENT correlated-join +
    recursive-CTE plan."""
    from pyspark.sql import functions as F

    from core_spark.operators.survival import kaplan_meier

    subj = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("user_id", "EXTRACT(DAY FROM ts) AS d")
        .where("user_id IS NOT NULL")
        .groupBy("user_id")
        .agg(F.expr(
            "MAX(CASE WHEN d <= 10 + user_id % 20 THEN d END)"
        ).alias("duration"))
        .where("duration IS NOT NULL")
        .selectExpr(
            "CAST(user_id % 3 AS STRING) AS key", "duration",
            "CASE WHEN duration <= 27 THEN 1 ELSE 0 END AS event")
    )
    return kaplan_meier(subj)


def _sql_user_survival() -> str:
    from core_spark.operators.survival import sql_kaplan_meier

    return sql_kaplan_meier(_SV_ROWS)


def q_length_drift(spark, sf_dir):
    """Total-variation drift (operators/drift.py): how far apart are
    the mega-host and long-tail length-decile histograms — the
    log-free PSI for corpus monitoring (TV bounds every event-
    probability difference, the guarantee a drift alarm actually
    wants; quality_shift asks IS the distribution different, this
    reports HOW FAR in a metric). Cross-multiplied numerator
    Σ|a_b·N_b − b_b·N_a| EXACT BIGINT (order-free), den one exact
    product, tv ONE trailing IEEE division; one-sided buckets
    contribute their full mass. ONE uniform bucket hash-agg + 1-row
    re-aggs. Oracle: the INDEPENDENT two-histogram FULL-OUTER plan."""
    from core_spark.operators.drift import tv_distance

    rows = _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id % 2 = 1 AS is_a", "LENGTH(text) DIV 10 AS bucket")
    return tv_distance(rows)


def _sql_length_drift() -> str:
    from core_spark.operators.drift import sql_tv_distance

    return sql_tv_distance(
        "SELECT doc_id % 2 = 1 AS is_a, LENGTH(text) // 10 AS bucket"
        " FROM documents")


def _sql_hausdorff() -> str:
    from core_spark.operators.hausdorff import sql_hausdorff_join

    pts = (
        f"SELECT user_id AS tid, {_HSD_LAT} AS lat,"
        f" {_HSD_LON} AS lon FROM events"
    ).replace(" DIV ", " // ")
    return sql_hausdorff_join(pts, _HSD_T)


# Variogram fixture: digit-decomposed raster scan (the dbscan layout
# idea) — lat sweeps a 32-unit column on a 0.125 grid, lon advances one
# 0.125 step per completed column, so density stays ~64 pts/unit² at
# EVERY scale factor (pairs grow linearly with n, never quadratically)
# and all four lag bins under radius 1.0 are populated. Value = integer
# linear trend 2·(lat+lon) + doc_id%5 nugget noise: the classic rising
# gamma curve with a nonzero nugget. Exact binary fractions; BIGINT
# values. NOT the modular-lattice shape ((a·d)%m scaled): that set's
# minimum cross-position distance exceeds any small radius and only the
# collision bin survives (measured: 1 populated bin).
_VGM_LAT = "(doc_id % 256) * 0.125"
_VGM_LON = "((doc_id DIV 256) % 256) * 0.125"
_VGM_VAL = ("CAST((doc_id % 256) DIV 4 + ((doc_id DIV 256) % 256) DIV 4"
            " + doc_id % 5 AS BIGINT)")
_VGM_LAG, _VGM_BINS = 0.25, 4


# Link-prediction fixture (t = doc_id % 480, SF-invariant since every
# SF has >= 480 docs): ring+chord graph on hosts 0..59 (edges ±1, ±7 —
# degree 5 with the hub link), a portal hub 100 wired to ALL of 0..59
# (degree 60 — capped at max_center_degree=8, so its 1,770 pairs of
# hub-only evidence vanish and only structural ring/bipartite evidence
# survives), a complete-bipartite block 200..204 × 210..216 (degrees
# 7/5 — contrasting ra_fp weights), and a NULL-dst hygiene arm.
_LP_T = "(doc_id % 480)"
_LP_SRC = (
    f"CASE WHEN {_LP_T} < 60 THEN {_LP_T}"
    f" WHEN {_LP_T} < 120 THEN {_LP_T} - 60"
    f" WHEN {_LP_T} < 240 THEN 100"
    f" WHEN {_LP_T} < 360 THEN 200 + {_LP_T} % 5"
    f" ELSE ({_LP_T} - 360) % 60 END"
)
_LP_DST = (
    f"CASE WHEN {_LP_T} < 60 THEN ({_LP_T} + 1) % 60"
    f" WHEN {_LP_T} < 120 THEN ({_LP_T} - 60 + 7) % 60"
    f" WHEN {_LP_T} < 240 THEN ({_LP_T} - 120) % 60"
    f" WHEN {_LP_T} < 360 THEN 210 + {_LP_T} % 7"
    " ELSE NULL END"
)
_LP_CAP = 8


def q_link_predict(spark, sf_dir):
    """Neighborhood link prediction (operators/linkpred.py): common
    neighbors + fixed-point resource allocation + Jaccard for every
    non-adjacent host pair — related-site candidates / spam-ring
    inversion, the prediction flavor the graph family lacked. Hub
    centers above max_center_degree drop BEFORE wedging (covisit's
    Crandall inverse-crowd rule = the cap² skew bound; orientation
    can't help here, both wedge legs are needed). ra_fp = Σ (1e6 DIV
    deg) exact BIGINT, order-free; jaccard = ONE trailing IEEE chain
    beside exact factors. Oracle: the INDEPENDENT neighbor-list +
    list_intersect set-algebra plan."""
    from core_spark.operators.linkpred import link_predictions

    edges = _docs(spark, sf_dir, wide=False).selectExpr(
        f"{_LP_SRC} AS src", f"{_LP_DST} AS dst")
    return link_predictions(edges, _LP_CAP)


def _sql_link_predict() -> str:
    from core_spark.operators.linkpred import sql_link_predictions

    edges = f"SELECT {_LP_SRC} AS src, {_LP_DST} AS dst FROM documents"
    return sql_link_predictions(edges, _LP_CAP)


def q_variogram(spark, sf_dir):
    """Empirical semivariogram (operators/variogram.py): Matheron's
    gamma(h) per distance bin — spatial autocorrelation diagnostics
    over geoparsed origins. Composes the audited epsilon-grid pair
    kernel (range_join_pairs: ×9 replication, ONE equi shuffle, exact
    integer dist_sq_micro) with radius = lag·n_bins, attaches BIGINT
    values via two uniform hash joins, bins by one exactly-rounded
    IEEE sqrt (bit-agreed cross-engine, unlike forbidden trig), and
    aggregates EXACT integer squared-diff sums; gamma is the single
    trailing IEEE division riding beside its exact numerator. Oracle:
    the honest O(n²) cross join + the same binning text."""
    from core_spark.operators.variogram import variogram

    pts = _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id",
        f"{_VGM_LAT} AS lat",
        f"{_VGM_LON} AS lon",
        f"{_VGM_VAL} AS value",
    )
    return variogram(pts, _VGM_LAG, _VGM_BINS)


def _sql_variogram() -> str:
    from core_spark.operators.variogram import sql_variogram

    pts = (
        f"SELECT doc_id, {_VGM_LAT} AS lat, {_VGM_LON} AS lon,"
        f" {_VGM_VAL} AS value FROM documents"
    ).replace(" DIV ", " // ")
    return sql_variogram(pts, _VGM_LAG, _VGM_BINS)


def q_ripley(spark, sf_dir):
    """Ripley's K (operators/ripley.py): second-order point-pattern
    clustering vs CSR over the SAME digit-decomposed raster fixture
    the variogram uses (density scale-invariant, pairs linear in n) —
    variogram asks "does the VALUE cluster", Ripley asks "do the
    POSITIONS cluster". Composes the audited epsilon-grid pair kernel
    + ONE hash-agg to per-annulus EXACT BIGINT counts, densified
    against a JVM-side spark.range and cumulated by a window over the
    4-row bin table; khat = the single trailing IEEE division beside
    its exact factors, NULL under n<2 via integer CASE. Oracle: the
    honest O(n²) cross join + generate_series densification."""
    from core_spark.operators.ripley import ripley_k

    pts = _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id",
        f"{_VGM_LAT} AS lat",
        f"{_VGM_LON} AS lon",
    )
    return ripley_k(pts, _VGM_LAG, _VGM_BINS, area=1024.0)


def _sql_ripley() -> str:
    from core_spark.operators.ripley import sql_ripley_k

    pts = (
        f"SELECT doc_id, {_VGM_LAT} AS lat, {_VGM_LON} AS lon"
        " FROM documents"
    ).replace(" DIV ", " // ")
    return sql_ripley_k(pts, _VGM_LAG, _VGM_BINS, area=1024.0)


def q_robots_sitemaps(spark, sf_dir):
    """Sitemap discovery entry point (robots.robots_sitemap_urls):
    sitemaps.org designates robots.txt as the canonical place a site
    publishes its sitemap locations, so this is the edge BEFORE
    sitemap_parse in the crawl story. Arms: one plain directive after a
    group, an UPPERCASE directive with a trailing comment plus a second
    directive BEFORE any group (position-independence), an
    empty-valued directive (dropped), and a no-directive file (no
    rows). One line explode over the host-bounded directory."""
    from core_spark.operators.robots import robots_sitemap_urls

    robots = (
        _docs(spark, sf_dir, wide=False)
        .selectExpr("CAST(doc_id % 23 AS INT) AS t").distinct()
        .selectExpr(
            "t",
            "concat('s', CAST(t AS STRING), '.example.com') AS host",
            """CASE CAST(t % 4 AS INT)
              WHEN 0 THEN concat('User-agent: *\nDisallow: /x\n',
                'Sitemap: https://s', CAST(t AS STRING),
                '.example.com/sitemap.xml\n')
              WHEN 1 THEN concat('SITEMAP: https://s', CAST(t AS STRING),
                '.example.com/sm_a.xml  # primary\n',
                'User-agent: *\nAllow: /\n',
                'sitemap:https://s', CAST(t AS STRING),
                '.example.com/sm_b.xml\n')
              WHEN 2 THEN 'User-agent: *\nDisallow:\nSitemap:\n'
              ELSE '# no directives\nUser-agent: *\nDisallow: /y\n'
            END AS robots_txt""",
        )
    )
    return robots_sitemap_urls(robots).select("host", "sitemap_url")


def _sql_robots_sitemaps() -> str:
    """Expected rows straight from the generation rule (no parsing)."""
    return """
        WITH hosts AS (
          SELECT DISTINCT CAST(doc_id % 23 AS INT) AS t FROM documents
        )
        SELECT 's' || CAST(t AS VARCHAR) || '.example.com' AS host,
               'https://s' || CAST(t AS VARCHAR) ||
                 '.example.com/sitemap.xml' AS sitemap_url
        FROM hosts WHERE t % 4 = 0
        UNION ALL
        SELECT 's' || CAST(t AS VARCHAR) || '.example.com',
               'https://s' || CAST(t AS VARCHAR) || '.example.com/sm_' ||
                 sfx || '.xml'
        FROM hosts CROSS JOIN (VALUES ('a'), ('b')) s(sfx)
        WHERE t % 4 = 1
    """


GEOHASH_P = 7


def q_geohash_assign(spark, sf_dir):
    """Geohash cell ids (functions/geohash.py): the interchange lattice —
    base32 string cells most web geodata keys on, emitted as stepwise
    JVM SQL (32→64 spread cascade, multiplies for shifts, bit-identical
    both engines; pinned against the published 'ezs42'/'u4pruydqqvj'
    vectors AND an independent interval-halving reference model in
    pytest). The p=4 parent is literally substr(gh7, 1, 4) — the prefix
    property that makes geohash rollups free (no parent arithmetic; cf.
    tile_parent_rollup's aperture-7 math). Out-of-range/NULL coords
    yield NULL ids rather than clamping to a real cell."""
    from core_spark.functions.geohash import with_geohash

    return with_geohash(
        _points(spark, sf_dir, wide=False), precision=GEOHASH_P,
        out_col="gh7",
    ).selectExpr("doc_id", "gh7", "substr(gh7, 1, 4) AS gh4")


def _sql_geohash_assign() -> str:
    from core_spark.functions.geohash import geohash_steps

    steps = geohash_steps("lat", "lon", GEOHASH_P, "duckdb", "gh7")
    inner = f"({_POINTS_SQL})"
    for name, expr in steps:
        inner = f"(SELECT *, {expr} AS {name} FROM {inner})"
    return f"SELECT doc_id, gh7, substr(gh7, 1, 4) AS gh4 FROM {inner}"


def q_hilbert_assign(spark, sf_dir):
    """Hilbert layout keys (operators/hilbert.py): the locality upgrade
    over zorder — consecutive indices are ALWAYS grid neighbors
    (adjacency property pytest-asserted via the inverse walk), so file
    key ranges map to compact spatial blobs and min/max pruning stays
    tight in both axes (the Delta liquid-clustering story, from
    primitives). 16 rotate/flip levels as stepwise BIGINT columns —
    gray code as the polynomial 3rx+ry−2rxry (XOR tokens differ
    between engines), byte-identical emission, so the oracle gates the
    compiled expression itself (the geohash pattern)."""
    from core_spark.operators.hilbert import with_hilbert_key

    return with_hilbert_key(
        _points(spark, sf_dir, wide=False)
    ).selectExpr("doc_id", "hkey")


def _sql_hilbert_assign() -> str:
    from core_spark.operators.hilbert import hilbert_steps

    inner = f"({_POINTS_SQL})"
    for name, expr in hilbert_steps("lat", "lon", "duckdb"):
        inner = f"(SELECT *, {expr} AS {name} FROM {inner})"
    return f"SELECT doc_id, hkey FROM {inner}"


def q_polygon_area(spark, sf_dir):
    """Shoelace area + centroid (operators/polyarea.py) composed on the
    GeoJSON source: fixture Features → parse_geojson → within-row fold
    HOFs — no shuffle, no Python (plan-asserted in pytest). area2_abs
    subtracts holes by magnitude (winding-independent: GeoJSON's
    CCW/CW SHOULD is violated constantly in the wild); centroids are
    the outer ring's area centroid. Doubles are safe to compare here
    because fold HOFs are SEQUENTIAL on both engines (association
    order pinned — unlike a groupBy SUM), and the fixture coordinates
    make the arithmetic exact outright. The oracle derives every value
    closed-form from the square geometry (8h² areas, center
    centroids) — no shoelace anywhere in the SQL."""
    from core_spark.operators.polyarea import polygon_area
    from core_spark.sources.geojson import parse_geojson

    parsed = parse_geojson(_geojson_directory(spark, sf_dir)).filter(
        "rings IS NOT NULL"
    )
    return polygon_area(parsed).select(
        "src", "fid", "part_ix", "n_rings", "n_vertices",
        "area2_abs", "cx", "cy",
    )


def _sql_polygon_area() -> str:
    """Closed-form areas/centroids from the square generation rule."""
    return """
        WITH ts AS (
          SELECT DISTINCT CAST(doc_id % 19 AS INT) AS t FROM documents
        )
        SELECT 'g' || CAST(t AS VARCHAR) AS src,
               'f' || CAST(t AS VARCHAR) AS fid,
               CAST(0 AS BIGINT) AS part_ix,
               CAST(CASE WHEN t % 8 = 5 THEN 2 ELSE 1 END AS BIGINT)
                 AS n_rings,
               CAST(CASE WHEN t % 8 = 5 THEN 10 ELSE 5 END AS BIGINT)
                 AS n_vertices,
               CASE WHEN t % 8 = 5 THEN 1.5 ELSE 2.0 END AS area2_abs,
               t * 1.0 AS cx, t * 0.5 AS cy
        FROM ts WHERE t % 4 = 1 AND t NOT IN (3, 7, 11, 15)
        UNION ALL
        SELECT 'g' || CAST(t AS VARCHAR), 'f' || CAST(t AS VARCHAR),
               CAST(p.part_ix AS BIGINT), CAST(1 AS BIGINT),
               CAST(5 AS BIGINT),
               CASE WHEN p.part_ix = 0 THEN 2.0 ELSE 0.5 END,
               t * 1.0,
               CASE WHEN p.part_ix = 0 THEN 0.0 ELSE 3.0 END
        FROM ts CROSS JOIN (VALUES (0), (1)) p(part_ix)
        WHERE t % 4 = 2
    """


# Douglas-Peucker fixture: a 4x2 rectangle whose four edge midpoints are
# displaced INWARD by 0.25 or 0.75 (one bit of t each, all 16 combos
# exercised). At eps=0.5 the DP outcome is closed-form: the ring anchors
# at (0,0) and its farthest vertex (4,2) (displacements <= 0.75 keep the
# corner strictly farthest), each half's first farthest-from-chord pick
# is the remaining corner ((4,0): dist^2 64/20 = 3.2 > eps^2; (0,2)
# symmetric), after which every midpoint is tested against ITS OWN edge —
# so a midpoint survives iff its displacement > eps, i.e. iff its bit is
# set. Corners always survive. The oracle emits exactly that — no
# Douglas-Peucker anywhere in the SQL.
SIMPLIFY_EPS = 0.5


def _simplify_ring_sql(i: int) -> str:
    return f"(0.25D + 0.5D * CAST((t DIV {1 << i}) % 2 AS DOUBLE))"


def q_polygon_simplify(spark, sf_dir):
    """Douglas-Peucker ring simplification (operators/simplify.py): the
    vertex-budget reducer for survey-precision admin boundaries — every
    dropped vertex provably within eps of the simplified chain (segment-
    clamped, cross-multiplied exact survival; pytest pins the guarantee
    with a 100-example fuzz). ONE mapInArrow stage over the polygon
    DIRECTORY (never a point corpus); output exploded to per-vertex
    scalars so the driver compare never sees a nested array. All
    coordinates are exact binary fractions on both engines."""
    from pyspark.sql import functions as F

    from core_spark.operators.simplify import simplify_rings

    ts = (
        _docs(spark, sf_dir, wide=False)
        .selectExpr("CAST(doc_id % 17 AS INT) AS t").distinct()
    )
    d = _simplify_ring_sql
    ring = (
        f"array(array(0.0D, 0.0D), array(2.0D, {d(0)}),"
        f" array(4.0D, 0.0D), array(4.0D - {d(1)}, 1.0D),"
        f" array(4.0D, 2.0D), array(2.0D, 2.0D - {d(2)}),"
        f" array(0.0D, 2.0D), array({d(3)}, 1.0D),"
        f" array(0.0D, 0.0D))"
    )
    polys = ts.selectExpr(
        "CAST(t AS BIGINT) AS pid",
        f"CASE WHEN t = 16 THEN NULL ELSE array({ring}) END AS rings",
    )
    simp = simplify_rings(polys, SIMPLIFY_EPS)
    return (
        simp.select(
            "pid", "n_vertices_in", "n_vertices_out",
            F.posexplode_outer("rings").alias("ring_ix", "_ring"),
        )
        .select(
            "pid", "n_vertices_in", "n_vertices_out",
            F.col("ring_ix").cast("long").alias("ring_ix"),
            F.posexplode_outer("_ring").alias("vertex_ix", "_pt"),
        )
        .selectExpr(
            "pid", "n_vertices_in AS n_in", "n_vertices_out AS n_out",
            "ring_ix", "CAST(vertex_ix AS BIGINT) AS vertex_ix",
            "_pt[0] AS x", "_pt[1] AS y",
        )
    )


def _sql_polygon_simplify() -> str:
    """Closed-form DP survivors from the displacement-bit rule."""
    return """
        WITH ts AS (
          SELECT DISTINCT CAST(doc_id % 17 AS INT) AS t FROM documents
        ),
        bits AS (
          SELECT t, (t // 1) % 2 AS b0, (t // 2) % 2 AS b1,
                 (t // 4) % 2 AS b2, (t // 8) % 2 AS b3
          FROM ts WHERE t < 16
        ),
        tmpl(slot) AS (
          VALUES (0), (1), (2), (3), (4), (5), (6), (7), (8)
        ),
        surv AS (
          SELECT b.t, m.slot, b0 + b1 + b2 + b3 AS nbits,
            CASE m.slot
              WHEN 0 THEN 0.0 WHEN 1 THEN 2.0 WHEN 2 THEN 4.0
              WHEN 3 THEN 4.0 - (0.25 + 0.5 * b1) WHEN 4 THEN 4.0
              WHEN 5 THEN 2.0 WHEN 6 THEN 0.0
              WHEN 7 THEN 0.25 + 0.5 * b3 ELSE 0.0 END AS x,
            CASE m.slot
              WHEN 0 THEN 0.0 WHEN 1 THEN 0.25 + 0.5 * b0
              WHEN 2 THEN 0.0 WHEN 3 THEN 1.0 WHEN 4 THEN 2.0
              WHEN 5 THEN 2.0 - (0.25 + 0.5 * b2) WHEN 6 THEN 2.0
              WHEN 7 THEN 1.0 ELSE 0.0 END AS y
          FROM bits b CROSS JOIN tmpl m
          WHERE m.slot % 2 = 0
             OR (m.slot = 1 AND b0 = 1) OR (m.slot = 3 AND b1 = 1)
             OR (m.slot = 5 AND b2 = 1) OR (m.slot = 7 AND b3 = 1)
        )
        SELECT CAST(t AS BIGINT) AS pid, CAST(9 AS BIGINT) AS n_in,
               CAST(5 + nbits AS BIGINT) AS n_out,
               CAST(0 AS BIGINT) AS ring_ix,
               CAST(ROW_NUMBER() OVER (PARTITION BY t ORDER BY slot) - 1
                    AS BIGINT) AS vertex_ix,
               x, y
        FROM surv
        UNION ALL
        SELECT CAST(t AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE)
        FROM ts WHERE t = 16
    """


DBSCAN_EPS, DBSCAN_MIN_PTS = 1.5, 5
# Deterministic cluster geometry whose CLUSTER COUNT grows with the
# corpus while per-cluster membership stays bounded (8 ids per center),
# so the core/border/noise mix survives every scale factor (measured:
# 450/18/32 at 500 docs, 4545/171/284 at 5000): centers on a 29x29
# lattice spaced 6.0 apart, 2x0.4 jitter inside, every 11th doc
# displaced +1.9 lat (too sparse to be core, near enough to be border
# when its mates are), and the corpus-tail center holds <min_pts docs
# (pure noise). All coordinates are exact binary fractions.
DBSCAN_LAT = (
    "((doc_id DIV 8) % 29) * 6.0 + ((doc_id % 8) % 3) * 0.4"
    " + CASE WHEN doc_id % 11 = 0 THEN 1.9 ELSE 0.0 END"
)
DBSCAN_LON = "(((doc_id DIV 8) DIV 29) % 29) * 6.0 + ((doc_id % 8) DIV 3) * 0.4"


def q_dbscan(spark, sf_dir):
    """DBSCAN density clustering (operators/dbscan.py) — composed
    entirely from audited scale primitives: eps-neighbor pairs from the
    epsilon-grid range join (x9 replication, ONE equi shuffle, never a
    cartesian), core points from one degree hash-agg, clusters from the
    Kiveris large/small-star connected components (O(log n) pinned
    rounds), border points determinized to the MIN core-neighbor
    cluster (the parallel-DBSCAN convention; textbook first-reacher
    assignment is scan-order-dependent). The DuckDB oracle is a
    genuinely INDEPENDENT algorithm: brute-force O(n²) pairs + a
    recursive-CTE min-label closure instead of star contraction."""
    from core_spark.operators.dbscan import dbscan

    pts = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        f"{DBSCAN_LAT} AS lat",
        f"{DBSCAN_LON} AS lon",
    )
    return dbscan(pts, DBSCAN_EPS, DBSCAN_MIN_PTS)


def _sql_dbscan_q() -> str:
    from core_spark.operators.dbscan import sql_dbscan

    lat = DBSCAN_LAT.replace(" DIV ", " // ")
    lon = DBSCAN_LON.replace(" DIV ", " // ")
    return sql_dbscan(
        f"SELECT doc_id, {lat} AS lat, {lon} AS lon FROM documents",
        DBSCAN_EPS, DBSCAN_MIN_PTS,
    )


def _sitemap_directory(spark, sf_dir):
    """The shared 23-host sitemap fixture directory (generation rule
    documented on q_sitemap_parse); feeds the parse query AND the
    crawl_pipeline capstone."""
    from pyspark.sql import functions as F

    from core_spark.plans.materialize import pin

    hosts = pin(
        _docs(spark, sf_dir, wide=False)
        .selectExpr("CAST(doc_id % 23 AS INT) AS t").distinct()
    )
    urlsets = hosts.where("t % 5 <> 4").selectExpr(
        "concat('s', CAST(t AS STRING), '.example.com') AS host",
        "concat('https://s', CAST(t AS STRING),"
        " '.example.com/sitemap.xml') AS sitemap_url",
        """concat(
          '<?xml version="1.0"?>\n<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n',
          array_join(transform(sequence(0, t % 4), j -> concat(
            '<url><loc>https://s', CAST(t AS STRING), '.example.com/p',
            CAST(j AS STRING),
            CASE WHEN j = 2 THEN '?a=1&amp;b=2' ELSE '' END, '</loc>',
            CASE WHEN j % 2 = 0 THEN concat('<lastmod>2024-01-0',
              CAST((j % 7) + 1 AS STRING), '</lastmod>') ELSE '' END,
            CASE WHEN j % 3 = 0 THEN concat(
              '<changefreq>daily</changefreq><priority>0.',
              CAST(j % 10 AS STRING), '</priority>')
            WHEN j % 3 = 1 THEN '<changefreq>weekly</changefreq>'
            ELSE '' END,
            '</url>')), '\n'),
          '\n</urlset>') AS xml""",
    )
    indexes = hosts.where("t % 5 = 4").selectExpr(
        "concat('s', CAST(t AS STRING), '.example.com') AS host",
        "concat('https://s', CAST(t AS STRING),"
        " '.example.com/sitemap.xml') AS sitemap_url",
        """concat(
          '<?xml version="1.0"?>\n<sitemapindex>\n<sitemap><loc>https://s',
          CAST(t AS STRING), '.example.com/sm_0.xml</loc>',
          '<lastmod>2024-02-01</lastmod></sitemap>\n',
          '<sitemap><loc>https://s', CAST(t AS STRING),
          '.example.com/sm_1.xml</loc></sitemap>\n</sitemapindex>')
          AS xml""",
    )
    children = hosts.where("t % 5 = 4").selectExpr(
        "concat('s', CAST(t AS STRING), '.example.com') AS host",
        "concat('https://s', CAST(t AS STRING),"
        " '.example.com/sm_0.xml') AS sitemap_url",
        "concat('<urlset><url><loc>https://s', CAST(t AS STRING),"
        " '.example.com/c0</loc><lastmod>2024-03-0',"
        " CAST((t % 9) + 1 AS STRING),"
        " '</lastmod></url></urlset>') AS xml",
    )
    bad = spark.range(1).selectExpr(
        "'bad.example.com' AS host",
        "'https://bad.example.com/sitemap.xml' AS sitemap_url",
        "'<html>not a sitemap</html>' AS xml",
    )
    return urlsets.unionByName(indexes).unionByName(
        children).unionByName(bad)


def q_sitemap_parse(spark, sf_dir):
    """Sitemap-protocol parsing (operators/sitemaps.py): the discovery
    half of the crawl stack (robots_gate is the permission half). The
    fixture directory derives 23 hosts from the corpus: urlset hosts
    carry 1-4 <url> entries exercising every optional field plus the
    entity arm (&amp; in <loc> must decode), every 5th host is a
    sitemapindex whose first child IS in the directory (child_present=1)
    and whose second is referenced-but-unfetched (child_present=0 — the
    frontier's next fetch list), and one planted non-sitemap document
    survives as an error-as-data row. ONE dotall regex scan over the
    host-bounded directory + posexplode_outer + a broadcast
    child-presence join; the page corpus is never touched. The oracle
    derives the expected rows straight from the generation rule — no
    XML anywhere in the SQL."""
    from core_spark.operators.sitemaps import parse_sitemaps

    return parse_sitemaps(_sitemap_directory(spark, sf_dir))


# robots fixture for the crawl capstone: one policy per host residue —
# t%3=0 blocks the /p1 page, t%3=1 is deny-all-except-/p2 (longest-match
# allow must win), t%3=2 publishes no robots.txt (RFC default allow).
CRAWL_AGENT = "graftbot"


def q_crawl_pipeline(spark, sf_dir):
    """Crawl-stack capstone: sitemap DISCOVERY → robots PERMISSION →
    frontier SCHEDULE, composed end-to-end from the three audited
    operators. Page candidates are every urlset <loc> the sitemap
    fixture publishes (incl. the index hosts' child sitemaps and the
    entity-decoded query URL); the robots directory grants by host
    residue (deny-one / deny-all-except — longest-match allow fires /
    absent-file default); survivors get politeness slots with the
    sitemap <priority> driving the per-host fetch order (NULL → 0.0,
    explicit on BOTH engines — desc NULL ordering differs between
    them). The oracle never parses XML or robots text: the allowed set
    is closed-form from the two generation rules, and the schedule
    reuses the frontier emission twin over it."""
    from pyspark.sql import functions as F

    from core_spark.operators.frontier import schedule_frontier
    from core_spark.operators.robots import parse_robots, robots_decide
    from core_spark.operators.sitemaps import parse_sitemaps
    from core_spark.plans.materialize import pin

    parsed = parse_sitemaps(_sitemap_directory(spark, sf_dir))
    # pages feed robots_decide AND the carry-back join — pin once
    pages = pin(
        parsed.filter(
            "kind = 'urlset' AND loc IS NOT NULL"
        ).select("host", F.col("loc").alias("url"), "priority")
    )
    robots = (
        _docs(spark, sf_dir, wide=False)
        .selectExpr("CAST(doc_id % 23 AS INT) AS t").distinct()
        .where("t % 3 <> 2")
        .selectExpr(
            "concat('s', CAST(t AS STRING), '.example.com') AS host",
            "CASE WHEN t % 3 = 0 THEN"
            " 'User-agent: *\nDisallow: /p1\n'"
            " ELSE 'User-agent: *\nDisallow: /\nAllow: /p2\n' END"
            " AS robots_txt",
        )
    )
    verdicts = robots_decide(pages, parse_robots(robots), CRAWL_AGENT)
    allowed = (
        pages.join(verdicts, "url")
        .where("allowed")
        .select("host", "url", "priority")
    )
    sched = schedule_frontier(
        allowed, FRONTIER_WORKERS, FRONTIER_DELAY,
        priority_sql="coalesce(CAST(priority AS DOUBLE), 0.0)",
    )
    return sched.select("host", "url", "worker", "fetch_ix", "fetch_slot")


def _sql_crawl_pipeline() -> str:
    from core_spark.operators.frontier import sql_schedule_frontier

    # closed-form page candidates + priorities (sitemap generation rule)
    urls = """
        WITH hosts AS (
          SELECT DISTINCT CAST(doc_id % 23 AS INT) AS t FROM documents
        ),
        uentries AS (
          SELECT t, UNNEST(generate_series(0, t % 4)) AS j
          FROM hosts WHERE t % 5 <> 4
        ),
        pages AS (
          SELECT t, j,
                 's' || CAST(t AS VARCHAR) || '.example.com' AS host,
                 'https://s' || CAST(t AS VARCHAR) || '.example.com/p' ||
                   CAST(j AS VARCHAR) ||
                   CASE WHEN j = 2 THEN '?a=1&b=2' ELSE '' END AS url,
                 CASE WHEN j % 3 = 0 THEN '0.' || CAST(j % 10 AS VARCHAR)
                   END AS priority
          FROM uentries
          UNION ALL
          SELECT t, NULL,
                 's' || CAST(t AS VARCHAR) || '.example.com',
                 'https://s' || CAST(t AS VARCHAR) || '.example.com/c0',
                 NULL
          FROM hosts WHERE t % 5 = 4
        )
        SELECT host, url, priority FROM pages
        WHERE CASE
          WHEN t % 3 = 0 THEN j IS NULL OR j <> 1
          WHEN t % 3 = 1 THEN j = 2
          ELSE TRUE END
    """
    return sql_schedule_frontier(
        f"({urls})", FRONTIER_WORKERS, FRONTIER_DELAY,
        priority_sql="coalesce(CAST(priority AS DOUBLE), 0.0)",
        cols="host, url",
    )


def _sql_sitemap_parse() -> str:
    """Expected rows straight from the generation rule (no XML parsed)."""
    return """
        WITH hosts AS (
          SELECT DISTINCT CAST(doc_id % 23 AS INT) AS t FROM documents
        ),
        uentries AS (
          SELECT t, UNNEST(generate_series(0, t % 4)) AS j
          FROM hosts WHERE t % 5 <> 4
        )
        SELECT 's' || CAST(t AS VARCHAR) || '.example.com' AS host,
               'https://s' || CAST(t AS VARCHAR) ||
                 '.example.com/sitemap.xml' AS sitemap_url,
               'urlset' AS kind,
               CAST(j AS BIGINT) AS pos,
               'https://s' || CAST(t AS VARCHAR) || '.example.com/p' ||
                 CAST(j AS VARCHAR) ||
                 CASE WHEN j = 2 THEN '?a=1&b=2' ELSE '' END AS loc,
               CASE WHEN j % 2 = 0 THEN '2024-01-0' ||
                 CAST((j % 7) + 1 AS VARCHAR) END AS lastmod,
               CASE WHEN j % 3 = 0 THEN 'daily'
                    WHEN j % 3 = 1 THEN 'weekly' END AS changefreq,
               CASE WHEN j % 3 = 0 THEN '0.' || CAST(j % 10 AS VARCHAR)
                 END AS priority,
               CAST(NULL AS INT) AS child_present
        FROM uentries
        UNION ALL
        SELECT 's' || CAST(t AS VARCHAR) || '.example.com',
               'https://s' || CAST(t AS VARCHAR) ||
                 '.example.com/sitemap.xml',
               'sitemapindex', CAST(e.pos AS BIGINT),
               'https://s' || CAST(t AS VARCHAR) || '.example.com/sm_' ||
                 CAST(e.pos AS VARCHAR) || '.xml',
               CASE WHEN e.pos = 0 THEN '2024-02-01' END,
               NULL, NULL,
               CASE WHEN e.pos = 0 THEN 1 ELSE 0 END
        FROM hosts CROSS JOIN (VALUES (0), (1)) e(pos)
        WHERE t % 5 = 4
        UNION ALL
        SELECT 's' || CAST(t AS VARCHAR) || '.example.com',
               'https://s' || CAST(t AS VARCHAR) || '.example.com/sm_0.xml',
               'urlset', CAST(0 AS BIGINT),
               'https://s' || CAST(t AS VARCHAR) || '.example.com/c0',
               '2024-03-0' || CAST((t % 9) + 1 AS VARCHAR),
               NULL, NULL, CAST(NULL AS INT)
        FROM hosts WHERE t % 5 = 4
        UNION ALL
        SELECT 'bad.example.com', 'https://bad.example.com/sitemap.xml',
               'error', NULL, NULL, NULL, NULL, NULL, CAST(NULL AS INT)
    """


CMS_D, CMS_W = 4, 512
CMS_PROBES = ["h0", "h1", "h2", "h3", "h4", "h5", "tail0", "tail64",
              "absent"]


def q_cms_hosts(spark, sf_dir):
    """Count-Min sketch (operators/cmsketch.py): mergeable approximate
    per-item frequencies from d·w BIGINT counters — the one-pass,
    query-after-the-scan complement to frequent_hosts' exact two-pass
    plan (which needs its threshold up front and a second corpus scan).
    Build = within-row ×d explode + ONE hash-agg whose key space is
    bounded by d·w cells (map-side combine crushes each partition to
    ≤ d·w rows before the exchange); probing joins the 9-item probe
    directory against the BROADCAST counter table and takes a per-item
    MIN. Probes span the Zipf ruler hosts (h0 = half the corpus … h5 =
    1/64th), two singleton tail hosts, and an absent item; exact_cnt
    rides along at fixture scale (computed over the broadcast-semi-joined
    probe subset only) so the sketch's one-sided accuracy — est >= exact
    always — is VISIBLE in the gated rows. The oracle is the same
    construction in DuckDB, gating the full sketch state's estimates."""
    from pyspark.sql import functions as F

    from core_spark.operators.cmsketch import cms_counters, cms_estimate

    hosts = _docs(spark, sf_dir).selectExpr(
        f"{_ruler_host_sql('spark')} AS item"
    )
    probes = (
        spark.range(1)
        .select(F.explode(F.array(
            *[F.lit(p) for p in CMS_PROBES])).alias("item"))
    )
    est = cms_estimate(
        cms_counters(hosts, "item", d=CMS_D, w=CMS_W),
        probes, d=CMS_D, w=CMS_W,
    )
    exact = (
        hosts.join(F.broadcast(probes), "item", "left_semi")
        .groupBy("item").agg(F.count("*").alias("_cnt"))
    )
    return (
        est.join(exact, "item", "left")
        .selectExpr("item", "cms_est",
                    "CAST(coalesce(_cnt, 0) AS BIGINT) AS exact_cnt")
    )


def _sql_cms_hosts() -> str:
    from core_spark.operators.cmsketch import (
        sql_cms_counters, sql_cms_estimate,
    )

    hosts = f"SELECT {_ruler_host_sql('duckdb')} AS item FROM documents"
    probes = "SELECT * FROM (VALUES " + ", ".join(
        f"({p!r})" for p in CMS_PROBES
    ) + ") v(item)"
    counters = sql_cms_counters(f"({hosts})", "item", d=CMS_D, w=CMS_W)
    est = sql_cms_estimate(
        f"({counters})", f"({probes})", d=CMS_D, w=CMS_W)
    return f"""
        WITH est AS ({est}),
        exact AS (
          SELECT item, CAST(COUNT(*) AS BIGINT) AS _cnt
          FROM ({hosts})
          WHERE item IN (SELECT item FROM ({probes}) p)
          GROUP BY item
        )
        SELECT e.item AS item, e.cms_est,
               CAST(COALESCE(x._cnt, 0) AS BIGINT) AS exact_cnt
        FROM est e LEFT JOIN exact x USING (item)
    """


def q_frequent_hosts(spark, sf_dir):
    """Guaranteed-exact frequent items (operators/heavyhitters.py —
    Misra-Gries-family two-pass): per-Arrow-batch pigeonhole candidate
    summaries (no shuffle, complete by construction under ANY
    partitioning), then an exact recount whose hash-agg keys are
    bounded by the candidate set plus one NULL residual bucket — never
    the full item cardinality, which at web scale rivals the corpus.
    Threshold 1/20 over the Zipf ruler hosts: h0–h3 qualify (1/2 …
    1/16 of docs), h4 (1/32) and the singleton tail are correctly cut.
    Exact output = exact oracle (plain GROUP BY/HAVING)."""
    from core_spark.operators.heavyhitters import frequent_items

    hosts = _docs(spark, sf_dir).selectExpr(
        f"{_ruler_host_sql('spark')} AS item"
    )
    return frequent_items(hosts, "item", num=1, den=20)


BPE_MERGES = 4
# encode-side artifact: a fixed merge table (as a real tokenizer file
# would be). The third rule consumes the FIRST rule's output token, so
# table-order application is actually exercised; the oracle compares
# per-doc token count + md5 of the re-joined sequence.
BPE_ENCODE_MERGES = [
    ("a", "the"),
    ("hash", "join"),
    ("athe", "row"),
    ("scan", "scan"),
]


def q_bpe_encode(spark, sf_dir):
    """BPE encode side (operators/bpe.py::bpe_encode): a learned merge
    table applied in order, one leftmost-first fold per rule, the whole
    chain ONE nested-fold projection — zero joins, zero shuffles. The
    third fixture rule consumes the first rule's output token (order
    dependence), the fourth is a self-pair (no-remerge semantics)."""
    from core_spark.operators.bpe import bpe_encode

    docs = _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id", "filter(split(trim(text), ' '), x -> x != '') AS toks"
    )
    enc = bpe_encode(docs, BPE_ENCODE_MERGES)
    return enc.selectExpr(
        "doc_id",
        "CAST(size(toks) AS BIGINT) AS n_tokens",
        "md5(array_join(toks, ' ')) AS fp",
    )


def q_bpe_train(spark, sf_dir):
    """BPE tokenizer training (operators/bpe.py, Sennrich et al. 2016):
    N merge rounds as UNROLLED declarative plans — within-row adjacent-
    pair explode + uniform-key hash-agg, order-free 1-row argmax joined
    back as a broadcast (no collect anywhere), corpus-wide merge as a
    leftmost-first left fold (aggregate HOF; the string-replace trick
    is WRONG — shared delimiters — see the module docstring), one
    pin per round. Output = the learned merge table."""
    from core_spark.operators.bpe import bpe_train

    # wide=False: no md5/Python stage anywhere — per-round cost is job
    # latency, and narrow 1-task rounds beat 32-task pool rounds here
    docs = _docs(spark, sf_dir, wide=False).selectExpr(
        "filter(split(trim(text), ' '), x -> x != '') AS toks"
    )
    return bpe_train(docs, BPE_MERGES)


# Containment generation rule: families of 5 consecutive doc_ids share
# a BASE text (arm 0 = the full base); arms 1/2 are prefix slices of
# 15/30 tokens, arm 3 a mid slice (tokens 10..30), arm 4 the doc's own
# unrelated text. Slices' k-grams are subsets of the base's, so the
# fixture plants directed containment (1->0, 1->2, 2->0, 3->0, 3->2)
# that Jaccard at the same threshold would miss. The oracle is the
# INDEPENDENT brute-force all-pairs plan over the same generated table.
CONT_K, CONT_T = 3, 0.8


def q_containment_join(spark, sf_dir):
    """Asymmetric containment join (operators/containment.py): directed
    pairs with |A∩B|/|A| >= t over hashed word-k-grams — AllPairs
    prefix probe against a FULL posting index (no upper size bound:
    the quote/inclusion shape), positional + size filters, exact
    array_intersect verify. Postings pinned once for both join sides."""
    from pyspark.sql import functions as F

    from core_spark.operators.containment import containment_pairs

    # wide=True: the shingle+md5 pass is the cost center (the CLAUDE.md
    # asymmetry — narrow ran it on one task: 43s; wide: ~6s at sf0.1)
    d = _docs(spark, sf_dir).select("doc_id", "text")
    b = d.selectExpr("doc_id AS _bid", "text AS _btext")
    fam = d.withColumn("_bid", F.expr("doc_id - doc_id % 5")).join(
        F.broadcast(b), "_bid"
    )
    gen = fam.selectExpr(
        "doc_id",
        """CASE CAST(doc_id % 5 AS INT)
             WHEN 0 THEN text
             WHEN 1 THEN array_join(slice(split(trim(_btext), ' '), 1, 15), ' ')
             WHEN 2 THEN array_join(slice(split(trim(_btext), ' '), 1, 30), ' ')
             WHEN 3 THEN array_join(slice(split(trim(_btext), ' '), 10, 21), ' ')
             ELSE text
           END AS text""",
    )
    return containment_pairs(gen, k=CONT_K, threshold=CONT_T)


def _sql_containment_join() -> str:
    from core_spark.operators.containment import sql_containment_pairs

    gen = """(
        SELECT d.doc_id AS doc_id,
               CASE CAST(d.doc_id % 5 AS INT)
                 WHEN 0 THEN d.text
                 WHEN 1 THEN array_to_string(string_split(trim(b.text), ' ')[1:15], ' ')
                 WHEN 2 THEN array_to_string(string_split(trim(b.text), ' ')[1:30], ' ')
                 WHEN 3 THEN array_to_string(string_split(trim(b.text), ' ')[10:30], ' ')
                 ELSE d.text
               END AS text
        FROM documents d JOIN documents b ON b.doc_id = d.doc_id - d.doc_id % 5
    )"""
    return sql_containment_pairs(gen, k=CONT_K, threshold=CONT_T)


# Robots generation rule: hosts h1..h9 each get a robots.txt arm that
# exercises one grammar/decision branch (h0 has NO robots -> default
# allow); url paths cycle 8 arms so every rule measurably fires under
# agent=testbot. The DuckDB twin never parses robots text: expected
# decisions come straight off the (host arm x path arm) table.
ROBOTS_ARMS = {
    1: "User-agent: *\nDisallow: /private/",
    2: "User-agent: *\nDisallow: /\nAllow: /public/",
    3: "User-agent: testbot\nDisallow: /\n\nUser-agent: *\nAllow: /",
    4: "User-agent: *\nDisallow: /*.pdf$",
    # 5: empty-pattern rule is a no-op AND the empty testbot group still
    # EXCLUDES the * group (RFC 9309 §2.2.1) -> testbot allowed everywhere
    # despite *'s total ban. Oracle value TRUE catches both bug classes.
    5: "User-agent: testbot\nDisallow:\n\nUser-agent: *\nDisallow: /",
    6: "# banner\nUSER-AGENT: *  # inline\n  DISALLOW : /x\nCrawl-delay: 5",
    7: "Disallow: /\nUser-agent: *\nDisallow: /y",
    8: "User-agent: testbot\nUser-agent: otherbot\nDisallow: /y",
    9: "User-agent: *\nAllow: /t\nDisallow: /t",
}
ROBOTS_PATH_SQL = """
CASE CAST(doc_id % 8 AS INT)
  WHEN 0 THEN concat('/r', doc_id)
  WHEN 1 THEN concat('/private/a', doc_id)
  WHEN 2 THEN concat('/public/b', doc_id)
  WHEN 3 THEN concat('/x', doc_id)
  WHEN 4 THEN concat('/d', doc_id, '.pdf')
  WHEN 5 THEN concat('/pdfx', doc_id)
  WHEN 6 THEN concat('/y', doc_id)
  ELSE concat('/t', doc_id)
END
""".strip()


def q_robots_gate(spark, sf_dir):
    """robots.txt crawl gate (operators/robots.py, RFC 9309): parse the
    per-host robots directory into a rules table (group formation via
    one window over the DIRECTORY, pattern->regex translated once,
    rules-side), then decide every url under agent=testbot — one
    host-key equi-join + one (url)-keyed max(struct(len, allow))
    hash-agg; longest match wins, ties to allow, absent host/no match
    allowed. All JVM (plan-asserted no-Python)."""
    from pyspark.sql import functions as F

    from core_spark.operators.robots import parse_robots, robots_decide

    txt = F.lit(None).cast("string")
    for arm, body in reversed(ROBOTS_ARMS.items()):
        txt = F.when(F.col("id") == arm, F.lit(body)).otherwise(txt)
    robots = spark.range(1, 10).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example")).alias("host"),
        txt.alias("robots_txt"),
    )
    urls = _docs(spark, sf_dir, wide=False).selectExpr(
        "concat('https://h', CAST(doc_id % 10 AS STRING), '.example', "
        f"{ROBOTS_PATH_SQL}) AS url"
    )
    return robots_decide(urls, parse_robots(robots), "testbot")


def _sql_robots_gate() -> str:
    """Expected decisions for the robots arms — derived from the
    generation rule, never from parsing."""
    return f"""
        SELECT 'https://h' || CAST(doc_id % 10 AS VARCHAR) || '.example'
                 || {ROBOTS_PATH_SQL} AS url,
               CASE CAST(doc_id % 10 AS INT)
                 WHEN 0 THEN TRUE
                 WHEN 1 THEN doc_id % 8 <> 1
                 WHEN 2 THEN doc_id % 8 = 2
                 WHEN 3 THEN FALSE
                 WHEN 4 THEN doc_id % 8 <> 4
                 WHEN 5 THEN TRUE
                 WHEN 6 THEN doc_id % 8 <> 3
                 WHEN 7 THEN doc_id % 8 <> 6
                 WHEN 8 THEN doc_id % 8 <> 6
                 ELSE TRUE
               END AS allowed
        FROM documents
    """


# SCD2 snapshot generation rule: 120 urls, ~4 snapshots each at sf0.01,
# ts = doc_id (unique). Three fp arms so every interval semantic fires:
# url%3=0 alternates (A,B,A,B -> REAPPEARANCE opens new versions),
# url%3=1 changes once mid-history (consecutive-dup COLLAPSE),
# url%3=2 never changes (single open-ended interval).
SCD2_URLS = 120
SCD2_FP_SQL = (
    f"concat('f', CAST(CASE CAST((doc_id % {SCD2_URLS}) % 3 AS INT)"
    f" WHEN 0 THEN (doc_id DIV {SCD2_URLS}) % 2"
    f" WHEN 1 THEN doc_id DIV (2 * {SCD2_URLS})"
    f" ELSE 0 END AS STRING))"
)
SCD2_FP_DUCK = (
    f"'f' || CAST(CASE CAST((doc_id % {SCD2_URLS}) % 3 AS INT)"
    f" WHEN 0 THEN (doc_id // {SCD2_URLS}) % 2"
    f" WHEN 1 THEN doc_id // (2 * {SCD2_URLS})"
    f" ELSE 0 END AS VARCHAR)"
)


def q_url_history(spark, sf_dir):
    """SCD2 crawl-history intervals (operators/history.py): recrawl
    snapshots -> one row per (url, content version) with
    [valid_from, valid_to) and a 1-based version ordinal. Consecutive
    same-fp recrawls collapse, reappearing fps open NEW versions
    (linear history), last version open-ended. All four per-url steps
    share hash(url) clustering: ONE Exchange, plan-asserted."""
    from core_spark.operators.history import scd2_intervals

    snaps = _docs(spark, sf_dir, wide=False).selectExpr(
        f"concat('https://s', CAST(doc_id % {SCD2_URLS} AS STRING), "
        f"'.example/p') AS url",
        "doc_id AS warc_ts",
        f"{SCD2_FP_SQL} AS fp",
    )
    return scd2_intervals(snaps)


def q_quantile_sketch(spark, sf_dir):
    """Mergeable log-bucket quantile sketch (operators/qsketch.py): the
    at-scale complement to group_quantiles' exact ranks — <=256 buckets
    per group EVER (4 sub-buckets per octave), merge = count addition
    under any partitioning (pinned 1/7/32-way), estimates within 25%
    relative (pytest-pinned bound), everything BIGINT so the estimate
    is bit-identical cross-engine (unlike approx_percentile). Per-lang
    p50/p90/p99 of the doc token count."""
    from core_spark.operators.qsketch import group_quantile_sketch

    return group_quantile_sketch(
        _docs(spark, sf_dir, wide=False),
        "lang",
        "size(split(trim(text), ' '))",
    )


# Anchor generation rule: eight arms cover the anchor-extraction spec's
# branch space — multi-word anchor with punctuation splitting, uppercase
# tag + single quotes, unquoted href, empty anchor behind www+port
# noise, relative/mailto rejection, the documented nested-markup drop,
# and a two-link document (zip alignment + a second host). The DuckDB
# twin never parses HTML: it derives the EXPECTED (dst_host, term)
# pairs straight from the arms (generation-rule oracle).
ANCHOR_WORD_SQL = "concat('w', CAST(doc_id % 5 AS STRING))"
ANCHOR_HTML_SQL = """
CASE CAST(doc_id % 8 AS INT)
  WHEN 0 THEN '<p>no links</p>'
  WHEN 1 THEN '<a href="https://' || _dst || '/p">Visit ' || _w || ' Site</a>'
  WHEN 2 THEN '<A HREF=''https://' || _dst || '/''>READ-MORE!</A>'
  WHEN 3 THEN '<a class=c href=https://' || _dst || '/x>' || _w || '</a>'
  WHEN 4 THEN '<a href="https://WWW.' || _dst || ':443/n"></a>'
  WHEN 5 THEN '<a href="/rel">skip</a><a href="mailto:x@y">skip</a>'
  WHEN 6 THEN '<a href="https://' || _dst || '/a"><b>nested</b></a>'
  ELSE '<a href="https://' || _dst || '/a">' || _w || ' again</a>' ||
       '<a href="http://other.' || _dst || '/b">' || _w || '</a>'
END
""".strip()
ANCHOR_K = 3


def q_anchor_topk(spark, sf_dir):
    """Anchor-text rollup (functions/weblinks.py::anchor_topk): pull
    (href, direct anchor text) pairs off real markup with one
    two-group regex (arrays align match-for-match), canonicalize the
    target host, tokenize anchors, and keep the top-k terms per TARGET
    host — the classic what-the-web-calls-this-page signal. Explode
    emits only (dst_host, term); one uniform-key hash-agg; the per-host
    top-k is a WindowGroupLimit rank window."""
    from core_spark.functions.weblinks import anchor_topk, with_anchors

    df = (
        _docs(spark, sf_dir, wide=False)
        .selectExpr(
            "doc_id",
            f"{OUTLINK_DST_SQL} AS _dst",
            f"{ANCHOR_WORD_SQL} AS _w",
        )
        .selectExpr(f"{ANCHOR_HTML_SQL} AS html_str")
    )
    return anchor_topk(with_anchors(df), k=ANCHOR_K)


def _sql_anchor_topk() -> str:
    """Expected (dst_host, term) derivation for the ANCHOR_HTML_SQL arms
    — an independent plan that never parses HTML."""
    return f"""
        WITH gen AS (
          SELECT doc_id,
                 'h' || CAST(doc_id % 23 AS VARCHAR) || '.example' AS _dst,
                 'w' || CAST(doc_id % 5 AS VARCHAR) AS _w
          FROM documents
        ), pairs AS (
          SELECT unnest(ps) AS p FROM (
            SELECT CASE CAST(doc_id % 8 AS INT)
              WHEN 1 THEN [{{'h': _dst, 't': 'visit'}},
                           {{'h': _dst, 't': _w}},
                           {{'h': _dst, 't': 'site'}}]
              WHEN 2 THEN [{{'h': _dst, 't': 'read'}},
                           {{'h': _dst, 't': 'more'}}]
              WHEN 3 THEN [{{'h': _dst, 't': _w}}]
              WHEN 7 THEN [{{'h': _dst, 't': _w}},
                           {{'h': _dst, 't': 'again'}},
                           {{'h': 'other.' || _dst, 't': _w}}]
              ELSE CAST([] AS STRUCT(h VARCHAR, t VARCHAR)[])
            END AS ps FROM gen
          )
        ), counts AS (
          SELECT p.h AS dst_host, p.t AS term,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM pairs GROUP BY 1, 2
        )
        SELECT dst_host, term, n, rank FROM (
          SELECT dst_host, term, n,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY dst_host ORDER BY n DESC, term ASC
                 ) AS BIGINT) AS rank
          FROM counts
        ) WHERE rank <= {ANCHOR_K}
    """


# BM25 query workload: qa hits the corpus's one RARE token ('dup',
# df=25 — the idf arm visibly dominates), qb/qc are all-common terms
# where tf saturation + length normalization decide the ranking.
BM25_QUERIES = [
    ("qa", ["dup", "join"]),
    ("qb", ["vector", "column", "scan"]),
    ("qc", ["customer", "order", "merge"]),
]
BM25_K = 5


def q_bm25_topk(spark, sf_dir):
    """BM25-shaped retrieval (operators/bm25.py): broadcast query terms
    cross a map-side-prefiltered corpus (arrays_overlap gate), per-term
    document frequency from the same pinned candidate table, integer-
    exact rational tf-saturation x rarity idf (Spark DIV == DuckDB //),
    top-k per query via a WindowGroupLimit-rewritten rank window."""
    from core_spark.operators.bm25 import bm25_topk

    # wide=False: bm25 scans docs twice (candidates + corpus stats) and
    # is otherwise cheap — the pool repartition cost 12.6s vs 1.0s here
    docs = _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id", "split(trim(text), ' ') AS toks"
    )
    return bm25_topk(docs, BM25_QUERIES, k=BM25_K)


def q_lm_fluency(spark, sf_dir):
    """Char-trigram LM fluency scoring (operators/lmscore.py) — the
    CCNet-style language-model quality filter, integer-exact: fit a
    trigram model on a deterministic md5-sampled quarter of the corpus
    (map-side filter, one hash-agg on uniform trigram keys, top-V cut),
    then score EVERY doc via broadcast join + per-doc re-agg. Rarity =
    SCALE DIV count; OOV = max penalty; score = integer mean rarity
    (low = fluent). vocab_size=256 < the corpus's 377 distinct trigrams
    so the OOV arm is actually exercised (all 500 docs have OOV hits at
    sf0.01; scores spread 12k-135k)."""
    return lms.trigram_fluency(_docs(spark, sf_dir), vocab_size=256)


# ---------------------------------------------------------------------------
# Relational classics completion (fifth continuation session): the remaining
# TPC-H query SHAPES adapted to the driver schema (no partsupp / comment /
# phone / commit-receipt columns exist, so Q2/Q9/Q11/Q12/Q16/Q20-22 are
# re-expressed over the columns that do — same join/subquery/aggregation
# structure, same optimizer-relevant plan shape). All follow the battery's
# exactness recipe: money quantized to cents (FLOOR of IDENTICAL double ops
# on both engines) BEFORE any SUM so every aggregate is an exact BIGINT;
# ratio outputs emit exact num/den beside ONE trailing IEEE division;
# selective dimensions broadcast-hinted; multi-consumer tables pinned.
# ---------------------------------------------------------------------------

_REV_CENTS = "CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT)"
_REV_Y0, _REV_Y1 = "1997-01-01 00:00:00", "1998-01-01 00:00:00"


def q_revenue_forecast(spark, sf_dir):
    """TPC-H Q6 shape (forecasting revenue change): the pure
    scan-filter-aggregate — every predicate (ship year, discount band,
    quantity cap) must reach the parquet scan as PushedFilters, and the
    single global SUM is a map-side partial into a 1-row exchange.
    Discount revenue quantized per-line to cents (FLOOR of identical
    double ops) so the BIGINT aggregate is partition-order-free."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(
            f"l_shipdate >= TIMESTAMP '{_REV_Y0}'"
            f" AND l_shipdate < TIMESTAMP '{_REV_Y1}'"
            " AND l_discount >= 0.05 AND l_discount <= 0.07"
            " AND l_quantity < 24.0"
        )
        .selectExpr(
            "CAST(FLOOR(l_extendedprice * l_discount * 100.0)"
            " AS BIGINT) AS cents"
        )
        .agg(
            F.sum("cents").alias("revenue_cents"),
            F.count("*").alias("n_lines"),
        )
    )


def _sql_revenue_forecast() -> str:
    return f"""
        SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount * 100.0)
                    AS BIGINT)) AS BIGINT) AS revenue_cents,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{_REV_Y0}'
          AND l_shipdate < TIMESTAMP '{_REV_Y1}'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24.0
    """


_Q8_NATION = "NATION_3"


def q_market_share(spark, sf_dir):
    """TPC-H Q8 shape (national market share): the deepest dimension
    chain in the battery — region→nation→customer gates the DEMAND
    side, nation→supplier tags the SUPPLY side, part filters the
    product, and the one fact-fact join (orders⋈lineitem) carries only
    pre-filtered rows. Every dimension path is broadcast-HINTED (region
    5 → nations ~5 → customers ~300; suppliers 100; PROMO parts ~330).
    Share = exact BIGINT num/den emitted beside ONE trailing IEEE
    division — the repo's ratio recipe."""
    from pyspark.sql import functions as F

    sf = sf_dir
    region = (
        spark.read.parquet(f"{sf}/region.parquet")
        .where("r_name = 'ASIA'").select("r_regionkey")
    )
    nation = spark.read.parquet(f"{sf}/nation.parquet")
    cust_nat = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    cust = (
        spark.read.parquet(f"{sf}/customer.parquet")
        .join(F.broadcast(cust_nat), F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey")
    )
    supp = (
        spark.read.parquet(f"{sf}/supplier.parquet")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    promo = (
        spark.read.parquet(f"{sf}/part.parquet")
        .where("p_type = 'PROMO'").select("p_partkey")
    )
    orders = (
        spark.read.parquet(f"{sf}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    )
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount",
    )
    return (
        li.join(F.broadcast(promo), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .selectExpr(
            "CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year",
            f"{_REV_CENTS} AS cents",
            f"CASE WHEN supp_nation = '{_Q8_NATION}' THEN 1 ELSE 0 END"
            " AS is_t",
        )
        .groupBy("o_year")
        .agg(
            F.expr("CAST(SUM(cents * is_t) AS BIGINT)").alias("num_cents"),
            F.expr("CAST(SUM(cents) AS BIGINT)").alias("den_cents"),
        )
        .selectExpr(
            "o_year", "num_cents", "den_cents",
            "CAST(num_cents AS DOUBLE) / CAST(den_cents AS DOUBLE)"
            " AS mkt_share",
        )
    )


def _sql_market_share() -> str:
    return f"""
        WITH j AS (
            SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                   {_REV_CENTS} AS cents,
                   CASE WHEN sn.n_name = '{_Q8_NATION}' THEN 1 ELSE 0 END
                       AS is_t
            FROM lineitem, orders, customer, part, supplier,
                 nation cn, nation sn, region
            WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND l_partkey = p_partkey AND l_suppkey = s_suppkey
              AND c_nationkey = cn.n_nationkey
              AND cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
              AND s_nationkey = sn.n_nationkey
              AND p_type = 'PROMO'
        )
        SELECT o_year,
               CAST(SUM(cents * is_t) AS BIGINT) AS num_cents,
               CAST(SUM(cents) AS BIGINT) AS den_cents,
               CAST(SUM(cents * is_t) AS DOUBLE)
                   / CAST(SUM(cents) AS DOUBLE) AS mkt_share
        FROM j GROUP BY o_year
    """


_Q9_COST = "CAST(FLOOR(p_retailprice * l_quantity * 50.0) AS BIGINT)"


def q_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit): profit per (supplier
    nation, order year) over a name-pattern part slice. The reference
    shape prices cost from partsupp; with no partsupp table the cost
    proxy is retailprice·quantity/2, which preserves the plan (part
    name filter → broadcast; supplier→nation broadcast; orders joined
    only for the year). Profit cents = revenue cents − cost cents,
    each FLOOR-quantized per line, so the grouped SUM is exact."""
    from pyspark.sql import functions as F

    sf = sf_dir
    gear = (
        spark.read.parquet(f"{sf}/part.parquet")
        .where("p_name LIKE '%gear%'")
        .select("p_partkey", "p_retailprice")
    )
    supp = (
        spark.read.parquet(f"{sf}/supplier.parquet")
        .join(
            F.broadcast(
                spark.read.parquet(f"{sf}/nation.parquet")
                .select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return (
        li.join(F.broadcast(gear), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .selectExpr(
            "n_name AS nation",
            "CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year",
            f"{_REV_CENTS} - {_Q9_COST} AS profit",
        )
        .groupBy("nation", "o_year")
        .agg(F.expr("CAST(SUM(profit) AS BIGINT)").alias("profit_cents"))
    )


def _sql_product_profit() -> str:
    return f"""
        SELECT n_name AS nation,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM({_REV_CENTS} - {_Q9_COST}) AS BIGINT)
                   AS profit_cents
        FROM lineitem, part, supplier, orders, nation
        WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
          AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
          AND p_name LIKE '%gear%'
        GROUP BY n_name, o_year
    """


def q_late_shipments(spark, sf_dir):
    """TPC-H Q12 shape (shipping-mode lateness): with no
    commit/receipt dates or ship modes, the adapted bucket is the
    order-to-ship LAG (fast ≤30d / normal ≤90d / slow) over 1997
    shipments, counting critical- vs normal-priority lines per bucket
    — the same fact-fact join + CASE-pivot aggregation as the
    original. Day arithmetic on midnight-aligned timestamps is exact
    on both engines."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .where(
            f"l_shipdate >= TIMESTAMP '{_REV_Y0}'"
            f" AND l_shipdate < TIMESTAMP '{_REV_Y1}'"
        )
        .select("l_orderkey", "l_shipdate")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .selectExpr(
            "CASE WHEN datediff(l_shipdate, o_orderdate) <= 30 THEN 'fast'"
            " WHEN datediff(l_shipdate, o_orderdate) <= 90 THEN 'normal'"
            " ELSE 'slow' END AS lag_bucket",
            "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
            " THEN 1 ELSE 0 END AS is_high",
        )
        .groupBy("lag_bucket")
        .agg(
            F.expr("CAST(SUM(is_high) AS BIGINT)").alias("high_lines"),
            F.expr("CAST(SUM(1 - is_high) AS BIGINT)").alias("low_lines"),
        )
    )


def _sql_late_shipments() -> str:
    return f"""
        SELECT CASE
                 WHEN datediff('day', o_orderdate, l_shipdate) <= 30
                     THEN 'fast'
                 WHEN datediff('day', o_orderdate, l_shipdate) <= 90
                     THEN 'normal'
                 ELSE 'slow' END AS lag_bucket,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_lines,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_lines
        FROM lineitem, orders
        WHERE l_orderkey = o_orderkey
          AND l_shipdate >= TIMESTAMP '{_REV_Y0}'
          AND l_shipdate < TIMESTAMP '{_REV_Y1}'
        GROUP BY 1
    """


def q_cust_order_dist(spark, sf_dir):
    """TPC-H Q13 shape (customer order-count distribution): the one
    classic built on a LEFT OUTER join — zero-order customers MUST
    survive into the c_count=0 bucket, so the priority exclusion
    lives on the orders side BEFORE the join (equivalent to the
    original's ON-clause NOT LIKE), never as a post-join WHERE. Two
    hash-aggs: per-customer count, then the count-of-counts
    histogram."""
    from pyspark.sql import functions as F

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey"
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where("o_orderpriority <> '4-NOT SPECIFIED'")
        .select("o_orderkey", "o_custkey")
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.expr("CAST(COUNT(o_orderkey) AS BIGINT)").alias("c_count"))
        .groupBy("c_count")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("custdist"))
    )


def _sql_cust_order_dist() -> str:
    return """
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM (
            SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey
                 AND o_orderpriority <> '4-NOT SPECIFIED'
            GROUP BY c_custkey
        )
        GROUP BY c_count
    """


_Q11_NUM, _Q11_DEN = 3, 4000  # keep parts holding > 0.075% of total value
# (~1.5x the 0.05% uniform share: 29 parts qualify at sf0.01; at sf0.001
# every one of the 200 parts holds ~0.5% so all qualify — live both ways)


def q_part_value_share(spark, sf_dir):
    """TPC-H Q11 shape (important stock): parts whose lineitem value
    exceeds a FRACTION of the corpus total — the scalar-subquery
    HAVING. The total rides a 1-row broadcast cross join and the
    threshold compares by BIGINT cross-multiplication (value·DEN >
    total·NUM), so no double ever crosses an engine boundary. The
    per-part value table is pinned: it feeds BOTH the total and the
    filter (the CLAUDE.md multi-consumer rule)."""
    from pyspark.sql import functions as F

    vals = pin(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr("l_partkey", f"{_REV_CENTS} AS cents")
        .groupBy("l_partkey")
        .agg(F.expr("CAST(SUM(cents) AS BIGINT)").alias("value_cents"))
    )
    total = vals.agg(
        F.expr("CAST(SUM(value_cents) AS BIGINT)").alias("total_cents")
    )
    return (
        vals.join(F.broadcast(total))
        .where(f"value_cents * {_Q11_DEN} > total_cents * {_Q11_NUM}")
        .select("l_partkey", "value_cents")
    )


def _sql_part_value_share() -> str:
    return f"""
        WITH vals AS (
            SELECT l_partkey,
                   CAST(SUM({_REV_CENTS}) AS BIGINT) AS value_cents
            FROM lineitem GROUP BY l_partkey
        )
        SELECT l_partkey, value_cents
        FROM vals
        WHERE value_cents * {_Q11_DEN} >
              (SELECT CAST(SUM(value_cents) AS BIGINT) FROM vals)
              * {_Q11_NUM}
    """


def q_supplier_cardinality(spark, sf_dir):
    """TPC-H Q16 shape (parts/supplier relationship): DISTINCT
    supplier counts per (brand, size) class, excluding one brand and
    every 'complained-about' supplier (negative balance — the NOT IN
    subquery, resolved as a broadcast LEFT-ANTI join, the only
    NOT-IN-safe distributed shape). The count-distinct is the
    expensive aggregate; its input is pre-shrunk to distinct
    (part, supplier) pairs map-side."""
    from pyspark.sql import functions as F

    bad = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .where("s_acctbal < 0.0").select("s_suppkey")
    )
    parts = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .where("p_brand <> 'Brand#9'")
        .select("p_partkey", "p_brand", "p_size")
    )
    pairs = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_partkey", "l_suppkey").distinct()
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"),
              "left_anti")
    )
    return (
        pairs.join(F.broadcast(parts),
                   F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.expr("CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)")
             .alias("supplier_cnt"))
    )


def _sql_supplier_cardinality() -> str:
    return """
        SELECT p_brand, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem, part
        WHERE l_partkey = p_partkey AND p_brand <> 'Brand#9'
          AND l_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        GROUP BY p_brand, p_size
    """


def q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): lines below
    20% of their part's average quantity — the correlated-average
    predicate. Quantities are integral doubles, so the 0.2·avg
    comparison clears its denominator into pure BIGINTs
    (qty·5·cnt < Σqty, strict): no float threshold anywhere. The
    brand slice is pinned because it feeds BOTH the per-part stats
    and the line-level filter; the stats side (~85 parts) broadcasts
    back."""
    from pyspark.sql import functions as F

    brand = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .where("p_brand = 'Brand#3'").select("p_partkey")
    )
    li = pin(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .join(F.broadcast(brand), F.col("l_partkey") == F.col("p_partkey"))
        .selectExpr(
            "l_partkey AS pk",
            "CAST(l_quantity AS BIGINT) AS qty_i",
            "CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS cents",
        )
    )
    stats = li.groupBy("pk").agg(
        F.expr("CAST(SUM(qty_i) AS BIGINT)").alias("sum_qty"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("cnt"),
    )
    return (
        li.join(F.broadcast(stats.withColumnRenamed("pk", "spk")),
                F.col("pk") == F.col("spk"))
        .where("qty_i * 5 * cnt < sum_qty")
        .agg(
            F.expr("CAST(SUM(cents) AS BIGINT)").alias("total_cents"),
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_lines"),
        )
        .selectExpr(
            "total_cents", "n_lines",
            "CAST(total_cents AS DOUBLE) / 7.0 AS avg_yearly_cents",
        )
    )


def _sql_small_qty_revenue() -> str:
    return """
        WITH li AS (
            SELECT l_partkey AS pk, CAST(l_quantity AS BIGINT) AS qty_i,
                   CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS cents
            FROM lineitem, part
            WHERE l_partkey = p_partkey AND p_brand = 'Brand#3'
        ),
        st AS (
            SELECT pk, CAST(SUM(qty_i) AS BIGINT) AS sum_qty,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM li GROUP BY pk
        )
        SELECT CAST(SUM(cents) AS BIGINT) AS total_cents,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(cents) AS DOUBLE) / 7.0 AS avg_yearly_cents
        FROM li, st
        WHERE li.pk = st.pk AND qty_i * 5 * cnt < sum_qty
    """


def q_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting): in every
    finished multi-supplier order, the supplier whose shipment came
    STRICTLY last (the EXISTS another-supplier / NOT-EXISTS
    later-supplier pair). Resolved without correlated subqueries:
    per-(order, supplier) max ship date, order-level stats joined
    back, uniqueness of the max enforced by counting its achievers —
    ties disqualify everyone, exactly the NOT-EXISTS semantics. Both
    intermediate tables are pinned (each feeds two consumers)."""
    from pyspark.sql import functions as F

    fo = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where("o_orderstatus = 'F'").select("o_orderkey")
    )
    per = pin(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .join(fo, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("smax"))
    )
    ostats = per.groupBy("l_orderkey").agg(
        F.max("smax").alias("omax"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("nsupp"),
    )
    winners = pin(
        per.join(
            ostats.withColumnRenamed("l_orderkey", "ok"),
            F.col("l_orderkey") == F.col("ok"),
        )
        .where("smax = omax AND nsupp >= 2")
        .select("l_orderkey", "l_suppkey")
    )
    wstats = winners.groupBy(F.col("l_orderkey").alias("wok")).agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("nmax")
    )
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name"
    )
    return (
        winners.join(F.broadcast(wstats),
                     F.col("l_orderkey") == F.col("wok"))
        .where("nmax = 1")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("waits"))
        .orderBy(F.desc("waits"), "s_name")
        .limit(10)
    )


def _sql_waiting_suppliers() -> str:
    return """
        WITH per AS (
            SELECT l_orderkey AS ok, l_suppkey AS sk,
                   MAX(l_shipdate) AS smax
            FROM lineitem, orders
            WHERE l_orderkey = o_orderkey AND o_orderstatus = 'F'
            GROUP BY 1, 2
        ),
        w AS (
            SELECT ok, sk, smax,
                   MAX(smax) OVER (PARTITION BY ok) AS omax,
                   COUNT(*) OVER (PARTITION BY ok) AS nsupp
            FROM per
        ),
        m AS (
            SELECT ok, sk
            FROM (
                SELECT ok, sk, smax, omax, nsupp,
                       SUM(CASE WHEN smax = omax THEN 1 ELSE 0 END)
                           OVER (PARTITION BY ok) AS nmax
                FROM w
            )
            WHERE smax = omax AND nmax = 1 AND nsupp >= 2
        )
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS waits
        FROM m, supplier WHERE sk = s_suppkey
        GROUP BY s_name
        ORDER BY waits DESC, s_name
        LIMIT 10
    """


_Q22_SINCE = "1999-01-01 00:00:00"


def q_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity): customers with
    above-average positive balances who never ordered — the
    scalar-average subquery plus NOT EXISTS, grouped by nation (the
    phone-prefix analog; no phone column exists). 'Never ordered' is
    scoped to the trailing window (no orders since 1999 — every
    customer has SOME order in this data, so the unscoped test is
    vacuous). The positive-balance average comparison is
    cross-multiplied (bal·cnt > Σbal, cents BIGINT), the no-recent-
    order test is a LEFT-ANTI join on the fact key, and the 2-column
    1-row stats table broadcasts."""
    from pyspark.sql import functions as F

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").selectExpr(
        "c_custkey", "c_nationkey",
        "CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS bal_cents",
    )
    stats = (
        cust.where("bal_cents > 0")
        .agg(
            F.expr("CAST(SUM(bal_cents) AS BIGINT)").alias("sum_pos"),
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("cnt_pos"),
        )
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where(f"o_orderdate >= TIMESTAMP '{_Q22_SINCE}'")
        .select("o_custkey")
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"),
                  "left_anti")
        .join(F.broadcast(stats))
        .where("bal_cents * cnt_pos > sum_pos")
        .groupBy("c_nationkey")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("numcust"),
            F.expr("CAST(SUM(bal_cents) AS BIGINT)").alias("totbal_cents"),
        )
    )


def _sql_idle_customers() -> str:
    return f"""
        WITH cust AS (
            SELECT c_custkey, c_nationkey,
                   CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS bal_cents
            FROM customer
        ),
        st AS (
            SELECT CAST(SUM(bal_cents) AS BIGINT) AS sum_pos,
                   CAST(COUNT(*) AS BIGINT) AS cnt_pos
            FROM cust WHERE bal_cents > 0
        )
        SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
               CAST(SUM(bal_cents) AS BIGINT) AS totbal_cents
        FROM cust, st
        WHERE bal_cents * cnt_pos > sum_pos
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >=
                                TIMESTAMP '{_Q22_SINCE}')
        GROUP BY c_nationkey
    """


_Q2_UNIT = "CAST(FLOOR(l_extendedprice * 100.0 / l_quantity) AS BIGINT)"


def q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost supplier): for each part in a
    size class, the supplier offering the MINIMUM unit price — the
    correlated-min subquery. With no partsupp, unit price derives
    from lineitem (extprice/quantity, FLOOR-quantized with identical
    IEEE op order on both engines). Per-part min via one hash-agg
    (never a window), achievers re-joined through a broadcast, ties
    broken to the lowest supplier key — the original's multi-row
    output pinned to one deterministic row per part. The size-class
    line slice is pinned (feeds min + achiever scan)."""
    from pyspark.sql import functions as F

    psel = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .where("p_size = 15").select("p_partkey", "p_name")
    )
    li = pin(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .join(F.broadcast(psel), F.col("l_partkey") == F.col("p_partkey"))
        .selectExpr(
            "p_partkey", "p_name", "l_suppkey",
            f"{_Q2_UNIT} AS unit_cents",
        )
    )
    mins = li.groupBy(F.col("p_partkey").alias("mpk")).agg(
        F.expr("CAST(MIN(unit_cents) AS BIGINT)").alias("min_unit_cents")
    )
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name"
    )
    return (
        li.join(F.broadcast(mins), F.col("p_partkey") == F.col("mpk"))
        .where("unit_cents = min_unit_cents")
        .groupBy("p_partkey", "p_name", "min_unit_cents")
        .agg(F.expr("CAST(MIN(l_suppkey) AS BIGINT)").alias("s_suppkey"))
        .join(F.broadcast(supp), "s_suppkey")
        .select("p_partkey", "p_name", "min_unit_cents",
                "s_suppkey", "s_name")
    )


def _sql_min_cost_supplier() -> str:
    return f"""
        WITH li AS (
            SELECT p_partkey, p_name, l_suppkey,
                   {_Q2_UNIT} AS unit_cents
            FROM lineitem, part
            WHERE l_partkey = p_partkey AND p_size = 15
        ),
        w AS (
            SELECT p_partkey, p_name, l_suppkey, unit_cents,
                   MIN(unit_cents) OVER (PARTITION BY p_partkey)
                       AS min_unit_cents
            FROM li
        ),
        a AS (
            SELECT p_partkey, p_name, min_unit_cents,
                   CAST(MIN(l_suppkey) AS BIGINT) AS s_suppkey
            FROM w
            WHERE unit_cents = min_unit_cents
            GROUP BY p_partkey, p_name, min_unit_cents
        )
        SELECT p_partkey, p_name, min_unit_cents, a.s_suppkey, s_name
        FROM a, supplier
        WHERE a.s_suppkey = supplier.s_suppkey
    """


# ---------------------------------------------------------------------------
# Warehouse analytics wave: the relational capabilities a reporting layer
# expects beyond joins/aggs — grouping sets (ROLLUP + GROUPING bits), pivot,
# and window FRAMES (moving/cumulative/lag) — each the standard-SQL shape on
# both engines, BIGINT-exact end to end.
# ---------------------------------------------------------------------------

_TOT_CENTS = "CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)"


def q_rollup_report(spark, sf_dir):
    """GROUPING SETS / ROLLUP report: order counts + revenue at three
    grains at once — (year, priority), (year), grand total — with the
    standard GROUPING bit vector distinguishing them. One Expand +
    one hash-agg (Spark's rollup physical plan); subtotal keys COALESCEd to
    sentinels (-1 / 'ALL') so no NULL group key reaches the compare.
    grouping_id() follows the SQL-standard bit order on both engines
    (2·g(first) + g(second)) — that agreement is itself oracled."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
        "CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year",
        "o_orderpriority", f"{_TOT_CENTS} AS cents",
    )
    return (
        o.rollup("o_year", "o_orderpriority")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_orders"),
            F.expr("CAST(SUM(cents) AS BIGINT)").alias("revenue_cents"),
            F.expr("CAST(grouping_id() AS BIGINT)").alias("gid"),
        )
        .selectExpr(
            "COALESCE(o_year, -1) AS o_year",
            "COALESCE(o_orderpriority, 'ALL') AS o_orderpriority",
            "gid", "n_orders", "revenue_cents",
        )
    )


def _sql_rollup_report() -> str:
    return f"""
        SELECT COALESCE(o_year, -1) AS o_year,
               COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
               CAST(GROUPING(o_year, o_orderpriority) AS BIGINT) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS revenue_cents
        FROM (
            SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)
                       AS o_year,
                   o_orderpriority, {_TOT_CENTS} AS cents
            FROM orders
        )
        GROUP BY ROLLUP(o_year, o_orderpriority)
    """


_PIVOT_PRIOS = [
    ("1-URGENT", "urgent_cents"),
    ("2-HIGH", "high_cents"),
    ("3-MEDIUM", "medium_cents"),
    ("4-NOT SPECIFIED", "notspec_cents"),
    ("5-LOW", "low_cents"),
]


def q_pivot_report(spark, sf_dir):
    """Pivot report: yearly revenue spread into one column per order
    priority — Spark's .pivot() with the value list EXPLICIT (an
    implicit pivot adds a blocking distinct pass to discover values;
    at 100 TB the caller names the columns). The oracle is the
    conditional-aggregation rewrite every engine lowers pivot to, so
    the gate pins Spark's pivot lowering against hand-written
    CASE-sums; absent combinations are NULL on both paths."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
        "CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year",
        "o_orderpriority", f"{_TOT_CENTS} AS cents",
    )
    piv = (
        o.groupBy("o_year")
        .pivot("o_orderpriority", [p for p, _ in _PIVOT_PRIOS])
        .agg(F.expr("CAST(SUM(cents) AS BIGINT)"))
    )
    for raw, alias in _PIVOT_PRIOS:
        piv = piv.withColumnRenamed(raw, alias)
    return piv


def _sql_pivot_report() -> str:
    arms = ",\n               ".join(
        f"CAST(SUM(CASE WHEN o_orderpriority = '{raw}' THEN cents END)"
        f" AS BIGINT) AS {alias}"
        for raw, alias in _PIVOT_PRIOS
    )
    return f"""
        SELECT o_year,
               {arms}
        FROM (
            SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)
                       AS o_year,
                   o_orderpriority, {_TOT_CENTS} AS cents
            FROM orders
        )
        GROUP BY o_year
    """


def q_revenue_trend(spark, sf_dir):
    """Window-FRAME analytics: per-priority monthly revenue with a
    3-month moving sum (ROWS 2 PRECEDING), running cumulative total,
    and month-over-month delta (LAG) — the three frame shapes every
    reporting layer needs, in ONE window pass. Partitioned by
    priority so window state is bounded per key (a global ORDER BY
    window is a single-task bottleneck at scale — the partition key
    IS the scale design). All sums BIGINT cents; first-month delta
    NULL on both engines."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    m = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr(
            "o_orderpriority AS prio",
            "date_trunc('month', o_orderdate) AS mon",
            f"{_TOT_CENTS} AS cents",
        )
        .groupBy("prio", "mon")
        .agg(F.expr("CAST(SUM(cents) AS BIGINT)").alias("cents"))
    )
    w = Window.partitionBy("prio").orderBy("mon")
    return m.select(
        "prio", "mon", "cents",
        F.sum("cents").over(w.rowsBetween(-2, 0)).alias("mov3_cents"),
        F.sum("cents").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum_cents"),
        (F.col("cents") - F.lag("cents").over(w)).alias("delta_cents"),
    )


def _sql_revenue_trend() -> str:
    return f"""
        WITH m AS (
            SELECT o_orderpriority AS prio,
                   date_trunc('month', o_orderdate) AS mon,
                   CAST(SUM({_TOT_CENTS}) AS BIGINT) AS cents
            FROM orders
            GROUP BY 1, 2
        )
        SELECT prio, mon, cents,
               CAST(SUM(cents) OVER (PARTITION BY prio ORDER BY mon
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS mov3_cents,
               CAST(SUM(cents) OVER (PARTITION BY prio ORDER BY mon
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_cents,
               cents - LAG(cents) OVER (PARTITION BY prio ORDER BY mon)
                   AS delta_cents
        FROM m
    """


def q_session_markov(spark, sf_dir):
    """First-order Markov transitions (operators/markov.py): P(next
    event type | current) per user session stream — the navigation
    model next-page prediction and anomalous-flow detection read.
    ONE entity-keyed Exchange (LEAD window), bounded S² transition
    table, totals via BROADCAST join; prob = one IEEE division
    beside exact BIGINT n/src_total. The twin normalizes through a
    window SUM instead — a different tail on purpose."""
    from core_spark.operators.markov import transition_matrix

    return transition_matrix(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    )


def _sql_session_markov() -> str:
    from core_spark.operators.markov import sql_transition_matrix

    return sql_transition_matrix("SELECT * FROM events")


_PROFILE_COLS = [
    ("event_id", "event_id"),
    ("user_id", "user_id"),
    ("value_cents", "FLOOR(value * 100.0)"),
    ("props_len", "LENGTH(props)"),
    ("type_len", "LENGTH(event_type)"),
]


def q_profile_table(spark, sf_dir):
    """One-pass column profiler (operators/profile.py): per column —
    via its caller-named BIGINT derivation (cents for doubles,
    LENGTH for strings) — exact non-null / null / distinct counts
    and range, all five columns in ONE aggregation pass (Expand for
    the exact COUNT DISTINCTs). The 1-row wide result
    explodes JVM-side into the long layout. Twin: the INDEPENDENT
    per-column UNION ALL plan."""
    from core_spark.operators.profile import profile_table

    return profile_table(
        spark.read.parquet(f"{sf_dir}/events.parquet"), _PROFILE_COLS
    )


def _sql_profile_table() -> str:
    from core_spark.operators.profile import sql_profile_table

    return sql_profile_table("SELECT * FROM events", _PROFILE_COLS)


def q_benford_audit(spark, sf_dir):
    """Benford first-digit audit (operators/benford.py) over line
    extended prices: observed leading-digit histogram vs the fixed
    per-mille Benford literals, deviation as exact cross-multiplied
    BIGINT mass (the uniform-ish synthetic prices deviate heavily —
    the audit's live arm: dev ≫ 0 for most digits). 9-digit
    JVM-range spine keeps zero-count digits reporting; log-free by
    construction."""
    from core_spark.operators.benford import first_digit_audit

    return first_digit_audit(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        "l_extendedprice",
    )


def _sql_benford_audit() -> str:
    from core_spark.operators.benford import sql_first_digit_audit

    return sql_first_digit_audit("SELECT * FROM lineitem",
                                 "l_extendedprice")


# Planted heavy tail for the MAD fixture (generation-rule trick): every
# 53rd doc gains 900..1500 extra chars — far past 3 MADs of the tight
# synthetic length distribution (0 organic outliers, 10 planted, all 10
# flagged at both SFs), so the detector's positive arm is live and the
# negative arm is the whole corpus.
_MAD_X = (
    "n_chars + CASE WHEN doc_id % 53 = 0"
    " THEN 900 + (doc_id % 7) * 100 ELSE 0 END"
)


def q_host_outliers(spark, sf_dir):
    """Robust MAD outliers (operators/outliers.py): per-language
    doc-length anomalies under Hampel's rule |x − med| > 3·MAD,
    computed entirely in BIGINT via the doubled-statistic recipe
    (med2, dev = |2x − med2|, mad2d; flag ⇔ 2·dev > k·mad2d). Two
    ranking windows + two group medians ALL clustered on the group
    key — one Exchange; group-bounded medians broadcast back.
    Flag-style output (every doc with its verdict)."""
    from core_spark.operators.outliers import mad_outliers

    rows = _docs(spark, sf_dir, wide=False).selectExpr(
        "lang AS g", "doc_id AS id", f"{_MAD_X} AS x"
    )
    return mad_outliers(rows, k=3)


def _sql_host_outliers() -> str:
    from core_spark.operators.outliers import sql_mad_outliers

    return sql_mad_outliers(
        f"SELECT lang AS g, doc_id AS id, {_MAD_X} AS x FROM documents",
        k=3,
    )


def q_volume_spikes(spark, sf_dir):
    """Trailing-window spike detection (operators/spikes.py): daily
    event counts per type flagged when x·W·den > num·Σ(prev W) —
    the moving-average control chart with cleared denominators (no
    mean, no float). Full-history gating: the first W days report
    NULL, not false. 17 organic spikes at sf0.01 under the 8/7
    threshold (Poisson noise exceeds 14% routinely — the docstring
    notes production thresholds run ~2x)."""
    from pyspark.sql import functions as F
    from core_spark.operators.spikes import trailing_spikes

    series = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("event_type AS k", "EXTRACT(DAY FROM ts) AS t")
        .groupBy("k", "t")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("x"))
    )
    return trailing_spikes(series, window=7, num=8, den=7)


def _sql_volume_spikes() -> str:
    from core_spark.operators.spikes import sql_trailing_spikes

    return sql_trailing_spikes(
        "SELECT event_type AS k, EXTRACT(DAY FROM ts) AS t,"
        " CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2",
        window=7, num=8, den=7,
    )


def q_link_communities(spark, sf_dir):
    """Label propagation communities (operators/communities.py) over
    the derived host link graph — the graph family's partition-into-
    dense-regions flavor (CC = reachability, kcore = density shells,
    pagerank/hits = node ranks). Synchronous rounds, min-tie-break
    plurality, fixed 3-round horizon: a pure function of the input.
    Per round ONE uniform-key equi-join + two hash-aggs, labels
    pinned per round. Twin: unrolled AS MATERIALIZED rounds with a
    correlated ORDER BY/LIMIT argmax — an independent tie-break
    formulation."""
    from core_spark.operators.communities import label_propagation

    docs = _docs(spark, sf_dir, wide=False).select("doc_id")
    edges = lg.derive_host_edges(docs, n_hosts=97, k_out=4)
    return label_propagation(edges, iters=3)


def _sql_link_communities() -> str:
    from core_spark.operators.communities import sql_label_propagation
    from core_spark.operators.linkgraph import sql_derived_host_edges

    return sql_label_propagation(
        sql_derived_host_edges(
            "SELECT doc_id FROM documents", n_hosts=97, k_out=4
        ),
        iters=3,
    )


_AB_CONV = 14  # median-ish purchase count: live splits at both SFs


def q_ab_test(spark, sf_dir):
    """Two-proportion A/B readout (operators/abtest.py): users split
    by id parity (the experiment arm), converted = ≥14 purchases —
    a median-ish threshold so both arms are live and non-degenerate
    at both SFs (26/75 vs 43/75 at sf0.01). One per-unit hash-agg →
    four exact BIGINT sufficient statistics; rates and the pooled z
    are a FIXED-ORDER IEEE chain over identical projection text
    (sqrt carve-out, the hotspots_gi precedent) — the driver hash
    compares the doubles bit-for-bit."""
    from pyspark.sql import functions as F
    from core_spark.operators.abtest import two_proportion

    units = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.expr(
            "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0"
            " END) AS BIGINT)"
        ).alias("np"))
        .selectExpr(
            "user_id % 2 = 0 AS is_a", f"np >= {_AB_CONV} AS converted"
        )
    )
    return two_proportion(units)


def _sql_ab_test() -> str:
    from core_spark.operators.abtest import sql_two_proportion

    return sql_two_proportion(f"""
        SELECT user_id % 2 = 0 AS is_a,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= {_AB_CONV} AS converted
        FROM events GROUP BY user_id
    """)


def q_decayed_counts(spark, sf_dir):
    """Exact power-of-two decayed counters (operators/decay.py):
    per-event-type recency-weighted daily volume, half-life 3 days,
    horizon = the data's max day (1-row broadcast). Every weight is
    1 << (40 − age-steps) so the scaled sum is an exact order-free
    BIGINT under ANY partitioning; decayed = one trailing division
    by the 2^40 literal. The staircase DIV is the documented
    exactness trade vs smooth float decay."""
    from pyspark.sql import functions as F
    from core_spark.operators.decay import decayed_counts

    series = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("event_type AS k", "EXTRACT(DAY FROM ts) AS t")
        .groupBy("k", "t")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("x"))
    )
    return decayed_counts(series, halflife=3)


def _sql_decayed_counts() -> str:
    from core_spark.operators.decay import sql_decayed_counts

    return sql_decayed_counts(
        "SELECT event_type AS k, EXTRACT(DAY FROM ts) AS t,"
        " CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2",
        halflife=3,
    )


def q_time_weighted_avg(spark, sf_dir):
    """Left-constant time-weighted average (operators/twa.py): the
    gauge rollup — per event type, event values held until the next
    sample, weighted by exact integer second gaps (epoch-micros DIV
    1e6 on BOTH engines: unix_timestamp/epoch() truncate vs round
    differently on sub-second stamps, integer micros don't). num and
    span exact BIGINT, twa one trailing division, NULL on zero span.
    One LEAD window + one hash-agg on the same key clustering."""
    from core_spark.operators.twa import time_weighted_avg

    samples = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_type AS k",
        # NTZ column: CAST to TIMESTAMP first (UTC session — the
        # covisit precedent), then exact integer micros DIV
        "unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000 AS t",
        "FLOOR(value * 100.0) AS v",
        "event_id AS id",
    )
    return time_weighted_avg(samples)


def _sql_time_weighted_avg() -> str:
    from core_spark.operators.twa import sql_time_weighted_avg

    return sql_time_weighted_avg(
        "SELECT event_type AS k, epoch_us(ts) // 1000000 AS t,"
        " FLOOR(value * 100.0) AS v, event_id AS id FROM events"
    )


_RATE_W, _RATE_LIMIT = 6 * 3600, 2  # trailing 6 h, >2 events flags


def q_sliding_rate(spark, sf_dir):
    """Sliding-window rate audit (operators/ratelimit.py): per-user
    trailing-6h event counts via a RANGE frame — the one workload
    that genuinely needs time-distance frames over positional ROWS,
    and the only RANGE-frame surface in the registry (peer-row
    semantics: equal-second bursts count fully for every member —
    both engines agree, and that agreement is what the oracle
    gates). Verdict BIGINT 1/0 per §116."""
    from core_spark.operators.ratelimit import sliding_rate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id AS k",
        "unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000 AS t_sec",
        "event_id AS id",
    )
    return sliding_rate(ev, window_sec=_RATE_W, limit=_RATE_LIMIT)


def _sql_sliding_rate() -> str:
    from core_spark.operators.ratelimit import sql_sliding_rate

    return sql_sliding_rate(
        "SELECT user_id AS k, epoch_us(ts) // 1000000 AS t_sec,"
        " event_id AS id FROM events",
        window_sec=_RATE_W, limit=_RATE_LIMIT,
    )


# CDC fixture (generation-rule trick): keys are doc_id % 211 residues.
# base = even docs (one row per key via MIN), changelog = every 3rd doc
# (seq = doc_id, naturally unique; ~2.4 changes per colliding key), op
# by residue — all three arms live: deletes remove existing AND absent
# keys, inserts create change-only keys, untouched base keys survive.
_CDC_BASE = (
    "SELECT doc_id % 211 AS key, CAST(MIN(n_chars) AS BIGINT) AS val"
    " FROM documents WHERE doc_id % 2 = 0 GROUP BY doc_id % 211"
)
_CDC_CHANGES = (
    "SELECT doc_id % 211 AS key,"
    " CASE WHEN doc_id % 7 = 0 THEN 'D'"
    " WHEN doc_id % 7 < 4 THEN 'U' ELSE 'I' END AS op,"
    " doc_id AS seq, CAST(n_chars AS BIGINT) AS val"
    " FROM documents WHERE doc_id % 3 = 0"
)


def q_cdc_merge(spark, sf_dir):
    """CDC merge / MERGE INTO (operators/cdc.py): apply an
    insert/update/delete changelog to a base snapshot — highest-seq
    winner per key via ONE hash-agg struct-max (never a window over
    the changelog), then ONE full-outer join on the uniform key;
    idempotent deletes, upsert I/U, untouched keys carry through.
    Invalid ops fail loudly via an in-plan raise_error arm. The
    url_history SCD2 operator keeps history; this resolves current
    state (SCD1)."""
    from pyspark.sql import functions as F
    from core_spark.operators.cdc import cdc_merge

    docs = _docs(spark, sf_dir, wide=False)
    base = (
        docs.where("doc_id % 2 = 0")
        .groupBy((F.col("doc_id") % 211).alias("key"))
        .agg(F.expr("CAST(MIN(n_chars) AS BIGINT)").alias("val"))
    )
    changes = docs.where("doc_id % 3 = 0").selectExpr(
        "doc_id % 211 AS key",
        "CASE WHEN doc_id % 7 = 0 THEN 'D'"
        " WHEN doc_id % 7 < 4 THEN 'U' ELSE 'I' END AS op",
        "doc_id AS seq", "CAST(n_chars AS BIGINT) AS val",
    )
    return cdc_merge(base, changes)


def _sql_cdc_merge() -> str:
    from core_spark.operators.cdc import sql_cdc_merge

    return sql_cdc_merge(_CDC_BASE, _CDC_CHANGES)


# Geofence directory (JVM literal-table pattern — never createDataFrame
# on a query path): six 8x8 fences tiling the ping lattice + a seventh
# oversized fence overlapping two of them, so the lowest-id overlap
# tie-break has a live arm.
_GF_XMIN = ("CASE WHEN id = 6 THEN 3.0"
            " ELSE CAST(id % 3 AS DOUBLE) * 10.0 + 1.0 END")
_GF_YMIN = ("CASE WHEN id = 6 THEN 4.0"
            " ELSE CAST(id DIV 3 AS DOUBLE) * 12.0 + 2.0 END")
_GF_XMAX = f"{_GF_XMIN} + CASE WHEN id = 6 THEN 17.0 ELSE 8.0 END"
_GF_YMAX = f"{_GF_YMIN} + CASE WHEN id = 6 THEN 12.0 ELSE 8.0 END"


def q_geofence_events(spark, sf_dir):
    """Geofence transitions (operators/geofence.py): enter/exit/
    switch events per user over the trajectory lattice — stay_points
    finds dwells ANYWHERE, this anchors state changes to NAMED
    regions (the alerting shape). Rectangle containment keeps
    assignment pure-JVM broadcast; overlaps resolve to the lowest
    fence id (pip lowest-id tie-break, live via the oversized
    seventh fence); ONE entity-keyed window pass extracts single-row
    transitions ('switch' carries both ids — exit+enter pairs would
    force an ordering convention)."""
    from core_spark.operators.geofence import geofence_events

    pings = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id AS user",
        "unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000 AS t",
        "event_id AS id",
        f"{_HSD_LON} AS x", f"{_HSD_LAT} AS y",
    )
    fences = spark.range(7).selectExpr(
        "id AS fence_id",
        f"{_GF_XMIN} AS xmin", f"{_GF_YMIN} AS ymin",
        f"{_GF_XMAX} AS xmax", f"{_GF_YMAX} AS ymax",
    )
    return geofence_events(pings, fences)


def _sql_geofence_events() -> str:
    from core_spark.operators.geofence import sql_geofence_events

    dd = " // "
    fences = (
        "SELECT id AS fence_id,"
        f" {_GF_XMIN.replace(' DIV ', dd)} AS xmin,"
        f" {_GF_YMIN.replace(' DIV ', dd)} AS ymin,"
        f" {_GF_XMAX.replace(' DIV ', dd)} AS xmax,"
        f" {_GF_YMAX.replace(' DIV ', dd)} AS ymax"
        " FROM generate_series(0, 6) AS g(id)"
    )
    pings = (
        "SELECT user_id AS \"user\","
        " epoch_us(ts) // 1000000 AS t, event_id AS id,"
        f" {_HSD_LON.replace(' DIV ', dd)} AS x,"
        f" {_HSD_LAT.replace(' DIV ', dd)} AS y FROM events"
    )
    return sql_geofence_events(pings, fences)


# Fréchet fixture: 4 users per 4-unit lattice cell (group = user DIV 4
# tiles a 32x32 lattice), ping wiggle ≤ 1.875 < the 2.125 cross-cell
# gap — candidate pairs grow LINEARLY with users (the dbscan density
# lesson), every-2nd-ping sampling bounds the DP at m ~ 33. 121 of 223
# same-cell pairs qualify at t=1.5 (sf0.01), 18/21 at sf0.001.
_FRE_LAT = ("CAST(((user_id DIV 4) % 32) * 4.0"
            " + (event_id % 16) * 0.125 AS DOUBLE)")
_FRE_LON = ("CAST(((user_id DIV 128) % 32) * 4.0"
            " + ((event_id DIV 16) % 16) * 0.125 AS DOUBLE)")
_FRE_T = 1.5


def q_frechet(spark, sf_dir):
    """Discrete Fréchet similarity join (operators/frechet.py): the
    ORDER-AWARE refinement of hausdorff — the dog-leash DP over
    (t, id)-sequenced pings, pure order statistics on the same exact
    d2_micro BIGINTs; blocking inherited sound (dF >= Hausdorff ⇒
    bbox-corner lemma); the Arrow verify pays the Hausdorff lower
    bound FIRST so most candidates never reach the sequential DP.
    The ORACLE gates the decision (free-space reachability via an
    UNBLOCKED recursive-CTE twin); the exact fd2_micro value is
    pytest-gated against the Python model (split gate — documented
    in the module docstring)."""
    from core_spark.operators.frechet import frechet_join

    pts = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where("event_id % 2 = 0")
        .selectExpr(
            "user_id AS tid",
            "unix_micros(CAST(ts AS TIMESTAMP)) AS t",
            "event_id AS id",
            f"{_FRE_LAT} AS lat", f"{_FRE_LON} AS lon",
        )
    )
    return frechet_join(pts, _FRE_T).select(
        "tid_a", "tid_b", "n_a", "n_b"
    )


def _sql_frechet() -> str:
    from core_spark.operators.frechet import sql_frechet_decision

    dd = " // "
    pts = (
        "SELECT user_id AS tid, epoch_us(ts) AS t, event_id AS id,"
        f" {_FRE_LAT.replace(' DIV ', dd)} AS lat,"
        f" {_FRE_LON.replace(' DIV ', dd)} AS lon"
        " FROM events WHERE event_id % 2 = 0"
    )
    return sql_frechet_decision(pts, _FRE_T)


def q_rake_keywords(spark, sf_dir):
    """RAKE key-phrase extraction (operators/rake.py): maximal
    stopword-free word runs scored by Σ deg(w)/freq(w) in FIXED
    POINT (deg·1e6 DIV freq — exact both engines; float RAKE is the
    documented alternative). tfidf_topk ranks single terms per doc;
    this surfaces multi-word corpus phrases. Segmentation is
    tokenize-once + IN-list membership (the textstats lesson — no
    regex alternation), all within-row JVM."""
    from core_spark.operators.rake import rake_keywords

    return rake_keywords(_docs(spark, sf_dir, wide=False), k=20)


def _sql_rake_keywords() -> str:
    from core_spark.operators.rake import sql_rake_keywords

    return sql_rake_keywords("SELECT text FROM documents", k=20)


def q_attribution(spark, sf_dir):
    """Conversion attribution (operators/attribution.py): last- and
    first-touch channel credit for every purchase via IGNORE NULLS
    window lookups over the strictly-preceding frame — the only
    IGNORE NULLS surface in the registry, so that cross-engine
    window semantics agreement is itself oracled. '(none)' collects
    conversions with no prior touch; ONE entity-keyed window pass +
    two bounded hash-aggs FULL-OUTER merged."""
    from core_spark.operators.attribution import attribution

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS t",
        "event_id AS id", "event_type",
    )
    return attribution(ev)


def _sql_attribution() -> str:
    from core_spark.operators.attribution import sql_attribution

    return sql_attribution(
        "SELECT user_id, epoch_us(ts) AS t, event_id AS id,"
        " event_type FROM events"
    )


def q_pareto_front(spark, sf_dir):
    """2-D skyline (operators/skyline.py): docs not dominated on
    (length, vocabulary richness) — the multi-objective shortlist
    top-k can't express. Two shared-ordering windows (strictly-
    greater RANGE max + equal-x partition max), BIGINT axes and
    verdict; the twin is the INDEPENDENT NOT EXISTS dominance
    anti-join, so the windowed algebra itself is gated. At-scale
    path documented: skyline is a contraction — stripe-local
    skylines then one tiny final pass."""
    from core_spark.operators.skyline import pareto_front

    rows = _docs(spark, sf_dir, wide=False).selectExpr(
        "doc_id AS id", "n_chars AS x",
        "CAST(size(array_distinct(split(trim(text), ' ')))"
        " AS BIGINT) AS y",
    )
    return pareto_front(rows)


def _sql_pareto_front() -> str:
    from core_spark.operators.skyline import sql_pareto_front

    return sql_pareto_front(
        "SELECT doc_id AS id, n_chars AS x,"
        " CAST(len(list_distinct(string_split(trim(text), ' ')))"
        " AS BIGINT) AS y FROM documents"
    )


_PPR_SEEDS = [0, 1, 2]


def q_link_ppr(spark, sf_dir):
    """Personalized PageRank (linkgraph.pagerank_personalized): the
    'related hosts to X' query — random walk with restart from a
    3-seed set over the derived host graph; rank decays with graph
    distance from the seeds and unreachable hosts score exactly 0
    (global pagerank asks who matters overall, this asks who matters
    NEAR the seeds). Same fixed-point truncating-DIV discipline as
    the weighted variant; seed mask is one IN-list, never a join;
    per-round plans pinned."""
    from pyspark.sql import functions as F
    from core_spark.operators.linkgraph import (
        derive_host_edges, pagerank_personalized,
    )

    docs = _docs(spark, sf_dir, wide=False).select("doc_id")
    edges = (
        derive_host_edges(docs, n_hosts=97, k_out=4)
        .groupBy(F.col("src").alias("src_host"),
                 F.col("dst").alias("dst_host"))
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_links"))
    )
    return pagerank_personalized(edges, _PPR_SEEDS, iters=3)


def _sql_link_ppr() -> str:
    from core_spark.operators.linkgraph import (
        sql_derived_host_edges, sql_pagerank_personalized,
    )

    inner = sql_derived_host_edges(
        "SELECT doc_id FROM documents", n_hosts=97, k_out=4
    )
    edges = (
        f"SELECT src AS src_host, dst AS dst_host,"
        f" CAST(COUNT(*) AS BIGINT) AS n_links FROM ({inner}) e"
        " GROUP BY src, dst"
    )
    return sql_pagerank_personalized(edges, _PPR_SEEDS, iters=3)


_ABC_A, _ABC_B = 80, 95  # cumulative-share breakpoints (percent)


def q_abc_classes(spark, sf_dir):
    """ABC / Pareto-share classification: parts ranked by revenue,
    classed A while the RUNNING total (inclusive) is ≤80% of grand
    total, B to 95%, else C — the inventory-management standard. All
    comparisons are BIGINT cross-multiplication (cum·100 vs pct·total
    — no share double is ever compared); ONE ordered window with a
    (revenue, key) tie-break + a 1-row broadcast total. The global
    ORDER window serializes one pass over the PART-cardinality table
    (already aggregated — bounded), never the fact table."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    vals = pin(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr("l_partkey", f"{_REV_CENTS} AS cents")
        .groupBy("l_partkey")
        .agg(F.expr("CAST(SUM(cents) AS BIGINT)").alias("rev"))
    )
    total = vals.agg(
        F.expr("CAST(SUM(rev) AS BIGINT)").alias("total"))
    return (
        vals.select(
            "l_partkey", "rev",
            F.expr("CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey"
                   " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                   " AS BIGINT)").alias("cum"),
        )
        .join(F.broadcast(total))
        .selectExpr(
            "l_partkey", "rev", "cum",
            f"CASE WHEN cum * 100 <= {_ABC_A} * total THEN 'A'"
            f" WHEN cum * 100 <= {_ABC_B} * total THEN 'B'"
            " ELSE 'C' END AS abc",
        )
    )


def _sql_abc_classes() -> str:
    return f"""
        WITH vals AS (
            SELECT l_partkey,
                   CAST(SUM({_REV_CENTS}) AS BIGINT) AS rev
            FROM lineitem GROUP BY l_partkey
        ),
        c AS (
            SELECT l_partkey, rev,
                   CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS cum,
                   (SELECT CAST(SUM(rev) AS BIGINT) FROM vals) AS total
            FROM vals
        )
        SELECT l_partkey, rev, cum,
               CASE WHEN cum * 100 <= {_ABC_A} * total THEN 'A'
                    WHEN cum * 100 <= {_ABC_B} * total THEN 'B'
                    ELSE 'C' END AS abc
        FROM c
    """


def q_skew_report(spark, sf_dir):
    """Join-key skew diagnosis: the report an engineer wants BEFORE a
    100-TB join — per-key count distribution of the fact table's join
    key as ONE summary row: distinct keys, total rows, max/p50/p99
    per-key counts (exact integer ranks, the group_quantiles
    definition), and the skew factor numerator/denominator
    (max·distinct vs total — >1 means the hottest key exceeds the
    uniform share; compare cross-multiplied). Two hash-aggs (key
    counts → count-distribution) + one tiny ordered window over the
    DISTINCT-COUNT-VALUE grain, never the keys themselves."""
    from pyspark.sql import functions as F

    counts = pin(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_partkey")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("c"))
    )
    # distribution at the count-VALUE grain: tiny (distinct counts)
    dist = pin(
        counts.groupBy("c")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("nk"))
        .selectExpr("c", "nk")
    )
    ranked = dist.selectExpr(
        "c", "nk",
        "CAST(SUM(nk) OVER (ORDER BY c"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        " AS BIGINT) AS cumk",
    )
    totals = counts.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_keys"),
        F.expr("CAST(SUM(c) AS BIGINT)").alias("n_rows"),
        F.expr("CAST(MAX(c) AS BIGINT)").alias("max_c"),
    )
    # exact integer-rank percentiles: smallest c with cumk*100 >= p*n
    pick = (
        ranked.join(F.broadcast(totals))
        .selectExpr(
            "n_keys", "n_rows", "max_c",
            "CASE WHEN cumk * 100 >= 50 * n_keys THEN c END AS c50",
            "CASE WHEN cumk * 100 >= 99 * n_keys THEN c END AS c99",
        )
        .agg(
            F.expr("CAST(MIN(n_keys) AS BIGINT)").alias("n_keys"),
            F.expr("CAST(MIN(n_rows) AS BIGINT)").alias("n_rows"),
            F.expr("CAST(MIN(max_c) AS BIGINT)").alias("max_c"),
            F.expr("CAST(MIN(c50) AS BIGINT)").alias("p50_c"),
            F.expr("CAST(MIN(c99) AS BIGINT)").alias("p99_c"),
        )
    )
    return pick.selectExpr(
        "n_keys", "n_rows", "max_c", "p50_c", "p99_c",
        "CAST(max_c * n_keys AS BIGINT) AS skew_num",
        "n_rows AS skew_den",
        "CAST(max_c * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)"
        " AS skew_factor",
    )


def _sql_skew_report() -> str:
    return """
        WITH counts AS (
            SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
            FROM lineitem GROUP BY l_partkey
        ),
        dist AS (
            SELECT c, CAST(COUNT(*) AS BIGINT) AS nk
            FROM counts GROUP BY c
        ),
        ranked AS (
            SELECT c, nk,
                   CAST(SUM(nk) OVER (ORDER BY c
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS cumk
            FROM dist
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(c) AS BIGINT) AS n_rows,
                   CAST(MAX(c) AS BIGINT) AS max_c
            FROM counts
        )
        SELECT CAST(MIN(n_keys) AS BIGINT) AS n_keys,
               CAST(MIN(n_rows) AS BIGINT) AS n_rows,
               CAST(MIN(max_c) AS BIGINT) AS max_c,
               CAST(MIN(CASE WHEN cumk * 100 >= 50 * n_keys
                    THEN c END) AS BIGINT) AS p50_c,
               CAST(MIN(CASE WHEN cumk * 100 >= 99 * n_keys
                    THEN c END) AS BIGINT) AS p99_c,
               CAST(MIN(max_c) * MIN(n_keys) AS BIGINT) AS skew_num,
               CAST(MIN(n_rows) AS BIGINT) AS skew_den,
               CAST(MIN(max_c) * MIN(n_keys) AS DOUBLE)
                   / CAST(MIN(n_rows) AS DOUBLE) AS skew_factor
        FROM ranked, tot
    """


class Query(NamedTuple):
    """One driver query: its Spark builder plus EITHER a zero-argument
    DuckDB oracle returning the SQL text OR why the query is rows-only."""

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: Callable[[], str] | None = None
    rows_only: str | None = None


def _sql_knn() -> str:
    knn = sql_knn(
        f"SELECT * FROM ({_knn_queries_values()}) AS q(query_id, qlat, qlon)",
        f"({_POINTS_SQL})",
        KNN_K,
    )
    return f"SELECT query_id, rank, doc_id FROM ({knn})"


def _sql_detect_cascade() -> str:
    cascade = """
    CASE
      WHEN text LIKE '%spark%' AND text LIKE '%stream%' THEN 'streaming'
      WHEN text LIKE '%spark%' THEN 'batch'
      WHEN text LIKE '%vector%' THEN 'vector'
      WHEN text LIKE '%window%' OR text LIKE '%merge%' THEN 'analytic'
      ELSE 'unknown'
    END
    """
    return f"""
            SELECT framework, COUNT(*) AS n_docs
            FROM (SELECT {cascade} AS framework FROM documents)
            GROUP BY framework
        """


def _sql_incremental_dedup() -> str:
    return f"""
            WITH f AS (
              SELECT doc_id,
                     md5(array_to_string((string_split(trim(text), ' '))
                         [1:{FP_PREFIX_K}], ' ')) AS fp
              FROM documents
            )
            SELECT MIN(doc_id) AS doc_id, fp
            FROM f WHERE doc_id % 2 = 1
            GROUP BY fp
            HAVING fp NOT IN (SELECT fp FROM f WHERE doc_id % 2 = 0)
        """


# The driver's correctness harness checks only rows 1-50: they hold the first
# 50 queries (in registry order) with no row in any CORRECTNESS_r*.json yet.
# Rotating those to the front is the only reorder; other rows keep theirs.
REGISTRY: tuple[Query, ...] = (
    Query("delta_scan", q_delta_scan, lambda: _SQL_DELTA_SCAN),
    Query("rag_chunks", q_rag_chunks, _sql_rag_chunks),
    Query("hll_sketch", q_hll_sketch, _sql_hll_sketch_q),
    Query("crawl_frontier", q_crawl_frontier, _sql_crawl_frontier),
    Query("link_hits", q_link_hits, _sql_link_hits),
    Query("url_redirects", q_url_redirects, _sql_url_redirects),
    Query("cms_hosts", q_cms_hosts, _sql_cms_hosts),
    Query("sitemap_parse", q_sitemap_parse, _sql_sitemap_parse),
    Query("dbscan", q_dbscan, _sql_dbscan_q),
    Query("geojson_scan", q_geojson_scan, _sql_geojson_scan),
    Query("crawl_pipeline", q_crawl_pipeline, _sql_crawl_pipeline),
    Query("geohash_assign", q_geohash_assign, _sql_geohash_assign),
    Query("robots_sitemaps", q_robots_sitemaps, _sql_robots_sitemaps),
    Query("trajectories", q_trajectories, _sql_trajectories),
    Query("rect_join", q_rect_join, _sql_rect_join),
    Query("polygon_area", q_polygon_area, _sql_polygon_area),
    Query("polygon_simplify", q_polygon_simplify, _sql_polygon_simplify),
    Query("link_triangles", q_link_triangles, _sql_link_triangles),
    Query("fuzzy_titles", q_fuzzy_titles, _sql_fuzzy_titles),
    Query("domain_extract", q_domain_extract, _sql_domain_extract),
    Query("kde_heatmap", q_kde_heatmap, _sql_kde_heatmap),
    Query("link_bfs", q_link_bfs, _sql_link_bfs),
    Query("convex_hull", q_convex_hull, _sql_convex_hull),
    Query("moran_i", q_moran_i, _sql_moran_i),
    Query("segment_join", q_segment_join, _sql_segment_join),
    Query("hotspots_gi", q_hotspots_gi, _sql_hotspots_gi),
    Query("link_costs", q_link_costs, _sql_link_costs),
    Query("snap_join", q_snap_join, _sql_snap_join),
    Query("spatial_pipeline", q_spatial_pipeline, _sql_spatial_pipeline),
    Query("hilbert_assign", q_hilbert_assign, _sql_hilbert_assign),
    Query("geary_c", q_geary_c, _sql_geary_c),
    Query("areal_interp", q_areal_interp, _sql_areal_interp),
    Query("contact_join", q_contact_join, _sql_contact_join),
    Query("ring_validate", q_ring_validate, _sql_ring_validate),
    Query("shipping_priority", q_shipping_priority, _sql_shipping_priority),
    Query("supplier_volume", q_supplier_volume, _sql_supplier_volume),
    Query("returned_items", q_returned_items, _sql_returned_items),
    Query("large_orders", q_large_orders, _sql_large_orders),
    Query("volume_shipping", q_volume_shipping, _sql_volume_shipping),
    Query("lisa", q_lisa, _sql_lisa),
    Query("order_priority_check", q_order_priority_check, _sql_order_priority_check),
    Query("promo_share", q_promo_share, _sql_promo_share),
    Query("emerging_hotspots", q_emerging_hotspots, _sql_emerging_hotspots),
    Query("od_flows", q_od_flows, _sql_od_flows),
    Query("phrase_search", q_phrase_search, _sql_phrase_search),
    Query("query_route", q_query_route, _sql_query_route),
    Query("co_visits", q_co_visits, _sql_co_visits),
    Query("geo_terms", q_geo_terms, _sql_geo_terms),
    Query("emerging_terms", q_emerging_terms, _sql_emerging_terms_q),
    Query("regionize", q_regionize, _sql_regionize),
    # -- end of the driver window (rows 1-50) ---------------------------------
    Query("iceberg_scan", q_iceberg_scan, lambda: _SQL_ICEBERG_SCAN),
    Query("semdedup", q_semdedup, _sql_semdedup_oracle),
    # identical oracle by design: the bloom is route-only (no false
    # negatives), so the exact anti-join SQL gates both operators
    Query("incremental_bloom", q_incremental_bloom, _sql_incremental_dedup),
    Query("text_normalize", q_text_normalize, _sql_text_normalize),
    Query("text_fold", q_text_fold, _sql_text_fold),
    Query("bm25_topk", q_bm25_topk, lambda: sql_bm25_topk(
        "documents", "string_split(trim(text), ' ')",
        BM25_QUERIES, k=BM25_K,
    )),
    Query("anchor_topk", q_anchor_topk, _sql_anchor_topk),
    Query("quantile_sketch", q_quantile_sketch, lambda: sql_group_quantile_sketch(
        "documents", "lang", "len(string_split(trim(text), ' '))"
    )),
    Query("url_history", q_url_history, lambda: sql_scd2_intervals(
        f"""(SELECT 'https://s' || CAST(doc_id % {SCD2_URLS} AS VARCHAR)
                        || '.example/p' AS url,
                        doc_id AS warc_ts,
                        {SCD2_FP_DUCK} AS fp
                 FROM documents)"""
    )),
    Query("robots_gate", q_robots_gate, _sql_robots_gate),
    Query("containment_join", q_containment_join, _sql_containment_join),
    Query("bpe_train", q_bpe_train, lambda: sql_bpe_train(
        "documents",
        "list_filter(string_split(trim(text), ' '), x -> x != '')",
        BPE_MERGES,
    )),
    Query("bpe_encode", q_bpe_encode, lambda: (
        "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, "
        "md5(array_to_string(toks, ' ')) AS fp FROM ("
        + sql_bpe_encode(
            "documents",
            "list_filter(string_split(trim(text), ' '), x -> x != '')",
            BPE_ENCODE_MERGES,
            extra_cols="doc_id, ",
        )
        + ")"
    )),
    Query("lm_fluency", q_lm_fluency,
          lambda: lms.sql_trigram_fluency("documents", vocab_size=256)),
    Query("c4_clean", q_c4_clean, _sql_c4_clean_oracle),
    Query("gopher_gate", q_gopher_gate, _sql_gopher_gate_oracle),
    Query("pipeline_modern", q_pipeline_modern, _sql_pipeline_modern),
    Query("warc_roundtrip", q_warc_roundtrip, lambda: _SQL_WARC_ROUNDTRIP),
    Query("frequent_hosts", q_frequent_hosts, lambda: hh.sql_frequent_items(
        f"SELECT {_ruler_host_sql('duckdb')} AS item FROM documents",
        "item",
        num=1,
        den=20,
    )),
    Query("link_pagerank", q_link_pagerank, lambda: lg.sql_host_pagerank(
        "SELECT doc_id FROM documents", n_hosts=97, k_out=4, iters=3
    )),
    Query("zorder_layout", q_zorder_layout, lambda: sql_zorder_bucket_stats(
        _POINTS_SQL, bucket_shift_pow2=1 << 26
    )),
    Query("span_dedup", q_span_dedup, lambda: sql_dedup_substrings(
        f"(SELECT doc_id, {SPAN_GEN_SQL} AS text FROM documents)",
        SPAN_K,
    )),
    Query("s2_zonal", q_s2_zonal,
          rows_only="S2 Hilbert cells have no SQL twin; dual-implementation "
                    "pytest (tests/test_s2.py)"),
    Query("dedup_ngram_routed", q_dedup_ngram_routed,
          rows_only="recall is probabilistically bounded by design; "
                    "emitted pairs are exactness-pytested"),
    Query("dedup_keep_best", q_dedup_keep_best, lambda: dd.sql_dedup_keep_best(
        "documents", "length(text)", k=3, n_perm=8, bands=4,
        threshold=0.5,
    )),
    Query("url_blocklist", q_url_blocklist, lambda: sql_filter_blocked_hosts(
        sql_canonicalize(
            f"(SELECT doc_id, source, {BL_URL_GEN_SQL} AS url"
            " FROM documents)"
        ),
        ", ".join(f"('{d}')" for d in BL_DOMAINS),
        "doc_id, host, url_canon",
    )),
    Query("site_outlinks", q_site_outlinks,
          lambda: _sql_outlink_edges(OUTLINK_SRC_SQL)),
    Query("outlink_pagerank", q_outlink_pagerank, lambda: lg.sql_pagerank_weighted(
        _sql_outlink_edges(OUTLINK_PR_SRC_SQL), iters=3
    )),
    Query("dsir_weights", q_dsir_weights, lambda: sql_importance_weights(
        "documents", DSIR_TARGET, n_buckets=DSIR_BUCKETS
    )),
    Query("text_repetition", q_text_repetition, lambda: duck_rep_sql("documents")),
    Query("decontaminate", q_decontaminate, lambda: sql_contaminated_docs(
        "documents", "doc_id % 50 = 0", k=5
    )),
    Query("decontaminate_spans", q_decontaminate_spans, lambda: sql_decontaminate_spans(
        "documents", "doc_id % 50 = 0", k=5
    )),
    Query("sample_stratified", q_sample_stratified, lambda: (
        "SELECT doc_id, lang, source FROM documents WHERE "
        + keep_predicate(SAMPLE_RATES, dialect="duckdb")
    )),
    Query("sample_quota", q_sample_quota,
          lambda: sql_sample_quota("documents", 25, "doc_id, lang")),
    Query("mixture_sample", q_mixture_sample, lambda: sql_mixture_sample(
        "documents", MIXTURE_TARGETS,
        "len(string_split(trim(text), ' '))",
        select_cols="doc_id, d.lang AS lang",
    )),
    # the sub-document refinery chain composes the three twins by
    # nesting (each emitter's WITH is subquery-scoped in DuckDB)
    Query("refinery_subdoc", q_refinery_subdoc, lambda: sql_mixture_sample(
        "(SELECT s.doc_id, s.text_clean AS text, d.lang"
        " FROM ("
        + sql_decontaminate_spans(
            "(SELECT s.doc_id, s.text_dedup AS text, d.lang"
            " FROM ("
            + sql_dedup_substrings(
                f"(SELECT doc_id, {SPAN_GEN_SQL} AS text"
                " FROM documents)",
                SPAN_K,
            )
            + ") s JOIN documents d USING (doc_id))",
            "doc_id % 50 = 0",
            k=5,
        )
        + ") s JOIN documents d USING (doc_id))",
        MIXTURE_TARGETS,
        "len(string_split(trim(text), ' '))",
        select_cols=(
            "doc_id, d.lang AS lang,"
            " CAST(len(string_split(trim(d.text), ' ')) AS INT)"
            " AS n_tokens_clean"
        ),
    )),
    Query("fingerprint_winnow", q_fingerprint_winnow, _sql_fingerprint_winnow),
    Query("url_host_cap", q_url_host_cap, lambda: sql_cap_per_host(
        sql_canonicalize(
            f"(SELECT doc_id, source, {URL_GEN_SQL} AS url"
            " FROM documents)"
        ),
        HOST_CAP,
        "doc_id, host, url_canon",
    )),
    Query("url_latest", q_url_latest, lambda: sql_latest_snapshot(
        f"SELECT doc_id, {URL_CRAWL_SQL} AS url,"
        f" {TS_CRAWL_SQL} AS ts_epoch FROM documents",
        "doc_id, url, ts_epoch",
        ts_col="ts_epoch",
    )),
    Query("paragraph_dedup", q_paragraph_dedup,
          lambda: sql_dedup_paragraphs("documents", PARA_TOKENS)),
    Query("tfidf_topk", q_tfidf_topk, lambda: sql_distinctive_terms(
        "documents", "string_split(trim(text), ' ')", VOCAB_V, TFIDF_K
    )),
    Query("pack_sequences", q_pack_sequences, lambda: sql_pack_sequences(
        "SELECT doc_id, CAST(len(string_split(trim(text), ' '))"
        " AS BIGINT) AS n_tokens FROM documents",
        PACK_BUDGET,
        PACK_SHARDS,
        'doc_id, n_tokens, shard, bin, "offset"',
    )),
    Query("host_quality_gate", q_host_quality_gate, lambda: sql_gate_hosts_by_quality(
        "SELECT doc_id, host,"
        f" CAST({duck_stop_count('text')} AS BIGINT) AS stop_n,"
        f" CAST({duck_token_count('text')} AS BIGINT) AS n_tokens"
        " FROM ("
        + sql_canonicalize(
            f"(SELECT doc_id, source, text, {URL_GEN_SQL} AS url"
            " FROM documents)"
        )
        + ")",
        HOST_GATE_PCT,
        "doc_id, host, stop_n, n_tokens",
    )),
    Query("range_join", q_range_join,
          lambda: sql_range_join_pairs(_POINTS_SQL, RANGE_R)),
    Query("asof_join", q_asof_join, lambda: sql_asof_join(
        "SELECT event_id, user_id, ts FROM events",
        "SELECT user_id, ts, event_id AS err_id FROM events"
        " WHERE event_type = 'error'",
        key="user_id",
        ts_col="ts",
        select_cols="l.event_id AS event_id, r.err_id AS prior_err_id",
    )),
    Query("tile_compact", q_tile_compact, lambda: (
        "SELECT cell, " + RES_FROM_CELL + " AS res FROM ("
        + sql_compact_cells(
            f"SELECT {CELL_FROM_IDX} AS cell FROM ("
            "SELECT doc_id * 7 + j AS idx FROM documents,"
            " generate_series(0, 6) AS t(j))",
            input_res=9,
            min_res=5,
        )
        + ")"
    )),
    Query("corpus_refinery", q_corpus_refinery, lambda: sql_pack_sequences(
        sql_gate_hosts_by_quality(
            sql_cap_per_host(
                sql_latest_snapshot(
                    "SELECT doc_id, host, url_canon, ts_epoch,"
                    f" CAST({duck_stop_count('text')} AS BIGINT)"
                    " AS stop_n,"
                    f" CAST({duck_token_count('text')} AS BIGINT)"
                    " AS n_tokens FROM ("
                    + sql_canonicalize(
                        "(SELECT doc_id, source, text,"
                        f" {URL_GEN_SQL} AS url,"
                        f" {TS_CRAWL_SQL} AS ts_epoch FROM documents)"
                    )
                    + ")",
                    "doc_id, host, url_canon, ts_epoch,"
                    " stop_n, n_tokens",
                    url_col="url_canon",
                    ts_col="ts_epoch",
                ),
                REFINERY_CAP,
                "doc_id, host, stop_n, n_tokens",
            ),
            REFINERY_PCT,
            "doc_id, host, stop_n, n_tokens",
        ),
        REFINERY_BUDGET,
        REFINERY_SHARDS,
        'doc_id, host, n_tokens, shard, bin, "offset"',
    )),
    Query("group_quantiles", q_group_quantiles, lambda: sql_exact_group_quantiles(
        "SELECT doc_id, lang, n_chars FROM documents",
        "lang",
        "n_chars",
    )),
    Query("card_sketch", q_card_sketch, lambda: sql_distinct_sketch(
        "documents", "lang", "md5(text)"
    )),
    Query("incremental_dedup", q_incremental_dedup, _sql_incremental_dedup),
    Query("text_quality", q_text_quality, lambda: (
        "SELECT doc_id, "
        + ", ".join(f"{e} AS {k}" for k, e in ts.duck_quality_cols("text").items())
        + " FROM documents"
    )),
    Query("knn", q_knn, _sql_knn),
    Query("dedup_ngram", q_dedup_ngram,
          lambda: dd.sql_ngram_jaccard_pairs("documents", k=3, threshold=0.4)),
    Query("dedup_minhash", q_dedup_minhash,
          lambda: dd.sql_minhash_lsh_pairs("documents", k=2, n_perm=8, bands=4)),
    Query("dedup_embedding", q_dedup_embedding,
          lambda: dd.sql_embedding_dup_pairs("embeddings")),
    Query("simhash_pairs", q_simhash_pairs,
          lambda: dd.sql_simhash_pairs("documents", max_hamming=3)),
    Query("dedup_cluster", q_dedup_cluster, lambda: dd.sql_dedup_cluster(
        "documents", k=3, n_perm=8, bands=4, threshold=0.5
    )),
    Query("corpus_curation", q_corpus_curation, _sql_corpus_curation_oracle),
    Query("dedup_exact", q_dedup_exact, lambda: dd.sql_exact_dedup("documents")),
    Query("text_langid", q_text_langid,
          lambda: f"SELECT doc_id, {ts.sql_lang_id('text')} AS lang_pred FROM documents"),
    Query("tile_assign", q_tile_assign, lambda: f"""
            SELECT doc_id,
                   {hx.sql_cell('lat', 'lon', 5)} AS h3_r5,
                   {hx.sql_cell('lat', 'lon', 7)} AS h3_r7,
                   {hx.sql_cell('lat', 'lon', 9)} AS h3_r9
            FROM ({_POINTS_SQL})
        """),
    Query("ann_ivf", q_ann_ivf,
          rows_only="approximate by design; recall pytested against brute force"),
    Query("ann_ivf_recall", q_ann_ivf_recall,
          rows_only="recall-bound sentinel: 6 rows when healthy (3 queries "
                    "x 2 n_probe tiers)"),
    Query("extract_invariant", q_extract_invariant,
          rows_only="0 rows == html_to_text reproduces the generator's "
                    "text byte for byte"),
    Query("zonal_rollup", q_zonal_rollup, lambda: f"""
            SELECT {hx.sql_cell('lat', 'lon', 5)} AS h3_r5, lang, COUNT(*) AS n
            FROM ({_POINTS_SQL})
            GROUP BY 1, 2
        """),
    Query("fingerprint", q_fingerprint,
          lambda: f"SELECT doc_id, {ts.duck_fingerprint('text')} AS fp FROM documents"),
    Query("framework_detect", q_framework_detect, _sql_framework_detect_oracle),
    Query("detect_cascade", q_detect_cascade, _sql_detect_cascade),
    Query("zonal_salted", q_zonal_salted, lambda: f"""
            SELECT {hx.sql_cell('lat', 'lon', 5)} AS h3_r5, COUNT(*) AS doc_count
            FROM ({_POINTS_SQL}) GROUP BY 1
        """),
    Query("rasterize", q_rasterize, lambda: f"""
            WITH pixels AS (
              SELECT ix, iy,
                     -180.0 + (ix + 0.5) * {RASTER_PIXEL!r} AS plon,
                     -90.0 + (iy + 0.5) * {RASTER_PIXEL!r} AS plat
              FROM (SELECT CAST(i % {int(360 / RASTER_PIXEL)} AS BIGINT) AS ix,
                           CAST(FLOOR(i / {int(360 / RASTER_PIXEL)}) AS BIGINT) AS iy
                    FROM range(0, {int(360 / RASTER_PIXEL) * int(180 / RASTER_PIXEL)}) t(i))
            ),
            zonal AS (
              SELECT {hx.sql_cell('lat', 'lon', RASTER_RES)} AS cell, COUNT(*) AS doc_count
              FROM ({_POINTS_SQL}) GROUP BY 1
            )
            SELECT ix, iy, COALESCE(doc_count, 0) AS doc_count
            FROM (SELECT ix, iy, {hx.sql_cell('plat', 'plon', RASTER_RES)} AS pcell
                  FROM pixels) p
            LEFT JOIN zonal ON p.pcell = zonal.cell
        """),
    Query("geoparse_dec", q_geoparse_dec, lambda: f"""
            SELECT doc_id,
                   CAST({sql_dec_mentions('mention_text')[0]}[1] AS DOUBLE) AS mlat,
                   CAST({sql_dec_mentions('mention_text')[1]}[1] AS DOUBLE) AS mlon
            FROM (SELECT doc_id,
                         'located at ' || CAST(doc_id % 90 AS VARCHAR) || '.1234' ||
                         ', -' || CAST(doc_id % 179 AS VARCHAR) || '.5678' ||
                         ' nearby' AS mention_text
                  FROM documents)
        """),
    Query("ann_topk", q_ann_topk, lambda: """
            SELECT query_id, rank, vec_id FROM (
              SELECT q.vec_id AS query_id, v.vec_id,
                     ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_dot_product(CAST(v.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
                                / (sqrt(list_dot_product(CAST(v.embedding AS DOUBLE[]), CAST(v.embedding AS DOUBLE[])))
                                   * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))) DESC,
                                v.vec_id ASC) AS rank
              FROM embeddings v
              CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q
            ) WHERE rank <= 5
        """),
    Query("tile_parent_rollup", q_tile_parent_rollup, lambda: f"""
            SELECT {hx.sql_cell_to_parent('h3_r7')} AS h3_r6,
                   COUNT(*) AS doc_count
            FROM (SELECT {hx.sql_cell('lat', 'lon', 7)} AS h3_r7
                  FROM ({_POINTS_SQL}))
            GROUP BY 1
        """),
    Query("pip_join", q_pip_join, lambda: sql_pip_parity_join(
        f"SELECT doc_id AS pt_id, lat, lon FROM ({_POINTS_SQL})",
        edges_sql_values(N_POLYGONS),
    )),
    Query("sessionize", q_sessionize, lambda: f"""
            SELECT user_id,
                   CAST(FLOOR(epoch(session_start)) AS BIGINT) AS start_s,
                   CAST(FLOOR(epoch(session_end)) AS BIGINT) AS end_s,
                   n_events,
                   CAST(ROUND(total_value, 4) AS DOUBLE) AS total_value
            FROM ({sql_sessionize("events")})
        """),
    Query("s2_assign", q_s2_assign,
          rows_only="S2 Hilbert cells have no SQL twin; dual-implementation "
                    "pytest (tests/test_s2.py)"),
    Query("test_file_filter", q_test_file_filter, _sql_test_file_filter_oracle),
    Query("pii_redact", q_pii_redact, _sql_pii_redact_oracle),
    Query("pipeline_stats", q_pipeline_stats,
          rows_only="lineage metrics of a checkpointed pipeline run"),
    Query("window_topk", q_window_topk, lambda: """
            SELECT o_custkey, rank, o_orderkey FROM (
              SELECT o_custkey, o_orderkey,
                     ROW_NUMBER() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
              FROM orders
            ) WHERE rank <= 2
        """),
    Query("agg_histogram", q_agg_histogram, lambda: """
            -- CAST: DuckDB types SUM(INTEGER) as HUGEINT (int128) which lands in
            -- pandas as float64; Spark SUM is BIGINT. Cast for hash portability.
            SELECT lang, source, COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY lang, source
        """),
    Query("scan_filter_agg", q_scan_filter_agg, lambda: """
            SELECT CAST(ROUND(SUM(l_extendedprice * l_discount), 4) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_rows
            FROM lineitem
            WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
        """),
    Query("join_agg", q_join_agg, lambda: """
            SELECT n_name, COUNT(*) AS n_orders,
                   CAST(ROUND(SUM(o_totalprice), 2) AS DOUBLE) AS total_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """),
    Query("set_ops", q_set_ops, lambda: """
            SELECT c_custkey FROM customer
            WHERE c_custkey NOT IN
                  (SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '1%')
        """),
    Query("events_rollup", q_events_rollup, lambda: """
            SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hour_of_day, event_type,
                   COUNT(*) AS n_events,
                   CAST(ROUND(SUM(value), 4) AS DOUBLE) AS total_value
            FROM events GROUP BY 1, 2
        """),
    Query("pricing_summary", q_pricing_summary, lambda: """
            SELECT l_returnflag, l_linestatus,
                   CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS sum_qty,
                   CAST(ROUND(SUM(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
                   CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS sum_disc_price,
                   CAST(ROUND(AVG(l_quantity), 6) AS DOUBLE) AS avg_qty,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """),
    Query("semi_join", q_semi_join, lambda: """
            SELECT c_custkey, c_nationkey FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 200000)
        """),
    Query("inventory_spans", q_inventory_spans, _sql_inventory_spans_oracle),
    Query("rollup_sets", q_rollup_sets, lambda: """
            SELECT lang, source, COUNT(*) AS n_docs,
                   GROUPING(lang) AS g_lang, GROUPING(source) AS g_source
            FROM documents GROUP BY ROLLUP(lang, source)
        """),
    # expected outline counts straight from q_outline's generation rules:
    # every doc has h1+intro(2 words); %2 adds h2+3 words; %3 adds
    # h2>h3+2 words
    Query("outline", q_outline, lambda: """
            SELECT doc_id,
                   CAST(1 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
                          + CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 0 END AS BIGINT)
                     AS n_headings,
                   CAST(1 AS BIGINT) AS n_top,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN 3
                             WHEN doc_id % 2 = 0 THEN 2
                             ELSE 1 END AS INTEGER) AS max_depth,
                   CAST(2 + CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 0 END
                          + CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 0 END AS BIGINT)
                     AS n_words_total
            FROM documents
        """),
    Query("token_match", q_token_match, lambda: f"""
            SELECT DISTINCT doc_id, token FROM (
              SELECT doc_id,
                     unnest(string_split_regex(trim(text), '\\s+')) AS token
              FROM documents
            ) WHERE token IN ({", ".join(f"'{t}'" for t in GAZ_TOKENS)})
        """),
    Query("jstest_inventory", q_jstest_inventory, _sql_js_inventory_oracle),
    Query("pytest_inventory", q_pytest_inventory, _sql_py_inventory_oracle),
    Query("domain_hints", q_domain_hints, _sql_domain_hints_oracle),
    Query("native_inventory", q_native_inventory, _sql_native_inventory_oracle),
    Query("managed_inventory", q_managed_inventory, _sql_managed_inventory_oracle),
    # generation-rule oracle (q_media_pipeline docstring): DuckDB emits
    # the EXPECTED decode output straight from the doc_id templates —
    # exactness relies on gray values ≡ 128 (mod 5) round-tripping
    # bit-identically through all three codecs (pinned in tests/test_jpeg.py)
    Query("media_pipeline", q_media_pipeline, lambda: """
            SELECT doc_id,
                   CASE doc_id % 5 WHEN 1 THEN 'image/png'
                                   WHEN 2 THEN 'image/jpeg'
                                   WHEN 4 THEN 'image/jpeg'
                                   ELSE 'fakeimg/v1' END AS media_format,
                   CAST(doc_id % 5 <> 3 AS INT) AS media_ok,
                   CAST(5 + doc_id % 7 AS INT) AS width,
                   CAST(4 + doc_id % 6 AS INT) AS height,
                   CASE WHEN doc_id % 5 = 3 THEN NULL
                        ELSE CAST(128 + 5 * ((doc_id * 7) % 19 - 9) AS DOUBLE)
                   END AS thumb_v,
                   CASE WHEN doc_id % 5 = 3 THEN 'truncated_payload' END
                       AS decode_error
            FROM documents
        """),
    # generation-rule oracles (q_audio_features / q_video_frames
    # docstrings): expected rows emitted straight from the doc_id
    # templates; exactness pinned in tests/test_audio_video.py
    Query("audio_features", q_audio_features, lambda: """
            SELECT doc_id,
                   CAST(doc_id % 5 <> 4 AS INT) AS audio_ok,
                   CAST(1 + doc_id % 2 AS INT) AS channels,
                   CAST(8000 AS INT) AS sample_rate,
                   CASE WHEN doc_id % 5 = 4 THEN NULL
                        ELSE CAST(64 + doc_id % 97 AS BIGINT) END AS n_samples,
                   CASE WHEN doc_id % 5 = 4 THEN NULL
                        ELSE CAST(64 + doc_id % 97 AS DOUBLE) / 8000.0
                   END AS duration_s,
                   CASE WHEN doc_id % 5 = 4 THEN NULL
                        ELSE CAST(100 + (doc_id * 11) % 900 AS INT)
                   END AS peak_amp,
                   CASE WHEN doc_id % 5 = 4 THEN NULL
                        ELSE CAST(100 + (doc_id * 11) % 900 AS DOUBLE)
                   END AS mean_abs,
                   CASE WHEN doc_id % 5 = 4 THEN 'truncated_payload' END
                       AS audio_error
            FROM documents
        """),
    Query("video_frames", q_video_frames, lambda: """
            SELECT d.doc_id,
                   CAST(1 AS INT) AS video_ok,
                   CAST(2 + d.doc_id % 5 AS INT) AS n_frames,
                   CAST(f.frame_idx AS INT) AS frame_idx,
                   CAST(6 + d.doc_id % 5 AS INT) AS frame_w,
                   CAST(5 + d.doc_id % 4 AS INT) AS frame_h,
                   CAST(128 + 5 * ((d.doc_id * 7 + f.frame_idx * 3) % 19 - 9)
                        AS DOUBLE) AS frame_mean,
                   CAST(NULL AS VARCHAR) AS video_error
            FROM documents d
            CROSS JOIN (VALUES (0), (2), (4)) AS f(frame_idx)
            WHERE d.doc_id % 7 <> 6 AND f.frame_idx < 2 + d.doc_id % 5
            UNION ALL
            SELECT doc_id, CAST(0 AS INT), NULL, NULL, NULL, NULL, NULL,
                   'mjpeg_truncated_frame'
            FROM documents WHERE doc_id % 7 = 6
        """),
    Query("multimodal_curation", q_multimodal_curation,
          _sql_multimodal_curation_oracle),
    Query("crawl_budget", q_crawl_budget, _sql_crawl_budget),
    Query("map_match", q_map_match, _sql_map_match),
    Query("zorder_bbox", q_zorder_bbox, _sql_zorder_bbox),
    Query("stay_points", q_stay_points, _sql_stay_points),
    Query("mirror_hosts", q_mirror_hosts, _sql_mirror_hosts),
    Query("link_kcore", q_link_kcore, _sql_link_kcore),
    Query("link_clustering", q_link_clustering, _sql_link_clustering),
    Query("geo_mentions", q_geo_mentions, _sql_geo_mentions),
    Query("variogram", q_variogram, _sql_variogram),
    Query("link_predict", q_link_predict, _sql_link_predict),
    Query("kn_counts", q_kn_counts, _sql_kn_counts),
    Query("idw", q_idw, _sql_idw),
    Query("collocations", q_collocations, _sql_collocations),
    Query("theil_sen", q_theil_sen, _sql_theil_sen),
    Query("hausdorff", q_hausdorff, _sql_hausdorff),
    Query("link_assortativity", q_link_assortativity, _sql_link_assortativity),
    Query("skipgram", q_skipgram, _sql_skipgram),
    Query("host_gini", q_host_gini, _sql_host_gini),
    Query("tile_diversity", q_tile_diversity, _sql_tile_diversity),
    Query("ripley", q_ripley, _sql_ripley),
    Query("tile_richness", q_tile_richness, _sql_tile_richness),
    Query("rank_stability", q_rank_stability, _sql_rank_stability),
    Query("quality_shift", q_quality_shift, _sql_quality_shift),
    Query("knox", q_knox, _sql_knox),
    Query("colocation", q_colocation, _sql_colocation),
    Query("volume_shift", q_volume_shift, _sql_volume_shift),
    Query("host_keyness", q_host_keyness, _sql_host_keyness),
    Query("volume_acf", q_volume_acf, _sql_volume_acf),
    Query("quadrat", q_quadrat, _sql_quadrat),
    Query("lang_segregation", q_lang_segregation, _sql_lang_segregation),
    Query("crawl_burstiness", q_crawl_burstiness, _sql_crawl_burstiness),
    Query("user_streaks", q_user_streaks, _sql_user_streaks),
    Query("funnel", q_funnel, _sql_funnel),
    Query("kanon_audit", q_kanon_audit, _sql_kanon_audit),
    Query("cohort_retention", q_cohort_retention, _sql_cohort_retention),
    Query("ldiv_audit", q_ldiv_audit, _sql_ldiv_audit),
    Query("click_leads_purchase", q_click_leads_purchase, _sql_click_leads_purchase),
    Query("geo_report", q_geo_report, _sql_geo_report),
    Query("warc_scan", q_warc_scan, _sql_warc_scan),
    Query("langid_eval", q_langid_eval, _sql_langid_eval),
    Query("robust_host_score", q_robust_host_score, _sql_robust_host_score),
    Query("link_reciprocity", q_link_reciprocity, _sql_link_reciprocity),
    Query("degree_tail", q_degree_tail, _sql_degree_tail),
    Query("user_survival", q_user_survival, _sql_user_survival),
    Query("length_drift", q_length_drift, _sql_length_drift),
    Query("revenue_forecast", q_revenue_forecast, _sql_revenue_forecast),
    Query("market_share", q_market_share, _sql_market_share),
    Query("product_profit", q_product_profit, _sql_product_profit),
    Query("late_shipments", q_late_shipments, _sql_late_shipments),
    Query("cust_order_dist", q_cust_order_dist, _sql_cust_order_dist),
    Query("part_value_share", q_part_value_share, _sql_part_value_share),
    Query("supplier_cardinality", q_supplier_cardinality, _sql_supplier_cardinality),
    Query("small_qty_revenue", q_small_qty_revenue, _sql_small_qty_revenue),
    Query("waiting_suppliers", q_waiting_suppliers, _sql_waiting_suppliers),
    Query("idle_customers", q_idle_customers, _sql_idle_customers),
    Query("min_cost_supplier", q_min_cost_supplier, _sql_min_cost_supplier),
    Query("rollup_report", q_rollup_report, _sql_rollup_report),
    Query("pivot_report", q_pivot_report, _sql_pivot_report),
    Query("revenue_trend", q_revenue_trend, _sql_revenue_trend),
    Query("session_markov", q_session_markov, _sql_session_markov),
    Query("profile_table", q_profile_table, _sql_profile_table),
    Query("benford_audit", q_benford_audit, _sql_benford_audit),
    Query("host_outliers", q_host_outliers, _sql_host_outliers),
    Query("volume_spikes", q_volume_spikes, _sql_volume_spikes),
    Query("link_communities", q_link_communities, _sql_link_communities),
    Query("ab_test", q_ab_test, _sql_ab_test),
    Query("decayed_counts", q_decayed_counts, _sql_decayed_counts),
    Query("time_weighted_avg", q_time_weighted_avg, _sql_time_weighted_avg),
    Query("sliding_rate", q_sliding_rate, _sql_sliding_rate),
    Query("cdc_merge", q_cdc_merge, _sql_cdc_merge),
    Query("geofence_events", q_geofence_events, _sql_geofence_events),
    Query("frechet", q_frechet, _sql_frechet),
    Query("rake_keywords", q_rake_keywords, _sql_rake_keywords),
    Query("attribution", q_attribution, _sql_attribution),
    Query("pareto_front", q_pareto_front, _sql_pareto_front),
    Query("link_ppr", q_link_ppr, _sql_link_ppr),
    Query("abc_classes", q_abc_classes, _sql_abc_classes),
    Query("skew_report", q_skew_report, _sql_skew_report),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.build for q in REGISTRY}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle() for q in REGISTRY if q.oracle is not None}
