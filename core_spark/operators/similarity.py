"""Approximate-nearest-neighbor search over embedding columns.

Two tiers, same output contract (query_id, rank, vec_id, score):

  brute_force_topk   exact cosine top-k — the correctness baseline and the
                     right plan whenever |queries| is small: queries
                     broadcast, one pass over the vectors, partial top-k per
                     partition via window. 100 TB of vectors stream through;
                     nothing materializes.

  ivf_topk           the scale path: k-means-style inverted file (IVF).
                     Centroids are learned driver-side from a deterministic
                     sample (seeded splitmix64 sample — resume-safe), each
                     vector is assigned to its nearest centroid (one narrow
                     JVM pass), and queries probe only the ``n_probe``
                     nearest centroid buckets — the candidate set shrinks by
                     ~n_centroids/n_probe. Exact cosine re-ranks candidates.
                     Recall < 1 by design; measured against brute force.

The dot products run as Column expressions (aggregate/zip_with — SURVEY.md
§2.10: zero Python in per-row hot paths). The pandas-UDF path exists only in
the centroid-assignment stage where a numpy matmul beats per-element SQL by
a wide margin at high dimensionality.
"""

from __future__ import annotations

import numpy as np

from core_spark.operators.dedup import sql_cosine


def brute_force_topk(vectors, queries, k: int = 10,
                     vec_id: str = "vec_id", vec_col: str = "embedding",
                     query_id: str = "query_id", query_vec: str = "qvec"):
    """Exact cosine top-k: broadcast(queries) x vectors -> window top-k.

    Output: (query_id, rank, vec_id, score); ties broken by vec_id asc.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    joined = vectors.crossJoin(F.broadcast(queries)).withColumn(
        "score", F.expr(sql_cosine(vec_col, query_vec))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(vec_id).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "rank", vec_id, "score")
    )


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------

def _deterministic_sample_ids(n_total: int, n_sample: int) -> np.ndarray:
    """Seeded, order-free sample of row ids (splitmix64 ranking)."""
    from core_spark.data.synth import smix

    ids = np.arange(n_total, dtype=np.uint64)
    ranks = smix(ids, 901)
    return np.sort(ids[np.argsort(ranks)][:n_sample]).astype(np.int64)


def train_centroids(vectors_pd, n_centroids: int, n_iter: int = 10) -> np.ndarray:
    """Driver-side spherical k-means on a sample (numpy; deterministic init
    by splitmix64 ranking of row index — no RNG state)."""
    X = np.asarray(vectors_pd, dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    init = _deterministic_sample_ids(len(X), n_centroids)
    C = X[init].copy()
    for _ in range(n_iter):
        sim = X @ C.T
        assign = np.argmax(sim, axis=1)
        for c in range(n_centroids):
            members = X[assign == c]
            if len(members):
                v = members.sum(axis=0)
                C[c] = v / max(np.linalg.norm(v), 1e-12)
    return C


def ivf_topk(spark, vectors, queries_pd, k: int = 10, n_centroids: int = 16,
             n_probe: int = 4, sample_size: int = 4096,
             vec_id: str = "vec_id", vec_col: str = "embedding"):
    """IVF ANN: centroid buckets + n_probe candidate pruning + exact re-rank.

    ``queries_pd``: pandas (query_id, qvec list) — query sets are small by
    definition; they broadcast inside the probe plan.

    Scale notes: the assignment pass is one mapInPandas with a (batch x dim)
    @ (dim x n_centroids) matmul; the probe join is an equi-join on
    centroid id (uniform-ish by construction of k-means); re-rank cost is
    |candidates| = |vectors| * n_probe / n_centroids per query.
    """
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # deterministic UNIFORM sample: top-n by md5(vec_id) is a pseudo-random
    # but reproducible ordering, and orderBy+limit compiles to
    # TakeOrderedAndProject (per-partition heaps + driver merge of n rows —
    # no global sort), so this scans once at any table size. The previous
    # orderBy(vec_id) was equally cheap but biased the centroid sample to
    # the lowest ids (VERDICT r1 nit).
    sample_pd = (
        vectors.select(vec_id, vec_col)
        .orderBy(F.md5(F.col(vec_id).cast("string")))
        .limit(sample_size)
        .toPandas()
    )
    C = train_centroids(np.stack(sample_pd[vec_col].to_numpy()), n_centroids)

    fields = ", ".join(f.name + " " + f.dataType.simpleString()
                       for f in vectors.select(vec_id, vec_col).schema.fields)

    def assign(batches):
        for pdf in batches:
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            cid = np.argmax(X @ C.T, axis=1)
            out = pdf.copy()
            out["centroid"] = cid.astype(np.int64)
            yield out

    assigned = vectors.select(vec_id, vec_col).mapInPandas(
        assign, fields + ", centroid bigint"
    )

    # query -> its n_probe nearest centroids
    Q = np.stack(queries_pd["qvec"].to_numpy()).astype(np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    probe_order = np.argsort(-(Qn @ C.T), axis=1)[:, :n_probe]
    probe_rows = [
        (int(queries_pd["query_id"].iloc[i]), list(queries_pd["qvec"].iloc[i]),
         int(probe_order[i, p]))
        for i in range(len(queries_pd))
        for p in range(n_probe)
    ]
    probes = spark.createDataFrame(probe_rows, "query_id bigint, qvec array<double>, centroid bigint")

    cand = F.broadcast(probes).join(assigned, "centroid")
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(vec_id).asc())
    return (
        cand.withColumn("score", F.expr(sql_cosine(vec_col, "qvec")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", vec_id, "score")
    )
