"""BM25-shaped full-text retrieval: broadcast query terms, top-k per query.

The classic lexical-retrieval primitive a training-data pipeline uses for
benchmark decontamination lookups, seed-set expansion ("find more docs like
these queries"), and eval-set mining. Shape:

  - the query set is tiny and known up front (tens of term sets) — its
    distinct terms CROSS the corpus as a broadcast literal, so per-doc work
    is O(|Q| * doclen) inside whole-stage codegen, and docs containing no
    query term are dropped map-side by an ``arrays_overlap`` pre-filter
    (never shuffled);
  - per-term document frequency comes from the SAME candidate table (tf>0
    is exactly "doc contains term"), one tiny hash-agg, broadcast back;
  - corpus stats (N docs, T total tokens) are a 1-row aggregate cross-joined
    in (broadcast-by-construction);
  - scores aggregate on the uniform (query_id, doc_id) key with map-side
    combine, and the final top-k is a rank<=k window that Spark's
    InferWindowGroupLimit rewrites into per-partition partial limits — no
    full sort of the candidate set ever materializes.

The candidate table feeds two branches (document frequency + scoring), so
it pins via ``plans.materialize.pin`` (CLAUDE.md multi-consumer rule).

Scoring is ORACLE-PORTABLE: every quantity is BIGINT and every division
is truncating integer division (Spark ``DIV`` == DuckDB ``//`` for the
all-positive operands here), so the score is bit-identical cross-engine.
BM25's tf saturation term ``tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``
is computed as an exact rational by clearing denominators — with
k1 = a/c, b = p/q and avgdl = T/N:

    tf_component = (tf*(a+c)*q*T*SCALE)  DIV  (c*q*T*tf + a*(q-p)*T + a*p*dl*N)

and the idf is the same integer rarity weight ``(N*RARITY) DIV df`` that
``lmscore.py`` uses — monotone in 1/df (rarer terms weigh more), portable
by construction. Operating envelope (documented, like lm_fluency): exact
while ``tf*(a+c)*q*T*SCALE < 2**63`` — with the defaults that is ~2e13
corpus tokens per stats scope.

No reference counterpart (specvital/core has no retrieval subsystem); the
formula is Robertson & Zaragoza 2009 ("The Probabilistic Relevance
Framework: BM25 and Beyond").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from core_spark.plans.materialize import pin

#: fixed-point scales (module constants so the SQL twin stays in lockstep)
SCALE = 1_000_000
RARITY = 1_000_000
#: k1 = K1_NUM/K1_DEN = 1.2, b = B_NUM/B_DEN = 0.75 (the standard defaults)
K1_NUM, K1_DEN = 6, 5
B_NUM, B_DEN = 3, 4


def _int_contrib_sql(dialect: str) -> str:
    """The integer score contribution for one (doc, term) pair, given
    columns tf, dl, df_t, n_docs, t_tokens (all BIGINT)."""
    div = "DIV" if dialect == "spark" else "//"
    a, c, p, q = K1_NUM, K1_DEN, B_NUM, B_DEN
    num = f"tf * {(a + c) * q} * t_tokens * {SCALE}"
    den = f"{c * q} * t_tokens * tf + {a * (q - p)} * t_tokens + {a * p} * dl * n_docs"
    # identical expression either way — only the integer-division token
    # differs between the dialects
    return f"(({num}) {div} ({den})) * ((n_docs * {RARITY}) {div} df_t)"


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[str, list[str]]],
    k: int = 5,
    toks_col: str = "toks",
    key: str = "doc_id",
) -> DataFrame:
    """Top-k docs per query by BM25-shaped score.

    ``queries`` is a literal list of (query_id, [terms]) — the driver-side
    query workload, broadcast everywhere it is used. Output:
    (query_id, doc_id, score, rank), rank 1-based BIGINT, ties broken by
    doc_id ASC; score is BIGINT.
    """
    spark = docs.sparkSession
    all_terms = sorted({t for _, terms in queries for t in terms})
    # literal tables built JVM-side (range + explode of a struct-array
    # literal): createDataFrame would route them through the Python-RDD
    # path (applySchemaToPythonRDD), spinning a Python worker stage into
    # an otherwise all-JVM plan — measured seconds of per-pass overhead
    qterms = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(qid).alias("query_id"), F.lit(t).alias("term")
                        )
                        for qid, terms in queries
                        for t in sorted(set(terms))
                    ]
                )
            ).alias("_s")
        )
        .select("_s.query_id", "_s.term")
    )
    terms_df = (
        spark.range(1)
        .select(F.explode(F.array(*[F.lit(t) for t in all_terms])).alias("term"))
    )

    # map-side pre-filter: docs with no query term never leave the scan
    base = docs.select(
        F.col(key), F.col(toks_col).alias("_toks"),
        F.size(toks_col).cast("long").alias("dl"),
    ).filter(F.arrays_overlap("_toks", F.lit(all_terms)))

    # candidate (doc, term) pairs with within-row tf — multi-consumer, pinned
    cand = pin(
        base.crossJoin(F.broadcast(terms_df))
        .withColumn(
            "tf", F.expr("size(filter(_toks, x -> x = term))").cast("long")
        )
        .filter(F.col("tf") > 0)
        .drop("_toks")
    )

    dfreq = cand.groupBy("term").agg(F.count("*").alias("df_t"))
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks_col)).cast("long").alias("t_tokens"),
    )

    scored = (
        cand.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("_contrib", F.expr(_int_contrib_sql("spark")))
        .groupBy("query_id", key)
        .agg(F.sum("_contrib").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(key).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", key, "score", "rank")
    )


def sql_bm25_topk(
    table: str,
    toks_sql: str,
    queries: list[tuple[str, list[str]]],
    k: int = 5,
    key: str = "doc_id",
) -> str:
    """DuckDB oracle twin of ``bm25_topk`` — an independent plan
    (list_contains theta join + full window, no pre-filter/broadcast
    structure) over the same integer math.
    """
    qvals = ", ".join(
        "('{}', [{}])".format(qid, ", ".join(f"'{t}'" for t in sorted(set(ts))))
        for qid, ts in queries
    )
    contrib = _int_contrib_sql("duck")
    return f"""
        WITH docs AS (
          SELECT {key}, {toks_sql} AS _toks,
                 CAST(len({toks_sql}) AS BIGINT) AS dl
          FROM {table}
        ), stats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS BIGINT) AS t_tokens
          FROM docs
        ), q AS (
          SELECT query_id, unnest(terms) AS term
          FROM (VALUES {qvals}) AS _q(query_id, terms)
        ), cand AS (
          SELECT d.{key} AS {key}, d.dl AS dl, t.term AS term,
                 CAST(len(list_filter(d._toks, x -> x = t.term)) AS BIGINT) AS tf
          FROM docs d JOIN (SELECT DISTINCT term FROM q) t
            ON list_contains(d._toks, t.term)
        ), dfreq AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM cand GROUP BY term
        ), scored AS (
          SELECT q.query_id AS query_id, c.{key} AS {key},
                 CAST(SUM({contrib}) AS BIGINT) AS score
          FROM cand c
          JOIN dfreq f USING (term)
          JOIN q ON q.term = c.term
          CROSS JOIN stats
          GROUP BY q.query_id, c.{key}
        )
        SELECT query_id, {key}, score, rank FROM (
          SELECT query_id, {key}, score,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score DESC, {key} ASC
                 ) AS BIGINT) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """
