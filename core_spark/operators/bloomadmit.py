"""Bloom-gated incremental crawl admission — the shuffle-free ledger
probe for recurring-snapshot corpus maintenance at 10^12-fingerprint
scale.

``dedup.admit_new_docs`` is the exact operator: a shuffle anti-join of
the new batch against the EXISTING fingerprint ledger. Correct at any
scale, but the ledger side of that anti-join is every fingerprint ever
admitted — at web scale it rivals the corpus, and re-shuffling it for
every incoming snapshot is the dominant cost of ingestion.

The classical fix (Bloom 1970; the shape every production ingest
pipeline uses) exploits that a Bloom filter has NO false negatives:

  1. build   per-BUCKET Bloom bitmaps over the ledger — one scan, one
             uniform-(bucket, word)-key hash-agg, no ledger shuffle.
             Bucketing is what makes 10^12 work: a single monolithic
             filter for 10^12 keys is ~TB-scale (unbroadcastable), but
             per-bucket bitmaps are row-sized values in an ordinary
             table, bitwise-OR mergeable (build(A) ⊕ build(B) ≡
             build(A ∪ B); see merge_bloom_words). The operator builds
             them from the ledger in the same job.
  2. probe   the new batch's winners join the bucket bitmaps on the
             uniform bucket key (tiny vs the ledger) and evaluate the
             k bit-tests JVM-side. Definite misses — the overwhelming
             majority of a crawl batch — are admitted with NO ledger
             access at all.
  3. verify  only the maybe-hits (true dups + the fp-rate sliver of
             the batch) go to an EXACT membership check, and because
             that set is small it BROADCASTS: the ledger is probed
             map-side by a broadcast semi-join — scanned in place,
             never shuffled — and admission is a broadcast anti-join
             against the confirmed-present set.

Net: the ledger is scanned (twice) but never shuffled, and nothing
bigger than the maybe-hit set crosses the network. The output is
PROVABLY identical to admit_new_docs (no false negatives ⇒ every
ledger member reaches the exact check), so the operator inherits the
exact-anti-join SQL oracle unchanged — the bloom can only affect the
route, never the answer. If the maybe-hit set ever exceeds broadcast
size (mass-recrawl batches), fall back to admit_new_docs — same
output, one ledger shuffle.

Hashes are the repo's portable md5 recipe (k salted positions per
fingerprint); no Python touches row data anywhere.

No reference counterpart (specvital/core has no corpus subsystem).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..plans.materialize import pin

BLOOM_K = 4  # hash functions; optimal fpr when m_bits/n_keys ≈ 5.8·K/4


def _pos_expr(fp_col: str, salt: int, m_bits: int) -> str:
    """md5-derived bit position in [0, m_bits) — 15 hex digits < 2^60,
    always nonnegative, so plain % is safe."""
    return (
        f"CAST(conv(substr(md5(concat(CAST({fp_col} AS STRING), '_bl{salt}')),"
        f" 1, 15), 16, 10) AS BIGINT) % {m_bits}"
    )


def _bucket_expr(fp_col: str, n_buckets: int) -> str:
    return (
        f"CAST(conv(substr(md5(concat(CAST({fp_col} AS STRING), '_bk')),"
        f" 1, 15), 16, 10) AS BIGINT) % {n_buckets}"
    )


def bloom_words(ledger, fp_col: str = "fp", n_buckets: int = 64,
                m_bits: int = 1 << 16):
    """(bucket, w, word) bit-level Bloom content over the ledger.

    The mergeable granularity: blooms of ledger shards combine by
    bitwise-OR of word cells (merge_bloom_words), so the filter is
    maintained incrementally — fold in each admitted batch instead of
    rebuilding over 10^12 rows. One explode(k) + one hash-agg on the
    uniform (bucket, w) key; map-side combine collapses the explosion.
    """
    hashes = ", ".join(_pos_expr(fp_col, i, m_bits) for i in range(BLOOM_K))
    return (
        ledger.selectExpr(
            f"{_bucket_expr(fp_col, n_buckets)} AS bucket",
            f"explode(array({hashes})) AS pos")
        .selectExpr("bucket", "CAST(pos DIV 64 AS INT) AS w",
                    "CAST(pos % 64 AS INT) AS b")
        .groupBy("bucket", "w")
        .agg(F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), b))").alias("word"))
    )


def merge_bloom_words(*word_tables):
    """OR-merge shard blooms (build(A) ⊕ build(B) ≡ build(A ∪ B))."""
    out = word_tables[0]
    for t in word_tables[1:]:
        out = out.unionAll(t)
    return (out.groupBy("bucket", "w")
            .agg(F.expr("bit_or(word)").alias("word")))


def pack_bloom(words):
    """(bucket, bloom_words map<int,bigint>) — one row per bucket; the
    probe-side representation (sparse map: absent word ⇒ all-zero)."""
    return words.groupBy("bucket").agg(F.expr(
        "map_from_entries(collect_list(struct(w, word)))"
    ).alias("bloom_words"))


def admit_new_docs_bloom(existing, new, key: str = "doc_id",
                         fp_col: str = "fp", n_buckets: int = 64,
                         m_bits: int = 1 << 16):
    """Bloom-gated admission; output ≡ dedup.admit_new_docs exactly.

    The bloom is built from ``existing`` in the same job (shuffle-free on
    the ledger).
    """
    bloom = pack_bloom(
        bloom_words(existing.select(fp_col), fp_col, n_buckets, m_bits))

    winners = new.groupBy(fp_col).agg(F.min(key).alias(key))
    flagged = (
        winners
        .withColumn("bucket", F.expr(_bucket_expr(fp_col, n_buckets)))
        .join(bloom, "bucket", "left")
    )
    # stepwise h columns (CLAUDE.md rule), then bit tests over plain refs
    h_steps = {
        f"_h{i}": F.expr(_pos_expr(fp_col, i, m_bits))
        for i in range(BLOOM_K)
    }
    tests = " AND ".join(
        f"(coalesce(try_element_at(bloom_words, CAST(_h{i} DIV 64 AS INT)),"
        f" CAST(0 AS BIGINT))"
        f" & shiftleft(CAST(1 AS BIGINT), CAST(_h{i} % 64 AS INT))) <> 0"
        for i in range(BLOOM_K)
    )
    flagged = (
        flagged.withColumns(h_steps)
        .withColumn("_maybe", F.expr(tests))
        .select(key, fp_col, "_maybe")
    )
    flagged = flagged.transform(pin)  # feeds cand + the final anti-join

    cand = flagged.filter("_maybe").select(fp_col)
    present = (
        existing.select(fp_col)
        .join(F.broadcast(cand), fp_col, "left_semi")
        .distinct()
    )
    return (
        flagged.join(F.broadcast(present), fp_col, "left_anti")
        .select(key, fp_col)
    )
