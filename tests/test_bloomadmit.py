"""Bloom-gated admission (operators/bloomadmit.py) gates.

The load-bearing property is EXACT equivalence with the shuffle
anti-join operator (no false negatives ⇒ the bloom affects only the
route); plus mergeability (incremental ledger maintenance) and the
shuffle-free plan shape on the ledger side.
"""

import pytest
from pyspark.sql import functions as F

from core_spark.operators.bloomadmit import (
    admit_new_docs_bloom, bloom_words, merge_bloom_words,
)
from core_spark.operators.dedup import admit_new_docs


def _fixture(spark, n=400, overlap_every=3, within_dup_every=5):
    """Existing/new tables with cross-ledger hits AND within-batch dups."""
    docs = spark.range(0, n).selectExpr(
        "id AS doc_id",
        # fp collides across the ledger boundary every `overlap_every`
        # and within the new batch every `within_dup_every`
        f"md5(CAST(CASE WHEN id % {overlap_every} = 0 THEN id DIV 2 "
        f"     WHEN id % {within_dup_every} = 0 THEN -7 "
        f"     ELSE id END AS STRING)) AS fp",
    )
    return docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")


def test_equivalent_to_exact_anti_join(spark):
    existing, new = _fixture(spark)
    exact = {(r.doc_id, r.fp)
             for r in admit_new_docs(existing, new).collect()}
    got = {(r.doc_id, r.fp)
           for r in admit_new_docs_bloom(existing, new).collect()}
    assert got == exact
    assert 0 < len(got) < new.count()  # both rejection paths actually bit


@pytest.mark.parametrize("m_bits,n_buckets", [(256, 2), (1 << 16, 64)])
def test_equivalence_is_size_independent(spark, m_bits, n_buckets):
    """Even a saturated, tiny filter (high fp rate) stays exact — false
    positives only grow the verification set, never the output."""
    existing, new = _fixture(spark)
    exact = {(r.doc_id, r.fp)
             for r in admit_new_docs(existing, new).collect()}
    got = {(r.doc_id, r.fp)
           for r in admit_new_docs_bloom(
               existing, new, n_buckets=n_buckets, m_bits=m_bits).collect()}
    assert got == exact


def test_merge_equals_build_on_union(spark):
    existing, _ = _fixture(spark)
    a = existing.filter("doc_id % 4 = 0").select("fp")
    b = existing.filter("doc_id % 4 = 2").select("fp")
    merged = {tuple(r) for r in merge_bloom_words(
        bloom_words(a), bloom_words(b)).collect()}
    union = {tuple(r) for r in bloom_words(a.unionAll(b)).collect()}
    assert merged == union


def test_empty_sides(spark):
    existing, new = _fixture(spark)
    none = existing.filter(F.lit(False))
    # empty ledger: every winner admitted
    winners = new.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    assert admit_new_docs_bloom(none, new).count() == winners.count()
    # empty batch: nothing admitted
    assert admit_new_docs_bloom(existing, none).count() == 0


def test_ledger_is_never_shuffle_joined(spark, monkeypatch):
    """The whole point: no sort-merge/shuffled join anywhere — the
    ledger is probed by a broadcast semi-join in place. (pin stubbed to
    identity so the full lineage is one visible plan.)"""
    import core_spark.operators.bloomadmit as ba
    monkeypatch.setattr(ba, "pin", lambda df, **kw: df)
    existing, new = _fixture(spark)
    plan = admit_new_docs_bloom(existing, new)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # semi probe + anti admit
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
