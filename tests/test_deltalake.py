"""Delta-lite (sources/deltalake.py) gates.

The reader implements the PUBLIC Delta transaction-log protocol; these
tests pin the full replay chain on a real on-disk table — version /
timestamp time travel, copy-on-write deletes, plan-time partition
pruning, checkpoint + log-cleanup reconstruction — plus the protocol's
hard-fail arms (deletion vectors, unknown reader features, log gaps,
malformed actions).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from core_spark.sources.deltalake import (
    DeltaFixtureWriter, load_delta_snapshot, plan_delta_files, read_delta,
)


@pytest.fixture()
def corpus(spark):  # noqa: F811
    return spark.range(0, 120).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
         .when(F.col("id") % 3 == 1, "de")
         .otherwise("fr").alias("lang"),
        F.md5(F.col("id").cast("string")).alias("text"))


def _write_table(spark, corpus, path, partition=True):  # noqa: F811
    w = DeltaFixtureWriter(
        str(path), corpus.schema,
        partition_cols=["lang"] if partition else ())
    v1 = w.append(corpus, n_files=3)
    v2 = w.delete_where(spark, F.col("doc_id") % 7 == 3)
    return w, (v1, v2)


_DELETED = {i for i in range(120) if i % 7 == 3}


class TestSnapshots:
    def test_special_char_partition_values_roundtrip(self, spark, corpus,
                                                     tmp_path):
        """add.path is an RFC 2396-encoded URI (PROTOCOL.md): a partition
        value with ':' is Hive-escaped on disk (%3A) and double-encoded
        in the log (%253A) — the reader must decode it back to a real
        file, partitionValues must carry the LOGICAL string, and a
        pruned read on the logical value must match."""
        df = corpus.withColumn(
            "lang",
            F.when(F.col("lang") == "en", F.lit("t:colon / slash"))
             .otherwise(F.col("lang")))
        w = DeltaFixtureWriter(str(tmp_path), df.schema,
                               partition_cols=["lang"])
        w.append(df, n_files=2)
        snap = load_delta_snapshot(str(tmp_path))
        special = [a for a in snap["adds"].values()
                   if a["partitionValues"].get("lang") == "t:colon / slash"]
        assert special, "logical partitionValues must be decoded"
        assert any("%253A" in a["path"] for a in special), \
            "log path must double-encode the Hive-escaped colon"
        got = {r.doc_id for r in read_delta(spark, str(tmp_path)).collect()}
        assert got == set(range(120))
        pruned = read_delta(
            spark, str(tmp_path),
            partition_filter={"lang": "t:colon / slash"})
        assert {r.doc_id for r in pruned.collect()} == \
            {i for i in range(120) if i % 3 == 0}

    def test_replay_and_copy_on_write_delete(self, spark, corpus, tmp_path):
        _write_table(spark, corpus, tmp_path)
        got = {r.doc_id for r in read_delta(spark, str(tmp_path)).collect()}
        assert got == set(range(120)) - _DELETED

    def test_values_and_column_order_survive(self, spark, corpus, tmp_path):
        """Byte-level fidelity + declared column order (partition columns
        come back in schema position, not appended last)."""
        w = DeltaFixtureWriter(str(tmp_path), corpus.schema,
                               partition_cols=["lang"])
        w.append(corpus, n_files=2)
        df = read_delta(spark, str(tmp_path))
        assert [f.name for f in df.schema.fields] == ["doc_id", "lang", "text"]
        got = [tuple(r) for r in df.orderBy("doc_id").collect()]
        exp = [tuple(r) for r in corpus.orderBy("doc_id").collect()]
        assert got == exp

    def test_time_travel_by_version_and_timestamp(self, spark, corpus,
                                                  tmp_path):
        w, (v1, v2) = _write_table(spark, corpus, tmp_path)
        assert read_delta(spark, str(tmp_path), version=v1).count() == 120
        assert read_delta(spark, str(tmp_path), version=0).count() == 0
        # In-Commit-Timestamp clock: v0=+60s, v1=+120s, v2=+180s
        t_v1 = 1_700_000_000_000 + 120_000
        assert read_delta(spark, str(tmp_path), as_of_ms=t_v1).count() == 120
        assert read_delta(spark, str(tmp_path),
                          as_of_ms=t_v1 + 59_999).count() == 120
        assert read_delta(spark, str(tmp_path),
                          as_of_ms=t_v1 + 60_000).count() == 120 - len(_DELETED)
        with pytest.raises(ValueError, match="no commit at or before"):
            load_delta_snapshot(str(tmp_path),
                                as_of_ms=1_700_000_000_000 + 59_999)

    def test_empty_snapshot_keeps_schema(self, spark, corpus, tmp_path):
        DeltaFixtureWriter(str(tmp_path), corpus.schema,
                           partition_cols=["lang"])
        df = read_delta(spark, str(tmp_path))  # v0: metaData only, no adds
        assert df.count() == 0
        assert [f.name for f in df.schema.fields] == ["doc_id", "lang", "text"]


class TestPartitionPruning:
    def test_prunes_at_plan_time(self, spark, corpus, tmp_path):
        _write_table(spark, corpus, tmp_path)
        df = read_delta(spark, str(tmp_path), partition_filter={"lang": "en"})
        rows = df.collect()
        assert {r.doc_id for r in rows} == \
            {i for i in range(0, 120, 3)} - _DELETED
        assert all(r.lang == "en" for r in rows)
        # the pruning already happened in the PLAN: only en files are read
        assert df.inputFiles() and all(
            "lang=en" in f for f in df.inputFiles())

    def test_prune_to_nothing_and_unknown_column(self, spark, corpus,
                                                 tmp_path):
        _write_table(spark, corpus, tmp_path)
        assert read_delta(spark, str(tmp_path),
                          partition_filter={"lang": "xx"}).count() == 0
        with pytest.raises(ValueError, match="not partition columns"):
            read_delta(spark, str(tmp_path),
                       partition_filter={"doc_id": "3"})

    def test_partition_values_come_from_the_log(self, spark, corpus,
                                                tmp_path):
        _write_table(spark, corpus, tmp_path)
        snap = load_delta_snapshot(str(tmp_path))
        adds = plan_delta_files(str(tmp_path), snap)
        assert adds and all(a["partitionValues"].get("lang") in
                            {"en", "de", "fr"} for a in adds)
        en = plan_delta_files(str(tmp_path), snap, {"lang": "en"})
        assert 0 < len(en) < len(adds)


class TestCheckpoint:
    def test_checkpoint_then_cleaned_log_reads(self, spark, corpus,
                                               tmp_path):
        """After log cleanup only the checkpoint can reconstruct the
        snapshot — the bounded-replay property that makes million-commit
        tables plannable."""
        w, _ = _write_table(spark, corpus, tmp_path)
        w.checkpoint()
        assert w.clean_log() == 2  # commits 0 and 1 removed
        got = {r.doc_id for r in read_delta(spark, str(tmp_path)).collect()}
        assert got == set(range(120)) - _DELETED
        # commits after the checkpoint replay on top of it
        extra = corpus.filter(F.col("doc_id") < 3).withColumn(
            "doc_id", F.col("doc_id") + 1000)
        w.append(extra, n_files=1)
        got2 = {r.doc_id for r in read_delta(spark, str(tmp_path)).collect()}
        assert got2 == got | {1000, 1001, 1002}

    def test_time_travel_below_cleaned_log_raises(self, spark, corpus,
                                                  tmp_path):
        w, (v1, _) = _write_table(spark, corpus, tmp_path)
        w.checkpoint()
        w.clean_log()
        with pytest.raises(ValueError, match="missing"):
            load_delta_snapshot(str(tmp_path), version=v1)


class TestHardFails:
    def _one_commit_table(self, spark, corpus, path):
        w = DeltaFixtureWriter(str(path), corpus.schema)
        w.append(corpus, n_files=1)
        return w

    def test_deletion_vector_add_raises(self, spark, corpus, tmp_path):
        w = self._one_commit_table(spark, corpus, tmp_path)
        snap = load_delta_snapshot(str(tmp_path))
        rel = next(iter(snap["adds"]))
        w._commit([{"add": {"path": rel, "partitionValues": {},
                            "size": 1, "modificationTime": 0,
                            "dataChange": True,
                            "deletionVector": {"storageType": "u"}}}],
                  operation="DELETE")
        with pytest.raises(ValueError, match="deletion vectors"):
            load_delta_snapshot(str(tmp_path))

    def test_unknown_reader_feature_raises(self, spark, corpus, tmp_path):
        w = self._one_commit_table(spark, corpus, tmp_path)
        w._commit([{"protocol": {"minReaderVersion": 3,
                                 "minWriterVersion": 7,
                                 "readerFeatures": ["columnMapping"]}}],
                  operation="UPGRADE")
        with pytest.raises(ValueError, match="columnMapping"):
            load_delta_snapshot(str(tmp_path))

    def test_commit_gap_raises(self, spark, corpus, tmp_path):
        w = self._one_commit_table(spark, corpus, tmp_path)
        w.append(corpus.limit(1), n_files=1)
        os.remove(os.path.join(str(tmp_path), "_delta_log",
                               f"{1:020d}.json"))
        with pytest.raises(ValueError, match="commit 1 missing"):
            load_delta_snapshot(str(tmp_path))

    def test_malformed_action_names_the_commit(self, spark, corpus,
                                               tmp_path):
        self._one_commit_table(spark, corpus, tmp_path)
        p = os.path.join(str(tmp_path), "_delta_log", f"{1:020d}.json")
        with open(p, "a") as f:
            f.write("{not json\n")
        with pytest.raises(ValueError, match="commit 1, line"):
            load_delta_snapshot(str(tmp_path))

    def test_nonexistent_version_raises(self, spark, corpus, tmp_path):
        self._one_commit_table(spark, corpus, tmp_path)
        with pytest.raises(ValueError, match="does not exist"):
            load_delta_snapshot(str(tmp_path), version=9)


class TestPlanShape:
    def test_scan_is_plain_parquet_no_python(self, spark, corpus, tmp_path):
        """The data path is an ordinary pushdown-capable parquet scan —
        no Python stage, no join, nothing between Catalyst and the files."""
        _write_table(spark, corpus, tmp_path)
        df = read_delta(spark, str(tmp_path)).filter(F.col("doc_id") > 100) \
            .select("doc_id")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FileScan parquet" in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]" \
            in plan

    def test_schema_string_is_spark_json(self, spark, corpus, tmp_path):
        _write_table(spark, corpus, tmp_path)
        snap = load_delta_snapshot(str(tmp_path))
        js = json.loads(snap["metaData"]["schemaString"])
        assert js["type"] == "struct"
        assert [f["name"] for f in js["fields"]] == ["doc_id", "lang", "text"]


class TestReviewRegressions:
    """Pins for the closing review findings: NULL-predicate DELETE
    semantics, the column-mapping hard-fail, and readerFeatures
    surviving the checkpoint round-trip."""

    def test_delete_where_keeps_null_predicate_rows(self, spark, tmp_path):
        rows = spark.createDataFrame(
            [(1, 7), (2, None), (3, 2)], "doc_id long, x long")
        w = DeltaFixtureWriter(str(tmp_path), rows.schema)
        w.append(rows, n_files=1)
        w.delete_where(spark, F.col("x") > 5)
        got = {(r.doc_id, r.x)
               for r in read_delta(spark, str(tmp_path)).collect()}
        # DELETE WHERE x > 5 removes only doc 1; the NULL row survives
        # (false-or-NULL rows are kept, matching SQL DELETE semantics)
        assert got == {(2, None), (3, 2)}

    def test_column_mapping_hard_fails_both_signals(self, spark, corpus,
                                                    tmp_path):
        w = DeltaFixtureWriter(str(tmp_path), corpus.schema)
        w.append(corpus, n_files=1)
        # signal 1: reader version 2 (column mapping required pre-features)
        w._commit([{"protocol": {"minReaderVersion": 2,
                                 "minWriterVersion": 5}}], operation="UP")
        with pytest.raises(ValueError, match="column mapping"):
            load_delta_snapshot(str(tmp_path))

    def test_column_mapping_mode_in_configuration_raises(self, spark,
                                                         corpus, tmp_path):
        w = DeltaFixtureWriter(str(tmp_path), corpus.schema)
        w.append(corpus, n_files=1)
        md = json.loads(json.dumps({
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": corpus.schema.json(),
            "partitionColumns": [], "createdTime": 0,
            "configuration": {"delta.columnMapping.mode": "name"}}))
        w._commit([{"metaData": md}], operation="UP")
        with pytest.raises(ValueError, match="column mapping mode"):
            load_delta_snapshot(str(tmp_path))

    def test_reader_features_survive_checkpoint(self, spark, corpus,
                                                tmp_path):
        """pyarrow drops struct keys absent from the schema — a checkpoint
        losing readerFeatures would let a cleaned log bypass the
        unsupported-feature gate on replay."""
        w = DeltaFixtureWriter(str(tmp_path), corpus.schema)
        w.append(corpus, n_files=1)
        w._commit([{"protocol": {"minReaderVersion": 3,
                                 "minWriterVersion": 7,
                                 "readerFeatures": ["timestampNtz"],
                                 "writerFeatures": ["appendOnly"]}}],
                  operation="UPGRADE")
        w.checkpoint()
        w.clean_log()
        snap = load_delta_snapshot(str(tmp_path))
        assert snap["protocol"]["readerFeatures"] == ["timestampNtz"]
        assert snap["protocol"]["writerFeatures"] == ["appendOnly"]


class TestVacuumAndEvolution:
    def test_schema_evolution_add_column(self, spark, corpus, tmp_path):
        """Old files lack the new column; the snapshot schema wins and
        Spark fills NULL — per-version schemas stay readable."""
        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType,
        )
        w = DeltaFixtureWriter(str(tmp_path), corpus.schema)
        w.append(corpus, n_files=1)
        evolved = StructType([*corpus.schema.fields,
                              StructField("score", LongType(), True)])
        md = {
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": evolved.json(), "partitionColumns": [],
            "configuration": {}, "createdTime": 0,
        }
        w._commit([{"metaData": md}], operation="ADD COLUMN")
        w.schema = evolved
        w.append(corpus.limit(5).select(
            (F.col("doc_id") + 1000).alias("doc_id"), "lang", "text",
            F.lit(9).cast("long").alias("score")), n_files=1)
        df = read_delta(spark, str(tmp_path))
        assert [f.name for f in df.schema.fields] == \
            ["doc_id", "lang", "text", "score"]
        rows = {r.doc_id: r.score for r in df.collect()}
        assert len(rows) == 125
        assert rows[0] is None and rows[1000] == 9
        # the pre-evolution snapshot still reads with the OLD schema
        old = read_delta(spark, str(tmp_path), version=1)
        assert [f.name for f in old.schema.fields] == \
            ["doc_id", "lang", "text"]


class TestLifecycleFuzz:
    def test_random_op_sequences_match_row_model(self, spark, tmp_path):
        """Model-based check of the whole table lifecycle: random
        interleavings of append / copy-on-write delete / checkpoint +
        log-cleanup, with the CURRENT snapshot compared to a pure-Python
        live-row model after every op. The checkpoint and the cleanup
        must be row-invisible no matter where they land in the
        sequence."""
        import random

        rng = random.Random(42)
        schema = "doc_id long, grp long"
        for seq in range(4):
            root = str(tmp_path / f"t{seq}")
            w = None
            model = set()
            next_id = 0
            ops = []
            for step in range(7):
                op = rng.choice(
                    ["append", "append", "delete", "checkpoint_clean"])
                ops.append(op)
                if w is None or op == "append":
                    batch = [(next_id + i, (next_id + i) % 5)
                             for i in range(30)]
                    df = spark.createDataFrame(batch, schema)
                    if w is None:
                        w = DeltaFixtureWriter(root, df.schema)
                    w.append(df, n_files=rng.choice([1, 2, 3]))
                    model |= {i for i, _ in batch}
                    next_id += 30
                elif op == "delete":
                    r = rng.randrange(5)
                    w.delete_where(spark, F.col("grp") == r)
                    model -= {i for i in model if i % 5 == r}
                elif op == "checkpoint_clean":
                    w.checkpoint()
                    w.clean_log()
                got = {r.doc_id
                       for r in read_delta(spark, root).collect()}
                assert got == model, (seq, step, ops)
