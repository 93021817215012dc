"""G9 tests: manifest lineage, resume-without-recompute, pipeline end-to-end.

Reference analog being reproduced: clone-completion markers + FromCache
(tests/integration/clone.go:13-60) and deterministic re-runs (ADR core/12).
"""

from __future__ import annotations

import json
import os

import pytest

from core_spark.plans.manifest import StageManifest, content_fingerprint


def test_fingerprint_deterministic():
    a = content_fingerprint("stage", 1, {"k": [1, 2]})
    b = content_fingerprint("stage", 1, {"k": [1, 2]})
    c = content_fingerprint("stage", 2, {"k": [1, 2]})
    assert a == b != c


@pytest.mark.spark
class TestManifest:
    def test_run_resume_invalidate(self, spark, tmp_path):
        man = StageManifest(str(tmp_path))
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return spark.range(0, 100, 1, 4).withColumnRenamed("id", "doc_id")

        fp = content_fingerprint("s1", 100)
        df1 = man.run_stage(spark, "s1", fp, build)
        assert df1.count() == 100
        assert calls["n"] == 1

        # resume: same fingerprint -> no rebuild
        df2 = man.run_stage(spark, "s1", fp, build)
        assert df2.count() == 100
        assert calls["n"] == 1

        # invalidate: new fingerprint -> rebuild
        man.run_stage(spark, "s1", content_fingerprint("s1", 200), build)
        assert calls["n"] == 2

    def test_manifest_lineage_fields(self, spark, tmp_path):
        man = StageManifest(str(tmp_path))
        fp = content_fingerprint("x", 1)
        man.run_stage(
            spark, "x", fp, lambda: spark.range(0, 1000, 1, 8).selectExpr("id")
        )
        m = man.read("x")
        assert m["row_count"] == 1000
        assert m["fingerprint"] == fp
        assert m["n_files"] >= 1
        assert sum(f["rows"] for f in m["per_file"]) == 1000
        assert m["wall_ms"] >= 0
        # manifest file is valid standalone json
        with open(os.path.join(str(tmp_path), "_manifest", "x.json")) as f:
            assert json.load(f)["stage"] == "x"

    def test_pipeline_end_to_end_and_resume(self, spark, tmp_path):
        from core_spark.plans.pipeline import run_pipeline

        r1 = run_pipeline(spark, str(tmp_path), n_docs=300, partitions=4)
        zon1 = r1["zonal"].orderBy("h3_r7").collect()
        assert r1["ingest"].count() == 300
        assert len(zon1) > 0
        total = sum(row.doc_count for row in zon1)
        assert total == r1["tiles"].count()  # every mention lands in a cell

        # resume run must produce identical zonal output and skip all stages
        metrics_before = {m["stage"]: m["written_at_unix"] for m in r1["_manifest"].metrics()}
        r2 = run_pipeline(spark, str(tmp_path), n_docs=300, partitions=4)
        zon2 = r2["zonal"].orderBy("h3_r7").collect()
        assert zon1 == zon2
        metrics_after = {m["stage"]: m["written_at_unix"] for m in r2["_manifest"].metrics()}
        assert metrics_before == metrics_after  # nothing recomputed

        # PIP stage keeps every mention row (left-join semantics)
        assert r2["pip"].count() == r2["tiles"].count()


def _manifest_files(workdir):
    """stage -> (inode, mtime) of its manifest; a rebuilt stage replaces it."""
    stats = {f.name: f.stat() for f in os.scandir(os.path.join(workdir, "_manifest"))}
    return {name: (st.st_ino, st.st_mtime_ns) for name, st in stats.items()}


def _fingerprints(out):
    return {m["stage"]: m["fingerprint"] for m in out["_manifest"].metrics()}


CORPUS_COLS = ("doc_id", "url", "warc_ts", "html", "lang")


@pytest.mark.spark
class TestExternalInput:
    def test_new_files_recompute_unchanged_files_resume(self, spark, tmp_path):
        """Corpus A (2 files), then corpus B (3 files, same schema) into one
        workdir: B recomputes every stage and gets B's own zonal digest. A
        re-run on unchanged A recomputes nothing."""
        from core_spark.data.synth import webpages_spark
        from core_spark.plans.pipeline import run_pipeline
        from core_spark.sources.ingest import read_corpus

        a, b, wd = (str(tmp_path / d) for d in ("a", "b", "wd"))
        webpages_spark(spark, 200, 2).select(*CORPUS_COLS).write.parquet(a)
        webpages_spark(spark, 300, 3).select(*CORPUS_COLS).write.parquet(b)

        def run(corpus, workdir=wd):
            out = run_pipeline(spark, workdir, partitions=4, docs_df=read_corpus(spark, corpus))
            return out, sorted(out["zonal"].collect())

        out_a, zon_a = run(a)
        fp_a, before = _fingerprints(out_a), _manifest_files(wd)
        again, zon_again = run(a)
        assert zon_again == zon_a
        assert _manifest_files(wd) == before  # nothing recomputed

        out_b, zon_b = run(b)
        fp_b = _fingerprints(out_b)
        assert set(fp_b) == set(fp_a) and all(fp_b[s] != fp_a[s] for s in fp_a)
        assert all(before[f] != m for f, m in _manifest_files(wd).items())
        assert out_b["extract"].count() == 300
        assert zon_b != zon_a
        assert zon_b == run(b, str(tmp_path / "fresh"))[1]

    def test_input_without_files_never_resumes(self, spark, tmp_path):
        """A frame over files keeps its fingerprint across reads; one with a
        leaf that lists no files gets a new fingerprint on every call."""
        from core_spark.plans.pipeline import _input_fingerprint

        path = str(tmp_path / "corpus")
        spark.range(3).selectExpr("id AS doc_id", "'u' AS url").write.parquet(path)
        on_files = spark.read.parquet(path)
        assert _input_fingerprint(on_files) == _input_fingerprint(spark.read.parquet(path))
        local = spark.createDataFrame([(1, "u")], "doc_id long, url string")
        assert _input_fingerprint(local) != _input_fingerprint(local)
        assert _input_fingerprint(on_files.union(local)) != _input_fingerprint(on_files.union(local))

    def test_fingerprint_covers_the_operators_over_the_files(self, spark, tmp_path):
        """One corpus filtered two ways gets two fingerprints; the same
        filter over two reads of it gets one."""
        from core_spark.data.synth import webpages_spark
        from core_spark.plans.pipeline import _input_fingerprint
        from core_spark.sources.ingest import read_corpus

        path = str(tmp_path / "corpus")
        webpages_spark(spark, 50, 2).select(*CORPUS_COLS).write.parquet(path)

        def fp(lang):
            return _input_fingerprint(read_corpus(spark, path).where(f"lang = '{lang}'"))

        assert fp("en") == fp("en") != fp("de")

    def test_iceberg_equality_deletes_keep_one_fingerprint(self, spark, tmp_path):
        """An Iceberg snapshot with equality deletes plans only file scans, so
        two reads of it get one fingerprint and a re-run can resume. A
        snapshot with no data files is an empty scan with the table schema."""
        from core_spark.data.synth import webpages_spark
        from core_spark.plans.pipeline import _input_fingerprint
        from core_spark.sources.iceberg import IcebergFixtureWriter, read_iceberg

        docs = webpages_spark(spark, 60, 2).select(*CORPUS_COLS)
        table, no_data = str(tmp_path / "table"), str(tmp_path / "no_data")
        writer = IcebergFixtureWriter(table, docs.schema)
        writer.append(docs)
        writer.delete_equality(docs.where("doc_id < 10"), ["doc_id"])
        IcebergFixtureWriter(no_data, docs.schema).delete_equality(docs.where("doc_id < 10"), ["doc_id"])
        for root, rows in ((table, 50), (no_data, 0)):
            df = read_iceberg(spark, root)
            assert df.count() == rows and df.schema.simpleString() == docs.schema.simpleString()
            assert _input_fingerprint(df) == _input_fingerprint(read_iceberg(spark, root))

    def test_empty_delta_snapshot_keeps_one_fingerprint(self, spark, tmp_path):
        """A Delta table with only its CREATE commit is a scan over no files
        with the table schema, so two reads of it get one fingerprint."""
        from core_spark.data.synth import webpages_spark
        from core_spark.plans.pipeline import _input_fingerprint
        from core_spark.sources.deltalake import DeltaFixtureWriter, read_delta

        schema = webpages_spark(spark, 10, 1).select(*CORPUS_COLS).schema
        for name, parts in (("flat", ()), ("by_lang", ["lang"])):
            root = str(tmp_path / name)
            DeltaFixtureWriter(root, schema, partition_cols=parts)
            df = read_delta(spark, root)
            assert df.count() == 0 and df.schema.simpleString() == schema.simpleString()
            assert _input_fingerprint(df) == _input_fingerprint(read_delta(spark, root))

    def test_script_reads_an_iceberg_table_root(self, spark, tmp_path):
        """``scripts/run_pipeline.py --input-table`` on an Iceberg table root
        completes, and a new snapshot changes the ingest fingerprint, so the
        next run recomputes every stage."""
        import subprocess
        import sys

        from core_spark.data.synth import webpages_spark
        from core_spark.sources.iceberg import IcebergFixtureWriter

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        table, wd = str(tmp_path / "table"), str(tmp_path / "wd")
        docs = webpages_spark(spark, 300, 3).select(*CORPUS_COLS)
        writer = IcebergFixtureWriter(table, docs.schema)
        writer.append(docs.where("doc_id < 200"))

        def run():
            out = subprocess.run(
                [sys.executable, os.path.join(root, "scripts", "run_pipeline.py"),
                 "--workdir", wd, "--input-table", table, "--partitions", "4"],
                env=dict(os.environ, PYTHONPATH=root), capture_output=True, text=True, timeout=600)
            assert out.returncode == 0, out.stderr[-3000:]
            report = json.loads(out.stdout[out.stdout.index("{"):])
            with open(os.path.join(wd, "_manifest", "extract.json")) as f:
                return report, json.load(f)["fingerprint"]

        first, fp_first = run()
        assert {s["stage"]: s["row_count"] for s in first["stages"]}["extract"] == 200
        writer.append(docs.where("doc_id >= 200"))
        second, fp_second = run()
        assert fp_second != fp_first
        assert {s["stage"]: s["row_count"] for s in second["stages"]}["extract"] == 300
