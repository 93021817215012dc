"""Benchmark harness: flagship pipeline throughput + per-query timings.

Prints ONE JSON line:
  {"metric": ..., "value": <pipeline_sec>, "unit": "sec",
   "docs_per_sec": ..., "queries": {name: sec}, "sf": ..., "cpus": N}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
     SPARK_GRAFT_CPUS   (default: the CPUs in this process's affinity
                        mask) the session runs on local[SPARK_GRAFT_CPUS]
     SPARK_GRAFT_NDOCS  (default 800000) synthetic corpus size for the
                        flagship docs/sec measurement (north-star metric:
                        spatial-join + tile-assignment throughput)

The flagship measurement is the full graft pipeline on the synthetic
Common-Crawl-style corpus: generate -> G1 extract (Arrow UDF) -> G2 geoparse
-> G3 tiles r5-r9 (JVM) -> G5 PIP join (broadcast STRtree) -> G7 zonal
rollup. Scaling-efficiency evidence (local[8] vs local[32]) lives in
scripts/scaling_bench.py -> BENCH_SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from core_spark.session import spark_session  # noqa: E402

DRIVER_MEMORY = "48g"


def materialize_corpus(spark, n_docs: int, partitions: int) -> tuple[str, bool]:
    """Write the synthetic corpus to parquet once (cached across runs).

    Generation is the stand-in for the Iceberg input table, not engine work —
    the flagship measurement starts at the table scan. Returns
    (path, generated_now): callers should RESTART the Spark session when the
    corpus was generated in-process — the multi-GB generation job leaves the
    JVM with inflated heap/GC state that measured 4-5x on the subsequent
    timed pass (23.3s vs 4.8s flagship on the same host)."""
    import glob

    from core_spark.data.synth import webpages_spark

    path = f"/tmp/spark_graft_corpus_{n_docs}"
    if glob.glob(os.path.join(path, "_SUCCESS")):
        return path, False
    # fixed file count independent of this session's cpus: both scaling
    # runs must see identical on-disk layout
    webpages_spark(spark, n_docs, max(partitions, 64)).select(
        "doc_id", "url", "warc_ts", "html", "lang"
    ).write.mode("overwrite").parquet(path)
    return path, True


def run_flagship(spark, corpus_path: str, n_docs: int) -> float:
    """Full pipeline from table scan to zonal rollup; returns wall seconds.

    Uses the FUSED single-Python-stage plan (core_spark/functions/fused.py):
    scan -> one Arrow UDF (extract+geoparse+tiles+PIP) -> JVM zonal shuffle.
    Proven row-identical to the staged pipeline in tests/test_fused.py.
    """
    from core_spark.data.polygons import admin_polygons
    from core_spark.functions.fused import fused_pipeline
    from core_spark.operators.zonal import zonal_rollup

    polys = admin_polygons(96)
    # the bench corpus is tiny next to the 128MB default split size; size
    # splits so the scan parallelizes like a 100TB table would (where the
    # default is correct). ~2MB splits -> >=64 tasks for this corpus.
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", str(512 * 1024))
    docs = spark.read.parquet(corpus_path)

    # untimed warmup: one FULL pass of the exact pipeline. A tiny
    # limit()-warmup (one small task per core) spawns the Python workers and
    # compiles codegen but leaves the JVM interpreted — C2 JIT needs real
    # iteration counts on the scan/shuffle hot loops, and a cold timed pass
    # at high parallelism is short enough that JIT cost dominates it
    # (measured: 12-16s cold vs 6.3s steady-state at local[32], 1.6M docs —
    # which systematically understates the high-parallelism side of the
    # N-vs-4N scaling ratio). A 100TB job runs for hours; steady-state
    # throughput is the metric.
    zonal_rollup(fused_pipeline(docs, polys), cell_col="h3_r7").count()

    t0 = time.monotonic()
    zonal = zonal_rollup(fused_pipeline(docs, polys), cell_col="h3_r7")
    n = zonal.count()
    wall = time.monotonic() - t0
    assert n > 0
    return wall


def _isolate(spark) -> None:
    """Between-query isolation: unpersist anything still registered (dead
    localCheckpoint blocks have no Python handle but stay in the block
    manager until GC) and nudge the JVM so the ContextCleaner runs."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    it = jmap.entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(True)
    spark._jvm.System.gc()


def time_query(spark, fn, sf_dir: str) -> float:
    """Steady-state wall seconds of one registered query, noop sink.

    One untimed warmup pass (C2 JIT + Python worker spin-up + codegen
    cache; data is NOT cached — each pass rebuilds the full plan incl.
    fresh localCheckpoints), then `_isolate`, the timed pass, and
    `_isolate` again. Without this, a heavy query's leftover state inflates
    whatever runs next by up to 3.4x (measured: dedup_ngram 24.4s after
    the knn/decontaminate/multimodal block vs 7.1s clean — dead checkpoint
    blocks linger until a JVM GC lets the ContextCleaner drop them, and
    the 48g heap rarely GCs)."""
    def run():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()
    _isolate(spark)
    t0 = time.monotonic()
    run()
    wall = time.monotonic() - t0
    _isolate(spark)
    return wall


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    n_docs = int(os.environ.get("SPARK_GRAFT_NDOCS", "800000"))

    spark = spark_session(f"local[{cpus}]", driver_memory=DRIVER_MEMORY)

    corpus, generated = materialize_corpus(spark, n_docs, partitions=cpus * 2)
    if generated:
        # fresh JVM for the measurement (see materialize_corpus docstring)
        spark.stop()
        spark = spark_session(f"local[{cpus}]", driver_memory=DRIVER_MEMORY)
    pipeline_sec = run_flagship(spark, corpus, n_docs)

    timings = {}
    if not os.environ.get("SPARK_GRAFT_SKIP_QUERIES"):
        import __spark_entry__ as entry

        # same steady-state protocol as the flagship (see time_query)
        for name, fn in entry.queries().items():
            timings[name] = round(time_query(spark, fn, sf_dir), 3)

    # Same-window hardware ceiling: the fused kernel over the same corpus
    # via plain multiprocessing (no Spark), in a fresh subprocess. The
    # sandbox hypervisor's delivered CPU swings ±50% between windows
    # (BENCH_SCALING.md), so absolute docs/sec is only comparable across
    # rounds through hw_ratio = docs_per_sec / ceiling_docs_per_sec
    # (quiet-window reference ≈ 0.58). Skip with SPARK_GRAFT_SKIP_CEILING.
    # Best-of-3: a single sample in a bursty window can land on a CPU
    # steal spike (measured one ceiling sample at half the flagship's
    # own rate seconds apart); the max of three is the window's honest
    # capability. Ratios > 1 remain possible under extreme bursts — the
    # ratio is still far more cross-window comparable than raw docs/sec.
    ceiling = None
    if not os.environ.get("SPARK_GRAFT_SKIP_CEILING"):
        import subprocess

        samples = []
        for _ in range(3):
            try:
                r = subprocess.run(
                    [sys.executable,
                     os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                  "scripts", "scaling_bench.py"),
                     "--ceiling", corpus, str(cpus)],
                    capture_output=True, text=True, timeout=900,
                )
                samples.append(float(r.stdout.strip().splitlines()[-1]))
            except Exception:
                pass
        ceiling = round(max(samples), 1) if samples else None

    out = {
        "metric": "flagship_pipeline_sec",
        "value": round(pipeline_sec, 3),
        "unit": "sec",
        "docs_per_sec": round(n_docs / pipeline_sec, 1),
        "ceiling_docs_per_sec": ceiling,
        "hw_ratio": (round(n_docs / pipeline_sec / ceiling, 3)
                     if ceiling else None),
        "n_docs": n_docs,
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
