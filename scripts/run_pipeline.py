"""spark-submit entry point for the flagship pipeline (BASELINE.json:6).

Cluster launch (the py-files zip ships the package to executors):

    cd /root/repo && zip -qr /tmp/core_spark.zip core_spark
    spark-submit --py-files /tmp/core_spark.zip scripts/run_pipeline.py \
        --workdir /data/run1 --n-docs 1000000 [--input-table <parquet path or Iceberg table root>]

Local smoke:

    python scripts/run_pipeline.py --workdir /tmp/run1 --n-docs 5000

The job is resumable: re-running with the same workdir + parameters skips
every completed stage via the checkpoint manifest (core_spark.plans.manifest)
and prints the per-stage lineage report.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--n-docs", type=int, default=100_000)
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--input-table", default=None,
                    help="read this parquet path or Iceberg table root instead of the synthetic corpus")
    ap.add_argument("--zonal-res", type=int, default=7)
    args = ap.parse_args()

    from core_spark.plans.pipeline import run_pipeline
    from core_spark.session import spark_session
    from core_spark.sources.ingest import read_corpus

    spark = spark_session()
    docs_df = read_corpus(spark, args.input_table) if args.input_table else None

    t0 = time.monotonic()
    out = run_pipeline(
        spark,
        args.workdir,
        n_docs=args.n_docs,
        partitions=args.partitions,
        zonal_res=args.zonal_res,
        docs_df=docs_df,
    )
    n_cells = out["zonal"].count()
    wall = time.monotonic() - t0

    report = {
        "wall_sec": round(wall, 2),
        "n_cells": n_cells,
        "stages": [
            {k: m[k] for k in ("stage", "row_count", "n_files", "wall_ms")}
            for m in out["_manifest"].metrics()
        ],
    }
    print(json.dumps(report, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
