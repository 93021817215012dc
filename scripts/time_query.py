"""Time individual registered queries with bench.py's isolation protocol.

Usage: python scripts/time_query.py [--runs N] [sf_dir] query [query...]
Each run is `bench.time_query`: one untimed warmup pass + _isolate before
and after the timed pass (CLAUDE.md: per-query timings in one session
contaminate each other otherwise). Prints every run, then the median.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import DRIVER_MEMORY, time_query  # noqa: E402
from core_spark.session import spark_session  # noqa: E402

import __spark_entry__ as entry  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("args", nargs="+", metavar="[sf_dir] query")
    opts = ap.parse_args()
    names = opts.args
    sf_dir = "/root/testdata/sf0.1"
    if os.path.isdir(names[0]):
        sf_dir = names.pop(0)
    qs = entry.queries()
    unknown = [n for n in names if n not in qs]
    if unknown or not names:
        raise SystemExit(f"unknown or missing queries: {unknown}")
    spark = spark_session(driver_memory=DRIVER_MEMORY)
    for name in names:
        runs = []
        for i in range(1, opts.runs + 1):
            runs.append(time_query(spark, qs[name], sf_dir))
            print(f"{name}\trun {i}\t{runs[-1]:.2f}s", flush=True)
        print(f"{name}\tmedian\t{statistics.median(runs):.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
