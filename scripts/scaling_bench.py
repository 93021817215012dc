"""Two-parallelism scaling evidence (north_rule, BASELINE.json:14).

No real cluster exists in this sandbox, so the N-vs-4N-executor criterion is
evidenced by running the SAME flagship pipeline on the SAME materialized
input at two parallelism levels, alongside a workload-matched no-framework
ceiling. Three methodology rules, each fixing a measured distortion:

1. PIN the low level to exactly N cores (`taskset -c 0..N-1`). Unpinned
   `local[8]` on a 32-core box lets the JVM's scan/shuffle/GC threads ride
   the 24 idle cores — measured +18% on the 8-core level — which an 8-core
   cluster node does not get. Pinning makes "N cores" mean N cores on both
   sides of the ratio.
2. The hardware ceiling is the SAME fused kernel (html extract + geoparse +
   tiles + PIP over the same parquet corpus) via plain multiprocessing, no
   Spark — pinned identically. This workload is memory-bandwidth-bound:
   the old compute-bound md5 baseline scaled 0.88 from 8->32 on a quiet
   host while the real kernel ceiling scales ~0.67; normalizing against
   md5 punished Spark for the host's bandwidth wall.
3. INTERLEAVE runs across levels (L,H,L,H,...) in separate JVMs, take
   best-of per level. This box's delivered CPU swings +-50% between
   minutes (measured 217k -> 96k docs/s on identical runs an hour apart);
   sequential all-L-then-all-H conflates drift with scaling.

    efficiency = (docs_per_sec@4N / docs_per_sec@N) / 4
    normalized = efficiency / ceiling_efficiency   (capped at 1.0)

Writes BENCH_SCALING.md. ONE pair per invocation, quiet host. Usage:
    python scripts/scaling_bench.py [n_docs] [low:high] [rounds]
"""

from __future__ import annotations

import glob
import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)
NCPU = os.cpu_count() or 32


def _pin_args(cpus: int) -> list[str]:
    """taskset prefix pinning to the first `cpus` cores (no-op at full width)."""
    if cpus >= NCPU:
        return []
    return ["taskset", "-c", f"0-{cpus - 1}"]


def spark_run(cpus: int, n_docs: int) -> float:
    """One flagship bench in a fresh JVM, pinned to `cpus` cores; docs/s."""
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_NDOCS=str(n_docs),
        SPARK_GRAFT_SKIP_QUERIES="1",
    )
    out = subprocess.run(
        _pin_args(cpus) + [sys.executable, os.path.join(REPO, "bench.py")],
        env=env, capture_output=True, text=True, timeout=1800,
    )
    last = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(last)["docs_per_sec"]


def _kernel_shard(files: list[str]) -> int:
    """Worker: the exact fused kernel over a shard of corpus files."""
    import pyarrow.parquet as pq

    from core_spark.data.polygons import admin_polygons
    from core_spark.functions.fused import fused_batch
    from core_spark.operators.pip import polygon_payload

    payload, fp = polygon_payload(admin_polygons(96))
    n = 0
    for f in files:
        pdf = pq.read_table(
            f, columns=["doc_id", "url", "lang", "html"]
        ).to_pandas()
        fused_batch(pdf, payload, fp)
        n += len(pdf)
    return n


def ceiling_run(procs: int, corpus: str) -> float:
    """Workload-matched no-Spark ceiling, pinned like spark_run; docs/s.

    Re-execs under taskset so the pool workers inherit the affinity mask.
    """
    if procs < NCPU and os.environ.get("_SCALE_PINNED") != str(procs):
        env = dict(os.environ, _SCALE_PINNED=str(procs))
        out = subprocess.run(
            _pin_args(procs) + [sys.executable, os.path.abspath(__file__),
                                "--ceiling", corpus, str(procs)],
            env=env, capture_output=True, text=True, timeout=1800,
        )
        return float(out.stdout.strip().splitlines()[-1])
    files = sorted(glob.glob(os.path.join(corpus, "part-*.parquet")))
    shards = [files[i::procs] for i in range(procs)]
    t0 = time.monotonic()
    with mp.Pool(procs) as p:
        total = sum(p.map(_kernel_shard, shards))
    return total / (time.monotonic() - t0)


def main() -> None:
    if sys.argv[1:2] == ["--ceiling"]:
        print(ceiling_run(int(sys.argv[3]), sys.argv[2]))
        return

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_600_000
    low, high = (
        int(x) for x in (sys.argv[2] if len(sys.argv) > 2 else "8:32").split(":")
    )
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    corpus = f"/tmp/spark_graft_corpus_{n_docs}"
    if not glob.glob(os.path.join(corpus, "_SUCCESS")):
        # materialize once (bench.py caches by n_docs; layout fixed at 64 files)
        spark_run(NCPU, n_docs)

    spark_dps: dict[int, list[float]] = {low: [], high: []}
    ceil_dps: dict[int, list[float]] = {low: [], high: []}
    for r in range(rounds):
        for c in (low, high):
            spark_dps[c].append(spark_run(c, n_docs))
            ceil_dps[c].append(ceiling_run(c, corpus))
        print(json.dumps({"round": r, "spark": spark_dps, "ceiling": ceil_dps}),
              flush=True)

    best_s = {c: max(v) for c, v in spark_dps.items()}
    best_c = {c: max(v) for c, v in ceil_dps.items()}
    ratio = high / low
    eff = (best_s[high] / best_s[low]) / ratio
    ceff = (best_c[high] / best_c[low]) / ratio
    row = {
        "low": low, "high": high,
        "low_dps": round(best_s[low], 1), "high_dps": round(best_s[high], 1),
        "efficiency": round(eff, 3),
        "ceiling_low_dps": round(best_c[low], 1),
        "ceiling_high_dps": round(best_c[high], 1),
        "ceiling_efficiency": round(ceff, 3),
        "normalized": round(min(eff / ceff, 1.0), 3) if ceff else None,
    }
    print(json.dumps(row))

    md = os.path.join(REPO, "BENCH_SCALING.md")
    entry = (
        f"| {low} | {high} | {row['low_dps']:,} | {row['high_dps']:,} "
        f"| {row['efficiency']} | {row['ceiling_efficiency']} "
        f"| **{row['normalized']}** |"
    )
    print(f"table row for BENCH_SCALING.md:\n{entry}")
    with open(os.path.join(REPO, f"scale_{low}_{high}.json"), "w") as f:
        json.dump(row, f, indent=1)


if __name__ == "__main__":
    main()
