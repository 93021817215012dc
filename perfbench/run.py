"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload fused_scan --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The load is a closed loop from this one
driver process at ``local[<cpus>]``: one job at a time, the next pass starts
when the previous one has finished.

``--trace 0`` sets up (session, inputs, reference results, one cold pass and
warm passes), then times passes for ``--seconds`` and prints the end-to-end
metrics. ``--trace 1`` sets up the same way with Spark's event log on, then
alternates plain passes with passes that set job groups and record spans,
probes each layer, and prints the per-layer metrics with the tracing
overhead. Every pass's outputs are checked; a
failed check makes the exit code non-zero.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
# name -> unit, as listed in BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "write_amp": "ratio",
}
PER_LAYER_UNITS = {
    "sources.scan_s": "s", "sources.bytes_read": "bytes",
    "extract.us_per_doc": "us/doc", "extract.errors": "count",
    "geoparse.us_per_doc": "us/doc", "geoparse.mentions_per_doc": "count/doc",
    "hexgrid.us_per_point": "us/point", "tiles.stage_s": "s",
    "pip.us_per_point": "us/point", "pip.candidates_per_point": "count/point",
    "pip.hits_per_candidate": "ratio", "pip.stage_s": "s",
    "fused.us_per_doc": "us/doc", "fused.bridge_share": "ratio",
    "zonal.stage_s": "s", "zonal.shuffle_bytes": "bytes", "zonal.task_skew": "ratio",
    "pipeline.extract_s": "s", "pipeline.mentions_s": "s", "pipeline.tiles_s": "s",
    "pipeline.pip_s": "s", "pipeline.zonal_s": "s",
    "manifest.bytes_written": "bytes", "manifest.resume_s": "s",
    "spark.task_s": "s", "spark.gc_s": "s", "spark.spill_bytes": "bytes",
    "spark.shuffle_bytes": "bytes",
    "host.cpu_probe_ops_per_s": "1/s", "host.peak_rss_mb": "MB",
    "trace.overhead_share": "ratio",
}


def per_layer_units() -> dict:
    from perfbench.workloads import MIX

    units = dict(PER_LAYER_UNITS, **{"query.mix_wall_s": "s"})
    for q in MIX:
        units[f"query.{q}_s"] = "s"
        units[f"query.{q}_jobs"] = "count"
    return units


class Context:
    def __init__(self, spark, tracer, traced: bool):
        self.spark = spark
        self.tracer = tracer
        self.traced = traced

    def group(self, name: str) -> None:
        """Tag the next jobs with a job group (traced run only)."""
        if self.traced:
            self.spark.sparkContext.setJobGroup(name, name)


class Runner:
    """Runs passes of one workload and keeps the tally."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failures: list[str] = []

    def one(self, ctx, tag: str, run_pass=None):
        """One checked pass (``run_pass``, by default the workload's own);
        returns (unstolen seconds, bytes Spark wrote, wall seconds) or
        None."""
        from perfbench.harness import drop_blocks, elapsed, stopwatch, written_bytes

        self.attempted += 1
        ctx.tracer.trace_id = tag
        # untimed: drop the previous pass's blocks and its job group
        drop_blocks(ctx.spark)
        ctx.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        before = written_bytes(ctx.spark)
        start = stopwatch()
        try:
            bad = (run_pass or self.wl.run_pass)(ctx, tag)
        except Exception:  # a pass that raises is a failed pass, not a crash
            self.failures.append(f"{tag}: {traceback.format_exc(limit=3)}")
            return None
        wall, seconds = elapsed(start)
        wrote = written_bytes(ctx.spark) - before
        if bad:
            self.failures.extend(f"{tag}: {b}" for b in bad)
            return None
        return seconds, wrote, wall

    def timed(self, ctx, prefix: str, seconds: float) -> list[tuple]:
        """Passes, each started while less than ``seconds`` have gone by."""
        out = []
        t_end = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < t_end:
            r = self.one(ctx, f"{prefix}{i}")
            if r is not None:
                out.append(r)
            i += 1
        return out


def traced_run(runner: Runner, ctx, seconds: float) -> tuple[list, dict]:
    """Pairs of passes on the event-logged session, then layer probes, then
    the log; returns (the plain passes' results, per-layer metrics).

    Each pair is a plain pass and a traced pass (job groups and spans on),
    in alternating order so warm-up drift cancels out of the tracing
    overhead. Both kinds run with the event log on, so the overhead leaves
    out the log's own cost."""
    from perfbench import harness

    wl = runner.wl
    plain, walls, tags = [], [], []
    t_end = time.perf_counter() + seconds
    i = 0
    while i < 2 or time.perf_counter() < t_end:  # at least two pairs
        for traced in ((False, True) if i % 2 == 0 else (True, False)):
            ctx.traced = ctx.tracer.enabled = traced
            tag = f"p{i}" if traced else f"u{i}"
            r = runner.one(ctx, tag)
            if r is None:
                continue
            if traced:
                walls.append(r[0])
                tags.append(tag)
            else:
                plain.append(r)
        i += 1
    ctx.traced = ctx.tracer.enabled = True
    for tag, run_pass in wl.side_passes():
        runner.one(ctx, tag, run_pass)
    probed = wl.probe(ctx)
    ctx.spark.stop()
    groups = harness.read_event_log(WORK)

    passes = []
    for tag in tags:
        mine = [dict(g, name=n) for n, g in groups.items()
                if n == tag or n.startswith(tag + ":")]
        zonal = {}
        for g in mine:
            if g["name"] == tag or g["name"].endswith(":zonal"):
                zonal.update(g["stages"])
        spans = {}
        for sp in ctx.tracer.spans:
            if sp["trace"] == tag and sp["end"] is not None:
                spans[sp["name"]] = spans.get(sp["name"], 0.0) + sp["end"] - sp["start"]
        passes.append({"tag": tag, "groups": mine, "skew": harness.task_skew(zonal),
                       "spans": spans})

    layers = dict(probed)
    layers.update(wl.from_passes(passes, probed, groups))
    # Spark's input metric misses reads done off the task thread (Python
    # stages, vectored parquet reads), so the scan's bytes are the files'
    layers["sources.bytes_read"] = wl.input_bytes
    for key, field in (("spark.task_s", "task_s"), ("spark.gc_s", "gc_s"),
                       ("spark.spill_bytes", "spill_bytes"),
                       ("spark.shuffle_bytes", "shuffle_write")):
        layers[key] = statistics.median(sum(g[field] for g in p["groups"]) for p in passes)
    layers["trace.overhead_share"] = (
        statistics.median(walls) / statistics.median(r[0] for r in plain) - 1.0)
    return plain, layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "core_spark", "__init__.py")):
        print(f"no core_spark package under {ROOT}: run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    harness.prepare_env(ROOT, WORK)
    cpu = harness.cpu_probe()
    wl = WORKLOADS[args.workload](args.seed, WORK)
    runner = Runner(wl)
    tracer = harness.Tracer(enabled=False)
    try:
        with harness.RssSampler() as rss:
            start = harness.stopwatch()
            spark = harness.build_spark(WORK, event_log=bool(args.trace))
            ctx = Context(spark, tracer, traced=False)
            wl.setup(ctx)
            # untimed: the cold pass, then the workload's warm passes
            if runner.one(ctx, "cold") is None:
                raise RuntimeError("cold pass failed: " + "; ".join(runner.failures))
            for i in range(wl.warm_passes):
                runner.one(ctx, f"warm{i}")
            setup_wall, setup_s = harness.elapsed(start)
            if args.trace:
                timed, layers = traced_run(runner, ctx, args.seconds)
            else:
                timed = runner.timed(ctx, "t", args.seconds)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        harness.stop_spark()
        shutil.rmtree(WORK, ignore_errors=True)

    if not timed:
        print("no timed pass succeeded:\n" + "\n".join(runner.failures), file=sys.stderr)
        return 1
    pass_s = statistics.median(r[0] for r in timed)
    wrote = statistics.median(r[1] for r in timed)
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": wl.rows / pass_s,
        "write_amp": wrote / wl.input_bytes,
    }
    failed = len(runner.failures)
    print(f"workload = {wl.name}, seed = {args.seed}, timed passes = {len(timed)}, "
          f"pass walls (s) = {[round(r[2], 3) for r in timed]}, "
          f"unstolen (s) = {[round(r[0], 3) for r in timed]}")
    pass_wall_s = statistics.median(r[2] for r in timed)
    shown = dict(e2e, pass_s=pass_s, setup_wall_s=setup_wall, pass_wall_s=pass_wall_s,
                 rows_per_wall_s=wl.rows / pass_wall_s, peak_rss_mb=rss.peak_mb,
                 failed_ratio=failed / runner.attempted)
    units = dict(END_TO_END, pass_s="s", setup_wall_s="s", pass_wall_s="s",
                 rows_per_wall_s="rows/s", peak_rss_mb="MB", failed_ratio="ratio")
    shown["host.cpu_probe_ops_per_s"], units["host.cpu_probe_ops_per_s"] = cpu, "1/s"
    for name, value in shown.items():
        print(f"{name} = {value:.6g} {units[name]}")
    for f in runner.failures:
        print("FAILED " + f.strip().replace("\n", " | "))

    if args.trace:
        layers["host.cpu_probe_ops_per_s"] = cpu
        layers["host.peak_rss_mb"] = rss.peak_mb
        units = per_layer_units()
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"trace-{wl.name}-{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans, "metrics": metrics}, f)
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": runner.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
