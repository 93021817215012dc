"""The workloads: inputs from a seed, one pass, its output checks, and the
layer probes of a traced run.

Every input is made by the program's own pure-function generators
(``core_spark.data``) over an id range that the seed offsets, so a seed
always yields the same inputs and the program only ever sees generated data.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import zlib

import numpy as np

# Input sizes. Chosen so that a run of either workload (set-up, warm-up and
# the timed passes) ends within about a minute on a 4-core host.
DOCS_PER_FILE = 1_250
CORPUS_FILES = 32         # 40,000 docs for fused_scan
N_POINTS = 60_000        # spatial_join
POINT_FILES = 8
MIX_DOCS = 5_000         # the query mix's documents table
MIX_PASSES = 3           # the first is the mix's cold pass
KERNEL_SAMPLE_DOCS = 2_000
KERNEL_SAMPLE_POINTS = 100_000
PROBE_REPS = 3           # repetitions of each layer probe job
SPATIAL_RES = 1          # coarse hex cells become the spatial_join polygons
SPATIAL_PER_EDGE = 32    # densified vertices per hex edge -> 192 per ring
SPATIAL_LAT_BAND = (-36.0, 56.0)

# Iterative operators (a pin loop, pointer doubling), a self-join dedup and
# two small geo queries, from the program's registry.
MIX = (
    "link_pagerank", "url_redirects", "dedup_minhash", "pip_join", "zonal_salted",
)

MIX_WORDS = (
    "a the big small fast slow key row data table query scan sort join "
    "hash merge filter group agg order part line column value window "
    "stream batch spark vector customer"
).split()
MIX_LANGS = ("en", "en", "en", "de", "fr", "es", "zh", "ja")


def _start(seed: int, n: int) -> int:
    return (seed % 1_000_000) * n


def _payload(polys):
    payload = [(int(r.admin_id), [list(ring) for ring in r.rings])
               for r in polys.itertuples()]
    return payload, zlib.crc32(repr(payload).encode()) & 0xFFFFFFFF


def zonal_digest(zonal, cell_col: str) -> tuple[int, int, int]:
    """(cells, sum of doc_count, order-free digest) in one aggregate job."""
    from pyspark.sql import functions as F

    r = zonal.agg(
        F.count(F.lit(1)).alias("cells"),
        F.sum("doc_count").alias("total"),
        F.bit_xor(F.xxhash64(cell_col, "doc_count",
                             F.map_entries("lang_counts"))).alias("digest"),
    ).collect()[0]
    return int(r["cells"]), int(r["total"] or 0), int(r["digest"] or 0)


# ---------------------------------------------------------------------------
# input generation
# ---------------------------------------------------------------------------

def write_corpus(path: str, start: int, n_files: int):
    """Synthetic web-page corpus as parquet; returns (ground-truth mention
    total, the first file's rows as a kernel sample)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from core_spark.data.synth import webpages_pandas

    os.makedirs(path)
    mentions, sample = 0, None
    for i in range(n_files):
        pdf = webpages_pandas(DOCS_PER_FILE, start + i * DOCS_PER_FILE)
        mentions += int(pdf["n_mentions"].sum())
        if sample is None:
            sample = pdf
        table = pa.table({
            "doc_id": pa.array(pdf["doc_id"], pa.int64()),
            "url": pa.array(pdf["url"], pa.string()),
            "warc_ts": pa.array(pdf["warc_ts"]).cast(pa.timestamp("us", tz="UTC")),
            "html": pa.array(pdf["html"], pa.binary()),
            "lang": pa.array(pdf["lang"], pa.string()),
        })
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
    return mentions, sample


def gen_points(n: int, start: int):
    """Geocoded points, 30% jittered around the generator's MEGA_CENTERS."""
    from core_spark.data.synth import MEGA_CENTERS, smix, u01

    ids = np.arange(start, start + n, dtype=np.uint64)
    lo, hi = SPATIAL_LAT_BAND
    in_mega = u01(ids, 205) < 0.30
    mc = np.array(MEGA_CENTERS)
    mega = (smix(ids, 206) % np.uint64(len(mc))).astype(np.int64)
    lat = np.where(in_mega, mc[mega, 0] + (u01(ids, 207) - 0.5) * 0.01,
                   lo + u01(ids, 209) * (hi - lo))
    lon = np.where(in_mega, mc[mega, 1] + (u01(ids, 208) - 0.5) * 0.01,
                   u01(ids, 210) * 360.0 - 180.0)
    return ids.astype(np.int64), np.round(lat, 6), np.round(lon, 6)


def hex_polygons():
    """Coarse hexgrid cells inside the point band, each edge densified, as a
    non-overlapping admin table of several hundred polygons."""
    import pandas as pd

    from core_spark.functions import hexgrid as hx

    la = np.arange(-80.0, 80.01, 0.5)
    lo = np.arange(-180.0, 180.0, 0.5)
    cells = np.unique(hx.latlon_to_cell(np.repeat(la, len(lo)),
                                        np.tile(lo, len(la)), SPATIAL_RES))
    t = np.arange(SPATIAL_PER_EDGE, dtype=np.float64) / SPATIAL_PER_EDGE
    rows = []
    for c in cells:
        b = np.asarray(hx.cell_to_boundary(int(c)))  # (lat, lon) vertices
        if (b[:, 0].min() < SPATIAL_LAT_BAND[0] or b[:, 0].max() > SPATIAL_LAT_BAND[1]
                or b[:, 1].min() < -179.5 or b[:, 1].max() > 179.5):
            continue
        nxt = np.roll(b, -1, axis=0)
        dense = (b[:, None, :] + (nxt - b)[:, None, :] * t[None, :, None]).reshape(-1, 2)
        ring = [(round(float(x), 9), round(float(y), 9)) for y, x in dense]
        rows.append({"admin_id": len(rows), "rings": [ring]})
    return pd.DataFrame(rows)


def reference_owner(lat, lon, polys) -> np.ndarray:
    """Independent point-in-polygon: lon-sorted slab per polygon, then an
    even-odd crossing count edge by edge. Lowest admin_id wins a tie."""
    order = np.argsort(lon, kind="stable")
    slon, slat = lon[order], lat[order]
    owner = np.full(len(lon), -1, dtype=np.int64)
    for aid, rings in zip(polys["admin_id"], polys["rings"]):
        ring = np.asarray(rings[0], dtype=np.float64)
        x, y = ring[:, 0], ring[:, 1]
        a = int(np.searchsorted(slon, x.min(), side="left"))
        b = int(np.searchsorted(slon, x.max(), side="right"))
        idx = np.arange(a, b)
        idx = idx[(slat[idx] >= y.min()) & (slat[idx] <= y.max())]
        px, py = slon[idx], slat[idx]
        inside = np.zeros(len(idx), dtype=bool)
        for j in range(len(ring)):
            x0, y0 = x[j], y[j]
            x1, y1 = x[(j + 1) % len(ring)], y[(j + 1) % len(ring)]
            cross = (y0 > py) != (y1 > py)
            if not cross.any():
                continue
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
            inside ^= cross & (px < xint)
        hit = order[idx[inside]]
        cur = owner[hit]
        owner[hit] = np.where((cur == -1) | (aid < cur), aid, cur)
    return owner


def write_mix_docs(path: str, n: int, start: int) -> None:
    """A ``documents`` table in the shape the query registry reads:
    (doc_id, text, lang, source, n_chars)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from core_spark.data.synth import smix

    ids = np.arange(start, start + n, dtype=np.uint64)
    n_words = 8 + (smix(ids, 301) % np.uint64(56)).astype(np.int64)
    seeds = smix(ids, 302)
    texts = []
    for i in range(n):
        s = int(seeds[i])
        texts.append(" ".join(
            MIX_WORDS[((s >> (j % 53)) + j * 7) % len(MIX_WORDS)]
            for j in range(int(n_words[i]))))
    lang = (smix(ids, 303) % np.uint64(len(MIX_LANGS))).astype(np.int64)
    table = pa.table({
        "doc_id": pa.array(ids.astype(np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([MIX_LANGS[k] for k in lang], pa.string()),
        "source": pa.array([f"src{int(i) % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "documents.parquet"))


# ---------------------------------------------------------------------------
# in-process kernel timing (traced run only)
# ---------------------------------------------------------------------------

def time_point_kernels(tracer, lat, lon, payload, fp) -> None:
    from core_spark.functions import hexgrid as hx
    from core_spark.functions.fused import RESOLUTIONS
    from core_spark.operators.pip import match_points

    match_points(np.zeros(1), np.zeros(1), payload, fp=fp)  # build the tree
    with tracer.span("hexgrid.latlon_to_cell", points=len(lat)):
        for res in RESOLUTIONS:
            hx.latlon_to_cell(lat, lon, res)
    with tracer.span("pip.match_points", points=len(lat)) as c:
        aid = match_points(lon, lat, payload, fp=fp)
        c["hits"] = int((aid != -1).sum())
    # envelope candidates, counted by the benchmark itself outside the span
    rings = [np.asarray(r[0]) for _, r in payload]
    boxes = np.array([[*g.min(axis=0), *g.max(axis=0)] for g in rings])
    cand = 0
    for s in range(0, len(lat), 5000):
        x, y = lon[s:s + 5000, None], lat[s:s + 5000, None]
        cand += int(((x >= boxes[:, 0]) & (x <= boxes[:, 2])
                     & (y >= boxes[:, 1]) & (y <= boxes[:, 3])).sum())
    c["candidates"] = cand


def time_doc_kernels(tracer, docs, payload, fp, batch: int = 500) -> None:
    """Time each public kernel the fused stage composes, batch by batch,
    then fused_batch itself on the same rows."""
    from core_spark.functions.extract import html_to_text
    from core_spark.functions.fused import fused_batch
    from core_spark.functions.geoparse import parse_mentions
    from core_spark.operators.pip import match_points

    match_points(np.zeros(1), np.zeros(1), payload, fp=fp)  # build the tree
    lats, lons = [], []
    for s in range(0, len(docs), batch):
        pdf = docs.iloc[s:s + batch]
        with tracer.span("extract.html_to_text", docs=len(pdf)) as c:
            texts = [html_to_text(h) for h in pdf["html"]]
            c["errors"] = sum(t is None for t in texts)
        with tracer.span("geoparse.parse_mentions", docs=len(pdf)) as c:
            found = [parse_mentions(t) for t in texts if t is not None]
            c["mentions"] = sum(len(m) for m in found)
        lats.extend(m["lat"] for doc in found for m in doc)
        lons.extend(m["lon"] for doc in found for m in doc)
        with tracer.span("fused.fused_batch", docs=len(pdf)):
            fused_batch(pdf, payload, fp)
    time_point_kernels(tracer, np.asarray(lats), np.asarray(lons), payload, fp)


def kernel_metrics(tracer) -> dict:
    def per(name, key):
        n = tracer.count(name, key)
        return tracer.total_s(name) * 1e6 / n if n else 0.0

    docs = tracer.count("extract.html_to_text", "docs")
    pts = tracer.count("pip.match_points", "points")
    cand = tracer.count("pip.match_points", "candidates")
    out = {
        "extract.us_per_doc": per("extract.html_to_text", "docs"),
        "extract.errors": tracer.count("extract.html_to_text", "errors"),
        "geoparse.us_per_doc": per("geoparse.parse_mentions", "docs"),
        "geoparse.mentions_per_doc": (
            tracer.count("geoparse.parse_mentions", "mentions") / docs if docs else 0.0),
        "hexgrid.us_per_point": per("hexgrid.latlon_to_cell", "points"),
        "pip.us_per_point": per("pip.match_points", "points"),
        "pip.candidates_per_point": cand / pts if pts else 0.0,
        "pip.hits_per_candidate": (
            tracer.count("pip.match_points", "hits") / cand if cand else 0.0),
        "fused.us_per_doc": per("fused.fused_batch", "docs"),
    }
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(ctx, group: str, fn) -> float:
    ctx.group(group)
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class Workload:
    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work

    rows = 0          # input rows one pass consumes
    input_bytes = 1   # bytes of the input files
    # Untimed passes after the cold one: until the pass time levels off on
    # a 4-core host. The JVM keeps compiling for a few passes after the
    # cold one, which run 10-35% slower than later passes.
    warm_passes = 2

    def setup(self, ctx) -> None:
        raise NotImplementedError

    def run_pass(self, ctx, tag: str) -> list[str]:
        """Run one pass; return the failed checks (empty when correct)."""
        raise NotImplementedError

    def side_passes(self) -> list[tuple]:
        """(tag, checked pass) pairs a traced run makes after its passes,
        for layers the timed pass does not reach."""
        return []

    def probe(self, ctx) -> dict:
        """Layer probes of a traced run, while its session is live."""
        return {}

    def from_passes(self, passes: list[dict], probed: dict, groups: dict) -> dict:
        """Layer metrics from the traced passes and all event-log groups."""
        return {}


class FusedScan(Workload):
    """The flagship read-only pass over a seeded corpus. Its traced run also
    drives the staged pipeline over the same corpus once, for the
    ``plans.pipeline`` / ``plans.manifest`` layers and the fused-versus-staged
    digest check, and the query mix, for the registry and
    ``plans.materialize`` layers."""

    name = "fused_scan"
    rows = CORPUS_FILES * DOCS_PER_FILE
    STAGES = ("extract", "mentions", "tiles", "pip", "zonal")

    def setup(self, ctx) -> None:
        from core_spark.data.polygons import admin_polygons

        self.corpus = os.path.join(self.work, "corpus")
        self.mentions, sample = write_corpus(
            self.corpus, _start(self.seed, self.rows), CORPUS_FILES)
        self.sample = sample.iloc[:KERNEL_SAMPLE_DOCS]
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.corpus, f)) for f in os.listdir(self.corpus))
        self.polys = admin_polygons(96)
        self.reference = None
        self.staged = None
        self.mix = QueryMix(self.seed, self.work)

    def docs(self, ctx):
        from core_spark.sources.ingest import read_corpus

        return read_corpus(ctx.spark, self.corpus)

    def check(self, digest, label: str) -> list[str]:
        bad = []
        if digest[1] != self.mentions:
            bad.append(f"{label}: sum(doc_count)={digest[1]} != {self.mentions} generated mentions")
        if self.reference is not None and digest != self.reference:
            bad.append(f"{label}: zonal digest {digest} != reference {self.reference}")
        return bad

    def run_pass(self, ctx, tag):
        from core_spark.functions.fused import fused_pipeline
        from core_spark.operators.zonal import zonal_rollup

        ctx.group(tag)
        d = zonal_digest(
            zonal_rollup(fused_pipeline(self.docs(ctx), self.polys), cell_col="h3_r7"),
            "h3_r7")
        bad = self.check(d, "fused")
        if self.reference is None and not bad:
            self.reference = d  # the cold pass pins the digest
        return bad

    def staged_pass(self, ctx, tag):
        """run_pipeline into a fresh workdir, then a resume pass; both must
        give the fused path's digest."""
        from core_spark.plans.pipeline import run_pipeline

        wd = os.path.join(self.work, f"pipeline-{tag}")
        ctx.group(tag)
        out = run_pipeline(ctx.spark, wd, docs_df=self.docs(ctx))
        d = zonal_digest(out["zonal"], "h3_r7")
        t0 = time.perf_counter()
        ctx.group(tag + ":resume")
        again = run_pipeline(ctx.spark, wd, docs_df=self.docs(ctx))
        d2 = zonal_digest(again["zonal"], "h3_r7")
        resume_s = time.perf_counter() - t0
        bad = self.check(d, "staged") + self.check(d2, "staged resume")
        man = {m["stage"]: m for m in out["_manifest"].metrics()}
        missing = [s for s in self.STAGES if s not in man]
        if missing:
            bad.append(f"stages without a manifest: {missing}")
        self.staged = {
            "resume_s": resume_s, "bytes_written": _parquet_bytes(wd),
            "wall_s": {s: man[s]["wall_ms"] / 1000.0 for s in self.STAGES if s in man},
        }
        shutil.rmtree(wd, ignore_errors=True)
        return bad

    def side_passes(self):
        # the mix's first pass is its cold pass; it pins the row counts
        return [("staged", self.staged_pass)] + [
            (f"mix{i}", self.mix.run_pass) for i in range(MIX_PASSES)]

    def probe(self, ctx):
        cols = ("doc_id", "url", "lang", "html")
        out = {"sources.scan_s": statistics.median(
            _timed(ctx, "probe:scan", lambda: _noop(self.docs(ctx).select(*cols)))
            for _ in range(PROBE_REPS))}
        payload, fp = _payload(self.polys)
        time_doc_kernels(ctx.tracer, self.sample, payload, fp)
        out.update(kernel_metrics(ctx.tracer))
        return out

    def from_passes(self, passes, probed, groups):
        out = self.mix.layers(groups)
        groups = [g for p in passes for g in p["groups"]]
        # the fused Python stage is the stage that reads the scan; its task
        # time against the in-process kernel cost gives the bridge share
        fused_task_s = statistics.median(
            sum(sum(st["task_times"]) for st in g["stages"].values() if st["shuffle_read"] == 0)
            for g in groups)
        kernel_s = probed["fused.us_per_doc"] * 1e-6 * self.rows
        out["fused.bridge_share"] = 1.0 - kernel_s / fused_task_s if fused_task_s else 0.0
        out["zonal.stage_s"] = statistics.median(
            sum(st["wall_s"] for st in g["stages"].values() if st["shuffle_read"] > 0)
            for g in groups)
        out["zonal.shuffle_bytes"] = statistics.median(g["shuffle_write"] for g in groups)
        out["zonal.task_skew"] = statistics.median(p["skew"] for p in passes)
        if self.staged is not None:
            for s, wall in self.staged["wall_s"].items():
                out[f"pipeline.{s}_s"] = wall
            # tiles and PIP are stages of their own only on the staged path
            out["tiles.stage_s"] = out.get("pipeline.tiles_s", 0.0)
            out["pip.stage_s"] = out.get("pipeline.pip_s", 0.0)
            out["manifest.bytes_written"] = self.staged["bytes_written"]
            out["manifest.resume_s"] = self.staged["resume_s"]
        return out


def _parquet_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if f.endswith(".parquet"))
    return total


class SpatialJoin(Workload):
    name = "spatial_join"
    rows = N_POINTS

    def setup(self, ctx):
        import pyarrow as pa
        import pyarrow.parquet as pq

        ids, lat, lon = gen_points(N_POINTS, _start(self.seed, N_POINTS))
        self.points = os.path.join(self.work, "points")
        os.makedirs(self.points)
        per = N_POINTS // POINT_FILES
        for i in range(POINT_FILES):
            s = slice(i * per, (i + 1) * per)
            pq.write_table(pa.table({"point_id": ids[s], "lat": lat[s], "lon": lon[s]}),
                           os.path.join(self.points, f"part-{i:05d}.parquet"))
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.points, f)) for f in os.listdir(self.points))
        self.polys = hex_polygons()
        owner = reference_owner(lat, lon, self.polys)
        aids, counts = np.unique(owner, return_counts=True)
        self.expected = {int(a): int(c) for a, c in zip(aids, counts)}
        self.matched = int((owner != -1).sum())
        self.sample = (lat[:KERNEL_SAMPLE_POINTS], lon[:KERNEL_SAMPLE_POINTS])
        self.reference = None

    def read(self, ctx):
        return ctx.spark.read.parquet(self.points)

    def run_pass(self, ctx, tag):
        from pyspark.sql import functions as F

        from core_spark.operators.pip import pip_join
        from core_spark.operators.tiles import assign_tiles
        from core_spark.operators.zonal import salted_counts, zonal_rollup
        from core_spark.plans.materialize import pin

        tr = ctx.tracer
        ctx.group(tag + ":pip")
        with tr.span("spatial.tiles_pip"):
            joined = pin(pip_join(assign_tiles(self.read(ctx)), self.polys))
        ctx.group(tag + ":zonal")
        with tr.span("spatial.zonal"):
            zonal = zonal_rollup(joined.where("admin_id IS NOT NULL"),
                                 cell_col="h3_r7", lang_col="admin_id")
            d = zonal_digest(zonal, "h3_r7")
            salted = salted_counts(joined, cell_col="h3_r5", salt_src="point_id")
            s = salted.agg(F.sum("doc_count").alias("n"),
                           F.max("doc_count").alias("top")).collect()[0]
        ctx.group(tag + ":check")
        got = {(-1 if r["admin_id"] is None else int(r["admin_id"])): int(r["count"])
               for r in joined.groupBy("admin_id").count().collect()}
        bad = []
        if got != self.expected:
            diff = sorted(k for k in set(got) | set(self.expected)
                          if got.get(k) != self.expected.get(k))
            bad.append(f"PIP counts differ from the reference for admin ids {diff[:8]}")
        if d[1] != self.matched:
            bad.append(f"zonal total {d[1]} != {self.matched} matched points")
        if int(s["n"]) != N_POINTS:
            bad.append(f"salted total {s['n']} != {N_POINTS}")
        if self.reference is not None and d != self.reference:
            bad.append(f"zonal digest {d} != warm-up digest {self.reference}")
        if self.reference is None and not bad:
            self.reference = d
        return bad

    def probe(self, ctx):
        from core_spark.operators.pip import pip_join
        from core_spark.operators.tiles import assign_tiles

        def wall(group, build):
            return statistics.median(
                _timed(ctx, group, lambda: _noop(build())) for _ in range(PROBE_REPS))

        scan = wall("probe:scan", lambda: self.read(ctx))
        tiles = wall("probe:tiles", lambda: assign_tiles(self.read(ctx)))
        pip = wall("probe:pip", lambda: pip_join(assign_tiles(self.read(ctx)), self.polys))
        payload, fp = _payload(self.polys)
        time_point_kernels(ctx.tracer, *self.sample, payload, fp)
        out = kernel_metrics(ctx.tracer)
        out.update({
            "sources.scan_s": scan,
            "tiles.stage_s": max(tiles - scan, 0.0),
            "pip.stage_s": max(pip - tiles, 0.0),
        })
        return out

    def from_passes(self, passes, probed, groups):
        zonal_groups = [g for p in passes for g in p["groups"] if g["name"].endswith(":zonal")]
        return {
            "zonal.stage_s": statistics.median(p["spans"]["spatial.zonal"] for p in passes),
            "zonal.shuffle_bytes": statistics.median(g["shuffle_write"] for g in zonal_groups),
            "zonal.task_skew": statistics.median(p["skew"] for p in passes),
        }


class QueryMix:
    """Registry queries over a seeded ``documents`` table, each after
    dropping every cached block. Not a timed workload: a traced run makes
    its passes for the registry and ``plans.materialize`` layers."""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.data = os.path.join(work, "mix")
        self.queries = None
        self.pinned = None  # row counts, pinned by the first pass
        self.history: list[dict] = []

    def run_pass(self, ctx, tag):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        import __spark_entry__ as entry
        from perfbench.harness import isolate

        if self.queries is None:
            write_mix_docs(self.data, MIX_DOCS, _start(self.seed, MIX_DOCS))
            registry = entry.queries()
            self.queries = {name: registry[name] for name in MIX}
        times, counts = {}, {}
        for name, fn in self.queries.items():
            isolate(ctx.spark)
            ctx.group(f"{tag}:{name}")
            obs = Observation(name)
            t0 = time.perf_counter()
            _noop(fn(ctx.spark, self.data).observe(obs, F.count(F.lit(1)).alias("n")))
            times[name] = time.perf_counter() - t0
            counts[name] = int(obs.get["n"])
        if self.pinned is None:
            self.pinned = counts
            return []
        self.history.append({"tag": tag, "times": times})
        return [f"{q}: {counts[q]} rows != {self.pinned[q]} pinned by the first pass"
                for q in MIX if counts[q] != self.pinned[q]]

    def layers(self, groups: dict) -> dict:
        """Per-query wall and job count over the passes after the first."""
        if not self.history:
            return {}
        out = {"query.mix_wall_s": statistics.median(
            sum(h["times"].values()) for h in self.history)}
        for q in MIX:
            out[f"query.{q}_s"] = statistics.median(h["times"][q] for h in self.history)
            out[f"query.{q}_jobs"] = statistics.median(
                groups.get(f"{h['tag']}:{q}", {"jobs": 0})["jobs"] for h in self.history)
        return out


WORKLOADS = {w.name: w for w in (FusedScan, SpatialJoin)}
