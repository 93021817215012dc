"""G9 — checkpoint manifest: per-stage lineage, metrics, and resume.

Every pipeline stage materializes to parquet under ``<workdir>/<stage>/`` and
records a manifest JSON ``<workdir>/_manifest/<stage>.json``:

    {stage, fingerprint, row_count, n_files, per_file: [{path, rows}],
     wall_ms, written_at_unix}

Resume semantics (north_rule: "resumable from checkpoint with per-partition
lineage + metrics"): on re-run, a stage whose manifest exists AND whose
``fingerprint`` (a caller-supplied content hash of inputs + parameters)
matches is **skipped** — its parquet output is read back instead of
recomputed. A mismatched fingerprint invalidates the stage and everything
after it (callers chain fingerprints so this happens naturally).

Atomicity (SURVEY.md §7 hard part (e)): the parquet write relies on Spark's
commit protocol (_SUCCESS marker); the manifest itself is written to a temp
file then ``os.replace``d — readers never observe a half manifest. This is
the graft analog of the reference's clone-completion marker
(tests/integration/clone.go:13,34-39) and its FromCache fast path
(clone.go:18-21).

Per-partition row counts come from the parquet footers of the files the
stage actually wrote — zero extra passes over the data, exact, and they
double as the lineage record (which task wrote which rows where).
"""

from __future__ import annotations

import glob
import json
import os
import time


def content_fingerprint(*parts) -> str:
    """Deterministic fingerprint of stage inputs/parameters (hex string).

    Uses sha256 over the repr of the parts — callers pass input paths,
    parameter dicts, upstream fingerprints. Never derived from wall time or
    RNG (resume across machines must agree).
    """
    import hashlib

    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


class StageManifest:
    def __init__(self, workdir: str):
        self.workdir = workdir
        self.mdir = os.path.join(workdir, "_manifest")
        os.makedirs(self.mdir, exist_ok=True)

    # -- manifest I/O -------------------------------------------------------

    def _mpath(self, stage: str) -> str:
        return os.path.join(self.mdir, f"{stage}.json")

    def read(self, stage: str) -> dict | None:
        try:
            with open(self._mpath(stage)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _write(self, stage: str, doc: dict) -> None:
        tmp = self._mpath(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        os.replace(tmp, self._mpath(stage))  # atomic on POSIX

    def is_complete(self, stage: str, fingerprint: str) -> bool:
        m = self.read(stage)
        return m is not None and m.get("fingerprint") == fingerprint

    # -- stage execution ----------------------------------------------------

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def run_stage(self, spark, stage: str, fingerprint: str, build_fn):
        """Run (or resume) one stage.

        ``build_fn() -> DataFrame`` is only invoked on a cache miss. Returns
        the stage's DataFrame read back from its parquet output — downstream
        stages always consume the materialized form, so a resumed run is
        plan-identical to a fresh one.
        """
        out = self.stage_path(stage)
        if self.is_complete(stage, fingerprint):
            return spark.read.parquet(out)

        t0 = time.monotonic()
        df = build_fn()
        df.write.mode("overwrite").parquet(out)
        wall_ms = int((time.monotonic() - t0) * 1000)

        per_file = self._footer_counts(out)
        self._write(
            stage,
            {
                "stage": stage,
                "fingerprint": fingerprint,
                "row_count": sum(r for _, r in per_file),
                "n_files": len(per_file),
                "per_file": [
                    {"path": os.path.relpath(p, out), "rows": r} for p, r in per_file
                ],
                "wall_ms": wall_ms,
                "written_at_unix": int(time.time()),
            },
        )
        return spark.read.parquet(out)

    @staticmethod
    def _footer_counts(out_dir: str) -> list[tuple[str, int]]:
        """Exact per-file row counts from parquet footers (metadata only)."""
        import pyarrow.parquet as pq

        files = sorted(
            glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True)
        )
        return [(f, pq.ParquetFile(f).metadata.num_rows) for f in files]

    def metrics(self) -> list[dict]:
        """All stage manifests, sorted by stage name (lineage report)."""
        out = []
        for p in sorted(glob.glob(os.path.join(self.mdir, "*.json"))):
            with open(p) as f:
                out.append(json.load(f))
        return out
