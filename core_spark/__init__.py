"""core_spark — a PySpark-native spatial-join + tiling engine.

A brand-new engine (NOT a port) with the query/data-processing capabilities of
the reference at /root/reference (specvital/core: discover -> detect -> parse ->
extract -> aggregate over documents), re-expressed Spark-first and grafted onto
the web-scale geospatial target of BASELINE.json: ingest Common-Crawl-style web
page tables, byte-identical text extraction, geoparsing, H3-style/S2 tiling,
point-in-polygon joins, kNN, zonal rollups, skew-aware aggregation, and
checkpoint-manifest resumability.

Design principles (mirroring the reference's strongest ideas, SURVEY.md §7):
  * pure, Spark-free kernels (reference: pkg/parser/framework/definition.go:111
    "bytes in, TestFile out") — every kernel unit-testable without a session;
  * registry of kernels keyed by dialect (reference: framework/registry.go:38);
  * error-as-data — per-row failures become rows, never stage failures
    (reference: pkg/parser/scanner.go:543 ScanError collection);
  * determinism by construction — explicit orderBy before sinks, window
    tie-breaks (reference: scanner.go:558-564, detection/detector.go:213-230);
  * manifest-based resumability (reference: tests/integration/clone.go:13).
"""

__version__ = "0.1.0"

# Stops every Python worker task re-parsing pyspark.zip and the Spark jar
# (see zipcache.py); installs on import, below CPython 3.12 only.
from core_spark import zipcache  # noqa: E402,F401
