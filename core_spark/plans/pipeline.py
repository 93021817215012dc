"""The flagship pipeline: docs -> extract -> geoparse -> tile -> PIP -> zonal.

One function, ``run_pipeline``, wires every graft stage (SURVEY.md G1-G9)
through the checkpoint manifest so a killed run resumes at the first
incomplete stage with zero recomputation. Stage fingerprints chain — each
stage's fingerprint folds in its upstream's — so invalidating any input
re-runs exactly the suffix that depends on it.

Stage order follows the reference lifecycle (SURVEY.md §3.1: discover ->
detect -> parse -> extract -> aggregate) mapped to Spark:

    ingest   table scan (or synthetic generator at bench scale)
    extract  G1 mapInPandas html->text              [UDF stage 1]
    mentions G2 geoparse -> one row per coordinate   [UDF stage 2]
    tiles    G3 hx cells r5-r9 as pure Column arithmetic (no UDF)
    pip      G5 broadcast STRtree ray-cast join      [UDF stage 3]
    zonal    G7/G8 per-cell rollups, two-phase agg   (no UDF)

Cheap Column predicates (size caps, lang filters) run BEFORE UDF stages —
Catalyst can't push a filter through mapInPandas, so stage order is the
pushdown (SURVEY.md §4 'cheap predicate first').
"""

from __future__ import annotations

from core_spark.plans.manifest import StageManifest, content_fingerprint


#: admin polygons the PIP stage joins against
N_POLYGONS = 96


def _input_fingerprint(df) -> str:
    """Schema plus SHA-256 of the ``FileStatus`` strings (path, length, mtime)
    every leaf of the analyzed plan lists and of the canonicalized analyzed
    plan's text (the operators over those files, with expression ids
    normalized), built in the JVM: no Spark job, no O(files) py4j reply. A
    leaf that lists no files (``createDataFrame``, a pinned frame) makes it
    random: such a run recomputes, never resumes."""
    import uuid

    jvm = df.sparkSession._jvm
    analyzed = df._jdf.queryExecution().analyzed()
    leaves = analyzed.collectLeaves()
    text = jvm.scala.collection.mutable.StringBuilder()
    for leaf in (leaves.apply(i) for i in range(leaves.size())):
        relation = leaf.relation() if leaf.nodeName() == "LogicalRelation" else None
        if relation is None or relation.getClass().getSimpleName() != "HadoopFsRelation":
            return uuid.uuid4().hex
        relation.location().allFiles().addString(text, "[", "\n", "]")
    text.append(analyzed.canonicalized())
    sha = jvm.java.security.MessageDigest.getInstance("SHA-256")
    sha.update(jvm.java.nio.charset.StandardCharsets.UTF_8.encode(jvm.java.nio.CharBuffer.wrap(text)))
    return content_fingerprint("ingest-external", str(df.schema), bytes(sha.digest()).hex())


def run_pipeline(
    spark,
    workdir: str,
    n_docs: int = 10_000,
    partitions: int = 32,
    zonal_res: int = 7,
    docs_df=None,
):
    """Run (or resume) the full pipeline; returns {stage: DataFrame}.

    ``docs_df`` overrides the synthetic generator with a real table scan
    (must carry url, html; e.g. an Iceberg web-pages table).
    """
    from pyspark.sql import functions as F

    from core_spark.data.polygons import admin_polygons
    from core_spark.data.synth import webpages_spark
    from core_spark.functions.extract import with_extracted_text
    from core_spark.functions.geoparse import with_mentions
    from core_spark.operators.pip import pip_join
    from core_spark.operators.tiles import RESOLUTIONS, assign_tiles
    from core_spark.operators.zonal import zonal_rollup

    man = StageManifest(workdir)
    out = {}

    # -- ingest -------------------------------------------------------------
    fp_ingest = content_fingerprint("ingest", n_docs, partitions)
    if docs_df is None:
        out["ingest"] = man.run_stage(
            spark, "ingest", fp_ingest,
            lambda: webpages_spark(spark, n_docs, partitions).select(
                "doc_id", "url", "warc_ts", "html", "lang"
            ),
        )
    else:
        out["ingest"] = docs_df
        fp_ingest = _input_fingerprint(docs_df)

    # -- extract (G1) -------------------------------------------------------
    fp_extract = content_fingerprint("extract", fp_ingest)
    out["extract"] = man.run_stage(
        spark, "extract", fp_extract,
        lambda: with_extracted_text(out["ingest"]).select(
            "doc_id", "url", "warc_ts", "lang", "text", "extract_error"
        ),
    )

    # -- mentions (G2) ------------------------------------------------------
    fp_mentions = content_fingerprint("mentions", fp_extract)
    out["mentions"] = man.run_stage(
        spark, "mentions", fp_mentions,
        lambda: with_mentions(
            out["extract"].filter(F.col("extract_error").isNull()),
            key_cols=("doc_id", "url", "lang"),
        ),
    )

    # -- tiles (G3) ---------------------------------------------------------
    fp_tiles = content_fingerprint("tiles", fp_mentions, RESOLUTIONS)
    out["tiles"] = man.run_stage(
        spark, "tiles", fp_tiles,
        lambda: assign_tiles(out["mentions"], resolutions=RESOLUTIONS),
    )

    # -- pip (G5) -----------------------------------------------------------
    polys = admin_polygons(N_POLYGONS)
    fp_pip = content_fingerprint("pip", fp_tiles, N_POLYGONS)
    out["pip"] = man.run_stage(
        spark, "pip", fp_pip, lambda: pip_join(out["tiles"], polys)
    )

    # -- zonal (G7/G8) ------------------------------------------------------
    fp_zonal = content_fingerprint("zonal", fp_pip, zonal_res)
    out["zonal"] = man.run_stage(
        spark, "zonal", fp_zonal,
        lambda: zonal_rollup(out["pip"], cell_col=f"h3_r{zonal_res}"),
    )

    out["_manifest"] = man
    return out
