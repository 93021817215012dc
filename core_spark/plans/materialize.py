"""Eager materialization for self-join / multi-branch inputs and loops.

Each branch of a Spark self-join (and each arm of a union) re-evaluates
its input plan, so blocking/banding pair generators pin their input
first; without it the tokenize/signature/bucketing pipeline runs 2x+
(the CLAUDE.md self-join rule; measured in PLANS.md). Iterative
operators pin once per round so each round's plan stays flat.

``pin`` picks HOW from the session's master, the only place the safety
trade-off lives:

- in-process master (``local``, ``local[N]``, ``local[*]``,
  ``local[N,F]``): ``localCheckpoint(eager=True)``. Blocks live in the
  executor block manager and lineage is cut; executor loss is driver
  loss there, so nothing is given up, and it is the fastest option.
- any other master (``local-cluster[...]``, ``spark://``, ``yarn``,
  ``k8s://``): ``checkpoint(eager=True)`` to the reliable checkpoint dir,
  because executor-local blocks die with their executor and would FAIL
  the job (BENCH_SCALING.md "localCheckpoint on a real cluster"). If no
  dir is set, one is made under ``SPARK_GRAFT_CHECKPOINT_DIR`` (or a
  temp dir, only sensible on one host).

Both cut lineage, which loops need: a lineage-keeping ``persist`` nests
every prior round into each round's plan and ran connected components
7x slower (BENCH_SCALING.md).
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame

_ENV_CKPT_DIR = "SPARK_GRAFT_CHECKPOINT_DIR"


def is_local_master(master: str) -> bool:
    """True for masters that run every executor inside the driver JVM."""
    return re.fullmatch(r"local(\[[^\]]*\])?", master) is not None


def _ensure_checkpoint_dir(df: DataFrame) -> None:
    sc = df.sparkSession.sparkContext
    if not sc.getCheckpointDir():
        sc.setCheckpointDir(
            os.environ.get(_ENV_CKPT_DIR)
            or tempfile.mkdtemp(prefix="spark-graft-ckpt-")
        )


def pin(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage (see module doc)."""
    if is_local_master(df.sparkSession.sparkContext.master):
        return df.localCheckpoint(eager=True)
    _ensure_checkpoint_dir(df)
    return df.checkpoint(eager=True)
