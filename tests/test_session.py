"""core_spark.session.spark_session — the one SparkSession builder.

Every entry point (this suite's conftest, bench.py, selfcheck, time_query,
run_pipeline) builds its session through ``spark_session``; the benchmark
harness in ``perfbench/`` keeps its own. These tests pin what the builder
sets, that no other builder creeps back in, and that the executor JVMs of
a real multi-JVM master get the same GC flag as the driver.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The query the cluster probe and the local session both run: MinHash LSH
# pins its band-key table before the self-join.
PIN_QUERY = "dedup_minhash"


def _rows(spark, qname: str) -> list:
    import __spark_entry__ as entry

    rows = sorted(tuple(r) for r in entry.queries()[qname](spark, SF_SMOKE).collect())
    return json.loads(json.dumps(rows, default=str))


@pytest.mark.spark
def test_session_settings(spark):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    assert {b.getName() for b in beans} == {"PS MarkSweep", "PS Scavenge"}
    dp = spark.sparkContext.defaultParallelism
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(max(dp, 8))


def test_one_session_builder():
    """Grep gate: no entry point hand-rolls a session builder again."""
    allowed = {
        os.path.join(ROOT, "core_spark", "session.py"),
        os.path.join(ROOT, "perfbench", "harness.py"),
        os.path.abspath(__file__),
    }
    hits = []
    for dirpath, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "spark-warehouse"]
        for fn in files:
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".py") or path in allowed:
                continue
            with open(path, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    if "SparkSession.builder" in line:
                        hits.append(f"{path}:{i}")
    assert not hits, f"SparkSession.builder outside core_spark/session.py: {hits}"


_CLUSTER_PROBE = """
import json, os, sys, time
sys.path.insert(0, {root!r})
from core_spark.session import spark_session
from tests.test_session import _rows

spark = spark_session("local-cluster[2,1,1024]")
sc = spark.sparkContext
deadline = time.monotonic() + 120
while sc._jsc.sc().getExecutorIds().size() < 2:
    assert time.monotonic() < deadline, "executors did not register"
    time.sleep(0.2)
flags = []
for pid in filter(str.isdigit, os.listdir("/proc")):
    try:
        with open(f"/proc/{{pid}}/cmdline", "rb") as fh:
            argv = fh.read().decode(errors="replace").split("\\0")
    except OSError:
        continue
    if "org.apache.spark.executor.CoarseGrainedExecutorBackend" in argv \\
            and sc.applicationId in argv:
        flags.append("-XX:+UseParallelGC" in argv)
rows = _rows(spark, {qname!r})
spark.stop()
print(json.dumps({{"flags": flags, "rows": rows}}))
"""


@pytest.mark.spark
def test_local_cluster_executors_and_reliable_pin(spark, tmp_path):
    """On ``local-cluster`` (separate executor JVMs) the executors carry
    the ParallelGC flag, and ``pin`` takes its reliable ``checkpoint``
    branch without a monkeypatch and returns the rows ``local`` does."""
    from pyspark.find_spark_home import _find_spark_home

    # The local-cluster workers write executor logs to $SPARK_HOME/work:
    # point SPARK_HOME at a link farm of the install so they land here.
    home = tmp_path / "spark_home"
    home.mkdir()
    for entry in os.scandir(_find_spark_home()):
        if entry.name != "work":
            (home / entry.name).symlink_to(entry.path)
    ckpt = tmp_path / "ckpt"
    env = dict(
        os.environ,
        SPARK_HOME=str(home),
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CHECKPOINT_DIR=str(ckpt),
    )
    out = subprocess.run(
        [sys.executable, "-c", _CLUSTER_PROBE.format(root=ROOT, qname=PIN_QUERY)],
        env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["flags"] == [True, True]
    # the reliable branch wrote RDD checkpoints; localCheckpoint writes none
    assert any(d.name.startswith("rdd-") for d in ckpt.glob("*/*"))
    assert got["rows"] and got["rows"] == _rows(spark, PIN_QUERY)
