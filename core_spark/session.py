"""The one SparkSession builder for every entry point of this repo.

``spark_session(master=None, driver_memory=None)`` takes only the two
deployment settings; everything else is either derived or constant:

- master: the caller's, else the launcher's (``spark-submit --master``,
  or ``local[*]`` under plain python, which the JVM sizes from the CPU
  affinity mask);
- ``spark.sql.shuffle.partitions`` = ``max(defaultParallelism, 8)``;
- the UI is off on an in-process master (``is_local_master``, the
  predicate ``pin`` uses); the log level is ERROR on every master;
- UTC session time zone, and ``-XX:+UseParallelGC`` on the driver and
  executor JVMs. G1 treats the multi-MB Arrow batches of binary html as
  humongous allocations and collapses under many concurrent Python
  runners (measured 22.3 s -> 4.4 s on a 3.2M-doc noop Arrow stage).
  Under spark-submit the driver JVM is already running, so its flag has
  to come from ``--driver-java-options``.
"""

from __future__ import annotations

from core_spark.plans.materialize import is_local_master

JVM_OPTIONS = "-XX:+UseParallelGC"


def spark_session(master: str | None = None, driver_memory: str | None = None):
    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession

    launch = SparkConf().set("spark.driver.extraJavaOptions", JVM_OPTIONS)
    if driver_memory:
        launch.set("spark.driver.memory", driver_memory)
    # Start the driver JVM (or join spark-submit's) so that the launcher's
    # master is known before the static UI setting has to be chosen.
    SparkContext._ensure_initialized(conf=launch)
    master = master or SparkConf().get("spark.master")
    local = is_local_master(master)

    spark = (
        SparkSession.builder.master(master)
        .config(conf=launch)
        .config("spark.executor.extraJavaOptions", JVM_OPTIONS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", str(not local).lower())
        .getOrCreate()
    )
    sc = spark.sparkContext
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(max(sc.defaultParallelism, 8)))
    sc.setLogLevel("ERROR")
    return spark
