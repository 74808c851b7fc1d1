"""SparkSession factory.

Local test harness runs ``local[$SPARK_GRAFT_CPUS]`` (default 32) in a single
JVM; the configs below are chosen so the same code is correct and fast on a
multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so shuffle partition
  counts self-tune at any scale factor.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE coalesces from a higher initial number.
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
- Session timezone pinned to UTC so timestamp semantics do not depend on
  the host machine.
- The repository root on the Python workers' ``PYTHONPATH`` (ahead of any
  value the environment already sets): stage functions of the graph
  build and the dedup index are module functions, which cloudpickle
  ships by name, so a worker must import ``vector_search_spark`` whatever
  directory the driver was started from.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "vector_search_spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or cpu_count()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_path = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
        .getOrCreate()
    )
