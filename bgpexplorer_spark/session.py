"""SparkSession factory tuned for this engine.

Local test posture is ``local[N]`` (one JVM); the configs below are chosen
so the same code deploys unchanged on a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong for some stage; AQE re-plans.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster it
  is the AQE *initial* partition number and should be raised to ~2-3x
  total cores.
- Arrow enabled for the ``mapInPandas`` decoders in ``sources/{mrt,bmp}.py``
  and ``query.HistoryStore``'s ``toArrow`` collect.
- Session timezone pinned UTC so timestamps hash-match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def get_spark(app_name: str = "bgpexplorer_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
