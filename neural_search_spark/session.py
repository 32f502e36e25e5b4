"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point, scaled down by env vars for
the local[N] sandbox:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- Arrow on (all Python compute goes through vectorized pandas/Arrow UDFs;
  never row-at-a-time Python — BASELINE.json input_hint).
- shuffle partitions sized by env (cluster: ~2-3x total cores; sandbox: 32).
- DataFrame call-site debugging off (plan building is driver-bound at
  query scale).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half the host's ``MemTotal``, at most 24g (24g where
    ``/proc/meminfo`` is missing): a larger heap than the host can back
    gets the JVM killed by the kernel instead of collected."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "24g"
    return f"{min(24 * 1024, kb // 2048)}m"


def get_spark(
    app_name: str = "neural-search-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "4")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    # local-mode "executor" memory is the driver JVM; the 1g default
    # GC-thrashes under 32 concurrent Arrow-UDF tasks (takes effect only if
    # this call creates the JVM, which it does in every entry path)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.host", "127.0.0.1")
        # PySpark otherwise wraps every Column/functions call in py4j round
        # trips (active session, conf read, call-site origin set/clear) and
        # a Python stack walk — most of a query's plan-build time. Errors
        # still raise; their messages lose the Python call-site fragment.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
