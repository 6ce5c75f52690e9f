"""SparkSession factory.

Centralizes the configuration the engine depends on:

* AQE on (runtime partition coalescing + skew-join splitting) — the
  north rule's "adaptive coalescing".
* ``spark.sql.shuffle.partitions`` sized explicitly to the parallelism
  level (not the 200 default) — the north rule's "explicit shuffle-stage
  sizing". At cluster scale this would be ~2-3× total executor cores.
* Arrow enabled for every pandas UDF / createDataFrame path.
* Session timezone pinned UTC so timestamps compare bit-identically with
  the DuckDB oracle (DuckDB timestamps are UTC-naive).
* Driver heap sized from the host's physical memory
  (:func:`default_driver_memory`) unless ``SPARK_GRAFT_DRIVER_MEM`` sets it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half the
    host's physical memory in whole GiB, at least 1g and at most 48g —
    the other half stays for the Python workers, the page cache and the
    JVM's off-heap memory. Where physical memory cannot be read, Spark's
    own default of 1g."""
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):
        return "1g"
    return f"{min(max(phys // 2 // 2**30, 1), 48)}g"


def get_spark(
    app_name: str = "sfa_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cores`` controls ``local[N]``; ``shuffle_partitions`` defaults to
    ``cores`` (local mode: one thread per core, no reason for more
    partitions than that on small inputs — AQE coalesces down anyway).
    """
    n = cores or default_parallelism()
    # shuffle dir on tmpfs when available — the local-mode analogue of an
    # executor's local NVMe; avoids queueing on the sandbox's shared disk
    # (override with SPARK_GRAFT_LOCAL_DIR, disable with value "")
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/sfa-spark-local"
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
