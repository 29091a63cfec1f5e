"""SparkSession factory with scale-oriented defaults.

Defaults chosen for a large cluster (AQE on, skew-join handling,
partition coalescing) while remaining correct on ``local[N]``:

- AQE re-plans shuffles at runtime (coalesces small partitions,
  converts sort-merge joins to broadcast when a side turns out small,
  splits skewed partitions).
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalescing makes a high value safe on a big cluster and a low value
  irrelevant locally.
- Arrow enabled for pandas UDF / toPandas boundaries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_driver_memory() -> str:
    """Half of the host's physical memory, at most 24g: a 24g heap on a
    smaller host lets the driver JVM grow until the kernel kills it."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 * 1024, total // 2 // 2**20)}m"

_DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # driver testdata events.parquet stores TIMESTAMP(NANOS); Spark only
    # reads nanos as long with this legacy flag
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # local mode runs every task in the driver JVM, so the driver heap IS
    # the executor heap: 8g thrashed GC once a bench session accumulated
    # ~30 queries of cached relations (pagerank 12.4s -> 4.3s at 24g).
    # On a real cluster spark-submit overrides this per deployment.
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", _host_driver_memory()
    ),
}


def get_spark_session(
    app_name: str = "redshells_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    confs = dict(_DEFAULT_CONFS)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
