"""SparkSession factory with the engine's tuned defaults.

Settings chosen for the 100 TB design point (AQE + skew-join handling on,
Arrow batches for the Python stages, partition sizing) but safe on
``local[*]``; tests override parallelism via ``cpus``. Also the one
worker-side hook every engine Python stage calls: :func:`drop_zip_finders`.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def get_spark(app: str = "osm2lanes-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # split even a single small parquet file across the cluster: a
        # 1-file scan otherwise serializes every downstream JVM pipeline
        # onto one core (round-2 profiling: the whole minhash signature
        # pass ran single-threaded). Scale-neutral — inputs bigger than
        # minPartitionNum * maxPartitionBytes are unaffected.
        .config("spark.sql.files.minPartitionNum", str(cpus))
        .config("spark.sql.autoBroadcastJoinThreshold", "33554432")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def drop_zip_finders() -> None:
    """Forget the process's cached ``zipimporter`` path finders.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
    every task, and on CPython 3.11 that makes each cached ``zipimporter``
    re-read its whole archive directory: 16 finders over ``pyspark.zip`` in
    a reused worker, 0.15-0.4 s per task. The engine's Python stages call
    this as a task's Python work ends, so the next task has none to re-read.
    Loaded modules keep their own loaders, and a later import from the
    archive builds a new finder from ``zipimport._zip_directory_cache``
    without reading it again. On 3.12+ the invalidation is lazy and this
    only drops a few cache entries.
    """
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
