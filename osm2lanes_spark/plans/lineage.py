"""Per-partition lineage metrics + idempotent checkpoint/resume.

North-rule operability layer: every checkpointed stage writes, next to its
data, a manifest of the row count of each partition it wrote, read on the
driver from the footers of the ``part-*`` files the write produced (one
file per partition), so no Spark job runs after the write. Thus

- a resumed run can *verify* a prior stage instead of recomputing it,
- operators can spot skew (one partition row count ≫ the median) without
  re-scanning data,
- writes are idempotent: a half-written stage is invisible until its
  manifest commits (write-then-rename-marker protocol, the poor man's
  Iceberg snapshot; with an Iceberg catalog configured the same API maps
  onto snapshot commits).
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_osm2lanes_manifest.json"


def part_footers(path: str) -> list[pq.FileMetaData]:
    """Footer of each ``part-*`` file under ``path``, in file-name order
    (the order of the partitions that wrote them)."""
    return [pq.read_metadata(os.path.join(path, f))
            for f in sorted(os.listdir(path)) if f.startswith("part-")]


def part_rows(path: str) -> list[int]:
    """Footer row count of each ``part-*`` file under ``path``."""
    return [footer.num_rows for footer in part_footers(path)]


def non_null_rows(path: str, column: str) -> int:
    """Rows of the ``part-*`` files under ``path`` whose top-level
    ``column`` is not null: each row group's rows minus its column chunk's
    footer ``null_count``. Raises ``ValueError`` for a chunk without that
    statistic."""
    total = 0
    for footer in part_footers(path):
        schema = footer.schema
        i = [schema.column(j).path for j in range(len(schema))].index(column)
        for g in range(footer.num_row_groups):
            group = footer.row_group(g)
            stats = group.column(i).statistics
            if stats is None or not stats.has_null_count:
                raise ValueError(f"{path}: no null_count for {column!r}")
            total += group.num_rows - stats.null_count
    return total


def write_checkpoint(df: DataFrame, path: str) -> dict:
    """Overwrite ``path`` with df as parquet, then commit its manifest
    (per-partition row counts from the part files). Returns the manifest."""
    df.write.mode("overwrite").parquet(path)
    rows = part_rows(path)
    summary = {
        "path": path,
        "rows": sum(rows),
        "partitions": len(rows),
        "partition_rows": rows,
        "max_partition_rows": max(rows, default=0),
        "written_at": time.time(),
        "complete": True,
    }
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(summary, f)
    return summary


def checkpoint_complete(path: str) -> bool:
    mf = os.path.join(path, MANIFEST)
    if not os.path.exists(mf):
        return False
    try:
        with open(mf) as f:
            return bool(json.load(f).get("complete"))
    except (OSError, json.JSONDecodeError):
        return False


def resumable(spark: SparkSession, path: str,
              build: Callable[[], DataFrame]) -> DataFrame:
    """Return the checkpointed stage, computing it only if absent/incomplete.

    Safe to re-run after a crash: an incomplete write (no manifest) is
    rebuilt and overwritten; a complete one is read back untouched.
    """
    if checkpoint_complete(path):
        return spark.read.parquet(path)
    df = build()
    write_checkpoint(df, path)
    return spark.read.parquet(path)


def skew_report(path: str, factor: float = 4.0) -> dict:
    """Flag partitions whose row count exceeds ``factor`` × median, read
    from the checkpoint's manifest."""
    with open(os.path.join(path, MANIFEST)) as f:
        rows = sorted(json.load(f)["partition_rows"])
    if not rows:
        return {"skewed": [], "median": 0}
    median = rows[len(rows) // 2]
    skewed = [r for r in rows if median > 0 and r > factor * median]
    return {"skewed": skewed, "median": median, "max": rows[-1]}
