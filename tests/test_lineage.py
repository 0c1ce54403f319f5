"""Checkpoint/resume + per-partition lineage in the checkpoint manifest."""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from osm2lanes_spark.plans import lineage as L

pytestmark = pytest.mark.checkpoint


def _manifest(path):
    with open(os.path.join(path, L.MANIFEST)) as f:
        return json.load(f)


def test_checkpoint_and_resume(spark, tmp_path):
    path = str(tmp_path / "stage1")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(1000).withColumn("v", F.col("id") * 2)

    df1 = L.resumable(spark, path, build)
    assert df1.count() == 1000
    assert calls["n"] == 1
    # second call resumes from the checkpoint — build not re-run
    df2 = L.resumable(spark, path, build)
    assert df2.count() == 1000
    assert calls["n"] == 1
    # the manifest's per-partition counts sum to the row count
    manifest = _manifest(path)
    assert manifest["rows"] == sum(manifest["partition_rows"]) == 1000
    rep = L.skew_report(path)
    assert rep["median"] >= 0


def test_non_null_rows_from_footers(tmp_path):
    """Non-null rows come from the footers' column-chunk null counts, over
    every part file and row group, with nested leaves ahead of the column;
    a chunk without the statistic raises instead of guessing."""
    import pyarrow as pa

    table = pa.table({"lanes": [[{"a": 1, "b": 2}], None, []],
                      "error": ["bad_tag", None, None]})
    pq.write_table(table, tmp_path / "part-00000.parquet")
    pq.write_table(table, tmp_path / "part-00001.parquet", row_group_size=1)
    pq.write_table(table, tmp_path / "other.parquet", write_statistics=False)
    assert L.non_null_rows(str(tmp_path), "error") == 2
    pq.write_table(table, tmp_path / "part-00002.parquet",
                   write_statistics=False)
    with pytest.raises(ValueError, match="null_count"):
        L.non_null_rows(str(tmp_path), "error")


def test_manifest_counts_the_written_partitions(spark, tmp_path):
    """The lineage is the partitions the write produced, in partition
    order, not the split packing of a read-back; and the checkpoint runs
    the same Spark jobs as a plain write of the frame, no more."""
    sc = spark.sparkContext
    df = (spark.range(200_000).withColumn("k", F.col("id") % 7)
          .repartition(8, "k"))
    path = str(tmp_path / "probe")

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    _, plain_jobs = jobs("plain_write",
                         lambda: df.write.mode("overwrite").parquet(path))
    shutil.rmtree(path)
    summary, ck_jobs = jobs("write_checkpoint",
                            lambda: L.write_checkpoint(df, path))
    assert ck_jobs == plain_jobs

    parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    footers = [pq.read_metadata(os.path.join(path, f)).num_rows
               for f in parts]
    assert summary["partition_rows"] == footers
    assert summary == _manifest(path)
    assert summary["partitions"] == len(parts)
    assert summary["rows"] == sum(footers) == 200_000
    assert summary["max_partition_rows"] == max(footers)
    # each part file is one non-empty partition of the frame, in order
    by_pid = (df.groupBy(F.spark_partition_id().alias("pid")).count()
              .orderBy("pid").collect())
    assert footers == [r["count"] for r in by_pid]


def test_incomplete_checkpoint_rebuilt(spark, tmp_path):
    path = str(tmp_path / "stage2")
    spark.range(10).write.parquet(path)  # data present but no manifest
    assert not L.checkpoint_complete(path)
    df = L.resumable(spark, path, lambda: spark.range(77))
    assert df.count() == 77
    assert L.checkpoint_complete(path)
