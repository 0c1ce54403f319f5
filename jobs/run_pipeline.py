"""spark-submit entry point (north rule: run via spark-submit --py-files).

Example:
    spark-submit --master local[32] \
        --py-files osm2lanes_spark.zip \
        jobs/run_pipeline.py --input docs.parquet --output lanes.parquet

On a real cluster the same invocation works with ``--master yarn/k8s`` and
``--num-executors N``; the pipeline contains no local-mode assumptions —
partitioning comes from the source, locale resolution is a fused narrow
map, and the output checkpoints idempotently with a manifest of
per-partition row counts. The job body is ``cli.run_batch``; the session
comes from ``getOrCreate`` so spark-submit's ``--master`` holds.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="documents parquet/Iceberg path")
    p.add_argument("--output", required=True, help="output path")
    p.add_argument("--spatial-locale", action="store_true")
    args = p.parse_args()

    from osm2lanes_spark.cli import run_batch

    spark = SparkSession.builder.appName("osm2lanes-pipeline").getOrCreate()
    run_batch(spark, args.input, args.output, args.spatial_locale)
    spark.stop()


if __name__ == "__main__":
    main()
