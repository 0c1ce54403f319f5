"""CLI parity with the reference's osm2lanes-cli (main.rs:40-63).

``convert``: read one tags JSON file → lanes JSON on stdout (the
reference's ``Command::Convert``; the ``Way {id}`` network path is
intentionally replaced engine-wide by the spatial containment join).

``batch``: the Spark path — read a documents parquet (interleaved spans),
run the full pipeline, checkpoint ROAD_SCHEMA parquet whose manifest
holds the row count of each written partition (``run_batch``, which the
spark-submit job ``jobs/run_pipeline.py`` calls too).
"""

from __future__ import annotations

import argparse
import json
import sys


def cmd_convert(args) -> int:
    from .core.locale import Locale
    from .core.model import RoadError, WayNotRoad
    from .core.serialize import road_json
    from .core.tags_to_lanes import tags_to_lanes

    with open(args.file) as f:
        tags = {str(k): str(v) for k, v in json.load(f).items()}
    locale = Locale.build(args.iso_3166, args.driving_side)
    try:
        result = tags_to_lanes(tags, locale)
    except WayNotRoad:
        print(json.dumps({"error": "way is not road"}))
        return 1
    except RoadError as e:
        print(json.dumps({"error": str(e)}))
        return 1
    print(json.dumps(road_json(result["road"]), indent=2))
    if result["warnings"] and args.verbose:
        print(json.dumps({"warnings": result["warnings"]}), file=sys.stderr)
    return 0


def run_batch(spark, input: str, output: str,
              spatial_locale: bool = False) -> dict:
    """Documents parquet at ``input`` → ROAD_SCHEMA checkpoint at
    ``output``. Prints and returns the checkpoint manifest plus the count
    of error rows, read from the written part files' footers."""
    from .fixtures.geography import all_country_polygons
    from .pipeline import lanes_pipeline
    from .plans.lineage import non_null_rows, write_checkpoint

    docs = spark.read.parquet(input)
    polygons = all_country_polygons() if spatial_locale else None
    summary = write_checkpoint(lanes_pipeline(docs, polygons), output)
    summary = {**summary, "errors": non_null_rows(output, "error")}
    print(json.dumps(summary))
    return summary


def cmd_batch(args) -> int:
    from .session import get_spark

    spark = get_spark("osm2lanes-batch", cpus=args.cpus)
    run_batch(spark, args.input, args.output, args.spatial_locale)
    spark.stop()
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="osm2lanes-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("convert", help="tags JSON file → lanes JSON")
    c.add_argument("file")
    c.add_argument("--driving-side", default="right", choices=["left", "right"])
    c.add_argument("--iso-3166", default=None)
    c.add_argument("--verbose", action="store_true")
    c.set_defaults(fn=cmd_convert)

    b = sub.add_parser("batch", help="documents parquet → lanes parquet")
    b.add_argument("input")
    b.add_argument("output")
    b.add_argument("--cpus", type=int, default=None)
    b.add_argument("--spatial-locale", action="store_true",
                   help="resolve locale from lon/lat via containment join")
    b.set_defaults(fn=cmd_batch)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
