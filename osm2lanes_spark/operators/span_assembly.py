"""Span assembly: interleaved documents → tag map, all JVM-side.

The reference parses newline-separated ``k=v`` text into an ordered map
(`/root/reference/osm-tags/src/lib.rs:259-282`, split on the first ``=``,
duplicate keys are an error — lib.rs:96-113). Here the tag text arrives as
``kind='tag'`` spans interleaved with media spans; assembly is expressed
entirely with Catalyst higher-order functions (filter / array_sort /
transform / map_from_entries) — JVM-side single projection, no shuffle,
no Python anywhere in this stage (HOFs are interpreted-eval, not
whole-stage codegen, but never leave the JVM).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tag_entries(spans: Column) -> Column:
    """``spans`` → sorted ``array<struct<key,value>>`` of tag pairs.

    Ordering by ``offset`` preserves the document's span sequence; the
    split on the *first* '=' mirrors Tags::from_str (osm-tags lib.rs:274).
    """
    # natural struct ordering (offset leads) instead of a lambda comparator:
    # comparator lambdas defeat codegen; field-order sort stays compiled
    tags = F.array_sort(F.transform(
        F.filter(spans, lambda s: s["kind"] == F.lit("tag")),
        lambda s: F.struct(s["offset"].alias("offset"), s["text"].alias("text"))))
    return F.transform(
        tags,
        lambda s: F.struct(
            F.substring_index(s["text"], "=", 1).alias("key"),
            # everything after the first '=' (value may itself contain '=')
            s["text"].substr(
                F.length(F.substring_index(s["text"], "=", 1)) + 2,
                F.length(s["text"])).alias("value"),
        ),
    )


def with_tags(df: DataFrame, spans_col: str = "spans",
              out_col: str = "tags") -> DataFrame:
    """Add a ``map<string,string>`` tags column assembled from spans.

    Malformed rows are rejected Spark-side, mirroring the reference's
    parse errors: duplicate keys (lib.rs:96-113) and tag text without an
    ``=`` separator (lib.rs:274 ``split_once`` returns Err; null text has
    none either). Offending rows get a NULL map plus ``tags_error`` =
    'duplicate_key' | 'bad_tag'. Null ``spans`` assemble like no spans: an
    empty map.
    """
    spans = F.coalesce(F.col(spans_col),
                       F.array().cast(df.schema[spans_col].dataType))
    entries = tag_entries(spans)
    keys = F.transform(entries, lambda e: e["key"])
    dup = F.size(keys) != F.size(F.array_distinct(keys))
    bad = F.exists(
        F.filter(spans, lambda s: s["kind"] == F.lit("tag")),
        lambda s: s["text"].isNull() | ~s["text"].contains("="))
    return (
        df.withColumn("_tag_entries", entries)
        .withColumn("tags_error",
                    F.when(bad, F.lit("bad_tag"))
                    .when(dup, F.lit("duplicate_key")))
        .withColumn(out_col, F.when(F.col("tags_error").isNull(),
                                    F.map_from_entries(F.col("_tag_entries"))))
        .drop("_tag_entries")
    )


def media_refs(spans: Column) -> Column:
    """Ordered media refs of a document (carried through untouched)."""
    media = F.array_sort(F.transform(
        F.filter(spans, lambda s: s["kind"] == F.lit("media")),
        lambda s: F.struct(s["offset"].alias("offset"),
                           s["media_ref"].alias("media_ref"))))
    return F.transform(media, lambda s: s["media_ref"])


def span_fingerprint(spans: Column) -> Column:
    """Order-sensitive hash of the (kind, text, media_ref) sequence.

    This is the span-sequence equality invariant: any stage that claims to
    carry documents through untouched must preserve this fingerprint.
    """
    ordered = F.array_sort(F.transform(
        spans, lambda s: F.struct(
            s["offset"].alias("offset"), s["kind"].alias("kind"),
            s["text"].alias("text"), s["media_ref"].alias("media_ref"))))
    canon = F.transform(
        ordered,
        lambda s: F.concat_ws(
            "\x1f", s["kind"], F.coalesce(s["text"], F.lit("")),
            F.coalesce(s["media_ref"], F.lit(""))))
    return F.sha2(F.concat_ws("\x1e", canon), 256)
