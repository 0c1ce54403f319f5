"""Span assembly: interleaved documents → tag map, all JVM-side.

The reference parses newline-separated ``k=v`` text into an ordered map
(`/root/reference/osm-tags/src/lib.rs:259-282`, split on the first ``=``,
duplicate keys are an error — lib.rs:96-113). Here the tag text arrives as
``kind='tag'`` spans interleaved with media spans; assembly is expressed
entirely with Catalyst higher-order functions (filter / array_sort /
transform / map_from_entries) — JVM-side projections, no shuffle, no
Python anywhere in this stage (HOFs are interpreted-eval, not
whole-stage codegen, but never leave the JVM).

The assembly is written as Spark SQL text built by cached pure-Python
functions and applied with ``F.expr``: building it as Columns cost one
py4j round trip per lambda, literal and operator on every plan.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tag_entries(spans: str) -> str:
    """SQL text: ``spans`` → sorted ``array<struct<key,value>>`` of tag pairs.

    Ordering by ``offset`` preserves the document's span sequence; the
    split on the *first* '=' mirrors Tags::from_str (osm-tags lib.rs:274).
    """
    # natural struct ordering (offset leads) instead of a lambda comparator:
    # comparator lambdas defeat codegen; field-order sort stays compiled
    tags = (f"array_sort(transform(filter({spans}, s -> s.kind = 'tag'),"
            " s -> named_struct('offset', s.`offset`, 'text', s.text)))")
    key = "substring_index(s.text, '=', 1)"
    # everything after the first '=' (value may itself contain '=')
    value = f"substr(s.text, length({key}) + 2, length(s.text))"
    return (f"transform({tags},"
            f" s -> named_struct('key', {key}, 'value', {value}))")


@functools.lru_cache(maxsize=256)
def _with_tags_sql(spans_col: str) -> tuple[str, str, str]:
    """SQL text of (tag entries, tags_error, tags) over ``spans_col``,
    cached per process; the last two read the entries from a
    ``_tag_entries`` column."""
    # null spans assemble like no spans
    spans = f"coalesce({spans_col}, array())"
    bad = (f"exists(filter({spans}, s -> s.kind = 'tag'),"
           " s -> s.text IS NULL OR NOT contains(s.text, '='))")
    dup = "size(_tag_entries.key) != size(array_distinct(_tag_entries.key))"
    error = (f"CASE WHEN {bad} THEN 'bad_tag'"
             f" WHEN {dup} THEN 'duplicate_key' END")
    tags = "CASE WHEN tags_error IS NULL THEN map_from_entries(_tag_entries) END"
    return tag_entries(spans), error, tags


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
    entries, error, tags = _with_tags_sql(spans_col)
    return (df.withColumn("_tag_entries", F.expr(entries))
            .withColumn("tags_error", F.expr(error))
            .withColumn(out_col, F.expr(tags))
            .drop("_tag_entries"))


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
