"""Span assembly: interleaved documents → tag map, all JVM-side.

The reference parses newline-separated ``k=v`` text into an ordered map
(`/root/reference/osm-tags/src/lib.rs:259-282`, split on the first ``=``,
duplicate keys are an error — lib.rs:96-113). Here the tag text arrives as
``kind='tag'`` spans interleaved with media spans; assembly is expressed
entirely with Catalyst higher-order functions (filter / transform /
map_from_entries) — JVM-side projections, no shuffle, no Python anywhere
in this stage (HOFs are interpreted-eval, not whole-stage codegen, but
never leave the JVM).

The assembly is written as Spark SQL text built by cached pure-Python
functions and applied with ``F.expr``: building it as Columns cost one
py4j round trip per lambda, literal and operator on every plan. One pass
over the spans gives the tag texts (:func:`tag_texts`); their parse error
(:func:`tags_error`) and the tag map of :func:`with_tags` are both read
from those texts. The lane stage does not use this SQL: it receives the
spans' kind and text arrays and applies the same rejection rule in Arrow
(``lane_transform.lane_keys``).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@functools.lru_cache(maxsize=256)
def tag_texts(spans: str) -> str:
    """SQL text: ``spans`` → ``array<string>`` of the tag spans' texts, in
    span order (not offset order); null ``spans`` give an empty array."""
    return (f"transform(filter(coalesce({spans}, array()),"
            " s -> s.kind = 'tag'), s -> s.text)")


@functools.lru_cache(maxsize=256)
def tags_error(texts: str) -> str:
    """SQL text: the parse error of the tag texts ``texts`` (an
    ``array<string>``), or null.

    'bad_tag' when a text is null or has no '=' (lib.rs:274
    ``split_once`` returns Err), else 'duplicate_key' when two texts share
    the key before their first '=' (lib.rs:96-113). :func:`with_tags`
    applies it; the lane stage applies its Arrow twin,
    ``lane_transform.lane_keys``. ``test_malformed_spans_rejected`` and
    ``test_parse_rule_sql_arrow_differential`` (tests/test_golden_spark.py)
    hold the two to the same answer on every row.
    """
    bad = f"exists({texts}, t -> t IS NULL OR NOT contains(t, '='))"
    keys = f"transform({texts}, t -> substring_index(t, '=', 1))"
    dup = f"size({texts}) != size(array_distinct({keys}))"
    return (f"CASE WHEN {bad} THEN 'bad_tag'"
            f" WHEN {dup} THEN 'duplicate_key' END")


def with_tags(df: DataFrame) -> DataFrame:
    """Add a ``map<string,string>`` ``tags`` column assembled from ``spans``.

    The map is built from the tag texts in span order: the key is the text
    before the first '=' and the value everything after it, which may
    itself contain '=' (Tags::from_str, osm-tags lib.rs:274). Malformed
    rows are rejected Spark-side by :func:`tags_error`, mirroring the
    reference's parse errors: duplicate keys and tag text without an
    ``=`` separator (null text has none either). Offending rows get a NULL
    map plus ``tags_error`` = 'duplicate_key' | 'bad_tag'. Null ``spans``
    assemble like no spans: an empty map.
    """
    key = "substring_index(t, '=', 1)"
    value = f"substr(t, length({key}) + 2)"  # everything after the first '='
    entry = f"named_struct('key', {key}, 'value', {value})"
    return (df.withColumn("_tag_texts", F.expr(tag_texts("spans")))
            .withColumn("tags_error", F.expr(tags_error("_tag_texts")))
            .withColumn("tags", F.expr(
                "CASE WHEN tags_error IS NULL THEN"
                f" map_from_entries(transform(_tag_texts, t -> {entry})) END"))
            .drop("_tag_texts"))


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
