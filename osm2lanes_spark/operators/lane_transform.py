"""Arrow-batched lane transform stages.

The reference's public API is three pure functions
(`tags_to_lanes`, `lanes_to_tags`, locale builder — SURVEY.md §2.10);
here each transform becomes ONE ``mapInArrow`` stage over Arrow record
batches, and the result leaves as nested Arrow structs built by pyarrow
straight from the kernel's dicts. No shuffle is introduced — each stage
is a pure narrow map, so it pipelines with the scan and with downstream
writes.

The forward stage never runs Python per row and builds no tag map: the
JVM reduces each row's tag-span texts to one lane key string (the sorted
texts without ``name``/``ref``, which pass through as plain columns, as
a JSON array), and per batch Python dictionary-encodes
(key, locale, config) and emits the distinct kernel rows with ``take``
back in batch order. The memo has two levels: the batch's distinct rows,
and a per-task memo of kernel rows keyed by the lane key, the locale's
rule class (:meth:`Locale.rule_key`) and the config — so the kernel runs
once per distinct lane-relevant key.

Both stages end each task with :func:`session.drop_zip_finders`, so the
worker's next task does not re-read ``pyspark.zip``'s directory.
"""

from __future__ import annotations

import functools
import json
from typing import Iterator, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from ..core.lanes_to_tags import lanes_to_tags
from ..core.locale import Locale
from ..core.model import RoadError
from ..core.tags_to_lanes import tags_to_lanes
from ..schemas import ROAD_SCHEMA, TAGS_SCHEMA
from ..session import drop_zip_finders
from .span_assembly import tag_texts, tags_error

_ACCESS_MODES = ("foot", "bicycle", "taxi", "bus", "motor")
_ROAD_FIELDS = ("highway", "lifecycle", "lit", "tracktype", "smoothness")
_ROAD_ARROW = to_arrow_schema(ROAD_SCHEMA)
# what the kernel decides: ROAD_SCHEMA after doc_id, name and ref
_KERNEL_VALUES = pa.schema(list(_ROAD_ARROW)[3:])
_TAGS_ARROW = to_arrow_schema(TAGS_SCHEMA)
# a tags_error key starts with a character no JSON array starts with
_ERROR_PREFIX = "!"
# OSM repeats tag sets heavily, so a task memoises rows across batches;
# FIFO-bounded so skew cannot grow worker memory
_MEMO_SIZE = 65536


# Exact canonical lane key of one row, as SQL over its tag texts
# (``_texts``) and their parse error (``_err``), computed JVM-side: the
# JSON array of the sorted "k=v" texts other than name and ref, or
# "!" + tags_error for a rejected row; never a hash, never null. Keys are
# unique in an accepted row, so two accepted rows share a key exactly when
# their tags other than name and ref are equal. The kernel only copies
# name and ref, so they leave as plain columns (null when absent; the
# stage nulls them on any error row).
_KEY_COLUMNS = (
    "CASE WHEN _err IS NULL THEN to_json(array_sort(filter(_texts,"
    " t -> NOT (startswith(t, 'name=') OR startswith(t, 'ref=')))))"
    f" ELSE concat('{_ERROR_PREFIX}', _err) END AS key",
    "substr(get(filter(_texts, t -> startswith(t, 'name=')), 0), 6) AS name",
    "substr(get(filter(_texts, t -> startswith(t, 'ref=')), 0), 5) AS ref")


def _lane_inputs(df: DataFrame, carried: list) -> DataFrame:
    """The JVM side of the forward stage: ``doc_id``, the lane key,
    ``name``, ``ref`` and the ``carried`` columns of ``df``, straight from
    the tag texts (no tag map is built)."""
    texts = tag_texts("spans")
    return (df.selectExpr("doc_id", f"{texts} AS _texts", *carried)
            .selectExpr("doc_id", "_texts", f"{tags_error('_texts')} AS _err",
                        *carried)
            .selectExpr("doc_id", *_KEY_COLUMNS, *carried))


@functools.lru_cache(maxsize=4096)
def _rule_key(iso: Optional[str], driving_side: Optional[str]) -> tuple:
    return Locale.build(iso, driving_side).rule_key()


def _transform_row(tags: dict, iso: Optional[str], driving_side: Optional[str],
                   include_separators: bool) -> dict:
    """One kernel row (``_KERNEL_VALUES``); absent fields are null."""
    locale = Locale.build(iso, driving_side)
    try:
        res = tags_to_lanes(tags, locale, include_separators=include_separators)
    except RoadError as e:
        return {"error": e.kind}
    except Exception as e:  # defensive: never kill the batch
        return {"error": f"internal:{type(e).__name__}"}
    road = res["road"]
    out = {f: road[f] for f in _ROAD_FIELDS}
    out["lanes"] = road["lanes"]
    out["warnings"] = [f"{w['kind']}:{w['detail']}" for w in res["warnings"]]
    return out


def _memo_row(memo: dict, key: str, iso: Optional[str],
              driving_side: Optional[str], include_separators: bool) -> dict:
    """The kernel row of one (lane key, iso, side, include_separators),
    from ``memo`` (keyed by the locale's rule class) or computed into it."""
    if key.startswith(_ERROR_PREFIX):
        return {"error": key[len(_ERROR_PREFIX):]}
    lane_key = (key, _rule_key(iso, driving_side), include_separators)
    row = memo.get(lane_key)
    if row is None:
        if len(memo) >= _MEMO_SIZE:
            memo.pop(next(iter(memo)))
        tags = dict(t.split("=", 1) for t in json.loads(key))
        row = memo[lane_key] = _transform_row(tags, iso, driving_side,
                                              include_separators)
    return row


def tags_to_lanes_stage(df: DataFrame, locale_resolver=None) -> DataFrame:
    """documents(+locale columns) → ROAD_SCHEMA rows.

    Expects columns: ``doc_id``, ``spans`` and optionally ``iso_3166_2`` /
    ``driving_side`` (produced upstream by the spatial locale join or
    carried on the fixture) and a per-row ``include_separators`` (True
    when the column is absent, False where it is null). Narrow map stage —
    no shuffle.

    Only ``doc_id``, the lane key (``_KEY_COLUMNS``: the sorted ``k=v``
    tag texts without ``name``/``ref`` as a JSON array, or
    ``"!" + tags_error``), ``name``, ``ref``, the locale inputs and the
    optional ``include_separators`` cross to Python; the JVM builds them
    from the tag texts (``span_assembly.tag_texts``) under
    ``span_assembly.tags_error``, the rule ``with_tags`` applies, and
    builds no tag map. A memo miss splits the key's texts on their first
    ``=``. The memo has two levels. Per batch, ``np.unique``
    finds the distinct ``(key, iso, side, include_separators)`` rows. Each
    of them is looked up in a per-task FIFO dict bounded at 65 536 entries,
    keyed by (key, the locale's ``rule_key()``, ``include_separators``);
    the kernel runs only on a miss, with the first locale of that rule
    class. Every row takes its own ``name`` and ``ref`` from its columns;
    an error row keeps them null.

    ``locale_resolver``: optional fused spatial-locale resolution — a
    ``spatial.joins.LocaleResolver`` (from the memoised
    ``make_locale_resolver``). When given, ``lon``/``lat`` cross to
    Python instead of the locale columns, and the cell encode (numpy,
    :meth:`LocaleResolver.locate`) and the locale lookup run inside THIS
    Arrow stage, so the whole pipeline is one Python stage per task (two
    stacked Python runners per core measurably degrade throughput). The
    index ships once per SparkContext as a broadcast; the task closure
    holds only its handle.

    The JVM side of the plan (the tag texts, their error, the key) is
    Spark SQL text built by cached pure-Python functions, so each
    expression reaches the JVM in one py4j call, not one per Column
    operator.
    """
    columns = df.columns
    if locale_resolver is not None:
        shipped = locale_resolver.broadcast(df.sparkSession.sparkContext)
        carried = ["lon", "lat"]
    else:
        shipped = None
        carried = [c for c in ("iso_3166_2", "driving_side") if c in columns]
    has_inc = "include_separators" in columns  # per-row config override
    if has_inc:
        carried.append("include_separators")
    prepared = _lane_inputs(df, carried)

    def locale(batch: pa.RecordBatch) -> list:
        if shipped is not None:
            return [pa.array(a, pa.string()) for a in shipped.value.locate(
                *(batch.column(c).to_numpy(zero_copy_only=False)
                  for c in ("lon", "lat")))]
        return [batch.column(c) if c in carried
                else pa.nulls(batch.num_rows, pa.string())
                for c in ("iso_3166_2", "driving_side")]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        memo: dict = {}
        try:
            for batch in batches:
                inc = (batch.column("include_separators").fill_null(False)
                       if has_inc else pa.repeat(True, batch.num_rows))
                encoded = [pc.dictionary_encode(c, null_encoding="encode")
                           for c in (batch.column("key"), *locale(batch), inc)]
                codes = np.column_stack([e.indices.to_numpy() for e in encoded])
                _, first, inverse = np.unique(codes, axis=0, return_index=True,
                                              return_inverse=True)
                values = [e.dictionary.to_pylist() for e in encoded]
                rows = [_memo_row(memo, *(v[c] for v, c in zip(values, codes[i])))
                        for i in first]
                out = pa.RecordBatch.from_pylist(rows, schema=_KERNEL_VALUES)
                out = out.take(pa.array(inverse.reshape(-1)))
                failed = out.column("error").is_valid()
                own = [pc.if_else(failed, None, batch.column(c))
                       for c in _ROAD_ARROW.names[1:3]]
                yield pa.RecordBatch.from_arrays(
                    [batch.column("doc_id"), *own, *out.columns],
                    schema=_ROAD_ARROW)
        finally:
            drop_zip_finders()

    return prepared.mapInArrow(run, schema=ROAD_SCHEMA)


def _denorm_lane(lane: dict) -> dict:
    """Arrow row dict → the kernel's sparse lane dict."""
    out = {"type": lane["type"]}
    for k in ("direction", "designated", "width", "semantic"):
        if lane.get(k) is not None:
            out[k] = lane[k]
    if lane.get("max_speed") is not None:
        out["max_speed"] = (lane["max_speed"]["unit"], lane["max_speed"]["value"])
    if lane.get("access") is not None:
        acc = {}
        for m in _ACCESS_MODES:
            v = lane["access"].get(m)
            if v is not None:
                a = {"access": v["access"]}
                if v.get("direction") is not None:
                    a["direction"] = v["direction"]
                acc[m] = a
        if acc:
            out["access"] = acc
    if lane.get("markings") is not None:
        out["markings"] = [
            {k: v for k, v in (("style", m["style"]), ("width", m["width"]),
                               ("color", m["color"])) if v is not None}
            for m in lane["markings"]
        ]
    return out


def _reverse_row(row: dict, check_roundtrip: bool) -> dict:
    out = {"doc_id": row["doc_id"], "tags": None, "error": None}
    try:
        road = {"highway": row["highway"], "lifecycle": row["lifecycle"],
                "lanes": [_denorm_lane(l) for l in row["lanes"] or ()]}
        locale = Locale.build(row.get("iso_3166_2"), row.get("driving_side"))
        out["tags"] = lanes_to_tags(road, locale, check_roundtrip=check_roundtrip)
    except Exception as e:
        out["error"] = f"{type(e).__name__}: {e}"
    return out


def lanes_to_tags_stage(df: DataFrame, check_roundtrip: bool = True) -> DataFrame:
    """ROAD_SCHEMA rows → tag maps (the reverse transform, L1-L10)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        try:
            for batch in batches:
                rows = [_reverse_row(r, check_roundtrip)
                        for r in batch.to_pylist()]
                yield pa.RecordBatch.from_pylist(rows, schema=_TAGS_ARROW)
        finally:
            drop_zip_finders()

    cols = ["doc_id", "highway", "lifecycle", "lanes"]
    for extra in ("iso_3166_2", "driving_side"):
        if extra in df.columns:
            cols.append(extra)
    return df.select(*cols).mapInArrow(run, schema=TAGS_SCHEMA)


def arrow_lanes_to_internal(lanes) -> list[dict]:
    """Helper for tests: ROAD_SCHEMA lanes (Row/dict) → internal dicts."""
    out = []
    for lane in lanes:
        d = lane.asDict(recursive=True) if hasattr(lane, "asDict") else dict(lane)
        out.append(_denorm_lane(d))
    return out


__all__ = ["tags_to_lanes_stage", "lanes_to_tags_stage",
           "arrow_lanes_to_internal"]
