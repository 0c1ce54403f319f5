"""Arrow-batched lane transform stages.

The reference's public API is three pure functions
(`tags_to_lanes`, `lanes_to_tags`, locale builder — SURVEY.md §2.10);
here each transform becomes ONE ``mapInArrow`` stage over Arrow record
batches, and the result leaves as nested Arrow structs built by pyarrow
straight from the kernel's dicts. No shuffle is introduced — each stage
is a pure narrow map, so it pipelines with the scan and with downstream
writes.

The forward stage never runs Python per row: the JVM reduces each row's
tag map to one exact key string, and per batch Python dictionary-encodes
(key, locale, config) and emits the distinct output rows with ``take``
back in batch order. The memo has two levels: the batch's distinct exact
rows, and a per-task memo of kernel rows keyed only by what the kernel
reads — the tags without the passthrough ``name``/``ref``, the locale's
rule class (:meth:`Locale.rule_key`) and the config — so the kernel runs
once per distinct lane-relevant key.
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
from .span_assembly import with_tags

_ACCESS_MODES = ("foot", "bicycle", "taxi", "bus", "motor")
_ROAD_FIELDS = ("name", "ref", "highway", "lifecycle", "lit", "tracktype",
                "smoothness")
_ROAD_ARROW = to_arrow_schema(ROAD_SCHEMA)
_ROAD_VALUES = pa.schema([f for f in _ROAD_ARROW if f.name != "doc_id"])
_TAGS_ARROW = to_arrow_schema(TAGS_SCHEMA)
# a tags_error key starts with a character no JSON object starts with
_ERROR_PREFIX = "!"
# OSM repeats tag sets heavily, so a task memoises rows across batches;
# FIFO-bounded so skew cannot grow worker memory
_MEMO_SIZE = 65536


# Exact canonical key of one row's tags, as SQL (computed JVM-side): the
# JSON of the tag map with its entries sorted by key, or "!" + tags_error
# for a rejected row. Never a hash, never null.
_TAGS_KEY = ("CASE WHEN tags_error IS NULL"
             " THEN to_json(map_from_entries(array_sort(map_entries(tags))))"
             f" ELSE concat('{_ERROR_PREFIX}', tags_error) END")


# the kernel copies these tags to its output and reads them for nothing else
_PASSTHROUGH = ("name", "ref")


@functools.lru_cache(maxsize=4096)
def _rule_key(iso: Optional[str], driving_side: Optional[str]) -> tuple:
    return Locale.build(iso, driving_side).rule_key()


def _transform_row(tags: dict, iso: Optional[str], driving_side: Optional[str],
                   include_separators: bool) -> dict:
    """One ROAD_SCHEMA row (without ``doc_id``); absent fields are null."""
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
    """The row of one exact (key, iso, side, include_separators): the
    kernel row of its lane-relevant key, from ``memo`` or computed into it,
    with this row's own ``name`` and ``ref``."""
    if key.startswith(_ERROR_PREFIX):
        return {"error": key[len(_ERROR_PREFIX):]}
    tags = json.loads(key)
    own = {f: tags.pop(f, None) for f in _PASSTHROUGH}
    lane_key = (tuple(tags.items()), _rule_key(iso, driving_side),
                include_separators)
    row = memo.get(lane_key)
    if row is None:
        if len(memo) >= _MEMO_SIZE:
            memo.pop(next(iter(memo)))
        row = memo[lane_key] = _transform_row(tags, iso, driving_side,
                                              include_separators)
    return row if "error" in row else {**row, **own}


def tags_to_lanes_stage(df: DataFrame, include_separators: bool = True,
                        locale_resolver=None) -> DataFrame:
    """documents(+locale columns) → ROAD_SCHEMA rows.

    Expects columns: ``doc_id``, ``spans`` and optionally ``iso_3166_2`` /
    ``driving_side`` (produced upstream by the spatial locale join or
    carried on the fixture) and a per-row ``include_separators``. Narrow
    map stage — no shuffle.

    Only ``doc_id``, the tag key (``_TAGS_KEY``: the sorted tag map as
    JSON, or ``"!" + tags_error``), the locale inputs and the optional
    ``include_separators`` cross to Python. The memo has two levels. Per
    batch, ``np.unique`` finds the distinct exact
    ``(key, iso, side, include_separators)`` rows. Each of them is looked up
    in a per-task FIFO dict bounded at 65 536 entries, keyed by (the tags
    without ``name``/``ref``, the locale's ``rule_key()``,
    ``include_separators``); the kernel runs only on a miss, with the first
    locale of that rule class. A hit takes the row's own ``name`` and
    ``ref``; an error row keeps them null.

    ``locale_resolver``: optional fused spatial-locale resolution — a
    ``spatial.joins.LocaleResolver`` (from the memoised
    ``make_locale_resolver``). When given, the ``cell`` is computed
    JVM-side and locale resolves inside THIS Arrow stage, so the whole
    pipeline is one Python stage per task (two stacked Python runners per
    core measurably degrade throughput). The index ships once per
    SparkContext as a broadcast; the task closure holds only its handle.

    The JVM side of the plan (span assembly, the key, the cell encode) is
    Spark SQL text built by cached pure-Python functions, so each
    expression reaches the JVM in one py4j call, not one per Column
    operator.
    """
    columns = df.columns
    cols = ["doc_id", f"{_TAGS_KEY} AS key"]
    if locale_resolver is not None:
        from ..spatial.joins import NO_CELL, cell_sql
        shipped = locale_resolver.broadcast(df.sparkSession.sparkContext)
        # null as NO_CELL: the column must reach numpy as int64
        cell = cell_sql("lon", "lat", locale_resolver.level)
        cols += [f"coalesce({cell}, {NO_CELL}L) AS cell", "lon", "lat"]
        locale_cols = ()
    else:
        shipped = None
        locale_cols = [c for c in ("iso_3166_2", "driving_side")
                       if c in columns]
        cols += locale_cols
    has_inc = "include_separators" in columns  # per-row config override
    if has_inc:
        cols.append("include_separators")
    prepared = with_tags(df).selectExpr(*cols)

    def locale(batch: pa.RecordBatch) -> list:
        if shipped is not None:
            return [pa.array(a, pa.string()) for a in shipped.value(
                *(batch.column(c).to_numpy(zero_copy_only=False)
                  for c in ("cell", "lon", "lat")))]
        return [batch.column(c) if c in locale_cols
                else pa.nulls(batch.num_rows, pa.string())
                for c in ("iso_3166_2", "driving_side")]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        memo: dict = {}
        for batch in batches:
            inc = (batch.column("include_separators").fill_null(False) if has_inc
                   else pa.repeat(bool(include_separators), batch.num_rows))
            encoded = [pc.dictionary_encode(c, null_encoding="encode")
                       for c in (batch.column("key"), *locale(batch), inc)]
            codes = np.column_stack([e.indices.to_numpy() for e in encoded])
            _, first, inverse = np.unique(codes, axis=0, return_index=True,
                                          return_inverse=True)
            values = [e.dictionary.to_pylist() for e in encoded]
            rows = [_memo_row(memo, *(v[c] for v, c in zip(values, codes[i])))
                    for i in first]
            out = pa.RecordBatch.from_pylist(rows, schema=_ROAD_VALUES)
            out = out.take(pa.array(inverse.reshape(-1)))
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), *out.columns], schema=_ROAD_ARROW)

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
        for batch in batches:
            rows = [_reverse_row(r, check_roundtrip) for r in batch.to_pylist()]
            yield pa.RecordBatch.from_pylist(rows, schema=_TAGS_ARROW)

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
