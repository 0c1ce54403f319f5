"""Arrow-batched lane transform stages.

The reference's public API is three pure functions
(`tags_to_lanes`, `lanes_to_tags`, locale builder — SURVEY.md §2.10);
here each transform becomes ONE ``mapInArrow`` stage over Arrow record
batches, and the result leaves as nested Arrow structs built by pyarrow
straight from the kernel's dicts. No shuffle is introduced — each stage
is a pure narrow map, so it pipelines with the scan and with downstream
writes.

The forward stage never runs Python per row and builds no tag map. The
JVM side is one plain projection: the spans' ``kind`` and ``text``
arrays cross to Python as they are. Per batch, :func:`lane_keys` applies
the tag parse rule in vectorised pyarrow/numpy and gives each row its
exact lane key (its tag texts other than ``name``/``ref``, which pass
through as plain columns), and the stage dictionary-encodes (key, error,
locale, config) and emits the distinct kernel rows with ``take`` back in
batch order. The memo has two levels: the batch's distinct rows, and a
per-task memo of kernel rows keyed by the sorted texts, the locale's rule
class (:meth:`Locale.rule_key`) and the config — so the kernel runs once
per distinct lane-relevant key.

Both stages end each task with :func:`session.drop_zip_finders`, so the
worker's next task does not re-read ``pyspark.zip``'s directory.
"""

from __future__ import annotations

import functools
from collections import OrderedDict
from typing import Callable, Iterator, NamedTuple, Optional

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

_ACCESS_MODES = ("foot", "bicycle", "taxi", "bus", "motor")
_ROAD_FIELDS = ("highway", "lifecycle", "lit", "tracktype", "smoothness")
_ROAD_ARROW = to_arrow_schema(ROAD_SCHEMA)
# what the kernel decides: ROAD_SCHEMA after doc_id, name and ref
_KERNEL_VALUES = pa.schema(list(_ROAD_ARROW)[3:])
_TAGS_ARROW = to_arrow_schema(TAGS_SCHEMA)
# OSM repeats tag sets heavily, so a task memoises rows across batches;
# FIFO-bounded so skew cannot grow worker memory
_MEMO_SIZE = 65536


class LaneKeys(NamedTuple):
    """Per-row lane inputs of one batch (see :func:`lane_keys`)."""
    key: pa.Array    # binary; null on an error row
    error: pa.Array  # 'bad_tag', 'duplicate_key' or null
    name: pa.Array   # value of the row's name tag; null on an error row
    ref: pa.Array
    words: pa.Array  # the batch's distinct other tag texts, which the key codes


def lane_keys(kinds: pa.Array, texts: pa.Array) -> LaneKeys:
    """The lane key, parse error, ``name`` and ``ref`` of each row, given
    its spans' ``kind`` and ``text`` arrays (``list<string>``).

    The Arrow twin of ``span_assembly.tags_error``: a row's tag texts are
    the texts of its spans of kind ``tag``; it is 'bad_tag' when one is
    null or has no '=', else 'duplicate_key' when two share the key before
    their first '='. An accepted row's key is the sorted codes, into
    ``words`` (the batch's distinct tag texts other than ``name=``/``ref=``),
    of its own such texts, packed as int32 bytes: two accepted rows of a
    batch share a key exactly when their tags other than name and ref are
    equal. The key is exact (no hash, no separator) but batch-local. Null
    ``spans`` give no texts.
    """
    n = len(texts)
    # list_value_length is null on a null list, which list_flatten skips;
    # both arrays come from one spans array, so their lists align
    row = np.repeat(np.arange(n),
                    pc.list_value_length(texts).fill_null(0).to_numpy())
    is_tag = _mask(pc.equal(pc.list_flatten(kinds), "tag"))
    tag, row = pc.filter(pc.list_flatten(texts), is_tag), row[is_tag]
    parts = pc.split_pattern(tag, "=", max_splits=1)
    bad = np.zeros(n, bool)
    bad[row[~_mask(pc.equal(pc.list_value_length(parts), 2))]] = True
    # a text's key is the part before its first '=' (null for a null text)
    key = pc.dictionary_encode(pc.list_element(parts, 0), null_encoding="encode")
    code, width = key.indices.to_numpy(), max(len(key.dictionary), 1)
    # duplicate keys: equal (row, key code) pairs sort next to each other
    ok = ~bad[row]
    pair = np.sort(row[ok] * width + code[ok])
    dup = np.zeros(n, bool)
    dup[pair[1:][pair[1:] == pair[:-1]] // width] = True
    accepted = ~(bad | dup)
    error = pa.DictionaryArray.from_arrays(
        pa.array(np.where(bad, 0, 1), pa.int8(), mask=accepted),
        pa.array(["bad_tag", "duplicate_key"])).dictionary_decode()

    other = accepted[row]
    own = []
    for passthrough in ("name", "ref"):
        hit = other & (code == key.dictionary.index(passthrough).as_py())
        at = np.full(n, -1)
        at[row[hit]] = np.arange(hit.sum())  # keys are unique in a row
        value = pc.utf8_slice_codeunits(pc.filter(tag, hit), len(passthrough) + 1)
        own.append(value.take(pa.array(at, mask=at < 0)))
        other &= ~hit
    # each other text's dictionary code, sorted within its row (the rows
    # are already in order)
    enc = pc.dictionary_encode(pc.filter(tag, other))
    row, width = row[other], max(len(enc.dictionary), 1)
    codes = np.sort(row * width + enc.indices.to_numpy()) - row * width
    offsets = np.zeros(n + 1, "<i4")
    np.cumsum(np.bincount(row, minlength=n) * 4, out=offsets[1:])
    lane_key = pa.Array.from_buffers(pa.binary(), n, [
        pa.py_buffer(np.packbits(accepted, bitorder="little")),
        pa.py_buffer(offsets), pa.py_buffer(codes.astype("<i4").tobytes())])
    return LaneKeys(lane_key, error, *own, enc.dictionary)


def _mask(flags: pa.Array) -> np.ndarray:
    """A boolean Arrow array as a numpy mask, null as False."""
    return flags.fill_null(False).to_numpy(zero_copy_only=False)


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


def _memo_row(memo: OrderedDict, texts: tuple, iso: Optional[str],
              driving_side: Optional[str], include_separators: bool) -> dict:
    """The kernel row of one (sorted tag texts, iso, side,
    include_separators), from ``memo`` (keyed by the locale's rule class)
    or computed into it, evicting the oldest entry at ``_MEMO_SIZE``."""
    lane_key = (texts, _rule_key(iso, driving_side), include_separators)
    row = memo.get(lane_key)
    if row is None:
        if len(memo) >= _MEMO_SIZE:
            memo.popitem(last=False)
        tags = dict(t.split("=", 1) for t in texts)
        row = memo[lane_key] = _transform_row(tags, iso, driving_side,
                                              include_separators)
    return row


def _lane_rows(batches: Iterator[pa.RecordBatch],
               locale: Callable[[pa.RecordBatch], list],
               has_inc: bool) -> Iterator[pa.RecordBatch]:
    """The forward stage's Python side over one task's batches (``doc_id``,
    ``kinds``, ``texts``, the locale inputs ``locale`` reads as
    (iso, side) arrays, optional ``include_separators``) → ROAD rows."""
    memo: OrderedDict = OrderedDict()
    for batch in batches:
        keys = lane_keys(batch.column("kinds"), batch.column("texts"))
        inc = (batch.column("include_separators").fill_null(False)
               if has_inc else pa.repeat(True, batch.num_rows))
        encoded = [pc.dictionary_encode(c, null_encoding="encode") for c in
                   (keys.key, keys.error, *locale(batch), inc)]
        indices = [e.indices.to_numpy() for e in encoded]
        row = np.zeros(batch.num_rows, np.int64)
        for e, i in zip(encoded, indices):  # one dense code per distinct tuple
            _, row = np.unique(row * len(e.dictionary) + i, return_inverse=True)
        _, first, inverse = np.unique(row, return_index=True, return_inverse=True)
        distinct = [[v[c] for c in i[first].tolist()] for v, i in
                    zip((e.dictionary.to_pylist() for e in encoded), indices)]
        words = keys.words.to_pylist()
        rows = []
        for key, error, iso, side, inc_row in zip(*distinct):
            if error is not None:
                rows.append({"error": error})
                continue
            texts = tuple(sorted(words[c] for c in
                                 np.frombuffer(key, "<i4").tolist()))
            rows.append(_memo_row(memo, texts, iso, side, inc_row))
        out = pa.RecordBatch.from_pylist(rows, schema=_KERNEL_VALUES)
        out = out.take(pa.array(inverse))
        failed = out.column("error").is_valid()
        own = [pc.if_else(failed, None, c) for c in (keys.name, keys.ref)]
        yield pa.RecordBatch.from_arrays(
            [batch.column("doc_id"), *own, *out.columns], schema=_ROAD_ARROW)


def tags_to_lanes_stage(df: DataFrame, locale_resolver=None) -> DataFrame:
    """documents(+locale columns) → ROAD_SCHEMA rows.

    Expects columns: ``doc_id``, ``spans`` and optionally ``iso_3166_2`` /
    ``driving_side`` (produced upstream by the spatial locale join or
    carried on the fixture) and a per-row ``include_separators`` (True
    when the column is absent, False where it is null). Narrow map stage —
    no shuffle.

    The JVM side is one projection with no lambda: ``doc_id``, the spans'
    ``kind`` and ``text`` arrays (``spans.kind``, ``spans.text``), the
    locale inputs and the optional ``include_separators`` cross to Python.
    Per batch, :func:`lane_keys` gives each row its exact lane key, its
    parse error (the rule ``span_assembly.tags_error`` states for
    ``with_tags``), ``name`` and ``ref`` in vectorised pyarrow/numpy. The
    memo has two levels. Per batch, ``np.unique`` finds the distinct
    ``(key, error, iso, side, include_separators)`` rows. Each accepted
    one is looked up in a per-task FIFO memo bounded at 65 536 entries,
    keyed by (its sorted tag texts other than name/ref, the locale's
    ``rule_key()``, ``include_separators``); the kernel runs only on a
    miss, with the first locale of that rule class, on the texts split at
    their first ``=``. Every row takes its own ``name`` and ``ref``; an
    error row keeps them null.

    ``locale_resolver``: optional fused spatial-locale resolution — a
    ``spatial.joins.LocaleResolver`` (from the memoised
    ``make_locale_resolver``). When given, ``lon``/``lat`` cross to
    Python instead of the locale columns, and the cell encode (numpy,
    :meth:`LocaleResolver.locate`) and the locale lookup run inside THIS
    Arrow stage, so the whole pipeline is one Python stage per task (two
    stacked Python runners per core measurably degrade throughput). The
    index ships once per SparkContext as a broadcast; the task closure
    holds only its handle.
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
    prepared = df.selectExpr("doc_id", "spans.kind AS kinds",
                             "spans.text AS texts", *carried)

    def locale(batch: pa.RecordBatch) -> list:
        if shipped is not None:
            return [pa.array(a, pa.string()) for a in shipped.value.locate(
                *(batch.column(c).to_numpy(zero_copy_only=False)
                  for c in ("lon", "lat")))]
        return [batch.column(c) if c in carried
                else pa.nulls(batch.num_rows, pa.string())
                for c in ("iso_3166_2", "driving_side")]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        try:
            yield from _lane_rows(batches, locale, has_inc)
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
