"""Structured Streaming surface.

The reference is a pure batch library (SURVEY §2.10) and the north rule's
incremental story is snapshot-diff scans (``io.snapshots``); these jobs
add the streaming expression of the same operators for continuously
arriving documents:

- :func:`stream_lanes`: the tags→lanes Arrow stage is stateless, so it
  lifts onto a file-source stream unchanged (readStream → mapInArrow →
  writeStream with exactly-once file sink + checkpoint).
- :func:`stream_event_window_counts`: watermarked event-time windowed
  aggregation (late data dropped past the watermark) — the canonical
  stateful-streaming shape.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.lane_transform import tags_to_lanes_stage
from ..schemas import DOCUMENTS_SCHEMA


def streaming_documents(spark: SparkSession, input_dir: str,
                        with_locale: bool = True) -> DataFrame:
    schema = DOCUMENTS_SCHEMA
    if with_locale:
        # StructType.add mutates in place — build from a fresh field list
        schema = T.StructType(list(schema.fields) + [
            T.StructField("iso_3166_2", T.StringType()),
            T.StructField("driving_side", T.StringType()),
        ])
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 8)
            .parquet(input_dir))


def stream_lanes(spark: SparkSession, input_dir: str, output_dir: str,
                 checkpoint_dir: str, available_now: bool = True):
    """documents stream → lanes parquet, exactly-once via checkpoint."""
    docs = streaming_documents(spark, input_dir)
    roads = tags_to_lanes_stage(docs)
    writer = (roads.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(spark: SparkSession, input_dir: str, output_dir: str,
                 checkpoint_dir: str, schema: T.StructType,
                 id_col: str = "doc_id", text_col: str = "text",
                 watermark_col: str = "ts", watermark: str = "1 hour",
                 available_now: bool = True):
    """Streaming exact dedup: first-seen fingerprint wins across
    micro-batches (stateful ``dropDuplicates`` with a watermark bounding
    the state — fingerprints older than the watermark age out)."""
    from ..operators.text import normalized

    stream = spark.readStream.schema(schema).parquet(input_dir)
    deduped = (stream
               .withColumn("fingerprint", F.md5(normalized(F.col(text_col))))
               .withWatermark(watermark_col, watermark)
               .dropDuplicatesWithinWatermark(["fingerprint"])
               .drop("fingerprint"))
    writer = (deduped.writeStream.format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_running_stats(spark: SparkSession, input_dir: str,
                         output_dir: str, checkpoint_dir: str,
                         schema: T.StructType, key_col: str = "source",
                         available_now: bool = True,
                         max_files_per_trigger: Optional[int] = None):
    """Custom stateful operator via ``applyInPandasWithState``:
    per-key running document count + char total, persisted in state across
    micro-batches; each batch emits the updated running totals."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField(key_col, T.StringType()),
        T.StructField("running_docs", T.LongType()),
        T.StructField("running_chars", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("docs", T.LongType()),
        T.StructField("chars", T.LongType()),
    ])

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        docs, chars = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            docs += len(pdf)
            chars += int(pdf["text"].str.len().sum())
        state.update((docs, chars))
        yield pd.DataFrame({key_col: [key[0]], "running_docs": [docs],
                            "running_chars": [chars]})

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    stats = (stream.groupBy(key_col)
             .applyInPandasWithState(update, out_schema, state_schema,
                                     "append", GroupStateTimeout.NoTimeout))
    writer = (stats.writeStream.format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_event_window_counts(spark: SparkSession, input_dir: str,
                               output_dir: str, checkpoint_dir: str,
                               window: str = "1 hour",
                               watermark: str = "30 minutes",
                               schema: Optional[T.StructType] = None,
                               available_now: bool = True):
    """Watermarked tumbling-window counts per event_type.

    Events later than the watermark relative to the max seen event time
    are dropped; windows finalize (and emit, append mode) once the
    watermark passes their end — standard late-data semantics.
    """
    schema = schema or T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    events = (spark.readStream.schema(schema).parquet(input_dir)
              .withWatermark("ts", watermark))
    counts = (events
              .groupBy(F.window("ts", window).alias("w"), "event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.sum("value"), 2).alias("sum_value"))
              .select(F.col("w.start").alias("window_start"),
                      F.col("w.end").alias("window_end"),
                      "event_type", "n", "sum_value"))
    writer = (counts.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_sessions(spark: SparkSession, input_dir: str,
                    output_dir: str, checkpoint_dir: str,
                    gap: str = "30 minutes",
                    watermark: str = "30 minutes",
                    schema: Optional[T.StructType] = None,
                    available_now: bool = True):
    """Watermarked gap-based session aggregation per user — the
    Structured Streaming expression of
    :func:`osm2lanes_spark.operators.temporal.sessionize`.

    ``session_window(ts, gap)`` merges events whose gaps are within
    ``gap`` into one growing window per user; a session finalizes (and
    emits, append mode) once the watermark passes gap-beyond its last
    event. Batch/stream boundary-semantics note: ``session_window``
    closes a session when the next event is ``>= gap`` away, while the
    batch ``sessionize`` breaks strictly ``> gap`` — identical for
    continuous timestamps, off-by-one when a gap equals the threshold
    exactly (documented here rather than papered over; pick a gap a
    microsecond larger to match batch exactly)."""
    schema = schema or T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    events = (spark.readStream.schema(schema).parquet(input_dir)
              .withWatermark("ts", watermark))
    sessions = (events
                .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.round(F.sum("value"), 2).alias("sum_value"))
                .select(F.col("w.start").alias("session_start"),
                        F.col("w.end").alias("session_end"),
                        "user_id", "n_events", "sum_value"))
    writer = (sessions.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_geofence_counts(spark: SparkSession, input_dir: str,
                           output_dir: str, checkpoint_dir: str,
                           geofence_cells: DataFrame, level: int = 10,
                           window: str = "5 minutes",
                           watermark: str = "10 minutes",
                           schema: Optional[T.StructType] = None,
                           available_now: bool = True):
    """Geofence hit counts over a point stream: encode each event's
    (lon, lat) to its grid cell (pure-Catalyst morton encode — works
    unchanged under streaming, no Python stage), stream-static
    inner-join against the ``geofence_cells`` table (cell, fence_id —
    e.g. a polygon's `cover_polygon` cells), then watermarked windowed
    counts per fence. The spatial tier's streaming expression: alerting
    on activity inside areas of interest as events arrive.

    The static side is a plain DataFrame — broadcast by Spark when
    small (the usual geofence case); the stateful windowed count keys
    on (window, fence_id), so state size is fences × open windows, not
    events.

    Granularity (ADVICE r06 #4, declared): counts are CELL-granular —
    every event in a fence's covering cells is counted, including
    points inside a cover cell but outside the exact polygon, so
    boundary cells systematically over-count relative to true
    containment. This matches the alerting use (cells are the index the
    caller chose via ``level``; finer levels tighten the bound). For
    exact hits, run the batch containment join's point-in-polygon
    refine over the flagged windows downstream — a refine stage here
    would put per-event polygon tests into the streaming hot path.
    """
    from ..spatial.joins import cell_expr

    schema = schema or T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ])
    events = (spark.readStream.schema(schema).parquet(input_dir)
              .withWatermark("ts", watermark)
              .withColumn("cell", cell_expr("lon", "lat", level)))
    hits = events.join(geofence_cells, "cell")
    counts = (hits
              .groupBy(F.window("ts", window).alias("w"), "fence_id")
              .agg(F.count(F.lit(1)).alias("n_events"))
              .select(F.col("w.start").alias("window_start"),
                      "fence_id", "n_events"))
    writer = (counts.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
