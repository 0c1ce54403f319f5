"""Structured Streaming: stateless lane transform + watermarked windows."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from osm2lanes_spark.streaming.jobs import (stream_event_window_counts,
                                            stream_lanes)


def test_stream_lanes(spark, fixture_dir, tmp_path):
    # stage the fixture as the stream source dir
    src = str(tmp_path / "in")
    docs = spark.read.parquet(fixture_dir["documents"])
    docs.write.parquet(src)
    q = stream_lanes(spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == docs.count()
    assert out.where(F.col("error").isNotNull()).count() == 0
    # exactly-once on restart: re-running with the same checkpoint adds nothing
    q2 = stream_lanes(spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "out")).count() == docs.count()


def test_stream_windowed_counts(spark, tmp_path):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(200):
        ts = base + dt.timedelta(minutes=i % 180)
        rows.append((i, ts, i % 7, "click" if i % 2 else "view", float(i)))
    src = str(tmp_path / "ev_in")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).write.parquet(src)
    q = stream_event_window_counts(
        spark, src, str(tmp_path / "ev_out"), str(tmp_path / "ev_ckpt"),
        window="1 hour", watermark="10 minutes")
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "ev_out"))
    rows_out = out.collect()
    # events span 3 hours × 2 types; append mode emits windows sealed by the
    # final watermark — at least the first two hours must be present
    assert len(rows_out) >= 4
    got = {(r["window_start"].hour, r["event_type"]): r["n"] for r in rows_out}
    # hour 0: minutes 0..59 → event ids with i%180 < 60
    expect_click_h0 = sum(1 for i in range(200) if i % 180 < 60 and i % 2)
    assert got[(0, "click")] == expect_click_h0


def test_stream_running_stats(spark, tmp_path):
    from pyspark.sql import types as T

    from osm2lanes_spark.streaming.jobs import stream_running_stats

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    rows = [(i, f"src{i % 3}", "x" * (10 + i % 5)) for i in range(90)]
    src = str(tmp_path / "rs_in")
    spark.createDataFrame(rows, schema).write.parquet(src)
    q = stream_running_stats(spark, src, str(tmp_path / "rs_out"),
                             str(tmp_path / "rs_ckpt"), schema)
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "rs_out"))
    # last emitted running totals per key must equal the batch totals
    latest = {r["source"]: r for r in out.orderBy("running_docs").collect()}
    for s in ("src0", "src1", "src2"):
        assert latest[s]["running_docs"] == 30
        expect_chars = sum(10 + i % 5 for i in range(90) if i % 3 == int(s[-1]))
        assert latest[s]["running_chars"] == expect_chars


def test_stream_running_stats_crash_recovery(spark, tmp_path):
    """Kill-and-restart of the applyInPandasWithState job from its
    checkpoint: the query is stopped mid-stream (after >= 1 committed
    micro-batch, < all input), restarted on the same checkpoint, and the
    final running totals must be exact — no double-counted batches, no
    lost state — i.e. exactly-once ACROSS the restart, not just within
    one run (VERDICT r02 next-round #7)."""
    import time

    from pyspark.sql import types as T

    from osm2lanes_spark.streaming.jobs import stream_running_stats

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    src = str(tmp_path / "cr_in")
    # 12 separate files -> 12 micro-batches at maxFilesPerTrigger=1
    for f in range(12):
        rows = [(f * 10 + i, f"src{(f * 10 + i) % 3}",
                 "x" * (10 + (f * 10 + i) % 5)) for i in range(10)]
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)

    out, ckpt = str(tmp_path / "cr_out"), str(tmp_path / "cr_ckpt")
    q = stream_running_stats(spark, src, out, ckpt, schema,
                             available_now=False, max_files_per_trigger=1)
    # kill mid-stream: wait for at least one committed batch, then stop
    deadline = time.time() + 120
    while time.time() < deadline:
        p = q.lastProgress
        if p and p["numInputRows"] > 0:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)
    # restart from the same checkpoint, drain the remainder
    q2 = stream_running_stats(spark, src, out, ckpt, schema,
                              available_now=True)
    q2.awaitTermination(120)

    final = spark.read.parquet(out)
    # the job emits one running-total row per key per batch that touched
    # the key; the LAST emission per key must equal the exact batch totals
    latest = {r["source"]: r
              for r in final.orderBy("running_docs").collect()}
    all_ids = range(120)
    for s in ("src0", "src1", "src2"):
        k = int(s[-1])
        assert latest[s]["running_docs"] == 40, (s, latest[s])
        expect_chars = sum(10 + i % 5 for i in all_ids if i % 3 == k)
        assert latest[s]["running_chars"] == expect_chars, (s, latest[s])
    # and the restart actually continued (didn't reprocess from scratch):
    # running totals are monotone per key with no duplicated plateau pair
    per_key = {}
    for r in final.collect():
        per_key.setdefault(r["source"], []).append(r["running_docs"])
    for s, vals in per_key.items():
        assert len(vals) == len(set(vals)), f"duplicated emission for {s}"


def test_stream_sessions(spark, tmp_path):
    from osm2lanes_spark.streaming.jobs import stream_sessions

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    # user 1: two bursts separated by a 2-hour silence -> two sessions;
    # user 2: one burst
    for i in range(10):
        rows.append((i, base + dt.timedelta(minutes=i), 1, "click", 1.0))
    for i in range(10):
        rows.append((100 + i, base + dt.timedelta(hours=3, minutes=i),
                     1, "click", 1.0))
    for i in range(5):
        rows.append((200 + i, base + dt.timedelta(minutes=2 * i),
                     2, "view", 2.0))
    # a late straggler far past everything seals the earlier sessions
    rows.append((999, base + dt.timedelta(hours=9), 2, "view", 0.0))
    src = str(tmp_path / "sess_in")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).write.parquet(src)
    q = stream_sessions(spark, src, str(tmp_path / "sess_out"),
                        str(tmp_path / "sess_ckpt"),
                        gap="30 minutes", watermark="10 minutes")
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "sess_out"))
    got = {(r["user_id"], r["session_start"].hour): r["n_events"]
           for r in out.collect()}
    # user 1's two bursts are distinct sessions; user 2's burst sealed too
    assert got[(1, 0)] == 10
    assert got[(1, 3)] == 10
    assert got[(2, 0)] == 5


def test_stream_stateless_curation_ops(spark, tmp_path):
    """The r05 stateless curation operators (redaction, chunking) must
    compose with Structured Streaming unchanged — they are pure narrow
    projections, so a readStream->writeStream pass yields exactly the
    batch result."""
    from osm2lanes_spark.operators.packing import chunk_documents
    from osm2lanes_spark.operators.text import with_redactions

    rows = [("d1", "mail a@b.co or https://x.io t1 t2 t3 t4 t5 t6"),
            ("d2", "plain words only here"),
            ("d3", "")]
    src = str(tmp_path / "cur_in")
    batch = spark.createDataFrame(rows, "doc_id string, text string")
    batch.write.parquet(src)

    def transform(df):
        red = with_redactions(df)
        return chunk_documents(
            red.select("doc_id", F.col("redacted").alias("text")),
            chunk_tokens=4, overlap_tokens=1)

    stream = (spark.readStream.schema("doc_id string, text string")
              .parquet(src))
    q = (transform(stream).writeStream
         .format("parquet")
         .option("path", str(tmp_path / "cur_out"))
         .option("checkpointLocation", str(tmp_path / "cur_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(
        str(tmp_path / "cur_out")).collect()))
    want = sorted(map(tuple, transform(batch).collect()))
    assert got == want and len(want) > 0


def test_stream_geofence_counts(spark, tmp_path):
    """Spatial tier under streaming: grid encode + stream-static fence
    join + watermarked window counts, exactly-once through restart."""
    import pandas as pd

    from osm2lanes_spark.spatial.joins import cell_expr
    from osm2lanes_spark.streaming.jobs import stream_geofence_counts

    src = tmp_path / "in"
    out = tmp_path / "out"
    ck = tmp_path / "ck"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    # 30 events inside fence A (around 10,50), 10 inside B (-70,-20),
    # 5 far outside any fence
    for i in range(30):
        rows.append((i, base + pd.Timedelta(minutes=i % 4),
                     10.0 + (i % 3) * 1e-4, 50.0 + (i % 5) * 1e-4))
    for i in range(10):
        rows.append((100 + i, base + pd.Timedelta(minutes=i % 4),
                     -70.0, -20.0))
    for i in range(5):
        rows.append((200 + i, base, 120.0, 70.0))
    # a far-future straggler inside fence A advances the watermark and
    # seals the real windows (its own window never emits)
    rows.append((999, base + pd.Timedelta(hours=9), 10.0, 50.0))
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "lon", "lat"])
    spark.createDataFrame(pdf).write.parquet(str(src / "batch0"))

    anchors = spark.createDataFrame(
        pd.DataFrame({"fence_id": ["A", "B"],
                      "lon": [10.0, -70.0], "lat": [50.0, -20.0]}))
    fences = anchors.select(
        "fence_id", cell_expr("lon", "lat", 10).alias("cell"))

    q = stream_geofence_counts(spark, str(src) + "/*", str(out), str(ck),
                               fences, level=10)
    q.awaitTermination(120)
    got = spark.read.parquet(str(out)).toPandas()
    by_fence = got.groupby("fence_id")["n_events"].sum().to_dict()
    assert by_fence == {"A": 30, "B": 10}  # outside-fence events dropped

    # exactly-once across restart: a second identical run adds nothing
    q2 = stream_geofence_counts(spark, str(src) + "/*", str(out), str(ck),
                                fences, level=10)
    q2.awaitTermination(120)
    again = spark.read.parquet(str(out)).toPandas()
    assert again["n_events"].sum() == got["n_events"].sum()
