"""Streaming layer tests (SURVEY.md §5.4): plc_sim source, decode
pipeline, watermark late-data drop, stateful current value, session
windows, per-interval orchestration.
"""

import os
import tempfile
import time

from pyspark.sql import functions as F

from iot_system_plc_data_to_influxdb_spark.sources import plc as plc_src
from iot_system_plc_data_to_influxdb_spark.streaming.pipeline import (
    decode_readings,
    downsample,
    session_windows,
)
from iot_system_plc_data_to_influxdb_spark.streaming.state import (
    current_value_batch,
    current_value_stream,
)


def test_plc_source_batch_read(spark):
    plc_src.register(spark)
    df = spark.read.format("plc_sim").option("polls", "2").load()
    rows = df.collect()
    # 9 default tags × 2 polls
    assert len(rows) == 18
    assert set(r["plc_ip"] for r in rows) == {
        "192.168.0.10", "192.168.0.11", "192.168.0.12",
    }
    decoded = decode_readings(df).collect()
    assert len(decoded) == 18  # all default tags decodable
    by_key = {(r["plc_ip"], r["alias"], r["ts"].second): r["value"] for r in decoded}
    # boiler_temp seed = sum(ord) of 'boiler_temp'; poll 0 → float(seed)
    seed = sum(ord(c) for c in "boiler_temp")
    assert by_key[("192.168.0.10", "boiler_temp", 0)] == float(seed)
    assert by_key[("192.168.0.10", "boiler_temp", 1)] == float(seed) + 0.25
    # uptime_s crosses 2³¹ (unsigned DWord risk case)
    seed_u = sum(ord(c) for c in "uptime_s")
    assert by_key[("192.168.0.12", "uptime_s", 0)] == float(2147483000 + seed_u * 1000)


def test_plc_sim_clock_is_utc_in_any_host_zone():
    """The simulator's poll n is the instant 2024-01-01T00:00Z + n s,
    in batch and stream rows alike, whatever the host's time zone."""
    from pyspark.sql.types import TimestampType

    saved = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Tokyo"
    time.tzset()
    try:
        source = plc_src.PLCSimDataSource({"polls": "2", "pollsPerBatch": "2"})
        batch = source.reader(None)
        rows = [r for p in batch.partitions() for r in batch.read(p)]
        stream = source.simpleStreamReader(None)
        rows += list(stream.read(stream.initialOffset())[0])
        got = {(r[0], TimestampType().toInternal(r[1])) for r in rows}
    finally:
        if saved is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = saved
        time.tzset()
    assert len(rows) == 36
    assert got == {(p, (1704067200 + p) * 10**6) for p in (0, 1)}


def test_plc_source_ts_is_the_poll_instant(spark):
    """End to end through Spark's Python workers: stored ts is the
    poll's UTC instant (the host-zone check runs this under
    TZ=Asia/Tokyo)."""
    plc_src.register(spark)
    df = spark.read.format("plc_sim").option("polls", "2").load()
    got = {(r[0], r[1]) for r in df.select("poll", F.col("ts").cast("long")).collect()}
    assert got == {(0, 1704067200), (1, 1704067201)}


def test_points_sink_stores_the_poll_instant(spark, tmp_path):
    """The points sink converts ts through Arrow itself: the stored ts
    is the poll's UTC instant, read through Spark and straight off the
    parquet files (the host-zone check runs this under TZ=Asia/Tokyo)."""
    import glob

    import pyarrow.parquet as pq

    from iot_system_plc_data_to_influxdb_spark.streaming.sinks import (
        write_points_batch,
    )

    plc_src.register(spark)
    path = str(tmp_path / "points")
    raw = spark.read.format("plc_sim").option("polls", "2").load()
    write_points_batch(decode_readings(raw), 0, path)
    want = {1704067200, 1704067201}
    stored = spark.read.parquet(path).select(F.col("ts").cast("long"))
    assert {r[0] for r in stored.collect()} == want
    in_files = {
        ns // 10**9
        for f in glob.glob(os.path.join(path, "*", "*.parquet"))
        for ns in pq.ParquetFile(f).read().column("ts").cast("int64").to_pylist()
    }
    assert in_files == want


def test_plc_source_stream_microbatches(spark):
    plc_src.register(spark)
    raw = spark.readStream.format("plc_sim").option("pollsPerBatch", "2").load()
    points = decode_readings(raw)
    collected = []
    q = (
        points.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: collected.append((bid, df.collect())))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(collected) < 3:
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(collected) >= 2
    batch0 = collected[0][1]
    assert len(batch0) == 18  # 9 tags × pollsPerBatch 2
    polls = set()
    for _bid, rows in collected[:2]:
        for r in rows:
            polls.add(r["ts"])
    assert len(polls) >= 4  # poll clock advances across batches


def _write_file_stream_input(tmp, spark):
    """Three files with forced mtime order.

    The watermark in-effect for late-row filtering lags one batch
    behind the advancing event (observed empirically: the wm computed
    from batch N's data governs filtering from batch N+2), so the late
    row goes in its own third file.
    """
    sch = "ts timestamp, plc_ip string, alias string, value double"
    batches = [
        [
            ("2024-01-01 00:00:05", "p1", "a", 1.0),
            ("2024-01-01 00:00:15", "p1", "a", 2.0),
            ("2024-01-01 00:10:00", "p1", "a", 3.0),  # advances watermark
        ],
        [
            ("2024-01-01 00:09:45", "p1", "a", 4.0),  # within watermark
        ],
        [
            ("2024-01-01 00:00:20", "p1", "a", 99.0),  # late: < wm 00:09:30
        ],
    ]
    import glob
    import shutil

    t0 = time.time() - 100
    dst = os.path.join(tmp, "stream")
    os.makedirs(dst, exist_ok=True)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "ts string, plc_ip string, alias string, value double"
        ).select(F.col("ts").cast("timestamp"), "plc_ip", "alias", "value")
        stage = os.path.join(tmp, f"stage{i}")
        df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        out = os.path.join(dst, f"{i:04d}.parquet")
        shutil.copy(part, out)
        os.utime(out, (t0 + i * 10, t0 + i * 10))
    return dst, sch


def test_watermark_drops_late_rows(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with tempfile.TemporaryDirectory() as tmp:
        path, sch = _write_file_stream_input(tmp, spark)
        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )
        agg = downsample(stream, window="1 minute", watermark="30 seconds")
        results = {}
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(
                lambda df, bid: results.update(
                    {
                        (r["bucket_start"], r["alias"]): r
                        for r in df.collect()
                    }
                )
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # Window 00:00 closed when watermark passed 00:01 → contains the
        # two on-time rows only; the late 00:00:20 row (arriving after
        # the watermark advanced to 00:09:30) must NOT reopen it.
        import datetime

        w0 = datetime.datetime(2024, 1, 1, 0, 0)
        assert (w0, "a") in results
        assert results[(w0, "a")]["n"] == 2


def test_current_value_stream_state(spark):
    with tempfile.TemporaryDirectory() as tmp:
        path, sch = _write_file_stream_input(tmp, spark)
        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )
        snapshots = []
        q = (
            current_value_stream(stream)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: snapshots.append((bid, df.collect())))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert len(snapshots) >= 2
        final = {(r["plc_ip"], r["alias"]): r for _b, rows in snapshots for r in rows}
        # last value by event time = 3.0 @ 00:10 (state ignores the
        # late 99.0 whose ts is older than the held state)
        assert final[("p1", "a")]["last_value"] == 3.0


def test_session_window_stream(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with tempfile.TemporaryDirectory() as tmp:
        path, sch = _write_file_stream_input(tmp, spark)
        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )
        out = []
        q = (
            session_windows(stream, gap="1 minute", watermark="30 seconds")
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: out.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # Append mode emits a session only once the watermark (00:09:30
        # after batch 0) passes its end: the 00:00:05–00:01:15 session
        # finalizes; the 00:09:45/00:10:00 session stays open at stream
        # end and must NOT be emitted.
        got = [
            (r["session_start"].strftime("%H:%M:%S"), r["n"]) for r in out
        ]
        assert got == [("00:00:05", 2)]


def test_interval_orchestration_and_sink(spark):
    """A4/A12/A13: per-interval queries write partitioned points tables."""
    from iot_system_plc_data_to_influxdb_spark.streaming.sinks import (
        start_points_query,
    )

    plc_src.register(spark)
    with tempfile.TemporaryDirectory() as tmp:
        raw = spark.readStream.format("plc_sim").option("pollsPerBatch", "3").load()
        points = decode_readings(raw)
        q = start_points_query(
            points,
            os.path.join(tmp, "points"),
            os.path.join(tmp, "ckpt"),
            trigger_interval="0 seconds",
        )
        deadline = time.time() + 60
        while time.time() < deadline and q.lastProgress is None:
            time.sleep(0.5)
        time.sleep(2)
        q.stop()
        written = spark.read.parquet(os.path.join(tmp, "points"))
        assert written.count() > 0
        # db-per-PLC layout: one partition dir per plc_ip (A12)
        parts = [
            d for d in os.listdir(os.path.join(tmp, "points")) if d.startswith("plc_ip=")
        ]
        assert len(parts) == 3


def test_current_value_batch_matches_stream_semantics(spark):
    df = spark.createDataFrame(
        [
            ("2024-01-01 00:00:05", "p1", "a", 1.0),
            ("2024-01-01 00:10:00", "p1", "a", 3.0),
            ("2024-01-01 00:00:20", "p1", "a", 99.0),
            ("2024-01-01 00:00:01", "p2", "b", 7.0),
        ],
        "ts string, plc_ip string, alias string, value double",
    ).select(F.col("ts").cast("timestamp"), "plc_ip", "alias", "value")
    out = {(r["plc_ip"], r["alias"]): r for r in current_value_batch(df).collect()}
    assert out[("p1", "a")]["last_value"] == 3.0
    assert out[("p2", "b")]["last_value"] == 7.0


def test_decode_stream_null_gate(spark):
    """Counter/Timer tags must vanish at the A9 null gate."""
    import json

    plc_src.register(spark)
    tags = plc_src.DEFAULT_TAGS + [
        ("192.168.0.10", "S7WLCounter", "S7AreaCT", "C2", "cycles"),
    ]
    df = (
        spark.read.format("plc_sim")
        .option("polls", "1")
        .option("tags", json.dumps([list(t) for t in tags]))
        .load()
    )
    assert df.count() == 10
    decoded = decode_readings(df)
    assert decoded.count() == 9
    assert decoded.filter(F.col("alias") == "cycles").count() == 0


def test_sliding_window_stream(spark):
    """B26: sliding windows assign each row to two overlapping windows
    under readStream, mirroring the b26 batch-parity query."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with tempfile.TemporaryDirectory() as tmp:
        path, sch = _write_file_stream_input(tmp, spark)
        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )
        agg = downsample(
            stream, window="1 minute", slide="30 seconds", watermark="30 seconds"
        )
        results = []
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: results.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # rows at 00:00:05 and 00:00:15 fall in windows starting
        # 23:59:30, 00:00:00 (both rows) — finalized once wm passes
        got = {
            (r["bucket_start"].strftime("%H:%M:%S"), r["n"]) for r in results
        }
        assert ("00:00:00", 2) in got
        assert ("23:59:30", 2) in got


def test_current_value_stream_transform_with_state(spark):
    """Spark-4 StatefulProcessor variant must match the legacy
    applyInPandasWithState semantics: latest value by event time per
    key, state held across micro-batches. Skipped where the protobuf
    runtime backing the transformWithState state server is absent."""
    from iot_system_plc_data_to_influxdb_spark.streaming.state import (
        HAS_TRANSFORM_WITH_STATE,
        current_value_stream_tws,
    )

    import pytest

    if not HAS_TRANSFORM_WITH_STATE:
        pytest.skip("transformWithStateInPandas runtime unavailable")

    with tempfile.TemporaryDirectory() as tmp:
        path, sch = _write_file_stream_input(tmp, spark)
        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )
        snapshots = []
        q = (
            current_value_stream_tws(stream)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: snapshots.append((bid, df.collect())))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert len(snapshots) >= 2
        final = {(r["plc_ip"], r["alias"]): r for _b, rows in snapshots for r in rows}
        assert final[("p1", "a")]["last_value"] == 3.0


def test_continuous_downsample_with_backfill(spark):
    """InfluxDB-CQ parity: the streaming rollup emits closed windows,
    batch backfill repairs the watermark-stranded tail idempotently,
    and stream+backfill together equal the pure batch downsample."""
    from iot_system_plc_data_to_influxdb_spark.streaming.rollup import (
        backfill_downsample,
        batch_downsample,
        read_rollup,
        resample_downsample,
        start_continuous_downsample,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with tempfile.TemporaryDirectory() as tmp:
        path, sch = _write_file_stream_input(tmp, spark)
        table = os.path.join(tmp, "rollup")
        ckpt = os.path.join(tmp, "ckpt")
        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )
        q = start_continuous_downsample(
            stream,
            table,
            ckpt,
            every="1 minute",
            watermark="30 seconds",
            available_now=True,
        )
        q.awaitTermination(120)

        batch_points = spark.read.schema(sch).parquet(path)
        expected = {
            (r["bucket_start"], r["plc_ip"], r["alias"]): r
            for r in batch_downsample(batch_points, every="1 minute").collect()
        }

        streamed = read_rollup(spark, table).collect()
        assert 0 < len(streamed) < len(expected)  # tail still open

        n1 = backfill_downsample(spark, batch_points, table, every="1 minute")
        assert n1 == len(expected) - len(streamed)
        n2 = backfill_downsample(spark, batch_points, table, every="1 minute")
        assert n2 == 0  # idempotent

        # the watermark dropped one late row -> one closed bucket is
        # stale; RESAMPLE-style repair rewrites its date partition
        n3 = resample_downsample(spark, batch_points, table, every="1 minute")
        assert n3 > 0
        n4 = resample_downsample(spark, batch_points, table, every="1 minute")
        assert n4 == 0  # idempotent once repaired

        final = {
            (r["bucket_start"], r["plc_ip"], r["alias"]): r
            for r in read_rollup(spark, table).collect()
        }
        assert set(final) == set(expected)
        for k, r in final.items():
            assert r["n"] == expected[k]["n"]
            assert r["min_value"] == expected[k]["min_value"]
            assert r["max_value"] == expected[k]["max_value"]


def test_rollup_routing_exact(spark):
    """Materialized-view routing: re-aggregating the 1-minute rollup to
    5-minute buckets equals computing 5-minute buckets from raw points
    — exactly, including the mean (decimal sums merge
    order-independently)."""
    from iot_system_plc_data_to_influxdb_spark.streaming.rollup import (
        backfill_downsample,
        batch_downsample,
        route_downsample,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with tempfile.TemporaryDirectory() as tmp:
        path, sch = _write_file_stream_input(tmp, spark)
        pts = spark.read.schema(sch).parquet(path)
        rollup_path = os.path.join(tmp, "rollup1m")
        n = backfill_downsample(spark, pts, rollup_path, every="1 minute")
        assert n > 0

        routed = route_downsample(spark, pts, rollup_path, 60, 300)
        direct = batch_downsample(pts, "300 seconds")
        key = lambda r: (r["bucket_start"], r["plc_ip"], r["alias"])  # noqa: E731
        rd = {key(r): r for r in routed.collect()}
        dd = {key(r): r for r in direct.collect()}
        assert set(rd) == set(dd) and rd
        for k in rd:
            for c in ("n", "min_value", "max_value", "sum_value", "avg_value"):
                assert rd[k][c] == dd[k][c], (k, c)

        # non-multiple bucket (90 s) must fall back to raw points
        fallback = route_downsample(spark, pts, rollup_path, 60, 90)
        fd = {key(r): r for r in fallback.collect()}
        direct90 = {key(r): r for r in batch_downsample(pts, "90 seconds").collect()}
        assert set(fd) == set(direct90)


def test_dedup_within_watermark_stream(spark):
    """B29 variant: dropDuplicatesWithinWatermark removes repeats of the
    same (plc_ip, alias, ts) arriving within the watermark bound but
    keeps distinct timestamps; state for keys older than the watermark
    is evicted (bounded state at scale)."""
    from iot_system_plc_data_to_influxdb_spark.streaming.pipeline import (
        dedup_within_watermark,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with tempfile.TemporaryDirectory() as tmp:
        sch = "ts timestamp, plc_ip string, alias string, value double"
        batches = [
            [
                ("2024-01-01 00:00:05", "p1", "a", 1.0),
                ("2024-01-01 00:00:05", "p1", "a", 1.0),  # in-batch dup
                ("2024-01-01 00:00:15", "p1", "a", 2.0),
            ],
            [
                ("2024-01-01 00:00:05", "p1", "a", 1.0),  # cross-batch dup
                ("2024-01-01 00:00:25", "p1", "a", 3.0),
            ],
            [
                ("2024-01-01 00:00:25", "p1", "a", 3.0),  # cross-batch dup
                ("2024-01-01 00:00:35", "p1", "b", 4.0),
            ],
        ]
        import glob
        import shutil

        t0 = time.time() - 100
        dst = os.path.join(tmp, "stream")
        os.makedirs(dst, exist_ok=True)
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(
                rows, "ts string, plc_ip string, alias string, value double"
            ).select(F.col("ts").cast("timestamp"), "plc_ip", "alias", "value")
            stage = os.path.join(tmp, f"stage{i}")
            df.coalesce(1).write.parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            out = os.path.join(dst, f"{i:04d}.parquet")
            shutil.copy(part, out)
            os.utime(out, (t0 + i * 10, t0 + i * 10))

        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(dst)
        )
        seen = []
        q = (
            dedup_within_watermark(stream, watermark="10 minutes")
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: seen.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        keys = [(r["plc_ip"], r["alias"], r["ts"]) for r in seen]
        assert len(keys) == len(set(keys)) == 4  # 4 distinct points survive


def test_streaming_document_curation(spark):
    """B21 x B26: content-hash dedup within the watermark + quality/
    langid scoring as a continuous pipeline over a document stream."""
    from iot_system_plc_data_to_influxdb_spark.streaming.curation import (
        curate_stream,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    good = (
        "the quick brown fox jumps over a lazy dog and the day is long "
        "in the valley of the wind and a river runs to the sea"
    )
    junk = "spam spam spam spam spam spam spam spam"
    with tempfile.TemporaryDirectory() as tmp:
        sch = "ingest_ts timestamp, doc_id bigint, text string"
        batches = [
            [
                ("2024-01-01 00:00:01", 1, good),
                ("2024-01-01 00:00:02", 2, junk),
            ],
            [
                ("2024-01-01 00:00:03", 3, good),  # exact dup of 1
                ("2024-01-01 00:00:04", 4, good + " extra tail words"),
            ],
        ]
        import glob
        import shutil

        t0 = time.time() - 100
        dst = os.path.join(tmp, "docs")
        os.makedirs(dst, exist_ok=True)
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(
                rows, "ingest_ts string, doc_id bigint, text string"
            ).select(
                F.col("ingest_ts").cast("timestamp"), "doc_id", "text"
            )
            stage = os.path.join(tmp, f"dstage{i}")
            df.coalesce(1).write.parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            out = os.path.join(dst, f"{i:04d}.parquet")
            shutil.copy(part, out)
            os.utime(out, (t0 + i * 10, t0 + i * 10))

        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(dst)
        )
        got = []
        q = (
            curate_stream(stream, min_quality=0.45)
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: got.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        ids = sorted(r["doc_id"] for r in got)
        # doc 3 (exact duplicate of 1) dropped by streaming dedup;
        # doc 2 (repetitive junk, zero stopwords beyond threshold but
        # low distinct ratio) dropped by the quality filter
        assert ids == [1, 4], ids
        by_id = {r["doc_id"]: r for r in got}
        assert by_id[1]["predicted_lang"] == "en"
        assert all(r["quality"] >= 0.45 for r in got)


def test_streaming_chunking_composes_with_curation(spark):
    """chunk_stream appends the 50/40 context-window grid to the
    curated stream — map-only, so it rides the same micro-batches; the
    chunk set equals the batch b21_chunk_windows grid for the same
    surviving docs."""
    from iot_system_plc_data_to_influxdb_spark.streaming.curation import (
        chunk_stream,
        curate_stream,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = (
        "the quick brown fox jumps over a lazy dog and the day is long "
        "in the valley of the wind and a river runs to the sea"
    )
    long_doc = " ".join([base] * 3)  # 81 tokens -> chunks at 0 and 40
    with tempfile.TemporaryDirectory() as tmp:
        sch = "ingest_ts timestamp, doc_id bigint, text string"
        src = os.path.join(tmp, "docs")
        spark.createDataFrame(
            [("2024-01-01 00:00:01", 1, long_doc)],
            "ingest_ts string, doc_id bigint, text string",
        ).select(
            F.col("ingest_ts").cast("timestamp"), "doc_id", "text"
        ).write.parquet(src)

        stream = spark.readStream.schema(sch).parquet(src)
        got = []
        q = (
            chunk_stream(curate_stream(stream, min_quality=0.3))
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: got.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        grid = {(r["chunk_id"], r["start_tok"], r["n_tok"]) for r in got}
        assert grid == {(0, 0, 50), (1, 40, 41)}
        # chunk hashes match the batch operator's md5 of the same slices
        toks = long_doc.lower().split()
        import hashlib

        exp0 = hashlib.md5(" ".join(toks[0:50]).encode()).hexdigest()
        exp1 = hashlib.md5(" ".join(toks[40:81]).encode()).hexdigest()
        by_chunk = {r["chunk_id"]: r["chunk_md5"] for r in got}
        assert by_chunk == {0: exp0, 1: exp1}


def test_streaming_neardup_filter(spark):
    """B19 × B26: MinHash-LSH near-dup filtering at ingest. A later
    doc sharing ANY LSH band bucket with an earlier one (exact copy or
    near-copy) loses that band row at dropDuplicatesWithinWatermark
    and fails the all-bands-fresh count; distinct docs keep all four
    bands and survive."""
    from iot_system_plc_data_to_influxdb_spark.streaming.curation import (
        neardup_filter_stream,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = (
        "the quick brown fox jumps over a lazy dog and the day is long "
        "in the valley of the wind and a river runs to the sea"
    )
    other = (
        "entirely different subject matter about compilers registers "
        "and garbage collection in modern virtual machine runtimes"
    )
    fresh2 = (
        "a third unrelated report on glacier mass balance and seasonal "
        "snowfall trends across the northern hemisphere mountains"
    )
    near = base + " with a small appended tail"
    with tempfile.TemporaryDirectory() as tmp:
        sch = "ingest_ts timestamp, doc_id bigint, text string"
        batches = [
            [("2024-01-01 00:00:01", 1, base), ("2024-01-01 00:00:02", 2, other)],
            [
                ("2024-01-01 00:00:11", 3, base),    # exact dup of 1
                ("2024-01-01 00:00:12", 4, near),    # near-dup of 1
                ("2024-01-01 00:00:13", 5, fresh2),  # genuinely new
            ],
            # watermark pusher: far enough ahead to finalize the
            # earlier one-minute windows in the no-data flush batch
            [("2024-01-01 01:00:00", 99, "late window flusher row")],
        ]
        import glob
        import shutil

        t0 = time.time() - 100
        dst = os.path.join(tmp, "docs")
        os.makedirs(dst, exist_ok=True)
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(
                rows, "ingest_ts string, doc_id bigint, text string"
            ).select(F.col("ingest_ts").cast("timestamp"), "doc_id", "text")
            stage = os.path.join(tmp, f"nstage{i}")
            df.coalesce(1).write.parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            out = os.path.join(dst, f"{i:04d}.parquet")
            shutil.copy(part, out)
            os.utime(out, (t0 + i * 10, t0 + i * 10))

        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(dst)
        )
        got = []
        q = (
            neardup_filter_stream(stream, watermark="5 minutes")
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: got.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        ids = sorted(r["doc_id"] for r in got)
        # 3 (exact dup) and 4 (near-dup, shares bands with 1) drop;
        # 99's 01:00 window is past the last watermark so it stays
        # unflushed — correct append-mode behavior, not a loss
        assert ids == [1, 2, 5], ids
        assert all(r["n_fresh_bands"] == 4 for r in got)


def test_streaming_neardup_state_eviction(spark):
    """The bounded-state half of the near-dup filter: LSH band state
    evicts once the watermark passes it, so a near-copy arriving AFTER
    the horizon is re-admitted — dedup scope = watermark window, which
    is exactly what keeps state finite at 100 TB (cross-horizon dedup
    belongs to the batch b19 pass over the landed table)."""
    from iot_system_plc_data_to_influxdb_spark.streaming.curation import (
        neardup_filter_stream,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = (
        "the quick brown fox jumps over a lazy dog and the day is long "
        "in the valley of the wind and a river runs to the sea"
    )
    filler = (
        "unrelated interlude about orbital mechanics and launch windows "
        "for outer planet transfers in the coming decade"
    )
    with tempfile.TemporaryDirectory() as tmp:
        sch = "ingest_ts timestamp, doc_id bigint, text string"
        batches = [
            [("2024-01-01 00:00:05", 1, base)],
            # two watermark-advancing batches: the wm computed from
            # batch N's data is applied to state cleanup one batch
            # later, so eviction of doc 1's bands needs a successor
            [("2024-01-01 00:05:00", 2, filler)],
            [("2024-01-01 00:06:00", 4, filler + " second movement")],
            # exact copy of doc 1, but its band state is gone → fresh
            [("2024-01-01 00:10:00", 3, base)],
            [("2024-01-01 01:00:00", 99, "window flusher text row")],
        ]
        import glob
        import shutil

        t0 = time.time() - 100
        dst = os.path.join(tmp, "docs")
        os.makedirs(dst, exist_ok=True)
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(
                rows, "ingest_ts string, doc_id bigint, text string"
            ).select(F.col("ingest_ts").cast("timestamp"), "doc_id", "text")
            stage = os.path.join(tmp, f"nestage{i}")
            df.coalesce(1).write.parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            out = os.path.join(dst, f"{i:04d}.parquet")
            shutil.copy(part, out)
            os.utime(out, (t0 + i * 10, t0 + i * 10))

        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(dst)
        )
        got = []
        q = (
            neardup_filter_stream(stream, watermark="10 seconds")
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: got.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        ids = sorted(r["doc_id"] for r in got)
        # doc 3 (copy of 1, past the horizon) SURVIVES — its bucket
        # state was evicted; contrast test_streaming_neardup_filter
        # where the same copy within the horizon is dropped. Doc 4
        # (near-copy of 2, WITHIN the horizon) is dropped — the same
        # run shows both halves of the contract.
        assert ids == [1, 2, 3], ids


def test_deadman_alerts_on_silent_series(spark):
    """Kapacitor-deadman parity: a series that stops reporting gets ONE
    alert when the watermark passes last_ts + interval; a still-armed
    series (recent data) stays quiet."""
    from iot_system_plc_data_to_influxdb_spark.streaming.state import (
        deadman_alerts,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with tempfile.TemporaryDirectory() as tmp:
        sch = "ts timestamp, plc_ip string, alias string, value double"
        batches = [
            [("2024-01-01 00:00:00", "p1", "a", 1.0),
             ("2024-01-01 00:00:00", "p2", "b", 2.0)],
            [("2024-01-01 00:01:00", "p2", "b", 3.0)],   # B stays alive
            [("2024-01-01 00:02:00", "p3", "c", 4.0)],   # watermark pusher
        ]
        import glob
        import shutil

        t0 = time.time() - 100
        dst = os.path.join(tmp, "pts")
        os.makedirs(dst, exist_ok=True)
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(
                rows, "ts string, plc_ip string, alias string, value double"
            ).select(F.col("ts").cast("timestamp"), "plc_ip", "alias", "value")
            stage = os.path.join(tmp, f"dmstage{i}")
            df.coalesce(1).write.parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            out = os.path.join(dst, f"{i:04d}.parquet")
            shutil.copy(part, out)
            os.utime(out, (t0 + i * 10, t0 + i * 10))

        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(dst)
        )
        got = []
        q = (
            deadman_alerts(stream, interval="30 seconds")
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: got.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        alerts = {(r["plc_ip"], r["alias"]): r for r in got}
        # A silent since 00:00:00 → alerted once the watermark reached
        # 00:01:00; B's last point is 00:01:00, alerted by the final
        # 00:02:00 watermark; C (the pusher) is still armed — no alert
        assert set(alerts) == {("p1", "a"), ("p2", "b")}, alerts
        assert alerts[("p1", "a")]["silent_for_s"] == 60.0
        assert alerts[("p1", "a")]["last_ts"].strftime("%H:%M:%S") == "00:00:00"
        assert len(got) == 2  # one alert per silence episode, not per batch


def test_deadman_survives_late_point(spark):
    """A buffered/late point whose last_ts + interval already trails
    the watermark must NOT kill the query (setTimeoutTimestamp rejects
    sub-watermark deadlines) — the deadline clamps to just past the
    watermark and the key alerts in a later batch if still silent."""
    from iot_system_plc_data_to_influxdb_spark.streaming.state import (
        deadman_alerts,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with tempfile.TemporaryDirectory() as tmp:
        sch = "ts timestamp, plc_ip string, alias string, value double"
        batches = [
            # watermark jumps to 00:10:00 immediately
            [("2024-01-01 00:10:00", "p9", "w", 0.0)],
            # LATE point: 00:01:00 + 30s interval is far below the
            # watermark — without clamping this batch crashes
            [("2024-01-01 00:01:00", "p1", "a", 1.0)],
            [("2024-01-01 00:20:00", "p9", "w", 0.0)],  # wm push
            [("2024-01-01 01:00:00", "p9", "w", 0.0)],  # fire + flush
        ]
        import glob
        import shutil

        t0 = time.time() - 100
        dst = os.path.join(tmp, "pts")
        os.makedirs(dst, exist_ok=True)
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(
                rows, "ts string, plc_ip string, alias string, value double"
            ).select(F.col("ts").cast("timestamp"), "plc_ip", "alias", "value")
            stage = os.path.join(tmp, f"dml{i}")
            df.coalesce(1).write.parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            out = os.path.join(dst, f"{i:04d}.parquet")
            shutil.copy(part, out)
            os.utime(out, (t0 + i * 10, t0 + i * 10))

        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(dst)
        )
        got = []
        q = (
            deadman_alerts(stream, interval="30 seconds")
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: got.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        p1 = [r for r in got if (r["plc_ip"], r["alias"]) == ("p1", "a")]
        assert len(p1) == 1 and p1[0]["last_ts"].strftime("%H:%M") == "00:01"


def test_deadman_rearms_after_recovery(spark):
    """A series that recovers after an alert re-arms: silence → alert,
    data resumes, silence again → SECOND alert. One alert per episode,
    and recovery between episodes resets the state machine."""
    from iot_system_plc_data_to_influxdb_spark.streaming.state import (
        deadman_alerts,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with tempfile.TemporaryDirectory() as tmp:
        sch = "ts timestamp, plc_ip string, alias string, value double"
        batches = [
            [("2024-01-01 00:00:00", "p1", "a", 1.0)],
            [("2024-01-01 00:05:00", "p9", "w", 0.0)],  # wm → 00:05
            # p1 has no data while the wm stands past its deadline →
            # episode-1 alert fires here (a recovery in this same
            # batch would have superseded it — timeouts only fire for
            # keys with no input in the batch)
            [("2024-01-01 00:06:00", "p9", "w", 0.0)],
            [("2024-01-01 00:10:00", "p1", "a", 2.0)],  # recovery, re-arm
            [("2024-01-01 00:20:00", "p9", "w", 0.0)],  # wm → 00:20
            [("2024-01-01 01:00:00", "p9", "w", 0.0)],  # episode-2 fire + flush
        ]
        import glob
        import shutil

        t0 = time.time() - 100
        dst = os.path.join(tmp, "pts")
        os.makedirs(dst, exist_ok=True)
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(
                rows, "ts string, plc_ip string, alias string, value double"
            ).select(F.col("ts").cast("timestamp"), "plc_ip", "alias", "value")
            stage = os.path.join(tmp, f"dmr{i}")
            df.coalesce(1).write.parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            out = os.path.join(dst, f"{i:04d}.parquet")
            shutil.copy(part, out)
            os.utime(out, (t0 + i * 10, t0 + i * 10))

        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(dst)
        )
        got = []
        q = (
            deadman_alerts(stream, interval="30 seconds")
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: got.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        p1 = sorted(
            (r["last_ts"].strftime("%H:%M:%S") for r in got
             if (r["plc_ip"], r["alias"]) == ("p1", "a"))
        )
        # one alert per episode: first anchored at 00:00:00, second at
        # the recovery point 00:10:00
        assert p1 == ["00:00:00", "00:10:00"], got


def test_dedup_watermark_state_eviction(spark):
    """The bounded-state half of dropDuplicatesWithinWatermark: once
    the watermark moves past a key's event time its dedup state is
    evicted — safe because the same watermark gate DROPS any stale
    arrival of that key as late data. State stays ∝ watermark window
    (not corpus) at 100 TB, and the output still carries no duplicate:
    eviction and the late-row filter are two halves of one contract."""
    import glob
    import shutil

    from iot_system_plc_data_to_influxdb_spark.streaming.pipeline import (
        dedup_within_watermark,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with tempfile.TemporaryDirectory() as tmp:
        sch = "ts timestamp, plc_ip string, alias string, value double"
        batches = [
            [("2024-01-01 00:00:05", "p1", "a", 1.0)],
            # advance event time far past the 10s watermark bound so
            # the 00:00:05 key's state is evicted
            [("2024-01-01 00:10:00", "p1", "a", 2.0)],
            # stale duplicate of batch 0 — state evicted, but the
            # watermark gate drops it as late: NOT re-emitted
            [("2024-01-01 00:00:05", "p1", "a", 1.0)],
        ]
        t0 = time.time() - 100
        dst = os.path.join(tmp, "stream")
        os.makedirs(dst, exist_ok=True)
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(
                rows, "ts string, plc_ip string, alias string, value double"
            ).select(F.col("ts").cast("timestamp"), "plc_ip", "alias", "value")
            stage = os.path.join(tmp, f"stage{i}")
            df.coalesce(1).write.parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            out = os.path.join(dst, f"{i:04d}.parquet")
            shutil.copy(part, out)
            os.utime(out, (t0 + i * 10, t0 + i * 10))

        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(dst)
        )
        seen = []
        q = (
            dedup_within_watermark(stream, watermark="10 seconds")
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: seen.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # exactly one of each: the stale duplicate was late-dropped,
        # not matched against (already-evicted) dedup state
        from collections import Counter

        counts = Counter(str(r["ts"]) for r in seen)
        assert counts["2024-01-01 00:00:05"] == 1
        assert counts["2024-01-01 00:10:00"] == 1
        assert len(seen) == 2


def test_streaming_operator_validation_messages():
    """Typed, direction-correct validation errors (no Spark needed)."""
    import pytest as _pytest

    from iot_system_plc_data_to_influxdb_spark.streaming.curation import (
        neardup_filter_stream,
    )
    from iot_system_plc_data_to_influxdb_spark.streaming.state import (
        deadman_alerts,
    )

    with _pytest.raises(ValueError, match="bands must divide n_hashes"):
        neardup_filter_stream(None, n_hashes=8, bands=3)
    with _pytest.raises(ValueError, match="unsupported deadman interval"):
        deadman_alerts(None, interval="30 fortnights")
    with _pytest.raises(ValueError, match="unsupported deadman interval"):
        deadman_alerts(None, interval="soon")


def test_deadman_silent_s_subsecond(spark):
    """Pin the batch-twin's silent_s semantics on SUB-second timestamps:
    Spark `unix_timestamp(m) - unix_timestamp(last_ts)` floors each
    endpoint to whole seconds exactly like the oracle's
    `FLOOR(epoch(m)) - FLOOR(epoch(last_ts))` — NOT floor(m - last_ts),
    which would differ by 1 when the fractional parts straddle (e.g.
    .25 - .75 below). The driver fixture happens to be whole-second;
    this test is the sub-second guarantee the comment at
    plans/streaming_parity.py cites."""
    import datetime

    import duckdb

    from iot_system_plc_data_to_influxdb_spark import plans

    with tempfile.TemporaryDirectory() as d:
        rows = [
            # silent series: fractional .75 last point, frontier at .25
            (1, datetime.datetime(2024, 1, 1, 0, 0, 0, 750000), 1,
             "click", 1.0, "{}"),
            (2, datetime.datetime(2024, 1, 3, 0, 0, 1, 250000), 2,
             "click", 1.0, "{}"),
        ]
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "events.parquet")
        )
        got = (
            plans.all_queries()["b23_deadman_silent_series"](spark, d)
            .collect()
        )
        assert len(got) == 1 and got[0]["user_id"] == 1
        # floor(frontier) - floor(last) = 172801; floor(diff) would be
        # 172800 — the two semantics separate on exactly this fixture
        assert got[0]["silent_s"] == 172801
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW events AS SELECT * FROM "
            f"'{os.path.join(d, 'events.parquet')}/*.parquet'"
        )
        oracle = con.sql(
            plans.all_oracles()["b23_deadman_silent_series"]
        ).fetchall()
        assert len(oracle) == 1 and oracle[0][2] == 172801


def test_streaming_state_is_o_keys_not_o_events(spark, tmp_path):
    """State-store scale contract, asserted from the streaming query
    progress metrics (stateOperators.numRowsTotal — the numbers a
    cluster operator watches): deadman state is exactly one row per
    live series and the near-dup filter's dedup state is exactly
    bands × distinct docs. Both must be FLAT when the same keys send
    10× the events, and LINEAR when the key population grows 10× —
    otherwise a permanent ingest stream grows its state store without
    bound. tools/streaming_state_probe.py runs the same probes at
    bench scale for STRESS.md."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from streaming_state_probe import deadman_probe, neardup_probe

    def sub(name):
        d = tmp_path / name
        d.mkdir()
        return str(d)

    # deadman: (K, E) / (K, 10E) / (10K, E)
    base = deadman_probe(spark, sub("dm_a"), 20, 4, n_batches=2)
    flood = deadman_probe(spark, sub("dm_b"), 20, 40, n_batches=2)
    wide = deadman_probe(spark, sub("dm_c"), 200, 4, n_batches=2)
    assert base == 20  # one state row per live series
    assert flood == base  # 10x events, identical state
    assert wide == 10 * base  # 10x keys, 10x state

    # near-dup filter: (D, R) / (D, 10R) / (10D, R)
    nd_base = neardup_probe(spark, sub("nd_a"), 10, 2)
    nd_flood = neardup_probe(spark, sub("nd_b"), 10, 20)
    nd_wide = neardup_probe(spark, sub("nd_c"), 100, 2)
    assert nd_base["dedup"] == 4 * 10  # bands x distinct docs
    assert nd_flood["dedup"] == nd_base["dedup"]  # repeats add nothing
    assert nd_wide["dedup"] == 10 * nd_base["dedup"]
    # the chained windowed count holds one open-window row per doc
    assert nd_base["agg"] == 10 and nd_wide["agg"] == 100


def test_streaming_scene_change_matches_batch(spark):
    """B22 x B29: the stateful streaming scene-cut detector must emit
    the SAME (sad, is_cut) sequence as the batch operator over the
    identical frames, with the diff chain surviving the micro-batch
    boundary (state carries exactly one previous frame per camera),
    and late/replayed frames dropped deterministically."""
    import glob
    import shutil

    import numpy as np

    from iot_system_plc_data_to_influxdb_spark.streaming.curation import (
        scene_change_stream,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    w, h = 6, 4
    bases = {"camA": [10, 11, 150, 151], "camB": [50, 50, 50, 200]}

    def luma(b):
        return bytearray(np.full(h * w, b, dtype=np.uint8).tobytes())

    # batch 0: first two frames per camera; batch 1: the rest + a
    # replay of camA frame 0 (must be dropped, not re-diffed)
    batches = [
        [(cam, i, w, h, luma(v))
         for cam, vs in bases.items() for i, v in enumerate(vs[:2])],
        [(cam, i, w, h, luma(v))
         for cam, vs in bases.items() for i, v in list(enumerate(vs))[2:]]
        + [("camA", 0, w, h, luma(99))],
    ]
    with tempfile.TemporaryDirectory() as tmp:
        sch = "camera string, frame_idx int, w int, h int, luma binary"
        dst = os.path.join(tmp, "frames")
        os.makedirs(dst, exist_ok=True)
        t0 = time.time() - 100
        for i, rows in enumerate(batches):
            stage = os.path.join(tmp, f"sstage{i}")
            spark.createDataFrame(rows, sch).coalesce(1).write.parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            out = os.path.join(dst, f"{i:04d}.parquet")
            shutil.copy(part, out)
            os.utime(out, (t0 + i * 10, t0 + i * 10))

        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(dst)
        )
        got = []
        q = (
            scene_change_stream(stream)
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: got.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    res = {(r["camera"], r["frame_idx"]): (r["sad"], r["is_cut"])
           for r in got}
    n = w * h
    expect = {}
    for cam, vs in bases.items():
        for i in range(1, len(vs)):
            sad = abs(vs[i] - vs[i - 1]) * n
            expect[(cam, i)] = (sad, int(sad > 30 * n))
    assert res == expect, (res, expect)
    # the cross-batch diff (frame 2 vs frame 1) proves state carried
    # the retained frame over the micro-batch boundary
    assert res[("camA", 2)][1] == 1 and res[("camB", 3)][1] == 1
    assert res[("camA", 1)][1] == 0 and res[("camB", 1)][1] == 0


def test_streaming_gopher_gate_matches_batch(spark, tmp_path):
    """gopher_filter_stream uses the IDENTICAL Column expressions as
    the batch b21_gopher_rules query (functions/text.gopher_stats), so
    the kept-document set must be equal row-for-row."""
    import glob
    import shutil

    from iot_system_plc_data_to_influxdb_spark.functions.text import (
        gopher_stats,
        tokens,
    )
    from iot_system_plc_data_to_influxdb_spark.streaming.curation import (
        gopher_filter_stream,
    )

    good = (
        "the quick brown fox jumps over the lazy dog and then walks on "
        "through the quiet green valley where a small river bends past "
        "old stone houses and the evening light settles over the fields "
        "while people gather to talk about the long day behind them "
        "and children play near the gate until the stars come out over "
        "the hills"
    )
    rows = [
        (1, good),                      # passes every rule
        (2, "short doc"),               # fails word count
        (3, good + " ####" * 40),       # fails symbol ratio
        (4, ("zz9 " * 60).strip()),     # fails stopword + alpha rules
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    batch_kept = sorted(
        r.doc_id
        for r in df.select(
            "doc_id", gopher_stats(F.col("text"), tokens(F.col("text")))["passes"].alias("p")
        ).filter("p").collect()
    )

    src = str(tmp_path / "gdocs")
    os.makedirs(src, exist_ok=True)
    stage = str(tmp_path / "gstage")
    df.coalesce(1).write.parquet(stage)
    shutil.copy(
        glob.glob(os.path.join(stage, "part-*.parquet"))[0],
        os.path.join(src, "0000.parquet"),
    )
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    got = []
    q = (
        gopher_filter_stream(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda d, b: got.extend(d.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r.doc_id for r in got) == batch_kept == [1]
    assert all(r.passes for r in got)


def test_streaming_importance_gate_matches_batch(spark, tmp_path):
    """Train-batch / serve-stream: the weight table fitted exactly as
    b21_importance_resample's wt stage, carried as a map literal into
    the stream; per-doc imp_score must equal the batch query's score
    for every doc (same md5 buckets, same fixed-point rounding)."""
    import glob
    import shutil

    from iot_system_plc_data_to_influxdb_spark.plans import all_queries
    from iot_system_plc_data_to_influxdb_spark.streaming.curation import (
        importance_filter_stream,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        r["doc_id"]: r["imp_score"]
        for r in all_queries()["b21_importance_resample"](spark, sf).collect()
    }

    # refit the weight table exactly as the batch query does
    from iot_system_plc_data_to_influxdb_spark.catalog import t as read_t
    from iot_system_plc_data_to_influxdb_spark.functions.text import (
        token_hash16,
        tokens,
    )

    docs = read_t(spark, sf, "documents").select(
        "doc_id", "lang", "text", tokens(F.col("text")).alias("w")
    )
    bt = docs.select(
        "doc_id", "lang", F.explode("w").alias("t")
    ).select("doc_id", "lang", F.pmod(token_hash16(F.col("t")), F.lit(256)).alias("b"))
    tcnt = bt.filter(F.col("lang") == "en").groupBy("b").agg(F.count("*").alias("tc"))
    rcnt = bt.groupBy("b").agg(F.count("*").alias("rc"))
    wt = {
        int(r["b"]): int(r["w"])
        for r in rcnt.join(tcnt, "b", "left")
        .selectExpr("b", "(coalesce(tc, 0) + 1) * 1000000 div (rc + 256) as w")
        .collect()
    }

    src = str(tmp_path / "idocs")
    os.makedirs(src, exist_ok=True)
    stage = str(tmp_path / "istage")
    read_t(spark, sf, "documents").select("doc_id", "text").limit(
        40
    ).coalesce(1).write.parquet(stage)
    shutil.copy(
        glob.glob(os.path.join(stage, "part-*.parquet"))[0],
        os.path.join(src, "0000.parquet"),
    )
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    got = []
    q = (
        importance_filter_stream(stream, wt, min_score=0.0)
        .writeStream.outputMode("append")
        .foreachBatch(lambda d, b: got.extend(d.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(got) == 40
    for r in got:
        assert r.imp_score == batch[r.doc_id], (r.doc_id, r.imp_score)


def test_streaming_threshold_alerts_cross_batch_episodes(spark, tmp_path):
    """Live FOR-semantics alerting: a breach run split 2+1 across
    micro-batches still alerts on the third sample (state carries the
    run), exactly one alert per episode, and recovery re-arms the
    latch for the next episode."""
    import glob
    import shutil

    from iot_system_plc_data_to_influxdb_spark.streaming.state import (
        threshold_alerts,
    )

    sch = "ts timestamp, event_type string, value double"
    batches = [
        [  # run of 2 for A (no alert yet); B stays low
            ("2024-01-01 00:00:01", "A", 90.0),
            ("2024-01-01 00:00:02", "A", 95.0),
            ("2024-01-01 00:00:03", "B", 10.0),
        ],
        [  # third breach completes the run -> alert; then recovery;
           # then a fresh 3-run -> second alert
            ("2024-01-01 00:00:11", "A", 99.0),
            ("2024-01-01 00:00:12", "A", 10.0),
            ("2024-01-01 00:00:13", "A", 85.0),
            ("2024-01-01 00:00:14", "A", 86.0),
            ("2024-01-01 00:00:15", "A", 87.0),
            ("2024-01-01 00:00:16", "A", 88.0),  # still same episode
        ],
    ]
    dst = str(tmp_path / "tev")
    os.makedirs(dst, exist_ok=True)
    t0 = time.time() - 100
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "ts string, event_type string, value double"
        ).select(F.col("ts").cast("timestamp"), "event_type", "value")
        stage = str(tmp_path / f"tstage{i}")
        df.coalesce(1).write.parquet(stage)
        shutil.copy(
            glob.glob(os.path.join(stage, "part-*.parquet"))[0],
            os.path.join(dst, f"{i:04d}.parquet"),
        )
        os.utime(os.path.join(dst, f"{i:04d}.parquet"), (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(dst)
    )
    got = []
    q = (
        threshold_alerts(stream, threshold=80.0, n_for=3)
        .writeStream.outputMode("append")
        .foreachBatch(lambda d, b: got.extend(d.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    alerts = sorted(
        (r.event_type, str(r.alert_ts), r.n_points, r.peak) for r in got
    )
    assert alerts == [
        ("A", "2024-01-01 00:00:11", 3, 99.0),   # 2+1 across batches
        ("A", "2024-01-01 00:00:15", 3, 87.0),   # re-armed episode
    ], alerts


def test_attribution_stream_matches_batch_twin(spark):
    """Streaming last-touch attribution == the batch window query on
    the same events, with the view state carried ACROSS micro-batches
    (file 1 ends on a view; file 2's purchase must attribute to it)."""
    import datetime

    from iot_system_plc_data_to_influxdb_spark.streaming.state import (
        attribution_stream,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def ev(i, mins, user, typ, val=10.0):
        return (i, t0 + datetime.timedelta(minutes=mins), user, typ, val, "{}")

    sch = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    batch1 = [
        ev(1, 0, 1, "view"),
        ev(2, 5, 1, "purchase", 25.0),   # -> view 1
        ev(3, 7, 1, "view"),
        ev(4, 0, 2, "purchase", 5.0),    # no view yet -> unattributed
    ]
    batch2 = [
        ev(5, 12, 1, "purchase", 7.0),   # -> view 3 (state across batch)
        ev(6, 13, 2, "view"),
        ev(7, 15, 2, "purchase", 9.0),   # -> view 6
    ]
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/in"
        spark.createDataFrame(batch1, sch).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        spark.createDataFrame(batch2, sch).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )
        rows = []
        q = (
            attribution_stream(stream)
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: rows.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    got = {
        r["purchase_event_id"]: (r["view_event_id"], r["lag_us"])
        for r in rows
    }
    # NOTE: file-stream batch order can interleave, but each user's
    # events here arrive in ts order per batch and across batches, so
    # the expected attribution is deterministic.
    assert got[2] == (1, 5 * 60 * 1_000_000)
    assert got[4] == (None, None)
    assert got[5] == (3, 5 * 60 * 1_000_000)
    assert got[7] == (6, 2 * 60 * 1_000_000)


def test_streaming_ivf_cell_assignment_matches_batch(spark, tmp_path):
    """B20 × B26: ivf_assign_stream routes each vector to the SAME
    cell the batch coarse quantizer assigns (argmax exact-decimal
    cosine, ties to the smallest cell), across micro-batch boundaries,
    with a shuffle-free stateless plan — so streamed vectors can land
    pre-partitioned by the cell the ANN probe prunes on."""
    import glob
    import shutil

    from iot_system_plc_data_to_influxdb_spark.catalog import t
    from iot_system_plc_data_to_influxdb_spark.operators.similarity import (
        ivf_cell_assignments,
        ivf_centroids,
    )
    from iot_system_plc_data_to_influxdb_spark.streaming.curation import (
        ivf_assign_stream,
    )

    emb = t(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    cents = ivf_centroids(emb, n_cells=8)
    batch = {
        int(r["vec_id"]): int(r["cell"])
        for r in ivf_cell_assignments(emb, cents).collect()
    }
    assert len(set(batch.values())) > 1  # fixture spreads over cells

    # stream the same vectors in two micro-batches
    rows = sorted(
        (int(r["vec_id"]), list(r["embedding"])) for r in emb.collect()
    )
    halves = [rows[: len(rows) // 2], rows[len(rows) // 2 :]]
    sch = "vec_id bigint, embedding array<float>"
    dst = os.path.join(str(tmp_path), "vecs")
    os.makedirs(dst, exist_ok=True)
    for i, half in enumerate(halves):
        stage = os.path.join(str(tmp_path), f"stage{i}")
        spark.createDataFrame(half, sch).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(dst, f"{i:04d}.parquet"))

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(dst)
    )
    routed = ivf_assign_stream(stream, cents)
    got = []
    q = (
        routed.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    res = {int(r["vec_id"]): int(r["cell"]) for r in got}
    assert res == batch
    # every emitted sim is a valid cosine and the plan carried it
    assert all(-1.0 <= r["cell_sim"] <= 1.0 for r in got)


def test_streaming_alert_transitions_match_batch(spark, tmp_path):
    """B23 × B29: alert_transition_stream fires the SAME ok↔alert
    edges as the batch LAG query, with the last-level state carried
    across the micro-batch boundary (an edge whose two sides land in
    different batches must still fire exactly once) and replayed rows
    dropped deterministically."""
    import glob
    import shutil

    from iot_system_plc_data_to_influxdb_spark.streaming.state import (
        alert_transition_stream,
    )

    import datetime

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = datetime.datetime(2024, 3, 1)

    def row(et, i, v):
        return (et, t0 + datetime.timedelta(seconds=10 * i), i, float(v))

    # tA: ok ok ALERT ALERT ok — edge at i=2 crosses the batch split
    # tB: ALERT ok ALERT — first obs sets state silently (no edge at i=0)
    batch0 = [row("tA", 0, 10), row("tA", 1, 20), row("tB", 0, 95),
              row("tB", 1, 5)]
    batch1 = [row("tA", 2, 99), row("tA", 3, 98), row("tA", 4, 11),
              row("tB", 2, 97),
              row("tA", 1, 85)]  # replay of (tA, i=1): must be dropped
    sch = "event_type string, ts timestamp, event_id bigint, value double"
    dst = os.path.join(str(tmp_path), "alerts")
    os.makedirs(dst, exist_ok=True)
    for i, rows in enumerate([batch0, batch1]):
        stage = os.path.join(str(tmp_path), f"astage{i}")
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(dst, f"{i:04d}.parquet"))

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(dst)
    )
    got = []
    q = (
        alert_transition_stream(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    res = sorted(
        (r["event_type"], int(r["event_id"]), r["from_state"], r["to_state"])
        for r in got
    )
    # batch reference: LAG over the union MINUS the replay row
    assert res == [
        ("tA", 2, "ok", "alert"),     # fired across the batch boundary
        ("tA", 4, "alert", "ok"),
        ("tB", 1, "alert", "ok"),
        ("tB", 2, "ok", "alert"),
    ]


def test_streaming_url_dedup_matches_batch_canonical_keys(spark, tmp_path):
    """B19 × B26: url_dedup_stream keeps exactly one page per
    canonical URL (batch reference: the shared canonical_url
    expression), across micro-batches — a www/tracking-param alias
    arriving in a LATER batch than its original is dropped by the
    canonical-key state."""
    import datetime
    import glob
    import shutil

    from iot_system_plc_data_to_influxdb_spark.functions.url import (
        canonical_url,
    )
    from iot_system_plc_data_to_influxdb_spark.streaming.curation import (
        url_dedup_stream,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = datetime.datetime(2024, 3, 1)
    batch0 = [
        (1, t0, "http://site.com/p/1?id=1"),
        (2, t0, "https://other.com/a"),
    ]
    batch1 = [
        # alias of page 1: scheme case + www + default port + utm
        (3, t0 + datetime.timedelta(seconds=30),
         "HTTP://WWW.Site.COM:80/p/1?utm_source=x&id=1"),
        (4, t0 + datetime.timedelta(seconds=40), "https://new.com/b"),
    ]
    sch = "page_id bigint, ts timestamp, url string"
    dst = os.path.join(str(tmp_path), "pages")
    os.makedirs(dst, exist_ok=True)
    for i, rows in enumerate([batch0, batch1]):
        stage = os.path.join(str(tmp_path), f"ustage{i}")
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(dst, f"{i:04d}.parquet"))

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(dst)
    )
    got = []
    q = (
        url_dedup_stream(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    kept = sorted(int(r["page_id"]) for r in got)
    assert kept == [1, 2, 4]  # the later-batch alias (3) was dropped

    # batch reference agrees on the canonical keys
    all_rows = spark.createDataFrame(batch0 + batch1, sch)
    keys = {
        int(r["page_id"]): r["k"]
        for r in all_rows.select(
            "page_id", canonical_url(F.col("url")).alias("k")
        ).collect()
    }
    assert keys[1] == keys[3] and len({keys[1], keys[2], keys[4]}) == 3


def test_streaming_quantile_sketch_merges_to_batch_percentiles(
    spark, tmp_path
):
    """B5q × B26: the windowed sketch stream materializes per-window
    bucket counts whose MERGE (bucket-count SUM) reproduces the batch
    one-pass sketch's percentiles over the same rows — the CQ-fed
    version of b5_quantile_windowed_merge's losslessness."""
    import datetime
    import glob
    import shutil

    from pyspark.sql import functions as SF

    from iot_system_plc_data_to_influxdb_spark.plans.relational import (
        _qsketch_buckets,
        _qsketch_quantiles,
    )
    from iot_system_plc_data_to_influxdb_spark.streaming.rollup import (
        quantile_sketch_stream,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = datetime.datetime(2024, 3, 1)
    rows = [
        (f"t{i % 3}", t0 + datetime.timedelta(seconds=17 * i),
         ((i * 131) % 3000) / 100.0)
        for i in range(200)
    ]
    sch = "event_type string, ts timestamp, value double"
    # sentinels a day ahead advance the watermark past every real
    # window so append mode finalizes them all; their own (distant)
    # window never finalizes and they are excluded from the batch side
    sentinels = [
        (f"t{k}", t0 + datetime.timedelta(days=1), 1.0) for k in range(3)
    ]
    halves = [rows[:100], rows[100:] + sentinels]
    dst = os.path.join(str(tmp_path), "qsk")
    os.makedirs(dst, exist_ok=True)
    for i, half in enumerate(halves):
        stage = os.path.join(str(tmp_path), f"qstage{i}")
        spark.createDataFrame(half, sch).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(dst, f"{i:04d}.parquet"))

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(dst)
    )
    got = []
    q = (
        quantile_sketch_stream(stream, every="1 minute",
                               watermark="0 seconds")
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert got, "no finalized sketch windows"

    # merge the materialized windows and extract percentiles
    merged_rows = spark.createDataFrame(
        [(r["event_type"], int(r["e"]), int(r["sub"]), int(r["cnt"]))
         for r in got],
        "event_type string, e int, sub int, cnt bigint",
    ).groupBy("event_type", "e", "sub").agg(SF.sum("cnt").alias("cnt"))
    merged = {
        r["event_type"]: r.asDict()
        for r in _qsketch_quantiles(merged_rows).collect()
    }

    # batch one-pass sketch over the identical rows
    all_rows = spark.createDataFrame(rows, sch).select(
        "event_type",
        SF.round(SF.col("value") * 100).cast("bigint").alias("cents"),
    ).filter("cents >= 1")
    direct = {
        r["event_type"]: r.asDict()
        for r in _qsketch_quantiles(
            _qsketch_buckets(all_rows)
            .groupBy("event_type", "e", "sub")
            .agg(SF.count("*").alias("cnt"))
        ).collect()
    }
    assert merged == direct


def test_streaming_surprisal_sums_to_batch_perplexity_bits(
    spark, tmp_path
):
    """B21pp × B26: surprisal_stream tags each arriving bigram with
    the shared surprisal_bits expression; summing the streamed rows
    per doc reproduces the batch b21_perplexity_bits totals exactly
    (model = the same corpus the batch query fits), across
    micro-batch boundaries. A novel bigram in a later batch gets the
    add-one fallback bits(c1+V) rather than a join miss."""
    import glob
    import shutil
    from collections import Counter

    import iot_system_plc_data_to_influxdb_spark.plans as plans
    from iot_system_plc_data_to_influxdb_spark.streaming.curation import (
        surprisal_stream,
    )

    docs = [
        (0, "the cat sat on the mat", "en", "s0"),
        (1, "the cat ran far", "en", "s0"),
        (2, "a dog sat on a log", "en", "s1"),
        (3, "the dog ran on the mat", "en", "s1"),
    ]
    dsch = "doc_id bigint, text string, lang string, source string"
    spark.createDataFrame(docs, dsch).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    batch = {
        r["doc_id"]: (r["n_bigrams"], r["total_bits"])
        for r in plans.all_queries()["b21_perplexity_bits"](
            spark, str(tmp_path)
        ).collect()
    }

    # fit the model in pure python (the nightly-batch stand-in)
    toks = {i: txt.split() for i, txt, _l, _s in docs}
    c2 = Counter(
        (a, b) for ws in toks.values() for a, b in zip(ws, ws[1:])
    )
    c1 = Counter()
    for (a, _b), c in c2.items():
        c1[a] += c
    vocab = {w for ws in toks.values() for w in ws}
    c2_df = spark.createDataFrame(
        [(a, b, c) for (a, b), c in c2.items()], "w1 string, w2 string, c2 bigint"
    )
    c1_df = spark.createDataFrame(
        list(c1.items()), "w1 string, c1 bigint"
    )

    # stream the same docs in 2 micro-batches
    dst = os.path.join(str(tmp_path), "stream_in")
    os.makedirs(dst, exist_ok=True)
    for i, half in enumerate([docs[:2], docs[2:]]):
        stage = os.path.join(str(tmp_path), f"sstage{i}")
        spark.createDataFrame(half, dsch).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(dst, f"{i:04d}.parquet"))
    stream = (
        spark.readStream.schema(dsch)
        .option("maxFilesPerTrigger", "1")
        .parquet(dst)
    )
    got = []
    q = (
        surprisal_stream(stream, c2_df, c1_df, len(vocab))
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    sums: dict = {}
    counts: dict = {}
    for r in got:
        sums[r["doc_id"]] = sums.get(r["doc_id"], 0) + r["bits"]
        counts[r["doc_id"]] = counts.get(r["doc_id"], 0) + 1
    streamed = {d: (counts[d], sums[d]) for d in sums}
    assert streamed == batch


def test_streaming_hll_registers_merge_to_batch_sketch(spark, tmp_path):
    """B5 × B26: hll_register_stream's per-window register rows,
    merged with the register MAX across windows, must equal the batch
    one-pass register table over the same rows — and therefore give
    the identical distinct-count estimate. Two micro-batches, so the
    merge crosses a batch boundary."""
    import datetime
    import glob
    import shutil

    from iot_system_plc_data_to_influxdb_spark.functions.hll import (
        hll_bucket_rho,
        hll_estimate,
    )
    from iot_system_plc_data_to_influxdb_spark.streaming.rollup import (
        hll_register_stream,
    )

    t0 = datetime.datetime(2024, 3, 1)
    # 900 distinct keys: above the ~2.5m small-range cutoff where the
    # raw HLL estimator (no LinearCounting correction — matching the
    # batch query exactly) is in its calibrated regime
    rows = [
        (i, t0 + datetime.timedelta(seconds=2 * i), i)
        for i in range(900)
    ]
    # watermark flush: a far-future DUPLICATE of user 0 — pushes the
    # watermark past every real window so append mode emits them all,
    # while changing no register (same key, register MAX absorbs it)
    rows.append((9000, t0 + datetime.timedelta(hours=2), 0))
    sch = "event_id bigint, ts timestamp, user_id bigint"
    dst = os.path.join(str(tmp_path), "hll_in")
    os.makedirs(dst, exist_ok=True)
    for i, half in enumerate([rows[:450], rows[450:]]):
        stage = os.path.join(str(tmp_path), f"hstage{i}")
        spark.createDataFrame(half, sch).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(dst, f"{i:04d}.parquet"))
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(dst)
    )
    got = []
    q = (
        hll_register_stream(stream, "user_id", every="1 minute")
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len({r["window"] for r in got}) > 1  # multiple windows closed

    merged: dict = {}
    for r in got:
        merged[r["bucket"]] = max(merged.get(r["bucket"], 0), r["r"])

    batch_df = spark.createDataFrame(rows, sch)
    batch = {
        r["bucket"]: r["r"]
        for r in hll_bucket_rho(batch_df, "user_id")
        .groupBy("bucket")
        .agg(F.max("rho").alias("r"))
        .collect()
    }
    assert merged == batch

    merged_df = spark.createDataFrame(
        [(b, r) for b, r in merged.items()], "bucket int, r int"
    )
    est_m = hll_estimate(merged_df).first()["n_est"]
    est_b = hll_estimate(
        spark.createDataFrame(
            [(b, r) for b, r in batch.items()], "bucket int, r int"
        )
    ).first()["n_est"]
    assert est_m == est_b
    # 900 distinct users; HLL(256) raw-estimator error ~1.04/sqrt(256)
    assert abs(est_m - 900) / 900 < 0.25


def test_streaming_cms_cells_merge_to_batch_sketch(spark, tmp_path):
    """B5 × B26: cms_cell_stream's per-window cells, merged with the
    cell SUM across windows, must equal the batch one-pass cell table
    over the same rows — the CMS merge is lossless and the stream
    shares the batch bucket expressions. Two micro-batches; the
    watermark-flush row's own window never emits, so (unlike the HLL
    test's register-neutral duplicate) it is simply absent from both
    sides of the comparison."""
    import datetime
    import glob
    import shutil
    from collections import Counter

    from iot_system_plc_data_to_influxdb_spark.functions.cms import (
        cms_buckets_col,
    )
    from iot_system_plc_data_to_influxdb_spark.streaming.rollup import (
        cms_cell_stream,
    )

    t0 = datetime.datetime(2024, 3, 1)
    rows = [
        (i, t0 + datetime.timedelta(seconds=2 * i), (i * 13) % 50)
        for i in range(600)
    ]
    # watermark flush row: far future, emits all real windows; its own
    # window stays open so it never lands in the output
    flush = (9000, t0 + datetime.timedelta(hours=2), 0)
    sch = "event_id bigint, ts timestamp, user_id bigint"
    dst = os.path.join(str(tmp_path), "cms_in")
    os.makedirs(dst, exist_ok=True)
    for i, half in enumerate([rows[:300], rows[300:] + [flush]]):
        stage = os.path.join(str(tmp_path), f"cstage{i}")
        spark.createDataFrame(half, sch).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(dst, f"{i:04d}.parquet"))
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(dst)
    )
    got = []
    q = (
        cms_cell_stream(stream, "user_id", every="1 minute")
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len({r["window"] for r in got}) > 1

    merged = Counter()
    for r in got:
        merged[(r["i"], r["b"])] += r["c"]

    batch_df = spark.createDataFrame(rows, sch).select(
        F.col("user_id").cast("string").alias("u")
    )
    batch = {
        (r["i"], r["b"]): r["c"]
        for r in batch_df.select(cms_buckets_col().alias("e"))
        .select("e.i", "e.b")
        .groupBy("i", "b")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert dict(merged) == batch


def test_streaming_handoff_edges_match_batch_lag(spark, tmp_path):
    """B19h × B29: handoff_edge_stream fires the SAME directed handoff
    edges as the batch LAG extraction (plans/northstar._handoff_pairs)
    — including an edge whose two endpoints land in different
    micro-batches, a same-user run that advances the chain without
    emitting, an intra-batch out-of-order pair (sorted by (ts,
    event_id) inside the batch), and a replayed row dropped by the
    (ts, event_id) high-water mark."""
    import datetime
    import glob
    import shutil

    from iot_system_plc_data_to_influxdb_spark.plans.northstar import (
        _handoff_pairs,
    )
    from iot_system_plc_data_to_influxdb_spark.streaming.graph import (
        handoff_edge_stream,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = datetime.datetime(2024, 3, 1)

    def row(et, i, user, minute):
        return (t0 + datetime.timedelta(minutes=minute), i, user, et)

    sch = "ts timestamp, event_id bigint, user_id bigint, event_type string"
    # bucket (click, hour 0): u1 -> u1 (no edge, chain advances) -> u2
    # (edge), then the NEXT batch continues the chain u2 -> u3 (edge
    # ACROSS the boundary). bucket (view, hour 1): arrives out of
    # order inside batch 0 (event_id 11 before 10).
    batch0 = [
        row("click", 1, 1, 0),
        row("click", 2, 1, 5),     # same user: no edge, advances chain
        row("click", 3, 2, 10),    # edge 1->2
        row("view", 11, 7, 70),    # out of order within the batch:
        row("view", 10, 6, 65),    # sorted to 6 -> 7, one edge
    ]
    batch1 = [
        row("click", 4, 3, 20),    # edge 2->3 across the batch split
        row("click", 3, 2, 10),    # replay of event 3: dropped
        row("view", 12, 7, 75),    # same user as chain head: no edge
        row("view", 13, 6, 80),    # edge 7->6
    ]
    dst = os.path.join(str(tmp_path), "handoff")
    os.makedirs(dst, exist_ok=True)
    for i, rows in enumerate([batch0, batch1]):
        stage = os.path.join(str(tmp_path), f"hstage{i}")
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(dst, f"{i:04d}.parquet"))

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(dst)
    )
    got = []
    q = (
        handoff_edge_stream(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    streamed = sorted((r["src"], r["dst"], int(r["event_id"])) for r in got)
    assert streamed == [(1, 2, 3), (2, 3, 4), (6, 7, 11), (7, 6, 13)]

    # batch reference: the SAME edges from the LAG extraction over the
    # union minus the replayed row, written as a one-table sf_dir
    all_rows = batch0 + [r for r in batch1 if r[1] != 3]
    ref_dir = os.path.join(str(tmp_path), "refsf")
    spark.createDataFrame(all_rows, sch).write.parquet(
        os.path.join(ref_dir, "events.parquet")
    )
    batch_edges = sorted(
        (r["prev"], r["user_id"])
        for r in _handoff_pairs(spark, ref_dir).collect()
    )
    assert batch_edges == [(s, d) for s, d, _ in streamed]
