"""End-to-end proof of SCALE.md's (plc_bucket, date) points layout:
the streaming sink writes it, and a single-PLC time-range query scans
ONLY the matching partition directories (input_file_name assert, the
same evidence style tests/test_bucketing.py uses for ANN buckets).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import os
import tempfile

from pyspark.sql import functions as F

from iot_system_plc_data_to_influxdb_spark.operators.retention import (
    read_points_for_plc,
    write_points_bucketed,
)

N_BUCKETS = 8  # small modulus so several PLCs share buckets


def _points_df(spark):
    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for day in range(4):
        for ip_i in range(6):
            for k in range(10):
                rows.append(
                    (
                        t0 + dt.timedelta(days=day, minutes=k),
                        f"192.168.0.{ip_i}",
                        "temp",
                        float(day * 100 + k),
                    )
                )
    return spark.createDataFrame(
        rows, "ts timestamp, plc_ip string, alias string, value double"
    )


def test_bucketed_layout_prunes_both_axes(spark):
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "points")
        write_points_bucketed(_points_df(spark), path, n_buckets=N_BUCKETS)

        bucket_dirs = [
            d for d in os.listdir(path) if d.startswith("plc_bucket=")
        ]
        assert len(bucket_dirs) > 1  # several buckets, else pruning is moot
        all_dirs = {
            (b, d)
            for b in bucket_dirs
            for d in os.listdir(os.path.join(path, b))
            if d.startswith("date=")
        }
        assert len(all_dirs) > 4

        q = read_points_for_plc(
            spark,
            path,
            "192.168.0.3",
            date_lo="2024-01-02",
            date_hi="2024-01-03",
            n_buckets=N_BUCKETS,
        )

        # both axes must land in PartitionFilters, not post-scan filters
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain(True)
        plan = buf.getvalue()
        part_filters = plan.split("PartitionFilters: [")[1].split("]")[0]
        assert "plc_bucket" in part_filters and "date" in part_filters
        # the residual plc_ip equality reaches the parquet reader
        assert "EqualTo(plc_ip,192.168.0.3)" in plan.split("PushedFilters")[1]

        # file-level proof: only (that PLC's bucket) × (2 dates) dirs open
        scanned = {
            (
                "plc_bucket=" + r["f"].split("plc_bucket=")[1].split("/")[0],
                "date=" + r["f"].split("date=")[1].split("/")[0],
            )
            for r in q.select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }
        assert len({b for b, _ in scanned}) == 1
        assert {d for _, d in scanned} == {"date=2024-01-02", "date=2024-01-03"}
        assert len(scanned) < len(all_dirs)

        # and the data is right: 2 days × 10 points for that PLC
        rows = q.collect()
        assert len(rows) == 20
        assert all(r["plc_ip"] == "192.168.0.3" for r in rows)


def test_streaming_sink_writes_bucketed_layout(spark):
    """The stream path produces the identical layout: file-stream in,
    foreachBatch bucketed write out, then the same pruned read."""
    import time

    from iot_system_plc_data_to_influxdb_spark.streaming.sinks import (
        start_bucketed_points_query,
    )

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        _points_df(spark).write.parquet(src)
        sch = "ts timestamp, plc_ip string, alias string, value double"
        stream = spark.readStream.schema(sch).parquet(src)
        q = start_bucketed_points_query(
            stream,
            os.path.join(tmp, "points"),
            os.path.join(tmp, "ckpt"),
            available_now=True,
            n_buckets=N_BUCKETS,
        )
        q.awaitTermination(120)
        time.sleep(0.2)

        path = os.path.join(tmp, "points")
        assert any(d.startswith("plc_bucket=") for d in os.listdir(path))
        out = read_points_for_plc(
            spark, path, "192.168.0.1", n_buckets=N_BUCKETS
        )
        assert out.count() == 40  # 4 days × 10 points
        # written rows are (plc_ip, ts)-sorted inside each file
        one = (
            spark.read.parquet(path)
            .withColumn("f", F.input_file_name())
            .filter(F.col("plc_bucket") == out.first()["plc_bucket"])
        )
        first_file = one.first()["f"]
        vals = [
            (r["plc_ip"], r["ts"])
            for r in one.filter(F.col("f") == first_file).collect()
        ]
        assert vals == sorted(vals)


def test_compaction_shrinks_files_preserves_rows(spark, tmp_path):
    """Micro-batch-shaped writes leave many small files; compaction
    rewrites each partition to few files with identical content and
    intact pruning axes."""
    from iot_system_plc_data_to_influxdb_spark.operators.retention import (
        compact_all,
        partition_file_counts,
        write_points_bucketed,
    )

    base = str(tmp_path / "pts")
    pts = spark.createDataFrame(
        [
            (f"10.0.0.{i % 3}", f"tag{i % 5}", float(i), f"2024-01-0{1 + i % 2}T00:00:{i % 60:02d}")
            for i in range(300)
        ],
        "plc_ip string, alias string, value double, ts_s string",
    ).select("plc_ip", "alias", "value", F.col("ts_s").cast("timestamp").alias("ts"))
    # simulate 6 micro-batches: repeated appends → many files/partition
    for k in range(6):
        write_points_bucketed(pts.filter(F.pmod(F.xxhash64("alias", "value") , F.lit(6)) == k), base, n_buckets=4)

    before = partition_file_counts(base)
    assert max(before.values()) > 1, "appends should leave multiple files"
    rows_before = spark.read.parquet(base).count()
    sum_before = spark.read.parquet(base).agg(F.sum("value")).first()[0]

    results = compact_all(spark, base)
    assert results, "at least one partition compacted"
    after = partition_file_counts(base)
    for rel, (b, a) in results.items():
        assert a < b and after[rel] == a

    assert spark.read.parquet(base).count() == rows_before
    assert spark.read.parquet(base).agg(F.sum("value")).first()[0] == sum_before
    # pruning axes intact after the rewrite
    one = spark.read.parquet(base).filter("plc_bucket = 0 and date = '2024-01-01'")
    assert one.count() == one.select("plc_ip").na.drop().count()


def test_compaction_covers_the_sink_layout(spark, tmp_path):
    """The acquisition sink's one-level plc_ip= table compacts too: each
    partition's per-batch files become one, rows and batch ids intact."""
    from iot_system_plc_data_to_influxdb_spark.operators.retention import (
        compact_all,
        partition_file_counts,
    )
    from iot_system_plc_data_to_influxdb_spark.streaming.sinks import (
        write_points_batch,
    )

    base = str(tmp_path / "pts")
    pts = spark.createDataFrame(
        [(f"10.0.0.{i % 2}", "t", float(i), f"2024-01-01T00:00:{i:02d}") for i in range(12)],
        "plc_ip string, alias string, value double, ts_s string",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "plc_ip", "alias", "value")
    for bid in range(3):
        write_points_batch(pts.filter(F.col("value") % 3 == bid), bid, base)
    rows = sorted(spark.read.parquet(base).collect())
    assert set(partition_file_counts(base)) == {"plc_ip=10.0.0.0", "plc_ip=10.0.0.1"}
    assert min(partition_file_counts(base).values()) > 1

    compact_all(spark, base)
    assert set(partition_file_counts(base).values()) == {1}
    assert sorted(spark.read.parquet(base).collect()) == rows


def test_hidden_parquet_files_are_not_counted(spark, tmp_path):
    """A hidden ``.x.parquet`` (say a staging file an interrupted write
    left) is not part of the table, since Spark's listing skips it:
    neither the file count nor compaction counts it."""
    import shutil

    from iot_system_plc_data_to_influxdb_spark.operators.retention import (
        compact_all,
        compact_partition,
        partition_file_counts,
    )
    from iot_system_plc_data_to_influxdb_spark.streaming.sinks import (
        write_points_batch,
    )

    base = str(tmp_path / "pts")
    pts = spark.createDataFrame(
        [(f"10.0.0.{i % 2}", "t", float(i), f"2024-01-01T00:00:{i:02d}") for i in range(6)],
        "plc_ip string, alias string, value double, ts_s string",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "plc_ip", "alias", "value")
    write_points_batch(pts, 0, base)
    part = os.path.join(base, "plc_ip=10.0.0.1")
    live = next(f for f in os.listdir(part) if f.startswith("part-"))
    shutil.copy(os.path.join(part, live), os.path.join(part, ".x.parquet"))

    assert partition_file_counts(base) == {"plc_ip=10.0.0.0": 1, "plc_ip=10.0.0.1": 1}
    assert compact_all(spark, base) == {}
    assert compact_partition(spark, base, "plc_ip=10.0.0.1") == (1, 1)
    assert spark.read.parquet(base).count() == 6


def test_sink_concurrent_writers_land_every_row_once(spark, tmp_path):
    """Two threads each append 30 batches to one table, as a /write
    racing acquisition does: no call raises and every row lands
    exactly once (Spark's writer shared ``<table>/_temporary`` between
    them, and one writer's cleanup could fail the other's commit)."""
    import sys
    import threading

    from iot_system_plc_data_to_influxdb_spark.streaming.sinks import (
        write_points_batch,
    )

    base = str(tmp_path / "pts")
    rounds = 30
    batches = {
        (w, k): spark.createDataFrame(
            [
                (f"10.0.0.{i}", "t", float(w * 1000 + k * 10 + i), "2024-01-01")
                for i in range(2)
            ],
            "plc_ip string, alias string, value double, ts_s string",
        ).select(F.col("ts_s").cast("timestamp").alias("ts"), "plc_ip", "alias", "value")
        for w in range(2)
        for k in range(rounds)
    }
    errors = []

    def writer(w):
        for k in range(rounds):
            try:
                write_points_batch(batches[w, k], w * 100 + k, base)
            except Exception as e:  # noqa: BLE001 - every failure is reported
                errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(2)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    got = sorted(
        (r["value"], r["batch_id"], r["plc_ip"])
        for r in spark.read.parquet(base).collect()
    )
    assert got == sorted(
        (float(w * 1000 + k * 10 + i), w * 100 + k, f"10.0.0.{i}")
        for w in range(2)
        for k in range(rounds)
        for i in range(2)
    )


def test_compaction_crash_recovery(spark, tmp_path):
    """Every crash window of the partition-rewrite swap is recoverable:
    orphan tmp, missing live dir, completed-swap leftovers."""
    import os
    import shutil

    from iot_system_plc_data_to_influxdb_spark.operators.retention import (
        partition_file_counts,
        recover_interrupted_compactions,
        staging_paths,
        write_points_bucketed,
    )

    base = str(tmp_path / "pts")
    pts = spark.createDataFrame(
        [("10.0.0.1", "t", float(i), f"2024-01-01T00:00:{i:02d}") for i in range(30)],
        "plc_ip string, alias string, value double, ts_s string",
    ).select("plc_ip", "alias", "value", F.col("ts_s").cast("timestamp").alias("ts"))
    write_points_bucketed(pts, base, n_buckets=2)
    counts = partition_file_counts(base)
    rel = next(iter(counts))
    full = os.path.join(base, rel)
    rows_before = spark.read.parquet(base).count()

    tmp, old = staging_paths(full)
    # (a) crash before swap: orphan tmp next to an intact live dir
    shutil.copytree(full, tmp)
    # ... which readers of the table do not see
    assert spark.read.parquet(base).count() == rows_before
    # (b) crash between renames in a second partition: live dir missing
    rel2 = [r for r in counts if r != rel]
    if rel2:
        full2 = os.path.join(base, rel2[0])
        os.rename(full2, staging_paths(full2)[1])

    actions = recover_interrupted_compactions(base)
    assert any("orphan tmp" in v for v in actions.values())
    if rel2:
        assert any("restored" in v for v in actions.values())
    # all partitions whole again, no stray dirs, rows intact
    assert spark.read.parquet(base).count() == rows_before
    for root, dirs, _ in os.walk(base):
        assert not any(d.endswith((".rewrite_tmp", ".rewrite_old")) for d in dirs)

    # (c) completed swap: old dir next to a live one
    shutil.copytree(full, old)
    actions = recover_interrupted_compactions(base)
    assert any("dropped old" in v for v in actions.values())
    assert spark.read.parquet(base).count() == rows_before


def test_acquisition_to_bucketed_join_zero_exchange(spark):
    """The FULL acquisition→query loop over the signal-bucketed layout:
    plc_sim stream → decode → foreachBatch bucketed saveAsTable →
    per-signal stats join with ZERO Exchange in the plan."""
    import contextlib
    import io
    import uuid

    from iot_system_plc_data_to_influxdb_spark.sources.plc import register
    from iot_system_plc_data_to_influxdb_spark.streaming.pipeline import (
        decode_readings,
    )
    from iot_system_plc_data_to_influxdb_spark.streaming.sinks import (
        start_bucketed_signal_table,
    )

    register(spark)
    table = f"points_live_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as tmp:
        raw = (
            spark.readStream.format("plc_sim")
            .option("pollsPerBatch", "4")
            .load()
        )
        q = start_bucketed_signal_table(
            decode_readings(raw),
            table,
            os.path.join(tmp, "ckpt"),
            available_now=True,
            n_buckets=4,
        )
        q.awaitTermination(120)
    try:
        pts = spark.table(table).select("plc_ip", "alias", "ts", "value")
        stats = pts.groupBy("plc_ip", "alias").agg(
            F.max("value").alias("peak"), F.count("*").alias("n")
        )
        joined = (
            pts.hint("merge")
            .join(stats, ["plc_ip", "alias"])
            .filter(F.col("value") >= F.col("peak"))
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        assert "Exchange" not in buf.getvalue()
        rows = joined.collect()
        # every live signal surfaced exactly its peak reading(s)
        aliases = {r["alias"] for r in rows}
        assert {"boiler_temp", "valve_pos", "line_speed"} <= aliases
        for r in rows:
            assert r["value"] == r["peak"]
        # bucketed metadata really landed in the catalog
        ddl = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        txt = "\n".join(str(r) for r in ddl)
        assert "plc_ip" in txt and "Num Buckets" in txt
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
