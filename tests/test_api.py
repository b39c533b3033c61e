"""End-to-end facade test: config → acquisition → query surface —
the reference user's complete workflow on Spark.
"""

import os
import tempfile
import time

from pyspark.sql import functions as F

from iot_system_plc_data_to_influxdb_spark.api import IoTEngine
from iot_system_plc_data_to_influxdb_spark.plans.config_plane import config_df
from iot_system_plc_data_to_influxdb_spark.sources.config import write_config


def test_full_workflow(spark):
    with tempfile.TemporaryDirectory() as tmp:
        cfg_path = os.path.join(tmp, "plc.xml")
        write_config(config_df(spark), cfg_path)

        engine = IoTEngine(spark, config_path=cfg_path)
        assert engine.config.count() == 12

        # daemon: acquire a few micro-batches into the points table
        table = os.path.join(tmp, "points")
        q = engine.start_acquisition(table, os.path.join(tmp, "ckpt"))
        deadline = time.time() + 60
        while time.time() < deadline and q.lastProgress is None:
            time.sleep(0.5)
        time.sleep(2)
        q.stop()

        pts = engine.points(table)
        n = pts.count()
        assert n > 0
        # active tags only: the inactive DWord and the Counter/Timer
        # rows must never appear (A2 + A9)
        aliases = {r["alias"] for r in pts.select("alias").distinct().collect()}
        assert "total_count" not in aliases  # inactive
        assert "cycles" not in aliases and "cycle_time" not in aliases  # null gate

        # current values: one row per (plc, alias)
        cv = engine.current_values(pts)
        assert cv.count() == pts.select("plc_ip", "alias").distinct().count()

        # downsample + gap fill run and keep key cardinality
        ds = engine.downsample(pts, "1 minute")
        assert ds.count() >= cv.count()
        filled = engine.fill_previous(pts, "1 minute")
        assert filled.filter(F.col("last_value_filled").isNull()).count() == 0

        # batch decode path over a batch read of the same source
        raw = spark.read.format("plc_sim").option("polls", "2").load()
        decoded = engine.decode_batch(raw)
        assert decoded.count() == 18


def test_line_protocol_ingest_to_influxql_e2e(spark, tmp_path):
    """The reference user's full loop on this engine: an existing
    InfluxDB deployment's line-protocol export streams in, lands as
    the partitioned points table, and the Grafana-style InfluxQL
    statement answers from it (README.md:3 workflow)."""
    import datetime as dt

    from iot_system_plc_data_to_influxdb_spark.api import IoTEngine
    from iot_system_plc_data_to_influxdb_spark.streaming.influx import (
        read_line_protocol_stream,
    )

    # an hour of two PLCs' readings as another writer's .lp export
    src = tmp_path / "lp"
    src.mkdir()
    base_ns = 1704067200_000_000_000  # 2024-01-01T00:00:00Z
    lines = []
    for i in range(120):  # every 30 s
        ns = base_ns + i * 30_000_000_000
        lines.append(f"192.168.0.1 temp={20 + (i % 7)}.5 {ns}")
        lines.append(f"192.168.0.2 flow={i % 11}.25 {ns}")
    (src / "export.lp").write_text("\n".join(lines) + "\n")

    table = str(tmp_path / "points")
    ckpt = str(tmp_path / "ckpt")
    parsed = read_line_protocol_stream(spark, str(src))
    points_stream = parsed.select(
        "ts",
        F.col("measurement").alias("plc_ip"),
        F.col("field").alias("alias"),
        "value",
    )
    q = (
        points_stream.writeStream.format("parquet")
        .option("path", table)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    engine = IoTEngine(spark)
    pts = engine.points(table)
    assert pts.count() == 240

    out = engine.influxql(
        "SELECT mean(value) AS m, count(value) AS n FROM points "
        "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-01 01:00:00' "
        "GROUP BY time(10m), plc_ip",
        pts,
    ).collect()
    got = {(r["plc_ip"], r["time"].minute): (r["m"], r["n"]) for r in out}
    exp = {
        (r["plc_ip"], r["w"].minute): (r["m"], r["n"])
        for r in pts.groupBy(
            F.window("ts", "10 minutes").start.alias("w"), "plc_ip"
        )
        .agg(F.avg("value").alias("m"), F.count("value").alias("n"))
        .collect()
    }
    assert got == exp
    assert len({ip for ip, _m in got}) == 2 and len(got) == 12

    # meta + retention statements go through the same front door
    names = [
        r["name"] for r in engine.influxql("SHOW MEASUREMENTS", pts).collect()
    ]
    assert names == ["192.168.0.1", "192.168.0.2"]
    surviving = engine.influxql('DROP MEASUREMENT "192.168.0.2"', pts)
    assert surviving.select("plc_ip").distinct().count() == 1


def test_serve_influx_api_facade(spark, tmp_path):
    """One call starts the wire-compatible gateway over a points dir."""
    import json
    import urllib.parse
    import urllib.request

    from pyspark.sql import functions as F

    from iot_system_plc_data_to_influxdb_spark.api import IoTEngine

    path = str(tmp_path / "pts")
    spark.createDataFrame(
        [("2024-01-01T00:00:00", "p1", "t", 1.5), ("2024-01-01T01:00:00", "p1", "t", 2.5)],
        "ts_s string, plc_ip string, alias string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "plc_ip", "alias", "value").write.parquet(path)

    eng = IoTEngine(spark)
    server, port = eng.serve_influx_api(path)
    try:
        q = urllib.parse.quote("SELECT mean(value) FROM points")
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/query?q={q}", timeout=60) as r:
            out = json.loads(r.read())
        assert out["results"][0]["series"][0]["values"] == [[2.0]]
    finally:
        server.shutdown()


def test_age_off_removes_exactly_the_expired_rows(spark, tmp_path):
    """age_off on the table the acquisition sink writes (plc_ip=
    partitions, no date level) removes exactly the rows older than the
    cutoff: a partition left empty is removed, one without expired rows
    keeps its files byte for byte."""
    import datetime as dt

    from iot_system_plc_data_to_influxdb_spark.streaming.sinks import (
        write_points_batch,
    )

    def pts(rows):
        return spark.createDataFrame(
            rows, "ts_s string, plc_ip string, alias string, value double"
        ).select(
            F.col("ts_s").cast("timestamp").alias("ts"), "plc_ip", "alias", "value"
        )

    path = str(tmp_path / "points")
    write_points_batch(
        pts(
            [
                ("2024-01-01T12:00:00", "10.0.0.1", "t", 1.0),
                ("2024-01-02T23:59:59", "10.0.0.1", "t", 2.0),
                ("2024-01-03T00:00:00", "10.0.0.1", "t", 3.0),
            ]
        ),
        0,
        path,
    )
    write_points_batch(
        pts(
            [
                ("2024-01-01T00:00:00", "10.0.0.2", "t", 4.0),
                ("2024-01-05T00:00:00", "10.0.0.3", "t", 5.0),
            ]
        ),
        1,
        path,
    )
    keep = os.path.join(path, "plc_ip=10.0.0.3")
    files = {f: open(os.path.join(keep, f), "rb").read() for f in os.listdir(keep)}

    assert IoTEngine(spark).age_off(path, dt.date(2024, 1, 3)) == 3
    got = sorted(
        (r["plc_ip"], r["value"], r["batch_id"])
        for r in spark.read.parquet(path).collect()
    )
    assert got == [("10.0.0.1", 3.0, 0), ("10.0.0.3", 5.0, 1)]
    assert not os.path.exists(os.path.join(path, "plc_ip=10.0.0.2"))
    assert {
        f: open(os.path.join(keep, f), "rb").read() for f in os.listdir(keep)
    } == files
