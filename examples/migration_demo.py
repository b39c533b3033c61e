"""Runnable migration demo: the reference deployment's whole
lifecycle on this engine, end to end.

    python examples/migration_demo.py

Walks exactly the path a user of the reference system
(ARMAGEDONgtx/IoT-system-PLC-data-to-InfluxDB) takes today:

1. the XML tag config (ConfigApp's file format),
2. the acquisition daemon (poll → decode → points table),
3. the InfluxQL queries their Grafana dashboards emit,
4. a continuous-query rollup + retention age-off,
5. the InfluxDB 1.x HTTP wire protocol served by the engine itself
   (point the existing Grafana datasource at it, unchanged).

Everything runs locally against the simulated PLC source; swapping
the simulator for the snap7 backend is a config change in
sources/plc.py, and the InfluxQL strings are unchanged from what the
user runs against InfluxDB 1.7 today.
"""

from __future__ import annotations

import datetime as dt  # noqa: F401
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iot_system_plc_data_to_influxdb_spark.api import IoTEngine  # noqa: E402
from iot_system_plc_data_to_influxdb_spark.plans.config_plane import (  # noqa: E402
    config_df,
)
from iot_system_plc_data_to_influxdb_spark.session import get_spark  # noqa: E402
from iot_system_plc_data_to_influxdb_spark.sources.config import (  # noqa: E402
    write_config,
)


def main() -> int:
    spark = get_spark("migration-demo")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    with tempfile.TemporaryDirectory() as tmp:
        # 1. config plane — the reference's XML file format
        cfg_path = os.path.join(tmp, "plc.xml")
        write_config(config_df(spark), cfg_path)
        engine = IoTEngine(spark, config_path=cfg_path)
        print(f"config: {engine.config.count()} tags from {cfg_path}")

        # 2. the daemon — poll/decode/write, a few micro-batches
        table = os.path.join(tmp, "points")
        q = engine.start_acquisition(table, os.path.join(tmp, "ckpt"))
        deadline = time.time() + 60
        while time.time() < deadline and q.lastProgress is None:
            time.sleep(0.5)
        time.sleep(2)
        q.stop()
        pts = engine.points(table).cache()
        print(f"points acquired: {pts.count()}")

        # 3. the Grafana-side queries — verbatim InfluxQL
        print("\nSHOW MEASUREMENTS:")
        from iot_system_plc_data_to_influxdb_spark.functions.influxql import (
            compile_show,
        )

        compile_show("SHOW MEASUREMENTS", pts).show(truncate=False)

        print("InfluxQL downsample:")
        engine.influxql(
            "SELECT mean(value) AS mean, max(value) AS max FROM points "
            "GROUP BY time(10s), plc_ip ORDER BY time DESC LIMIT 6",
            pts,
        ).show(truncate=False)

        print("Grafana transform panel (point-over-point delta per PLC):")
        engine.influxql(
            "SELECT difference(value) * 10 AS dv10 FROM /^192/ LIMIT 6",
            pts,
        ).show(truncate=False)

        print("Grafana multi-value variable (OR group) + field math:")
        engine.influxql(
            "SELECT max(value) - min(value) AS spread FROM points "
            "WHERE (\"plc_ip\" = '192.168.0.10' OR \"plc_ip\" = '192.168.0.11') "
            "GROUP BY time(10s), * ORDER BY time DESC LIMIT 4",
            pts,
        ).show(truncate=False)

        print("SHOW SERIES (dashboard templating):")
        compile_show("SHOW SERIES", pts).show(truncate=False)

        print("current values (the reference's m_value cache):")
        engine.current_values(pts).show(truncate=False)

        # monitoring: Kapacitor-deadman parity — which series trail
        # the acquisition frontier (streaming twin:
        # streaming/state.deadman_alerts, watermark-driven)
        from pyspark.sql import functions as F

        print("deadman check (series > 3 s behind the frontier):")
        frontier = pts.agg(F.max("ts").alias("m"))
        (
            pts.groupBy("plc_ip", "alias")
            .agg(F.max("ts").alias("last_ts"))
            .crossJoin(F.broadcast(frontier))
            .filter(F.col("last_ts") < F.col("m") - F.expr("INTERVAL 3 SECONDS"))
            .select("plc_ip", "alias", "last_ts")
        ).show(truncate=False)

        # 4. CQ rollup + routed query + retention
        rollup = os.path.join(tmp, "rollup")
        n = engine.backfill_rollup(pts, rollup, every="10 seconds")
        print(f"rollup backfilled: {n} buckets")
        routed = engine.influxql(
            "SELECT mean(value) AS mean FROM points GROUP BY time(20s), plc_ip",
            pts,
            rollup=spark.read.parquet(rollup),
            rollup_every_s=10,
        )
        src = "rollup" if any("rollup" in f for f in routed.inputFiles()) else "raw"
        print(f"routed InfluxQL query served from: {src}")
        routed.show(4, truncate=False)

        # retention on a copy of the table written by the acquisition
        # sink: age-off rewrites only the partitions holding old points
        from iot_system_plc_data_to_influxdb_spark.streaming.sinks import (
            write_points_batch,
        )

        archive = os.path.join(tmp, "points_archive")
        write_points_batch(pts, 0, archive)
        dropped = engine.age_off(archive, dt.date(2024, 1, 2))
        print(f"retention age-off dropped {dropped} points older than 2024-01-02")

        # 5. the wire protocol: existing Grafana datasources and
        # writers point at the engine unchanged
        import json
        import urllib.parse
        import urllib.request

        server, port = engine.serve_influx_api(table)
        try:
            q = urllib.parse.quote(
                "SELECT count(value) AS n FROM points GROUP BY plc_ip"
            )
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}/query?db=iot&q={q}", timeout=60
            ) as r:
                payload = json.loads(r.read())
            series = payload["results"][0]["series"][0]
            print(
                f"HTTP /query (InfluxDB wire protocol) on :{port} → "
                f"columns {series['columns']}, {len(series['values'])} rows"
            )
        finally:
            server.shutdown()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
