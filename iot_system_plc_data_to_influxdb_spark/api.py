"""User-facing facade: the reference system's workflow end-to-end.

A reference user's lifecycle is: edit XML config → run the daemon
(poll/decode/write) → query InfluxDB/Grafana (current values,
downsampled series, anomalies, retention). ``IoTEngine`` is that
lifecycle on Spark:

    engine = IoTEngine(spark, config_path="plc.xml")
    q = engine.start_acquisition("/data/points", "/ckpt")   # daemon
    engine.points("/data/points")                           # the table
    engine.current_values(points)                           # A10
    engine.downsample(points, "5 minutes")                  # GROUP BY time()
    engine.anomalies(points, z=3.0)                         # README.md:3
    engine.age_off("/data/points", cutoff_date)             # retention
"""

from __future__ import annotations

import datetime as _dt
import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .sources import plc as plc_source
from .sources.config import read_config
from .streaming.http_api import InfluxAPI, serve
from .streaming.pipeline import decode_readings, downsample as _downsample
from .streaming.sinks import start_points_query
from .streaming.state import current_value_batch


class IoTEngine:
    def __init__(self, spark: SparkSession, config_path: str | None = None):
        self.spark = spark
        plc_source.register(spark)
        self.config = read_config(spark, config_path) if config_path else None
        # the InfluxQL statement dispatcher and CQ registry; this door
        # always passes its table, so no measurement resolver is needed
        self._influx = InfluxAPI(spark, get_table=None)

    # -- acquisition (the daemon) -------------------------------------
    def readings_stream(self, polls_per_batch: int = 1) -> DataFrame:
        """Raw reading stream from the simulator backend of the PLC
        source, restricted to active config tags, each PLC with its
        config slot."""
        reader = (
            self.spark.readStream.format("plc_sim")
            .option("pollsPerBatch", str(polls_per_batch))
        )
        if self.config is not None:
            cols = ["plc_ip", "data_type", "data_area", "address", "alias", "slot"]
            active = self.config.filter(F.col("active")).select(cols).collect()
            reader = reader.option("tags", json.dumps([list(r) for r in active]))
        return reader.load()

    def start_acquisition(
        self, table_path: str, checkpoint: str, trigger: str = "0 seconds"
    ):
        """Poll → decode → partitioned points table (the whole daemon)."""
        points = decode_readings(self.readings_stream())
        return start_points_query(points, table_path, checkpoint, trigger)

    # -- the stored table ---------------------------------------------
    def points(self, table_path: str) -> DataFrame:
        return self.spark.read.parquet(table_path).select(
            "ts", "plc_ip", "alias", "value"
        )

    # -- query surface (what InfluxDB/Grafana provided) ---------------
    def current_values(self, points: DataFrame) -> DataFrame:
        return current_value_batch(points)

    def downsample(self, points: DataFrame, every: str = "5 minutes") -> DataFrame:
        return (
            points.groupBy(
                F.window("ts", every).start.alias("bucket_start"), "plc_ip", "alias"
            )
            .agg(
                F.count("*").alias("n"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
                F.avg("value").alias("avg_value"),
                F.max_by("value", "ts").alias("last_value"),
            )
        )

    def downsample_stream(self, points: DataFrame, every: str = "5 minutes"):
        return _downsample(points, window=every)

    def anomalies(self, points: DataFrame, z: float = 3.0) -> DataFrame:
        """|value − mean| > z·σ per (plc, alias)."""
        w = Window.partitionBy("plc_ip", "alias")
        stats = points.select(
            "ts",
            "plc_ip",
            "alias",
            "value",
            F.avg("value").over(w).alias("m"),
            F.stddev_pop("value").over(w).alias("sd"),
        )
        return stats.filter(
            (F.col("sd") > 0) & (F.abs(F.col("value") - F.col("m")) > z * F.col("sd"))
        ).select("ts", "plc_ip", "alias", "value")

    def fill_previous(self, points: DataFrame, every: str = "1 hour") -> DataFrame:
        """Downsampled series with gaps carried forward (fill(previous))."""
        ds = self.downsample(points, every)
        w = (
            Window.partitionBy("plc_ip", "alias")
            .orderBy("bucket_start")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return ds.withColumn(
            "last_value_filled", F.last("last_value", ignorenulls=True).over(w)
        )

    def decode_batch(self, raw: DataFrame, *, strict_reference: bool = False):
        """One-shot decode of raw readings (A7), e.g. from a batch read
        of the plc source: spark.read.format('plc_sim')."""
        return decode_readings(raw, strict_reference=strict_reference)

    def age_off(self, table_path: str, cutoff: _dt.date) -> int:
        """Retention: remove the points older than ``cutoff`` from the
        table, rewriting only the partitions that hold them; returns
        how many were removed."""
        from .operators.retention import drop_expired

        return drop_expired(self.spark, table_path, cutoff)

    # -- InfluxQL front door (what Grafana speaks) ---------------------
    @property
    def continuous_queries(self) -> dict:
        """name → CQSpec registered via CREATE CONTINUOUS QUERY — the
        one registry ``influxql``, ``run_cq`` and ``serve_influx_api``
        share."""
        return self._influx.continuous_queries

    def influxql(
        self,
        query: str,
        table: DataFrame,
        rollup: DataFrame | None = None,
        rollup_every_s: int | None = None,
    ) -> DataFrame:
        """Run an InfluxQL statement (the reference users' query
        language) against a measurement DataFrame and return its result
        — through the same statement dispatcher as the /query gateway
        (``InfluxAPI.execute``). GROUP BY time() statements that merge
        exactly from a CQ rollup are routed to it automatically. SHOW,
        DELETE/DROP and admin statements go through the same door; here
        DELETE/DROP return the surviving rows and write nothing."""
        return self._influx.execute(
            query.strip(), table, rollup=rollup, rollup_every_s=rollup_every_s
        ).df

    def _persist(self, df: DataFrame, out_dir: str, target: str):
        path = os.path.join(out_dir, target)
        df.write.mode("overwrite").parquet(path)
        return target, self.spark.read.parquet(path).count()

    def influxql_into(
        self, query: str, table: DataFrame, out_dir: str
    ) -> tuple[str, int]:
        """SELECT ... INTO <target>: run the statement and persist the
        result as ``<out_dir>/<target>`` parquet (the one-shot CQ
        backfill idiom). Returns (target, row count). The scheduled CQ
        path is ``start_continuous_query``; this is its ad-hoc twin."""
        from .functions.influxql import compile_into

        target, df = compile_into(query, table)
        return self._persist(df, out_dir, target)

    def run_cq(self, name: str, table: DataFrame, out_dir: str) -> tuple[str, int]:
        """Execute a registered continuous query once as a batch
        backfill: run its inner SELECT and persist the result as
        ``<out_dir>/<target>`` parquet. Returns (target, rows). The
        streaming keep-current path is ``start_continuous_query`` on
        the same bucket width; InfluxDB runs the same statement on a
        timer server-side."""
        spec = self.continuous_queries[name]
        return self._persist(self.influxql(spec.select, table), out_dir, spec.target)

    # -- continuous queries (InfluxDB CQ / RESAMPLE parity) ------------
    def start_continuous_query(
        self,
        points_stream: DataFrame,
        rollup_path: str,
        checkpoint: str,
        every: str = "5 minutes",
        watermark: str = "10 minutes",
    ):
        """CQ: keep a downsampled rollup table current from the stream."""
        from .streaming.rollup import start_continuous_downsample

        return start_continuous_downsample(
            points_stream, rollup_path, checkpoint, every=every, watermark=watermark
        )

    def backfill_rollup(
        self, points: DataFrame, rollup_path: str, every: str = "5 minutes"
    ) -> int:
        """Seed/patch the rollup from historical points (idempotent)."""
        from .streaming.rollup import backfill_downsample

        return backfill_downsample(self.spark, points, rollup_path, every=every)

    def downsample_routed(
        self,
        points: DataFrame,
        rollup_path: str | None,
        rollup_every_s: int,
        query_every_s: int,
    ) -> DataFrame:
        """Materialized-view routing: serve GROUP BY time() from the CQ
        rollup when the bucket is a multiple of the rollup bucket."""
        from .streaming.rollup import route_downsample

        return route_downsample(
            self.spark, points, rollup_path, rollup_every_s, query_every_s
        )

    def resample_rollup(
        self, points: DataFrame, rollup_path: str, every: str = "5 minutes"
    ) -> int:
        """Repair buckets staled by watermark-dropped late data
        (InfluxQL RESAMPLE), rewriting only affected date partitions."""
        from .streaming.rollup import resample_downsample

        return resample_downsample(self.spark, points, rollup_path, every=every)

    def serve_influx_api(self, table_path: str, port: int = 0):
        """Start the InfluxDB 1.x wire-protocol gateway over a points
        directory: existing Grafana datasources GET /query, existing
        writers POST /write, health checks hit /ping — no client
        changes. The gateway shares this engine's CQ registry. Returns
        (server, port); call server.shutdown() to stop. See
        streaming/http_api.py for protocol scope."""
        api = InfluxAPI(
            self.spark,
            lambda _m: self.spark.read.parquet(table_path),
            write_dir=table_path,
        )
        api.continuous_queries = self.continuous_queries
        server, _thread, bound = serve(api, port)
        return server, bound
