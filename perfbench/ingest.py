"""Workload ``ingest``: the paper's acquisition pipeline as a stream.

plc_sim stream → ``decode_readings`` → ``start_points_query`` with the
reference's free-running ``min`` interval (trigger 0 seconds), fleet
read from the reference's XML through ``read_config``, run closed-loop
for the measured window. One operation is one trigger: its latency
runs from the trigger's start (the poll) to its offsets being
committed, as the query's own progress reports it.
"""

from __future__ import annotations

import json
import os
import re
import struct
import time
from collections import Counter

from . import gen, stats
from .harness import WORK_DIR, wait_for_listeners

N_PLCS = 8
TAGS_PER_PLC = 16
POLLS_PER_BATCH = 5
WARMUP_TRIGGERS = 5
DECODE_PROBE_POLLS = 100
DECODE_PROBE_COPIES = 40
DECODE_PROBE_REPS = 3


def _decode_reference(data_type: str, buf: bytes, bit_off):
    """Independent decode of a simulator buffer: the reference's type
    rules (big-endian float32, unsigned DWord, signed Word, bool bit),
    with Byte read as unsigned 8-bit, the engine's documented default.
    Counter/Timer reads decode to nothing (the null gate)."""
    if data_type == "S7WLReal":
        v = struct.unpack(">f", buf[:4])[0]
        return None if v != v or v in (float("inf"), float("-inf")) else v
    if data_type == "S7WLDWord":
        return float(struct.unpack(">I", buf[:4])[0])
    if data_type == "S7WLWord":
        return float(struct.unpack(">h", buf[:2])[0])
    if data_type == "S7WLByte":
        return float(buf[0])
    if data_type == "S7WLBit":
        return float((buf[0] >> (bit_off or 0)) & 1)
    return None


def _bit_off(tag: gen.Tag):
    """The bit offset the reference parses from a Bit address: the
    third number of a DB address, the second of any other area."""
    nums = [int(x) for x in re.findall(r"[0-9]+", tag.address)]
    k = 2 if tag.data_area == "S7AreaDB" else 1
    return nums[k] if len(nums) > k else None


def expected_points(tags: list[gen.Tag], polls: range) -> Counter:
    """Multiset of (plc_ip, alias, epoch s, value) a correct pipeline
    stores for ``polls``."""
    from iot_system_plc_data_to_influxdb_spark.sources.plc import simulate_buffer

    out: Counter = Counter()
    for poll in polls:
        for t in tags:
            v = _decode_reference(
                t.data_type, simulate_buffer(t.data_type, t.alias, poll), _bit_off(t)
            )
            if v is not None:
                out[(t.plc_ip, t.alias, gen.EPOCH_BASE_S + poll, v)] += 1
    return out


class Ingest:
    def __init__(self, seed: int):
        self.seed = seed
        self.n = 0

    # -- set-up ----------------------------------------------------------
    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from iot_system_plc_data_to_influxdb_spark.sources import plc
        from iot_system_plc_data_to_influxdb_spark.sources.config import read_config

        self.spark = spark
        self.tags = gen.fleet(self.seed, N_PLCS, TAGS_PER_PLC)
        xml_path = os.path.join(WORK_DIR, "fleet.xml")
        with open(xml_path, "w") as f:
            f.write(gen.fleet_xml(self.tags))
        plc.register(spark)
        cfg = read_config(spark, xml_path)
        self.tags_json = json.dumps(
            [
                [r["plc_ip"], r["data_type"], r["data_area"], r["address"], r["alias"]]
                for r in cfg.filter(F.col("active")).collect()
            ]
        )
        self._run_stream(None, triggers=WARMUP_TRIGGERS)

    # -- the stream --------------------------------------------------------
    def _run_stream(self, seconds: float | None, triggers: int | None = None):
        """Run the pipeline for ``seconds`` after its first trigger
        commits, or until ``triggers`` have committed; returns the
        table, the progress of every committed trigger and the query
        id."""
        from iot_system_plc_data_to_influxdb_spark.streaming.pipeline import (
            decode_readings,
        )
        from iot_system_plc_data_to_influxdb_spark.streaming.sinks import (
            start_points_query,
        )

        self.n += 1
        table = os.path.join(WORK_DIR, f"points-{self.n}")
        ckpt = os.path.join(WORK_DIR, f"ckpt-{self.n}")
        readings = (
            self.spark.readStream.format("plc_sim")
            .option("tags", self.tags_json)
            .option("pollsPerBatch", str(POLLS_PER_BATCH))
            .load()
        )
        q = start_points_query(decode_readings(readings), table, ckpt, "0 seconds")
        deadline = None
        try:
            while q.isActive:
                time.sleep(0.02)
                lp = q.lastProgress
                if lp is None:
                    continue
                if triggers is not None and lp["batchId"] + 1 >= triggers:
                    break
                if seconds is not None:
                    # the window opens once the query's start-up
                    # trigger (batch 0) has committed
                    deadline = deadline or time.perf_counter() + seconds
                    if time.perf_counter() >= deadline:
                        break
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return table, list(q.recentProgress), q.id

    def window(self, seconds: float, tracer) -> dict:
        restore = self._install_tracing(tracer) if tracer is not None else None
        try:
            table, progress, qid = self._run_stream(seconds)
        finally:
            if restore is not None:
                restore()
        # batch 0 carries the query's start-up; the rest are the
        # steady state the window measures
        steady = [p for p in progress if p["batchId"] > 0]
        if not steady:
            raise RuntimeError("no trigger after the first committed in the window")
        failed, stored, dupes = self.check(table, progress)
        lat_ms = [p["durationMs"]["triggerExecution"] for p in steady]
        first = _epoch_s(steady[0]["timestamp"])
        last = _epoch_s(steady[-1]["timestamp"]) + lat_ms[-1] / 1000.0
        return {
            "table": table,
            "query_id": qid,
            "progress": progress,
            "steady": steady,
            "latency_ms": lat_ms,
            "ops_per_s": len(steady) / (last - first),
            "points_per_s": sum(stored[p["batchId"]] for p in steady) / (last - first),
            "stored": stored,
            "attempted": len(progress),
            "failed": failed + (1 if dupes else 0),
        }

    def extra_end_to_end(self, res) -> dict:
        return {
            "points_per_s": (res["points_per_s"], "points/s"),
            "poll_to_durable_p50_s": (stats.median(res["latency_ms"]) / 1000.0, "s"),
        }

    # -- correctness -------------------------------------------------------
    def check(self, table: str, progress: list) -> tuple[int, dict, int]:
        """Per committed batch: stored rows equal the independent decode
        of exactly the polls its offsets cover. Rows of a batch written
        but never committed (the stop raced its commit) are not counted
        against the stream. Returns (failed batches, rows per committed
        batch, duplicated points)."""
        from pyspark.sql import functions as F

        rows = (
            self.spark.read.parquet(table)
            .select(
                "batch_id",
                "plc_ip",
                "alias",
                F.unix_timestamp("ts").alias("ts_s"),
                "value",
            )
            .collect()
        )
        by_batch: dict[int, Counter] = {}
        for r in rows:
            by_batch.setdefault(r["batch_id"], Counter())[
                (r["plc_ip"], r["alias"], r["ts_s"], r["value"])
            ] += 1
        failed = 0
        stored = {}
        seen: Counter = Counter()
        for p in progress:
            src = p["sources"][0]
            lo = _poll(src["startOffset"], default=0)
            got = by_batch.get(p["batchId"], Counter())
            stored[p["batchId"]] = sum(got.values())
            if got != expected_points(self.tags, range(lo, _poll(src["endOffset"]))):
                failed += 1
            seen.update(got)
        dupes = sum(1 for c in seen.values() if c > 1)
        return failed, stored, dupes

    # -- tracing -------------------------------------------------------------
    def _install_tracing(self, tracer):
        """Rebind the sink hook ``start_points_query`` resolves by module
        attribute at each micro-batch. Returns the undo function."""
        from iot_system_plc_data_to_influxdb_spark.streaming import sinks

        plain = sinks.write_points_batch
        sinks.write_points_batch = tracer.wrap(
            "streaming.sinks.write",
            plain,
            rid_of=lambda _df, batch_id, _path: f"batch-{batch_id}",
        )

        def restore():
            sinks.write_points_batch = plain

        return restore

    def layers(self, res, tracer, event_log: str) -> dict:
        from .trace import executor_per_op, reduce_event_log

        med = stats.median
        steady = res["steady"]
        d = [p["durationMs"] for p in steady]
        qid = str(res["query_id"])
        wait_for_listeners(self.spark)
        groups = reduce_event_log(
            event_log,
            lambda props: props.get("streaming.sql.batchId")
            if props.get("sql.streaming.queryId") == qid
            else None,
        )
        per = [groups.get(str(p["batchId"])) for p in steady]
        rows_in = sum(p["numInputRows"] for p in res["progress"])
        stored = sum(res["stored"].values())
        files, nbytes = _files_bytes(res["table"])
        writes = {s.rid: s.ms for s in tracer.by_name("streaming.sinks.write")}
        out = {
            "sources.plc.read_ms": (
                med([x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d]),
                "ms",
            ),
            "sources.plc.rows": (med([p["numInputRows"] for p in steady]), "count"),
            "functions.decode.kept_ratio": (stored / rows_in, "ratio"),
            "functions.decode.ms_per_1k": (self._decode_probe(), "ms"),
            "spark.microbatch.planning_ms": (
                med([x.get("queryPlanning", 0) for x in d]),
                "ms",
            ),
            "spark.microbatch.commit_ms": (
                med([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]),
                "ms",
            ),
            "streaming.sinks.write_ms": (
                med([writes[f"batch-{p['batchId']}"] for p in steady]),
                "ms",
            ),
            "streaming.sinks.files_per_trigger": (files / len(res["progress"]), "count"),
            "streaming.sinks.bytes_per_point": (nbytes / stored, "bytes"),
            "ingest.points_per_s": (res["points_per_s"], "points/s"),
        }
        out.update(executor_per_op(per))
        return out

    def _decode_probe(self) -> float:
        """ms per 1,000 readings of decode: read + decode → noop minus
        read → noop, each the fastest of a few repetitions. The readings
        are cached first (a batch read of the fleet, repeated
        ``DECODE_PROBE_COPIES`` times), so the difference is the
        JVM-side decode, not the simulator's Python read, which would
        drown it."""
        from iot_system_plc_data_to_influxdb_spark.streaming.pipeline import (
            decode_readings,
        )

        raw = (
            self.spark.read.format("plc_sim")
            .option("tags", self.tags_json)
            .option("polls", str(DECODE_PROBE_POLLS))
            .load()
        )
        copies = self.spark.range(DECODE_PROBE_COPIES).withColumnRenamed("id", "_copy")
        cached = raw.crossJoin(copies).drop("_copy").persist()

        def timed(df) -> float:
            runs = []
            for _ in range(DECODE_PROBE_REPS):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                runs.append((time.perf_counter() - t) * 1000.0)
            return min(runs)

        try:
            n = cached.count()
            read_ms = timed(cached)
            both_ms = timed(decode_readings(cached))
        finally:
            cached.unpersist()
        return (both_ms - read_ms) / (n / 1000.0)

    def local1_window(self, seconds: float) -> dict:
        """Single-thread baseline: the same pipeline on local[1], over
        half a window (a steady trigger rate needs no more, and the
        traced run must stay within its time limit). The window leaves
        out the stream's first trigger, so it needs no warm-up."""
        from iot_system_plc_data_to_influxdb_spark.sources import plc

        from . import harness

        self.spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        try:
            self.spark = harness.start_session()
            plc.register(self.spark)
            return self.window(seconds / 2, None)
        finally:
            os.environ["SPARK_GRAFT_CPUS"] = str(harness.nproc())


def _files_bytes(table: str) -> tuple[int, int]:
    files = nbytes = 0
    for d, _s, fs in os.walk(table):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, f))
    return files, nbytes


def _poll(offset, default: int | None = None) -> int:
    """Poll number of a source offset. Progress reports it as the
    source's offset dict or as its text; the first batch has none."""
    if isinstance(offset, dict):
        return offset["poll"]
    m = re.search(r"poll[\"']?\s*:\s*(\d+)", str(offset))
    if m:
        return int(m.group(1))
    if default is None:
        raise ValueError(f"no poll in source offset {offset!r}")
    return default


def _epoch_s(ts: str) -> float:
    import datetime as dt

    return (
        dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )
