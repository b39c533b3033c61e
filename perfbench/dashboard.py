"""Workload ``dashboard``: Grafana refreshing a six-panel dashboard.

Open loop: a refresh is due every ``REFRESH_S`` seconds whatever the
gateway is doing, and its panel queries go out over at most
``CONNECTIONS`` connections to ``/query`` of the InfluxDB-compatible
gateway (``streaming.http_api.InfluxAPI`` served by ``serve``). One
operation is one panel query, timed from when it was due to its full
response. The points table is written during set-up by the ingest
path's sink (``streaming.sinks.write_points_batch``, one append per
simulated micro-batch), so reads see the small-file layout acquisition
leaves; nothing is written inside the measured window.
"""

from __future__ import annotations

import http.client
import json
import os
import queue
import threading
import time
import urllib.parse

from . import gen, stats
from .harness import WORK_DIR, wait_for_listeners

N_PLCS = 8
TAGS_PER_PLC = 8
SPAN_S = 600  # polls at 1 s: ten minutes of data
BATCHES = 6  # simulated micro-batches that write the table
REFRESH_S = 3.0
CONNECTIONS = 4
DRAIN_TIMEOUT_S = 60.0


class Dashboard:
    def __init__(self, seed: int):
        self.seed = seed
        self.n = 0
        self.server = None
        self.pending: dict[str, list[str]] = {}
        self.pending_lock = threading.Lock()

    # -- set-up ------------------------------------------------------------
    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from iot_system_plc_data_to_influxdb_spark.sources import plc
        from iot_system_plc_data_to_influxdb_spark.sources.config import read_config
        from iot_system_plc_data_to_influxdb_spark.streaming import sinks
        from iot_system_plc_data_to_influxdb_spark.streaming.http_api import (
            InfluxAPI,
            serve,
        )
        from iot_system_plc_data_to_influxdb_spark.streaming.pipeline import (
            decode_readings,
        )

        self.spark = spark
        self.close()
        self.n += 1
        self.tags = gen.fleet(self.seed, N_PLCS, TAGS_PER_PLC)
        xml_path = os.path.join(WORK_DIR, "dashboard-fleet.xml")
        with open(xml_path, "w") as f:
            f.write(gen.fleet_xml(self.tags))
        plc.register(spark)
        cfg = read_config(spark, xml_path)
        tags_json = json.dumps(
            [
                [r["plc_ip"], r["data_type"], r["data_area"], r["address"], r["alias"]]
                for r in cfg.filter(F.col("active")).collect()
            ]
        )
        readings = (
            spark.read.format("plc_sim")
            .option("tags", tags_json)
            .option("polls", str(SPAN_S))
            .load()
        )
        points = decode_readings(readings).persist()
        self.table = os.path.join(WORK_DIR, f"dashboard-points-{self.n}")
        try:
            for bid, (a, b) in enumerate(gen.batch_plan(SPAN_S, BATCHES)):
                lo = F.timestamp_seconds(F.lit(gen.EPOCH_BASE_S + a))
                hi = F.timestamp_seconds(F.lit(gen.EPOCH_BASE_S + b))
                batch = points.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
                sinks.write_points_batch(batch, bid, self.table)
        finally:
            points.unpersist()

        table = self.table
        self.get_table = lambda _measurement: spark.read.parquet(table)
        self.api = InfluxAPI(spark, lambda m: self.get_table(m), write_dir=None)
        self.server, _thread, self.port = serve(self.api, 0)
        self.panels = gen.dashboard_panels(self.seed, self.tags, SPAN_S)
        # warm-up: one refresh, outside any window
        self._fire([0.0], None)

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None

    # -- the open-loop client ----------------------------------------------
    def _request(self, statement: str) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            qs = urllib.parse.urlencode({"db": "iot", "epoch": "ms", "q": statement})
            conn.request("GET", f"/query?{qs}")
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def _fire(self, schedule, tracer) -> tuple[list[dict], list[float]]:
        """Send every refresh of ``schedule`` at its due time; returns
        one record per panel query and how late each refresh went out."""
        work: queue.Queue = queue.Queue()
        records: list[dict] = []
        lock = threading.Lock()

        def worker():
            while True:
                item = work.get()
                if item is None:
                    return
                rec = dict(item)
                if tracer is not None:
                    with self.pending_lock:
                        self.pending.setdefault(rec["statement"], []).append(rec["rid"])
                rec["sent"] = time.perf_counter()
                try:
                    rec["status"], rec["body"] = self._request(rec["statement"])
                except OSError as e:
                    rec["status"], rec["body"] = 0, str(e).encode()
                rec["done"] = time.perf_counter()
                with lock:
                    records.append(rec)

        threads = [
            threading.Thread(target=worker, daemon=True) for _ in range(CONNECTIONS)
        ]
        for t in threads:
            t.start()
        late: list[float] = []
        t0 = time.perf_counter()
        rid = 0
        try:
            for refresh, offset in enumerate(schedule):
                due = t0 + offset
                now = time.perf_counter()
                if now < due:
                    time.sleep(due - now)
                late.append((time.perf_counter() - due) * 1000.0)
                for p in self.panels:
                    rid += 1
                    work.put(
                        {
                            "rid": f"panel-{rid}",
                            "refresh": refresh,
                            "kind": p.kind,
                            "statement": p.statement,
                            "due": due,
                        }
                    )
        finally:
            for _ in threads:
                work.put(None)
            deadline = time.perf_counter() + DRAIN_TIMEOUT_S
            for t in threads:
                t.join(max(0.0, deadline - time.perf_counter()))
        if any(t.is_alive() for t in threads):
            raise RuntimeError("panel queries did not drain")
        return records, late

    # -- the measured window -------------------------------------------------
    def window(self, seconds: float, tracer) -> dict:
        schedule = gen.refresh_schedule(seconds, REFRESH_S)
        restore = self._install_tracing(tracer) if tracer is not None else None
        try:
            t0 = time.perf_counter()
            records, late = self._fire(schedule, tracer)
            t1 = max(r["done"] for r in records)
        finally:
            if restore is not None:
                restore()
        self.check(records)
        return {
            "records": records,
            "late_ms": late,
            "latency_ms": [(r["done"] - r["due"]) * 1000.0 for r in records],
            "ops_per_s": len(records) / (t1 - t0),
            "attempted": len(records),
            "failed": sum(1 for r in records if not r["ok"]),
        }

    def extra_end_to_end(self, res) -> dict:
        by_refresh: dict[int, list] = {}
        for r in res["records"]:
            by_refresh.setdefault(r["refresh"], []).append(r)
        refresh_ms = [
            (max(r["done"] for r in rs) - rs[0]["due"]) * 1000.0
            for rs in by_refresh.values()
        ]
        lat = res["latency_ms"]
        out = {
            "panel_p50_s": (stats.median(lat) / 1000.0, "s"),
            "refresh_p50_s": (stats.median(refresh_ms) / 1000.0, "s"),
            "generator_late_p50_ms": (stats.median(res["late_ms"]), "ms"),
            "generator_late_max_ms": (max(res["late_ms"]), "ms"),
        }
        p = stats.tail_percentile(len(lat))
        if p is not None and p > 50:
            out[f"panel_p{p:g}_s"] = (stats.nearest_rank(lat, p) / 1000.0, "s")
        return out

    # -- tracing -------------------------------------------------------------
    def _install_tracing(self, tracer):
        """Rebind the functions the gateway resolves by module attribute,
        and wrap this gateway's query entry and table callback. Returns
        the function that undoes it."""
        from iot_system_plc_data_to_influxdb_spark.functions import influxql
        from iot_system_plc_data_to_influxdb_spark.streaming import http_api

        saved = [
            (influxql, "compile_statement", "functions.influxql.compile"),
            (influxql, "compile_show", "functions.influxql.compile"),
            (http_api, "df_to_series_list", "streaming.http_api.execute"),
        ]
        originals = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in saved]
        for (mod, attr, span), (_m, _a, fn) in zip(saved, originals):
            setattr(mod, attr, tracer.wrap(span, fn))
        plain_get_table = self.get_table
        self.get_table = tracer.wrap("dashboard.table", plain_get_table)
        plain_query = self.api.query
        sc = self.spark.sparkContext

        def query(q, epoch):
            with self.pending_lock:
                waiting = self.pending.get(q) or ["unmatched"]
                rid = waiting.pop(0)
            sc.setJobGroup(rid, "perfbench dashboard panel")
            sp = tracer.begin("streaming.http_api.query", rid)
            try:
                return plain_query(q, epoch)
            finally:
                tracer.end(sp)

        self.api.query = query

        def restore():
            for mod, attr, fn in originals:
                setattr(mod, attr, fn)
            self.get_table = plain_get_table
            del self.api.query

        return restore

    def layers(self, res, tracer, event_log: str) -> dict:
        from .trace import executor_per_op, reduce_event_log

        med = stats.median
        recs = res["records"]
        q_spans = {s.rid: s for s in tracer.by_name("streaming.http_api.query")}
        transport = [
            (r["done"] - r["sent"]) * 1000.0 - q_spans[r["rid"]].ms
            for r in recs
            if r["rid"] in q_spans
        ]
        wait_for_listeners(self.spark)
        groups = reduce_event_log(
            event_log, lambda p: _panel_group(p.get("spark.jobGroup.id"))
        )
        per = [groups.get(r["rid"]) for r in recs]
        n = len(recs)
        self_ms = tracer.self_ms()
        out = {
            "dashboard.table_ms": (med([s.ms for s in tracer.by_name("dashboard.table")]), "ms"),
            "functions.influxql.compile_ms": (
                med([s.ms for s in tracer.by_name("functions.influxql.compile")]),
                "ms",
            ),
            "streaming.http_api.execute_ms": (
                med([s.ms for s in tracer.by_name("streaming.http_api.execute")]),
                "ms",
            ),
            "streaming.http_api.query_self_ms": (
                self_ms.get("streaming.http_api.query", 0.0) / n,
                "ms",
            ),
            "streaming.http_api.transport_ms": (med(transport) if transport else 0.0, "ms"),
            "streaming.http_api.response_bytes": (med([len(r["body"]) for r in recs]), "bytes"),
            "points.files": (_count_files(self.table), "count"),
            "dashboard.generator_late_ms": (med(res["late_ms"]), "ms"),
            "dashboard.refresh_p50_s": (self.extra_end_to_end(res)["refresh_p50_s"][0], "s"),
        }
        out.update(executor_per_op(per))
        for kind in gen.PANEL_KINDS:
            lat = [(r["done"] - r["due"]) for r in recs if r["kind"] == kind]
            out[f"panel.{kind}_p50_s"] = (med(lat), "s")
        return out

    # -- correctness -------------------------------------------------------
    def check(self, records: list[dict]) -> None:
        """Mark each record ``ok``: status 200, no statement error, and
        equal to the reference response of its panel kind. The first
        response of each kind is the reference, and it must equal
        DuckDB run over the same parquet files (checked here, after the
        window); when it does not, every response of that kind fails."""
        from . import duck

        ref: dict = {}
        for p in self.panels:
            first = next((r for r in records if r["kind"] == p.kind), None)
            got = _parse(first["body"]) if first and first["status"] == 200 else None
            want = duck.expected(p.kind, self.table, dict(p.params))
            if got is not None and _same(got, want):
                ref[p.kind] = got
            else:
                print(
                    f"dashboard: {p.kind} differs from DuckDB:\n"
                    f"  gateway {got}\n  duckdb  {want}",
                    flush=True,
                )
        for r in records:
            r["ok"] = (
                r["status"] == 200
                and r["kind"] in ref
                and _same(_parse(r["body"]), ref[r["kind"]])
            )


def _panel_group(job_group):
    return job_group if job_group and job_group.startswith("panel-") else None


def _count_files(table: str) -> int:
    return sum(
        1 for _d, _s, fs in os.walk(table) for f in fs if f.endswith(".parquet")
    )


def _parse(body: bytes):
    """A /query response → comparable form: per statement, the list of
    (tags, columns, values) series; None when a statement errored.
    Series names are not compared: the gateway names SHOW results after
    the statement kind, not the measurement."""
    try:
        doc = json.loads(body)
    except ValueError:
        return None
    out = []
    for res in doc.get("results", []):
        if "error" in res:
            return None
        out.append(
            [
                (
                    tuple(sorted((s.get("tags") or {}).items())),
                    tuple(s["columns"]),
                    [list(v) for v in s["values"]],
                )
                for s in res.get("series", [])
            ]
        )
    return out


def _same(a, b, rel: float = 1e-9) -> bool:
    """Structural equality with a relative tolerance on floats (sums
    accumulate in another order on each engine)."""
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(a - b) <= rel * max(1.0, abs(a), abs(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y, rel) for x, y in zip(a, b))
    return a == b
