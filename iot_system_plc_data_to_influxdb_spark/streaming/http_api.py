"""InfluxDB 1.x-compatible HTTP API over the engine (stdlib only).

The reference's consumers speak InfluxDB's wire protocol: Grafana
issues ``GET /query?q=<InfluxQL>&db=...`` and expects
``{"results": [{"series": [{name, columns, values}]}]}``; writers
``POST /write`` line protocol. This module serves BOTH from the
engine, so a user points their existing datasource/clients at it and
switches storage engines without touching a dashboard or a writer:

- ``/query``: each statement runs through ``InfluxAPI.execute``, the
  one InfluxQL statement dispatcher — ``IoTEngine.influxql`` calls the
  same method and shares the same continuous-query registry.
  ``epoch=ms|s|u|ns`` is honored; default timestamps are RFC3339,
  like InfluxDB.
- ``/write``: line protocol → parse_line_protocol (the native-
  expression parser) → appended to the points directory in the
  engine's long/narrow layout.
- ``/ping``: 204, X-Influxdb-Version — the datasource health check.

Scope: a dashboard/ingest GATEWAY. Results collect on the gateway
(capped at ``max_rows``) because a Grafana panel is KB-sized by
contract; bulk exports go through Spark writers, not this door. The
stdlib ThreadingHTTPServer is the transport — no web framework in the
container, and none needed for the protocol.
"""

from __future__ import annotations

import json
import threading
import urllib.parse
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

# Used as ``influxql.compile_statement`` etc., never imported by name:
# the attribute is then looked up at call time, so a caller that
# rebinds a compiler entry point on the module (to wrap each compile)
# reaches every statement this gateway runs.
from ..functions import influxql


def _json_cell(v, epoch: str | None):
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if epoch:
            # exact integer epoch — timestamp()*1e6 is a float64
            # multiply that can be off by 1µs at µs precision
            us = (
                v.replace(tzinfo=None) - _dt.datetime(1970, 1, 1)
            ) // _dt.timedelta(microseconds=1)
            return {
                "ns": us * 1000, "u": us, "ms": us // 1000, "s": us // 1_000_000
            }[epoch]
        return v.isoformat() + "Z"
    if isinstance(v, _dt.date):
        return str(v)
    return v


def df_to_series_list(
    df: DataFrame,
    name: str,
    epoch: str | None = None,
    tags: list | None = None,
    max_rows: int = 10000,
) -> list:
    """DataFrame → InfluxDB 'series' LIST; the first timestamp column is
    surfaced as 'time' (InfluxDB's column order). With ``tags`` (the
    GROUP BY tag columns), rows split into one series object per tag
    combination, tag values in a 'tags' map and the tag columns removed
    from 'columns' — the response shape Grafana's InfluxDB datasource
    requires to label GROUP BY tag panels (one legend entry per
    series). Without tags, one series."""
    tags = [t for t in (tags or []) if t in df.columns]
    cols = list(df.columns)
    for tc in ("time", "ts"):
        if tc in cols:
            cols.remove(tc)
            cols.insert(0, tc)
            break
    val_cols = [c for c in cols if c not in tags]
    rows = df.select(*cols).limit(max_rows).collect()
    out_cols = ["time" if c == "ts" else c for c in val_cols]
    if not tags:
        return [
            {
                "name": name,
                "columns": out_cols,
                "values": [[_json_cell(v, epoch) for v in row] for row in rows],
            }
        ]
    groups: dict = {}
    for row in rows:
        key = tuple(row[t] for t in tags)
        groups.setdefault(key, []).append(
            [_json_cell(row[c], epoch) for c in val_cols]
        )
    return [
        {
            "name": name,
            "tags": {t: ("" if v is None else str(v)) for t, v in zip(tags, key)},
            "columns": out_cols,
            "values": vals,
        }
        for key, vals in sorted(
            groups.items(), key=lambda kv: tuple(str(k) for k in kv[0])
        )
    ]


@dataclass
class StatementResult:
    """What one InfluxQL statement produced. ``df`` is the answer the
    DataFrame door returns; on the wire it renders as series named
    ``name``, split by the GROUP BY ``tags`` — unless ``ack`` (the wire
    answers with the bare statement id) or ``series`` is already built
    on the driver."""

    df: DataFrame
    name: str = "results"
    tags: list = field(default_factory=list)
    ack: bool = False
    series: list | None = None


class InfluxAPI:
    """The engine behind the handler — resolves measurements and owns
    the write path."""

    def __init__(
        self,
        spark,
        get_table,
        write_dir: str | None = None,
        qsketch_tables: dict | None = None,
    ):
        self.spark = spark
        self._get_table_raw = get_table  # (measurement_name) -> DataFrame
        self.write_dir = write_dir
        # name → CQSpec, registered via CREATE CONTINUOUS QUERY on the
        # wire; the engine executes specs with streaming/rollup.py
        self.continuous_queries: dict = {}
        # measurement → (sketch_df_getter, window_every_s): quantile-
        # sketch CQ materializations (streaming/rollup.
        # quantile_sketch_stream output). A percentile(value, N) read
        # whose shape and bounds the sketch can serve is answered by
        # MERGING materialized windows instead of scanning raw points
        # — the B5×B26 read path (see _route_sketch_percentile).
        self.qsketch_tables = qsketch_tables or {}

    def get_table(self, measurement):
        """Resolve a measurement, normalizing the time column: CQ / INTO
        targets materialize with a ``time`` column (the compiler's
        output name) while the compiler's input contract is ``ts`` —
        a rollup measurement must be queryable like any other."""
        df = self._get_table_raw(measurement)
        if "ts" not in df.columns and "time" in df.columns:
            df = df.withColumnRenamed("time", "ts")
        return df

    #: admin statements InfluxDB clients issue that map to engine
    #: no-ops (the points directory IS the database; retention is the
    #: caller-driven operators/retention.py) — acknowledged so existing
    #: client bootstrap code (e.g. create_database on connect, exactly
    #: what the reference connector does) works unchanged.
    _ACK_PREFIXES = (
        "CREATE DATABASE",
        "DROP DATABASE",
        "CREATE RETENTION POLICY",
        "ALTER RETENTION POLICY",
        "DROP RETENTION POLICY",
        # statements are executed synchronously — by the time a KILL
        # arrives its target has already returned, so the kill is a
        # well-formed no-op (same contract InfluxDB has for a qid that
        # just finished)
        "KILL QUERY",
    )

    def query(self, q: str, epoch: str | None) -> dict:
        """The /query wire door: ``;``-separated statements, each run by
        ``execute`` and rendered as one InfluxDB result object."""
        statements = [s.strip() for s in q.split(";") if s.strip()]
        results = []
        for i, stmt in enumerate(statements):
            out: dict = {"statement_id": i}
            try:
                res = self.execute(stmt)
                if not res.ack:
                    # looked up as a module global on every call, never
                    # bound earlier: callers may rebind
                    # ``http_api.df_to_series_list`` to wrap rendering
                    out["series"] = (
                        res.series
                        if res.series is not None
                        else df_to_series_list(
                            res.df, res.name, epoch, tags=res.tags
                        )
                    )
            except influxql.InfluxQLError as e:
                out["error"] = str(e)
            results.append(out)
        return {"results": results}

    def execute(
        self,
        stmt: str,
        table: DataFrame | None = None,
        rollup: DataFrame | None = None,
        rollup_every_s: int | None = None,
    ) -> StatementResult:
        """Run ONE InfluxQL statement: the only place that decides what
        a statement verb does, shared by ``query`` (the wire) and
        ``IoTEngine.influxql`` (the DataFrame door).

        ``table`` is the caller's measurement DataFrame. Without it,
        measurements resolve through ``get_table`` and the statements
        that write (DELETE / DROP, SELECT ... INTO) apply to
        ``write_dir``; with it, they only return their DataFrame.
        ``rollup`` / ``rollup_every_s`` route GROUP BY time() reads to a
        CQ rollup (compile_influxql's router)."""
        up = " ".join(stmt.split()).upper()
        write_dir = self.write_dir if table is None else None

        def resolve(m):
            return table if table is not None else self.get_table(m)

        if up.startswith(self._ACK_PREFIXES):
            return StatementResult(
                self.spark.createDataFrame([], StructType()), ack=True
            )
        if up.startswith("CREATE CONTINUOUS QUERY"):
            spec = influxql.compile_create_cq(stmt)
            self.continuous_queries[spec.name] = spec
            return StatementResult(
                self.spark.createDataFrame(
                    [(spec.name, spec.db, spec.target)],
                    "name string, db string, target string",
                ),
                ack=True,
            )
        if up.startswith("DROP CONTINUOUS QUERY"):
            name, db = influxql.parse_drop_cq(stmt)
            dropped = self.continuous_queries.pop(name, None) is not None
            return StatementResult(
                self.spark.createDataFrame(
                    [(name, db, dropped)],
                    "name string, db string, dropped boolean",
                ),
                ack=True,
            )
        if up.startswith("SHOW CONTINUOUS QUERIES"):
            specs = list(self.continuous_queries.values())
            return StatementResult(
                self.spark.createDataFrame(
                    [(s.name, s.db, s.select, s.target) for s in specs],
                    "name string, db string, query string, target string",
                ),
                series=[
                    {
                        "name": s.db,
                        "columns": ["name", "query"],
                        "values": [[s.name, s.select]],
                    }
                    for s in specs
                ],
            )
        if up.startswith("EXPLAIN"):
            # InfluxDB 1.7+ EXPLAIN [ANALYZE] <select>: one QUERY PLAN row
            # per plan line — here the compiled Spark plan, the honest
            # answer for this engine. ANALYZE first runs the statement's
            # own plan to completion, counting and dropping its rows, and
            # shows the formatted plan, which then is AQE's final shape.
            analyze = up.startswith("EXPLAIN ANALYZE")
            inner = stmt.split(None, 2 if analyze else 1)[-1]
            df = self._select(inner, resolve, rollup, rollup_every_s)[1].df
            qe = df._jdf.queryExecution()
            if analyze:
                qe.toRdd().count()
            plan = qe.explainString(
                df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted" if analyze else "simple"
                )
            )
            lines = [(ln,) for ln in plan.splitlines() if ln.strip()]
            return StatementResult(
                self.spark.createDataFrame(lines, "`QUERY PLAN` string"),
                "query_plan",
            )
        if up.startswith("SHOW"):
            return StatementResult(
                influxql.compile_show(stmt, resolve(None)),
                "measurements" if "MEASUREMENTS" in up else "results",
            )
        if up.startswith(("DELETE", "DROP")):
            kept = influxql.compile_delete(stmt, resolve(None))
            if write_dir:
                self._rewrite_points(kept)
            return StatementResult(kept, ack=True)
        target, res = self._select(stmt, resolve, rollup, rollup_every_s)
        if target is not None and write_dir:
            res.df.write.mode("append").parquet(f"{write_dir}__{target}")
            return StatementResult(res.df, ack=True)
        return res

    def _select(self, stmt, resolve, rollup, rollup_every_s):
        """SELECT [INTO] → (INTO target or None, the SELECT's result).
        A percentile read a quantile-sketch table can serve is answered
        from it; GROUP BY tags split the wire result into one series per
        tag combination (Grafana labels legends from the tags map)."""
        target, select = influxql.split_into(stmt)
        m = _from_measurement(select)
        if target is None and m in self.qsketch_tables:
            routed = self._route_sketch_percentile(select, m)
            if routed is not None:
                return None, StatementResult(routed[0], m, routed[1])
        df = influxql.compile_statement(
            select, resolve(m), rollup=rollup, rollup_every_s=rollup_every_s
        )
        sub = influxql._split_subquery(select)
        tags = influxql.parse(sub[0] if sub else select).group_tags
        return target, StatementResult(df, m or "results", tags)

    def _route_sketch_percentile(self, stmt: str, m: str):
        """Serve ``SELECT percentile(value, N) FROM m [WHERE time...]
        [GROUP BY event_type]`` from the measurement's MATERIALIZED
        quantile-sketch windows (round-8 verdict #8: the Grafana-style
        consumer of the B5 sketch's B26 CQ leg).

        Servable shape, mirroring the rollup router's contract
        (_rollup_servable): a single integer-argument percentile on
        ``value``, no GROUP BY time / tz / per-point predicates, and
        time bounds window-ALIGNED with ops (>=, <) so window-start
        filtering is exact. Anything else returns None and takes the
        raw-points path. The answer is the sketch bucket's lower bound
        — within the documented 25% relative bound of the exact
        percentile — computed by merging windows with bucket-count SUM
        and one rank extraction over ≤~60 buckets/series: O(windows ×
        buckets), the raw points are never scanned."""
        from .rollup import percentile_from_sketch

        get_sketch, every_s = self.qsketch_tables[m]
        try:
            q = influxql.parse(stmt)
        except influxql.InfluxQLError:
            return None
        if not (
            len(q.select) == 1
            and q.select[0][0] == "percentile"
            and q.select[0][1] == "value"
            and q.select[0][3] is not None
            and float(q.select[0][3]) == int(q.select[0][3])
            and 1 <= int(q.select[0][3]) <= 99
            and q.group_time_s is None
            and q.tz is None
            and not q.tag_eq and not q.tag_neq and not q.tag_regex
            and not q.field_cond and not q.or_groups and not q.binops
            and not q.transforms and not q.scalar_math and not q.math_fns
            and not q.group_star
            and q.group_tags in ([], ["event_type"])
            and influxql._aligned(q.time_lo, every_s, (">=",))
            and influxql._aligned(q.time_hi, every_s, ("<",))
        ):
            return None
        pct = int(q.select[0][3])
        alias = q.select[0][2] or "percentile"
        lo = q.time_lo[1] if q.time_lo else None
        hi = q.time_hi[1] if q.time_hi else None
        by_series = q.group_tags == ["event_type"]
        out = percentile_from_sketch(
            get_sketch(), pct, time_lo=lo, time_hi=hi, by_series=by_series
        )
        keys = ["event_type"] if by_series else []
        out = out.select(
            # InfluxDB stamps whole-range aggregates with the range's
            # lower bound (epoch 0 when unbounded)
            F.lit(lo or "1970-01-01 00:00:00").cast("timestamp")
            .alias("time"),
            *keys,
            F.col("percentile").alias(alias),
        )
        return out, keys

    def run_continuous_queries(self, now=None) -> dict:
        """One CQ-service tick: execute every registered CQ and append
        its rollup INTO the target measurement, idempotently.

        InfluxDB's CQ service runs each CQ on a timer over the
        just-closed bucket(s); here the tick is explicit (callers — a
        scheduler thread via ``start_cq_service`` or a test — decide
        cadence). Semantics per tick:

        - the CQ body compiles through the SAME InfluxQL compiler as
          ``/query`` (a spec that registered is guaranteed runnable);
        - with ``now`` given, only buckets in ``[now - resample_for,
          now)`` (default lookback: one GROUP BY time bucket) are
          recomputed, both bounds floored to bucket edges — the
          post-aggregation time filter on the bucket-start column is
          exactly InfluxDB's resample window because buckets are
          epoch-aligned;
        - rows whose (time, group tags) key already exists in the
          target are anti-joined away, so re-running a tick (or
          overlapping windows across ticks) never duplicates buckets.

        Returns {cq_name: rows_appended}.
        """
        import datetime as _dt
        import os

        if not self.write_dir:
            # the target path is derived from write_dir — without one
            # the rollup would materialize into a literal
            # "None__<target>" directory in the CWD
            raise ValueError(
                "run_continuous_queries requires the gateway to be "
                "constructed with a write_dir (CQ rollups materialize "
                "to <write_dir>__<target>)"
            )
        appended: dict = {}
        for spec in list(self.continuous_queries.values()):
            q = influxql.parse(spec.select)
            df = influxql.compile_statement(
                spec.select, self.get_table(q.measurement)
            )
            if now is not None:
                bucket = spec.group_time_s
                lookback = spec.resample_for_s or bucket
                now_s = int(
                    (
                        now.replace(tzinfo=None) - _dt.datetime(1970, 1, 1)
                    ).total_seconds()
                )
                hi = now_s // bucket * bucket
                lo = (now_s - lookback) // bucket * bucket
                df = df.filter(
                    (F.col("time") >= F.from_unixtime(F.lit(lo)).cast("timestamp"))
                    & (F.col("time") < F.from_unixtime(F.lit(hi)).cast("timestamp"))
                )
            target_path = f"{self.write_dir}__{spec.target}"
            keys = ["time"] + [
                tag for tag in q.group_tags if tag in df.columns
            ]
            if os.path.isdir(target_path) and any(
                not e.startswith(("_", ".")) for e in os.listdir(target_path)
            ):
                existing = self.spark.read.parquet(target_path).select(*keys)
                df = df.join(existing, keys, "left_anti")
            df = df.cache()
            n = df.count()
            if n:
                df.write.mode("append").parquet(target_path)
            df.unpersist()
            appended[spec.name] = n
        return appended

    def _rewrite_points(self, kept: DataFrame) -> None:
        """Materialize the post-DELETE survivors to a staging dir and
        atomically rename-swap into place.

        mode('overwrite') straight onto ``write_dir`` would delete the
        source files while ``kept`` is still lazily reading them — the
        job dies with FILE_NOT_EXIST and the points directory is gone.
        Same swap sequence as retention.compact_partition: write
        ``.delete_tmp`` → rename live → tmp-to-live → drop old.
        """
        import os
        import shutil

        staging = self.write_dir + ".delete_tmp"
        kept.write.mode("overwrite").parquet(staging)
        old = self.write_dir + ".delete_old"
        os.rename(self.write_dir, old)
        os.rename(staging, self.write_dir)
        shutil.rmtree(old)

    def write(self, body: str, precision: str = "ns") -> int:
        from .influx import parse_line_protocol

        lines = self.spark.createDataFrame(
            [(ln,) for ln in body.splitlines() if ln.strip()], "line string"
        )
        pts = (
            parse_line_protocol(lines, precision=precision)
            .filter(F.col("measurement").isNotNull())
            .select(
                F.col("ts"),
                F.col("measurement").alias("plc_ip"),
                F.col("field").alias("alias"),
                F.col("value"),
            )
        )
        n = pts.count()
        if self.write_dir:
            pts.write.mode("append").parquet(self.write_dir)
        return n


def chunk_response(resp: dict, chunk_size: int) -> list[dict]:
    """Split a /query response into InfluxDB's chunked form: one
    response document per ≤chunk_size rows of each series, every
    non-final chunk of a statement flagged ``"partial": true`` (both
    at the series and statement level, as InfluxDB 1.x does). The
    wire format is these documents newline-delimited."""
    docs: list[dict] = []
    for res in resp["results"]:
        series = res.get("series")
        if not series:
            docs.append({"results": [res]})
            continue
        chunks: list[dict] = []
        for s in series:
            vals = s["values"]
            pieces = [
                vals[o : o + chunk_size]
                for o in range(0, max(len(vals), 1), chunk_size)
            ]
            for j, piece in enumerate(pieces):
                chunk = {k: v for k, v in s.items() if k != "values"}
                chunk["values"] = piece
                if j < len(pieces) - 1:
                    chunk["partial"] = True
                chunks.append(chunk)
        for j, chunk in enumerate(chunks):
            stmt_res: dict = {
                "statement_id": res["statement_id"],
                "series": [chunk],
            }
            if j < len(chunks) - 1:
                stmt_res["partial"] = True
            docs.append({"results": [stmt_res]})
    return docs


def to_csv(resp: dict) -> str:
    """InfluxDB 1.x CSV rendering (``Accept: application/csv``):
    header ``name,tags,time,<cols>``, one line per value row."""
    import csv
    import io

    buf = io.StringIO()
    w = csv.writer(buf)
    for res in resp["results"]:
        for s in res.get("series", []):
            cols = s["columns"]
            w.writerow(["name", "tags"] + cols)
            for row in s["values"]:
                w.writerow([s["name"], ""] + list(row))
    return buf.getvalue()


def _from_measurement(stmt: str):
    import re

    m = re.search(
        r'\bFROM\s+("[^"]+"|[\w.]+)', stmt, flags=re.IGNORECASE
    )
    if not m:
        return None
    name = m.group(1).strip('"')
    return name.split(".")[-1]  # db.rp.name → name


def serve(api: InfluxAPI, port: int = 0):
    """Start the gateway on ``port`` (0 = ephemeral). Returns
    (server, thread, bound_port); ``server.shutdown()`` stops it."""

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _respond(self, code: int, payload: bytes = b"", ctype="application/json"):
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("X-Influxdb-Version", "1.8-compat-spark")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def _serve_query(self, qs):
            q = (qs.get("q") or [""])[0]
            epoch = (qs.get("epoch") or [None])[0]
            chunked = (qs.get("chunked") or [""])[0] == "true"
            chunk_size = int((qs.get("chunk_size") or ["10000"])[0])
            try:
                resp = api.query(q, epoch)
                if "csv" in (self.headers.get("Accept") or ""):
                    return self._respond(
                        200, to_csv(resp).encode(), ctype="application/csv"
                    )
                if chunked:
                    body = "\n".join(
                        json.dumps(d) for d in chunk_response(resp, chunk_size)
                    ).encode()
                else:
                    body = json.dumps(resp).encode()
                return self._respond(200, body)
            except Exception as e:  # noqa: BLE001 — wire errors as JSON
                return self._respond(
                    400, json.dumps({"error": str(e)}).encode()
                )

        def do_GET(self):
            parsed = urllib.parse.urlparse(self.path)
            if parsed.path == "/ping":
                return self._respond(204)
            if parsed.path == "/query":
                return self._serve_query(urllib.parse.parse_qs(parsed.query))
            return self._respond(404, b'{"error": "not found"}')

        def do_POST(self):
            parsed = urllib.parse.urlparse(self.path)
            length = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(length).decode()
            if parsed.path == "/query":
                # Grafana's InfluxDB datasource POSTs queries by
                # default — same error envelope as the GET path
                return self._serve_query(
                    urllib.parse.parse_qs(parsed.query or body)
                )
            if parsed.path == "/write":
                qs = urllib.parse.parse_qs(parsed.query)
                precision = (qs.get("precision") or ["ns"])[0]
                try:
                    api.write(body, precision=precision)
                    return self._respond(204)
                except Exception as e:  # noqa: BLE001
                    return self._respond(
                        400, json.dumps({"error": str(e)}).encode()
                    )
            return self._respond(404, b'{"error": "not found"}')

    server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread, server.server_address[1]


def start_cq_service(api: InfluxAPI, interval_s: float, on_tick=None):
    """The CQ scheduler: a daemon thread firing
    ``api.run_continuous_queries()`` every ``interval_s`` seconds —
    InfluxDB's continuous-query service loop. Returns a stop() callable.
    ``on_tick(result_dict)`` is invoked after each tick (tests hook it
    to observe ticks deterministically)."""
    stop_event = threading.Event()

    def loop():
        while not stop_event.wait(interval_s):
            try:
                result = api.run_continuous_queries()
            except Exception:  # noqa: BLE001 — a bad CQ must not kill the loop
                result = None
            if on_tick is not None:
                on_tick(result)

    t = threading.Thread(target=loop, daemon=True)
    t.start()

    def stop():
        stop_event.set()
        t.join(timeout=30)

    return stop
