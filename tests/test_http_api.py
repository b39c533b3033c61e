"""InfluxDB-wire-protocol gateway: Grafana-shaped /query JSON, /write
line-protocol ingest, /ping health check — over real HTTP."""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import functions as F

from iot_system_plc_data_to_influxdb_spark.streaming.http_api import (
    InfluxAPI,
    serve,
)


@pytest.fixture(scope="module")
def gateway(spark, tmp_path_factory):
    write_dir = str(tmp_path_factory.mktemp("api") / "points")
    pts = spark.createDataFrame(
        [
            (f"2024-01-01T{h:02d}:00:00", "plc1", "temp", float(h))
            for h in range(24)
        ],
        "ts_s string, plc_ip string, alias string, value double",
    ).select(
        F.col("ts_s").cast("timestamp").alias("ts"), "plc_ip", "alias", "value"
    )
    pts.write.mode("overwrite").parquet(write_dir)

    def get_table(_measurement):
        return spark.read.parquet(write_dir)

    api = InfluxAPI(spark, get_table, write_dir=write_dir)
    server, thread, port = serve(api, port=0)
    yield f"http://127.0.0.1:{port}", write_dir
    server.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return r.status, r.read()


def test_ping(gateway):
    base, _ = gateway
    status, _body = _get(f"{base}/ping")
    assert status == 204


def test_query_grafana_shape(gateway):
    base, _ = gateway
    q = urllib.parse.quote(
        "SELECT mean(value) FROM points WHERE time >= '2024-01-01' "
        "GROUP BY time(6h)"
    )
    status, body = _get(f"{base}/query?db=iot&q={q}")
    assert status == 200
    out = json.loads(body)
    series = out["results"][0]["series"][0]
    assert series["name"] == "points"
    assert series["columns"][0] == "time"
    assert len(series["values"]) == 4
    # RFC3339 timestamps by default
    assert series["values"][0][0].endswith("Z")
    means = [v[1] for v in series["values"]]
    assert means == [2.5, 8.5, 14.5, 20.5]


def test_query_epoch_ms(gateway):
    base, _ = gateway
    q = urllib.parse.quote(
        "SELECT max(value) FROM points GROUP BY time(12h)"
    )
    status, body = _get(f"{base}/query?epoch=ms&q={q}")
    vals = json.loads(body)["results"][0]["series"][0]["values"]
    assert isinstance(vals[0][0], int)  # epoch millis, not RFC3339
    assert vals[0][0] % 1000 == 0 and vals[0][0] > 1_700_000_000_000


def test_query_error_is_typed_json(gateway):
    base, _ = gateway
    q = urllib.parse.quote("SELECT bogus(")
    status, body = _get(f"{base}/query?q={q}")
    assert status == 200  # InfluxDB returns per-statement errors in-band
    out = json.loads(body)
    assert "error" in out["results"][0]


def test_write_then_query_roundtrip(gateway, spark):
    base, write_dir = gateway
    lines = "\n".join(
        f"plc9 rpm={100 + i} 17040672{i:02d}000000000" for i in range(5)
    )
    req = urllib.request.Request(
        f"{base}/write?db=iot", data=lines.encode(), method="POST"
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.status == 204
    q = urllib.parse.quote(
        "SELECT count(value) FROM points WHERE \"plc_ip\" = 'plc9'"
    )
    _status, body = _get(f"{base}/query?q={q}")
    vals = json.loads(body)["results"][0]["series"][0]["values"]
    # a global aggregate has no time column — the row is just [count]
    assert vals == [[5]]


def test_multi_statement_error_isolation(gateway):
    """InfluxDB accepts q=stmt1;stmt2 (dashboards batch their panel
    queries) and returns one result object per statement; a malformed
    statement yields an in-band per-statement error, not a request
    failure."""
    base, _ = gateway
    q = urllib.parse.quote(
        "SELECT count(value) FROM points WHERE \"plc_ip\" = 'plc1';"
        "SELECT bogus("
    )
    status, body = _get(f"{base}/query?q={q}")
    assert status == 200
    out = json.loads(body)["results"]
    assert len(out) == 2
    assert "series" in out[0] and "error" not in out[0]
    assert "error" in out[1] and "series" not in out[1]


def test_bad_time_literal_is_inband_error(gateway):
    """Parser totality: garbage time literal in time-arithmetic must
    surface as InfluxQLError (in-band), never a bare ValueError that
    400s the whole multi-statement request."""
    base, _ = gateway
    q = urllib.parse.quote(
        "SELECT count(value) FROM points;"
        "SELECT mean(value) FROM points WHERE time >= 'garbage' + 1h"
    )
    status, body = _get(f"{base}/query?q={q}")
    assert status == 200
    out = json.loads(body)["results"]
    assert "series" in out[0]
    assert "error" in out[1]


def test_post_query_grafana_default(gateway):
    """Grafana's InfluxDB datasource POSTs by default; errors must come
    back as JSON over HTTP, not a dropped connection."""
    base, _ = gateway
    q = urllib.parse.urlencode(
        {"q": "SELECT mean(value) FROM points GROUP BY time(12h)"}
    )
    req = urllib.request.Request(
        f"{base}/query", data=q.encode(), method="POST"
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.status == 200
        out = json.loads(r.read())
    assert len(out["results"][0]["series"][0]["values"]) == 2


def test_delete_roundtrip(spark, tmp_path):
    """DELETE through the gateway must remove the matched rows and leave
    the points directory fully readable (staged atomic swap — a naive
    overwrite-in-place deletes source files mid-read and destroys the
    table)."""
    write_dir = str(tmp_path / "points")
    pts = spark.createDataFrame(
        [
            (f"2024-01-01T{h:02d}:00:00", plc, "temp", float(h))
            for h in range(10)
            for plc in ("plcA", "plcB")
        ],
        "ts_s string, plc_ip string, alias string, value double",
    ).select(
        F.col("ts_s").cast("timestamp").alias("ts"), "plc_ip", "alias", "value"
    )
    pts.write.mode("overwrite").parquet(write_dir)
    api = InfluxAPI(
        spark, lambda _m: spark.read.parquet(write_dir), write_dir=write_dir
    )
    server, _thread, port = serve(api, port=0)
    try:
        base = f"http://127.0.0.1:{port}"
        q = urllib.parse.quote(
            "DELETE FROM plcA WHERE time < '2024-01-01T05:00:00'"
        )
        status, body = _get(f"{base}/query?q={q}")
        assert status == 200
        assert "error" not in json.loads(body)["results"][0]
        # survivors: plcA keeps 5 of 10, plcB untouched
        after = spark.read.parquet(write_dir)
        assert after.count() == 15
        assert after.filter(F.col("plc_ip") == "plcA").count() == 5
        # directory is clean — no staging/old residue
        import os

        assert not os.path.exists(write_dir + ".delete_tmp")
        assert not os.path.exists(write_dir + ".delete_old")
        # DROP MEASUREMENT goes through the same safe path
        q2 = urllib.parse.quote("DROP MEASUREMENT plcB")
        status2, _b = _get(f"{base}/query?q={q2}")
        assert status2 == 200
        assert spark.read.parquet(write_dir).count() == 5
    finally:
        server.shutdown()


def test_epoch_us_exact(gateway):
    """epoch=u timestamps are exact integer microseconds (float64
    epoch arithmetic can be off by 1µs)."""
    base, _ = gateway
    q = urllib.parse.quote(
        "SELECT value FROM points WHERE \"plc_ip\" = 'plc1' "
        "AND time >= '2024-01-01T03:00:00' AND time < '2024-01-01T04:00:00'"
    )
    _status, body = _get(f"{base}/query?epoch=u&q={q}")
    vals = json.loads(body)["results"][0]["series"][0]["values"]
    import datetime as dt

    want = (
        dt.datetime(2024, 1, 1, 3) - dt.datetime(1970, 1, 1)
    ) // dt.timedelta(microseconds=1)
    assert vals[0][0] == want


def test_write_precision_param(gateway, spark):
    """/write honors InfluxDB's precision=s|ms|u|ns query parameter
    (clients default to coarser units; timestamps must land exact)."""
    base, write_dir = gateway
    cases = [
        ("s", "1704067200"),
        ("ms", "1704067200123"),
        ("u", "1704067200123456"),
        ("ns", "1704067200123456000"),
    ]
    for i, (prec, ts) in enumerate(cases):
        line = f"plcP v{i}={i} {ts}"
        req = urllib.request.Request(
            f"{base}/write?db=iot&precision={prec}",
            data=line.encode(),
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            assert r.status == 204
    import datetime as dt

    got = {
        r["alias"]: r["ts"]
        for r in spark.read.parquet(write_dir)
        .filter(F.col("plc_ip") == "plcP")
        .collect()
    }
    base_ts = dt.datetime(2024, 1, 1, 0, 0, 0)
    assert got["v0"] == base_ts
    assert got["v1"] == base_ts + dt.timedelta(milliseconds=123)
    assert got["v2"] == base_ts + dt.timedelta(microseconds=123456)
    assert got["v3"] == base_ts + dt.timedelta(microseconds=123456)


def test_admin_statements_acknowledged(gateway):
    """CREATE DATABASE on connect is exactly what the reference
    connector does — it must succeed as a no-op ack, as must the
    retention-policy admin family."""
    base, _ = gateway
    for stmt in (
        "CREATE DATABASE plc9",
        'CREATE RETENTION POLICY "two_w" ON plc9 DURATION 14d REPLICATION 1',
        "DROP DATABASE plc9",
    ):
        status, body = _get(f"{base}/query?q={urllib.parse.quote(stmt)}")
        assert status == 200
        res = json.loads(body)["results"][0]
        assert res == {"statement_id": 0}


def test_continuous_query_lifecycle(gateway):
    base, _ = gateway
    create = (
        'CREATE CONTINUOUS QUERY "cq_1h" ON iot BEGIN '
        "SELECT mean(value) INTO points_1h FROM points "
        "GROUP BY time(1h) END"
    )
    status, body = _get(f"{base}/query?q={urllib.parse.quote(create)}")
    assert status == 200
    assert json.loads(body)["results"][0] == {"statement_id": 0}

    status, body = _get(
        f"{base}/query?q={urllib.parse.quote('SHOW CONTINUOUS QUERIES')}"
    )
    series = json.loads(body)["results"][0]["series"]
    assert ["cq_1h", "SELECT mean(value)  FROM points GROUP BY time(1h)"] in [
        v for s in series for v in s["values"]
    ] or any("cq_1h" in v for s in series for v in s["values"])

    drop = 'DROP CONTINUOUS QUERY "cq_1h" ON iot'
    status, _b = _get(f"{base}/query?q={urllib.parse.quote(drop)}")
    assert status == 200
    status, body = _get(
        f"{base}/query?q={urllib.parse.quote('SHOW CONTINUOUS QUERIES')}"
    )
    assert json.loads(body)["results"][0]["series"] == []


def test_chunked_query_response(gateway):
    """chunked=true&chunk_size=N → newline-delimited response docs,
    every non-final chunk flagged partial (InfluxDB 1.x wire shape)."""
    base, _ = gateway
    # alias filter + ORDER BY keeps the row set and order deterministic
    # regardless of what earlier /write tests appended
    q = urllib.parse.quote(
        "SELECT value FROM points WHERE \"alias\" = 'temp' "
        "ORDER BY time ASC LIMIT 10"
    )
    status, body = _get(
        f"{base}/query?q={q}&chunked=true&chunk_size=4"
    )
    assert status == 200
    docs = [json.loads(ln) for ln in body.decode().splitlines()]
    assert len(docs) == 3  # 4 + 4 + 2 rows
    sizes = [len(d["results"][0]["series"][0]["values"]) for d in docs]
    assert sizes == [4, 4, 2]
    assert all(
        d["results"][0]["series"][0].get("partial") for d in docs[:-1]
    )
    assert "partial" not in docs[-1]["results"][0]["series"][0]
    merged = [
        v
        for d in docs
        for v in d["results"][0]["series"][0]["values"]
    ]
    plain = json.loads(_get(f"{base}/query?q={q}")[1])
    assert merged == plain["results"][0]["series"][0]["values"]


def test_csv_accept_header(gateway):
    base, _ = gateway
    q = urllib.parse.quote("SELECT value FROM points LIMIT 2")
    req = urllib.request.Request(
        f"{base}/query?q={q}", headers={"Accept": "application/csv"}
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.status == 200
        assert r.headers["Content-Type"] == "application/csv"
        lines = r.read().decode().strip().splitlines()
    assert lines[0].startswith("name,tags,time,")
    assert len(lines) == 3  # header + 2 rows
    assert lines[1].startswith("points,")


def test_explain_returns_query_plan(gateway):
    """EXPLAIN <select> (InfluxDB 1.7+) answers with a QUERY PLAN
    series — here the actual Catalyst physical plan."""
    base, _ = gateway
    q = urllib.parse.quote(
        "EXPLAIN SELECT mean(value) FROM points GROUP BY time(1h)"
    )
    status, body = _get(f"{base}/query?q={q}")
    assert status == 200
    series = json.loads(body)["results"][0]["series"][0]
    assert series["name"] == "query_plan"
    assert series["columns"] == ["QUERY PLAN"]
    text = "\n".join(v[0] for v in series["values"])
    assert "Physical Plan" in text or "HashAggregate" in text


def test_cq_execute_end_to_end(spark, tmp_path):
    """The full registered-CQ loop over the wire: CREATE CONTINUOUS
    QUERY via /query, stream points in via /write, run a CQ-service
    tick, observe the rolled-up series through /query — and prove the
    tick is idempotent (a second tick appends nothing) and
    incremental (new writes roll up on the next tick without
    duplicating old buckets)."""
    import os

    write_dir = str(tmp_path / "points")
    # seed one row so the points measurement exists for /query
    spark.createDataFrame(
        [("2024-03-01T00:10:00", "plc1", "temp", 1.0)],
        "ts_s string, plc_ip string, alias string, value double",
    ).select(
        F.col("ts_s").cast("timestamp").alias("ts"), "plc_ip", "alias", "value"
    ).write.mode("overwrite").parquet(write_dir)

    def get_table(m):
        if m and os.path.isdir(f"{write_dir}__{m}"):
            return spark.read.parquet(f"{write_dir}__{m}")
        return spark.read.parquet(write_dir)

    api = InfluxAPI(spark, get_table, write_dir=write_dir)
    server, _thread, port = serve(api, port=0)
    try:
        base = f"http://127.0.0.1:{port}"
        create = (
            'CREATE CONTINUOUS QUERY "cq_1h" ON iot BEGIN '
            "SELECT mean(value) AS mean_value INTO rollup_1h FROM points "
            "GROUP BY time(1h), plc_ip END"
        )
        status, body = _get(f"{base}/query?q={urllib.parse.quote(create)}")
        assert status == 200
        assert json.loads(body)["results"][0] == {"statement_id": 0}

        # stream writes through /write: 4 points across 2 hour-buckets
        # (epoch seconds for 2024-03-01T01:00:00Z = 1709254800)
        t0 = 1_709_254_800
        lines = "\n".join(
            f"plc1 value={v} {(t0 + i * 1800) * 10**9}"
            for i, v in enumerate([10.0, 20.0, 30.0, 40.0])
        )
        req = urllib.request.Request(
            f"{base}/write?db=iot", data=lines.encode(), method="POST"
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            assert r.status == 204

        # CQ-service tick materializes the rollup
        appended = api.run_continuous_queries()
        assert appended["cq_1h"] >= 3  # seed bucket + 2 written buckets

        # the rolled-up series is queryable through the same gateway
        q = urllib.parse.quote(
            "SELECT mean_value FROM rollup_1h WHERE \"plc_ip\" = 'plc1' "
            "AND time >= '2024-03-01T01:00:00' ORDER BY time ASC"
        )
        status, body = _get(f"{base}/query?q={q}&epoch=s")
        assert status == 200
        series = json.loads(body)["results"][0]["series"][0]
        assert series["values"] == [[t0, 15.0], [t0 + 3600, 35.0]]

        # idempotence: a second tick appends nothing
        assert api.run_continuous_queries() == {"cq_1h": 0}

        # incremental: another write, next tick rolls up ONLY the new
        # bucket (old buckets anti-joined away)
        line = f"plc1 value=99 {(t0 + 7200) * 10**9}"
        req = urllib.request.Request(
            f"{base}/write?db=iot", data=line.encode(), method="POST"
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            assert r.status == 204
        assert api.run_continuous_queries() == {"cq_1h": 1}
        status, body = _get(f"{base}/query?q={q}&epoch=s")
        vals = json.loads(body)["results"][0]["series"][0]["values"]
        assert vals == [[t0, 15.0], [t0 + 3600, 35.0], [t0 + 7200, 99.0]]
    finally:
        server.shutdown()


def test_cq_resample_window_bounds(spark, tmp_path):
    """With RESAMPLE FOR and an explicit now, a tick only recomputes
    buckets inside [now - FOR, now) floored to bucket edges."""
    import datetime as dt
    import os

    write_dir = str(tmp_path / "points")
    rows = [
        (f"2024-03-01T{h:02d}:15:00", "plc1", "temp", float(h))
        for h in range(6)
    ]
    spark.createDataFrame(
        rows, "ts_s string, plc_ip string, alias string, value double"
    ).select(
        F.col("ts_s").cast("timestamp").alias("ts"), "plc_ip", "alias", "value"
    ).write.mode("overwrite").parquet(write_dir)

    def get_table(m):
        if m and os.path.isdir(f"{write_dir}__{m}"):
            return spark.read.parquet(f"{write_dir}__{m}")
        return spark.read.parquet(write_dir)

    api = InfluxAPI(spark, get_table, write_dir=write_dir)
    api.query(
        "CREATE CONTINUOUS QUERY cq_w ON iot RESAMPLE FOR 2h BEGIN "
        "SELECT mean(value) AS m INTO roll_w FROM points "
        "GROUP BY time(1h) END",
        None,
    )
    # now = 04:30 → window [02:00, 04:00): exactly buckets 02 and 03
    now = dt.datetime(2024, 3, 1, 4, 30)
    assert api.run_continuous_queries(now=now) == {"cq_w": 2}
    got = {
        r["time"]: r["m"]
        for r in spark.read.parquet(f"{write_dir}__roll_w").collect()
    }
    assert got == {
        dt.datetime(2024, 3, 1, 2): 2.0,
        dt.datetime(2024, 3, 1, 3): 3.0,
    }


def test_cq_tick_without_write_dir_errors(spark, tmp_path):
    """run_continuous_queries without a write_dir must raise — the
    target path is <write_dir>__<target>, so a None write_dir used to
    materialize rollups into a literal 'None__<target>' directory in
    the CWD."""
    write_dir = str(tmp_path / "points")
    spark.createDataFrame(
        [("2024-03-01T00:10:00", "plc1", "temp", 5.0)],
        "ts_s string, plc_ip string, alias string, value double",
    ).select(
        F.col("ts_s").cast("timestamp").alias("ts"), "plc_ip", "alias", "value"
    ).write.mode("overwrite").parquet(write_dir)
    api = InfluxAPI(
        spark, lambda _m: spark.read.parquet(write_dir), write_dir=None
    )
    api.query(
        "CREATE CONTINUOUS QUERY cq_n ON iot BEGIN "
        "SELECT mean(value) AS m INTO roll_n FROM points "
        "GROUP BY time(1h) END",
        None,
    )
    with pytest.raises(ValueError, match="write_dir"):
        api.run_continuous_queries()
    import os

    assert not any(e.startswith("None__") for e in os.listdir(os.getcwd()))


def test_cq_service_thread_ticks(spark, tmp_path):
    """The scheduler thread fires run_continuous_queries on its
    interval and stop() halts it."""
    import os
    import threading as th

    from iot_system_plc_data_to_influxdb_spark.streaming.http_api import (
        start_cq_service,
    )

    write_dir = str(tmp_path / "points")
    spark.createDataFrame(
        [("2024-03-01T00:10:00", "plc1", "temp", 5.0)],
        "ts_s string, plc_ip string, alias string, value double",
    ).select(
        F.col("ts_s").cast("timestamp").alias("ts"), "plc_ip", "alias", "value"
    ).write.mode("overwrite").parquet(write_dir)

    def get_table(m):
        if m and os.path.isdir(f"{write_dir}__{m}"):
            return spark.read.parquet(f"{write_dir}__{m}")
        return spark.read.parquet(write_dir)

    api = InfluxAPI(spark, get_table, write_dir=write_dir)
    api.query(
        "CREATE CONTINUOUS QUERY cq_t ON iot BEGIN "
        "SELECT mean(value) AS m INTO roll_t FROM points "
        "GROUP BY time(1h) END",
        None,
    )
    ticked = th.Event()
    results = []

    def on_tick(res):
        results.append(res)
        ticked.set()

    stop = start_cq_service(api, interval_s=0.2, on_tick=on_tick)
    try:
        assert ticked.wait(timeout=60)
    finally:
        stop()
    assert results[0] == {"cq_t": 1}
    assert os.path.isdir(f"{write_dir}__roll_t")


def test_admin_show_family_and_kill(gateway):
    """The admin introspection statements the influx CLI / Chronograf
    issue: SHOW QUERIES/USERS/SUBSCRIPTIONS return well-formed empty
    tables (the gateway is synchronous and unauthenticated), SHOW
    SHARDS reports the points table's real time span as one logical
    shard, and KILL QUERY acks as a no-op."""
    base, _ = gateway
    for stmt, cols in (
        ("SHOW QUERIES", ["qid", "query", "database", "duration", "status"]),
        ("SHOW USERS", ["user", "admin"]),
        (
            "SHOW SUBSCRIPTIONS",
            ["retention_policy", "name", "mode", "destinations"],
        ),
    ):
        status, body = _get(f"{base}/query?q={urllib.parse.quote(stmt)}")
        assert status == 200
        series = json.loads(body)["results"][0]["series"][0]
        assert series["columns"] == cols
        assert series["values"] == []

    status, body = _get(f"{base}/query?q={urllib.parse.quote('SHOW SHARDS')}")
    assert status == 200
    series = json.loads(body)["results"][0]["series"][0]
    row = dict(zip(series["columns"], series["values"][0]))
    assert row["database"] == "iot" and row["retention_policy"] == "autogen"
    assert row["start_time"].startswith("2024-01-01T00:00:00")
    assert row["end_time"] >= row["start_time"]

    status, body = _get(
        f"{base}/query?q={urllib.parse.quote('KILL QUERY 42')}"
    )
    assert status == 200
    assert json.loads(body)["results"][0] == {"statement_id": 0}

    # SHOW STATS reports REAL table statistics (one aggregate pass)
    status, body = _get(f"{base}/query?q={urllib.parse.quote('SHOW STATS')}")
    assert status == 200
    series = json.loads(body)["results"][0]["series"][0]
    row = dict(zip(series["columns"], series["values"][0]))
    assert row["module"] == "engine"
    assert row["n_points"] > 0
    assert 0 < row["n_series"] >= row["n_measurements"] > 0

    status, body = _get(
        f"{base}/query?q={urllib.parse.quote('SHOW DIAGNOSTICS')}"
    )
    assert status == 200
    series = json.loads(body)["results"][0]["series"][0]
    vals = {(r[0], r[1]): r[2] for r in series["values"]}
    assert vals[("build", "Version")] == "1.8-compat"
    assert vals[("build", "Engine")].startswith("pyspark-")


def test_python_only_regex_is_inband_error(gateway):
    """Split-engine regex totality: SHOW/measurement regexes execute
    JVM-side (rlike), so Python-only syntax like (?P<name>...) compiles
    under re but would throw a raw Py4J PatternSyntaxException inside a
    Spark job — escaping per-statement isolation. _user_regex now
    validates against the session JVM's Pattern too, so such a
    statement yields an in-band error while its batch-mates still run."""
    base, _ = gateway
    q = urllib.parse.quote(
        'SHOW TAG VALUES WITH KEY =~ /(?P<name>plc.*)/;'
        "SELECT count(value) FROM points"
    )
    status, body = _get(f"{base}/query?q={q}")
    assert status == 200
    out = json.loads(body)["results"]
    assert len(out) == 2
    assert "error" in out[0] and "invalid regex" in out[0]["error"]
    assert "series" in out[1] and "error" not in out[1]


def test_python_only_regex_in_from_is_inband_error(gateway):
    """Same contract on the FROM /regex/ path (rlike over plc_ip)."""
    base, _ = gateway
    q = urllib.parse.quote("SELECT count(value) FROM /(?P<m>po.*)/")
    status, body = _get(f"{base}/query?q={q}")
    assert status == 200
    out = json.loads(body)["results"]
    assert "error" in out[0] and "invalid regex" in out[0]["error"]


def test_grafana_dashboard_replay_e2e(spark, tmp_path):
    """The reference's actual user surface is a Grafana dashboard over
    InfluxDB (reference README.md:98-100). Replay the chained request
    sequence a dashboard issues on load — datasource check, measurement
    + tag-key + tag-value templating, field discovery, then the panel
    SELECTs with tz() and fill() — through the real HTTP gateway,
    asserting every response's shape. 8 chained requests, one server.

    The points table carries tag columns (for the SELECT compiler) AND
    the tags map (for SHOW templating) — the engine's dual tag surface.
    """
    import datetime as dtm

    write_dir = str(tmp_path / "points")
    rows = []
    for h in range(24):
        for mach in ("m1", "m2"):
            rows.append(
                (
                    dtm.datetime(2024, 1, 1, h),
                    "plc1",
                    "temp",
                    float(h) + (0.5 if mach == "m2" else 0.0),
                    mach,
                    {"machine": mach, "line": "A"},
                )
            )
    pts = spark.createDataFrame(
        rows,
        "ts timestamp, plc_ip string, alias string, value double, "
        "machine string, tags map<string,string>",
    )
    pts.write.mode("overwrite").parquet(write_dir)
    api = InfluxAPI(
        spark, lambda _m: spark.read.parquet(write_dir), write_dir=write_dir
    )
    server, _thread, port = serve(api, port=0)
    base = f"http://127.0.0.1:{port}"
    try:
        # 1. datasource health check
        status, _ = _get(f"{base}/ping")
        assert status == 204

        def q(stmt, extra=""):
            s, b = _get(
                f"{base}/query?db=iot&q={urllib.parse.quote(stmt)}{extra}"
            )
            assert s == 200
            return json.loads(b)["results"]

        # 2. measurement template variable
        r = q("SHOW MEASUREMENTS LIMIT 100")
        series = r[0]["series"][0]
        assert series["columns"] == ["name"]
        assert ["plc1"] in series["values"]

        # 3. tag-key discovery for the ad-hoc filter row
        r = q('SHOW TAG KEYS FROM "plc1"')
        keys = [v[0] for v in r[0]["series"][0]["values"]]
        assert keys == ["line", "machine"]

        # 4. $machine template variable
        r = q('SHOW TAG VALUES FROM "plc1" WITH KEY = "machine"')
        vals = r[0]["series"][0]["values"]
        assert [v[-1] for v in vals] == ["m1", "m2"]

        # 5. field dropdown in the panel editor (the engine's data
        # model: `alias` is the field key, `value` its value column)
        r = q('SHOW FIELD KEYS FROM "plc1"')
        fk = {v[0]: v[1] for v in r[0]["series"][0]["values"]}
        assert fk == {"temp": "float"}

        # 6. panel 1: windowed mean, tz + fill(null), templated WHERE
        r = q(
            "SELECT mean(\"value\") FROM \"plc1\" WHERE \"machine\" = 'm1' "
            "AND time >= '2024-01-01T00:00:00Z' "
            "AND time < '2024-01-02T00:00:00Z' "
            "GROUP BY time(6h) fill(null) tz('Europe/Warsaw')"
        )
        s1 = r[0]["series"][0]
        assert s1["columns"] == ["time", "mean"]
        # Warsaw is UTC+1 in January: 6h wall-clock buckets start at
        # 23:00Z, so the UTC day spans 5 buckets
        assert len(s1["values"]) == 5
        assert all(len(v) == 2 for v in s1["values"])

        # 7. panel 2: max per machine (GROUP BY tag), fill(0)
        r = q(
            "SELECT max(\"value\") FROM \"plc1\" "
            "WHERE time >= '2024-01-01T00:00:00Z' "
            "AND time < '2024-01-02T00:00:00Z' "
            "GROUP BY time(12h), \"machine\" fill(0)",
            extra="&epoch=ms",
        )
        by_tag = {s["tags"]["machine"]: s for s in r[0]["series"]}
        assert set(by_tag) == {"m1", "m2"}
        assert [v[1] for v in by_tag["m1"]["values"]] == [11.0, 23.0]
        assert [v[1] for v in by_tag["m2"]["values"]] == [11.5, 23.5]
        assert all(
            isinstance(v[0], int)
            for s in r[0]["series"]
            for v in s["values"]
        )

        # 8. two panels batched in ONE request (Grafana batches panel
        # refreshes) — each statement gets its own result object
        r = q(
            "SELECT count(\"value\") FROM \"plc1\" WHERE "
            "\"machine\" = 'm2' AND time >= '2024-01-01T00:00:00Z' "
            "GROUP BY time(12h) fill(none);"
            "SELECT mean(\"value\") FROM \"plc1\" WHERE "
            "time >= '2024-01-01T06:00:00Z' GROUP BY time(6h) "
            "fill(previous)"
        )
        assert len(r) == 2
        c = r[0]["series"][0]
        assert [v[1] for v in c["values"]] == [12, 12]
        m = r[1]["series"][0]
        assert len(m["values"]) == 3 and m["columns"] == ["time", "mean"]
    finally:
        server.shutdown()


def test_percentile_served_from_quantile_sketch(spark, tmp_path):
    """B5 × B26 read path (round-9): an InfluxQL percentile() query is
    answered by MERGING the quantile-sketch CQ's materialized windows
    — raw points never scanned — and the sketch answer (the bucket
    lower bound) brackets the exact nearest-rank percentile within the
    documented 25% bucket bound. Non-servable shapes (GROUP BY time)
    fall through to the raw-points compiler unchanged."""
    import datetime
    import glob
    import math
    import os
    import shutil

    from iot_system_plc_data_to_influxdb_spark.streaming.rollup import (
        quantile_sketch_stream,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = datetime.datetime(2024, 3, 1)
    rows = [
        (f"t{i % 3}", t0 + datetime.timedelta(seconds=17 * i),
         ((i * 131) % 3000) / 100.0)
        for i in range(400)
    ]
    sch = "event_type string, ts timestamp, value double"
    sentinels = [
        (f"t{k}", t0 + datetime.timedelta(days=1), 1.0) for k in range(3)
    ]
    src = os.path.join(str(tmp_path), "qsrc")
    os.makedirs(src, exist_ok=True)
    for i, half in enumerate([rows[:200], rows[200:] + sentinels]):
        stage = os.path.join(str(tmp_path), f"qstage{i}")
        spark.createDataFrame(half, sch).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(src, f"{i:04d}.parquet"))

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
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
    sketch_df = spark.createDataFrame(
        [
            ((r["window"]["start"], r["window"]["end"]), r["event_type"],
             int(r["e"]), int(r["sub"]), int(r["cnt"]))
            for r in got
        ],
        "window struct<start:timestamp,end:timestamp>, "
        "event_type string, e int, sub int, cnt bigint",
    )

    raw_dir = os.path.join(str(tmp_path), "events_raw")
    spark.createDataFrame(rows, sch).write.mode("overwrite").parquet(raw_dir)

    api = InfluxAPI(
        spark,
        lambda _m: spark.read.parquet(raw_dir),
        qsketch_tables={"events": (lambda: sketch_df, 60)},
    )
    server, thread, port = serve(api, port=0)
    try:
        base = f"http://127.0.0.1:{port}"
        hi = "2024-03-01T01:00:00"
        stmt = urllib.parse.quote(
            "SELECT percentile(value, 90) FROM events "
            f"WHERE time >= '2024-03-01' AND time < '{hi}' "
            "GROUP BY event_type"
        )
        status, body = _get(f"{base}/query?db=iot&q={stmt}")
        assert status == 200
        series = json.loads(body)["results"][0]["series"]
        got_p = {
            s["tags"]["event_type"]: s["values"][0][-1] for s in series
        }
        assert set(got_p) == {"t0", "t1", "t2"}

        # exact nearest-rank p90 per series over the SAME domain the
        # sketch covers (positive cents, ts within the queried hour)
        hi_dt = datetime.datetime(2024, 3, 1, 1)
        exact = {}
        for et in ("t0", "t1", "t2"):
            cents = sorted(
                round(v * 100)
                for e, ts, v in rows
                if e == et and ts < hi_dt and round(v * 100) >= 1
            )
            exact[et] = cents[math.ceil(0.9 * len(cents)) - 1] / 100.0
        for et, lb in got_p.items():
            assert lb <= exact[et] <= lb * 1.25 + 1e-9, (
                et, lb, exact[et]
            )

        # non-servable shape (GROUP BY time) falls through to the raw
        # compiler and still answers
        stmt2 = urllib.parse.quote(
            "SELECT percentile(value, 90) FROM events "
            "WHERE time >= '2024-03-01' GROUP BY time(30m)"
        )
        status2, body2 = _get(f"{base}/query?db=iot&q={stmt2}")
        assert status2 == 200
        vals2 = json.loads(body2)["results"][0]["series"][0]["values"]
        assert len(vals2) >= 3
    finally:
        server.shutdown()


@pytest.fixture(scope="module")
def two_doors(spark, tmp_path_factory):
    """One engine, reached both as a DataFrame API (IoTEngine.influxql)
    and over the wire (serve_influx_api's /query)."""
    from iot_system_plc_data_to_influxdb_spark.api import IoTEngine

    path = str(tmp_path_factory.mktemp("doors") / "points")
    spark.createDataFrame(
        [(f"2024-01-01T{h:02d}:00:00", "plc1", "temp", float(h)) for h in range(6)],
        "ts_s string, plc_ip string, alias string, value double",
    ).select(
        F.col("ts_s").cast("timestamp").alias("ts"), "plc_ip", "alias", "value"
    ).write.parquet(path)
    engine = IoTEngine(spark)
    server, port = engine.serve_influx_api(path)

    def wire(stmt: str) -> dict:
        status, body = _get(
            f"http://127.0.0.1:{port}/query?q={urllib.parse.quote(stmt)}"
        )
        assert status == 200
        return json.loads(body)["results"][0]

    def df_door(stmt: str):
        return engine.influxql(stmt, engine.points(path))

    yield df_door, wire
    server.shutdown()


@pytest.mark.parametrize(
    "case",
    ["create_database", "explain_analyze", "cq_from_df", "cq_from_wire", "subquery"],
)
def test_engine_and_gateway_doors_agree(two_doors, case):
    """The DataFrame door and the /query door run the same statement
    dispatcher over the same CQ registry, so a statement means the same
    thing through either."""
    df_door, wire = two_doors
    if case == "create_database":
        assert df_door("CREATE DATABASE iot").collect() == []
        assert wire("CREATE DATABASE iot") == {"statement_id": 0}
    elif case == "explain_analyze":
        stmt = "EXPLAIN ANALYZE SELECT count(value) AS n FROM points"
        series = wire(stmt)["series"][0]
        assert series["name"] == "query_plan"
        for text in (
            "\n".join(r["QUERY PLAN"] for r in df_door(stmt).collect()),
            "\n".join(v[0] for v in series["values"]),
        ):
            # formatted mode numbers its operator sections, and the
            # adaptive plan is final only once the statement has run
            assert "(1) " in text
            assert "isFinalPlan=true" in text
    elif case == "subquery":
        stmt = (
            "SELECT max(v) AS top FROM (SELECT mean(value) AS v FROM points "
            "GROUP BY time(2h), plc_ip) GROUP BY plc_ip"
        )
        assert [r["top"] for r in df_door(stmt).collect()] == [4.5]
        series = wire(stmt)["series"]
        assert [(s["tags"], s["values"]) for s in series] == [
            ({"plc_ip": "plc1"}, [[4.5]])
        ]
    else:
        name = case
        create, listing = (df_door, wire) if case == "cq_from_df" else (wire, df_door)
        create(
            f"CREATE CONTINUOUS QUERY {name} ON iot BEGIN SELECT mean(value) "
            f"INTO {name}_1h FROM points GROUP BY time(1h) END"
        )
        listed = listing("SHOW CONTINUOUS QUERIES")
        if listing is wire:
            names = [v[0] for s in listed["series"] for v in s["values"]]
        else:
            names = [r["name"] for r in listed.collect()]
        assert name in names
