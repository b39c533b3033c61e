"""DuckDB twins of the dashboard panels, run over the parquet files the
gateway reads. InfluxQL semantics written out in SQL: epoch-aligned
GROUP BY time() buckets, nearest-rank percentile, last() by time, and
SHOW FIELD KEYS as the distinct sorted aliases."""

from __future__ import annotations

import duckdb


def _rows(con, sql: str, params: list) -> list[tuple]:
    return con.execute(sql, params).fetchall()


def expected(kind: str, table: str, params: dict) -> list:
    """The comparable form of the response a correct gateway returns
    (see dashboard._parse): one statement, a list of series."""
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW pts AS SELECT epoch_ms(ts) AS t, plc_ip, alias, value "
            f"FROM read_parquet('{table}/*/*.parquet', hive_partitioning = true)"
        )
        return [_expected(con, kind, params)]
    finally:
        con.close()


def _bucketed(con, fn_sql: str, every_ms: int, where: str, args: list, lo, hi):
    got = dict(
        _rows(
            con,
            f"SELECT t // {every_ms} * {every_ms} AS b, {fn_sql} FROM pts "
            f"WHERE {where} AND t >= ? AND t < ? GROUP BY b",
            args + [lo, hi],
        )
    )
    return [[b, got.get(b)] for b in range(lo // every_ms * every_ms, hi, every_ms)]


def _expected(con, kind: str, p: dict) -> list:
    lo, hi = p["lo_ms"], p["hi_ms"]
    if kind == "ts_panel":
        vals = _bucketed(
            con, "avg(value)", 60_000, "plc_ip = ? AND alias = ?",
            [p["plc_ip"], p["alias"]], lo, hi,
        )
        return [((), ("time", "mean"), vals)]
    if kind == "p95":
        rank = "list_sort(list(value))[greatest(ceil(0.95 * count(*))::BIGINT, 1)]"
        vals = _bucketed(
            con, rank, 600_000, "plc_ip = ? AND alias = ?",
            [p["plc_ip"], p["alias"]], lo, hi,
        )
        return [((), ("time", "percentile"), vals)]
    if kind == "multi_series":
        aliases = [
            a
            for (a,) in _rows(
                con,
                "SELECT DISTINCT alias FROM pts WHERE plc_ip = ? AND t >= ? "
                "AND t < ? ORDER BY alias",
                [p["plc_ip"], lo, hi],
            )
        ]
        return [
            (
                (("alias", a),),
                ("time", "max"),
                _bucketed(
                    con, "max(value)", 300_000, "plc_ip = ? AND alias = ?",
                    [p["plc_ip"], a], lo, hi,
                ),
            )
            for a in aliases
        ]
    if kind == "stat_last":
        rows = _rows(
            con,
            "SELECT alias, arg_max(value, t) FROM pts WHERE plc_ip = ? AND "
            "t >= ? AND t < ? GROUP BY alias ORDER BY alias",
            [p["plc_ip"], lo, hi],
        )
        return [((("alias", a),), ("last",), [[v]]) for a, v in rows]
    if kind == "fleet_count":
        rows = _rows(
            con,
            "SELECT plc_ip, count(value) FROM pts WHERE t >= ? AND t < ? "
            "GROUP BY plc_ip ORDER BY plc_ip",
            [lo, hi],
        )
        return [((("plc_ip", ip),), ("count",), [[n]]) for ip, n in rows]
    if kind == "field_keys":
        rows = _rows(con, "SELECT DISTINCT alias FROM pts ORDER BY alias", [])
        return [((), ("fieldKey", "fieldType"), [[a, "float"] for (a,) in rows])]
    raise ValueError(f"unknown panel kind {kind!r}")
