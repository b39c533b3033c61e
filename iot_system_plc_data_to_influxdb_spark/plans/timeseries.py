"""Time-series query surface — SURVEY.md §2 B3, B11, B12, B15, B18,
B23–B25: the InfluxQL/Grafana capabilities the reference delegates
(README.md:3 — downsampling, anomaly detection, forecasting, retention).

All exact-arithmetic: anomaly/forecast avoid cross-engine float-sum
nondeterminism by working in integer cents with DECIMAL(38,0) products
(z-score and regression-slope tests hold under exact integer algebra,
no sqrt / no float accumulation).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import events_between, t
from ._exact import round_ratio, round_ratio_signed
from .registry import register


# --------------------------------------------------------------------------
# B3 — tumbling-window downsample (InfluxQL GROUP BY time(5m))
# --------------------------------------------------------------------------
@register(
    "b3_downsample",
    oracle="""
    SELECT event_type,
      TIMESTAMP '1970-01-01 00:00:00'
        + to_seconds(CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT)) AS bucket_start,
      COUNT(*) AS n,
      MIN(value) AS min_value,
      MAX(value) AS max_value,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
      ((2 * SUM(CAST(ROUND(value * 100) AS BIGINT)) * 100 + COUNT(*))
       // (2 * COUNT(*))) / 10000.0 AS avg_value,
      MAX_BY(value, ts) AS last_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
    GROUP BY event_type, bucket_start
    """,
    tags=("B3",),
)
def b3(spark, sf_dir):
    # raw-nanos range filter → parquet PushedFilters (catalog.events_between)
    ev = events_between(spark, sf_dir, "2024-01-01", "2024-01-08")
    vdec = F.col("value").cast("decimal(12,2)")
    return (
        ev.groupBy("event_type", F.window("ts", "5 minutes").start.alias("bucket_start"))
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.sum(vdec).cast("double").alias("sum_value"),
            round_ratio(
                F.sum(F.round(F.col("value") * 100).cast("bigint")),
                100 * F.count("*"),
                4,
            ).alias("avg_value"),
            F.max_by("value", "ts").alias("last_value"),
        )
    )


# --------------------------------------------------------------------------
# B11 — as-of join: last 'error' value at or before each 'click', per user
# (InfluxQL last()/fill(previous); reference's current-value cache A10)
# --------------------------------------------------------------------------
@register(
    "b11_asof_join",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN event_type = 'error' THEN value END AS err_value,
        CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_probe
      FROM events
      WHERE event_type IN ('error', 'click')
    ),
    filled AS (
      SELECT user_id, ts, event_id, is_probe,
        LAST_VALUE(err_value IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts, is_probe, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS last_error_value
      FROM tagged
    )
    SELECT event_id, user_id, ts, last_error_value
    FROM filled WHERE is_probe = 1
    """,
    tags=("B11", "A10"),
)
def b11(spark, sf_dir):
    # Union-and-fill formulation: one shuffle on user_id, one ordered
    # window pass — scales linearly, unlike a per-probe correlated
    # lookup. Ties (error and click at the same ts) resolve error-first,
    # i.e. "as of <= t" semantics, matching the oracle's ORDER BY.
    ev = t(spark, sf_dir, "events").filter(F.col("event_type").isin("error", "click"))
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.col("value")).alias("err_value"),
        (F.col("event_type") == "click").cast("int").alias("is_probe"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn(
            "last_error_value", F.last("err_value", ignorenulls=True).over(w)
        )
        .filter(F.col("is_probe") == 1)
        .select("event_id", "user_id", "ts", "last_error_value")
    )


# --------------------------------------------------------------------------
# B12 — window functions: ranking, analytic, frames
# --------------------------------------------------------------------------
@register(
    "b12_window_funcs",
    oracle="""
    SELECT event_id, user_id, ts, value,
      ROW_NUMBER() OVER w_ts AS rn,
      LAG(value) OVER w_ts AS prev_value,
      LEAD(value) OVER w_ts AS next_value,
      RANK() OVER (PARTITION BY user_id ORDER BY value DESC) AS value_rank,
      NTILE(4) OVER w_ts AS quartile,
      ((2 * SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
          w_ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) * 100
        + COUNT(*) OVER (w_ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
       // (2 * COUNT(*) OVER (w_ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)))
       / 10000.0 AS moving_avg5
    FROM events
    WHERE user_id < 30
    WINDOW w_ts AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("B12",),
)
def b12(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w_ts = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_frame = w_ts.rowsBetween(-4, 0)
    w_val = Window.partitionBy("user_id").orderBy(F.col("value").desc())
    vdec = F.col("value").cast("decimal(12,2)")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.row_number().over(w_ts).alias("rn"),
        F.lag("value").over(w_ts).alias("prev_value"),
        F.lead("value").over(w_ts).alias("next_value"),
        F.rank().over(w_val).alias("value_rank"),
        F.ntile(4).over(w_ts).alias("quartile"),
        round_ratio(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).over(w_frame),
            100 * F.count("*").over(w_frame),
            4,
        ).alias("moving_avg5"),
    )


# --------------------------------------------------------------------------
# B15 — pivot narrow→wide (Grafana-style one column per series)
# --------------------------------------------------------------------------
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# avg per cell rounds half-up in exact integer-cent space (values are
# non-negative): round(cents/(100·n)·1e4) = (2·cents·100 + n)//(2·n) —
# ROUND on a tie-adjacent double differs across engines (seen at
# sf0.001)
_B15_COLS = ",\n      ".join(
    f"CASE WHEN COUNT(*) FILTER (WHERE event_type = '{et}') > 0 THEN"
    f" ((2 * SUM(CAST(ROUND(value * 100) AS BIGINT))"
    f"      FILTER (WHERE event_type = '{et}') * 100"
    f"   + COUNT(*) FILTER (WHERE event_type = '{et}'))"
    f"  // (2 * COUNT(*) FILTER (WHERE event_type = '{et}'))) / 10000.0"
    f" END AS {et}"
    for et in _EVENT_TYPES
)


@register(
    "b15_pivot",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      {_B15_COLS}
    FROM events
    GROUP BY day
    """,
    tags=("B15",),
)
def b15(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    cents = F.sum(F.round(F.col("value") * 100).cast("bigint"))
    n = F.count(F.lit(1))
    num = 2 * cents * 100 + n
    den = 2 * n
    cell = F.when(
        n > 0, ((num - F.pmod(num, den)) / den).cast("bigint") / 10000.0
    )
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(cell)
    )


# --------------------------------------------------------------------------
# B18 — exact dedup (deterministic keep-first via min event_id)
# --------------------------------------------------------------------------
@register(
    "b18_dedup_exact",
    oracle="""
    SELECT user_id, event_type,
      MIN(event_id) AS first_event_id,
      COUNT(*) AS n_dupes
    FROM events
    GROUP BY user_id, event_type
    """,
    tags=("B18",),
)
def b18(spark, sf_dir):
    # Deterministic twin of dropDuplicates([...]): keep the lowest
    # event_id per key and report group size. Map-side partial agg
    # shrinks the shuffle — same plan shape as exact dedup at 100 TB.
    return (
        t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.min("event_id").alias("first_event_id"),
            F.count("*").alias("n_dupes"),
        )
    )


# --------------------------------------------------------------------------
# B23 — anomaly detection: |value − mean| > 3σ per event_type,
# in exact integer-cents algebra: (n·v − s)² > 9·n·(n·s2 − s²)
# --------------------------------------------------------------------------
@register(
    "b23_anomaly_zscore",
    oracle="""
    WITH c AS (
      SELECT event_id, event_type, value,
        CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    stats AS (
      SELECT event_id, event_type, value,
        CAST(cents AS DECIMAL(38,0)) AS v,
        CAST(COUNT(*) OVER w AS DECIMAL(38,0)) AS n,
        CAST(SUM(cents) OVER w AS DECIMAL(38,0)) AS s,
        CAST(SUM(cents * cents) OVER w AS DECIMAL(38,0)) AS s2
      FROM c
      WINDOW w AS (PARTITION BY event_type)
    )
    SELECT event_id, event_type, value
    FROM stats
    WHERE (n * v - s) * (n * v - s) > 9 * (n * s2 - s * s)
    """,
    tags=("B23",),
)
def b23(spark, sf_dir):
    ev = t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("bigint")
    )
    w = Window.partitionBy("event_type")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    stats = ev.select(
        "event_id",
        "event_type",
        "value",
        d(F.col("cents")).alias("v"),
        d(F.count("*").over(w)).alias("n"),
        d(F.sum("cents").over(w)).alias("s"),
        d(F.sum(F.col("cents") * F.col("cents")).over(w)).alias("s2"),
    )
    # (value−mean)² > (3σ)²  ⇔  ((n·v−s)/n)² > 9·(n·s2−s²)/n²
    #                         ⇔  (n·v−s)² > 9·(n·s2−s²)
    lhs = (F.col("n") * F.col("v") - F.col("s")) * (F.col("n") * F.col("v") - F.col("s"))
    rhs = F.lit(9) * (F.col("n") * F.col("s2") - F.col("s") * F.col("s"))
    return stats.filter(lhs > rhs).select("event_id", "event_type", "value")


# --------------------------------------------------------------------------
# B24 — forecasting: per-type linear trend (least squares in exact
# integer algebra; division happens once, on identical operands)
# --------------------------------------------------------------------------
@register(
    "b24_forecast_trend",
    oracle="""
    WITH c AS (
      SELECT event_type,
        CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) - epoch(TIMESTAMP '2024-01-01') AS DECIMAL(9,0)) AS x,
        CAST(CAST(ROUND(value * 100) AS BIGINT) AS DECIMAL(9,0)) AS y
      FROM events
    ),
    agg AS (
      -- sums are cast back to bounded precisions so every later product
      -- stays within DECIMAL(38) exactly (no silent promotion to DOUBLE)
      SELECT event_type,
        CAST(COUNT(*) AS DECIMAL(9,0)) AS n,
        CAST(SUM(x) AS DECIMAL(19,0)) AS sx,
        CAST(SUM(y) AS DECIMAL(19,0)) AS sy,
        CAST(SUM(x * y) AS DECIMAL(28,0)) AS sxy,
        CAST(SUM(x * x) AS DECIMAL(28,0)) AS sxx
      FROM c GROUP BY event_type
    )
    SELECT event_type,
      ROUND(1e6 * CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_cents_per_us,
      ROUND((CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
            / CAST(n AS DOUBLE) / 100, 4) AS intercept_value
    FROM agg
    """,
    tags=("B24",),
)
def b24(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    x = (
        F.unix_timestamp("ts")
        - F.unix_timestamp(F.lit("2024-01-01").cast("timestamp"))
    ).cast("decimal(9,0)")
    y = F.round(F.col("value") * 100).cast("bigint").cast("decimal(9,0)")
    agg = (
        ev.select("event_type", x.alias("x"), y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("decimal(9,0)").alias("n"),
            F.sum("x").cast("decimal(19,0)").alias("sx"),
            F.sum("y").cast("decimal(19,0)").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("decimal(28,0)").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("decimal(28,0)").alias("sxx"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n").cast("double")
        / 100
    )
    return agg.select(
        "event_type",
        F.round(F.lit(1e6) * slope, 6).alias("slope_cents_per_us"),
        F.round(intercept, 4).alias("intercept_value"),
    )


# --------------------------------------------------------------------------
# B25 — retention policy: age-off as anti-filter (partition-drop at scale)
# --------------------------------------------------------------------------
@register(
    "b25_retention_ageoff",
    oracle="""
    SELECT event_id, ts, event_type FROM events
    WHERE ts >= TIMESTAMP '2024-01-15'
    """,
    tags=("B25",),
)
def b25(spark, sf_dir):
    # On a date-partitioned table this predicate is pure partition
    # pruning — the aged-off data is never read, which is the whole
    # point of retention at 100 TB. Here the cutoff is pushed to the
    # parquet reader on the raw nanos column (row-group pruning).
    return events_between(spark, sf_dir, lo="2024-01-15").select(
        "event_id", "ts", "event_type"
    )


# --------------------------------------------------------------------------
# B25c — COMPACTION PLAN (small-file bin-packing over file METADATA):
# operators/retention.compact_partition does the physical rewrite —
# this is the PLANNER that decides which small files merge into which
# target-sized output, as a declarative query. Files are the
# (event_type, hour) sub-files of a day-partitioned points layout
# (the exact small-file shape a per-series streaming sink produces:
# 120 files/day here, thousands on a real plant); the plan packs
# them, WITHIN their day partition, in deterministic listing order
# (hour, then series) into bins of ~target size: bin = floor(
# exclusive-prefix-bytes / target) — cumulative next-fit, the same
# rule Spark's own maxPartitionBytes file coalescing uses, so a file
# straddling a boundary goes to the earlier bin and bins can run
# slightly over target (documented, same as Spark's scan packing).
#
# Exactness: sizes are exact integers (n_rows x 40-byte fixed row
# estimate), the prefix sum is an integer window, and the bin id is
# one integer floor-div — nothing can drift engines.
#
# Scale shape: everything after the first aggregate runs on FILE
# METADATA (days x series x hours rows, ~5 orders of magnitude
# smaller than the data); the plan is one keyed window per day
# partition — compaction planning at 100 TB is a metadata query, and
# this plan never touches the row payload at all.
# --------------------------------------------------------------------------
_COMPACT_TARGET = 4096  # target output-bin bytes (in the 40 B/row unit)

_B25_COMPACT_ORACLE = f"""
    WITH files AS (
      SELECT CAST(ts AS DATE) AS part_day,
        CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS file_hour,
        event_type,
        CAST(COUNT(*) * 40 AS BIGINT) AS bytes
      FROM events GROUP BY 1, 2, 3
    ),
    planned AS (
      SELECT part_day, file_hour, event_type, bytes,
        CAST(COALESCE(SUM(bytes) OVER (
          PARTITION BY part_day ORDER BY file_hour, event_type
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ), 0) // {_COMPACT_TARGET} AS BIGINT) AS bin_id
      FROM files
    )
    SELECT part_day, bin_id,
      CAST(COUNT(*) AS BIGINT) AS n_files,
      CAST(SUM(bytes) AS BIGINT) AS total_bytes,
      CAST(MIN(file_hour) AS BIGINT) AS first_hour,
      CAST(MAX(file_hour) AS BIGINT) AS last_hour
    FROM planned GROUP BY 1, 2
"""


@register("b25_compaction_plan", oracle=_B25_COMPACT_ORACLE, tags=("B25",))
def b25_compaction_plan(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    files = ev.groupBy(
        F.col("ts").cast("date").alias("part_day"),
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias(
            "file_hour"
        ),
        "event_type",
    ).agg((F.count("*") * 40).cast("bigint").alias("bytes"))
    w = (
        Window.partitionBy("part_day")
        .orderBy("file_hour", "event_type")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("bytes").over(w), F.lit(0))
    # integer floor-div via pmod (the _exact.py rule: never floor a
    # double quotient); the final `/` is exact — numerator is a
    # multiple of the target
    planned = files.select(
        "part_day",
        "file_hour",
        "event_type",
        "bytes",
        ((cum - F.pmod(cum, F.lit(_COMPACT_TARGET))) / _COMPACT_TARGET)
        .cast("bigint")
        .alias("bin_id"),
    )
    return planned.groupBy("part_day", "bin_id").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("bytes").cast("bigint").alias("total_bytes"),
        F.min("file_hour").cast("bigint").alias("first_hour"),
        F.max("file_hour").cast("bigint").alias("last_hour"),
    )


# --------------------------------------------------------------------------
# B11b — gap-fill / fill(previous): last known value per event_type at
# each point of a regular 1-hour grid (InfluxQL GROUP BY time fill(previous))
# --------------------------------------------------------------------------
@register(
    "b11_gapfill_previous",
    oracle="""
    WITH grid AS (
      SELECT et.event_type,
        TIMESTAMP '2024-01-01 00:00:00' + to_seconds(3600 * g.i) AS grid_ts
      FROM (SELECT DISTINCT event_type FROM events) et
      CROSS JOIN (SELECT unnest(range(0, 48)) AS i) g
    ),
    unioned AS (
      SELECT event_type, grid_ts AS ts, 1 AS is_grid,
        CAST(NULL AS DOUBLE) AS value, CAST(NULL AS BIGINT) AS event_id
      FROM grid
      UNION ALL
      SELECT event_type, ts, 0, value, event_id
      FROM events WHERE ts < TIMESTAMP '2024-01-03'
    ),
    filled AS (
      SELECT event_type, ts, is_grid,
        LAST_VALUE(value IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY ts, is_grid, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS filled_value
      FROM unioned
    )
    SELECT event_type, ts AS grid_ts, filled_value
    FROM filled WHERE is_grid = 1
    """,
    tags=("B11", "B3"),
)
def b11_gapfill(spark, sf_dir):
    ev = events_between(spark, sf_dir, hi="2024-01-03")
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(
        spark.range(48).select(
            (
                F.lit("2024-01-01 00:00:00").cast("timestamp")
                + F.make_dt_interval(hours=F.col("id"))
            ).alias("grid_ts")
        )
    )
    unioned = grid.select(
        "event_type",
        F.col("grid_ts").alias("ts"),
        F.lit(1).alias("is_grid"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("bigint").alias("event_id"),
    ).unionByName(
        ev.select(
            "event_type", "ts", F.lit(0).alias("is_grid"), "value", "event_id"
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "is_grid", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.withColumn("filled_value", F.last("value", ignorenulls=True).over(w))
        .filter(F.col("is_grid") == 1)
        .select("event_type", F.col("ts").alias("grid_ts"), "filled_value")
    )


# --------------------------------------------------------------------------
# B12b — InfluxQL series transforms: difference(), derivative(),
# cumulative_sum() per series
# --------------------------------------------------------------------------
@register(
    "b12_influxql_transforms",
    oracle="""
    SELECT event_id, user_id, ts, value,
      ROUND(value - LAG(value) OVER w, 4) AS difference,
      (CASE WHEN CAST(ROUND(value * 100) AS BIGINT)
                 - CAST(ROUND(LAG(value) OVER w * 100) AS BIGINT) >= 0 THEN
        ((2 * (CAST(ROUND(value * 100) AS BIGINT)
               - CAST(ROUND(LAG(value) OVER w * 100) AS BIGINT)) * 1000000
          + 100 * (CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT)))
         // (2 * 100 * (CAST(FLOOR(epoch(ts)) AS BIGINT)
                        - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT))))
        / 1000000.0
       ELSE
        -(((2 * (CAST(ROUND(LAG(value) OVER w * 100) AS BIGINT)
                 - CAST(ROUND(value * 100) AS BIGINT)) * 1000000
            + 100 * (CAST(FLOOR(epoch(ts)) AS BIGINT)
                     - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT)))
           // (2 * 100 * (CAST(FLOOR(epoch(ts)) AS BIGINT)
                          - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT))))
          / 1000000.0)
       END) AS derivative_per_s,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
        w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        AS cumulative_sum
    FROM events
    WHERE user_id < 10
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("B12", "B16"),
)
def b12_transforms(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cents = F.round(F.col("value") * 100).cast("bigint")
    diff = F.col("value") - F.lag("value").over(w)
    cdiff = cents - F.lag(cents).over(w)
    dt = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.round(diff, 4).alias("difference"),
        # derivative = cdiff/(100·dt); signed → sign-magnitude exact
        round_ratio_signed(cdiff, 100 * dt, 6).alias("derivative_per_s"),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .over(wf)
        .cast("double")
        .alias("cumulative_sum"),
    )


# --------------------------------------------------------------------------
# B23b — exact discrete percentiles (InfluxQL percentile()) via the
# rank-at-ceil(q·n) formulation — deterministic across engines, no
# interpolation-convention drift
# --------------------------------------------------------------------------
@register(
    "b23_percentiles",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type, MAX(n) AS n,
      MAX(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT) THEN value END) AS p50,
      MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN value END) AS p95,
      MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN value END) AS p99
    FROM ranked GROUP BY event_type
    """,
    tags=("B23", "B13"),
)
def b23_percentiles(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n"),
    )

    def pick(q):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"),
                F.col("value"),
            )
        )

    return ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        pick(0.50).alias("p50"),
        pick(0.95).alias("p95"),
        pick(0.99).alias("p99"),
    )


# --------------------------------------------------------------------------
# B23c — value histogram (Grafana histogram panel): fixed-width bins
# --------------------------------------------------------------------------
@register(
    "b23_histogram",
    oracle="""
    SELECT event_type,
      CAST(FLOOR(value / 50) * 50 AS BIGINT) AS bin_start,
      COUNT(*) AS n
    FROM events
    GROUP BY event_type, bin_start
    """,
    tags=("B23", "B15"),
)
def b23_histogram(spark, sf_dir):
    return (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (F.floor(F.col("value") / 50) * 50).cast("bigint").alias("bin_start"),
        )
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# B12c — EWMA per series (InfluxQL exponential_moving_average): a
# sequential fold, so it runs as grouped-map applyInPandas (the B30
# grouped-map surface). Exactness vs a pure-Python fold is asserted in
# tests/test_operators.py — AND the fold is hash-checked against a
# DuckDB recursive CTE applying the identical IEEE-754 expression tree
# (`0.3*v + (1-0.3)*acc`: the (1-0.3) must be written as a
# subtraction in both engines, because the literal 0.7 is a DIFFERENT
# double than 1-0.3).
# --------------------------------------------------------------------------
_B12_EWMA_ORACLE = """
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, ts, value,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id < 10
    ),
    rec AS (
      SELECT user_id, event_id, ts, value, rn, value AS ewma
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.ts, s.value, s.rn,
        0.3 * s.value + (1 - 0.3) * r.ewma
      FROM seq s JOIN rec r ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id, ts, value, ewma FROM rec
"""


@register("b12_ewma", oracle=_B12_EWMA_ORACLE, tags=("B12", "B30"))
def b12_ewma(spark, sf_dir):
    import pandas as pd

    alpha = 0.3

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        # pandas ewm(adjust=False) applies the identical IEEE-754 tree
        # (old_wt*acc + new_wt*v, then an exact /1.0) — verified
        # bit-equal to the explicit fold in tests/test_operators.py,
        # and C-loop fast instead of Python-loop slow.
        pdf["ewma"] = pdf["value"].ewm(alpha=alpha, adjust=False).mean()
        return pdf[["user_id", "event_id", "ts", "value", "ewma"]]

    return (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(
            ewma,
            "user_id bigint, event_id bigint, ts timestamp, value double, ewma double",
        )
    )


# --------------------------------------------------------------------------
# B3b — remaining InfluxQL aggregates: spread(), mode(), integral()
# (trapezoidal, per hour) per event_type
# --------------------------------------------------------------------------
@register(
    "b3_influx_aggregates",
    oracle="""
    WITH seq AS (
      SELECT event_type, ts, value,
        LAG(value) OVER w AS pv,
        LAG(ts) OVER w AS pt
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ),
    trap AS (
      SELECT event_type,
        SUM(CAST(ROUND((value + pv) * 50) AS BIGINT)
            * (CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(pt)) AS BIGINT)))
          AS integral_scaled
      FROM seq WHERE pv IS NOT NULL
      GROUP BY event_type
    ),
    freq AS (
      SELECT event_type, CAST(FLOOR(value) AS BIGINT) AS vbin, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    mode_pick AS (
      SELECT event_type, vbin AS mode_bin,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c DESC, vbin) AS rn
      FROM freq
    ),
    base AS (
      SELECT event_type,
        ROUND(MAX(value) - MIN(value), 4) AS spread
      FROM events GROUP BY event_type
    )
    SELECT b.event_type, b.spread, m.mode_bin,
      ((2 * t.integral_scaled * 10000 + 360000)
       // (2 * 360000)) / 10000.0 AS integral_per_hour
    FROM base b
    JOIN mode_pick m ON m.event_type = b.event_type AND m.rn = 1
    JOIN trap t ON t.event_type = b.event_type
    """,
    tags=("B3", "B23"),
)
def b3_influx_aggs(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "ts",
        "value",
        F.lag("value").over(w).alias("pv"),
        F.lag("ts").over(w).alias("pt"),
    )
    # trapezoid areas in exact scaled-integer units: (v+pv)·50 is an
    # integer (values have 2 decimals), Δt in whole seconds
    trap = (
        seq.filter(F.col("pv").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum(
                F.round((F.col("value") + F.col("pv")) * 50).cast("bigint")
                * (F.unix_timestamp("ts") - F.unix_timestamp("pt"))
            ).alias("integral_scaled")
        )
    )
    freq = ev.groupBy(
        "event_type", F.floor("value").cast("bigint").alias("vbin")
    ).agg(F.count("*").alias("c"))
    wm = Window.partitionBy("event_type").orderBy(F.col("c").desc(), "vbin")
    mode_pick = (
        freq.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("vbin").alias("mode_bin"))
    )
    base = ev.groupBy("event_type").agg(
        F.round(F.max("value") - F.min("value"), 4).alias("spread")
    )
    return (
        base.join(mode_pick, "event_type")
        .join(trap, "event_type")
        .select(
            "event_type",
            "spread",
            "mode_bin",
            round_ratio(F.col("integral_scaled"), F.lit(360000), 4).alias(
                "integral_per_hour"
            ),
        )
    )


# --------------------------------------------------------------------------
# B12d — remaining InfluxQL series transforms: elapsed(),
# non_negative_derivative(), non_negative_difference(), moving_average(5).
# Moving average uses an exact DECIMAL window sum divided by the window
# row count so both engines compute the identical double.
# --------------------------------------------------------------------------
@register(
    "b12_influxql_transforms2",
    oracle="""
    SELECT event_id, user_id, ts, value,
      CAST(FLOOR(epoch(ts)) AS BIGINT)
        - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT) AS elapsed_s,
      CASE WHEN value - LAG(value) OVER w >= 0
           THEN ROUND(value - LAG(value) OVER w, 4) END
        AS nn_difference,
      CASE WHEN CAST(ROUND(value * 100) AS BIGINT)
                - CAST(ROUND(LAG(value) OVER w * 100) AS BIGINT) >= 0 THEN
        ((2 * (CAST(ROUND(value * 100) AS BIGINT)
               - CAST(ROUND(LAG(value) OVER w * 100) AS BIGINT)) * 1000000
          + 100 * (CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT)))
         // (2 * 100 * (CAST(FLOOR(epoch(ts)) AS BIGINT)
                        - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT))))
        / 1000000.0 END AS nn_derivative_per_s,
      ((2 * SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
          w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) * 100
        + COUNT(*) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
       // (2 * COUNT(*) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)))
       / 10000.0 AS moving_avg_5
    FROM events
    WHERE user_id < 10
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("B12", "B16"),
)
def b12_transforms2(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-4, Window.currentRow)
    cents = F.round(F.col("value") * 100).cast("bigint")
    cdiff = cents - F.lag(cents).over(w)
    diff = F.col("value") - F.lag("value").over(w)
    dt = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        dt.alias("elapsed_s"),
        F.round(F.when(diff >= 0, diff), 4).alias("nn_difference"),
        F.when(cdiff >= 0, round_ratio(cdiff, 100 * dt, 6)).alias(
            "nn_derivative_per_s"
        ),
        round_ratio(
            F.sum(cents).over(wf), 100 * F.count("*").over(wf), 4
        ).alias("moving_avg_5"),
    )


# --------------------------------------------------------------------------
# B12g — InfluxQL 1.8 technical-analysis suite through the front door:
# EXPONENTIAL_MOVING_AVERAGE / DOUBLE_/TRIPLE_ / TRIPLE_EXPONENTIAL_
# DERIVATIVE compiled from the wire statement (functions/influxql.py
# _apply_ta: one Arrow-batched applyInPandas fold per statement,
# parallel across series). The aggregate under the transforms is
# count(value) so every fold starts from EXACT integers — bucket means
# would make the hash hostage to AVG summation order; the mean-based
# forms are exercised semantically in pytest. Each fold's IEEE-754
# tree is mirrored in the chained recursive-CTE oracle (e2 = EMA(e1),
# e3 = EMA(e2), materialized between recursions so the chain stays
# linear).
# --------------------------------------------------------------------------
_B12_TA_EMA_ORACLE = """
    WITH RECURSIVE b AS MATERIALIZED (
      SELECT event_type,
        TIMESTAMP '1970-01-01 00:00:00' + to_seconds(
          CAST(FLOOR(FLOOR(epoch(ts)) / 21600) * 21600 AS BIGINT)
        ) AS time,
        COUNT(value) AS c
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-29'
      GROUP BY 1, 2
    ),
    s AS MATERIALIZED (
      SELECT event_type, time, c,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY time) AS rn
      FROM b
    ),
    e1 AS (
      SELECT event_type, time, rn, CAST(c AS DOUBLE) AS v FROM s WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.time, s.rn,
        (2.0/11.0) * s.c + (1 - (2.0/11.0)) * r.v
      FROM s JOIN e1 r ON s.event_type = r.event_type AND s.rn = r.rn + 1
    ),
    m1 AS MATERIALIZED (SELECT * FROM e1),
    e2 AS (
      SELECT event_type, rn, v AS w FROM m1 WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.rn, (2.0/11.0) * s.v + (1 - (2.0/11.0)) * r.w
      FROM m1 s JOIN e2 r ON s.event_type = r.event_type AND s.rn = r.rn + 1
    ),
    m2 AS MATERIALIZED (SELECT * FROM e2),
    e3 AS (
      SELECT event_type, rn, w AS u FROM m2 WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.rn, (2.0/11.0) * s.w + (1 - (2.0/11.0)) * r.u
      FROM m2 s JOIN e3 r ON s.event_type = r.event_type AND s.rn = r.rn + 1
    ),
    m3 AS MATERIALIZED (SELECT * FROM e3)
    SELECT m1.time, m1.event_type,
      m1.v AS ema,
      2 * m1.v - m2.w AS dema,
      3 * m1.v - 3 * m2.w + m3.u AS tema,
      CASE WHEN LAG(m3.u) OVER pw IS NOT NULL AND LAG(m3.u) OVER pw <> 0
           THEN 100.0 * (m3.u - LAG(m3.u) OVER pw) / LAG(m3.u) OVER pw
      END AS trix
    FROM m1
    JOIN m2 ON m1.event_type = m2.event_type AND m1.rn = m2.rn
    JOIN m3 ON m1.event_type = m3.event_type AND m1.rn = m3.rn
    WINDOW pw AS (PARTITION BY m1.event_type ORDER BY m1.rn)
"""


@register("b12_influxql_ta_ema", oracle=_B12_TA_EMA_ORACLE, tags=("B12", "B3"))
def b12_influxql_ta_ema(spark, sf_dir):
    from ..functions.influxql import compile_statement

    ev = events_between(spark, sf_dir, "2024-01-01", "2024-01-29")
    return compile_statement(
        "SELECT exponential_moving_average(count(value), 10) AS ema, "
        "double_exponential_moving_average(count(value), 10) AS dema, "
        "triple_exponential_moving_average(count(value), 10) AS tema, "
        "triple_exponential_derivative(count(value), 10) AS trix "
        "FROM events "
        "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-29 00:00:00' "
        "GROUP BY time(6h), event_type",
        ev,
    )


# --------------------------------------------------------------------------
# B12h — the oscillator half of the TA suite: RELATIVE_STRENGTH_INDEX
# (Wilder smoothing), CHANDE_MOMENTUM_OSCILLATOR, KAUFMANS_EFFICIENCY_
# RATIO, KAUFMANS_ADAPTIVE_MOVING_AVERAGE. Window-sum terms are exact
# BIGINT sums of count() diffs (order-independent in both engines);
# the only recursions are Wilder's gain/loss fold and KAMA's adaptive
# fold, mirrored tree-for-tree. Emission: rn > period for the window
# functions, rn > 14 for RSI — rows where at least one column is
# defined survive, others are NULL on both sides.
# --------------------------------------------------------------------------
_B12_TA_OSC_ORACLE = """
    WITH RECURSIVE b AS MATERIALIZED (
      SELECT event_type,
        TIMESTAMP '1970-01-01 00:00:00' + to_seconds(
          CAST(FLOOR(FLOOR(epoch(ts)) / 21600) * 21600 AS BIGINT)
        ) AS time,
        COUNT(value) AS c
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-29'
      GROUP BY 1, 2
    ),
    s AS MATERIALIZED (
      SELECT event_type, time, c,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY time) AS rn,
        c - LAG(c) OVER (PARTITION BY event_type ORDER BY time) AS d
      FROM b
    ),
    win AS MATERIALIZED (
      SELECT event_type, time, c, rn, d,
        SUM(GREATEST(d, 0)) OVER tw AS s_up,
        SUM(GREATEST(-d, 0)) OVER tw AS s_dn,
        LAG(c, 10) OVER (PARTITION BY event_type ORDER BY rn) AS c10
      FROM s
      WINDOW tw AS (PARTITION BY event_type ORDER BY rn
                    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    ),
    -- Wilder RSI: seed = mean of the first 14 diffs at rn 15
    seed AS MATERIALIZED (
      SELECT event_type,
        SUM(GREATEST(d, 0)) / 14 AS ag, SUM(GREATEST(-d, 0)) / 14 AS al
      FROM s WHERE rn BETWEEN 2 AND 15 GROUP BY event_type
    ),
    wr AS (
      SELECT s.event_type, s.rn, seed.ag, seed.al
      FROM s JOIN seed ON s.event_type = seed.event_type WHERE s.rn = 15
      UNION ALL
      SELECT s.event_type, s.rn,
        (r.ag * 13 + GREATEST(s.d, 0)) / 14,
        (r.al * 13 + GREATEST(-s.d, 0)) / 14
      FROM s JOIN wr r ON s.event_type = r.event_type AND s.rn = r.rn + 1
    ),
    mr AS MATERIALIZED (SELECT * FROM wr),
    -- KAMA: er/sc are y-independent per row; only y itself recurses
    kin AS MATERIALIZED (
      SELECT event_type, rn, c,
        CASE WHEN (s_up + s_dn) = 0 THEN 0.0
             ELSE ABS(c - c10) / (s_up + s_dn) END
          * (2.0/3.0 - 2.0/31.0) + 2.0/31.0 AS tt
      FROM win WHERE rn >= 11
    ),
    ky AS (
      SELECT k.event_type, k.rn,
        CAST(p.c AS DOUBLE) + (k.tt * k.tt) * (k.c - CAST(p.c AS DOUBLE))
          AS y
      FROM kin k JOIN s p
        ON p.event_type = k.event_type AND p.rn = 10
      WHERE k.rn = 11
      UNION ALL
      SELECT k.event_type, k.rn, r.y + (k.tt * k.tt) * (k.c - r.y)
      FROM kin k JOIN ky r
        ON k.event_type = r.event_type AND k.rn = r.rn + 1
    ),
    my AS MATERIALIZED (SELECT * FROM ky)
    SELECT w.time, w.event_type,
      CASE WHEN w.rn >= 15 THEN
        CASE WHEN mr.al = 0 THEN 100.0
             ELSE 100.0 - 100.0 / (1.0 + mr.ag / mr.al) END
      END AS rsi,
      CASE WHEN w.rn >= 11 THEN
        CASE WHEN (w.s_up + w.s_dn) = 0 THEN 0.0
             ELSE 100.0 * (w.s_up - w.s_dn) / (w.s_up + w.s_dn) END
      END AS cmo,
      CASE WHEN w.rn >= 11 THEN
        CASE WHEN (w.s_up + w.s_dn) = 0 THEN 0.0
             ELSE ABS(w.c - w.c10) / (w.s_up + w.s_dn) END
      END AS ker,
      my.y AS kama
    FROM win w
    LEFT JOIN mr ON mr.event_type = w.event_type AND mr.rn = w.rn
    LEFT JOIN my ON my.event_type = w.event_type AND my.rn = w.rn
    WHERE w.rn >= 11
"""


@register("b12_influxql_ta_osc", oracle=_B12_TA_OSC_ORACLE, tags=("B12", "B3"))
def b12_influxql_ta_osc(spark, sf_dir):
    from ..functions.influxql import compile_statement

    ev = events_between(spark, sf_dir, "2024-01-01", "2024-01-29")
    return compile_statement(
        "SELECT relative_strength_index(count(value), 14) AS rsi, "
        "chande_momentum_oscillator(count(value), 10) AS cmo, "
        "kaufmans_efficiency_ratio(count(value), 10) AS ker, "
        "kaufmans_adaptive_moving_average(count(value), 10) AS kama "
        "FROM events "
        "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-29 00:00:00' "
        "GROUP BY time(6h), event_type",
        ev,
    )


# --------------------------------------------------------------------------
# B24b — Holt double-exponential smoothing (InfluxQL holt_winters()
# without the seasonal term): level/trend recursion over the hourly
# downsampled series per event_type, plus 1/2/3-bucket-ahead forecasts.
#
# The recursion is a sequential fold per series, so it runs as grouped-
# map applyInPandas — parallel ACROSS series (at 100 TB there are
# millions of (plc, alias) series; per-series length is bounded by the
# downsample grid, so each task is tiny and the stage is embarrassingly
# parallel). The hourly mean is an exact DECIMAL sum / count so both
# engines start the recursion from identical doubles; the fold itself
# applies the same IEEE-754 expression tree in both engines, making
# even this iterative operator hash-checkable against a DuckDB
# recursive CTE.
# --------------------------------------------------------------------------
_HOLT_ALPHA = 0.2
_HOLT_BETA = 0.1

_B24_HOLT_ORACLE = """
    WITH RECURSIVE hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
        CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, y,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
        COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM hourly
    ),
    rec AS (
      SELECT event_type, rn, n, y AS l, CAST(0.0 AS DOUBLE) AS b
      FROM series WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.rn, s.n,
        0.2 * s.y + 0.8 * (r.l + r.b),
        0.1 * (0.2 * s.y + 0.8 * (r.l + r.b) - r.l) + 0.9 * r.b
      FROM series s JOIN rec r ON s.event_type = r.event_type AND s.rn = r.rn + 1
    )
    SELECT event_type, n AS n_buckets,
      ROUND(l, 4) AS level,
      ROUND(b, 4) AS trend,
      ROUND(l + b, 4) AS forecast_1,
      ROUND(l + 2 * b, 4) AS forecast_2,
      ROUND(l + 3 * b, 4) AS forecast_3
    FROM rec WHERE rn = n
"""


# --------------------------------------------------------------------------
# B23ec — EWMA CONTROL CHART (statistical process control): the
# classic SPC monitor for a PLC process variable — EWMA(λ=0.2) of the
# hourly bucket means against the asymptotic control limits
# center ± 3σ·sqrt(λ/(2−λ)), reporting per series the violation count,
# the FIRST out-of-control hour, and the worst deviation. This is the
# chart a process engineer actually watches (EWMA detects small
# sustained shifts Shewhart charts miss).
#
# Determinism: bucket means are half-up-rounded to INTEGER centi-cent
# units (yq), so center/σ come from exact integer sums (the cross
# products in DECIMAL(38)/HUGEINT), the EWMA fold consumes identical
# integer-valued doubles through the b12_ewma expression tree, and
# every violation decision compares identical doubles. Aggregations
# are COUNT / MIN / MAX only — order-independent.
#
# Scale shape: events collapse ~3600:1 to hourly buckets first; the
# fold runs per series over BUCKETS (the holt contract); stats are
# one map-side-combined aggregate joined back by broadcast.
# --------------------------------------------------------------------------
_B23_EWMA_CC_ORACLE = """
    WITH RECURSIVE hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
        COUNT(*) AS nb,
        CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sc
      FROM events GROUP BY 1, 2
    ),
    q AS (
      SELECT event_type, h,
        (2 * (100 * sc) + nb) // (2 * nb) AS yq
      FROM hourly
    ),
    st AS (
      SELECT event_type,
        COUNT(*) AS b,
        CAST(SUM(yq) AS DOUBLE) / COUNT(*) AS center,
        SQRT(
          CAST(COUNT(*) * CAST(SUM(CAST(yq AS HUGEINT) * yq) AS HUGEINT)
               - CAST(SUM(yq) AS HUGEINT) * SUM(yq) AS DOUBLE)
          / (CAST(COUNT(*) AS DOUBLE) * (COUNT(*) - 1))
          * (0.2 / 1.8)
        ) AS sig_stat
      FROM q GROUP BY 1
    ),
    seq AS (
      SELECT event_type, h, yq,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM q
    ),
    rec AS (
      SELECT event_type, h, rn, CAST(yq AS DOUBLE) AS ewma
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.h, s.rn,
        0.2 * CAST(s.yq AS DOUBLE) + 0.8 * r.ewma
      FROM seq s JOIN rec r
        ON s.event_type = r.event_type AND s.rn = r.rn + 1
    ),
    v AS (
      SELECT r.event_type, st.b, r.h,
        ABS(r.ewma - st.center) AS dev,
        CASE WHEN ABS(r.ewma - st.center) > 3 * st.sig_stat
             THEN 1 ELSE 0 END AS viol
      FROM rec r JOIN st USING (event_type)
    )
    SELECT event_type,
      CAST(b AS BIGINT) AS n_buckets,
      CAST(SUM(viol) AS BIGINT) AS n_violations,
      MIN(CASE WHEN viol = 1 THEN h END) AS first_violation_h,
      MAX(dev) AS max_abs_dev
    FROM v GROUP BY 1, 2
"""


@register("b23_ewma_control", oracle=_B23_EWMA_CC_ORACLE, tags=("B23",))
def b23_ewma_control(spark, sf_dir):
    import pandas as pd

    hourly = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count("*").alias("nb"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sc"),
        )
    )
    num = 2 * (100 * F.col("sc")) + F.col("nb")
    q = hourly.select(
        "event_type",
        "h",
        ((num - F.pmod(num, 2 * F.col("nb"))) / (2 * F.col("nb")))
        .cast("bigint")
        .alias("yq"),
    )
    dec = "decimal(38,0)"
    st = q.groupBy("event_type").agg(
        F.count("*").alias("b"),
        (F.sum("yq").cast("double") / F.count("*")).alias("center"),
        F.sqrt(
            (
                F.count("*").cast(dec)
                * F.sum((F.col("yq").cast(dec) * F.col("yq")).cast(dec)).cast(
                    dec
                )
                - F.sum("yq").cast(dec) * F.sum("yq").cast(dec)
            ).cast("double")
            / (F.count("*").cast("double") * (F.count("*") - 1))
            * (0.2 / 1.8)
        ).alias("sig_stat"),
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h").reset_index(drop=True)
        # identical tree to the oracle's recursive CTE (the b12_ewma
        # adjust=False contract, verified bit-equal in test_operators)
        pdf["ewma"] = (
            pdf["yq"].astype("float64").ewm(alpha=0.2, adjust=False).mean()
        )
        return pdf[["event_type", "h", "ewma"]]

    ew = q.groupBy("event_type").applyInPandas(
        fold, "event_type string, h timestamp, ewma double"
    )
    v = ew.join(F.broadcast(st), "event_type").select(
        "event_type",
        "b",
        "h",
        F.abs(F.col("ewma") - F.col("center")).alias("dev"),
        (
            F.abs(F.col("ewma") - F.col("center")) > 3 * F.col("sig_stat")
        ).cast("int").alias("viol"),
    )
    return v.groupBy("event_type", F.col("b").alias("n_buckets")).agg(
        F.sum("viol").cast("bigint").alias("n_violations"),
        F.min(F.when(F.col("viol") == 1, F.col("h"))).alias(
            "first_violation_h"
        ),
        F.max("dev").alias("max_abs_dev"),
    ).select(
        "event_type",
        F.col("n_buckets").cast("bigint").alias("n_buckets"),
        "n_violations",
        "first_violation_h",
        "max_abs_dev",
    )


# --------------------------------------------------------------------------
# B24bt — FORECAST BACKTEST (evaluation as a query, the audit-as-query
# pattern applied to the forecast family): fit Holt on each series'
# first 80% of hourly buckets, forecast the held-out 20% h steps
# ahead, and score against the NAIVE last-value baseline — the skill
# check every forecast deployment runs before anyone trusts trend
# numbers on a dashboard. Determinism without summing doubles: the
# fold is the b24_holt_forecast expression tree (identical IEEE bits
# both engines), per-bucket errors are |identical doubles|, and the
# metrics are exclusively MAX / comparison-COUNT aggregations — both
# order-independent — so no error SUM (whose accumulation order
# engines won't agree on) ever happens. n_beats_naive vs n_ties
# splits the skill signal exactly.
# --------------------------------------------------------------------------
_B24_BACKTEST_ORACLE = """
    WITH RECURSIVE hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
        CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, y,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
        COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM hourly
    ),
    tr AS (SELECT *, (4 * n) // 5 AS n_train FROM series),
    rec AS (
      SELECT event_type, rn, n_train, y AS l, CAST(0.0 AS DOUBLE) AS b
      FROM tr WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.rn, s.n_train,
        0.2 * s.y + 0.8 * (r.l + r.b),
        0.1 * (0.2 * s.y + 0.8 * (r.l + r.b) - r.l) + 0.9 * r.b
      FROM tr s JOIN rec r
        ON s.event_type = r.event_type AND s.rn = r.rn + 1
      WHERE s.rn <= s.n_train
    ),
    fitted AS (
      SELECT event_type, n_train, l, b FROM rec WHERE rn = n_train
    ),
    naive AS (
      SELECT event_type, y AS y_last FROM tr WHERE rn = n_train
    ),
    test AS (
      SELECT event_type, rn - n_train AS hstep, y
      FROM tr WHERE rn > n_train
    ),
    err AS (
      SELECT t.event_type, f.n_train,
        ABS(f.l + t.hstep * f.b - t.y) AS he,
        ABS(nv.y_last - t.y) AS ne
      FROM test t
      JOIN fitted f USING (event_type)
      JOIN naive nv USING (event_type)
    )
    SELECT event_type,
      CAST(n_train AS BIGINT) AS n_train,
      CAST(COUNT(*) AS BIGINT) AS n_test,
      MAX(he) AS max_abs_err,
      CAST(SUM(CASE WHEN he < ne THEN 1 ELSE 0 END) AS BIGINT)
        AS n_beats_naive,
      CAST(SUM(CASE WHEN he = ne THEN 1 ELSE 0 END) AS BIGINT) AS n_ties
    FROM err GROUP BY 1, 2
"""


@register("b24_backtest", oracle=_B24_BACKTEST_ORACLE, tags=("B24",))
def b24_backtest(spark, sf_dir):
    import pandas as pd

    hourly = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(14,2)")).cast("double")
                / F.count("*")
            ).alias("y")
        )
    )
    wr = Window.partitionBy("event_type").orderBy("h")
    wn = Window.partitionBy("event_type")
    series = hourly.select(
        "event_type",
        "y",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    ).withColumn("n_train", F.expr("4 * n div 5"))

    def holt_fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn").reset_index(drop=True)
        ys = pdf["y"].tolist()
        lvl, trd = ys[0], 0.0
        for y in ys[1:]:
            # identical expression tree to b24_holt_forecast / the
            # oracle's recursive CTE
            l_new = _HOLT_ALPHA * y + (1 - _HOLT_ALPHA) * (lvl + trd)
            trd = _HOLT_BETA * (l_new - lvl) + (1 - _HOLT_BETA) * trd
            lvl = l_new
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"][0]],
                "n_train": [len(ys)],
                "l": [lvl],
                "b": [trd],
                "y_last": [ys[-1]],
            }
        )

    fitted = (
        series.filter(F.col("rn") <= F.col("n_train"))
        .groupBy("event_type")
        .applyInPandas(
            holt_fit,
            "event_type string, n_train bigint, l double, b double, "
            "y_last double",
        )
    )
    test = series.filter(F.col("rn") > F.col("n_train")).select(
        "event_type", (F.col("rn") - F.col("n_train")).alias("hstep"), "y"
    )
    err = test.join(F.broadcast(fitted), "event_type").select(
        "event_type",
        "n_train",
        F.abs(F.col("l") + F.col("hstep") * F.col("b") - F.col("y")).alias(
            "he"
        ),
        F.abs(F.col("y_last") - F.col("y")).alias("ne"),
    )
    return err.groupBy("event_type", "n_train").agg(
        F.count("*").cast("bigint").alias("n_test"),
        F.max("he").alias("max_abs_err"),
        F.sum((F.col("he") < F.col("ne")).cast("int"))
        .cast("bigint")
        .alias("n_beats_naive"),
        F.sum((F.col("he") == F.col("ne")).cast("int"))
        .cast("bigint")
        .alias("n_ties"),
    )


@register("b24_holt_forecast", oracle=_B24_HOLT_ORACLE, tags=("B24", "B30"))
def b24_holt_forecast(spark, sf_dir):
    import pandas as pd

    hourly = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(14,2)")).cast("double")
                / F.count("*")
            ).alias("y")
        )
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h").reset_index(drop=True)
        ys = pdf["y"].tolist()
        lvl, trd = ys[0], 0.0
        for y in ys[1:]:
            # identical expression tree to the oracle's recursive CTE —
            # IEEE-754 ops are exactly rounded, so same tree ⇒ same bits.
            # Not ewm-vectorizable: level and trend are mutually
            # recursive (two coupled state variables, vs ewm's one);
            # the loop runs over ≤ a few hundred BUCKETS per series,
            # not raw points, so it is not a hot path.
            l_new = _HOLT_ALPHA * y + (1 - _HOLT_ALPHA) * (lvl + trd)
            trd = _HOLT_BETA * (l_new - lvl) + (1 - _HOLT_BETA) * trd
            lvl = l_new
        # rounding happens Spark-side (F.round) — Python round() is
        # banker's rounding, Spark/DuckDB round half-up
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"][0]],
                "n_buckets": [len(ys)],
                "l": [lvl],
                "b": [trd],
            }
        )

    fitted = hourly.groupBy("event_type").applyInPandas(
        holt, "event_type string, n_buckets bigint, l double, b double"
    )
    return fitted.select(
        "event_type",
        "n_buckets",
        F.round("l", 4).alias("level"),
        F.round("b", 4).alias("trend"),
        F.round(F.col("l") + F.col("b"), 4).alias("forecast_1"),
        F.round(F.col("l") + 2 * F.col("b"), 4).alias("forecast_2"),
        F.round(F.col("l") + 3 * F.col("b"), 4).alias("forecast_3"),
    )


# --------------------------------------------------------------------------
# B3c — the InfluxQL front door end-to-end: a Grafana-style statement
# compiled by functions/influxql.py, oracle-checked like any other
# query. This is the "switch engines without rewriting dashboards"
# proof.
# --------------------------------------------------------------------------
@register(
    "b3_influxql_compiled",
    oracle="""
    SELECT
      TIMESTAMP '1970-01-01 00:00:00'
        + to_seconds(CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT)) AS time,
      event_type,
      COUNT(value) AS n,
      MIN(value) AS lo,
      MAX(value) AS hi,
      MAX(value) - MIN(value) AS spread
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01 06:00:00'
      AND ts <  TIMESTAMP '2024-01-01 18:00:00'
    GROUP BY 1, 2
    """,
    tags=("B3", "B16"),
)
def b3_influxql_compiled(spark, sf_dir):
    from ..functions.influxql import compile_influxql

    # Pre-trim the scan with the same bounds the statement carries so
    # the range reaches parquet as raw-nanos PushedFilters; the
    # compiler's own (identical) ts filters stay on top — redundant but
    # free, and the compiler's semantics are untouched.
    ev = events_between(
        spark, sf_dir, "2024-01-01 06:00:00", "2024-01-01 18:00:00"
    )
    return compile_influxql(
        "SELECT count(value) AS n, min(value) AS lo, max(value) AS hi, "
        "spread(value) AS spread FROM events "
        "WHERE time >= '2024-01-01 06:00:00' AND time < '2024-01-01 18:00:00' "
        "GROUP BY time(5m), event_type",
        ev,
    )


# --------------------------------------------------------------------------
# B3d/B23 — InfluxQL percentile() through the compiled front door:
# nearest-rank (an observed sample, no interpolation), exactly what
# InfluxDB 1.x returns to Grafana. Oracle replays the rank pick.
# --------------------------------------------------------------------------
@register(
    "b3_influxql_percentile",
    oracle="""
    WITH ranked AS (
      SELECT event_type,
        TIMESTAMP '1970-01-01 00:00:00'
          + to_seconds(CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT)) AS time,
        value,
        ROW_NUMBER() OVER (PARTITION BY event_type,
          CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) ORDER BY value) AS rn,
        COUNT(*) OVER (PARTITION BY event_type,
          CAST(FLOOR(epoch(ts) / 3600) AS BIGINT)) AS n
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-04'
    )
    SELECT time, event_type,
      MAX(CASE WHEN rn = GREATEST(CAST(CEIL(0.95 * n) AS BIGINT), 1)
               THEN value END) AS p95,
      MAX(value) AS peak,
      CAST(MAX(n) AS BIGINT) AS n
    FROM ranked GROUP BY time, event_type
    """,
    tags=("B3", "B23", "B16"),
)
def b3_influxql_percentile(spark, sf_dir):
    from ..functions.influxql import compile_influxql

    ev = events_between(spark, sf_dir, "2024-01-02", "2024-01-04")
    return compile_influxql(
        "SELECT percentile(value, 95) AS p95, max(value) AS peak, "
        "count(value) AS n FROM events "
        "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-04 00:00:00' "
        "GROUP BY time(1h), event_type",
        ev,
    )


# --------------------------------------------------------------------------
# B12e — InfluxQL technical-analysis transforms:
# chande_momentum_oscillator(14) and kaufmans_efficiency_ratio(14) per
# user series. All window math runs on exact integer cents (values
# carry 2 decimals), so the only float op is the final division —
# rounded half-up in integer space on both engines.
# --------------------------------------------------------------------------
@register(
    "b12_technical_analysis",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts,
        CAST(ROUND(value * 100) AS BIGINT) AS cents,
        ROW_NUMBER() OVER w AS rn,
        CAST(ROUND(value * 100) AS BIGINT)
          - LAG(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS diff,
        LAG(CAST(ROUND(value * 100) AS BIGINT), 14) OVER w AS cents_14
      FROM events WHERE user_id < 10
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    wsum AS (
      SELECT user_id, event_id, ts, rn, cents, cents_14,
        SUM(GREATEST(diff, 0)) OVER f AS s_up,
        SUM(GREATEST(-diff, 0)) OVER f AS s_down,
        SUM(ABS(diff)) OVER f AS s_abs
      FROM seq
      WINDOW f AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, ts,
      -- sign-magnitude: rounding a negative quotient differs between
      -- DuckDB's truncating // and a flooring formulation, so round
      -- the (positive) magnitude and reapply the sign
      CASE WHEN rn > 14 AND s_up + s_down > 0 THEN
        (CASE WHEN s_up >= s_down THEN 1 ELSE -1 END)
        * (((2 * 100 * ABS(s_up - s_down) * 10000 + (s_up + s_down))
            // (2 * (s_up + s_down))) / 10000.0) END AS cmo14,
      CASE WHEN rn > 14 AND s_abs > 0 THEN
        ((2 * 100 * ABS(cents - cents_14) * 10000 + s_abs)
         // (2 * s_abs)) / 10000.0 END AS ker14
    FROM wsum
    """,
    tags=("B12", "B23"),
)
def b12_technical(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.round(F.col("value") * 100).cast("bigint")
    seq = ev.select(
        "user_id",
        "event_id",
        "ts",
        cents.alias("cents"),
        F.row_number().over(w).alias("rn"),
        (cents - F.lag(cents).over(w)).alias("diff"),
        F.lag(cents, 14).over(w).alias("cents_14"),
    )
    f = Window.partitionBy("user_id").orderBy("rn").rowsBetween(-13, 0)
    wsum = seq.select(
        "user_id",
        "event_id",
        "ts",
        "rn",
        "cents",
        "cents_14",
        F.sum(F.greatest("diff", F.lit(0))).over(f).alias("s_up"),
        F.sum(F.greatest(-F.col("diff"), F.lit(0))).over(f).alias("s_down"),
        F.sum(F.abs("diff")).over(f).alias("s_abs"),
    )

    def ratio4(a, b):
        # integer-space half-up rounding for NON-NEGATIVE a (see b21
        # quality). Exact floor division via (n - pmod(n, d)) / d —
        # double `/` + floor alone can cross an integer boundary on
        # near-integer quotients. Signed quantities go through
        # sign-magnitude (see cmo14) because negative integer division
        # conventions differ across engines.
        n = 2 * a * 10000 + b
        d = 2 * b
        return ((n - F.pmod(n, d)) / d).cast("bigint") / 10000.0

    tot = F.col("s_up") + F.col("s_down")
    return wsum.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            (F.col("rn") > 14) & (tot > 0),
            F.when(F.col("s_up") >= F.col("s_down"), 1).otherwise(-1)
            * ratio4(100 * F.abs(F.col("s_up") - F.col("s_down")), tot),
        ).alias("cmo14"),
        F.when(
            (F.col("rn") > 14) & (F.col("s_abs") > 0),
            ratio4(100 * F.abs(F.col("cents") - F.col("cents_14")), F.col("s_abs")),
        ).alias("ker14"),
    )


# --------------------------------------------------------------------------
# B12f — relative_strength_index(14) with Wilder smoothing: seed = SMA
# of the first 14 gains/losses (exact integer cents / one division),
# then the standard recursion. The fold runs as grouped-map
# applyInPandas; the oracle replays the identical IEEE-754 expression
# tree in a recursive CTE. No rounding anywhere — identical doubles
# hash identically, and ROUND-on-double is exactly where engines
# disagree (see b21/b12e).
# --------------------------------------------------------------------------
_B12_RSI_ORACLE = """
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, ts,
        ROW_NUMBER() OVER w AS rn,
        GREATEST(CAST(ROUND(value * 100) AS BIGINT)
                 - LAG(CAST(ROUND(value * 100) AS BIGINT)) OVER w, 0) AS cg,
        GREATEST(LAG(CAST(ROUND(value * 100) AS BIGINT)) OVER w
                 - CAST(ROUND(value * 100) AS BIGINT), 0) AS cl
      FROM events WHERE user_id < 10
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    seeded AS (
      SELECT user_id, event_id, ts, rn, cg, cl,
        SUM(cg) OVER f AS sum_g, SUM(cl) OVER f AS sum_l
      FROM seq
      WINDOW f AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    rec AS (
      SELECT user_id, event_id, ts, rn,
        sum_g / 1400.0 AS ag, sum_l / 1400.0 AS al
      FROM seeded WHERE rn = 15
      UNION ALL
      SELECT s.user_id, s.event_id, s.ts, s.rn,
        (r.ag * 13 + s.cg / 100.0) / 14,
        (r.al * 13 + s.cl / 100.0) / 14
      FROM seq s JOIN rec r ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id, ts,
      CASE WHEN al = 0 THEN 100.0
           ELSE 100.0 - 100.0 / (1.0 + ag / al) END AS rsi14
    FROM rec
"""


@register("b12_rsi_wilder", oracle=_B12_RSI_ORACLE, tags=("B12", "B30"))
def b12_rsi(spark, sf_dir):
    import pandas as pd

    def rsi(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        cents = (pdf["value"] * 100).round().astype("int64").tolist()
        out_rows = []
        ag = al = None
        sum_g = sum_l = 0
        for i in range(1, len(cents)):
            d = cents[i] - cents[i - 1]
            cg, cl = max(d, 0), max(-d, 0)
            if i < 14:
                sum_g += cg
                sum_l += cl
                continue
            if i == 14:
                sum_g += cg
                sum_l += cl
                ag, al = sum_g / 1400.0, sum_l / 1400.0
            else:
                # identical tree to the oracle's recursive arm. NOT
                # replaceable by pandas ewm(alpha=1/14, adjust=False):
                # ewm computes (1-a)*acc + a*v, Wilder's published form
                # is (acc*13 + v)/14 — measured ~1.8e-14 apart (see
                # tests/test_operators.py::test_wilder_fold_vs_ewm_
                # measurement), so the loop stays to keep the oracle
                # tree bit-exact.
                ag = (ag * 13 + cg / 100.0) / 14
                al = (al * 13 + cl / 100.0) / 14
            rsi_v = 100.0 if al == 0 else 100.0 - 100.0 / (1.0 + ag / al)
            out_rows.append(
                (
                    int(pdf["user_id"][i]),
                    int(pdf["event_id"][i]),
                    pdf["ts"][i],
                    rsi_v,
                )
            )
        return pd.DataFrame(
            out_rows, columns=["user_id", "event_id", "ts", "rsi14"]
        )

    return (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(
            rsi, "user_id bigint, event_id bigint, ts timestamp, rsi14 double"
        )
    )


# --------------------------------------------------------------------------
# B4b — skew-salted aggregation (operators/skew.py) proven against the
# plain GROUP BY oracle: the two-stage (key, salt) partial + merge must
# be indistinguishable from the direct aggregate for any algebraic
# aggregate — the invariant that makes hot-key salting safe at 100 TB.
# --------------------------------------------------------------------------
@register(
    "b4_skew_salted_aggregate",
    oracle="""
    SELECT event_type,
      COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
      MIN(value) AS min_value,
      MAX(value) AS max_value
    FROM events
    GROUP BY event_type
    """,
    tags=("B4",),
)
def b4_skew_salted(spark, sf_dir):
    from ..operators.skew import salted_aggregate

    ev = t(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(12,2)")
    out = salted_aggregate(
        ev,
        ["event_type"],
        {
            "n": (F.count("*"), F.sum("n")),
            "sum_value": (F.sum(vdec), F.sum("sum_value")),
            "min_value": (F.min("value"), F.min("min_value")),
            "max_value": (F.max("value"), F.max("max_value")),
        },
        n_salts=16,
    )
    return out.select(
        "event_type",
        "n",
        F.col("sum_value").cast("double"),
        "min_value",
        "max_value",
    )


# --------------------------------------------------------------------------
# B12g — double/triple exponential moving average (InfluxQL
# double_/triple_exponential_moving_average): three chained EMA folds
# carried together through one grouped-map pass, oracle = one
# recursive CTE advancing (e1, e2, e3) per row with the identical
# IEEE-754 expression trees. Raw doubles out — no rounding.
# --------------------------------------------------------------------------
_B12_DEMA_ORACLE = """
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, ts, value,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id < 10
    ),
    rec AS (
      SELECT user_id, event_id, ts, rn,
        value AS e1, value AS e2, value AS e3
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.ts, s.rn,
        0.3 * s.value + (1 - 0.3) * r.e1,
        0.3 * (0.3 * s.value + (1 - 0.3) * r.e1) + (1 - 0.3) * r.e2,
        0.3 * (0.3 * (0.3 * s.value + (1 - 0.3) * r.e1) + (1 - 0.3) * r.e2)
          + (1 - 0.3) * r.e3
      FROM seq s JOIN rec r ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id, ts,
      2 * e1 - e2 AS dema,
      3 * e1 - 3 * e2 + e3 AS tema
    FROM rec
"""


@register("b12_dema_tema", oracle=_B12_DEMA_ORACLE, tags=("B12", "B30"))
def b12_dema_tema(spark, sf_dir):
    import pandas as pd

    a = 0.3

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        # three chained ewm(adjust=False) passes ARE the triple-EMA
        # recursion with the oracle's exact expression trees (each pass
        # seeds from the previous pass's first element, matching
        # e1=e2=e3=v0) — bit-equal to the explicit fold, verified in
        # tests/test_operators.py. Holt and Wilder-RSI stay as loops:
        # their trees ((ag*13 + cg/100)/14; coupled level/trend) have
        # no bit-identical pandas primitive — measured ~42% of samples
        # differ in the last ulp if rewritten as ewm.
        e1 = pdf["value"].ewm(alpha=a, adjust=False).mean()
        e2 = e1.ewm(alpha=a, adjust=False).mean()
        e3 = e2.ewm(alpha=a, adjust=False).mean()
        pdf["dema"] = 2 * e1 - e2
        pdf["tema"] = 3 * e1 - 3 * e2 + e3
        return pdf[["user_id", "event_id", "ts", "dema", "tema"]]

    return (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(
            fold,
            "user_id bigint, event_id bigint, ts timestamp, dema double, tema double",
        )
    )


# --------------------------------------------------------------------------
# B3e/B12f — round-2 InfluxQL front door: Grafana's nested transforms
# (derivative of a GROUP BY time() aggregate), compiled by
# functions/influxql.py. Oracle replays bucket means + the per-series
# lag quotient in exact integer-micros time deltas.
# --------------------------------------------------------------------------
@register(
    "b3_influxql_derivative",
    oracle="""
    WITH b AS (
      SELECT event_type,
        TIMESTAMP '1970-01-01 00:00:00'
          + to_seconds(CAST(FLOOR(epoch(ts) / 21600) * 21600 AS BIGINT)) AS time,
        AVG(value) AS m
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-12'
      GROUP BY 1, 2
    )
    SELECT time, event_type,
      (m - LAG(m) OVER w)
        / ((epoch_us(time) - epoch_us(LAG(time) OVER w)) / 60000000.0) AS rate
    FROM b WINDOW w AS (PARTITION BY event_type ORDER BY time)
    QUALIFY LAG(m) OVER w IS NOT NULL
    """,
    tags=("B3", "B12"),
)
def b3_influxql_derivative(spark, sf_dir):
    from ..functions.influxql import compile_statement

    ev = events_between(spark, sf_dir, "2024-01-05", "2024-01-12")
    return compile_statement(
        "SELECT derivative(mean(value), 1m) AS rate FROM events "
        "WHERE time >= '2024-01-05 00:00:00' AND time < '2024-01-12 00:00:00' "
        "GROUP BY time(6h), event_type",
        ev,
    )


@register(
    "b3_influxql_moving_average",
    oracle="""
    WITH b AS (
      SELECT event_type,
        TIMESTAMP '1970-01-01 00:00:00'
          + to_seconds(CAST(FLOOR(epoch(ts) / 86400) * 86400 AS BIGINT)) AS time,
        AVG(value) AS m,
        COUNT(value) AS c
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-29'
      GROUP BY 1, 2
    )
    SELECT time, event_type,
      CASE WHEN COUNT(m) OVER f = 4 THEN AVG(m) OVER f END AS ma,
      CAST(SUM(c) OVER r AS BIGINT) AS events_so_far
    FROM b
    WINDOW f AS (PARTITION BY event_type ORDER BY time
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
           r AS (PARTITION BY event_type ORDER BY time
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("B3", "B12"),
)
def b3_influxql_moving_average(spark, sf_dir):
    from ..functions.influxql import compile_statement

    ev = events_between(spark, sf_dir, "2024-01-01", "2024-01-29")
    return compile_statement(
        "SELECT moving_average(mean(value), 4) AS ma, "
        "cumulative_sum(count(value)) AS events_so_far FROM events "
        "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-29 00:00:00' "
        "GROUP BY time(1d), event_type",
        ev,
    )


@register(
    "b12_influxql_elapsed",
    oracle="""
    SELECT ts, el FROM (
      SELECT ts,
        CAST(FLOOR((epoch_us(ts) - LAG(epoch_us(ts)) OVER w) / 1000000.0)
             AS BIGINT) AS el
      FROM events WHERE event_type = 'purchase'
      WINDOW w AS (ORDER BY ts)
    ) WHERE el IS NOT NULL
    """,
    tags=("B12",),
)
def b12_influxql_elapsed(spark, sf_dir):
    from ..functions.influxql import compile_statement

    ev = t(spark, sf_dir, "events")
    return compile_statement(
        "SELECT elapsed(value, 1s) AS el FROM events "
        "WHERE event_type = 'purchase'",
        ev,
    )


@register(
    "b16_influxql_where_regex",
    oracle="""
    WITH flt AS (
      SELECT event_type, value FROM events
      WHERE regexp_matches(event_type, '^(click|error)$')
        AND event_type != 'view' AND value > 50
    ),
    f AS (
      SELECT event_type, value, COUNT(*) AS c FROM flt GROUP BY 1, 2
    ),
    p AS (
      SELECT event_type, value AS md,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c DESC, value) AS rn
      FROM f
    ),
    n AS (
      SELECT event_type, COUNT(value) AS n, COUNT(DISTINCT value) AS cd
      FROM flt GROUP BY 1
    )
    SELECT n.event_type, n.n, n.cd, p.md
    FROM n JOIN p ON p.event_type = n.event_type AND p.rn = 1
    """,
    tags=("B16",),
)
def b16_influxql_where_regex(spark, sf_dir):
    from ..functions.influxql import compile_statement

    ev = t(spark, sf_dir, "events")
    return compile_statement(
        "SELECT count(value) AS n, count(distinct(value)) AS cd, "
        "mode(value) AS md FROM events "
        "WHERE event_type =~ /^(click|error)$/ AND event_type != 'view' "
        "AND value > 50 GROUP BY event_type",
        ev,
    )


@register(
    "b3_influxql_integral",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS ts,
        MAX_BY(value, ts) AS value
      FROM events GROUP BY 1, 2
    ),
    seq AS (
      SELECT event_type, value, ts,
        LAG(value) OVER w AS pv, LAG(ts) OVER w AS pt
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY ts)
    )
    SELECT event_type,
      SUM((value + pv) / 2.0 * (epoch_us(ts) - epoch_us(pt)) / 3600000000.0)
        AS itg
    FROM seq WHERE pv IS NOT NULL GROUP BY event_type
    """,
    tags=("B3", "B23"),
)
def b3_influxql_integral(spark, sf_dir):
    """integral(value, 1h) through the compiled front door, over the
    per-day last-value series (the usual "downsample, then integrate"
    dashboard shape). Whole-day gaps keep every trapezoid term exactly
    representable — (v+pv)/2 * 24h is cent-granular — so the float sum
    is identical on both engines regardless of accumulation order."""
    from ..functions.influxql import compile_statement

    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.max_by("value", "ts").alias("value"))
        .select("event_type", F.col("day").alias("ts"), "value")
    )
    return compile_statement(
        "SELECT integral(value, 1h) AS itg FROM events GROUP BY event_type",
        daily,
    )


# --------------------------------------------------------------------------
# B11c — fill(linear) through the InfluxQL front door: empty GROUP BY
# time() buckets interpolate between the surrounding data points per
# series (leading/trailing gaps stay null). Oracle replays the grid +
# IGNORE NULLS window interpolation with the identical double tree.
# --------------------------------------------------------------------------
@register(
    "b11_gapfill_linear",
    oracle="""
    WITH pts AS (
      SELECT event_type,
        TIMESTAMP '1970-01-01 00:00:00'
          + to_seconds(CAST(FLOOR(epoch(ts) / 900) * 900 AS BIGINT)) AS time,
        AVG(value) AS m
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-13'
      GROUP BY 1, 2
    ),
    grid AS (
      SELECT s.event_type, g.time
      FROM (SELECT DISTINCT event_type FROM pts) s
      CROSS JOIN (
        SELECT unnest(generate_series(TIMESTAMP '2024-01-10',
          TIMESTAMP '2024-01-13' - INTERVAL 1 SECOND, INTERVAL 15 MINUTE))
          AS time
      ) g
    ),
    j AS (
      SELECT g.event_type, g.time, p.m
      FROM grid g LEFT JOIN pts p
        ON p.event_type = g.event_type AND p.time = g.time
    ),
    f AS (
      SELECT event_type, time, m,
        LAST_VALUE(m IGNORE NULLS) OVER wb AS pv,
        LAST_VALUE(CASE WHEN m IS NOT NULL THEN time END IGNORE NULLS)
          OVER wb AS pt,
        FIRST_VALUE(m IGNORE NULLS) OVER wf AS nv,
        FIRST_VALUE(CASE WHEN m IS NOT NULL THEN time END IGNORE NULLS)
          OVER wf AS nt
      FROM j
      WINDOW wb AS (PARTITION BY event_type ORDER BY time
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY event_type ORDER BY time
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, time,
      COALESCE(m, pv + (nv - pv)
        * ((epoch_us(time) - epoch_us(pt)) / (epoch_us(nt) - epoch_us(pt))))
        AS m
    FROM f
    """,
    tags=("B11", "B3"),
)
def b11_gapfill_linear(spark, sf_dir):
    from ..functions.influxql import compile_statement

    ev = events_between(spark, sf_dir, "2024-01-10", "2024-01-13")
    return compile_statement(
        "SELECT mean(value) AS m FROM events "
        "WHERE time >= '2024-01-10 00:00:00' AND time < '2024-01-13 00:00:00' "
        "GROUP BY time(15m), event_type fill(linear)",
        ev,
    )


# --------------------------------------------------------------------------
# B3f — scalar arithmetic through the InfluxQL front door (Grafana's
# unit-conversion idiom): mean*100, spread/2 per hour and event type.
# --------------------------------------------------------------------------
@register(
    "b3_influxql_math",
    oracle="""
    SELECT
      TIMESTAMP '1970-01-01 00:00:00'
        + to_seconds(CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT)) AS time,
      event_type,
      AVG(value) * 100 AS pct,
      (MAX(value) - MIN(value)) / 2 AS half_range
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-05'
    GROUP BY 1, 2
    """,
    tags=("B3", "B16"),
)
def b3_influxql_math(spark, sf_dir):
    from ..functions.influxql import compile_statement

    ev = events_between(spark, sf_dir, "2024-01-03", "2024-01-05")
    return compile_statement(
        "SELECT mean(value) * 100 AS pct, spread(value) / 2 AS half_range "
        "FROM events "
        "WHERE time >= '2024-01-03 00:00:00' AND time < '2024-01-05 00:00:00' "
        "GROUP BY time(1h), event_type",
        ev,
    )


# --------------------------------------------------------------------------
# B3g — offset buckets and tz() through the InfluxQL front door.
# time(1h, 30m) shifts the bucket grid to half-hours; tz('America/
# New_York') aligns day buckets to local midnight and interprets the
# WHERE literals in that zone (EST in January — no DST transition in
# range, which the oracle mirrors with ICU AT TIME ZONE conversions).
# --------------------------------------------------------------------------
@register(
    "b3_influxql_offset_buckets",
    oracle="""
    SELECT
      TIMESTAMP '1970-01-01 00:00:00'
        + to_seconds(CAST(FLOOR((epoch(ts) - 1800) / 3600) * 3600 + 1800
                          AS BIGINT)) AS time,
      event_type,
      COUNT(value) AS n,
      MAX(value) AS peak
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-04 00:30:00'
      AND ts <  TIMESTAMP '2024-01-06 00:30:00'
    GROUP BY 1, 2
    """,
    tags=("B3",),
)
def b3_influxql_offset_buckets(spark, sf_dir):
    from ..functions.influxql import compile_statement

    ev = events_between(spark, sf_dir, "2024-01-04 00:30:00", "2024-01-06 00:30:00")
    return compile_statement(
        "SELECT count(value) AS n, max(value) AS peak FROM events "
        "WHERE time >= '2024-01-04 00:30:00' AND time < '2024-01-06 00:30:00' "
        "GROUP BY time(1h, 30m), event_type",
        ev,
    )


@register(
    "b3_influxql_tz",
    oracle="""
    WITH loc AS (
      SELECT event_type, value,
        (ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York' AS lts
      FROM events
      WHERE ts >= (TIMESTAMP '2024-01-02 00:00:00'
                   AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC'
        AND ts < (TIMESTAMP '2024-01-05 00:00:00'
                  AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC'
    )
    SELECT
      (date_trunc('day', lts) AT TIME ZONE 'America/New_York')
        AT TIME ZONE 'UTC' AS time,
      event_type,
      COUNT(value) AS n,
      AVG(value) AS m
    FROM loc GROUP BY 1, 2
    """,
    tags=("B3", "B16"),
)
def b3_influxql_tz(spark, sf_dir):
    from ..functions.influxql import compile_statement

    # pre-push the (already-UTC-converted) bounds onto the raw scan
    ev = events_between(spark, sf_dir, "2024-01-02 05:00:00", "2024-01-05 05:00:00")
    return compile_statement(
        "SELECT count(value) AS n, mean(value) AS m FROM events "
        "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-05 00:00:00' "
        "GROUP BY time(1d), event_type tz('America/New_York')",
        ev,
    )


# --------------------------------------------------------------------------
# B16e — InfluxQL math transformations (abs/sqrt/ceil/round of fields
# and aggregates — the other half of Grafana's unit-conversion idiom
# next to the `* 100` scalar suffixes). Oracle restricted to the
# correctly-rounded IEEE-754 functions (sqrt, abs, ceil, round) so the
# hash comparison is exact cross-engine; ln/exp/trig are pytest-checked
# instead (libm vs JVM may differ in the last ulp).
# --------------------------------------------------------------------------
@register(
    "b16_influxql_math_fns",
    oracle="""
    SELECT
      TIMESTAMP '1970-01-01 00:00:00'
        + to_seconds(CAST(FLOOR(epoch(ts) / 86400) * 86400 AS BIGINT)) AS time,
      event_type,
      sqrt(COUNT(value)) AS sqrt_n,
      abs(MIN(value)) AS abs_min,
      CAST(ceil(MAX(value)) AS DOUBLE) AS ceil_max,
      round(SUM(value)) AS round_sum
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-06' AND ts < TIMESTAMP '2024-01-10'
    GROUP BY 1, 2
    """,
    tags=("B16", "B3"),
)
def b16_influxql_math_fns(spark, sf_dir):
    from ..functions.influxql import compile_statement

    ev = events_between(spark, sf_dir, "2024-01-06", "2024-01-10")
    return compile_statement(
        "SELECT sqrt(count(value)) AS sqrt_n, abs(min(value)) AS abs_min, "
        "ceil(max(value)) AS ceil_max, round(sum(value)) AS round_sum "
        "FROM events "
        "WHERE time >= '2024-01-06 00:00:00' AND time < '2024-01-10 00:00:00' "
        "GROUP BY time(1d), event_type",
        ev,
    )


# --------------------------------------------------------------------------
# B24c — InfluxQL HOLT_WINTERS() through the compiled front door: the
# reference README's "forecasting" capability as a dashboard query.
# InfluxDB fits smoothing parameters with a Nelder-Mead search; we pin
# α=0.5 β=0.1 γ=0.1 (functions/influxql.py:_HW_*, documented
# deviation) so the additive-seasonal fold is bit-replayable: the
# oracle carries the S=4 seasonal state as four explicit columns
# through a recursive CTE with the IDENTICAL IEEE-754 expression tree
# (classic two-season init: level = first-season mean, trend =
# season-mean difference / S, seasonals = first-season residuals).
# --------------------------------------------------------------------------
@register(
    "b24_influxql_holt_winters",
    oracle="""
    WITH RECURSIVE b AS (
      SELECT event_type,
        TIMESTAMP '1970-01-01 00:00:00'
          + to_seconds(CAST(FLOOR(epoch(ts) / 21600) * 21600 AS BIGINT)) AS time,
        AVG(value) AS y
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-09'
      GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, time, y,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY time) AS rn,
        COUNT(*) OVER (PARTITION BY event_type) AS tn,
        MAX(time) OVER (PARTITION BY event_type) AS last_time
      FROM b
    ),
    wide AS (
      SELECT event_type, ANY_VALUE(tn) AS tn, ANY_VALUE(last_time) AS last_time,
        MAX(CASE WHEN rn = 1 THEN y END) AS y1,
        MAX(CASE WHEN rn = 2 THEN y END) AS y2,
        MAX(CASE WHEN rn = 3 THEN y END) AS y3,
        MAX(CASE WHEN rn = 4 THEN y END) AS y4,
        MAX(CASE WHEN rn = 5 THEN y END) AS y5,
        MAX(CASE WHEN rn = 6 THEN y END) AS y6,
        MAX(CASE WHEN rn = 7 THEN y END) AS y7,
        MAX(CASE WHEN rn = 8 THEN y END) AS y8
      FROM r GROUP BY event_type
    ),
    init AS (
      SELECT event_type, tn, last_time,
        l0 AS l,
        ((((((0.0 + y5) + y6) + y7) + y8) / 4.0) - l0) / 4.0 AS bt,
        y1 - l0 AS s1, y2 - l0 AS s2, y3 - l0 AS s3, y4 - l0 AS s4
      FROM (
        SELECT *, ((((0.0 + y1) + y2) + y3) + y4) / 4.0 AS l0
        FROM wide WHERE tn >= 8
      )
    ),
    rec AS (
      SELECT event_type, tn, last_time, 4 AS t, l, bt, s1, s2, s3, s4
      FROM init
      UNION ALL
      SELECT event_type, tn, last_time, t + 1,
        lnew,
        0.1 * (lnew - l) + (1 - 0.1) * bt,
        CASE WHEN si = 0 THEN 0.1 * (y - lnew) + (1 - 0.1) * s1 ELSE s1 END,
        CASE WHEN si = 1 THEN 0.1 * (y - lnew) + (1 - 0.1) * s2 ELSE s2 END,
        CASE WHEN si = 2 THEN 0.1 * (y - lnew) + (1 - 0.1) * s3 ELSE s3 END,
        CASE WHEN si = 3 THEN 0.1 * (y - lnew) + (1 - 0.1) * s4 ELSE s4 END
      FROM (
        SELECT j.*, 0.5 * (j.y - j.sold) + (1 - 0.5) * (j.l + j.bt) AS lnew
        FROM (
          SELECT rec.*, r.y, rec.t % 4 AS si,
            CASE rec.t % 4 WHEN 0 THEN rec.s1 WHEN 1 THEN rec.s2
                           WHEN 2 THEN rec.s3 ELSE rec.s4 END AS sold
          FROM rec JOIN r
            ON r.event_type = rec.event_type AND r.rn = rec.t + 1
        ) j
      )
    )
    SELECT
      last_time + to_seconds(21600 * h) AS time,
      event_type,
      l + h * bt + CASE (tn + h - 1) % 4
        WHEN 0 THEN s1 WHEN 1 THEN s2 WHEN 2 THEN s3 ELSE s4 END AS hw
    FROM rec CROSS JOIN (VALUES (1), (2), (3)) v(h)
    WHERE t = tn
    """,
    tags=("B24", "B3"),
)
def b24_influxql_holt_winters(spark, sf_dir):
    from ..functions.influxql import compile_statement

    ev = events_between(spark, sf_dir, "2024-01-01", "2024-01-09")
    return compile_statement(
        "SELECT holt_winters(mean(value), 3, 4) AS hw FROM events "
        "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-09 00:00:00' "
        "GROUP BY time(6h), event_type",
        ev,
    )


# --------------------------------------------------------------------------
# B24d — HOLT_WINTERS_WITH_FIT(): InfluxDB's fitted-curve-plus-
# forecast dashboard shape. Same pinned-parameter additive-seasonal
# fold as B24c; additionally emits the one-step-ahead fitted value at
# every observed bucket the recursion covers (state BEFORE the update
# at step t: fitted = level + trend + seasonal[t mod S]). The oracle
# reuses B24c's recursive CTE and reads the fitted value off the
# recursion state joined to the NEXT observed bucket (rec.t's state
# predicts bucket rn = t+1), then unions the three forecast rows.
# --------------------------------------------------------------------------
@register(
    "b24_influxql_holt_winters_fit",
    oracle="""
    WITH RECURSIVE b AS (
      SELECT event_type,
        TIMESTAMP '1970-01-01 00:00:00'
          + to_seconds(CAST(FLOOR(epoch(ts) / 21600) * 21600 AS BIGINT)) AS time,
        AVG(value) AS y
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-09'
      GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, time, y,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY time) AS rn,
        COUNT(*) OVER (PARTITION BY event_type) AS tn,
        MAX(time) OVER (PARTITION BY event_type) AS last_time
      FROM b
    ),
    wide AS (
      SELECT event_type, ANY_VALUE(tn) AS tn, ANY_VALUE(last_time) AS last_time,
        MAX(CASE WHEN rn = 1 THEN y END) AS y1,
        MAX(CASE WHEN rn = 2 THEN y END) AS y2,
        MAX(CASE WHEN rn = 3 THEN y END) AS y3,
        MAX(CASE WHEN rn = 4 THEN y END) AS y4,
        MAX(CASE WHEN rn = 5 THEN y END) AS y5,
        MAX(CASE WHEN rn = 6 THEN y END) AS y6,
        MAX(CASE WHEN rn = 7 THEN y END) AS y7,
        MAX(CASE WHEN rn = 8 THEN y END) AS y8
      FROM r GROUP BY event_type
    ),
    init AS (
      SELECT event_type, tn, last_time,
        l0 AS l,
        ((((((0.0 + y5) + y6) + y7) + y8) / 4.0) - l0) / 4.0 AS bt,
        y1 - l0 AS s1, y2 - l0 AS s2, y3 - l0 AS s3, y4 - l0 AS s4
      FROM (
        SELECT *, ((((0.0 + y1) + y2) + y3) + y4) / 4.0 AS l0
        FROM wide WHERE tn >= 8
      )
    ),
    rec AS (
      SELECT event_type, tn, last_time, 4 AS t, l, bt, s1, s2, s3, s4
      FROM init
      UNION ALL
      SELECT event_type, tn, last_time, t + 1,
        lnew,
        0.1 * (lnew - l) + (1 - 0.1) * bt,
        CASE WHEN si = 0 THEN 0.1 * (y - lnew) + (1 - 0.1) * s1 ELSE s1 END,
        CASE WHEN si = 1 THEN 0.1 * (y - lnew) + (1 - 0.1) * s2 ELSE s2 END,
        CASE WHEN si = 2 THEN 0.1 * (y - lnew) + (1 - 0.1) * s3 ELSE s3 END,
        CASE WHEN si = 3 THEN 0.1 * (y - lnew) + (1 - 0.1) * s4 ELSE s4 END
      FROM (
        SELECT j.*, 0.5 * (j.y - j.sold) + (1 - 0.5) * (j.l + j.bt) AS lnew
        FROM (
          SELECT rec.*, r.y, rec.t % 4 AS si,
            CASE rec.t % 4 WHEN 0 THEN rec.s1 WHEN 1 THEN rec.s2
                           WHEN 2 THEN rec.s3 ELSE rec.s4 END AS sold
          FROM rec JOIN r
            ON r.event_type = rec.event_type AND r.rn = rec.t + 1
        ) j
      )
    )
    SELECT r.time, rec.event_type,
      rec.l + rec.bt + CASE rec.t % 4 WHEN 0 THEN rec.s1 WHEN 1 THEN rec.s2
        WHEN 2 THEN rec.s3 ELSE rec.s4 END AS hw
    FROM rec JOIN r
      ON r.event_type = rec.event_type AND r.rn = rec.t + 1
    UNION ALL
    SELECT
      last_time + to_seconds(21600 * h) AS time,
      event_type,
      l + h * bt + CASE (tn + h - 1) % 4
        WHEN 0 THEN s1 WHEN 1 THEN s2 WHEN 2 THEN s3 ELSE s4 END AS hw
    FROM rec CROSS JOIN (VALUES (1), (2), (3)) v(h)
    WHERE t = tn
    """,
    tags=("B24", "B3"),
)
def b24_influxql_holt_winters_fit(spark, sf_dir):
    from ..functions.influxql import compile_statement

    ev = events_between(spark, sf_dir, "2024-01-01", "2024-01-09")
    return compile_statement(
        "SELECT holt_winters_with_fit(mean(value), 3, 4) AS hw FROM events "
        "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-09 00:00:00' "
        "GROUP BY time(6h), event_type",
        ev,
    )


# --------------------------------------------------------------------------
# B13c — InfluxQL SAMPLE(field, N) selector: N points per series, time
# preserved. InfluxDB draws with a reservoir RNG; we rank by
# md5(epoch-micros) — uniform, value-independent, and deterministic,
# so unlike InfluxDB's the pick is replayable by a second engine
# (documented deviation, functions/influxql.py selector branch).
# --------------------------------------------------------------------------
@register(
    "b13_influxql_sample",
    oracle="""
    WITH ranked AS (
      SELECT ts AS time, event_type, value,
        ROW_NUMBER() OVER (
          PARTITION BY event_type
          ORDER BY md5(CAST(epoch_us(ts) AS VARCHAR)), ts
        ) AS rk
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-06'
    )
    SELECT time, event_type, value AS v FROM ranked WHERE rk <= 4
    """,
    tags=("B13", "B18"),
)
def b13_influxql_sample(spark, sf_dir):
    from ..functions.influxql import compile_statement

    ev = events_between(spark, sf_dir, "2024-01-02", "2024-01-06")
    return compile_statement(
        "SELECT sample(value, 4) AS v FROM events "
        "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-06 00:00:00' "
        "GROUP BY event_type",
        ev,
    )


# --------------------------------------------------------------------------
# B13d — InfluxQL TOP(field, tag, N): the greatest field values across
# N distinct tag values (InfluxDB's per-tag selector form). Compiled as
# two tiny aggregates — per-tag argmax via max_by over a tie-broken
# ordering struct (value first, then EARLIER point wins), then a
# global top-N over the one-row-per-tag result (orderBy().limit() →
# TakeOrderedAndProject; the per-tag table is tag-cardinality-sized,
# so no window funnel and no full-data sort at any scale). Exact value
# picks, so the oracle hash-checks.
# --------------------------------------------------------------------------
@register(
    "b13_influxql_top_per_tag",
    oracle="""
    WITH ranked AS (
      SELECT event_type, ts, value,
        ROW_NUMBER() OVER (
          PARTITION BY event_type ORDER BY value DESC, ts
        ) AS rn
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-12'
    ),
    per_tag AS (
      SELECT event_type, ts, value FROM ranked WHERE rn = 1
    )
    SELECT ts AS time, value AS top, event_type
    FROM per_tag
    ORDER BY value DESC, ts, event_type LIMIT 3
    """,
    tags=("B13",),
)
def b13_influxql_top_per_tag(spark, sf_dir):
    from ..functions.influxql import compile_statement

    ev = events_between(spark, sf_dir, "2024-01-03", "2024-01-12")
    return compile_statement(
        "SELECT top(value, event_type, 3) FROM events "
        "WHERE time >= '2024-01-03 00:00:00' "
        "AND time < '2024-01-12 00:00:00'",
        ev,
    )


# --------------------------------------------------------------------------
# B16f — parenthesized OR groups through the compiled front door: the
# exact WHERE shape Grafana emits for multi-value template variables
# (`("event_type" = 'click' OR "event_type" = 'error' OR value >= 99.5)`).
# Compiled as one disjunctive filter ANDed with the time range — the
# range still reaches parquet as raw-nanos PushedFilters; the OR group
# is a per-row predicate Catalyst can also push (eq/lt are all
# pushdown-eligible, rlike terms are not).
# --------------------------------------------------------------------------
@register(
    "b16_influxql_or_groups",
    oracle="""
    SELECT
      TIMESTAMP '1970-01-01 00:00:00'
        + to_seconds(CAST(FLOOR(epoch(ts) / 86400) * 86400 AS BIGINT)) AS time,
      event_type,
      COUNT(value) AS n, MIN(value) AS lo, MAX(value) AS hi
    FROM events
    WHERE (event_type = 'click' OR event_type = 'error' OR value >= 99.5)
      AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
    GROUP BY 1, 2
    """,
    tags=("B16",),
)
def b16_influxql_or_groups(spark, sf_dir):
    from ..functions.influxql import compile_influxql

    ev = events_between(spark, sf_dir, "2024-01-05", "2024-01-20")
    return compile_influxql(
        "SELECT count(value) AS n, min(value) AS lo, max(value) AS hi "
        "FROM events "
        "WHERE (\"event_type\" = 'click' OR \"event_type\" = 'error' "
        "OR value >= 99.5) "
        "AND time >= '2024-01-05' AND time < '2024-01-20' "
        "GROUP BY time(1d), event_type",
        ev,
    )


# --------------------------------------------------------------------------
# B16g — wildcard select and grouping: `max(*)` expands to one output
# column per numeric field (max_event_id, max_user_id, max_value — the
# InfluxDB naming), `GROUP BY *` to every tag column (event_type, props
# under the events layout). Map-side-combinable hash aggregate; the
# wildcard expansion is purely a compile-time rewrite, so the plan is
# identical to spelling the columns out.
# --------------------------------------------------------------------------
@register(
    "b16_influxql_wildcards",
    oracle="""
    SELECT event_type, props,
      MAX(event_id) AS max_event_id,
      MAX(user_id) AS max_user_id,
      MAX(value) AS max_value
    FROM events
    WHERE ts < TIMESTAMP '2024-01-08'
    GROUP BY 1, 2
    """,
    tags=("B16",),
)
def b16_influxql_wildcards(spark, sf_dir):
    from ..functions.influxql import compile_influxql

    ev = events_between(spark, sf_dir, hi="2024-01-08")
    return compile_influxql(
        "SELECT max(*) FROM events WHERE time < '2024-01-08' GROUP BY *",
        ev,
    )


# --------------------------------------------------------------------------
# B16h — field-vs-field arithmetic through the compiled front door
# (`mean(a)/mean(b)`, `max(v)-min(v)` — Grafana's efficiency/ratio
# panels). Compiled as hidden operand aggregates + one derived
# projection, so the plan is a single partial+final hash aggregate —
# no extra pass per operand. Hash-safe operand choices: max/min are
# exact value picks and count ratios are exact-integer divisions, so
# the derived doubles are engine-identical.
# --------------------------------------------------------------------------
@register(
    "b16_influxql_field_math",
    oracle="""
    SELECT
      TIMESTAMP '1970-01-01 00:00:00'
        + to_seconds(CAST(FLOOR(epoch(ts) / 86400) * 86400 AS BIGINT)) AS time,
      event_type,
      MAX(value) - MIN(value) AS rng,
      COUNT(value) / COUNT(user_id) AS cr
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-12'
    GROUP BY 1, 2
    """,
    tags=("B16",),
)
def b16_influxql_field_math(spark, sf_dir):
    from ..functions.influxql import compile_influxql

    ev = events_between(spark, sf_dir, "2024-01-03", "2024-01-12")
    return compile_influxql(
        "SELECT max(value) - min(value) AS rng, "
        "count(value) / count(user_id) AS cr FROM events "
        "WHERE time >= '2024-01-03' AND time < '2024-01-12' "
        "GROUP BY time(1d), event_type",
        ev,
    )


# --------------------------------------------------------------------------
# B3m — the round-3 dialect additions through the front door, oracle-
# checked: compound durations (time(1h30m)), WHERE literal ± duration,
# and free-form scalar arithmetic (max(value) * 9 / 5 + 32 — the
# Fahrenheit chain) in one statement.
# --------------------------------------------------------------------------
@register(
    "b3_influxql_compound",
    oracle="""
    SELECT
      TIMESTAMP '1970-01-01 00:00:00'
        + to_seconds(CAST(FLOOR(epoch(ts) / 5400) * 5400 AS BIGINT)) AS time,
      event_type,
      COUNT(value) AS n,
      MAX(value) * 9 / 5 + 32 AS f
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01 06:00:00'
      AND ts <  TIMESTAMP '2024-01-02 10:30:00'
    GROUP BY 1, 2
    """,
    tags=("B3", "B16"),
)
def b3_influxql_compound(spark, sf_dir):
    from ..functions.influxql import compile_influxql

    ev = events_between(
        spark, sf_dir, "2024-01-01 06:00:00", "2024-01-02 10:30:00"
    )
    return compile_influxql(
        "SELECT count(value) AS n, max(value) * 9 / 5 + 32 AS f "
        "FROM events "
        "WHERE time >= '2024-01-01 00:00:00' + 6h "
        "AND time < '2024-01-02 12:00:00' - 1h30m "
        "GROUP BY time(1h30m), event_type",
        ev,
    )


# --------------------------------------------------------------------------
# B3k — SELECT ... INTO through the compiled front door (the statement
# InfluxDB continuous queries and one-shot backfills are written in).
# The query MATERIALIZES the compiled rollup into the INTO target
# (parquet at a deterministic temp location) and returns the rows read
# back from the target — so the hash check covers the written bytes,
# not just the plan. compile_into splits the statement with the same
# split_into the gateway's SELECT ... INTO path uses.
# --------------------------------------------------------------------------
@register(
    "b3_influxql_into",
    oracle="""
    SELECT
      TIMESTAMP '1970-01-01 00:00:00'
        + to_seconds(CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT)) AS time,
      event_type,
      COUNT(value) AS n,
      MIN(value) AS lo,
      MAX(value) AS hi
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-02 00:00:00'
    GROUP BY 1, 2
    """,
    tags=("B3", "A12"),
)
def b3_influxql_into(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from ..functions.influxql import compile_into

    ev = events_between(spark, sf_dir, "2024-01-01", "2024-01-02")
    target, df = compile_into(
        "SELECT count(value) AS n, min(value) AS lo, max(value) AS hi "
        "INTO events_1h FROM events "
        "WHERE time >= '2024-01-01' AND time < '2024-01-02' "
        "GROUP BY time(1h), event_type",
        ev,
    )
    assert target == "events_1h"
    base = os.path.join(
        tempfile.gettempdir(),
        "influxql_into",
        sf_dir.strip("/").replace("/", "_"),
    )
    path = os.path.join(base, target)
    shutil.rmtree(path, ignore_errors=True)
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


# --------------------------------------------------------------------------
# B23e — sustained-threshold alert episodes (the Grafana/Kapacitor
# "alert WHEN value > T FOR n samples" semantics the reference's users
# configure on top of InfluxDB): a point-wise threshold breach is not
# an alert; an alert EPISODE is a maximal run of consecutive breaching
# samples, reported once with its span and peak. Classic
# gaps-and-islands — two ranking windows per series partition (never a
# global sort), identical shape in both engines. The ≥ 3-sample gate
# is the FOR clause: flapping single-point spikes stay silent.
# --------------------------------------------------------------------------
_B23_EPISODE_ORACLE = """
    WITH f AS (
      SELECT event_type, ts, event_id, value,
        ROW_NUMBER() OVER (
          PARTITION BY event_type ORDER BY ts, event_id
        ) AS rn_all
      FROM events
    ),
    flagged AS (
      SELECT *,
        ROW_NUMBER() OVER (
          PARTITION BY event_type ORDER BY ts, event_id
        ) AS rn_flag
      FROM f WHERE value > 80.0
    ),
    runs AS (
      SELECT event_type, ts, value, rn_all - rn_flag AS grp
      FROM flagged
    )
    SELECT event_type,
      MIN(ts) AS start_ts,
      MAX(ts) AS end_ts,
      CAST(COUNT(*) AS BIGINT) AS n_points,
      MAX(value) AS peak
    FROM runs GROUP BY event_type, grp
    HAVING COUNT(*) >= 3
"""


@register("b23_alert_episodes", oracle=_B23_EPISODE_ORACLE, tags=("B23",))
def b23_alert_episodes(spark, sf_dir):
    ev = events_between(spark, sf_dir)
    w_all = Window.partitionBy("event_type").orderBy("ts", "event_id")
    f = ev.select(
        "event_type", "ts", "event_id", "value",
        F.row_number().over(w_all).alias("rn_all"),
    )
    flagged = f.filter(F.col("value") > 80.0).withColumn(
        "rn_flag", F.row_number().over(w_all)
    )
    return (
        flagged.withColumn("grp", F.col("rn_all") - F.col("rn_flag"))
        .groupBy("event_type", "grp")
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.count("*").cast("bigint").alias("n_points"),
            F.max("value").alias("peak"),
        )
        .filter(F.col("n_points") >= 3)
        .drop("grp")
    )


# --------------------------------------------------------------------------
# B23e' — alert STATE TRANSITIONS (the notification edge): episodes
# (above) answer "which outages happened"; a pager needs the EDGES —
# fire once when a series crosses into alert, once when it recovers,
# and stay silent while the state holds. One LAG per series partition;
# the first observation of a series sets its initial state without
# firing (no lag row). The streaming twin
# (streaming/state.alert_transition_stream) carries last-level state
# across micro-batches so the same edges emit online —
# batch ≡ stream pinned in tests/test_streaming.py.
# --------------------------------------------------------------------------
_B23_TRANSITION_ORACLE = """
    WITH lv AS (
      SELECT event_type, ts, event_id, value,
        CASE WHEN value > 80.0 THEN 1 ELSE 0 END AS level,
        LAG(CASE WHEN value > 80.0 THEN 1 ELSE 0 END) OVER (
          PARTITION BY event_type ORDER BY ts, event_id
        ) AS prev_level
      FROM events
    )
    SELECT event_type, ts, event_id, value,
      CASE WHEN prev_level = 1 THEN 'alert' ELSE 'ok' END AS from_state,
      CASE WHEN level = 1 THEN 'alert' ELSE 'ok' END AS to_state
    FROM lv
    WHERE prev_level IS NOT NULL AND level <> prev_level
"""


@register(
    "b23_alert_transitions", oracle=_B23_TRANSITION_ORACLE, tags=("B23",)
)
def b23_alert_transitions(spark, sf_dir):
    ev = events_between(spark, sf_dir)
    level = F.when(F.col("value") > 80.0, 1).otherwise(0)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lv = ev.select(
        "event_type",
        "ts",
        "event_id",
        "value",
        level.alias("level"),
        F.lag(level).over(w).alias("prev_level"),
    )
    st = lambda c: F.when(F.col(c) == 1, F.lit("alert")).otherwise(  # noqa: E731
        F.lit("ok")
    )
    return lv.filter(
        F.col("prev_level").isNotNull()
        & (F.col("level") != F.col("prev_level"))
    ).select(
        "event_type",
        "ts",
        "event_id",
        "value",
        st("prev_level").alias("from_state"),
        st("level").alias("to_state"),
    )


# --------------------------------------------------------------------------
# B23f — robust anomaly via MEDIAN ABSOLUTE DEVIATION: the z-score
# detector (b23_anomaly_zscore) is itself skewed by the outliers it
# hunts; MAD is the standard robust alternative. Both medians use the
# same discrete rank-at-ceil formulation as b23_percentiles (no
# interpolation-convention drift) and every comparison runs in exact
# integer cents — the 3x-MAD outlier gate is 'dev > 3*mad_cents', an
# int compare. Two per-series ranking windows; nothing global.
# --------------------------------------------------------------------------
_B23_MAD_ORACLE = """
    WITH c AS (
      SELECT event_type, event_id,
        CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    r1 AS (
      SELECT event_type, event_id, cents,
        ROW_NUMBER() OVER (
          PARTITION BY event_type ORDER BY cents, event_id) AS rn,
        COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM c
    ),
    med AS (
      SELECT event_type, MAX(n) AS n,
        MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
            THEN cents END) AS med_cents
      FROM r1 GROUP BY event_type
    ),
    dev AS (
      SELECT c.event_type, c.event_id,
        ABS(c.cents - m.med_cents) AS d,
        m.med_cents, m.n
      FROM c JOIN med m USING (event_type)
    ),
    r2 AS (
      SELECT event_type, d, med_cents, n,
        ROW_NUMBER() OVER (
          PARTITION BY event_type ORDER BY d, event_id) AS rn
      FROM dev
    ),
    mad AS (
      SELECT event_type, MAX(med_cents) AS med_cents, MAX(n) AS n,
        MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
            THEN d END) AS mad_cents
      FROM r2 GROUP BY event_type
    )
    SELECT d.event_type,
      CAST(MAX(d.n) AS BIGINT) AS n,
      CAST(MAX(d.med_cents) AS DOUBLE) / 100 AS median,
      CAST(MAX(m.mad_cents) AS DOUBLE) / 100 AS mad,
      CAST(SUM(CASE WHEN d.d > 3 * m.mad_cents THEN 1 ELSE 0 END)
        AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
"""


@register("b23_mad_outliers", oracle=_B23_MAD_ORACLE, tags=("B23",))
def b23_mad_outliers(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w1 = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wc = Window.partitionBy("event_type")
    r1 = ev.select(
        "event_type",
        "cents",
        F.row_number().over(w1).alias("rn"),
        F.count("*").over(wc).alias("n"),
    )
    med = r1.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.5 * F.col("n")).cast("bigint"),
                F.col("cents"),
            )
        ).alias("med_cents"),
    )
    dev = ev.join(med, "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("cents") - F.col("med_cents")).alias("d"),
        "med_cents",
        "n",
    )
    w2 = Window.partitionBy("event_type").orderBy("d", "event_id")
    r2 = dev.select(
        "event_type", "d", "n",
        F.row_number().over(w2).alias("rn"),
    )
    mad = r2.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.5 * F.col("n")).cast("bigint"),
                F.col("d"),
            )
        ).alias("mad_cents")
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            (F.max("med_cents").cast("double") / 100).alias("median"),
            (F.max("mad_cents").cast("double") / 100).alias("mad"),
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad_cents"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# B23g — one-sided CUSUM drift detection (Page 1954): the standard
# SPC change detector S_i = max(0, S_{i-1} + (x_i - k)) looks like a
# sequential fold, but it has a closed WINDOW form —
# S_i = C_i - min_{j<=i} C_j with C the running sum of (x - k) — so
# it compiles to two per-series window functions instead of a
# per-row recurrence (the same de-recursion trick as the two-pass
# watermark max). Everything in exact integer cents: k is the per-
# series discrete median (reuses the rank-at-ceil idiom), the drift
# flag S > h an integer compare. At 100 TB this is two windows inside
# one per-series partition — no fold UDF, full codegen.
# --------------------------------------------------------------------------
_B23_CUSUM_ORACLE = """
    WITH c AS (
      SELECT event_type, event_id, ts,
        CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id < 40
    ),
    r1 AS (
      SELECT event_type, event_id, ts, cents,
        ROW_NUMBER() OVER (
          PARTITION BY event_type ORDER BY cents, event_id) AS rn,
        COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM c
    ),
    med AS (
      SELECT event_type,
        MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
            THEN cents END) AS k
      FROM r1 GROUP BY event_type
    ),
    cum AS (
      SELECT c.event_type, c.event_id, c.ts,
        SUM(c.cents - m.k) OVER (
          PARTITION BY c.event_type ORDER BY c.ts, c.event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csum
      FROM c JOIN med m USING (event_type)
    ),
    s AS (
      SELECT event_type, event_id, ts,
        csum - MIN(csum) OVER (
          PARTITION BY event_type ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_cents
      FROM cum
    )
    SELECT event_type, event_id, ts,
      CAST(s_cents AS BIGINT) AS s_cents,
      CAST(s_cents > 500000 AS BOOLEAN) AS drift
    FROM s WHERE s_cents > 250000
"""


@register("b23_cusum_drift", oracle=_B23_CUSUM_ORACLE, tags=("B23",))
def b23_cusum_drift(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 40).select(
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w1 = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wc = Window.partitionBy("event_type")
    r1 = ev.select(
        "event_type", "cents",
        F.row_number().over(w1).alias("rn"),
        F.count("*").over(wc).alias("n"),
    )
    med = r1.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.5 * F.col("n")).cast("bigint"),
                F.col("cents"),
            )
        ).alias("k")
    )
    wt = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "event_id", "ts",
        F.sum(F.col("cents") - F.col("k")).over(wt).alias("csum"),
    )
    s = cum.select(
        "event_type", "event_id", "ts",
        (F.col("csum") - F.min("csum").over(wt)).alias("s_cents"),
    )
    return s.filter(F.col("s_cents") > 250000).select(
        "event_type",
        "event_id",
        "ts",
        F.col("s_cents").cast("bigint").alias("s_cents"),
        (F.col("s_cents") > 500000).alias("drift"),
    )


# --------------------------------------------------------------------------
# B24d — classical additive seasonal decomposition (the moving-average
# method STL generalizes): daily per-series totals split into
# TREND (centered 7-day moving average, full windows only) +
# SEASONAL (mean detrended deviation per day-of-week) + residual.
# Exactness: the trend is carried as the INTEGER 7-day window sum
# (trend = sum/7 happens once, at output), the detrended series is
# 7·daily − trend_sum (still integer cents), and the seasonal means
# go through round_ratio. Day-of-week is epoch-day mod 7 — Spark's
# dayofweek() and DuckDB's differ on which day is 0, integer day
# arithmetic does not. Shape: one keyed daily aggregate + one
# 7-row-bounded window + one tiny (series × 7) aggregate.
# --------------------------------------------------------------------------
_B24_DECOMP_ORACLE = """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, day, cents,
        SUM(cents) OVER w7 AS tsum,
        COUNT(*) OVER w7 AS nw,
        date_diff('day', DATE '1970-01-01', CAST(day AS DATE)) % 7 AS dow
      FROM daily
      WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    full7 AS (
      SELECT *, 7 * cents - tsum AS det FROM tr WHERE nw = 7
    ),
    seas AS (
      SELECT event_type, dow,
        CAST(SUM(det) AS BIGINT) AS det_sum,
        CAST(COUNT(*) AS BIGINT) AS det_n
      FROM full7 GROUP BY 1, 2
    )
    SELECT f.event_type, f.day,
      CAST(f.cents AS DOUBLE) / 100 AS daily_total,
      CAST(f.tsum AS DOUBLE) / 700 AS trend,
      (CASE WHEN s.det_sum >= 0
        THEN ((2 * s.det_sum * 10000 + 700 * s.det_n)
              // (2 * 700 * s.det_n)) / 10000.0
        ELSE -((2 * (-s.det_sum) * 10000 + 700 * s.det_n)
              // (2 * 700 * s.det_n)) / 10000.0 END) AS seasonal
    FROM full7 f JOIN seas s
      ON s.event_type = f.event_type AND s.dow = f.dow
"""


@register("b24_seasonal_decompose", oracle=_B24_DECOMP_ORACLE, tags=("B24",))
def b24_seasonal_decompose(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        "cents",
        F.sum("cents").over(w7).alias("tsum"),
        F.count("*").over(w7).alias("nw"),
        F.pmod(
            F.datediff(F.col("day"), F.lit("1970-01-01")), F.lit(7)
        ).alias("dow"),
    )
    full7 = tr.filter(F.col("nw") == 7).withColumn(
        "det", 7 * F.col("cents") - F.col("tsum")
    )
    seas = full7.groupBy("event_type", "dow").agg(
        F.sum("det").cast("bigint").alias("det_sum"),
        F.count("*").cast("bigint").alias("det_n"),
    )
    return full7.join(F.broadcast(seas), ["event_type", "dow"]).select(
        "event_type",
        "day",
        (F.col("cents").cast("double") / 100).alias("daily_total"),
        (F.col("tsum").cast("double") / 700).alias("trend"),
        round_ratio_signed(
            F.col("det_sum"), 700 * F.col("det_n"), 4
        ).alias("seasonal"),
    )


# --------------------------------------------------------------------------
# B23h — autocorrelation function (lags 1..3) per series: the
# seasonality probe behind b24_seasonal_decompose's fixed 7-day
# period — ACF tells you WHICH period to decompose on. Exactness:
# the series mean is DISCRETIZED to integer cents (round-half-up of
# sum/count — documented deviation from the real-valued mean; the
# error is < 0.005 cents and identical in both engines), so every
# deviation, lagged product, and sum-of-squares is int64 and
# order-independent; the final acf is a rounded ratio of two exact
# integers. Magnitude: |dev| <= ~5.6e4 cents, so sum of dev^2 over
# 2e4 rows <= ~6.4e13 and the round_ratio numerator stays < 2^63.
# Shape at 100 TB: one keyed shuffle per series for the ordering
# window (lag products), one tiny per-series aggregate — the three
# lags ride the SAME window pass, not three.
# --------------------------------------------------------------------------
_B23_ACF_ORACLE = """
    WITH c AS (
      SELECT event_type, event_id, ts,
        CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    st AS (
      SELECT event_type, CAST(SUM(cents) AS BIGINT) AS s,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM c GROUP BY event_type
    ),
    m AS (
      SELECT event_type, n,
        (2 * s + n) // (2 * n) AS mean_c
      FROM st
    ),
    d AS (
      SELECT c.event_type, m.n, c.cents - m.mean_c AS dev,
        LAG(c.cents - m.mean_c, 1) OVER w AS d1,
        LAG(c.cents - m.mean_c, 2) OVER w AS d2,
        LAG(c.cents - m.mean_c, 3) OVER w AS d3
      FROM c JOIN m USING (event_type)
      WINDOW w AS (PARTITION BY c.event_type ORDER BY c.ts, c.event_id)
    ),
    agg AS (
      SELECT event_type, MAX(n) AS n,
        CAST(SUM(dev * dev) AS BIGINT) AS den,
        CAST(SUM(dev * d1) AS BIGINT) AS n1,
        CAST(SUM(dev * d2) AS BIGINT) AS n2,
        CAST(SUM(dev * d3) AS BIGINT) AS n3
      FROM d GROUP BY event_type
    ),
    stacked AS (
      SELECT event_type, n, 1 AS lag, n1 AS num, den FROM agg
      UNION ALL
      SELECT event_type, n, 2 AS lag, n2 AS num, den FROM agg
      UNION ALL
      SELECT event_type, n, 3 AS lag, n3 AS num, den FROM agg
    )
    SELECT event_type, CAST(lag AS INT) AS lag, n,
      (CASE WHEN den = 0 THEN NULL
            WHEN num >= 0
        THEN ((2 * num * 10000 + den) // (2 * den)) / 10000.0
        ELSE -((2 * (-num) * 10000 + den) // (2 * den)) / 10000.0
       END) AS acf
    FROM stacked
"""


@register("b23_acf", oracle=_B23_ACF_ORACLE, tags=("B23",))
def b23_acf(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    # per-series totals as UNORDERED windows on the SAME event_type
    # exchange the lag windows need — one scan, one shuffle (the
    # groupBy+broadcast-join formulation scanned events twice)
    wp = Window.partitionBy("event_type")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = F.sum("cents").over(wp).cast("bigint")
    n = F.count("*").over(wp).cast("bigint")
    # round-half-up(s/n) entirely in int64 (s >= 0: value >= 0)
    tw = 2 * s + n
    mean_c = ((tw - F.pmod(tw, 2 * n)) / (2 * n)).cast("bigint")
    dev = F.col("cents") - mean_c
    d = ev.select(
        "event_type",
        n.alias("n"),
        dev.alias("dev"),
        (F.lag("cents", 1).over(w) - mean_c).alias("d1"),
        (F.lag("cents", 2).over(w) - mean_c).alias("d2"),
        (F.lag("cents", 3).over(w) - mean_c).alias("d3"),
    )
    agg = d.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(F.col("dev") * F.col("dev")).cast("bigint").alias("den"),
        F.sum(F.col("dev") * F.col("d1")).cast("bigint").alias("n1"),
        F.sum(F.col("dev") * F.col("d2")).cast("bigint").alias("n2"),
        F.sum(F.col("dev") * F.col("d3")).cast("bigint").alias("n3"),
    )
    stacked = agg.select(
        "event_type",
        "n",
        "den",
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("lag"), F.col("n1").alias("num")),
                F.struct(F.lit(2).alias("lag"), F.col("n2").alias("num")),
                F.struct(F.lit(3).alias("lag"), F.col("n3").alias("num")),
            )
        ).alias("e"),
    )
    return stacked.select(
        "event_type",
        F.col("e.lag").cast("int").alias("lag"),
        "n",
        # den = 0 (a constant series: every deviation is zero) has no
        # defined autocorrelation — NULL, and the guard keeps ANSI
        # pmod from throwing REMAINDER_BY_ZERO (property-test find)
        F.when(
            F.col("den") > 0,
            round_ratio_signed(F.col("e.num"), F.col("den"), 4),
        ).alias("acf"),
    )


# --------------------------------------------------------------------------
# B23x — CROSS-correlation lag scan between series (the ACF's
# two-signal sibling): for every ordered pair of event-type series,
# the raw lagged co-movement score at lags 0..6 hours — "do errors
# follow clicks an hour later?" — the standard lead/lag discovery
# pass before building a causal/forecast model, and for PLC signals
# the "valve opens N minutes after pump starts" detector.
#
# Exactness: per-(series, hour-bucket) integer cent sums (the b23_acf
# quantization), then score(a, b, L) = Σ_t qa(t)·qb(t+L) with every
# product cast to DECIMAL(38)/HUGEINT before accumulation — bucket
# sums grow with corpus scale, and int64 products would overflow
# around sf10; the raw (unnormalized) score is emitted because a
# normalized correlation divides two transcendental magnitudes the
# engines would round differently, while the ARGMAX structure over
# lags — the thing the analyst reads — is identical either way.
#
# Scale shape: one keyed aggregation to hour buckets (events
# collapse ~3600:1 before anything joins), then ONE bucket-aligned
# equi-join per lag set — the small lag relation broadcasts and
# pre-explodes the left side 7x, the join key is the well-distributed
# bucket id (never the 5-value event_type), and the pair filter
# et_a < et_b prunes the self and mirror pairs before aggregation.
# Cost: O(buckets x lags), independent of raw event count.
# --------------------------------------------------------------------------
_XCORR_LAGS = 7  # lags 0..6 hours

_B23_XCORR_ORACLE = f"""
    WITH s AS (
      SELECT event_type AS et,
        CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS b,
        CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    ser AS (SELECT et, b, SUM(cents) AS q FROM s GROUP BY 1, 2),
    lags AS (SELECT unnest(range(0, {_XCORR_LAGS})) AS lag),
    j AS (
      SELECT a.et AS et_a, c.et AS et_b, lags.lag,
        CAST(a.q AS HUGEINT) * c.q AS p
      FROM ser a CROSS JOIN lags
      JOIN ser c ON c.b = a.b + lags.lag AND a.et < c.et
    )
    SELECT et_a, et_b, CAST(lag AS BIGINT) AS lag,
      CAST(SUM(p) AS DECIMAL(38,0)) AS score,
      CAST(COUNT(*) AS BIGINT) AS n_overlap
    FROM j GROUP BY 1, 2, 3
"""


@register("b23_xcorr", oracle=_B23_XCORR_ORACLE, tags=("B23",))
def b23_xcorr(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    s = ev.select(
        F.col("event_type").alias("et"),
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("b"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    ser = s.groupBy("et", "b").agg(F.sum("cents").alias("q"))
    lags = spark.range(0, _XCORR_LAGS).select(
        F.col("id").cast("bigint").alias("lag")
    )
    a = ser.select(
        F.col("et").alias("et_a"), F.col("b").alias("ba"), F.col("q").alias("qa")
    ).crossJoin(F.broadcast(lags))
    c = ser.select(
        F.col("et").alias("et_b"), F.col("b").alias("bb"), F.col("q").alias("qb")
    )
    dec = "decimal(38,0)"
    j = a.join(
        c,
        (F.col("bb") == F.col("ba") + F.col("lag"))
        & (F.col("et_a") < F.col("et_b")),
    )
    return j.groupBy("et_a", "et_b", "lag").agg(
        F.sum((F.col("qa").cast(dec) * F.col("qb").cast(dec)).cast(dec))
        .cast(dec)
        .alias("score"),
        F.count("*").cast("bigint").alias("n_overlap"),
    )


# --------------------------------------------------------------------------
# B23i — single mean-shift changepoint per series (the CUSUM-style
# offline estimator): k* = argmax_k |n*C_k - k*S_n| over the ordered
# prefix sums — the scaled statistic keeps everything in int64
# (n*C_k <= 2e4 * 1.1e9 ~ 2.3e13), no division until the two segment
# means at output (rounded ratios of exact integers). Candidates are
# restricted to k < n (a split needs a non-empty right segment); the
# argmax tie-breaks to the EARLIEST k, so the winner is unique and
# hash-stable. Shape: one per-series ordering window (prefix sums +
# row_number), one argmax via rank-1 filter — two window passes over
# one keyed shuffle, full codegen, no fold UDF.
# --------------------------------------------------------------------------
_B23_CHANGEPOINT_ORACLE = """
    WITH c AS (
      SELECT event_type, event_id, ts,
        CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    p AS (
      SELECT event_type, event_id, ts,
        ROW_NUMBER() OVER w AS k,
        SUM(cents) OVER (PARTITION BY event_type ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck,
        SUM(cents) OVER (PARTITION BY event_type) AS sn,
        COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM c
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ),
    d AS (
      SELECT event_type, event_id, ts, k, ck, sn, n,
        ABS(n * ck - k * sn) AS dk
      FROM p WHERE k < n
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_type ORDER BY dk DESC, k) AS rk
      FROM d
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
      CAST(k AS BIGINT) AS k_star, ts AS ts_star,
      CAST(dk AS BIGINT) AS d_max,
      ((2 * ck * 10000 + 100 * k) // (2 * 100 * k)) / 10000.0
        AS mean_before,
      ((2 * (sn - ck) * 10000 + 100 * (n - k))
        // (2 * 100 * (n - k))) / 10000.0 AS mean_after
    FROM r WHERE rk = 1
"""


@register("b23_changepoint", oracle=_B23_CHANGEPOINT_ORACLE, tags=("B23",))
def b23_changepoint(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    wo = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wt = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wp = Window.partitionBy("event_type")
    p = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.row_number().over(wo).alias("k"),
        F.sum("cents").over(wt).alias("ck"),
        F.sum("cents").over(wp).alias("sn"),
        F.count("*").over(wp).alias("n"),
    )
    d = p.filter(F.col("k") < F.col("n")).withColumn(
        "dk", F.abs(F.col("n") * F.col("ck") - F.col("k") * F.col("sn"))
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("dk").desc(), F.col("k")
    )
    r = d.withColumn("rk", F.row_number().over(wr)).filter(F.col("rk") == 1)
    return r.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k_star"),
        F.col("ts").alias("ts_star"),
        F.col("dk").cast("bigint").alias("d_max"),
        round_ratio(F.col("ck"), 100 * F.col("k"), 4).alias("mean_before"),
        round_ratio(
            F.col("sn") - F.col("ck"), 100 * (F.col("n") - F.col("k")), 4
        ).alias("mean_after"),
    )


# --------------------------------------------------------------------------
# B24e — Theil-Sen robust trend (median of pairwise slopes) per
# series, the outlier-immune twin of b24_forecast_trend's least
# squares. The O(B^2) pair join runs over HOURLY TOTALS, not raw
# points — B is bounded by the time range / bucket width (720 buckets
# for the 30-day fixture => ~2.6e5 pairs per series), so at 100 TB
# the pair count is UNCHANGED; the only part that scales with data
# volume is the bucketing aggregate (one keyed shuffle, map-side
# partials). Exactness: each slope is ONE IEEE division of two exact
# int64s ((cents_j - cents_i) / (hours_j - hours_i)) — identical
# doubles in both engines, no float sums anywhere; medians use the
# discrete rank-at-ceil idiom with (slope, hi, hj) tie-break, and the
# intercept reuses the SELECTED median slope (a broadcast scalar per
# series), so intercept candidates are again single products and
# subtractions of identical doubles.
# --------------------------------------------------------------------------
_B24_THEILSEN_ORACLE = """
    WITH b AS (
      SELECT event_type,
        date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                  date_trunc('hour', ts)) AS hr,
        CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    pr AS (
      SELECT b1.event_type, b1.hr AS hi, b2.hr AS hj,
        CAST(b2.cents - b1.cents AS DOUBLE)
          / CAST(b2.hr - b1.hr AS DOUBLE) AS slope
      FROM b b1 JOIN b b2
        ON b1.event_type = b2.event_type AND b1.hr < b2.hr
    ),
    rs AS (
      SELECT event_type, slope,
        ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY slope, hi, hj) AS rn,
        COUNT(*) OVER (PARTITION BY event_type) AS np
      FROM pr
    ),
    med AS (
      SELECT event_type, MAX(np) AS n_pairs,
        MAX(CASE WHEN rn = CAST(CEIL(0.5 * np) AS BIGINT)
            THEN slope END) AS slope
      FROM rs GROUP BY event_type
    ),
    ic AS (
      SELECT b.event_type,
        CAST(b.cents AS DOUBLE) - m.slope * CAST(b.hr AS DOUBLE) AS icpt,
        b.hr,
        ROW_NUMBER() OVER (PARTITION BY b.event_type
          ORDER BY CAST(b.cents AS DOUBLE)
            - m.slope * CAST(b.hr AS DOUBLE), b.hr) AS rn,
        COUNT(*) OVER (PARTITION BY b.event_type) AS nb
      FROM b JOIN med m USING (event_type)
    )
    SELECT i.event_type,
      CAST(MAX(i.nb) AS BIGINT) AS n_buckets,
      CAST(MAX(m.n_pairs) AS BIGINT) AS n_pairs,
      MAX(m.slope) AS slope_cents_per_hour,
      MAX(CASE WHEN i.rn = CAST(CEIL(0.5 * i.nb) AS BIGINT)
          THEN i.icpt END) AS intercept_cents
    FROM ic i JOIN med m USING (event_type)
    GROUP BY i.event_type
"""


class ScaleGuardError(ValueError):
    """A query's bounded-cost precondition failed: running it anyway
    would build a plan whose cost is quadratic (or worse) in a
    quantity the caller let grow unbounded. Raised at plan-build time,
    before any large job is submitted."""


# Theil-Sen's pair join is O(B²) per series over B time buckets. The
# hourly fixture window keeps B ≈ 720 (≈2.6e5 pairs); this cap rejects
# a call whose time range would explode that — 4096 buckets is ~8.4M
# pairs per series (~200 MB of slope rows), the most a sane exact run
# should pay. Past the cap, use b24_theil_sen_sampled (k-bucket
# deterministic subsample, constant cost at any range).
THEIL_SEN_MAX_BUCKETS = 4096


def _theil_sen_guard(b, max_buckets: int):
    """Bounded action: one count over the cached (series × bucket)
    relation — O(series) rows — rejecting an unbounded time range
    before the quadratic pair join is ever submitted. Returns the
    per-series bucket counts so the caller can REUSE the guard's own
    job output as the rank metadata (round-8 verdict #6: the guard's
    answer and the query's n_pairs/median ranks come from the same
    tiny relation — one job serves both)."""
    counts = {
        r["event_type"]: int(r["n"])
        for r in b.groupBy("event_type").agg(F.count("*").alias("n"))
        .collect()
    }
    mx = max(counts.values(), default=0)
    if mx > max_buckets:
        raise ScaleGuardError(
            f"Theil-Sen pair join would be O(B²) with B={mx} buckets in "
            f"one series (cap {max_buckets}, ~{max_buckets * (max_buckets - 1) // 2} "
            "pairs); narrow the time range, widen the bucket, or use "
            "b24_theil_sen_sampled"
        )
    return counts


@register("b24_theil_sen", oracle=_B24_THEILSEN_ORACLE, tags=("B24",))
def b24_theil_sen(spark, sf_dir, max_buckets: int = THEIL_SEN_MAX_BUCKETS):
    ev = t(spark, sf_dir, "events")
    b = ev.groupBy(
        "event_type",
        (
            F.floor(F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        ).cast("bigint").alias("hr"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    ).cache()  # tiny (series x hours); referenced by b1, b2, and ic —
    # without the cache each reference rescans the full fact table
    counts = _theil_sen_guard(b, max_buckets)
    # rank metadata from the guard's OWN collected counts (exact
    # Python ints — ceil(x/2) == (x+1)//2): the main plan carries it
    # as a literal broadcast instead of re-aggregating b
    meta = b.sparkSession.createDataFrame(
        [
            (et, nb, nb * (nb - 1) // 2,
             (nb * (nb - 1) // 2 + 1) // 2, (nb + 1) // 2)
            for et, nb in sorted(counts.items())
        ],
        "event_type string, nb bigint, n_pairs bigint, "
        "mrank bigint, brank bigint",
    )
    return _theil_sen_from_buckets(b, meta)


def _theil_sen_from_buckets(b, meta=None):
    """Median-of-pairwise-slopes + median intercept over an
    (event_type, hr, cents) bucket relation. Pair join is O(B²) per
    series — callers bound B (guard or subsample) before calling.

    Ranks come CLOSED-FORM from the bucket counts (n_pairs =
    B(B-1)/2, median rank = ceil(n/2) in exact integer arithmetic),
    so the O(B²) pair relation pays exactly ONE window pass
    (row_number for the order statistic) — the old count(*)-over-
    partition second pass over the pair rows is gone (round-8
    verdict #6: it roughly doubled the windowed bytes for a value
    derivable from the tiny per-series bucket counts). A caller that
    already counted the buckets (the scale guard) passes the ranks in
    as ``meta`` and the plan skips the re-aggregation entirely."""
    if meta is None:
        meta = b.groupBy("event_type").agg(
            F.count("*").cast("bigint").alias("nb")
        ).select(
            "event_type",
            "nb",
            F.expr("nb * (nb - 1) div 2").alias("n_pairs"),
            # ceil(x/2) == (x+1) div 2 for non-negative integers —
            # exact, matching the oracle's CEIL(0.5*n) DECIMAL rank
            F.expr("(nb * (nb - 1) div 2 + 1) div 2").alias("mrank"),
            F.expr("(nb + 1) div 2").alias("brank"),
        )
    # left side fans out over the session's cores so the O(B²) pair
    # GENERATION is parallel (the cached bucket relation AQE-coalesces
    # to ~1 partition; without the repartition one task emits all
    # ~6.5M pairs); the right side is a broadcast of the same tiny
    # relation. This is a task-fanout for a FIXED-size relation (B is
    # caller-bounded), not a data-scaled constant — so it sizes from
    # defaultParallelism, never a hard-coded core count.
    b1 = b.select(
        "event_type", F.col("hr").alias("hi"), F.col("cents").alias("ci")
    ).repartition(b.sparkSession.sparkContext.defaultParallelism)
    b2 = b.select(
        "event_type", F.col("hr").alias("hj"), F.col("cents").alias("cj")
    )
    # the pair rows carry ONLY (event_type, slope): the order
    # statistic at rank mrank is a VALUE pick, so tie order among
    # equal slopes cannot change the result — no need to shuffle the
    # (hi, hj) tie-break columns through the O(B²) window sort
    pr = b1.join(
        F.broadcast(b2), "event_type"
    ).filter(F.col("hi") < F.col("hj")).select(
        "event_type",
        (
            (F.col("cj") - F.col("ci")).cast("double")
            / (F.col("hj") - F.col("hi")).cast("double")
        ).alias("slope"),
    )
    wr = Window.partitionBy("event_type").orderBy("slope")
    med = (
        pr.select(
            "event_type", "slope", F.row_number().over(wr).alias("rn")
        )
        .join(F.broadcast(meta), "event_type")
        .filter(F.col("rn") == F.col("mrank"))
        .select("event_type", "nb", "n_pairs", "brank", "slope")
    )
    icpt_expr = F.col("cents").cast("double") - F.col("slope") * F.col(
        "hr"
    ).cast("double")
    wi = Window.partitionBy("event_type").orderBy(icpt_expr, "hr")
    ic = b.join(F.broadcast(med), "event_type").select(
        "event_type",
        "nb",
        "n_pairs",
        "brank",
        "slope",
        icpt_expr.alias("icpt"),
        F.row_number().over(wi).alias("rn"),
    )
    return ic.groupBy("event_type").agg(
        F.max("nb").cast("bigint").alias("n_buckets"),
        F.max("n_pairs").cast("bigint").alias("n_pairs"),
        F.max("slope").alias("slope_cents_per_hour"),
        F.max(
            F.when(F.col("rn") == F.col("brank"), F.col("icpt"))
        ).alias("intercept_cents"),
    )


# --------------------------------------------------------------------------
# B24e' — SAMPLED Theil-Sen: the unbounded-range escape hatch for the
# ScaleGuardError above. Instead of all B buckets, each series keeps
# its K=32 smallest-md5 buckets — a DETERMINISTIC hash subsample (the
# same salted-md5-rank idiom as b18_stratified_sample), so the result
# is bit-identical across engines and re-runs and the pair join is
# K(K-1)/2 = 496 pairs per series at ANY time range. This is the
# classic sampled Theil-Sen (median of slopes over a random pair
# subset converges to the same estimator); hash sampling the BUCKETS
# (not the pairs) keeps cost K² while staying oracle-expressible.
# --------------------------------------------------------------------------
_B24_THEILSEN_SAMPLED_ORACLE = """
    WITH ball AS (
      SELECT event_type,
        date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                  date_trunc('hour', ts)) AS hr,
        CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT event_type, hr, cents FROM (
        SELECT event_type, hr, cents,
          ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY md5(event_type || '|' || CAST(hr AS VARCHAR)), hr
          ) AS srn
        FROM ball
      ) WHERE srn <= 32
    ),
    pr AS (
      SELECT b1.event_type, b1.hr AS hi, b2.hr AS hj,
        CAST(b2.cents - b1.cents AS DOUBLE)
          / CAST(b2.hr - b1.hr AS DOUBLE) AS slope
      FROM b b1 JOIN b b2
        ON b1.event_type = b2.event_type AND b1.hr < b2.hr
    ),
    rs AS (
      SELECT event_type, slope,
        ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY slope, hi, hj) AS rn,
        COUNT(*) OVER (PARTITION BY event_type) AS np
      FROM pr
    ),
    med AS (
      SELECT event_type, MAX(np) AS n_pairs,
        MAX(CASE WHEN rn = CAST(CEIL(0.5 * np) AS BIGINT)
            THEN slope END) AS slope
      FROM rs GROUP BY event_type
    ),
    ic AS (
      SELECT b.event_type,
        CAST(b.cents AS DOUBLE) - m.slope * CAST(b.hr AS DOUBLE) AS icpt,
        b.hr,
        ROW_NUMBER() OVER (PARTITION BY b.event_type
          ORDER BY CAST(b.cents AS DOUBLE)
            - m.slope * CAST(b.hr AS DOUBLE), b.hr) AS rn,
        COUNT(*) OVER (PARTITION BY b.event_type) AS nb
      FROM b JOIN med m USING (event_type)
    )
    SELECT i.event_type,
      CAST(MAX(i.nb) AS BIGINT) AS n_buckets,
      CAST(MAX(m.n_pairs) AS BIGINT) AS n_pairs,
      MAX(m.slope) AS slope_cents_per_hour,
      MAX(CASE WHEN i.rn = CAST(CEIL(0.5 * i.nb) AS BIGINT)
          THEN i.icpt END) AS intercept_cents
    FROM ic i JOIN med m USING (event_type)
    GROUP BY i.event_type
"""


@register(
    "b24_theil_sen_sampled",
    oracle=_B24_THEILSEN_SAMPLED_ORACLE,
    tags=("B24",),
)
def b24_theil_sen_sampled(spark, sf_dir, k: int = 32):
    ev = t(spark, sf_dir, "events")
    ball = ev.groupBy(
        "event_type",
        (
            F.floor(F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        ).cast("bigint").alias("hr"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    wk = Window.partitionBy("event_type").orderBy(
        F.md5(F.concat_ws("|", "event_type", F.col("hr").cast("string"))),
        "hr",
    )
    b = (
        ball.withColumn("srn", F.row_number().over(wk))
        .filter(F.col("srn") <= k)
        .drop("srn")
        .cache()  # K rows per series; feeds both pair sides + intercept
    )
    return _theil_sen_from_buckets(b)


# --------------------------------------------------------------------------
# B12k — Bollinger bands (20-row MA ± 2σ) per series: the classic
# volatility envelope, emitted only at full windows like InfluxDB's
# moving_average warm-up rule. Exactness: the window mean and the
# variance numerator (n·Σx² − (Σx)², ≤ ~1.2e12 in cents²) are exact
# int64 window sums; each of mean, variance, and σ is then ONE IEEE
# operation chain on identical doubles (division, division, sqrt —
# sqrt is correctly rounded per IEEE-754, unlike pow), so both engines
# produce bit-identical bands with no rounding helper needed. Shape:
# one per-series keyed window, 20-row bounded frame, full codegen.
# --------------------------------------------------------------------------
_B12_BOLLINGER_ORACLE = """
    WITH c AS (
      SELECT event_type, event_id, ts,
        CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id < 40
    ),
    w AS (
      SELECT event_type, event_id, ts, cents,
        SUM(cents) OVER w20 AS s,
        SUM(cents * cents) OVER w20 AS q,
        COUNT(*) OVER w20 AS n
      FROM c
      WINDOW w20 AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, event_id, ts,
      CAST(cents AS DOUBLE) / 100 AS price,
      CAST(s AS DOUBLE) / (100 * n) AS ma,
      CAST(s AS DOUBLE) / (100 * n)
        + 2 * SQRT(CAST(n * q - s * s AS DOUBLE) / CAST(n * n AS DOUBLE))
          / 100 AS upper_band,
      CAST(s AS DOUBLE) / (100 * n)
        - 2 * SQRT(CAST(n * q - s * s AS DOUBLE) / CAST(n * n AS DOUBLE))
          / 100 AS lower_band
    FROM w WHERE n = 20
"""


@register("b12_bollinger", oracle=_B12_BOLLINGER_ORACLE, tags=("B12",))
def b12_bollinger(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 40).select(
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w20 = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    w = ev.select(
        "event_type",
        "event_id",
        "ts",
        "cents",
        F.sum("cents").over(w20).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(w20).alias("q"),
        F.count("*").over(w20).alias("n"),
    ).filter(F.col("n") == 20)
    ma = F.col("s").cast("double") / (100 * F.col("n"))
    sd = (
        F.sqrt(
            (F.col("n") * F.col("q") - F.col("s") * F.col("s")).cast("double")
            / (F.col("n") * F.col("n")).cast("double")
        )
        / 100
    )
    return w.select(
        "event_type",
        "event_id",
        "ts",
        (F.col("cents").cast("double") / 100).alias("price"),
        ma.alias("ma"),
        (ma + 2 * sd).alias("upper_band"),
        (ma - 2 * sd).alias("lower_band"),
    )


# --------------------------------------------------------------------------
# B27u — rolling active users (DAU / trailing-7-day WAU / stickiness):
# the standard engagement rollup. The exact path here aggregates the
# DEDUPED (day, user) table — |days| x |users| rows, already orders of
# magnitude under the event count — then counts each trailing window
# via a 30-row broadcast day-spine range join (never a window over raw
# events). The 100 TB path swaps the exact trailing count for the
# per-day MERGEABLE sketch tables this repo already proves lossless /
# bounded (b5_hll_windowed_merge, b5_kmv_distinct): distinct-over-
# any-range from per-day state without a second raw scan. Stickiness
# DAU/WAU is a rounded ratio of exact integers.
# --------------------------------------------------------------------------
_B27_RAU_ORACLE = """
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        user_id
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
    wau AS (
      SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
      FROM days d JOIN du u
        ON u.day >= d.day - INTERVAL 6 DAY AND u.day <= d.day
      GROUP BY d.day
    )
    SELECT d.day, CAST(a.dau AS BIGINT) AS dau,
      CAST(w.wau AS BIGINT) AS wau,
      ((2 * a.dau * 10000 + w.wau) // (2 * w.wau)) / 10000.0
        AS stickiness
    FROM days d JOIN dau a USING (day) JOIN wau w USING (day)
"""


@register("b27_rolling_active_users", oracle=_B27_RAU_ORACLE, tags=("B27",))
def b27_rolling_active_users(spark, sf_dir):
    du = (
        t(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .distinct()
    )
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.count("*").alias("dau"))
    wau = (
        days.alias("d")
        .join(
            du.alias("u"),
            (F.col("u.day") >= F.col("d.day") - F.expr("INTERVAL 6 DAYS"))
            & (F.col("u.day") <= F.col("d.day")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("u.user_id").alias("wau"))
    )
    return (
        days.join(dau, "day")
        .join(wau, "day")
        .select(
            "day",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            round_ratio(F.col("dau"), F.col("wau"), 4).alias("stickiness"),
        )
    )


# --------------------------------------------------------------------------
# B23j — Hampel filter (rolling-median outlier detection): the
# LOCAL robust twin of b23_mad_outliers' global gate — a 7-row
# centered window per series, outlier when |x - med7| > 3 * MAD7,
# replacement value = the window median (what the filter exists for).
# Exactness: medians come from sorting the 7-element integer-cents
# window list and taking element 4 — discrete, no interpolation —
# and the 3x-MAD gate is an integer compare. The 7-element
# list/sort/transform HOFs are the SMALL-ARRAY case the SCALE.md HOF
# policy allows: the interpreted constant is per-window O(7), dwarfed
# by the one per-series keyed window shuffle (the corpus-element-hot
# gram stages are where HOFs are banned). Full windows only, like
# moving_average warm-up.
# --------------------------------------------------------------------------
_B23_HAMPEL_ORACLE = """
    WITH c AS (
      SELECT event_type, event_id, ts,
        CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id < 40
    ),
    w AS (
      SELECT event_type, event_id, ts, cents,
        list(cents) OVER w7 AS win,
        COUNT(*) OVER w7 AS nw
      FROM c
      WINDOW w7 AS (PARTITION BY event_type ORDER BY ts, event_id
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    m AS (
      SELECT event_type, event_id, ts, cents,
        list_sort(win)[4] AS med
      FROM w WHERE nw = 7
    ),
    h AS (
      SELECT m.*, list_sort(list_transform(w.win,
          x -> abs(x - m.med)))[4] AS mad
      FROM m JOIN w USING (event_type, event_id)
    )
    SELECT event_type, event_id, ts,
      CAST(cents AS DOUBLE) / 100 AS value,
      CAST(med AS DOUBLE) / 100 AS med7,
      CAST(mad AS DOUBLE) / 100 AS mad7
    FROM h
    WHERE abs(cents - med) > 3 * mad
"""


@register("b23_hampel", oracle=_B23_HAMPEL_ORACLE, tags=("B23",))
def b23_hampel(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 40).select(
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 3)
    )
    w = ev.select(
        "event_type",
        "event_id",
        "ts",
        "cents",
        F.collect_list("cents").over(w7).alias("win"),
        F.count("*").over(w7).alias("nw"),
    ).filter(F.col("nw") == 7)
    med = F.element_at(F.sort_array(F.col("win")), 4)
    m = w.select("event_type", "event_id", "ts", "cents", "win", med.alias("med"))
    mad = F.element_at(
        F.sort_array(
            F.transform(F.col("win"), lambda x: F.abs(x - F.col("med")))
        ),
        4,
    )
    h = m.select(
        "event_type", "event_id", "ts", "cents", "med", mad.alias("mad")
    )
    return h.filter(
        F.abs(F.col("cents") - F.col("med")) > 3 * F.col("mad")
    ).select(
        "event_type",
        "event_id",
        "ts",
        (F.col("cents").cast("double") / 100).alias("value"),
        (F.col("med").cast("double") / 100).alias("med7"),
        (F.col("mad").cast("double") / 100).alias("mad7"),
    )


# --------------------------------------------------------------------------
# B24f — segmented trend: the structural-break model that composes two
# proven idioms — the mean-shift changepoint (b23_changepoint's
# all-int64 argmax picks k* per series) splits each series into
# before/after segments, and each segment gets b24_forecast_trend's
# exact-decimal least squares (one double division per coefficient on
# identical operands). This is the "did the trend CHANGE at the
# break" question a plain global fit can't answer. Shape: one keyed
# window pass for k*, a broadcast of the 5-row breakpoint table back
# onto the fact, then a per-(series, segment) aggregate with map-side
# partials.
# --------------------------------------------------------------------------
_B24_SEGTREND_ORACLE = """
    WITH c AS (
      SELECT event_type, event_id, ts,
        CAST(ROUND(value * 100) AS BIGINT) AS cents,
        CAST(CAST(FLOOR(epoch(ts)) AS BIGINT)
          - epoch(TIMESTAMP '2024-01-01') AS DECIMAL(9,0)) AS x
      FROM events
    ),
    p AS (
      SELECT event_type, event_id,
        ROW_NUMBER() OVER w AS k,
        SUM(cents) OVER (PARTITION BY event_type ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck,
        SUM(cents) OVER (PARTITION BY event_type) AS sn,
        COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM c
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ),
    r AS (
      SELECT event_type, k AS k_star, ROW_NUMBER() OVER (
        PARTITION BY event_type
        ORDER BY ABS(n * ck - k * sn) DESC, k) AS rk
      FROM p WHERE k < n
    ),
    brk AS (SELECT event_type, k_star FROM r WHERE rk = 1),
    seg AS (
      SELECT c.event_type,
        CAST(CASE WHEN p.k <= b.k_star THEN 0 ELSE 1 END AS INT)
          AS segment,
        c.x, CAST(c.cents AS DECIMAL(9,0)) AS y
      FROM c
      JOIN p ON p.event_type = c.event_type AND p.event_id = c.event_id
      JOIN brk b ON b.event_type = c.event_type
    ),
    agg AS (
      SELECT event_type, segment,
        CAST(COUNT(*) AS DECIMAL(9,0)) AS n,
        CAST(SUM(x) AS DECIMAL(19,0)) AS sx,
        CAST(SUM(y) AS DECIMAL(19,0)) AS sy,
        CAST(SUM(x * y) AS DECIMAL(28,0)) AS sxy,
        CAST(SUM(x * x) AS DECIMAL(28,0)) AS sxx
      FROM seg GROUP BY event_type, segment
    )
    SELECT event_type, segment, CAST(n AS BIGINT) AS n_points,
      ROUND(1e6 * CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE), 6)
        AS slope_cents_per_us,
      ROUND((CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
            / CAST(n AS DOUBLE) / 100, 4) AS intercept_value
    FROM agg
"""


@register("b24_segmented_trend", oracle=_B24_SEGTREND_ORACLE, tags=("B24",))
def b24_segmented_trend(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lit("2024-01-01").cast("timestamp"))
        ).cast("decimal(9,0)").alias("x"),
    )
    wo = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wt = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wp = Window.partitionBy("event_type")
    p = ev.select(
        "event_type",
        "event_id",
        "x",
        "cents",
        F.row_number().over(wo).alias("k"),
        F.sum("cents").over(wt).alias("ck"),
        F.sum("cents").over(wp).alias("sn"),
        F.count("*").over(wp).alias("n"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("n") * F.col("ck") - F.col("k") * F.col("sn")).desc(),
        F.col("k"),
    )
    brk = (
        p.filter(F.col("k") < F.col("n"))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select("event_type", F.col("k").alias("k_star"))
    )
    seg = p.join(F.broadcast(brk), "event_type").select(
        "event_type",
        F.when(F.col("k") <= F.col("k_star"), 0)
        .otherwise(1)
        .cast("int")
        .alias("segment"),
        "x",
        F.col("cents").cast("decimal(9,0)").alias("y"),
    )
    agg = seg.groupBy("event_type", "segment").agg(
        F.count("*").cast("decimal(9,0)").alias("n"),
        F.sum("x").cast("decimal(19,0)").alias("sx"),
        F.sum("y").cast("decimal(19,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(28,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(28,0)").alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    slope = num / den
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n").cast("double")
        / 100
    )
    return agg.select(
        "event_type",
        "segment",
        F.col("n").cast("bigint").alias("n_points"),
        F.round(F.lit(1e6) * slope, 6).alias("slope_cents_per_us"),
        F.round(intercept, 4).alias("intercept_value"),
    )


# --------------------------------------------------------------------------
# B23k — historical gap report per series: every inter-event gap over
# the threshold, with its exact integer-microsecond span (the
# RETROSPECTIVE twin of the deadman alert, which only watches the
# live tail — a maintenance review wants every outage last month).
# One lag over the per-series ordering window; sub-second exactness
# via unix_micros, the same lesson as the deadman floor fix.
# --------------------------------------------------------------------------
_B23_GAPS_ORACLE = """
    WITH s AS (
      SELECT event_type, ts, event_id,
        LAG(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id)
          AS prev_ts
      FROM events
    )
    SELECT event_type, prev_ts AS gap_start, ts AS gap_end,
      CAST(epoch_us(ts) - epoch_us(prev_ts) AS BIGINT) AS gap_us
    FROM s
    WHERE prev_ts IS NOT NULL
      AND epoch_us(ts) - epoch_us(prev_ts) > 600000000
"""


@register("b23_gap_report", oracle=_B23_GAPS_ORACLE, tags=("B23",))
def b23_gap_report(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select("event_type", "ts", "event_id")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts"))
    return s.filter(
        F.col("prev_ts").isNotNull() & (gap > 600_000_000)
    ).select(
        "event_type",
        F.col("prev_ts").alias("gap_start"),
        F.col("ts").alias("gap_end"),
        gap.cast("bigint").alias("gap_us"),
    )


# --------------------------------------------------------------------------
# B12s — stochastic oscillator %K (14-row window): where the price
# sits inside its recent range, the range-position companion of the
# Bollinger envelope — %K = 100·(x − min14)/(max14 − min14). Exact:
# window min/max are integer cents, %K a rounded ratio of exact
# integers; a FLAT window (max == min) has no defined range position
# and yields NULL (the guard the ACF property test taught — ANSI mod
# by zero throws, and both engines must agree on the degenerate
# case). Full windows only.
# --------------------------------------------------------------------------
_B12_STOCH_ORACLE = """
    WITH c AS (
      SELECT event_type, event_id, ts,
        CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id < 40
    ),
    w AS (
      SELECT event_type, event_id, ts, cents,
        MIN(cents) OVER w14 AS lo,
        MAX(cents) OVER w14 AS hi,
        COUNT(*) OVER w14 AS nw
      FROM c
      WINDOW w14 AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, event_id, ts,
      CAST(cents AS DOUBLE) / 100 AS price,
      CAST(lo AS DOUBLE) / 100 AS low14,
      CAST(hi AS DOUBLE) / 100 AS high14,
      CASE WHEN hi = lo THEN NULL
        ELSE ((2 * 100 * (cents - lo) * 10000 + (hi - lo))
              // (2 * (hi - lo))) / 10000.0 END AS pct_k
    FROM w WHERE nw = 14
"""


@register("b12_stochastic_k", oracle=_B12_STOCH_ORACLE, tags=("B12",))
def b12_stochastic_k(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 40).select(
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w14 = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-13, Window.currentRow)
    )
    w = ev.select(
        "event_type",
        "event_id",
        "ts",
        "cents",
        F.min("cents").over(w14).alias("lo"),
        F.max("cents").over(w14).alias("hi"),
        F.count("*").over(w14).alias("nw"),
    ).filter(F.col("nw") == 14)
    return w.select(
        "event_type",
        "event_id",
        "ts",
        (F.col("cents").cast("double") / 100).alias("price"),
        (F.col("lo").cast("double") / 100).alias("low14"),
        (F.col("hi").cast("double") / 100).alias("high14"),
        F.when(
            F.col("hi") > F.col("lo"),
            round_ratio(
                100 * (F.col("cents") - F.col("lo")),
                F.col("hi") - F.col("lo"),
                4,
            ),
        ).alias("pct_k"),
    )


# --------------------------------------------------------------------------
# B12m — MACD (Moving Average Convergence/Divergence): the one classic
# TA-suite member the EMA family lacked — macd = EMA12 − EMA26 of the
# series, signal = EMA9 OF THE MACD (a chained recursion), histogram =
# macd − signal. Cross-engine determinism rides the b12_ewma
# precedent: pandas ewm(adjust=False) and the recursive-CTE oracle
# apply the same IEEE-754 fold (αv + (1−α)acc; float + is
# commutative, and α = 2/(span+1) is one identical double division in
# both engines). Spark shape: one applyInPandas per series — the
# sequential-recurrence family's documented Arrow path (B30), grouped
# by series so 100 TB parallelizes across series.
# --------------------------------------------------------------------------
_B12_MACD_ORACLE = """
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, ts, value,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id < 10
    ),
    r12 AS (
      SELECT user_id, rn, value AS e FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn,
        (2.0 / 13.0) * s.value + (1 - 2.0 / 13.0) * r.e
      FROM seq s JOIN r12 r ON s.user_id = r.user_id AND s.rn = r.rn + 1
    ),
    r26 AS (
      SELECT user_id, rn, value AS e FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn,
        (2.0 / 27.0) * s.value + (1 - 2.0 / 27.0) * r.e
      FROM seq s JOIN r26 r ON s.user_id = r.user_id AND s.rn = r.rn + 1
    ),
    m AS (
      SELECT s.user_id, s.event_id, s.ts, s.rn, a.e - b.e AS macd
      FROM seq s
      JOIN r12 a ON a.user_id = s.user_id AND a.rn = s.rn
      JOIN r26 b ON b.user_id = s.user_id AND b.rn = s.rn
    ),
    r9 AS (
      SELECT user_id, rn, macd AS sg FROM m WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn,
        (2.0 / 10.0) * s.macd + (1 - 2.0 / 10.0) * r.sg
      FROM m s JOIN r9 r ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT m.user_id, m.event_id, m.ts, m.macd, r9.sg AS signal,
      m.macd - r9.sg AS histogram
    FROM m JOIN r9 ON r9.user_id = m.user_id AND r9.rn = m.rn
"""


@register("b12_macd", oracle=_B12_MACD_ORACLE, tags=("B12", "B30"))
def b12_macd(spark, sf_dir):
    import pandas as pd

    def macd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        e12 = pdf["value"].ewm(span=12, adjust=False).mean()
        e26 = pdf["value"].ewm(span=26, adjust=False).mean()
        pdf["macd"] = e12 - e26
        pdf["signal"] = pdf["macd"].ewm(span=9, adjust=False).mean()
        pdf["histogram"] = pdf["macd"] - pdf["signal"]
        return pdf[["user_id", "event_id", "ts", "macd", "signal",
                    "histogram"]]

    return (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(
            macd,
            "user_id bigint, event_id bigint, ts timestamp, "
            "macd double, signal double, histogram double",
        )
    )


# --------------------------------------------------------------------------
# B23p — HOUR-OF-DAY PROFILE anomaly gate: industrial series are
# periodic — "is this value anomalous?" must mean "versus this hour's
# NORMAL", not versus the global mean (a nightly idle value is normal
# at 03:00 and an outage signature at 14:00). Profile = per
# (event_type, hour-of-day) sum/count in exact integer cents; a
# reading is anomalous iff |value − profile_mean| > 50% of the
# profile mean, cross-multiplied to integers (|cents·n − sum|·2 >
# |sum|) so both engines decide identically. One aggregate builds the
# 24·series-row profile (broadcastable at any corpus size); the gate
# is a map-only probe — the b21_gopher_rules shape applied to B23.
# --------------------------------------------------------------------------
_B23_PROFILE_ORACLE = """
    WITH c AS (
      SELECT event_type,
        CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
        CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    prof AS (
      SELECT event_type, hod,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(cents) AS BIGINT) AS s
      FROM c GROUP BY 1, 2
    )
    SELECT p.event_type, p.hod, p.n,
      CAST(SUM(CASE WHEN ABS(c.cents * p.n - p.s) * 2 > ABS(p.s)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM c JOIN prof p USING (event_type, hod)
    GROUP BY 1, 2, 3
"""


@register("b23_profile_anomaly", oracle=_B23_PROFILE_ORACLE, tags=("B23",))
def b23_profile_anomaly(spark, sf_dir):
    c = t(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("bigint").alias("hod"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    prof = c.groupBy("event_type", "hod").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    joined = c.join(F.broadcast(prof), ["event_type", "hod"])
    return joined.groupBy("event_type", "hod", "n").agg(
        F.sum(
            F.when(
                F.abs(F.col("cents") * F.col("n") - F.col("s")) * 2
                > F.abs(F.col("s")),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_anomalies")
    )
