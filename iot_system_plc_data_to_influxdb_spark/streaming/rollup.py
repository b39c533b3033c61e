"""Continuous-query rollups — InfluxDB CQ parity.

InfluxDB 1.7 pairs retention policies with *continuous queries*:
``SELECT mean(value) INTO rollup FROM points GROUP BY time(5m)`` runs
forever, keeping a downsampled table current (the reference leans on
this server-side feature for its Grafana dashboards; README.md:3
"retention policy", the rollup half of the same machinery).

Spark-native shape:

- **continuous**: the B26 windowed aggregate (`pipeline.downsample`)
  in append output mode — each window row is emitted exactly once,
  when the watermark closes it — written through ``foreachBatch`` into
  a date-partitioned parquet rollup table.
- **backfill**: the identical aggregation run as a batch over
  historical points, anti-joined against the buckets already present
  so re-runs are idempotent (0 rows the second time). This is how the
  rollup is seeded from history and how watermark-stranded tails are
  repaired.

Both paths produce the same schema, so the rollup table is the union
of "kept current by the stream" and "filled by batch" — exactly the
lambda-architecture join InfluxDB's CQ engine hides. At 100 TB the
rollup is ~window-ratio smaller than points (300× for 5-min buckets
at 1 s acquisition), the anti-join touches only the rollup (small)
side, and date partitioning keeps both writers append-only per
partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.retention import holds_data
from .sinks import _start_append


ROLLUP_COLS = [
    "bucket_start",
    "plc_ip",
    "alias",
    "n",
    "min_value",
    "max_value",
    "sum_value",
    "avg_value",
]

# every rollup agg is mergeable: n/min/max/sum re-aggregate exactly to
# any coarser bucket; sum is DECIMAL so partial sums merge
# order-independently (the map-side-combine invariant, SURVEY.md §5.5)
_MERGEABLE = {
    "n": F.sum("n"),
    "min_value": F.min("min_value"),
    "max_value": F.max("max_value"),
    "sum_value": F.sum("sum_value"),
}


def _agg_exprs():
    return [
        F.count("*").alias("n"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum(F.col("value").cast("decimal(20,4)")).alias("sum_value"),
    ]


def _with_avg(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "avg_value", (F.col("sum_value") / F.col("n")).cast("double")
    )


def _write_rollup_batch(batch_df: DataFrame, _bid: int, table_path: str) -> None:
    (
        batch_df.withColumn("date", F.to_date("bucket_start"))
        .write.mode("append")
        .partitionBy("date")
        .parquet(table_path)
    )


def start_continuous_downsample(
    points: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    every: str = "5 minutes",
    watermark: str = "10 minutes",
    available_now: bool = False,
    trigger_interval: str = "0 seconds",
):
    """The CQ itself: closed windows append into the rollup table."""
    return _start_append(
        batch_downsample(points.withWatermark("ts", watermark), every=every),
        checkpoint_dir,
        lambda df, bid: _write_rollup_batch(df, bid, table_path),
        trigger_interval,
        available_now,
    )


def batch_downsample(points: DataFrame, every: str = "5 minutes") -> DataFrame:
    """The CQ aggregation; the stream runs it over watermarked points."""
    return _with_avg(
        points.groupBy(F.window("ts", every).alias("w"), "plc_ip", "alias")
        .agg(*_agg_exprs())
        .select(
            F.col("w.start").alias("bucket_start"),
            "plc_ip",
            "alias",
            "n",
            "min_value",
            "max_value",
            "sum_value",
        )
    )


def backfill_downsample(
    spark: SparkSession,
    points: DataFrame,
    table_path: str,
    every: str = "5 minutes",
) -> int:
    """Fill rollup buckets missing from ``table_path``; idempotent.

    Anti-join on the bucket key (bucket_start, plc_ip, alias): only
    buckets absent from the rollup are computed into it, so running
    the same backfill twice writes nothing the second time. Returns
    the number of rows written.
    """
    fresh = batch_downsample(points, every=every)
    if holds_data(table_path):
        existing = spark.read.parquet(table_path).select(
            "bucket_start", "plc_ip", "alias"
        )
        fresh = fresh.join(
            existing, ["bucket_start", "plc_ip", "alias"], "left_anti"
        )
    fresh = fresh.cache()
    n = fresh.count()
    if n:
        _write_rollup_batch(fresh, -1, table_path)
    fresh.unpersist()
    return n


def read_rollup(spark: SparkSession, table_path: str) -> DataFrame:
    return spark.read.parquet(table_path).select(*ROLLUP_COLS)


def resample_downsample(
    spark: SparkSession,
    points: DataFrame,
    table_path: str,
    every: str = "5 minutes",
) -> int:
    """InfluxQL ``RESAMPLE`` parity: recompute buckets that drifted.

    Late rows the stream's watermark dropped leave closed buckets
    stale; this repairs them (and fills missing ones) by rewriting
    only the affected *date partitions* with the fresh batch
    aggregate, via dynamic partition overwrite — partition-granular,
    idempotent (second run touches nothing). Returns rows rewritten.
    """
    fresh = batch_downsample(points, every=every).cache()
    try:
        if holds_data(table_path):
            existing = spark.read.parquet(table_path).select(
                "bucket_start", "plc_ip", "alias", F.col("n").alias("old_n")
            )
            drift = (
                fresh.join(
                    existing, ["bucket_start", "plc_ip", "alias"], "left"
                )
                .filter(
                    F.col("old_n").isNull() | (F.col("old_n") != F.col("n"))
                )
                .select(F.to_date("bucket_start").alias("date"))
                .distinct()
            )
            dates = [r["date"] for r in drift.collect()]
            if not dates:
                return 0
            to_write = fresh.withColumn(
                "date", F.to_date("bucket_start")
            ).filter(F.col("date").isin(dates))
        else:
            to_write = fresh.withColumn("date", F.to_date("bucket_start"))
        to_write = to_write.cache()
        n = to_write.count()
        # overwrite mode rides the writer, not the shared session conf
        # (round 12: thread-safe under guide-§2.6 concurrent jobs)
        (
            to_write.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("date")
            .parquet(table_path)
        )
        to_write.unpersist()
        return n
    finally:
        fresh.unpersist()


def reaggregate_rollup(rollup: DataFrame, coarse: str) -> DataFrame:
    """Merge fine rollup buckets into coarser ones — exact, because
    every stored aggregate is mergeable (n/min/max/decimal-sum)."""
    return _with_avg(
        rollup.groupBy(
            F.window("bucket_start", coarse).start.alias("bucket_start"),
            "plc_ip",
            "alias",
        ).agg(*[e.alias(k) for k, e in _MERGEABLE.items()])
    ).select(*ROLLUP_COLS)


def route_downsample(
    spark: SparkSession,
    points: DataFrame,
    rollup_path: str | None,
    rollup_every_s: int,
    query_every_s: int,
) -> DataFrame:
    """Materialized-view routing: answer a GROUP BY time(query_every)
    from the rollup table when the requested bucket is a multiple of
    the rollup bucket, else from raw points. At 100 TB the rollup is
    ~(rollup ratio)× smaller than points, so dashboard-style queries
    never touch the raw table. Results are identical on either path —
    the mergeable-aggregate invariant, asserted in tests."""
    if (
        rollup_path
        and query_every_s % rollup_every_s == 0
        and holds_data(rollup_path)
    ):
        return reaggregate_rollup(
            spark.read.parquet(rollup_path), f"{query_every_s} seconds"
        )
    return batch_downsample(points, f"{query_every_s} seconds")


# --------------------------------------------------------------------------
# Windowed QUANTILE-SKETCH materialization (B5q × B26): the CQ leg of
# plans/relational.b5_quantile_sketch. Each event-time window
# materializes the per-series log2-octave bucket counts — the SAME
# exact bucketing expressions as the batch sketch (imported from
# functions/qsketch.py), finalized when the watermark passes.
# Range queries then MERGE materialized windows with bucket-count SUM
# and extract percentiles (plans/relational._qsketch_quantiles) — the
# b5_quantile_windowed_merge dataflow, fed by a stream instead of a
# nightly batch. State is bounded: windows × series × ≤~60 buckets.
# --------------------------------------------------------------------------
def quantile_sketch_stream(
    events: DataFrame,
    *,
    every: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """event stream (ts, event_type, value) → append stream of
    finalized (window, event_type, e, sub, cnt) sketch rows."""
    from ..functions.qsketch import qsketch_octave, qsketch_sub

    c = events.select(
        "ts",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    ).filter(F.col("cents") >= 1)
    e = qsketch_octave()
    sub = qsketch_sub()
    return (
        c.select("ts", "event_type", e.alias("e"), sub.alias("sub"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", every), "event_type", "e", "sub")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def percentile_from_sketch(
    sketch: DataFrame,
    pct: int,
    time_lo=None,
    time_hi=None,
    by_series: bool = True,
) -> DataFrame:
    """Answer an InfluxQL ``percentile(value, pct)`` from MATERIALIZED
    quantile-sketch windows instead of raw points — the Grafana-style
    consumer of quantile_sketch_stream's CQ output (round-8 verdict
    #8, tying B5 to B26).

    ``sketch`` is the (window, event_type, e, sub, cnt) table the CQ
    materializes. Windows inside [time_lo, time_hi) MERGE with
    bucket-count SUM (the sketch's lossless merge operator), then one
    rank extraction over ≤~60 buckets per series answers the query —
    the raw points are never touched, so a dashboard percentile over
    any range costs O(windows × buckets), not a corpus scan. The
    answer is the bucket LOWER BOUND in value units: within 25% below
    the exact percentile (bucket width / lower bound = 1/(4+sub) ≤
    1/4), the documented sketch bound asserted in the gateway e2e
    test."""
    from ..functions.qsketch import qsketch_lower_bound

    w = sketch
    if time_lo is not None:
        w = w.filter(F.col("window.start") >= F.lit(time_lo))
    if time_hi is not None:
        w = w.filter(F.col("window.start") < F.lit(time_hi))
    keys = ["event_type"] if by_series else []
    merged = w.groupBy(*keys, "e", "sub").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    from pyspark.sql import Window as W

    part = W.partitionBy(*keys) if keys else W.partitionBy(F.lit(1))
    wo = part.orderBy("e", "sub").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = merged.select(
        *keys,
        "cnt",
        qsketch_lower_bound().alias("lb"),
        F.sum("cnt").over(wo).alias("cum_n"),
        F.sum("cnt").over(part.orderBy().rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )).alias("n"),
    )
    # exact integer rank: ceil(pct% of n) == (pct*n + 99) div 100
    rank = F.expr(f"({pct} * n + 99) div 100")
    agg = cum.groupBy(*keys).agg(
        F.max("n").cast("bigint").alias("n"),
        (
            F.min(F.when(F.col("cum_n") >= rank, F.col("lb")))
            .cast("double") / 100.0
        ).alias("percentile"),
    )
    return agg


def hll_register_stream(
    events: DataFrame,
    key: str = "user_id",
    *,
    every: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Windowed HLL register CQ — the distinct-count member of the
    sketch-CQ family (quantile_sketch_stream is the percentile one):
    event stream → append stream of finalized (window, bucket, r)
    register rows, 256 small rows per window that never store keys.
    Registers are built with the SAME functions/hll.hll_bucket_rho
    expression tree as the batch b5_hll_* queries (the qsketch
    drift-proofing pattern), and windows MERGE with the register MAX
    — so a dashboard answers "distinct <key> over any range" from
    materialized windows without touching raw data, and the merge is
    provably the batch sketch (pinned in test_streaming)."""
    from ..functions.hll import hll_bucket_rho

    staged = hll_bucket_rho(events, key, "ts")
    return (
        staged.withWatermark("ts", watermark)
        .groupBy(F.window("ts", every), "bucket")
        .agg(F.max("rho").cast("int").alias("r"))
    )


def cms_cell_stream(
    events: DataFrame,
    key: str = "user_id",
    *,
    every: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Windowed Count-Min cell CQ — the frequency member of the
    sketch-CQ family (quantile_sketch_stream = percentiles,
    hll_register_stream = distinct counts): event stream → append
    stream of finalized (window, i, b, c) cell rows, ≤1,024
    exact-integer rows per window that never store keys. Cells hash
    through the SAME functions/cms.cms_buckets_col expression tree as
    the batch b5_cms_* queries; windows MERGE with cell SUM — the CMS
    merge — so range heavy-hitter queries answer from materialized
    windows (merge == batch one-pass sketch pinned in
    test_streaming)."""
    from ..functions.cms import cms_buckets_col

    staged = events.select(
        "ts", F.col(key).cast("string").alias("u")
    ).select("ts", cms_buckets_col().alias("e")).select(
        "ts", "e.i", "e.b"
    )
    return (
        staged.withWatermark("ts", watermark)
        .groupBy(F.window("ts", every), "i", "b")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
