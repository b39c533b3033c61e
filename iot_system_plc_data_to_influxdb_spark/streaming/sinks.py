"""Points sink (SURVEY.md A12) + per-interval orchestration (A4/A13).

The reference writes one HTTP POST per point to a per-PLC InfluxDB
database (Linux/InfluxConnector2.py:176,107-109). Here the sink is a
``foreachBatch`` writer into a parquet table partitioned by
``plc_ip`` — the db-per-PLC layout as partition directories, with
whole-micro-batch writes instead of per-point requests (the anti-
pattern SURVEY.md §4 flags). An InfluxDB-line-protocol writer would
slot into the same hook where the HTTP client is available.

Per-interval scheduling (A4/A13): the reference runs one thread per
acquisition-interval group with sleep pacing
(Linux/InfluxConnector2.py:85-94,177-209). Spark equivalent: one
streaming query per distinct interval, each with
``trigger(processingTime=...)`` — ``'min'`` maps to trigger(0) =
free-running micro-batches, exactly the reference's unpaced loop.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

INTERVAL_TRIGGERS = {
    "min": "0 seconds",  # free-running (README.md:49, pacing at :177-186)
    "1s": "1 seconds",
    "2s": "2 seconds",
    "5s": "5 seconds",
    "10s": "10 seconds",
    "60s": "60 seconds",
    "300s": "300 seconds",
}


def write_points_batch(batch_df: DataFrame, batch_id: int, table_path: str) -> None:
    """foreachBatch hook: idempotent micro-batch append, partitioned by
    plc_ip (db-per-PLC) — at scale also by date for retention pruning."""
    (
        batch_df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("append")
        .partitionBy("plc_ip")
        .parquet(table_path)
    )


def _start_append(
    points: DataFrame,
    checkpoint_dir: str,
    hook,
    trigger_interval: str | None = None,
    available_now: bool = False,
):
    """Start an append-mode streaming query running ``hook(df, batch_id)``
    on each micro-batch: availableNow, else ``trigger_interval`` (None
    keeps Spark's default trigger)."""
    writer = (
        points.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(hook)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval is not None:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def write_points_batch_bucketed(
    batch_df: DataFrame, batch_id: int, table_path: str, n_buckets: int = 64
) -> None:
    """foreachBatch hook writing the SCALE.md archive layout
    ((plc_bucket, date) partitions, (plc_ip, ts)-sorted files) straight
    off the stream — operators/retention.write_points_bucketed is the
    single source of truth for the layout, so batch backfills and the
    streaming sink produce byte-compatible tables."""
    from ..operators.retention import write_points_bucketed

    write_points_bucketed(
        batch_df.withColumn("batch_id", F.lit(batch_id)), table_path, n_buckets
    )


def start_bucketed_points_query(
    points: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    trigger_interval: str = "0 seconds",
    available_now: bool = False,
    n_buckets: int = 64,
):
    """Streaming query materializing the bucketed points archive."""
    return _start_append(
        points,
        checkpoint_dir,
        lambda df, bid: write_points_batch_bucketed(df, bid, table_path, n_buckets),
        trigger_interval,
        available_now,
    )


def start_points_query(
    points: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    trigger_interval: str = "0 seconds",
    available_now: bool = False,
):
    """Start one streaming query writing the points table."""
    # the hook names write_points_batch as a module global, so every
    # micro-batch calls whatever the module attribute is bound to then
    # (a caller may rebind it to wrap each write)
    return _start_append(
        points,
        checkpoint_dir,
        lambda df, bid: write_points_batch(df, bid, table_path),
        trigger_interval,
        available_now,
    )


def start_interval_queries(
    make_stream,
    intervals: list[str],
    base_table_path: str,
    base_checkpoint: str,
):
    """A4/A13: one query per distinct acquisition interval.

    ``make_stream(interval) -> DataFrame`` builds the per-interval
    filtered stream; each query gets its own checkpoint dir (the §7
    risk-register requirement for multi-query sessions).
    """
    queries = []
    for iv in intervals:
        trig = INTERVAL_TRIGGERS.get(iv, "1 seconds")
        q = start_points_query(
            make_stream(iv),
            os.path.join(base_table_path, f"interval={iv}"),
            os.path.join(base_checkpoint, iv),
            trigger_interval=trig,
        )
        queries.append(q)
    return queries


def write_signal_batch_bucketed(
    batch_df: DataFrame,
    batch_id: int,
    table_name: str,
    n_buckets: int = 8,
) -> None:
    """foreachBatch hook appending the micro-batch into a CATALOG table
    bucketed+sorted by (plc_ip, alias) — the join-time layout, sibling
    to write_points_batch_bucketed's (plc_bucket, date) scan-pruning
    layout. Signal-keyed joins and per-signal aggregates over this
    table run with ZERO exchange (the groupBy and the merge join both
    reuse the storage partitioning; plan-guarded in
    tests/test_plans_physical.py::test_b8_points_bucketed_zero_exchange
    and proven off a live stream in tests/test_points_layout.py).
    Bucket writes require the table catalog (bucket metadata lives
    there), hence saveAsTable instead of a path write."""
    (
        batch_df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("append")
        .format("parquet")
        .bucketBy(n_buckets, "plc_ip", "alias")
        .sortBy("plc_ip", "alias")
        .saveAsTable(table_name)
    )


def start_bucketed_signal_table(
    points: DataFrame,
    table_name: str,
    checkpoint_dir: str,
    available_now: bool = False,
    n_buckets: int = 8,
):
    """Streaming query materializing the signal-bucketed points table."""
    return _start_append(
        points,
        checkpoint_dir,
        lambda df, bid: write_signal_batch_bucketed(df, bid, table_name, n_buckets),
        available_now=available_now,
    )
