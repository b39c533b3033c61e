"""Points sink (SURVEY.md A12) and acquisition pacing (A4/A13).

The reference writes one HTTP POST per point to a per-PLC InfluxDB
database (Linux/InfluxConnector2.py:176,107-109). Here the sink is a
``foreachBatch`` writer into a parquet table partitioned by
``plc_ip`` — the db-per-PLC layout as partition directories, with
whole-micro-batch writes instead of per-point requests (the anti-
pattern SURVEY.md §4 flags). An InfluxDB-line-protocol writer would
slot into the same hook where the HTTP client is available.

Pacing (A4/A13): the reference runs one thread per acquisition-interval
group with sleep pacing (Linux/InfluxConnector2.py:85-94,177-209).
Acquisition here does not pace by the config's interval: every query
runs on one trigger (default ``0 seconds``, free-running micro-batches,
the reference's unpaced ``'min'`` loop) whatever each tag's interval.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_points_batch(batch_df: DataFrame, batch_id: int, table_path: str) -> None:
    """foreachBatch hook: the points table's one writer (the /write
    gateway appends through it too). Appends the micro-batch,
    partitioned by plc_ip (db-per-PLC), each row tagged with batch_id.
    Not idempotent: a replayed batch appends its rows again."""
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
