"""Points sink (SURVEY.md A12) and acquisition pacing (A4/A13).

The reference writes one HTTP POST per point to a per-PLC InfluxDB
database (Linux/InfluxConnector2.py:176,107-109). Here the sink is a
``foreachBatch`` writer into a parquet table partitioned by
``plc_ip`` — the db-per-PLC layout as partition directories, with
whole-micro-batch writes instead of per-point requests (the anti-
pattern SURVEY.md §4 flags). An InfluxDB-line-protocol writer would
slot into the same hook where the HTTP client is available.

How the points table commits a file: ``write_points_batch`` writes each
partition's file under a hidden staging name in its ``plc_ip=``
directory and renames it to its visible ``part-<uuid>.parquet`` name;
that rename is the whole commit. A reader lists either the complete
file or nothing of it, and a stop mid-write leaves hidden staging files
only, which Spark's listing skips (names starting ``.``) and which a
``*/*.parquet`` glob does not match (they end ``.tmp``).

Why not Spark's file writer for this table: on a host where Hadoop has
no native library, its local filesystem forks a ``chmod`` for every
file and directory it creates (each data file, its ``.crc``, every
``_temporary`` level, each partition directory, ``_SUCCESS``), about 30
process spawns for an 8-file trigger and most of its wall time; and two
writers share one ``<table>/_temporary``, whose cleanup by one breaks
the other's commit.

Pacing (A4/A13): the reference runs one thread per acquisition-interval
group with sleep pacing (Linux/InfluxConnector2.py:85-94,177-209).
Acquisition here does not pace by the config's interval: every query
runs on one trigger (default ``0 seconds``, free-running micro-batches,
the reference's unpaced ``'min'`` loop) whatever each tag's interval.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the characters Spark writes as ``%XX`` in a partition directory name
#: (ExternalCatalogUtils.escapePathName)
_ESCAPED = frozenset(
    [chr(c) for c in range(0x01, 0x20)] + list("\"#%'*/:=?\\\x7f{[]^")
)


def _partition_dir(plc_ip: str | None) -> str:
    """The directory name Spark's writer gives ``plc_ip=<value>`` (a
    null or empty value goes to Hive's default partition)."""
    if not plc_ip:
        return "plc_ip=__HIVE_DEFAULT_PARTITION__"
    return "plc_ip=" + "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in plc_ip)


def write_points_batch(batch_df: DataFrame, batch_id: int, table_path: str) -> None:
    """foreachBatch hook: the points table's one writer (the /write
    gateway appends through it too). Appends the micro-batch,
    partitioned by plc_ip (db-per-PLC), each row tagged with batch_id.
    Not idempotent: a replayed batch appends its rows again.

    The batch is collected once as Arrow (one Spark job, no files), then
    per plc_ip pyarrow writes one parquet file to a hidden staging name
    in the partition's directory (Spark's escaped ``plc_ip=`` name) and
    ``os.replace`` commits it as ``part-<uuid>.parquet``: no
    ``_temporary``, ``_SUCCESS`` or ``.crc``, and an empty batch writes
    nothing. A stop mid-write leaves hidden staging files only.
    Concurrent calls share nothing but ``makedirs``. The files hold
    what Spark's writer stored: the batch's columns but plc_ip, then
    ``batch_id int``, all nullable, and ``ts`` as INT96, so a partition
    compacted by Spark's writer and one written here read back with one
    ts type in DuckDB too.

    Driving the write from the driver adds no memory or filesystem
    assumption: the driver already holds the whole micro-batch (the
    simple stream reader prefetches every row in the driver's Python
    process, and /write bodies arrive there), and the table is already
    local-only (retention swaps its partitions with ``os.rename``)."""
    rows = batch_df.withColumn("batch_id", F.lit(batch_id)).toArrow()
    rows = rows.cast(pa.schema([f.with_nullable(True) for f in rows.schema]))
    keys = rows.column("plc_ip")
    data = rows.drop_columns(["plc_ip"])
    parts: dict[str, list] = {}
    for ip in keys.unique().to_pylist():  # null and "" share a directory
        parts.setdefault(_partition_dir(ip), []).append(ip)
    for name, ips in parts.items():
        part = os.path.join(table_path, name)
        os.makedirs(part, exist_ok=True)
        final = f"part-{uuid.uuid4()}.snappy.parquet"
        staging = os.path.join(part, f".{final}.tmp")
        mask = pc.is_in(keys, value_set=pa.array(ips, keys.type), skip_nulls=False)
        pq.write_table(
            data.filter(mask),
            staging,
            use_deprecated_int96_timestamps=True,
            store_schema=False,
        )
        os.replace(staging, os.path.join(part, final))


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
