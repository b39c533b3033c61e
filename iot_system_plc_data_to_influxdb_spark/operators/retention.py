"""Retention, deletes and compaction on the points table (SURVEY.md B25).

The reference gets deletes and its retention policy from InfluxDB
(README.md:3). Here the points table has one layout, written by
streaming/sinks.write_points_batch: ``plc_ip=<ip>/part-*.parquet`` with
a ``batch_id`` column. Every change to stored rows is one staged
partition rewrite (``rewrite_partition``): storage age-off
(``drop_expired``) rewrites the partitions holding expired rows, the
gateway's DELETE / DROP the one partition it names, compaction
(``compact_all``) a partition's small files into few. Query-time
age-off stays a pushed-down ts filter (the b25 query).
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
import urllib.parse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: name prefixes Spark's file listing skips
_HIDDEN = ("_", ".")


def holds_data(path: str) -> bool:
    """True if ``path`` is a directory holding anything a parquet read
    of it would see."""
    return os.path.isdir(path) and any(
        not e.startswith(_HIDDEN) for e in os.listdir(path)
    )


def _parquet_files(names) -> list[str]:
    """The parquet files among ``names`` that a read of the table lists."""
    return [f for f in names if f.endswith(".parquet") and not f.startswith(_HIDDEN)]


#: test-scale stand-in for SCALE.md's 1024 — the layout is identical,
#: only the modulus differs
N_PLC_BUCKETS = 64


def plc_bucket(plc_ip_col, n_buckets: int = N_PLC_BUCKETS):
    """SCALE.md's coarsened partition key: hash(plc_ip) % n_buckets.

    Raw (plc_ip, date) partitioning explodes into ~10M directories at
    10k PLCs × 1000 days; bucketing the PLC axis bounds the partition
    count at n_buckets × days while keeping both pruning axes — a
    single-PLC query prunes to its bucket, a time-range query to its
    dates. xxhash64 is Spark-native (evaluated JVM-side, codegen'd)."""
    return F.pmod(F.xxhash64(plc_ip_col), F.lit(n_buckets))


def write_points_bucketed(
    points: DataFrame, path: str, n_buckets: int = N_PLC_BUCKETS
) -> None:
    """The 100 TB points layout: parquet partitioned by
    (plc_bucket, date), rows sorted by (plc_ip, ts) inside each file
    so a single PLC's points are contiguous (row-group stat pruning
    inside the bucket) and time-ordered for range scans."""
    (
        points.withColumn("plc_bucket", plc_bucket(F.col("plc_ip"), n_buckets))
        .withColumn("date", F.date_format("ts", "yyyy-MM-dd"))
        .repartition("plc_bucket", "date")
        .sortWithinPartitions("plc_ip", "ts")
        .write.mode("append")
        .partitionBy("plc_bucket", "date")
        .parquet(path)
    )


def read_points_for_plc(
    spark,
    path: str,
    plc_ip: str,
    date_lo: str | None = None,
    date_hi: str | None = None,
    n_buckets: int = N_PLC_BUCKETS,
) -> DataFrame:
    """Single-PLC (optionally time-ranged) read over the bucketed
    layout, shaped so BOTH pruning axes stay partition filters:
    plc_bucket == hash(plc_ip) % n (computed once, driver-side, with
    the same JVM xxhash64 the writer used) and the date bounds as
    lexicographic string comparisons on the partition column. The
    residual plc_ip equality prunes row groups via the write-time sort;
    it and any ts bounds push down into the parquet scan."""
    b = int(
        spark.range(1)
        .select(plc_bucket(F.lit(plc_ip), n_buckets).alias("b"))
        .first()["b"]
    )
    df = spark.read.parquet(path).filter(
        (F.col("plc_bucket") == b) & (F.col("plc_ip") == plc_ip)
    )
    if date_lo is not None:
        df = df.filter(F.col("date") >= date_lo)
    if date_hi is not None:
        df = df.filter(F.col("date") <= date_hi)
    return df


def write_training_shards(
    docs: "DataFrame", packed: "DataFrame", path: str
) -> None:
    """Materialize sequence-packed documents as training shards laid
    out ``lang=<l>/bin_id=<b>/`` (plans/northstar.b21_sequence_pack
    produces ``packed``). A trainer pulling one shard reads ONE
    partition directory — partition pruning, no corpus scan — and a
    whole-lang epoch reads only that lang's subtree. Same layout idea
    as the (plc_bucket, date) points archive above.

    ``packed`` bins are shard-local (two-level packing, bounded pandas
    groups); the partition key folds (shard, bin_id) into one globally
    unique bin label — collision-free because a shard of width S holds
    <= S docs and therefore < S local bins."""
    from pyspark.sql import functions as F

    cols = set(packed.columns)
    if "shard" in cols:
        # lazy import: operators must not import plans at module load
        from ..plans.northstar import _PACK_SHARD_SPAN

        gbin = (
            F.col("shard") * _PACK_SHARD_SPAN + F.col("bin_id")
        ).alias("bin_id")
        pk = packed.select("doc_id", "lang", gbin)
    else:
        pk = packed.select("doc_id", "lang", "bin_id")
    (
        docs.select("doc_id", "text")
        .join(pk, "doc_id")
        .repartition("lang", "bin_id")
        .sortWithinPartitions("bin_id", "doc_id")
        .write.mode("overwrite")
        .partitionBy("lang", "bin_id")
        .parquet(path)
    )


def partition_file_counts(path: str) -> dict[str, int]:
    """leaf partition dir (relative, ``k=v`` names at any depth) →
    parquet file count, for every hive layout written in this package."""
    out: dict[str, int] = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(
            d for d in dirs if "=" in d and not d.startswith(_HIDDEN)
        )
        n = len(_parquet_files(files))
        if n and root != path:
            out[os.path.relpath(root, path)] = n
    return out


_TMP, _OLD = ".rewrite_tmp", ".rewrite_old"


def staging_paths(full: str) -> tuple[str, str]:
    """(staging, old) copies of a partition dir during its rewrite:
    hidden siblings, so a reader of the table never sees them."""
    parent, leaf = os.path.split(os.path.normpath(full))
    return (
        os.path.join(parent, f".{leaf}{_TMP}"),
        os.path.join(parent, f".{leaf}{_OLD}"),
    )


def rewrite_partition(
    spark, path: str, rel: str, keep=None, n_files: int | None = None
) -> int:
    """Replace partition ``rel`` of the table at ``path`` with
    ``keep(rows)`` (all rows if None; ``rows`` carries the partition
    columns), coalesced to ``n_files`` files if given. Returns the rows
    it holds afterwards; a partition left with none is removed.

    Write staging → rename live to old → staging to live → drop old
    (overwriting in place would delete the files the lazy ``rows``
    still reads); ``recover_interrupted_compactions`` repairs a crash
    at any step. O(partition), never O(table); a writer appending to
    this partition during the rewrite would lose its files."""
    full = os.path.normpath(os.path.join(path, rel))
    staging, old = staging_paths(full)
    rows = spark.read.option("basePath", path).parquet(full)
    out = (keep(rows) if keep else rows).drop(
        *[seg.split("=", 1)[0] for seg in rel.split(os.sep) if "=" in seg]
    )
    if n_files:
        out = out.coalesce(n_files)
    out.write.mode("overwrite").parquet(staging)
    n = spark.read.parquet(staging).count()
    os.rename(full, old)
    os.rename(staging, full)
    shutil.rmtree(old)
    if not n and "=" in rel:  # an unpartitioned table keeps its root
        shutil.rmtree(full)
    return n


def drop_expired(spark, path: str, cutoff: _dt.date) -> int:
    """Storage age-off: remove the rows older than ``cutoff`` (ts before
    its midnight, session time zone); returns how many. One scan (ts
    row-group stats skip newer data) finds the partitions holding such
    rows; only those are rewritten, keeping their newer rows."""
    cut = F.lit(cutoff).cast("timestamp")
    fresh = F.col("ts").isNull() | (F.col("ts") >= cut)
    expired: dict[str, int] = {}
    for r in (
        spark.read.parquet(path)
        .filter(F.col("ts") < cut)
        .groupBy(F.input_file_name().alias("f"))
        .count()
        .collect()
    ):
        f = urllib.parse.unquote(urllib.parse.urlparse(r["f"]).path)
        rel = os.path.relpath(os.path.dirname(f), path)
        expired[rel] = expired.get(rel, 0) + r["count"]
    for rel in sorted(expired):
        rewrite_partition(spark, path, rel, lambda rows: rows.filter(fresh))
    return sum(expired.values())


def compact_partition(
    spark,
    path: str,
    partition_rel: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> tuple[int, int]:
    """Rewrite ONE partition directory's many small files into
    ⌈bytes/target⌉ files. Returns (files_before, files_after).

    Streaming sinks write a file per micro-batch per partition, so scan
    cost drifts to file-open overhead; this is the nightly repair
    (Delta/Iceberg OPTIMIZE) as one ``rewrite_partition``."""
    full = os.path.join(path, partition_rel)
    files = _parquet_files(os.listdir(full))
    before = len(files)
    total_bytes = sum(os.path.getsize(os.path.join(full, f)) for f in files)
    n_out = max(1, -(-total_bytes // target_bytes))  # ceil
    if n_out >= before:
        return before, before  # already compact
    rewrite_partition(spark, path, partition_rel, n_files=int(n_out))
    return before, len(_parquet_files(os.listdir(full)))


def compact_all(
    spark, path: str, target_bytes: int = 128 * 1024 * 1024
) -> dict[str, tuple[int, int]]:
    """Compact every partition that has more files than its data needs."""
    results = {}
    for rel, n in partition_file_counts(path).items():
        if n > 1:
            results[rel] = compact_partition(spark, path, rel, target_bytes)
    return results


def recover_interrupted_compactions(path: str) -> dict[str, str]:
    """Repair partitions left inconsistent by a crash inside
    ``rewrite_partition``'s swap (compaction, DELETE or age-off).

    A crash leaves (a) an orphan staging copy (the live dir is intact:
    drop it), or (b) an old copy with no live dir (crash between the
    renames: restore it) or with one (the swap completed: drop the
    old). Run this on startup, the way a WAL is replayed."""
    actions: dict[str, str] = {}
    for root, dirs, _files in os.walk(path):
        for d in list(dirs):
            full = os.path.join(root, d)
            if not (d.startswith(".") and d.endswith((_TMP, _OLD))):
                continue
            dirs.remove(d)
            live = os.path.join(root, d[1:].rsplit(".", 1)[0])
            rel = os.path.relpath(full, path)
            if d.endswith(_TMP):
                shutil.rmtree(full)
                actions[rel] = "dropped orphan tmp"
            elif os.path.exists(live):
                shutil.rmtree(full)
                actions[rel] = "swap had completed; dropped old"
            else:
                os.rename(full, live)
                actions[rel] = "restored interrupted swap"
    return actions
