"""Loaders for the driver-provided parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under an sf dir.

Reading happens lazily per query so Catalyst sees the narrowest
possible scan (column pruning + predicate pushdown reach the parquet
reader). ``register_views`` exposes them to spark.sql for the
SQL-flavored queries.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_nanos_as_long(spark: SparkSession) -> None:
    """Set the nanos-as-long legacy flag once per session (idempotent;
    avoids re-mutating session conf on every table read)."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    if spark.conf.get(key, "false") != "true":
        spark.conf.set(key, "true")


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Plain parquet scan — pushdown-friendly."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.parquet has shipped with two ts encodings across driver
        # testdata generations: TIMESTAMP(NANOS) (which Spark's vectorized
        # reader rejects — read nanos as long, floor-divide to micros, the
        # same truncation DuckDB applies to TIMESTAMP_NS) and
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) (reads natively as
        # TIMESTAMP_NTZ). Either way the column is normalized to a session-
        # timezone TIMESTAMP; the session tz is pinned to UTC
        # (session.py/registry.py) so the NTZ→TZ cast is a micros-identity.
        _ensure_nanos_as_long(spark)
        df = spark.read.parquet(path)
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def par_floor(df: DataFrame, *keys: str) -> DataFrame:
    """Parallelism floor for narrow inputs feeding expensive per-row
    work (round 12, guide §2 "scale-adaptive partitioning").

    Hash-repartition to the session's default parallelism ONLY when
    the input's planned partitioning is narrower. At production scale
    a corpus scan has >= cores natural splits, so this returns ``df``
    unchanged — ZERO added Exchange, the map-side zero-shuffle plans
    keep their shape. On the local bench every test table is one
    small parquet file, which plans as ONE scan partition — without a
    floor, every downstream map-side fold (IVF/PQ assignment,
    tokenize+explode, distance folds) runs single-threaded on a
    32-core machine; the old crossJoin/groupBy shapes were
    accidentally parallel only because their exchanges re-spread the
    rows. Value-neutral: partitioning never changes results.

    ``keys``: hash-partition columns (deterministic under retry —
    guide §2.5 warns off round-robin for retry-safety; every caller
    has a natural unique key)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *[F.col(k) for k in keys])


def spread(*keys: str):
    """Chainable ``par_floor``: ``df.transform(spread("doc_id"))``.

    Round 12 sweep (guide §2 "scale-adaptive partitioning"): the b19/
    b21 plans carried ~70 hard-coded ``repartition(32, key)`` fan-outs
    — the right spread for a one-file local scan, but a CONSTANT tuned
    to the local core count, and at 100 TB an Exchange that *narrows*
    a wide corpus scan to 32 partitions before per-row work. The floor
    repartitions only when the planned partitioning is narrower than
    the session's parallelism, so at scale these sites become
    structural no-ops (zero Exchange) while local plans keep the same
    32-way spread. Value-neutral: partitioning never changes results
    (re-proven by the full-registry oracle sweep)."""
    return lambda df: par_floor(df, *keys)


def run_jobs(*thunks):
    """Run independent driver actions CONCURRENTLY (guide §2.6
    "overlap independent jobs"): Spark's scheduler happily runs
    several jobs at once inside one application — actions are only
    sequential because driver code calls them sequentially. Used where
    an operator issues 2-3 actions with no data dependency between
    them (the postings and terms writes of an index build both read
    the same checkpointed pass; a hybrid query builds its lexical and
    vector indexes into different directories): the later job's tasks
    back-fill executors freed by the earlier job's stage tails instead
    of idling through them, locally AND on a cluster. FIFO scheduling
    (the default) gives exactly that back-fill behaviour; 2-3 jobs in
    flight is plenty (guide §2.6).

    Callers must pass thunks whose actions are genuinely independent:
    no shared session-conf mutation (writers set per-write options
    instead), no thunk reading what another writes — and never thunks
    that WAIT on each other: at most 3 run at once (guide §2.6: "2-3
    jobs in flight is plenty"), so inter-thunk synchronization would
    deadlock once a fourth thunk queues. Returns the thunks' results
    in call order; the first failure propagates after all submitted
    work settles (the pool joins before raising). NOTE for index
    writers (round-12 ADVICE): because sibling branches keep running
    after one fails, a failed build/merge leaves the index directory
    in an invalid mixed state — callers must treat it as
    rebuild-required, the same operational posture as a mid-write
    crash of the sequential code.

    Each thunk runs with the caller's Spark local properties (job
    group, scheduler pool), so its jobs are attributed to the caller's
    job group like the jobs of a sequential call."""
    if not thunks:
        return []
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import SparkContext, inheritable_thread_target

    if SparkContext._active_spark_context is not None:
        # a nested call runs on a pool thread, which has no active session
        session = (
            SparkSession.getActiveSession()
            or SparkSession.builder.getOrCreate()
        )
        thunks = [inheritable_thread_target(session)(th) for th in thunks]
    with ThreadPoolExecutor(max_workers=min(len(thunks), 3)) as pool:
        futures = [pool.submit(th) for th in thunks]
        return [f.result() for f in futures]


def _nanos_bound(bound: str):
    """Epoch-nanos literal for a timestamp bound string, evaluated via
    CAST(bound AS TIMESTAMP) so session-timezone semantics are byte-
    identical to filtering the converted column. Every node is foldable,
    so Catalyst's ConstantFolding collapses it to one int64 literal that
    the parquet scan can take as a pushed filter."""
    return F.unix_micros(F.lit(bound).cast("timestamp")) * F.lit(1000).cast("bigint")


def events_between(
    spark: SparkSession, sf_dir: str, lo: str | None = None, hi: str | None = None
) -> DataFrame:
    """events scan with `lo <= ts < hi` applied on the RAW int64 nanos
    column, BEFORE the timestamp conversion, so the bounds reach the
    parquet reader as PushedFilters and row-group statistics prune.

    Filtering after the `timestamp_micros(ts div 1000)` rewrite compares
    an expression, which no reader can push — at 100 TB that turns a
    "last hour" query into a full scan. Equivalence of the raw-nanos
    filter: micros truncation is a floor, so for whole-microsecond
    bounds `floor(ts/1000) >= lo_us  ⇔  ts >= lo_us*1000` (and the same
    for the strict upper bound).
    """
    _ensure_nanos_as_long(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        if lo is not None:
            df = df.filter(F.col("ts") >= _nanos_bound(lo))
        if hi is not None:
            df = df.filter(F.col("ts") < _nanos_bound(hi))
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        # Compare the bare NTZ column against NTZ literals so the bounds
        # reach the reader as PushedFilters (a cast-wrapped column would
        # push only IsNotNull); then normalize to session-tz TIMESTAMP —
        # an exact micros-identity under the pinned UTC session tz.
        if lo is not None:
            df = df.filter(F.col("ts") >= F.lit(lo).cast("timestamp_ntz"))
        if hi is not None:
            df = df.filter(F.col("ts") < F.lit(hi).cast("timestamp_ntz"))
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        if lo is not None:
            df = df.filter(F.col("ts") >= F.lit(lo).cast("timestamp"))
        if hi is not None:
            df = df.filter(F.col("ts") < F.lit(hi).cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: t(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql queries."""
    for name in TABLES:
        t(spark, sf_dir, name).createOrReplaceTempView(name)
