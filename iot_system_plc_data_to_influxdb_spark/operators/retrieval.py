"""Written serving indexes for lexical (BM25) and vector (IVF, IVF-PQ)
retrieval.

An index is a directory of parquet relations. Four of them are
partitioned (``Relation``): BM25 ``postings`` and ``terms`` by term
bucket ``tb = pmod(xxhash64(term), N_BUCKETS)``, IVF ``cells`` (raw
vectors) and IVF-PQ ``codes`` by coarse ``cell``. The rest are small
unpartitioned sidecars: corpus ``stats``, the coarse ``centroids`` and
the PQ ``codebooks``.

Every partitioned relation has one lifecycle, and each stage exists
once here:

- ``_write``: the build, a delta append, the ``terms/`` merge and a
  compaction rewrite are the same clustered, sorted, ``partitionBy``
  write;
- ``_landed``: a delta reports the partitions it lands in as an
  Observation riding its one pass, so no collect job learns them;
- ``scan``: a serve reads only the partitions its query hashes or
  probes into (partition pruning);
- ``partition_files`` / ``compact``: partitions whose file count
  exceeds a threshold are rewritten as one sorted file each; the
  others keep their files byte-identical.

What stays per family is what differs: tokenize/tf and BM25 scoring,
the coarse and PQ quantizers, ADC and the exact rerank. Each
registered index query (plans/northstar.py) shares the oracle of a
corpus-scan or replay twin, so every sweep proves that build, delta
merge, compaction and serve answer like a rebuild. Pruning, untouched
partitions' byte identity and compaction selectivity are proven in
tests/test_retrieval_index.py.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog import par_floor, run_jobs
from ..functions.pq import (
    M,
    pq_adc_topk,
    pq_code_cols,
    pq_ratio_expr,
    pq_subvectors,
    pq_train,
)
from ..functions.text import surprisal_bits, tokens
from ..functions.vectors import cosine
from .similarity import ivf_best_cell, ivf_cell_assignments, ivf_centroids

#: term-hash partition count; pruning power is |query buckets| / N_BUCKETS
N_BUCKETS = 64


@dataclass(frozen=True)
class Relation:
    """A partitioned index relation: its subdirectory, partition
    column, file columns, write-salt key (None: never salted) and
    within-file sort."""

    sub: str
    part: str
    cols: tuple
    salt: str | None
    sort: tuple


POSTINGS = Relation(
    "postings", "tb", ("doc_id", "dl", "term", "tf"), "doc_id",
    ("term", "doc_id"),
)
TERMS = Relation("terms", "tb", ("term", "df"), "term", ("term",))
CELLS = Relation("cells", "cell", ("vec_id", "embedding"), "vec_id", ("vec_id",))
CODES = Relation(
    "codes", "cell", ("vec_id", *(f"c{j}" for j in range(M))), "vec_id",
    ("vec_id",),
)


@contextlib.contextmanager
def index_dir(prefix: str):
    """A temporary index directory, removed on exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _clustered(df: DataFrame, rel: Relation) -> DataFrame:
    """One task per partition value, or S tasks per value with
    SPARK_GRAFT_INDEX_WRITE_SALT=S: a deterministic salt
    pmod(xxhash64(salt key), S), retry-safe, spreads a hot partition
    over S files. Pruning is unchanged (partitionBy sees only the
    partition column)."""
    s = max(1, int(os.environ.get("SPARK_GRAFT_INDEX_WRITE_SALT", "1")))
    if s <= 1 or rel.salt is None:
        return df.repartition(rel.part)
    return df.repartition(
        F.col(rel.part), F.pmod(F.xxhash64(F.col(rel.salt)), F.lit(s))
    )


def _sized(writer):
    """SPARK_GRAFT_INDEX_MAX_RECORDS_PER_FILE=N (default 0, unlimited)
    bounds the rows of each written file."""
    n = int(os.environ.get("SPARK_GRAFT_INDEX_MAX_RECORDS_PER_FILE", "0"))
    return writer.option("maxRecordsPerFile", n) if n > 0 else writer


def _write(df: DataFrame, path: str, rel: Relation, mode: str = "overwrite"):
    """The one write of a partitioned relation. ``mode`` is
    "overwrite" (a build), "append" (a delta: new files land next to
    the old ones) or "rewrite": replace only the partitions present in
    ``df`` (dynamic partition overwrite, set on this writer, never on
    the shared session conf), after cutting lineage to the files it
    replaces. Both env knobs apply to every mode (the salt to
    relations with a salt key)."""
    df = _clustered(df.select(*rel.cols, rel.part), rel).sortWithinPartitions(
        *rel.sort
    )
    if mode == "rewrite":
        df = df.localCheckpoint()
    w = df.write.mode("append" if mode == "append" else "overwrite")
    if mode == "rewrite":
        w = w.option("partitionOverwriteMode", "dynamic")
    _sized(w.partitionBy(rel.part)).parquet(os.path.join(path, rel.sub))


def _landed(df: DataFrame, rel: Relation):
    """(df, obs): ``obs`` collects the partitions df's rows land in,
    filled by the first action over df."""
    obs = Observation()
    return df.observe(obs, F.collect_set(rel.part).alias("parts")), obs


def _landed_ids(obs) -> list[int]:
    return sorted(int(p) for p in obs.get["parts"])


def scan(
    spark: SparkSession, path: str, rel: Relation, parts=None
) -> DataFrame:
    """``rel`` under ``path``, pruned to partitions ``parts`` (all
    partitions when None) — the scan every serve and merge reads."""
    df = spark.read.parquet(os.path.join(path, rel.sub))
    return df if parts is None else df.filter(F.col(rel.part).isin(list(parts)))


def partition_files(spark: SparkSession, path: str, rel: Relation) -> DataFrame:
    """(part, n_files) over ``rel`` from ``input_file_name()`` — never a
    driver-side directory walk."""
    return (
        scan(spark, path, rel)
        .select(rel.part, F.input_file_name().alias("f"))
        .groupBy(rel.part)
        .agg(F.count_distinct("f").cast("bigint").alias("n_files"))
    )


def compact(
    spark: SparkSession, path: str, rel: Relation, max_files: int = 1
) -> list[int]:
    """Rewrite only the partitions holding more than ``max_files``
    files, each as one sorted file — unsalted, or a salted rewrite
    would leave S files and never converge (the max-records backstop
    still applies); every other partition keeps its files
    byte-identical. Appended deltas fragment partitions; answers are
    unchanged because the row set is. Work is O(fragmented
    partitions' rows). Returns the compacted partition ids."""
    frag = sorted(
        int(r[rel.part])
        for r in partition_files(spark, path, rel)
        .filter(F.col("n_files") > max_files)
        .collect()
    )
    if frag:
        _write(
            scan(spark, path, rel, frag), path, replace(rel, salt=None),
            "rewrite",
        )
    return frag


def _sidecar(spark: SparkSession, path: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(path, name))


def _put_sidecar(df: DataFrame, path: str, name: str) -> None:
    df.write.mode("overwrite").parquet(os.path.join(path, name))


def _put_centroids(spark: SparkSession, path: str, cents) -> None:
    _put_sidecar(
        spark.createDataFrame(cents, "cell int, cvec array<float>"),
        path, "centroids",
    )


def _centroids(spark: SparkSession, path: str) -> DataFrame:
    """The coarse-quantizer sidecar (cell, cvec)."""
    return _sidecar(spark, path, "centroids")


def _frozen_centroids(spark: SparkSession, path: str) -> list:
    """The written coarse quantizer as ``ivf_centroids`` returns it."""
    return sorted(
        (int(r["cell"]), list(r["cvec"]))
        for r in _centroids(spark, path).collect()
    )


# -- BM25 postings ----------------------------------------------------------
def _term_bucket(term):
    return F.pmod(F.xxhash64(term), F.lit(N_BUCKETS)).cast("int")


def _observed_term_freqs(docs: DataFrame):
    """(tf, obs): (doc_id, dl, term, tf) over ``docs`` (doc_id, text),
    the one tokenization the build and the delta share, plus corpus
    stats (n_docs, sum_len) observed on the same pass. Terms are the
    lowercase whitespace tokens matching ``^[a-z0-9]+$``."""
    obs = Observation()
    base = (
        par_floor(docs, "doc_id")
        .select("doc_id", tokens(F.col("text")).alias("w"))
        .select("doc_id", F.size("w").cast("bigint").alias("dl"), "w")
        .observe(
            obs,
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            # an empty streaming micro-batch sums to 0, not NULL
            F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("sum_len"),
        )
    )
    tf = (
        base.select("doc_id", "dl", F.explode("w").alias("term"))
        .filter(F.col("term").rlike("^[a-z0-9]+$"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    return tf, obs


def _put_stats(spark: SparkSession, path: str, n_docs: int, sum_len: int):
    _put_sidecar(
        spark.createDataFrame(
            [(int(n_docs), int(sum_len))], "n_docs bigint, sum_len bigint"
        ),
        path, "stats",
    )


def write_postings_index(docs: DataFrame, path: str) -> None:
    """One corpus pass → ``postings/`` (with the stats observed on it),
    then ``terms/`` (per-term df) aggregated from the written postings,
    concurrently with the 1-row ``stats/`` write. terms/ is derived
    from the exact rows postings/ holds, so the index is
    self-consistent by construction."""
    tf, obs = _observed_term_freqs(docs)
    spark = docs.sparkSession
    _write(tf.withColumn("tb", _term_bucket(F.col("term"))), path, POSTINGS)
    run_jobs(
        lambda: _write(
            scan(spark, path, POSTINGS)
            .groupBy("tb", "term")
            .agg(F.count("*").cast("bigint").alias("df")),
            path, TERMS,
        ),
        lambda: _put_stats(spark, path, obs.get["n_docs"], obs.get["sum_len"]),
    )


def bm25_query_buckets(spark: SparkSession, terms) -> list[int]:
    """The term buckets a query's terms hash into (a len(terms)-row
    collect)."""
    return sorted(
        {b for (b,) in (
            spark.createDataFrame([(t,) for t in terms], "term string")
            .select(_term_bucket(F.col("term")))
            .collect()
        )}
    )


def bm25_from_index(
    spark: SparkSession,
    path: str,
    terms: tuple[str, ...],
    topk: int = 10,
    scale: int = 1_000_000,
) -> DataFrame:
    """BM25 (k1=1.2, b=0.75, the fraction-cleared integer form of
    ``_bm25_doc_scores``, same truncation point) top-k, reading only the
    query terms' ``tb=`` partitions of postings/ and terms/ (partition
    pruning plus a pushed ``term IN`` row-group filter)."""
    buckets = bm25_query_buckets(spark, terms)

    def hits(rel):
        return scan(spark, path, rel, buckets).filter(F.col("term").isin(*terms))

    per = (
        hits(POSTINGS)
        .join(F.broadcast(hits(TERMS).select("term", "df")), "term")
        .join(F.broadcast(_sidecar(spark, path, "stats")))
        .select(
            "doc_id", "dl", "tf", "sum_len", "n_docs",
            surprisal_bits(F.col("n_docs"), F.col("df")).alias("idf_bits"),
        )
        .select(
            "doc_id",
            "dl",
            F.expr(
                f"idf_bits * (22 * tf * sum_len * {scale}) div "
                "(10 * tf * sum_len + 3 * sum_len + 9 * dl * n_docs)"
            ).cast("bigint").alias("sterm"),
        )
    )
    return (
        per.groupBy("doc_id")
        .agg(
            F.max("dl").alias("dl"),
            F.count("*").cast("bigint").alias("n_hit_terms"),
            F.sum("sterm").cast("bigint").alias("score_fp"),
        )
        .orderBy(F.col("score_fp").desc(), "doc_id")
        .limit(topk)
    )


def prepare_postings_delta(delta_docs: DataFrame):
    """(dtf, stats_obs, landed_obs): the delta's one tokenize+tf pass,
    checkpointed, with its corpus stats and landed term buckets
    observed on it. It reads only the delta, never the index, so a
    caller may run it concurrently with the build it merges into."""
    dtf, obs = _observed_term_freqs(delta_docs)
    dtf, landed = _landed(
        dtf.withColumn("tb", _term_bucket(F.col("term"))), POSTINGS
    )
    return dtf.localCheckpoint(), obs, landed


def merge_postings_delta(
    spark: SparkSession,
    path: str,
    delta_docs: DataFrame | None = None,
    pre=None,
) -> list[int]:
    """Merge one delta, given as ``delta_docs`` or as a
    ``prepare_postings_delta`` result ``pre`` (exactly one of them),
    via ``merge_postings_deltas``."""
    if (delta_docs is None) == (pre is None):
        raise ValueError(
            "merge_postings_delta: pass exactly one of delta_docs or pre"
        )
    return merge_postings_deltas(
        spark, path, [pre or prepare_postings_delta(delta_docs)]
    )


def merge_postings_deltas(spark: SparkSession, path: str, pres) -> list[int]:
    """Merge prepared deltas (disjoint doc sets) into a written
    postings index; O(Σ deltas + affected buckets' terms), never
    O(base). Three concurrent branches over disjoint subtrees:

    - ``postings/``: one append per delta, so a bucket absorbing K
      deltas gains K files (the fragmentation ``compact`` reads);
    - ``terms/``: df is additive, so all deltas' counts are summed
      with the affected buckets' base rows and those buckets are
      rewritten once;
    - ``stats/``: one 1-row rewrite of old + Σ deltas.

    Returns the affected bucket ids."""
    if not pres:
        return []
    affected = sorted({b for p in pres for b in _landed_ids(p[2])})

    def _postings_appends():
        for dtf, _, _ in pres:
            _write(dtf, path, POSTINGS, "append")

    def _terms_merge():
        ddf = pres[0][0]
        for dtf, _, _ in pres[1:]:
            ddf = ddf.unionByName(dtf)
        ddf = ddf.groupBy("tb", "term").agg(F.count("*").cast("bigint").alias("df"))
        _write(
            scan(spark, path, TERMS, affected)
            .select("tb", "term", "df")
            .unionByName(ddf)
            .groupBy("tb", "term")
            .agg(F.sum("df").cast("bigint").alias("df")),
            path, TERMS, "rewrite",
        )

    def _stats_merge():
        old = _sidecar(spark, path, "stats").first()
        _put_stats(
            spark, path,
            int(old["n_docs"]) + sum(int(p[1].get["n_docs"]) for p in pres),
            int(old["sum_len"]) + sum(int(p[1].get["sum_len"]) for p in pres),
        )

    run_jobs(_postings_appends, _terms_merge, _stats_merge)
    return affected


# -- IVF: raw vectors by coarse cell ----------------------------------------
def write_ivf_index(
    emb: DataFrame, path: str, n_cells: int = 8, cents=None
) -> None:
    """One corpus pass → ``cells/`` plus the ``centroids/`` sidecar, as
    concurrent jobs. ``cents`` takes a pre-collected ``ivf_centroids``
    table a delta merge can then share."""
    if cents is None:
        cents = ivf_centroids(emb, n_cells)
    run_jobs(
        lambda: _write(
            ivf_cell_assignments(par_floor(emb, "vec_id"), cents), path, CELLS
        ),
        lambda: _put_centroids(emb.sparkSession, path, cents),
    )


def merge_ivf_delta(
    spark: SparkSession, path: str, delta_emb: DataFrame, cents=None
) -> list[int]:
    """Assign a delta with the frozen coarse quantizer (``cents``, or
    the written sidecar) and append it into the cells it lands in, in
    one job; other cells and the sidecar keep their files. Returns the
    landed cell ids."""
    assigned, obs = _landed(
        ivf_cell_assignments(delta_emb, cents or _frozen_centroids(spark, path)),
        CELLS,
    )
    _write(assigned, path, CELLS, "append")
    return _landed_ids(obs)


def ivf_probe_cells(
    spark: SparkSession, path: str, probe_df: DataFrame, n_probe_cells: int = 2
) -> list[int]:
    """The ``n_probe_cells`` cells whose centroids are most cosine-
    similar to ``probe_df``'s ``pe`` (ties to the smaller cell)."""
    return [
        int(r["cell"])
        for r in _centroids(spark, path)
        .crossJoin(F.broadcast(probe_df))
        .select("cell", cosine(F.col("cvec"), F.col("pe")).alias("sim"))
        .orderBy(F.col("sim").desc(), "cell")
        .limit(n_probe_cells)
        .collect()
    ]


def knn_ivf_from_index(
    spark: SparkSession,
    path: str,
    probe: list[float],
    probe_vec_id: int | None = None,
    k: int = 10,
    n_probe_cells: int = 2,
) -> DataFrame:
    """Cosine top-k over only the probe cells' ``cell=`` partitions.
    ``probe_vec_id`` excludes the probe's own row when it is a corpus
    member."""
    probe_df = spark.createDataFrame([(probe,)], "pe array<float>")
    cells = scan(
        spark, path, CELLS, ivf_probe_cells(spark, path, probe_df, n_probe_cells)
    )
    if probe_vec_id is not None:
        cells = cells.filter(F.col("vec_id") != probe_vec_id)
    return (
        cells.crossJoin(F.broadcast(probe_df))
        .select(
            "vec_id",
            "cell",
            F.round(cosine(F.col("embedding"), F.col("pe")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(k)
    )


# -- IVF-PQ: PQ codes by coarse cell ----------------------------------------
# M codebook ids per vector instead of the raw vector (~64x fewer
# candidate bytes), no residual encoding, the exact-replay PQ fold of
# functions/pq.py, so the served ADC top-k is hash-checkable.
def ivfpq_quantizers(emb: DataFrame, n_cells: int = 8):
    """(cents, cb): the coarse centroid table and the trained PQ
    codebook relation (M×K rows, checkpointed: the sidecar write and
    the encode both read it). A caller may encode a delta against them
    concurrently with the layout writes."""
    cents = ivf_centroids(emb, n_cells)
    cb = pq_train(pq_subvectors(par_floor(emb, "vec_id"))).localCheckpoint()
    return cents, cb


def _encode(emb: DataFrame, cents, cb: DataFrame) -> DataFrame:
    """(vec_id, c0..c{M-1}, cell): PQ codes and coarse cell in one
    map-side projection of the wide embedding row."""
    return emb.select(
        "vec_id", *pq_code_cols(cb), ivf_best_cell(cents)["cell"].alias("cell")
    )


def write_ivfpq_index(
    emb: DataFrame, path: str, n_cells: int = 8, quantizers=None
) -> None:
    """``codes/`` plus the ``codebooks/`` and ``centroids/`` sidecars,
    as concurrent jobs. ``quantizers`` takes an ``ivfpq_quantizers``
    result."""
    cents, cb = quantizers or ivfpq_quantizers(emb, n_cells)
    emb = par_floor(emb, "vec_id")
    run_jobs(
        lambda: _write(_encode(emb, cents, cb), path, CODES),
        lambda: _put_sidecar(cb, path, "codebooks"),
        lambda: _put_centroids(emb.sparkSession, path, cents),
    )


def prepare_ivfpq_delta(delta_emb: DataFrame, cents, cb):
    """(codes, landed_obs): the delta encoded against the frozen
    quantizers, checkpointed, with its landed cells observed on the
    pass. Reads only the delta, so it may run concurrently with the
    build."""
    landed, obs = _landed(_encode(delta_emb, cents, cb), CODES)
    return landed.localCheckpoint(), obs


def merge_ivfpq_delta(
    spark: SparkSession,
    path: str,
    delta_emb: DataFrame | None = None,
    pre=None,
) -> list[int]:
    """Append a delta into the cells it lands in with both quantizers
    frozen (re-training either is a rebuild). Takes ``delta_emb``
    (encoded here against the written sidecars) or a
    ``prepare_ivfpq_delta`` result ``pre`` — exactly one. Returns the
    landed cell ids."""
    if (delta_emb is None) == (pre is None):
        raise ValueError(
            "merge_ivfpq_delta: pass exactly one of delta_emb or pre"
        )
    codes, obs = pre or prepare_ivfpq_delta(
        delta_emb,
        _frozen_centroids(spark, path),
        _sidecar(spark, path, "codebooks"),
    )
    _write(codes, path, CODES, "append")
    return _landed_ids(obs)


def knn_ivfpq_from_index(
    spark: SparkSession,
    path: str,
    probe: list[float],
    probe_vec_id: int | None = None,
    k: int = 10,
    n_probe_cells: int = 2,
) -> DataFrame:
    """ADC top-k: the probe's O(M×K) lookup table against the codebook
    sidecar (broadcast), over only the probe cells' ``codes/``
    partitions — codes are read, never vectors."""
    probe_df = spark.createDataFrame(
        [(0, list(probe))], "vec_id bigint, embedding array<float>"
    )
    pv = pq_subvectors(probe_df).select("sub", F.col("x").alias("px"))
    lut = (
        _sidecar(spark, path, "codebooks")
        .join(F.broadcast(pv), "sub")
        # reuse the exact-numerator fold
        .select("sub", "cluster", F.col("px").alias("x"), "sx", "n")
        .select("sub", "cluster", pq_ratio_expr().alias("r"))
    )
    probe_cells = ivf_probe_cells(
        spark, path, probe_df.select(F.col("embedding").alias("pe")),
        n_probe_cells,
    )
    codes = scan(spark, path, CODES, probe_cells)
    if probe_vec_id is not None:
        codes = codes.filter(F.col("vec_id") != probe_vec_id)
    codes_long = codes.select(
        "vec_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("sub"),
                    F.col(f"c{j}").cast("bigint").alias("cluster"),
                )
                for j in range(M)
            ])
        ).alias("e"),
    ).select("vec_id", "e.sub", "e.cluster")
    return pq_adc_topk(codes_long, lut, k)


def knn_ivfpq_rerank(
    spark: SparkSession,
    path: str,
    emb_source: DataFrame,
    probe: list[float],
    probe_vec_id: int | None = None,
    k: int = 10,
    shortlist: int = 50,
    n_probe_cells: int = 2,
) -> DataFrame:
    """Two-stage serve: an ADC shortlist of ``shortlist`` ids off the
    codes, then an exact cosine rerank of only those ids' raw vectors,
    fetched from ``emb_source`` by a broadcast id-semijoin."""
    sl = knn_ivfpq_from_index(
        spark, path, probe, probe_vec_id, k=shortlist,
        n_probe_cells=n_probe_cells,
    ).select("vec_id")
    probe_df = spark.createDataFrame([(list(probe),)], "pe array<float>")
    return (
        emb_source.join(F.broadcast(sl), "vec_id")
        .crossJoin(F.broadcast(probe_df))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("pe")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(k)
    )
