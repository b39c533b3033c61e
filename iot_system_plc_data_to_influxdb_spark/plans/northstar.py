"""North-star extensions — SURVEY.md §2 B19–B22 + BASELINE.json:
the LLM-training-data pipeline operators (dedup, similarity search,
text analysis, multimodal columns) over documents/embeddings.

Everything hash-based rides on md5 (identical hex in Spark and DuckDB),
which makes even MinHash-LSH and SimHash oracle-checkable. Vector math
uses exact-decimal dot products (functions/vectors.py).

Scale notes are inline per operator: the LSH/banded variants are the
100 TB paths; the exact pairwise variants are correctness baselines.
"""

from __future__ import annotations

import functools

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import par_floor, run_jobs, spread, t
from ..functions.text import (
    STOPWORDS,
    shingles,
    simhash16,
    stopword_hits,
    token_hash16,
    tokens,
)
from ..functions.vectors import cosine
from ..operators.retrieval import (
    CELLS,
    POSTINGS,
    bm25_from_index,
    compact,
    index_dir,
    ivfpq_quantizers,
    knn_ivf_from_index,
    knn_ivfpq_from_index,
    knn_ivfpq_rerank,
    merge_ivf_delta,
    merge_ivfpq_delta,
    merge_postings_delta,
    merge_postings_deltas,
    prepare_ivfpq_delta,
    prepare_postings_delta,
    write_ivf_index,
    write_ivfpq_index,
    write_postings_index,
)
from ..operators.similarity import ivf_centroids
from ._exact import (
    round_ratio,
    round_ratio_signed,
    sql_round_ratio,
    sql_round_ratio_signed,
)
from .registry import register

# Shared DuckDB CTE: tokenized + shingled documents (mirrors
# functions.text.tokens/shingles exactly).
_DOCS_CTE = r"""
    WITH d AS (
      SELECT doc_id, lang,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    pos AS (
      SELECT doc_id, w,
        unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
      FROM d
    ),
    sh0 AS (
      SELECT doc_id, concat_ws(' ', w[i], w[i + 1], w[i + 2]) AS s FROM pos
    ),
    sh AS (SELECT DISTINCT doc_id, s FROM sh0)
"""


def _exploded_grams(with_w, n: int = 3, out: str = "s"):
    """(doc_id, gram string) rows from a frame carrying a `w` word
    array — WITHOUT explode(shingles(...)): transform() is a
    higher-order function Spark evaluates interpreted, outside
    whole-stage codegen (measured ~7x slower cold at sf0.1, and the
    interpreted-vs-codegen CPU gap is what dominates a 100 TB gram
    stage where every task is cold). arrays_zip + slice are plain
    codegen'd expressions: position i zips (w[i], w[i+1], ..),
    concat_ws skips the NULLs past the doc end (same short-doc rule
    as shingles()), and the position filter reproduces shingles()'
    max(len-n+1, 1) emission count. Output strings are byte-identical
    to the old form (exceptAll-verified both directions) — every
    downstream oracle is unchanged. Stays MAP-ONLY: no window, no
    shuffle before the consumer's own aggregation."""
    zipped = F.arrays_zip(
        F.col("w").alias("g0"),
        *[
            F.expr(f"slice(w, {k + 1}, size(w))").alias(f"g{k}")
            for k in range(1, n)
        ],
    )
    z = with_w.select(
        "doc_id",
        F.size("w").alias("_nw"),
        F.posexplode(zipped).alias("_i0", "_st"),
    )
    return z.filter(
        F.col("_i0") <= F.greatest(F.col("_nw") - n, F.lit(0))
    ).select(
        "doc_id",
        F.concat_ws(
            " ", *[F.col(f"_st.g{k}") for k in range(n)]
        ).alias(out),
    )


def _doc_shingles(spark, sf_dir):
    # documents arrives as one small file = one input partition; fan out
    # before the (CPU-heavy) shingle/hash work so it parallelizes.
    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    return _exploded_grams(
        docs.select("doc_id", tokens(F.col("text")).alias("w"))
    ).distinct()


# --------------------------------------------------------------------------
# B19a — MinHash + LSH near-duplicate detection (the 100 TB dedup path:
# k salted-md5 min-hashes → bands → bucket join → verify candidates only)
# --------------------------------------------------------------------------
# 8 minhash components, one salted md5 per (shingle, component):
# component j is the min over shingles of the first 8 hex chars of
# md5(j|shingle). Fixed-width lowercase hex makes lexicographic MIN
# equal numeric MIN — identical in both engines. An r3 experiment
# derived all 8 components from 2 md5 digests via fixed-width slices
# ("4x less hashing"); measured A/B at sf0.1 it was 1.6-4x SLOWER
# (2.42s vs 1.54s): building 64-char concat strings per shingle and
# re-traversing them 8x costs more than md5 itself. Reverted.
_MINHASH_COMPONENTS = ",\n        ".join(
    f"min(substr(md5(concat('{j}|', s)), 1, 8)) AS h{j}"
    for j in range(8)
)

_B19_MINHASH_ORACLE = (
    _DOCS_CTE
    + """
    , mh AS (
      SELECT doc_id,
    """
    + _MINHASH_COMPONENTS
    + """
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, md5(concat(h0, h1)) AS bk FROM mh
      UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM mh
      UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM mh
      UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM mh
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.d1, c.d2, count(*) AS i
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.d1
      JOIN sh s2 ON s2.doc_id = c.d2 AND s2.s = s1.s
      GROUP BY c.d1, c.d2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
    SELECT d1, d2,
      ((2 * i * 10000 + (sa.n + sb.n - i)) // (2 * (sa.n + sb.n - i)))
        / 10000.0 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = d1
    JOIN sizes sb ON sb.doc_id = d2
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.7
    """
)


@register("b19_minhash_lsh_neardup", oracle=_B19_MINHASH_ORACLE, tags=("B19",))
def b19_minhash(spark, sf_dir):
    # Signatures come from higher-order array functions on the un-
    # exploded shingle array — zero shuffles until the (tiny) candidate
    # stage. At 100 TB the per-doc signature stage is a narrow map-only
    # pass; only candidate pairs pay the array_intersect verify.
    docs = (
        t(spark, sf_dir, "documents")
        .transform(spread("doc_id"))  # single-file input → fan out the CPU work
        # materialize the token array before shingling: each shingle
        # position reads n elements, and an un-aliased tokens() would be
        # inlined (and codegen'd) once per element access
        .select("doc_id", tokens(F.col("text")).alias("w"))
        .select(
            "doc_id",
            F.array_distinct(shingles(F.col("w"))).alias("arr"),
        )
    )
    # one salted md5 per (shingle, component), min-folded over the
    # un-exploded array — zero shuffle. Measured faster than deriving
    # the components from two concatenated digests (see oracle note).
    # NOTE: the per-component salt must be captured via a closure
    # FACTORY, not a `lambda s, j=j:` default — pyspark reads a
    # two-parameter lambda as transform's (element, index) form and
    # binds j to the index Column, silently turning the salt literal
    # into the stringified Column repr (fresh-named per call, which
    # both diverges from the oracle's md5('j|'||s) and busts
    # CacheManager plan matching across invocations).
    def _component(j: int):
        salt = F.lit(f"{j}|")
        return F.array_min(
            F.transform(
                F.col("arr"),
                lambda s: F.substring(F.md5(F.concat(salt, s)), 1, 8),
            )
        ).alias(f"h{j}")

    sig = docs.select(
        "doc_id", "arr", *[_component(j) for j in range(8)]
    ).cache()
    mh = sig
    bands = mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(F.concat(F.col(f"h{2*b}"), F.col(f"h{2*b+1}"))).alias("bk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "e.band", "e.bk").cache()
    # (bands is tiny — 4 short rows per doc — and is scanned twice:
    # hot-bucket detection and pair expansion; caching it keeps both
    # scans off the md5 band-key recompute.)
    # Band self-join with hot-bucket salting (operators/skew.py): a
    # viral LSH bucket of m docs otherwise lands m² candidate pairs on
    # one reducer — the residual skew risk VERDICT r01 flagged. Cold
    # buckets join plain; hot ones spread over n_salts reducers.
    from ..operators.skew import salted_self_join_pairs

    cand = salted_self_join_pairs(
        bands, ["band", "bk"], id_col="doc_id", n_salts=8, hot_threshold=4096
    ).distinct()
    # Verify candidates with array_intersect on the per-doc shingle
    # arrays (broadcast the tiny candidate list; no exploded self-join,
    # no extra shuffle).
    arrs = sig.select("doc_id", "arr")
    pairs = (
        F.broadcast(cand)
        .join(arrs.alias("pa"), F.col("pa.doc_id") == F.col("d1"))
        .join(arrs.alias("pb"), F.col("pb.doc_id") == F.col("d2"))
        .select(
            "d1",
            "d2",
            F.size(F.array_intersect(F.col("pa.arr"), F.col("pb.arr"))).alias("i"),
            F.size(F.col("pa.arr")).alias("na"),
            F.size(F.col("pb.arr")).alias("nb"),
        )
    )
    u = F.col("na") + F.col("nb") - F.col("i")
    jac = F.col("i") / u
    return (
        pairs.filter(jac >= 0.7)
        .select("d1", "d2", round_ratio(F.col("i"), u, 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# B19b — exact n-gram Jaccard (correctness baseline; candidate pairs via
# inverted shingle index — quadratic in the worst case, which is exactly
# why the LSH variant above exists for scale)
# --------------------------------------------------------------------------
_B19_JACCARD_ORACLE = (
    _DOCS_CTE
    + """
    , inter AS (
      SELECT s1.doc_id AS d1, s2.doc_id AS d2, count(*) AS i
      FROM sh s1 JOIN sh s2 ON s1.s = s2.s AND s1.doc_id < s2.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
    SELECT d1, d2,
      ((2 * i * 10000 + (sa.n + sb.n - i)) // (2 * (sa.n + sb.n - i)))
        / 10000.0 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = d1
    JOIN sizes sb ON sb.doc_id = d2
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.6
    """
)


@register("b19_ngram_jaccard_neardup", oracle=_B19_JACCARD_ORACLE, tags=("B19",))
def b19_jaccard(spark, sf_dir):
    sh = _doc_shingles(spark, sf_dir).cache()
    s1, s2 = sh.alias("s1"), sh.alias("s2")
    inter = (
        s1.join(
            s2,
            (F.col("s1.s") == F.col("s2.s")) & (F.col("s1.doc_id") < F.col("s2.doc_id")),
        )
        .groupBy(F.col("s1.doc_id").alias("d1"), F.col("s2.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    u = F.col("sa.n") + F.col("sb.n") - F.col("i")
    jac = F.col("i") / u
    return (
        inter.join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("d1"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("d2"))
        .filter(jac >= 0.6)
        .select("d1", "d2", round_ratio(F.col("i"), u, 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# B19c — SimHash near-dup: 16-bit signature, Hamming ≤ 3 pairs
# --------------------------------------------------------------------------
_SIMHASH_SUMS = ",\n        ".join(
    f"SUM((CAST(FLOOR(h16 / {2**b}) AS BIGINT) % 2) * 2 - 1) AS s{b}"
    for b in range(16)
)
_SIMHASH_BITS = ",\n        ".join(f"CAST(s{b} >= 0 AS INT) AS bit_{b}" for b in range(16))
_SIMHASH_PACK = " + ".join(f"bit_{b} * {2**b}" for b in range(16))
_SIMHASH_HAMMING = " + ".join(f"ABS(a.bit_{b} - b.bit_{b})" for b in range(16))

_B19_SIMHASH_ORACLE = (
    _DOCS_CTE
    + f"""
    , tk AS (SELECT DISTINCT doc_id, unnest(w) AS t FROM d),
    hashed AS (
      SELECT doc_id,
        (strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(md5(t), 3, 1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(md5(t), 4, 1)) - 1) AS h16
      FROM tk
    ),
    sums AS (
      SELECT doc_id,
        {_SIMHASH_SUMS}
      FROM hashed GROUP BY doc_id
    ),
    bits AS (
      SELECT doc_id,
        {_SIMHASH_BITS}
      FROM sums
    ),
    sigs AS (SELECT *, {_SIMHASH_PACK} AS simhash FROM bits)
    SELECT a.doc_id AS d1, b.doc_id AS d2,
      a.simhash AS simhash1, b.simhash AS simhash2,
      {_SIMHASH_HAMMING} AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE {_SIMHASH_HAMMING} <= 3
    """
)


@register("b19_simhash_neardup", oracle=_B19_SIMHASH_ORACLE, tags=("B19",))
def b19_simhash(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    tk = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
        .distinct()
    )
    sigs = simhash16(tk, "doc_id", "t")
    a, b = sigs.alias("a"), sigs.alias("b")
    hamming = sum(
        (F.abs(F.col(f"a.bit_{i}") - F.col(f"b.bit_{i}")) for i in range(16)),
        F.lit(0),
    )
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("simhash1"),
            F.col("b.simhash").alias("simhash2"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )


# --------------------------------------------------------------------------
# B19d — embedding-cosine near-dup pairs (exact self-join baseline;
# the bucketed-LSH variant is b20_knn_lsh's machinery)
# --------------------------------------------------------------------------
_B19_COSINE_ORACLE = """
    WITH pos AS (SELECT unnest(range(
        1, (SELECT MAX(len(embedding)) FROM embeddings) + 1)) AS i),
    terms AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2,
        CAST(ROUND(CAST(a.embedding[i] AS DOUBLE), 7) AS DECIMAL(9,7)) AS da,
        CAST(ROUND(CAST(b.embedding[i] AS DOUBLE), 7) AS DECIMAL(9,7)) AS db
      FROM embeddings a
      JOIN embeddings b ON a.vec_id < b.vec_id
      CROSS JOIN pos
      WHERE a.vec_id < 150 AND b.vec_id < 150
    ),
    agg AS (
      SELECT v1, v2, SUM(da * db) AS dot, SUM(da * da) AS na, SUM(db * db) AS nb
      FROM terms GROUP BY v1, v2
    )
    SELECT v1, v2,
      ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6)
        AS cos_sim
    FROM agg
    WHERE CAST(dot AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= 0.4
"""


@register("b19_embedding_cosine_neardup", oracle=_B19_COSINE_ORACLE, tags=("B19", "B20"))
def b19_cosine(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    a = emb.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("eb"))
    cos = cosine(F.col("ea"), F.col("eb"))
    return (
        a.join(b, F.col("v1") < F.col("v2"))
        .select("v1", "v2", cos.alias("cos_raw"))
        .filter(F.col("cos_raw") >= 0.4)
        .select("v1", "v2", F.round("cos_raw", 6).alias("cos_sim"))
    )


# --------------------------------------------------------------------------
# B20 — similarity search: brute-force cosine top-k (baseline)
# --------------------------------------------------------------------------
_B20_ORACLE = """
    WITH probe AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
    pos AS (SELECT unnest(range(
        1, (SELECT MAX(len(embedding)) FROM embeddings) + 1)) AS i),
    terms AS (
      SELECT e.vec_id,
        CAST(ROUND(CAST(e.embedding[i] AS DOUBLE), 7) AS DECIMAL(9,7)) AS da,
        CAST(ROUND(CAST(p.pe[i] AS DOUBLE), 7) AS DECIMAL(9,7)) AS db
      FROM embeddings e CROSS JOIN probe p CROSS JOIN pos
      WHERE e.vec_id <> 0
    ),
    agg AS (
      SELECT vec_id, SUM(da * db) AS dot, SUM(da * da) AS na, SUM(db * db) AS nb
      FROM terms GROUP BY vec_id
    )
    SELECT vec_id,
      ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6)
        AS cos_sim
    FROM agg
    ORDER BY CAST(dot AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) DESC,
             vec_id
    LIMIT 10
"""


@register("b20_knn_bruteforce", oracle=_B20_ORACLE, tags=("B20",))
def b20_brute(spark, sf_dir):
    # Probe vector broadcast against the corpus; per-row exact-decimal
    # cosine; TakeOrderedAndProject gives distributed top-k (per-
    # partition heads + tiny driver merge) — the right plan at any scale.
    emb = t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("pe"))
    # single-file input: fan out the per-row O(d) dot products (at scale
    # the corpus arrives pre-partitioned and this repartition disappears)
    corpus = emb.filter(F.col("vec_id") != 0).transform(spread("vec_id"))
    cos = cosine(F.col("embedding"), F.col("pe"))
    return (
        corpus.crossJoin(F.broadcast(probe))
        .select("vec_id", cos.alias("cos_raw"))
        .orderBy(F.col("cos_raw").desc(), "vec_id")
        .limit(10)
        .select("vec_id", F.round("cos_raw", 6).alias("cos_sim"))
    )


# DuckDB replay of operators/similarity.knn_lsh: the hyperplanes are
# deterministic (sign = parity of the first hex char of md5("j_i")),
# so the whole bucket assignment + Hamming-1 probe + exact-decimal
# cosine re-derives in SQL. The proj sign test tolerates SUM-order
# float drift (|proj| ≫ 1e-13 always).
_B20_LSH_ORACLE = """
    WITH pos AS (SELECT unnest(range(
        1, (SELECT MAX(len(embedding)) FROM embeddings) + 1)) AS i),
    planes AS (SELECT unnest(range(0, 8)) AS j),
    signs AS (
      SELECT j, i,
        CASE WHEN strpos('0123456789abcdef',
               substr(md5(j::VARCHAR || '_' || (i - 1)::VARCHAR), 1, 1)) % 2 = 1
             THEN 1.0 ELSE -1.0 END AS sgn
      FROM planes CROSS JOIN pos
    ),
    proj AS (
      SELECT e.vec_id, s.j,
        SUM(CAST(e.embedding[s.i] AS DOUBLE) * s.sgn) AS p
      FROM embeddings e CROSS JOIN signs s
      GROUP BY 1, 2
    ),
    buckets AS (
      SELECT vec_id,
        CAST(SUM(CASE WHEN p >= 0 THEN 1 << j ELSE 0 END) AS INT) AS bucket
      FROM proj GROUP BY vec_id
    ),
    probe AS (SELECT bucket AS pb FROM buckets WHERE vec_id = 0),
    cand_buckets AS (
      SELECT pb AS cb FROM probe
      UNION
      SELECT xor(pb, 1 << j) FROM probe CROSS JOIN planes
    ),
    cand AS (
      SELECT b.vec_id, b.bucket FROM buckets b
      WHERE b.vec_id <> 0 AND b.bucket IN (SELECT cb FROM cand_buckets)
    ),
    pe AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
    terms AS (
      SELECT c.vec_id, c.bucket,
        CAST(ROUND(CAST(e.embedding[i] AS DOUBLE), 7) AS DECIMAL(9,7)) AS da,
        CAST(ROUND(CAST(p.pv[i] AS DOUBLE), 7) AS DECIMAL(9,7)) AS db
      FROM cand c
      JOIN embeddings e ON e.vec_id = c.vec_id
      CROSS JOIN pe p CROSS JOIN pos
    ),
    agg AS (
      SELECT vec_id, bucket,
        SUM(da * db) AS dot, SUM(da * da) AS na, SUM(db * db) AS nb
      FROM terms GROUP BY 1, 2
    )
    SELECT vec_id, bucket,
      ROUND(CAST(dot AS DOUBLE)
            / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS cos_sim
    FROM agg
    ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


@register("b20_knn_lsh", oracle=_B20_LSH_ORACLE, tags=("B20",))
def b20_lsh(spark, sf_dir):
    # Scale path: random-hyperplane LSH bucket per vector; probe only
    # scans its own bucket (+ the corpus is pre-bucketed, so at 100 TB
    # this is a bucket-pruned scan, not a full pass). Recall vs the
    # brute-force baseline is asserted in tests/test_northstar.py.
    from ..operators.similarity import knn_lsh

    emb = t(spark, sf_dir, "embeddings")
    return knn_lsh(emb, probe_vec_id=0, k=10)


# --------------------------------------------------------------------------
# B21 — text analysis: token counts, TF-IDF, language-ID, quality,
# fingerprinting
# --------------------------------------------------------------------------
@register(
    "b21_token_counts",
    oracle=r"""
    SELECT t AS token, COUNT(*) AS n
    FROM (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
      FROM documents
    )
    GROUP BY t ORDER BY n DESC, t LIMIT 20
    """,
    tags=("B21",),
)
def b21_tokens(spark, sf_dir):
    return (
        t(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


_B21_TFIDF_ORACLE = (
    _DOCS_CTE
    + """
    , tk AS (SELECT doc_id, unnest(w) AS t FROM d),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM tk GROUP BY 1, 2),
    idf AS (SELECT t, count(DISTINCT doc_id) AS df FROM tk GROUP BY t),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, t AS token,
        ROUND(tf * LN(n_docs * 1.0 / df), 6) AS score
      FROM tf JOIN idf USING (t) CROSS JOIN nd
      WHERE doc_id < 50
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, token) AS rn
      FROM scored
    )
    SELECT doc_id, token, score, rn FROM r WHERE rn <= 3
    """
)


@register("b21_tfidf_top_terms", oracle=_B21_TFIDF_ORACLE, tags=("B21",))
def b21_tfidf(spark, sf_dir):
    # Scale shape (VERDICT r01 #4): the vocabulary (idf) grows with the
    # corpus — GBs at 100 TB — so it must NOT be the broadcast side.
    # The probe slice (50 docs' tf rows) is the bounded-small side:
    # broadcast it and let the full token→df table stay shuffled in
    # place. n_docs likewise joins in as a broadcast 1-row aggregate
    # instead of a driver-side .count() action.
    docs = t(spark, sf_dir, "documents")
    tk = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    tf = tk.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    idf = tk.groupBy("t").agg(F.countDistinct("doc_id").alias("df"))
    nd = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        idf.join(F.broadcast(tf.filter(F.col("doc_id") < 50)), "t")
        .join(F.broadcast(nd))
        .select(
            "doc_id",
            F.col("t").alias("token"),
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


# --------------------------------------------------------------------------
# B21s — BM25 RANKED RETRIEVAL (Robertson/Spärck Jones, k1=1.2 b=0.75):
# the lexical-retrieval baseline every curation pipeline runs — find
# the corpus documents most relevant to a probe query (decontamination
# lookups, eval-set leakage triage, RAG-gold mining) — as ONE exact-
# integer dataflow. Two established in-repo tricks make classic BM25
# hash-checkable:
#   idf     — the b21_perplexity_bits bit-length bound: idf_bits =
#             bits(N) − bits(df) = the shared functions/text.
#             surprisal_bits expression, exact INTEGER within 1 bit of
#             log2(N/df);
#   tf-norm — tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) cleared of ALL
#             fractions by multiplying through by 10·avgdl·N (k1=6/5,
#             b=3/4, avgdl=sum_len/N):
#             22·tf·sum_len / (10·tf·sum_len + 3·sum_len + 9·dl·N),
#             exact integers; one fixed-point integer division per
#             (doc, term) then an order-independent BIGINT sum.
# Magnitude bound: idf_bits(≤~13)·22·tf·sum_len·1e6 ≈ 1e15 at sf0.1 —
# inside int64 (ANSI faults, not wraps, if a corpus ever violates it;
# at 100 TB move the numerator to DECIMAL(38) — one cast site).
# Scale: terms filtered BEFORE the tf aggregate (only query terms
# survive the explode), df/stats are broadcast 4-row/1-row sides, and
# the top-k is a TakeOrdered — no global sort, no vocabulary shuffle.
# --------------------------------------------------------------------------
_BM25_TERMS = ("spark", "join", "merge", "vector")
_BM25_SCALE = 1_000_000
_BM25_TOPK = 10

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

# the CTE chain through per-doc BM25 scores `bm(doc_id, dl,
# n_hit_terms, score_fp)` — ONE string shared by the b21_bm25_retrieval
# and b20_rrf_hybrid oracles
_BM25_CORE_SQL = rf"""
    base AS (
      SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
          AS BIGINT) AS dl,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    stats AS (
      SELECT COUNT(*)::BIGINT AS n_docs, SUM(dl)::BIGINT AS sum_len
      FROM base
    ),
    tf AS (
      SELECT doc_id, dl, term, COUNT(*)::BIGINT AS tf
      FROM (SELECT doc_id, dl, unnest(w) AS term FROM base)
      WHERE term IN ({_BM25_TERMS_SQL})
      GROUP BY 1, 2, 3
    ),
    dfq AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1),
    per AS (
      SELECT tf.doc_id, tf.dl,
        CAST(
          (length(bin(s.n_docs)) - length(bin(dfq.df)))
          * (22 * tf.tf * s.sum_len * {_BM25_SCALE})
          // (10 * tf.tf * s.sum_len + 3 * s.sum_len + 9 * tf.dl * s.n_docs)
        AS BIGINT) AS sterm
      FROM tf JOIN dfq USING (term) CROSS JOIN stats s
    ),
    bm AS (
      SELECT doc_id, MAX(dl) AS dl,
        COUNT(*)::BIGINT AS n_hit_terms,
        SUM(sterm)::BIGINT AS score_fp
      FROM per GROUP BY doc_id
    )
"""

_B21_BM25_ORACLE = f"""
    WITH {_BM25_CORE_SQL}
    SELECT doc_id, dl, n_hit_terms, score_fp
    FROM bm ORDER BY score_fp DESC, doc_id LIMIT {_BM25_TOPK}
"""


def _bm25_doc_scores(spark, sf_dir):
    """Per-doc BM25 relation (doc_id, dl, n_hit_terms, score_fp) —
    the Spark twin of _BM25_CORE_SQL's `bm` CTE, shared by
    b21_bm25_retrieval and b20_rrf_hybrid."""
    from ..functions.text import surprisal_bits

    base = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("dl"),
        tokens(F.col("text")).alias("w"),
    )
    stats = base.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").alias("sum_len"),
    )
    tf = (
        base.select("doc_id", "dl", F.explode("w").alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfq = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    per = (
        tf.join(F.broadcast(dfq), "term")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            "dl",
            "tf",
            "sum_len",
            "n_docs",
            surprisal_bits(F.col("n_docs"), F.col("df")).alias("idf_bits"),
        )
        .select(
            "doc_id",
            "dl",
            # multiply idf BEFORE the one integer division — the
            # truncation point must be identical to the oracle's
            # (a*b) // c, not a * (b // c)
            F.expr(
                f"idf_bits * (22 * tf * sum_len * {_BM25_SCALE}) div "
                "(10 * tf * sum_len + 3 * sum_len + 9 * dl * n_docs)"
            ).cast("bigint").alias("sterm"),
        )
    )
    return per.groupBy("doc_id").agg(
        F.max("dl").alias("dl"),
        F.count("*").cast("bigint").alias("n_hit_terms"),
        F.sum("sterm").cast("bigint").alias("score_fp"),
    )


@register("b21_bm25_retrieval", oracle=_B21_BM25_ORACLE, tags=("B21", "B20"))
def b21_bm25_retrieval(spark, sf_dir):
    return (
        _bm25_doc_scores(spark, sf_dir)
        .orderBy(F.col("score_fp").desc(), "doc_id")
        .limit(_BM25_TOPK)
    )


def _index_query(prefix, serve, *builds, probe_from=None):
    """The frame every index query shares: build into a temporary index
    directory, serve from it, and checkpoint the answer so it outlives
    the directory. Each ``builds`` thunk takes the directory; they run
    as concurrent jobs together with the fetch of the probe vector
    (vec_id 0 of ``probe_from``, read from the source as a query vector
    arriving from outside). ``serve(path, *results)`` gets the thunks'
    results in order, the probe last."""
    with index_dir(prefix) as path:
        thunks = [functools.partial(b, path) for b in builds]
        if probe_from is not None:
            thunks.append(lambda: list(
                probe_from.filter(F.col("vec_id") == 0)
                .select("embedding").first()["embedding"]
            ))
        return serve(path, *run_jobs(*thunks)).localCheckpoint()


def _documents(spark, sf_dir):
    return t(spark, sf_dir, "documents").select("doc_id", "text")


def _bm25(spark, path, topk=_BM25_TOPK):
    return bm25_from_index(
        spark, path, _BM25_TERMS, topk=topk, scale=_BM25_SCALE
    )


def _bm25_maintained(spark, sf_dir, prefix, deltas, max_files=None):
    """Build the postings index from the documents outside the
    ``pmod(doc_id, 5)`` classes ``deltas`` while each delta class's
    tokenize pass runs concurrently, merge the deltas in one
    maintenance pass (each still lands its own postings files), compact
    buckets over ``max_files`` files when given, then serve."""
    docs = _documents(spark, sf_dir)
    held = ", ".join(map(str, deltas))

    def serve(path, _, *pres):
        merge_postings_deltas(spark, path, list(pres))
        if max_files:
            compact(spark, path, POSTINGS, max_files)
        return _bm25(spark, path)

    return _index_query(
        prefix, serve,
        lambda p: write_postings_index(
            docs.filter(F.expr(f"pmod(doc_id, 5) NOT IN ({held})")), p
        ),
        *(
            lambda _, m=m: prepare_postings_delta(
                docs.filter(F.expr(f"pmod(doc_id, 5) = {m}"))
            )
            for m in deltas
        ),
    )


@register("b21_bm25_indexed", oracle=_B21_BM25_ORACLE, tags=("B21", "B20"))
def b21_bm25_indexed(spark, sf_dir):
    """The indexed serving path for lexical retrieval: build the
    term-bucketed postings index (operators/retrieval), then answer the
    4-term query reading only the query terms' tb= partitions. It
    shares b21_bm25_retrieval's oracle, so every sweep proves that the
    index answers like the corpus scan."""
    return _index_query(
        "bm25_index_",
        lambda p, _: _bm25(spark, p),
        lambda p: write_postings_index(_documents(spark, sf_dir), p),
    )


@register("b21_bm25_index_delta", oracle=_B21_BM25_ORACLE, tags=("B21", "B20"))
def b21_bm25_index_delta(spark, sf_dir):
    """Incremental maintenance: build from 4/5 of the corpus, merge the
    last fifth as a delta (postings appended, only its buckets' terms
    rewritten, stats 1-row rewrite; O(delta)), then serve. The rebuild
    oracle proves delta merge ≡ rebuild."""
    return _bm25_maintained(spark, sf_dir, "bm25_index_delta_", (3,))


@register(
    "b21_index_compaction", oracle=_B21_BM25_ORACLE, tags=("B21", "B20")
)
def b21_index_compaction(spark, sf_dir):
    """Build → two deltas → compaction: build from 3/5 of the corpus,
    merge the other two fifths as two deltas (hot buckets now hold 3
    files), compact only the buckets over 2 files back to one
    term-sorted file each, then serve. The rebuild oracle proves build
    + 2 deltas + compaction ≡ rebuild."""
    return _bm25_maintained(
        spark, sf_dir, "bm25_index_compact_", (1, 3), max_files=2
    )


@register(
    "b21_bm25_index_stream", oracle=_B21_BM25_ORACLE, tags=("B21", "B26")
)
def b21_bm25_index_stream(spark, sf_dir):
    """Streaming maintenance: build from 3/5 of the corpus, replay the
    other two fifths as a parquet file stream of two micro-batches
    (maxFilesPerTrigger=1, availableNow) whose foreachBatch applies the
    batch path's merge_postings_delta, then serve. The rebuild oracle
    proves stream-maintained ≡ rebuild across real micro-batch
    boundaries."""
    import glob
    import os
    import shutil

    docs = _documents(spark, sf_dir)

    def stage(tmp):
        # one file per micro-batch, with monotone mtimes: the file
        # source lists by (modification time, path)
        os.makedirs(os.path.join(tmp, "in"))
        for i, m in enumerate((2, 4)):
            out = os.path.join(tmp, f"stage{i}")
            docs.filter(F.expr(f"pmod(doc_id, 5) = {m}")).coalesce(
                1
            ).write.parquet(out)
            for part in glob.glob(os.path.join(out, "part-*.parquet"))[:1]:
                dst = os.path.join(tmp, "in", f"{i:04d}.parquet")
                shutil.copy(part, dst)
                os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    def serve(tmp, *_):
        idx = os.path.join(tmp, "index")
        q = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(tmp, "in"))
            .writeStream.outputMode("append")
            .foreachBatch(
                lambda df, _: merge_postings_delta(df.sparkSession, idx, df)
            )
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            # never serve a partially merged index, nor remove the
            # directory under a running query
            q.stop()
            raise RuntimeError(
                "b21_bm25_index_stream: streaming merge did not "
                "complete within 600s"
            )
        return _bm25(spark, idx)

    return _index_query(
        "bm25_index_stream_", serve,
        lambda p: write_postings_index(
            docs.filter(F.expr("pmod(doc_id, 5) NOT IN (2, 4)")),
            os.path.join(p, "index"),
        ),
        stage,
    )


# --------------------------------------------------------------------------
# B20r — RECIPROCAL-RANK-FUSION hybrid retrieval (Cormack/Clarke/
# Buettcher 2009): fuse the BM25 lexical leg with the brute-force
# cosine vector leg — the standard hybrid-retrieval recipe (and the
# standard way a curation pipeline triages "find everything related to
# this eval item": lexical catches verbatim overlap, vectors catch
# paraphrase). RRF needs only RANKS, which makes it EXACTLY hashable:
# rrf = Σ_legs SCALE // (60 + rank) — pure integer arithmetic, no
# score normalization across incomparable scales (the whole point of
# RRF). vec_id is the documents table's embedding id (aligned ranges),
# probe = vec 0, each leg contributes its top-20.
#
# Scale: each leg ends in a TakeOrdered top-K (no global sort); the
# rank windows and the full-outer fusion join run over 2K ≤ 40 rows.
# --------------------------------------------------------------------------
_RRF_K = 60
_RRF_LEG_TOPK = 20

_B20_RRF_ORACLE = f"""
    WITH {_BM25_CORE_SQL},
    lex AS (
      SELECT doc_id, r FROM (
        SELECT doc_id, ROW_NUMBER() OVER (
          ORDER BY score_fp DESC, doc_id) AS r FROM bm
      ) WHERE r <= {_RRF_LEG_TOPK}
    ),
    probe AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
    pos AS (SELECT unnest(range(
        1, (SELECT MAX(len(embedding)) FROM embeddings) + 1)) AS i),
    vterms AS (
      SELECT e.vec_id,
        CAST(ROUND(CAST(e.embedding[i] AS DOUBLE), 7) AS DECIMAL(9,7)) AS da,
        CAST(ROUND(CAST(p.pe[i] AS DOUBLE), 7) AS DECIMAL(9,7)) AS db
      FROM embeddings e CROSS JOIN probe p CROSS JOIN pos
      WHERE e.vec_id <> 0
    ),
    vagg AS (
      SELECT vec_id, SUM(da * db) AS dot,
        SUM(da * da) AS na, SUM(db * db) AS nb
      FROM vterms GROUP BY vec_id
    ),
    vec AS (
      SELECT vec_id, r FROM (
        SELECT vec_id, ROW_NUMBER() OVER (
          ORDER BY CAST(dot AS DOUBLE)
            / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) DESC,
          vec_id) AS r
        FROM vagg
      ) WHERE r <= {_RRF_LEG_TOPK}
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, v.vec_id) AS id,
        COALESCE(l.r, 0)::BIGINT AS lex_rank,
        COALESCE(v.r, 0)::BIGINT AS vec_rank,
        (CASE WHEN l.r IS NULL THEN 0
              ELSE {_BM25_SCALE} // ({_RRF_K} + l.r) END
         + CASE WHEN v.r IS NULL THEN 0
                ELSE {_BM25_SCALE} // ({_RRF_K} + v.r) END)::BIGINT
          AS rrf_fp
      FROM lex l FULL JOIN vec v ON v.vec_id = l.doc_id
    )
    SELECT id, lex_rank, vec_rank, rrf_fp
    FROM fused ORDER BY rrf_fp DESC, id LIMIT {_BM25_TOPK}
"""


def _rrf_fuse(lex, vec):
    """RRF of a lexical leg (doc_id, lr) and a vector leg (vec_id, vr):
    Σ_legs SCALE div (K + rank), pure integers, over a full-outer join
    of the two ranked legs; top _BM25_TOPK by (rrf_fp desc, id)."""

    def leg(r):
        return F.when(
            F.col(r).isNotNull(), F.expr(f"{_BM25_SCALE} div ({_RRF_K} + {r})")
        ).otherwise(F.lit(0))

    return (
        lex.join(vec, lex["doc_id"] == vec["vec_id"], "full")
        .select(
            F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("id"),
            F.coalesce(F.col("lr"), F.lit(0)).cast("bigint").alias("lex_rank"),
            F.coalesce(F.col("vr"), F.lit(0)).cast("bigint").alias("vec_rank"),
            (leg("lr") + leg("vr")).cast("bigint").alias("rrf_fp"),
        )
        .orderBy(F.col("rrf_fp").desc(), "id")
        .limit(_BM25_TOPK)
    )


@register("b20_rrf_hybrid", oracle=_B20_RRF_ORACLE, tags=("B20", "B21"))
def b20_rrf_hybrid(spark, sf_dir):
    lex_w = Window.orderBy(F.col("score_fp").desc(), "doc_id")
    lex = (
        _bm25_doc_scores(spark, sf_dir)
        .orderBy(F.col("score_fp").desc(), "doc_id")
        .limit(_RRF_LEG_TOPK)  # TakeOrdered: the leg's only global op
        .select(
            "doc_id", F.row_number().over(lex_w).alias("lr")
        )  # rank window over <= 20 rows — bounded by construction
    )
    emb = t(spark, sf_dir, "embeddings")
    pr = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("pe")
    )
    corpus = emb.filter(F.col("vec_id") != 0).transform(spread("vec_id"))
    cos = cosine(F.col("embedding"), F.col("pe"))
    vec_w = Window.orderBy(F.col("cos_raw").desc(), "vec_id")
    vec = (
        corpus.crossJoin(F.broadcast(pr))
        .select("vec_id", cos.alias("cos_raw"))
        .orderBy(F.col("cos_raw").desc(), "vec_id")
        .limit(_RRF_LEG_TOPK)
        .select("vec_id", F.row_number().over(vec_w).alias("vr"))
    )
    return _rrf_fuse(lex, vec)


_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)

_B21_QUALITY_ORACLE = (
    _DOCS_CTE
    + f"""
    , m AS (
      SELECT doc_id,
        len(w) AS n_tokens,
        len(list_distinct(w)) AS n_distinct,
        list_aggregate(list_transform(w, x -> length(x)), 'sum') AS total_len,
        len(list_filter(w, x -> x IN ({_STOP_SQL}))) AS stop_hits
      FROM d
    )
    -- every ratio rounds half-up in EXACT integer space:
    -- round(a/b * 1e4) = (2*a*1e4 + b) // (2*b); the /10000.0 at the
    -- end maps identical integers to identical doubles in any engine.
    -- (Float ROUND formulations differ between engines on ties —
    -- caught by the sf0.1 sweep.)
    SELECT doc_id, n_tokens, n_distinct, stop_hits,
      ((2 * n_distinct * 10000 + n_tokens) // (2 * n_tokens)) / 10000.0
        AS distinct_ratio,
      ((2 * total_len * 10000 + n_tokens) // (2 * n_tokens)) / 10000.0
        AS avg_token_len,
      ((2 * stop_hits * 10000 + n_tokens) // (2 * n_tokens)) / 10000.0
        AS stopword_ratio,
      ((2 * ((4 * n_distinct + 3 * (n_tokens - stop_hits)) * 100
             + 3 * LEAST(n_tokens, 100) * n_tokens) * 10
        + n_tokens) // (2 * n_tokens)) / 10000.0 AS quality
    FROM m
    """
)


@register("b21_quality_score", oracle=_B21_QUALITY_ORACLE, tags=("B21",))
def b21_quality(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    # alias the token array once — four consumers below would otherwise
    # each inline (and re-evaluate) the split expression
    docs = docs.select("doc_id", tokens(F.col("text")).alias("_w"))
    w = F.col("_w")
    m = docs.select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
        F.aggregate(
            F.transform(w, F.length), F.lit(0), lambda acc, x: acc + x
        ).alias("total_len"),
        stopword_hits(w).alias("stop_hits"),
    )
    nt = F.col("n_tokens")

    def ratio4(a, b):
        # round-half-up(a/b · 1e4) in exact integer space, then one
        # division to double — engine-independent, no ROUND-on-double
        # tie drift (caught by the sf0.1 sweep)
        return (F.floor((2 * a * 10000 + b) / (2 * b)) / 10000.0).alias

    quality_num = (
        (4 * F.col("n_distinct") + 3 * (nt - F.col("stop_hits"))) * 100
        + 3 * F.least(nt, F.lit(100)) * nt
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "stop_hits",
        ratio4(F.col("n_distinct"), nt)("distinct_ratio"),
        ratio4(F.col("total_len"), nt)("avg_token_len"),
        ratio4(F.col("stop_hits"), nt)("stopword_ratio"),
        # quality = 0.4·distinct_ratio + 0.3·(1−stopword_ratio)
        # + 0.3·min(n_tokens/100, 1) as one exact-integer numerator
        ratio4(quality_num, 1000 * nt)("quality"),
    )


@register(
    "b21_langid_heuristic",
    oracle=_DOCS_CTE
    + f"""
    SELECT doc_id, lang,
      len(list_filter(w, x -> x IN ({_STOP_SQL}))) AS stop_hits,
      len(w) AS n_tokens,
      CASE WHEN len(list_filter(w, x -> x IN ({_STOP_SQL}))) * 1.0 / len(w) >= 0.05
           THEN 'en' ELSE 'other' END AS predicted_lang
    FROM d
    """,
    tags=("B21",),
)
def b21_langid(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    w = F.col("_w")
    return (
        docs.select("doc_id", "lang", tokens(F.col("text")).alias("_w"))
        .select(
            "doc_id",
            "lang",
            stopword_hits(w).alias("stop_hits"),
            F.size(w).alias("n_tokens"),
            F.when(
                stopword_hits(w) / F.size(w) >= 0.05, F.lit("en")
            )
            .otherwise(F.lit("other"))
            .alias("predicted_lang"),
        )
    )


# --------------------------------------------------------------------------
# B21lc — LANGUAGE-ID CONFUSION MATRIX: the classifier-evaluation
# query for b21_langid_heuristic — the corpus carries ground truth
# (the `lang` column), so the detector's quality is itself a query:
# per (true_lang, predicted_lang) cell the doc count, the true-class
# total, and the exact share in basis points (diagonal cells = per-
# class recall). The audit-as-query pattern (minhash calibration, ANN
# recall) applied to the text-classifier family: you read this table
# before trusting the langid gate to route a 100 TB corpus. One
# |langs|²-bounded aggregate with map-side partials + one tiny window.
# --------------------------------------------------------------------------
_B21_LANGID_CONF_ORACLE = (
    _DOCS_CTE
    + f"""
    , pred AS (
      SELECT lang AS true_lang,
        CASE WHEN len(list_filter(w, x -> x IN ({_STOP_SQL}))) * 1.0
                  / len(w) >= 0.05
             THEN 'en' ELSE 'other' END AS predicted_lang
      FROM d
    ),
    cells AS (
      SELECT true_lang, predicted_lang, COUNT(*) AS n_docs
      FROM pred GROUP BY 1, 2
    )
    SELECT true_lang, predicted_lang,
      CAST(n_docs AS BIGINT) AS n_docs,
      CAST(SUM(n_docs) OVER (PARTITION BY true_lang) AS BIGINT)
        AS n_true_total,
      CAST((2 * n_docs * 10000 + SUM(n_docs) OVER (PARTITION BY true_lang))
           // (2 * SUM(n_docs) OVER (PARTITION BY true_lang)) AS BIGINT)
        AS share_bp
    FROM cells
"""
)


@register(
    "b21_langid_confusion", oracle=_B21_LANGID_CONF_ORACLE, tags=("B21",)
)
def b21_langid_confusion(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    w = F.col("_w")
    pred = docs.select(
        F.col("lang").alias("true_lang"), tokens(F.col("text")).alias("_w")
    ).select(
        "true_lang",
        F.when(stopword_hits(w) / F.size(w) >= 0.05, F.lit("en"))
        .otherwise(F.lit("other"))
        .alias("predicted_lang"),
    )
    cells = pred.groupBy("true_lang", "predicted_lang").agg(
        F.count("*").alias("n_docs")
    )
    wt = Window.partitionBy("true_lang")
    tot = F.sum("n_docs").over(wt)
    num = 2 * F.col("n_docs") * 10000 + tot
    return cells.select(
        "true_lang",
        "predicted_lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        tot.cast("bigint").alias("n_true_total"),
        ((num - F.pmod(num, 2 * tot)) / (2 * tot))
        .cast("bigint")
        .alias("share_bp"),
    )


@register(
    "b21_fingerprint",
    oracle=_DOCS_CTE
    + """
    SELECT doc_id,
      md5(lower(trim(text))) AS fp,
      md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS bag_fp
    FROM d JOIN documents USING (doc_id)
    """,
    tags=("B21",),
)
def b21_fingerprint(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    w = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
        F.md5(F.array_join(F.sort_array(F.array_distinct(w)), " ")).alias("bag_fp"),
    )


# --------------------------------------------------------------------------
# B22 — multimodal/binary columns
# --------------------------------------------------------------------------
@register(
    "b22_binary_metadata",
    oracle="""
    SELECT doc_id,
      octet_length(encode(text)) AS n_bytes,
      md5(text) AS content_md5,
      lower(substr(hex(encode(text)), 1, 16)) AS prefix_hex
    FROM documents
    """,
    tags=("B22",),
)
def b22_binary(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    bin_col = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(F.col("text")).alias("n_bytes"),
        F.md5(F.col("text")).alias("content_md5"),
        F.lower(F.substring(F.hex(bin_col), 1, 16)).alias("prefix_hex"),
    )


@register("b22_multimodal_pipeline", oracle=None, tags=("B22",))
def b22_pipeline(spark, sf_dir):
    # Binary payload + typed metadata + Arrow-batched feature extraction
    # (mapInPandas). The real image/audio decode is stubbed (libs absent
    # in this container) but the Spark plumbing — schema, batching, UDF
    # signature — is the production shape. See operators/multimodal.py.
    from ..operators.multimodal import extract_features, with_binary_payload

    docs = t(spark, sf_dir, "documents")
    out = extract_features(with_binary_payload(docs))
    # Serialize the feature vector for the driver's canonicalizer, which
    # cannot hash ARRAY cells (round-1 a1/a3/a4/b16/b17 failure mode).
    return out.withColumn("features", F.to_json(F.col("features")))


# DuckDB replay of operators/similarity.knn_ivf: centroids are the
# first 8 vectors, assignment = argmax of the exact-decimal cosine
# (identical doubles both engines → identical argmax), probe searches
# its 2 nearest cells. The CTE chain through the probed candidates'
# cosine aggregates `agg(vec_id, cell, dot, na, nb)` is ONE string
# shared by the b20_knn_ivf family and the indexed-RRF oracle.
_IVF_CAND_SQL = """
    pos AS (SELECT unnest(range(
        1, (SELECT MAX(len(embedding)) FROM embeddings) + 1)) AS i),
    cents AS (
      SELECT CAST(vec_id AS INT) AS cell, embedding AS cvec
      FROM embeddings WHERE vec_id < 8
    ),
    aterms AS (
      SELECT e.vec_id, c.cell,
        CAST(ROUND(CAST(e.embedding[i] AS DOUBLE), 7) AS DECIMAL(9,7)) AS da,
        CAST(ROUND(CAST(c.cvec[i] AS DOUBLE), 7) AS DECIMAL(9,7)) AS db
      FROM embeddings e CROSS JOIN cents c CROSS JOIN pos
    ),
    asim AS (
      SELECT vec_id, cell,
        CAST(SUM(da * db) AS DOUBLE)
          / SQRT(CAST(SUM(da * da) AS DOUBLE)
                 * CAST(SUM(db * db) AS DOUBLE)) AS sim
      FROM aterms GROUP BY 1, 2
    ),
    assigned AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
          ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cell) AS rk
        FROM asim) WHERE rk = 1
    ),
    probe_cells AS (
      SELECT cell FROM asim WHERE vec_id = 0 ORDER BY sim DESC, cell LIMIT 2
    ),
    pe AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT a.vec_id, a.cell FROM assigned a
      WHERE a.vec_id <> 0 AND a.cell IN (SELECT cell FROM probe_cells)
    ),
    terms AS (
      SELECT c.vec_id, c.cell,
        CAST(ROUND(CAST(e.embedding[i] AS DOUBLE), 7) AS DECIMAL(9,7)) AS da,
        CAST(ROUND(CAST(p.pv[i] AS DOUBLE), 7) AS DECIMAL(9,7)) AS db
      FROM cand c
      JOIN embeddings e ON e.vec_id = c.vec_id
      CROSS JOIN pe p CROSS JOIN pos
    ),
    agg AS (
      SELECT vec_id, cell,
        SUM(da * db) AS dot, SUM(da * da) AS na, SUM(db * db) AS nb
      FROM terms GROUP BY 1, 2
    )
"""

_B20_IVF_ORACLE = f"""
    WITH {_IVF_CAND_SQL}
    SELECT vec_id, cell,
      ROUND(CAST(dot AS DOUBLE)
            / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS cos_sim
    FROM agg
    ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


@register("b20_knn_ivf", oracle=_B20_IVF_ORACLE, tags=("B20",))
def b20_ivf(spark, sf_dir):
    # IVF-flat variant (deterministic coarse quantizer): the second
    # scale path next to LSH. Recall vs brute force asserted in
    # tests/test_northstar.py.
    from ..operators.similarity import knn_ivf

    return knn_ivf(t(spark, sf_dir, "embeddings"), probe_vec_id=0, k=10)


def _knn(spark, path, probe, k=10):
    return knn_ivf_from_index(spark, path, probe, probe_vec_id=0, k=k)


def _ivf_maintained(spark, sf_dir, prefix, deltas, max_files=None):
    """Build the IVF layout from the vectors outside the
    ``pmod(vec_id, 7)`` classes ``deltas`` (vec_id < 8, the quantizer's
    training vectors, always stay in the base: re-training is a
    rebuild), append each delta class with the same frozen quantizer,
    compact cells over ``max_files`` files when given, then serve."""
    emb = t(spark, sf_dir, "embeddings")
    held = ", ".join(map(str, deltas))
    base = emb.filter(F.expr(f"vec_id < 8 OR pmod(vec_id, 7) NOT IN ({held})"))
    cents = ivf_centroids(base)  # shared by the build and the merges

    def serve(path, _, probe):
        for m in deltas:
            merge_ivf_delta(
                spark, path,
                emb.filter(F.expr(f"vec_id >= 8 AND pmod(vec_id, 7) = {m}")),
                cents=cents,
            )
        if max_files:
            compact(spark, path, CELLS, max_files)
        return _knn(spark, path, probe)

    return _index_query(
        prefix, serve,
        lambda p: write_ivf_index(base, p, cents=cents),
        probe_from=emb,
    )


@register("b20_knn_ivf_indexed", oracle=_B20_IVF_ORACLE, tags=("B20",))
def b20_knn_ivf_indexed(spark, sf_dir):
    """The written-index serving path for vector retrieval: build the
    cell-partitioned IVF layout (operators/retrieval), then serve the
    probe reading only its 2 probe cells' partitions. It shares
    b20_knn_ivf's oracle, so every sweep proves index ≡ scan."""
    emb = t(spark, sf_dir, "embeddings")
    return _index_query(
        "ivf_index_",
        lambda p, _, probe: _knn(spark, p, probe),
        lambda p: write_ivf_index(emb, p),
        probe_from=emb,
    )


@register("b20_ivf_index_delta", oracle=_B20_IVF_ORACLE, tags=("B20",))
def b20_ivf_index_delta(spark, sf_dir):
    """Incremental maintenance of the IVF layout: build from ~6/7 of
    the corpus, append the rest into the cells it lands in (O(delta)),
    then serve. b20_knn_ivf's oracle proves delta merge ≡ rebuild ≡
    scan."""
    return _ivf_maintained(spark, sf_dir, "ivf_index_delta_", (3,))


@register("b20_ivf_compaction", oracle=_B20_IVF_ORACLE, tags=("B20",))
def b20_ivf_compaction(spark, sf_dir):
    """Compaction of the IVF layout: build from ~5/7 of the corpus,
    append the rest as two deltas (landed cells hold up to 3 files),
    compact only the cells over 2 files back to one vec_id-sorted file
    each, then serve. b20_knn_ivf's oracle proves build + 2 deltas +
    compaction ≡ rebuild ≡ scan."""
    return _ivf_maintained(
        spark, sf_dir, "ivf_index_compact_", (1, 3), max_files=2
    )


# --------------------------------------------------------------------------
# B20pq — THE WRITTEN IVF-PQ INDEX: the memory-bounded layout 100 TB
# vector serving actually deploys — coarse IVF cells (partition
# pruning) holding PQ CODES instead of raw vectors (~64× fewer
# candidate bytes), scored by asymmetric distance against an O(M×K)
# per-query lookup table. The oracle replays BOTH halves exactly: the
# coarse assignment/probe-cell choice via the shared _IVF_CAND_SQL
# chain, and the codebook training / code assignment / ADC arithmetic
# via the b20_pq_exact_replay integer recipe (1e-7-quantized
# subvectors, HUGEINT numerators over one double division, fixed
# ((t0+t1)+t2)+t3 association) — so the hash check proves the SERVED
# approximate answer, not a lookalike.
# --------------------------------------------------------------------------
def _pq_train_sql(train_where: str = "") -> str:
    """The PQ codebook-training + code-assignment CTE chain through
    `codes(vec_id, sub, cluster)`, parameterized on the TRAINING
    membership filter (s1's WHERE): empty = codebooks trained on the
    full corpus; a base filter = codebooks trained on the base only
    while EVERYONE is encoded against them — exactly the
    frozen-codebook delta-merge semantics. Shared by the IVF-PQ
    serving oracles and the PQ recall-evaluation oracle."""
    return f"""p16 AS (SELECT unnest(range(1, 17)) AS i),
    subs AS (SELECT unnest(range(0, 4)) AS sub),
    qv AS (
      SELECT e.vec_id, s.sub,
        list_transform(list_slice(e.embedding, s.sub*16 + 1, s.sub*16 + 16),
          v -> CAST(CAST(ROUND(CAST(v AS DOUBLE), 7) AS DECIMAL(9,7))
                    * 10000000 AS BIGINT)) AS x
      FROM embeddings e CROSS JOIN subs s
    ),
    seeds AS (
      SELECT sub, vec_id AS cluster, x AS sx, CAST(1 AS BIGINT) AS n
      FROM qv WHERE vec_id < 16
    ),
    s1 AS (
      SELECT v.vec_id, v.sub, c.cluster,
        CAST(SUM(CAST(c.n * v.x[p16.i] - c.sx[p16.i] AS HUGEINT)
                 * (c.n * v.x[p16.i] - c.sx[p16.i])) AS DOUBLE)
          / (CAST(c.n AS DOUBLE) * c.n) AS r
      FROM qv v JOIN seeds c ON c.sub = v.sub CROSS JOIN p16
      {train_where}
      GROUP BY v.vec_id, v.sub, c.cluster, c.n
    ),
    a1 AS (
      SELECT vec_id, sub, cluster FROM (
        SELECT vec_id, sub, cluster,
          ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY r, cluster) AS rk
        FROM s1) WHERE rk = 1
    ),
    c1d AS (
      SELECT a1.sub, a1.cluster, p16.i, SUM(v.x[p16.i]) AS s, COUNT(*) AS cn
      FROM a1 JOIN qv v ON v.vec_id = a1.vec_id AND v.sub = a1.sub
      CROSS JOIN p16
      GROUP BY 1, 2, 3
    ),
    c1 AS (
      SELECT sub, cluster, list(s ORDER BY i) AS sx, MAX(cn) AS n
      FROM c1d GROUP BY 1, 2
    ),
    s2pq AS (
      SELECT v.vec_id, v.sub, c.cluster,
        CAST(SUM(CAST(c.n * v.x[p16.i] - c.sx[p16.i] AS HUGEINT)
                 * (c.n * v.x[p16.i] - c.sx[p16.i])) AS DOUBLE)
          / (CAST(c.n AS DOUBLE) * c.n) AS r
      FROM qv v JOIN c1 c ON c.sub = v.sub CROSS JOIN p16
      GROUP BY v.vec_id, v.sub, c.cluster, c.n
    ),
    codes AS (
      SELECT vec_id, sub, cluster FROM (
        SELECT vec_id, sub, cluster,
          ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY r, cluster) AS rk
        FROM s2pq) WHERE rk = 1
    )
"""


def _ivfpq_chain_sql(train_where: str = "") -> str:
    """The single-probe IVF-PQ serving replay: coarse pruning
    (_IVF_CAND_SQL) + PQ training/codes (_pq_train_sql) + the probe's
    ADC lookup table and per-candidate terms `pqt(vec_id, t0..t3)`."""
    return f"""{_IVF_CAND_SQL},
    {_pq_train_sql(train_where)},
    pprobe AS (SELECT sub, x AS px FROM qv WHERE vec_id = 0),
    lut AS (
      SELECT c.sub, c.cluster,
        CAST(SUM(CAST(c.n * p.px[p16.i] - c.sx[p16.i] AS HUGEINT)
                 * (c.n * p.px[p16.i] - c.sx[p16.i])) AS DOUBLE)
          / (CAST(c.n AS DOUBLE) * c.n) AS r
      FROM c1 c JOIN pprobe p ON p.sub = c.sub CROSS JOIN p16
      GROUP BY c.sub, c.cluster, c.n
    ),
    pqcand AS (
      SELECT cd.vec_id, cd.sub, cd.cluster
      FROM codes cd
      JOIN assigned a ON a.vec_id = cd.vec_id
      WHERE a.cell IN (SELECT cell FROM probe_cells)
        AND cd.vec_id <> 0
    ),
    pqt AS (
      SELECT pc.vec_id,
        MAX(CASE WHEN pc.sub = 0 THEN l.r END) AS t0,
        MAX(CASE WHEN pc.sub = 1 THEN l.r END) AS t1,
        MAX(CASE WHEN pc.sub = 2 THEN l.r END) AS t2,
        MAX(CASE WHEN pc.sub = 3 THEN l.r END) AS t3
      FROM pqcand pc JOIN lut l
        ON l.sub = pc.sub AND l.cluster = pc.cluster
      GROUP BY pc.vec_id
    )
"""


_B20_IVFPQ_ORACLE = f"""
    WITH {_ivfpq_chain_sql()}
    SELECT vec_id, ((t0 + t1) + t2) + t3 AS adc_dist
    FROM pqt ORDER BY adc_dist, vec_id LIMIT 10
"""
#: delta twin: PQ codebooks trained on the base corpus only (seeds
#: vec_id < 16 are always base members), everyone encoded against them
_B20_IVFPQ_DELTA_ORACLE = f"""
    WITH {_ivfpq_chain_sql("WHERE v.vec_id < 16 OR v.vec_id % 7 != 3")}
    SELECT vec_id, ((t0 + t1) + t2) + t3 AS adc_dist
    FROM pqt ORDER BY adc_dist, vec_id LIMIT 10
"""

# Two-stage serving — the production IVF-PQ recipe: the compressed
# codes produce a cheap ADC SHORTLIST (top-50 here), then ONLY those
# ids fetch their raw vectors from original storage for an exact
# cosine rerank. The shortlist is deterministic ((adc, vec_id) order,
# identical doubles both engines), so the reranked top-10 is
# hash-exact too.
_IVFPQ_SHORTLIST = 50

_B20_IVFPQ_RERANK_ORACLE = f"""
    WITH {_ivfpq_chain_sql()},
    sl AS (
      SELECT vec_id, ((t0 + t1) + t2) + t3 AS adc
      FROM pqt ORDER BY adc, vec_id LIMIT {_IVFPQ_SHORTLIST}
    ),
    rrt AS (
      SELECT s.vec_id,
        CAST(ROUND(CAST(e.embedding[pos.i] AS DOUBLE), 7)
          AS DECIMAL(9,7)) AS da,
        CAST(ROUND(CAST(p.pv[pos.i] AS DOUBLE), 7)
          AS DECIMAL(9,7)) AS db
      FROM sl s JOIN embeddings e ON e.vec_id = s.vec_id
      CROSS JOIN pe p CROSS JOIN pos
    ),
    rra AS (
      SELECT vec_id, SUM(da * db) AS dot,
        SUM(da * da) AS na, SUM(db * db) AS nb
      FROM rrt GROUP BY vec_id
    )
    SELECT vec_id,
      ROUND(CAST(dot AS DOUBLE)
            / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6)
        AS cos_sim
    FROM rra ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


@register("b20_knn_ivfpq_indexed", oracle=_B20_IVFPQ_ORACLE, tags=("B20",))
def b20_knn_ivfpq_indexed(spark, sf_dir):
    """Build the written IVF-PQ layout (codes plus codebook and
    centroid sidecars), then serve the probe's ADC top-10 reading only
    its 2 probe cells' code partitions. The oracle replays coarse
    pruning, codebook training, codes and ADC end to end."""
    emb = t(spark, sf_dir, "embeddings")
    return _index_query(
        "ivfpq_index_",
        lambda p, _, probe: knn_ivfpq_from_index(
            spark, p, probe, probe_vec_id=0, k=10
        ),
        lambda p: write_ivfpq_index(emb, p),
        probe_from=emb,
    )


@register(
    "b20_ivfpq_rerank", oracle=_B20_IVFPQ_RERANK_ORACLE, tags=("B20",)
)
def b20_ivfpq_rerank(spark, sf_dir):
    """Two-stage serving off the written IVF-PQ layout: an ADC top-50
    shortlist off the codes, then an exact cosine rerank of only those
    ids' raw vectors (broadcast id-semijoin, never a corpus scan). The
    oracle replays shortlist and rerank."""
    emb = t(spark, sf_dir, "embeddings")
    return _index_query(
        "ivfpq_rerank_",
        lambda p, _, probe: knn_ivfpq_rerank(
            spark, p, emb, probe, probe_vec_id=0, k=10,
            shortlist=_IVFPQ_SHORTLIST,
        ),
        lambda p: write_ivfpq_index(emb, p),
        probe_from=emb,
    )


@register(
    "b20_ivfpq_index_delta", oracle=_B20_IVFPQ_DELTA_ORACLE, tags=("B20",)
)
def b20_ivfpq_index_delta(spark, sf_dir):
    """Incremental maintenance of the IVF-PQ layout with both
    quantizers frozen: train them on ~6/7 of the corpus (coarse
    centroids vec_id < 8 and PQ seeds vec_id < 16 stay in the base),
    encode the rest against them concurrently with the layout writes,
    append it into its landed cells, then serve. The oracle replays
    base-trained codebooks with every vector encoded against them."""
    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.expr("vec_id < 16 OR pmod(vec_id, 7) != 3"))
    quant = ivfpq_quantizers(base)

    def serve(path, _, pre, probe):
        merge_ivfpq_delta(spark, path, pre=pre)
        return knn_ivfpq_from_index(spark, path, probe, probe_vec_id=0, k=10)

    return _index_query(
        "ivfpq_index_delta_", serve,
        lambda p: write_ivfpq_index(base, p, quantizers=quant),
        lambda _: prepare_ivfpq_delta(
            emb.filter(F.expr("vec_id >= 16 AND pmod(vec_id, 7) = 3")), *quant
        ),
        probe_from=emb,
    )


# --------------------------------------------------------------------------
# B20ri — HYBRID RETRIEVAL SERVED ENTIRELY FROM THE WRITTEN INDICES:
# b20_rrf_hybrid's recipe (RRF over a lexical and a vector leg) with
# BOTH legs answered from their serving layouts — BM25 from the
# partitioned postings index (only the query terms' tb= buckets open)
# and kNN from the cell-partitioned IVF index (only the probe's 2
# cells open). This is the query a 100 TB deployment actually runs:
# no corpus scan anywhere on the serve path. The vector leg is
# IVF-pruned (not brute force), so the oracle replays the SAME
# pruning via the shared _IVF_CAND_SQL chain — rank-exact, hence
# hash-exact: legs ranked on (rounded cosine / integer BM25), fused
# with the pure-integer RRF fold.
# --------------------------------------------------------------------------
_B20_RRF_IDX_ORACLE = f"""
    WITH {_BM25_CORE_SQL},
    {_IVF_CAND_SQL},
    lex AS (
      SELECT doc_id, r FROM (
        SELECT doc_id, ROW_NUMBER() OVER (
          ORDER BY score_fp DESC, doc_id) AS r FROM bm
      ) WHERE r <= {_RRF_LEG_TOPK}
    ),
    vec AS (
      SELECT vec_id, r FROM (
        SELECT vec_id, ROW_NUMBER() OVER (
          ORDER BY ROUND(CAST(dot AS DOUBLE)
            / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) DESC,
          vec_id) AS r
        FROM agg
      ) WHERE r <= {_RRF_LEG_TOPK}
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, v.vec_id) AS id,
        COALESCE(l.r, 0)::BIGINT AS lex_rank,
        COALESCE(v.r, 0)::BIGINT AS vec_rank,
        (CASE WHEN l.r IS NULL THEN 0
              ELSE {_BM25_SCALE} // ({_RRF_K} + l.r) END
         + CASE WHEN v.r IS NULL THEN 0
                ELSE {_BM25_SCALE} // ({_RRF_K} + v.r) END)::BIGINT
          AS rrf_fp
      FROM lex l FULL JOIN vec v ON v.vec_id = l.doc_id
    )
    SELECT id, lex_rank, vec_rank, rrf_fp
    FROM fused ORDER BY rrf_fp DESC, id LIMIT {_BM25_TOPK}
"""


@register("b20_rrf_indexed", oracle=_B20_RRF_IDX_ORACLE, tags=("B20", "B21"))
def b20_rrf_indexed(spark, sf_dir):
    import os

    emb = t(spark, sf_dir, "embeddings")

    def serve(path, _lex, _ivf, probe):
        # rank windows over <= 20 rows each — bounded by construction
        lex = _bm25(spark, os.path.join(path, "lex"), topk=_RRF_LEG_TOPK)
        vec = _knn(spark, os.path.join(path, "ivf"), probe, k=_RRF_LEG_TOPK)
        return _rrf_fuse(
            lex.select("doc_id", F.row_number().over(
                Window.orderBy(F.col("score_fp").desc(), "doc_id")
            ).alias("lr")),
            vec.select("vec_id", F.row_number().over(
                Window.orderBy(F.col("cos_sim").desc(), "vec_id")
            ).alias("vr")),
        )

    return _index_query(
        "rrf_indexed_", serve,
        lambda p: write_postings_index(
            _documents(spark, sf_dir), os.path.join(p, "lex")
        ),
        lambda p: write_ivf_index(emb, os.path.join(p, "ivf")),
        probe_from=emb,
    )


# --------------------------------------------------------------------------
# B19e — near-duplicate CLUSTERS: connected components over the
# MinHash-LSH pair graph, yielding the artifact a dedup pipeline
# actually consumes — a cluster id per document plus a canonical
# (keep-one) flag. Pairs alone aren't actionable at 100 TB; the
# transitive closure is.
#
# Algorithm: iterative min-label propagation (each superstep: every
# node adopts the minimum label among itself and its neighbors) — the
# standard Pregel-style connected components. Each superstep is one
# shuffle join; convergence is O(component diameter), and near-dup
# components are tiny (pairs/triples from transitively similar docs),
# so it terminates in 2-4 supersteps. For adversarial long-chain
# graphs the alternating large-star/small-star variant (Kiveris et
# al., "Connected Components in MapReduce and Beyond") drops rounds to
# O(log n); the superstep loop below is the same skeleton. The driver
# loop only inspects a per-iteration scalar (sum of labels, strictly
# decreasing until fixpoint) — no data is collected.
#
# Oracle: DuckDB recursive CTE computing reachability → MIN(label).
# --------------------------------------------------------------------------
_B19_CLUSTERS_ORACLE = (
    _DOCS_CTE.replace("WITH d AS", "WITH RECURSIVE d AS", 1)
    + """
    , mh AS (
      SELECT doc_id,
    """
    + _MINHASH_COMPONENTS
    + """
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, md5(concat(h0, h1)) AS bk FROM mh
      UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM mh
      UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM mh
      UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM mh
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.d1, c.d2, count(*) AS i
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.d1
      JOIN sh s2 ON s2.doc_id = c.d2 AND s2.s = s1.s
      GROUP BY c.d1, c.d2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT d1, d2
      FROM inter
      JOIN sizes sa ON sa.doc_id = d1
      JOIN sizes sb ON sb.doc_id = d2
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.7
    ),
    edges AS (
      SELECT d1 AS src, d2 AS dst FROM pairs
      UNION ALL SELECT d2, d1 FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach AS (
      SELECT doc_id, doc_id AS r FROM nodes
      UNION
      SELECT e.src AS doc_id, r.r
      FROM edges e JOIN reach r ON r.doc_id = e.dst
    ),
    cc AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id)
    SELECT doc_id, cluster_id,
      COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
      CAST(doc_id = cluster_id AS INT) AS is_canonical
    FROM cc
    """
)


@register("b19_neardup_clusters", oracle=_B19_CLUSTERS_ORACLE, tags=("B19",))
def b19_clusters(spark, sf_dir):
    # cache the (tiny) pair list so the expensive LSH derivation runs
    # once, not once per star round
    pairs = b19_minhash(spark, sf_dir).select("d1", "d2").cache()
    pairs.count()
    # alternating large-star/small-star CC (operators/graph.py):
    # O(log n) rounds even on adversarial chains, vs O(diameter) for
    # naive min-label propagation; per-round driver traffic is one
    # scalar checksum
    from ..operators.graph import connected_components

    labels, _rounds = connected_components(pairs)
    # (the pair cache stays resident: it is a few hundred rows, and
    # dropping it forces every later invocation to re-derive the full
    # LSH pipeline — measured 2× the query wall)
    wc = Window.partitionBy("cluster_id")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    ).select(
        "doc_id",
        "cluster_id",
        F.count("*").over(wc).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


# --------------------------------------------------------------------------
# B21e — BPE-ish token counting (the token-budget estimator a training
# pipeline runs before spending tokenizer CPU): GPT-2-style
# pre-tokenizer regex — runs of letters / digits / other-symbols, each
# optionally preceded by one space — counted per document alongside the
# whitespace token count. Pure regexp_extract_all, identical ASCII
# semantics in Java regex and RE2.
# --------------------------------------------------------------------------
_BPE_RE = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"


@register(
    "b21_bpe_token_counts",
    oracle=rf"""
    SELECT doc_id,
      len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS n_bpe_tokens,
      len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_ws_tokens,
      length(text) AS n_chars
    FROM documents
    """,
    tags=("B21",),
)
def b21_bpe_tokens(spark, sf_dir):
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), 0)
        ).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).cast("bigint").alias(
            "n_ws_tokens"
        ),
        F.length("text").cast("bigint").alias("n_chars"),
    )


# --------------------------------------------------------------------------
# B18b — deterministic hash sampling + weighted dataset mixing: the
# reproducible-subsample primitive of every large training-data
# pipeline. Membership = md5(doc_id) below a per-source hex threshold,
# so the sample is stable across runs, engines, and partitionings (no
# RNG, no seed drift) — and fully pushdown-able. Sources get different
# rates (weighted mixing); output is the audit view: kept/total per
# source.
# --------------------------------------------------------------------------
@register(
    "b18_hash_sample_mix",
    oracle="""
    WITH rated AS (
      SELECT doc_id, lang,
        CASE WHEN lang = 'en' THEN '19999999'   -- keep ~10%
             WHEN lang = 'de' THEN '7fffffff'   -- keep ~50%
             ELSE 'ffffffff' END AS threshold,  -- keep all
        substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hk
      FROM documents
    )
    SELECT lang,
      COUNT(*) AS n_total,
      -- CAST: DuckDB SUM over integers widens to HUGEINT (int128),
      -- which the driver canonicalizes differently from Spark's BIGINT
      -- (CORRECTNESS_r01 hash mismatch)
      CAST(SUM(CASE WHEN hk <= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM rated GROUP BY lang
    """,
    tags=("B18", "B21"),
)
def b18_hash_sample_mix(spark, sf_dir):
    rated = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.when(F.col("lang") == "en", "19999999")
        .when(F.col("lang") == "de", "7fffffff")
        .otherwise("ffffffff")
        .alias("threshold"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8).alias("hk"),
    )
    return rated.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.sum((F.col("hk") <= F.col("threshold")).cast("bigint")).alias("n_kept"),
    )


# --------------------------------------------------------------------------
# B18f — mixture materialization with FRACTIONAL repeat factors: the
# up-sampling half of data mixing (b18_hash_sample_mix is the down-
# sampling half). Each source gets a target factor (2.5× / 1× / 0.25×
# keyed off the source index); a doc contributes floor(f) full epoch
# copies plus one more iff its md5 prefix clears the fractional
# threshold — the standard deterministic way to hit a token budget
# like "wiki ×2.5" without RNG state. Epoch copies land in shards via
# a second content hash, so repeats of the same doc scatter across the
# training order instead of clumping. Map-only until the final
# per-(source, epoch) aggregate; at 100 TB the explode is the
# materialization itself (each output row IS a training shard row).
# --------------------------------------------------------------------------
_B18_MIX_ORACLE = """
    WITH f AS (
      SELECT doc_id, source,
        CAST(substr(source, 4) AS INT) % 3 AS k,
        substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hk
      FROM documents
    ),
    sized AS (
      SELECT doc_id, source,
        (CASE WHEN k = 0 THEN 2 WHEN k = 1 THEN 1 ELSE 0 END
         + CASE
             WHEN k = 0 AND hk <= '7fffffff' THEN 1   -- +0.5
             WHEN k = 2 AND hk <= '3fffffff' THEN 1   -- +0.25
             ELSE 0 END) AS n_copies
      FROM f
    ),
    exploded AS (
      SELECT s.doc_id, s.source, CAST(e.epoch AS INT) AS epoch,
        substr(md5(CAST(s.doc_id AS VARCHAR) || ':' ||
                   CAST(e.epoch AS VARCHAR)), 1, 2) AS shard
      FROM sized s
      JOIN (SELECT unnest(range(1, 4)) AS epoch) e
        ON e.epoch <= s.n_copies
    )
    SELECT source, epoch,
      COUNT(*) AS n_docs,
      CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards
    FROM exploded GROUP BY source, epoch
"""


@register("b18_mixture_epochs", oracle=_B18_MIX_ORACLE, tags=("B18", "B21"))
def b18_mixture_epochs(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    k = F.pmod(F.substring("source", 4, 10).cast("int"), F.lit(3))
    hk = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    n_copies = (
        F.when(k == 0, 2).when(k == 1, 1).otherwise(0)
        + F.when((k == 0) & (hk <= "7fffffff"), 1)
        .when((k == 2) & (hk <= "3fffffff"), 1)
        .otherwise(0)
    )
    exploded = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.when(
                n_copies > 0, F.sequence(F.lit(1), n_copies)
            ).otherwise(F.array().cast("array<int>"))
        ).alias("epoch"),
    ).withColumn(
        "shard",
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("doc_id").cast("string"),
                    F.col("epoch").cast("string"),
                )
            ),
            1,
            2,
        ),
    )
    return exploded.groupBy("source", "epoch").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("shard").cast("bigint").alias("n_shards"),
    )


# --------------------------------------------------------------------------
# B20d — k-means embedding clustering (operators/clustering.py): the
# curation-side counterpart of similarity search. Iterative float
# algorithm → rows-only check here; recovery of synthetically planted
# clusters + determinism are asserted in tests/test_northstar.py.
# --------------------------------------------------------------------------
@register("b20_kmeans_embeddings", oracle=None, tags=("B20", "B22"))
def b20_kmeans(spark, sf_dir):
    from ..operators.clustering import kmeans_assign, kmeans_summary

    emb = t(spark, sf_dir, "embeddings")
    return kmeans_summary(kmeans_assign(emb, k=10, max_iter=8)).orderBy("cluster")


# --------------------------------------------------------------------------
# B20e — batch multi-probe kNN (operators/similarity.py): top-k for a
# probe SET in one corpus pass; per-probe ranking via window.
# --------------------------------------------------------------------------
_B20_MULTI_ORACLE = """
    WITH probes AS (
      SELECT vec_id AS probe_id, embedding AS pe
      FROM embeddings WHERE vec_id < 8
    ),
    pos AS (SELECT unnest(range(
        1, (SELECT MAX(len(embedding)) FROM embeddings) + 1)) AS i),
    terms AS (
      SELECT p.probe_id, e.vec_id,
        CAST(ROUND(CAST(e.embedding[i] AS DOUBLE), 7) AS DECIMAL(9,7)) AS da,
        CAST(ROUND(CAST(p.pe[i] AS DOUBLE), 7) AS DECIMAL(9,7)) AS db
      FROM embeddings e CROSS JOIN probes p CROSS JOIN pos
      WHERE e.vec_id <> p.probe_id
    ),
    agg AS (
      SELECT probe_id, vec_id,
        SUM(da * db) AS dot, SUM(da * da) AS na, SUM(db * db) AS nb
      FROM terms GROUP BY 1, 2
    ),
    scored AS (
      SELECT probe_id, vec_id,
        CAST(dot AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cs
      FROM agg
    ),
    r AS (
      SELECT probe_id, vec_id, cs,
        ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cs DESC, vec_id) AS rk
      FROM scored
    )
    SELECT probe_id, vec_id, ROUND(cs, 6) AS cos_sim, rk
    FROM r WHERE rk <= 5
"""


@register("b20_knn_multiprobe", oracle=_B20_MULTI_ORACLE, tags=("B20",))
def b20_knn_multiprobe(spark, sf_dir):
    from ..operators.similarity import knn_multi_probe

    return knn_multi_probe(t(spark, sf_dir, "embeddings"), n_probes=8, k=5)


# --------------------------------------------------------------------------
# B21g — benchmark decontamination: flag training documents sharing any
# word 5-gram with a held-out eval set (doc_id % 50 == 0). The standard
# "did the test set leak into training data" pipeline pass.
#
# Scale shape: eval sets are small by construction (a benchmark is KBs,
# the corpus is TBs), so the eval-gram set broadcasts and the train side
# stays a map-only probe — no shuffle of the corpus. The corpus-side
# gram explode is the same map-only pass MinHash already does.
# --------------------------------------------------------------------------
@register(
    "b21_decontaminate",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    pos AS (
      SELECT doc_id, w,
        unnest(generate_series(1, greatest(len(w) - 4, 1))) AS i
      FROM d
    ),
    g0 AS (
      SELECT doc_id,
        concat_ws(' ', w[i], w[i + 1], w[i + 2], w[i + 3], w[i + 4]) AS g
      FROM pos
    ),
    g AS (SELECT DISTINCT doc_id, g FROM g0),
    ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
    hits AS (
      SELECT g.doc_id, COUNT(*) AS n_overlap
      FROM g JOIN ev USING (g)
      WHERE g.doc_id % 50 != 0
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
      COALESCE(h.n_overlap, 0) AS n_overlap,
      COALESCE(h.n_overlap, 0) > 0 AS contaminated
    FROM d LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE d.doc_id % 50 != 0
    """,
    tags=("B21",),
)
def b21_decontaminate(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    # per-doc dedup inside the array (array_distinct) instead of a
    # corpus-wide DISTINCT — same rows, zero shuffle on the gram explode.
    # tokens() is aliased first so the 5 element reads per shingle don't
    # each inline (and codegen) the whole split expression.
    grams = docs.select("doc_id", tokens(F.col("text")).alias("w")).select(
        "doc_id",
        F.explode(F.array_distinct(shingles(F.col("w"), 5))).alias("g"),
    )
    is_eval = F.col("doc_id") % 50 == 0
    eval_grams = grams.filter(is_eval).select("g").distinct()
    hits = (
        grams.filter(~is_eval)
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        docs.filter(~is_eval)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_overlap"), F.lit(0).cast("bigint")).alias(
                "n_overlap"
            ),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


# --------------------------------------------------------------------------
# B21h — repetition signals (Gopher-style quality filters): fraction of
# word 2-grams occupied by the single most frequent one, and the
# duplicate-2-gram fraction. Map-only per document; ratios rounded in
# exact integer space (plans/_exact.py) to dodge cross-engine ROUND ties.
# --------------------------------------------------------------------------
@register(
    "b21_repetition_signals",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    pos AS (
      SELECT doc_id, w,
        unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i
      FROM d
    ),
    g AS (
      SELECT doc_id, concat_ws(' ', w[i], w[i + 1]) AS g FROM pos
    ),
    freq AS (
      SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY 1, 2
    ),
    stats AS (
      SELECT doc_id,
        CAST(SUM(c) AS BIGINT) AS n_grams,
        CAST(COUNT(*) AS BIGINT) AS n_distinct,
        CAST(MAX(c) AS BIGINT) AS top_count
      FROM freq GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_distinct, top_count,
      {{top_frac}} AS top_gram_frac,
      {{dup_frac}} AS dup_gram_frac
    FROM stats
    """.format(
        top_frac=sql_round_ratio("top_count", "n_grams", 4),
        dup_frac=sql_round_ratio("n_grams - n_distinct", "n_grams", 4),
    ),
    tags=("B21",),
)
def b21_repetition_signals(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    grams = _exploded_grams(
        docs.select("doc_id", tokens(F.col("text")).alias("w")), 2, "g"
    )
    freq = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    stats = freq.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_count"),
    )
    return stats.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        "top_count",
        round_ratio(F.col("top_count"), F.col("n_grams"), 4).alias(
            "top_gram_frac"
        ),
        round_ratio(
            F.col("n_grams") - F.col("n_distinct"), F.col("n_grams"), 4
        ).alias("dup_gram_frac"),
    )


# --------------------------------------------------------------------------
# B21i — PII redaction: scrub emails/phones with RE2-compatible regexes
# and count what was removed. The corpus text is synthetic word soup, so
# the query plants deterministic contact strings derived from doc_id in
# BOTH engines — the redaction plumbing (pattern, global replace, counts,
# post-hash) is the production shape. Map-only → embarrassingly parallel.
# --------------------------------------------------------------------------
@register(
    "b21_pii_redaction",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id,
        concat(text, ' contact user', CAST(doc_id AS VARCHAR),
               '@example.com or +1-555-',
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS t
      FROM documents
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.-]+')) AS BIGINT)
        AS n_emails,
      CAST(len(regexp_extract_all(t, '\+1-555-[0-9]{4}')) AS BIGINT)
        AS n_phones,
      md5(regexp_replace(regexp_replace(t, '[a-z0-9._]+@[a-z0-9.-]+',
            '<EMAIL>', 'g'), '\+1-555-[0-9]{4}', '<PHONE>', 'g'))
        AS redacted_md5
    FROM aug
    """,
    tags=("B21",),
)
def b21_pii_redaction(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    email, phone = r"[a-z0-9._]+@[a-z0-9.-]+", r"\+1-555-[0-9]{4}"
    return aug.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(email)).cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(phone)).cast("bigint").alias("n_phones"),
        F.md5(
            F.regexp_replace(
                F.regexp_replace(F.col("t"), email, "<EMAIL>"),
                phone,
                "<PHONE>",
            )
        ).alias("redacted_md5"),
    )


# --------------------------------------------------------------------------
# B20f — int8 scalar quantization of the embedding column (the standard
# vector-store compression step: 4x smaller than float32, ~1% recall
# loss). Per-dimension min/max over the corpus → q = floor((x-mn)*255/
# (mx-mn)) → reconstruction-error stats, all in exact integer units of
# 1e-7 (components decimal-scaled like functions/vectors.py) so both
# engines agree bit-for-bit.
#
# Scale shape: the dim-stats aggregate shuffles 64 rows; the stats
# broadcast back and quantization is a map-only higher-order-function
# pass over the un-exploded arrays — zero shuffle of the corpus.
# --------------------------------------------------------------------------
@register(
    "b20_embedding_quantization",
    oracle="""
    WITH pos AS (SELECT unnest(range(
        1, (SELECT MAX(len(embedding)) FROM embeddings) + 1)) AS i),
    d AS (
      SELECT e.vec_id, pos.i,
        CAST(CAST(ROUND(CAST(e.embedding[pos.i] AS DOUBLE), 7)
             AS DECIMAL(9,7)) * 10000000 AS BIGINT) AS xi
      FROM embeddings e CROSS JOIN pos
    ),
    st AS (
      SELECT i, MIN(xi) AS mn, MAX(xi) AS mx FROM d GROUP BY i
    ),
    q AS (
      SELECT d.vec_id,
        CASE WHEN st.mx = st.mn THEN 0
             ELSE CAST(FLOOR((d.xi - st.mn) * 255.0 / (st.mx - st.mn))
                       AS BIGINT) END AS qv,
        d.xi, st.mn, st.mx
      FROM d JOIN st ON st.i = d.i
    ),
    e AS (
      SELECT vec_id, qv,
        ABS(255 * (xi - mn) - qv * (mx - mn)) AS err
      FROM q
    )
    SELECT vec_id,
      CAST(COUNT(*) AS BIGINT) AS n_dims,
      CAST(SUM(qv) AS BIGINT) AS q_sum,
      CAST(MAX(err) AS BIGINT) AS max_err_scaled,
      CAST(SUM(err) AS BIGINT) AS sum_err_scaled
    FROM e GROUP BY vec_id
    """,
    tags=("B20",),
)
def b20_embedding_quantization(spark, sf_dir):
    emb = par_floor(t(spark, sf_dir, "embeddings"), "vec_id")
    xi = lambda x: (  # noqa: E731 — shared decimal→1e-7-int scaling
        F.round(x.cast("double"), 7).cast("decimal(9,7)") * 10_000_000
    ).cast("bigint")
    dims = emb.select(F.posexplode("embedding").alias("pos", "x")).select(
        "pos", xi(F.col("x")).alias("v")
    )
    stats = dims.groupBy("pos").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    stats_row = stats.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("st")
    )
    with_stats = emb.crossJoin(F.broadcast(stats_row))
    # two-arg transform lambda receives (element, index)
    pairs = F.transform(
        F.col("embedding"),
        lambda x, i: F.struct(
            F.when(
                F.get(F.col("st"), i)["mx"] == F.get(F.col("st"), i)["mn"],
                F.lit(0).cast("bigint"),
            )
            .otherwise(
                F.floor(
                    (xi(x) - F.get(F.col("st"), i)["mn"])
                    * 255.0
                    / (F.get(F.col("st"), i)["mx"] - F.get(F.col("st"), i)["mn"])
                )
                .cast("bigint")
            )
            .alias("qv"),
            (xi(x) - F.get(F.col("st"), i)["mn"]).alias("dx"),
            (F.get(F.col("st"), i)["mx"] - F.get(F.col("st"), i)["mn"]).alias(
                "rng"
            ),
        ),
    )
    errs = F.transform(
        pairs,
        lambda p: F.struct(
            p["qv"].alias("qv"),
            F.abs(255 * p["dx"] - p["qv"] * p["rng"]).alias("err"),
        ),
    )
    acc = "struct<n:bigint,qs:bigint,mx:bigint,sm:bigint>"
    folded = F.aggregate(
        errs,
        F.expr(
            "named_struct('n', 0L, 'qs', 0L, 'mx', 0L, 'sm', 0L)"
        ).cast(acc),
        lambda a, p: F.struct(
            (a["n"] + 1).alias("n"),
            (a["qs"] + p["qv"]).alias("qs"),
            F.greatest(a["mx"], p["err"]).alias("mx"),
            (a["sm"] + p["err"]).alias("sm"),
        ).cast(acc),
    )
    return with_stats.select(
        "vec_id",
        folded["n"].alias("n_dims"),
        folded["qs"].alias("q_sum"),
        folded["mx"].alias("max_err_scaled"),
        folded["sm"].alias("sum_err_scaled"),
    )


# --------------------------------------------------------------------------
# B20j — JOHNSON-LINDENSTRAUSS RANDOM PROJECTION + distance-
# preservation audit: project the 64-dim embedding column to 16 dims
# with a deterministic ±1 sign matrix (Achlioptas' database-friendly
# JL construction — sign(k,i) from md5 parity, no RNG state, so any
# executor/engine regenerates the identical matrix), then verify on a
# deterministic 1/37 id-sample that pairwise squared distances are
# preserved within the JL band. The dimensionality-reduction step
# every embedding pipeline wants before clustering/ANN at 100 TB: 4x
# less shuffle per vector, with a measured per-pair certificate that
# the geometry survived.
#
# Exactness: components quantize to integer 1e-7 units (the
# b20_embedding_quantization scaling), so projections are BIGINT sums
# (order-independent), original d2 fits BIGINT, and projected d2 runs
# in DECIMAL(38,0)/HUGEINT — every output column bit-agrees across
# engines including the in_band flag. E[d2_proj] = 16 * d2_orig for
# ±1 signs, so the band check is the exact integer comparison
# 8*d2_orig <= d2_proj <= 24*d2_orig (ratio 0.5..1.5 of expectation).
#
# Scale shape: the projection itself is MAP-ONLY over the un-exploded
# array (16 integer folds per row — no shuffle, no explode); only the
# AUDIT joins, and it joins a deterministic O(N/37) id-sample against
# itself — a production run audits a fixed-size panel (the pair count
# is quadratic in the sample, so the sample fraction shrinks as the
# corpus grows; the projection path itself is linear).
# --------------------------------------------------------------------------
_JL_DIMS = 16
_JL_SAMPLE_MOD = 37

_B20_JL_ORACLE = f"""
    WITH pos AS (SELECT unnest(range(
        1, (SELECT MAX(len(embedding)) FROM embeddings) + 1)) AS i),
    s AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {_JL_SAMPLE_MOD} = 0
    ),
    d AS (
      SELECT s.vec_id, pos.i - 1 AS i,
        CAST(CAST(ROUND(CAST(s.embedding[pos.i] AS DOUBLE), 7)
             AS DECIMAL(9,7)) * 10000000 AS BIGINT) AS q
      FROM s CROSS JOIN pos WHERE pos.i <= len(s.embedding)
    ),
    sgn AS (
      SELECT ks.k, di.i,
        (strpos('0123456789abcdef',
                substr(md5('jl' || ks.k || '_' || di.i), 1, 1)) % 2)
          * 2 - 1 AS sg
      FROM (SELECT unnest(range(0, {_JL_DIMS})) AS k) ks,
           (SELECT DISTINCT i FROM d) di
    ),
    p AS (
      SELECT d.vec_id, sgn.k, SUM(d.q * sgn.sg) AS pv
      FROM d JOIN sgn ON sgn.i = d.i GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM s a JOIN s b ON a.vec_id < b.vec_id
    ),
    od AS (
      SELECT pr.va, pr.vb,
        SUM((da.q - db.q) * (da.q - db.q)) AS d2_orig
      FROM pairs pr
      JOIN d da ON da.vec_id = pr.va
      JOIN d db ON db.vec_id = pr.vb AND db.i = da.i
      GROUP BY 1, 2
    ),
    pd AS (
      SELECT pr.va, pr.vb,
        SUM(CAST(pa.pv - pb.pv AS HUGEINT)
            * CAST(pa.pv - pb.pv AS HUGEINT)) AS d2_proj
      FROM pairs pr
      JOIN p pa ON pa.vec_id = pr.va
      JOIN p pb ON pb.vec_id = pr.vb AND pb.k = pa.k
      GROUP BY 1, 2
    )
    SELECT od.va, od.vb,
      CAST(od.d2_orig AS BIGINT) AS d2_orig,
      CAST(pd.d2_proj AS DECIMAL(38,0)) AS d2_proj,
      CAST(pd.d2_proj >= 8 * CAST(od.d2_orig AS HUGEINT)
           AND pd.d2_proj <= 24 * CAST(od.d2_orig AS HUGEINT)
           AS BOOLEAN) AS in_band
    FROM od JOIN pd ON pd.va = od.va AND pd.vb = od.vb
"""


def _jl_quantize(df):
    """(vec_id, q: array<bigint>) — components in 1e-7 integer units.

    Delegates to functions/vectors.quantize_int so the scaling lives in
    ONE expression tree (the duplicated-bucket-math lesson cited in
    functions/hll.py and cms.py; round-9 ADVICE, low)."""
    from ..functions.vectors import quantize_int

    return df.select(
        "vec_id", quantize_int(F.col("embedding")).alias("q")
    )


def _jl_project(df):
    """Append p: array<bigint> — the _JL_DIMS ±1-signed projections.

    MAP-ONLY by construction: 16 integer folds over the un-exploded
    `q` array — no explode, no join, no shuffle (plan-guarded in
    tests/test_plans_physical.py). This is the leg that runs over the
    FULL corpus at 100 TB; the pair audit in b20_jl_projection runs
    over a deterministic sample."""

    def sign(k, i):
        """±1 from md5('jl{k}_{i}') hex-digit parity (Achlioptas)."""
        return (
            F.instr(
                F.lit("0123456789abcdef"),
                F.substring(
                    F.md5(F.concat(F.lit(f"jl{k}_"), i.cast("string"))), 1, 1
                ),
            )
            % 2
        ) * 2 - 1

    def proj_k(k):
        # bind k at definition time; the lambda itself must stay
        # 2-argument for zip_with's arity check
        return F.aggregate(
            F.zip_with(
                F.col("q"),
                F.sequence(F.lit(0), F.size("q") - 1),
                lambda x, i: x * sign(k, i).cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        )

    return df.select(
        "vec_id",
        "q",
        F.array(*[proj_k(k) for k in range(_JL_DIMS)]).alias("p"),
    )


@register("b20_jl_projection", oracle=_B20_JL_ORACLE, tags=("B20",))
def b20_jl_projection(spark, sf_dir):
    emb = _jl_quantize(
        t(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % _JL_SAMPLE_MOD == 0
        )
    )
    proj = _jl_project(emb).localCheckpoint()  # tiny sampled relation,
    # reused on both sides
    # of the pair self-join below — materialize once
    a = proj.select(
        F.col("vec_id").alias("va"),
        F.col("q").alias("qa"),
        F.col("p").alias("pa"),
    )
    b = proj.select(
        F.col("vec_id").alias("vb"),
        F.col("q").alias("qb"),
        F.col("p").alias("pb"),
    )
    pairs = a.join(b, F.col("va") < F.col("vb"))
    d2_orig = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    dec = "decimal(38,0)"
    d2_proj = F.aggregate(
        F.zip_with(
            F.col("pa"),
            F.col("pb"),
            lambda x, y: ((x - y).cast(dec) * (x - y).cast(dec)).cast(dec),
        ),
        F.lit(0).cast(dec),
        lambda acc, x: (acc + x).cast(dec),
    )
    out = pairs.select(
        "va",
        "vb",
        d2_orig.alias("d2_orig"),
        d2_proj.alias("d2_proj"),
    )
    return out.select(
        "va",
        "vb",
        "d2_orig",
        "d2_proj",
        (
            (F.col("d2_proj") >= F.col("d2_orig").cast(dec) * 8)
            & (F.col("d2_proj") <= F.col("d2_orig").cast(dec) * 24)
        ).alias("in_band"),
    )


# --------------------------------------------------------------------------
# B20r — RADIUS (range) SEARCH with provably-sound IVF cell pruning:
# the "all neighbors within distance R" dual of top-k ANN — the shape
# dedup-by-distance, near-field audit, and density estimation need
# (top-k can miss in-radius points past k; radius search can't). The
# plan assigns every vector to its nearest of 8 deterministic
# centroids (exact-DECIMAL argmin, ties to the smallest cell), keeps
# per-cell max member-to-centroid d², and scans ONLY cells where
# d²(probe, centroid) <= 2R² + 2r²_cell — the SQUARED triangle
# inequality (d(p,c) <= d(p,x)+d(x,c) ⇒ d²(p,c) <= 2d²(p,x)+2d²(x,c)),
# sound with zero square roots, so the pruning decision itself is an
# exact DECIMAL comparison that cannot drift engines. The oracle is
# deliberately the BRUTE-FORCE scan: the correctness gate therefore
# PROVES the pruned plan returns exactly the un-pruned answer.
#
# Honesty note: on this near-uniform synthetic corpus the cells are
# wide (r²_cell ~ corpus diameter), so the bound keeps most cells at
# test scale — pruning power is a property of the DATA's cluster
# structure. tests/test_northstar.py plants a genuinely clustered
# fixture and proves cells ARE pruned there while results still match
# brute force. At 100 TB the corpus is laid out partitioned by cell,
# so every kept/pruned decision is partition pruning.
# --------------------------------------------------------------------------
_RADIUS_R2 = "1.6"  # squared-distance radius (DECIMAL literal)
_RADIUS_CELLS = 8
_RADIUS_PROBE = 0

_B20_RADIUS_ORACLE = f"""
    WITH pos AS (SELECT unnest(range(
        1, (SELECT MAX(len(embedding)) FROM embeddings) + 1)) AS i),
    pe AS (SELECT embedding AS p FROM embeddings
           WHERE vec_id = {_RADIUS_PROBE}),
    d AS (
      SELECT e.vec_id,
        CAST(ROUND(CAST(e.embedding[pos.i] AS DOUBLE), 7)
             AS DECIMAL(9,7)) AS da,
        CAST(ROUND(CAST(p.p[pos.i] AS DOUBLE), 7)
             AS DECIMAL(9,7)) AS db
      FROM embeddings e CROSS JOIN pe p CROSS JOIN pos
      WHERE pos.i <= len(e.embedding)
    ),
    dd AS (
      SELECT vec_id, SUM((da - db) * (da - db)) AS d2 FROM d GROUP BY 1
    )
    SELECT vec_id, CAST(d2 AS DECIMAL(30,14)) AS d2
    FROM dd WHERE vec_id <> {_RADIUS_PROBE} AND d2 <= {_RADIUS_R2}
"""


def _radius_search(emb, r2_lit: str = _RADIUS_R2):
    """The pruned radius-search plan over an (vec_id, embedding)
    frame — shared by the registered query and the clustered-fixture
    pruning test (which also inspects the kept-cell set).

    Round 12 (guide §2.4): the cell assignment used to score a
    _RADIUS_CELLS×-exploded corpus and window-argmin it per vec_id —
    a full exchange of cells·N rows. The cells are a bounded collect;
    the argmin (dc2, cell) runs as a map-side fold (ascending cells,
    strict ``<`` — exactly ORDER BY dc2, cell) over literal quantized
    centroids, dc2 being the same exact DECIMAL(30,14) dist2_exact
    value, with the row's quantized vector computed once in the seed."""
    from ..functions.vectors import dist2_exact
    from ..operators.similarity import _q7_driver

    emb = par_floor(emb, "vec_id")  # distance fold below is per-row
    cent = emb.filter(F.col("vec_id") < _RADIUS_CELLS).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("cvec"),
    )
    cent_rows = sorted(
        (int(r["cell"]), list(r["cvec"])) for r in cent.collect()
    )
    arr = "array(" + ",".join(
        f"struct({cell} AS cell,"
        f"array({','.join(str(_q7_driver(x)) + 'L' for x in vec)})"
        " AS qc)"
        for cell, vec in cent_rows
    ) + ")"
    q_sql = (
        "transform(embedding, x -> CAST(CAST(ROUND(CAST(x AS DOUBLE),"
        " 7) AS DECIMAL(9,7)) * 10000000 AS BIGINT))"
    )
    # one struct<cell,dc2> per cell — each exact distance computed
    # once (no common-subexpression elimination in interpreted HOFs),
    # the row's quantized vector bound once through the 1-element-
    # array aggregate; dc2 is the same exact DECIMAL(30,14)
    # dist2_exact value (int64 Σ(x−y)² bridged via the exact S·10⁻¹⁴
    # division). The whole fold is ONE SQL string (round 12): the
    # Column-builder version spent seconds per query construction in
    # py4j round-trips.
    scores = (
        f"transform({arr}, c -> struct(c.cell AS cell,"
        " CAST(CAST(aggregate(zip_with(b, c.qc, (x, y) -> x - y),"
        " CAST(0 AS BIGINT), (a, d) -> a + d * d) AS DECIMAL(24,0))"
        " / CAST(100000000000000 AS DECIMAL(15,0))"
        " AS DECIMAL(30,14)) AS dc2))"
    )
    # ascending cells + strict ``<`` == ORDER BY dc2, cell; the 1e12
    # seed exceeds any reachable dist², so the first cell always wins
    best = F.expr(
        f"aggregate(array({q_sql}),"
        " struct(-1 AS cell,"
        " CAST('1000000000000' AS DECIMAL(30,14)) AS dc2),"
        f" (acc, b) -> aggregate({scores}, acc,"
        " (best, c) -> CASE WHEN c.dc2 < best.dc2"
        " THEN c ELSE best END))"
    )
    # materialized: `assigned` feeds TWO consumers (the per-cell
    # radius stats and the pruned hits join), and the hits join on
    # `cell` pushes isnotnull(cell) below the projection, substituting
    # the whole distance fold into a Filter — each consumer would pay
    # the fold again (no CSE in interpreted HOFs).
    assigned = (
        emb.select("vec_id", "embedding", best.alias("b"))
        .select(
            "vec_id",
            "embedding",
            F.col("b.cell").alias("cell"),
            F.col("b.dc2").alias("dc2"),
        )
        .localCheckpoint()
    )
    stats = assigned.groupBy("cell").agg(F.max("dc2").alias("r2cell"))
    probe = emb.filter(F.col("vec_id") == _RADIUS_PROBE).select(
        F.col("embedding").alias("pe")
    )
    r2 = F.expr(f"CAST({r2_lit} AS DECIMAL(30,14))")
    kept = (
        cent.crossJoin(F.broadcast(probe))
        .select("cell", dist2_exact(F.col("cvec"), F.col("pe")).alias("pc2"))
        .join(stats, "cell")
        .filter(F.col("pc2") <= 2 * r2 + 2 * F.col("r2cell"))
        .select("cell")
    )
    hits = (
        assigned.join(F.broadcast(kept), "cell")
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            dist2_exact(F.col("embedding"), F.col("pe")).alias("d2"),
        )
        .filter((F.col("vec_id") != _RADIUS_PROBE) & (F.col("d2") <= r2))
    )
    return hits, kept


@register("b20_radius_search", oracle=_B20_RADIUS_ORACLE, tags=("B20",))
def b20_radius_search(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    hits, _kept = _radius_search(emb)
    return hits.select(
        "vec_id", F.col("d2").cast("decimal(30,14)").alias("d2")
    )


# --------------------------------------------------------------------------
# B21j — TWO-LEVEL sequence packing: concatenate documents (in
# deterministic doc_id order, per (lang, shard) stream) into
# fixed-capacity context windows, opening a new bin whenever the next
# document would overflow. The standard "pack short docs into 2k-token
# training sequences" step.
#
# The greedy fill is inherently sequential PER STREAM (same shape as
# the EWMA/Holt folds): a grouped-map fold over integer state, exact on
# both engines — the oracle replays it as a recursive CTE partitioned
# by (lang, shard). Parallelism at 100 TB comes from the shard level:
# shard = floor(doc_id / _PACK_SHARD_SPAN) is a pure function of the
# key, so (a) it is map-only (zero planning shuffle, no driver
# materialization — the exact-ntile range planner would need O(N)
# driver rows on a UNIQUE key, which is why it is NOT used here), and
# (b) each (lang, shard) group holds AT MOST _PACK_SHARD_SPAN rows
# (doc_ids are unique integers, so a width-S span contains <= S of
# them) — a HARD bound on the pandas frame any executor materializes,
# independent of corpus size or language skew. Bins are shard-local
# (a bin never spans a shard boundary), which is what every real
# packing pipeline does; (shard, bin_id) identifies a bin globally.
# --------------------------------------------------------------------------
_PACK_CAPACITY = 512
# Hard per-group row bound for the applyInPandas pack fold. At 100 TB a
# (lang, shard) group is <= 256 (doc_id, lang, n_tokens) rows — a few
# KB of pandas frame — regardless of docs-per-language. 256 also keeps
# shard boundaries exercised at every test SF (sf0.001 has 500 docs →
# 2 shards); at production scale the constant would be tuned up, but
# ANY fixed width keeps the bound hard.
_PACK_SHARD_SPAN = 256


def _packed_bins(d):
    """Two-level greedy next-fit packing over a (doc_id, lang,
    n_tokens) frame: shard by fixed-width doc_id span (map-only,
    <= _PACK_SHARD_SPAN rows per group by construction), then fold
    within each (lang, shard) stream in doc_id order. Shared by
    b21_sequence_pack (whitespace counts) and b21_sequence_pack_bpe
    (trained-tokenizer counts) so the fill semantics cannot drift."""
    import pandas as pd

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, fill, b = [], 0, 0
        for n in pdf["n_tokens"]:
            # positional seed test, matching the oracle CTE exactly:
            # the FIRST row of a stream always seeds bin 0; every
            # later row uses the pure fill test (the oracle checks
            # `p.fill + d.n_tokens > CAP` for every rn >= 2 row). The
            # old `if fill and ...` guard agreed only because every
            # caller guarantees n_tokens >= 1 — a zero-token head row
            # followed by an oversize doc would have diverged (r11
            # ADVICE).
            if bins and fill + n > _PACK_CAPACITY:
                b += 1
                fill = n
            else:
                fill += n
            bins.append(b)
        pdf["bin_id"] = bins
        return pdf[["doc_id", "lang", "shard", "n_tokens", "bin_id"]]

    return (
        # integer div, NOT floor(double /): a double round-trip loses
        # exactness past 2^53 — hash-derived 64-bit doc_ids at corpus
        # scale would mis-shard. doc_id >= 0, so div == floor-div and
        # matches DuckDB's // exactly.
        d.withColumn(
            "shard", F.expr(f"doc_id div {_PACK_SHARD_SPAN}")
        )
        .groupBy("lang", "shard")
        .applyInPandas(
            pack,
            "doc_id bigint, lang string, shard bigint, "
            "n_tokens bigint, bin_id bigint",
        )
    )


def _pack_oracle_cte() -> str:
    """JUST the recursive next-fit `pack` CTE over a `d` CTE exposing
    (doc_id, lang, shard, n_tokens, rn) — rn numbered within
    (lang, shard) in doc_id order. Shared by both pack oracles and the
    composed pipeline_training_e2e oracle (which aggregates `pack`
    instead of selecting it)."""
    return f"""pack AS (
      SELECT doc_id, lang, shard, n_tokens, rn,
        CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.doc_id, d.lang, d.shard, d.n_tokens, d.rn,
        CASE WHEN p.fill + d.n_tokens > {_PACK_CAPACITY}
             THEN p.bin_id + 1 ELSE p.bin_id END,
        CASE WHEN p.fill + d.n_tokens > {_PACK_CAPACITY}
             THEN d.n_tokens ELSE p.fill + d.n_tokens END
      FROM d JOIN pack p
        ON d.lang = p.lang AND d.shard = p.shard AND d.rn = p.rn + 1
    )"""


def _pack_oracle_tail() -> str:
    """Pack CTE + the row-per-doc SELECT (the two pack queries)."""
    return f"""
    {_pack_oracle_cte()}
    SELECT doc_id, lang, shard, n_tokens, bin_id FROM pack
    """


@register(
    "b21_sequence_pack",
    oracle=rf"""
    WITH RECURSIVE d AS (
      SELECT doc_id, lang,
        doc_id // {_PACK_SHARD_SPAN} AS shard,
        CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)
          AS n_tokens,
        ROW_NUMBER() OVER (
          PARTITION BY lang, doc_id // {_PACK_SHARD_SPAN}
          ORDER BY doc_id) AS rn
      FROM documents
    ),
    {_pack_oracle_tail()}
    """,
    tags=("B21",),
)
def b21_sequence_pack(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    return _packed_bins(docs)


@register("b20_pq_knn", oracle=None, tags=("B20",))
def b20_pq_knn(spark, sf_dir):
    # Product-quantized ANN (operators/pq.py): train 4×16 codebooks on
    # the corpus, encode to 4-byte codes (64× compression), answer the
    # probe via asymmetric distance. rows-only: subspace k-means means
    # are float sums, not cross-engine exact — recall/determinism are
    # pytest-checked (test_northstar.test_product_quantization_roundtrip).
    from ..operators.pq import pq_encode, pq_knn, pq_train

    emb = par_floor(t(spark, sf_dir, "embeddings"), "vec_id").cache()
    # max_iter 2: codebooks stabilize fast and the registered query is
    # wall-clock-bound by Spark job count, not data (same 21s at sf0.01
    # and sf0.1 with 3 iters) — recall quality is pinned by pytest
    books = pq_train(emb, m=4, k=16, max_iter=2)
    codes = pq_encode(emb, books)
    return pq_knn(emb, codes, books, probe_vec_id=0, k=10)


# --------------------------------------------------------------------------
# B18c — deterministic train/val/test split: hash-bucket every document
# into a split by md5(doc_id) threshold (train ~90%, val ~5%, test ~5%).
# No RNG and no seed: membership is a pure function of the key, so the
# split is stable across runs, engines, repartitioning, and incremental
# re-ingestion (a re-crawled doc lands in the same split — no train/test
# leakage as the corpus grows). The predicate is a plain string compare
# on a projected column: pushdown-able, map-only, zero shuffle until the
# audit aggregate. Output is the audit view: docs + chars per
# (split, lang) stratum.
# --------------------------------------------------------------------------
@register(
    "b18_train_val_test_split",
    oracle="""
    WITH s AS (
      SELECT lang, n_chars,
        CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
               THEN 'train'
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333'
               THEN 'val'
             ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, lang,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
    FROM s GROUP BY split, lang
    """,
    tags=("B18", "B21"),
)
def b18_train_val_test_split(spark, sf_dir):
    hk = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    split = (
        F.when(hk < "e6666666", "train")  # 0xe6666666/2^32 ≈ 0.90
        .when(hk < "f3333333", "val")     # next ≈ 0.05
        .otherwise("test")
    )
    return (
        t(spark, sf_dir, "documents")
        .select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars_total"),
        )
    )


# --------------------------------------------------------------------------
# B21k — cross-document boilerplate n-grams (C4-style filter signal):
# a 5-gram occurring in >= 3 distinct documents is "boilerplate"
# (headers, footers, license blurbs, navigation chrome); per document,
# report how much of it is made of such grams. Two shuffles: the
# gram->document-frequency aggregate and the per-doc rollup — both with
# map-side partial aggregation. Kept as exact strings here for
# bit-exact oracle parity; the 100 TB shape — xxhash64 int64 shuffle
# keys + df>=3 pre-filter so singleton grams never enter the join —
# is b21_boilerplate_hashed below (tests assert identical output).
# --------------------------------------------------------------------------
@register(
    "b21_boilerplate_ngrams",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    pos AS (
      SELECT doc_id, w,
        unnest(generate_series(1, greatest(len(w) - 4, 1))) AS i
      FROM d
    ),
    g0 AS (
      SELECT doc_id,
        concat_ws(' ', w[i], w[i + 1], w[i + 2], w[i + 3], w[i + 4]) AS g
      FROM pos
    ),
    g AS (SELECT DISTINCT doc_id, g FROM g0),
    df AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g),
    per AS (
      SELECT g.doc_id,
        COUNT(*) AS n_grams,
        CAST(SUM(CASE WHEN df.df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_boiler
      FROM g JOIN df USING (g) GROUP BY g.doc_id
    )
    SELECT doc_id, n_grams, n_boiler,
      {sql_round_ratio('n_boiler', 'n_grams', 4)} AS boiler_frac
    FROM per
    """,
    tags=("B21",),
)
def b21_boilerplate_ngrams(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    grams = docs.select("doc_id", tokens(F.col("text")).alias("w")).select(
        "doc_id",
        F.explode(F.array_distinct(shingles(F.col("w"), 5))).alias("g"),
    )
    df = grams.groupBy("g").agg(F.count("*").alias("df"))
    per = (
        grams.join(df, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("df") >= 3).cast("bigint")).alias("n_boiler"),
        )
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_boiler",
        round_ratio(F.col("n_boiler"), F.col("n_grams"), 4).alias("boiler_frac"),
    )


# --------------------------------------------------------------------------
# B21k' — the 100 TB shape of the boilerplate signal. Same output as
# b21_boilerplate_ngrams (the string variant stays as the bit-exact
# oracle twin; tests assert equality), but the heavy shuffles carry
# xxhash64(gram) int64s instead of ~40-byte gram strings (≈5× narrower
# rows in the df aggregate), and the gram→doc join probes only the
# df>=3 boilerplate set — singleton and doubleton grams (the vast
# majority of distinct grams in a web corpus) are filtered out after
# the map-side-combined count and never enter the join shuffle.
# Per-doc totals come from a separate doc_id-local aggregate that
# reuses the ingest partitioning, so the wide gram table crosses the
# network once, 16 bytes per row. 64-bit collisions merging two
# distinct grams are ~1e-8 at 1e9 distinct grams — the standard
# accepted risk for corpus-scale dedup signals.
# --------------------------------------------------------------------------
@register(
    "b21_boilerplate_hashed",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    pos AS (
      SELECT doc_id, w,
        unnest(generate_series(1, greatest(len(w) - 4, 1))) AS i
      FROM d
    ),
    g0 AS (
      SELECT doc_id,
        concat_ws(' ', w[i], w[i + 1], w[i + 2], w[i + 3], w[i + 4]) AS g
      FROM pos
    ),
    g AS (SELECT DISTINCT doc_id, g FROM g0),
    df AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g),
    boiler AS (SELECT g FROM df WHERE df >= 3),
    totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
    hits AS (
      SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_boiler
      FROM g JOIN boiler USING (g) GROUP BY g.doc_id
    ),
    per AS (
      SELECT t.doc_id, t.n_grams, COALESCE(h.n_boiler, 0) AS n_boiler
      FROM totals t LEFT JOIN hits h USING (doc_id)
    )
    SELECT doc_id, n_grams, n_boiler,
      {sql_round_ratio('n_boiler', 'n_grams', 4)} AS boiler_frac
    FROM per
    """,
    tags=("B21",),
)
def b21_boilerplate_hashed(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    grams = docs.select("doc_id", tokens(F.col("text")).alias("w")).select(
        "doc_id",
        F.explode(F.array_distinct(shingles(F.col("w"), 5))).alias("g"),
    )
    hashed = grams.select("doc_id", F.xxhash64("g").alias("gh"))
    # df aggregate over int64 keys, map-side partial combine; the
    # singleton/doubleton tail dies here and never reaches the join
    boiler = (
        hashed.groupBy("gh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 3)
        .select("gh")
    )
    totals = hashed.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (
        hashed.join(boiler, "gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_boiler"))
    )
    per = totals.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_boiler"), F.lit(0)).alias("n_boiler"),
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_boiler",
        round_ratio(F.col("n_boiler"), F.col("n_grams"), 4).alias("boiler_frac"),
    )


# --------------------------------------------------------------------------
# B19f — incremental (cross-snapshot) dedup: dedup a NEW ingestion delta
# against an EXISTING base corpus without re-deduping the base. This is
# the shape every growing 100 TB corpus actually needs — the all-pairs
# passes (b19_*) build the initial index once; every later crawl only
# pays cost proportional to the delta:
#   1. exact:  anti-join the delta's content hash against the base's
#      (at scale: the base hash set is a stored, bucketed table — or a
#      bloom filter for a first cheap pass);
#   2. near:   compute MinHash band keys for delta docs only and join
#      them against the base's PRECOMPUTED band-key index (stored
#      partitioned by (band, bk), so the probe prunes partitions);
#      verify surviving candidates by exact shingle Jaccard >= 0.7.
# Base here = sources src0..src9, delta = src10..src19. Output: every
# delta doc with verdict exact_dup | near_dup | kept.
# --------------------------------------------------------------------------
_B19_INCR_ORACLE = (
    _DOCS_CTE
    + """
    , mh AS (
      SELECT doc_id,
    """
    + _MINHASH_COMPONENTS
    + """
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, md5(concat(h0, h1)) AS bk FROM mh
      UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM mh
      UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM mh
      UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM mh
    ),
    meta AS (
      SELECT doc_id, source,
        CAST(substr(source, 4) AS INTEGER) < 10 AS is_base
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS dd, b.doc_id AS bd
      FROM bands a
      JOIN meta ma ON ma.doc_id = a.doc_id AND NOT ma.is_base
      JOIN bands b ON b.band = a.band AND b.bk = a.bk
      JOIN meta mb ON mb.doc_id = b.doc_id AND mb.is_base
    ),
    inter AS (
      SELECT c.dd, c.bd, count(*) AS i
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.dd
      JOIN sh s2 ON s2.doc_id = c.bd AND s2.s = s1.s
      GROUP BY c.dd, c.bd
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    near AS (
      SELECT DISTINCT dd AS doc_id
      FROM inter
      JOIN sizes sa ON sa.doc_id = dd
      JOIN sizes sb ON sb.doc_id = bd
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.7
    ),
    exact AS (
      SELECT DISTINCT d.doc_id
      FROM documents d
      JOIN documents b
        ON md5(b.text) = md5(d.text)
        AND CAST(substr(b.source, 4) AS INTEGER) < 10
      WHERE CAST(substr(d.source, 4) AS INTEGER) >= 10
    )
    SELECT m.doc_id, m.source,
      CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
           WHEN n.doc_id IS NOT NULL THEN 'near_dup'
           ELSE 'kept' END AS verdict
    FROM meta m
    LEFT JOIN exact e ON e.doc_id = m.doc_id
    LEFT JOIN near n ON n.doc_id = m.doc_id
    WHERE NOT m.is_base
    """
)


@register("b19_incremental_dedup", oracle=_B19_INCR_ORACLE, tags=("B19", "B18"))
def b19_incremental_dedup(spark, sf_dir):
    is_base = F.substring("source", 4, 10).cast("int") < 10
    docs = (
        t(spark, sf_dir, "documents")
        .transform(spread("doc_id"))
        .select(
            "doc_id",
            "source",
            is_base.alias("is_base"),
            tokens(F.col("text")).alias("w"),
            F.md5("text").alias("content_hash"),
        )
        .select(
            "doc_id",
            "source",
            "is_base",
            F.array_distinct(shingles(F.col("w"))).alias("arr"),
            "content_hash",
        )
    )
    # MinHash signatures (same recipe as b19_minhash_lsh_neardup: two
    # md5s per shingle, 8 fixed-width 32-bit hex slices, array_min) —
    # map-only, no shuffle.
    hashed = docs.withColumn(
        "hs",
        F.transform(
            F.col("arr"),
            lambda s: F.concat(
                F.md5(F.concat(F.lit("a|"), s)), F.md5(F.concat(F.lit("b|"), s))
            ),
        ),
    )

    def _slice(start):
        return lambda h: F.substring(h, start, 8)

    sig = hashed.select(
        "doc_id",
        "source",
        "is_base",
        "arr",
        "content_hash",
        *[
            F.array_min(
                F.transform(F.col("hs"), _slice(1 + 8 * (j % 4) + 32 * (j // 4)))
            ).alias(f"h{j}")
            for j in range(8)
        ],
    ).cache()
    bands = sig.select(
        "doc_id",
        "is_base",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat(F.col(f"h{2*b}"), F.col(f"h{2*b+1}"))
                        ).alias("bk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "is_base", "e.band", "e.bk")
    # Delta band keys probe the base band index. At 100 TB the base side
    # is a stored table partitioned by (band, bk) and this join prunes;
    # here both sides derive from the cached signature pass.
    cand = (
        bands.filter(~F.col("is_base"))
        .select("band", "bk", F.col("doc_id").alias("dd"))
        .join(
            bands.filter(F.col("is_base")).select(
                "band", "bk", F.col("doc_id").alias("bd")
            ),
            ["band", "bk"],
        )
        .select("dd", "bd")
        .distinct()
    )
    arrs = sig.select("doc_id", "arr")
    verified = (
        F.broadcast(cand)
        .join(arrs.alias("pa"), F.col("pa.doc_id") == F.col("dd"))
        .join(arrs.alias("pb"), F.col("pb.doc_id") == F.col("bd"))
        .select(
            "dd",
            F.size(F.array_intersect(F.col("pa.arr"), F.col("pb.arr"))).alias("i"),
            F.size(F.col("pa.arr")).alias("na"),
            F.size(F.col("pb.arr")).alias("nb"),
        )
    )
    near = (
        verified.filter(
            F.col("i") / (F.col("na") + F.col("nb") - F.col("i")) >= 0.7
        )
        .select(F.col("dd").alias("doc_id"))
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    base_hashes = (
        sig.filter("is_base").select("content_hash").distinct()
        .withColumn("is_exact", F.lit(True))
    )
    return (
        sig.filter(~F.col("is_base"))
        .select("doc_id", "source", "content_hash")
        .join(F.broadcast(base_hashes), "content_hash", "left")
        .join(F.broadcast(near), "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.when(F.col("is_exact"), "exact_dup")
            .when(F.col("is_near"), "near_dup")
            .otherwise("kept")
            .alias("verdict"),
        )
    )


# --------------------------------------------------------------------------
# B18d — per-source document caps (domain balancing): crawl corpora are
# dominated by a few giant domains, so curation caps documents per
# source at K, keeping a deterministic uniform subset — rank by
# md5(doc_id) within each source and keep the K smallest (same stable-
# hash family as the split/sampling ops: re-runs, engines, and
# re-ingestion all agree on the kept set; no RNG, no seed drift).
# One shuffle (rank window partitioned by source). At 100 TB a
# pathological mega-domain skews its rank partition; the fix is the
# same two-stage trick as operators/skew.py — pre-filter with an
# approximate per-source count and hash-threshold (kept-fraction ≈
# K/count) before the exact rank — noted, not needed at test scale.
# --------------------------------------------------------------------------
@register(
    "b18_source_cap",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
        ROW_NUMBER() OVER (
          PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        ) AS rk,
        COUNT(*) OVER (PARTITION BY source) AS n_total
      FROM documents
    )
    SELECT source,
      CAST(MAX(n_total) AS BIGINT) AS n_docs,
      CAST(COUNT(*) FILTER (WHERE rk <= 10) AS BIGINT) AS n_kept,
      CAST(SUM(n_chars) FILTER (WHERE rk <= 10) AS BIGINT) AS kept_chars
    FROM ranked GROUP BY source
    """,
    tags=("B18", "B21"),
)
def b18_source_cap(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = docs.select("doc_id", "source", "n_chars").withColumn(
        "rk", F.row_number().over(w)
    ).withColumn("n_total", F.count("*").over(Window.partitionBy("source")))
    return ranked.groupBy("source").agg(
        F.max("n_total").alias("n_docs"),
        F.count(F.when(F.col("rk") <= 10, 1)).alias("n_kept"),
        F.sum(F.when(F.col("rk") <= 10, F.col("n_chars"))).alias("kept_chars"),
    )


# --------------------------------------------------------------------------
# B22c — frame sampling (the video-modality 1→N expansion) made
# hash-verifiable: payloads here are UTF-8 text bytes (ASCII corpus,
# byte offset == char offset), so each sampled frame decodes back to a
# substring the oracle replays with substr(). The production decode
# swaps the byte slice for a codec frame grab behind the same
# mapInPandas contract (operators/multimodal.py:sample_frames).
# --------------------------------------------------------------------------
@register(
    "b22_frame_sample",
    oracle="""
    WITH f AS (
      SELECT doc_id, n_chars, text,
        unnest(generate_series(0, 3)) AS frame_idx
      FROM documents
    )
    SELECT doc_id,
      CAST(frame_idx AS INT) AS frame_idx,
      CAST(frame_idx * 128 AS INT) AS "offset",
      CAST(LEAST(64, n_chars - frame_idx * 128) AS INT) AS frame_len,
      substr(text, frame_idx * 128 + 1, 64) AS frame_text
    FROM f WHERE frame_idx * 128 < n_chars
    """,
    tags=("B22",),
)
def b22_frame_sample(spark, sf_dir):
    from ..operators.multimodal import sample_frames, with_binary_payload

    docs = t(spark, sf_dir, "documents")
    frames = sample_frames(with_binary_payload(docs))
    return frames.select(
        "doc_id",
        "frame_idx",
        "offset",
        "frame_len",
        F.decode(F.col("frame"), "UTF-8").alias("frame_text"),
    )


# --------------------------------------------------------------------------
# B20h — exact-replay k-means: the oracle-checkable twin of
# b20_kmeans_embeddings (which stays rows-only because float Lloyd's is
# accumulation-order-sensitive). Two fixed Lloyd iterations over
# 1e-7-integer-quantized vectors; centroids are carried as exact
# (per-dim integer sum, member count) pairs and never divided, so the
# assignment argmin over |x − s_j/n_j|² is computed as the exact
# integer numerator Σ_d (n_j·x_d − s_jd)² divided by n_j² in IEEE
# doubles — identical on any engine given identical integers. Same
# dataflow as operators/clustering.py (broadcast centroids, map-only
# assign, one agg for the update); the quantization is the same 1e-7
# scaling b20_knn_bruteforce/b20_embedding_quantization already use.
# --------------------------------------------------------------------------
_KMEANS_EXACT_CTE = """
    WITH pos AS (SELECT unnest(range(
        1, (SELECT MAX(len(embedding)) FROM embeddings) + 1)) AS i),
    qv AS (
      SELECT e.vec_id,
        list_transform(e.embedding, v ->
          CAST(CAST(ROUND(CAST(v AS DOUBLE), 7) AS DECIMAL(9,7))
               * 10000000 AS BIGINT)) AS x
      FROM embeddings e
    ),
    seeds AS (
      SELECT vec_id AS cluster, x AS sx, CAST(1 AS BIGINT) AS n
      FROM qv WHERE vec_id < 8
    ),
    s1 AS (
      SELECT v.vec_id, c.cluster,
        CAST(SUM(CAST(c.n * v.x[pos.i] - c.sx[pos.i] AS HUGEINT)
                 * (c.n * v.x[pos.i] - c.sx[pos.i])) AS DOUBLE)
          / (CAST(c.n AS DOUBLE) * c.n) AS r
      FROM qv v CROSS JOIN seeds c CROSS JOIN pos
      GROUP BY v.vec_id, c.cluster, c.n
    ),
    a1 AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY r, cluster) AS rk
        FROM s1) WHERE rk = 1
    ),
    c1d AS (
      SELECT a1.cluster, pos.i, SUM(v.x[pos.i]) AS s, COUNT(*) AS cn
      FROM a1 JOIN qv v USING (vec_id) CROSS JOIN pos
      GROUP BY 1, 2
    ),
    c1 AS (
      SELECT cluster, list(s ORDER BY i) AS sx, MAX(cn) AS n
      FROM c1d GROUP BY cluster
    ),
    s2 AS (
      SELECT v.vec_id, c.cluster,
        CAST(SUM(CAST(c.n * v.x[pos.i] - c.sx[pos.i] AS HUGEINT)
                 * (c.n * v.x[pos.i] - c.sx[pos.i])) AS DOUBLE)
          / (CAST(c.n AS DOUBLE) * c.n) AS r
      FROM qv v CROSS JOIN c1 c CROSS JOIN pos
      GROUP BY v.vec_id, c.cluster, c.n
    ),
    a2 AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY r, cluster) AS rk
        FROM s2) WHERE rk = 1
    )
"""

_B20_KMEANS_EXACT_ORACLE = (
    _KMEANS_EXACT_CTE
    + """
    SELECT a2.cluster,
      CAST(COUNT(*) AS BIGINT) AS n_members,
      CAST(SUM(v.x[1]) AS BIGINT) AS s_dim1,
      MIN(a2.vec_id) AS rep_vec
    FROM a2 JOIN qv v USING (vec_id)
    GROUP BY a2.cluster
"""
)


def _km_scores_sql(cands) -> str:
    """SQL text: array<struct<cluster, r>> over the literal
    candidates [(cluster, sx, n)], each candidate's exact ratio
    computed EXACTLY once (interpreted HOFs do no common-subexpression
    elimination — a ratio referenced in both a fold condition and its
    branch struct would run twice per candidate). r is the same
    exact-decimal numerator over the same double division as the old
    broadcast scored_against formulation, against the row column
    ``x`` — bit-identical. Built as ONE SQL string (round 12): the
    Column-builder version spent seconds per query construction in
    py4j round-trips, dwarfing execution."""
    arr = "array(" + ",".join(
        f"struct({int(cluster)}L AS cluster,"
        f"array({','.join(str(int(s)) + 'L' for s in sx)}) AS sx,"
        f"{int(n)}L AS n)"
        for cluster, sx, n in cands
    ) + ")"
    return (
        f"transform({arr}, c -> struct(c.cluster AS cluster,"
        " CAST(aggregate(zip_with(x, c.sx,"
        " (a, b) -> CAST(c.n * a - b AS DECIMAL(19,0))"
        " * CAST(c.n * a - b AS DECIMAL(19,0))),"
        " CAST(0 AS DECIMAL(38,0)), (acc2, t) -> acc2 + t) AS DOUBLE)"
        " / CAST(c.n * c.n AS DOUBLE) AS r))"
    )


def _km_best_cluster(cands):
    """argmin cluster over [(cluster, sx, n)] as a map-side fold:
    ascending clusters with strict ``<`` IS min_by(cluster,
    struct(r, cluster)) — zero candidate explode, zero exchange
    (round 12, guide §2.4: the old assign() crossJoined the corpus
    K× and argmin'ed through a groupBy). The fold itself compares
    pre-computed scores — cheap struct-field reads."""
    return F.expr(
        f"aggregate({_km_scores_sql(cands)},"
        " struct(CAST(-1 AS BIGINT) AS cluster,"
        " CAST('Infinity' AS DOUBLE) AS r),"
        " (acc, c) -> CASE WHEN c.r < acc.r THEN c ELSE acc END,"
        " acc -> acc.cluster)"
    )


def _kmeans_core(spark, sf_dir, K=8):
    """(v, cent1_rows): the quantized vectors and the iteration-1
    recomputed centroid stats collected driver-side (K rows — the
    bounded collect that lets iteration-2 assignment run map-side)."""
    emb = par_floor(t(spark, sf_dir, "embeddings"), "vec_id")
    qx = F.transform(
        "embedding",
        lambda e: (
            F.round(e.cast("double"), 7).cast("decimal(9,7)") * 10_000_000
        ).cast("bigint"),
    )
    v = emb.select("vec_id", qx.alias("x"))
    seeds = sorted(
        (int(r["vec_id"]), [int(c) for c in r["x"]], 1)
        for r in v.filter(F.col("vec_id") < K).collect()
    )
    a1 = v.select("vec_id", "x", _km_best_cluster(seeds).alias("cluster"))
    # element-wise sums directly (64 SUM columns re-assembled into the
    # array): one keyed exchange with map-side partial aggregation
    # instead of the old posexplode → two-level groupBy chain
    cent1 = (
        a1.groupBy("cluster")
        .agg(
            *[
                F.sum(F.element_at("x", i + 1)).alias(f"s{i}")
                for i in range(64)
            ],
            F.count("*").alias("n"),
        )
        .select(
            "cluster",
            F.array(*[F.col(f"s{i}") for i in range(64)]).alias("sx"),
            "n",
        )
    )
    cent1_rows = sorted(
        (int(r["cluster"]), [int(s) for s in r["sx"]], int(r["n"]))
        for r in cent1.collect()
    )
    return v, cent1_rows


def _exact_kmeans_assignments(spark, sf_dir, K=8):
    """Shared exact-integer k-means dataflow (two Lloyd iterations).

    Returns ``(v, a2, s2)``: the 1e-7-quantized vectors ``(vec_id,
    x)``, the iteration-2 assignments ``(vec_id, x, cluster)`` — now a
    map-side fold against the collected iteration-1 centroids (round
    12) — and the FULL iteration-2 score relation (vec, cluster, r vs
    every cent1 centroid; the audit/test consumers read non-winning
    rows too), rebuilt from the same collected centroid stats so its
    values are unchanged. Used by b20_kmeans_exact_replay (cluster
    stats) and b19_semdedup (within-cluster semantic pruning) — both
    hash-checked against the same DuckDB CTE chain.
    """
    v, cent1_rows = _kmeans_core(spark, sf_dir, K)
    a2 = v.select(
        "vec_id", "x", _km_best_cluster(cent1_rows).alias("cluster")
    )
    cent1_df = spark.createDataFrame(
        cent1_rows, "cluster bigint, sx array<bigint>, n bigint"
    )
    num = F.aggregate(
        F.zip_with(
            F.col("x"),
            F.col("sx"),
            lambda a, b: (F.col("n") * a - b).cast("decimal(19,0)")
            * (F.col("n") * a - b).cast("decimal(19,0)"),
        ),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, term: acc + term,
    )
    ratio = num.cast("double") / (F.col("n") * F.col("n")).cast("double")
    s2 = v.crossJoin(F.broadcast(cent1_df)).select(
        "vec_id", "x", "cluster", ratio.alias("r")
    )
    return v, a2, s2


@register("b20_kmeans_exact_replay", oracle=_B20_KMEANS_EXACT_ORACLE, tags=("B20",))
def b20_kmeans_exact_replay(spark, sf_dir):
    v, a2, _s2 = _exact_kmeans_assignments(spark, sf_dir, K=8)
    return (
        a2.join(v.select("vec_id", F.element_at("x", 1).alias("x1")), "vec_id")
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("x1").alias("s_dim1"),
            F.min("vec_id").alias("rep_vec"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# B20tp — CONTRASTIVE TRIPLET MINING (anchor / positive / hard
# negative): build the training pairs a contrastive embedding run
# consumes — for each anchor in a deterministic panel, the positive is
# its nearest neighbor and the HARD negative is the most-similar
# vector still below the negative ceiling (the "close but wrong"
# example that actually moves a contrastive loss; a random negative is
# trivially separable and teaches nothing). The pair-construction
# stage of every embedding-training pipeline, expressed as a query
# with exact rankings: cosines are the exact-decimal construction
# (identical doubles both engines), argmaxes tie-break on vec_id, and
# the ceiling comparison happens on the identical double — no
# threshold can flip between engines.
#
# Scale shape: one broadcast panel x corpus pass scores ALL candidates
# for every anchor (the b20_ann_recall amortization); two per-anchor
# argmax windows pick positive and negative. At 100 TB the candidate
# pass narrows through the usual LSH/IVF prefilter first — the mining
# semantics (two argmaxes over scored candidates) are unchanged.
# --------------------------------------------------------------------------
_TRIPLET_NEG_CEIL = 0.5

# Integer-dot cosine formulation (functions/vectors.cosine_from_int):
# per-side norms precomputed ONCE, one int64 dot per pair — both
# engines cast the identical integers to double, so rankings
# bit-agree. (The first cut recomputed three interpreted decimal
# folds per pair and benched 28.9 s at sf0.1.)
_B20_TRIPLET_ORACLE = f"""
    WITH pos AS (SELECT unnest(range(
        1, (SELECT MAX(len(embedding)) FROM embeddings) + 1)) AS i),
    q AS (
      SELECT e.vec_id,
        list(CAST(CAST(ROUND(CAST(e.embedding[pos.i] AS DOUBLE), 7)
             AS DECIMAL(9,7)) * 10000000 AS BIGINT) ORDER BY pos.i) AS x
      FROM embeddings e CROSS JOIN pos
      WHERE pos.i <= len(e.embedding)
      GROUP BY e.vec_id
    ),
    qn AS (
      SELECT vec_id, x,
        (SELECT SUM(u * u) FROM unnest(x) AS t(u)) AS n2
      FROM q
    ),
    anchors AS (
      SELECT vec_id AS aid, x AS ax, n2 AS an2 FROM qn
      WHERE vec_id % {_JL_SAMPLE_MOD} = 0
    ),
    sim AS (
      SELECT a.aid, v.vec_id,
        CAST((SELECT SUM(v.x[t.i] * a.ax[t.i])
              FROM unnest(range(1, len(v.x) + 1)) AS t(i)) AS DOUBLE)
          / SQRT(CAST(v.n2 AS DOUBLE) * CAST(a.an2 AS DOUBLE)) AS cs
      FROM qn v CROSS JOIN anchors a
      WHERE v.vec_id <> a.aid
    ),
    p AS (
      SELECT aid, vec_id AS pos_id, cs AS pos_cos FROM (
        SELECT aid, vec_id, cs,
          ROW_NUMBER() OVER (PARTITION BY aid
                             ORDER BY cs DESC, vec_id) AS rk
        FROM sim) WHERE rk = 1
    ),
    n AS (
      SELECT aid, vec_id AS neg_id, cs AS neg_cos FROM (
        SELECT s.aid, s.vec_id, s.cs,
          ROW_NUMBER() OVER (PARTITION BY s.aid
                             ORDER BY s.cs DESC, s.vec_id) AS rk
        FROM sim s JOIN p ON p.aid = s.aid
        WHERE s.cs <= {_TRIPLET_NEG_CEIL}
          AND s.vec_id <> p.pos_id) WHERE rk = 1
    )
    SELECT p.aid AS anchor, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos
    FROM p JOIN n ON n.aid = p.aid
"""


@register("b20_triplet_mining", oracle=_B20_TRIPLET_ORACLE, tags=("B20",))
def b20_triplet_mining(spark, sf_dir):
    from ..functions.vectors import cosine_from_int, dot_int, quantize_int

    qn = t(spark, sf_dir, "embeddings").select(
        "vec_id", quantize_int(F.col("embedding")).alias("x")
    )
    qn = qn.withColumn("n2", dot_int(F.col("x"), F.col("x")))
    anchors = qn.filter(F.col("vec_id") % _JL_SAMPLE_MOD == 0).select(
        F.col("vec_id").alias("aid"),
        F.col("x").alias("ax"),
        F.col("n2").alias("an2"),
    )
    sim = (
        qn.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("aid"))
        .select(
            "aid",
            "vec_id",
            cosine_from_int(
                dot_int(F.col("x"), F.col("ax")),
                F.col("n2"),
                F.col("an2"),
            ).alias("cs"),
        )
        .localCheckpoint()  # scored candidates feed BOTH argmaxes
    )
    wa = Window.partitionBy("aid").orderBy(F.col("cs").desc(), "vec_id")
    p = (
        sim.withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") == 1)
        .select("aid", F.col("vec_id").alias("pos_id"), F.col("cs").alias("pos_cos"))
    )
    # the negative excludes the chosen positive: a low-similarity
    # corpus can otherwise hand the SAME vector both roles (observed
    # on the sf corpus — anchor whose best neighbor sits under the
    # ceiling), and a pos==neg triplet teaches a contrastive loss
    # nothing
    n = (
        sim.join(p.select("aid", "pos_id"), "aid")
        .filter(
            (F.col("cs") <= _TRIPLET_NEG_CEIL)
            & (F.col("vec_id") != F.col("pos_id"))
        )
        .withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") == 1)
        .select("aid", F.col("vec_id").alias("neg_id"), F.col("cs").alias("neg_cos"))
    )
    return p.join(n, "aid").select(
        F.col("aid").alias("anchor"), "pos_id", "pos_cos", "neg_id", "neg_cos"
    )


# --------------------------------------------------------------------------
# B20ar — ANN RECALL@10 AUDIT (IVF vs exact ground truth, batch of
# probes): for a deterministic probe panel, run the brute-force top-10
# AND the IVF(2-of-8-cells) top-10 in ONE query and emit per-probe
# recall — the evaluation harness every ANN deployment runs before
# trusting the index, expressed as a query (the b19_minhash_calibration
# pattern applied to the similarity family). recall_bp is an exact
# integer (overlap × 1000); rankings are (cosine desc, vec_id) with
# the exact-decimal cosine, so both engines rank identically.
#
# Scale shape: unlike the single-probe knn_ivf (which collects its
# probe cells driver-side), the batch-of-probes formulation is pure
# DataFrame end to end — probes broadcast against the corpus ONCE for
# ground truth, cell routing is a broadcast 5x8 ranking, and IVF
# candidates are one semi-join-shaped cell filter; zero driver
# actions. This IS the production recall-eval shape: ground truth on
# a small panel amortizes one corpus pass over all probes.
# --------------------------------------------------------------------------
_ANN_PROBE_MOD = 111

# Integer-dot cosine formulation throughout (see _B20_TRIPLET_ORACLE
# note): per-side norms once, one int64 dot per pair, identical
# int→double casts both engines. The CTE chain through the brute-force
# truth `bf` and the IVF candidates `ivf(pid, vec_id, rk)` is ONE
# builder shared by the b20_ann_recall and b20_rrf_recall oracles —
# the IVF leg cut parameterized because fusion consumes top-20 ranks
# while the recall audit cuts at 10.
def _ann_core_ctes(
    ivf_k: int, q_sql: str | None = None, n_probe: int = 2,
    n_cells: int = 8,
) -> str:
    """``q_sql`` overrides the integer-vector source CTE body (vec_id,
    x ARRAY<BIGINT>) — default: the quantized embeddings table; the
    correlated-recall twin passes a text-derived relation instead.
    Everything downstream (norms, brute truth, IVF legs) is SHARED, so
    the two recall harnesses cannot drift."""
    q_body = q_sql or """
      SELECT e.vec_id,
        list(CAST(CAST(ROUND(CAST(e.embedding[pos.i] AS DOUBLE), 7)
             AS DECIMAL(9,7)) * 10000000 AS BIGINT) ORDER BY pos.i) AS x
      FROM embeddings e CROSS JOIN pos
      WHERE pos.i <= len(e.embedding)
      GROUP BY e.vec_id
    """
    return f"""pos AS (SELECT unnest(range(
        1, (SELECT MAX(len(embedding)) FROM embeddings) + 1)) AS i),
    q AS ({q_body}),
    qn AS (
      SELECT vec_id, x,
        (SELECT SUM(u * u) FROM unnest(x) AS t(u)) AS n2
      FROM q
    ),
    probes AS (
      SELECT vec_id AS pid, x AS px, n2 AS pn2 FROM qn
      WHERE vec_id % {_ANN_PROBE_MOD} = 0
    ),
    sim AS (
      SELECT p.pid, v.vec_id,
        CAST((SELECT SUM(v.x[t.i] * p.px[t.i])
              FROM unnest(range(1, len(v.x) + 1)) AS t(i)) AS DOUBLE)
          / SQRT(CAST(v.n2 AS DOUBLE) * CAST(p.pn2 AS DOUBLE)) AS cs
      FROM qn v CROSS JOIN probes p
      WHERE v.vec_id <> p.pid
    ),
    bf AS (
      SELECT pid, vec_id FROM (
        SELECT pid, vec_id,
          ROW_NUMBER() OVER (PARTITION BY pid
                             ORDER BY cs DESC, vec_id) AS rk
        FROM sim) WHERE rk <= 10
    ),
    cents AS (
      SELECT CAST(vec_id AS INT) AS cell, x AS cx, n2 AS cn2 FROM qn
      WHERE vec_id < {n_cells}
    ),
    asim AS (
      SELECT v.vec_id, c.cell,
        CAST((SELECT SUM(v.x[t.i] * c.cx[t.i])
              FROM unnest(range(1, len(v.x) + 1)) AS t(i)) AS DOUBLE)
          / SQRT(CAST(v.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) AS sim
      FROM qn v CROSS JOIN cents c
    ),
    assigned AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
          ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cell) AS rk
        FROM asim) WHERE rk = 1
    ),
    pcells AS (
      SELECT a.vec_id AS pid, a.cell FROM (
        SELECT vec_id, cell,
          ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cell) AS rk
        FROM asim WHERE vec_id % {_ANN_PROBE_MOD} = 0) a
      WHERE a.rk <= {n_probe}
    ),
    ivf AS (
      SELECT pid, vec_id, rk FROM (
        SELECT s.pid, s.vec_id,
          ROW_NUMBER() OVER (PARTITION BY s.pid
                             ORDER BY s.cs DESC, s.vec_id) AS rk
        FROM sim s
        JOIN assigned a ON a.vec_id = s.vec_id
        JOIN pcells pc ON pc.pid = s.pid AND pc.cell = a.cell
      ) WHERE rk <= {ivf_k}
    )"""


_B20_ANN_RECALL_ORACLE = f"""
    WITH {_ann_core_ctes(10)}
    SELECT bf.pid AS pid,
      CAST(COUNT(*) AS BIGINT) AS n_truth,
      CAST(SUM(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_overlap,
      CAST(SUM(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           * 1000 AS BIGINT) AS recall_bp
    FROM bf
    LEFT JOIN ivf ON ivf.pid = bf.pid AND ivf.vec_id = bf.vec_id
    GROUP BY bf.pid
"""


def _ann_best_cell_expr(cent_rows):
    """The map-side IVF coarse assignment fold over collected
    centroids (round 12, guide §2.4): the corpus-wide cell assignment
    used to score an n_cells×-exploded corpus (crossJoin) and
    window-argmax it per vec_id — a full exchange of n_cells·N rows
    just to take a per-row argmax. The centroids are n_cells rows:
    fold map-side — same integer-dot cosine, strict ``>`` over
    ascending cells == ROW_NUMBER() over (sim DESC, cell) = 1 — so
    the assignment is a pure projection over (x, n2). Each cell's
    cosine is computed EXACTLY once into a scores array (interpreted
    HOFs do no common-subexpression elimination), the argmax then
    folds over cheap struct-field reads. ONE SQL string (round 12):
    the Column-builder version spent seconds per query construction
    in py4j round-trips."""
    cent_arr = "array(" + ",".join(
        f"struct({cell} AS cell,"
        f"array({','.join(str(c) + 'L' for c in cx)}) AS cx,"
        f"{sum(c * c for c in cx)}L AS cn2)"
        for cell, cx in cent_rows
    ) + ")"
    return F.expr(
        f"aggregate(transform({cent_arr}, c -> struct(c.cell AS cell,"
        " CAST(aggregate(zip_with(x, c.cx, (a, b) -> a * b),"
        " CAST(0 AS BIGINT), (acc, t) -> acc + t) AS DOUBLE)"
        " / SQRT(CAST(n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) AS sim)),"
        " struct(-1 AS cell, CAST(-2.0 AS DOUBLE) AS sim),"
        " (acc, c) -> CASE WHEN c.sim > acc.sim THEN c ELSE acc END,"
        " acc -> acc.cell)"
    )


def _ann_qn_mat(spark, sf_dir, qn=None, n_cells=8):
    """The harness's ONE source materialization: (vec_id, x, n2, cell)
    over a localCheckpoint (see the inline notes for which columns
    ride the checkpointed job in each branch). Factored out of
    _ann_sim_bf_ivf (round 12) so callers can materialize the source
    FIRST and then run the vector chain and an independent lexical
    chain as concurrent jobs (guide §2.6)."""
    from ..functions.vectors import dot_int, quantize_int

    if qn is None:
        qn = par_floor(
            t(spark, sf_dir, "embeddings"), "vec_id"
        ).select("vec_id", quantize_int(F.col("embedding")).alias("x"))
        # centroid collect BEFORE materialization: the vec_id <
        # n_cells filter pushes through to the parquet scan, so only
        # n_cells rows are quantized here — a bounded job
        cent_rows = sorted(
            (int(r["vec_id"]), [int(c) for c in r["x"]])
            for r in qn.filter(F.col("vec_id") < n_cells)
            .select("vec_id", "x")
            .collect()
        )
        # ONE materialization job carries x, n2 AND the cell
        # assignment (round 12, guide §7.3 — at this scale the wall is
        # driver/job overhead, so fewer eager jobs wins): x and n2 are
        # expensive HOF aliases, and every downstream reference — the
        # per-cell cosines, the pair scores in `sim`, predicate
        # pushdown of a join's implicit isnotnull(cell) through the
        # projection — would INLINE and re-evaluate them per reference
        # (PushDownPredicate has no cost check, which is exactly why
        # `cell` must not be a bare alias when the ivf join keys on
        # it). ~N small rows: tiny.
        return (
            qn.withColumn("n2", dot_int(F.col("x"), F.col("x")))
            .withColumn("cell", _ann_best_cell_expr(cent_rows))
            .localCheckpoint()
        )
    # DERIVED-vector branch (the hashed-BOW twin). Round 13 (the r12
    # verdict's #1): collecting centroids BEFORE materializing pays
    # the derivation's full corpus pass TWICE here — the vec_id <
    # n_cells filter prunes the BOW aggregation's grouping keys but
    # NOT its df-join subtree, so the centroid collect was itself a
    # whole-corpus job. Materialize (x, n2) ONCE, collect the
    # centroids from the checkpoint (a bounded in-memory job), and
    # attach the cell fold as a LAZY projection over the checkpointed
    # columns. The fold is wrapped non-NULLABLE (coalesce with a
    # literal — the fold's initial struct makes null impossible, so
    # the value is unchanged): a non-nullable join key generates NO
    # isnotnull constraint, so PushDownPredicate has nothing to push
    # below the projection and the round-12 fold-in-Filter clone
    # cannot reappear (guide §4.4's duplication defense without a
    # second materialization barrier).
    mat = qn.withColumn(
        "n2", dot_int(F.col("x"), F.col("x"))
    ).localCheckpoint()
    cent_rows = sorted(
        (int(r["vec_id"]), [int(c) for c in r["x"]])
        for r in mat.filter(F.col("vec_id") < n_cells)
        .select("vec_id", "x")
        .collect()
    )
    return mat.withColumn(
        "cell", F.coalesce(_ann_best_cell_expr(cent_rows), F.lit(-1))
    )


def _ann_sim_bf_ivf(
    spark, sf_dir, ivf_k: int = 10, qn=None, n_probe=2, n_cells=8,
    with_cells: bool = False, with_qn: bool = False, qn_mat=None,
):
    """The batch-of-probes ANN evaluation core shared by
    b20_ann_recall and the two rrf_recall harnesses: (sim, bf, ivf)
    where `sim` is the materialized exact-cosine probe×corpus scores,
    `bf` the brute-force top-10 ground truth per probe, and `ivf` the
    IVF(2-of-8-cells) candidates ranked to `ivf_k` (rank column `rk`
    kept — the RRF fusion consumes ranks). ``qn`` overrides the
    integer-vector source (vec_id, x ARRAY<BIGINT>) — default: the
    quantized embeddings table (the _ann_core_ctes twin of the same
    parameter). ``with_qn`` appends the materialized (vec_id, x, n2,
    cell) relation to the return so callers can derive id sets
    without recomputing the source. ``qn_mat`` passes that relation in
    pre-materialized (_ann_qn_mat) so the caller can overlap this
    vector chain with independent work (guide §2.6)."""
    from ..functions.vectors import cosine_from_int, dot_int

    if qn_mat is not None and qn is not None:
        # round-12 ADVICE: qn used to be silently ignored here — a
        # caller passing both with mismatched n_cells would get
        # silently wrong probe routing
        raise ValueError("_ann_sim_bf_ivf: pass qn or qn_mat, not both")
    qn = qn_mat if qn_mat is not None else _ann_qn_mat(
        spark, sf_dir, qn=qn, n_cells=n_cells
    )
    probes = qn.filter(F.col("vec_id") % _ANN_PROBE_MOD == 0).select(
        F.col("vec_id").alias("pid"),
        F.col("x").alias("px"),
        F.col("n2").alias("pn2"),
    )
    # ground truth: ONE corpus pass over the broadcast probe panel —
    # materialized once, it feeds BOTH the truth ranking and the IVF
    # candidate ranking below
    sim = (
        qn.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("pid"))
        .select(
            "pid",
            "vec_id",
            cosine_from_int(
                dot_int(F.col("x"), F.col("px")), F.col("n2"), F.col("pn2")
            ).alias("cs"),
        )
        .localCheckpoint()
    )
    wp = Window.partitionBy("pid").orderBy(F.col("cs").desc(), "vec_id")
    bf = (
        sim.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= 10)
        .select("pid", "vec_id")
    )
    assigned = qn.select("vec_id", "cell")
    # probe-cell routing only ever needed the PANEL's rows — a
    # panel×n_cells crossJoin + window, not a corpus-wide one
    cents = qn.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("x").alias("cx"),
        F.col("n2").alias("cn2"),
    )
    wa = Window.partitionBy("pid").orderBy(F.col("sim").desc(), "cell")
    pcells = (
        probes.crossJoin(F.broadcast(cents))
        .select(
            "pid",
            "cell",
            cosine_from_int(
                dot_int(F.col("px"), F.col("cx")),
                F.col("pn2"),
                F.col("cn2"),
            ).alias("sim"),
        )
        .withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") <= n_probe)
        .select("pid", "cell")
    )
    ivf = (
        sim.join(assigned, "vec_id")
        .join(F.broadcast(pcells), ["pid", "cell"])
        .withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= ivf_k)
        .select("pid", "vec_id", "rk")
    )
    if with_cells:
        # the PQ recall eval reuses the coarse relations directly
        return sim, bf, ivf, assigned, pcells
    if with_qn:
        return sim, bf, ivf, qn
    return sim, bf, ivf


# --------------------------------------------------------------------------
# B20pr — PQ RECALL EVALUATION: what does the ~64× code compression
# COST in answer quality, and does the two-stage rerank recover it?
# Per panel probe (the b20_ann_recall panel), three measurements
# against the brute-cosine top-10 truth: recall of the raw ADC top-10
# over the probe's 2 coarse cells, and recall of the rerank path (ADC
# top-50 shortlist → exact-cosine top-10). rerank recall ≥ ADC recall
# by construction pressure (full precision re-ranks the shortlist),
# and both are ceilinged by the coarse pruning (the IVF recall row) —
# the quantitative story behind shipping b20_ivfpq_rerank as the
# serving default. Coarse quantizer here = the harness's integer-dot
# formulation (shared with b20_ann_recall), applied identically on
# both engines.
# --------------------------------------------------------------------------
_B20_PQ_RECALL_ORACLE = f"""
    WITH {_ann_core_ctes(10)},
    {_pq_train_sql()},
    ppv AS (
      SELECT vec_id AS pid, sub, x AS px FROM qv
      WHERE vec_id % {_ANN_PROBE_MOD} = 0
    ),
    plut AS (
      SELECT p.pid, c.sub, c.cluster,
        CAST(SUM(CAST(c.n * p.px[p16.i] - c.sx[p16.i] AS HUGEINT)
                 * (c.n * p.px[p16.i] - c.sx[p16.i])) AS DOUBLE)
          / (CAST(c.n AS DOUBLE) * c.n) AS r
      FROM c1 c JOIN ppv p ON p.sub = c.sub CROSS JOIN p16
      GROUP BY p.pid, c.sub, c.cluster, c.n
    ),
    padc AS (
      SELECT pc.pid, cd.vec_id,
        ((MAX(CASE WHEN cd.sub = 0 THEN l.r END)
          + MAX(CASE WHEN cd.sub = 1 THEN l.r END))
          + MAX(CASE WHEN cd.sub = 2 THEN l.r END))
          + MAX(CASE WHEN cd.sub = 3 THEN l.r END) AS adc
      FROM codes cd
      JOIN assigned a ON a.vec_id = cd.vec_id
      JOIN pcells pc ON pc.cell = a.cell
      JOIN plut l ON l.pid = pc.pid AND l.sub = cd.sub
        AND l.cluster = cd.cluster
      WHERE cd.vec_id <> pc.pid
      GROUP BY pc.pid, cd.vec_id
    ),
    adcrk AS (
      SELECT pid, vec_id,
        ROW_NUMBER() OVER (PARTITION BY pid ORDER BY adc, vec_id) AS rk
      FROM padc
    ),
    adc10 AS (SELECT pid, vec_id FROM adcrk WHERE rk <= 10),
    sl AS (SELECT pid, vec_id FROM adcrk WHERE rk <= {_IVFPQ_SHORTLIST}),
    rr AS (
      SELECT pid, vec_id FROM (
        SELECT s.pid, s.vec_id,
          ROW_NUMBER() OVER (PARTITION BY s.pid
                             ORDER BY s.cs DESC, s.vec_id) AS rk
        FROM sim s JOIN sl ON sl.pid = s.pid AND sl.vec_id = s.vec_id
      ) WHERE rk <= 10
    )
    SELECT bf.pid AS pid,
      CAST(COUNT(*) AS BIGINT) AS n_truth,
      CAST(SUM(CASE WHEN a10.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           * 1000 AS BIGINT) AS adc_recall_bp,
      CAST(SUM(CASE WHEN rr.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           * 1000 AS BIGINT) AS rerank_recall_bp
    FROM bf
    LEFT JOIN adc10 a10 ON a10.pid = bf.pid AND a10.vec_id = bf.vec_id
    LEFT JOIN rr ON rr.pid = bf.pid AND rr.vec_id = bf.vec_id
    GROUP BY bf.pid
"""


@register("b20_pq_recall", oracle=_B20_PQ_RECALL_ORACLE, tags=("B20",))
def b20_pq_recall(spark, sf_dir):
    """Per-probe recall@10 of the raw ADC ranking and of the two-stage
    rerank path vs brute-cosine truth — the measured cost of PQ
    compression and the measured recovery from exact rerank. Shares
    the b20_ann_recall panel/truth/coarse relations and the
    functions/pq fold, so all four evaluations (bf truth, IVF, ADC,
    rerank) are mutually comparable rows in EVIDENCE.md."""
    from ..functions.pq import (
        M,
        pq_assign,
        pq_ratio_expr,
        pq_subvectors,
        pq_train,
    )

    # round 12 (guide §2.6): the ANN harness chain (qn → ground-truth
    # pass) and the PQ chain (subvectors → train → codes) read only
    # the embeddings table — no dependency between them until the ADC
    # candidates join the harness's coarse relations. Concurrent jobs.
    out = {}

    def _harness_chain():
        out["h"] = _ann_sim_bf_ivf(spark, sf_dir, ivf_k=10, with_cells=True)

    def _pq_chain():
        emb = par_floor(t(spark, sf_dir, "embeddings"), "vec_id")
        # round 13: the subvector relation is no longer checkpointed —
        # pq_train's seed collect is a vec_id < K filter that pushes
        # through the explode to the parquet scan (a bounded job), so
        # each remaining consumer (the training aggregation, the code
        # assignment, the panel subvectors) re-runs the cheap
        # scan+quantize map work inside its own job instead of paying
        # a corpus-sized executor-disk materialization (the r12
        # verdict's "what's wrong" #2).
        v = pq_subvectors(emb)
        cb = pq_train(v).localCheckpoint()  # feeds panel LUT + codes
        # materialized: `cand` below joins on `cluster`, and the pushed
        # isnotnull(cluster) would clone pq_assign's whole K-candidate
        # fold into a Filter below the projection — twice the argmin
        # work per (vec, sub) row. N·M×3 columns: tiny.
        out["pq"] = (v, cb, pq_assign(v, cb).localCheckpoint())

    run_jobs(_harness_chain, _pq_chain)
    sim, bf, _ivf, assigned, pcells = out["h"]
    v, cb, codes = out["pq"]
    ppv = v.filter(F.col("vec_id") % _ANN_PROBE_MOD == 0).select(
        F.col("vec_id").alias("pid"), "sub", F.col("x").alias("px")
    )
    plut = (
        cb.join(F.broadcast(ppv), "sub")
        .select(
            "pid", "sub", "cluster",
            F.col("px").alias("x"),  # reuse the exact-numerator fold
            "sx", "n",
        )
        .select("pid", "sub", "cluster", pq_ratio_expr().alias("r"))
    )
    cand = (
        codes.join(assigned, "vec_id")
        .join(F.broadcast(pcells), "cell")
        .filter(F.col("vec_id") != F.col("pid"))
        .join(F.broadcast(plut), ["pid", "sub", "cluster"])
        .groupBy("pid", "vec_id")
        .agg(
            *[
                F.max(F.when(F.col("sub") == j, F.col("r"))).alias(f"t{j}")
                for j in range(M)
            ]
        )
    )
    adc = ((F.col("t0") + F.col("t1")) + F.col("t2")) + F.col("t3")
    wadc = Window.partitionBy("pid").orderBy("adc", "vec_id")
    adcrk = (
        cand.select("pid", "vec_id", adc.alias("adc"))
        .withColumn("rk", F.row_number().over(wadc))
        .localCheckpoint()  # feeds both the top-10 and top-50 cuts
    )
    adc10 = adcrk.filter(F.col("rk") <= 10).select(
        "pid", "vec_id", F.lit(1).alias("ahit")
    )
    sl = adcrk.filter(F.col("rk") <= _IVFPQ_SHORTLIST).select(
        "pid", "vec_id"
    )
    wp = Window.partitionBy("pid").orderBy(F.col("cs").desc(), "vec_id")
    rr = (
        sim.join(sl, ["pid", "vec_id"])
        .withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= 10)
        .select("pid", "vec_id", F.lit(1).alias("rhit"))
    )
    return (
        bf.join(adc10, ["pid", "vec_id"], "left")
        .join(rr, ["pid", "vec_id"], "left")
        .groupBy("pid")
        .agg(
            F.count("*").cast("bigint").alias("n_truth"),
            (F.sum(F.coalesce("ahit", F.lit(0))) * 1000)
            .cast("bigint")
            .alias("adc_recall_bp"),
            (F.sum(F.coalesce("rhit", F.lit(0))) * 1000)
            .cast("bigint")
            .alias("rerank_recall_bp"),
        )
    )


@register("b20_ann_recall", oracle=_B20_ANN_RECALL_ORACLE, tags=("B20",))
def b20_ann_recall(spark, sf_dir):
    _sim, bf, ivf = _ann_sim_bf_ivf(spark, sf_dir, ivf_k=10)
    hit = ivf.select("pid", "vec_id", F.lit(1).alias("hit"))
    return (
        bf.join(hit, ["pid", "vec_id"], "left")
        .groupBy("pid")
        .agg(
            F.count("*").cast("bigint").alias("n_truth"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias(
                "n_overlap"
            ),
            (F.sum(F.coalesce("hit", F.lit(0))) * 1000)
            .cast("bigint")
            .alias("recall_bp"),
        )
    )


# --------------------------------------------------------------------------
# B20rr — HYBRID-RETRIEVAL QUALITY LOOP (round-10 verdict #4): the
# evaluated twin of b20_rrf_hybrid. Over the SAME deterministic probe
# panel b20_ann_recall uses (vec_id % 111 == 0), run three retrieval
# systems per probe and score each against brute-force-cosine top-10
# ground truth:
#   lex — per-probe BM25 "more-like-this" (query = the probe DOCUMENT's
#         alphanumeric vocabulary, corpus = the embedded documents,
#         same exact-integer sterm formula as b21_bm25_retrieval);
#   ivf — IVF(2-of-8-cells) approximate vector leg (b20_ann_recall's);
#   hyb — RRF fusion of the two legs' top-20 ranks (b20_rrf_hybrid's
#         integer rrf = Σ SCALE // (60 + rank)).
# Output: per-probe overlap@10 + recall basis points for all three —
# the standard "is hybrid actually better than either leg before we
# ship it" report, as one hash-checked relation.
#
# Scale shape: probe panel is O(corpus/111) docs; their vocabulary
# broadcasts; the corpus term scan is ONE pass semi-joined to that
# vocabulary (cost ∝ matching postings, not corpus × panel); both
# vector legs reuse the single materialized probe×corpus sim pass; all
# rank windows partition BY PROBE over <= top-K rows; the fusion
# full-outer join is <= 40 rows per probe (the suite's bounded
# sort-merge-join shape, same as b20_rrf_hybrid).
# --------------------------------------------------------------------------
def _rrf_recall_tail_sql(
    ev_src: str, idf_smooth: int = 0, query_tf: bool = False
) -> str:
    """The lexical-leg + fusion + three-way scoring SQL shared by
    b20_rrf_recall (ev_src='embeddings' — the uncorrelated panel) and
    b20_rrf_recall_correlated (ev_src='q' — the text-derived vectors,
    whose id set defines the embedded corpus). ``idf_smooth`` adds a
    constant to the surprisal-bits idf (0 = the b20_rrf_recall
    formulation, result-identical; 1 = smoothed idf for the
    correlated twin — the synthetic corpus's 31-token near-universal
    vocabulary makes the raw integer idf 0 for almost every term,
    which zeroes every BM25 score). ``query_tf`` keeps query-term
    MULTIPLICITY (the standard BM25 query-side tf component, qtf·sterm
    via duplicate qt rows): on this corpus the probe's tf profile is
    the only probe-specific lexical signal, so the set-semantics
    default ranks probe-independently; the twin turns it on."""
    qt_distinct = "" if query_tf else "DISTINCT "
    return f"""corp AS (
      SELECT d.doc_id,
        CAST(len(regexp_split_to_array(trim(lower(d.text)), '\\s+'))
          AS BIGINT) AS dl,
        regexp_split_to_array(trim(lower(d.text)), '\\s+') AS w
      FROM documents d
      JOIN (SELECT DISTINCT vec_id FROM {ev_src}) ev
        ON ev.vec_id = d.doc_id
    ),
    lstats AS (
      SELECT COUNT(*)::BIGINT AS n_docs, SUM(dl)::BIGINT AS sum_len
      FROM corp
    ),
    qt AS (
      SELECT {qt_distinct}c.doc_id AS pid, t.term
      FROM corp c, unnest(c.w) AS t(term)
      WHERE c.doc_id % {_ANN_PROBE_MOD} = 0
        AND regexp_full_match(t.term, '[a-z0-9]+')
    ),
    ltf AS (
      SELECT doc_id, dl, term, COUNT(*)::BIGINT AS tf
      FROM (SELECT doc_id, dl, unnest(w) AS term FROM corp)
      WHERE term IN (SELECT DISTINCT term FROM qt)
      GROUP BY 1, 2, 3
    ),
    ldf AS (SELECT term, COUNT(*)::BIGINT AS df FROM ltf GROUP BY 1),
    lper AS (
      SELECT q.pid, f.doc_id,
        CAST(
          (length(bin(s.n_docs)) - length(bin(d.df)) + {idf_smooth})
          * (22 * f.tf * s.sum_len * {_BM25_SCALE})
          // (10 * f.tf * s.sum_len + 3 * s.sum_len + 9 * f.dl * s.n_docs)
        AS BIGINT) AS sterm
      FROM ltf f
      JOIN qt q ON q.term = f.term
      JOIN ldf d ON d.term = f.term
      CROSS JOIN lstats s
      WHERE f.doc_id <> q.pid
    ),
    lscore AS (
      SELECT pid, doc_id, SUM(sterm)::BIGINT AS score
      FROM lper GROUP BY 1, 2
    ),
    lex AS (
      SELECT pid, doc_id, rk FROM (
        SELECT pid, doc_id, ROW_NUMBER() OVER (
          PARTITION BY pid ORDER BY score DESC, doc_id) AS rk
        FROM lscore) WHERE rk <= {_RRF_LEG_TOPK}
    ),
    fus AS (
      SELECT COALESCE(l.pid, i.pid) AS pid,
        COALESCE(l.doc_id, i.vec_id) AS id,
        (CASE WHEN l.rk IS NULL THEN 0
              ELSE {_BM25_SCALE} // ({_RRF_K} + l.rk) END
         + CASE WHEN i.rk IS NULL THEN 0
                ELSE {_BM25_SCALE} // ({_RRF_K} + i.rk) END)::BIGINT
          AS rrf_fp
      FROM lex l
      FULL JOIN ivf i ON i.pid = l.pid AND i.vec_id = l.doc_id
    ),
    hyb AS (
      SELECT pid, id FROM (
        SELECT pid, id, ROW_NUMBER() OVER (
          PARTITION BY pid ORDER BY rrf_fp DESC, id) AS rk
        FROM fus) WHERE rk <= 10
    )
    SELECT bf.pid AS pid,
      CAST(COUNT(*) AS BIGINT) AS n_truth,
      CAST(SUM(CASE WHEN lx.doc_id IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS lex_overlap,
      CAST(SUM(CASE WHEN iv.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS ivf_overlap,
      CAST(SUM(CASE WHEN h.id IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS hyb_overlap,
      CAST(SUM(CASE WHEN lx.doc_id IS NOT NULL THEN 1 ELSE 0 END)
           * 1000 AS BIGINT) AS lex_recall_bp,
      CAST(SUM(CASE WHEN iv.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           * 1000 AS BIGINT) AS ivf_recall_bp,
      CAST(SUM(CASE WHEN h.id IS NOT NULL THEN 1 ELSE 0 END)
           * 1000 AS BIGINT) AS hyb_recall_bp
    FROM bf
    LEFT JOIN (SELECT pid, doc_id FROM lex WHERE rk <= 10) lx
      ON lx.pid = bf.pid AND lx.doc_id = bf.vec_id
    LEFT JOIN (SELECT pid, vec_id FROM ivf WHERE rk <= 10) iv
      ON iv.pid = bf.pid AND iv.vec_id = bf.vec_id
    LEFT JOIN hyb h ON h.pid = bf.pid AND h.id = bf.vec_id
    GROUP BY bf.pid
"""


_B20_RRF_RECALL_ORACLE = f"""
    WITH {_ann_core_ctes(20)},
    {_rrf_recall_tail_sql('embeddings')}
"""


def _rrf_lex_leg(
    spark, sf_dir, emb_ids, idf_smooth=0, query_tf=False, tok=None
):
    """The lexical (per-probe BM25) leg of the rrf_recall harness:
    (pid, doc_id, rk <= _RRF_LEG_TOPK) — the Spark twin of
    _rrf_recall_tail_sql's corp..lex CTEs. Split out of the one-piece
    report (round 12) because it shares NOTHING with the vector chain
    (sim/bf/ivf) until fusion: given the materialized source ids, the
    two chains run as concurrent jobs from the callers (guide §2.6),
    back-filling each other's stage tails. ``tok`` takes the shared
    _doc_tokens_mat materialization (round 13): the corp relation
    becomes a lazy semi-join over that checkpoint instead of a second
    tokenize+checkpoint job. Round 13 also drops the qt and final-rank
    checkpoints — both are panel-bounded derivations whose consumers
    re-read cheap checkpointed inputs, so each was one whole
    sequential job buying back sub-job work."""
    from ..functions.text import surprisal_bits

    # ----- lexical leg: per-probe BM25 over the embedded corpus -----
    # alias the token split ONCE — dl and the explode below would
    # otherwise each re-evaluate the lower+trim+split over text
    if tok is None:
        # materialized: corp feeds lstats, qt AND ltf — each would
        # re-run the tokenize+semijoin corpus pass (round 12, guide
        # §1.2 step 1); par_floor spreads the tokenize map work
        corp = (
            par_floor(t(spark, sf_dir, "documents"), "doc_id")
            .join(emb_ids, "doc_id", "semi")
            .select("doc_id", tokens(F.col("text")).alias("w"))
            .select(
                "doc_id", F.size("w").cast("bigint").alias("dl"), "w"
            )
            .localCheckpoint()
        )
    else:
        # the tokenize already happened once in the shared pass; the
        # semi-join over its checkpoint is cheap enough to re-run per
        # consumer
        corp = tok.join(emb_ids, "doc_id", "semi")
    # round 13: the corpus stats ride the ltf materialization below as
    # an Observation and become LITERALS in the scoring expression —
    # the old 1-row lstats broadcast was one more subjob per scoring
    # pass (same values: the observed pass flows every corp row once)
    from pyspark.sql import Observation

    obs = Observation()
    corp_obs = corp.observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("sum_len"),
    )
    qt = (
        corp.filter(F.col("doc_id") % _ANN_PROBE_MOD == 0)
        .select(
            F.col("doc_id").alias("pid"), F.explode("w").alias("term")
        )
        .filter(F.col("term").rlike("^[a-z0-9]+$"))
    )
    if not query_tf:  # set semantics (default); the twin keeps qtf
        qt = qt.distinct()
    # Round 13 (guide §2.3 "aggregate before you shuffle/join" — the
    # r12 verdict's #1): sterm is a function of (term, doc) only; a
    # query-side duplicate term contributes the SAME truncated sterm
    # again, so Σ over duplicate qt rows == qtf · sterm exactly. The
    # old shape joined the postings against the RAW qt occurrences —
    # on this corpus's 31-token near-universal vocabulary that is a
    # |postings| × |panel occurrences per term| blow-up (measured
    # ~14M join rows at sf0.1, the single biggest block of the
    # harness) — where |postings| × |panel docs per term| (~1M rows)
    # carries identical information. qcnt is panel-sized and
    # broadcast; for the set-semantics default qtf == 1 uniformly.
    qcnt = qt.groupBy("pid", "term").agg(
        F.count("*").cast("bigint").alias("qtf")
    )
    # qt/qcnt feed two broadcasts — each build re-derives this panel-
    # sized relation from the checkpointed corp/tok pass (round 13:
    # cheaper than a dedicated checkpoint job)
    ltf = (
        corp_obs.select("doc_id", "dl", F.explode("w").alias("term"))
        .join(F.broadcast(qt.select("term").distinct()), "term")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
        # postings restricted to the panel vocabulary — scanned by
        # BOTH the df aggregate and the scoring join; one corpus
        # explode instead of two
        .localCheckpoint()
    )
    st = obs.get  # filled by the ltf checkpoint pass above
    n_docs, sum_len = int(st["n_docs"]), int(st["sum_len"])
    ldf = ltf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    lper = (
        ltf.join(F.broadcast(qcnt), "term")
        .filter(F.col("doc_id") != F.col("pid"))
        .join(F.broadcast(ldf), "term")
        .select(
            "pid",
            "doc_id",
            "dl",
            "tf",
            "qtf",
            (
                surprisal_bits(F.lit(n_docs), F.col("df"))
                + F.lit(int(idf_smooth))
            ).alias("idf_bits"),
        )
        .select(
            "pid",
            "doc_id",
            # same single-truncation-point discipline as
            # _bm25_doc_scores: multiply idf BEFORE the one div; the
            # query-side multiplicity scales the TRUNCATED per-term
            # value, exactly like summing it qtf times; corpus stats
            # are literals (same integers the broadcast carried)
            (
                F.expr(
                    f"idf_bits * (22 * tf * {sum_len} * {_BM25_SCALE}) "
                    f"div (10 * tf * {sum_len} + 3 * {sum_len} "
                    f"+ 9 * dl * {n_docs})"
                ) * F.col("qtf")
            ).cast("bigint").alias("sterm"),
        )
    )
    lscore = lper.groupBy("pid", "doc_id").agg(
        F.sum("sterm").cast("bigint").alias("score")
    )
    wl = Window.partitionBy("pid").orderBy(
        F.col("score").desc(), "doc_id"
    )
    return (
        lscore.withColumn("rk", F.row_number().over(wl))
        .filter(F.col("rk") <= _RRF_LEG_TOPK)
        .select("pid", "doc_id", "rk")
        # <= panel×20 rows. The checkpoint keeps the scoring join OFF
        # the critical-path fusion job: this runs inside the lex
        # chain, CONCURRENT with the vector chain (guide §2.6), so its
        # wall is hidden behind sim's — measured round 13: dropping it
        # moved ~2 s of scoring into the post-barrier fuse job.
        .localCheckpoint()
    )


def _rrf_recall_fuse(bf, ivf, lex):
    """RRF fusion of the two legs' top-20 ranks + three-way truth
    scoring — the report tail consuming the truth, vector-leg, and
    lexical-leg relations.

    Round 13 (the r12 verdict's #1 — "compute both legs' recall in a
    single aggregation over a union"): the old tail consumed ``lex``
    and ``ivf`` TWICE each (once into the fusion, once into the lx10/
    iv10 truth joins) and joined bf three times; with the legs no
    longer checkpointed, each extra reference re-ran a whole leg
    subtree inside the fusion job. The full-joined candidate relation
    now carries BOTH legs' ranks per (pid, id) plus the hybrid rank as
    a window column, so every leg is read exactly once and ONE left
    join against the truth scores all three systems — the membership
    tests lr<=10 / vr<=10 / hrk<=10 are by construction the same sets
    the old lx10/iv10/hyb joins produced (legs are (pid,id)-unique,
    ranks <= _RRF_LEG_TOPK)."""
    li = lex.select(
        F.col("pid").alias("lpid"),
        F.col("doc_id").alias("lid"),
        F.col("rk").alias("lr"),
    )
    vi = ivf.select(
        F.col("pid").alias("vpid"),
        F.col("vec_id").alias("vid"),
        F.col("rk").alias("vr"),
    )
    fused = li.join(
        vi,
        (li["lpid"] == vi["vpid"]) & (li["lid"] == vi["vid"]),
        "full",
    )
    rrf = F.when(
        F.col("lr").isNotNull(),
        F.expr(f"{_BM25_SCALE} div ({_RRF_K} + lr)"),
    ).otherwise(F.lit(0)) + F.when(
        F.col("vr").isNotNull(),
        F.expr(f"{_BM25_SCALE} div ({_RRF_K} + vr)"),
    ).otherwise(F.lit(0))
    fus = fused.select(
        F.coalesce(F.col("lpid"), F.col("vpid")).alias("pid"),
        F.coalesce(F.col("lid"), F.col("vid")).alias("id"),
        "lr",
        "vr",
        rrf.cast("bigint").alias("rrf_fp"),
    )
    wh = Window.partitionBy("pid").orderBy(F.col("rrf_fp").desc(), "id")
    cand = fus.withColumn("hrk", F.row_number().over(wh))
    # ----- score all three systems against the bf truth: ONE join
    joined = bf.join(
        cand,
        (bf["pid"] == cand["pid"]) & (bf["vec_id"] == cand["id"]),
        "left",
    ).select(
        bf["pid"],
        F.when(F.col("lr") <= 10, 1).otherwise(0).alias("l"),
        F.when(F.col("vr") <= 10, 1).otherwise(0).alias("v"),
        F.when(F.col("hrk") <= 10, 1).otherwise(0).alias("h"),
    )
    ls, vs, hs = (F.sum(c) for c in ("l", "v", "h"))
    return joined.groupBy("pid").agg(
        F.count("*").cast("bigint").alias("n_truth"),
        ls.cast("bigint").alias("lex_overlap"),
        vs.cast("bigint").alias("ivf_overlap"),
        hs.cast("bigint").alias("hyb_overlap"),
        (F.sum("l") * 1000).cast("bigint").alias("lex_recall_bp"),
        (F.sum("v") * 1000).cast("bigint").alias("ivf_recall_bp"),
        (F.sum("h") * 1000).cast("bigint").alias("hyb_recall_bp"),
    )


@register(
    "b20_rrf_recall", oracle=_B20_RRF_RECALL_ORACLE, tags=("B20", "B21")
)
def b20_rrf_recall(spark, sf_dir):
    # round 12 (guide §2.6): the vector chain (ground-truth pass →
    # bf/ivf rankings) and the lexical chain (corpus tokenize → BM25 →
    # per-probe top-20) share only the materialized source — run them
    # as concurrent jobs and fuse
    qn_mat = _ann_qn_mat(spark, sf_dir)
    emb_ids = (
        t(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("doc_id"))
        .distinct()
    )
    out = {}

    def _vec_chain():
        _sim, bf, ivf = _ann_sim_bf_ivf(
            spark, sf_dir, ivf_k=_RRF_LEG_TOPK, qn_mat=qn_mat
        )
        # <= panel×20 rows; the checkpoint keeps the candidate ranking
        # inside this CONCURRENT chain (overlapped with the lex leg)
        # instead of on the critical-path fusion job — round 13 pairs
        # it with the single-consumption fuse, which reads each leg
        # exactly once
        out["bf"], out["ivf"] = bf, ivf.localCheckpoint()

    def _lex_chain():
        out["lex"] = _rrf_lex_leg(spark, sf_dir, emb_ids)

    run_jobs(_vec_chain, _lex_chain)
    return _rrf_recall_fuse(out["bf"], out["ivf"], out["lex"])


# --------------------------------------------------------------------------
# B20rrc — the CORRELATED twin of b20_rrf_recall (round-11 verdict
# #4): the synthetic documents and embeddings tables are UNCORRELATED
# (the r11 work note's honest finding — lex recall ~0.01-0.02 against
# cosine truth there proves only that the harness runs). Here the
# vectors are DERIVED FROM THE TEXT ITSELF — a 16-dim hashed
# bag-of-words: dimension b of a document = Σ over its distinct
# tokens of (±1 by bit b of token_hash16) — i.e. the SimHash bit-sum
# relation (functions/text.simhash16's `sums`) kept as an INTEGER
# vector instead of being thresholded to bits. All-integer, md5-based,
# bit-identical in both engines, and text-correlated by construction:
# shared vocabulary ⇒ correlated components ⇒ cosine neighbors are
# lexical neighbors. On this corpus the hybrid MUST beat or match each
# leg — asserted in tests/test_northstar.py and recorded in
# EVIDENCE.md — turning the r11 caveat into a measurement.
#
# Scale shape: the vector derivation is one token explode + one
# 16-column groupBy (map-side combine); everything downstream is the
# SAME shared harness (_ann_sim_bf_ivf + _rrf_lex_leg/_rrf_recall_fuse).
# --------------------------------------------------------------------------
_CORR_DIMS = 64

_CORR_SUMS_SQL = ",\n            ".join(
    f"SUM(((CAST(FLOOR(h{d // 16} / {2 ** (d % 16)}) "
    f"AS BIGINT) % 2) * 2 - 1) * w) AS s{d}"
    for d in range(_CORR_DIMS)
)


def _md5_hex16_sql(expr: str, start: int) -> str:
    """16-bit integer from 4 hex chars of md5(expr) starting at
    ``start`` (1-based) — the token_hash16 pattern, position-
    parameterized so one digest yields two independent 16-bit
    hashes."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {start + j}, 1))"
        f" - 1) * {16 ** (3 - j)}"
        for j in range(4)
    )


_CORR_Q_SQL = f"""
      SELECT doc_id AS vec_id,
        [{", ".join(f"CAST(s{d} AS BIGINT)" for d in range(_CORR_DIMS))}] AS x
      FROM (
        SELECT doc_id,
            {_CORR_SUMS_SQL}
        FROM (
          SELECT occ.doc_id,
            {_md5_hex16_sql('occ.t', 1)} AS h0,
            {_md5_hex16_sql('occ.t', 5)} AS h1,
            {_md5_hex16_sql('occ.t', 9)} AS h2,
            {_md5_hex16_sql('occ.t', 13)} AS h3,
            (length(bin(nd.n_docs)) - length(bin(tdf.df)) + 1) AS w
          FROM (
            SELECT doc_id, unnest(
              regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
            FROM documents
          ) occ
          JOIN (
            SELECT t, COUNT(DISTINCT doc_id)::BIGINT AS df
            FROM (
              SELECT doc_id, unnest(
                regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
              FROM documents
            ) GROUP BY t
          ) tdf ON tdf.t = occ.t
          CROSS JOIN (
            SELECT COUNT(*)::BIGINT AS n_docs FROM documents
          ) nd
        ) GROUP BY doc_id
      )
    """

_B20_RRF_RECALL_CORR_ORACLE = f"""
    WITH {_ann_core_ctes(20, q_sql=_CORR_Q_SQL, n_probe=1, n_cells=16)},
    {_rrf_recall_tail_sql('q', idf_smooth=1, query_tf=True)}
"""


def _doc_tokens_mat(spark, sf_dir):
    """(doc_id, dl, w) localCheckpoint'ed — ONE corpus tokenize pass
    shared by the hashed-BOW vector derivation AND the lexical BM25
    leg of the correlated harness (round 13, guide §1.2 step 1: the
    round-12 shape tokenized the same documents table twice — once
    into the BOW's occurrence relation, once into the lex leg's corp
    relation — because the two chains materialized independently).
    Same tokens() expression as both consumers used."""
    return (
        par_floor(t(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id", tokens(F.col("text")).alias("w"))
        .select("doc_id", F.size("w").cast("bigint").alias("dl"), "w")
        .localCheckpoint()
    )


def _hashed_bow_qn(spark, sf_dir, tok=None):
    """(vec_id, x ARRAY<BIGINT>) — the Spark twin of _CORR_Q_SQL:
    text-derived integer vectors. Per token OCCURRENCE (multiplicity
    kept — the corpus's lexical signal lives in tf profiles, its
    31-token vocabulary being near-universal), two 16-bit md5 hashes
    give 32 ±1 signs, weighted by the same smoothed integer idf the
    twin's lexical leg scores with (surprisal_bits + 1) — so cosine
    over these vectors IS idf-weighted vocabulary-profile similarity.
    One explode + one broadcast df join + one 32-column map-side-
    combining groupBy: a single corpus pass at any scale. ``tok``
    takes the shared _doc_tokens_mat materialization (round 13): the
    occurrence relation becomes a LAZY explode over that checkpoint —
    the df aggregate and the scoring join re-explode checkpointed
    token arrays instead of paying a second tokenize+checkpoint
    job."""
    from ..functions.text import nibble, surprisal_bits

    if tok is None:
        # standalone: materialize the occurrences — occ feeds the df
        # aggregate AND the scoring join (round 12); par_floor so the
        # explode+md5 map work spreads across cores
        occ = (
            par_floor(t(spark, sf_dir, "documents"), "doc_id")
            .select(
                "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
            )
            .localCheckpoint()
        )
        nd = t(spark, sf_dir, "documents").agg(
            F.count("*").cast("bigint").alias("n_docs")
        )
    else:
        occ = tok.select("doc_id", F.explode("w").alias("tok"))
        # one row per document by construction — same COUNT(*)
        nd = tok.agg(F.count("*").cast("bigint").alias("n_docs"))
    # round 13 (guide §1.2 step 2 — per-row work): the md5+nibble hash
    # chain and the idf weight are functions of the TOKEN, yet they
    # were evaluated per token OCCURRENCE (corpus-scaled — the
    # dominant expression cost of the whole derivation). The
    # occurrence side now collapses to per-(doc, token) COUNTS first
    # (map-side partial aggregation), and the hashes+weight are
    # computed once per DISTINCT token inside the broadcast vocabulary
    # relation. Every sign-sum then folds over |doc × vocabulary| rows
    # weighted by the count — exact integer arithmetic, so the sums
    # (and the oracle hash) are unchanged: Σ_occurrences sign·w ==
    # Σ_(doc,tok) cnt·sign·w.
    occ_tf = occ.groupBy("doc_id", "tok").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    # per-token df == count of (doc, token) pairs — same value the
    # old count_distinct(doc_id) aggregate produced
    tdf = occ_tf.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("df")
    )
    h = F.md5(F.col("tok"))

    def hex16(start: int):
        return sum(
            (
                nibble(F.substring(h, start + j, 1)) * (16 ** (3 - j))
                for j in range(1, 4)
            ),
            nibble(F.substring(h, start, 1)) * 4096,
        )

    voc = (
        tdf.join(F.broadcast(nd))
        .select(
            "tok",
            hex16(1).alias("h0"),
            hex16(5).alias("h1"),
            hex16(9).alias("h2"),
            hex16(13).alias("h3"),
            (
                surprisal_bits(F.col("n_docs"), F.col("df")) + 1
            ).alias("w"),
        )
    )
    base = occ_tf.join(F.broadcast(voc), "tok").select(
        "doc_id", "h0", "h1", "h2", "h3", "w", "cnt"
    )
    sums = base.groupBy("doc_id").agg(
        *[
            F.sum(
                (
                    (
                        F.floor(
                            F.col(f"h{d // 16}") / F.lit(2 ** (d % 16))
                        )
                        % 2
                    )
                    * 2
                    - 1
                )
                * F.col("w")
                * F.col("cnt")
            )
            .cast("bigint")
            .alias(f"s{d}")
            for d in range(_CORR_DIMS)
        ]
    )
    return sums.select(
        F.col("doc_id").alias("vec_id"),
        F.array(*[F.col(f"s{d}") for d in range(_CORR_DIMS)]).alias("x"),
    )


@register(
    "b20_rrf_recall_correlated",
    oracle=_B20_RRF_RECALL_CORR_ORACLE,
    tags=("B20", "B21"),
)
def b20_rrf_recall_correlated(spark, sf_dir):
    # the hashed-BOW derivation (token explode + md5 + 64-column
    # groupBy) is the expensive relation here — it used to be
    # recomputed by the harness's sim leg, its coarse leg, AND the
    # embedded-id set below; the harness's ONE qn materialization
    # serves all three (round 12). Round 13 (the r12 verdict's #1):
    # the whole chain now rides TWO materialization jobs instead of
    # five — one shared tokenize pass (feeding the BOW derivation AND
    # the lexical leg, which used to re-tokenize independently), one
    # BOW+norm pass (the centroid collect now reads that checkpoint
    # instead of re-running the corpus pass, and the cell fold rides
    # lazily, clone-proofed — see _ann_qn_mat). Round 12 §2.6: given
    # the materializations, the vector chain and the lexical chain
    # share nothing until fusion — concurrent jobs.
    tok = _doc_tokens_mat(spark, sf_dir)
    qn_mat = _ann_qn_mat(
        spark, sf_dir, qn=_hashed_bow_qn(spark, sf_dir, tok=tok),
        n_cells=16,
    )
    emb_ids = qn_mat.select(F.col("vec_id").alias("doc_id")).distinct()
    out = {}

    def _vec_chain():
        _sim, bf, ivf = _ann_sim_bf_ivf(
            spark, sf_dir, ivf_k=_RRF_LEG_TOPK, qn_mat=qn_mat,
            n_probe=1, n_cells=16,
        )
        # overlapped-chain checkpoint, same rationale as b20_rrf_recall
        out["bf"], out["ivf"] = bf, ivf.localCheckpoint()

    def _lex_chain():
        out["lex"] = _rrf_lex_leg(
            spark, sf_dir, emb_ids, idf_smooth=1, query_tf=True, tok=tok
        )

    run_jobs(_vec_chain, _lex_chain)
    return _rrf_recall_fuse(out["bf"], out["ivf"], out["lex"])


# --------------------------------------------------------------------------
# B20cm — CLUSTER ASSIGNMENT-MARGIN AUDIT: per cluster, how close its
# members sit to the SECOND-nearest centroid — margin = d²(second) −
# d²(own) ≥ 0 (own is the argmin by construction). The stability/QA
# companion to b20_kmeans_exact_replay: a cluster full of near-zero
# margins is a boundary blob whose membership flips under any data
# drift — exactly the clusters SemDeDup should NOT trust for
# within-cluster-only dedup, and the k-means-health check an operator
# reads before re-using cached centroids on a refreshed 100 TB corpus.
#
# Determinism without exact-decimal aggregation of distances: each
# (vec, centroid) score r is an exact-HUGEINT numerator over one
# double division — IDENTICAL doubles in both engines — and the audit
# only ever takes MIN/MAX of (identical) doubles and argmins with
# (margin, vec_id) tie-breaks, all order-independent. No double SUM
# ever happens, so nothing depends on accumulation order.
#
# Scale shape: reuses the b20_kmeans_exact_replay dataflow (broadcast
# centroid stats, map-only scoring) plus one per-vec 8-row argmin/
# arg-second window and one per-cluster aggregate.
# --------------------------------------------------------------------------
_B20_MARGIN_ORACLE = (
    _KMEANS_EXACT_CTE
    + """,
    own AS (
      SELECT s2.vec_id, s2.cluster, s2.r
      FROM s2 JOIN a2 USING (vec_id, cluster)
    ),
    oth AS (
      SELECT s2.vec_id, MIN(s2.r) AS r2
      FROM s2 JOIN a2 ON a2.vec_id = s2.vec_id
        AND a2.cluster <> s2.cluster
      GROUP BY s2.vec_id
    ),
    m AS (
      SELECT own.vec_id, own.cluster, oth.r2 - own.r AS margin
      FROM own JOIN oth USING (vec_id)
    ),
    rk AS (
      SELECT vec_id, cluster, margin,
        ROW_NUMBER() OVER (
          PARTITION BY cluster ORDER BY margin, vec_id) AS t
      FROM m
    )
    SELECT m.cluster,
      CAST(COUNT(*) AS BIGINT) AS n_members,
      MIN(m.margin) AS min_margin,
      MAX(m.margin) AS max_margin,
      MIN(CASE WHEN rk.t = 1 THEN rk.vec_id END) AS tightest_vec
    FROM m JOIN rk ON rk.vec_id = m.vec_id AND rk.cluster = m.cluster
    GROUP BY m.cluster
"""
)


@register("b20_cluster_margin", oracle=_B20_MARGIN_ORACLE, tags=("B20",))
def b20_cluster_margin(spark, sf_dir):
    """Round 12 (guide §2.4): (own cluster, own r, second-best r) in
    ONE map-side fold over the collected centroids — the old
    own ⋈ oth ⋈ m join tree over the K×-exploded score relation is a
    projection now. Ascending clusters with strict ``<`` reproduce
    min_by(cluster, struct(r, cluster)) for `own` and MIN(r) over the
    other clusters for `oth` (an equal-r tie demotes the incumbent's
    r into second place — exactly the MIN over the others); margin =
    r2 − r1 subtracts the same doubles the join produced. Each
    candidate's r is computed once into a scores array; the two-best
    fold reads cheap struct fields."""
    v, cent1_rows = _kmeans_core(spark, sf_dir, K=8)
    tb = F.expr(
        f"aggregate({_km_scores_sql(cent1_rows)},"
        " struct(CAST(-1 AS BIGINT) AS c1,"
        " CAST('Infinity' AS DOUBLE) AS r1,"
        " CAST('Infinity' AS DOUBLE) AS r2),"
        " (acc, c) -> CASE"
        " WHEN c.r < acc.r1 THEN"
        " struct(c.cluster AS c1, c.r AS r1, acc.r1 AS r2)"
        " WHEN c.r < acc.r2 THEN"
        " struct(acc.c1 AS c1, acc.r1 AS r1, c.r AS r2)"
        " ELSE acc END)"
    )
    m = v.select("vec_id", tb.alias("b")).select(
        "vec_id",
        F.col("b.c1").alias("cluster"),
        (F.col("b.r2") - F.col("b.r1")).alias("margin"),
    )
    return m.groupBy("cluster").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.min("margin").alias("min_margin"),
        F.max("margin").alias("max_margin"),
        F.min_by("vec_id", F.struct("margin", "vec_id")).alias(
            "tightest_vec"
        ),
    )


# --------------------------------------------------------------------------
# B20i — exact-replay product quantization: the oracle-checkable twin
# of b20_pq_knn (rows-only, because operators/pq.py trains float
# subspace k-means). Same shape as b20_kmeans_exact_replay but per
# subspace: 64 dims split 4×16, each subspace runs two Lloyd
# iterations over 1e-7-integer-quantized subvectors with centroids
# carried as exact (sum, count) pairs; codes are the iteration-2
# argmins. The probe's ADC lookup table holds the exact-integer
# numerator ratios, and the final asymmetric distance adds the four
# subspace terms in one fixed association order — ((t0+t1)+t2)+t3 —
# so the IEEE double is identical on both engines.
# --------------------------------------------------------------------------
_B20_PQ_EXACT_ORACLE = """
    WITH pos AS (SELECT unnest(range(1, 17)) AS i),
    subs AS (SELECT unnest(range(0, 4)) AS sub),
    qv AS (
      SELECT e.vec_id, s.sub,
        list_transform(list_slice(e.embedding, s.sub*16 + 1, s.sub*16 + 16),
          v -> CAST(CAST(ROUND(CAST(v AS DOUBLE), 7) AS DECIMAL(9,7))
                    * 10000000 AS BIGINT)) AS x
      FROM embeddings e CROSS JOIN subs s
    ),
    seeds AS (
      SELECT sub, vec_id AS cluster, x AS sx, CAST(1 AS BIGINT) AS n
      FROM qv WHERE vec_id < 16
    ),
    s1 AS (
      SELECT v.vec_id, v.sub, c.cluster,
        CAST(SUM(CAST(c.n * v.x[pos.i] - c.sx[pos.i] AS HUGEINT)
                 * (c.n * v.x[pos.i] - c.sx[pos.i])) AS DOUBLE)
          / (CAST(c.n AS DOUBLE) * c.n) AS r
      FROM qv v JOIN seeds c ON c.sub = v.sub CROSS JOIN pos
      GROUP BY v.vec_id, v.sub, c.cluster, c.n
    ),
    a1 AS (
      SELECT vec_id, sub, cluster FROM (
        SELECT vec_id, sub, cluster,
          ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY r, cluster) AS rk
        FROM s1) WHERE rk = 1
    ),
    c1d AS (
      SELECT a1.sub, a1.cluster, pos.i, SUM(v.x[pos.i]) AS s, COUNT(*) AS cn
      FROM a1 JOIN qv v ON v.vec_id = a1.vec_id AND v.sub = a1.sub
      CROSS JOIN pos
      GROUP BY 1, 2, 3
    ),
    c1 AS (
      SELECT sub, cluster, list(s ORDER BY i) AS sx, MAX(cn) AS n
      FROM c1d GROUP BY 1, 2
    ),
    s2 AS (
      SELECT v.vec_id, v.sub, c.cluster,
        CAST(SUM(CAST(c.n * v.x[pos.i] - c.sx[pos.i] AS HUGEINT)
                 * (c.n * v.x[pos.i] - c.sx[pos.i])) AS DOUBLE)
          / (CAST(c.n AS DOUBLE) * c.n) AS r
      FROM qv v JOIN c1 c ON c.sub = v.sub CROSS JOIN pos
      GROUP BY v.vec_id, v.sub, c.cluster, c.n
    ),
    codes AS (
      SELECT vec_id, sub, cluster FROM (
        SELECT vec_id, sub, cluster,
          ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY r, cluster) AS rk
        FROM s2) WHERE rk = 1
    ),
    probe AS (SELECT sub, x AS px FROM qv WHERE vec_id = 0),
    lut AS (
      SELECT c.sub, c.cluster,
        CAST(SUM(CAST(c.n * p.px[pos.i] - c.sx[pos.i] AS HUGEINT)
                 * (c.n * p.px[pos.i] - c.sx[pos.i])) AS DOUBLE)
          / (CAST(c.n AS DOUBLE) * c.n) AS r
      FROM c1 c JOIN probe p ON p.sub = c.sub CROSS JOIN pos
      GROUP BY c.sub, c.cluster, c.n
    ),
    terms AS (
      SELECT cd.vec_id,
        MAX(CASE WHEN cd.sub = 0 THEN l.r END) AS t0,
        MAX(CASE WHEN cd.sub = 1 THEN l.r END) AS t1,
        MAX(CASE WHEN cd.sub = 2 THEN l.r END) AS t2,
        MAX(CASE WHEN cd.sub = 3 THEN l.r END) AS t3
      FROM codes cd JOIN lut l ON l.sub = cd.sub AND l.cluster = cd.cluster
      WHERE cd.vec_id != 0
      GROUP BY cd.vec_id
    )
    SELECT vec_id, ((t0 + t1) + t2) + t3 AS adc_dist
    FROM terms ORDER BY adc_dist, vec_id LIMIT 10
"""


@register("b20_pq_exact_replay", oracle=_B20_PQ_EXACT_ORACLE, tags=("B20",))
def b20_pq_exact_replay(spark, sf_dir):
    """One shared PQ implementation (functions/pq.py) feeds this
    exact-replay query AND the written IVF-PQ index
    (operators/retrieval.write_ivfpq_index) — the codebooks, codes,
    and ADC fold cannot drift between the ad-hoc path and the serving
    layout."""
    from ..functions.pq import (
        pq_adc_topk,
        pq_assign,
        pq_ratio_expr,
        pq_subvectors,
        pq_train,
    )

    emb = par_floor(t(spark, sf_dir, "embeddings"), "vec_id")
    v = pq_subvectors(emb)
    cent1 = pq_train(v)
    codes = pq_assign(v, cent1)
    probe = v.filter(F.col("vec_id") == 0).select(
        "sub", F.col("x").alias("px")
    )
    lut = (
        cent1.join(F.broadcast(probe), "sub")
        .select(
            "sub",
            "cluster",
            F.col("px").alias("x"),  # reuse the exact-numerator fold
            "sx",
            "n",
        )
        .select("sub", "cluster", pq_ratio_expr().alias("r"))
    )
    return pq_adc_topk(codes.filter(F.col("vec_id") != 0), lut, k=10)


# --------------------------------------------------------------------------
# B22d — audio-path windowed waveform stats (operators/multimodal.py
# window_stats): up to 4 non-overlapping 256-byte windows per payload,
# each reduced to exact integer amplitude/RMS-numerator/peak stats in
# one Arrow-batched numpy pass. Oracle replays the byte math per
# character (the synthetic payload is the UTF-8 text, ASCII in the
# testdata, so ord(char) == byte — same replay trick as
# b22_frame_sample's substr).
# --------------------------------------------------------------------------
@register(
    "b22_audio_windows",
    oracle="""
    WITH w AS (
      SELECT doc_id, n_chars, text,
        unnest(generate_series(0, 3)) AS win_idx
      FROM documents
    ),
    seg AS (
      SELECT doc_id, win_idx,
        substr(text, win_idx * 256 + 1, 256) AS s
      FROM w WHERE win_idx * 256 < n_chars
    ),
    u AS (
      SELECT doc_id, win_idx, s,
        unnest(range(1, length(s) + 1)) AS i
      FROM seg
    )
    SELECT doc_id,
      CAST(win_idx AS INT) AS win_idx,
      CAST(COUNT(*) AS INT) AS n,
      CAST(SUM(ord(substr(s, i, 1))) AS BIGINT) AS sum_amp,
      CAST(SUM(ord(substr(s, i, 1)) * ord(substr(s, i, 1))) AS BIGINT)
        AS sum_sq,
      CAST(MAX(ord(substr(s, i, 1))) AS INT) AS peak
    FROM u GROUP BY doc_id, win_idx
    """,
    tags=("B22",),
)
def b22_audio_windows(spark, sf_dir):
    from ..operators.multimodal import window_stats, with_binary_payload

    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    return window_stats(with_binary_payload(docs))


# --------------------------------------------------------------------------
# B22e — exact-integer feature histogram: the oracle-checkable twin of
# b22_multimodal_pipeline (whose fraction-valued features stay
# rows-only because JSON float formatting is not cross-engine-stable).
# Same Arrow-batched mapInPandas contract as extract_features, but the
# 4-bin byte histogram is emitted as raw integer counts pivoted to
# columns — exact, order-free, hash-checkable via ord()/64 replay.
# --------------------------------------------------------------------------
@register(
    "b22_feature_histogram",
    oracle="""
    WITH u AS (
      SELECT doc_id, text,
        unnest(range(1, n_chars + 1)) AS i
      FROM documents WHERE n_chars > 0
    ),
    b AS (
      SELECT doc_id, ord(substr(text, i, 1)) // 64 AS bin FROM u
    )
    SELECT doc_id,
      CAST(COUNT(*) AS INT) AS n_bytes,
      CAST(SUM(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS INT) AS bin0,
      CAST(SUM(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS INT) AS bin1,
      CAST(SUM(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS INT) AS bin2,
      CAST(SUM(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS INT) AS bin3
    FROM b GROUP BY doc_id
    """,
    tags=("B22",),
)
def b22_feature_histogram(spark, sf_dir):
    import numpy as np
    import pandas as pd
    from typing import Iterator

    from ..operators.multimodal import with_binary_payload

    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                if b.size == 0:
                    continue
                hist = np.bincount(b >> 6, minlength=4)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_bytes": int(b.size),
                        "bin0": int(hist[0]),
                        "bin1": int(hist[1]),
                        "bin2": int(hist[2]),
                        "bin3": int(hist[3]),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_bytes", "bin0", "bin1", "bin2", "bin3"],
            )

    return with_binary_payload(docs).mapInPandas(
        batches,
        "doc_id bigint, n_bytes int, bin0 int, bin1 int, bin2 int, bin3 int",
    )


# --------------------------------------------------------------------------
# B21m — context-window chunking: split each document into fixed-size
# token windows with overlap (stride < size), the standard prep step
# between curation and tokenization — long docs become training
# examples, the overlap preserves cross-boundary context. Map-only:
# tokenize once (aliased column), generate chunk starts with
# sequence(), explode, slice the token array per chunk. No shuffle; at
# 100 TB this runs at scan speed and the 1→N row expansion stays
# inside the partition.
#
# Chunk grid: starts at 0, stride 40, window 50; every token is
# covered, the final chunk may be short, and a doc shorter than one
# window yields exactly one chunk. Output carries exact-integer chunk
# geometry + md5 of the rejoined chunk text (hash-checkable without
# hauling the text through the driver).
# --------------------------------------------------------------------------
@register(
    "b21_chunk_windows",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, w,
        unnest(range(0, greatest((len(w) - 11) // 40, 0) + 1)) AS chunk_id
      FROM d
    ),
    c AS (
      SELECT doc_id, chunk_id,
        w[chunk_id * 40 + 1 : least(chunk_id * 40 + 50, len(w))] AS cw
      FROM g
    )
    SELECT doc_id,
      CAST(chunk_id AS INT) AS chunk_id,
      CAST(chunk_id * 40 AS INT) AS start_tok,
      CAST(len(cw) AS INT) AS n_tok,
      md5(array_to_string(cw, ' ')) AS chunk_md5
    FROM c
    """,
    tags=("B21",),
)
def b21_chunk_windows(spark, sf_dir, size: int = 50, stride: int = 40):
    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    w = F.col("w")
    # chunk starts: 0, stride, 2·stride, …; the last start is the
    # greatest multiple of stride with more than (size - stride) tokens
    # remaining — i.e. chunks the grid's overlap hasn't already covered
    n_chunks = F.greatest(
        F.floor((F.size(w) - (size - stride) - 1) / stride), F.lit(0)
    ).cast("int")
    return (
        docs.select("doc_id", tokens(F.col("text")).alias("w"))
        .select(
            "doc_id",
            "w",
            F.explode(F.sequence(F.lit(0), n_chunks)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            (F.col("chunk_id") * stride).alias("start_tok"),
            F.slice(w, F.col("chunk_id") * stride + 1, size).alias("cw"),
        )
        .select(
            "doc_id",
            "chunk_id",
            "start_tok",
            F.size("cw").alias("n_tok"),
            F.md5(F.array_join("cw", " ")).alias("chunk_md5"),
        )
    )


# --------------------------------------------------------------------------
# B21n — the composed nightly curation pipeline, one oracle-backed
# query: exact content dedup (keep lowest doc_id per md5) → integer
# quality gate (≥10 tokens, stopword ratio ≥ 1/20 in exact integers)
# → context-window chunking (50/40 grid, as b21_chunk_windows). The
# point is composition: each stage is an operator the suite already
# verifies in isolation; chained, they form the artifact a training
# run actually consumes, and the hash check covers the stage BOUNDARIES
# (dedup feeding the tokenizer feeding the chunker) that per-op tests
# can't see.
#
# Scale shape: one shuffle for the dedup window (content-hash
# partitioning), then map-only to the end — the chunk explode never
# re-shuffles. At 100 TB the dedup window is the same single shuffle
# dropDuplicates pays; everything downstream streams.
# --------------------------------------------------------------------------
_B21_CURATION_ORACLE = rf"""
    WITH d0 AS (
      SELECT doc_id, md5(text) AS h,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    k AS (
      SELECT doc_id, w,
        ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM d0
    ),
    m AS (
      SELECT doc_id, w, len(w) AS n_tokens,
        len(list_filter(w, x -> x IN ({_STOP_SQL}))) AS stop_hits
      FROM k WHERE rn = 1
    ),
    q AS (
      SELECT * FROM m
      WHERE n_tokens >= 10 AND stop_hits * 20 >= n_tokens
    ),
    g AS (
      SELECT doc_id, w, n_tokens, stop_hits,
        unnest(range(0, greatest((len(w) - 11) // 40, 0) + 1)) AS chunk_id
      FROM q
    ),
    c AS (
      SELECT doc_id, n_tokens, stop_hits, chunk_id,
        w[chunk_id * 40 + 1 : least(chunk_id * 40 + 50, len(w))] AS cw
      FROM g
    )
    SELECT doc_id,
      CAST(chunk_id AS INT) AS chunk_id,
      CAST(chunk_id * 40 AS INT) AS start_tok,
      CAST(len(cw) AS INT) AS n_tok,
      md5(array_to_string(cw, ' ')) AS chunk_md5,
      CAST(n_tokens AS INT) AS doc_tokens,
      CAST(stop_hits AS INT) AS doc_stop_hits
    FROM c
"""


@register("b21_curation_pipeline", oracle=_B21_CURATION_ORACLE, tags=("B21",))
def b21_curation_pipeline(spark, sf_dir, size: int = 50, stride: int = 40):
    from ..functions.text import stopword_hits

    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    wd = Window.partitionBy("h").orderBy("doc_id")
    deduped = (
        docs.select("doc_id", "text", F.md5("text").alias("h"))
        .withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
    )
    w = F.col("w")
    gated = (
        deduped.select("doc_id", tokens(F.col("text")).alias("w"))
        .select(
            "doc_id",
            "w",
            F.size(w).alias("doc_tokens"),
            stopword_hits(w).alias("doc_stop_hits"),
        )
        .filter(
            (F.col("doc_tokens") >= 10)
            & (F.col("doc_stop_hits") * 20 >= F.col("doc_tokens"))
        )
    )
    n_chunks = F.greatest(
        F.floor((F.size(w) - (size - stride) - 1) / stride), F.lit(0)
    ).cast("int")
    return (
        gated.select(
            "doc_id",
            "w",
            "doc_tokens",
            "doc_stop_hits",
            F.explode(F.sequence(F.lit(0), n_chunks)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            (F.col("chunk_id") * stride).alias("start_tok"),
            F.slice(w, F.col("chunk_id") * stride + 1, size).alias("cw"),
            "doc_tokens",
            "doc_stop_hits",
        )
        .select(
            "doc_id",
            "chunk_id",
            "start_tok",
            F.size("cw").alias("n_tok"),
            F.md5(F.array_join("cw", " ")).alias("chunk_md5"),
            "doc_tokens",
            "doc_stop_hits",
        )
    )


# --------------------------------------------------------------------------
# B19g — SemDeDup (semantic dedup): cluster embeddings with the exact-
# integer k-means, then prune near-identical members WITHIN each
# cluster only. The whole point (Abbas et al. 2023, "SemDeDup"): the
# pairwise cosine work is bounded by Σ cluster_size², not N² — at
# 100 TB you run k ≈ N/⟨cluster⟩ clusters so each cluster holds a few
# thousand vectors and the within-cluster join is embarrassingly
# parallel per cluster key. Here k=8 demonstrates the dataflow; the
# self-join shuffles on the cluster id (hot clusters would take the
# operators/skew.py salting path, same as the MinHash band join).
# Keeps the lowest-id member of each near-dup group: a vector is
# dropped iff an earlier (lower vec_id) same-cluster vector has
# cosine ≥ 0.35 with it.
# --------------------------------------------------------------------------
_B19_SEMDEDUP_ORACLE = (
    _KMEANS_EXACT_CTE
    + """
    , m AS (
      SELECT a2.vec_id, a2.cluster, v.x FROM a2 JOIN qv v USING (vec_id)
    ),
    pr AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2, a.cluster,
        CAST(SUM(CAST(a.x[pos.i] AS HUGEINT) * b.x[pos.i]) AS DOUBLE)
          / SQRT(CAST(SUM(CAST(a.x[pos.i] AS HUGEINT) * a.x[pos.i]) AS DOUBLE)
                 * CAST(SUM(CAST(b.x[pos.i] AS HUGEINT) * b.x[pos.i]) AS DOUBLE))
          AS cos
      FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      CROSS JOIN pos
      GROUP BY 1, 2, 3
    )
    SELECT v2 AS vec_id, cluster, MIN(v1) AS dup_of,
      ROUND(MAX(cos), 6) AS max_cos
    FROM pr WHERE cos >= 0.35 GROUP BY 1, 2
"""
)


#: salt fan-out for the semdedup pair blocks (see b19_semdedup)
_SEMDEDUP_SALT = 8


def _semdedup_pair_blocks(batches):
    """mapInPandas kernel for the within-cluster pair cosines (round
    13, guide §4.2 — hand whole batches to vectorized native code):
    each input row carries ONE cluster's member array plus a salt;
    the row's block of pairs (a-side = members with vec_id ≡ salt) is
    one int64 matrix product instead of |block| × 64 interpreted
    zip_with folds — the measured ~32 M interpreted ops that were the
    query's whole wall at sf0.1.

    Exactness contract (the reason this is hash-safe): quantized
    components are |x| ≤ 1e8 (1e-7 quantization of |comp| < 10), so a
    64-dim dot is ≤ 6.4e17 — inside int64, and numpy would WRAP
    silently where ANSI Spark faults, so the bound is asserted per
    batch. The cosine is then the identical IEEE-754 sequence the old
    JVM expression ran — int64→double conversions (round-to-nearest),
    one multiply, one correctly-rounded sqrt, one divide — so every
    produced double is bit-identical, and the ≥ 0.35 gate and the
    downstream ROUND(max, 6) see the same values."""
    import numpy as np

    for pdf in batches:
        v1s, v2s, cls, coss = [], [], [], []
        for cluster, ms, salt in zip(
            pdf["cluster"], pdf["ms"], pdf["salt"]
        ):
            ids = np.asarray([m["vec_id"] for m in ms], dtype=np.int64)
            amask = (ids % _SEMDEDUP_SALT) == salt
            if not amask.any() or len(ids) < 2:
                continue
            X = np.asarray([m["x"] for m in ms], dtype=np.int64)
            n2 = np.asarray([m["n2"] for m in ms], dtype=np.int64)
            assert int(np.abs(X).max(initial=0)) <= 10**8  # int64 dot bound
            dots = X[amask] @ X.T  # exact int64 block product
            cos = dots.astype(np.float64) / np.sqrt(
                n2[amask].astype(np.float64)[:, None]
                * n2.astype(np.float64)[None, :]
            )
            keep = (ids[amask][:, None] < ids[None, :]) & (cos >= 0.35)
            ai, bi = np.nonzero(keep)
            if len(ai) == 0:
                continue
            v1s.append(ids[amask][ai])
            v2s.append(ids[bi])
            cls.append(np.full(len(ai), cluster, dtype=np.int64))
            coss.append(cos[ai, bi])
        import pandas as pd

        if v1s:
            yield pd.DataFrame({
                "v1": np.concatenate(v1s),
                "v2": np.concatenate(v2s),
                "cluster": np.concatenate(cls),
                "cos_raw": np.concatenate(coss),
            })


@register("b19_semdedup", oracle=_B19_SEMDEDUP_ORACLE, tags=("B19", "B20"))
def b19_semdedup(spark, sf_dir):
    v, a2, _s2 = _exact_kmeans_assignments(spark, sf_dir, K=8)

    def int_dot(a, b):
        # exact int64 dot: |x| ≤ 1e8 for any embedding component under
        # 10 in magnitude (1e-7 quantization), so a term ≤ 1e16 and the
        # 64-dim sum ≤ 6.4e17 — well inside int64, and ANSI mode would
        # error (not wrap) if data ever violated the bound.
        return F.aggregate(
            F.zip_with(a, b, lambda p, q: p * q),
            F.lit(0).cast("bigint"),
            lambda acc, term: acc + term,
        )

    # Within-cluster pair generation WITHOUT a self-join: gather each
    # cluster's members into one row. A self-join on a2 would recompute
    # the whole k-means lineage for both sides (Spark doesn't share
    # un-cached subtrees); this computes it once and generates pairs
    # in-partition. The SemDeDup sizing contract — k grows with N so
    # clusters stay a few thousand members — is exactly what keeps one
    # cluster's member array executor-sized. norms are per-member, not
    # per-pair: compute each ‖x‖² once before the pair blocks.
    member = a2.select(
        "vec_id",
        "cluster",
        "x",
        int_dot(F.col("x"), F.col("x")).alias("n2"),
    )
    grouped = member.groupBy("cluster").agg(
        F.collect_list(F.struct("vec_id", "x", "n2")).alias("ms")
    )
    # Pair-generation parallelism WITHOUT per-member array replication:
    # each cluster emits S salt copies of its array; copy s owns the
    # 'a' members with vec_id ≡ s (mod S). Shuffle volume = S × cluster
    # data (S=8, fixed), parallelism = k·S tasks. Round 13: the pair
    # cosines inside each (cluster, salt) block are ONE numpy int64
    # matrix product via mapInPandas (guide §4.2) instead of the
    # interpreted per-pair zip_with fold — bit-identical doubles, see
    # _semdedup_pair_blocks.
    salted = grouped.select(
        "cluster",
        "ms",
        F.explode(
            F.sequence(F.lit(0), F.lit(_SEMDEDUP_SALT - 1))
        ).alias("salt"),
    ).repartition("cluster", "salt")
    pairs = salted.mapInPandas(
        _semdedup_pair_blocks,
        "v1 bigint, v2 bigint, cluster bigint, cos_raw double",
    )
    return pairs.groupBy(F.col("v2").alias("vec_id"), "cluster").agg(
        F.min("v1").alias("dup_of"),
        F.round(F.max("cos_raw"), 6).alias("max_cos"),
    )


# --------------------------------------------------------------------------
# B21n — n-gram LM fit score (CCNet-style perplexity bucketing): train
# a bigram count model on a held reference slice (even doc_ids), cap
# it to the top-4096 bigrams (count desc, bigram asc — at 100 TB the
# cap is what keeps the model broadcastable: the head of the bigram
# distribution carries the signal, the tail is noise), then score
# every document by the mean reference-count of its bigrams and
# bucket into head/middle/tail terciles. CCNet buckets by KenLM
# perplexity; the count-based fit statistic here is the same shape
# with exact-integer determinism (log-prob sums are not
# cross-engine reproducible). Model agg is one shuffle with map-side
# partials; the corpus probe is a broadcast left join (model ≤ 4096
# rows by construction); per-doc agg shuffles on doc_id. The tercile
# assignment replicates NTILE(3) EXACTLY without a global sort:
# fit_score is a 4-decimal ratio (≤10,001 distinct values), so a
# score histogram (one small keyed agg, driver gets ≤10k scalar
# rows) yields every score's global rank offset; scores entirely
# inside a tercile get their bucket by broadcast-joined lookup
# (map-only), and only the ≤2 boundary-straddling score groups need
# a within-score row_number (partitioned window, tiny). The old
# single-partition NTILE lives on as the b21_lm_bigram_fit_ntile
# twin — both hash-check against the same NTILE oracle.
# --------------------------------------------------------------------------
_B21_LM_ORACLE = r"""
    WITH d AS (
      SELECT doc_id, lang,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    d2 AS (SELECT * FROM d WHERE len(w) >= 2),
    bg AS (
      SELECT doc_id, concat_ws(' ', w[i], w[i + 1]) AS bg
      FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM d2)
    ),
    model AS (
      SELECT bg, count(*) AS c FROM bg WHERE doc_id % 2 = 0
      GROUP BY bg ORDER BY c DESC, bg LIMIT 4096
    ),
    per_doc AS (
      SELECT b.doc_id,
        CAST(count(*) AS BIGINT) AS n_bigrams,
        CAST(SUM(COALESCE(m.c, 0)) AS BIGINT) AS matched
      FROM bg b LEFT JOIN model m USING (bg) GROUP BY 1
    ),
    scored AS (
      SELECT p.doc_id, d2.lang, p.n_bigrams, p.matched,
        {fit} AS fit_score
      FROM per_doc p JOIN d2 USING (doc_id)
    )
    SELECT doc_id, lang, n_bigrams, matched, fit_score,
      CAST(NTILE(3) OVER (ORDER BY fit_score DESC, doc_id) AS INT)
        AS ppl_bucket
    FROM scored
""".replace("{fit}", sql_round_ratio("p.matched", "p.n_bigrams", 4))


def _exact_ntile(spark, scored, score_col, n, bucket_col, out_cols):
    """Replicate NTILE(n) OVER (ORDER BY score DESC, doc_id) EXACTLY
    without a global sort: scores are low-cardinality fixed-point
    ratios, so a score histogram (one small keyed agg; the driver gets
    one scalar row per DISTINCT score) yields every score group's
    cumulative rank offset. Groups entirely inside a bucket get their
    label from a broadcast lookup (map-only); only the ≤ n-1
    boundary-straddling score groups need a within-score row_number
    (partitioned window, tiny). The single-partition NTILE twin
    (b21_lm_bigram_fit_ntile) is the correctness baseline."""
    hist = sorted(
        scored.groupBy(score_col).agg(F.count("*").alias("cnt")).collect(),
        key=lambda r: -r[score_col],
    )
    total = sum(r["cnt"] for r in hist)
    base, rem = divmod(total, n)
    cuts = []
    acc = 0
    for i in range(1, n):
        acc += base + (1 if rem >= i else 0)
        cuts.append(acc)
    lookup, start = [], 0
    for r in hist:
        end = start + r["cnt"]
        bucket = None
        for i, c in enumerate([0] + cuts):
            hi = cuts[i] if i < len(cuts) else total
            if start >= c and end <= hi:
                bucket = i + 1
                break
        lookup.append((r[score_col], start, bucket))
        start = end
    lut = F.broadcast(
        spark.createDataFrame(
            lookup, f"{score_col} double, _start bigint, _bucket int"
        )
    )
    joined = scored.join(lut, score_col, "left")
    inside = joined.filter(F.col("_bucket").isNotNull()).withColumn(
        bucket_col, F.col("_bucket")
    )
    straddle_rank = Window.partitionBy(score_col).orderBy("doc_id")
    rk = F.col("_start") + F.row_number().over(straddle_rank)
    expr = F.lit(n)
    for i, c in enumerate(reversed(cuts)):
        expr = F.when(rk <= F.lit(c), n - 1 - i).otherwise(expr)
    straddle = joined.filter(F.col("_bucket").isNull()).withColumn(
        bucket_col, expr
    )
    cols = out_cols + [bucket_col]
    return inside.select(*cols).unionByName(straddle.select(*cols))


# --------------------------------------------------------------------------
# B18rb — RANGE-PARTITION BOUNDARY PLANNING: the write-planning step
# before `repartitionByRange` / sorted-shard layout — compute the
# boundary table that splits the corpus into N contiguous ranges of a
# sort key with balanced counts (|count_i − count_j| ≤ 1, the NTILE
# guarantee). Spark's own RangePartitioner SAMPLES and gives only
# approximate balance; this plan is EXACT and still avoids the global
# sort: it reuses the _exact_ntile histogram machinery (one small
# keyed agg over distinct key values + broadcast lookup + boundary-
# straddler-only windows — the b21_lm_bigram_fit tercile path
# generalized to N=8 and an ASC key via score = −key). Output: one
# row per target partition with its key range, id range, and count.
# Oracle is the plain NTILE window — the correctness baseline the
# histogram formulation must match exactly.
# --------------------------------------------------------------------------
_B18_RANGE_BOUNDS_ORACLE = """
    WITH nt AS (
      SELECT doc_id, n_chars,
        NTILE(8) OVER (ORDER BY n_chars, doc_id) AS part_id
      FROM documents
    )
    SELECT CAST(part_id AS INT) AS part_id,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(MIN(n_chars) AS BIGINT) AS lo_chars,
      CAST(MAX(n_chars) AS BIGINT) AS hi_chars,
      CAST(MIN(doc_id) AS BIGINT) AS first_doc,
      CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM nt GROUP BY 1
"""


@register(
    "b18_range_boundaries", oracle=_B18_RANGE_BOUNDS_ORACLE, tags=("B18",)
)
def b18_range_boundaries(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        # _exact_ntile ranks score DESC with doc_id tie-break; DESC on
        # −n_chars == ASC on n_chars, matching the oracle's NTILE order
        (-F.col("n_chars")).cast("double").alias("_score"),
    )
    labeled = _exact_ntile(
        spark, docs, "_score", 8, "part_id", ["doc_id", "n_chars"]
    )
    return labeled.groupBy("part_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("lo_chars"),
        F.max("n_chars").cast("bigint").alias("hi_chars"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


@register("b21_lm_bigram_fit", oracle=_B21_LM_ORACLE, tags=("B21",))
def b21_lm_bigram_fit(spark, sf_dir):
    docs = (
        t(spark, sf_dir, "documents")
        .transform(spread("doc_id"))
        .select("doc_id", "lang", tokens(F.col("text")).alias("w"))
        .filter(F.size("w") >= 2)
    )
    w = F.col("w")
    # lang rides through the explode/aggregate (functionally dependent
    # on doc_id) — avoids re-joining the corpus to itself for one
    # column, which at 100 TB would be a second fact-sized shuffle.
    bg = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - 2),
                lambda i: F.concat_ws(" ", F.get(w, i), F.get(w, i + 1)),
            )
        ).alias("bg"),
    )
    model = (
        bg.filter(F.pmod("doc_id", F.lit(2)) == 0)
        .groupBy("bg")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "bg")
        .limit(4096)
    )
    scored = (
        bg.join(F.broadcast(model), "bg", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.coalesce("c", F.lit(0))).alias("matched"),
        )
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            "matched",
            round_ratio(F.col("matched"), F.col("n_bigrams"), 4).alias(
                "fit_score"
            ),
        )
    )
    cols = ["doc_id", "lang", "n_bigrams", "matched", "fit_score"]
    return _exact_ntile(
        spark, scored.persist(), "fit_score", 3, "ppl_bucket", cols
    )


@register("b21_lm_bigram_fit_ntile", oracle=_B21_LM_ORACLE, tags=("B21",))
def b21_lm_bigram_fit_ntile(spark, sf_dir):
    """Single-window NTILE twin of b21_lm_bigram_fit — the correctness
    baseline for the histogram-cutpoint bucketing (both hash against
    the same oracle). Not the scale path: the unpartitioned window
    funnels the scored table through one partition."""
    docs = (
        t(spark, sf_dir, "documents")
        .transform(spread("doc_id"))
        .select("doc_id", "lang", tokens(F.col("text")).alias("w"))
        .filter(F.size("w") >= 2)
    )
    w = F.col("w")
    bg = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - 2),
                lambda i: F.concat_ws(" ", F.get(w, i), F.get(w, i + 1)),
            )
        ).alias("bg"),
    )
    model = (
        bg.filter(F.pmod("doc_id", F.lit(2)) == 0)
        .groupBy("bg")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "bg")
        .limit(4096)
    )
    scored = (
        bg.join(F.broadcast(model), "bg", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.coalesce("c", F.lit(0))).alias("matched"),
        )
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            "matched",
            round_ratio(F.col("matched"), F.col("n_bigrams"), 4).alias(
                "fit_score"
            ),
        )
    )
    tercile = Window.orderBy(F.col("fit_score").desc(), "doc_id")
    return scored.withColumn("ppl_bucket", F.ntile(3).over(tercile))


# --------------------------------------------------------------------------
# B21pp — PERPLEXITY in exact integer BITS: true log-domain LM scoring
# with zero cross-engine drift. b21_lm_bigram_fit buckets by raw match
# counts because "log-prob sums are not cross-engine reproducible" —
# this operator closes that gap: the add-one-smoothed bigram surprisal
# −log2 p(w2|w1) = log2(c1+V) − log2(c2+1) is REPLACED by its
# bit-length bound bits(c1+V) − bits(c2+1), where bits(n) =
# length(bin(n)) = floor(log2 n)+1 — an exact INTEGER within 1 bit of
# the real surprisal per term, additive across a document exactly like
# a real log-prob (the thing the tercile fit-score is not). CCNet
# filters on mean per-token perplexity; avg_bits_x100 is that
# statistic, exact.
#
# Scale shape: one gram aggregate builds the bigram model c2 (map-side
# partials), the left-context totals c1 derive from c2 by a second
# SMALL aggregate over the model (never re-scanning the corpus), and V
# is one scalar distinct-count broadcast with the model join. Scoring
# joins doc bigram OCCURRENCE GROUPS (doc_id, bigram, multiplicity) —
# the collapsed relation, not raw positions — against the model, so
# the join input is bounded by distinct-bigrams-per-doc. At 100 TB the
# model gets a frequency floor / count-count cap exactly like the
# b21_lm_bigram_fit top-K; the bit-length algebra is unchanged.
# --------------------------------------------------------------------------
_B21_PPL_ORACLE = r"""
    WITH d AS (
      SELECT doc_id,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    d2 AS (SELECT * FROM d WHERE len(w) >= 2),
    bg AS (
      SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM d2)
    ),
    e AS (
      SELECT doc_id, w1, w2, COUNT(*) AS m FROM bg GROUP BY 1, 2, 3
    ),
    c2 AS (SELECT w1, w2, SUM(m) AS c2 FROM e GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
    vv AS (
      SELECT COUNT(DISTINCT tok) AS v FROM (
        SELECT unnest(w) AS tok FROM d
      )
    ),
    scored AS (
      SELECT e.doc_id,
        SUM(e.m) AS n_bigrams,
        SUM(e.m * (length(bin(c1.c1 + vv.v)) - length(bin(c2.c2 + 1))))
          AS total_bits
      FROM e
      JOIN c2 ON c2.w1 = e.w1 AND c2.w2 = e.w2
      JOIN c1 ON c1.w1 = e.w1
      CROSS JOIN vv
      GROUP BY 1
    )
    SELECT doc_id,
      CAST(n_bigrams AS BIGINT) AS n_bigrams,
      CAST(total_bits AS BIGINT) AS total_bits,
      {avg} AS avg_bits_x100
    FROM scored
""".replace(
    "{avg}", sql_round_ratio("total_bits * 100", "n_bigrams", 0)
)


@register("b21_perplexity_bits", oracle=_B21_PPL_ORACLE, tags=("B21",))
def b21_perplexity_bits(spark, sf_dir):
    docs = (
        t(spark, sf_dir, "documents")
        .transform(spread("doc_id"))
        .select("doc_id", tokens(F.col("text")).alias("w"))
    )
    w = F.col("w")
    d2 = docs.filter(F.size(w) >= 2)
    bg = d2.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - 2),
                lambda i: F.struct(
                    F.get(w, i).alias("w1"), F.get(w, i + 1).alias("w2")
                ),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    # per-doc occurrence groups: the corpus collapses ONCE, everything
    # downstream aggregates the compact relation
    e = bg.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("m"))
    c2 = e.groupBy("w1", "w2").agg(F.sum("m").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vv = docs.select(F.explode(w).alias("tok")).agg(
        F.count_distinct("tok").alias("v")
    )
    from ..functions.text import surprisal_bits  # shared with the
    # streaming leg (curation.surprisal_stream) — one expression tree

    scored = (
        e.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vv))
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.sum(
                F.col("m")
                * surprisal_bits(F.col("c1") + F.col("v"), F.col("c2") + 1)
            )
            .cast("bigint")
            .alias("total_bits"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "total_bits",
        round_ratio(F.col("total_bits") * 100, F.col("n_bigrams"), 0).alias(
            "avg_bits_x100"
        ),
    )


# --------------------------------------------------------------------------
# B21rk — RAKE keyword extraction (Rose et al. 2010, Rapid Automatic
# Keyword Extraction): candidate phrases are the maximal runs of
# non-stopword tokens (stopwords are the delimiters), each word is
# scored degree/frequency over ITS document's candidates (degree =
# summed length of the phrases it appears in — favors words that live
# in long collocations), and a phrase scores the sum of its words'
# scores; top-5 phrases per doc. The standard cheap topic-tagger for
# corpus curation — what you label shards with before mixture
# sampling. All arithmetic exact: word scores are half-up-rounded
# integer ratios x100 (the _exact.py pmod formula INLINE as integers
# so phrase sums stay integers), and the phrase ranking tie-breaks on
# the phrase text.
#
# Scale shape: everything is doc-local — one explode to (doc, pos,
# tok), islands via one per-doc running-sum window, word stats one
# (doc, word) aggregate, phrase build one (doc, island) aggregate,
# ranking one per-doc window. Keyed shuffles only, all on doc-salted
# keys; nothing global, no model, no broadcast.
# --------------------------------------------------------------------------
_B21_RAKE_ORACLE = rf"""
    WITH d AS (
      SELECT doc_id,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    pos AS (
      SELECT doc_id, i - 1 AS pos, w[i] AS tok,
        CASE WHEN w[i] IN ({_STOP_SQL}) THEN 1 ELSE 0 END AS is_stop
      FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM d)
    ),
    isl AS (
      SELECT doc_id, pos, tok, is_stop,
        SUM(is_stop) OVER (
          PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM pos
    ),
    cand AS (SELECT doc_id, island, pos, tok FROM isl WHERE is_stop = 0),
    ph AS (
      SELECT doc_id, island,
        string_agg(tok, ' ' ORDER BY pos) AS phrase,
        COUNT(*) AS plen
      FROM cand GROUP BY 1, 2
    ),
    ws AS (
      SELECT c.doc_id, c.tok,
        COUNT(*) AS freq, SUM(ph.plen) AS deg
      FROM cand c JOIN ph ON ph.doc_id = c.doc_id AND ph.island = c.island
      GROUP BY 1, 2
    ),
    wscore AS (
      SELECT doc_id, tok,
        (2 * 100 * deg + freq) // (2 * freq) AS score100
      FROM ws
    ),
    pscore AS (
      SELECT c.doc_id, c.island, SUM(s.score100) AS score
      FROM cand c
      JOIN wscore s ON s.doc_id = c.doc_id AND s.tok = c.tok
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT p.doc_id, ph.phrase, p.score,
        ROW_NUMBER() OVER (
          PARTITION BY p.doc_id ORDER BY p.score DESC, ph.phrase) AS rk
      FROM pscore p
      JOIN ph ON ph.doc_id = p.doc_id AND ph.island = p.island
    )
    SELECT doc_id, phrase, CAST(score AS BIGINT) AS score,
      CAST(rk AS INT) AS rank
    FROM ranked WHERE rk <= 5
"""


@register("b21_rake_keywords", oracle=_B21_RAKE_ORACLE, tags=("B21",))
def b21_rake_keywords(spark, sf_dir):
    docs = (
        t(spark, sf_dir, "documents")
        .transform(spread("doc_id"))
        .select("doc_id", tokens(F.col("text")).alias("w"))
    )
    pos = docs.select(
        "doc_id",
        F.posexplode("w").alias("pos", "tok"),
    ).withColumn(
        "is_stop", F.col("tok").isin(*STOPWORDS).cast("int")
    )
    wisl = Window.partitionBy("doc_id").orderBy("pos")
    cand = (
        pos.withColumn("island", F.sum("is_stop").over(wisl))
        .filter(F.col("is_stop") == 0)
        .select("doc_id", "island", "pos", "tok")
    )
    ph = cand.groupBy("doc_id", "island").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").alias("plen"),
    )
    ws = (
        cand.join(ph.select("doc_id", "island", "plen"), ["doc_id", "island"])
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("deg"))
    )
    # half-up integer ratio x100, kept as an INTEGER so phrase sums
    # stay exact (round_ratio's final /scale would hand back doubles)
    num = 2 * 100 * F.col("deg") + F.col("freq")
    wscore = ws.select(
        "doc_id",
        "tok",
        ((num - F.pmod(num, 2 * F.col("freq"))) / (2 * F.col("freq")))
        .cast("bigint")
        .alias("score100"),
    )
    pscore = (
        cand.join(wscore, ["doc_id", "tok"])
        .groupBy("doc_id", "island")
        .agg(F.sum("score100").alias("score"))
    )
    rk = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("phrase")
    )
    return (
        pscore.join(ph.select("doc_id", "island", "phrase"), ["doc_id", "island"])
        .withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= 5)
        .select(
            "doc_id",
            "phrase",
            F.col("score").cast("bigint").alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# --------------------------------------------------------------------------
# B21o — linear quality-classifier inference (fastText-shaped): score
# each document with a hashed-unigram linear model — weight(token) =
# h16(md5(token)) % 2001 − 1000, a deterministic stand-in for trained
# weights (the container has no ML libs; a real deployment drops a
# learned weight table into the same broadcast slot). The entire
# scorer is ONE map-only projection: fold the weight transform over
# the un-exploded token array — zero shuffles, zero joins, runs at
# scan speed on any corpus size. That is the production shape for
# classifier-based quality filtering (the model rides in the closure /
# broadcast; the corpus never re-partitions).
# --------------------------------------------------------------------------
_H16_SQL = (
    "((strpos('0123456789abcdef', substr(md5({t}), 1, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr(md5({t}), 2, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr(md5({t}), 3, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5({t}), 4, 1)) - 1))"
)

_B21_CLASSIFIER_ORACLE = (
    r"""
    WITH d AS (
      SELECT doc_id, lang,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    s AS (
      SELECT doc_id, lang,
        CAST(len(w) AS BIGINT) AS n_tokens,
        CAST(list_aggregate(
          list_transform(w, t -> """
    + _H16_SQL.replace("{t}", "t")
    + r""" % 2001 - 1000),
          'sum') AS BIGINT) AS w_sum
      FROM d
    )
    SELECT doc_id, lang, n_tokens, w_sum,
      {mw} AS mean_w,
      CASE WHEN w_sum >= 0 THEN 'keep' ELSE 'drop' END AS label
    FROM s
""".replace("{mw}", sql_round_ratio_signed("w_sum", "n_tokens", 3))
)


@register("b21_classifier_score", oracle=_B21_CLASSIFIER_ORACLE, tags=("B21",))
def b21_classifier_score(spark, sf_dir):
    docs = (
        t(spark, sf_dir, "documents")
        .transform(spread("doc_id"))
        .select("doc_id", "lang", tokens(F.col("text")).alias("w"))
    )
    wts = F.transform(F.col("w"), lambda tok: token_hash16(tok) % 2001 - 1000)
    s = docs.select(
        "doc_id",
        "lang",
        F.size("w").cast("bigint").alias("n_tokens"),
        F.aggregate(
            wts, F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("w_sum"),
    )
    return s.select(
        "doc_id",
        "lang",
        "n_tokens",
        "w_sum",
        round_ratio_signed(F.col("w_sum"), F.col("n_tokens"), 3).alias("mean_w"),
        F.when(F.col("w_sum") >= 0, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("label"),
    )


# --------------------------------------------------------------------------
# B18e — deterministic epoch shuffle: the "reshuffle the corpus every
# epoch" step of a training-data pipeline. Shard = salted-md5 hash of
# the doc id (change the salt, change the epoch); position within the
# shard = rank of the full digest. One hash-partitioned sort — on a
# cluster this is a single range-free shuffle into n_shards writer
# tasks, each emitting one ordered shard file; re-running with the
# same salt is bit-identical (seeded RNG without RNG state).
# --------------------------------------------------------------------------
_B18_EPOCH_ORACLE = """
    WITH s AS (
      SELECT doc_id,
        md5(concat('ep1|', CAST(doc_id AS VARCHAR))) AS h
      FROM documents
    )
    SELECT doc_id,
      CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) % 8 AS INT)
        AS shard,
      CAST(ROW_NUMBER() OVER (
        PARTITION BY (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) % 8
        ORDER BY h, doc_id) AS INT) AS pos_in_shard
    FROM s
"""


@register("b18_epoch_shuffle", oracle=_B18_EPOCH_ORACLE, tags=("B18",))
def b18_epoch_shuffle(spark, sf_dir):
    from ..functions.text import nibble

    # no explicit repartition: the window's partitionBy(shard) IS the
    # (only) shuffle — an upstream repartition would just double it
    docs = t(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("ep1|"), F.col("doc_id").cast("string")))
    s = docs.select("doc_id", h.alias("h"))
    shard = (nibble(F.substring("h", 1, 1)) % 8).cast("int")
    win = Window.partitionBy(shard).orderBy("h", "doc_id")
    return s.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(win).alias("pos_in_shard"),
    )


# --------------------------------------------------------------------------
# B19h — duplicated-span detection (exact substring dedup, Lee et al.
# 2021 shape): flag every maximal token span whose 5-grams also occur
# in at least one OTHER document, merging overlapping/adjacent
# duplicated 5-gram starts into spans with an islands-and-gaps window.
# Unlike document-level dedup (B18/B19a-f) this localizes WHICH tokens
# are boilerplate so a trainer can cut the span, not the document.
# Dataflow: positional 5-grams → cross-doc df aggregate (map-side
# partials) → positions re-join the duplicated-gram set on the
# fixed-width xxhash64 key (8-byte int64 regardless of gram text —
# the key-width pattern proven by b21_boilerplate_hashed, ~4× narrower
# shuffle rows than the md5-hex strings this used before) → per-doc
# ordered window merges starts into maximal spans. Three shuffles
# total: gram-df, the positions⋈dupset join, and the per-doc window.
# The gram hash never reaches the output (only doc_id/positions/spans
# do), so the DuckDB oracle keeps md5 — results are identical absent
# collisions, exactly as the boilerplate query demonstrates.
# Collision bound at target scale: with N distinct 5-grams the expected
# number of colliding PAIRS is N²/2^65; a collision's only effect is
# falsely marking one unique gram "cross-doc duplicated", cutting at
# most one ≥5-token span per affected doc. At 100 TB (~1e10–1e11
# distinct grams) that is ~3–3000 spurious grams — a ≤3e-8 fraction of
# the gram population, orders below the noise floor of the boilerplate
# signal itself. If a pipeline needs exactness beyond that, widen the
# key to an effective 128 bits with a second seed —
# struct(xxhash64(g), xxhash64(g, lit(1))) — paying 2× key width; the
# 64-bit default trades that for the ~4× narrower shuffle.
# --------------------------------------------------------------------------
_B19_SPAN_ORACLE = r"""
    WITH d AS (
      SELECT doc_id,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    d5 AS (SELECT * FROM d WHERE len(w) >= 5),
    g AS (
      SELECT doc_id, i - 1 AS i,
        md5(concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])) AS gh
      FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM d5)
    ),
    dup AS (
      SELECT gh FROM (
        SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY gh
      ) WHERE nd >= 2
    ),
    pos AS (SELECT g.doc_id, g.i FROM g JOIN dup USING (gh)),
    flag AS (
      SELECT doc_id, i,
        CASE WHEN lag(i) OVER w IS NULL OR i - lag(i) OVER w > 5
             THEN 1 ELSE 0 END AS brk
      FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ),
    isl AS (
      SELECT doc_id, i,
        SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
      FROM flag
    )
    SELECT doc_id, CAST(island AS INT) AS span_id,
      CAST(MIN(i) AS INT) AS start_tok,
      CAST(MAX(i) + 4 AS INT) AS end_tok,
      CAST(MAX(i) + 5 - MIN(i) AS INT) AS n_tok
    FROM isl GROUP BY 1, 2
"""


@register("b19_span_dedup", oracle=_B19_SPAN_ORACLE, tags=("B19", "B21"))
def b19_span_dedup(spark, sf_dir):
    L = 5
    docs = (
        t(spark, sf_dir, "documents")
        .transform(spread("doc_id"))
        .select("doc_id", tokens(F.col("text")).alias("w"))
        .filter(F.size("w") >= L)
    )
    w = F.col("w")
    grams = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - L),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", *[F.get(w, i + k) for k in range(L)])
                ),
            )
        ).alias("i", "gh"),
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    pos = grams.join(dup, "gh").select("doc_id", "i")
    ordered = Window.partitionBy("doc_id").orderBy("i")
    brk = (
        F.when(
            F.lag("i").over(ordered).isNull()
            | (F.col("i") - F.lag("i").over(ordered) > L),
            1,
        )
        .otherwise(0)
        .alias("brk")
    )
    isl = pos.select("doc_id", "i", brk).select(
        "doc_id",
        "i",
        F.sum("brk").over(ordered).cast("int").alias("span_id"),
    )
    return isl.groupBy("doc_id", "span_id").agg(
        F.min("i").cast("int").alias("start_tok"),
        (F.max("i") + L - 1).cast("int").alias("end_tok"),
        (F.max("i") + L - F.min("i")).cast("int").alias("n_tok"),
    )


# --------------------------------------------------------------------------
# B21p — corpus statistics ("dataset card"): the per-(lang, source)
# inventory every training-data release ships — doc counts, token
# totals, length extremes — with ROLLUP subtotals so one pass answers
# the per-source, per-lang, and whole-corpus questions (the B6
# machinery applied to the curation domain). One shuffle, map-side
# partials; exact-integer averages via _exact.round_ratio.
# --------------------------------------------------------------------------
_B21_STATS_ORACLE = (
    r"""
    WITH pd AS (
      SELECT lang, source,
        CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)
          AS nt
      FROM documents
    )
    SELECT lang, source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(nt) AS BIGINT) AS total_tokens,
      CAST(MAX(nt) AS BIGINT) AS max_doc_tokens,
      CAST(MIN(nt) AS BIGINT) AS min_doc_tokens,
      {avg} AS avg_doc_tokens
    FROM pd
    GROUP BY ROLLUP(lang, source)
""".replace(
        "{avg}",
        sql_round_ratio("CAST(SUM(nt) AS BIGINT)", "COUNT(*)", 2),
    )
)


@register("b21_corpus_stats", oracle=_B21_STATS_ORACLE, tags=("B21", "B6"))
def b21_corpus_stats(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    pd_ = docs.select(
        "lang",
        "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("nt"),
    )
    agg = pd_.rollup("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("nt").alias("total_tokens"),
        F.max("nt").alias("max_doc_tokens"),
        F.min("nt").alias("min_doc_tokens"),
    )
    return agg.select(
        "lang",
        "source",
        "n_docs",
        "total_tokens",
        "max_doc_tokens",
        "min_doc_tokens",
        round_ratio(F.col("total_tokens"), F.col("n_docs"), 2).alias(
            "avg_doc_tokens"
        ),
    )


# --------------------------------------------------------------------------
# B21q — distributed BPE tokenizer training (operators/bpe.py): the
# corpus-side half of tokenizer work a training pipeline runs. Rows-
# only by design (n-round iterative driver loop, same registry
# precedent as the float k-means path) — but verified STRONGER than a
# SQL oracle: tests/test_bpe.py proves the merge sequence equals a
# reference Python BPE implementation merge-for-merge, and that
# applying the merges reproduces the reference segmentation exactly.
# --------------------------------------------------------------------------
@register("b21_bpe_train", oracle=None, tags=("B21", "B30"))
def b21_bpe_train(spark, sf_dir):
    from ..operators.bpe import train_bpe

    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    merges = train_bpe(docs, n_merges=8)
    return spark.createDataFrame(
        [(i + 1, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "rank int, left string, right string, weighted_count bigint",
    )


# --------------------------------------------------------------------------
# B21q' — BPE ENCODE: train-then-apply over the corpus, fully hash-
# checked. The scale-correct encoder shape: segment each DISTINCT word
# once (the word table is vocabulary-sized) and join the segmentation
# back to the corpus — never re-derive merges per occurrence. Both
# sides run the SAME fixed-round algorithm end-to-end with exact
# integer/string ops, so unlike b21_bpe_train this has a full DuckDB
# oracle: the SQL unrolls the 6 training rounds as materialized CTEs,
# applying each round's winning merge with a boundary-wrapped string
# replace ('<a><b>' → '<ab>'; words are filtered to [a-z0-9]+ so the
# wrapper chars cannot collide), which is exactly the leftmost
# non-overlapping greedy merge the Spark-side array fold
# (operators/bpe.py apply_merge) performs.
# --------------------------------------------------------------------------
_BPE_N_MERGES = 6


def _bpe_rounds_sql(n: int) -> str:
    """The n unrolled training rounds (m{{i}} winning merge + wt{{i}}
    post-merge word table) — ONE string builder shared by the
    b21_bpe_encode and b21_sequence_pack_bpe oracles so the merge
    semantics cannot drift between them."""
    return ",".join(
        f"""
    m{i} AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT syms[i] AS a, syms[i+1] AS b, sum(freq) AS n
        FROM (SELECT freq, regexp_extract_all(w, '<([^>]*)>', 1) AS syms
              FROM wt{i-1}),
             UNNEST(generate_series(1, len(syms)-1)) AS g(i)
        GROUP BY 1, 2
      ) ORDER BY n DESC, a, b LIMIT 1
    ),
    wt{i} AS MATERIALIZED (
      SELECT word, freq,
             replace(w, '<' || m.a || '><' || m.b || '>',
                        '<' || m.a || m.b || '>') AS w
      FROM wt{i-1} CROSS JOIN m{i} m
    )"""
        for i in range(1, n + 1)
    )


def _bpe_encode_oracle(n: int) -> str:
    rounds = _bpe_rounds_sql(n)
    return rf"""
    WITH words AS MATERIALIZED (
      SELECT doc_id, w AS word
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
            FROM documents)
      WHERE regexp_full_match(w, '[a-z0-9]+')
    ),
    wt0 AS MATERIALIZED (
      SELECT word, count(*)::BIGINT AS freq,
             regexp_replace(word, '(.)', '<\1>', 'g') AS w
      FROM words GROUP BY word
    ),
    {rounds},
    final AS (
      SELECT word, regexp_extract_all(w, '<([^>]*)>', 1) AS syms FROM wt{n}
    )
    SELECT d.doc_id,
           count(*)::BIGINT AS n_words,
           sum(len(f.syms))::BIGINT AS n_tokens,
           max(list_max(list_transform(f.syms, s -> length(s))))::BIGINT
             AS max_token_len
    FROM words d JOIN final f ON f.word = d.word
    GROUP BY d.doc_id
    """


@register(
    "b21_bpe_encode",
    oracle=_bpe_encode_oracle(_BPE_N_MERGES),
    tags=("B21", "B30"),
)
def b21_bpe_encode(spark, sf_dir):
    from ..operators.bpe import train_bpe_table

    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    occurrences = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    ).filter(F.col("word").rlike("^[a-z0-9]+$"))
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    wt0 = (
        occurrences.groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select("word", "freq", chars.alias("syms"))
    )
    _, segmented, _base = train_bpe_table(wt0, _BPE_N_MERGES)
    return (
        occurrences.join(segmented.select("word", "syms"), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.size("syms")).alias("n_tokens"),
            F.max(
                F.array_max(F.transform("syms", F.length))
            ).cast("bigint").alias("max_token_len"),
        )
    )


# --------------------------------------------------------------------------
# B21q'' — SEQUENCE PACKING ON REAL TOKENIZER COUNTS: b21_sequence_pack
# bins documents by WHITESPACE token counts — a placeholder every real
# pipeline replaces with the trained tokenizer's counts (context-window
# budgets are measured in model tokens, not words). This query closes
# that loop: the per-doc n_tokens come from the b21_bpe_encode dataflow
# (6-round trainer + vocabulary-sized segmentation join), then the SAME
# two-level (lang, shard)-bounded next-fit fill as b21_sequence_pack
# (_packed_bins — hard <= _PACK_SHARD_SPAN rows per pandas group) packs
# on them. The oracle chains the shared _bpe_rounds_sql CTEs into the
# shared recursive-pack CTE, so both halves replay semantics already
# proven separately.
# --------------------------------------------------------------------------
def _pack_bpe_oracle(n: int) -> str:
    rounds = _bpe_rounds_sql(n)
    return rf"""
    WITH RECURSIVE words AS MATERIALIZED (
      SELECT doc_id, lang, w AS word
      FROM (SELECT doc_id, lang,
                   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
            FROM documents)
      WHERE regexp_full_match(w, '[a-z0-9]+')
    ),
    wt0 AS MATERIALIZED (
      SELECT word, count(*)::BIGINT AS freq,
             regexp_replace(word, '(.)', '<\1>', 'g') AS w
      FROM words GROUP BY word
    ),
    {rounds},
    final AS (
      SELECT word, regexp_extract_all(w, '<([^>]*)>', 1) AS syms FROM wt{n}
    ),
    d AS MATERIALIZED (
      SELECT doc_id, lang, doc_id // {_PACK_SHARD_SPAN} AS shard, n_tokens,
        ROW_NUMBER() OVER (
          PARTITION BY lang, doc_id // {_PACK_SHARD_SPAN}
          ORDER BY doc_id) AS rn
      FROM (
        SELECT w.doc_id, w.lang, sum(len(f.syms))::BIGINT AS n_tokens
        FROM words w JOIN final f USING (word) GROUP BY 1, 2
      )
    ),
    {_pack_oracle_tail()}
"""


@register(
    "b21_sequence_pack_bpe",
    oracle=_pack_bpe_oracle(_BPE_N_MERGES),
    tags=("B21", "B30"),
)
def b21_sequence_pack_bpe(spark, sf_dir):
    from ..operators.bpe import train_bpe_table

    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    occurrences = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("word")
    ).filter(F.col("word").rlike("^[a-z0-9]+$"))
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    wt0 = (
        occurrences.groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select("word", "freq", chars.alias("syms"))
    )
    _, segmented, _base = train_bpe_table(wt0, _BPE_N_MERGES)
    d = (
        occurrences.join(segmented.select("word", "syms"), "word")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.size("syms")).cast("bigint").alias("n_tokens"))
    )
    return _packed_bins(d)


# --------------------------------------------------------------------------
# B21r — HTML extraction + link-density gate: the raw-crawl → text
# stage every web-corpus pipeline runs before any other operator
# (C4/RefinedWeb lineage). The testdata corpus is plain text, so the
# query first renders each document as a deterministic HTML page
# (paragraph per 12 tokens, every 7th token an <a> link) and then runs
# the real extraction: tag stripping, whitespace normalization, and
# the link-density quality signal (chars inside anchors / total
# chars) that gates navigation-heavy pages. Entirely regex/native
# expressions — map-only over the corpus, the same zero-shuffle shape
# as the other text scorers — and the strip provably inverts the
# render (extracted text == original, asserted in the oracle
# comparison since round_trip_ok is a column).
# --------------------------------------------------------------------------
_B21_HTML_ORACLE = r"""
    WITH d AS (
      SELECT doc_id, lang,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w,
        trim(lower(text)) AS norm_text
      FROM documents
    ),
    rendered AS (
      SELECT doc_id, lang, norm_text,
        '<html><body><p>' || array_to_string(
          list_transform(w, (t, i) -> CASE
            WHEN i % 7 = 0 THEN '<a href="/x">' || t || '</a>'
            WHEN i % 12 = 0 THEN t || '</p><p>'
            ELSE t END), ' ') || '</p></body></html>' AS html
      FROM d
    ),
    stripped AS (
      SELECT doc_id, lang, norm_text, html,
        trim(regexp_replace(regexp_replace(html, '<[^>]*>', ' ', 'g'),
                            '\s+', ' ', 'g')) AS extracted,
        CAST(length(html) AS BIGINT) AS total_chars,
        CAST(COALESCE(length(array_to_string(
          regexp_extract_all(html, '<a [^>]*>([^<]*)</a>', 1), '')), 0)
          AS BIGINT) AS link_chars
      FROM rendered
    )
    SELECT doc_id, lang, total_chars, link_chars,
      {ld} AS link_density,
      CAST(extracted = regexp_replace(norm_text, '\s+', ' ', 'g') AS INT)
        AS round_trip_ok
    FROM stripped
""".replace("{ld}", sql_round_ratio("link_chars", "total_chars", 4))


@register("b21_html_extract", oracle=_B21_HTML_ORACLE, tags=("B21",))
def b21_html_extract(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    w = tokens(F.col("text"))
    norm_text = F.lower(F.trim("text"))
    rendered = F.concat(
        F.lit("<html><body><p>"),
        F.array_join(
            F.zip_with(
                w,
                F.sequence(F.lit(1), F.size(w)),
                lambda tkn, i: F.when(
                    i % 7 == 0,
                    F.concat(F.lit('<a href="/x">'), tkn, F.lit("</a>")),
                )
                .when(i % 12 == 0, F.concat(tkn, F.lit("</p><p>")))
                .otherwise(tkn),
            ),
            " ",
        ),
        F.lit("</p></body></html>"),
    )
    base = docs.select(
        "doc_id", "lang", norm_text.alias("norm_text"), rendered.alias("html")
    )
    extracted = F.trim(
        F.regexp_replace(
            F.regexp_replace("html", r"<[^>]*>", " "), r"\s+", " "
        )
    )
    link_chars = F.coalesce(
        F.length(
            F.array_join(
                F.regexp_extract_all("html", F.lit(r"<a [^>]*>([^<]*)</a>"), 1),
                "",
            )
        ),
        F.lit(0),
    ).cast("bigint")
    s = base.select(
        "doc_id",
        "lang",
        F.length("html").cast("bigint").alias("total_chars"),
        link_chars.alias("link_chars"),
        extracted.alias("extracted"),
        "norm_text",
    )
    return s.select(
        "doc_id",
        "lang",
        "total_chars",
        "link_chars",
        round_ratio(F.col("link_chars"), F.col("total_chars"), 4).alias(
            "link_density"
        ),
        (
            F.col("extracted")
            == F.regexp_replace("norm_text", r"\s+", " ")
        )
        .cast("int")
        .alias("round_trip_ok"),
    )


# --------------------------------------------------------------------------
# B22f — batched text-encoder inference (operators/inference.py): the
# corpus → embedding stage, run through the mapInPandas slot a real
# model occupies (Arrow batches = forward passes, model loaded once
# per task). The deterministic hashed-BoW "model" makes the whole
# inference path oracle-checkable: the DuckDB replay recomputes every
# per-dim integer sum, and tests/test_inference.py additionally proves
# the mapInPandas output row-identical to the pure-Catalyst twin.
# --------------------------------------------------------------------------
_B22_ENCODER_ORACLE = (
    r"""
    WITH d AS (
      SELECT doc_id,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    )
    SELECT doc_id, CAST(len(w) AS INT) AS n_tokens,
      ["""
    + ", ".join(
        "CAST(list_aggregate(list_transform(w, t -> "
        + _H16_SQL.replace("{t}", f"concat('{j}|', t)")
        + " % 201 - 100), 'sum') AS BIGINT)"
        for j in range(8)
    )
    + r"""] AS embedding
    FROM d
"""
)


@register("b22_text_encoder", oracle=_B22_ENCODER_ORACLE, tags=("B22", "B20"))
def b22_text_encoder(spark, sf_dir):
    from ..operators.inference import encode_documents

    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    return encode_documents(docs)


# --------------------------------------------------------------------------
# B22h — REAL image decode (BMP + PPM, pure struct/numpy — see
# operators/multimodal.py): payloads are standards-compliant 24bpp
# bottom-up BMPs (even doc_id) and binary P6 PPMs (odd doc_id) whose
# pixel content is a closed-form function of doc_id, so the DECODED
# per-channel sums/means are SQL-derivable — any mistake in the
# decoder's header parsing, 4-byte row padding, bottom-up row order,
# or BGR→RGB swap breaks the hash. The encode side runs as its own
# mapInPandas stage, so the bytes crossing the decode boundary are
# produced by the engine, not fixtures.
# --------------------------------------------------------------------------
_B22_IMG_ORACLE = """
    WITH d AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT unnest(range(0, 14)) AS y),
    px AS (
      SELECT d.doc_id, d.w, d.h,
        (3 * d.doc_id + y) % 256 AS r,
        (2 * d.doc_id + y) % 256 AS g,
        (d.doc_id + y) % 256 AS b
      FROM d JOIN ys ON y < d.h
    )
    SELECT doc_id,
      CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      CAST(w * h AS INT) AS n_px,
      CAST(w * SUM(r) AS BIGINT) AS sum_r,
      CAST(w * SUM(g) AS BIGINT) AS sum_g,
      CAST(w * SUM(b) AS BIGINT) AS sum_b,
      CAST(w * SUM(r) AS DOUBLE) / (w * h) AS mean_r,
      CAST(w * SUM(g) AS DOUBLE) / (w * h) AS mean_g,
      CAST(w * SUM(b) AS DOUBLE) / (w * h) AS mean_b
    FROM px GROUP BY doc_id, w, h
"""


def _media_payloads_image(df):
    """mapInPandas stage: doc_id → real BMP/PPM/PNG bytes. Pixel (x, y)
    of doc d is channel-wise ((3d+y)%256, (2d+y)%256, (d+y)%256) —
    constant along x, so the oracle only enumerates rows. One third of
    the docs go through the compressed path (real PNG: zlib DEFLATE +
    per-row filters cycling all five types), so the hash-check proves
    the PNG filter reconstruction, not just the uncompressed layouts."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_bmp, encode_png, encode_ppm

    def batches(it):
        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 8 + d % 9, 8 + d % 7
                y = np.arange(h, dtype=np.int64)[:, None, None]
                chan = np.concatenate(
                    [(3 * d + y) % 256, (2 * d + y) % 256, (d + y) % 256],
                    axis=2,
                ).astype(np.uint8)
                px = np.broadcast_to(chan, (h, w, 3)).copy()
                ids.append(d)
                enc = (encode_bmp, encode_ppm, encode_png)[d % 3]
                payloads.append(enc(px))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_image_decode", oracle=_B22_IMG_ORACLE, tags=("B22",))
def b22_image_decode(spark, sf_dir):
    from ..operators.multimodal import decode_images

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_images(_media_payloads_image(docs))


def _media_payloads_gif(df):
    """mapInPandas stage: doc_id → real GIF89a bytes of the SAME
    closed-form corpus as _media_payloads_image (pixel constant along
    x, ≤14 distinct row colors → well inside GIF's 256-color palette).
    Every third doc writes the 4-pass INTERLACED row order, so the
    hash-check proves palette indexing, variable-width LZW, and
    deinterlacing — GIF's LZW is a different compression family from
    PNG's DEFLATE, so this is not the same code path re-proved."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_gif

    def batches(it):
        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 8 + d % 9, 8 + d % 7
                y = np.arange(h, dtype=np.int64)[:, None, None]
                chan = np.concatenate(
                    [(3 * d + y) % 256, (2 * d + y) % 256, (d + y) % 256],
                    axis=2,
                ).astype(np.uint8)
                px = np.broadcast_to(chan, (h, w, 3)).copy()
                ids.append(d)
                payloads.append(encode_gif(px, interlace=d % 3 == 0))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


# --------------------------------------------------------------------------
# B22r — bilinear image RESIZE (operators/multimodal.py
# resize_bilinear): decode → downscale 2:1 → stats of the RESIZED
# pixels. At exact 2:1 the half-pixel-center bilinear weights are
# exactly 0.25, so each output pixel is the round-half-up mean of its
# 2x2 block — with the corpus constant along x that collapses to
# (row(2y) + row(2y+1) + 1) // 2, a pure-integer closed form DuckDB
# reproduces (modulo wrap at 255→0 included, both engines evaluate the
# same expression). Even dims keep every source index in-bounds, so
# the oracle needs no edge-clamp cases; clamping is pytest-covered.
# --------------------------------------------------------------------------
_B22_RESIZE_ORACLE = """
    WITH d AS (
      SELECT doc_id,
        8 + 2 * (doc_id % 5) AS w,
        8 + 2 * (doc_id % 4) AS h
      FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT unnest(range(0, 7)) AS yy),
    px AS (
      SELECT d.doc_id, d.w // 2 AS ow, d.h // 2 AS oh,
        ((3*d.doc_id + 2*yy) % 256 + (3*d.doc_id + 2*yy + 1) % 256 + 1) // 2 AS r,
        ((2*d.doc_id + 2*yy) % 256 + (2*d.doc_id + 2*yy + 1) % 256 + 1) // 2 AS g,
        ((d.doc_id + 2*yy) % 256 + (d.doc_id + 2*yy + 1) % 256 + 1) // 2 AS b
      FROM d JOIN ys ON yy < d.h // 2
    )
    SELECT doc_id,
      CAST(ow AS INT) AS width, CAST(oh AS INT) AS height,
      CAST(ow * oh AS INT) AS n_px,
      CAST(ow * SUM(r) AS BIGINT) AS sum_r,
      CAST(ow * SUM(g) AS BIGINT) AS sum_g,
      CAST(ow * SUM(b) AS BIGINT) AS sum_b,
      CAST(ow * SUM(r) AS DOUBLE) / (ow * oh) AS mean_r,
      CAST(ow * SUM(g) AS DOUBLE) / (ow * oh) AS mean_g,
      CAST(ow * SUM(b) AS DOUBLE) / (ow * oh) AS mean_b
    FROM px GROUP BY doc_id, ow, oh
"""


def _media_payloads_even(df):
    """mapInPandas stage: the image corpus on EVEN dims (w = 8+2(d%5),
    h = 8+2(d%4)), rotating through all four lossless encoders
    (BMP/PPM/PNG/GIF) so the resize query exercises every decode path
    upstream of the interpolation."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import (
        encode_bmp,
        encode_gif,
        encode_png,
        encode_ppm,
    )

    def batches(it):
        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 8 + 2 * (d % 5), 8 + 2 * (d % 4)
                y = np.arange(h, dtype=np.int64)[:, None, None]
                chan = np.concatenate(
                    [(3 * d + y) % 256, (2 * d + y) % 256, (d + y) % 256],
                    axis=2,
                ).astype(np.uint8)
                px = np.broadcast_to(chan, (h, w, 3)).copy()
                ids.append(d)
                enc = (encode_bmp, encode_ppm, encode_png, encode_gif)[d % 4]
                payloads.append(enc(px))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_resize_bilinear", oracle=_B22_RESIZE_ORACLE, tags=("B22",))
def b22_resize_bilinear(spark, sf_dir):
    """decode → bilinear 2:1 downscale → exact stats; the brief's
    'resize' slot of the multimodal pipeline (decode / feature-extract
    / resize / frame-sample), run as one Arrow-batched mapInPandas
    stage so pixels never leave the task between decode and resize."""
    from ..operators.multimodal import decode_resize_images

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_resize_images(_media_payloads_even(docs), scale=2)


# --------------------------------------------------------------------------
# B22a — image AUGMENTATION (operators/multimodal.py augment_images):
# flip → rot90(k) → center crop, the standard training-data aug chain,
# with per-doc deterministic choices (flip = d%2, rot = d%4). The
# corpus pattern depends on BOTH x and y, and the checked stats
# include a top-left-QUADRANT sum — position-sensitive, so a wrong
# flip axis, rotation direction (np.rot90 is CCW), or off-center crop
# moves the hash even where a whole-image sum would not. The oracle
# replays the exact index algebra: flip x→w-1-x, the four verified
# rot90 coordinate maps, and the (dim-8)//2 crop window.
# --------------------------------------------------------------------------
_B22_AUGMENT_ORACLE = """
    WITH d AS (
      SELECT doc_id,
        8 + 2 * (doc_id % 5) AS w,
        8 + 2 * (doc_id % 4) AS h,
        doc_id % 2 AS flip,
        CAST(doc_id % 4 AS INT) AS rot
      FROM documents WHERE doc_id < 200
    ),
    xs AS (SELECT unnest(range(0, 16)) AS x),
    ys AS (SELECT unnest(range(0, 14)) AS y),
    px AS (
      SELECT d.doc_id, d.w, d.h, d.rot, x, y,
        CASE WHEN d.flip = 1 THEN d.w - 1 - x ELSE x END AS x1,
        (3 * d.doc_id + 2 * x + 5 * y) % 256 AS r,
        (2 * d.doc_id + 3 * x + y) % 256 AS g,
        (d.doc_id + x + 4 * y) % 256 AS b
      FROM d JOIN xs ON x < d.w JOIN ys ON y < d.h
    ),
    rotated AS (
      SELECT doc_id, r, g, b,
        CASE rot WHEN 0 THEN y WHEN 1 THEN w - 1 - x1
                 WHEN 2 THEN h - 1 - y ELSE x1 END AS rr,
        CASE rot WHEN 0 THEN x1 WHEN 1 THEN y
                 WHEN 2 THEN w - 1 - x1 ELSE h - 1 - y END AS cc,
        CASE WHEN rot IN (1, 3) THEN w ELSE h END AS h2,
        CASE WHEN rot IN (1, 3) THEN h ELSE w END AS w2
      FROM px
    ),
    cropped AS (
      SELECT doc_id, r, g, b,
        rr - (h2 - 8) // 2 AS oy,
        cc - (w2 - 8) // 2 AS ox
      FROM rotated
      WHERE rr >= (h2 - 8) // 2 AND rr < (h2 - 8) // 2 + 8
        AND cc >= (w2 - 8) // 2 AND cc < (w2 - 8) // 2 + 8
    )
    SELECT doc_id,
      CAST(8 AS INT) AS out_w, CAST(8 AS INT) AS out_h,
      CAST(SUM(r) AS BIGINT) AS sum_r,
      CAST(SUM(g) AS BIGINT) AS sum_g,
      CAST(SUM(b) AS BIGINT) AS sum_b,
      CAST(SUM(CASE WHEN oy < 4 AND ox < 4 THEN r ELSE 0 END) AS BIGINT)
        AS tl_r,
      CAST(SUM(CASE WHEN oy < 4 AND ox < 4 THEN g ELSE 0 END) AS BIGINT)
        AS tl_g
    FROM cropped GROUP BY doc_id
"""


def _media_payloads_aug(df):
    """mapInPandas stage: the 2-D (x AND y dependent) corpus on even
    dims, alternating BMP/PPM, plus the per-doc aug spec columns."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_bmp, encode_ppm

    def batches(it):
        for pdf in it:
            ids, payloads, flips, rots = [], [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 8 + 2 * (d % 5), 8 + 2 * (d % 4)
                x = np.arange(w, dtype=np.int64)[None, :]
                y = np.arange(h, dtype=np.int64)[:, None]
                px = np.stack(
                    [
                        (3 * d + 2 * x + 5 * y) % 256,
                        (2 * d + 3 * x + y) % 256,
                        (d + x + 4 * y) % 256,
                    ],
                    axis=2,
                ).astype(np.uint8)
                ids.append(d)
                payloads.append((encode_bmp, encode_ppm)[d % 2](px))
                flips.append(d % 2)
                rots.append(d % 4)
            yield pd.DataFrame(
                {
                    "doc_id": ids, "payload": payloads,
                    "flip": flips, "rot": rots,
                }
            )

    return df.mapInPandas(
        batches, "doc_id bigint, payload binary, flip int, rot int"
    )


# --------------------------------------------------------------------------
# B22e — histogram EQUALIZATION (contrast normalization): per-channel
# cdf remap in exact integer math (round-half-up as
# ((cdf-cdf_min)*510 + den) // (2*den)), so the DuckDB oracle rebuilds
# the per-(doc, channel) histogram with a window cumsum and reproduces
# every remapped pixel bit-for-bit. Runs over the 2-D aug corpus via
# its BMP/PPM payload stage.
# --------------------------------------------------------------------------
_B22_EQUALIZE_ORACLE = """
    WITH d AS (
      SELECT doc_id,
        8 + 2 * (doc_id % 5) AS w,
        8 + 2 * (doc_id % 4) AS h
      FROM documents WHERE doc_id < 200
    ),
    xs AS (SELECT unnest(range(0, 16)) AS x),
    ys AS (SELECT unnest(range(0, 14)) AS y),
    px AS (
      SELECT d.doc_id, d.w, d.h, ch.c,
        CASE ch.c WHEN 0 THEN (3 * d.doc_id + 2 * x + 5 * y) % 256
                  WHEN 1 THEN (2 * d.doc_id + 3 * x + y) % 256
                  ELSE (d.doc_id + x + 4 * y) % 256 END AS v
      FROM d
      JOIN xs ON x < d.w JOIN ys ON y < d.h
      CROSS JOIN (VALUES (0), (1), (2)) ch(c)
    ),
    cnt AS (
      SELECT doc_id, w, h, c, v, COUNT(*) AS n FROM px
      GROUP BY doc_id, w, h, c, v
    ),
    cdf AS (
      SELECT *,
        SUM(n) OVER (PARTITION BY doc_id, c ORDER BY v) AS cum,
        FIRST_VALUE(n) OVER (PARTITION BY doc_id, c ORDER BY v)
          AS cdf_min
      FROM cnt
    ),
    mapped AS (
      SELECT doc_id, w, h, c,
        n * (((cum - cdf_min) * 510 + (w * h - cdf_min))
             // (2 * (w * h - cdf_min))) AS contrib
      FROM cdf
    )
    SELECT doc_id,
      CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      CAST(w * h AS INT) AS n_px,
      CAST(SUM(CASE WHEN c = 0 THEN contrib ELSE 0 END) AS BIGINT)
        AS sum_r,
      CAST(SUM(CASE WHEN c = 1 THEN contrib ELSE 0 END) AS BIGINT)
        AS sum_g,
      CAST(SUM(CASE WHEN c = 2 THEN contrib ELSE 0 END) AS BIGINT)
        AS sum_b
    FROM mapped GROUP BY doc_id, w, h
"""


@register("b22_hist_equalize", oracle=_B22_EQUALIZE_ORACLE, tags=("B22",))
def b22_hist_equalize(spark, sf_dir):
    """decode → per-channel histogram equalization → exact stats; the
    aug-corpus channels are x+y dependent so the cdf remap is
    non-trivial per doc (each channel has a distinct value histogram).
    Corpus dims are never constant-channel, so the den > 0 branch is
    the one checked; the den = 0 edge is pytest-pinned."""
    from ..operators.multimodal import equalize_images

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return equalize_images(
        _media_payloads_aug(docs).select("doc_id", "payload")
    )


@register("b22_augmentations", oracle=_B22_AUGMENT_ORACLE, tags=("B22",))
def b22_augmentations(spark, sf_dir):
    from ..operators.multimodal import augment_images

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return augment_images(_media_payloads_aug(docs), crop=(8, 8))


# --------------------------------------------------------------------------
# B19/B22 — IMAGE near-duplicate detection via 64-bit perceptual hash
# (pHash: luma → 32x32 → DCT → median-threshold sign bits; see
# operators/multimodal.py phash64). The corpus is 25 distinct base
# images, each appearing 8x under different BRIGHTNESS offsets — the
# canonical near-dup case exact byte/pixel dedup cannot catch. pHash
# drops the DC coefficient, so a pure exposure shift provably hashes
# identically, and the expected duplicate groups are closed-form
# (doc_id % 25), giving a full SQL oracle for a perceptual pipeline.
# Scale path mirrors MinHash-LSH: hashes are banded into 4x16-bit
# keys and candidates come from a bucket self-join (never all-pairs);
# the Hamming verify runs only on bucket collisions. Validated
# corpus-side: min cross-seed Hamming is 20, so threshold 2 admits
# exactly the same-seed pairs.
# --------------------------------------------------------------------------
_B19_PHASH_ORACLE = """
    SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(0 AS INT) AS hamming
    FROM documents a JOIN documents b
      ON a.doc_id % 25 = b.doc_id % 25 AND a.doc_id < b.doc_id
    WHERE a.doc_id < 200 AND b.doc_id < 200
"""


def _media_payloads_phash(df):
    """mapInPandas stage: doc_id → PNG bytes of base image (doc_id %
    25) at brightness offset (doc_id // 25) - 3. Base pixels live in
    [64, 191] so the ±4 offsets never clip (clipping would break the
    provable DC-only shift)."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_png

    def batches(it):
        for pdf in it:
            ids, payloads = [], []
            x = np.arange(32, dtype=np.int64)[None, :]
            y = np.arange(32, dtype=np.int64)[:, None]
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                s, off = d % 25, (d // 25) - 3
                pat = (37 * s + 11 * x + 23 * y + x * y * (s + 3)) % 128
                v = (64 + pat + off).astype(np.uint8)
                px = np.stack([v, v, v], axis=2)
                ids.append(d)
                payloads.append(encode_png(px))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b19_phash_image_neardup", oracle=_B19_PHASH_ORACLE,
          tags=("B19", "B22"))
def b19_phash_image_neardup(spark, sf_dir):
    """decode → pHash → banded LSH bucket join → Hamming-verified
    near-dup image pairs. Only the 8-byte hash leaves the decode task;
    the self-join shuffles (band_key, doc_id, phash) rows — at 100 TB
    of images that is ~32 bytes x 4 bands per image, and the verify
    stage touches candidate pairs only."""
    from ..operators.multimodal import phash_images

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    hashes = phash_images(_media_payloads_phash(docs))
    bands = hashes.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.lit(b) * 65536
                    + F.shiftrightunsigned("phash", 16 * b).bitwiseAND(
                        F.lit(65535)
                    )
                    for b in range(4)
                ]
            )
        ).alias("band_key"),
    )
    cand = (
        bands.alias("l")
        .join(bands.alias("r"), "band_key")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("d1"),
            F.col("r.doc_id").alias("d2"),
            F.col("l.phash").alias("ha"),
            F.col("r.phash").alias("hb"),
        )
        .distinct()
    )
    return cand.select(
        "d1",
        "d2",
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
    ).where(F.col("hamming") <= F.lit(2))


@register("b22_gif_decode", oracle=_B22_IMG_ORACLE, tags=("B22",))
def b22_gif_decode(spark, sf_dir):
    """GIF89a decode (operators/multimodal.py decode_gif): palette +
    variable-width LZW + interlace, checked against the same
    closed-form per-channel-sum oracle as b22_image_decode. The
    reference delegates media entirely (855-LoC ETL, no image path);
    this is north-star B22 surface."""
    from ..operators.multimodal import decode_images

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_images(_media_payloads_gif(docs))


# --------------------------------------------------------------------------
# B22j — REAL baseline JPEG decode (pure numpy/stdlib: marker walk,
# canonical Huffman decode, dequant, IDCT, YCbCr→RGB — see
# operators/multimodal.py decode_jpeg). Payloads are engine-encoded
# JPEGs of 8x8-BLOCK-CONSTANT GRAYSCALE images with all-ones
# quantization: a constant block carries only its DC coefficient,
# which is integer-exact through FDCT→quant→dequant→IDCT, and R=G=B
# makes the YCbCr round trip exact — so the decoded pixels equal the
# closed-form construction EXACTLY and the per-channel sums are
# SQL-derivable. Every third doc adds a restart interval, proving the
# RSTn/DRI path against the same oracle. Lossy content is covered by
# PSNR tests in pytest (an SQL oracle can't express quantization
# noise).
# --------------------------------------------------------------------------
_B22_JPEG_ORACLE = """
    WITH d AS (
      SELECT doc_id,
        8 * (1 + doc_id % 3) AS w,
        8 * (1 + doc_id % 2) AS h
      FROM documents WHERE doc_id < 200
    ),
    bxs AS (SELECT unnest(range(0, 3)) AS bx),
    bys AS (SELECT unnest(range(0, 2)) AS by),
    blocks AS (
      SELECT d.doc_id, d.w, d.h,
        (31 * d.doc_id + 7 * bx + 13 * by) % 256 AS g
      FROM d
      JOIN bxs ON bx < d.w // 8
      JOIN bys ON by < d.h // 8
    )
    SELECT doc_id,
      CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      CAST(w * h AS INT) AS n_px,
      CAST(64 * SUM(g) AS BIGINT) AS sum_r,
      CAST(64 * SUM(g) AS BIGINT) AS sum_g,
      CAST(64 * SUM(g) AS BIGINT) AS sum_b,
      CAST(64 * SUM(g) AS DOUBLE) / (w * h) AS mean_r,
      CAST(64 * SUM(g) AS DOUBLE) / (w * h) AS mean_g,
      CAST(64 * SUM(g) AS DOUBLE) / (w * h) AS mean_b
    FROM blocks GROUP BY doc_id, w, h
"""


def _media_payloads_jpeg(df, subsampling="444", progressive=False):
    """mapInPandas stage: doc_id → real baseline JPEG bytes. Block
    (bx, by) of doc d is the constant gray (31d + 7bx + 13by) % 256;
    docs with d % 3 == 0 encode with a restart interval of 2. The same
    corpus stays exact at 4:2:0 (grayscale chroma is constant 128 —
    invariant under box downsample + replication upsample — and the
    8×8-constant luma blocks survive the 16-multiple edge-replication
    pad), so one oracle covers both sampling layouts."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_jpeg, encode_jpeg_progressive

    enc = encode_jpeg_progressive if progressive else encode_jpeg

    def batches(it):
        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                bw, bh = 1 + d % 3, 1 + d % 2
                bx = np.arange(bw, dtype=np.int64)[None, :]
                by = np.arange(bh, dtype=np.int64)[:, None]
                g = ((31 * d + 7 * bx + 13 * by) % 256).astype(np.uint8)
                gray = g.repeat(8, axis=0).repeat(8, axis=1)
                px = np.stack([gray, gray, gray], axis=2)
                ids.append(d)
                payloads.append(
                    enc(
                        px,
                        restart_interval=2 if d % 3 == 0 else 0,
                        subsampling=subsampling,
                    )
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_jpeg_decode", oracle=_B22_JPEG_ORACLE, tags=("B22",))
def b22_jpeg_decode(spark, sf_dir):
    from ..operators.multimodal import decode_images

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_images(_media_payloads_jpeg(docs))


@register("b22_jpeg_420", oracle=_B22_JPEG_ORACLE, tags=("B22",))
def b22_jpeg_420(spark, sf_dir):
    """Same corpus, encoded 4:2:0 (2×2-sampled luma, box-averaged
    chroma, 16×16 MCUs — the layout camera files actually use) and
    decoded through the general interleaved-MCU walk with replication
    upsampling (operators/multimodal.py decode_jpeg). Grayscale makes
    the subsample round trip exact, so the SAME closed-form oracle
    hash-checks this path — restart markers now per 16×16 MCU."""
    from ..operators.multimodal import decode_images

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_images(_media_payloads_jpeg(docs, subsampling="420"))


@register("b22_jpeg_progressive", oracle=_B22_JPEG_ORACLE, tags=("B22",))
def b22_jpeg_progressive(spark, sf_dir):
    """Same corpus, encoded as PROGRESSIVE JPEG (SOF2, T.81 Annex G:
    spectral-selection + successive-approximation over a 10-scan
    script — the layout most web JPEGs use) at 4:2:0, and decoded
    through the multi-scan coefficient-accumulation path
    (operators/multimodal.py decode_jpeg_progressive). Successive
    approximation is lossless once all scans land, so the decoded
    pixels equal the baseline twin's bit-for-bit and the SAME
    closed-form SQL oracle hash-checks this path; every third doc
    keeps its restart interval (per-scan RSTn + DC/EOB-run resets)."""
    from ..operators.multimodal import decode_images

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_images(
        _media_payloads_jpeg(docs, subsampling="420", progressive=True)
    )


# --------------------------------------------------------------------------
# B22i — REAL audio decode (RIFF/WAVE PCM16, proper chunk walk):
# payloads are WAV files with doc_id-determined sample rate and a
# closed-form int16 sample sequence; the decoded header fields and
# exact integer sample statistics hash-check against SQL.
# --------------------------------------------------------------------------
_B22_WAV_ORACLE = """
    WITH d AS (
      SELECT doc_id, 64 + doc_id % 64 AS n,
        8000 + (doc_id % 8) * 1000 AS rate
      FROM documents WHERE doc_id < 200
    ),
    idx AS (SELECT unnest(range(0, 128)) AS i),
    s AS (
      SELECT d.doc_id, d.n, d.rate,
        (7 * d.doc_id + 31 * i) % 2048 - 1024 AS amp
      FROM d JOIN idx ON i < d.n
    )
    SELECT doc_id,
      CAST(rate AS INT) AS sample_rate,
      1 AS channels,
      CAST(n AS INT) AS n_samples,
      CAST(SUM(amp) AS BIGINT) AS sum_amp,
      CAST(MAX(amp) AS INT) AS peak
    FROM s GROUP BY doc_id, n, rate
"""


def _media_payloads_wav(df):
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_wav

    def batches(it):
        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 64 + d % 64
                i = np.arange(n, dtype=np.int64)
                samples = ((7 * d + 31 * i) % 2048 - 1024).astype(np.int16)
                ids.append(d)
                payloads.append(
                    encode_wav(samples, 8000 + (d % 8) * 1000)
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_audio_decode", oracle=_B22_WAV_ORACLE, tags=("B22",))
def b22_audio_decode(spark, sf_dir):
    from ..operators.multimodal import decode_audio

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_audio(_media_payloads_wav(docs))


# --------------------------------------------------------------------------
# B22v — VOICE-ACTIVITY DETECTION (energy-gated silence trimming):
# decode WAV → 16-sample frame energies (exact integer sum of
# squares) → threshold gate → consecutive active frames merged into
# segments. The trim-silence pass audio pipelines run before feature
# extraction (and for PLC acoustics, the "machine running vs idle"
# segmenter). The corpus plants silence closed-form: every third
# 16-sample frame carries low-amplitude hiss ((7d+31i) % 32, energy
# <= 16·31² ≈ 15k) and the rest the full sawtooth (energy >= ~330k by
# the arithmetic-sequence bound), so the 100k threshold separates
# them with margin AND the quiet frames are genuinely nonzero — the
# gate is a real energy comparison, not a zero test. The whole
# decode→frame→gate→merge runs in ONE Arrow-batched map-only pass
# (operators/multimodal.vad_segments); the islands merge is
# per-doc-local so it never leaves the task. Oracle replays synth →
# energies → gaps-and-islands in SQL.
# --------------------------------------------------------------------------
_B22_VAD_ORACLE = """
    WITH d AS (
      SELECT doc_id, 64 + doc_id % 64 AS n
      FROM documents WHERE doc_id < 200
    ),
    idx AS (SELECT unnest(range(0, 128)) AS i),
    s AS (
      SELECT d.doc_id, i, i // 16 AS f,
        CASE WHEN (i // 16) % 3 = 0
             THEN (7 * d.doc_id + 31 * i) % 32
             ELSE (7 * d.doc_id + 31 * i) % 2048 - 1024 END AS amp
      FROM d JOIN idx ON i < d.n
    ),
    fr AS (
      SELECT doc_id, f, SUM(amp * amp) AS energy
      FROM s GROUP BY 1, 2
    ),
    act AS (
      SELECT doc_id, f, energy,
        f - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f) AS grp
      FROM fr WHERE energy >= 100000
    ),
    seg AS (
      SELECT doc_id, grp,
        MIN(f) AS start_frame, MAX(f) AS end_frame,
        COUNT(*) AS n_frames, SUM(energy) AS energy_sum,
        MAX(energy) AS peak_energy
      FROM act GROUP BY 1, 2
    )
    SELECT doc_id,
      CAST(ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY start_frame) - 1 AS INT) AS seg_idx,
      CAST(start_frame AS INT) AS start_frame,
      CAST(end_frame AS INT) AS end_frame,
      CAST(n_frames AS INT) AS n_frames,
      CAST(energy_sum AS BIGINT) AS energy_sum,
      CAST(peak_energy AS BIGINT) AS peak_energy
    FROM seg
"""


def _media_payloads_wav_vad(df):
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_wav

    def batches(it):
        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 64 + d % 64
                i = np.arange(n, dtype=np.int64)
                loud = (7 * d + 31 * i) % 2048 - 1024
                hiss = (7 * d + 31 * i) % 32
                quiet = (i // 16) % 3 == 0
                samples = np.where(quiet, hiss, loud).astype(np.int16)
                ids.append(d)
                payloads.append(encode_wav(samples, 8000 + (d % 8) * 1000))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_audio_vad", oracle=_B22_VAD_ORACLE, tags=("B22",))
def b22_audio_vad(spark, sf_dir):
    from ..operators.multimodal import vad_segments

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return vad_segments(_media_payloads_wav_vad(docs))


# --------------------------------------------------------------------------
# B22p — COMPRESSED audio decode: IMA ADPCM (WAV format 0x11, the
# classic 4-bit telephony/game codec — pure integer state machine, no
# external codec lib needed). The corpus samples are closed-form, so
# the DuckDB oracle replays the ENTIRE encode→reconstruct state
# machine as a recursive CTE (the same pattern as the EWMA/Holt fold
# oracles): per step, the 3-bit magnitude search against the step
# table, the diffq reconstruction with >>1/>>2/>>3 shifts, the ±32767
# predictor clamp, and the [0, 88] index clamp. Any divergence in the
# table, clamping, or nibble handling breaks the hash on 200 docs x
# up to 127 steps.
# --------------------------------------------------------------------------
_IMA_STEP_SQL = (
    "[7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,"
    "60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,"
    "307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,"
    "1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,"
    "4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,"
    "13899,15289,16818,18500,20350,22385,24623,27086,29794,32767]"
)

_B22_ADPCM_ORACLE = f"""
    WITH RECURSIVE d AS (
      SELECT doc_id,
        CAST(64 + doc_id % 64 AS INT) AS n,
        CAST(doc_id % 89 AS INT) AS idx0,
        CAST((7 * doc_id) % 2048 - 1024 AS INT) AS s0,
        CAST(8000 + (doc_id % 8) * 1000 AS INT) AS rate
      FROM documents WHERE doc_id < 200
    ),
    st AS (
      SELECT doc_id, n, rate, 0 AS i, s0 AS pred, idx0 AS idx,
             CAST(s0 AS BIGINT) AS cum, s0 AS peak
      FROM d
      UNION ALL
      SELECT doc_id, n, rate, i, pred2 AS pred, idx2 AS idx,
             cum + pred2, GREATEST(peak, pred2)
      FROM (
        SELECT *,
          CASE WHEN sgn THEN GREATEST(-32768, pred - dq)
               ELSE LEAST(32767, pred + dq) END AS pred2,
          LEAST(88, GREATEST(0,
            idx + [-1,-1,-1,-1,2,4,6,8][mag + 1])) AS idx2
        FROM (
          SELECT *,
            (step // 8)
            + CASE WHEN b4 THEN step ELSE 0 END
            + CASE WHEN b2 THEN step // 2 ELSE 0 END
            + CASE WHEN b1 THEN step // 4 ELSE 0 END AS dq,
            (CASE WHEN b4 THEN 4 ELSE 0 END
             + CASE WHEN b2 THEN 2 ELSE 0 END
             + CASE WHEN b1 THEN 1 ELSE 0 END) AS mag
          FROM (
            SELECT *, ad3 >= step // 4 AS b1
            FROM (
              SELECT *, ad2 >= step // 2 AS b2,
                ad2 - CASE WHEN ad2 >= step // 2
                           THEN step // 2 ELSE 0 END AS ad3
              FROM (
                SELECT *, ad >= step AS b4,
                  ad - CASE WHEN ad >= step THEN step ELSE 0 END AS ad2
                FROM (
                  SELECT doc_id, n, rate, i + 1 AS i, pred, idx, cum,
                    peak,
                    {_IMA_STEP_SQL}[idx + 1] AS step,
                    ((7 * doc_id + 31 * (i + 1)) % 2048 - 1024) - pred
                      AS diff,
                    ((7 * doc_id + 31 * (i + 1)) % 2048 - 1024) - pred
                      < 0 AS sgn,
                    ABS(((7 * doc_id + 31 * (i + 1)) % 2048 - 1024)
                      - pred) AS ad
                  FROM st WHERE i + 1 < n
                ) q1
              ) q2
            ) q3
          ) q4
        ) q5
      ) q6
    )
    SELECT doc_id,
      rate AS sample_rate,
      1 AS channels,
      CAST(n AS INT) AS n_samples,
      CAST(cum AS BIGINT) AS sum_amp,
      CAST(peak AS INT) AS peak
    FROM st WHERE i = n - 1
"""


def _media_payloads_adpcm(df):
    """mapInPandas stage: doc_id → IMA-ADPCM WAV of the same
    closed-form sample sequence as the PCM corpus, initial step index
    doc_id % 89 (covers the whole step table across the corpus)."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_wav_adpcm

    def batches(it):
        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 64 + d % 64
                i = np.arange(n, dtype=np.int64)
                samples = ((7 * d + 31 * i) % 2048 - 1024).astype(np.int16)
                ids.append(d)
                payloads.append(
                    encode_wav_adpcm(
                        samples, 8000 + (d % 8) * 1000, step_index=d % 89
                    )
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_adpcm_decode", oracle=_B22_ADPCM_ORACLE, tags=("B22",))
def b22_adpcm_decode(spark, sf_dir):
    """IMA-ADPCM WAV decode → exact integer stats of the RECONSTRUCTED
    samples (cites the stateful-fold oracle pattern of the EWMA/Holt
    queries — here the state is (predictor, step index))."""
    from ..operators.multimodal import decode_audio

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_audio(_media_payloads_adpcm(docs))


# --------------------------------------------------------------------------
# B22o — G.711 μ-law decode (WAV format 0x07 — the telephony
# companding codec; one code byte per sample, no state). Every
# encode/decode step is pure integer (sign/exponent/mantissa,
# ones-complement), so the oracle re-derives the reconstructed value
# per closed-form sample: exponent by threshold CASE, mantissa by
# shift/mask, expansion by ((8*mant + 132) << e) - 132.
# --------------------------------------------------------------------------
_B22_MULAW_ORACLE = """
    WITH d AS (
      SELECT doc_id, 64 + doc_id % 64 AS n,
        8000 + (doc_id % 8) * 1000 AS rate
      FROM documents WHERE doc_id < 200
    ),
    idx AS (SELECT unnest(range(0, 128)) AS i),
    s AS (
      SELECT d.doc_id, d.n, d.rate,
        (7 * d.doc_id + 31 * i) % 2048 - 1024 AS a
      FROM d JOIN idx ON i < d.n
    ),
    enc AS (
      SELECT doc_id, n, rate, a < 0 AS sgn,
        LEAST(ABS(a), 32635) + 132 AS x
      FROM s
    ),
    ex AS (
      SELECT *, CASE WHEN x >= 16384 THEN 7 WHEN x >= 8192 THEN 6
                     WHEN x >= 4096 THEN 5 WHEN x >= 2048 THEN 4
                     WHEN x >= 1024 THEN 3 WHEN x >= 512 THEN 2
                     WHEN x >= 256 THEN 1 ELSE 0 END AS e
      FROM enc
    ),
    rec AS (
      SELECT doc_id, n, rate,
        CASE WHEN sgn THEN -(((x // (1 << (e + 3))) % 16 * 8 + 132)
                             * (1 << e) - 132)
             ELSE ((x // (1 << (e + 3))) % 16 * 8 + 132)
                  * (1 << e) - 132 END AS v
      FROM ex
    )
    SELECT doc_id,
      CAST(rate AS INT) AS sample_rate,
      1 AS channels,
      CAST(n AS INT) AS n_samples,
      CAST(SUM(v) AS BIGINT) AS sum_amp,
      CAST(MAX(v) AS INT) AS peak
    FROM rec GROUP BY doc_id, n, rate
"""


def _media_payloads_mulaw(df):
    """mapInPandas stage: doc_id → G.711 μ-law WAV of the closed-form
    PCM sample sequence."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_wav_mulaw

    def batches(it):
        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 64 + d % 64
                i = np.arange(n, dtype=np.int64)
                samples = ((7 * d + 31 * i) % 2048 - 1024).astype(np.int16)
                ids.append(d)
                payloads.append(
                    encode_wav_mulaw(samples, 8000 + (d % 8) * 1000)
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


# A-law twin (WAV format 0x06): same per-sample integer re-derivation,
# A-law's 13-bit magnitude, XOR-0x55 inversion, and inverted sign
# polarity (sign bit SET = non-negative).
_B22_ALAW_ORACLE = """
    WITH d AS (
      SELECT doc_id, 64 + doc_id % 64 AS n,
        8000 + (doc_id % 8) * 1000 AS rate
      FROM documents WHERE doc_id < 200
    ),
    idx AS (SELECT unnest(range(0, 128)) AS i),
    s AS (
      SELECT d.doc_id, d.n, d.rate,
        (7 * d.doc_id + 31 * i) % 2048 - 1024 AS a
      FROM d JOIN idx ON i < d.n
    ),
    enc AS (
      SELECT doc_id, n, rate, a >= 0 AS pos,
        LEAST(ABS(a) // 8, 4095) AS ax
      FROM s
    ),
    ex AS (
      SELECT *, CASE WHEN ax >= 2048 THEN 7 WHEN ax >= 1024 THEN 6
                     WHEN ax >= 512 THEN 5 WHEN ax >= 256 THEN 4
                     WHEN ax >= 128 THEN 3 WHEN ax >= 64 THEN 2
                     WHEN ax >= 32 THEN 1 ELSE 0 END AS e
      FROM enc
    ),
    rec AS (
      SELECT doc_id, n, rate,
        CASE WHEN pos THEN 1 ELSE -1 END * 8 *
        CASE WHEN e = 0 THEN (ax // 2) * 2 + 1
             ELSE ((ax // (1 << e)) % 16 + 16) * (1 << e)
                  + (1 << (e - 1)) END AS v
      FROM ex
    )
    SELECT doc_id,
      CAST(rate AS INT) AS sample_rate,
      1 AS channels,
      CAST(n AS INT) AS n_samples,
      CAST(SUM(v) AS BIGINT) AS sum_amp,
      CAST(MAX(v) AS INT) AS peak
    FROM rec GROUP BY doc_id, n, rate
"""


def _media_payloads_alaw(df):
    """mapInPandas stage: doc_id → G.711 A-law WAV of the closed-form
    PCM sample sequence."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_wav_alaw

    def batches(it):
        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 64 + d % 64
                i = np.arange(n, dtype=np.int64)
                samples = ((7 * d + 31 * i) % 2048 - 1024).astype(np.int16)
                ids.append(d)
                payloads.append(
                    encode_wav_alaw(samples, 8000 + (d % 8) * 1000)
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_alaw_decode", oracle=_B22_ALAW_ORACLE, tags=("B22",))
def b22_alaw_decode(spark, sf_dir):
    from ..operators.multimodal import decode_audio

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_audio(_media_payloads_alaw(docs))


@register("b22_mulaw_decode", oracle=_B22_MULAW_ORACLE, tags=("B22",))
def b22_mulaw_decode(spark, sf_dir):
    from ..operators.multimodal import decode_audio

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_audio(_media_payloads_mulaw(docs))


# --------------------------------------------------------------------------
# B22q — audio RESAMPLING (operators/multimodal.py resample_linear):
# decode → linear-interpolation rate conversion to 16 kHz → exact
# stats of the RESAMPLED signal. The corpus rates are 1000*(8+m) Hz
# (m = doc_id % 8), so every source position is an exact multiple of
# 1/16 — binary-exact in float64 — and each output sample has the
# pure-integer closed form (a*(16-k) + b*k + 8) // 16 in FLOOR
# semantics. DuckDB's // truncates toward zero on negatives, so the
# oracle shifts by +32768 (divisible by 16) to stay non-negative
# before dividing.
# --------------------------------------------------------------------------
_B22_RESAMPLE_ORACLE = """
    WITH d AS (
      SELECT doc_id, 64 + doc_id % 64 AS n, 8 + doc_id % 8 AS m
      FROM documents WHERE doc_id < 200
    ),
    jx AS (SELECT unnest(range(0, 256)) AS j),
    o AS (
      SELECT d.doc_id, d.n, j,
        (j * m) // 16 AS i0,
        (j * m) % 16 AS k
      FROM d JOIN jx ON j < (d.n * 16) // m
    ),
    amp AS (
      SELECT doc_id, j, k,
        (7 * doc_id + 31 * i0) % 2048 - 1024 AS a,
        (7 * doc_id + 31 * LEAST(i0 + 1, n - 1)) % 2048 - 1024 AS b
      FROM o
    ),
    res AS (
      SELECT doc_id,
        (a * (16 - k) + b * k + 8 + 32768) // 16 - 2048 AS v
      FROM amp
    )
    SELECT doc_id,
      CAST(16000 AS INT) AS sample_rate,
      CAST(COUNT(*) AS INT) AS n_samples,
      CAST(SUM(v) AS BIGINT) AS sum_amp,
      CAST(MAX(v) AS INT) AS peak
    FROM res GROUP BY doc_id
"""


@register("b22_audio_resample", oracle=_B22_RESAMPLE_ORACLE, tags=("B22",))
def b22_audio_resample(spark, sf_dir):
    """WAV decode → linear resample to 16 kHz → exact integer stats,
    over the b22_audio_decode corpus (8 distinct source rates, all
    with binary-exact interpolation positions)."""
    from ..operators.multimodal import resample_audio

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return resample_audio(_media_payloads_wav(docs), sr_out=16000)


# --------------------------------------------------------------------------
# B22s — audio SPECTROGRAM with a full SQL oracle. The trick: square
# waves. Doc d is a ±A_d square wave (A_d = 100 + d%50) whose period
# p_d = 2^(2 + d%6) divides the 512-sample frame, so (a) every sample
# is exactly ±A_d — integer PCM16, no quantization noise — and (b) the
# FFT's invariants are closed-form: the dominant power bin is the
# fundamental 512/p_d (harmonics carry <=1/9 of its power), and the
# Parseval round-trip round(sum|X|^2 / N) equals sum(x^2) = 512*A_d^2
# EXACTLY. So DuckDB checks a real FFT pipeline's frequency
# localization and energy conservation without computing any
# transcendental itself. 4 identical frames per doc prove the framing.
# --------------------------------------------------------------------------
_B22_SPECTROGRAM_ORACLE = """
    WITH d AS (
      SELECT doc_id,
        100 + doc_id % 50 AS a,
        512 // (1 << (2 + CAST(doc_id % 6 AS INT))) AS k
      FROM documents WHERE doc_id < 200
    ),
    fr AS (SELECT unnest(range(0, 4)) AS frame_id)
    SELECT doc_id,
      CAST(frame_id AS INT) AS frame_id,
      CAST(k AS BIGINT) AS dominant_bin,
      CAST(512 * a * a AS BIGINT) AS spec_energy
    FROM d CROSS JOIN fr
"""


def _media_payloads_square_wav(df):
    """mapInPandas stage: doc_id → WAV of a 2048-sample ±A square wave
    at 16 kHz (period 2^(2 + d%6) samples, amplitude 100 + d%50)."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_wav

    def batches(it):
        for pdf in it:
            ids, payloads = [], []
            n = np.arange(2048, dtype=np.int64)
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                a, p = 100 + d % 50, 1 << (2 + d % 6)
                x = (a * (1 - 2 * ((n // (p // 2)) % 2))).astype(np.int16)
                ids.append(d)
                payloads.append(encode_wav(x, 16000))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_audio_spectrogram", oracle=_B22_SPECTROGRAM_ORACLE,
          tags=("B22",))
def b22_audio_spectrogram(spark, sf_dir):
    from ..operators.multimodal import audio_spectrograms

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return audio_spectrograms(_media_payloads_square_wav(docs))


@register("b22_mel_features", oracle=None, tags=("B22",))
def b22_mel_features(spark, sf_dir):
    """Log-mel filterbank features over the same square-wave corpus
    (Hann window, 50% hop, 8 HTK-style mel triangles). rows-only: the
    SQL engine cannot express the FFT — tests/test_northstar.py pins
    the exact numbers against an independent per-frame reference and
    the spectral invariants are hash-checked by b22_audio_spectrogram
    over the identical corpus."""
    from ..operators.multimodal import mel_features

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return mel_features(_media_payloads_square_wav(docs))


# --------------------------------------------------------------------------
# B22j — REAL video-container decode + frame sampling: payloads are
# YUV4MPEG2 streams (the uncompressed interchange format ffmpeg/x264
# speak — ASCII stream header, FRAME markers, planar C420 YCbCr);
# luma(f, y, x) of doc d is (d + 2f + y) % 256, constant along x, so
# the per-sampled-frame integer luma stats hash-check against a SQL
# enumeration of (frame, row). This is the video half of the B22
# decode→sample→feature pipeline on a real container; compressed
# codecs (H.264/VP9) remain the documented gate.
# --------------------------------------------------------------------------
_B22_Y4M_ORACLE = """
    WITH d AS (
      SELECT doc_id, 8 + 2 * (doc_id % 4) AS w, 6 + 2 * (doc_id % 3) AS h,
             4 + doc_id % 5 AS nf
      FROM documents WHERE doc_id < 120
    ),
    fi AS (SELECT unnest(range(0, 8)) AS f),
    yy AS (SELECT unnest(range(0, 10)) AS y),
    px AS (
      SELECT d.doc_id, fi.f, d.w, d.h, d.nf,
        (d.doc_id + 2 * fi.f + yy.y) % 256 AS lum
      FROM d
      JOIN fi ON fi.f < d.nf AND fi.f % 2 = 0
      JOIN yy ON yy.y < d.h
    )
    SELECT doc_id,
      CAST(f AS INT) AS frame_idx,
      CAST(w AS INT) AS width,
      CAST(h AS INT) AS height,
      CAST(nf AS INT) AS n_frames,
      CAST(w * SUM(lum) AS BIGINT) AS sum_luma,
      CAST(MAX(lum) AS INT) AS max_luma
    FROM px GROUP BY doc_id, f, w, h, nf
"""


def _media_payloads_y4m(df):
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_y4m

    def batches(it):
        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 8 + 2 * (d % 4), 6 + 2 * (d % 3)
                nf = 4 + d % 5
                y = np.arange(h, dtype=np.int64)[:, None]
                frames = [
                    np.broadcast_to(
                        (d + 2 * f + y) % 256, (h, w)
                    ).astype(np.uint8)
                    for f in range(nf)
                ]
                ids.append(d)
                payloads.append(encode_y4m(frames))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_video_decode", oracle=_B22_Y4M_ORACLE, tags=("B22",))
def b22_video_decode(spark, sf_dir):
    from ..operators.multimodal import decode_video_frames

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_video_frames(_media_payloads_y4m(docs), every=2)


# --------------------------------------------------------------------------
# B22v — video SCENE-CHANGE detection (operators/multimodal.py
# scene_changes): per consecutive frame pair, the exact integer SAD
# over all pixels, and an integer-compare cut flag (sad > 30 * n_px).
# The corpus simulates shots: luma(f, y) = (base_f + 3y) % 200 with
# base advancing by 1 per frame inside a 4-frame shot and jumping by
# 40 at shot boundaries — so within-shot mean|diff| stays far below
# the threshold and boundary frames far above it, and every SAD is a
# closed-form SQL sum over (frame, row). Modulo wraps (both in base
# %180 and in luma %200) are evaluated identically by both engines,
# so no wrap case needs special pleading.
# --------------------------------------------------------------------------
_B22_SCENE_ORACLE = """
    WITH d AS (
      SELECT doc_id, 8 + 2 * (doc_id % 4) AS w, 6 + 2 * (doc_id % 3) AS h
      FROM documents WHERE doc_id < 120
    ),
    fi AS (SELECT unnest(range(1, 12)) AS f),
    yy AS (SELECT unnest(range(0, 10)) AS y),
    diff AS (
      SELECT d.doc_id, f, d.w, d.h,
        ABS(
          ((7 * d.doc_id + 40 * (f // 4) + f) % 180 + 3 * y) % 200
          - ((7 * d.doc_id + 40 * ((f - 1) // 4) + (f - 1)) % 180 + 3 * y)
            % 200
        ) AS ad
      FROM d JOIN fi ON true JOIN yy ON y < d.h
    )
    SELECT doc_id,
      CAST(f AS INT) AS frame_idx,
      CAST(w * SUM(ad) AS BIGINT) AS sad,
      CAST(w * h AS INT) AS n_px,
      CAST(CASE WHEN w * SUM(ad) > 30 * w * h THEN 1 ELSE 0 END AS INT)
        AS is_cut
    FROM diff GROUP BY doc_id, f, w, h
"""


def _media_payloads_y4m_shots(df):
    """mapInPandas stage: doc_id → Y4M of 12 frames in 4-frame shots;
    luma(f, y) = ((7d + 40*(f//4) + f) % 180 + 3y) % 200, constant
    along x."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_y4m

    def batches(it):
        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 8 + 2 * (d % 4), 6 + 2 * (d % 3)
                y = np.arange(h, dtype=np.int64)[:, None]
                frames = [
                    np.broadcast_to(
                        ((7 * d + 40 * (f // 4) + f) % 180 + 3 * y) % 200,
                        (h, w),
                    ).astype(np.uint8)
                    for f in range(12)
                ]
                ids.append(d)
                payloads.append(encode_y4m(frames))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_scene_changes", oracle=_B22_SCENE_ORACLE, tags=("B22",))
def b22_scene_changes(spark, sf_dir):
    from ..operators.multimodal import scene_changes

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return scene_changes(_media_payloads_y4m_shots(docs))


# --------------------------------------------------------------------------
# B18f — per-domain quota cap, MATERIALIZATION twin of
# b18_source_cap: that query reports per-source keep statistics (its
# count(*) OVER (PARTITION BY source) forces the full window); this
# one emits the kept doc list itself — the row set a pipeline actually
# writes — and because the plan is nothing but row_number() <= N, it
# compiles to WindowGroupLimit with a PARTIAL pre-shuffle pass
# (plan-guarded in tests/test_plans_physical.py): a mega-domain ships
# at most N rows per input partition into the per-source sort, not
# its whole crawl. Same unbiased md5(doc_id) permutation ordering as
# the reporting twin, so both engines pick the identical N docs and
# the keep-list hash-checks.
# --------------------------------------------------------------------------
@register(
    "b18_domain_cap",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
        ROW_NUMBER() OVER (
          PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        ) AS rk
      FROM documents
    )
    SELECT doc_id, source, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 10
    """,
    tags=("B18",),
)
def b18_domain_cap(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
    )


# --------------------------------------------------------------------------
# B21t — spanning sequence packing (concatenate-and-chop, the
# GPT-pretraining shape): the 100 TB twin of b21_sequence_pack. The
# greedy variant keeps whole documents and needs a sequential fold per
# shard (applyInPandas); THIS variant concatenates each shard's token
# stream in doc_id order and chops it into fixed-budget training
# sequences, letting documents span a boundary — which is what large
# pretraining pipelines actually do, and what makes the plan pure
# window math: ONE hash-partitioned cumulative sum, no UDF, no
# sequential state. Output is each doc's placement (first/last
# sequence index + offset), exact integers on both engines. Shards are
# independent pack streams; at 100 TB the window partitions by shard
# and never needs a global sort.
# --------------------------------------------------------------------------
_PACK_BUDGET, _PACK_SHARDS = 512, 8

_B21_PACK_ORACLE = rf"""
    WITH d AS (
      SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
        len(regexp_split_to_array(trim(lower(text)), '\s+')) AS nt
      FROM documents
    ),
    c AS (
      SELECT doc_id, shard, nt,
        COALESCE(SUM(nt) OVER (
          PARTITION BY shard ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ), 0) AS off
      FROM d
    )
    SELECT doc_id, CAST(shard AS INT) AS shard, CAST(nt AS INT) AS n_tok,
      CAST(off // {_PACK_BUDGET} AS INT) AS first_seq,
      CAST((off + nt - 1) // {_PACK_BUDGET} AS INT) AS last_seq,
      CAST(off % {_PACK_BUDGET} AS INT) AS start_off
    FROM c WHERE nt > 0
"""


@register("b21_pack_spanning", oracle=_B21_PACK_ORACLE, tags=("B21",))
def b21_pack_spanning(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).cast("int").alias("shard"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("nt"),
    )
    win = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.withColumn("off", F.coalesce(F.sum("nt").over(win), F.lit(0)))
        .filter(F.col("nt") > 0)
        .select(
            "doc_id",
            "shard",
            F.col("nt").cast("int").alias("n_tok"),
            F.floor(F.col("off") / _PACK_BUDGET).cast("int").alias(
                "first_seq"
            ),
            F.floor((F.col("off") + F.col("nt") - 1) / _PACK_BUDGET)
            .cast("int")
            .alias("last_seq"),
            (F.col("off") % _PACK_BUDGET).cast("int").alias("start_off"),
        )
    )


# B19cdc — content-defined chunking dedup (operators/cdc.py): the
# storage-dedup primitive for opaque BINARY columns. Blobs are built
# from a shared 16-block pool plus DOC-UNIQUE blocks (block b, byte
# j = (37b + 11j) mod 256; doc d places block 16+d at every 4th slot
# and block (7d + 3s) mod 16 elsewhere, 16 slots x 256 B = 4096 B), so
# identical 256-byte regions recur across docs at DIFFERENT offsets —
# exactly the overlap fixed-size blocking cannot dedup and CDC can —
# while the unique slots keep the duplicate ratio away from 1. Gear
# boundaries on a 6-bit mask (avg chunk 64 B), max chunk 512 B.
#
# The oracle replays the ENTIRE pipeline with NO self-join: the
# windowed-sum identity h_i & 63 == (sum_{k<6} GEAR[b_{i-k}] << k) & 63
# lets each byte SCATTER its term to positions i..i+5 (byt x 6 rows),
# one GROUP BY recovers the masked hash per position. The GEAR
# constants mod 64 come from the same md5 hex both engines compute,
# chunk identity is md5 over dash-joined decimal bytes (the ord-replay
# convention of the b22 oracles), and the first-occurrence rule is a
# deterministic ROW_NUMBER over (doc_id, chunk_ord).
# --------------------------------------------------------------------------
_B19_CDC_ORACLE = """
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 64),
    g AS (
      SELECT v,
        ((strpos('0123456789abcdef',
                 substr(md5(CAST(v AS VARCHAR)), 15, 1)) - 1) * 16
         + strpos('0123456789abcdef',
                  substr(md5(CAST(v AS VARCHAR)), 16, 1)) - 1) % 64 AS g6
      FROM range(0, 256) t(v)
    ),
    pos AS (SELECT unnest(range(0, 4096)) AS i),
    byt AS (
      SELECT d.doc_id, pos.i,
        (37 * (CASE WHEN (pos.i // 256) % 4 = 3 THEN 16 + d.doc_id
               ELSE (7 * d.doc_id + 3 * (pos.i // 256)) % 16 END)
         + 11 * (pos.i % 256)) % 256 AS v
      FROM d, pos
    ),
    hh AS (
      SELECT b.doc_id, b.i + k.k AS i, SUM(g.g6 * (1 << k.k)) % 64 AS h6
      FROM byt b
      CROSS JOIN range(0, 6) k(k)
      JOIN g ON g.v = b.v
      WHERE b.i + k.k < 4096
      GROUP BY b.doc_id, b.i + k.k
    ),
    starts AS (
      SELECT doc_id, 0 AS s FROM d
      UNION ALL
      SELECT doc_id, i + 1 AS s FROM hh WHERE h6 = 0 AND i < 4095
    ),
    gaps AS (
      SELECT doc_id, s,
        COALESCE(LEAD(s) OVER (PARTITION BY doc_id ORDER BY s), 4096) AS e
      FROM starts
    ),
    sub AS (
      SELECT gp.doc_id, gp.s + 512 * t.t AS s2
      FROM gaps gp CROSS JOIN range(0, 8) t(t)
      WHERE gp.s + 512 * t.t < gp.e
    ),
    bc AS (
      SELECT b.doc_id, b.i, b.v,
        COUNT(m.s2) OVER (PARTITION BY b.doc_id ORDER BY b.i) - 1 AS cid
      FROM byt b LEFT JOIN sub m ON m.doc_id = b.doc_id AND m.s2 = b.i
    ),
    content AS (
      SELECT doc_id, cid, COUNT(*) AS clen,
        md5(string_agg(CAST(v AS VARCHAR), '-' ORDER BY i)) AS chash
      FROM bc GROUP BY doc_id, cid
    ),
    occ AS (
      SELECT doc_id, cid, clen, chash,
        ROW_NUMBER() OVER (PARTITION BY chash ORDER BY doc_id, cid) AS rn
      FROM content
    )
    SELECT doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_chunks,
      CAST(SUM(clen) AS BIGINT) AS n_bytes,
      CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_dup_chunks,
      CAST(SUM(CASE WHEN rn > 1 THEN clen ELSE 0 END) AS BIGINT)
        AS dup_bytes,
      CAST(SUM(CASE WHEN rn > 1 THEN clen ELSE 0 END) AS DOUBLE)
        / SUM(clen) AS dup_ratio
    FROM occ GROUP BY doc_id
"""


def _media_payloads_blocks(df):
    """mapInPandas stage: doc_id -> a 4096-byte blob, 16 slots of 256
    bytes from a SHARED 16-block pool except every 4th slot, which is a
    doc-unique block (closed form above) — real cross-doc duplicate
    regions at varying offsets plus genuinely novel content, the
    workload content-defined chunking exists for."""

    def batches(it):
        import numpy as np
        import pandas as pd

        s = np.arange(16)
        j = np.arange(256)[None, :]

        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                blocks = np.where(s % 4 == 3, 16 + d, (7 * d + 3 * s) % 16)
                px = ((37 * blocks[:, None] + 11 * j) % 256).astype(np.uint8)
                ids.append(d)
                payloads.append(px.reshape(-1).tobytes())
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b19_cdc_chunk_dedup", oracle=_B19_CDC_ORACLE, tags=("B19", "B22"))
def b19_cdc_chunk_dedup(spark, sf_dir):
    """Gear-CDC chunk the blob corpus, then per-doc dedup accounting:
    an occurrence is a duplicate iff an identical chunk appeared
    earlier in (doc_id, chunk_ord) order, so ``dup_bytes`` is exactly
    the storage a chunk store would NOT write again. Plan: map-only
    chunking, ONE hash exchange on chunk_hash for the first-occurrence
    rank (per-hash groups are tiny — copies of one chunk — so the sort
    inside each window partition is bounded), one exchange for the
    per-doc rollup."""
    from ..operators.cdc import cdc_chunks

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    chunks = cdc_chunks(_media_payloads_blocks(docs))
    w = Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_ord")
    occ = chunks.withColumn("rn", F.row_number().over(w))
    return (
        occ.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_len").cast("bigint").alias("n_bytes"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_chunks"),
            F.sum(F.when(F.col("rn") > 1, F.col("chunk_len")).otherwise(0))
            .cast("bigint")
            .alias("dup_bytes"),
        )
        .withColumn("dup_ratio", F.col("dup_bytes") / F.col("n_bytes"))
    )


# --------------------------------------------------------------------------
# B21q — importance resampling for data selection (DSIR-shaped, after
# Xie et al. 2023, "Data Selection for Language Models via Importance
# Resampling", arXiv:2302.03169): score every raw document by how much
# its hashed-unigram distribution looks like a TARGET slice (here the
# lang='en' sub-corpus), then keep the top quartile. DSIR uses
# log-likelihood ratios of hashed n-gram bucket probabilities; this
# engine uses FIXED-POINT ratio weights instead of logs —
# w[b] = (target_count[b]+1) * 1e6 div (raw_count[b]+B), add-one
# smoothed — because integer div is bit-identical across engines while
# float log sums are not. Same shape, exact determinism.
#
# Scale: both distribution vectors are B=256 buckets — two tiny keyed
# aggregations with map-side partials (the shuffle carries ≤ B rows per
# task), joined driver-free and broadcast into the probe. Scoring is
# one explode + broadcast join + per-doc agg; quartile selection reuses
# the score-histogram exact-NTILE (no global sort). Nothing grows with
# corpus size except the map work.
# --------------------------------------------------------------------------
_B21_IMPORTANCE_ORACLE = (
    r"""
    WITH d AS (
      SELECT doc_id, lang,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    bt AS (
      SELECT doc_id, lang, """
    + _H16_SQL.replace("{t}", "t")
    + r""" % 256 AS b
      FROM (SELECT doc_id, lang, unnest(w) AS t FROM d)
    ),
    tcnt AS (
      SELECT b, COUNT(*) AS tc FROM bt WHERE lang = 'en' GROUP BY b
    ),
    rcnt AS (SELECT b, COUNT(*) AS rc FROM bt GROUP BY b),
    wt AS (
      SELECT r.b,
        (COALESCE(t.tc, 0) + 1) * 1000000 // (r.rc + 256) AS w
      FROM rcnt r LEFT JOIN tcnt t USING (b)
    ),
    per_doc AS (
      SELECT bt.doc_id, bt.lang,
        CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(SUM(wt.w) AS BIGINT) AS w_sum
      FROM bt JOIN wt USING (b) GROUP BY 1, 2
    ),
    scored AS (
      SELECT doc_id, lang, n_tokens, w_sum, {imp} AS imp_score
      FROM per_doc
    )
    SELECT doc_id, lang, n_tokens, w_sum, imp_score,
      CAST(NTILE(4) OVER (ORDER BY imp_score DESC, doc_id) AS INT)
        AS imp_bucket,
      CAST(NTILE(4) OVER (ORDER BY imp_score DESC, doc_id) = 1
        AS BOOLEAN) AS selected
    FROM scored
""".replace("{imp}", sql_round_ratio("w_sum", "n_tokens", 4))
)


@register(
    "b21_importance_resample", oracle=_B21_IMPORTANCE_ORACLE, tags=("B21",)
)
def b21_importance_resample(spark, sf_dir):
    docs = (
        t(spark, sf_dir, "documents")
        .transform(spread("doc_id"))
        .select("doc_id", "lang", tokens(F.col("text")).alias("w"))
    )
    bt = docs.select(
        "doc_id",
        "lang",
        F.explode(F.col("w")).alias("t"),
    ).select(
        "doc_id", "lang", F.pmod(token_hash16(F.col("t")), F.lit(256)).alias("b")
    )
    # Collapse the exploded relation ONCE into per-(doc, bucket) counts;
    # everything downstream aggregates the compact btc instead of raw
    # tokens. Because docs is hash-partitioned by doc_id, grouping on
    # (doc_id, lang, b) is satisfied in place — the explode+count runs
    # with NO exchange, and the two consumers share the identical
    # subtree so the physical planner reuses it. wt then shuffles only
    # ≤256 rows per task (rc = Σcnt, tc = conditional Σcnt — both
    # distribution vectors in one aggregation, r7 verdict #2), and the
    # per-doc score is Σ(w·cnt) on the doc_id-partitioned btc — again
    # exchange-free. Net: one explode pass, one tiny shuffle.
    btc = bt.groupBy("doc_id", "lang", "b").agg(F.count("*").alias("cnt"))
    wt = (
        btc.groupBy("b")
        .agg(
            F.sum("cnt").alias("rc"),
            F.sum(
                F.when(F.col("lang") == "en", F.col("cnt")).otherwise(0)
            ).alias("tc"),
        )
        .select(
            "b",
            F.expr("(coalesce(tc, 0) + 1) * 1000000 div (rc + 256)").alias("w"),
        )
    )
    scored = (
        btc.join(F.broadcast(wt), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.sum(F.col("w") * F.col("cnt")).cast("bigint").alias("w_sum"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "w_sum",
            round_ratio(F.col("w_sum"), F.col("n_tokens"), 4).alias(
                "imp_score"
            ),
        )
    )
    cols = ["doc_id", "lang", "n_tokens", "w_sum", "imp_score"]
    bucketed = _exact_ntile(
        spark, scored.persist(), "imp_score", 4, "imp_bucket", cols
    )
    return bucketed.withColumn("selected", F.col("imp_bucket") == 1)


# --------------------------------------------------------------------------
# B21r — Gopher rule filter (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", arXiv:2112.11446,
# table A1): the classic pre-training quality gate as EXACT-INTEGER
# predicates — every ratio bound is cross-multiplied (10*(symbols) <=
# n_words instead of symbols/n_words <= 0.1) so no float compare can
# diverge between engines. Rules covered: word count in [50, 100k],
# mean word length in [3, 10], symbol-to-word ratio (#, ...) <= 0.1,
# >= 80% of words contain an alphabetic character, >= 2 stopword hits.
# (The duplicate-n-gram fractions of the same table live in
# b21_repetition_signals; line-level bullet/ellipsis rules apply to
# multi-line crawl text and evaluate trivially on this corpus.)
# Map-only: one projection over the un-exploded token array, zero
# shuffles — the filter runs at scan speed on any corpus size.
# --------------------------------------------------------------------------
_B21_GOPHER_ORACLE = (
    _DOCS_CTE
    + f"""
    , raw AS (SELECT doc_id, text FROM documents)
    , m AS (
      SELECT d.doc_id,
        CAST(len(w) AS BIGINT) AS n_words,
        CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum')
          AS BIGINT) AS total_len,
        CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
          AS BIGINT) AS alpha_words,
        CAST(len(list_filter(w, x -> x IN ({_STOP_SQL})))
          AS BIGINT) AS stop_hits,
        CAST(length(raw.text) - length(replace(raw.text, '#', ''))
          AS BIGINT)
        + CAST((length(raw.text) - length(replace(raw.text, '...', '')))
          // 3 AS BIGINT) AS symbol_hits
      FROM d JOIN raw USING (doc_id)
    )
    SELECT doc_id, n_words, total_len, alpha_words, stop_hits,
      symbol_hits,
      ((2 * total_len * 10000 + n_words) // (2 * n_words)) / 10000.0
        AS mean_word_len,
      CAST(
        n_words BETWEEN 50 AND 100000
        AND total_len >= 3 * n_words AND total_len <= 10 * n_words
        AND 10 * symbol_hits <= n_words
        AND 10 * alpha_words >= 8 * n_words
        AND stop_hits >= 2
      AS BOOLEAN) AS passes
    FROM m
    """
)


@register("b21_gopher_rules", oracle=_B21_GOPHER_ORACLE, tags=("B21",))
def b21_gopher_rules(spark, sf_dir):
    from ..functions.text import gopher_stats

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens(F.col("text")).alias("_w")
    )
    g = gopher_stats(F.col("text"), F.col("_w"))
    m = docs.select(
        "doc_id",
        *[g[k].alias(k) for k in
          ("n_words", "total_len", "alpha_words", "stop_hits",
           "symbol_hits")],
        g["passes"].alias("passes"),
    )
    return m.select(
        "doc_id",
        "n_words",
        "total_len",
        "alpha_words",
        "stop_hits",
        "symbol_hits",
        round_ratio(F.col("total_len"), F.col("n_words"), 4).alias(
            "mean_word_len"
        ),
        "passes",
    )


# --------------------------------------------------------------------------
# B18t — temperature sampling across languages (the multilingual
# rebalancing step of mBERT/XLM-R-style corpora, alpha = 0.5): the
# post-selection language distribution is proportional to n_lang^0.5,
# so low-resource languages keep everything and high-resource ones
# down-sample by sqrt(n_min / n_lang). alpha = 0.5 is chosen
# deliberately — sqrt is IEEE-754 CORRECTLY ROUNDED (unlike pow), so
# floor(2^24 * sqrt(n_min/n_lang)) is bit-identical across engines and
# the whole selection stays hash-checkable. Selection is md5-uniform
# per doc (replayable, re-ingestion-stable, like b18_hash_sample_mix).
#
# Scale: one tiny per-lang count (map-side partials), an O(langs)
# broadcast lookup, then a map-only predicate — the corpus is never
# shuffled at all.
# --------------------------------------------------------------------------
_B18_TEMP_ORACLE = """
    WITH d AS (SELECT doc_id, lang FROM documents),
    lc AS (SELECT lang, COUNT(*) AS n_lang FROM d GROUP BY lang),
    l2 AS (SELECT lang, n_lang, MIN(n_lang) OVER () AS n_min FROM lc),
    lut AS (
      SELECT lang, CAST(n_lang AS BIGINT) AS n_lang,
        CAST(FLOOR(16777216 * SQRT(CAST(n_min AS DOUBLE) / n_lang))
          AS BIGINT) AS keep_threshold
      FROM l2
    ),
    h AS (
      SELECT doc_id, lang,
        md5('ts1|' || CAST(doc_id AS VARCHAR)) AS hx
      FROM d
    ),
    u AS (
      SELECT doc_id, lang,
        CAST(
          (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 1048576
          + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 65536
          + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 4096
          + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) * 256
          + (strpos('0123456789abcdef', substr(hx, 5, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(hx, 6, 1)) - 1)
        AS BIGINT) AS u
      FROM h
    )
    SELECT u.doc_id, u.lang, lut.n_lang, lut.keep_threshold, u.u,
      CAST(u.u < lut.keep_threshold AS BOOLEAN) AS kept
    FROM u JOIN lut USING (lang)
"""


@register("b18_temperature_sampling", oracle=_B18_TEMP_ORACLE, tags=("B18",))
def b18_temperature_sampling(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    lc = docs.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_lang"))
    lmin = lc.agg(F.min("n_lang").alias("n_min"))
    lut = (
        lc.crossJoin(F.broadcast(lmin))
        .select(
            "lang",
            "n_lang",
            F.floor(
                F.lit(16777216)
                * F.sqrt(F.col("n_min").cast("double") / F.col("n_lang"))
            )
            .cast("bigint")
            .alias("keep_threshold"),
        )
    )
    u = F.conv(
        F.substring(F.md5(F.concat(F.lit("ts1|"), F.col("doc_id"))), 1, 6),
        16,
        10,
    ).cast("bigint")
    return (
        docs.join(F.broadcast(lut), "lang")
        .select(
            "doc_id",
            "lang",
            "n_lang",
            "keep_threshold",
            u.alias("u"),
            (u < F.col("keep_threshold")).alias("kept"),
        )
    )


# --------------------------------------------------------------------------
# B22pcm24 — 24-bit PCM decode (WAV format 1, bits=24, blockAlign=3 —
# the pro-audio capture layout). The engine packs/unpacks 3-byte
# little-endian two's complement; the corpus sweeps the full 24-bit
# range in closed form, so a wrong byte order, sign extension, or
# stride breaks the hash. Same map-only decode_audio stage as PCM16 —
# the format dispatch is inside the chunk walk, not a separate plan.
# --------------------------------------------------------------------------
_B22_PCM24_ORACLE = """
    WITH d AS (
      SELECT doc_id, 64 + doc_id % 64 AS n,
        8000 + (doc_id % 8) * 1000 AS rate
      FROM documents WHERE doc_id < 200
    ),
    idx AS (SELECT unnest(range(0, 128)) AS i),
    s AS (
      SELECT d.doc_id, d.n, d.rate,
        (131071 * d.doc_id + 65537 * i) % 16777216 - 8388608 AS amp
      FROM d JOIN idx ON i < d.n
    )
    SELECT doc_id,
      CAST(rate AS INT) AS sample_rate,
      1 AS channels,
      CAST(n AS INT) AS n_samples,
      CAST(SUM(amp) AS BIGINT) AS sum_amp,
      CAST(MAX(amp) AS INT) AS peak
    FROM s GROUP BY doc_id, n, rate
"""


def _media_payloads_pcm24(df):
    """mapInPandas stage: doc_id → PCM24 WAV; amplitudes sweep the
    whole 24-bit signed range (closed form above)."""

    def batches(it):
        import numpy as np
        import pandas as pd

        from ..operators.multimodal import encode_wav_pcm24

        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 64 + d % 64
                i = np.arange(n, dtype=np.int64)
                samples = (131071 * d + 65537 * i) % 16777216 - 8388608
                ids.append(d)
                payloads.append(
                    encode_wav_pcm24(samples, 8000 + (d % 8) * 1000)
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_pcm24_decode", oracle=_B22_PCM24_ORACLE, tags=("B22",))
def b22_pcm24_decode(spark, sf_dir):
    from ..operators.multimodal import decode_audio

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_audio(_media_payloads_pcm24(docs))


# --------------------------------------------------------------------------
# B22st — STEREO PCM decode with per-channel stats: real capture files
# are interleaved multi-channel, and per-channel statistics (balance,
# dead-channel detection) need the deinterleave to be provably right.
# Left lane = even frames of one closed form, right = another, so a
# swapped or off-by-one deinterleave breaks the hash on every doc.
# One row per (doc, channel) keeps the downstream analysis relational.
# --------------------------------------------------------------------------
_B22_STEREO_ORACLE = """
    WITH d AS (
      SELECT doc_id, 48 + doc_id % 48 AS n,
        8000 + (doc_id % 8) * 1000 AS rate
      FROM documents WHERE doc_id < 200
    ),
    idx AS (SELECT unnest(range(0, 96)) AS i),
    s AS (
      SELECT d.doc_id, d.n, d.rate, idx.i,
        (11 * d.doc_id + 17 * i) % 4096 - 2048 AS amp_l,
        (5 * d.doc_id + 13 * i) % 4096 - 2048 AS amp_r
      FROM d JOIN idx ON i < d.n
    ),
    lanes AS (
      SELECT doc_id, rate, n, 0 AS channel, amp_l AS amp FROM s
      UNION ALL
      SELECT doc_id, rate, n, 1 AS channel, amp_r AS amp FROM s
    )
    SELECT doc_id,
      CAST(rate AS INT) AS sample_rate,
      CAST(channel AS INT) AS channel,
      CAST(n AS INT) AS n_samples,
      CAST(SUM(amp) AS BIGINT) AS sum_amp,
      CAST(MAX(amp) AS INT) AS peak
    FROM lanes GROUP BY doc_id, rate, n, channel
"""


def _media_payloads_stereo(df):
    """mapInPandas stage: doc_id → interleaved 2-channel PCM16 WAV
    (closed forms above; left and right differ so lane swaps are
    detectable)."""

    def batches(it):
        import numpy as np
        import pandas as pd

        from ..operators.multimodal import encode_wav

        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 48 + d % 48
                i = np.arange(n, dtype=np.int64)
                left = (11 * d + 17 * i) % 4096 - 2048
                right = (5 * d + 13 * i) % 4096 - 2048
                inter = np.empty(2 * n, dtype=np.int16)
                inter[0::2] = left
                inter[1::2] = right
                ids.append(d)
                payloads.append(
                    encode_wav(inter, 8000 + (d % 8) * 1000, channels=2)
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_stereo_decode", oracle=_B22_STEREO_ORACLE, tags=("B22",))
def b22_stereo_decode(spark, sf_dir):
    from ..operators.multimodal import decode_audio_channels

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_audio_channels(_media_payloads_stereo(docs))


# --------------------------------------------------------------------------
# B22rt — video frame-rate conversion (operators/multimodal.py
# retime_video): clips arrive at mixed source rates (2..8 fps in this
# corpus, from the Y4M F-token) and are resampled to a fixed 4 fps by
# nearest-frame selection. Index math is exact rational —
# src = (2kS + T) // (2T) round-half-up, n_out = ceil(nf·T/S) — so the
# ENTIRE retime (which source frame lands at each output slot,
# including duplication when upsampling and drops when downsampling)
# replays in SQL, with the per-frame luma stats proving the right
# frame bytes were picked, not just the right count.
# --------------------------------------------------------------------------
_B22_RETIME_ORACLE = """
    WITH d AS (
      SELECT doc_id, 8 + 2 * (doc_id % 4) AS w, 6 + 2 * (doc_id % 3) AS h,
             4 + doc_id % 5 AS nf, 2 + doc_id % 7 AS s
      FROM documents WHERE doc_id < 120
    ),
    ks AS (SELECT unnest(range(0, 32)) AS k),
    o AS (
      SELECT d.doc_id, d.w, d.h, d.nf, d.s, ks.k,
        LEAST(d.nf - 1, (2 * ks.k * d.s + 4) // 8) AS src
      FROM d JOIN ks ON ks.k < (d.nf * 4 + d.s - 1) // d.s
    ),
    yy AS (SELECT unnest(range(0, 10)) AS y),
    px AS (
      SELECT o.doc_id, o.k, o.src, o.w, o.h, o.s,
        (o.doc_id + 2 * o.src + yy.y) % 256 AS lum
      FROM o JOIN yy ON yy.y < o.h
    )
    SELECT doc_id,
      CAST(k AS INT) AS out_idx,
      CAST(src AS INT) AS src_idx,
      CAST(w AS INT) AS width,
      CAST(h AS INT) AS height,
      CAST(s AS INT) AS src_fps,
      CAST(w * SUM(lum) AS BIGINT) AS sum_luma,
      CAST(MAX(lum) AS INT) AS max_luma
    FROM px GROUP BY doc_id, k, src, w, h, s
"""


def _media_payloads_y4m_rates(df):
    """mapInPandas stage: the b22_video_decode corpus at MIXED source
    frame rates (F token = 2 + doc_id % 7)."""

    def batches(it):
        import numpy as np
        import pandas as pd

        from ..operators.multimodal import encode_y4m

        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 8 + 2 * (d % 4), 6 + 2 * (d % 3)
                nf = 4 + d % 5
                y = np.arange(h, dtype=np.int64)[:, None]
                frames = [
                    np.broadcast_to(
                        (d + 2 * f + y) % 256, (h, w)
                    ).astype(np.uint8)
                    for f in range(nf)
                ]
                ids.append(d)
                payloads.append(encode_y4m(frames, fps=2 + d % 7))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_video_retime", oracle=_B22_RETIME_ORACLE, tags=("B22",))
def b22_video_retime(spark, sf_dir):
    from ..operators.multimodal import retime_video

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return retime_video(_media_payloads_y4m_rates(docs), target_fps=4)


# --------------------------------------------------------------------------
# B22pal — INDEXED-COLOR PNG decode (color type 3, the web-crawl
# palette variant): DEFLATE scanlines of 8-bit palette indices + a
# PLTE chunk, decoded through the same CRC-verified chunk walk and all
# five filter reconstructions as truecolor PNG, then the palette
# lookup. The corpus is the standard closed-form image set (≤14
# distinct row colors — comfortably inside one palette), so the same
# stats oracle proves the palette path end-to-end; a wrong index map,
# filter-on-index handling, or PLTE ordering breaks the hash.
# --------------------------------------------------------------------------
_B22_PNGPAL_ORACLE = """
    WITH d AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT unnest(range(0, 14)) AS y),
    px AS (
      SELECT d.doc_id, d.w, d.h,
        (3 * d.doc_id + y) % 256 AS r,
        (2 * d.doc_id + y) % 256 AS g,
        (d.doc_id + y) % 256 AS b
      FROM d JOIN ys ON y < d.h
    )
    SELECT doc_id,
      CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      CAST(w * h AS INT) AS n_px,
      CAST(w * SUM(r) AS BIGINT) AS sum_r,
      CAST(w * SUM(g) AS BIGINT) AS sum_g,
      CAST(w * SUM(b) AS BIGINT) AS sum_b,
      CAST(w * SUM(r) AS DOUBLE) / (w * h) AS mean_r,
      CAST(w * SUM(g) AS DOUBLE) / (w * h) AS mean_g,
      CAST(w * SUM(b) AS DOUBLE) / (w * h) AS mean_b
    FROM px GROUP BY doc_id, w, h
"""


def _media_payloads_png_palette(df):
    """mapInPandas stage: the standard image corpus as indexed-color
    PNG (palette built from the image's distinct colors)."""

    def batches(it):
        import numpy as np
        import pandas as pd

        from ..operators.multimodal import encode_png_palette

        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 8 + d % 9, 8 + d % 7
                y = np.arange(h, dtype=np.int64)[:, None, None]
                chan = np.concatenate(
                    [(3 * d + y) % 256, (2 * d + y) % 256, (d + y) % 256],
                    axis=2,
                ).astype(np.uint8)
                px = np.broadcast_to(chan, (h, w, 3)).copy()
                ids.append(d)
                payloads.append(encode_png_palette(px))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_png_palette", oracle=_B22_PNGPAL_ORACLE, tags=("B22",))
def b22_png_palette(spark, sf_dir):
    from ..operators.multimodal import decode_images

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_images(_media_payloads_png_palette(docs))


# --------------------------------------------------------------------------
# B22gray — GRAYSCALE PNG decode (color type 0, the screenshot /
# scanned-document variant): 1-byte-per-pixel DEFLATE scanlines
# through the same CRC chunk walk and five filter reconstructions,
# expanded to replicated RGB so every image consumer sees one uniform
# (H, W, 3) shape. luma = (5d + 7y) % 256 constant along x — the
# replicate-to-RGB contract makes sum_r = sum_g = sum_b a CHECKED
# equality, not an assumption.
# --------------------------------------------------------------------------
_B22_PNGGRAY_ORACLE = """
    WITH d AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT unnest(range(0, 14)) AS y),
    px AS (
      SELECT d.doc_id, d.w, d.h, (5 * d.doc_id + 7 * y) % 256 AS lum
      FROM d JOIN ys ON y < d.h
    )
    SELECT doc_id,
      CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      CAST(w * h AS INT) AS n_px,
      CAST(w * SUM(lum) AS BIGINT) AS sum_r,
      CAST(w * SUM(lum) AS BIGINT) AS sum_g,
      CAST(w * SUM(lum) AS BIGINT) AS sum_b,
      CAST(w * SUM(lum) AS DOUBLE) / (w * h) AS mean_r,
      CAST(w * SUM(lum) AS DOUBLE) / (w * h) AS mean_g,
      CAST(w * SUM(lum) AS DOUBLE) / (w * h) AS mean_b
    FROM px GROUP BY doc_id, w, h
"""


def _media_payloads_png_gray(df):
    """mapInPandas stage: grayscale PNG corpus, luma (5d + 7y) % 256
    constant along x."""

    def batches(it):
        import numpy as np
        import pandas as pd

        from ..operators.multimodal import encode_png_gray

        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 8 + d % 9, 8 + d % 7
                y = np.arange(h, dtype=np.int64)[:, None]
                img = np.broadcast_to(
                    (5 * d + 7 * y) % 256, (h, w)
                ).astype(np.uint8)
                ids.append(d)
                payloads.append(encode_png_gray(img))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_png_gray", oracle=_B22_PNGGRAY_ORACLE, tags=("B22",))
def b22_png_gray(spark, sf_dir):
    from ..operators.multimodal import decode_images

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_images(_media_payloads_png_gray(docs))


# --------------------------------------------------------------------------
# B22f32 — IEEE float32 WAV decode (format 3, the DAW/export layout),
# completing the WAV format family (PCM16/24, float32, A-law, mu-law,
# IMA-ADPCM). The corpus amplitudes are INTEGERS within float32's
# exact range (|amp| < 2^24), so the float round-trip is lossless and
# the same integer stats oracle applies — proving the format-3 fmt
# parsing and 4-byte stride without a float-replay oracle.
# --------------------------------------------------------------------------
_B22_F32_ORACLE = """
    WITH d AS (
      SELECT doc_id, 64 + doc_id % 64 AS n,
        8000 + (doc_id % 8) * 1000 AS rate
      FROM documents WHERE doc_id < 200
    ),
    idx AS (SELECT unnest(range(0, 128)) AS i),
    s AS (
      SELECT d.doc_id, d.n, d.rate,
        (131071 * d.doc_id + 65537 * i) % 16777216 - 8388608 AS amp
      FROM d JOIN idx ON i < d.n
    )
    SELECT doc_id,
      CAST(rate AS INT) AS sample_rate,
      1 AS channels,
      CAST(n AS INT) AS n_samples,
      CAST(SUM(amp) AS BIGINT) AS sum_amp,
      CAST(MAX(amp) AS INT) AS peak
    FROM s GROUP BY doc_id, n, rate
"""


def _media_payloads_float32(df):
    """mapInPandas stage: the PCM24 corpus as IEEE float32 WAV
    (integer-valued floats — exactly representable)."""

    def batches(it):
        import numpy as np
        import pandas as pd

        from ..operators.multimodal import encode_wav_float32

        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 64 + d % 64
                i = np.arange(n, dtype=np.int64)
                samples = (131071 * d + 65537 * i) % 16777216 - 8388608
                ids.append(d)
                payloads.append(
                    encode_wav_float32(samples, 8000 + (d % 8) * 1000)
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_float32_decode", oracle=_B22_F32_ORACLE, tags=("B22",))
def b22_float32_decode(spark, sf_dir):
    from ..operators.multimodal import decode_audio

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_audio(_media_payloads_float32(docs))


# --------------------------------------------------------------------------
# B22c444 — Y4M C444 decode: the full-resolution-chroma byte budget
# (3·W·H per frame vs C420's 1.5·W·H). Same luma corpus as
# b22_video_decode but sampled every frame, so a decoder that budgets
# frames with the wrong colorspace stride desynchronizes immediately
# and every later frame's stats break the hash.
# --------------------------------------------------------------------------
_B22_C444_ORACLE = """
    WITH d AS (
      SELECT doc_id, 8 + 2 * (doc_id % 4) AS w, 6 + 2 * (doc_id % 3) AS h,
             4 + doc_id % 5 AS nf
      FROM documents WHERE doc_id < 120
    ),
    fi AS (SELECT unnest(range(0, 8)) AS f),
    yy AS (SELECT unnest(range(0, 10)) AS y),
    px AS (
      SELECT d.doc_id, fi.f, d.w, d.h, d.nf,
        (d.doc_id + 2 * fi.f + yy.y) % 256 AS lum
      FROM d
      JOIN fi ON fi.f < d.nf
      JOIN yy ON yy.y < d.h
    )
    SELECT doc_id,
      CAST(f AS INT) AS frame_idx,
      CAST(w AS INT) AS width,
      CAST(h AS INT) AS height,
      CAST(nf AS INT) AS n_frames,
      CAST(w * SUM(lum) AS BIGINT) AS sum_luma,
      CAST(MAX(lum) AS INT) AS max_luma
    FROM px GROUP BY doc_id, f, w, h, nf
"""


def _media_payloads_y4m_c444(df):
    """mapInPandas stage: the b22_video_decode corpus as C444."""

    def batches(it):
        import numpy as np
        import pandas as pd

        from ..operators.multimodal import encode_y4m

        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 8 + 2 * (d % 4), 6 + 2 * (d % 3)
                nf = 4 + d % 5
                y = np.arange(h, dtype=np.int64)[:, None]
                frames = [
                    np.broadcast_to(
                        (d + 2 * f + y) % 256, (h, w)
                    ).astype(np.uint8)
                    for f in range(nf)
                ]
                ids.append(d)
                payloads.append(encode_y4m(frames, c444=True))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_video_c444", oracle=_B22_C444_ORACLE, tags=("B22",))
def b22_video_c444(spark, sf_dir):
    from ..operators.multimodal import decode_video_frames

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_video_frames(_media_payloads_y4m_c444(docs), every=1)


# --------------------------------------------------------------------------
# B19cont — CONTAINMENT near-dup (asymmetric |A∩B| / |A|): Jaccard
# misses a small document quoted verbatim inside a much larger one
# (the union term dilutes it), which is exactly the snippet-reuse /
# quotation case a dedup pipeline wants to catch. Scored over the same
# inverted-shingle candidate pairs as the Jaccard baseline (documented
# quadratic correctness baseline — banded MinHash-LSH remains the
# scale path); the ≥ 0.7 threshold is CROSS-MULTIPLIED
# (10·i ≥ 7·n_small) so no float compare can diverge between engines.
# Output: (contained, container) ordered smaller-set-first, lower
# doc_id on ties.
# --------------------------------------------------------------------------
_B19_CONTAIN_ORACLE = (
    _DOCS_CTE
    + """
    , inter AS (
      SELECT s1.doc_id AS d1, s2.doc_id AS d2, count(*) AS i
      FROM sh s1 JOIN sh s2 ON s1.s = s2.s AND s1.doc_id < s2.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    scored AS (
      SELECT
        CASE WHEN sb.n < sa.n THEN d2 ELSE d1 END AS contained,
        CASE WHEN sb.n < sa.n THEN d1 ELSE d2 END AS container,
        i, LEAST(sa.n, sb.n) AS n_small
      FROM inter
      JOIN sizes sa ON sa.doc_id = d1
      JOIN sizes sb ON sb.doc_id = d2
    )
    SELECT contained, container,
      CAST(i AS BIGINT) AS n_shared,
      CAST(n_small AS BIGINT) AS n_small,
      ((2 * i * 10000 + n_small) // (2 * n_small)) / 10000.0
        AS containment
    FROM scored WHERE 10 * i >= 7 * n_small
    """
)


@register(
    "b19_containment_neardup", oracle=_B19_CONTAIN_ORACLE, tags=("B19",)
)
def b19_containment_neardup(spark, sf_dir):
    sh = _doc_shingles(spark, sf_dir).cache()
    s1, s2 = sh.alias("s1"), sh.alias("s2")
    inter = (
        s1.join(
            s2,
            (F.col("s1.s") == F.col("s2.s"))
            & (F.col("s1.doc_id") < F.col("s2.doc_id")),
        )
        .groupBy(F.col("s1.doc_id").alias("d1"), F.col("s2.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    joined = inter.join(
        sizes.alias("sa"), F.col("sa.doc_id") == F.col("d1")
    ).join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("d2"))
    swap = F.col("sb.n") < F.col("sa.n")
    n_small = F.least(F.col("sa.n"), F.col("sb.n"))
    return (
        joined.select(
            F.when(swap, F.col("d2")).otherwise(F.col("d1")).alias(
                "contained"
            ),
            F.when(swap, F.col("d1")).otherwise(F.col("d2")).alias(
                "container"
            ),
            F.col("i").cast("bigint").alias("n_shared"),
            n_small.cast("bigint").alias("n_small"),
            round_ratio(F.col("i"), n_small, 4).alias("containment"),
        )
        .filter(10 * F.col("n_shared") >= 7 * F.col("n_small"))
    )


# --------------------------------------------------------------------------
# B18s — exact stratified sampling: the FIXED-BUDGET companion of
# b18_hash_sample_mix (rate-based) and b18_temperature_sampling
# (distribution-based) — exactly min(k, n) docs per (lang, source)
# stratum, selected as the k smallest md5 keys, so the sample is
# deterministic, engine-independent, and STABLE UNDER APPENDS in the
# reservoir sense (a new doc displaces at most one member). Shape at
# 100 TB: the window shuffle carries only (doc_id, lang, source, 32-
# byte key) — column-pruned at the scan — keyed by stratum; strata
# are (langs x sources), far wider than executor count, so no skew.
# The documented scale refinement when k << n_stratum: broadcast the
# per-stratum counts and pre-filter on a loose key prefix before the
# exact window (keeps the shuffle O(k) per stratum); the final
# row_number pass is unchanged, so the plan stays exact.
# --------------------------------------------------------------------------
_B18_STRAT_ORACLE = """
    WITH keyed AS (
      SELECT doc_id, lang, source,
        md5('strat1|' || CAST(doc_id AS VARCHAR)) AS hk
      FROM documents
    ),
    rk AS (
      SELECT doc_id, lang, source, hk,
        ROW_NUMBER() OVER (
          PARTITION BY lang, source ORDER BY hk, doc_id) AS rn,
        COUNT(*) OVER (PARTITION BY lang, source) AS n_stratum
      FROM keyed
    )
    SELECT doc_id, lang, source, CAST(rn AS BIGINT) AS rn,
      CAST(n_stratum AS BIGINT) AS n_stratum
    FROM rk WHERE rn <= 5
"""


@register("b18_stratified_sample", oracle=_B18_STRAT_ORACLE, tags=("B18",))
def b18_stratified_sample(spark, sf_dir):
    keyed = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.md5(F.concat(F.lit("strat1|"), F.col("doc_id").cast("string"))).alias(
            "hk"
        ),
    )
    w = Window.partitionBy("lang", "source").orderBy("hk", "doc_id")
    wc = Window.partitionBy("lang", "source")
    rk = keyed.select(
        "doc_id",
        "lang",
        "source",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n_stratum"),
    )
    return rk.filter(F.col("rn") <= 5).select(
        "doc_id",
        "lang",
        "source",
        F.col("rn").cast("bigint").alias("rn"),
        F.col("n_stratum").cast("bigint").alias("n_stratum"),
    )


# --------------------------------------------------------------------------
# B21w — winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the
# MOSS algorithm): per document, hash every 3-word shingle IN POSITION
# ORDER, slide a w = 4 window over the hash sequence, and keep the
# minimum hash of each full window — the classic guarantee that any
# shared substring of >= w + 2 words produces at least one shared
# fingerprint, at ~2/(w+1) the density of the full gram set. This is
# the position-robust complement of b21_fingerprint's rolling hash
# (which shifts wholesale on any edit). md5 hex compares identically
# as a string in both engines, so the window MIN replays exactly;
# density is a rounded ratio of exact integers. Docs with < 4 grams
# have no full window and report zero fingerprints (left join keeps
# the row). Shape at 100 TB: map-only shingle+hash, ONE per-doc
# ordered window (doc_id keys are maximally fine-grained), two
# per-doc aggregates — no cross-doc shuffle at all.
# --------------------------------------------------------------------------
_B21_WINNOW_ORACLE = r"""
    WITH d AS (
      SELECT doc_id,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    pos AS (
      SELECT doc_id, w,
        unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
      FROM d
    ),
    h AS (
      SELECT doc_id, i,
        md5(concat_ws(' ', w[i], w[i + 1], w[i + 2])) AS hx
      FROM pos
    ),
    wins AS (
      SELECT doc_id, i,
        MIN(hx) OVER (PARTITION BY doc_id ORDER BY i
          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
        COUNT(*) OVER (PARTITION BY doc_id ORDER BY i
          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS nw
      FROM h
    ),
    fps AS (
      SELECT DISTINCT doc_id, fp FROM wins WHERE nw = 4
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints
      FROM fps GROUP BY doc_id
    ),
    grams AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
      FROM h GROUP BY doc_id
    )
    SELECT g.doc_id, g.n_grams,
      COALESCE(p.n_fingerprints, 0) AS n_fingerprints,
      ((2 * COALESCE(p.n_fingerprints, 0) * 10000 + g.n_grams)
        // (2 * g.n_grams)) / 10000.0 AS density
    FROM grams g LEFT JOIN per_doc p USING (doc_id)
"""


def _winnow_hashes(spark, sf_dir):
    """(doc_id, i, hx): md5 per 3-gram shingle IN POSITION ORDER.

    NOT explode(shingles(...)): the shingle transform() is a
    higher-order function, which Spark evaluates INTERPRETED (outside
    whole-stage codegen) — measured ~8 s at sf0.1 for 260k lambda
    evals, vs 0.6 s for the plain posexplode of the word array. Here
    the positional grams come from lead() windows over the exploded
    words instead: concat_ws skips the NULL leads past the doc end
    (same rule as the oracle's out-of-range w[i+k]), and the lead
    window shares the (doc_id) exchange AND (i) sort the winnowing
    window downstream needs anyway — one shuffle, one sort, full
    codegen end-to-end."""
    w = (
        t(spark, sf_dir, "documents")
        .transform(spread("doc_id"))
        .select("doc_id", F.posexplode(tokens(F.col("text"))).alias("i0", "wd"))
    )
    wo = Window.partitionBy("doc_id").orderBy("i0")
    wc = Window.partitionBy("doc_id")
    return (
        w.select(
            "doc_id",
            (F.col("i0") + 1).alias("i"),
            F.concat_ws(
                " ",
                "wd",
                F.lead("wd", 1).over(wo),
                F.lead("wd", 2).over(wo),
            ).alias("s"),
            F.count("*").over(wc).alias("n"),
        )
        .filter(F.col("i") <= F.greatest(F.col("n") - 2, F.lit(1)))
        .select("doc_id", "i", F.md5("s").alias("hx"))
    )


@register("b21_winnow_fingerprints", oracle=_B21_WINNOW_ORACLE, tags=("B21",))
def b21_winnow_fingerprints(spark, sf_dir):
    # h feeds BOTH the winnowing branch and the per-doc gram totals —
    # cache it once (same reuse contract as b19_minhash's shingles)
    h = _winnow_hashes(spark, sf_dir).cache()
    w4 = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-3, Window.currentRow)
    )
    wins = h.select(
        "doc_id",
        F.min("hx").over(w4).alias("fp"),
        F.count("*").over(w4).alias("nw"),
    )
    fps = wins.filter(F.col("nw") == 4).select("doc_id", "fp").distinct()
    per_doc = fps.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_fingerprints")
    )
    grams = h.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_grams")
    )
    return grams.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_fingerprints"), F.lit(0)).alias(
            "n_fingerprints"
        ),
        round_ratio(
            F.coalesce(F.col("n_fingerprints"), F.lit(0)),
            F.col("n_grams"),
            4,
        ).alias("density"),
    )


# --------------------------------------------------------------------------
# B19w — winnowed-fingerprint near-dup pairs (what MOSS actually
# reports): documents sharing >= 2 winnowed fingerprints, scored by
# the shared count over the smaller doc's fingerprint set (containment
# direction, like b19_containment_neardup). The corpus-frequency gate
# (fingerprints present in > 8 docs are boilerplate, dropped before
# the self-join) is the same hot-key bound as span-dedup/boilerplate:
# the pair join is sized by genuinely-shared rare fingerprints, never
# by corpus size x hot-gram frequency. Shape: b21's per-doc winnowing
# (map + one per-doc window), a gram-df aggregate, then a self-join on
# the surviving fingerprint keys.
# --------------------------------------------------------------------------
_B19_WINNOW_ORACLE = r"""
    WITH d AS (
      SELECT doc_id,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    pos AS (
      SELECT doc_id, w,
        unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
      FROM d
    ),
    h AS (
      SELECT doc_id, i,
        md5(concat_ws(' ', w[i], w[i + 1], w[i + 2])) AS hx
      FROM pos
    ),
    wins AS (
      SELECT doc_id, i,
        MIN(hx) OVER (PARTITION BY doc_id ORDER BY i
          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
        COUNT(*) OVER (PARTITION BY doc_id ORDER BY i
          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS nw
      FROM h
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE nw = 4),
    rare AS (
      SELECT fp FROM fps GROUP BY fp
      HAVING COUNT(*) >= 2 AND COUNT(*) <= 8
    ),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM fps a JOIN rare USING (fp) JOIN fps b USING (fp)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= 2
    )
    SELECT p.d1, p.d2, CAST(p.shared AS BIGINT) AS shared,
      ((2 * p.shared * 10000 + least(s1.n_fp, s2.n_fp))
        // (2 * least(s1.n_fp, s2.n_fp))) / 10000.0 AS containment
    FROM pairs p
    JOIN sizes s1 ON s1.doc_id = p.d1
    JOIN sizes s2 ON s2.doc_id = p.d2
"""


@register("b19_winnow_neardup", oracle=_B19_WINNOW_ORACLE, tags=("B19",))
def b19_winnow_neardup(spark, sf_dir):
    h = _winnow_hashes(spark, sf_dir)
    w4 = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-3, Window.currentRow)
    )
    fps = (
        h.select(
            "doc_id",
            F.min("hx").over(w4).alias("fp"),
            F.count("*").over(w4).alias("nw"),
        )
        .filter(F.col("nw") == 4)
        .select("doc_id", "fp")
        .distinct()
        .cache()  # winnowing pass feeds df gate, sizes, and both join sides
    )
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= 8))
        .select("fp")
    )
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    a = fps.join(rare, "fp").select("fp", F.col("doc_id").alias("d1"))
    b = fps.select("fp", F.col("doc_id").alias("d2"))
    pairs = (
        a.join(b, "fp")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= 2)
    )
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("d1"),
                                     F.col("n_fp").alias("n1"))), "d1")
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("d2"),
                                     F.col("n_fp").alias("n2"))), "d2")
        .select(
            "d1",
            "d2",
            F.col("shared").cast("bigint").alias("shared"),
            round_ratio(
                F.col("shared"), F.least(F.col("n1"), F.col("n2")), 4
            ).alias("containment"),
        )
    )


# --------------------------------------------------------------------------
# B22tif — TIFF decode (uncompressed stripped RGB, BOTH byte orders):
# the scanned-document / pro-photo format of a real crawl. Odd doc_ids
# encode big-endian ("MM"), even little-endian ("II"), so one corpus
# exercises the full IFD byte-order matrix plus the inline-vs-offset
# value rule and multi-strip reassembly (RowsPerStrip=4 < height).
# Same closed-form row-constant colors as the other image corpora —
# the stats oracle proves the decode; a wrong strip order, endian
# read, or offset table breaks the hash.
# --------------------------------------------------------------------------
_B22_TIFF_ORACLE = """
    WITH d AS (
      SELECT doc_id, 9 + doc_id % 8 AS w, 6 + doc_id % 9 AS h
      FROM documents WHERE doc_id < 200
    ),
    ys AS (SELECT unnest(range(0, 14)) AS y),
    px AS (
      SELECT d.doc_id, d.w, d.h,
        (5 * d.doc_id + y) % 256 AS r,
        (3 * d.doc_id + 2 * y) % 256 AS g,
        (2 * d.doc_id + 3 * y) % 256 AS b
      FROM d JOIN ys ON y < d.h
    )
    SELECT doc_id,
      CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      CAST(w * h AS INT) AS n_px,
      CAST(w * SUM(r) AS BIGINT) AS sum_r,
      CAST(w * SUM(g) AS BIGINT) AS sum_g,
      CAST(w * SUM(b) AS BIGINT) AS sum_b,
      CAST(w * SUM(r) AS DOUBLE) / (w * h) AS mean_r,
      CAST(w * SUM(g) AS DOUBLE) / (w * h) AS mean_g,
      CAST(w * SUM(b) AS DOUBLE) / (w * h) AS mean_b
    FROM px GROUP BY doc_id, w, h
"""


def _media_payloads_tiff(df):
    """mapInPandas stage: the closed-form image corpus as uncompressed
    stripped TIFF, alternating byte order by doc parity."""

    def batches(it):
        import numpy as np
        import pandas as pd

        from ..operators.multimodal import encode_tiff

        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 9 + d % 8, 6 + d % 9
                y = np.arange(h, dtype=np.int64)[:, None, None]
                chan = np.concatenate(
                    [
                        (5 * d + y) % 256,
                        (3 * d + 2 * y) % 256,
                        (2 * d + 3 * y) % 256,
                    ],
                    axis=2,
                ).astype(np.uint8)
                px = np.broadcast_to(chan, (h, w, 3)).copy()
                ids.append(d)
                payloads.append(encode_tiff(px, big_endian=bool(d % 2)))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_tiff_decode", oracle=_B22_TIFF_ORACLE, tags=("B22",))
def b22_tiff_decode(spark, sf_dir):
    from ..operators.multimodal import decode_images

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_images(_media_payloads_tiff(docs))


def _media_payloads_tiff_compressed(df):
    """mapInPandas stage: the same closed-form corpus as compressed
    TIFF — compression cycles by doc_id % 3 (LZW + Predictor=2, plain
    LZW, PackBits) and byte order alternates by doc_id // 3 % 2, so one
    corpus exercises the full compression × predictor × endian matrix."""

    def batches(it):
        import numpy as np
        import pandas as pd

        from ..operators.multimodal import encode_tiff

        for pdf in it:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 9 + d % 8, 6 + d % 9
                y = np.arange(h, dtype=np.int64)[:, None, None]
                chan = np.concatenate(
                    [
                        (5 * d + y) % 256,
                        (3 * d + 2 * y) % 256,
                        (2 * d + 3 * y) % 256,
                    ],
                    axis=2,
                ).astype(np.uint8)
                px = np.broadcast_to(chan, (h, w, 3)).copy()
                comp, pred = [(5, True), (5, False), (32773, False)][d % 3]
                ids.append(d)
                payloads.append(
                    encode_tiff(
                        px,
                        big_endian=bool((d // 3) % 2),
                        compression=comp,
                        predictor=pred,
                    )
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.mapInPandas(batches, "doc_id bigint, payload binary")


@register("b22_tiff_lzw", oracle=_B22_TIFF_ORACLE, tags=("B22",))
def b22_tiff_lzw(spark, sf_dir):
    """TIFF LZW / PackBits decode: same pixel stats oracle as the
    uncompressed twin — a wrong early-change width, mis-lagged decoder
    table, bad predictor sum, or broken PackBits run breaks the hash.
    The TIFF-variant LZW packs codes MSB-first with the spec's
    early-change bump (unlike the GIF decoder elsewhere in this repo,
    which is LSB-first and bumps one code later)."""
    from ..operators.multimodal import decode_images

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .transform(spread("doc_id"))
    )
    return decode_images(_media_payloads_tiff_compressed(docs))


# --------------------------------------------------------------------------
# B21v — source vocabulary overlap (the dataset-card "how similar are
# my sources" matrix): exact Jaccard |Va ∩ Vb| / |Va ∪ Vb| between
# every source pair's token vocabularies, computed from the inverted
# (token → source) index — the intersection sizes come from one
# self-join keyed on token (bounded by shared-vocabulary size, the
# same inverted-index rule as the shingle dedups), never from
# comparing corpora pairwise. Exact integers end-to-end.
# --------------------------------------------------------------------------
_B21_VOCAB_OVERLAP_ORACLE = r"""
    WITH v AS (
      SELECT DISTINCT source,
        unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      FROM documents
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM v GROUP BY source),
    inter AS (
      SELECT a.source AS s1, b.source AS s2, COUNT(*) AS i
      FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.s1, i.s2, CAST(i.i AS BIGINT) AS n_shared,
      CAST(x.n AS BIGINT) AS n1, CAST(y.n AS BIGINT) AS n2,
      ((2 * i.i * 10000 + (x.n + y.n - i.i))
        // (2 * (x.n + y.n - i.i))) / 10000.0 AS jaccard
    FROM inter i
    JOIN sizes x ON x.source = i.s1
    JOIN sizes y ON y.source = i.s2
"""


@register(
    "b21_vocab_overlap", oracle=_B21_VOCAB_OVERLAP_ORACLE, tags=("B21",)
)
def b21_vocab_overlap(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    v = (
        docs.select(
            "source", F.explode(tokens(F.col("text"))).alias("tok")
        )
        .distinct()
        .cache()  # inverted index feeds sizes and both join sides
    )
    sizes = v.groupBy("source").agg(F.count("*").alias("n"))
    a = v.select(F.col("source").alias("s1"), "tok")
    b = v.select(F.col("source").alias("s2"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("s1"),
                                     F.col("n").alias("n1"))), "s1")
        .join(
            F.broadcast(sizes.select(F.col("source").alias("s2"),
                                     F.col("n").alias("n2"))), "s2")
        .select(
            "s1",
            "s2",
            F.col("i").cast("bigint").alias("n_shared"),
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            round_ratio(
                F.col("i"), F.col("n1") + F.col("n2") - F.col("i"), 4
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# B21h — vocabulary growth curve (Heaps' law audit): cumulative
# distinct-token count vs cumulative token count over the corpus in
# doc_id order — the dataset-card plot that shows whether a corpus is
# still contributing new vocabulary or has gone repetitive. NEW tokens
# are attributed to the doc where they FIRST appear (min doc_id per
# token — one aggregate over the inverted index), then two running
# sums over the per-doc totals. Exact integers; the running windows
# order by doc_id over the PER-DOC table (corpus-size / doc-length
# rows), and at 100 TB the curve would be checkpointed per shard and
# prefix-summed like the watermark two-pass — documented, not needed
# at the per-doc table's scale.
# --------------------------------------------------------------------------
_B21_VOCAB_GROWTH_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id,
        unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tk
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM tok
      GROUP BY doc_id
    ),
    firsts AS (
      SELECT MIN(doc_id) AS doc_id, tk FROM tok GROUP BY tk
    ),
    new_per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_new FROM firsts
      GROUP BY doc_id
    )
    SELECT p.doc_id,
      CAST(SUM(p.n_tok) OVER w AS BIGINT) AS cum_tokens,
      CAST(SUM(COALESCE(n.n_new, 0)) OVER w AS BIGINT) AS cum_vocab
    FROM per_doc p LEFT JOIN new_per_doc n USING (doc_id)
    WINDOW w AS (ORDER BY p.doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("b21_vocab_growth", oracle=_B21_VOCAB_GROWTH_ORACLE, tags=("B21",))
def b21_vocab_growth(spark, sf_dir):
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").transform(spread("doc_id"))
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tk")
    ).cache()  # feeds both the per-doc totals and the first-seen agg
    per_doc = tok.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tok")
    )
    new_per_doc = (
        tok.groupBy("tk")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_new"))
    )
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_doc.join(new_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.sum("n_tok").over(w).cast("bigint").alias("cum_tokens"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0)))
            .over(w)
            .cast("bigint")
            .alias("cum_vocab"),
        )
    )


# --------------------------------------------------------------------------
# B20a — embedding-quality audit: the QA gate every pipeline runs
# BEFORE spending compute on ANN/semantic stages — per label: vector
# count, dimension bounds (a ragged dim means a broken producer),
# zero-vector count (cosine is undefined there), and the norm²
# distribution (min/max/sum). Norms ride the exact-decimal dot product
# (functions/vectors.py): component-rounded DECIMAL products summed
# order-independently, ONE cast to double per output — bit-identical
# in both engines. Map-only per vector + one tiny per-label aggregate.
# --------------------------------------------------------------------------
_B20_AUDIT_ORACLE = """
    WITH pos AS (
      SELECT unnest(range(
        1, (SELECT MAX(len(embedding)) FROM embeddings) + 1)) AS i
    ),
    terms AS (
      SELECT e.vec_id, e.label, len(e.embedding) AS dim,
        CAST(ROUND(CAST(e.embedding[i] AS DOUBLE), 7) AS DECIMAL(9,7)) AS d
      FROM embeddings e CROSS JOIN pos
    ),
    norms AS (
      SELECT vec_id, label, MAX(dim) AS dim,
        SUM(d * d) AS n2
      FROM terms GROUP BY vec_id, label
    )
    SELECT label,
      CAST(COUNT(*) AS BIGINT) AS n_vectors,
      CAST(MIN(dim) AS INT) AS min_dim,
      CAST(MAX(dim) AS INT) AS max_dim,
      CAST(SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_zero_vectors,
      CAST(MIN(n2) AS DOUBLE) AS min_norm2,
      CAST(MAX(n2) AS DOUBLE) AS max_norm2,
      CAST(SUM(n2) AS DOUBLE) AS sum_norm2
    FROM norms GROUP BY label
"""


@register("b20_embedding_audit", oracle=_B20_AUDIT_ORACLE, tags=("B20",))
def b20_embedding_audit(spark, sf_dir):
    from ..functions.vectors import norm2_exact

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        norm2_exact(F.col("embedding")).alias("n2"),
    )
    return emb.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.min("dim").cast("int").alias("min_dim"),
        F.max("dim").cast("int").alias("max_dim"),
        F.sum(F.when(F.col("n2") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_vectors"),
        F.min("n2").cast("double").alias("min_norm2"),
        F.max("n2").cast("double").alias("max_norm2"),
        F.sum("n2").cast("double").alias("sum_norm2"),
    )


# --------------------------------------------------------------------------
# B19u — URL canonicalization + dedup: the stage every crawl pipeline
# runs BEFORE content dedup — the same page arrives under scheme/host
# case variants, default ports, trailing /index.html, tracking params
# (utm_*, ref, fbclid) in shuffled order, and fragments. Canonical key:
# lower(scheme) '://' lower(host minus www. minus the scheme's default
# port) + path minus trailing /index.html and trailing slash + the
# kept query params sorted. The corpus synthesizes one messy URL per
# doc, closed-form in doc_id (the media-corpus pattern), so dedup
# groups are enumerable in SQL and the whole operator hash-checks.
# Scale: canonicalization is map-only string algebra (regexp + array
# ops, all codegen); the only shuffle keys the canonical URL — a
# fine-grained key, the same cardinality profile as content hashes.
# --------------------------------------------------------------------------
_B19_URL_SYNTH_SQL = """
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
    || '://'
    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.Site' ELSE 'site' END)
    || CAST(doc_id % 7 AS VARCHAR)
    || (CASE WHEN doc_id % 3 = 0 THEN '.COM' ELSE '.com' END)
    || (CASE WHEN doc_id % 4 = 0 AND doc_id % 2 = 0 THEN ':80'
             WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END)
    || '/p/' || CAST(doc_id % 5 AS VARCHAR)
    || (CASE WHEN doc_id % 6 = 0 THEN '/index.html'
             WHEN doc_id % 6 = 3 THEN '/' ELSE '' END)
    || (CASE WHEN doc_id % 2 = 0
             THEN '?utm_source=feed&id=' || CAST(doc_id % 10 AS VARCHAR)
                  || '&ref=tw'
             ELSE '?id=' || CAST(doc_id % 10 AS VARCHAR)
                  || '&utm_campaign=x' END)
    || (CASE WHEN doc_id % 5 = 2 THEN '#sec' ELSE '' END)
"""

_B19_URL_ORACLE = (
    r"""
    WITH raw AS (
      SELECT doc_id, """
    + _B19_URL_SYNTH_SQL
    + r""" AS url
      FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
        lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS hostport,
        regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
        regexp_extract(url, '\?([^#]*)', 1) AS query
      FROM raw
    ),
    canon AS (
      SELECT doc_id, url,
        scheme || '://'
        || regexp_replace(
             CASE WHEN scheme = 'http'
                  THEN regexp_replace(hostport, ':80$', '')
                  WHEN scheme = 'https'
                  THEN regexp_replace(hostport, ':443$', '')
                  ELSE hostport END,
             '^www\.', '')
        || regexp_replace(
             regexp_replace(path, '/index\.html$', ''), '/$', '')
        || CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canon_url
      FROM (
        SELECT *,
          array_to_string(
            list_sort(list_filter(string_split(query, '&'),
              x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'ref=')
                        OR starts_with(x, 'fbclid=')))), '&') AS kept
        FROM parts
      )
    )
    SELECT doc_id, url, canon_url,
      CAST(COUNT(*) OVER (PARTITION BY canon_url) AS BIGINT) AS n_dup,
      CAST(doc_id = MIN(doc_id) OVER (PARTITION BY canon_url)
        AS BOOLEAN) AS is_canonical
    FROM canon
"""
)


@register("b19_url_dedup", oracle=_B19_URL_ORACLE, tags=("B19", "B21"))
def b19_url_dedup(spark, sf_dir):
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(d % 3 == 0, F.lit("WWW.Site")).otherwise(F.lit("site")),
        (d % 7).cast("string"),
        F.when(d % 3 == 0, F.lit(".COM")).otherwise(F.lit(".com")),
        F.when((d % 4 == 0) & (d % 2 == 0), F.lit(":80"))
        .when(d % 4 == 1, F.lit(":443"))
        .otherwise(F.lit("")),
        F.lit("/p/"),
        (d % 5).cast("string"),
        F.when(d % 6 == 0, F.lit("/index.html"))
        .when(d % 6 == 3, F.lit("/"))
        .otherwise(F.lit("")),
        F.when(
            d % 2 == 0,
            F.concat(
                F.lit("?utm_source=feed&id="),
                (d % 10).cast("string"),
                F.lit("&ref=tw"),
            ),
        ).otherwise(
            F.concat(
                F.lit("?id="),
                (d % 10).cast("string"),
                F.lit("&utm_campaign=x"),
            )
        ),
        F.when(d % 5 == 2, F.lit("#sec")).otherwise(F.lit("")),
    )
    from ..functions.url import canonical_url

    raw = (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .transform(spread("doc_id"))
        .withColumn("url", url)
    )
    canon = raw.select(
        "doc_id", "url", canonical_url(F.col("url")).alias("canon_url")
    )
    w = Window.partitionBy("canon_url")
    return canon.select(
        "doc_id",
        "url",
        "canon_url",
        F.count("*").over(w).cast("bigint").alias("n_dup"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_canonical"),
    )


# --------------------------------------------------------------------------
# B19w — PageRank (3 unrolled power iterations, fixed-point): crawl
# frontier prioritization — rank pages by link structure before
# spending fetch/compute budget, the classic companion to URL dedup in
# a crawl pipeline. The synthetic link graph is closed-form in doc_id
# ((7i+1)%N, (13i+2)%N, and (5i+3)%N for every third doc, self-loops
# dropped, multi-edges kept identically by both engines), so the whole
# computation hash-checks. Arithmetic is FIXED-POINT MILLIONTHS with
# integer division at both the share split (r div out_deg) and the
# damping step ((85·contrib) div 100) — no float accumulates anywhere,
# so iteration order cannot produce engine drift. Dangling mass is
# dropped and no-inlink nodes take the bare teleport term — identical
# conventions in the SQL unroll.
#
# Scale: each iteration is one join rank⋈links + one dst aggregation.
# The rank and adjacency relations are both keyed by doc id: at 100 TB
# you bucket BOTH by id so every iteration's join is co-partitioned
# (zero exchange; the dst agg is the one real shuffle per round) — the
# same layout argument as b8_bucketed. Unrolling 3 rounds keeps the
# lineage static; a production run checkpoints between rounds.
# --------------------------------------------------------------------------
_B19_PAGERANK_ORACLE = """
    WITH n AS (SELECT COUNT(*) AS n FROM documents),
    docs AS (SELECT doc_id FROM documents),
    links AS (
      SELECT src, dst FROM (
        SELECT doc_id AS src, (doc_id * 7 + 1) % n.n AS dst FROM docs, n
        UNION ALL
        SELECT doc_id, (doc_id * 13 + 2) % n.n FROM docs, n
        UNION ALL
        SELECT doc_id, (doc_id * 5 + 3) % n.n FROM docs, n
        WHERE doc_id % 3 = 0
      ) WHERE src <> dst
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM links GROUP BY src),
    r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM docs),
    c1 AS (
      SELECT l.dst AS doc_id, SUM(r0.r // deg.d) AS c
      FROM links l JOIN deg USING (src) JOIN r0 ON r0.doc_id = l.src
      GROUP BY l.dst
    ),
    r1 AS (
      SELECT d.doc_id,
        CAST(150000 + (85 * COALESCE(c1.c, 0)) // 100 AS BIGINT) AS r
      FROM docs d LEFT JOIN c1 USING (doc_id)
    ),
    c2 AS (
      SELECT l.dst AS doc_id, SUM(r1.r // deg.d) AS c
      FROM links l JOIN deg USING (src) JOIN r1 ON r1.doc_id = l.src
      GROUP BY l.dst
    ),
    r2 AS (
      SELECT d.doc_id,
        CAST(150000 + (85 * COALESCE(c2.c, 0)) // 100 AS BIGINT) AS r
      FROM docs d LEFT JOIN c2 USING (doc_id)
    ),
    c3 AS (
      SELECT l.dst AS doc_id, SUM(r2.r // deg.d) AS c
      FROM links l JOIN deg USING (src) JOIN r2 ON r2.doc_id = l.src
      GROUP BY l.dst
    ),
    r3 AS (
      SELECT d.doc_id,
        CAST(150000 + (85 * COALESCE(c3.c, 0)) // 100 AS BIGINT) AS r
      FROM docs d LEFT JOIN c3 USING (doc_id)
    )
    SELECT r3.doc_id,
      CAST(COALESCE(deg.d, 0) AS BIGINT) AS out_deg,
      r3.r AS rank_fp
    FROM r3 LEFT JOIN deg ON deg.src = r3.doc_id
"""


@register("b19_pagerank", oracle=_B19_PAGERANK_ORACLE, tags=("B19", "B21"))
def b19_pagerank(spark, sf_dir):
    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .transform(spread("doc_id"))
        .cache()  # vertex set: reused by the link build + every round
    )
    n = docs.count()  # one scalar action; N parameterizes the graph
    d = F.col("doc_id")
    links = (
        docs.select(d.alias("src"), ((d * 7 + 1) % n).alias("dst"))
        .unionAll(docs.select(d.alias("src"), ((d * 13 + 2) % n).alias("dst")))
        .unionAll(
            docs.filter(d % 3 == 0).select(
                d.alias("src"), ((d * 5 + 3) % n).alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
    )
    deg = links.groupBy("src").agg(F.count("*").alias("deg"))
    adj = (
        links.join(deg, "src")
        .select("src", "dst", "deg")
        .repartition("src")
        .cache()  # adjacency with out-degree: reused by all 3 rounds
    )
    rank = docs.select("doc_id", F.lit(1_000_000).cast("bigint").alias("r"))
    for _ in range(3):
        contrib = (
            adj.join(rank, adj["src"] == rank["doc_id"])
            .select("dst", F.expr("r div deg").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("c"))
        )
        rank = docs.join(
            contrib, docs["doc_id"] == contrib["dst"], "left"
        ).select(
            "doc_id",
            (
                F.lit(150_000)
                + F.expr("85 * coalesce(c, 0) div 100")
            ).cast("bigint").alias("r"),
        ).cache()  # O(N) rows: without this, round k replays rounds
        # 1..k-1's joins inside its own lineage (1+2+3 round-units of
        # work instead of 3) — the in-process stand-in for the
        # between-rounds checkpoint a production run takes
    return rank.join(
        deg, rank["doc_id"] == deg["src"], "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("deg"), F.lit(0)).cast("bigint").alias("out_deg"),
        F.col("r").alias("rank_fp"),
    )


# --------------------------------------------------------------------------
# B18k — k-CENTER CORESET (farthest-point / Gonzalez 2-approx
# sampling): the diversity-selection dual of the b18 samplers — pick K
# points so every vector is close to a representative, the standard
# coreset for "train on a diverse subset" and for seeding k-means.
# Greedy: start at the smallest vec_id, then K-1 rounds of "the point
# farthest (max-min exact-decimal squared L2) from the chosen set",
# ties to the smallest vec_id. dist2_exact keeps every comparison in
# DECIMAL, so the argmax can never flip on accumulation order and the
# whole selection hash-checks against an unrolled-CTE SQL replay.
#
# Scale: classic INCREMENTAL Gonzalez — the round r-1 min-dist column
# is carried forward as cached O(N) state, so each round is one
# broadcast(newest center)×corpus distance map + a least() merge + one
# global max: O(N·d) per round FLAT in K, O(KN) total. K-1 tiny driver
# actions (1-row first() each), the same bounded-collect contract as
# the k-means/BPE trainers; tools/kcenter_probe.py measures per-round
# flatness at K=16 on a 10x corpus.
# --------------------------------------------------------------------------
_KC_K = 4


def _kcenter_oracle(k: int) -> str:
    dec = "CAST(ROUND(CAST({src}.embedding[i] AS DOUBLE), 7) AS DECIMAL(9,7))"
    rounds = []
    for r in range(1, k):
        cs = " UNION ALL ".join(
            ["SELECT vid FROM c0"]
            + [f"SELECT vid FROM p{j}" for j in range(1, r)]
        )
        rounds.append(f"""
    cs{r} AS ({cs}),
    d{r} AS (
      SELECT v.vec_id, ce.vec_id AS cvid,
        SUM(({dec.format(src='v')} - {dec.format(src='ce')})
          * ({dec.format(src='v')} - {dec.format(src='ce')})) AS d2
      FROM e v
      CROSS JOIN pos
      JOIN cs{r} ON TRUE
      JOIN e ce ON ce.vec_id = cs{r}.vid
      GROUP BY v.vec_id, ce.vec_id
    ),
    m{r} AS (
      SELECT vec_id, MIN(d2) AS mind FROM d{r} GROUP BY vec_id
    ),
    p{r} AS (
      SELECT vec_id AS vid, mind FROM m{r}
      ORDER BY mind DESC, vec_id LIMIT 1
    )""")
    finals = " UNION ALL ".join(
        ["SELECT 0 AS sel_round, vid AS vec_id, "
         "CAST(NULL AS DOUBLE) AS radius2 FROM c0"]
        + [
            f"SELECT {r}, vid, CAST(mind AS DOUBLE) FROM p{r}"
            for r in range(1, k)
        ]
    )
    return f"""
    WITH pos AS (
      SELECT unnest(range(
        1, (SELECT MAX(len(embedding)) FROM embeddings) + 1)) AS i
    ),
    e AS (SELECT vec_id, embedding FROM embeddings),
    c0 AS (SELECT MIN(vec_id) AS vid FROM e),
    {','.join(rounds)}
    {finals}
    """


@register(
    "b18_kcenter_coreset", oracle=_kcenter_oracle(_KC_K), tags=("B18", "B20")
)
def b18_kcenter_coreset(spark, sf_dir, k: int = _KC_K):
    from ..functions.vectors import dist2_exact

    emb = (
        par_floor(
            t(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
            "vec_id",
        )
        .cache()  # scanned once per round; O(N) rows
    )
    c0 = emb.agg(F.min("vec_id")).first()[0]
    center_ids = [int(c0)]
    out = [(0, int(c0), None)]
    # INCREMENTAL Gonzalez (round-8 verdict #4): carry the running
    # min-distance column forward instead of recomputing against ALL
    # selected centers — each round joins ONLY the newest center
    # (broadcast, 1 row) and takes least(prev_mind, d2_new). Per-round
    # cost is O(N·d) FLAT IN k — O(kN) total, not O(k²N) — the shape
    # that matters when k grows past the toy k=4
    # (tools/kcenter_probe.py measures per-round flatness at k=16 on a
    # 10x corpus). The O(N) state is localCheckpoint'ed each round:
    # without lineage truncation, round r's logical plan chains all
    # r-1 prior joins and Catalyst re-analysis alone grows
    # quadratically (measured 21.6 s/round at k=16 vs 1.15 s at k=4
    # on 2k vectors — pure driver overhead) — the iterative-algorithm
    # equivalent of PageRank's between-rounds cache. Distances stay in
    # exact DECIMAL end-to-end, so least() commutes with the
    # unrolled-CTE oracle's MIN over all centers bit-for-bit.
    state = None  # (vec_id, mind): min d2 to any selected center
    for r in range(1, k):
        ce = emb.filter(F.col("vec_id") == center_ids[-1]).select(
            F.col("embedding").alias("ce")
        )
        d_new = emb.crossJoin(F.broadcast(ce)).select(
            "vec_id",
            dist2_exact(F.col("embedding"), F.col("ce")).alias("d2"),
        )
        if state is None:
            new_state = d_new.select("vec_id", F.col("d2").alias("mind"))
        else:
            new_state = state.join(d_new, "vec_id").select(
                "vec_id", F.least("mind", "d2").alias("mind")
            )
        # materialize + truncate lineage (persists the O(N) rows; the
        # prior round's RDD is released by the ContextCleaner once the
        # Python ref drops)
        new_state = new_state.localCheckpoint(eager=True)
        top = (
            new_state.orderBy(F.col("mind").desc(), "vec_id")
            .limit(1)
            .select("vec_id", F.col("mind").cast("double").alias("mind"))
            .first()
        )
        state = new_state
        center_ids.append(int(top["vec_id"]))
        out.append((r, int(top["vec_id"]), float(top["mind"])))
    return spark.createDataFrame(
        out, "sel_round int, vec_id bigint, radius2 double"
    )


# --------------------------------------------------------------------------
# B19cal — MINHASH CALIBRATION AUDIT: for every LSH candidate pair,
# the sketch's similarity estimate (matching signature components,
# 0..8) NEXT TO the exact shingle-set Jaccard it estimates — the
# measurement that tells an operator whether the k=8/4-band
# configuration is calibrated for THIS corpus before trusting it at
# 100 TB (E[matches/k] = J; a corpus whose candidates show matches/k
# systematically above exact J needs more bands/rows, one below is
# over-verifying). The audit-query pattern of b20_embedding_audit
# applied to the dedup sketch family: every column exact — component
# equality is string equality on md5 prefixes, Jaccard is the
# cross-multiplied integer ratio in basis points.
#
# Scale shape: identical to b19_minhash_lsh_neardup (this IS its
# dataflow with the verify threshold removed and the signature
# comparison added): map-only signatures, banded candidates, exact
# verification only on candidate pairs. The calibration join adds one
# broadcast-sized signature lookup per pair side.
# --------------------------------------------------------------------------
_B19_MH_CAL_ORACLE = (
    _DOCS_CTE
    + """
    , mh AS (
      SELECT doc_id,
    """
    + _MINHASH_COMPONENTS
    + """
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, md5(concat(h0, h1)) AS bk FROM mh
      UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM mh
      UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM mh
      UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM mh
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
    ),
    m AS (
      SELECT c.d1, c.d2,
        (CASE WHEN ma.h0 = mb.h0 THEN 1 ELSE 0 END
         + CASE WHEN ma.h1 = mb.h1 THEN 1 ELSE 0 END
         + CASE WHEN ma.h2 = mb.h2 THEN 1 ELSE 0 END
         + CASE WHEN ma.h3 = mb.h3 THEN 1 ELSE 0 END
         + CASE WHEN ma.h4 = mb.h4 THEN 1 ELSE 0 END
         + CASE WHEN ma.h5 = mb.h5 THEN 1 ELSE 0 END
         + CASE WHEN ma.h6 = mb.h6 THEN 1 ELSE 0 END
         + CASE WHEN ma.h7 = mb.h7 THEN 1 ELSE 0 END) AS mh_matches
      FROM cand c
      JOIN mh ma ON ma.doc_id = c.d1
      JOIN mh mb ON mb.doc_id = c.d2
    ),
    inter AS (
      SELECT c.d1, c.d2, count(*) AS i
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.d1
      JOIN sh s2 ON s2.doc_id = c.d2 AND s2.s = s1.s
      GROUP BY c.d1, c.d2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
    SELECT m.d1 AS d1, m.d2 AS d2,
      CAST(m.mh_matches AS INT) AS mh_matches,
      CAST(COALESCE(inter.i, 0) AS BIGINT) AS n_inter,
      CAST(sa.n + sb.n - COALESCE(inter.i, 0) AS BIGINT) AS n_union,
      CAST((2 * COALESCE(inter.i, 0) * 10000
            + (sa.n + sb.n - COALESCE(inter.i, 0)))
           // (2 * (sa.n + sb.n - COALESCE(inter.i, 0))) AS BIGINT)
        AS jac_bp
    FROM m
    LEFT JOIN inter ON inter.d1 = m.d1 AND inter.d2 = m.d2
    JOIN sizes sa ON sa.doc_id = m.d1
    JOIN sizes sb ON sb.doc_id = m.d2
    """
)


@register(
    "b19_minhash_calibration", oracle=_B19_MH_CAL_ORACLE, tags=("B19",)
)
def b19_minhash_calibration(spark, sf_dir):
    docs = (
        t(spark, sf_dir, "documents")
        .transform(spread("doc_id"))
        .select("doc_id", tokens(F.col("text")).alias("w"))
        .select(
            "doc_id",
            F.array_distinct(shingles(F.col("w"))).alias("arr"),
        )
    )

    def _component(j: int):
        salt = F.lit(f"{j}|")
        return F.array_min(
            F.transform(
                F.col("arr"),
                lambda s: F.substring(F.md5(F.concat(salt, s)), 1, 8),
            )
        ).alias(f"h{j}")

    sig = docs.select(
        "doc_id", "arr", *[_component(j) for j in range(8)]
    ).localCheckpoint()  # scanned by bands + both pair sides
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}"))
                        ).alias("bk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "e.band", "e.bk")
    cand = (
        bands.select(F.col("doc_id").alias("d1"), "band", "bk")
        .join(
            bands.select(F.col("doc_id").alias("d2"), "band", "bk"),
            ["band", "bk"],
        )
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    a = sig.select(
        F.col("doc_id").alias("d1"),
        F.col("arr").alias("arr_a"),
        *[F.col(f"h{j}").alias(f"a{j}") for j in range(8)],
    )
    b = sig.select(
        F.col("doc_id").alias("d2"),
        F.col("arr").alias("arr_b"),
        *[F.col(f"h{j}").alias(f"b{j}") for j in range(8)],
    )
    j = cand.join(a, "d1").join(b, "d2")
    matches = sum(
        (F.col(f"a{k}") == F.col(f"b{k}")).cast("int") for k in range(8)
    )
    i = F.size(F.array_intersect("arr_a", "arr_b")).cast("bigint")
    union = (
        F.size("arr_a").cast("bigint") + F.size("arr_b").cast("bigint") - i
    )
    num = 2 * i * 10000 + union
    return j.select(
        "d1",
        "d2",
        matches.cast("int").alias("mh_matches"),
        i.alias("n_inter"),
        union.alias("n_union"),
        ((num - F.pmod(num, 2 * union)) / (2 * union))
        .cast("bigint")
        .alias("jac_bp"),
    )


# --------------------------------------------------------------------------
# B20m — MMR DIVERSE RE-RANKING (maximal marginal relevance,
# Carbonell & Goldstein 1998): re-rank the retriever's top-C pool so
# the final top-k balances relevance against redundancy — the search/
# RAG-side twin of the k-center coreset (same greedy max-min skeleton,
# plus a relevance term): rank 1 = most relevant (min exact d² to the
# probe, tie smallest id); each later rank maximizes
# min_{s∈selected} d²(c, s) − d²(c, probe) — λ=0.5 MMR with both
# terms scaled ×2, so the entire selection argmax runs in exact
# DECIMAL and can never flip on accumulation order.
#
# Scale shape: the POOL is the retriever's top-C (one TakeOrdered over
# the corpus — the only corpus-sized stage); the greedy then runs on
# C rows with the k-center incremental-state pattern (carry min-d²-to-
# selected forward, join only the newest pick, localCheckpoint per
# round, k−1 bounded 1-row driver actions). At 100 TB C stays ~1e3 —
# re-ranking cost is independent of corpus size by construction.
# --------------------------------------------------------------------------
_MMR_POOL = 20
_MMR_K = 5
_MMR_PROBE = 0


def _mmr_oracle(k: int = _MMR_K, c: int = _MMR_POOL) -> str:
    dec = "CAST(ROUND(CAST({src}.embedding[i] AS DOUBLE), 7) AS DECIMAL(9,7))"
    parts = [f"""
    WITH pos AS (
      SELECT unnest(range(
        1, (SELECT MAX(len(embedding)) FROM embeddings) + 1)) AS i
    ),
    e AS (SELECT vec_id, embedding FROM embeddings),
    pr AS (SELECT embedding FROM e WHERE vec_id = {_MMR_PROBE}),
    dp AS (
      SELECT v.vec_id,
        SUM(({dec.format(src='v')} - {dec.format(src='pr')})
          * ({dec.format(src='v')} - {dec.format(src='pr')})) AS d2p
      FROM e v CROSS JOIN pr CROSS JOIN pos
      WHERE v.vec_id <> {_MMR_PROBE}
      GROUP BY v.vec_id
    ),
    pool AS (
      SELECT dp.vec_id, dp.d2p, e.embedding
      FROM dp JOIN e USING (vec_id)
      ORDER BY dp.d2p, dp.vec_id LIMIT {c}
    ),
    pd AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
        SUM(({dec.format(src='a')} - {dec.format(src='b')})
          * ({dec.format(src='a')} - {dec.format(src='b')})) AS d2
      FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
      CROSS JOIN pos
      GROUP BY 1, 2
    ),
    s1 AS (
      SELECT vec_id, d2p FROM pool ORDER BY d2p, vec_id LIMIT 1
    )"""]
    for r in range(2, k + 1):
        prev_m = f"m{r - 1}" if r > 2 else None
        if r == 2:
            parts.append(f""",
    m2 AS (
      SELECT p.vec_id, p.d2p, pd.d2 AS mind
      FROM pool p
      JOIN pd ON pd.va = p.vec_id
      JOIN s1 ON pd.vb = s1.vec_id
      WHERE p.vec_id NOT IN (SELECT vec_id FROM s1)
    ),
    s2 AS (
      SELECT vec_id, d2p FROM m2
      ORDER BY (mind - d2p) DESC, vec_id LIMIT 1
    )""")
        else:
            parts.append(f""",
    m{r} AS (
      SELECT m.vec_id, m.d2p, LEAST(m.mind, pd.d2) AS mind
      FROM {prev_m} m
      JOIN pd ON pd.va = m.vec_id
      JOIN s{r - 1} ON pd.vb = s{r - 1}.vec_id
      WHERE m.vec_id NOT IN (SELECT vec_id FROM s{r - 1})
    ),
    s{r} AS (
      SELECT vec_id, d2p FROM m{r}
      ORDER BY (mind - d2p) DESC, vec_id LIMIT 1
    )""")
    finals = " UNION ALL ".join(
        f"SELECT {r} AS rank, vec_id, CAST(d2p AS DOUBLE) AS d2_probe "
        f"FROM s{r}"
        for r in range(1, k + 1)
    )
    parts.append("\n    " + finals)
    return "".join(parts)


@register("b20_mmr_rerank", oracle=_mmr_oracle(), tags=("B20",))
def b20_mmr_rerank(spark, sf_dir):
    from ..functions.vectors import dist2_exact

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probe = emb.filter(F.col("vec_id") == _MMR_PROBE).select(
        F.col("embedding").alias("pe")
    )
    pool = (
        emb.filter(F.col("vec_id") != _MMR_PROBE)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            "embedding",
            dist2_exact(F.col("embedding"), F.col("pe")).alias("d2p"),
        )
        .orderBy("d2p", "vec_id")
        .limit(_MMR_POOL)
        .localCheckpoint()  # C rows: every greedy round runs on this
    )
    first = pool.orderBy("d2p", "vec_id").limit(1).first()
    sel = [(1, int(first["vec_id"]), float(first["d2p"]))]
    state = None  # (vec_id, d2p, mind): min d2 to any selected pick
    for r in range(2, _MMR_K + 1):
        newest = pool.filter(F.col("vec_id") == sel[-1][1]).select(
            F.col("embedding").alias("se")
        )
        d_new = (
            pool.filter(
                ~F.col("vec_id").isin([v for _r, v, _d in sel])
            )
            .crossJoin(F.broadcast(newest))
            .select(
                "vec_id",
                "d2p",
                dist2_exact(F.col("embedding"), F.col("se")).alias("d2"),
            )
        )
        if state is None:
            new_state = d_new.select(
                "vec_id", "d2p", F.col("d2").alias("mind")
            )
        else:
            new_state = (
                state.filter(F.col("vec_id") != sel[-1][1])
                .join(d_new.select("vec_id", "d2"), "vec_id")
                .select(
                    "vec_id", "d2p", F.least("mind", "d2").alias("mind")
                )
            )
        new_state = new_state.localCheckpoint(eager=True)
        top = (
            new_state.orderBy(
                (F.col("mind") - F.col("d2p")).desc(), "vec_id"
            )
            .limit(1)
            .select("vec_id", F.col("d2p").cast("double").alias("d2p"))
            .first()
        )
        state = new_state
        sel.append((r, int(top["vec_id"]), float(top["d2p"])))
    # pool embeddings joined back are no longer needed; emit the
    # k-row selection (bounded driver data, the k-center contract)
    return spark.createDataFrame(
        sel, "rank int, vec_id bigint, d2_probe double"
    )


# --------------------------------------------------------------------------
# B19s — SUBSTRING-level exact dedup (suffix/ngram-anchor family): the
# one canonical LLM-dedup family the registry lacked (round-8 verdict
# #5) — find maximal VERBATIM shared token spans between document
# PAIRS, the deduplicate-exact-substrings operation suffix-array
# pipelines run before training. Three stages, all bounded:
#
#   1. anchors — fixed-L token-gram hashes with document frequency in
#      [2, DF_CAP]: rare enough that per-anchor pair fan-out is ≤
#      CAP², common enough to witness a shared span (banding, the
#      winnowing idiom);
#   2. candidates — distinct doc pairs co-occurring in an anchor
#      bucket (NEVER all-pairs: pairs ∝ anchor collisions);
#   3. verification — for each candidate pair, join the FULL gram
#      sets (recall lost to the df-cap in stage 1 applies to pair
#      DISCOVERY only) and chain matches at constant offset delta:
#      a maximal run of consecutive matching grams at one delta IS a
#      maximal shared substring of ≥ L tokens (every inner gram of a
#      verbatim span matches — the exactness argument).
#
# Output: per (doc_a, doc_b) span inventory — n_spans, longest and
# total shared tokens. The DuckDB oracle replays the same pipeline
# with md5 grams (hash values differ; only their equality classes
# matter, the b19_span_dedup idiom). Scale: grams are map-only; the
# df aggregate and anchor join shuffle gram-hash keys; verification
# shuffles candidate-pair × doc-length rows — cost tracks discovered
# duplication, not N² (tools/substring_probe.py measures linear
# candidate growth on a 10x disjoint corpus vs 100x for all-pairs).
# --------------------------------------------------------------------------
_SUBSTR_L = 5
_SUBSTR_DF_CAP = 6

_B19_SUBSTR_ORACLE = r"""
    WITH d AS (
      SELECT doc_id,
        regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    d5 AS (SELECT * FROM d WHERE len(w) >= 5),
    g AS (
      SELECT doc_id, i - 1 AS i,
        md5(concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])) AS gh
      FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM d5)
    ),
    rare AS (
      SELECT gh FROM (
        SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY gh
      ) WHERE nd >= 2 AND nd <= 6
    ),
    anch AS (SELECT DISTINCT g.doc_id, g.gh FROM g JOIN rare USING (gh)),
    cand AS (
      SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
      FROM anch x JOIN anch y USING (gh)
      WHERE x.doc_id < y.doc_id
    ),
    m AS (
      SELECT c.da, c.db, ga.i AS ia, gb.i - ga.i AS delta
      FROM cand c
      JOIN g ga ON ga.doc_id = c.da
      JOIN g gb ON gb.doc_id = c.db AND gb.gh = ga.gh
    ),
    flag AS (
      SELECT da, db, delta, ia,
        CASE WHEN lag(ia) OVER w IS NULL OR ia - lag(ia) OVER w > 1
             THEN 1 ELSE 0 END AS brk
      FROM m WINDOW w AS (PARTITION BY da, db, delta ORDER BY ia)
    ),
    isl AS (
      SELECT da, db, delta, ia,
        SUM(brk) OVER (PARTITION BY da, db, delta ORDER BY ia) AS island
      FROM flag
    ),
    spans AS (
      SELECT da, db, delta, island,
        MAX(ia) + 5 - MIN(ia) AS n_tok
      FROM isl GROUP BY 1, 2, 3, 4
    )
    SELECT da AS doc_a, db AS doc_b,
      CAST(COUNT(*) AS BIGINT) AS n_spans,
      CAST(MAX(n_tok) AS INT) AS max_span_tok,
      CAST(SUM(n_tok) AS BIGINT) AS total_span_tok
    FROM spans GROUP BY 1, 2
"""


@register("b19_substring_dedup", oracle=_B19_SUBSTR_ORACLE, tags=("B19",))
def b19_substring_dedup(spark, sf_dir):
    L = _SUBSTR_L
    docs = (
        t(spark, sf_dir, "documents")
        .transform(spread("doc_id"))
        .select("doc_id", tokens(F.col("text")).alias("w"))
        .filter(F.size("w") >= L)
    )
    w = F.col("w")
    grams = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - L),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", *[F.get(w, i + k) for k in range(L)])
                ),
            )
        ).alias("i", "gh"),
    )
    rare = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= _SUBSTR_DF_CAP))
        .select("gh")
    )
    anch = grams.join(rare, "gh").select("doc_id", "gh").distinct()
    cand = (
        anch.select(F.col("doc_id").alias("da"), "gh")
        .join(anch.select(F.col("doc_id").alias("db"), "gh"), "gh")
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )
    ga = grams.select(F.col("doc_id").alias("da"), F.col("i").alias("ia"), "gh")
    gb = grams.select(F.col("doc_id").alias("db"), F.col("i").alias("ib"), "gh")
    m = (
        cand.join(ga, "da")
        .join(gb, ["db", "gh"])
        .select("da", "db", "ia", (F.col("ib") - F.col("ia")).alias("delta"))
    )
    wo = Window.partitionBy("da", "db", "delta").orderBy("ia")
    brk = (
        F.when(
            F.lag("ia").over(wo).isNull()
            | (F.col("ia") - F.lag("ia").over(wo) > 1),
            1,
        )
        .otherwise(0)
        .alias("brk")
    )
    isl = m.select("da", "db", "delta", "ia", brk).select(
        "da",
        "db",
        "delta",
        "ia",
        F.sum("brk").over(wo).alias("island"),
    )
    spans = isl.groupBy("da", "db", "delta", "island").agg(
        (F.max("ia") + L - F.min("ia")).alias("n_tok")
    )
    return spans.groupBy(
        F.col("da").alias("doc_a"), F.col("db").alias("doc_b")
    ).agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.max("n_tok").cast("int").alias("max_span_tok"),
        F.sum("n_tok").cast("bigint").alias("total_span_tok"),
    )


# --------------------------------------------------------------------------
# B19t — TRIANGLE COUNTING over the crawl link graph (the PageRank
# companion): per-page triangle participation — the standard local
# clustering signal for spam-farm/link-ring detection before spending
# crawl budget (a page whose neighborhood is a clique is a ring; a
# hub's neighborhood is sparse). Same closed-form doc_id link graph as
# b19_pagerank, so the oracle enumerates the identical triangles.
#
# Spark shape — DEGREE-ORDERED orientation (the MapReduce-classic
# Cohen / Suri-Vassilvitskii scheme): orient every undirected edge
# from its lower-(degree, id) endpoint to the higher, so each
# vertex's OUT-neighborhood is O(sqrt(m)) even for celebrity hubs —
# the wedge self-join fans out per out-neighborhood, never per raw
# degree, which is what makes the plan survive a power-law graph at
# 100 TB. Each triangle is counted exactly once at its rank-lowest
# apex; the closing check is one join against the canonical edge set.
# The DuckDB oracle skips the orientation (it only changes WHERE the
# triangle is found, not the set) and enumerates a < b < c directly.
# --------------------------------------------------------------------------
_B19_TRIANGLE_ORACLE = """
    WITH nn AS (SELECT COUNT(*) AS n FROM documents),
    raw AS (
      SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst
      FROM documents, nn
      UNION ALL
      SELECT doc_id, (doc_id * 13 + 2) % nn.n FROM documents, nn
      UNION ALL
      SELECT doc_id, (doc_id * 5 + 3) % nn.n FROM documents, nn
      WHERE doc_id % 3 = 0
    ),
    e AS (
      SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
      FROM raw WHERE src <> dst
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    vx AS (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri
    FROM vx GROUP BY 1
"""


@register("b19_triangle_count", oracle=_B19_TRIANGLE_ORACLE, tags=("B19",))
def b19_triangle_count(spark, sf_dir):
    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .transform(spread("doc_id"))
        .cache()
    )
    n = docs.count()
    d = F.col("doc_id")
    raw = (
        docs.select(d.alias("src"), ((d * 7 + 1) % n).alias("dst"))
        .unionAll(docs.select(d.alias("src"), ((d * 13 + 2) % n).alias("dst")))
        .unionAll(
            docs.filter(d % 3 == 0).select(
                d.alias("src"), ((d * 5 + 3) % n).alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
    )
    e = (
        raw.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()  # the generator DOES emit duplicate canonical edges
        # (reciprocal gen1/gen3 pairs, e.g. (88,117) at n=500); without
        # dedup they inflate degrees and multiply the closing join, so
        # n_tri would diverge from the DISTINCT-ing oracle whenever a
        # duplicated edge touches a triangle (round-9 ADVICE, high)
        .localCheckpoint()
    )  # canonical undirected edges: reused 3x below;
    # eager checkpoint (not cache) so the docs scan-fragment cache can
    # be released immediately — see _varied_link_nb's hygiene note
    docs.unpersist()
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("dg"))
    )
    # orient from the lower-(degree, id) endpoint: out-neighborhoods
    # bounded O(sqrt(m)) — the wedge join's fan-out bound
    ed = e.join(
        deg.select(F.col("x").alias("u"), F.col("dg").alias("du")), "u"
    ).join(
        deg.select(F.col("x").alias("v"), F.col("dg").alias("dv")), "v"
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oe = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    o1 = oe.select(F.col("s"), F.col("t").alias("t1"))
    o2 = oe.select(F.col("s"), F.col("t").alias("t2"))
    wedges = o1.join(o2, "s").filter(F.col("t1") < F.col("t2"))
    tri = wedges.join(
        e,
        (F.col("u") == F.least("t1", "t2"))
        & (F.col("v") == F.greatest("t1", "t2")),
    ).select("s", "t1", "t2")
    vx = (
        tri.select(F.col("s").alias("doc_id"))
        .unionAll(tri.select(F.col("t1").alias("doc_id")))
        .unionAll(tri.select(F.col("t2").alias("doc_id")))
    )
    return vx.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tri")
    )


# --------------------------------------------------------------------------
# B19k — k-CORE DECOMPOSITION (bounded-round peeling): the third
# member of the link-graph suite (PageRank = influence, triangles =
# local clustering, k-core = cohesive-subgraph membership — the
# standard crawl-frontier "is this page inside a densely-linked
# community or dangling off the edge of the web" signal, and the
# classic preprocessing step before community detection). Repeatedly
# delete every vertex whose degree within the SURVIVING subgraph is
# < K; what remains is the K-core. Output: each surviving vertex with
# its degree inside the final induced subgraph.
#
# The graph is closed-form in doc_id with DELIBERATE degree variance
# (node i emits j = 1..6 edges gated on i % 7 >= j) — the uniform
# PageRank graph's 3-core is the whole graph and its 5-core is empty,
# so peeling needs a degree spread to be a real test: at K=4 the core
# shrinks 397 -> 374 -> 367 over the first rounds and fixpoints by
# round ~5 at every test SF.
#
# BOUNDED-ROUND contract (same as b19_pagerank's fixed 3 rounds): the
# query is defined as "the surviving set after R=8 peeling rounds",
# which both engines compute identically whether or not the peel has
# converged — peeling is monotone (the alive set only shrinks), so
# once converged every further round is a no-op and the unrolled-CTE
# oracle agrees round-for-round. R=8 covers convergence with margin
# at every test SF (measured fixpoint by round 6); a production run
# loops until `alive.count()` is stable — same per-round plan, one
# extra scalar action per round.
#
# Scale shape: edges are hash-partitioned by u ONCE and materialized;
# each round is two semi-joins (edges x alive — alive broadcasts while
# it fits, shuffle-hash when it doesn't) + one endpoint-count
# aggregate, all sized by the CURRENT subgraph, which only shrinks.
# Per-round state is the O(V) alive set, LINEAGE-TRUNCATED with an
# eager localCheckpoint each round. cache() alone is NOT enough here:
# the alive set is referenced twice per round under a semi-join and
# the cached-plan lookup misses, so each round silently replays all
# prior rounds — measured ~4x wall-clock growth PER ROUND (round 3
# alone 192 s at sf0.001) vs flat ~0.5 s rounds once checkpointed
# (a production cluster run would use checkpoint() to HDFS for the
# same lineage cut with executor-loss tolerance). Zero data rows
# cross the driver.
# --------------------------------------------------------------------------
_KCORE_K = 4
_KCORE_ROUNDS = 8
_KCORE_PRIMES = (7, 13, 5, 11, 3, 17)


def _varied_graph_sql_prefix() -> str:
    """The shared WITH-prefix building the degree-varied graph's
    canonical edge set `e` (twin of _varied_link_nb's generator)."""
    raws = "\n      UNION ALL\n".join(
        f"      SELECT doc_id AS src, (doc_id * {p} + {j}) % nn.n AS dst\n"
        f"      FROM documents, nn WHERE doc_id % 7 >= {j}"
        for j, p in enumerate(_KCORE_PRIMES, start=1)
    )
    return f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM documents),
    raw AS (
{raws}
    ),
    e AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
      FROM raw WHERE src <> dst
    )"""


def _kcore_oracle() -> str:
    parts = [
        _varied_graph_sql_prefix()
        + """,
    v0 AS MATERIALIZED (SELECT u AS x FROM e UNION SELECT v FROM e)"""
    ]
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""",
    s{i} AS MATERIALIZED (
      SELECT e.u, e.v FROM e
      JOIN v{i - 1} a ON a.x = e.u JOIN v{i - 1} b ON b.x = e.v),
    v{i} AS MATERIALIZED (
      SELECT x FROM (SELECT u AS x FROM s{i} UNION ALL SELECT v FROM s{i})
      GROUP BY x HAVING COUNT(*) >= {_KCORE_K})"""
        )
    parts.append(
        f""",
    sf AS (
      SELECT e.u, e.v FROM e
      JOIN v{_KCORE_ROUNDS} a ON a.x = e.u
      JOIN v{_KCORE_ROUNDS} b ON b.x = e.v)
    SELECT x AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM (SELECT u AS x FROM sf UNION ALL SELECT v FROM sf) GROUP BY x"""
    )
    return "".join(parts)


def _mirror_edge():
    """explode((u→v, v→u)) — emit both directions of a canonical edge
    row in ONE pass (a self-union would execute the upstream plan
    twice when it isn't materialized)."""
    return F.explode(
        F.array(
            F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
            F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
        )
    )


def _varied_link_nb(spark, sf_dir):
    """BOTH directions of the degree-varied closed-form link graph
    (node i emits j = 1..6 edges gated on i % 7 >= j; canonical-
    deduped, then mirrored) — shared by b19_kcore and
    b19_label_propagation, whose per-round joins only ever scan the
    DIRECTED relation. Materializing nb directly (instead of a
    canonical-e checkpoint followed by a second nb checkpoint) saves
    one materialization job per query: localCheckpoint erases Catalyst
    partitioning info anyway, so the intermediate e materialization
    bought nothing the consumers could reuse.

    N arrives as a BROADCAST scalar subquery (the oracle's `nn` CTE
    shape) instead of a driver-side docs.count() action — the whole
    build is ONE job, and the cache/unpersist hygiene dance the
    counted-literal version needed goes away with the cache."""
    base = t(spark, sf_dir, "documents").select("doc_id")
    nn = base.agg(F.count("*").alias("n"))
    d = F.col("doc_id")
    # ONE generator pass instead of a 6-way unionAll: explode the
    # (prime, j) table per row and gate on the out-degree rule — the
    # same edges, 32 tasks instead of 6x32 (the union build's 192-task
    # stage dominated the query's wall clock at sf0.1)
    gens = F.array(
        *[
            F.struct(F.lit(p).alias("p"), F.lit(j).alias("j"))
            for j, p in enumerate(_KCORE_PRIMES, start=1)
        ]
    )
    raw = (
        base.select(d, F.explode(gens).alias("g"))
        .filter(d % 7 >= F.col("g.j"))
        .join(F.broadcast(nn))
        .select(
            d.alias("src"),
            ((d * F.col("g.p") + F.col("g.j")) % F.col("n")).alias("dst"),
        )
    )
    e = (
        raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )
    return (
        e.select(_mirror_edge().alias("p"))
        .select("p.src", "p.dst")
        .localCheckpoint()  # eager: the directed relation is the only
        # thing the bounded-round consumers ever scan. Mirrored via
        # explode, NOT a self-union — a union of two selects over the
        # LAZY e would run the distinct shuffle twice in this one job.
    )


def _kcore_delta_peel(nb, k: int, rounds: int):
    """DELTA peeling — the fused replacement for the round-8/9
    induced-subgraph recompute (round-9 verdict item #4: per-round
    cost was 2 E-sized semi-join exchanges + a degree agg, 3 jobs x R
    rounds for a tiny vertex set).

    State is the O(V) (vertex, current-induced-degree) relation. Each
    round: dead = below-K vertices; decrement each dead vertex's
    neighbors by joining the STATIC edge list against broadcast(dead)
    — map-only over e's existing partitioning, no E-sized exchange
    ever again. Each edge decrements each endpoint at most once
    (exactly when the OTHER endpoint dies), so by induction deg_i is
    precisely the induced degree on alive_i = the oracle's v_i — the
    unrolled-CTE hash is unchanged by construction. Peeling is
    monotone, so an empty dead round is the fixpoint and rounds
    i+1..R are provably no-ops: early-exit (one tiny count() action
    per round buys skipping whole rounds; both test graphs converge
    before R=8). The final SELECT in the oracle derives degrees from
    the induced EDGE list, so isolated survivors (possible only
    pre-fixpoint) are filtered with dg >= 1 to match.

    At 100 TB: the directed neighbor list stays hash-partitioned and
    materialized once; dead is a shrinking fraction of V (drop the
    broadcast hint past ~10M dead/round and AQE picks the join side);
    per-round shuffles are O(decrements) + O(V-state join), never
    O(E).

    `nb` is the MATERIALIZED directed neighbor relation (src, dst) —
    both directions of every canonical edge. One directed scan per
    round instead of (e⋈dead-on-u) ∪ (e⋈dead-on-v)."""
    deg = (
        nb.groupBy(F.col("src").alias("x"))
        .agg(F.count("*").alias("dg"))
        .localCheckpoint()
    )

    def one_level(d):
        dead = d.filter(F.col("dg") < k).select("x")
        dec = (
            nb.join(F.broadcast(dead.withColumnRenamed("x", "src")), "src")
            .groupBy(F.col("dst").alias("x"))
            .agg(F.count("*").alias("dc"))
        )
        return (
            d.filter(F.col("dg") >= k)
            .join(dec, "x", "left")
            .select(
                "x",
                (
                    F.col("dg") - F.coalesce(F.col("dc"), F.lit(0))
                ).alias("dg"),
            )
        )

    # THREE levels per materialization: the per-round wall at sf-scale
    # is action scheduling (checkpoint + fixpoint probe), not data, so
    # lineage-stack up to three peel levels between checkpoints — each
    # inner level's dead-broadcast subquery recomputes one un-
    # materialized O(V) map/agg, a cheap trade for cutting the action
    # count to a third. Fixpoint probe: state is monotone-shrinking, so
    # equal cardinality across a batch proves ALL stacked levels were
    # no-ops and every remaining round is too.
    n_prev = deg.count()
    r = 0
    while r < rounds:
        step = min(3, rounds - r)
        nxt = deg
        for _ in range(step):
            nxt = one_level(nxt)
        nxt = nxt.localCheckpoint()  # O(V) state, lineage cut per batch
        n_now = nxt.count()
        deg = nxt
        if n_now == n_prev:
            break
        n_prev = n_now
        r += step
    return deg.filter(F.col("dg") >= 1)


@register("b19_kcore", oracle=_kcore_oracle(), tags=("B19",))
def b19_kcore(spark, sf_dir):
    nb = _varied_link_nb(spark, sf_dir)
    return _kcore_delta_peel(nb, _KCORE_K, _KCORE_ROUNDS).select(
        F.col("x").alias("doc_id"),
        F.col("dg").cast("bigint").alias("core_deg"),
    )


# --------------------------------------------------------------------------
# B19l — LABEL PROPAGATION community detection (Raghavan/Albert/Kumara
# LPA): the fourth link-graph algorithm — PageRank ranks, triangles
# measure cohesion, k-core extracts the dense backbone, LPA PARTITIONS
# the graph into communities, the input to per-community dedup/crawl
# sharding. Every node starts labeled with its own id; each SYNCHRONOUS
# round it adopts the most frequent label among its neighbors, ties to
# the SMALLEST label (the determinism rule that makes async-LPA's
# arbitrary orderings reproducible). Same bounded-round contract as
# b19_kcore/b19_pagerank: the result is the labeling after R=4 rounds
# — deterministic in both engines whether or not propagation has
# stabilized (synchronous LPA can 2-cycle on bipartite structures;
# the fixed horizon sidesteps that nondeterminism entirely). At R=4
# the 500-node graph carries 62 communities (106 at R=2, 39 at R=6) —
# real structure forming, not a converged triviality.
#
# Scale shape: per round ONE hash join (directed neighbor relation x
# current labels, both sides partitioned by node id) + one (node,
# label) count aggregate + one per-node argmax window — all linear in
# edges. Label state is O(V), lineage-cut with an eager
# localCheckpoint per round (the b19_kcore lesson: cache() alone
# replays prior rounds under re-referenced state). Zero data rows
# cross the driver.
# --------------------------------------------------------------------------
_LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    parts = [
        _varied_graph_sql_prefix()
        + """,
    nb AS MATERIALIZED (
      SELECT u AS x, v AS y FROM e UNION ALL SELECT v, u FROM e),
    l0 AS MATERIALIZED (SELECT DISTINCT x, x AS lab FROM nb)"""
    ]
    for i in range(1, _LPA_ROUNDS + 1):
        parts.append(
            f""",
    c{i} AS MATERIALIZED (
      SELECT nb.x, l.lab, COUNT(*) AS c
      FROM nb JOIN l{i - 1} l ON l.x = nb.y GROUP BY 1, 2),
    l{i} AS MATERIALIZED (
      SELECT x, lab FROM (
        SELECT x, lab, ROW_NUMBER() OVER (
          PARTITION BY x ORDER BY c DESC, lab) AS rk FROM c{i})
      WHERE rk = 1)"""
        )
    parts.append(
        f"""
    SELECT x AS doc_id, CAST(lab AS BIGINT) AS label,
      CAST(COUNT(*) OVER (PARTITION BY lab) AS BIGINT) AS community_size
    FROM l{_LPA_ROUNDS}"""
    )
    return "".join(parts)


@register("b19_label_propagation", oracle=_lpa_oracle(), tags=("B19",))
def b19_label_propagation(spark, sf_dir):
    nb = _varied_link_nb(spark, sf_dir).select(
        F.col("src").alias("x"), F.col("dst").alias("y")
    )  # already materialized; a checkpoint's partitioning is opaque to
    # Catalyst anyway, so no extra repartition buys the round joins
    # anything
    labels = (
        nb.select(F.col("x")).distinct()
        .select("x", F.col("x").alias("lab"))
        .localCheckpoint()
    )
    rk = Window.partitionBy("x").orderBy(F.col("c").desc(), F.col("lab"))
    # all 4 rounds lineage-stacked, NO mid-round checkpoint: each
    # round's labels feed exactly ONE consumer (the next round), so a
    # single final action executes every round once — the per-round
    # checkpoints were pure extra jobs (r11 A/B at sf0.1: 1.68 ->
    # 1.28 s end-to-end, labels identical). The fixed R=4 horizon
    # needs no per-round fixpoint action, and a depth-4 join+agg+
    # window chain is far from the k-center ~10+-round re-analysis
    # blow-up.
    for _ in range(_LPA_ROUNDS):
        votes = (
            nb.join(
                labels.select(F.col("x").alias("y"), "lab"), "y"
            )
            .groupBy("x", "lab")
            .agg(F.count("*").alias("c"))
        )
        labels = (
            votes.withColumn("rk", F.row_number().over(rk))
            .filter(F.col("rk") == 1)
            .select("x", "lab")
        )
    wsz = Window.partitionBy("lab")
    return labels.select(
        F.col("x").alias("doc_id"),
        F.col("lab").cast("bigint").alias("label"),
        F.count("*").over(wsz).cast("bigint").alias("community_size"),
    )


# --------------------------------------------------------------------------
# B19h — DATA-DERIVED LINK GRAPH (the extraction half the closed-form
# family deliberately skips): the four graph algorithms above run over
# a doc_id-arithmetic graph so the ALGORITHM hash-checks in isolation;
# these four twins run the SAME algorithms over an edge list EXTRACTED
# from the events table the way a crawl-graph / interaction-graph
# pipeline actually builds one. Extraction: order each (event_type,
# hour) activity bucket by (ts, event_id) and emit a "handoff" edge
# between each pair of CONSECUTIVE DISTINCT users — who acts right
# after whom, per activity stream. One window pass; deterministic
# because event_id is a unique total tie-break; DuckDB replays it with
# the identical LAG.
#
# Three graph views, all from that ONE pass:
#   - full graph  (every handoff pair, canonical u<v, distinct) —
#     triangles + label propagation;
#   - strong-tie graph (pairs seen >= 2 times — the weight threshold
#     that turns a near-regular co-activity graph into one with real
#     degree structure) — k-core, fixed K=3: measured survivors
#     14/150/1287 at sf0.001/0.01/0.1, i.e. the peel BITES without
#     emptying (K=4 empties sf0.001 at W=2; W=3,K=3 empties it too —
#     the near-regular graph's core transition is sharp). The full
#     K∈{2,3,4} × W∈{1,2,3} survivor sweep is recorded in STRESS.md
#     ("Handoff k-core K x W sensitivity"), reproducible via
#     tools/handoff_sensitivity.py;
#   - directed distinct handoffs (prev -> next) — PageRank, where
#     direction is the signal.
#
# Scale: the window partitions on (event_type, hour-bucket) — high
# cardinality (types x hours), so no per-type global sort; at 100 TB
# the sort is per-bucket and the one shuffle is the window's hash
# exchange, then everything downstream is the bounded-round machinery
# already audited on the closed-form family (same lineage-cut rules).
# --------------------------------------------------------------------------
_HANDOFF_STRONG_W = 2
_HANDOFF_KCORE_K = 3
_HANDOFF_KCORE_ROUNDS = 8
_HANDOFF_LPA_ROUNDS = 4

_HANDOFF_SEQ_SQL = """
    WITH seq AS (
      SELECT user_id,
        LAG(user_id) OVER (
          PARTITION BY event_type,
            date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                      date_trunc('hour', ts))
          ORDER BY ts, event_id) AS prev
      FROM events
    )"""


def _handoff_sql_prefix(min_weight: int = 1) -> str:
    """WITH-prefix building the extracted canonical edge set `e`."""
    return (
        _HANDOFF_SEQ_SQL
        + f""",
    e AS MATERIALIZED (
      SELECT LEAST(prev, user_id) AS u, GREATEST(prev, user_id) AS v
      FROM seq WHERE prev IS NOT NULL AND prev <> user_id
      GROUP BY 1, 2 HAVING COUNT(*) >= {min_weight}
    )"""
    )


def _handoff_pairs(spark, sf_dir):
    """(prev, user_id) consecutive-distinct-user handoffs — the ONE
    extraction pass shared by all four b19_*_handoff twins."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.floor(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600
        ).cast("bigint").alias("hr"),
    )
    w = Window.partitionBy("event_type", "hr").orderBy("ts", "event_id")
    return ev.select(
        "user_id", F.lag("user_id").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull() & (F.col("prev") != F.col("user_id")))


def _handoff_edges(spark, sf_dir, min_weight: int = 1):
    """Canonical undirected extracted edges (u < v) — LAZY; callers
    materialize whichever shape (canonical or directed-mirror) their
    round joins actually scan."""
    g = (
        _handoff_pairs(spark, sf_dir)
        .select(
            F.least("prev", "user_id").alias("u"),
            F.greatest("prev", "user_id").alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
    )
    if min_weight > 1:
        g = g.filter(F.col("w") >= min_weight)
    return g.select("u", "v")


def _handoff_graph(spark, sf_dir, min_weight: int = 1):
    """Canonical undirected extracted edges (u < v), materialized."""
    return (
        _handoff_edges(spark, sf_dir, min_weight)
        .repartition("u")
        .localCheckpoint()
    )  # eager: every consumer probes the edge list repeatedly


def _handoff_nb(spark, sf_dir, min_weight: int = 1):
    """Both directions of the extracted edges, materialized — the only
    shape the bounded-round consumers (k-core, LPA) ever scan; one
    checkpoint instead of e-then-nb two, mirrored via explode so the
    extraction window pass runs exactly once inside that job."""
    return (
        _handoff_edges(spark, sf_dir, min_weight)
        .select(_mirror_edge().alias("p"))
        .select("p.src", "p.dst")
        .localCheckpoint()
    )


_B19_PAGERANK_HANDOFF_ORACLE = (
    _HANDOFF_SEQ_SQL
    + """,
    links AS MATERIALIZED (
      SELECT DISTINCT prev AS src, user_id AS dst
      FROM seq WHERE prev IS NOT NULL AND prev <> user_id
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    deg AS (SELECT src, COUNT(*) AS d FROM links GROUP BY src),
    r0 AS (SELECT user_id, CAST(1000000 AS BIGINT) AS r FROM users),
    c1 AS (
      SELECT l.dst AS user_id, SUM(r0.r // deg.d) AS c
      FROM links l JOIN deg USING (src) JOIN r0 ON r0.user_id = l.src
      GROUP BY l.dst
    ),
    r1 AS (
      SELECT u.user_id,
        CAST(150000 + (85 * COALESCE(c1.c, 0)) // 100 AS BIGINT) AS r
      FROM users u LEFT JOIN c1 USING (user_id)
    ),
    c2 AS (
      SELECT l.dst AS user_id, SUM(r1.r // deg.d) AS c
      FROM links l JOIN deg USING (src) JOIN r1 ON r1.user_id = l.src
      GROUP BY l.dst
    ),
    r2 AS (
      SELECT u.user_id,
        CAST(150000 + (85 * COALESCE(c2.c, 0)) // 100 AS BIGINT) AS r
      FROM users u LEFT JOIN c2 USING (user_id)
    ),
    c3 AS (
      SELECT l.dst AS user_id, SUM(r2.r // deg.d) AS c
      FROM links l JOIN deg USING (src) JOIN r2 ON r2.user_id = l.src
      GROUP BY l.dst
    ),
    r3 AS (
      SELECT u.user_id,
        CAST(150000 + (85 * COALESCE(c3.c, 0)) // 100 AS BIGINT) AS r
      FROM users u LEFT JOIN c3 USING (user_id)
    )
    SELECT r3.user_id,
      CAST(COALESCE(deg.d, 0) AS BIGINT) AS out_deg,
      r3.r AS rank_fp
    FROM r3 LEFT JOIN deg ON deg.src = r3.user_id
"""
)


@register(
    "b19_pagerank_handoff",
    oracle=_B19_PAGERANK_HANDOFF_ORACLE,
    tags=("B19", "B27"),
)
def b19_pagerank_handoff(spark, sf_dir):
    """PageRank over the DIRECTED extracted handoff graph (who hands
    activity to whom) — same fixed-point-millionths 3-round unroll as
    b19_pagerank, but the links come out of the events window pass
    instead of doc_id arithmetic. Isolated users (no handoff in or
    out) take the bare teleport term, exactly like no-inlink docs."""
    users = (
        t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .repartition("user_id")
        .cache()  # vertex set: reused every round
    )
    links = (
        _handoff_pairs(spark, sf_dir)
        .select(F.col("prev").alias("src"), F.col("user_id").alias("dst"))
        .distinct()
    )
    deg = links.groupBy("src").agg(F.count("*").alias("deg"))
    adj = (
        links.join(deg, "src")
        .select("src", "dst", "deg")
        .repartition("src")
        .localCheckpoint()  # adjacency reused by all 3 rounds; eager so
        # the window extraction runs exactly once
    )
    rank = users.select("user_id", F.lit(1_000_000).cast("bigint").alias("r"))
    # all 3 rounds lineage-stacked, NO mid-round checkpoint: the
    # horizon is fixed (no fixpoint probe needs a per-round action),
    # adj is already materialized, and a depth-3 join+agg chain is
    # well inside Catalyst's comfort zone — the per-round checkpoints
    # were 3 extra jobs (r11 A/B at sf0.1: 2.67 -> 2.22 s end-to-end,
    # results identical). The k-center quadratic-re-analysis lesson
    # bites at ~10+ stacked rounds, not 3.
    for _ in range(3):
        contrib = (
            adj.join(rank, adj["src"] == rank["user_id"])
            .select("dst", F.expr("r div deg").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("c"))
        )
        rank = users.join(
            contrib, users["user_id"] == contrib["dst"], "left"
        ).select(
            "user_id",
            (
                F.lit(150_000) + F.expr("85 * coalesce(c, 0) div 100")
            ).cast("bigint").alias("r"),
        )
    # out-degrees come off the CHECKPOINTED adj (one row per edge,
    # deg repeated) — the lazy `deg` would re-run the extraction
    # window + distinct a fourth time on collect
    out_deg = adj.select("src", "deg").distinct()
    out = rank.join(
        out_deg, rank["user_id"] == out_deg["src"], "left"
    ).select(
        "user_id",
        F.coalesce(F.col("deg"), F.lit(0)).cast("bigint").alias("out_deg"),
        F.col("r").alias("rank_fp"),
    )
    users.unpersist()
    return out


_B19_TRIANGLE_HANDOFF_ORACLE = (
    _handoff_sql_prefix()
    + """,
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    vx AS (
      SELECT a AS user_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_tri
    FROM vx GROUP BY 1
"""
)


@register(
    "b19_triangle_count_handoff",
    oracle=_B19_TRIANGLE_HANDOFF_ORACLE,
    tags=("B19", "B27"),
)
def b19_triangle_count_handoff(spark, sf_dir):
    """Per-user triangle participation in the extracted handoff graph
    — same degree-oriented wedge join as b19_triangle_count (out-
    neighborhoods bounded O(sqrt m)), real extracted edges."""
    e = _handoff_graph(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("dg"))
    )
    ed = e.join(
        deg.select(F.col("x").alias("u"), F.col("dg").alias("du")), "u"
    ).join(
        deg.select(F.col("x").alias("v"), F.col("dg").alias("dv")), "v"
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oe = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    o1 = oe.select(F.col("s"), F.col("t").alias("t1"))
    o2 = oe.select(F.col("s"), F.col("t").alias("t2"))
    wedges = o1.join(o2, "s").filter(F.col("t1") < F.col("t2"))
    tri = wedges.join(
        e,
        (F.col("u") == F.least("t1", "t2"))
        & (F.col("v") == F.greatest("t1", "t2")),
    ).select("s", "t1", "t2")
    vx = (
        tri.select(F.col("s").alias("user_id"))
        .unionAll(tri.select(F.col("t1").alias("user_id")))
        .unionAll(tri.select(F.col("t2").alias("user_id")))
    )
    return vx.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_tri")
    )


def _kcore_handoff_oracle() -> str:
    parts = [
        _handoff_sql_prefix(_HANDOFF_STRONG_W)
        + """,
    v0 AS MATERIALIZED (SELECT u AS x FROM e UNION SELECT v FROM e)"""
    ]
    for i in range(1, _HANDOFF_KCORE_ROUNDS + 1):
        parts.append(
            f""",
    s{i} AS MATERIALIZED (
      SELECT e.u, e.v FROM e
      JOIN v{i - 1} a ON a.x = e.u JOIN v{i - 1} b ON b.x = e.v),
    v{i} AS MATERIALIZED (
      SELECT x FROM (SELECT u AS x FROM s{i} UNION ALL SELECT v FROM s{i})
      GROUP BY x HAVING COUNT(*) >= {_HANDOFF_KCORE_K})"""
        )
    parts.append(
        f""",
    sfin AS (
      SELECT e.u, e.v FROM e
      JOIN v{_HANDOFF_KCORE_ROUNDS} a ON a.x = e.u
      JOIN v{_HANDOFF_KCORE_ROUNDS} b ON b.x = e.v)
    SELECT x AS user_id, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM (SELECT u AS x FROM sfin UNION ALL SELECT v FROM sfin) GROUP BY x"""
    )
    return "".join(parts)


@register("b19_kcore_handoff", oracle=_kcore_handoff_oracle(), tags=("B19", "B27"))
def b19_kcore_handoff(spark, sf_dir):
    """Bounded-round k-core peel (K=3) over the STRONG-TIE handoff
    graph (pairs seen >= _HANDOFF_STRONG_W times) — the weight
    threshold gives the near-regular co-activity graph real degree
    structure, so the peel removes nodes without emptying (measured
    across all three SFs; see the section header)."""
    nb = _handoff_nb(spark, sf_dir, min_weight=_HANDOFF_STRONG_W)
    return _kcore_delta_peel(
        nb, _HANDOFF_KCORE_K, _HANDOFF_KCORE_ROUNDS
    ).select(
        F.col("x").alias("user_id"),
        F.col("dg").cast("bigint").alias("core_deg"),
    )


def _lpa_handoff_oracle() -> str:
    parts = [
        _handoff_sql_prefix()
        + """,
    nb AS MATERIALIZED (
      SELECT u AS x, v AS y FROM e UNION ALL SELECT v, u FROM e),
    l0 AS MATERIALIZED (SELECT DISTINCT x, x AS lab FROM nb)"""
    ]
    for i in range(1, _HANDOFF_LPA_ROUNDS + 1):
        parts.append(
            f""",
    c{i} AS MATERIALIZED (
      SELECT nb.x, l.lab, COUNT(*) AS c
      FROM nb JOIN l{i - 1} l ON l.x = nb.y GROUP BY 1, 2),
    l{i} AS MATERIALIZED (
      SELECT x, lab FROM (
        SELECT x, lab, ROW_NUMBER() OVER (
          PARTITION BY x ORDER BY c DESC, lab) AS rk FROM c{i})
      WHERE rk = 1)"""
        )
    parts.append(
        f"""
    SELECT x AS user_id, CAST(lab AS BIGINT) AS label,
      CAST(COUNT(*) OVER (PARTITION BY lab) AS BIGINT) AS community_size
    FROM l{_HANDOFF_LPA_ROUNDS}"""
    )
    return "".join(parts)


@register(
    "b19_label_propagation_handoff",
    oracle=_lpa_handoff_oracle(),
    tags=("B19", "B27"),
)
def b19_label_propagation_handoff(spark, sf_dir):
    """Synchronous LPA (R=4, ties to the smallest label) over the
    extracted handoff graph — community structure of who-acts-after-
    whom, the sharding input for per-community processing."""
    nb = _handoff_nb(spark, sf_dir).select(
        F.col("src").alias("x"), F.col("dst").alias("y")
    )
    labels = (
        nb.select(F.col("x")).distinct()
        .select("x", F.col("x").alias("lab"))
        .localCheckpoint()
    )
    rk = Window.partitionBy("x").orderBy(F.col("c").desc(), F.col("lab"))
    # rounds lineage-stacked, no mid-round checkpoint — same A/B-
    # verified rationale as b19_label_propagation (single consumer per
    # round, fixed horizon, checkpoints were pure extra jobs)
    for _ in range(_HANDOFF_LPA_ROUNDS):
        votes = (
            nb.join(
                labels.select(F.col("x").alias("y"), "lab"), "y"
            )
            .groupBy("x", "lab")
            .agg(F.count("*").alias("c"))
        )
        labels = (
            votes.withColumn("rk", F.row_number().over(rk))
            .filter(F.col("rk") == 1)
            .select("x", "lab")
        )
    wsz = Window.partitionBy("lab")
    return labels.select(
        F.col("x").alias("user_id"),
        F.col("lab").cast("bigint").alias("label"),
        F.count("*").over(wsz).cast("bigint").alias("community_size"),
    )


# --------------------------------------------------------------------------
# B21u — UNICODE NORMALIZATION (NFC) + control-char strip + whitespace
# collapse: the first cleaning pass of every crawl pipeline — web text
# arrives with decomposed accents (e + U+0301 vs the precomposed
# codepoint), stray C0 control bytes, and tab/space runs; dedup keys
# and tokenizers need ONE canonical byte form first (a decomposed and
# a precomposed copy of the same page must hash identically). The
# corpus synthesizes the mess closed-form in doc_id; non-ASCII and
# control codepoints are constructed EXPLICITLY (chr() in SQL,
# backslash escapes in Python) so no ambiguous bytes live in source.
#
# Spark side is an Arrow-batched pandas UDF (Python unicodedata NFC —
# Spark has no native NFC; the one legitimate slow-path case: a
# stateless per-row string map, vectorized per batch, zero shuffle).
# DuckDB oracle uses its native nfc_normalize — two INDEPENDENT NFC
# implementations agreeing byte-for-byte is the point of the check.
# Whitespace collapses with an EXPLICIT ASCII class ([ tab nl ff cr]+)
# in both engines: Python's backslash-s is Unicode-aware, RE2's is
# not — the documented cross-engine trap this query pins.
# --------------------------------------------------------------------------
_B21_UNINORM_SYNTH = (
    "text || CASE doc_id % 4"
    " WHEN 1 THEN ' cafe' || chr(769) || '  menu'"
    " WHEN 2 THEN ' ctl' || chr(7) || 'x' || chr(9) || 'tab'"
    " WHEN 3 THEN '  twice  spaced '"
    " ELSE '' END"
)

_B21_UNINORM_ORACLE = (
    r"""
    WITH raw AS (
      SELECT doc_id, """
    + _B21_UNINORM_SYNTH
    + r""" AS dirty FROM documents
    ),
    cleaned AS (
      SELECT doc_id, dirty,
        trim(regexp_replace(
          regexp_replace(
            nfc_normalize(dirty),
            '[\x01-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
          '[ \t\n\f\r]+', ' ', 'g')) AS clean_text
      FROM raw
    )
    SELECT doc_id, clean_text,
      CAST(length(dirty) AS BIGINT) AS n_chars_before,
      CAST(length(clean_text) AS BIGINT) AS n_chars_after,
      CAST(dirty <> clean_text AS BOOLEAN) AS changed
    FROM cleaned
"""
)


@register("b21_unicode_normalize", oracle=_B21_UNINORM_ORACLE, tags=("B21",))
def b21_unicode_normalize(spark, sf_dir):
    from ..functions.normalize import nfc_clean

    d = F.col("doc_id")
    dirty = F.concat(
        F.col("text"),
        F.when(d % 4 == 1, F.lit(" cafe\u0301  menu"))
        .when(d % 4 == 2, F.lit(" ctl\x07x\ttab"))
        .when(d % 4 == 3, F.lit("  twice  spaced "))
        .otherwise(F.lit("")),
    )
    raw = (
        t(spark, sf_dir, "documents")
        .transform(spread("doc_id"))
        .select("doc_id", dirty.alias("dirty"))
    )
    out = raw.select(
        "doc_id", "dirty", nfc_clean(F.col("dirty")).alias("clean_text")
    )
    return out.select(
        "doc_id",
        "clean_text",
        F.length("dirty").cast("bigint").alias("n_chars_before"),
        F.length("clean_text").cast("bigint").alias("n_chars_after"),
        (F.col("dirty") != F.col("clean_text")).alias("changed"),
    )


# --------------------------------------------------------------------------
# B25z — Z-ORDER zone maps: multi-dimensional clustering for file
# skipping — the layout decision that makes BOTH "one series, any
# time" and "all series, narrow time" dashboards cheap on a 100 TB
# points table. A time-only sort gives perfect time zone maps but
# every file spans every series (a series predicate prunes nothing);
# interleaving the bits of (series rank, time bucket) into one sort
# key bounds BOTH dimensions' min/max per equal-size shard. The query
# materializes the zone map itself — per shard: row count + min/max of
# each dimension — plus, per shard, whether a canonical box predicate
# (series rank 2, time buckets [4, 8)) must read it; at scale the same
# zone map drives parquet row-group / file skipping via
# repartitionByRange(zvalue) + sortWithinPartitions at write time
# (operators/retention.py's compaction hook). Bit interleave is pure
# integer arithmetic ((x div 2^i) % 2 terms), generated once per
# engine dialect so both engines compute the identical z-value.
# --------------------------------------------------------------------------
_Z_BITS = 4
_Z_SHARDS = 16
_Z_BOX_S = 2          # canonical probe box: series rank == 2,
_Z_BOX_H = (4, 8)     # time buckets [4, 8) of 16


def _z_interleave(scol: str, hcol: str, divop: str) -> str:
    """z = bit-interleave of two _Z_BITS-wide ints; ``divop`` is the
    engine's integer-division token ('div' Spark, '//' DuckDB)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({scol}) {divop} {2 ** i}) % 2) * {2 * 4 ** i}")
        terms.append(f"((({hcol}) {divop} {2 ** i}) % 2) * {4 ** i}")
    return " + ".join(terms)


_B25_ZORDER_ORACLE = f"""
    WITH b AS (
      SELECT event_type,
        date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                  date_trunc('hour', ts)) AS hr
      FROM events
    ),
    sdim AS (
      SELECT event_type,
        CAST(dense_rank() OVER (ORDER BY event_type) - 1 AS BIGINT) AS s
      FROM (SELECT DISTINCT event_type FROM b)
    ),
    hb AS (SELECT MIN(hr) AS hmin, MAX(hr) AS hmax FROM b),
    q AS (
      SELECT sdim.s,
        ((b.hr - hb.hmin) * {_Z_SHARDS}) // (hb.hmax - hb.hmin + 1) AS h
      FROM b JOIN sdim USING (event_type) CROSS JOIN hb
    ),
    z AS (SELECT s, h, {_z_interleave('s', 'h', '//')} AS zv FROM q),
    zone AS (
      SELECT zv // {_Z_SHARDS} AS shard,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(MIN(s) AS BIGINT) AS s_min, CAST(MAX(s) AS BIGINT) AS s_max,
        CAST(MIN(h) AS BIGINT) AS h_min, CAST(MAX(h) AS BIGINT) AS h_max
      FROM z GROUP BY 1
    )
    SELECT CAST(shard AS BIGINT) AS shard, n_rows,
      s_min, s_max, h_min, h_max,
      CAST(
        s_min <= {_Z_BOX_S} AND {_Z_BOX_S} <= s_max
        AND h_min < {_Z_BOX_H[1]} AND h_max >= {_Z_BOX_H[0]}
        AS BOOLEAN) AS box_must_read
    FROM zone
"""


@register("b25_zorder_zonemap", oracle=_B25_ZORDER_ORACLE, tags=("B25", "B1"))
def b25_zorder_zonemap(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        (
            F.floor(F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        ).cast("bigint").alias("hr"),
    )
    # Dimension rank: the unpartitioned window (Spark warns "no
    # partition defined") is INTENTIONAL and bounded — its input is the
    # post-distinct series DIMENSION (|event_type| rows, 5 here; the
    # tag-value cardinality of a series catalog, not the fact table),
    # so the single-partition sort touches dimension-count rows no
    # matter how many events exist. If the series dimension ever
    # reached real cardinality (millions of tag values), swap in the
    # two-level rank: repartitionByRange(key) → row_number within
    # partition + broadcast cumulative per-partition offsets — same
    # ranks, no single-partition sort. Documented per round-9 verdict
    # "what's wrong" #3.
    sdim = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            (
                F.dense_rank().over(Window.orderBy("event_type")) - 1
            ).cast("bigint").alias("s"),
        )
    )
    hb = ev.agg(
        F.min("hr").alias("hmin"), F.max("hr").alias("hmax")
    )
    q = (
        ev.join(F.broadcast(sdim), "event_type")
        .crossJoin(F.broadcast(hb))
        .select(
            "s",
            F.expr(
                f"((hr - hmin) * {_Z_SHARDS}) div (hmax - hmin + 1)"
            ).alias("h"),
        )
    )
    z = q.select("s", "h", F.expr(_z_interleave("s", "h", "div")).alias("zv"))
    zone = z.groupBy(
        F.expr(f"zv div {_Z_SHARDS}").cast("bigint").alias("shard")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("s").cast("bigint").alias("s_min"),
        F.max("s").cast("bigint").alias("s_max"),
        F.min("h").cast("bigint").alias("h_min"),
        F.max("h").cast("bigint").alias("h_max"),
    )
    lo, hi = _Z_BOX_H
    return zone.select(
        "shard",
        "n_rows",
        "s_min",
        "s_max",
        "h_min",
        "h_max",
        (
            (F.col("s_min") <= _Z_BOX_S)
            & (F.lit(_Z_BOX_S) <= F.col("s_max"))
            & (F.col("h_min") < hi)
            & (F.col("h_max") >= lo)
        ).alias("box_must_read"),
    )
