"""Partitioned inverted index (operators/retrieval.py): the indexed
BM25 serving path must (a) answer exactly like the corpus scan —
also enforced on every sweep by b21_bm25_indexed sharing
b21_bm25_retrieval's oracle — and (b) READ only the query terms'
term-bucket partitions, which is the entire point of building the
index at 100 TB."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from iot_system_plc_data_to_influxdb_spark.catalog import t
from iot_system_plc_data_to_influxdb_spark.operators.retrieval import (
    N_BUCKETS,
    bm25_from_index,
    write_postings_index,
)

SF_DIR = "/root/testdata/sf0.001"
TERMS = ("spark", "join", "merge", "vector")


def test_indexed_bm25_prunes_to_query_term_buckets(spark, tmp_path):
    path = str(tmp_path / "idx")
    write_postings_index(
        t(spark, SF_DIR, "documents").select("doc_id", "text"), path
    )
    served = bm25_from_index(spark, path, TERMS, topk=10)

    # (a) answer identical to the corpus-scan query
    from iot_system_plc_data_to_influxdb_spark.plans.northstar import (
        b21_bm25_retrieval,
    )

    want = [
        (r["doc_id"], r["dl"], r["n_hit_terms"], r["score_fp"])
        for r in b21_bm25_retrieval(spark, SF_DIR).collect()
    ]
    got = [
        (r["doc_id"], r["dl"], r["n_hit_terms"], r["score_fp"])
        for r in served.collect()
    ]
    assert got == want and len(got) == 10

    # (b) partition pruning: the executed postings scan opens ONLY the
    # tb= directories the query terms hash into (4 terms -> <= 4 of
    # the N_BUCKETS buckets), proven from the files actually read —
    # on the SAME scan bm25_from_index consumes (bm25_query_buckets +
    # the shared pruned scan + its term filter), not a lookalike
    from iot_system_plc_data_to_influxdb_spark.operators.retrieval import (
        POSTINGS,
        bm25_query_buckets,
        scan,
    )

    query_buckets = set(bm25_query_buckets(spark, TERMS))
    post = scan(spark, path, POSTINGS, sorted(query_buckets)).filter(
        F.col("term").isin(*TERMS)
    )
    opened = {
        int(r["f"].split("tb=")[1].split("/")[0])
        for r in post.select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert opened
    assert opened <= query_buckets
    # the index holds (many) more buckets than the query touches
    all_buckets = {
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(path, "postings"))
        if d.startswith("tb=")
    }
    assert len(all_buckets) > len(query_buckets)
    # and the predicate lands in PartitionFilters (plan-level proof)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        post.explain(True)
    pf = buf.getvalue().split("PartitionFilters: [")[1].split("]")[0]
    assert "tb" in pf


def test_index_df_and_stats_match_corpus(spark, tmp_path):
    """The terms/ and stats/ relations must agree with direct corpus
    aggregation — the self-consistency the scoring formula assumes."""
    path = str(tmp_path / "idx2")
    docs = t(spark, SF_DIR, "documents").select("doc_id", "text")
    write_postings_index(docs, path)

    from iot_system_plc_data_to_influxdb_spark.functions.text import tokens

    base = docs.select(
        "doc_id", tokens(F.col("text")).alias("w")
    ).select("doc_id", F.size("w").cast("bigint").alias("dl"), "w")
    want_stats = base.agg(
        F.count("*").alias("n"), F.sum("dl").alias("s")
    ).first()
    got_stats = spark.read.parquet(os.path.join(path, "stats")).first()
    assert (got_stats["n_docs"], got_stats["sum_len"]) == (
        want_stats["n"], want_stats["s"]
    )
    for term in TERMS:
        want_df = (
            base.select("doc_id", F.explode("w").alias("term"))
            .filter(F.col("term") == term)
            .select("doc_id")
            .distinct()
            .count()
        )
        got = (
            spark.read.parquet(os.path.join(path, "terms"))
            .filter(F.col("term") == term)
            .collect()
        )
        assert len(got) == 1 and got[0]["df"] == want_df


def test_indexed_ivf_prunes_to_probe_cells(spark, tmp_path):
    """The vector twin: knn_ivf_from_index must return exactly
    b20_knn_ivf's answer while reading ONLY the probe's 2 cell=
    partitions of the written layout."""
    from iot_system_plc_data_to_influxdb_spark.operators.retrieval import (
        knn_ivf_from_index,
        write_ivf_index,
    )
    from iot_system_plc_data_to_influxdb_spark.operators.similarity import (
        knn_ivf,
    )

    emb = t(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path)
    probe = emb.filter(F.col("vec_id") == 0).first()["embedding"]

    served = knn_ivf_from_index(
        spark, path, list(probe), probe_vec_id=0, k=10
    )
    want = [
        (r["vec_id"], r["cell"], r["cos_sim"])
        for r in knn_ivf(emb, probe_vec_id=0, k=10).collect()
    ]
    got = [
        (r["vec_id"], r["cell"], r["cos_sim"]) for r in served.collect()
    ]
    assert got == want and len(got) == 10

    # pruning: the candidate scan opens <= 2 of the 8 cell= dirs
    opened_cells = {
        int(r["f"].split("cell=")[1].split("/")[0])
        for r in spark.read.parquet(os.path.join(path, "cells"))
        .filter(F.col("cell").isin([c for c in range(8)]))  # all cells
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert len(opened_cells) > 2  # the index genuinely spans cells

    # expected probe cells derived the way knn_ivf_from_index derives
    # them — top n_probe_cells by centroid-sidecar cosine — NOT from
    # the served rows (round-11 ADVICE: that under-covers when all
    # top-k hits land in one cell); scan = the exact helper the serve
    # consumes
    from iot_system_plc_data_to_influxdb_spark.operators.retrieval import (
        CELLS,
        ivf_probe_cells,
        scan,
    )

    probe_df = spark.createDataFrame([(list(probe),)], "pe array<float>")
    expected_cells = ivf_probe_cells(spark, path, probe_df, n_probe_cells=2)
    assert len(expected_cells) == 2
    assert {r["cell"] for r in served.collect()} <= set(expected_cells)
    cand = scan(spark, path, CELLS, expected_cells)
    opened = {
        int(r["f"].split("cell=")[1].split("/")[0])
        for r in cand.select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    # every file opened belongs to a probe cell, and every NON-EMPTY
    # probe cell was read (a probe cell with no vectors has no files)
    assert opened <= set(expected_cells)
    populated = set(expected_cells) & opened_cells
    assert opened == populated and populated  # both probe cells here
    assert len(populated) == 2  # the fixture populates both probe cells


def test_ivfpq_index_serves_codes_not_vectors(spark, tmp_path):
    """IVF-PQ contract (round-12): the written layout stores 4 small
    codebook ids per vector — NO raw embedding anywhere under codes/
    (the ~64× candidate-byte reduction IS the point) — the serve scan
    opens only the probe cells' partitions, and the ADC top-k equals
    an in-memory replay of the same shared fold."""
    from iot_system_plc_data_to_influxdb_spark.functions.pq import (
        pq_adc_topk,
        pq_assign,
        pq_ratio_expr,
        pq_subvectors,
        pq_train,
    )
    from iot_system_plc_data_to_influxdb_spark.operators.retrieval import (
        CODES,
        ivf_probe_cells,
        knn_ivfpq_from_index,
        scan,
        write_ivfpq_index,
    )

    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, path)

    # (a) compression: the codes relation has no vector column
    codes_schema = set(
        spark.read.parquet(os.path.join(path, "codes")).columns
    )
    assert codes_schema == {"vec_id", "c0", "c1", "c2", "c3", "cell"}

    probe = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    served = knn_ivfpq_from_index(
        spark, path, list(probe), probe_vec_id=0, k=10
    )
    got = [(r["vec_id"], r["adc_dist"]) for r in served.collect()]
    assert len(got) == 10

    # (b) pruning: the code scan opens <= n_probe_cells cell= dirs,
    # derived the way the serve derives them
    probe_df = spark.createDataFrame([(list(probe),)], "pe array<float>")
    expected_cells = ivf_probe_cells(spark, path, probe_df, n_probe_cells=2)
    opened = {
        int(r["f"].split("cell=")[1].split("/")[0])
        for r in scan(spark, path, CODES, expected_cells)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert opened and opened <= set(expected_cells)
    all_cells = {
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(path, "codes"))
        if d.startswith("cell=")
    }
    assert len(all_cells) > len(set(expected_cells))

    # (c) answer equals an in-memory replay of the same shared fold,
    # restricted to the same probe cells
    from iot_system_plc_data_to_influxdb_spark.operators.similarity import (
        ivf_cell_assignments,
        ivf_centroids,
    )

    v = pq_subvectors(emb)
    cb = pq_train(v)
    codes = pq_assign(v, cb)
    cents = ivf_centroids(emb, 8)
    asg = ivf_cell_assignments(emb, cents).select("vec_id", "cell")
    member = asg.filter(
        F.col("cell").isin(expected_cells) & (F.col("vec_id") != 0)
    ).select("vec_id")
    pv = v.filter(F.col("vec_id") == 0).select(
        "sub", F.col("x").alias("px")
    )
    lut = (
        cb.join(F.broadcast(pv), "sub")
        .select("sub", "cluster", F.col("px").alias("x"), "sx", "n")
        .select("sub", "cluster", pq_ratio_expr().alias("r"))
    )
    want = [
        (r["vec_id"], r["adc_dist"])
        for r in pq_adc_topk(
            codes.join(member, "vec_id"), lut, k=10
        ).collect()
    ]
    assert got == want


def test_ivfpq_delta_touches_only_landed_cells(spark, tmp_path):
    """merge_ivfpq_delta freezes BOTH sidecars (centroids AND
    codebooks), appends only into landed cells, and the merged codes
    equal encode-everyone-against-base-codebooks."""
    from iot_system_plc_data_to_influxdb_spark.operators.retrieval import (
        merge_ivfpq_delta,
        write_ivfpq_index,
    )

    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.expr("vec_id < 16 OR pmod(vec_id, 7) != 3"))
    delta = emb.filter(F.expr("vec_id >= 16 AND pmod(vec_id, 7) = 3"))
    assert delta.count() > 0

    inc = str(tmp_path / "ivfpq_inc")
    write_ivfpq_index(base, inc)
    codes_before = _files(os.path.join(inc, "codes"))
    side_stat = {
        (sub, f, os.stat(os.path.join(inc, sub, f)).st_mtime_ns)
        for sub in ("codebooks", "centroids")
        for f in os.listdir(os.path.join(inc, sub))
        if not f.startswith(("_", "."))
    }

    landed = merge_ivfpq_delta(spark, inc, delta)
    assert landed and len(landed) <= 8

    codes_after = _files(os.path.join(inc, "codes"))
    for d, files in codes_before.items():
        cell = int(d.split("=")[1])
        if cell in landed:
            assert files <= codes_after[d]  # pure append
        else:
            assert codes_after.get(d) == files, d
    side_stat_after = {
        (sub, f, os.stat(os.path.join(inc, sub, f)).st_mtime_ns)
        for sub in ("codebooks", "centroids")
        for f in os.listdir(os.path.join(inc, sub))
        if not f.startswith(("_", "."))
    }
    assert side_stat_after == side_stat  # both quantizers frozen

    # merged == encode-everyone-with-base-trained-codebooks: re-encode
    # the delta against the STORED codebooks (via the same shared
    # pq_codes_wide the index paths use) and compare its rows
    from iot_system_plc_data_to_influxdb_spark.functions.pq import (
        M,
        pq_codes_wide,
    )

    cb = spark.read.parquet(os.path.join(inc, "codebooks"))
    want_delta = {
        tuple(int(r[f"c{j}"]) for j in range(M)) + (int(r["vec_id"]),)
        for r in pq_codes_wide(delta, cb).collect()
    }
    delta_ids = {int(r["vec_id"]) for r in delta.select("vec_id").collect()}
    got_delta = {
        tuple(int(r[f"c{j}"]) for j in range(M)) + (int(r["vec_id"]),)
        for r in spark.read.parquet(os.path.join(inc, "codes")).collect()
        if int(r["vec_id"]) in delta_ids
    }
    assert got_delta == want_delta


def _files(root: str) -> dict[str, set]:
    """partition-dir -> set of (filename, size, mtime_ns) under root."""
    out: dict[str, set] = {}
    for d in os.listdir(root):
        full = os.path.join(root, d)
        if not (os.path.isdir(full) and "=" in d):
            continue
        out[d] = {
            (f, os.stat(os.path.join(full, f)).st_size,
             os.stat(os.path.join(full, f)).st_mtime_ns)
            for f in os.listdir(full)
            if not f.startswith(("_", "."))
        }
    return out


def test_postings_delta_touches_only_delta_buckets(spark, tmp_path):
    """Incremental maintenance contract (round-11 verdict #3): merging
    a delta corpus must (a) leave every file of every UNTOUCHED tb=
    bucket byte-identical (same names, sizes, mtimes — never rewritten
    or even re-committed), (b) only APPEND files in the delta's
    postings buckets (base files still present), and (c) produce an
    index that serves exactly like a full rebuild."""
    from iot_system_plc_data_to_influxdb_spark.operators.retrieval import (
        merge_postings_delta,
    )

    docs = t(spark, SF_DIR, "documents").select("doc_id", "text")
    base = docs.filter(F.expr("pmod(doc_id, 5) != 3"))
    delta = docs.filter(F.expr("pmod(doc_id, 5) = 3"))
    assert delta.count() > 0

    inc = str(tmp_path / "inc")
    write_postings_index(base, inc)
    post_before = _files(os.path.join(inc, "postings"))
    terms_before = _files(os.path.join(inc, "terms"))

    affected = merge_postings_delta(spark, inc, delta)
    assert affected and len(affected) <= 64

    post_after = _files(os.path.join(inc, "postings"))
    terms_after = _files(os.path.join(inc, "terms"))
    for d, files in post_before.items():
        tb = int(d.split("=")[1])
        if tb in affected:
            # pure append: every base file survives untouched
            assert files <= post_after[d]
        else:
            assert post_after.get(d) == files, d
    for d, files in terms_before.items():
        tb = int(d.split("=")[1])
        if tb not in affected:
            assert terms_after.get(d) == files, d  # never rewritten
        else:
            # dynamic overwrite replaced the bucket's content
            assert terms_after.get(d) is not None

    # delta-merged index ≡ full rebuild, relation by relation
    full = str(tmp_path / "full")
    write_postings_index(docs, full)
    for rel in ("postings", "terms", "stats"):
        a = {tuple(r) for r in spark.read.parquet(
            os.path.join(inc, rel)).collect()}
        b = {tuple(r) for r in spark.read.parquet(
            os.path.join(full, rel)).collect()}
        assert a == b, rel


def test_ivf_delta_touches_only_landed_cells(spark, tmp_path):
    """The vector twin: merge_ivf_delta appends into the cells the
    delta lands in, leaves every other cell's files byte-identical,
    never touches the centroid sidecar, and the merged layout equals a
    full rebuild row-for-row (the frozen quantizer guarantees the
    delta assigns exactly as the rebuild would)."""
    from iot_system_plc_data_to_influxdb_spark.operators.retrieval import (
        merge_ivf_delta,
        write_ivf_index,
    )

    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.expr("vec_id < 8 OR pmod(vec_id, 7) != 3"))
    delta = emb.filter(F.expr("vec_id >= 8 AND pmod(vec_id, 7) = 3"))
    assert delta.count() > 0

    inc = str(tmp_path / "ivf_inc")
    write_ivf_index(base, inc)
    cells_before = _files(os.path.join(inc, "cells"))
    cent_before = {
        (f, os.stat(os.path.join(inc, "centroids", f)).st_mtime_ns)
        for f in os.listdir(os.path.join(inc, "centroids"))
        if not f.startswith(("_", "."))
    }

    landed = merge_ivf_delta(spark, inc, delta)
    assert landed and len(landed) <= 8

    cells_after = _files(os.path.join(inc, "cells"))
    for d, files in cells_before.items():
        cell = int(d.split("=")[1])
        if cell in landed:
            assert files <= cells_after[d]  # pure append
        else:
            assert cells_after.get(d) == files, d
    cent_after = {
        (f, os.stat(os.path.join(inc, "centroids", f)).st_mtime_ns)
        for f in os.listdir(os.path.join(inc, "centroids"))
        if not f.startswith(("_", "."))
    }
    assert cent_after == cent_before  # quantizer frozen

    full = str(tmp_path / "ivf_full")
    write_ivf_index(emb, full)
    a = {(int(r["vec_id"]), int(r["cell"]))
         for r in spark.read.parquet(os.path.join(inc, "cells")).collect()}
    b = {(int(r["vec_id"]), int(r["cell"]))
         for r in spark.read.parquet(os.path.join(full, "cells")).collect()}
    assert a == b


def test_postings_compaction_rewrites_only_fragmented_buckets(
    spark, tmp_path
):
    """Compaction contract (round-12): after a big delta (every bucket
    at 2 files) and a TINY delta (a few buckets at 3), compacting at
    max_files=2 must (a) pick exactly the 3-file buckets, (b) rewrite
    each as ONE term-sorted file, (c) leave every other bucket's files
    byte-identical, and (d) not change the postings row set."""
    from iot_system_plc_data_to_influxdb_spark.operators.retrieval import (
        POSTINGS,
        compact,
        merge_postings_delta,
        partition_files,
    )

    docs = t(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "cidx")
    write_postings_index(docs.filter(F.expr("pmod(doc_id, 5) != 3")), idx)
    merge_postings_delta(
        spark, idx, docs.filter(F.expr("pmod(doc_id, 5) = 3"))
    )
    tiny = spark.createDataFrame(
        [(10_000_001, "spark merge spark"), (10_000_002, "vector join")],
        "doc_id bigint, text string",
    )
    merge_postings_delta(spark, idx, tiny)

    frag_before = {
        int(r["tb"]): int(r["n_files"])
        for r in partition_files(spark, idx, POSTINGS).collect()
    }
    want_compact = sorted(tb for tb, n in frag_before.items() if n > 2)
    assert want_compact  # the tiny delta fragmented its term buckets
    assert len(want_compact) < len(frag_before)  # ...but not all

    rows_before = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(idx, "postings")).collect()
    }
    files_before = _files(os.path.join(idx, "postings"))

    compacted = compact(spark, idx, POSTINGS, max_files=2)
    assert compacted == want_compact

    files_after = _files(os.path.join(idx, "postings"))
    for d, files in files_before.items():
        tb = int(d.split("=")[1])
        if tb in compacted:
            assert len(files_after[d]) == 1  # one file per bucket now
            assert not (files & files_after[d])  # fully rewritten
        else:
            assert files_after.get(d) == files, d  # byte-identical
    # restored term sort inside each compacted bucket's single file
    for tb in compacted:
        got = [
            (r["term"], r["doc_id"])
            for r in spark.read.parquet(
                os.path.join(idx, "postings", f"tb={tb}")
            ).collect()
        ]
        assert got == sorted(got)
    # same row set — compaction is layout-only
    rows_after = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(idx, "postings")).collect()
    }
    assert rows_after == rows_before
    # idempotent: a second pass finds nothing over the threshold
    assert compact(spark, idx, POSTINGS, max_files=2) == []


def test_ivf_compaction_rewrites_only_fragmented_cells(spark, tmp_path):
    """The vector twin: two deltas fragment their landed cells; only
    cells over the threshold are rewritten (one vec_id-sorted file),
    other cells and the centroid sidecar stay byte-identical, and the
    cell row set is unchanged."""
    from iot_system_plc_data_to_influxdb_spark.operators.retrieval import (
        CELLS,
        compact,
        merge_ivf_delta,
        partition_files,
        write_ivf_index,
    )

    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "civf")
    write_ivf_index(
        emb.filter(F.expr("vec_id < 8 OR pmod(vec_id, 7) NOT IN (1, 3)")),
        idx,
    )
    merge_ivf_delta(
        spark, idx, emb.filter(F.expr("vec_id >= 8 AND pmod(vec_id, 7) = 1"))
    )
    # tiny second delta: one vector -> exactly one cell reaches 3 files
    one = emb.filter(F.expr("vec_id >= 8 AND pmod(vec_id, 7) = 3")).limit(1)
    merge_ivf_delta(spark, idx, one)

    frag_before = {
        int(r["cell"]): int(r["n_files"])
        for r in partition_files(spark, idx, CELLS).collect()
    }
    want_compact = sorted(c for c, n in frag_before.items() if n > 2)
    assert want_compact and len(want_compact) < len(frag_before)

    rows_before = {
        (int(r["vec_id"]), int(r["cell"]))
        for r in spark.read.parquet(os.path.join(idx, "cells")).collect()
    }
    files_before = _files(os.path.join(idx, "cells"))
    cent_stat = {
        (f, os.stat(os.path.join(idx, "centroids", f)).st_mtime_ns)
        for f in os.listdir(os.path.join(idx, "centroids"))
        if not f.startswith(("_", "."))
    }

    compacted = compact(spark, idx, CELLS, max_files=2)
    assert compacted == want_compact

    files_after = _files(os.path.join(idx, "cells"))
    for d, files in files_before.items():
        cell = int(d.split("=")[1])
        if cell in compacted:
            assert len(files_after[d]) == 1
        else:
            assert files_after.get(d) == files, d
    for cell in compacted:
        got = [
            int(r["vec_id"])
            for r in spark.read.parquet(
                os.path.join(idx, "cells", f"cell={cell}")
            ).collect()
        ]
        assert got == sorted(got)
    rows_after = {
        (int(r["vec_id"]), int(r["cell"]))
        for r in spark.read.parquet(os.path.join(idx, "cells")).collect()
    }
    assert rows_after == rows_before
    cent_stat_after = {
        (f, os.stat(os.path.join(idx, "centroids", f)).st_mtime_ns)
        for f in os.listdir(os.path.join(idx, "centroids"))
        if not f.startswith(("_", "."))
    }
    assert cent_stat_after == cent_stat  # sidecar untouched
    assert compact(spark, idx, CELLS, max_files=2) == []


def test_salted_write_layout(spark, tmp_path, monkeypatch):
    """Round-13 scale knobs (r12 verdict #6, guide §2.5/§6): with
    SPARK_GRAFT_INDEX_WRITE_SALT > 1 the clustered index writes spread
    each partition's rows over multiple tasks/files (the hot-partition
    straggler/giant-file mitigation), while partition pruning, row
    sets and the served answers stay IDENTICAL to the default layout
    — the knobs change file layout inside partitions, nothing else."""
    from iot_system_plc_data_to_influxdb_spark.operators.retrieval import (
        POSTINGS,
        bm25_query_buckets,
        knn_ivf_from_index,
        scan,
        write_ivf_index,
    )

    docs = t(spark, SF_DIR, "documents").select("doc_id", "text")
    emb = t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    probe = list(
        emb.filter("vec_id = 0").select("embedding").first()["embedding"]
    )

    # default layout first (reference answers)
    plain_lex = str(tmp_path / "plain_lex")
    plain_ivf = str(tmp_path / "plain_ivf")
    write_postings_index(docs, plain_lex)
    write_ivf_index(emb, plain_ivf)
    want_bm25 = [
        tuple(r) for r in bm25_from_index(
            spark, plain_lex, TERMS, topk=10
        ).collect()
    ]
    want_knn = [
        tuple(r) for r in knn_ivf_from_index(
            spark, plain_ivf, probe, probe_vec_id=0, k=10
        ).collect()
    ]
    plain_rows = {
        tuple(r) for r in spark.read.parquet(
            os.path.join(plain_lex, "postings")
        ).collect()
    }

    # salted + size-bounded layout
    monkeypatch.setenv("SPARK_GRAFT_INDEX_WRITE_SALT", "4")
    monkeypatch.setenv("SPARK_GRAFT_INDEX_MAX_RECORDS_PER_FILE", "64")
    salt_lex = str(tmp_path / "salt_lex")
    salt_ivf = str(tmp_path / "salt_ivf")
    write_postings_index(docs, salt_lex)
    write_ivf_index(emb, salt_ivf)

    # (a) at least one partition holds MULTIPLE files now
    def max_files(root):
        return max(
            len([f for f in os.listdir(os.path.join(root, d))
                 if not f.startswith(("_", "."))])
            for d in os.listdir(root) if "=" in d
        )

    assert max_files(os.path.join(salt_lex, "postings")) > 1
    assert max_files(os.path.join(salt_ivf, "cells")) > 1

    # (b) row sets identical — layout-only change
    salt_rows = {
        tuple(r) for r in spark.read.parquet(
            os.path.join(salt_lex, "postings")
        ).collect()
    }
    assert salt_rows == plain_rows

    # (c) pruning still holds on the salted layout: the executed scan
    # opens only the query terms' tb= directories
    buckets = bm25_query_buckets(spark, TERMS)
    opened = {
        int(r["f"].split("tb=")[1].split("/")[0])
        for r in scan(spark, salt_lex, POSTINGS, buckets)
        .filter(F.col("term").isin(*TERMS))
        .select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert opened and opened <= set(buckets)

    # (d) served answers identical on both modalities
    got_bm25 = [
        tuple(r) for r in bm25_from_index(
            spark, salt_lex, TERMS, topk=10
        ).collect()
    ]
    got_knn = [
        tuple(r) for r in knn_ivf_from_index(
            spark, salt_ivf, probe, probe_vec_id=0, k=10
        ).collect()
    ]
    assert got_bm25 == want_bm25
    assert got_knn == want_knn
