"""catalog.run_jobs — the guide-§2.6 concurrent-action helper.

The round-12 optimization overlaps independent driver actions (index
builds' postings/terms/stats writes, the recall harnesses' vector and
lexical chains). Value equality of every overlapped query is proven by
the registry oracle sweep; THESE tests pin the helper's contract —
results in call order, error propagation, nesting — and that an
overlapped index build serves byte-identically to a sequential
reference build.
"""

import threading
import time

import pytest

from iot_system_plc_data_to_influxdb_spark.catalog import run_jobs


def test_results_in_call_order():
    assert run_jobs(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]


def test_single_thunk_runs_inline():
    tid = {}
    out = run_jobs(lambda: tid.setdefault("t", threading.get_ident()) and 7)
    assert tid["t"] == threading.get_ident()
    assert len(out) == 1


def test_thunks_actually_overlap():
    # two thunks that each block until the other has started: passes
    # only under real concurrency (a sequential runner deadlocks the
    # 5 s wait and fails the flag check)
    started = [threading.Event(), threading.Event()]

    def mk(i):
        def th():
            started[i].set()
            assert started[1 - i].wait(timeout=5.0)
            return i

        return th

    assert run_jobs(mk(0), mk(1)) == [0, 1]


def test_error_propagates_after_settle():
    done = []

    def boom():
        time.sleep(0.05)
        raise ValueError("job failed")

    def ok():
        done.append(1)
        return "ok"

    with pytest.raises(ValueError, match="job failed"):
        run_jobs(boom, ok)
    assert done == [1]  # the sibling job still ran to completion


def test_nested_run_jobs():
    # b20_rrf_indexed nests: run_jobs(build_lex, build_ivf) where each
    # build itself calls run_jobs over its sub-writes
    inner = lambda: run_jobs(lambda: "a", lambda: "b")  # noqa: E731
    assert run_jobs(inner, inner) == [["a", "b"], ["a", "b"]]


def test_thunks_see_the_callers_job_group(spark):
    # a profile reduces the event log by job group: jobs a thunk runs
    # must carry the group the caller set, as sequential calls would
    sc = spark.sparkContext

    def group():
        return sc.getLocalProperty("spark.jobGroup.id")

    sc.setJobGroup("qX", "run_jobs job-group inheritance")
    try:
        assert run_jobs(group, group) == ["qX", "qX"]
        assert run_jobs(lambda: run_jobs(group, group), group) == [
            ["qX", "qX"], "qX"
        ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_prepared_delta_merge_matches_inline_merge(spark, tmp_path):
    """merge_postings_delta(pre=prepare_postings_delta(d)) — the form
    that lets the delta tokenize overlap the base build — lands the
    same buckets and the same served answer as the inline
    merge_postings_delta(delta_docs=d)."""
    from pyspark.sql import functions as F

    from iot_system_plc_data_to_influxdb_spark.catalog import t
    from iot_system_plc_data_to_influxdb_spark.operators.retrieval import (
        bm25_from_index,
        merge_postings_delta,
        prepare_postings_delta,
        write_postings_index,
    )

    docs = t(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    base = docs.filter(F.expr("pmod(doc_id, 5) != 3"))
    delta = docs.filter(F.expr("pmod(doc_id, 5) = 3"))
    terms = ("the", "sensor", "data", "stream")

    p_inline = str(tmp_path / "inline")
    write_postings_index(base, p_inline)
    got_inline = merge_postings_delta(spark, p_inline, delta_docs=delta)

    p_pre = str(tmp_path / "pre")
    pre = prepare_postings_delta(delta)  # before the build, like the
    write_postings_index(base, p_pre)  # overlapped callers do
    got_pre = merge_postings_delta(spark, p_pre, pre=pre)

    assert got_pre == got_inline
    a = bm25_from_index(spark, p_inline, terms, topk=10).collect()
    b = bm25_from_index(spark, p_pre, terms, topk=10).collect()
    assert a == b


def test_overlapped_postings_build_matches_sequential(spark, tmp_path):
    """write_postings_index (round 13: postings written from the one
    observed pass, terms derived from the written postings, stats
    concurrent) produces the same postings/terms/stats CONTENT as a
    hand-sequential checkpointed build of the same relations."""
    from pyspark.sql import functions as F

    from iot_system_plc_data_to_influxdb_spark.catalog import t
    from iot_system_plc_data_to_influxdb_spark.operators.retrieval import (
        _observed_term_freqs,
        _term_bucket,
        write_postings_index,
    )

    docs = t(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    out = str(tmp_path / "idx")
    write_postings_index(docs, out)

    # sequential reference: same expressions, one at a time
    tf, obs = _observed_term_freqs(docs)
    tf = tf.localCheckpoint()
    ref_post = tf.withColumn("tb", _term_bucket(F.col("term")))
    got_post = spark.read.parquet(out + "/postings")
    assert got_post.count() == ref_post.count()
    assert (
        got_post.exceptAll(
            ref_post.select([F.col(c) for c in got_post.columns])
        ).count()
        == 0
    )
    ref_terms = tf.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df")
    )
    got_terms = spark.read.parquet(out + "/terms").drop("tb")
    assert got_terms.exceptAll(ref_terms).count() == 0
    stats = spark.read.parquet(out + "/stats").first()
    ref_stats = obs.get
    assert int(stats["n_docs"]) == int(ref_stats["n_docs"])
    assert int(stats["sum_len"]) == int(ref_stats["sum_len"])


def test_multi_delta_merge_matches_sequential(spark, tmp_path):
    """merge_postings_deltas([pre1, pre2]) — the round-13 batched
    maintenance pass (ONE terms/stats read-modify-write) — produces
    the same index CONTENT and the same per-bucket FRAGMENTATION as
    two sequential single-delta merges, and returns the union of
    affected buckets."""
    import os

    from pyspark.sql import functions as F

    from iot_system_plc_data_to_influxdb_spark.catalog import t
    from iot_system_plc_data_to_influxdb_spark.operators.retrieval import (
        bm25_from_index,
        merge_postings_delta,
        merge_postings_deltas,
        prepare_postings_delta,
        write_postings_index,
    )

    docs = t(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    base = docs.filter(F.expr("pmod(doc_id, 5) NOT IN (1, 3)"))
    d1 = docs.filter(F.expr("pmod(doc_id, 5) = 1"))
    d2 = docs.filter(F.expr("pmod(doc_id, 5) = 3"))
    terms = ("the", "sensor", "data", "stream")

    p_seq = str(tmp_path / "seq")
    write_postings_index(base, p_seq)
    got1 = merge_postings_delta(spark, p_seq, d1)
    got2 = merge_postings_delta(spark, p_seq, d2)

    p_bat = str(tmp_path / "bat")
    write_postings_index(base, p_bat)
    got_union = merge_postings_deltas(
        spark, p_bat,
        [prepare_postings_delta(d1), prepare_postings_delta(d2)],
    )
    assert got_union == sorted(set(got1) | set(got2))

    # identical relation content on all three index relations
    for rel in ("postings", "terms", "stats"):
        a = {tuple(r) for r in spark.read.parquet(
            os.path.join(p_seq, rel)).collect()}
        b = {tuple(r) for r in spark.read.parquet(
            os.path.join(p_bat, rel)).collect()}
        assert a == b, rel

    # identical per-bucket FILE COUNTS — each delta still lands its
    # own postings files, so compaction fragmentation semantics are
    # preserved (b21_index_compaction's threshold depends on this)
    def counts(root):
        return {
            d: len([f for f in os.listdir(os.path.join(root, d))
                    if not f.startswith(("_", "."))])
            for d in os.listdir(root) if d.startswith("tb=")
        }

    assert counts(os.path.join(p_bat, "postings")) == counts(
        os.path.join(p_seq, "postings")
    )
    a = bm25_from_index(spark, p_seq, terms, topk=10).collect()
    b = bm25_from_index(spark, p_bat, terms, topk=10).collect()
    assert a == b

    # contract guards (round-12 ADVICE): zero deltas is a no-op; the
    # single front door rejects ambiguous argument combinations
    assert merge_postings_deltas(spark, p_bat, []) == []
    import pytest as _pytest
    with _pytest.raises(ValueError):
        merge_postings_delta(spark, p_bat)


def test_prepared_ivfpq_delta_matches_inline(spark, tmp_path):
    """merge_ivfpq_delta(pre=prepare_ivfpq_delta(...)) — the round-13
    form that overlaps the delta ENCODE with the layout writes — lands
    the same cells, codes and served answer as the inline form that
    reads the written sidecars."""
    import os

    from pyspark.sql import functions as F

    from iot_system_plc_data_to_influxdb_spark.catalog import t
    from iot_system_plc_data_to_influxdb_spark.operators.retrieval import (
        ivfpq_quantizers,
        knn_ivfpq_from_index,
        merge_ivfpq_delta,
        prepare_ivfpq_delta,
        write_ivfpq_index,
    )

    emb = t(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.expr("vec_id < 16 OR pmod(vec_id, 7) != 3"))
    delta = emb.filter(F.expr("vec_id >= 16 AND pmod(vec_id, 7) = 3"))
    probe = list(
        emb.filter("vec_id = 0").select("embedding").first()["embedding"]
    )

    p_inline = str(tmp_path / "inline")
    write_ivfpq_index(base, p_inline)
    got_inline = merge_ivfpq_delta(spark, p_inline, delta)

    p_pre = str(tmp_path / "pre")
    quant = ivfpq_quantizers(base)
    pre = prepare_ivfpq_delta(delta, *quant)  # before the build lands,
    write_ivfpq_index(base, p_pre, quantizers=quant)  # like the caller
    got_pre = merge_ivfpq_delta(spark, p_pre, pre=pre)

    assert got_pre == got_inline
    a = {tuple(r) for r in spark.read.parquet(
        os.path.join(p_inline, "codes")).collect()}
    b = {tuple(r) for r in spark.read.parquet(
        os.path.join(p_pre, "codes")).collect()}
    assert a == b
    sa = knn_ivfpq_from_index(
        spark, p_inline, probe, probe_vec_id=0, k=10
    ).collect()
    sb = knn_ivfpq_from_index(
        spark, p_pre, probe, probe_vec_id=0, k=10
    ).collect()
    assert sa == sb

    import pytest as _pytest
    with _pytest.raises(ValueError):
        merge_ivfpq_delta(spark, p_pre)
