"""Operator-level tests: salted aggregation equivalence, age-off
retention on the sink's points layout."""

import datetime
import os
import tempfile

from pyspark.sql import functions as F

from iot_system_plc_data_to_influxdb_spark.catalog import t
from iot_system_plc_data_to_influxdb_spark.operators.retention import drop_expired
from iot_system_plc_data_to_influxdb_spark.operators.skew import (
    salted_aggregate,
    salted_self_join_pairs,
)
from iot_system_plc_data_to_influxdb_spark.streaming.sinks import write_points_batch

SF_DIR = "/root/testdata/sf0.001"


def test_salted_aggregate_matches_plain(spark):
    ev = t(spark, SF_DIR, "events").withColumn(
        "v", F.col("value").cast("decimal(12,2)")
    )
    plain = {
        (r["event_type"],): (r["n"], r["s"], r["mx"])
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        (r["event_type"],): (r["n"], r["s"], r["mx"])
        for r in salted_aggregate(
            ev,
            ["event_type"],
            {
                "n": (F.count("*"), F.sum("n")),
                "s": (F.sum("v"), F.sum("s")),
                "mx": (F.max("v"), F.max("mx")),
            },
        ).collect()
    }
    assert plain == salted


def test_salted_self_join_pairs_hot_bucket(spark):
    """Planted hot bucket: one LSH bucket with 200 members among many
    small ones. The salted pair join must (a) produce the exact same
    pair set as the naive self-join, and (b) spread the hot bucket's
    pairs over ~n_salts reducer keys instead of one."""
    n_salts = 8
    rows = [(i, 0, "HOT") for i in range(200)]  # hot: 200 choose 2 pairs
    rows += [(1000 + i, 1 + i % 50, f"c{i % 50}") for i in range(150)]
    df = spark.createDataFrame(rows, "doc_id long, band int, bk string")

    naive = {
        (r["d1"], r["d2"])
        for r in df.alias("a")
        .join(
            df.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .collect()
    }
    salted = salted_self_join_pairs(
        df, ["band", "bk"], id_col="doc_id", n_salts=n_salts, hot_threshold=100
    )
    assert {(r["d1"], r["d2"]) for r in salted.collect()} == naive
    assert salted.count() == len(naive)  # no duplicated pairs either

    # partition-spread: each hot pair lands on reducer key
    # (band, bk, hash(d1) % n_salts) — max key load must be ~1/n_salts
    # of the bucket's pairs, not all of them
    hot_pairs = salted.filter(F.col("d1") < 1000)
    per_key = (
        hot_pairs.groupBy(F.pmod(F.hash("d1"), F.lit(n_salts)).alias("k"))
        .count()
        .collect()
    )
    total = sum(r["count"] for r in per_key)
    assert len(per_key) == n_salts
    assert max(r["count"] for r in per_key) < 0.35 * total


def test_retention_partition_drop(spark):
    ev = (
        t(spark, SF_DIR, "events")
        .filter(F.col("ts") < F.lit("2024-01-06").cast("timestamp"))
        .select(
            "ts",
            F.col("user_id").cast("string").alias("plc_ip"),
            F.col("event_type").alias("alias"),
            "value",
        )
        .filter(F.col("plc_ip").isin("1", "2"))
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "points")
        write_points_batch(ev, 0, path)
        before = spark.read.parquet(path).count()
        assert before == ev.count()
        n = drop_expired(spark, path, datetime.date(2024, 1, 3))
        assert n > 0
        kept = spark.read.parquet(path)
        assert kept.count() < before
        assert n == before - kept.count()
        assert kept.select(F.min(F.to_date("ts"))).first()[0] >= datetime.date(
            2024, 1, 3
        )
        # no pre-cutoff dates remain
        assert (
            kept.filter(F.to_date("ts") < F.lit("2024-01-03").cast("date")).count()
            == 0
        )


def test_ewma_matches_sequential_fold(spark):
    from iot_system_plc_data_to_influxdb_spark.plans.timeseries import b12_ewma

    rows = b12_ewma(spark, SF_DIR).collect()
    assert rows
    by_user = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        by_user.setdefault(r["user_id"], []).append(r)
    for user, seq in by_user.items():
        acc = None
        for r in seq:
            acc = r["value"] if acc is None else 0.3 * r["value"] + 0.7 * acc
            assert abs(r["ewma"] - acc) < 1e-9, (user, r["event_id"])


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime skew handling for JOINS is delegated to AQE (operators/
    skew.py covers groupBy and the LSH band self-join; this pins the
    join half of the claim): one hot key dominating a shuffle join gets
    its partition split at runtime — the executed plan must carry the
    skew=true marker instead of funneling the key through one reducer."""
    import pyspark.sql.functions as SF

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        # force a shuffle join: skew-join rewriting only applies there
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        left = spark.range(0, 200_000).select(
            SF.when(SF.col("id") % 10 == 0, SF.lit(0))
            .otherwise(SF.col("id"))
            .alias("k"),
            SF.col("id").alias("v"),
        )
        right = spark.range(0, 50_000).select(
            SF.col("id").alias("k"), (SF.col("id") * 2).alias("w")
        )
        joined = left.join(right, "k")
        # execute THIS plan (count() would plan a different query and
        # leave joined's adaptive plan unfinalized)
        n = len(joined.collect())
        assert n > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_training_shards_partition_pruning(spark, tmp_path):
    from iot_system_plc_data_to_influxdb_spark.catalog import t
    from iot_system_plc_data_to_influxdb_spark.operators.retention import (
        write_training_shards,
    )
    from iot_system_plc_data_to_influxdb_spark.plans.northstar import (
        b21_sequence_pack,
    )

    sf = "/root/testdata/sf0.001"
    docs = t(spark, sf, "documents")
    packed = b21_sequence_pack(spark, sf)
    out = str(tmp_path / "shards")
    write_training_shards(docs, packed, out)

    whole = spark.read.parquet(out)
    one = whole.filter((F.col("lang") == "en") & (F.col("bin_id") == 0))
    # partition pruning proof: the shard predicate lands in
    # PartitionFilters, and the executed scan opens exactly one
    # lang=/bin_id= directory (inputFiles() ignores pruning)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one.explain(True)
    part_filters = buf.getvalue().split("PartitionFilters: [")[1].split("]")[0]
    assert "lang" in part_filters and "bin_id" in part_filters
    scanned_dirs = {
        r["f"].rsplit("/", 1)[0]
        for r in one.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert len(scanned_dirs) == 1
    n_dirs = (
        whole.select("lang", "bin_id").distinct().count()
    )
    assert n_dirs > 1
    # shard content matches the packing assignment exactly — the
    # written bin label is the global fold shard*SPAN + local bin, so
    # bin_id=0 is exactly (shard 0, local bin 0)
    from iot_system_plc_data_to_influxdb_spark.plans.northstar import (
        _PACK_SHARD_SPAN,
    )

    want = {
        r["doc_id"]
        for r in packed.filter(
            (F.col("lang") == "en")
            & (F.col("shard") * _PACK_SHARD_SPAN + F.col("bin_id") == 0)
        ).collect()
    }
    got = {r["doc_id"] for r in one.collect()}
    assert got == want and got


def test_approx_distinct_error_bound(spark):
    """b5_approx_distinct's HLL++ estimate stays within a conservative
    multiple of its declared 1% rsd of the exact twin — the contract
    that makes the sketch substitutable for COUNT(DISTINCT) at scale."""
    import iot_system_plc_data_to_influxdb_spark.plans as plans

    sf = "/root/testdata/sf0.01"
    exact = {
        r["event_type"]: r["exact_users"]
        for r in plans.queries()["b5_distinct_exact"](spark, sf).collect()
    }
    approx = {
        r["event_type"]: r["approx_users"]
        for r in plans.all_queries()["b5_approx_distinct"](spark, sf).collect()
    }
    assert set(exact) == set(approx)
    for k in exact:
        rel = abs(approx[k] - exact[k]) / max(exact[k], 1)
        assert rel < 0.05, (k, exact[k], approx[k], rel)


def test_hll_deterministic_estimate_accuracy(spark):
    """b5_hll_deterministic (md5-pinned 256-register HLL) estimates
    COUNT(DISTINCT l_orderkey) within a conservative multiple of the
    theoretical 1.04/sqrt(256) ≈ 6.5% rsd at both test scales."""
    import duckdb

    import iot_system_plc_data_to_influxdb_spark.plans as plans

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        est = plans.queries()["b5_hll_deterministic"](spark, sf).collect()[0]
        assert est["m"] == 256
        exact = duckdb.sql(
            f"SELECT count(DISTINCT l_orderkey) FROM '{sf}/lineitem.parquet'"
        ).fetchone()[0]
        rel = abs(est["n_est"] - exact) / exact
        assert rel < 0.20, (sf, exact, est["n_est"], rel)


def test_hll_windowed_merge_equals_direct(spark):
    """Register MAX is a LOSSLESS merge: per-day register tables merged
    over the range produce the IDENTICAL estimate as one direct sketch
    pass over the same rows — the property that lets per-partition
    sketches answer distinct-over-any-range at 100 TB."""
    from pyspark.sql import functions as F

    import iot_system_plc_data_to_influxdb_spark.plans as plans
    from iot_system_plc_data_to_influxdb_spark.catalog import events_between
    from iot_system_plc_data_to_influxdb_spark.plans.relational import (
        _hll_bucket_rho,
        _hll_estimate,
    )

    sf = "/root/testdata/sf0.01"
    merged = plans.all_queries()["b5_hll_windowed_merge"](spark, sf).collect()
    ev = events_between(spark, sf, "2024-01-05", "2024-01-15")
    direct = _hll_estimate(
        _hll_bucket_rho(ev, "event_id")
        .groupBy("bucket")
        .agg(F.max("rho").alias("r"))
    ).collect()
    assert merged[0]["n_est"] == direct[0]["n_est"]


def test_cms_windowed_merge_equals_direct(spark):
    """Cell SUM is a LOSSLESS CMS merge: per-day cell tables summed
    over the range give identical estimates to one direct pass."""
    from pyspark.sql import functions as F

    import iot_system_plc_data_to_influxdb_spark.plans as plans
    from iot_system_plc_data_to_influxdb_spark.catalog import events_between
    from iot_system_plc_data_to_influxdb_spark.functions.text import nibble

    sf = "/root/testdata/sf0.01"
    merged = {
        r["user_id"]: (r["est"], r["exact_n"])
        for r in plans.all_queries()["b5_cms_windowed_merge"](spark, sf).collect()
    }

    def bucket(i):
        h = F.md5(F.concat(F.lit(f"{i}|"), F.col("u")))
        return nibble(F.substring(h, 1, 1)) * 16 + nibble(F.substring(h, 2, 1))

    ev = events_between(spark, sf, "2024-01-05", "2024-01-15").select(
        F.col("user_id").cast("string").alias("u")
    )
    pairs = ev.select(
        F.explode(
            F.array(
                *[F.struct(F.lit(i).alias("i"), bucket(i).alias("b"))
                  for i in range(4)]
            )
        ).alias("e")
    ).select("e.i", "e.b")
    cells = {
        (r["i"], r["b"]): r["c"]
        for r in pairs.groupBy("i", "b").agg(F.count("*").alias("c")).collect()
    }
    for u, (est, exact_n) in merged.items():
        direct = min(
            cells[(i, b)]
            for i, b in (
                (r["i"], r["b"])
                for r in spark.createDataFrame([(u,)], "u string")
                .select(
                    F.explode(
                        F.array(
                            *[F.struct(F.lit(i).alias("i"), bucket(i).alias("b"))
                              for i in range(4)]
                        )
                    ).alias("e")
                )
                .select("e.i", "e.b")
                .collect()
            )
        )
        assert est == direct and est >= exact_n, (u, est, direct, exact_n)


def test_cms_overestimate_guarantee(spark):
    """Count-Min point estimates NEVER undercount (est >= exact for
    every key) and the top-10 ranking tracks true heavy hitters."""
    import iot_system_plc_data_to_influxdb_spark.plans as plans

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = plans.all_queries()["b5_cms_heavy_hitters"](spark, sf).collect()
        assert len(rows) == 10
        assert all(r["est"] >= r["exact_n"] for r in rows), rows
        # with 150 keys in 256 buckets, collisions are few — the
        # estimate should be within 2x of exact for the top hitters
        assert all(r["est"] <= 2 * r["exact_n"] for r in rows), rows


def test_wilder_fold_vs_ewm_measurement():
    """Fold-vectorization check (recorded measurement): pandas
    ewm(adjust=False) IS bit-equal to the EWMA/DEMA/TEMA oracle tree
    a*v + (1-a)*acc — those queries use it — but NOT to Wilder's RSI
    tree (acc*13 + v)/14, which differs at ~1e-14. b12_rsi therefore
    keeps its explicit loop to stay bit-exact with its oracle."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    vals = rng.uniform(0, 100, 1000)

    a = 0.3
    acc = vals[0]
    ewma_loop = [acc]
    for v in vals[1:]:
        acc = a * v + (1 - a) * acc
        ewma_loop.append(acc)
    ewm = pd.Series(vals).ewm(alpha=a, adjust=False).mean().to_numpy()
    assert np.array_equal(np.array(ewma_loop), ewm)  # bit-equal

    acc = vals[0]
    wilder_loop = [acc]
    for v in vals[1:]:
        acc = (acc * 13 + v) / 14
        wilder_loop.append(acc)
    wilder_ewm = pd.Series(vals).ewm(alpha=1 / 14, adjust=False).mean()
    diff = np.max(np.abs(np.array(wilder_loop) - wilder_ewm.to_numpy()))
    assert diff > 0  # NOT bit-equal -> the RSI loop must stay
    assert diff < 1e-10  # but numerically tiny (documentation, not a bug)


def test_bloom_membership_contract(spark):
    """The deterministic Bloom filter must have ZERO false negatives
    (bloom_hit >= has_orders on every row), a false-positive rate
    within 2x the theoretical (1 - e^(-kn/m))^k, and OR-merge must be
    LOSSLESS: per-shard bloom words bit_or-merged equal the one-pass
    bloom bit-for-bit (the property that lets per-partition filters
    combine at 100 TB without touching raw keys twice)."""
    import math

    import duckdb

    import iot_system_plc_data_to_influxdb_spark.plans as plans
    from iot_system_plc_data_to_influxdb_spark.catalog import t
    from iot_system_plc_data_to_influxdb_spark.plans.relational import (
        _BLOOM_K,
        _BLOOM_M,
        _BLOOM_WORD,
        _bloom_pos_col,
    )

    sf = "/root/testdata/sf0.01"
    rows = plans.all_queries()["b5_bloom_membership"](spark, sf).collect()
    assert rows
    fn = [r for r in rows if r["has_orders"] == 1 and r["bloom_hit"] == 0]
    assert not fn, f"false negatives: {fn[:3]}"
    absent = [r for r in rows if r["has_orders"] == 0]
    if absent:
        fp = sum(r["bloom_hit"] for r in absent) / len(absent)
        n = duckdb.sql(
            f"SELECT count(DISTINCT o_custkey) FROM '{sf}/orders.parquet'"
        ).fetchone()[0]
        theo = (1.0 - math.exp(-_BLOOM_K * n / _BLOOM_M)) ** _BLOOM_K
        assert fp <= max(2.0 * theo, 0.02), (fp, theo)

    def words(df, key):
        out = (
            df.select(F.explode(_bloom_pos_col(key)).alias("pos"))
            .select(
                (F.col("pos") / _BLOOM_WORD).cast("int").alias("word"),
                F.expr(f"shiftleft(1L, pos % {_BLOOM_WORD})").alias("bit"),
            )
            .groupBy("word")
            .agg(F.bit_or("bit").alias("w"))
            .collect()
        )
        return {r["word"]: r["w"] for r in out}

    orders = t(spark, sf, "orders")
    direct = words(orders, "o_custkey")
    shard_a = words(orders.filter(F.col("o_orderkey") % 2 == 0), "o_custkey")
    shard_b = words(orders.filter(F.col("o_orderkey") % 2 == 1), "o_custkey")
    merged = dict(shard_a)
    for k, v in shard_b.items():
        merged[k] = merged.get(k, 0) | v
    assert merged == direct


def test_kmv_estimate_accuracy_and_lossless_merge(spark):
    """b5_kmv_distinct: (1) the (k-1)*2^48/kth estimate lands within a
    conservative multiple of the theoretical 1/sqrt(k-2) ~ 6.3% rsd;
    (2) the merge is LOSSLESS by construction — the global 256 smallest
    hashes of a union of per-partition 256-smallest lists equal the
    global 256 smallest computed in one pass, so merged estimate ==
    direct estimate exactly."""
    import duckdb

    from pyspark.sql import functions as F

    import iot_system_plc_data_to_influxdb_spark.plans as plans
    from iot_system_plc_data_to_influxdb_spark.catalog import t as read_t

    sf = "/root/testdata/sf0.01"
    est = plans.all_queries()["b5_kmv_distinct"](spark, sf).collect()[0]
    assert est["k"] == 256 and est["k_used"] == 256
    exact = duckdb.sql(
        f"SELECT count(DISTINCT l_orderkey) FROM '{sf}/lineitem.parquet'"
    ).fetchone()[0]
    rel = abs(est["n_est"] - exact) / exact
    assert rel < 0.20, (exact, est["n_est"], rel)

    # merge: per-returnflag partial top-256 lists, unioned, re-top-k'd
    li = read_t(spark, sf, "lineitem").select(
        "l_returnflag", F.md5(F.col("l_orderkey").cast("string")).alias("hx")
    ).distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("l_returnflag").orderBy("hx")
    partials = (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 256)
        .select("hx")
        .distinct()  # same key can rank <=256 in several shards
    )
    merged_kth = (
        partials.orderBy("hx").limit(256).agg(F.max("hx")).collect()[0][0]
    )
    direct_kth = (
        li.select("hx").distinct().orderBy("hx").limit(256)
        .agg(F.max("hx")).collect()[0][0]
    )
    assert merged_kth == direct_kth


def test_quantile_sketch_error_bound_and_lossless_merge(spark):
    """B5q: (1) every sketch percentile is the LOWER BOUND of the
    bucket holding the exact rank-ceil(q·n) order statistic, so
    est <= exact <= est + est/4 + 1 (the 4-sub-bucket octave width);
    (2) merging per-day sketches with bucket-count SUM reproduces the
    direct one-pass sketch exactly."""
    import math

    from iot_system_plc_data_to_influxdb_spark import plans
    from iot_system_plc_data_to_influxdb_spark.catalog import (
        events_between,
        t,
    )

    sf = "/root/testdata/sf0.01"
    qs = plans.all_queries()
    sk = {
        r["event_type"]: r
        for r in qs["b5_quantile_sketch"](spark, sf).collect()
    }
    # exact order statistics per series
    rows = (
        t(spark, sf, "events")
        .selectExpr(
            "event_type", "CAST(ROUND(value * 100) AS BIGINT) AS cents"
        )
        .filter("cents >= 1")
        .collect()
    )
    series: dict = {}
    for r in rows:
        series.setdefault(r["event_type"], []).append(int(r["cents"]))
    assert set(series) == set(sk)
    for et, cs in series.items():
        cs.sort()
        n = len(cs)
        assert sk[et]["n"] == n
        for q, col in ((0.50, "p50_cents"), (0.90, "p90_cents"),
                       (0.99, "p99_cents")):
            exact = cs[math.ceil(q * n) - 1]
            est = sk[et][col]
            assert est <= exact <= est + est // 4 + 1, (et, q, est, exact)

    # lossless merge: direct sketch over the window == windowed merge
    from iot_system_plc_data_to_influxdb_spark.plans.relational import (
        _qsketch_buckets,
        _qsketch_quantiles,
    )
    from pyspark.sql import functions as F

    ev = events_between(spark, sf, "2024-01-05", "2024-01-15").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    ).filter("cents >= 1")
    direct = _qsketch_quantiles(
        _qsketch_buckets(ev).groupBy("event_type", "e", "sub").agg(
            F.count("*").alias("cnt")
        )
    )
    merged = qs["b5_quantile_windowed_merge"](spark, sf)
    d = {r["event_type"]: r.asDict() for r in direct.collect()}
    m = {r["event_type"]: r.asDict() for r in merged.collect()}
    assert d == m


def test_kcenter_coreset_matches_python_gonzalez(spark):
    """B18k: the farthest-point selection equals a pure-Python greedy
    Gonzalez replay in exact integer 1e-7-units arithmetic — same
    seed (min vec_id), same max-min argmax, same tie-break."""
    from iot_system_plc_data_to_influxdb_spark import plans
    from iot_system_plc_data_to_influxdb_spark.catalog import t

    sf = "/root/testdata/sf0.001"
    got = [
        (r["sel_round"], r["vec_id"], r["radius2"])
        for r in plans.all_queries()["b18_kcenter_coreset"](spark, sf)
        .orderBy("sel_round")
        .collect()
    ]
    vecs = {
        int(r["vec_id"]): [round(float(x) * 1e7) for x in r["embedding"]]
        for r in t(spark, sf, "embeddings").collect()
    }
    centers = [min(vecs)]
    expect = [(0, centers[0], None)]
    for r in range(1, 4):
        best = None
        for vid, v in vecs.items():
            mind = min(
                sum((a - b) ** 2 for a, b in zip(v, vecs[c]))
                for c in centers
            )
            if best is None or mind > best[0] or (
                mind == best[0] and vid < best[1]
            ):
                best = (mind, vid)
        centers.append(best[1])
        expect.append((r, best[1], best[0] / 1e14))
    assert got == expect


def test_compaction_plan_packing_invariants(spark):
    """b25_compaction_plan output obeys the cumulative next-fit
    contract: per day, bin ids are consecutive from 0; every
    non-final bin's cumulative total crosses its boundary (that's WHY
    the next bin opened); byte totals are conserved vs the file
    relation; hour ranges of consecutive bins never interleave."""
    from collections import defaultdict

    import iot_system_plc_data_to_influxdb_spark.plans as plans
    from iot_system_plc_data_to_influxdb_spark.plans.timeseries import (
        _COMPACT_TARGET,
    )

    rows = plans.all_queries()["b25_compaction_plan"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_day = defaultdict(list)
    for r in rows:
        by_day[r["part_day"]].append(r)
    assert by_day
    for day, bins in by_day.items():
        bins.sort(key=lambda r: r["bin_id"])
        assert [b["bin_id"] for b in bins] == list(range(len(bins)))
        cum = 0
        for i, b in enumerate(bins):
            assert b["n_files"] >= 1
            cum += b["total_bytes"]
            if i < len(bins) - 1:
                # the next bin opened because the running total crossed
                # the (i+1)*target boundary
                assert cum >= (i + 1) * _COMPACT_TARGET
            if i > 0:
                assert b["first_hour"] >= bins[i - 1]["last_hour"]


def test_sequence_trigrams_user_support_semantics(spark, tmp_path):
    """b27_sequence_trigrams on a crafted log: a bot user looping one
    path 20 times contributes support 1 (user-support, not occurrence
    count), so the pattern only survives once >= 3 distinct users walk
    it; a 2-user pattern is filtered."""
    import datetime

    import iot_system_plc_data_to_influxdb_spark.plans as plans

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0

    def walk(user, seq, start):
        nonlocal eid
        for k, et in enumerate(seq):
            rows.append(
                (eid, t0 + datetime.timedelta(minutes=start + k), user,
                 et, 1.0, "{}")
            )
            eid += 1

    # bot: loops view->click->buy 20 times (one supporter)
    for rep in range(20):
        walk(1, ["view", "click", "buy"], rep * 10)
    # two honest users walk it once each -> support 3 total
    walk(2, ["view", "click", "buy"], 0)
    walk(3, ["view", "click", "buy"], 0)
    # a 2-user-only pattern: filtered
    walk(4, ["a", "b", "c"], 0)
    walk(5, ["a", "b", "c"], 0)
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    got = {
        (r["e1"], r["e2"], r["e3"]): (r["n_occurrences"], r["support_users"])
        for r in plans.all_queries()["b27_sequence_trigrams"](
            spark, str(tmp_path)
        ).collect()
    }
    assert ("view", "click", "buy") in got
    n_occ, support = got[("view", "click", "buy")]
    assert support == 3          # bot counts ONCE
    assert n_occ == 22           # 20 bot + 2 honest
    assert ("a", "b", "c") not in got
    # the bot's loop seam patterns (buy,view,click)/(click,buy,view)
    # have support 1 -> absent
    assert ("buy", "view", "click") not in got


def test_stress_replica_text_contract(spark):
    """The 10x stress corpus's token mutation must (a) leave replica 0
    byte-identical (fixed-term probes like BM25's query terms keep
    matching), (b) keep every mutated token inside ^[a-z0-9]+$ (the
    BPE/BM25 word filter — an earlier "_<rep>" suffix silently emptied
    the whole 10x corpus for that family), and (c) keep replicas
    token-disjoint (cross-replica duplicate pairs would square the
    near-dup work instead of scaling it linearly)."""
    import re
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from stress_probe import replica_text_expr

    rows = [(rep, "spark join vector test") for rep in range(3)]
    df = spark.createDataFrame(rows, "rep int, text string").select(
        "rep", replica_text_expr(F.col("rep")).alias("text")
    )
    out = {r["rep"]: r["text"] for r in df.collect()}
    assert out[0] == "spark join vector test"          # (a) pristine
    for rep in (1, 2):
        toks = out[rep].split(" ")
        assert all(
            re.fullmatch(r"[a-z0-9]+", t) for t in toks
        ), toks                                         # (b) alnum
    assert not (set(out[1].split()) & set(out[2].split()))  # (c)
    assert not (set(out[0].split()) & set(out[1].split()))
