"""Evidence that b21_bm25_index_stream's micro-batch merges are
O(delta) (round-13, r12 verdict #9).

Replays the registered query's harness (base build from 3/5 of the
corpus, two availableNow micro-batches merged via foreachBatch) with
the SAME shared merge, but records per micro-batch the cardinalities
that bound the merge's work:

- delta docs / delta tf rows   — the O(delta) input;
- affected buckets             — the only ``tb=`` partitions touched;
- base terms rows re-read      — bounded by the affected buckets'
                                 vocabulary, never the corpus;
- base postings rows           — NEVER read by the merge (the append
                                 is write-only); printed for scale
                                 contrast only.

The ~7 s bench wall of the registered query is therefore fixed
streaming-engine startup + two genuinely O(delta) merges — the
serving claim at 100 TB. Output: the report, on stdout.

Usage: python tools/stream_merge_evidence.py [sf_dir]
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from iot_system_plc_data_to_influxdb_spark.catalog import t  # noqa: E402
from iot_system_plc_data_to_influxdb_spark.operators.retrieval import (  # noqa: E402
    TERMS,
    bm25_from_index,
    merge_postings_delta,
    scan,
    write_postings_index,
)
from iot_system_plc_data_to_influxdb_spark.plans import northstar  # noqa: E402
from iot_system_plc_data_to_influxdb_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("stream-merge-evidence")
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="bm25_stream_evidence_")
    lines: list[str] = [
        "b21_bm25_index_stream merge evidence (round 13)",
        f"sf_dir = {sf_dir}",
        "",
        "Harness identical to the registered query (plans/northstar."
        "b21_bm25_index_stream): base build pmod(doc_id,5) NOT IN "
        "(2,4); two availableNow micro-batches (maxFilesPerTrigger=1) "
        "merged via the SAME operators/retrieval.merge_postings_delta "
        "the batch path uses.",
        "",
    ]
    try:
        idx = os.path.join(tmp, "index")
        t0 = time.perf_counter()
        write_postings_index(
            docs.filter(F.expr("pmod(doc_id, 5) NOT IN (2, 4)")), idx
        )
        build_s = time.perf_counter() - t0
        base_postings = spark.read.parquet(
            os.path.join(idx, "postings")
        ).count()
        base_terms = spark.read.parquet(os.path.join(idx, "terms")).count()
        n_buckets_total = len([
            d for d in os.listdir(os.path.join(idx, "postings"))
            if d.startswith("tb=")
        ])
        lines += [
            f"base build: {build_s:.2f} s wall; postings rows = "
            f"{base_postings}, terms rows = {base_terms}, "
            f"tb= partitions = {n_buckets_total}",
            "",
        ]

        src_dir = os.path.join(tmp, "in")
        os.makedirs(src_dir)
        for i, m in enumerate((2, 4)):
            stage = os.path.join(tmp, f"stage{i}")
            docs.filter(F.expr(f"pmod(doc_id, 5) = {m}")).coalesce(
                1
            ).write.parquet(stage)
            parts = glob.glob(os.path.join(stage, "part-*.parquet"))
            if parts:
                dst = os.path.join(src_dir, f"{i:04d}.parquet")
                shutil.copy(parts[0], dst)
                os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

        batch_records: list[str] = []

        def merge_with_evidence(df, bid: int) -> None:
            sp = df.sparkSession
            n_docs = df.count()
            t1 = time.perf_counter()
            affected = merge_postings_delta(sp, idx, df)
            merge_s = time.perf_counter() - t1
            # what the merge's terms branch actually re-read: ONLY the
            # affected buckets' terms rows (partition-pruned)
            reread = scan(sp, idx, TERMS, affected).count()
            batch_records.append(
                f"micro-batch {bid}: delta docs = {n_docs}; merge wall "
                f"= {merge_s:.2f} s; affected buckets = {len(affected)}"
                f"/{n_buckets_total}; terms rows in affected buckets "
                f"(the read-modify-write bound) = {reread}; base "
                f"postings rows READ by the merge = 0 (append-only)"
            )

        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        t2 = time.perf_counter()
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(merge_with_evidence)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        stream_s = time.perf_counter() - t2
        lines += batch_records
        lines += [
            "",
            f"stream wall (engine start + 2 micro-batch cycles + "
            f"stop): {stream_s:.2f} s — the engine overhead the bench "
            f"query pays once per run; each merge above is bounded by "
            f"its delta + affected-bucket terms, independent of the "
            f"base corpus.",
        ]
        served = bm25_from_index(
            spark, idx, northstar._BM25_TERMS,
            topk=northstar._BM25_TOPK, scale=northstar._BM25_SCALE,
        ).collect()
        lines += [
            "",
            "served top-10 after stream maintenance (the oracle-"
            "checked answer):",
            *(f"  {tuple(r)}" for r in served),
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
