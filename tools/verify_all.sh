#!/usr/bin/env bash
# The whole evidence chain, one command. ~25 min on local[32].
set -euo pipefail
cd "$(dirname "$0")/.."

echo "=== 1/9 unit + streaming tests (pytest) ==="
python -m pytest tests/ -q

echo "=== 2/9 PLC source and points sink under a non-UTC host zone (Python workers inherit TZ) ==="
TZ=Asia/Tokyo python -m pytest tests/test_snap7.py tests/test_streaming.py tests/test_points_layout.py -q \
  -k "plc or snap7 or poller or read_plan or sink"

echo "=== 3/9 benchmark self-tests (perfbench) ==="
python -m pytest perfbench/tests -q

echo "=== 4/9 entry-contract correctness gate (canonical 50, sf0.01) ==="
python tools/check_oracle.py --canonical /root/testdata/sf0.01

echo "=== 5/9 written-index lifecycle queries at the smallest scale (sf0.001) ==="
python tools/check_oracle.py /root/testdata/sf0.001 \
  b21_bm25_indexed b21_bm25_index_delta b21_index_compaction \
  b21_bm25_index_stream b20_knn_ivf_indexed b20_ivf_index_delta \
  b20_ivf_compaction b20_knn_ivfpq_indexed b20_ivfpq_rerank \
  b20_ivfpq_index_delta b20_rrf_indexed

echo "=== 6/9 full registry sweep (canonical + variants, sf0.01) ==="
python tools/check_oracle.py /root/testdata/sf0.01

echo "=== 7/9 headline bench (sf0.1; per-query jobs/shuffle/spill in BENCH_DETAIL.json) ==="
python bench.py

echo "=== 8/9 scale probes (scaling + stress + media + ingest) ==="
python tools/scaling_probe.py
python tools/stress_probe.py
python tools/media_stress_probe.py
python tools/ingest_probe.py

echo "=== 9/9 plan dumps ==="
python tools/dump_plans.py

echo "ALL VERIFICATION STAGES COMPLETE"
