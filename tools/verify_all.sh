#!/usr/bin/env bash
# The whole evidence chain, one command. ~25 min on local[32].
set -euo pipefail
cd "$(dirname "$0")/.."

echo "=== 1/8 unit + streaming tests (pytest) ==="
python -m pytest tests/ -q

echo "=== 2/8 PLC source under a non-UTC host zone (Python workers inherit TZ) ==="
TZ=Asia/Tokyo python -m pytest tests/test_snap7.py tests/test_streaming.py -q -k "plc or snap7 or poller or read_plan"

echo "=== 3/8 benchmark self-tests (perfbench) ==="
python -m pytest perfbench/tests -q

echo "=== 4/8 entry-contract correctness gate (canonical 50, sf0.01) ==="
python tools/check_oracle.py --canonical /root/testdata/sf0.01

echo "=== 5/8 full registry sweep (canonical + variants, sf0.01) ==="
python tools/check_oracle.py /root/testdata/sf0.01

echo "=== 6/8 headline bench (sf0.1; per-query jobs/shuffle/spill in BENCH_DETAIL.json) ==="
python bench.py

echo "=== 7/8 scale probes (scaling + stress + media + ingest) ==="
python tools/scaling_probe.py
python tools/stress_probe.py
python tools/media_stress_probe.py
python tools/ingest_probe.py

echo "=== 8/8 plan dumps ==="
python tools/dump_plans.py

echo "ALL VERIFICATION STAGES COMPLETE"
