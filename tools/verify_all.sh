#!/usr/bin/env bash
# The whole evidence chain, one command. ~25 min on local[32].
set -euo pipefail
cd "$(dirname "$0")/.."

echo "=== 1/7 unit + streaming tests (pytest) ==="
python -m pytest tests/ -q

echo "=== 2/7 benchmark self-tests (perfbench) ==="
python -m pytest perfbench/tests -q

echo "=== 3/7 driver-mirror correctness gate (canonical 50, sf0.01) ==="
python tools/check_oracle.py --canonical /root/testdata/sf0.01

echo "=== 4/7 full registry sweep (canonical + variants, sf0.01) ==="
python tools/check_oracle.py /root/testdata/sf0.01

echo "=== 5/7 headline bench (sf0.1; per-query jobs/shuffle/spill in BENCH_DETAIL.json) ==="
python bench.py

echo "=== 6/7 scale probes (scaling + stress + media + ingest) ==="
python tools/scaling_probe.py
python tools/stress_probe.py
python tools/media_stress_probe.py
python tools/ingest_probe.py

echo "=== 7/7 plan dumps ==="
python tools/dump_plans.py

echo "ALL VERIFICATION STAGES COMPLETE"
