"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

Every line but the last is a human-readable metric or stamp; the last
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

WORKLOADS = ("ingest", "dashboard")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        harness.fail("--seconds must be positive")
    pkg = os.path.join(harness.ROOT, "iot_system_plc_data_to_influxdb_spark")
    if not os.path.isfile(os.path.join(pkg, "__init__.py")):
        harness.fail(f"engine package not found under {harness.ROOT}")

    from perfbench import driver

    line = driver.run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
