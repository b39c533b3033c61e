"""Orchestration of one run: start the JVM, set the workload up
several times, then measure one window (``--trace 0``), or a traced
window between two untraced ones in the same process (``--trace 1``),
check the outputs and report."""

from __future__ import annotations

import json
import os
import time

from . import harness, stats
from .harness import info
from .trace import Tracer

SETUPS = 3


def _declared() -> tuple[tuple, dict]:
    """Metric names and units from BENCHMARK.json: the end-to-end
    metrics every workload reports with --trace 0, and the per-layer
    metrics every workload reports with --trace 1 (0 for a layer the
    workload does not run)."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        tuple(m["name"] for m in spec["end_to_end"]),
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _workload(name: str, seed: int):
    if name == "ingest":
        from .ingest import Ingest

        return Ingest(seed)
    from .dashboard import Dashboard

    return Dashboard(seed)


def run(workload: str, seed: int, seconds: float, trace: bool) -> str:
    end_to_end, per_layer = _declared()
    harness.prepare_env(trace)
    spark = None
    wl = None
    try:
        for k, v in harness.stamp(workload, seed, trace).items():
            info(f"stamp.{k}", v)
        t = time.perf_counter()
        spark = harness.start_session()
        spark.range(1).count()
        jvm_launch_s = time.perf_counter() - t
        info("session.jvm_launch_s", jvm_launch_s, "s")

        wl = _workload(workload, seed)
        setup_s = []
        for _ in range(SETUPS):
            t = time.perf_counter()
            wl.setup(spark)
            setup_s.append(time.perf_counter() - t)
        info("setup_s.samples", json.dumps([round(s, 4) for s in setup_s]), "s")

        if not trace:
            res = wl.window(seconds, None)
            e2e = _end_to_end(wl, res, setup_s, spark)
            if set(e2e) != set(end_to_end):
                raise RuntimeError(f"end-to-end metrics {sorted(e2e)} != {end_to_end}")
            return harness.result_line(
                res["failed"] == 0, res["attempted"], res["failed"], e2e
            )

        # Untraced windows before and after the traced one: the JVM is
        # still warming up between windows, and bracketing keeps that out
        # of the tracing overhead.
        before = wl.window(seconds, None)
        info("--- traced window", "")
        tracer = Tracer()
        tres = wl.window(seconds, tracer)
        te2e = _end_to_end(wl, tres, setup_s, spark)
        layers = {k: (0.0, u) for k, u in per_layer.items()}
        layers.update(wl.layers(tres, tracer, harness.event_log_path(spark)))
        after = wl.window(seconds, None)
        plain = (before, after)
        plain_p50 = sum(stats.median(r["latency_ms"]) for r in plain) / 2
        plain_ops = sum(r["ops_per_s"] for r in plain) / 2
        info("untraced.op_p50_ms", plain_p50, "ms")
        info("untraced.ops_per_s", plain_ops, "1/s")
        layers["session.jvm_launch_s"] = (jvm_launch_s, "s")
        layers["process.peak_rss_mb"] = (stats.peak_rss_mb(harness.jvm_pid(spark)), "MB")
        layers["trace.overhead_op_p50_ms"] = (te2e["op_p50_ms"][0] - plain_p50, "ms")
        layers["trace.overhead_ops_per_s"] = (te2e["ops_per_s"][0] - plain_ops, "1/s")
        layers["trace.spans"] = (len(tracer.spans), "count")
        tracer.dump(os.path.join(harness.OUT_DIR, f"{workload}.spans.jsonl"))
        runs = [before, tres, after]
        if workload == "ingest":
            runs.append(wl.local1_window(seconds))
            layers["ingest.points_per_s_local1"] = (runs[-1]["points_per_s"], "points/s")
        unknown = set(layers) - set(per_layer)
        if unknown:
            raise RuntimeError(f"undeclared per-layer metrics {sorted(unknown)}")
        info("--- per layer", "")
        for k, (v, u) in layers.items():
            info(k, v, u)
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        return harness.result_line(failed == 0, attempted, failed, layers)
    finally:
        if wl is not None and hasattr(wl, "close"):
            wl.close()
        harness.stop_session()
        harness.cleanup()


def _end_to_end(wl, res, setup_s, spark) -> dict:
    lat = res["latency_ms"]
    out = {
        "setup_s": (stats.median(setup_s), "s"),
        "op_p50_ms": (stats.median(lat), "ms"),
        "ops_per_s": (res["ops_per_s"], "1/s"),
    }
    info("peak_rss_mb", stats.peak_rss_mb(harness.jvm_pid(spark)), "MB")
    info("ops", len(lat), "count")
    info("op_ms.samples", json.dumps([round(x, 1) for x in lat]), "ms")
    p = stats.tail_percentile(len(lat))
    if p is not None and p > 50:
        info(f"op_p{p:g}_ms", stats.nearest_rank(lat, p), "ms")
    for k, (v, u) in out.items():
        info(k, v, u)
    for k, (v, u) in wl.extra_end_to_end(res).items():
        info(k, v, u)
    info("attempted", res["attempted"])
    info("failed", res["failed"])
    return out
