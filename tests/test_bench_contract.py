"""bench.py's driver contract: the final stdout line must parse as
JSON and fit the driver's 2,000-char capture window at ANY suite size
— round 7 grew the headline set past 100 queries, where per-query
dicts no longer fit at any rounding and the line must degrade to
slowest-queries-only with an honest `queries_elided` count."""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo")

import bench  # noqa: E402


def test_final_line_small_suite_keeps_every_query():
    timings = {f"q{i}": 0.5 + i / 100 for i in range(20)}
    line = bench.final_line(timings, 0.1)
    out = json.loads(line)
    assert len(line) < 1950
    assert set(out["queries"]) == set(timings)
    assert "queries_elided" not in out
    assert out["value"] == round(sum(timings.values()), 2)


def test_final_line_large_suite_elides_with_fixed_membership():
    """Round 13 (r12 verdict #2): when the suite no longer fits, the
    kept subset is decided by the FIXED priority list — never by this
    run's timings — so membership is identical across noisy runs and
    the driver's round-over-round common set cannot churn or
    self-select for regressions."""
    # 160 long-named queries cannot fit at any rounding
    timings = {
        f"b27_some_extremely_long_operator_name_{i:03d}": 0.1 + i / 50
        for i in range(160)
    }
    line = bench.final_line(timings, 0.1)
    out = json.loads(line)
    assert len(line) < 1990
    assert out["queries_elided"] == len(timings) - len(out["queries"])
    assert out["queries_elided"] > 0
    # the total is the FULL suite, not just the kept queries
    assert out["value"] == round(sum(timings.values()), 2)
    # membership is TIMING-INDEPENDENT: shuffle the values, same set
    import random

    rng = random.Random(7)
    jittered = {
        k: round(v * rng.uniform(0.2, 5.0), 3) for k, v in timings.items()
    }
    out2 = json.loads(bench.final_line(jittered, 0.1))
    assert set(out2["queries"]) == set(out["queries"])
    # none of these synthetic names are in the priority list, so the
    # kept set is the alphabetical fallback prefix — deterministic
    assert sorted(out["queries"]) == sorted(timings)[: len(out["queries"])]


def test_final_line_priority_set_always_fully_reported():
    """Every query the round-12 line reported must keep appearing —
    the driver's 'never remove existing entries' contract — even at
    worst-case digit widths and with the norm_reg field present."""
    timings = {q: 99.99 for q in bench.BENCH_QUERIES}
    out = json.loads(bench.final_line(timings, 0.1, n_reg=99))
    assert set(bench.FINAL_LINE_PRIORITY) <= set(out["queries"])
    assert set(bench.FINAL_LINE_PRIORITY) <= set(bench.BENCH_QUERIES)


def test_headline_set_is_registered():
    """Every BENCH_QUERIES name resolves in the full registry."""
    import iot_system_plc_data_to_influxdb_spark.plans as plans

    missing = set(bench.BENCH_QUERIES) - set(plans.all_queries())
    assert missing == set(), missing


def _job(job_id, stage, props):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": [stage], "Properties": props}


def _task(stage, cpu_ns, shuffle=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": cpu_ns // 1_000_000,
                "Executor CPU Time": cpu_ns, "JVM GC Time": 1,
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            }}


def test_profile_row_reports_the_fastest_runs_spark_work(tmp_path):
    """Each run is its own job group; the row carries the split and the
    Spark work of the fastest timed run, not of the warm-up (run 0) or
    a slower repeat. A streaming query's batch jobs run under the
    stream's own job group and count through the run's job tag."""
    events = [
        _job(0, 0, {"spark.jobGroup.id": "q#0"}),  # warm-up: 1 job
        _task(0, 9_000_000),
        _job(1, 1, {"spark.jobGroup.id": "q#1"}),  # slow run: 1 job
        _task(1, 5_000_000), _task(1, 5_000_000),
        _job(2, 2, {"spark.jobGroup.id": "q#2"}),  # fastest run: 2 jobs
        _task(2, 2_000_000, shuffle=64),
        _job(3, 3, {"spark.jobGroup.id": "5c1e-stream-run-id",
                    "spark.job.tags": "q#2,spark-session-x"}),
        _task(3, 3_000_000), _task(3, 1_000_000),
        _job(4, 4, {}),  # outside any run: ignored
        _task(4, 7_000_000),
    ]
    log = tmp_path / "eventlog"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    runs = {"q": [(0.5, 0.5), (0.2, 0.7), (0.3, 0.1)]}

    row = bench.profile_rows(runs, str(log))["q"]
    assert (row["jobs"], row["tasks"], row["cpu_ms"]) == (2, 3, 6.0)
    assert row["shuffle_bytes"] == 64
    assert (row["construct_s"], row["execute_s"]) == (0.3, 0.1)
    assert row["wall_s"] == 0.4 and row["warmup_s"] == 1.0
    assert row["runs"] == [0.9, 0.4]
    assert set(bench.PROFILE_FIELDS) <= set(row)


def test_gate_flags_more_jobs_and_ignores_cpu_below_2x():
    """The gate compares each row with the previous record's: a job
    count that rose flags, executor CPU-ms flags only past 2x, and
    wall clock alone never flags."""
    prev = {"rows": {
        "steady": {"jobs": 4, "cpu_ms": 100.0},
        "more_jobs": {"jobs": 4, "cpu_ms": 100.0},
        "cpu_1_9x": {"jobs": 4, "cpu_ms": 100.0},
        "cpu_2_5x": {"jobs": 4, "cpu_ms": 100.0},
    }}
    now = {
        "steady": {"jobs": 4, "cpu_ms": 90.0, "wall_s": 30.0},
        "more_jobs": {"jobs": 5, "cpu_ms": 100.0, "wall_s": 1.0},
        "cpu_1_9x": {"jobs": 4, "cpu_ms": 190.0, "wall_s": 1.0},
        "cpu_2_5x": {"jobs": 4, "cpu_ms": 250.0, "wall_s": 1.0},
        "new_query": {"jobs": 9, "cpu_ms": 999.0, "wall_s": 1.0},
    }
    flags = bench._regression_gate(now, prev)
    assert set(flags) == {"more_jobs", "cpu_2_5x"}
    assert flags["more_jobs"]["jobs"] == [4, 5]
    assert bench._regression_gate(now, {}) == {}
