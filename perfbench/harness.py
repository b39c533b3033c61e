"""Process set-up shared by the workloads: where a run may write, how
the Spark session is sized and started, and the result line."""

from __future__ import annotations

import json
import os
import platform
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")
WORK_DIR = os.path.join(STATE_DIR, "work")
OUT_DIR = os.path.join(STATE_DIR, "out")
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(trace: bool) -> None:
    """Size the session for this host and keep every file Spark, the
    JVM and Python write inside the checkout. Must run before the JVM
    starts."""
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(WORK_DIR, d))
    os.makedirs(OUT_DIR, exist_ok=True)
    tmp = os.path.join(WORK_DIR, "tmp")
    os.environ["TMPDIR"] = tmp
    # Both JVMs (spark-submit's launcher and the driver): temp files in
    # the checkout, and no hsperfdata file, which HotSpot puts in /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK_DIR, "spark-local")
    # Python workers import the engine's data source by module path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    confs = {
        "spark.local.dir": os.path.join(WORK_DIR, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(WORK_DIR, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    os.chdir(WORK_DIR)  # derby.log and other stray relative writes


def start_session():
    """A SparkSession from the engine's own factory (sized by the
    SPARK_GRAFT_CPUS and SPARK_DRIVER_MEM set in ``prepare_env``).
    After ``stop()`` the next call starts a fresh SparkContext in the
    JVM that is already up."""
    from iot_system_plc_data_to_influxdb_spark.session import get_spark

    return get_spark("perfbench")


def stop_session() -> None:
    """Stop the active session, then the JVM if one was launched, and
    wait for it to exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_for_listeners(spark, timeout_ms: int = 30000) -> None:
    """Block until Spark's listener bus has delivered every event, so
    the event log holds all jobs run so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def jvm_pid(spark) -> int | None:
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def event_log_path(spark) -> str:
    """The running application's event log (suffixed while it runs)."""
    path = os.path.join(WORK_DIR, "eventlog", spark.sparkContext.applicationId)
    return path if os.path.exists(path) else path + ".inprogress"


def stamp(workload: str, seed: int, trace: bool) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        ).stdout.strip()
    except OSError:
        commit = ""
    return {
        "workload": workload,
        "seed": seed,
        "trace": int(trace),
        "nproc": nproc(),
        "driver_mem": DRIVER_MEM,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": commit or "unknown",
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def info(name: str, value, unit: str = "") -> None:
    """One human-readable metric line (the last line is the result)."""
    if isinstance(value, float):
        value = f"{value:.6g}"
    print(f"{name:<40} {value} {unit}".rstrip(), flush=True)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    )


def cleanup() -> None:
    os.chdir(ROOT)
    shutil.rmtree(WORK_DIR, ignore_errors=True)


def fail(msg: str):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)
