"""Spark session set-up for the Spark workloads, and the event-log
reader behind their per-layer metrics.

Everything Spark writes (local dirs, warehouse, JVM temp files and,
when traced, the event log) goes under the run's work directory. The
event log is switched on from outside the package through
``PYSPARK_SUBMIT_ARGS``, uncompressed so it can be read back here.
"""

from __future__ import annotations

import glob
import json
import os
import time


def configure(work: str, trace: bool) -> str:
    """Point Spark's scratch space into ``work``; returns the event-log
    directory (empty when not traced). Call before the session starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    # spark-submit first runs a small launcher JVM; keep its hsperfdata
    # out of /tmp too
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    submit = [
        # no hsperfdata either: the JVM would write it under /tmp
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    log_dir = ""
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return log_dir


def start_session():
    """The package's session, timed. Returns (spark, seconds)."""
    from hematite_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("hbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (it leaves once its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class EventLog:
    """Jobs and task metrics from an uncompressed Spark event log."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, dict] = {}  # job id -> {"props", "stages"}
        self.stage_tasks: dict[int, list[dict]] = {}
        for path in glob.glob(os.path.join(log_dir, "*")):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        self.jobs[ev["Job ID"]] = {
                            "props": ev.get("Properties") or {},
                            "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                        }
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        self.stage_tasks.setdefault(ev["Stage ID"], []).append(
                            {
                                "run_ms": m.get("Executor Run Time", 0),
                                "cpu_ns": m.get("Executor CPU Time", 0),
                                "gc_ms": m.get("JVM GC Time", 0),
                                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                                    "Shuffle Bytes Written", 0
                                ),
                                "spill": m.get("Disk Bytes Spilled", 0),
                            }
                        )

    def select(self, pred) -> list[int]:
        """Ids of the jobs whose properties satisfy ``pred``."""
        return [j for j, info in self.jobs.items() if pred(info["props"])]

    def totals(self, job_ids) -> dict:
        stages = {s for j in job_ids for s in self.jobs[j]["stages"]}
        tasks = [t for s in stages for t in self.stage_tasks.get(s, [])]
        return {
            "jobs": len(list(job_ids)),
            "tasks": len(tasks),
            "task_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 1e6,
            "spill_mb": sum(t["spill"] for t in tasks) / 1e6,
        }
