"""Spark event log → per-stage records.

The traced run starts the JVM with the event log on (via
``PYSPARK_SUBMIT_ARGS``, so the session still comes from
``session.get_session`` with its own conf list). After the session
stops, the log is complete and is read here: one record per completed
stage attempt with its interval and the sums of its task metrics.
"""

from __future__ import annotations

import json
import os

from stats import clip, union_length


def conf_args(log_dir: str) -> str:
    """spark-submit flags that turn the event log on for one JVM."""
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    return " ".join(f"--conf {k}={v}" for k, v in confs.items())


def _sched_delay_ms(info: dict, m: dict) -> float:
    """Task time not spent deserialising, running, serialising the
    result or fetching it — the Spark UI's scheduler delay."""
    duration = (info.get("Finish Time") or 0) - (info.get("Launch Time") or 0)
    getting = 0
    if info.get("Getting Result Time"):
        getting = info["Finish Time"] - info["Getting Result Time"]
    busy = (
        m.get("Executor Deserialize Time", 0)
        + m.get("Executor Run Time", 0)
        + m.get("Result Serialization Time", 0)
        + getting
    )
    return max(0.0, duration - busy)


def read_stages(log_dir: str) -> tuple[list[dict], list[float]]:
    """(stages, job submission times in seconds) from every log in
    ``log_dir``. Stage times are epoch seconds."""
    stages: dict[tuple[int, int], dict] = {}
    jobs: list[float] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a torn last line of a log still in progress
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    st = stages.setdefault(key, _empty())
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    st["sched_delay_s"] += _sched_delay_ms(ev.get("Task Info") or {}, m) / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    if si.get("Submission Time") is None or si.get("Completion Time") is None:
                        continue
                    st = stages.setdefault((si["Stage ID"], si["Stage Attempt ID"]), _empty())
                    st["t0"] = si["Submission Time"] / 1000.0
                    st["t1"] = si["Completion Time"] / 1000.0
    return [s for s in stages.values() if s["t0"] is not None], jobs


def _empty() -> dict:
    return {
        "t0": None, "t1": None, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "sched_delay_s": 0.0,
    }


SUMMED = ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
          "spill_bytes", "sched_delay_s")


def window(stages: list[dict], jobs: list[float], t0: float, t1: float) -> dict:
    """Stage metrics for work submitted inside [t0, t1]: counts, metric
    sums, and the wall the stages cover (the union of their intervals
    clipped to the window)."""
    inside = [s for s in stages if t0 <= s["t0"] <= t1]
    out = {k: sum(s[k] for s in inside) for k in SUMMED}
    out["stages"] = len(inside)
    out["jobs"] = sum(1 for j in jobs if t0 <= j <= t1)
    out["stage_wall_s"] = union_length(clip([(s["t0"], s["t1"]) for s in inside], t0, t1))
    return out
