"""Per-key profiler: run one registered key with the Spark event log
enabled and print where the wall went — per SQL execution / job /
stage, with shuffle bytes — plus the physical plan on request.

    python tools/profile_key.py KEY [KEY ...] [--repeat=N] [--plans]

The guide's §1 loop needs to know WHICH stage of a multi-job key is
slow (streaming drains and composed keys run dozens of jobs; the
bench's single wall number can't localize anything). This runs the
key under the normal bench conditions (same session confs, noop sink,
$SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS) but with
spark.eventLog.enabled, then parses the event log into a per-stage
table: wall, executor run time, shuffle read/write bytes, records,
task count — the local stand-in for the Spark UI's stage page.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

EVDIR = "/tmp/sfdc_profile_eventlog"


def build_session(cpus: int):
    """The engine's session (``get_session``) with the event log on.
    Event-log confs are read at context creation, so they go into
    PYSPARK_SUBMIT_ARGS before the JVM starts."""
    from sfdc_cdc_aws_spark.session import get_session

    os.makedirs(EVDIR, exist_ok=True)
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": EVDIR,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    )
    return get_session("profile", cpus)


def parse_eventlog(path: str, t_lo_ms: float, t_hi_ms: float) -> None:
    """Stage table for events inside [t_lo_ms, t_hi_ms]."""
    stages = {}  # (stageId, attempt) -> dict
    jobs = {}  # jobId -> description
    stage_job = {}  # stageId -> jobId
    if os.path.isdir(path):
        # Spark 4 rolling event log: a directory of events_* files
        parts = sorted(
            os.path.join(path, p)
            for p in os.listdir(path)
            if p.startswith("events_")
        )
    else:
        parts = [path]
    for part in parts:
      with open(part) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = props.get(
                    "spark.job.description", props.get("callSite.short", "")
                )
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                if sub is None or comp is None:
                    continue
                if comp < t_lo_ms or sub > t_hi_ms:
                    continue
                acc = {
                    a["Name"]: a.get("Value")
                    for a in si.get("Accumulables", [])
                }
                def num(name):
                    v = acc.get(name, 0)
                    try:
                        return int(v)
                    except (TypeError, ValueError):
                        return 0
                stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                    "wall_s": (comp - sub) / 1000.0,
                    "run_s": num("internal.metrics.executorRunTime") / 1000.0,
                    "cpu_s": num("internal.metrics.executorCpuTime") / 1e9,
                    "gc_s": num("internal.metrics.jvmGCTime") / 1000.0,
                    "sh_read_mb": num("internal.metrics.shuffle.read.remoteBytesRead")
                    / 1e6
                    + num("internal.metrics.shuffle.read.localBytesRead") / 1e6,
                    "sh_write_mb": num("internal.metrics.shuffle.write.bytesWritten")
                    / 1e6,
                    "in_mb": num("internal.metrics.input.bytesRead") / 1e6,
                    "tasks": si.get("Number of Tasks", 0),
                    "name": si.get("Stage Name", ""),
                    "job": stage_job.get(si["Stage ID"]),
                    "sub": sub,
                }
    rows = sorted(stages.items(), key=lambda kv: -kv[1]["run_s"])
    total_run = sum(r["run_s"] for _, r in rows)
    total_wall = sum(r["wall_s"] for _, r in rows)
    print(
        f"  stages={len(rows)} sum(stage wall)={total_wall:.2f}s "
        f"sum(executor run)={total_run:.2f}s"
    )
    print(
        "  {:>5} {:>7} {:>7} {:>7} {:>6} {:>8} {:>8} {:>8} {:>5}  {}".format(
            "stage", "wall_s", "run_s", "cpu_s", "gc_s", "shRd_MB", "shWr_MB", "in_MB", "task", "desc"
        )
    )
    for (sid, att), r in rows[:25]:
        desc = (jobs.get(r["job"]) or r["name"])[:82]
        print(
            "  {:>5} {:>7.2f} {:>7.2f} {:>7.2f} {:>6.2f} {:>8.1f} {:>8.1f} {:>8.1f} {:>5}  {}".format(
                sid, r["wall_s"], r["run_s"], r["cpu_s"], r["gc_s"], r["sh_read_mb"],
                r["sh_write_mb"], r["in_mb"], r["tasks"], desc
            )
        )


def main() -> None:
    keys = [a for a in sys.argv[1:] if not a.startswith("--")]
    repeat = 1
    want_plans = "--plans" in sys.argv
    for a in sys.argv[1:]:
        if a.startswith("--repeat="):
            repeat = int(a.split("=")[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    shutil.rmtree(EVDIR, ignore_errors=True)
    spark = build_session(cpus)
    from sfdc_cdc_aws_spark.registry import load_all
    from sfdc_cdc_aws_spark.prewarm import prewarm_materializations

    specs = load_all()
    # same untimed prewarm as bench.py
    prewarm_materializations(spark, sf_dir)
    for key in keys:
        fn = specs[key].fn
        # warm run (JIT, footer caches) — not profiled
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = None
        best_window = None
        for _ in range(repeat):
            spark.sparkContext.setJobDescription(f"profile:{key}")
            t0_ms = time.time() * 1000
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            t1_ms = time.time() * 1000
            spark.sparkContext.setJobDescription(None)
            if best is None or dt < best:
                best, best_window = dt, (t0_ms, t1_ms)
        print(f"\n=== {key}: {best:.3f}s (best of {repeat}, warm) ===")
        if want_plans:
            print(fn(spark, sf_dir)._jdf.queryExecution().explainString("formatted")[:8000])
        sys.stdout.flush()
        # flush the event log and parse the best run's window
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)
        logs = [
            os.path.join(EVDIR, p)
            for p in os.listdir(EVDIR)
            if not p.startswith(".")
        ]
        log = max(logs, key=os.path.getmtime)
        parse_eventlog(log, best_window[0], best_window[1])
        sys.stdout.flush()


if __name__ == "__main__":
    main()
