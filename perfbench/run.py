"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 12 --trace 0

Workloads (see BENCHMARK.json for why each exists):

* ``cdc`` — the CDC job end to end (``lanes_cdc.py``): the benchmark's
  own load generator (``gen_cdc.py``, a separate process) serves
  Bayeux, ``BayeuxConnector.drain_to`` lands the wire records,
  ``changes_stream`` parses and dedups them, ``IncrementalSnapshot``
  merges and publishes. A closed-loop catch-up over a backlog, then an
  open-loop tail at a fixed rate.
* ``batch_mix`` — passes over a frozen list of driver-bound and
  CPU-bound registry keys on seeded tables (``lanes_batch.py``).

The session runs on ``local[<cpus available to this process>]``.
Outputs are checked after the measured window: CDC state against an
independent latest-per-key, batch keys against their DuckDB oracles.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Progress and notes go to stderr.

End-to-end metrics:

* ``setup_s`` — process start until the workload is ready: the session
  answers a first job, then the lane's ready step runs (cdc: a warm-up
  drain through stream and merge, then the state preload; batch_mix:
  warm-up passes, the first of which collects every key). Measured once
  per run: only the first set-up in a process pays the JVM's cold start.
* ``throughput_per_s`` — cdc: median over the catch-up cycles of
  deliveries landed ÷ cycle wall; batch_mix: key runs ÷ the summed
  wall of the measured passes.
* ``latency_p50_s`` — cdc: median freshness of tail events (publish of
  the first epoch containing the event minus the time it was due to be
  offered, 350-600 events a run, counted after the tail's first
  seconds); batch_mix: a typical pass, the sum over the keys of each
  key's median wall (build, plan, execute; three or more runs a key).

A higher percentile is per-layer only (``cdc.freshness_p90_s``): a
batch_mix run has a few passes, too few for ten samples beyond a p90.

Per-layer ``host.peak_rss_mb`` is the largest summed RSS of this process
and its descendants (driver JVM, Python workers, load generator),
sampled every 0.5 s from session start to the end of the window. It is
not an end-to-end metric: the JVM sizes its heap adaptively, and the
peak moved 30-40% between runs of the same work on a shared host.

``--trace 1`` runs the workload with spans and the Spark event log on,
reports per-layer metrics, checks that the layers' self times add up to
the measured wall within 10% (``trace.reconciled``), records the
overhead (traced minus untraced median tail-cycle or pass wall, against
the latest untraced run of the same workload and seed on the same
source files; 0 with a note if there is none), and writes every span to
``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T_PROC = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import host  # noqa: E402
from spans import Tracer, self_time_by_name  # noqa: E402
from stats import median  # noqa: E402

WORKLOADS = ("cdc", "batch_mix")
RECONCILE_TOLERANCE = 0.10
CALIB_DRIFT = 0.5  # flag a run whose probe moved by more than this share
GLUE_SPANS = ("measure", "cycle", "pass")  # the benchmark's own loop code

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "host.peak_rss_mb": "MB",
    "bayeux.polls": "count",
    "bayeux.events": "count",
    "bayeux.events_per_poll": "count",
    "bayeux.drain_s": "s",
    "bayeux.landed_bytes": "bytes",
    "bayeux.reconnects": "count",
    "stream.triggers": "count",
    "stream.empty_triggers": "count",
    "stream.planning_s": "s",
    "stream.offset_s": "s",
    "stream.wal_commit_s": "s",
    "stream.input_rows": "count",
    "stream.trigger_s": "s",
    "stream.add_batch_s": "s",
    "stream.state_rows": "count",
    "stream.state_bytes": "bytes",
    "stream.state_commit_s": "s",
    "merge.upserts": "count",
    "merge.empty_upserts": "count",
    "merge.upsert_s": "s",
    "merge.epochs": "count",
    "merge.useful_epoch_ratio": "ratio",
    "merge.state_rows": "count",
    "merge.bytes_written": "bytes",
    "merge.write_amplification": "ratio",
    "cdc.generator_lag_s": "s",
    "cdc.backlog_end": "count",
    "cdc.events_per_s": "1/s",
    "cdc.catchup_s": "s",
    "cdc.freshness_p50_s": "s",
    "cdc.freshness_p90_s": "s",
    "query.pass_s": "s",
    "query.build_s": "s",
    "query.plan_s": "s",
    "query.driver_only_s": "s",
    "query.jobs": "count",
    "query.stages": "count",
    "query.tasks": "count",
    "query.exec_s": "s",
    "query.executor_run_s": "s",
    "query.executor_cpu_s": "s",
    "query.gc_s": "s",
    "query.shuffle_read_bytes": "bytes",
    "query.shuffle_write_bytes": "bytes",
    "query.spill_bytes": "bytes",
    "query.scheduler_delay_s": "s",
    "host.calib_cpu_s": "s",
    "host.calib_spark_s": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_share": "ratio",
    "trace.reconciled": "bool",
}


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - T_PROC:.1f}s] {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one benchmark run, shared with the lane."""

    def __init__(self, a: argparse.Namespace):
        self.workload, self.seed, self.seconds = a.workload, a.seed, a.seconds
        self.tracer = Tracer(enabled=bool(a.trace))
        state = os.path.join(ROOT, ".perfbench")
        self.work = os.path.join(state, f"run-{os.getpid()}")
        self.trace_dir = os.path.join(state, "traces")
        self.untraced_report = os.path.join(state, f"untraced-{a.workload}.json")
        self.layer: dict[str, float] = {k: 0 for k in LAYER_UNITS}
        self.trace_extra: dict = {}
        self.attempted = self.failed = 0
        self.latency_p50 = 0.0
        self.unit_walls: list[float] = []
        self.throughput = 0.0
        self.spark = None
        self._closers: list = []

    def note(self, msg: str) -> None:
        log(msg)
        self.trace_extra.setdefault("notes", []).append(msg)

    def on_close(self, fn) -> None:
        self._closers.append(fn)

    def close(self) -> None:
        for fn in reversed(self._closers):
            fn()
        self._closers = []


def _lane(run: Run):
    if run.workload == "cdc":
        from lanes_cdc import CdcLane

        return CdcLane(run)
    from lanes_batch import BatchLane

    return BatchLane(run)


def _jvm_env(run: Run, event_log: str | None) -> None:
    """Keep the JVM's scratch files inside the run dir; optionally turn
    the event log on. Must run before the JVM starts."""
    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    args = f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
    if event_log:
        import eventlog

        os.makedirs(event_log, exist_ok=True)
        args += " " + eventlog.conf_args(event_log)
    os.environ["PYSPARK_SUBMIT_ARGS"] = args + " pyspark-shell"


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def execute(run: Run, trace: bool) -> None:
    """Set up, measure, check. Fills ``run``."""
    from sfdc_cdc_aws_spark.session import get_session

    tracer = run.tracer
    event_log = os.path.join(run.work, "eventlog") if trace else None
    _jvm_env(run, event_log)
    lane = _lane(run)
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        run.spark = get_session("perfbench", cpus=len(os.sched_getaffinity(0)))
        run.on_close(lambda: _stop_spark(run.spark))
        rss = host.RssSampler(os.getpid()).start()
        run.spark.range(1).collect()
    run.layer["session.start_s"] = time.perf_counter() - t0
    session_s = time.perf_counter() - T_PROC
    lane.prepare_inputs()
    t0 = time.perf_counter()
    with tracer.span("setup.ready"):
        lane.ready()
    ready_s = time.perf_counter() - t0
    run.setup_s = session_s + ready_s
    log(f"setup {run.setup_s:.3f}s (session {session_s:.3f}s, ready {ready_s:.3f}s)")

    calib0 = (host.calib_cpu_s(), host.calib_spark_s(run.spark))
    t_measure = time.time()
    log("measuring")
    lane.measure()
    t_measure_end = time.time()
    log("measured")
    calib1 = (host.calib_cpu_s(), host.calib_spark_s(run.spark))
    run.layer["host.peak_rss_mb"] = rss.stop()
    run.trace_extra["rss_at_peak_mb"] = rss.at_peak
    log(f"rss at peak: {rss.at_peak}")
    lane.finish()
    log("outputs checked")
    run.layer["host.calib_cpu_s"] = (calib0[0] + calib1[0]) / 2
    run.layer["host.calib_spark_s"] = (calib0[1] + calib1[1]) / 2
    run.trace_extra["host"] = {"start": calib0, "end": calib1}
    for i, name in enumerate(("cpu", "spark")):
        if abs(calib1[i] / calib0[i] - 1) > CALIB_DRIFT:
            run.note(f"host drift: {name} probe moved {calib0[i]:.4f}s -> {calib1[i]:.4f}s")
    run.close()
    if trace:
        _stage_layers(run, lane, event_log, t_measure, t_measure_end)


def _stage_layers(run: Run, lane, event_log: str, t0: float, t1: float) -> None:
    import eventlog

    stages, jobs = eventlog.read_stages(event_log)
    w = eventlog.window(stages, jobs, t0, t1)
    L = run.layer
    L["query.jobs"], L["query.stages"], L["query.tasks"] = w["jobs"], w["stages"], w["tasks"]
    L["query.exec_s"] = w["stage_wall_s"]
    L["query.executor_run_s"] = w["run_s"]
    L["query.executor_cpu_s"] = w["cpu_s"]
    L["query.gc_s"] = w["gc_s"]
    L["query.shuffle_read_bytes"] = w["shuffle_read_bytes"]
    L["query.shuffle_write_bytes"] = w["shuffle_write_bytes"]
    L["query.spill_bytes"] = w["spill_bytes"]
    L["query.scheduler_delay_s"] = w["sched_delay_s"]
    if hasattr(lane, "stage_metrics"):
        lane.stage_metrics(stages, jobs)


def _reconcile(run: Run) -> None:
    """Layer self times inside the measured window must add up to its
    wall: the part left to the benchmark's own loop code is reported,
    and flagged above RECONCILE_TOLERANCE."""
    spans = run.tracer.spans
    measure = next(s for s in spans if s["name"] == "measure")
    ids = {measure["id"]}
    for s in sorted(spans, key=lambda s: s["t0"]):
        if s["parent"] in ids:
            ids.add(s["id"])
    inside = [s for s in spans if s["id"] in ids]
    by_name = self_time_by_name(inside)
    wall = measure["t1"] - measure["t0"]
    glue = sum(v for k, v in by_name.items() if k in GLUE_SPANS)
    share = glue / wall
    run.layer["trace.unattributed_share"] = share
    run.layer["trace.reconciled"] = int(share <= RECONCILE_TOLERANCE)
    run.trace_extra["self_time_s"] = by_name
    run.trace_extra["measure_wall_s"] = wall
    if share > RECONCILE_TOLERANCE:
        run.note(f"layer self times leave {share:.1%} of the {wall:.2f}s window unattributed")


def source_fingerprint() -> str:
    """Hash of the engine's and the benchmark's Python sources, so an
    untraced baseline is only used for the code it measured."""
    h = hashlib.sha1()
    for top in ("sfdc_cdc_aws_spark", "perfbench"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, top))):
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def _untraced_baseline(path: str, seed: int, fingerprint: str) -> dict | None:
    """The latest untraced run of this workload, if it ran the same seed
    on the same sources (a child run here would double a traced run's
    wall)."""
    try:
        with open(path) as f:
            base = json.load(f)
    except FileNotFoundError:
        return None
    if base.get("seed") != seed or base.get("fingerprint") != fingerprint:
        return None
    return base


def _metrics(names: dict[str, str], values: dict[str, float]) -> dict:
    return {k: {"value": values[k], "unit": u} for k, u in names.items()}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="spark-graft benchmark: one workload per process")
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    import sfdc_cdc_aws_spark.session  # noqa: F401 — fail fast outside a checkout

    run = Run(a)
    os.makedirs(run.work, exist_ok=True)
    fingerprint = source_fingerprint()
    baseline = _untraced_baseline(run.untraced_report, a.seed, fingerprint) if a.trace else None
    try:
        execute(run, bool(a.trace))
    finally:
        run.close()
        shutil.rmtree(run.work, ignore_errors=True)

    e2e = {
        "setup_s": run.setup_s,
        "throughput_per_s": run.throughput,
        "latency_p50_s": run.latency_p50,
    }
    L = run.layer
    for k, v in e2e.items():
        log(f"{k} = {v:.6g} {E2E_UNITS[k]}")
    log(f"error_rate = {run.failed / max(1, run.attempted):.6g} ({run.failed}/{run.attempted})")

    if not a.trace:
        with open(run.untraced_report, "w") as f:
            json.dump({"seed": a.seed, "fingerprint": fingerprint,
                       "unit_walls": run.unit_walls, "e2e": e2e}, f)
        metrics = _metrics(E2E_UNITS, e2e)
    else:
        _reconcile(run)
        if baseline is None:
            run.note("no untraced run of this workload and seed on these sources: "
                     "trace.overhead_s left 0")
        else:
            L["trace.overhead_s"] = median(run.unit_walls) - median(baseline["unit_walls"])
        os.makedirs(run.trace_dir, exist_ok=True)
        path = os.path.join(run.trace_dir, f"{a.workload}-seed{a.seed}.json")
        run.tracer.write(path, {"workload": a.workload, "seed": a.seed, "layer": L,
                                "untraced": baseline, **run.trace_extra})
        for k in LAYER_UNITS:
            log(f"{k} = {L[k]:.6g} {LAYER_UNITS[k]}")
        log(f"trace written to {os.path.relpath(path, ROOT)}")
        metrics = _metrics(LAYER_UNITS, L)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
