"""The batch lane: one client, a closed loop of whole passes over a
frozen key list.

Each key run is three timed calls into the engine: the registry's
query builder, ``executedPlan`` on the built DataFrame, then the noop
write that executes the plan. Passes repeat until the measured window
has elapsed, and at least MIN_PASSES times; every pass runs the whole
list in the same fixed order, so every run measures the same work.
``latency_p50_s`` is a typical pass: the sum over the keys of each
key's median wall, the time a client waits for the whole list. Summing
per-key medians keeps one slow key run from moving it, as it would a
single pass wall, and covers every key, unlike the median over all key
runs, which is one driver-bound key's 0.2-0.7 s and moved 25% between
runs on a shared host. Throughput is key runs ÷ the summed wall of the
measured passes.

Set-up ends with WARM_PASSES untimed passes: key walls fall by a third
over the first three passes of a fresh JVM (JIT of the planner and
codegen paths) and are flat after, so a window that started at the
first pass would measure how fast the host warms the JVM up.

The lane reads seeded synthetic tables (``data.py``) at BATCH_SF. No
listed key reads an ``ensure_*`` materialization, so a run builds none
and writes nothing outside its checkout.
"""

from __future__ import annotations

import os
import time

from stats import median

BATCH_SF = 0.01
MIN_PASSES = 3
WARM_PASSES = 2  # the first collects the outputs the oracle check reads

# Driver-bound keys: each ran in 0.25-0.9 s at BATCH_SF on a 4-core
# host, a few jobs of a few tasks, so building, planning and job
# submission on the driver dominate and the shingle kernel does no work.
# The list has seven keys in all: with an odd count the median key run
# falls inside one key's runs, not in the gap between two keys' walls.
DRIVER_KEYS = (
    "cdc_latest_snapshot",
    "exact_dedup_docs",
    "leakage_safe_split",
    "tpch_q3_shipping",
    "regexp_suite",
)

# CPU-bound keys: their executors run the interpreted shingle/md5
# kernel (0.9-2 s each at BATCH_SF).
CPU_KEYS = (
    "contamination_check",
    "dup_span_coverage",
)


class _Collected:
    """An already-collected result in the shape ``oracle.compare`` reads."""

    def __init__(self, frame):
        self._frame = frame

    def toPandas(self):
        return self._frame


class BatchLane:
    def __init__(self, run):
        self.run = run
        self.keys = list(DRIVER_KEYS + CPU_KEYS)
        self.key_runs: list[dict] = []
        self.passes: list[tuple[float, float]] = []

    def prepare_inputs(self) -> None:
        import data

        self.sf_dir = data.write_tables(os.path.join(self.run.work, "tables"), self.run.seed, BATCH_SF)

    def ready(self) -> None:
        """Warm-up passes: build and collect every key once (the collected
        frames are kept for the oracle check after the window), then run
        the measured loop's calls WARM_PASSES - 1 more times, unrecorded."""
        from sfdc_cdc_aws_spark.registry import load_all

        specs = load_all()
        self.outputs: dict[str, object] = {}
        for key in self.keys:
            try:
                self.outputs[key] = specs[key].fn(self.run.spark, self.sf_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 — reported by the check
                self.outputs[key] = exc
        for _ in range(WARM_PASSES - 1):
            for key in self.keys:
                specs[key].fn(self.run.spark, self.sf_dir).write.format("noop").mode("overwrite").save()

    def measure(self) -> None:
        from sfdc_cdc_aws_spark.registry import load_all

        specs = load_all()
        run, tracer, spark = self.run, self.run.tracer, self.run.spark
        t_start = time.time()
        with tracer.span("measure"):
            while len(self.passes) < MIN_PASSES or time.time() - t_start < run.seconds:
                p0 = time.time()
                with tracer.span("pass"):
                    for key in self.keys:
                        self._run_key(specs[key].fn, key, spark, tracer)
                self.passes.append((p0, time.time()))

    def _run_key(self, fn, key, spark, tracer) -> None:
        t0 = time.time()
        with tracer.span("query.key", key=key):
            with tracer.span("query.build"):
                df = fn(spark, self.sf_dir)
            t1 = time.time()
            with tracer.span("query.plan"):
                df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            with tracer.span("query.execute"):
                df.write.format("noop").mode("overwrite").save()
        t3 = time.time()
        self.key_runs.append({"key": key, "t0": t0, "t_build": t1, "t_plan": t2, "t1": t3})

    def finish(self) -> None:
        """Oracle check of each key's warm-up output, outside the timed
        region; a key that raised or mismatched counts as failed."""
        from sfdc_cdc_aws_spark.registry import load_all

        from tests.oracle import compare

        run, specs = self.run, load_all()
        for key in self.keys:
            run.attempted += 1
            out = self.outputs[key]
            try:
                if isinstance(out, Exception):
                    raise out
                compare(_Collected(out), specs[key].oracle, self.sf_dir)
            except Exception as exc:  # noqa: BLE001 — a failed key, not a failed run
                run.failed += 1
                run.note(f"{key}: {type(exc).__name__}: {str(exc)[:200]}")
        walls = {key: median([k["t1"] - k["t0"] for k in self.key_runs if k["key"] == key])
                 for key in self.keys}
        run.note("median key walls: " + ", ".join(f"{k} {v:.3f}s" for k, v in walls.items()))
        run.latency_p50 = sum(walls.values())
        run.unit_walls = [b - a for a, b in self.passes]
        run.throughput = len(self.key_runs) / sum(run.unit_walls)
        L = run.layer
        L["query.pass_s"] = sum(run.unit_walls) / len(self.passes)
        L["query.build_s"] = sum(k["t_build"] - k["t0"] for k in self.key_runs)
        L["query.plan_s"] = sum(k["t_plan"] - k["t_build"] for k in self.key_runs)

    def stage_metrics(self, stages: list[dict], jobs: list[float]) -> None:
        """Per-key stage attribution by time window (keys run one at a
        time); driver-only time is key wall minus the union of the key's
        stage intervals."""
        import eventlog

        per_key = []
        for k in self.key_runs:
            w = eventlog.window(stages, jobs, k["t0"], k["t1"])
            wall = k["t1"] - k["t0"]
            w.update(key=k["key"], wall_s=wall, driver_only_s=wall - w["stage_wall_s"])
            per_key.append(w)
        self.run.trace_extra["per_key"] = per_key
        self.run.layer["query.driver_only_s"] = sum(w["driver_only_s"] for w in per_key)
