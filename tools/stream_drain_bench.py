"""Warm-drain split for the flagship incremental pipeline.

The per-round bench (bench.py) charges every streaming query its FULL
cost — fresh checkpoint, whole feed replayed — because that is the
reproducible single-number methodology. But the number a production
operator actually lives on is the STEADY STATE: the job has already
consumed months of history; what does the NEXT increment cost? This
tool measures exactly that split for `cdc_incremental_merge`
(changes_stream -> foreachBatch MERGE via IncrementalSnapshot):

- COLD: drain a PREFIX of the landing feed (all but the last
  ``tail_files`` wire files) from a fresh checkpoint — the
  full-history bootstrap a new deployment pays once.
- WARM: copy the tail files into the landing dir and re-attach with
  the SAME checkpoint + persisted state. Structured Streaming's file
  source resumes from its checkpointed file log, so this drain
  processes ONLY the delta — the steady-state increment.

After the warm drain the persisted state must equal the one-shot
batch flagship over the WHOLE feed (`cdc_latest_snapshot`) — the
split is only meaningful if warm-resume loses nothing. The tool
asserts that parity (exceptAll both ways == empty) before reporting.

Output: one JSON line to stdout and STREAM_DRAIN.json at the repo
root with cold/warm wall seconds, change counts on each side, and the
implied changes/s for both regimes.

Reference parity: the reference's steady state is the Kinesis->Lambda
tail (worker/template.yaml:59-60, <=50 records/s provisioned); this
measures the same tail-following regime on Spark.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession

TAIL_FILES = 2  # of the 16 range-partitioned wire files


def _wire_files(landing: str) -> list[str]:
    """The feed's data files in replayId-range (commit) order —
    ensure_landing writes part files whose lexicographic order IS the
    replay order (repartitionByRange + sortWithinPartitions)."""
    return sorted(
        f for f in glob.glob(os.path.join(landing, "part-*")) if not f.endswith(".crc")
    )


def run(spark: SparkSession, sf_dir: str, tail_files: int = TAIL_FILES) -> dict:
    from pyspark.sql import functions as F

    from sfdc_cdc_aws_spark.operators.pipeline import cdc_latest_snapshot
    from sfdc_cdc_aws_spark.streaming.job import (
        WIRE_SCHEMA,
        changes_stream,
        ensure_landing,
        parse_wire,
    )
    from sfdc_cdc_aws_spark.streaming.merge import IncrementalSnapshot

    full_landing = ensure_landing(spark, sf_dir)
    files = _wire_files(full_landing)
    if len(files) <= tail_files:
        raise ValueError(f"feed has {len(files)} files, need > {tail_files}")
    prefix, tail = files[:-tail_files], files[-tail_files:]

    scratch = f"/tmp/sfdc_drain_bench/{uuid.uuid4().hex[:8]}"
    landing = os.path.join(scratch, "landing")
    os.makedirs(landing)
    for f in prefix:
        shutil.copy(f, landing)

    def _parsed_count(paths: list[str]) -> int:
        return parse_wire(spark.read.schema(WIRE_SCHEMA).json(paths)).count()

    prefix_changes = _parsed_count(prefix)
    delta_changes = _parsed_count(tail)

    snap = IncrementalSnapshot(spark, os.path.join(scratch, "state"))
    ckpt = os.path.join(scratch, "ckpt")

    def drain() -> float:
        ch = changes_stream(spark, landing, max_files_per_trigger=8).select(
            "entity_name", "uid", "record_id", "change_type", "commit_ts_ms", "replay_id"
        )
        t0 = time.perf_counter()
        snap.attach(ch, ckpt).awaitTermination()
        return time.perf_counter() - t0

    cold_s = drain()
    # published epochs, not retained ones: keep_epochs caps epochs()
    epochs_cold = snap._read_manifest()["epoch"] + 1

    for f in tail:
        shutil.copy(f, landing)
    warm_s = drain()

    # Parity: warm-resumed state over the whole feed == batch flagship.
    got = snap.current().select(
        "entity_name", "record_id", F.col("change_type").alias("uind"), "commit_ts_ms"
    )
    want = cdc_latest_snapshot(spark, sf_dir)
    missing = want.exceptAll(got).count()
    extra = got.exceptAll(want).count()
    parity = missing == 0 and extra == 0

    result = {
        "metric": "stream_drain_split",
        "sf_dir": sf_dir,
        "prefix_files": len(prefix),
        "delta_files": len(tail),
        "prefix_changes": prefix_changes,
        "delta_changes": delta_changes,
        "cold_s": round(cold_s, 3),
        "warm_s": round(warm_s, 3),
        "cold_changes_per_s": round(prefix_changes / cold_s, 1),
        "warm_changes_per_s": round(delta_changes / warm_s, 1),
        "epochs_cold": epochs_cold,
        "state_rows": got.count(),
        "parity_with_batch_flagship": parity,
        "parity_missing": missing,
        "parity_extra": extra,
    }
    shutil.rmtree(scratch, ignore_errors=True)
    if not parity:
        raise AssertionError(f"warm-resume parity failed: {result}")
    return result


def main() -> None:
    from sfdc_cdc_aws_spark.session import get_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("stream_drain_bench")
    # one throwaway tiny run so JVM/Python-worker/state-store init
    # isn't billed to the measured cold drain
    run(spark, "/root/testdata/sf0.001")
    result = run(spark, sf_dir)
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "STREAM_DRAIN.json"
    )
    with open(out, "w") as f:
        json.dump(result, f, separators=(",", ":"))
        f.write("\n")
    print(json.dumps(result, separators=(",", ":")))
    print(f"wrote {out}", file=sys.stderr)


if __name__ == "__main__":
    main()
