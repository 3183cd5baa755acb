"""Batch-backfill → streaming-live handoff across a replay seam.

The production pattern the reference's replay machinery exists for
(ReplayExtension.java:38-82, EmpConnector.java:187-302 — resubscribe
from a recorded replayId; sources/bayeux.py:48-49 mirrors the
REPLAY_FROM_EARLIEST/TIP constants): history up to a recorded offset
is backfilled as a BATCH job (cheap, restartable, no state stores),
the live tail is consumed as a STREAM from that offset, and the
serving layer merges the two partial results.  The correctness
obligation is the seam itself — no change may be lost (gap) or
counted twice (overlap) at the boundary — which the oracle enforces
by computing the same per-record aggregate over the WHOLE feed in one
pass: any off-by-one in the boundary predicates (``<= cut`` vs
``> cut``) breaks ``n_changes`` immediately.

Spark-first shape: both halves share :func:`parse_wire` (the single
decode→parse→explode definition, batch or streaming), each half
reduces to a per-record partial aggregate INDEPENDENTLY (map-side
combinable; the backfill can run on a throwaway cluster), and the
merge is a second tiny aggregate over the union of partials — the
classic reaggregatable-summary design, so at 100 TB the handoff
never re-reads history: the stream side processes only the tail, and
the merge shuffles |records| partial rows, not |changes| events.
The seam offset is ONE scalar (max replay // 2 here, standing in for
the recorded checkpoint offset) — the same bounded steering-scalar
class as the CC convergence sum.  The live-side replay filter sits
BEFORE the watermark+dropDuplicates, so dedup state covers only the
tail, not the replayed history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sfdc_cdc_aws_spark.registry import query
from sfdc_cdc_aws_spark.sources.cdc_feed import CHANGES_CTE
from sfdc_cdc_aws_spark.streaming.job import (
    REPLAY_DEDUP_HORIZON,
    WIRE_SCHEMA,
    ensure_landing,
    parse_wire,
    run_available_now,
)


def _partial(changes: DataFrame, side: str) -> DataFrame:
    """Per-record partial aggregate of one side of the seam —
    reaggregatable: counts sum, latest-change merges by max replay.
    ``side`` tags which half produced the partial so the merge can
    keep the per-side counts visible in the output."""
    return changes.groupBy("record_id").agg(
        F.count("*").cast("bigint").alias("n_changes"),
        F.max("replay_id").alias("last_replay"),
        F.max_by("change_type", "replay_id").alias("last_change_type"),
        F.lit(side).alias("side"),
    )


@query(
    "stream_backfill_handoff",
    oracle=f"""
WITH {CHANGES_CTE},
cut AS (SELECT max(replay_id) // 2 AS r FROM changes)
SELECT record_id,
       CAST(count(*) AS BIGINT) AS n_changes,
       CAST(count(*) FILTER (WHERE replay_id <= (SELECT r FROM cut))
            AS BIGINT) AS n_backfill,
       CAST(count(*) FILTER (WHERE replay_id > (SELECT r FROM cut))
            AS BIGINT) AS n_live,
       max(replay_id) AS last_replay,
       arg_max(change_type, replay_id) AS last_change_type
FROM changes
GROUP BY record_id
""",
)
def stream_backfill_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill the feed up to a recorded replay offset as a batch
    job, stream the tail from that offset, merge the per-record
    partials — and the merged result must equal the one-pass
    full-history oracle exactly (see module docstring for why the
    seam predicates are the thing under test).  ``n_backfill`` /
    ``n_live`` keep the per-side contribution visible in the output —
    the handoff audit a real migration runs — and any boundary
    off-by-one shifts a change from one column to the other (or drops
    or doubles it) before it can hide in the total."""
    landing = ensure_landing(spark, sf_dir)
    wire = spark.read.schema(WIRE_SCHEMA).json(landing)
    full = parse_wire(wire)
    # the recorded handoff offset: one scalar, bounded by construction
    cut = int(full.agg(F.max("replay_id")).first()[0]) // 2

    backfill = _partial(
        full.where(F.col("replay_id") <= cut).dropDuplicates(
            ["replay_id", "record_id"]
        ),
        "backfill",
    )

    tail = (
        parse_wire(
            spark.readStream.schema(WIRE_SCHEMA)
            .option("maxFilesPerTrigger", 4)
            .json(landing)
        )
        # replay filter BEFORE the stateful dedup: state covers the
        # tail only, never the already-backfilled history
        .where(F.col("replay_id") > cut)
        .withWatermark("commit_ts", REPLAY_DEDUP_HORIZON)
        .dropDuplicates(["replay_id", "record_id"])
        .select("record_id", "replay_id", "change_type")
    )
    # dedup emits on first arrival — the trailing zero-row batch only
    # evicts state, so skip it
    live = _partial(
        run_available_now(
            tail,
            "backfill_live",
            no_data_batch=False,
        ),
        "live",
    )

    side_sum = lambda s: F.sum(  # noqa: E731
        F.when(F.col("side") == s, F.col("n_changes")).otherwise(F.lit(0))
    ).cast("bigint")
    return (
        backfill.unionByName(live)
        .groupBy("record_id")
        .agg(
            F.sum("n_changes").cast("bigint").alias("n_changes"),
            side_sum("backfill").alias("n_backfill"),
            side_sum("live").alias("n_live"),
            F.max("last_replay").alias("last_replay"),
            F.max_by("last_change_type", "last_replay").alias("last_change_type"),
        )
    )
