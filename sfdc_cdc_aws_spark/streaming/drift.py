"""Mid-stream payload schema drift, end to end (SURVEY.md §1.3).

The CDC reality: the source object grows a field whenever an admin
adds one, so the sparse changed-field payload (``payload.fields``, a
map in the generic engine — cdc_feed.py ENVELOPE_SCHEMA) can gain
keys BETWEEN micro-batches of a running stream.  The reference
handles this with runtime ``describe()`` introspection per event
(app.py:115-118); the Spark-first analog:

- the WIRE schema is stable (a map absorbs new keys with no reader
  change — old epochs of the landing dir stay readable forever);
- each micro-batch does RUNTIME field discovery — the distinct map
  keys actually present in the batch, a metadata-scale aggregate
  (bounded by the entity's field count, never by row count) —
  and pivots the map into real columns for that batch;
- the incremental-merge state then widens ADDITIVELY
  (``IncrementalSnapshot`` unions with ``allowMissingColumns`` and
  rejects column drops): pre-drift keys carry NULL in the new
  column, post-drift rows carry values, and previously published
  epochs remain byte-identical and readable.

Scale posture: the only driver-side data is the distinct key list of
the fields map (one small collect per micro-batch); the pivot itself
is a narrow per-row projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sfdc_cdc_aws_spark.sources.cdc_feed import ENVELOPE_SCHEMA
from sfdc_cdc_aws_spark.streaming.job import drain

#: columns every parsed change row carries regardless of payload drift
BASE_COLS = (
    "entity_name",
    "uid",
    "record_id",
    "change_type",
    "commit_ts_ms",
    "replay_id",
)


def parse_wire_fields(df: DataFrame) -> DataFrame:
    """Wire records → flat change feed WITH the sparse payload map
    (the drift-carrying sibling of :func:`streaming.job.parse_wire`,
    same lenient decode)."""
    env = F.from_json(
        F.expr("try_to_binary(data, 'base64')").cast("string"), ENVELOPE_SCHEMA
    )
    h = env["payload"]["ChangeEventHeader"]
    return (
        df.select(
            h["entityName"].alias("entity_name"),
            h["changeType"].alias("change_type"),
            h["commitTimestamp"].alias("commit_ts_ms"),
            env["event"]["replayId"].alias("replay_id"),
            env["payload"]["fields"].alias("fields"),
            F.explode(h["recordIds"]).alias("record_id"),
        )
        .withColumn("uid", F.substring("record_id", 4, 15).cast("bigint"))
        .withColumn("commit_ts", F.timestamp_millis(F.col("commit_ts_ms")))
    )


def discovered_field_keys(batch_df: DataFrame) -> list[str]:
    """Runtime schema introspection for one micro-batch: the distinct
    payload field names present (the describe() analog, app.py:115-118).
    Metadata-scale: the result is bounded by the entity's field count."""
    rows = (
        batch_df.select(F.explode(F.map_keys("fields")).alias("k"))
        .distinct()
        .collect()
    )
    return sorted(r["k"] for r in rows)


def widen_payload(batch_df: DataFrame, keys: list[str]) -> DataFrame:
    """Pivot the sparse fields map into real columns for this batch —
    a narrow projection; keys absent on a given row become NULL."""
    return batch_df.select(
        *BASE_COLS, *[F.col("fields")[k].alias(k) for k in keys]
    )


def attach_with_drift(snap, change_stream: DataFrame, checkpoint: str):
    """Maintain an IncrementalSnapshot from a drift-capable change
    stream: per micro-batch, discover the payload fields present,
    widen the map into columns, and merge — the state schema then
    evolves additively exactly when the feed does."""

    # STICKY projection: once a field is known to the state, every
    # later batch keeps projecting it (NULL where absent). Without
    # this, a batch that happens to contain only pre-drift events
    # AFTER the drift was merged would look like a column DROP and
    # be rejected by the additive-only audit — micro-batch order
    # from a file source is not replay order, and correctness must
    # not depend on where batch boundaries fell. Seeded from the
    # existing state once (resume case), then maintained in memory.
    known: set[str] = set()
    if snap.exists():
        known |= set(snap.read().columns) - set(BASE_COLS)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        known.update(discovered_field_keys(batch_df))
        snap.upsert(widen_payload(batch_df, sorted(known)), epoch_id)

    # the same drain discipline as IncrementalSnapshot.attach
    return drain(
        change_stream, checkpoint, lambda w: w.foreachBatch(write_batch), no_data_batch=False
    )
