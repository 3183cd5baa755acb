"""The CDC pipeline under Structured Streaming.

Reference mapping (SURVEY.md §3.1-3.2): the subscriber's long-poll
loop + Kinesis hop + Lambda micro-batches collapse into one streaming
query —

* landing dir of JSON wire records ≙ the Kinesis stream (one record =
  ``{partitionKey, data(base64 envelope)}``, the exact Lambda input
  shape, fixture event.json:6-8);
* ``readStream`` + checkpoint ≙ ReplayExtension's replayId map
  (ReplayExtension.java:39-82) — offsets persist, resume is automatic;
* ``maxFilesPerTrigger`` ≙ Lambda BatchSize (template.yaml:68);
* watermark + ``dropDuplicates`` ≙ the at-least-once tolerance
  (SURVEY.md §1.5);
* stream-static join against the snapshot ≙ the SOQL enrichment
  (app.py:97-99);
* ``foreachBatch`` parquet sink partitioned by entity ≙ Firehose→S3
  under the entityName partition key (KinesisExample.java:108,
  template.yaml:112).

Batch and streaming share the same parse/transform functions, so the
streaming answers are oracle-checked against the *batch* oracles —
the strongest parity statement the harness can make.

Every streaming query in the package starts in :func:`drain`: the
availableNow trigger, the checkpoint, the byte-derived state width and
the no-data-batch switch, scoped around ``start()``. A harvested drain
(``run_available_now``, ``ingest_dedup.run_verdict_drain``) leaves one
record of one shape, ``DRAINS[name]`` (:func:`record_drain`).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from sfdc_cdc_aws_spark.materialize import materialize
from sfdc_cdc_aws_spark.registry import QUERIES, query
from sfdc_cdc_aws_spark.session import scoped_conf
from sfdc_cdc_aws_spark.sources import load_table
from sfdc_cdc_aws_spark.sources.cdc_feed import ENVELOPE_SCHEMA, envelopes

WIRE_SCHEMA = T.StructType(
    [
        T.StructField("partitionKey", T.StringType()),
        T.StructField("data", T.StringType()),  # base64 of envelope JSON
    ]
)


_NDB = "spark.sql.streaming.noDataMicroBatches.enabled"


def ensure_landing(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the wire-format landing dir for a scale factor: one
    JSON line per CDC event, shaped like a Kinesis record."""

    def build(out: str) -> None:
        # range-partition by replayId into a fixed file count: files
        # arrive in roughly commit order (like a Kinesis shard) and the
        # epoch layout under maxFilesPerTrigger is deterministic
        # instead of tracking whatever the session's parallelism was
        envelopes(spark, sf_dir).repartitionByRange(
            16, F.col("envelope.event.replayId")
        ).sortWithinPartitions(F.col("envelope.event.replayId")).select(
            F.col("partition_key").alias("partitionKey"), F.col("wire").alias("data")
        ).write.json(out)

    return materialize("cdc_landing", sf_dir, ("events",), build)


def parse_wire(df: DataFrame) -> DataFrame:
    """Wire records → flat change feed. Works identically on a static
    or streaming DataFrame — this is the single definition of the
    decode→parse→extract→explode front half of the worker
    (app.py:48-66), shared by both modes.

    Decoding is the lenient ``try_to_binary``: Spark 4's ``unbase64``
    THROWS on malformed base64, so one poison record would kill the
    whole streaming query (the reference has the same failure mode —
    no error handling in app.py:48-62 means Kinesis redelivers the
    poison batch forever). Here a malformed record nulls out and the
    ``explode`` drops it; callers that must account for every record
    route through :func:`split_corrupt` first."""
    env = F.from_json(
        F.expr("try_to_binary(data, 'base64')").cast("string"), ENVELOPE_SCHEMA
    )
    h = env["payload"]["ChangeEventHeader"]
    exploded = df.select(
        h["entityName"].alias("entity_name"),
        h["changeType"].alias("change_type"),
        h["commitTimestamp"].alias("commit_ts_ms"),
        env["event"]["replayId"].alias("replay_id"),
        h["commitNumber"].alias("commit_number"),
        F.explode(h["recordIds"]).alias("record_id"),
    )
    return exploded.withColumn(
        "uid", F.substring("record_id", 4, 15).cast("bigint")
    ).withColumn("commit_ts", F.timestamp_millis(F.col("commit_ts_ms")))


def wire_validity(df: DataFrame) -> tuple:
    """(parsed envelope Column, ok-predicate Column) for a wire frame —
    the ONE definition of "this record is processable" shared by
    :func:`split_corrupt` and any single-pass accounting over the
    same condition (operators/pipeline.py `dead_letter_report`)."""
    env = F.from_json(
        F.expr("try_to_binary(data, 'base64')").cast("string"), ENVELOPE_SCHEMA
    )
    ok = (
        env.isNotNull()
        & env["event"]["replayId"].isNotNull()
        & (F.size(env["payload"]["ChangeEventHeader"]["recordIds"]) > 0)
    )
    return env, ok


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(parsed-able, dead_letter): wire records whose envelope fails
    base64/JSON decoding or lacks the fields the pipeline keys on
    (recordIds, replayId) are quarantined with their raw payload
    intact instead of vanishing. Without this, ``parse_wire``'s
    ``explode(recordIds)`` silently drops any record ``from_json``
    nulled out — and the reference is worse: app.py:48-62 has no error
    handling at all, so one poison record fails the whole Lambda batch
    and Kinesis redelivers it forever. Route the dead-letter side to
    its own sink and alert on its rate."""
    _env, ok = wire_validity(df)
    flagged = df.withColumn("_env_ok", ok)
    return (
        flagged.where(F.col("_env_ok")).drop("_env_ok"),
        flagged.where(~F.coalesce(F.col("_env_ok"), F.lit(False))).drop("_env_ok"),
    )


PROD_DEDUP_HORIZON = "24 hours"  # ≙ Kinesis retention, subscriber.yaml:39-40
REPLAY_DEDUP_HORIZON = "3650 days"  # historical replay: nothing is "late"


def changes_stream(
    spark: SparkSession,
    landing: str,
    max_files_per_trigger: int | None = None,
    dedup_horizon: str = REPLAY_DEDUP_HORIZON,
) -> DataFrame:
    """The streaming change feed: readStream over the landing dir,
    watermarked and deduped on the natural event identity.

    ``dedup_horizon`` is the watermark delay bounding the dedup state.
    It must cover the stream's event-time DISORDER as seen by the
    query: a tail-following production job passes
    ``PROD_DEDUP_HORIZON`` (duplicates can only arrive within the bus
    retention window), but a historical replay chopped into
    micro-batches spans months of event time — any finite horizon
    would silently drop genuinely-old events as "late" once an earlier
    epoch advanced the watermark (a bug this engine hit at 16 epochs:
    correctness must never depend on how the file source chops the
    backlog). Replays therefore default to an effectively-unbounded
    horizon; dedup state then grows with the replay, which is fine —
    it is bounded by the replayed feed itself."""
    reader = spark.readStream.schema(WIRE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    wire = reader.json(landing)
    return (
        parse_wire(wire)
        .withWatermark("commit_ts", dedup_horizon)
        .dropDuplicates(["replay_id", "record_id"])
    )


def enriched_union(ch: DataFrame, snapshot: DataFrame) -> DataFrame:
    """Back half of the worker: DELETE tombstones ∪ enriched upserts
    (app.py:77-94 vs :96-109). ``ch`` may be batch or streaming; the
    snapshot side is static → Spark plans a stream-static broadcast
    join, re-read per micro-batch."""
    tombstones = ch.where(F.col("change_type") == "DELETE").select(
        F.col("record_id").alias("id"),
        F.col("entity_name").alias("type"),
        F.lit("DELETE").alias("uind"),
        "replay_id",
    )
    upserts = (
        ch.where(F.col("change_type") != "DELETE")
        .join(snapshot, F.col("uid") == snapshot["c_custkey"], "inner")
        .select(
            F.col("record_id").alias("id"),
            F.col("entity_name").alias("type"),
            F.col("change_type").alias("uind"),
            "replay_id",
            "c_name",
            "c_acctbal",
        )
    )
    return tombstones.unionByName(upserts, allowMissingColumns=True)


#: bytes of landing input per state partition when sizing a drain's
#: stateful-shuffle width (drain_state_width); the local value keeps
#: small replays narrow. Chosen from an interleaved best-of-3 width
#: sweep over five drain shapes at sf0.1 (single-batch dedup, windowed
#: aggs, stream-stream joins): the 68 MB landing → width 3 was best or
#: tied on every shape (width 1 serializes the per-row state updates
#: of the single-batch drains; the old fixed 8 pays 8 store commits
#: per operator per trigger for KB-scale stores).
_STATE_BYTES_PER_PART = 32 << 20


def drain_state_width(spark: SparkSession, landing: str) -> int:
    """Stateful-shuffle width for an availableNow drain whose stream
    reads ``landing``: one state partition per _STATE_BYTES_PER_PART
    of landing bytes, capped at the session's parallelism, floor 1.

    Every stateful operator keeps one state store per shuffle
    partition per micro-batch, and each store pays a fixed
    commit/maintenance cost per trigger regardless of how little
    state it holds — measured on `cdc_stream_outer_join` at sf0.1:
    12.8 s of summed commitTimeMs across the stores of the previous
    fixed 8-way width for ~34k state rows (7 MB), and the same drain
    at width 1 ran 3.4× faster with an identical result set (guide
    §2.2/§5: fewer, larger state partitions). The width must track
    state volume, not the session's scan parallelism; landing bytes
    are the scale-adaptive upper proxy for keys-in-watermark (state
    grows with the feed), so a small replay drains narrow while a
    100 TB feed still spreads across the cluster."""
    total = 0
    for dirpath, _dirs, files in os.walk(landing):
        for fname in files:
            if fname.startswith(("_", ".")):
                continue
            try:
                total += os.path.getsize(os.path.join(dirpath, fname))
            except OSError:
                pass
    par = spark.sparkContext.defaultParallelism
    return max(1, min(par, total // _STATE_BYTES_PER_PART + 1))


def stream_landing(stream: DataFrame) -> str | None:
    """The directory a file-source stream reads: the ``path`` option
    of the first ``StreamingRelation`` leaf of its logical plan, when
    that path is a directory. None for a stream with no file-source
    leaf (a Bayeux source, or a bare ``readStream`` whose leaf is not
    resolved yet) or whose path is a glob (the verdict drains'
    ``landing/b*``): no width can be sized from any of these."""
    leaves = stream._jdf.queryExecution().logical().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "StreamingRelation":
            continue
        path = leaf.dataSource().options().get("path")
        if path.isDefined():
            return path.get() if os.path.isdir(path.get()) else None
    return None


def drain(
    stream: DataFrame,
    checkpoint: str | None,
    sink: Callable[[DataStreamWriter], DataStreamWriter],
    no_data_batch: bool = True,
) -> StreamingQuery:
    """The package's one ``writeStream...start()``: start an
    availableNow drain of ``stream`` into the writer ``sink``
    configures (``lambda w: w.foreachBatch(fold)``, a memory sink, a
    format plus a path) and return the started query, un-awaited.
    ``checkpoint`` is its ``checkpointLocation`` (None: Spark's
    temporary one).

    - **State width.** Every stateful operator (dropDuplicates,
      windowed agg, stream-stream join) keeps one state store per
      shuffle partition per micro-batch, so the width is
      ``drain_state_width`` over the landing the stream reads
      (``stream_landing``), not the session's scan parallelism. It is
      set only while ``checkpoint`` has no ``offsets`` dir: from then
      on Spark restores it from the offset log on every restart
      (state stores cannot be re-partitioned), so a resume does not
      walk the landing. A stream without a directory landing keeps
      the session width.
    - **No-data batch.** After the last data batch a stateful
      availableNow drain runs one extra zero-row micro-batch so
      watermark-gated output (outer-join unmatched rows, append-mode
      window closes) can emit — a full trigger (planning + state-store
      commit across every partition; measured 0.7-1.8 s per drain at
      sf0.1). ``no_data_batch=False`` turns it off
      (``spark.sql.streaming.noDataMicroBatches``) for drains whose
      rows all emit ON ARRIVAL (the dropDuplicates family, inner
      stream-stream join), whose ``complete``-mode sink already
      re-emits the full state each data batch, or whose sink merges
      only the rows a batch delivers. Anything watermark-gated
      (``cdc_stream_outer_join``) keeps the default True.

    The confs are scoped around ``start()`` only: the query clones the
    session when it is constructed, so both are pinned by the time
    ``start()`` returns and the caller's session is restored at once,
    on the failure path too."""
    spark = stream.sparkSession
    confs = {} if no_data_batch else {_NDB: "false"}
    if checkpoint is None or not os.path.isdir(os.path.join(checkpoint, "offsets")):
        landing = stream_landing(stream)
        if landing is not None:
            confs["spark.sql.shuffle.partitions"] = str(drain_state_width(spark, landing))
    writer = sink(stream.writeStream.trigger(availableNow=True))
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    with scoped_conf(spark, confs):
        return writer.start()


#: observability: one record per drain name, assigned whole by
#: :func:`record_drain` when a harvested drain terminates
#: (``run_available_now``, ``ingest_dedup.run_verdict_drain``), so a
#: reader never sees an earlier drain's numbers under the name.
DRAINS: dict[str, dict] = {}


def record_drain(spark: SparkSession, q: StreamingQuery, name: str, **extra) -> None:
    """Harvest a terminated drain's ``recentProgress``, keyed by
    batchId, into ``DRAINS[name]``:

    - ``batches``: the micro-batches the query ran;
    - ``max_state_rows``, ``max_state_bytes``: the largest per-batch
      sum over its state operators; ``shuffle_partitions``: their
      widest store count (all 0 for a stateless drain);
    - ``<observation>.<metric>``: every numeric ``observe()`` metric,
      summed over batches (the quality-gate discipline);
    - then ``extra`` (the verdict drains' ``phases`` and ``fold``).

    ``recentProgress`` is complete once the query has terminated, but
    its buffer is bounded by ``spark.sql.streaming.numRecentProgressUpdates``
    (read live from the caller's session): Spark evicts once the buffer
    reaches that limit, so it keeps at most limit - 1 entries. A full
    buffer may have evicted batches, so this raises rather than
    undercount."""
    progress = [json.loads(p.json) for p in q.recentProgress]
    retention = int(spark.conf.get("spark.sql.streaming.numRecentProgressUpdates"))
    if len(progress) >= retention - 1:
        raise RuntimeError(
            f"drain {name!r} filled its progress buffer "
            f"(numRecentProgressUpdates={retention}): "
            "earlier batches may be evicted, so its record would undercount"
        )
    by_batch = {d["batchId"]: d for d in progress}
    state = [d.get("stateOperators") or [] for d in by_batch.values()]
    totals: dict[str, float] = {}
    for d in by_batch.values():
        for oname, fields in (d.get("observedMetrics") or {}).items():
            for fname, v in fields.items():
                if isinstance(v, (int, float)):
                    key = f"{oname}.{fname}"
                    totals[key] = totals.get(key, 0) + v
    DRAINS[name] = {
        "batches": len(by_batch),
        "max_state_rows": max(
            (sum(o.get("numRowsTotal", 0) for o in ops) for ops in state), default=0
        ),
        "max_state_bytes": max(
            (sum(o.get("memoryUsedBytes", 0) for o in ops) for ops in state), default=0
        ),
        "shuffle_partitions": max(
            (o.get("numShufflePartitions", 0) for ops in state for o in ops), default=0
        ),
        **totals,
        **extra,
    }


def run_available_now(
    stream_df: DataFrame,
    name_prefix: str,
    output_mode: str = "append",
    no_data_batch: bool = True,
) -> DataFrame:
    """Drain a streaming DataFrame to a memory sink (:func:`drain`:
    availableNow, processes everything, then stops), record it in
    ``DRAINS[name_prefix]`` and return the materialized result as a
    batch DataFrame. ``output_mode="complete"`` for windowed
    aggregations whose final windows would otherwise sit unemitted
    behind the watermark. The fresh checkpoint per call makes the
    state width free to vary; ``no_data_batch`` is :func:`drain`'s."""
    spark = stream_df.sparkSession
    qname = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = f"/tmp/sfdc_cdc_ckpt/{qname}"
    try:
        q = drain(
            stream_df,
            ckpt,
            lambda w: w.format("memory").queryName(qname).outputMode(output_mode),
            no_data_batch,
        )
        q.awaitTermination()
        record_drain(spark, q, name_prefix)
        # detach the result from the memory sink so repeated drains
        # don't accumulate sink state/views in the session:
        # materialize once (eager localCheckpoint) before the finally
        # drops the sink's temp view and checkpoint dir
        result = spark.table(qname).localCheckpoint()
    finally:
        # cleanup must run on the failure path too: a failed drain
        # would otherwise leak the memory-sink temp view and the
        # checkpoint directory
        try:
            spark.catalog.dropTempView(qname)
        except Exception:
            pass
        shutil.rmtree(ckpt, ignore_errors=True)
    return result


def sink_to_console(
    stream_df: DataFrame,
    num_rows: int = 20,
    truncate: bool = True,
    checkpoint: str | None = None,
):
    """S9 — the debug/console sink: the reference prints each record
    and each SOQL result to stdout while developing (app.py:92-93,
    :110-111); Spark's equivalent is ``format("console")``, which
    renders every micro-batch on the driver. Debug-only by
    construction (rows are collected to the driver to print), which
    is why it's a thin wrapper and not part of any production path."""
    return drain(
        stream_df,
        checkpoint,
        lambda w: w.format("console")
        .option("numRows", str(num_rows))
        .option("truncate", str(truncate).lower()),
    )


def sink_to_lake(ch: DataFrame, snapshot: DataFrame, out_dir: str, checkpoint: str):
    """Production-shaped sink: foreachBatch → parquet partitioned by
    entity (≙ Firehose prefix + partition key), exactly-once via the
    checkpoint + idempotent per-batch overwrite-by-partition."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            enriched_union(batch_df, snapshot)
            .withColumn("_epoch", F.lit(epoch_id))
            .write.mode("append")
            .partitionBy("type")
            .parquet(out_dir)
        )

    return drain(ch, checkpoint, lambda w: w.foreachBatch(write_batch))


# ---------------------------------------------------------------------------
# driver-checkable streaming queries — same oracles as their batch twins
# ---------------------------------------------------------------------------

@query(
    "cdc_stream_latest",
    oracle=None,  # set below: identical to cdc_latest_snapshot's oracle
)
def cdc_stream_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship materialization computed FROM THE STREAM: drain
    the streaming change feed (readStream → watermark → dedup →
    append memory sink), then take latest-per-key — byte-identical to
    the batch ``cdc_latest_snapshot`` and checked against the same
    oracle. This is the §5.5 batch≡stream parity property as a
    driver-verified query."""
    landing = ensure_landing(spark, sf_dir)
    # dropDuplicates emits each change on first arrival — the trailing
    # zero-row batch cannot add rows, so skip it
    drained = run_available_now(
        changes_stream(spark, landing),
        "cdc_changes",
        no_data_batch=False,
    )
    return (
        drained.groupBy("entity_name", "uid")
        .agg(
            F.max_by(
                F.struct("record_id", "change_type", "commit_ts_ms"),
                F.struct("commit_ts_ms", "replay_id"),
            ).alias("last")
        )
        .select(
            "entity_name",
            F.col("last.record_id").alias("record_id"),
            F.col("last.change_type").alias("uind"),
            F.col("last.commit_ts_ms").alias("commit_ts_ms"),
        )
        .where(F.col("uind") != "DELETE")
    )


@query(
    "cdc_stream_pipeline",
    oracle=None,  # set below: identical to union_branches' oracle
)
def cdc_stream_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full worker output (tombstones ∪ enriched upserts) under
    streaming execution with the stream-static enrichment join running
    inside the micro-batches, checked against the batch oracle."""
    landing = ensure_landing(spark, sf_dir)
    snapshot = load_table(spark, sf_dir, "customer")
    stream = enriched_union(changes_stream(spark, landing), snapshot)
    # dedup emits on arrival; the enrichment join is stream-static —
    # nothing is watermark-gated, so skip the trailing zero-row batch
    return run_available_now(
        stream,
        "cdc_pipeline",
        no_data_batch=False,
    )


@query(
    "cdc_stream_tumbling",
    oracle=None,  # set below from the shared CHANGES_CTE
)
def cdc_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling 60 s change counts computed ON THE STREAM:
    watermark + ``window()`` aggregate — the Structured Streaming twin
    of the batch ``tumbling_commit_counts`` (≙ the Firehose 60 s
    buffer, worker/template.yaml:108-110), drained with complete
    output so even windows newer than the watermark emit. Checked
    against the batch oracle."""
    landing = ensure_landing(spark, sf_dir)
    wire = spark.readStream.schema(WIRE_SCHEMA).json(landing)
    agg = (
        parse_wire(wire)
        .withWatermark("commit_ts", "24 hours")
        .groupBy("entity_name", F.window("commit_ts", "60 seconds").alias("w"))
        .agg(F.count("*").alias("n_changes"))
        .select(
            "entity_name",
            F.unix_millis("w.start").alias("window_start_ms"),
            "n_changes",
        )
    )
    # complete mode re-emits the full state every data batch — the
    # trailing zero-row batch re-emits the same rows
    return run_available_now(
        agg,
        "cdc_tumbling",
        output_mode="complete",
        no_data_batch=False,
    )


SS_OUTER_WM_MS = 10_000  # watermark delay of the outer-join sides


@query(
    "cdc_stream_outer_join",
    oracle=None,  # set below from the shared CHANGES_CTE
)
def cdc_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: CREATEs matched to UPDATEs of
    the same key within the following hour, PLUS a null row for every
    CREATE whose window closed without a match. The outer side is the
    capability the inner join (`cdc_stream_stream_join`) doesn't
    exercise: Spark can only emit an unmatched-left null once the
    GLOBAL watermark (min over both sides) passes the row's entire
    match window — before that, a matching right row could still
    arrive. The oracle MODELS that gate instead of papering over it:
    it keeps exactly the unmatched rows with
    ``c_ts + 1h < min(max(c_ts), max(u_ts)) - {SS_OUTER_WM_MS} ms``,
    so the hash check pins the real production semantics — an
    availableNow drain of an outer join leaves the watermark-open
    TAIL unemitted (it would emit on the next increment), and any
    consumer reconciling counts must account for it."""
    landing = ensure_landing(spark, sf_dir)

    def side(change_type: str, prefix: str) -> DataFrame:
        wire = (
            spark.readStream.schema(WIRE_SCHEMA)
            .option("maxFilesPerTrigger", 8)
            .json(landing)
        )
        ch = parse_wire(wire).where(F.col("change_type") == change_type)
        return ch.select(
            F.col("uid").alias(f"{prefix}_uid"),
            F.col("replay_id").alias(f"{prefix}_replay"),
            F.col("commit_ts").alias(f"{prefix}_ts"),
        ).withWatermark(f"{prefix}_ts", f"{SS_OUTER_WM_MS // 1000} seconds")

    creates = side("CREATE", "c")
    updates = side("UPDATE", "u")
    joined = creates.join(
        updates,
        (F.col("c_uid") == F.col("u_uid"))
        & (F.col("u_ts") >= F.col("c_ts"))
        & (F.col("u_ts") <= F.col("c_ts") + F.expr("interval 1 hour")),
        "left_outer",
    ).select(F.col("c_uid").alias("uid"), "c_replay", "u_replay")
    return run_available_now(
        joined,
        "cdc_ss_outer",
    )


@query(
    "cdc_stream_dedup_tumbling",
    oracle=None,  # set below from the shared CHANGES_CTE
)
def cdc_stream_dedup_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO stateful operators CHAINED in one streaming query:
    watermarked ``dropDuplicates`` feeding an event-time tumbling
    aggregate — the shape every real exactly-once metrics job has
    (dedup the at-least-once bus, then count), and a different
    capability than either stage alone: Spark must pipeline two state
    stores per partition and the dedup's output watermark must drive
    the window's eviction. Uses the DUPLICATED wire stream (every
    record delivered twice — `_dup_wire_stream`), so a missing dedup
    stage would exactly double every count and fail the oracle, which
    counts each change once per 60 s window."""
    landing = ensure_landing(spark, sf_dir)
    ch = _dup_wire_stream(spark, landing)
    agg = (
        ch.withWatermark("commit_ts", REPLAY_DEDUP_HORIZON)
        .dropDuplicates(["replay_id", "record_id"])
        .groupBy("entity_name", F.window("commit_ts", "60 seconds").alias("w"))
        .agg(F.count("*").alias("n_changes"))
        .select(
            "entity_name",
            F.unix_millis("w.start").alias("window_start_ms"),
            "n_changes",
        )
    )
    # complete mode: the last data batch already emitted the full state
    return run_available_now(
        agg,
        "cdc_dedup_tumbling",
        output_mode="complete",
        no_data_batch=False,
    )


@query(
    "cdc_stream_sliding",
    oracle=None,  # set below from the shared CHANGES_CTE
)
def cdc_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time SLIDING windows on the stream: 120 s windows every
    60 s, so each change lands in exactly TWO overlapping windows —
    the smoothing shape monitoring dashboards want (tumbling counts
    jitter at the boundary; a 2x-overlap hop averages it out).
    Overlap is the semantics under test: Spark assigns each row to
    width/slide windows inside the stateful aggregate (state and
    emitted rows scale with the overlap factor — the real cost of
    smoothing, visible here as ~2x `cdc_stream_tumbling`'s output);
    the batch oracle replays the same assignment by unioning the two
    phase-shifted bucketings."""
    landing = ensure_landing(spark, sf_dir)
    wire = spark.readStream.schema(WIRE_SCHEMA).json(landing)
    agg = (
        parse_wire(wire)
        .withWatermark("commit_ts", "24 hours")
        .groupBy(
            "entity_name",
            F.window("commit_ts", "120 seconds", "60 seconds").alias("w"),
        )
        .agg(F.count("*").alias("n_changes"))
        .select(
            "entity_name",
            F.unix_millis("w.start").alias("window_start_ms"),
            "n_changes",
        )
    )
    # complete mode: the last data batch already emitted the full state
    return run_available_now(
        agg,
        "cdc_sliding",
        output_mode="complete",
        no_data_batch=False,
    )


@query(
    "cdc_stream_session",
    oracle=None,  # set below from the shared CHANGES_CTE
)
def cdc_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time SESSION windows on the stream: per entity, bursts of
    change activity separated by ≥60 s of silence (built-in
    ``session_window``, gap end-exclusive). Sessions merge across
    micro-batches in the state store; complete-mode drain emits the
    final merged sessions. The batch oracle replays the same semantics
    with the lag-gap running-sum formulation — the two sessionization
    styles must agree row-for-row."""
    landing = ensure_landing(spark, sf_dir)
    wire = spark.readStream.schema(WIRE_SCHEMA).json(landing)
    agg = (
        parse_wire(wire)
        .withWatermark("commit_ts", REPLAY_DEDUP_HORIZON)
        .groupBy(
            "entity_name", F.session_window("commit_ts", "60 seconds").alias("sw")
        )
        .agg(F.count("*").alias("n_changes"))
        .select(
            "entity_name",
            F.unix_millis("sw.start").alias("session_start_ms"),
            "n_changes",
        )
    )
    # complete mode: the last data batch already emitted the full state
    return run_available_now(
        agg,
        "cdc_session",
        output_mode="complete",
        no_data_batch=False,
    )


def stateful_entity_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via
    ``applyInPandasWithState``: a per-entity running change counter
    whose state (one long per key) survives across micro-batches —
    the engine's template for stateful logic the built-in aggregates
    can't express (the Spark analog of the reference's replay map,
    ReplayExtension.java:31-36, as user state). Emits the updated
    count once per (entity, micro-batch); counts are monotone, so the
    final value per entity is the max."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    landing = ensure_landing(spark, sf_dir)
    wire = spark.readStream.schema(WIRE_SCHEMA).json(landing)
    # pre-partition on the state key with a small partition count: the
    # entity cardinality is tiny, and every state partition costs a
    # state store + a Python worker per micro-batch. On a deployment
    # with many keys this number scales with key cardinality, not
    # with spark.sql.shuffle.partitions. Project down to the key first:
    # the counter only needs row counts, so the shuffle and the Arrow
    # hop to Python carry one string column, not the whole change row.
    ch = parse_wire(wire).select("entity_name").repartition(8, "entity_name")

    def count_changes(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        import pandas as pd

        yield pd.DataFrame({"entity_name": [key[0]], "n_changes": [n]})

    updates = ch.groupBy("entity_name").applyInPandasWithState(
        count_changes,
        outputStructType="entity_name string, n_changes bigint",
        stateStructType="n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # NoTimeout state: a zero-row batch has no groups to invoke the
    # function with, so the trailing batch cannot emit
    drained = run_available_now(
        updates,
        "cdc_state_counter",
        no_data_batch=False,
    )
    return drained.groupBy("entity_name").agg(
        F.max("n_changes").alias("n_changes")
    )


@query(
    "cdc_stream_stateful_counts",
    oracle=None,  # set below: per-entity change counts from the shared CTE
)
def cdc_stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable wrapper over :func:`stateful_entity_counter` —
    the applyInPandasWithState path verified against the plain
    group-count oracle."""
    return stateful_entity_counter(spark, sf_dir)


@query(
    "cdc_incremental_merge",
    oracle=None,  # set below: the flagship oracle — incremental must equal batch
)
def cdc_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship snapshot maintained INCREMENTALLY: the change
    stream is consumed in multiple micro-batches (maxFilesPerTrigger)
    through foreachBatch MERGE upserts (streaming/merge.py), and the
    resulting persisted state must hash-equal the one-shot batch
    computation — the MERGE-INTO correctness statement, driver-checked
    against cdc_latest_snapshot's oracle."""
    from sfdc_cdc_aws_spark.streaming.merge import IncrementalSnapshot

    landing = ensure_landing(spark, sf_dir)
    run_id = uuid.uuid4().hex[:8]
    snap = IncrementalSnapshot(spark, f"/tmp/sfdc_cdc_merge/{run_id}/state")
    ch = changes_stream(spark, landing, max_files_per_trigger=8).select(
        "entity_name", "uid", "record_id", "change_type", "commit_ts_ms", "replay_id"
    )
    snap.attach(ch, f"/tmp/sfdc_cdc_merge/{run_id}/ckpt").awaitTermination()
    result = snap.current().select(
        "entity_name",
        "record_id",
        F.col("change_type").alias("uind"),
        "commit_ts_ms",
    ).localCheckpoint()  # detach from the state dir before removing it
    shutil.rmtree(f"/tmp/sfdc_cdc_merge/{run_id}", ignore_errors=True)
    return result


@query(
    "cdc_drift_merge",
    oracle="""
WITH changes AS (
  SELECT event_type AS entity_name,
         printf('00D%015d', uid) AS record_id,
         uid, event_id AS replay_id,
         CASE WHEN event_id % 15 = 0 THEN 'UNDELETE'
              WHEN event_id % 3 = 0 THEN 'CREATE'
              WHEN event_id % 3 = 1 THEN 'UPDATE'
              ELSE 'DELETE' END AS change_type,
         epoch_ms(ts) AS commit_ts_ms, props
  FROM events, unnest(CASE WHEN event_id % 5 = 0
                           THEN [user_id, user_id + 1000000]
                           ELSE [user_id] END) AS t(uid)
),
w AS (
  SELECT *, CASE WHEN replay_id > (SELECT max(event_id) // 2 FROM events)
                 THEN props || '-t' END AS tier__c
  FROM changes
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY entity_name, uid
                               ORDER BY commit_ts_ms DESC, replay_id DESC) AS rn
  FROM w
)
SELECT entity_name, record_id, change_type AS uind, commit_ts_ms, props, tier__c
FROM ranked WHERE rn = 1 AND change_type <> 'DELETE'
""",
)
def cdc_drift_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift under the incremental merge, registered end to end
    (round-5 verdict item 7 / SURVEY.md §1.3): halfway through the
    replay (replay_id > max/2) the payload map gains a field
    (``tier__c``), each micro-batch runtime-discovers the fields
    actually present (streaming/drift.py — the describe() analog,
    app.py:115-118), and the state widens ADDITIVELY at the next
    publish: keys last touched pre-drift carry NULL, old epochs stay
    readable. The oracle replays the same latest-per-key fixpoint with
    the drift applied by predicate — correctness must not depend on
    where micro-batch boundaries fell."""
    from sfdc_cdc_aws_spark.streaming.drift import (
        attach_with_drift,
        parse_wire_fields,
    )
    from sfdc_cdc_aws_spark.streaming.merge import IncrementalSnapshot

    landing = ensure_landing(spark, sf_dir)
    cut = load_table(spark, sf_dir, "events").agg(
        (F.max("event_id") / 2).cast("long")
    ).collect()[0][0]  # scalar split point — metadata, not data
    run_id = uuid.uuid4().hex[:8]
    snap = IncrementalSnapshot(spark, f"/tmp/sfdc_cdc_drift/{run_id}/state")
    wire = spark.readStream.schema(WIRE_SCHEMA).option(
        "maxFilesPerTrigger", 8
    ).json(landing)
    st = (
        parse_wire_fields(wire)
        .withWatermark("commit_ts", REPLAY_DEDUP_HORIZON)
        .dropDuplicates(["replay_id", "record_id"])
        .withColumn(
            "fields",
            F.when(
                F.col("replay_id") > F.lit(cut),
                F.map_concat(
                    "fields",
                    F.create_map(
                        F.lit("tier__c"),
                        F.concat(F.col("fields")["props"], F.lit("-t")),
                    ),
                ),
            ).otherwise(F.col("fields")),
        )
    )
    q = attach_with_drift(snap, st, f"/tmp/sfdc_cdc_drift/{run_id}/ckpt")
    q.awaitTermination()
    result = snap.current().select(
        "entity_name",
        "record_id",
        F.col("change_type").alias("uind"),
        "commit_ts_ms",
        "props",
        "tier__c",
    ).localCheckpoint()
    shutil.rmtree(f"/tmp/sfdc_cdc_drift/{run_id}", ignore_errors=True)
    return result


@query(
    "cdc_stream_stream_join",
    oracle=None,  # set below from the shared CHANGES_CTE
)
def cdc_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join: CREATE changes joined to UPDATE
    changes of the same key arriving within the following hour — both
    sides unbounded, so Spark buffers each side in watermarked state
    and the event-time bound lets it evict (without the time
    constraint the state would grow forever). This is the
    Structured Streaming capability the other queries don't touch;
    checked against the equivalent batch self-join oracle."""
    landing = ensure_landing(spark, sf_dir)

    def side(change_type: str, prefix: str) -> DataFrame:
        wire = spark.readStream.schema(WIRE_SCHEMA).json(landing)
        ch = parse_wire(wire).where(F.col("change_type") == change_type)
        return ch.select(
            F.col("uid").alias(f"{prefix}_uid"),
            F.col("replay_id").alias(f"{prefix}_replay"),
            F.col("commit_ts").alias(f"{prefix}_ts"),
        ).withWatermark(f"{prefix}_ts", "24 hours")

    creates = side("CREATE", "c")
    updates = side("UPDATE", "u")
    joined = creates.join(
        updates,
        (F.col("c_uid") == F.col("u_uid"))
        & (F.col("u_ts") >= F.col("c_ts"))
        & (F.col("u_ts") <= F.col("c_ts") + F.expr("interval 1 hour")),
        "inner",
    ).select(
        F.col("c_uid").alias("uid"),
        "c_replay",
        "u_replay",
    )
    # the join buffers BOTH sides in per-partition state stores —
    # run_available_now's scoped shuffle width keeps the state-store
    # count tracking key cardinality, not scan parallelism
    # INNER join emits matches as they arrive; only the OUTER variant
    # needs the trailing watermark batch for its null rows
    return run_available_now(
        joined,
        "cdc_ss_join",
        no_data_batch=False,
    )


def _borrow_oracles() -> None:
    """Streaming queries reuse their batch twins' oracle SQL (frozen
    dataclass → rebuild the registry entries)."""
    from dataclasses import replace

    import sfdc_cdc_aws_spark.operators.pipeline  # noqa: F401  (registers twins)

    QUERIES["cdc_stream_latest"] = replace(
        QUERIES["cdc_stream_latest"], oracle=QUERIES["cdc_latest_snapshot"].oracle
    )
    QUERIES["cdc_stream_pipeline"] = replace(
        QUERIES["cdc_stream_pipeline"], oracle=QUERIES["union_branches"].oracle
    )

    from sfdc_cdc_aws_spark.sources.cdc_feed import CHANGES_CTE

    tumbling = f"""
WITH {CHANGES_CTE}
SELECT entity_name,
       commit_ts_ms - commit_ts_ms % 60000 AS window_start_ms,
       count(*) AS n_changes
FROM changes GROUP BY 1, 2
"""
    QUERIES["cdc_stream_tumbling"] = replace(
        QUERIES["cdc_stream_tumbling"], oracle=tumbling
    )
    QUERIES["cdc_stream_outer_join"] = replace(
        QUERIES["cdc_stream_outer_join"],
        oracle=f"""
WITH {CHANGES_CTE},
a AS (SELECT uid, replay_id AS c_replay, commit_ts_ms AS c_ms
      FROM changes WHERE change_type = 'CREATE'),
b AS (SELECT uid AS b_uid, replay_id AS u_replay, commit_ts_ms AS u_ms
      FROM changes WHERE change_type = 'UPDATE'),
wm AS (SELECT least((SELECT max(c_ms) FROM a), (SELECT max(u_ms) FROM b))
              - {SS_OUTER_WM_MS} AS w),
j AS (
  SELECT a.uid, a.c_replay, a.c_ms, b.u_replay
  FROM a LEFT JOIN b
    ON a.uid = b.b_uid AND b.u_ms >= a.c_ms
   AND b.u_ms <= a.c_ms + 3600000
)
SELECT uid, c_replay, u_replay
FROM j, wm
WHERE u_replay IS NOT NULL OR c_ms + 3600000 < wm.w
""",
    )
    # chained dedup+window over the DUPLICATED stream must equal the
    # plain tumbling counts (each change exactly once per window)
    QUERIES["cdc_stream_dedup_tumbling"] = replace(
        QUERIES["cdc_stream_dedup_tumbling"], oracle=tumbling
    )
    QUERIES["cdc_stream_sliding"] = replace(
        QUERIES["cdc_stream_sliding"],
        oracle=f"""
WITH {CHANGES_CTE},
assigned AS (
  SELECT entity_name,
         commit_ts_ms - commit_ts_ms % 60000 - off.o AS window_start_ms
  FROM changes
  CROSS JOIN (SELECT unnest([0, 60000]) AS o) off
)
SELECT entity_name, window_start_ms, count(*) AS n_changes
FROM assigned GROUP BY 1, 2
""",
    )
    QUERIES["cdc_incremental_merge"] = replace(
        QUERIES["cdc_incremental_merge"],
        oracle=QUERIES["cdc_latest_snapshot"].oracle,
    )
    QUERIES["cdc_stream_stream_join"] = replace(
        QUERIES["cdc_stream_stream_join"],
        oracle=f"""
WITH {CHANGES_CTE}
SELECT a.uid, a.replay_id AS c_replay, b.replay_id AS u_replay
FROM changes a JOIN changes b
  ON a.uid = b.uid
 AND a.change_type = 'CREATE' AND b.change_type = 'UPDATE'
 AND b.commit_ts_ms >= a.commit_ts_ms
 AND b.commit_ts_ms <= a.commit_ts_ms + 3600000
""",
    )
    QUERIES["cdc_stream_session"] = replace(
        QUERIES["cdc_stream_session"],
        oracle=f"""
WITH {CHANGES_CTE},
gaps AS (
  SELECT entity_name, commit_ts_ms, replay_id, record_id,
         CASE WHEN commit_ts_ms - lag(commit_ts_ms) OVER (
                  PARTITION BY entity_name
                  ORDER BY commit_ts_ms, replay_id, record_id) >= 60000
              THEN 1 ELSE 0 END AS brk
  FROM changes
),
sess AS (
  SELECT entity_name, commit_ts_ms,
         sum(brk) OVER (PARTITION BY entity_name
                        ORDER BY commit_ts_ms, replay_id, record_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM gaps
)
SELECT entity_name, min(commit_ts_ms) AS session_start_ms,
       count(*) AS n_changes
FROM sess GROUP BY entity_name, sid
""",
    )
    QUERIES["cdc_stream_stateful_counts"] = replace(
        QUERIES["cdc_stream_stateful_counts"],
        oracle=f"""
WITH {CHANGES_CTE}
SELECT entity_name, count(*) AS n_changes
FROM changes GROUP BY 1
""",
    )


_borrow_oracles()


# ---------------------------------------------------------------------------
# at-least-once → exactly-once: state-bounded streaming dedup
# ---------------------------------------------------------------------------

def _dup_wire_stream(spark: SparkSession, landing: str) -> DataFrame:
    """The change feed delivered TWICE — two readStream readers over
    the same landing dir, unioned — the deterministic stand-in for
    the bus redelivering every record (the at-least-once failure mode
    the reference tolerates by overwrite-on-Id, SURVEY.md §1.5)."""
    def one() -> DataFrame:
        return parse_wire(spark.readStream.schema(WIRE_SCHEMA).json(landing))

    return one().unionByName(one())


@query(
    "stream_dedup_within_watermark",
    oracle=None,  # set below: the exact distinct change feed
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once delivery recovered from a duplicated stream with
    BOUNDED state: every wire record arrives twice (union of two
    readers ≙ bus redelivery), and ``dropDuplicatesWithinWatermark``
    must emit each change exactly once. Unlike the plain
    ``dropDuplicates`` in :func:`changes_stream` — whose state holds
    every key ever seen unless the watermark horizon covers the whole
    replay — the WithinWatermark variant evicts a key's state as the
    watermark passes it, so steady-state memory is bounded by the
    duplicate-arrival window (bus retention), not by stream history.
    That is the production shape: state ∝ retention window at any
    corpus size. The replay horizon here only needs to cover how far
    apart the two deliveries of one record can land in event time —
    they arrive in the same availableNow batch, so any horizon works;
    the verification is the batch oracle: the exact distinct feed."""
    landing = ensure_landing(spark, sf_dir)
    deduped = (
        _dup_wire_stream(spark, landing)
        .withWatermark("commit_ts", REPLAY_DEDUP_HORIZON)
        .dropDuplicatesWithinWatermark(["replay_id", "record_id"])
    )
    # WithinWatermark dedup also emits on first arrival — the trailing
    # batch only evicts state, it cannot emit
    drained = run_available_now(
        deduped,
        "dedup_wm",
        no_data_batch=False,
    )
    return drained.select(
        "entity_name", "record_id", "uid", "change_type",
        "commit_ts_ms", "replay_id", "commit_number",
    )


def _set_dedup_wm_oracle() -> None:
    from dataclasses import replace

    from sfdc_cdc_aws_spark.sources.cdc_feed import CHANGES_CTE

    QUERIES["stream_dedup_within_watermark"] = replace(
        QUERIES["stream_dedup_within_watermark"],
        oracle=f"""
WITH {CHANGES_CTE}
SELECT entity_name, record_id, uid, change_type,
       commit_ts_ms, replay_id, commit_number
FROM changes
""",
    )


_set_dedup_wm_oracle()
