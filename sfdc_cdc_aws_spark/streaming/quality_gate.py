"""Streaming quality gate with OBSERVED drop metrics: arriving
documents flow through a stateless rule filter on their way into the
training lake, and the drop rate is an ``observe()`` metric on the
stream itself — Spark's native observability hook (one aggregate
evaluated inline per micro-batch, no second pass over the data) —
so a mis-tuned gate that silently eats the corpus is visible in the
query progress, not discovered at training time. Same
observed-not-silent discipline as the LSH bucket caps
(operators/dedup.py) and the Bayeux reader's dropped_no_replay
counter (sources/bayeux.py).

Reference parity: the reference forwards every event unfiltered
(worker/lambda/app.py:96-118); the gate is SURVEY.md §2.9 extension
surface on the streaming lane.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sfdc_cdc_aws_spark.materialize import materialize
from sfdc_cdc_aws_spark.operators.text import _DUCK_TOKENS, tokens_col
from sfdc_cdc_aws_spark.registry import query

# Rules sized so the synthetic corpus splits both ways at every test
# SF (~48% pass): a gate everything passes (or fails) verifies
# nothing.
GATE_MIN_TOKENS = 40
GATE_MAX_CHARS = 450


def _gate_pass() -> F.Column:
    return (F.size(tokens_col()) >= GATE_MIN_TOKENS) & (
        F.col("n_chars") < GATE_MAX_CHARS
    )


def ensure_corpus_landing(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the FULL document corpus as a 4-file landing dir so
    maxFilesPerTrigger chops the drain into multiple micro-batches;
    unlike ingest_dedup's arrival slice, the gate feeds on every
    document with its full metadata columns."""
    from sfdc_cdc_aws_spark.sources import load_table

    def build(out: str) -> None:
        (
            load_table(spark, sf_dir, "documents")
            .repartitionByRange(4, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.parquet(out)
        )

    return materialize("gate_landing", sf_dir, ("documents",), build)


@query(
    "stream_quality_gate",
    oracle=f"""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len({_DUCK_TOKENS})) AS BIGINT) AS n_tokens
FROM documents
WHERE len({_DUCK_TOKENS}) >= {GATE_MIN_TOKENS}
  AND n_chars < {GATE_MAX_CHARS}
GROUP BY lang
""",
)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the document landing through the quality gate
    (≥{GATE_MIN_TOKENS} tokens, <{GATE_MAX_CHARS} chars) and
    aggregate the admitted slice per language. The gate's in/pass
    counts ride as ``observe()`` metrics evaluated inside each
    micro-batch; after the drain they are summed across batch
    progresses into the drain record ``job.DRAINS["quality_gate"]``
    (``quality_gate.n_in``, ``quality_gate.n_pass``, ``batches``) —
    in production a StreamingQueryListener ships the same numbers to
    the metrics bus per batch.

    Plan: the filter and the observation are stateless column
    expressions (whole-stage-codegen'd, evaluated once per row in
    the same pass); the per-lang aggregate is the only stateful
    operator (|langs| state keys). At 100 TB the gate itself adds no
    shuffle and no state — the observe aggregate is map-side only."""
    landing = ensure_corpus_landing(spark, sf_dir)
    arrivals = (
        spark.readStream.schema("doc_id long, text string, lang string, "
                                "source string, n_chars long")
        .option("maxFilesPerTrigger", 2)
        .parquet(landing)
    )
    gated = (
        arrivals.observe(
            "quality_gate",
            F.count(F.lit(1)).alias("n_in"),
            F.sum(_gate_pass().cast("long")).alias("n_pass"),
        )
        .where(_gate_pass())
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(tokens_col())).cast("bigint").alias("n_tokens"),
        )
    )
    # drain via run_available_now, whose record harvests every
    # observe() from the terminated query's progress, keyed by batchId,
    # and raises rather than undercount a full progress buffer
    from sfdc_cdc_aws_spark.streaming.job import run_available_now

    # complete mode: the last data batch already emitted the full state
    return run_available_now(
        gated,
        "quality_gate",
        output_mode="complete",
        no_data_batch=False,
    )
