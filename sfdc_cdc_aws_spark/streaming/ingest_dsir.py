"""Streaming DSIR admission screen — the fourth member of the
arrival-screening family (rules: quality_gate; duplicates:
ingest_dedup; vectors: ingest_ann; DISTRIBUTION: this): arriving
documents are scored against a MATERIALIZED hashed-ngram importance
model trained on the existing corpus, so the ingest decides
keep/weight while the data is still in flight instead of re-running
selection over the lake.

The model is the dsir_importance_weights construction
(operators/curation2.py) trained on the corpus slice; it
materializes as a COMPLETE 1024-row bucket→log-ratio table (unseen
buckets carry the smoothing constant), so the stream side is one
broadcast hash join — no coalesce branch, no per-batch model
recompute (a stream-static join re-evaluates its static side every
micro-batch; a 1024-row parquet table makes that free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sfdc_cdc_aws_spark.materialize import materialize
from sfdc_cdc_aws_spark.operators.curation2 import (
    _DUCK_FEATS,
    DSIR_ALPHA,
    DSIR_BUCKETS,
    _feats_col,
)
from sfdc_cdc_aws_spark.operators.text import _DUCK_TOKENS, DUCK_HASH64, shared_hash64
from sfdc_cdc_aws_spark.registry import query
from sfdc_cdc_aws_spark.sources import load_table, read_parquet
from sfdc_cdc_aws_spark.streaming.ingest_dedup import (
    ARRIVAL_MOD,
    ensure_doc_landing,
)
from sfdc_cdc_aws_spark.streaming.job import run_available_now


def ensure_dsir_model(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the corpus importance model: bucket → DECIMAL(18,9)
    log-ratio for ALL {DSIR_BUCKETS} buckets — observed buckets carry
    their smoothed target/raw log-ratio, never-observed buckets the
    all-zero smoothing constant, so arrival features always join."""

    def build(out: str) -> None:
        d = load_table(spark, sf_dir, "documents").where(
            F.col("doc_id") % ARRIVAL_MOD != 0
        )
        raw = (
            d.select("doc_id", "lang", F.explode(_feats_col()).alias("feat"))
            .select(
                "lang",
                (shared_hash64(F.col("feat")) % DSIR_BUCKETS).alias("bucket"),
            )
            .groupBy("bucket")
            .agg(
                F.count("*").alias("rc"),
                F.sum((F.col("lang") == "en").cast("long")).alias("tc"),
            )
        )
        tot = F.broadcast(
            raw.agg(
                F.sum("rc").alias("r_total"), F.sum("tc").alias("t_total")
            )
        )
        full = (
            spark.range(DSIR_BUCKETS)
            .select(F.col("id").alias("bucket"))
            .join(raw, "bucket", "left")
            .na.fill(0, ["rc", "tc"])
            .crossJoin(tot)
        )
        c = F.round(
            F.log(
                (F.col("tc") + DSIR_ALPHA)
                / (F.col("t_total") + DSIR_ALPHA * DSIR_BUCKETS)
            )
            - F.log(
                (F.col("rc") + DSIR_ALPHA)
                / (F.col("r_total") + DSIR_ALPHA * DSIR_BUCKETS)
            ),
            9,
        ).cast("decimal(18,9)")
        full.select("bucket", c.alias("c")).coalesce(1).write.parquet(out)

    return materialize("dsir_model", sf_dir, ("documents",), build)


@query(
    "stream_dsir_ingest",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, {_DUCK_TOKENS} AS tk FROM documents
),
corpus_b AS (
  SELECT lang, ({DUCK_HASH64.format(expr='feat')}) % {DSIR_BUCKETS} AS bucket
  FROM (SELECT doc_id, lang, unnest({_DUCK_FEATS}) AS feat FROM t
        WHERE doc_id % {ARRIVAL_MOD} <> 0)
),
raw AS (
  SELECT bucket, count(*) AS rc,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tc
  FROM corpus_b GROUP BY bucket
),
tot AS (
  SELECT CAST(sum(rc) AS BIGINT) AS r_total,
         CAST(sum(tc) AS BIGINT) AS t_total
  FROM raw
),
model AS (
  SELECT g.bucket,
         CAST(round(
           ln((coalesce(raw.tc, 0) + {DSIR_ALPHA})
              / (tot.t_total + {DSIR_ALPHA} * {DSIR_BUCKETS}))
           - ln((coalesce(raw.rc, 0) + {DSIR_ALPHA})
              / (tot.r_total + {DSIR_ALPHA} * {DSIR_BUCKETS})),
           9) AS DECIMAL(18,9)) AS c
  FROM (SELECT unnest(range(0, {DSIR_BUCKETS})) AS bucket) g
  LEFT JOIN raw ON g.bucket = raw.bucket
  CROSS JOIN tot
),
arrival_b AS (
  SELECT doc_id, ({DUCK_HASH64.format(expr='feat')}) % {DSIR_BUCKETS} AS bucket
  FROM (SELECT doc_id, unnest({_DUCK_FEATS}) AS feat FROM t
        WHERE doc_id % {ARRIVAL_MOD} = 0)
)
SELECT a.doc_id,
       count(*) AS n_feats,
       round(CAST(sum(m.c) AS DOUBLE), 6) AS log_weight
FROM arrival_b a JOIN model m ON a.bucket = m.bucket
GROUP BY a.doc_id
""",
)
def stream_dsir_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arriving documents scored against the corpus importance model
    WHILE STREAMING: readStream over the arrival landing (multiple
    micro-batches via maxFilesPerTrigger), per-row hashed-ngram
    features (stateless column expressions — the same _feats_col as
    batch), broadcast join against the materialized
    {DSIR_BUCKETS}-row model, per-doc weight sum. One arriving doc's
    features all live in its own micro-batch, so complete-mode
    recomputation is exact (the stream_minhash_ingest argument).

    At 100 TB the model is {DSIR_BUCKETS} rows regardless of corpus
    size — admission screening against a distribution target is the
    cheapest of the four arrival screens: no state, no candidate
    pairs, one broadcast join."""
    landing = ensure_doc_landing(spark, sf_dir)
    model = F.broadcast(
        read_parquet(spark, ensure_dsir_model(spark, sf_dir))
    )
    arrivals = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(landing)
    )
    scored = (
        arrivals.select("doc_id", F.explode(_feats_col()).alias("feat"))
        .select(
            "doc_id",
            (shared_hash64(F.col("feat")) % DSIR_BUCKETS).alias("bucket"),
        )
        .join(model, "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_feats"),
            F.round(F.sum("c").cast("double"), 6).alias("log_weight"),
        )
    )
    # complete mode: the last data batch already emitted the full state
    return run_available_now(
        scored,
        "dsir_ingest",
        output_mode="complete",
        no_data_batch=False,
    )
