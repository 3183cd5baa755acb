"""Untimed materialization of every fixture builder.

Several registered queries read MATERIALIZED state (band indexes, IVF
cells, landing dirs, bucketed tables) that builders publish once per
fingerprint — the source tables' stat plus the package code digest
(``materialize.py``). When the source parquet is regenerated — which
the driver does every round — or the package code changes, the first
query to touch each builder would pay the full rebuild inside its own
timed wall, polluting exactly the regression signal the variance
bands consume.

``prewarm_materializations`` runs every builder up front and reports
what each cost, so the harness can record regen seconds as their own
artifact field and the per-key walls measure the QUERY. At 100 TB the
same split holds: index construction is an ingest-time job, lookups
are priced without it.

``tests/test_bench_contract.py`` pins that every function in the
package that calls ``materialize`` or ``catalog_fixture`` is listed
here — a new builder can't silently dodge the prewarm and
reintroduce first-call pollution.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import SparkSession

#: every fixture builder in the package, as "module:function".
#: Signatures are uniformly ``(spark, sf_dir)``.
PREWARMERS: tuple[str, ...] = (
    "sfdc_cdc_aws_spark.streaming.job:ensure_landing",
    "sfdc_cdc_aws_spark.streaming.ingest_dedup:ensure_band_index",
    "sfdc_cdc_aws_spark.streaming.ingest_dedup:ensure_doc_landing",
    "sfdc_cdc_aws_spark.streaming.ingest_dedup:ensure_band_delta",
    "sfdc_cdc_aws_spark.streaming.ingest_dedup:ensure_admit_landing",
    "sfdc_cdc_aws_spark.streaming.ingest_dedup:ensure_cc_state",
    "sfdc_cdc_aws_spark.streaming.ingest_dedup:ensure_band_index_table",
    "sfdc_cdc_aws_spark.streaming.ingest_dedup:ensure_admit_bkt_table",
    "sfdc_cdc_aws_spark.streaming.ingest_dedup:ensure_keep_best_state",
    "sfdc_cdc_aws_spark.streaming.ingest_quartet:ensure_quartet_landing",
    "sfdc_cdc_aws_spark.streaming.ingest_quartet:ensure_quartet_bkt_tables",
    "sfdc_cdc_aws_spark.streaming.ingest_ann:ensure_vec_landing",
    "sfdc_cdc_aws_spark.streaming.ingest_dsir:ensure_dsir_model",
    "sfdc_cdc_aws_spark.streaming.quality_gate:ensure_corpus_landing",
    "sfdc_cdc_aws_spark.operators.layout:ensure_zorder_layout",
    "sfdc_cdc_aws_spark.operators.layout:ensure_range_sorted_layout",
    "sfdc_cdc_aws_spark.operators.similarity:ensure_ivf_index",
    "sfdc_cdc_aws_spark.operators.similarity:ensure_ivfpq_index",
    "sfdc_cdc_aws_spark.operators.sinks:_ensure_bucketed",
    "sfdc_cdc_aws_spark.operators.sinks:_ensure_format_copies",
    "sfdc_cdc_aws_spark.operators.dedup:minhash_signatures",
)


def _resolve(spec: str) -> Callable:
    import importlib

    mod_name, fn_name = spec.split(":")
    return getattr(importlib.import_module(mod_name), fn_name)


def prewarm_materializations(
    spark: SparkSession, sf_dir: str
) -> dict[str, float]:
    """Run every fixture builder once, untimed by the caller's key
    walls; returns {builder: seconds} (an ``err:``-prefixed string
    key records a builder that raised, without aborting the rest —
    the query that needs it will surface the real error)."""
    timings: dict[str, float] = {}
    for spec in PREWARMERS:
        name = spec.rsplit(":", 1)[1]
        t0 = time.perf_counter()
        try:
            _resolve(spec)(spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 — builder errors belong
            # to the query that consumes the fixture, not the prewarm
            timings[f"err:{name}"] = round(time.perf_counter() - t0, 4)
            timings[f"errmsg:{name}"] = str(exc)[:200]  # type: ignore[assignment]
            continue
        timings[name] = round(time.perf_counter() - t0, 4)
    return timings
