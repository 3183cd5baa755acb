"""The trailing-zero-row-batch suppression (round-14 optimization).

``run_available_now(..., no_data_batch=False)`` turns off
``spark.sql.streaming.noDataMicroBatches`` for drains whose output
cannot depend on the trailing batch. Three properties must hold:

1. the conf is scoped — restored after the drain, success or failure;
2. a suppressed drain really runs one fewer micro-batch than the
   default drain of the same stream;
3. the rows drained are identical either way (the semantic guard the
   sf0.001/sf0.01/sf0.1 oracle parity re-verification pins globally;
   asserted here on one dedup stream so the property has a unit test).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sfdc_cdc_aws_spark.streaming.job import (
    DRAINS,
    changes_stream,
    drain_state_width,
    ensure_landing,
    run_available_now,
)

_NDB = "spark.sql.streaming.noDataMicroBatches.enabled"


def _drain(spark, landing, prefix, **kw):
    df = changes_stream(spark, landing).observe(
        "rows", F.count(F.lit(1)).alias("n")
    )
    return run_available_now(df, prefix, **kw)


def test_suppressed_drain_matches_and_skips_trailing_batch(spark, sf_dir):
    landing = ensure_landing(spark, sf_dir)
    base = _drain(spark, landing, "ndb_on", no_data_batch=True)
    n_on = DRAINS["ndb_on"]["batches"]
    fast = _drain(spark, landing, "ndb_off", no_data_batch=False)
    n_off = DRAINS["ndb_off"]["batches"]
    # one fewer micro-batch: the trailing zero-row batch is gone
    assert n_off == n_on - 1, (n_on, n_off)
    # identical drained rows (dedup emits on arrival, nothing gated)
    key = [c for c in base.columns]
    assert base.count() == fast.count()
    assert base.exceptAll(fast).count() == 0
    assert fast.exceptAll(base).count() == 0


def test_conf_restored_after_drain(spark, sf_dir):
    landing = ensure_landing(spark, sf_dir)
    spark.conf.set(_NDB, "true")
    _drain(spark, landing, "ndb_scope", no_data_batch=False)
    assert spark.conf.get(_NDB) == "true"


def test_conf_restored_on_failure(spark, sf_dir):
    landing = ensure_landing(spark, sf_dir)
    spark.conf.set(_NDB, "true")
    bad = changes_stream(spark, landing).select(
        (F.col("replay_id") / F.lit(0)).alias("x"),
        F.raise_error(F.lit("boom")).alias("y"),
    )
    with pytest.raises(Exception):
        run_available_now(bad, "ndb_fail", no_data_batch=False)
    assert spark.conf.get(_NDB) == "true"


def test_stateful_drain_runs_at_landing_derived_width(spark, sf_dir):
    """run_available_now sizes the state stores itself: a stateful
    drain over a file-source landing runs at drain_state_width of that
    landing, not the session's shuffle width, and the session width is
    back afterwards."""
    landing = ensure_landing(spark, sf_dir)
    width = drain_state_width(spark, landing)
    session_width = spark.conf.get("spark.sql.shuffle.partitions")
    assert str(width) != session_width  # else the check proves nothing
    _drain(spark, landing, "ndb_width", no_data_batch=False)
    assert DRAINS["ndb_width"]["shuffle_partitions"] == width
    assert spark.conf.get("spark.sql.shuffle.partitions") == session_width
