"""``session.scoped_conf``: a conf window never leaks past its block,
on the failure path too — including the verdict drains, whose window
used to open before their ``try`` (a raise in between left the session
on dynamic partition overwrite). The same drains must release their
state lock when they fail and refuse a lock another drain holds."""

from __future__ import annotations

import fcntl
import os
import shutil

import pytest

from sfdc_cdc_aws_spark.session import scoped_conf
from sfdc_cdc_aws_spark.streaming import ingest_dedup, ingest_quartet

SF = "/root/testdata/sf0.001"
_POM = "spark.sql.sources.partitionOverwriteMode"


def test_scoped_conf_restores_on_raise_and_unsets_unset_keys(spark):
    unset = "spark.sfdc.test.scoped_unset"
    held = "spark.sql.shuffle.partitions"
    before = spark.conf.get(held)
    assert spark.conf.get(unset, None) is None
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, {unset: "x", held: "3"}):
            assert spark.conf.get(unset) == "x"
            assert spark.conf.get(held) == "3"
            raise RuntimeError("boom")
    assert spark.conf.get(unset, None) is None
    assert spark.conf.get(held) == before


#: (module, drain, state root of the drain's landing) — each drain's
#: precompute calls its module's ``spread_batch`` after the state lock
#: is taken
DRAINS = {
    "admit": (
        ingest_dedup,
        ingest_dedup.run_admit_drain,
        lambda spark: ingest_dedup.admit_state_base(
            ingest_dedup.ensure_admit_landing(spark, SF)
        ),
    ),
    "admit_bucketed": (
        ingest_dedup,
        ingest_dedup.run_admit_drain_bucketed,
        lambda spark: ingest_dedup.bkt_admit_state_base(
            ingest_dedup.ensure_admit_landing(spark, SF)
        ),
    ),
    "quartet": (
        ingest_quartet,
        ingest_quartet.run_quartet_drain,
        lambda spark: ingest_quartet.quartet_state_base(
            ingest_quartet.ensure_quartet_landing(spark, SF)
        ),
    ),
}


def _boom(*_a, **_k):
    raise RuntimeError("precompute failed")


@pytest.mark.parametrize("drain", sorted(DRAINS))
def test_drain_failure_keeps_static_overwrite_mode(spark, monkeypatch, drain):
    """A raise after the state lock is taken propagates, leaves the
    session on static partition overwrite, and releases the lock: an
    immediate re-run of the same fixture succeeds."""
    mod, run, _state = DRAINS[drain]
    assert spark.conf.get(_POM, "static") == "static"
    with monkeypatch.context() as m:
        m.setattr(mod, "spread_batch", _boom)
        with pytest.raises(RuntimeError, match="precompute failed"):
            run(spark, SF)
    assert spark.conf.get(_POM, "static") == "static"
    assert run(spark, SF).count() > 0


@pytest.mark.parametrize("drain", sorted(DRAINS))
def test_drain_refuses_a_held_state_lock(spark, drain):
    """While another holder has ``<state>.lock`` the drain raises at
    once and leaves the state dir exactly as it found it."""
    _mod, run, state_of = DRAINS[drain]
    state = state_of(spark)
    os.makedirs(f"{state}/verdicts/b0", exist_ok=True)
    with open(f"{state}/verdicts/b0/part-sentinel", "w") as f:
        f.write("held")

    def snapshot() -> dict:
        return {
            os.path.join(d, n): os.stat(os.path.join(d, n)).st_mtime_ns
            for d, _dirs, files in os.walk(state)
            for n in files
        }

    before = snapshot()
    fd = os.open(f"{state}.lock", os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        with pytest.raises(RuntimeError, match="another drain holds"):
            run(spark, SF)
        assert snapshot() == before
    finally:
        os.close(fd)
        shutil.rmtree(state, ignore_errors=True)
