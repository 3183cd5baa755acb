"""``session.scoped_conf``: a conf window never leaks past its block,
on the failure path too — including the drains whose window used to
open before their ``try`` (a raise in between left the session on
dynamic partition overwrite)."""

from __future__ import annotations

import pytest

from sfdc_cdc_aws_spark.session import scoped_conf

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


def _boom(*_a, **_k):
    raise RuntimeError("reset failed")


def test_quartet_drain_failure_keeps_static_overwrite_mode(spark, monkeypatch):
    from sfdc_cdc_aws_spark.streaming import ingest_quartet as q

    assert spark.conf.get(_POM, "static") == "static"
    monkeypatch.setattr(q, "reset_batch_partitions", _boom)
    with pytest.raises(RuntimeError, match="reset failed"):
        q.run_quartet_drain(spark, SF)
    assert spark.conf.get(_POM, "static") == "static"

