"""Streaming quality gate: the observe() metrics must account for
every arriving row (n_in = corpus size, n_pass = oracle's pass count,
drops visible), across multiple micro-batches."""

from __future__ import annotations

import duckdb

from sfdc_cdc_aws_spark.streaming import quality_gate as qg
from sfdc_cdc_aws_spark.streaming.job import DRAINS

SF = "/root/testdata/sf0.001"


def test_gate_metrics_account_for_every_row(spark):
    out = qg.stream_quality_gate(spark, SF)
    n_pass_rows = sum(r.n_docs for r in out.collect())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    n_total = con.sql("SELECT count(*) FROM documents").fetchone()[0]

    m = DRAINS["quality_gate"]
    n_in, n_pass = m["quality_gate.n_in"], m["quality_gate.n_pass"]
    assert n_in == n_total, m
    assert n_pass == n_pass_rows, m
    assert n_in - n_pass == n_total - n_pass_rows and n_in - n_pass > 0, m
    # the landing is 4 files at maxFilesPerTrigger=2 — the drain must
    # actually micro-batch (a single-batch drain would not exercise
    # the cross-batch metric summation)
    assert m["batches"] >= 2, m


def test_shared_truncate_lineage_reliable_checkpoint(spark, tmp_path, monkeypatch):
    """Round-8 ADVICE: every lineage-truncation site routes through
    session.truncate_lineage, so SPARK_GRAFT_CHECKPOINT_DIR flips ALL
    of them (not just the CC loop) to a reliable checkpoint — proven
    here on bm25_score (the key the advice named): same answer, and
    the dir receives checkpoint data."""
    import os

    from sfdc_cdc_aws_spark.operators.text import bm25_score

    sf = "/root/testdata/sf0.001"
    base = sorted(tuple(r) for r in bm25_score(spark, sf).collect())
    ckpt = tmp_path / "bm25_ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    got = sorted(tuple(r) for r in bm25_score(spark, sf).collect())
    assert got == base
    assert any(os.scandir(ckpt)), "reliable checkpoint dir must be used"
