"""The composed screen quartet must agree, screen by screen, with the
individual screens it composes (round-11 verdict item 8): same rules,
same model, same probe, same index discipline — one drain."""

from __future__ import annotations

from pyspark.sql import functions as F

from sfdc_cdc_aws_spark.registry import load_all

SF = "/root/testdata/sf0.001"

SPECS = load_all()


def _quartet(spark):
    return {
        r["doc_id"]: r
        for r in SPECS["stream_screen_quartet"].fn(spark, SF).collect()
    }


def test_quartet_matches_individual_screens(spark):
    from sfdc_cdc_aws_spark.operators.text import tokens_col
    from sfdc_cdc_aws_spark.sources import load_table
    from sfdc_cdc_aws_spark.streaming.quality_gate import (
        GATE_MAX_CHARS,
        GATE_MIN_TOKENS,
    )

    q = _quartet(spark)

    # gate_pass == the stream_quality_gate predicate per doc
    gate = {
        r["doc_id"]: r["ok"]
        for r in load_table(spark, SF, "documents")
        .where(F.col("doc_id") % 4 == 0)
        .select(
            "doc_id",
            (
                (F.size(tokens_col()) >= GATE_MIN_TOKENS)
                & (F.col("n_chars") < GATE_MAX_CHARS)
            ).alias("ok"),
        )
        .collect()
    }
    assert gate and all(q[d]["gate_pass"] == ok for d, ok in gate.items())

    # dsir_pass == (stream_dsir_ingest weight >= 0); featureless docs pass
    w = {
        r["doc_id"]: r["log_weight"]
        for r in SPECS["stream_dsir_ingest"].fn(spark, SF).collect()
    }
    for d, row in q.items():
        assert row["dsir_pass"] == (w.get(d, 0.0) >= 0.0)

    # ann_pass vs the static stream_ann_ingest probe (same MOD-4
    # split): the quartet's ANN index GROWS with prior admitted
    # arrivals (round-12 verdict item 4), so the chained screen can
    # only fail MORE docs than the static one — a static fail must
    # be a chained fail, and batch-0 docs (which see exactly the
    # static corpus) must agree exactly. Docs without an embedding
    # bypass and pass in both.
    flagged = {
        r["new_vec"]
        for r in SPECS["stream_ann_ingest"].fn(spark, SF).collect()
    }
    have_emb = {
        r["vec_id"]
        for r in load_table(spark, SF, "embeddings")
        .where(F.col("vec_id") % 4 == 0)
        .select("vec_id")
        .collect()
    }
    for d, row in q.items():
        static_pass = (d not in flagged) if d in have_emb else True
        if not static_pass:
            assert not row["ann_pass"], d
        if d not in have_emb:
            assert row["ann_pass"], d
        if row["batch_id"] == 0:
            assert row["ann_pass"] == static_pass, d

    # admitted == AND of the four screens, every row
    for row in q.values():
        assert row["admitted"] == (
            row["gate_pass"]
            and row["dsir_pass"]
            and row["ann_pass"]
            and row["dup_pass"]
        )
    # the composition must actually drop something (at the tiny
    # sf0.001 fixture the 4-screen conjunction can admit zero docs —
    # the sf0.01 parity lane exercises the admit>0 side)
    n_adm = sum(r["admitted"] for r in q.values())
    assert n_adm < len(q)


def test_quartet_deterministic_across_drains(spark):
    r1 = sorted(map(tuple, SPECS["stream_screen_quartet"].fn(spark, SF).collect()))
    r2 = sorted(map(tuple, SPECS["stream_screen_quartet"].fn(spark, SF).collect()))
    assert r1 == r2


_KILL_SCRIPT_QUARTET = """
import sys
from sfdc_cdc_aws_spark.session import get_session
from sfdc_cdc_aws_spark.streaming.ingest_quartet import run_quartet_drain

spark = get_session("quartet_kill_drill", cpus=4)
run_quartet_drain(spark, sys.argv[1], keep_state=True, kill_after_batch=1)
raise SystemExit("unreachable: the drain should have SIGKILLed itself")
"""


def test_sigkill_mid_drain_then_resume_quartet(spark):
    """The torn-window drill on the COMPOSED quartet path (round-13
    verdict item 3): batch 1 commits its dup AND vector partitions
    via dynamic-partition-overwrite insertInto, the process dies
    before the checkpoint commit, and the resumed drain — which
    re-executes batch 1 against indexes pruned to commits < 1, then
    overwrites both partitions idempotently — must equal the
    uninterrupted run, per-screen."""
    import os
    import shutil
    import subprocess
    import sys

    from sfdc_cdc_aws_spark.streaming.ingest_quartet import (
        _quartet_tbl_path,
        ensure_quartet_bkt_tables,
        ensure_quartet_landing,
        quartet_state_base,
        run_quartet_drain,
    )

    landing = ensure_quartet_landing(spark, SF)
    state = quartet_state_base(landing)

    shutil.rmtree(state, ignore_errors=True)
    baseline = sorted(map(tuple, run_quartet_drain(spark, SF).collect()))
    assert not os.path.exists(state), "successful drain must not leak state"
    tbl, vtbl = ensure_quartet_bkt_tables(spark, SF)
    for t in (tbl, vtbl):
        tpath = _quartet_tbl_path(t)
        assert os.path.isdir(os.path.join(tpath, "commit_batch=-1"))
        assert not any(
            d.startswith("commit_batch=") and d != "commit_batch=-1"
            for d in os.listdir(tpath)
        ), f"{t}: admission partitions must be cleared after success"

    proc = subprocess.run(
        [sys.executable, "-c", _KILL_SCRIPT_QUARTET, SF],
        start_new_session=True,
        timeout=600,
    )
    assert proc.returncode == -9  # genuinely SIGKILLed

    # torn window: batches 0/1 wrote verdicts, batch 1's checkpoint
    # commit missing, 2/3 never ran. A batch's index partitions exist
    # IFF it admitted docs (dynamic-partition-overwrite of an empty
    # relation writes no partition — at sf0.001 the four composed
    # screens can reject a whole batch, which is correct, not torn).
    adm_by_batch = {}
    for d, b, *_rest, adm in baseline:
        adm_by_batch[b] = adm_by_batch.get(b, 0) + int(adm)
    for b in (0, 1):
        assert os.path.exists(f"{state}/verdicts/b{b}/_SUCCESS")
        if adm_by_batch.get(b, 0):
            part_dirs = {
                d
                for d in os.listdir(_quartet_tbl_path(tbl))
                if d.startswith("commit_batch=")
            }
            assert f"commit_batch={b}" in part_dirs
    for t in (tbl, vtbl):
        part_dirs = {
            d
            for d in os.listdir(_quartet_tbl_path(t))
            if d.startswith("commit_batch=")
        }
        assert "commit_batch=2" not in part_dirs, t
    commits = os.path.join(state, "ckpt", "commits")
    committed = (
        {n for n in os.listdir(commits) if not n.startswith(".")}
        if os.path.isdir(commits)
        else set()
    )
    assert "1" not in committed, "batch 1 must be UNcommitted (torn)"

    resumed = sorted(map(tuple, run_quartet_drain(spark, SF).collect()))
    assert resumed == baseline, "resumed verdicts != uninterrupted run"
    assert not os.path.exists(state)


def test_drain_batch_reads_pass_explicit_batch_dirs(spark, monkeypatch):
    """The drain's batch reads of its ``b<k>`` dirs — the landing's
    band rows and screen inputs, the verdict read-back — pass explicit
    paths. A glob (``.../b*``) makes Spark probe the literal pattern for
    a ``_spark_metadata`` dir, and log a FileNotFoundException stack,
    on every read."""
    from pyspark.sql.readwriter import DataFrameReader

    from sfdc_cdc_aws_spark.streaming.ingest_quartet import run_quartet_drain

    read, paths = DataFrameReader.parquet, []

    def spy(self, *p, **kw):
        paths.extend(p)
        return read(self, *p, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    assert run_quartet_drain(spark, SF).count() > 0
    assert [p for p in paths if "*" in p] == []
    # landing twice (bands, screen inputs) and the verdicts once
    assert sum(p.endswith("/b0") for p in paths) >= 3, paths

