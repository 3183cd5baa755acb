"""Streaming ingest-dedup: arrival probes against the corpus band
index must be deterministic across drains and independent of how the
file source chops the landing into micro-batches."""

from __future__ import annotations

import os

from sfdc_cdc_aws_spark.streaming.ingest_dedup import (
    ensure_doc_landing,
    stream_minhash_ingest,
)

SF = "/root/testdata/sf0.001"


def test_landing_idempotent(spark):
    a = ensure_doc_landing(spark, SF)
    mtime = os.path.getmtime(os.path.join(a, "_SUCCESS"))
    b = ensure_doc_landing(spark, SF)
    assert a == b
    assert os.path.getmtime(os.path.join(b, "_SUCCESS")) == mtime


def test_two_drains_identical(spark):
    """Fresh checkpoint per drain — the verdict set must not depend
    on drain history or micro-batch boundaries."""
    r1 = sorted(map(tuple, stream_minhash_ingest(spark, SF).collect()))
    r2 = sorted(map(tuple, stream_minhash_ingest(spark, SF).collect()))
    assert r1 == r2
    assert len(r1) > 0


def test_stream_ann_ingest_stateless_and_deterministic(spark):
    """The ANN admission screen must be STATELESS (append mode, no
    state stores — probe selection is a narrow expression, not a
    window/agg) and drain-deterministic across fresh checkpoints."""
    from sfdc_cdc_aws_spark.streaming import job
    from sfdc_cdc_aws_spark.streaming.ingest_ann import stream_ann_ingest

    r1 = sorted(map(tuple, stream_ann_ingest(spark, SF).collect()))
    state = job.DRAINS.get("ann_ingest")
    assert state is None or state.get("max_state_rows", 0) == 0, state
    r2 = sorted(map(tuple, stream_ann_ingest(spark, SF).collect()))
    assert r1 == r2
    # screening verdicts are (new, corpus) pairs with admitted cosine
    for new_vec, corpus_vec, cos_sim in r1:
        assert new_vec % 4 == 0 and corpus_vec % 4 != 0
        assert cos_sim >= 0.3


def test_minhash_index_merge_equals_from_scratch(spark):
    """The maintenance contract, proven inside one engine: the
    MERGE(state, delta) index summary must equal the from-scratch
    summary over ALL documents — and the merged plan must read only
    the materialized index parquet, never documents.parquet (the
    whole point: no text is rescanned at maintenance time)."""
    from pyspark.sql import functions as F

    from sfdc_cdc_aws_spark.operators.dedup import minhash_sig_df, sig_bands
    from sfdc_cdc_aws_spark.operators.text import shared_hash64
    from sfdc_cdc_aws_spark.sources import load_table
    from sfdc_cdc_aws_spark.streaming.ingest_dedup import minhash_index_merge

    merged = minhash_index_merge(spark, SF)
    plan = merged._jdf.queryExecution().optimizedPlan().toString()
    assert "documents.parquet" not in plan, "merge rescans document text"

    scratch = (
        sig_bands(minhash_sig_df(load_table(spark, SF, "documents", widen=True)))
        .groupBy("band_id", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.bit_xor(shared_hash64(F.col("doc_id").cast("string"))).alias(
                "member_xor"
            ),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )
    got = sorted(map(tuple, merged.collect()))
    want = sorted(map(tuple, scratch.collect()))
    assert got == want
    assert len(got) > 0


def test_screen_drop_accounting_uniform(spark):
    """Round-10 verdict item 8: the screen quartet reports drops
    uniformly. After a drain, its DRAINS record carries per-screen
    observed totals: the minhash screen
    accounts every arrival and its short-doc bypass; the ANN screen
    accounts arrivals and flagged pairs exactly."""
    from pyspark.sql import functions as F

    from sfdc_cdc_aws_spark.sources import load_table
    from sfdc_cdc_aws_spark.streaming.ingest_ann import (
        VEC_ARRIVAL_MOD,
        stream_ann_ingest,
    )
    from sfdc_cdc_aws_spark.streaming.ingest_dedup import (
        ARRIVAL_MOD,
        stream_minhash_ingest,
    )
    from sfdc_cdc_aws_spark.streaming.job import DRAINS

    mh = stream_minhash_ingest(spark, SF)
    obs = DRAINS["minhash_ingest"]
    n_arrivals = (
        load_table(spark, SF, "documents")
        .where(F.col("doc_id") % ARRIVAL_MOD == 0)
        .count()
    )
    assert obs["arrivals.n_in"] == n_arrivals
    assert 0 < obs["arrivals.n_screenable"] <= obs["arrivals.n_in"]
    # every (pair, shared-band) join row was observed pre-aggregation
    total_shared = mh.agg(F.sum("n_shared_bands")).collect()[0][0]
    assert obs["band_hits.n_hits"] == total_shared
    assert obs["batches"] >= 2  # maxFilesPerTrigger chopped the drain

    ann = stream_ann_ingest(spark, SF)
    obs2 = DRAINS["ann_ingest"]
    n_vecs = (
        load_table(spark, SF, "embeddings")
        .where(F.col("vec_id") % VEC_ARRIVAL_MOD == 0)
        .count()
    )
    assert obs2["arrivals.n_in"] == n_vecs
    assert obs2["flagged.n_pairs"] == ann.count()


def test_admit_merge_folds_index_between_batches(spark):
    """The continuous-loop property: (a) two drains are identical
    (batch order is deterministic), (b) some arrival is REJECTED
    against a PREVIOUSLY ADMITTED ARRIVAL — a verdict the static
    corpus screen cannot produce — and (c) every rejection is
    justified by a band match against corpus or an earlier-admitted
    arrival."""
    from pyspark.sql import functions as F

    from sfdc_cdc_aws_spark.operators.dedup import minhash_sig_df, sig_bands
    from sfdc_cdc_aws_spark.sources import load_table
    from sfdc_cdc_aws_spark.streaming.ingest_dedup import (
        ARRIVAL_MOD,
        stream_dedup_admit_merge,
    )

    r1 = sorted(map(tuple, stream_dedup_admit_merge(spark, SF).collect()))
    r2 = sorted(map(tuple, stream_dedup_admit_merge(spark, SF).collect()))
    assert r1 == r2 and len(r1) > 0
    verdicts = {d: (b, a) for d, b, a in r1}
    rejected = {d for d, (b, a) in verdicts.items() if not a}
    assert rejected, "fixture produced no rejections"

    # band relation over all docs, batch labels for arrivals
    bands = sig_bands(
        minhash_sig_df(load_table(spark, SF, "documents", widen=True))
    ).collect()
    corpus_buckets = {
        (r.band_id, r.bucket) for r in bands if r.doc_id % ARRIVAL_MOD != 0
    }
    arrival_bands: dict[int, set] = {}
    for r in bands:
        if r.doc_id % ARRIVAL_MOD == 0:
            arrival_bands.setdefault(r.doc_id, set()).add(
                (r.band_id, r.bucket)
            )
    found_arrival_only_rejection = False
    for d in rejected:
        b, _ = verdicts[d]
        mine = arrival_bands.get(d, set())
        hits_corpus = bool(mine & corpus_buckets)
        earlier_admitted = {
            (bb, bk)
            for d2, (b2, a2) in verdicts.items()
            if a2 and b2 < b
            for (bb, bk) in arrival_bands.get(d2, set())
        }
        hits_earlier = bool(mine & earlier_admitted)
        assert hits_corpus or hits_earlier, (d, b)
        if hits_earlier and not hits_corpus:
            found_arrival_only_rejection = True
    assert found_arrival_only_rejection, (
        "no rejection attributable ONLY to a previously admitted "
        "arrival — the fold-back is untested by this fixture"
    )


def test_cc_label_merge_equals_from_scratch(spark):
    """The maintenance contract, Spark-vs-Spark: patching the corpus
    labels with the arrival delta must equal re-running CC over the
    full pair graph (the DuckDB oracle re-proves this at sf0.01 in
    the parity lane)."""
    from sfdc_cdc_aws_spark.operators.dedup import dedup_clusters
    from sfdc_cdc_aws_spark.streaming.ingest_dedup import cc_label_merge

    merged = sorted(map(tuple, cc_label_merge(spark, SF).collect()))
    scratch = sorted(map(tuple, dedup_clusters(spark, SF).collect()))
    assert merged == scratch


def test_cc_label_merge_never_splits(spark):
    """Edge monotonicity: new edges can only merge standing clusters,
    so every standing cluster maps onto exactly ONE merged cluster
    and labels only decrease."""
    from sfdc_cdc_aws_spark.streaming.ingest_dedup import (
        cc_label_merge,
        ensure_cc_state,
    )

    state = {
        r.doc_id: r.cluster_id
        for r in spark.read.parquet(ensure_cc_state(spark, SF)).collect()
    }
    merged = {r.doc_id: r.cluster_id for r in cc_label_merge(spark, SF).collect()}
    old_to_new: dict[int, set[int]] = {}
    for doc, old in state.items():
        old_to_new.setdefault(old, set()).add(merged[doc])
        assert merged[doc] <= old, "a label increased under merge"
    assert all(len(v) == 1 for v in old_to_new.values()), "a cluster split"


def test_drain_restores_partition_overwrite_mode(spark):
    """The drains need dynamic partitionOverwriteMode on the OUTER
    session while their per-batch insertInto folds run (the hoisted
    relations resolve the conf through it) — but the set must not
    leak: a later query in the same session relying on static
    overwrite semantics would silently inherit dynamic (round-14
    verdict item 6). The conf must come back to its pre-drain value
    on the success path."""
    from sfdc_cdc_aws_spark.streaming.ingest_dedup import (
        stream_dedup_admit_bucketed,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key, "static")
    assert before.lower() == "static"  # the session default
    stream_dedup_admit_bucketed(spark, SF).collect()
    assert spark.conf.get(key, "static") == before


def test_drain_profile_covers_every_batch_within_wall(spark):
    """The verdict-drain skeleton records one DRAINS entry
    per registry key: every micro-batch is counted, and its
    sequential phases (reset, precompute, stream, result, cleanup) sum
    to no more than the drain's wall."""
    import time

    from sfdc_cdc_aws_spark.streaming.ingest_dedup import (
        N_ADMIT_BATCHES,
        stream_dedup_admit_bucketed,
    )
    from sfdc_cdc_aws_spark.streaming.job import DRAINS

    DRAINS.pop("stream_dedup_admit_bucketed", None)
    t0 = time.monotonic()
    stream_dedup_admit_bucketed(spark, SF)
    wall = time.monotonic() - t0
    prof = DRAINS["stream_dedup_admit_bucketed"]
    assert prof["batches"] == N_ADMIT_BATCHES
    assert set(prof["phases"]) >= {"precompute_s", "stream_s", "result_s"}
    assert 0 < sum(prof["phases"].values()) <= wall
    # the per-batch phases run inside the stream phase; the overlapped
    # writes each keep their own key
    assert {"verdict_s", "write_verdicts_s", "write_index_s"} <= set(prof["fold"])
    assert prof["fold"]["verdict_s"] <= prof["phases"]["stream_s"]


def test_sig_spread_width_calibration():
    """Byte-derived signature-cache spread (round-14 verdict item 1):
    tiny caches stay narrow (the round-14 unconditional 32-way spread
    multiplied scheduling cost across dedup_clusters' fixpoint), a
    mid-size single-file cache spreads proportionally to bytes, and a
    production multi-file cache that is already wide adds no shuffle."""
    from sfdc_cdc_aws_spark.operators.dedup import (
        _SIG_SPREAD_BYTES,
        _sig_spread_width,
    )

    par = 32
    # sf0.1-sized cache (~340 KB, one file): leave the scan alone
    assert _sig_spread_width(340 << 10, 1, par) == 1
    # mid-size single-file cache: one partition per _SIG_SPREAD_BYTES
    assert _sig_spread_width(8 * _SIG_SPREAD_BYTES, 1, par) == 8
    # beyond parallelism: capped at the session's width
    assert _sig_spread_width(1000 * _SIG_SPREAD_BYTES, 1, par) == par
    # production-scale multi-file cache: the scan is already at least
    # as wide as the cap — no repartition
    assert _sig_spread_width(100 * (256 << 20), 100, par) == 1
