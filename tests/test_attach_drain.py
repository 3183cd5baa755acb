"""``IncrementalSnapshot.attach`` drain discipline (streaming/merge.py),
checked on a few wire files of the smoke feed:

1. a drain publishes one epoch per data batch — no trailing zero-row
   micro-batch republishes the state, and the state still equals the
   batch latest-per-key over the landing;
2. a fresh checkpoint pins the stateful width at
   ``drain_state_width`` of the stream's landing, and a resume keeps
   the width from the offset log without walking the landing;
3. the session's confs are back to their prior values after
   ``attach`` returns and after a ``start()`` that raises.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest

import sfdc_cdc_aws_spark.streaming.job as job_mod
import sfdc_cdc_aws_spark.streaming.merge as merge_mod
from sfdc_cdc_aws_spark.session import scoped_conf
from sfdc_cdc_aws_spark.streaming.drift import attach_with_drift, parse_wire_fields
from sfdc_cdc_aws_spark.streaming.job import (
    REPLAY_DEDUP_HORIZON,
    WIRE_SCHEMA,
    changes_stream,
    drain_state_width,
    ensure_landing,
    parse_wire,
)
from sfdc_cdc_aws_spark.streaming.merge import IncrementalSnapshot

_NDB = "spark.sql.streaming.noDataMicroBatches.enabled"
_WIDTH = "spark.sql.shuffle.partitions"
COLS = ["entity_name", "uid", "record_id", "change_type", "commit_ts_ms", "replay_id"]


def _landing(spark, sf_dir, tmp_path, n_files: int) -> tuple[str, list[str]]:
    """A landing holding the first ``n_files`` wire files of the smoke
    feed (in replay order), plus the files not landed yet."""
    feed = ensure_landing(spark, sf_dir)
    files = sorted(glob.glob(os.path.join(feed, "part-*.json")))
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for f in files[:n_files]:
        shutil.copy(f, landing)
    return landing, files[n_files:]


def _stream(spark, landing):
    return changes_stream(spark, landing, max_files_per_trigger=1).select(*COLS)


def _input_rows(q) -> list[int]:
    return [
        (p if isinstance(p, dict) else json.loads(p.json))["numInputRows"]
        for p in q.recentProgress
    ]


def _offset_width(ckpt: str, batch: int) -> str:
    with open(os.path.join(ckpt, "offsets", str(batch))) as f:
        f.readline()  # log version
        return json.loads(f.readline())["conf"][_WIDTH]


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*COLS).collect())


def test_two_file_landing_publishes_exactly_two_epochs(spark, sf_dir, tmp_path):
    landing, _ = _landing(spark, sf_dir, tmp_path, 2)
    snap = IncrementalSnapshot(spark, str(tmp_path / "state"), keep_epochs=10)
    q = snap.attach(_stream(spark, landing), str(tmp_path / "ckpt"))
    q.awaitTermination()

    assert snap.epochs() == [0, 1]
    assert snap._read_manifest()["epoch"] == 1
    rows = _input_rows(q)
    assert len(rows) == 2 and all(n > 0 for n in rows), rows
    wire = spark.read.schema(WIRE_SCHEMA).json(landing)
    assert _rows(snap.read()) == _rows(merge_mod._latest_per_key(parse_wire(wire)))


def test_drift_attach_shares_the_discipline(spark, sf_dir, tmp_path):
    landing, _ = _landing(spark, sf_dir, tmp_path, 2)
    snap = IncrementalSnapshot(spark, str(tmp_path / "state"), keep_epochs=10)
    wire = spark.readStream.schema(WIRE_SCHEMA).option("maxFilesPerTrigger", 1)
    st = (
        parse_wire_fields(wire.json(landing))
        .withWatermark("commit_ts", REPLAY_DEDUP_HORIZON)
        .dropDuplicates(["replay_id", "record_id"])
    )
    ckpt = str(tmp_path / "ckpt")
    q = attach_with_drift(snap, st, ckpt)
    q.awaitTermination()

    assert snap.epochs() == [0, 1]
    assert all(n > 0 for n in _input_rows(q))
    assert _offset_width(ckpt, 0) == str(drain_state_width(spark, landing))


def test_width_pinned_at_creation_and_kept_on_resume(
    spark, sf_dir, tmp_path, monkeypatch
):
    landing, rest = _landing(spark, sf_dir, tmp_path, 2)
    ckpt = str(tmp_path / "ckpt")
    width = str(drain_state_width(spark, landing))
    assert width != spark.conf.get(_WIDTH)  # the pin is observable
    snap = IncrementalSnapshot(spark, str(tmp_path / "state"))
    snap.attach(_stream(spark, landing), ckpt).awaitTermination()
    assert _offset_width(ckpt, 0) == width

    # resume: more files land; the width comes from the offset log and
    # the landing is not walked again
    shutil.copy(rest[0], landing)

    def no_walk(*_a, **_k):
        raise AssertionError("resume must not size the width again")

    monkeypatch.setattr(job_mod, "drain_state_width", no_walk)
    q = snap.attach(_stream(spark, landing), ckpt)
    q.awaitTermination()
    assert _input_rows(q) and all(n > 0 for n in _input_rows(q))
    assert _offset_width(ckpt, 2) == width
    assert snap._read_manifest()["epoch"] == 2


def test_session_confs_restored_after_attach_and_failed_start(spark, sf_dir, tmp_path):
    landing, _ = _landing(spark, sf_dir, tmp_path, 1)
    prior = {_NDB: "true", _WIDTH: "5"}  # neither is what attach pins
    snap = IncrementalSnapshot(spark, str(tmp_path / "state"))
    with scoped_conf(spark, prior):
        q = snap.attach(_stream(spark, landing), str(tmp_path / "ckpt"))
        assert {k: spark.conf.get(k) for k in prior} == prior
        q.awaitTermination()

        # sorting a non-aggregated stream is rejected inside start()
        bad = _stream(spark, landing).orderBy("replay_id")
        with pytest.raises(Exception, match="(?i)sort"):
            snap.attach(bad, str(tmp_path / "ckpt_bad"))
        assert {k: spark.conf.get(k) for k in prior} == prior
