"""The one drain start site and its one record (streaming/job.py):

1. the package starts a streaming query only in ``job.drain``, keeps
   no ``LAST_*`` global and registers no progress listener;
2. every harvested drain assigns its whole ``DRAINS`` record, so a
   stateless drain never shows an earlier stateful drain's state;
3. a drain whose progress buffer filled (and may have evicted
   batches) raises instead of reporting a short count;
4. a verdict drain streams a glob, so it keeps the session's state
   width instead of sizing one from a path that names no directory.
"""

from __future__ import annotations

import ast
import json
import os
import shutil
from pathlib import Path

import pytest

from sfdc_cdc_aws_spark.session import scoped_conf
from sfdc_cdc_aws_spark.streaming.ingest_dedup import (
    admit_state_base,
    ensure_admit_landing,
    run_admit_drain,
)
from sfdc_cdc_aws_spark.streaming.job import (
    DRAINS,
    WIRE_SCHEMA,
    changes_stream,
    ensure_landing,
    parse_wire,
    run_available_now,
    stream_landing,
)

PKG = Path(__file__).resolve().parent.parent / "sfdc_cdc_aws_spark"
_WIDTH = "spark.sql.shuffle.partitions"


def _enclosing_functions(tree: ast.AST) -> dict[ast.AST, str]:
    """Every node → the name of the innermost function around it."""
    owner: dict[ast.AST, str] = {}

    def visit(node: ast.AST, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            name = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else fn
            )
            owner[child] = name
            visit(child, name)

    visit(tree, "<module>")
    return owner


def test_one_start_site_no_last_globals_no_listener():
    write_streams, last_names, listeners = [], [], []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        tree = ast.parse(path.read_text(), filename=rel)
        owner = _enclosing_functions(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "writeStream":
                write_streams.append((rel, owner[node]))
            for name in (
                getattr(node, "id", None),
                getattr(node, "attr", None),
                getattr(node, "name", None),
                getattr(node, "asname", None),
            ):
                if isinstance(name, str) and name.split(".")[-1].startswith("LAST_"):
                    last_names.append((rel, node.lineno, name))
            if isinstance(node, ast.ClassDef):
                for base in node.bases:
                    base_name = getattr(base, "id", None) or getattr(base, "attr", None)
                    if base_name == "StreamingQueryListener":
                        listeners.append((rel, node.name))
    assert write_streams == [("streaming/job.py", "drain")], write_streams
    assert last_names == [], last_names
    assert listeners == [], listeners


def test_stateless_drain_replaces_a_stateful_record(spark, sf_dir):
    landing = ensure_landing(spark, sf_dir)
    run_available_now(changes_stream(spark, landing), "drain_rec", no_data_batch=False)
    stateful = DRAINS["drain_rec"]
    assert stateful["max_state_rows"] > 0, stateful

    plain = parse_wire(spark.readStream.schema(WIRE_SCHEMA).json(landing))
    run_available_now(plain, "drain_rec")
    record = DRAINS["drain_rec"]
    assert record["batches"] >= 1, record
    assert record["max_state_rows"] == 0, record
    assert record["max_state_bytes"] == 0, record
    assert record["shuffle_partitions"] == 0, record


@pytest.mark.parametrize("retention", ["1", "3"])
def test_full_progress_buffer_raises(spark, sf_dir, retention):
    """Spark keeps at most retention - 1 progress entries: 1 keeps none,
    3 keeps the last 2 of the drain's 4 batches."""
    landing = ensure_landing(spark, sf_dir)
    files = [f for f in os.listdir(landing) if f.startswith("part-")]
    assert len(files) >= 4, files
    stream = changes_stream(spark, landing, max_files_per_trigger=len(files) // 4)
    key = "spark.sql.streaming.numRecentProgressUpdates"
    before = spark.conf.get(key)
    DRAINS.pop("drain_buf", None)
    with scoped_conf(spark, {key: retention}):
        with pytest.raises(RuntimeError, match="progress buffer"):
            run_available_now(stream, "drain_buf", no_data_batch=False)
    assert "drain_buf" not in DRAINS
    assert spark.conf.get(key) == before


def test_verdict_drain_keeps_the_session_width(spark, sf_dir):
    landing = ensure_admit_landing(spark, sf_dir)
    # a projected stream has a resolved file-source leaf, whose path is
    # the glob itself: no directory, so no width is sized from it
    globbed = spark.readStream.schema("doc_id long").parquet(f"{landing}/b*")
    assert stream_landing(globbed.select("doc_id")) is None
    assert stream_landing(changes_stream(spark, ensure_landing(spark, sf_dir)))
    state = admit_state_base(landing)
    shutil.rmtree(state, ignore_errors=True)
    try:
        run_admit_drain(spark, sf_dir, keep_state=True)
        with open(os.path.join(state, "ckpt", "offsets", "0")) as f:
            f.readline()  # log version
            conf = json.loads(f.readline())["conf"]
        assert conf[_WIDTH] == spark.conf.get(_WIDTH), conf
    finally:
        shutil.rmtree(state, ignore_errors=True)
