"""Jobs only for data: a repo-owned parquet read launches no Spark job.

A ``spark.read.parquet`` without a schema runs one schema-inference
job, even for one file. The package reads parquet through
``sources.tables.read_parquet`` (a pinned schema, or the in-process
schema cache), the OCC state pins its reads to the schema its
``MANIFEST`` carries, and an upsert runs one latest-per-key aggregate.
These tests hold those properties by counting Spark jobs per job
group and by inspecting the package source."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

import sfdc_cdc_aws_spark
from sfdc_cdc_aws_spark.registry import load_all
from sfdc_cdc_aws_spark.sources.tables import (
    TABLES,
    data_files,
    load_table,
    read_parquet,
    scan_splits,
    table_path,
)
from sfdc_cdc_aws_spark.streaming.merge import IncrementalSnapshot

# the batch keys the benchmark's batch_mix lane loops over
BATCH_MIX_KEYS = (
    "cdc_latest_snapshot",
    "exact_dedup_docs",
    "leakage_safe_split",
    "tpch_q3_shipping",
    "regexp_suite",
    "contamination_check",
    "dup_span_coverage",
)


def _jobs(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _schema_less_parquet_reads(tree: ast.AST):
    """Line numbers of ``<...>.read<...>.parquet(...)`` calls whose
    reader chain has no ``.schema(...)``."""
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            continue
        chain, cur = [], node.func.value
        while isinstance(cur, (ast.Call, ast.Attribute)):
            if isinstance(cur, ast.Attribute):
                chain.append(cur.attr)
                cur = cur.value
            else:
                cur = cur.func
        if "read" in chain and "schema" not in chain:
            yield node.lineno


def test_no_schema_less_parquet_read_in_package():
    """Every batch parquet read in the package goes through
    ``read_parquet``; its cache-miss inference is the one schema-less
    read left."""
    pkg_root = os.path.dirname(sfdc_cdc_aws_spark.__file__)
    found = []
    for dirpath, _dirs, files in os.walk(pkg_root):
        for fname in files:
            if fname.endswith(".py"):
                path = os.path.join(dirpath, fname)
                rel = os.path.relpath(path, pkg_root)
                tree = ast.parse(open(path).read(), filename=path)
                found += [f"{rel}:{n}" for n in _schema_less_parquet_reads(tree)]
    helper = ast.parse(open(os.path.join(pkg_root, "sources", "tables.py")).read())
    fn = next(
        n for n in helper.body if isinstance(n, ast.FunctionDef) and n.name == "read_parquet"
    )
    allowed = {f"sources/tables.py:{n}" for n in _schema_less_parquet_reads(fn)}
    assert len(allowed) == 1
    assert sorted(set(found) - allowed) == []


def test_warm_batch_mix_builds_launch_no_jobs(spark, sf_dir):
    """Building a key's DataFrame (``spec.fn``, no write) of each
    batch_mix key, warm, launches 0 Spark jobs."""
    specs = load_all()
    for key in BATCH_MIX_KEYS:
        specs[key].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    jobs = {
        key: _jobs(spark, f"build_{key}", lambda key=key: specs[key].fn(spark, sf_dir))[1]
        for key in BATCH_MIX_KEYS
    }
    assert jobs == {key: 0 for key in BATCH_MIX_KEYS}


def _rows(spark, uids, ts: int):
    return spark.createDataFrame(
        [("Account", u, "UPDATE", ts, ts * 100_000 + u, f"r{u}") for u in uids],
        "entity_name string, uid long, change_type string, commit_ts_ms long, "
        "replay_id long, record_id string",
    )


def test_one_row_upsert_runs_at_most_five_jobs_none_inference(spark, tmp_path, monkeypatch):
    """A 1-row upsert into a preloaded state: one merge aggregate and
    write, the audit, and no schema-inference job (every parquet read
    it makes carries a schema)."""
    snap = IncrementalSnapshot(spark, str(tmp_path / "state"))
    snap.upsert(_rows(spark, range(2_000), 1))
    batch = _rows(spark, [7], 2)

    reads = []
    orig_schema, orig_parquet = DataFrameReader.schema, DataFrameReader.parquet

    def schema(self, s):
        self._pinned = True
        return orig_schema(self, s)

    def parquet(self, *paths, **opts):
        reads.append(getattr(self, "_pinned", False))
        return orig_parquet(self, *paths, **opts)

    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    _, n_jobs = _jobs(spark, "one_row_upsert", lambda: snap.upsert(batch))

    assert reads and all(reads), "an upsert read parquet without a schema"
    assert n_jobs <= 5
    assert snap.read().count() == 2_000
    assert snap.read().where("uid = 7").select("commit_ts_ms").first()[0] == 2


def test_one_row_upsert_runs_at_most_two_jobs(spark, tmp_path):
    """A 1-row upsert into a 2,000-row state runs the merge aggregate
    and its write; the audit reads the staged files on the driver."""
    snap = IncrementalSnapshot(spark, str(tmp_path / "state"))
    snap.upsert(_rows(spark, range(2_000), 1))
    batch = _rows(spark, [7], 2)
    _, n_jobs = _jobs(spark, "one_row_upsert_2", lambda: snap.upsert(batch))
    assert n_jobs <= 2
    assert snap._read_manifest()["rows"] == 2_000


def test_orphan_audit_runs_no_job_and_reads_the_writers_schema(spark, tmp_path):
    """Auditing an orphan epoch (no schema passed, as in crash
    recovery) launches no Spark job and returns the schema of the
    relation the writer wrote, from the parquet footer."""
    from sfdc_cdc_aws_spark.streaming.merge import _latest_per_key

    snap = IncrementalSnapshot(spark, str(tmp_path / "state"))
    snap.upsert(_rows(spark, range(2_000), 1))
    merged = _latest_per_key(
        snap.read().unionByName(_rows(spark, range(1_990, 2_010), 2))
    )
    orphan = snap._epoch_dir(1)
    merged.coalesce(4).write.parquet(orphan)

    audit, n_jobs = _jobs(spark, "orphan_audit", lambda: snap._audit(orphan))
    assert n_jobs == 0
    assert audit == {"rows": 2_010, "schema": merged.schema.jsonValue()}


def test_legacy_manifest_without_schema_is_read_by_inference(spark, tmp_path):
    """A MANIFEST written before the schema was recorded still reads,
    and the next upsert publishes one that carries it."""
    import json

    snap = IncrementalSnapshot(spark, str(tmp_path / "state"))
    snap.upsert(_rows(spark, range(10), 1))
    m, cols = snap._read_manifest(), snap.read().columns
    with open(snap._manifest_path, "w") as f:
        json.dump({"epoch": m["epoch"], "rows": m["rows"]}, f)
    assert snap.read().columns == cols
    snap.upsert(_rows(spark, [3], 2))
    assert "schema" in snap._read_manifest()
    assert snap.read().count() == 10


def test_source_rewritten_in_place_is_reinferred(spark, tmp_path):
    """A source table rewritten in place with an added column is read
    with its new schema, not the cached one."""
    sf = str(tmp_path / "sf")
    path = os.path.join(sf, "region.parquet")
    spark.range(3).select(
        F.col("id").alias("r_regionkey"), F.lit("x").alias("r_name")
    ).write.parquet(path)
    assert load_table(spark, sf, "region").columns == ["r_regionkey", "r_name"]

    spark.range(3).select(
        F.col("id").alias("r_regionkey"), F.lit("x").alias("r_name"), F.lit(1).alias("r_new")
    ).write.mode("overwrite").parquet(path)
    df = load_table(spark, sf, "region")
    assert df.columns == ["r_regionkey", "r_name", "r_new"]
    assert df.agg(F.sum("r_new")).first()[0] == 3


def test_cached_schema_read_launches_no_job(spark, tmp_path):
    """The first read of a file set infers (one job); a second read of
    the same files does not."""
    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    _, first = _jobs(spark, "first_read", lambda: read_parquet(spark, path))
    df, second = _jobs(spark, "second_read", lambda: read_parquet(spark, path))
    assert (first, second) == (1, 0)
    assert df.count() == 5


def test_session_skips_call_site_capture(spark, monkeypatch):
    """get_session turns off PySpark's per-call call-site capture."""
    import pyspark.errors.utils as eu

    monkeypatch.setattr(eu, "_enable_debugging_cache", None)
    assert eu.is_debugging_enabled() is False


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_widen_decision_matches_the_planned_scan(spark, sf):
    """``load_table(widen=True)`` decides from the listing
    (``scan_splits``) what it used to decide by planning the scan:
    widen when the scan has fewer splits than the session's
    parallelism."""
    par = spark.sparkContext.defaultParallelism
    for name in TABLES:
        path = table_path(sf, name)
        files = data_files(path)
        est = scan_splits(sum(f[1] for f in files), len(files))
        planned = read_parquet(spark, path).rdd.getNumPartitions()
        assert (est < par) == (planned < par), (name, est, planned)
