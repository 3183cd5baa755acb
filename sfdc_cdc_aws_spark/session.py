"""SparkSession factory tuned for this engine.

Local mode is the test harness; the configs are chosen to also be the
right defaults on a real cluster at 100 TB: AQE on (runtime join
strategy + skew splitting + partition coalescing), shuffle partitions
sized to cores locally (on a cluster this would be ~2-3x total cores
or left to AQE), Arrow enabled for the Pandas-UDF path, UTC session
timezone so results are oracle-comparable.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


# One BLAS thread per Python worker: with 32 concurrent tasks each
# spawning an OpenBLAS/OMP pool, numpy matmuls in mapInPandas thrash
# (measured 2-9x slowdowns on topk_cosine_numpy).  The parallelism
# budget belongs to Spark tasks, not to nested BLAS pools — same rule
# on a real cluster (executor cores x 1 BLAS thread).
_BLAS_ENV = {
    "OPENBLAS_NUM_THREADS": "1",
    "OMP_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
    "VECLIB_MAXIMUM_THREADS": "1",
}


def get_session(app_name: str = "sfdc_cdc_aws_spark", cpus: int | None = None) -> SparkSession:
    """The engine's session (module docstring).

    PySpark's per-call call-site capture is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``): with it
    on, every ``F.*``/``Column`` call pays about three extra JVM round
    trips to record its Python origin for error messages (``F.col``
    measured 1.75 ms on vs 0.52 ms off on a 4-core VM), which adds up
    over the hundreds of column expressions a query builds. The
    trade-off: an analysis error no longer names the Python line that
    built the failing expression; naming the failing key, batch and
    epoch is the job of the planned observability records (ROADMAP,
    "One observability path for runs and drains")."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    # local mode: Python workers inherit the driver process env, so set
    # it here (before the JVM forks); executorEnv covers real clusters.
    for k, v in _BLAS_ENV.items():
        os.environ.setdefault(k, v)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Files at 100 TB: bound scan-task size so partitions fit memory.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata stores events.ts as TIMESTAMP(NANOS), which the
        # parquet reader rejects; read it as a long and convert at load
        # (sources/tables.py). Other tables use ms timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # managed/bucketed tables land outside the repo tree
        .config("spark.sql.warehouse.dir", "/tmp/sfdc_warehouse")
    )
    for k, v in _BLAS_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set session SQL confs for the body of a ``with`` block. On exit
    — the failure path too — each key gets back its prior value, or is
    unset again if it was unset before."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def truncate_lineage(df):
    """Cut a growing or multiply-consumed plan's lineage. Default is
    ``localCheckpoint`` (executor-memory blocks — fast, but lost with
    an executor; acceptable on local[*]); set
    ``SPARK_GRAFT_CHECKPOINT_DIR`` to a durable path to switch every
    caller to a *reliable* ``checkpoint`` so a 1000-executor run
    survives executor loss mid-job. Shared by the CC loop
    (operators/dedup.py), the BPE training loop
    (operators/curation.py), bm25's reused per-doc relation
    (operators/text.py), and the ANN recall audit
    (operators/similarity.py) — one escape hatch, not one per module.
    """
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint()
    return df.localCheckpoint()
