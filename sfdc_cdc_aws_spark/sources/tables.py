"""Snapshot-table source: the engine's equivalent of the reference's
SOQL access to live entity tables (worker/lambda/app.py:97-101) is a
columnar parquet scan — Catalyst pushes filters and prunes columns
into the scan, which is what replaces ``SELECT <fields> WHERE Id IN``
at scale.

Schema introspection (reference ``getObjectFields``, app.py:115-118)
is the parquet footer's schema, inferred once per file set and then
pinned: :func:`read_parquet` is the one batch read of repo-owned
parquet. A read without a schema launches a Spark inference job
(``mergeSchemasInParallel`` runs even for one file), so the inferred
schema is cached in-process under the path and every data file's
(relative name, size, ``st_mtime_ns``); later reads of the same files
pass it to the reader and launch no job. A table rewritten in place
lists different files and is inferred again. Readers whose writer
fixes the schema in code pass that schema and never infer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def data_files(path: str) -> list[tuple[str, int, int]]:
    """(name relative to ``path``, size, ``st_mtime_ns``) of every file
    under the directory ``path``, or of the file ``path`` itself."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return [("", st.st_size, st.st_mtime_ns)]
    out = []
    for dirpath, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    return out


def scan_splits(total_bytes: int, n_files: int) -> int:
    """Scan splits the parquet file source makes of ``n_files`` files
    of ``total_bytes``, estimated from the listing instead of planning
    the scan: ceil(packed bytes / maxPartitionBytes), each file charged
    openCostInBytes (4 MB), at least 1 and at most one split per file."""
    return max(1, min(n_files, -(-(total_bytes + n_files * (4 << 20)) // (128 << 20))))


_SCHEMAS: dict[tuple, T.StructType] = {}
_SCHEMA_CACHE_MAX = 1024


def read_parquet(
    spark: SparkSession, *paths: str, schema: T.StructType | str | None = None
) -> DataFrame:
    """Batch read of repo-owned parquet that launches no Spark job:
    with ``schema`` it is pinned; without, the inferred schema of the
    listed files is cached (module docstring) and only a new file set
    pays the inference job. The cache holds at most _SCHEMA_CACHE_MAX
    file sets; past that it starts over."""
    if schema is None:
        key = tuple((p, tuple(data_files(p))) for p in paths)
        schema = _SCHEMAS.get(key)
        if schema is None:
            if len(_SCHEMAS) >= _SCHEMA_CACHE_MAX:
                _SCHEMAS.clear()
            schema = _SCHEMAS[key] = spark.read.parquet(*paths).schema
    return spark.read.schema(schema).parquet(*paths)


def _ensure_session_confs(spark: SparkSession) -> None:
    """Correctness-critical runtime confs, enforced on WHATEVER session
    the caller hands us (the driver harness builds its own): the
    nanos-as-long flag keeps the TIMESTAMP(NANOS) events table
    readable, and a UTC session timezone keeps every timestamp
    rendering oracle-comparable. Both are runtime-settable SQL confs;
    engine-owned sessions (session.py) already set them at build
    time, so this is a no-op there."""
    for key, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        if spark.conf.get(key, None) != val:
            spark.conf.set(key, val)


# columns stored as TIMESTAMP(NANOS) in the driver's parquet; read as
# long (session config spark.sql.legacy.parquet.nanosAsLong) and
# converted to a microsecond timestamp here. Conversion cost: one div
# in codegen. Caveat: predicates on the converted column no longer
# reach parquet row-group stats — queries that need that pushdown at
# scale should filter on the raw long (see bench notes).
_NANOS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, widen: bool = False
) -> DataFrame:
    """Read a snapshot table.

    ``widen=True`` requests full-core parallelism for CPU-bound
    per-row compute (signature hashing, vector math): if the scan
    yields fewer partitions than the cluster's parallelism — the
    single-row-group small-file case — round-robin repartition it.
    The scan's width is estimated from the file listing
    (:func:`scan_splits`), so deciding costs no scan planning.
    On a production multi-file table the condition is false and no
    shuffle is added; compute-heavy callers opt in, scan-bound
    queries never pay for it.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    _ensure_session_confs(spark)
    path = table_path(sf_dir, name)
    df = read_parquet(spark, path)
    for c in _NANOS_COLS.get(name, ()):
        # the driver writes events.ts as TIMESTAMP(NANOS), which the
        # nanosAsLong conf surfaces as a long → convert ns→µs; a
        # REGENERATED source may carry a plain µs timestamp instead,
        # in which case there is nothing to convert — branch on the
        # actual physical type rather than assuming the driver's
        if isinstance(df.schema[c].dataType, (T.LongType, T.IntegerType)):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(df.schema[c].dataType, T.TimestampNTZType):
            # session TZ is UTC, so NTZ → instant is identity
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    if widen:
        target = spark.sparkContext.defaultParallelism
        files = data_files(path)
        if scan_splits(sum(f[1] for f in files), len(files)) < target:
            df = df.repartition(target)
    return df


def object_fields(spark: SparkSession, sf_dir: str, name: str) -> list[str]:
    """Runtime schema discovery — the Spark analog of the reference's
    ``describe()`` call (app.py:115-118): field names come from the
    snapshot's parquet footer, not a compile-time schema.
    """
    return load_table(spark, sf_dir, name).schema.fieldNames()
