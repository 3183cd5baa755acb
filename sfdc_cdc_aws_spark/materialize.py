"""One materialization primitive for every on-disk fixture.

Several queries read MATERIALIZED state (landing dirs, band indexes,
IVF cells, bucketed tables) derived from the source parquet. Every
such fixture lives at::

    /tmp/sfdc_<kind>/<fixture>_<fingerprint>

``<fixture>`` is the scale-factor dir's basename (``sf0.001`` →
``sf0_001``); ``<fingerprint>`` hashes the (path, mtime_ns, size) of
the source tables the builder reads together with :func:`code_digest`
— a digest of the whole package's ``.py`` sources. Package-wide, not
per builder: builders derive through helpers in other modules
(``ensure_landing`` through ``cdc_feed.envelopes``, the band index
through ``dedup.minhash_sig_agg_df``), so a change anywhere in the
derivation must move the key. A regenerated source moves only the
builders that read it.

:func:`materialize` publishes a directory fixture the way
``streaming/merge.py`` commits an epoch: on a miss it takes an
``flock`` on ``/tmp/sfdc_<kind>/<fixture>.lock``, checks again,
builds into a uniquely named sibling, fsyncs it, and ``os.rename``s
it into place. A published dir is therefore complete by
construction — no ``_SUCCESS`` probe, and a reader never sees a
partial build. Under the same lock it sweeps superseded fingerprints
and crashed temp dirs of the SAME fixture only, so an sf0.001 test
run and an sf0.01 bench do not thrash each other.

Catalog-table fixtures (bucketed tables need ``saveAsTable``) take
their tag, lock and stale cleanup from :func:`catalog_fixture`.
"""

from __future__ import annotations

import fcntl
import functools
import hashlib
import os
import re
import shutil
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

from sfdc_cdc_aws_spark.sources.tables import table_path

ROOT = "/tmp"

_FP_LEN = 12


@contextmanager
def file_lock(path: str, blocking: bool = True) -> Iterator[None]:
    """Exclusive ``flock`` on ``path`` (created if missing), released
    by the kernel if the holder dies — no stale-lock recovery. With
    ``blocking=False`` a lock held elsewhere raises BlockingIOError
    instead of waiting."""
    fd = os.open(path, os.O_WRONLY | os.O_CREAT, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX if blocking else fcntl.LOCK_EX | fcntl.LOCK_NB)
        yield
    finally:
        os.close(fd)


def fsync_path(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def fsync_tree(top: str) -> None:
    """fsync every file and directory under ``top``: a rename or a
    manifest flip alone is not durability — a power loss before the
    kernel flushes the data pages would publish a torn dir. (On
    HDFS/S3 the store's close/commit semantics replace this.)"""
    for root, _dirs, files in os.walk(top):
        for f in files:
            fsync_path(os.path.join(root, f))
        fsync_path(root)


@functools.cache
def code_digest() -> str:
    """sha1 over every ``.py`` file of the package (relative path +
    bytes), computed once per process."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha1()
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, pkg).encode() + b"\0")
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _fixture_name(sf_dir: str) -> str:
    """The scale-factor dir's basename, made safe (and lower-case, as
    the catalog stores it) for table names."""
    return re.sub(r"\W", "_", os.path.basename(sf_dir.rstrip("/"))).lower()


def fixture_tag(sf_dir: str, tables: tuple[str, ...]) -> str:
    """``<fixture>_<fingerprint>`` over the named source tables plus
    the package code digest."""
    h = hashlib.sha1(code_digest().encode())
    for t in tables:
        p = table_path(sf_dir, t)
        st = os.stat(p)
        h.update(f"{p}:{st.st_mtime_ns}:{st.st_size};".encode())
    return f"{_fixture_name(sf_dir)}_{h.hexdigest()[:_FP_LEN]}"


def kind_dir(kind: str) -> str:
    return os.path.join(ROOT, f"sfdc_{kind}")


@contextmanager
def _fixture_lock(root: str, sf_dir: str) -> Iterator[None]:
    os.makedirs(root, exist_ok=True)
    with file_lock(os.path.join(root, f"{_fixture_name(sf_dir)}.lock")):
        yield


def _prune(root: str, sf_dir: str, keep: str) -> None:
    """Remove superseded fingerprints and crashed temp dirs of this
    fixture (caller holds the fixture lock, so no temp dir is live)."""
    stale = re.compile(
        rf"{re.escape(_fixture_name(sf_dir))}_[0-9a-f]{{{_FP_LEN}}}(\.tmp-[0-9a-f]+)?"
    )
    for name in os.listdir(root):
        if name != keep and stale.fullmatch(name):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def materialize(
    kind: str,
    sf_dir: str,
    tables: tuple[str, ...],
    build: Callable[[str], None],
) -> str:
    """Path of the published ``kind`` fixture for ``sf_dir``; on a
    miss, ``build(tmp)`` writes it into a fresh dir that is fsync'd and
    atomically renamed into place (see module docstring). A ``build``
    that raises publishes nothing; its temp dir is swept by the next
    miss."""
    root = kind_dir(kind)
    tag = fixture_tag(sf_dir, tables)
    out = os.path.join(root, tag)
    if os.path.isdir(out):
        return out
    with _fixture_lock(root, sf_dir):
        if not os.path.isdir(out):
            _prune(root, sf_dir, keep=tag)
            tmp = f"{out}.tmp-{uuid.uuid4().hex[:8]}"
            build(tmp)
            fsync_tree(tmp)
            os.rename(tmp, out)
            fsync_path(root)
    return out


@contextmanager
def catalog_fixture(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    tables: tuple[str, ...],
    prefixes: tuple[str, ...],
) -> Iterator[tuple[str, str]]:
    """Tag, lock and stale cleanup for fixtures published as catalog
    tables named ``<prefix>_<tag>`` with their files under
    ``/tmp/sfdc_<kind>/<tag>/``. Yields ``(tag, dir)`` with the
    fixture lock held and this fixture's superseded tables dropped
    and their dirs removed; the caller builds its missing tables."""
    root = kind_dir(kind)
    tag = fixture_tag(sf_dir, tables)
    stale = re.compile(
        rf"(?:{'|'.join(prefixes)})_{re.escape(_fixture_name(sf_dir))}_[0-9a-f]{{{_FP_LEN}}}"
    )
    with _fixture_lock(root, sf_dir):
        for t in spark.catalog.listTables():
            if stale.fullmatch(t.name) and not t.name.endswith(tag):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        _prune(root, sf_dir, keep=tag)
        yield tag, os.path.join(root, tag)
