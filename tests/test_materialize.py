"""The one materialization primitive (sfdc_cdc_aws_spark/materialize.py).

Most cases need no JVM: ``build`` is a plain callable that writes
files, and the source "tables" are stub files whose stat is all the
fingerprint reads. Every case points ``materialize.ROOT`` at a temp
dir, so the shared ``/tmp`` fixtures are never touched.
"""

from __future__ import annotations

import multiprocessing
import os
import time
from functools import partial

import pytest

from sfdc_cdc_aws_spark import materialize as M
from sfdc_cdc_aws_spark.prewarm import PREWARMERS, _resolve
from sfdc_cdc_aws_spark.sources.tables import TABLES, table_path

N_PARTS = 8


def _stub_sf(path) -> str:
    os.makedirs(path)
    for t in TABLES:
        with open(table_path(str(path), t), "wb") as f:
            f.write(b"stub")
    return str(path)


def _touch(sf_dir: str, table: str) -> None:
    p = table_path(sf_dir, table)
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


def _slow_build(counter: str, out: str) -> None:
    os.makedirs(out)
    for i in range(N_PARTS):
        with open(os.path.join(out, f"part-{i}"), "w") as f:
            f.write("x")
        time.sleep(0.05)
    with open(counter, "a") as f:
        f.write("built\n")


def _race(root: str, sf_dir: str, counter: str, go, results) -> None:
    M.ROOT = root
    go.wait()
    build = partial(_slow_build, counter)
    results.put(M.materialize("race", sf_dir, ("documents",), build))


@pytest.fixture
def root(tmp_path, monkeypatch) -> str:
    r = str(tmp_path / "root")
    os.makedirs(r)
    monkeypatch.setattr(M, "ROOT", r)
    return r


def test_two_process_race_builds_once_and_never_exposes_a_partial_dir(
    root, tmp_path
):
    sf = _stub_sf(tmp_path / "sfR")
    counter = str(tmp_path / "builds")
    out = os.path.join(M.kind_dir("race"), M.fixture_tag(sf, ("documents",)))
    ctx = multiprocessing.get_context("spawn")
    go, results = ctx.Event(), ctx.Queue()
    procs = [
        ctx.Process(target=_race, args=(root, sf, counter, go, results))
        for _ in range(2)
    ]
    for p in procs:
        p.start()
    go.set()
    while any(p.is_alive() for p in procs):
        if os.path.isdir(out):
            assert len(os.listdir(out)) == N_PARTS, "reader saw a partial dir"
        time.sleep(0.005)
    for p in procs:
        p.join()
        assert p.exitcode == 0
    assert results.get(timeout=10) == results.get(timeout=10) == out
    assert open(counter).read().splitlines() == ["built"]
    assert sorted(os.listdir(out)) == [f"part-{i}" for i in range(N_PARTS)]
    # only the published dir and the lock file remain
    assert sorted(os.listdir(M.kind_dir("race"))) == sorted(
        [os.path.basename(out), "sfr.lock"]
    )


def test_failed_build_publishes_nothing_and_next_call_sweeps_it(root, tmp_path):
    sf = _stub_sf(tmp_path / "sfF")

    def crash(out: str) -> None:
        os.makedirs(out)
        open(os.path.join(out, "part-0"), "w").close()
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        M.materialize("crash", sf, ("documents",), crash)
    kdir = M.kind_dir("crash")
    leftovers = [n for n in os.listdir(kdir) if ".tmp-" in n]
    assert len(leftovers) == 1
    assert not any(
        n.startswith("sff_") and ".tmp-" not in n for n in os.listdir(kdir)
    ), "a failed build was published"

    out = M.materialize("crash", sf, ("documents",), os.makedirs)
    assert os.path.isdir(out)
    assert not [n for n in os.listdir(kdir) if ".tmp-" in n]
    # fast path: a published dir is never rebuilt
    assert M.materialize("crash", sf, ("documents",), crash) == out


class _Resolved(Exception):
    pass


#: the source tables each prewarmed builder's fixture is keyed on
READS = {
    "ensure_landing": {"events"},
    "ensure_band_index": {"documents"},
    "ensure_doc_landing": {"documents"},
    "ensure_band_delta": {"documents"},
    "ensure_admit_landing": {"documents"},
    "ensure_cc_state": {"documents"},
    "ensure_band_index_table": {"documents"},
    "ensure_admit_bkt_table": {"documents"},
    "ensure_keep_best_state": {"documents"},
    "ensure_quartet_landing": {"documents"},
    "ensure_quartet_bkt_tables": {"documents", "embeddings"},
    "ensure_vec_landing": {"embeddings"},
    "ensure_dsir_model": {"documents"},
    "ensure_corpus_landing": {"documents"},
    "ensure_zorder_layout": {"orders"},
    "ensure_range_sorted_layout": {"lineitem"},
    "ensure_ivf_index": {"embeddings"},
    "ensure_ivfpq_index": {"embeddings"},
    "_ensure_bucketed": {"orders", "customer"},
    "_ensure_format_copies": {"events"},
    "minhash_signatures": {"documents"},
}


def _builder_tags(monkeypatch, sf_dir: str) -> dict[str, str]:
    """{builder: fixture tag} for every real prewarmed builder, read
    off its first ``fixture_tag`` call — nothing is built (the spy
    raises before any Spark call, so no session is needed)."""
    real = M.fixture_tag

    def spy(sf, tables):
        raise _Resolved(real(sf, tables))

    tags = {}
    with monkeypatch.context() as m:
        m.setattr(M, "fixture_tag", spy)
        for spec in PREWARMERS:
            with pytest.raises(_Resolved) as e:
                _resolve(spec)(None, sf_dir)
            tags[spec.rsplit(":", 1)[1]] = str(e.value)
    return tags


def test_code_digest_moves_every_fixture(monkeypatch, tmp_path):
    sf = _stub_sf(tmp_path / "sfC")
    before = _builder_tags(monkeypatch, sf)
    assert set(before) == set(READS)
    monkeypatch.setattr(M, "code_digest", lambda: "0" * 40)
    after = _builder_tags(monkeypatch, sf)
    assert all(after[b] != before[b] for b in READS)


@pytest.mark.parametrize(
    "table", ["documents", "embeddings", "events", "orders", "lineitem", "customer"]
)
def test_touching_a_source_moves_only_its_readers(monkeypatch, tmp_path, table):
    sf = _stub_sf(tmp_path / "sfS")
    before = _builder_tags(monkeypatch, sf)
    _touch(sf, table)
    after = _builder_tags(monkeypatch, sf)
    moved = {b for b in READS if after[b] != before[b]}
    assert moved == {b for b, reads in READS.items() if table in reads}


def test_superseded_fingerprint_removed_other_fixture_kept(root, tmp_path):
    a = _stub_sf(tmp_path / "sfA")
    b = _stub_sf(tmp_path / "sfB")
    mk = partial(M.materialize, "gc", tables=("documents",), build=os.makedirs)
    a1 = mk(sf_dir=a)
    b1 = mk(sf_dir=b)
    _touch(a, "documents")
    a2 = mk(sf_dir=a)
    assert a2 != a1
    assert not os.path.exists(a1), "superseded fingerprint left behind"
    assert os.path.isdir(a2) and os.path.isdir(b1), "another fixture was swept"
