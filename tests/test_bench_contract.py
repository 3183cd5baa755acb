"""The bench stdout contract: the driver keeps only the last ~2000
bytes of stdout and parses the last line as JSON — rounds 1-3 all
recorded parsed:null because the full per-query map overflowed that
window. These tests pin the fix WITHOUT running Spark: the line
builder must stay under budget at any registry size and must carry
the headline queries first.
"""

from __future__ import annotations

import json

from bench import HEADLINE_ORDER, build_stdout_line
from sfdc_cdc_aws_spark.registry import load_all

DRIVER_STDOUT_WINDOW = 2000  # bytes the driver retains


def _fake_timings(names) -> dict[str, float]:
    # worst-case widths: four-digit seconds with four decimals
    return {n: 9999.1234 for n in names}


def test_stdout_line_fits_driver_window_at_current_size():
    names = sorted(load_all())
    line = build_stdout_line(
        _fake_timings(names), 0.1, 123456.789, "local[32]", 9999.123
    )
    assert len(line.encode()) < DRIVER_STDOUT_WINDOW
    parsed = json.loads(line)
    assert parsed["metric"] == "total_query_wall_sec"
    assert parsed["n_queries"] == len(names)
    assert parsed["full"] == "BENCH_FULL.json"
    # round-14 verdict item 8: the untimed ensure_* prewarm cost is on
    # the contract line so the driver captures it per run
    assert parsed["prewarm_sec"] == 9999.123


def test_stdout_line_fits_even_at_10x_registry():
    names = [f"query_with_a_rather_long_name_{i:04d}" for i in range(2000)]
    line = build_stdout_line(_fake_timings(names), 0.1, 1.0, "local[32]")
    assert len(line.encode()) < DRIVER_STDOUT_WINDOW
    assert json.loads(line)["n_queries"] == 2000


def test_headline_queries_lead_the_line():
    names = sorted(load_all())
    line = build_stdout_line(_fake_timings(names), 0.1, 1.0, "local[32]")
    reported = list(json.loads(line)["queries"])
    expected_head = [n for n in HEADLINE_ORDER if n in names]
    assert reported[: len(expected_head)] == expected_head


def test_every_ensure_builder_is_prewarmed():
    """Every package function that calls ``materialize`` or
    ``catalog_fixture`` (a fixture builder, whatever its name) must be
    listed in prewarm.PREWARMERS — a new fixture builder that dodges
    the prewarm reintroduces first-call rebuild pollution into
    whichever bench key touches it first (round-13 verdict item 5)."""
    import ast
    import os

    import sfdc_cdc_aws_spark
    from sfdc_cdc_aws_spark.prewarm import PREWARMERS

    primitives = {"materialize", "catalog_fixture"}

    def calls_primitive(fn: ast.FunctionDef) -> bool:
        for node in ast.walk(fn):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in primitives:
                    return True
        return False

    listed = set(PREWARMERS)
    pkg_root = os.path.dirname(sfdc_cdc_aws_spark.__file__)
    found = set()
    for dirpath, _dirs, files in os.walk(pkg_root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            mod = "sfdc_cdc_aws_spark." + os.path.relpath(path, pkg_root)[
                : -len(".py")
            ].replace(os.sep, ".")
            tree = ast.parse(open(path).read(), filename=path)
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and calls_primitive(node):
                    found.add(f"{mod}:{node.name}")
    missing = found - listed
    assert not missing, f"fixture builders not prewarmed: {sorted(missing)}"
    stale = listed - found
    assert not stale, f"PREWARMERS lists unknown builders: {sorted(stale)}"
