"""bench.py's own loop, end to end in a subprocess: two cheap keys at
sf0.001 with ``--scale-to`` sf0.01 and ``--profile``. A copy of the
script runs from a temp dir (the repo on PYTHONPATH), so its artifacts
land there and the committed ones stay as they are."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEYS = ["soql_in_lookup", "tpch_q1_pricing_summary"]
DRIVER_STDOUT_WINDOW = 2000  # bytes the driver retains

SCALE_FIELDS = {
    "metric", "sf01", "sf1", "n_keys", "data_scale", "median_ratio", "p90_ratio",
    "max_ratio", "superlinear", "superlinear_explained", "superlinear_unexplained",
    "keys",
}


def test_bench_keys_scale_to_and_profile(tmp_path):
    shutil.copy(os.path.join(REPO, "bench.py"), tmp_path)
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_REPEAT="2",
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
    )
    proc = subprocess.run(
        [sys.executable, "bench.py", "--keys", ",".join(KEYS),
         "--scale-to", "/root/testdata/sf0.01", "--profile"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=150,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    # the stdout contract (tests/test_bench_contract.py)
    line = proc.stdout.strip().splitlines()[-1]
    assert len(line.encode()) < DRIVER_STDOUT_WINDOW
    parsed = json.loads(line)
    assert parsed["metric"] == "total_query_wall_sec"
    assert parsed["n_queries"] == len(KEYS) and sorted(parsed["queries"]) == KEYS
    assert parsed["full"] == "BENCH_FULL.json" and parsed["sf"] == 0.001
    assert parsed["prewarm_sec"] >= 0

    scale = json.loads((tmp_path / "BENCH_SCALE_FULL.json").read_text())
    assert set(scale) == SCALE_FIELDS
    assert sorted(scale["keys"]) == KEYS and scale["data_scale"] == 10
    for row in scale["keys"].values():
        assert row["ratio"] == round(row["sf1_s"] / row["sf01_s"], 2)

    full = json.loads((tmp_path / "BENCH_FULL.json").read_text())
    assert sorted(full["layers"]) == KEYS
    for key, layer in full["layers"].items():
        assert layer["jobs"] > 0 and layer["stages"] > 0, layer
        assert layer["wall_s"] == full["queries"][key]
        assert 0 <= layer["stage_wall_s"] <= layer["wall_s"], layer
        assert layer["driver_only_s"] >= 0, layer
