"""Local mirror of the driver's DuckDB correctness gate.

Runs a registered query's Spark DataFrame and its oracle SQL on the
same parquet tables, then compares row count, column names, and
order-insensitive values. Used by tests/test_oracle_parity.py so a
hash mismatch is caught here, not in the driver's round report.
"""

from __future__ import annotations

import math
import os
import tempfile
import uuid

import duckdb
import pandas as pd

from sfdc_cdc_aws_spark.sources.tables import TABLES, table_path


#: DuckDB's own default is 80% of RAM inside the calling process. A
#: third of physical RAM (5 GB on a 15 GB host, what the sf0.1
#: stream_screen_quartet oracle needed) bounds the memory DuckDB's
#: buffer manager tracks; past it, operators spill to the temp dir. It
#: does not bound allocations outside that manager: exact_substring_dedup's
#: oracle at sf0.1 still peaks at 7.4 GB RSS with one thread under a
#: 2.7 GiB limit (DuckDB 1.0).
_DUCK_MEMORY_MB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 3 >> 20


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    # a spill dir per connection: DuckDB creates it on first spill and
    # removes it on close, so connections must not share one
    spill = os.path.join(tempfile.gettempdir(), f"sfdc_duck_spill_{uuid.uuid4().hex[:12]}")
    con = duckdb.connect(
        config={"memory_limit": f"{_DUCK_MEMORY_MB}MB", "temp_directory": spill}
    )
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            # strip tz so Spark UTC-aware and duckdb naive compare equal
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_df, oracle_sql: str, sf_dir: str, float_tol: float = 1e-9) -> None:
    got = _canon(spark_df.toPandas())
    con = duck_connection(sf_dir)
    try:
        want = _canon(con.sql(oracle_sql).df())
    finally:
        con.close()

    assert list(got.columns) == list(want.columns), (
        f"column mismatch: spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"

    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            ga = pd.to_numeric(g, errors="coerce")
            wa = pd.to_numeric(w, errors="coerce")
            bad = [
                i
                for i, (x, y) in enumerate(zip(ga, wa))
                if not (
                    (pd.isna(x) and pd.isna(y))
                    or (
                        not pd.isna(x)
                        and not pd.isna(y)
                        and math.isclose(x, y, rel_tol=float_tol, abs_tol=float_tol)
                    )
                )
            ]
        else:
            gs = g.astype(str)
            ws = w.astype(str)
            bad = [i for i, (x, y) in enumerate(zip(gs, ws)) if x != y]
        assert not bad, (
            f"value mismatch in column {c!r} at {len(bad)} rows; first: "
            f"row {bad[0]}: spark={g.iloc[bad[0]]!r} oracle={w.iloc[bad[0]]!r}"
        )
