"""Derive a ~Kx scale-stress fixture from a driver fixture dir.

The driver ships sf0.001/0.01/0.1 (TESTDATA.md); every blocking cap in
the dedup/LSH/ANN family (NGRAM_POSTING_CAP, MINHASH_BUCKET_CAP,
IVF N_PROBE) is sized relative to sf0.1, so correctness at sf0.1 says
nothing about whether the caps BIND at the next order of magnitude.
This tool derives a K-times-larger documents/embeddings pair in the
same distributional shape so the cap-sensitive keys can be re-run
against their UNCAPPED DuckDB oracles at that scale
(tools/scale_stress.py):

- documents: K replicas; replica r>0 shifts doc_id by r*ID_STRIDE and
  rewrites every (8+4r)-th whitespace token to a replica-unique marker.
  That makes each original the center of a near-dup cluster of size K
  with graded similarity (4-gram shingle survival ~ 1-4/(8+4r):
  replica 1 sits near Jaccard ~0.5, replica 9 near ~0.8) — exactly the
  crawl-corpus structure (boilerplate + template families) that grows
  posting lists and LSH buckets ~Kx, which is the stress the caps must
  survive.
- embeddings: K replicas; replica r>0 shifts vec_id and adds seeded
  N(0, 0.02*std) noise per dimension — Kx denser IVF cells around the
  same centroid geometry (centroids stay vec_id < N_CENTROIDS, i.e.
  replica 0, so the index layout is unchanged while every cell holds
  ~Kx more members).
- events: K replicas; replica r>0 shifts event_id by r*ID_STRIDE,
  user_id by r*USER_STRIDE (new CDC keys — the +1M twin branch of
  CHANGES_CTE stays collision-free because USER_STRIDE = 2M), and ts
  by r*37 s (event times stay interleaved so windows/sessions/
  sweep-line structures densify rather than shift away). This feeds
  the CDC/temporal scale-stress keys: Kx more keys for the SCD2
  window and temporal probe join, Kx more interval boundaries for
  the sweep line, Kx more BFS seeds/edges for the recursive walk
  (the key that ACTUALLY broke at 10x before per-step DISTINCT).
- all other tables: symlinked from the base fixture so the derived dir
  is a complete sf_dir for load_table()/duckdb views.

Derivation is pure deterministic arithmetic on the base parquet; the
oracle reads the SAME derived parquet, so no cross-engine contract is
involved — only scale.

Usage: python tools/gen_scale_fixture.py [--base /root/testdata/sf0.1]
       [--k 10] [--out .scale/sf1x]
"""

from __future__ import annotations

import argparse
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ID_STRIDE = 10_000_000
USER_STRIDE = 2_000_000  # > the +1M twin-uid branch of CHANGES_CTE
_WS = re.compile(r"\s+")

# Parquet row-group granularity BOUNDS scan parallelism: Spark splits
# a file into byte ranges, but all rows of a row group land in the
# one split holding the group's start offset. pq.write_table's
# default (1M rows/group) wrote every derived fixture as a SINGLE
# row group, so every x10/x100 scan ran on ONE core — a straggler
# that inflated every decade ratio (found round 10 while profiling
# dsir_importance_weights at x100: 13 of its 14 scan tasks were
# empty). ~64 groups per table keeps even the 32-thread local runner
# fully fed; at 100 TB the same rule is "size row groups well below
# maxPartitionBytes".
def write_scaled(table: pa.Table, path: str) -> None:
    rg = max(4096, table.num_rows // 64)
    pq.write_table(table, path, row_group_size=rg)


def derive_documents(base_dir: str, k: int) -> pd.DataFrame:
    src = pq.read_table(os.path.join(base_dir, "documents.parquet")).to_pandas()
    reps = [src]
    for r in range(1, k):
        period = 8 + 4 * r
        rep = src.copy()
        rep["doc_id"] = rep["doc_id"] + r * ID_STRIDE

        def perturb(text: str, r: int = r, period: int = period) -> str:
            toks = _WS.split(text.strip())
            return " ".join(
                f"v{r}w{i}" if i % period == 0 else t
                for i, t in enumerate(toks)
            )

        rep["text"] = rep["text"].map(perturb)
        rep["n_chars"] = rep["text"].str.len().astype(src["n_chars"].dtype)
        reps.append(rep)
    return pd.concat(reps, ignore_index=True)


def derive_embeddings(base_dir: str, k: int) -> pa.Table:
    t = pq.read_table(os.path.join(base_dir, "embeddings.parquet"))
    src = t.to_pandas()
    mat = np.stack(src["embedding"].to_numpy())  # (n, dim) float32
    sigma = 0.02 * float(mat.std())
    reps = [src]
    for r in range(1, k):
        rng = np.random.default_rng(1_000_003 * r)
        rep = src.copy()
        rep["vec_id"] = rep["vec_id"] + r * ID_STRIDE
        noisy = (mat + rng.normal(0.0, sigma, mat.shape)).astype(np.float32)
        rep["embedding"] = list(noisy)
        reps.append(rep)
    out = pd.concat(reps, ignore_index=True)
    return pa.Table.from_pandas(out, schema=t.schema, preserve_index=False)


def derive_events(base_dir: str, k: int) -> pa.Table:
    t = pq.read_table(os.path.join(base_dir, "events.parquet"))
    src = t.to_pandas()
    reps = [src]
    for r in range(1, k):
        rep = src.copy()
        rep["event_id"] = rep["event_id"] + r * ID_STRIDE
        rep["user_id"] = rep["user_id"] + r * USER_STRIDE
        rep["ts"] = rep["ts"] + pd.Timedelta(seconds=37 * r)
        reps.append(rep)
    out = pd.concat(reps, ignore_index=True)
    return pa.Table.from_pandas(out, schema=t.schema, preserve_index=False)


TPCH_KEY_SHIFTS = {
    # table -> {column: stride} applied per replica r (key + r*stride);
    # every foreign key shifts by the SAME stride as its referenced
    # primary key, so joins stay exact and fan-outs scale linearly.
    "orders": {"o_orderkey": ID_STRIDE, "o_custkey": ID_STRIDE},
    "lineitem": {
        "l_orderkey": ID_STRIDE,
        "l_partkey": ID_STRIDE,
        "l_suppkey": ID_STRIDE,
    },
    "customer": {"c_custkey": ID_STRIDE},
    "part": {"p_partkey": ID_STRIDE},
    "supplier": {"s_suppkey": ID_STRIDE},
}


def derive_tpch(base_dir: str, out: str, k: int) -> dict[str, int]:
    """K-replicate the TPC-H fact/dim tables with consistent key
    shifts (nation/region stay shared): the sf1-equivalent lane for
    the 22 TPC-H keys. Group-by cardinalities (flags, dates, nations)
    are scale-invariant by construction, exactly like dbgen's."""
    rows = {}
    for name, shifts in TPCH_KEY_SHIFTS.items():
        t = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        src = t.to_pandas()
        reps = [src]
        for r in range(1, k):
            rep = src.copy()
            for col, stride in shifts.items():
                rep[col] = rep[col] + r * stride
            reps.append(rep)
        out_df = pd.concat(reps, ignore_index=True)
        write_scaled(
            pa.Table.from_pandas(out_df, schema=t.schema, preserve_index=False),
            os.path.join(out, f"{name}.parquet"),
        )
        rows[name] = len(out_df)
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--out", default=".scale/sf1x")
    ap.add_argument(
        "--tpch",
        action="store_true",
        help="also K-replicate orders/lineitem/customer/part/supplier "
        "(default: symlink them from the base fixture)",
    )
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = args.out if os.path.isabs(args.out) else os.path.join(repo, args.out)
    os.makedirs(out, exist_ok=True)

    docs = derive_documents(args.base, args.k)
    doc_schema = pq.read_table(
        os.path.join(args.base, "documents.parquet")
    ).schema
    write_scaled(
        pa.Table.from_pandas(docs, schema=doc_schema, preserve_index=False),
        os.path.join(out, "documents.parquet"),
    )
    emb = derive_embeddings(args.base, args.k)
    write_scaled(emb, os.path.join(out, "embeddings.parquet"))
    ev = derive_events(args.base, args.k)
    write_scaled(ev, os.path.join(out, "events.parquet"))

    linked = ["region", "nation"]
    if args.tpch:
        tpch_rows = derive_tpch(args.base, out, args.k)
        print(f"tpch x{args.k}: {tpch_rows}")
    else:
        linked += ["customer", "supplier", "part", "orders", "lineitem"]
    for name in linked:
        link = os.path.join(out, f"{name}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(args.base, f"{name}.parquet"), link)

    print(
        f"wrote {out}: documents={len(docs)} embeddings={emb.num_rows} "
        f"events={ev.num_rows} (base {args.base} x{args.k})"
    )


if __name__ == "__main__":
    main()
