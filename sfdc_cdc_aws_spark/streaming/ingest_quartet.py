"""The composed arrival screen: ONE ingest drain applying all four
admission screens — quality rules, DSIR distribution fit, MinHash
near-dup, ANN vector near-dup — per micro-batch, with per-screen
verdicts and drop accounting (round-11 verdict item 8).

The four screens exist individually (stream_quality_gate,
stream_dsir_ingest, stream_minhash_ingest/stream_dedup_admit_merge,
stream_ann_ingest); production ingests ONCE, so the composition is
the real product shape: a single foreachBatch computes every verdict
over the same arriving rows, admits docs passing all four, and folds
the admitted docs' band rows into the dup index AND their vectors
into the ANN index before the next batch probes (both similarity
screens are stateful; the vector fold-back algebra is
ivf_index_merge's, composed into the drain). The DuckDB oracle
replays the identical order-dependent admission as chained CTEs —
the stream_dedup_admit_merge discipline, extended with the three
stateless screens' predicates.

Reference parity: the reference forwards every event unfiltered
(worker/lambda/app.py:96-118); this is §2.9 extension surface on the
S5 micro-batch arrival model.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from operator import attrgetter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sfdc_cdc_aws_spark.functions.vector import DUCK_COSINE, cosine_prenorm, norm
from sfdc_cdc_aws_spark.materialize import catalog_fixture, materialize
from sfdc_cdc_aws_spark.operators.curation2 import (
    _DUCK_FEATS,
    DSIR_BUCKETS,
    _feats_col,
)
from sfdc_cdc_aws_spark.operators.dedup import (
    _DUCK_SIG_CTE,
    N_BANDS,
    ROWS_PER_BAND,
)
from sfdc_cdc_aws_spark.operators.similarity import (
    N_CENTROIDS,
    N_PROBE,
    NEARDUP_COS,
    ensure_ivf_index,
)
from sfdc_cdc_aws_spark.operators.text import _DUCK_TOKENS, shared_hash64
from sfdc_cdc_aws_spark.registry import query
from sfdc_cdc_aws_spark.sources import load_table, read_parquet
from sfdc_cdc_aws_spark.sources.tables import table_path
from sfdc_cdc_aws_spark.streaming.ingest_ann import _probe_cells_expr
from sfdc_cdc_aws_spark.streaming.ingest_dedup import (
    ARRIVAL_MOD,
    N_ADMIT_BATCHES,
    BatchIndex,
    _admitted_bands,
    _screen,
    admit_bkt_probe_plan,
    batch_dirs,
    drain_bands,
    ensure_band_index,
    run_verdict_drain,
    spread_batch,
    stamp_batch_mtimes,
)
from sfdc_cdc_aws_spark.streaming.ingest_dsir import ensure_dsir_model
from sfdc_cdc_aws_spark.streaming.quality_gate import (
    GATE_MAX_CHARS,
    GATE_MIN_TOKENS,
    _gate_pass,
)

def ensure_quartet_landing(spark: SparkSession, sf_dir: str) -> str:
    """Arrival landing with FULL screen columns (doc_id, text, lang,
    n_chars) — one parquet file per admission batch, mtimes stamped
    strictly increasing so the file source replays batch order
    deterministically (the ensure_admit_landing discipline)."""

    def build(out: str) -> None:
        arr = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") % ARRIVAL_MOD == 0)
            .select(
                "doc_id",
                "text",
                "lang",
                "n_chars",
                (
                    F.expr(f"doc_id div {ARRIVAL_MOD}") % N_ADMIT_BATCHES
                ).alias("batch_id"),
            )
        )
        for b in range(N_ADMIT_BATCHES):
            arr.where(F.col("batch_id") == b).select(
                "doc_id", "text", "lang", "n_chars"
            ).coalesce(1).write.parquet(os.path.join(out, f"b{b}"))
        stamp_batch_mtimes(
            out, os.path.getmtime(table_path(sf_dir, "documents")), N_ADMIT_BATCHES
        )

    return materialize("quartet_landing", sf_dir, ("documents",), build)


def ensure_quartet_bkt_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[BatchIndex, BatchIndex]:
    """The quartet's two stateful indexes as the 100 TB lake layout
    (round-13 verdict item 3 — the flat per-batch delta dirs composed
    onto the partitioned+bucketed table the admit loop proved out,
    ingest_dedup.ensure_admit_bkt_table):

    * dup index — PARTITIONED by commit_batch, BUCKETED on
      (band_id, bucket); corpus band rows in partition -1.
    * vector index — PARTITIONED by commit_batch, BUCKETED on
      cent_id (the IVF cell — ivf_index_merge's algebra); the
      doc-split corpus assignment in partition -1.

    Per-batch folds land as their own partitions via
    dynamic-partition-overwrite insertInto (idempotent under
    micro-batch replay); probes prune partitions < batch_id and
    sort-merge off the bucket files with zero exchange on the index
    side. Corpus partitions build once per fixture fingerprint."""
    with catalog_fixture(
        spark,
        "quartet_bkt_tbl",
        sf_dir,
        ("documents", "embeddings"),
        ("quartet_bkt", "quartet_vbkt"),
    ) as (tag, root):
        tbl, vtbl = f"quartet_bkt_{tag}", f"quartet_vbkt_{tag}"
        bands = BatchIndex(tbl, os.path.join(root, tbl), ("band_id", "bucket"))
        vecs = BatchIndex(vtbl, os.path.join(root, vtbl), ("cent_id",))
        return (
            bands.ensure_corpus(
                spark, lambda: read_parquet(spark, ensure_band_index(spark, sf_dir))
            ),
            vecs.ensure_corpus(
                spark,
                lambda: ensure_ivf_index(spark, sf_dir)
                .where(F.col("vec_id") % ARRIVAL_MOD != 0)
                .select(
                    "cent_id",
                    F.col("embedding").alias("c_embedding"),
                    F.col("nrm").alias("c_nrm"),
                ),
            ),
        )


#: batch b's dup probe of the quartet's band index — the admit loop's
#: probe, so its plan-shape contract is the same: partition pruning
#: keeps commits < b and only the (small) batch side's band rows move
quartet_dup_probe_plan = admit_bkt_probe_plan


def quartet_ann_probe_plan(
    spark: SparkSession, probed: DataFrame, vidx: BatchIndex, batch_id: int
) -> DataFrame:
    """Batch b's ANN cell probe of the bucketed vector index: same
    pruning + exchange-free-index-side contract as the dup leg, keyed
    on cent_id."""
    return (
        probed.hint("merge")
        .join(
            vidx.as_of(spark, batch_id).select("cent_id", "c_embedding", "c_nrm"),
            "cent_id",
        )
        .where(
            cosine_prenorm(
                F.col("embedding"),
                F.col("c_embedding"),
                F.col("nrm"),
                F.col("c_nrm"),
            )
            >= NEARDUP_COS
        )
        .select("doc_id")
        .distinct()
    )


def _quartet_oracle() -> str:
    """Chained-CTE replay of the composed admission: per batch b, a
    doc is ADMITTED iff it passes the two stateless screens (gate,
    DSIR), has no near-vector in the ANN index as of batch b, and
    shares no LSH band bucket with the dup index as of batch b. BOTH
    stateful indexes fold forward (round-12 verdict item 4): the dup
    index is corpus bands ∪ bands of prior admitted arrivals, and
    the vector index is corpus-split vectors ∪ vectors of prior
    admitted arrivals, each arrival vector entering at its top-1 IVF
    cell — so an arrival whose near-vector twin was admitted three
    batches earlier is caught, exactly like the dup screen."""
    batch = f"((doc_id // {ARRIVAL_MOD}) % {N_ADMIT_BATCHES})"
    dsir_alpha_cte = f"""
arrivals AS (
  SELECT doc_id, {batch} AS batch_id FROM documents
  WHERE doc_id % {ARRIVAL_MOD} = 0
),
gate AS (
  SELECT doc_id,
         (len({_DUCK_TOKENS}) >= {GATE_MIN_TOKENS}
          AND n_chars < {GATE_MAX_CHARS}) AS gate_pass
  FROM documents WHERE doc_id % {ARRIVAL_MOD} = 0
),
ft AS (
  SELECT doc_id, lang, {_DUCK_TOKENS} AS tk FROM documents
),
corpus_fb AS (
  SELECT lang,
         ({{H}}) % {DSIR_BUCKETS} AS bucket
  FROM (SELECT doc_id, lang, unnest({_DUCK_FEATS}) AS feat FROM ft
        WHERE doc_id % {ARRIVAL_MOD} <> 0)
),
draw AS (
  SELECT bucket, count(*) AS rc,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tc
  FROM corpus_fb GROUP BY bucket
),
dtot AS (
  SELECT CAST(sum(rc) AS BIGINT) AS r_total,
         CAST(sum(tc) AS BIGINT) AS t_total
  FROM draw
),
dmodel AS (
  SELECT g.bucket,
         CAST(round(
           ln((coalesce(draw.tc, 0) + 0.5)
              / (dtot.t_total + 0.5 * {DSIR_BUCKETS}))
           - ln((coalesce(draw.rc, 0) + 0.5)
              / (dtot.r_total + 0.5 * {DSIR_BUCKETS})),
           9) AS DECIMAL(18,9)) AS c
  FROM (SELECT unnest(range(0, {DSIR_BUCKETS})) AS bucket) g
  LEFT JOIN draw ON g.bucket = draw.bucket
  CROSS JOIN dtot
),
arrival_fb AS (
  SELECT doc_id, ({{H}}) % {DSIR_BUCKETS} AS bucket
  FROM (SELECT doc_id, unnest({_DUCK_FEATS}) AS feat FROM ft
        WHERE doc_id % {ARRIVAL_MOD} = 0)
),
dsirw AS (
  SELECT a.doc_id, sum(m.c) AS w
  FROM arrival_fb a JOIN dmodel m ON a.bucket = m.bucket
  GROUP BY a.doc_id
),
dsir AS (
  SELECT ar.doc_id,
         coalesce(d.w, CAST(0 AS DECIMAL(18,9))) >= 0 AS dsir_pass
  FROM arrivals ar LEFT JOIN dsirw d ON ar.doc_id = d.doc_id
)"""
    from sfdc_cdc_aws_spark.operators.text import DUCK_HASH64

    dsir_alpha_cte = dsir_alpha_cte.replace(
        "{H}", DUCK_HASH64.format(expr="feat")
    )
    ann_cte = f"""
vcents AS (
  SELECT vec_id AS cent_id, embedding AS c_emb FROM embeddings
  WHERE vec_id < {N_CENTROIDS}
),
vidx0 AS (
  SELECT cent_id, embedding FROM (
    SELECT e.vec_id, e.embedding, c.cent_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {DUCK_COSINE.format(a='e.embedding', b='c.c_emb')} DESC,
                      c.cent_id) AS rn
    FROM embeddings e, vcents c
    WHERE e.vec_id % {ARRIVAL_MOD} <> 0
  ) WHERE rn = 1
),
varr AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % {ARRIVAL_MOD} = 0
),
vassign AS (
  SELECT vec_id, embedding, cent_id FROM (
    SELECT a.vec_id, a.embedding, c.cent_id,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {DUCK_COSINE.format(a='a.embedding', b='c.c_emb')} DESC,
                      c.cent_id) AS rn
    FROM varr a, vcents c
  ) WHERE rn = 1
),
vprobes AS (
  SELECT query_id, cent_id FROM (
    SELECT a.vec_id AS query_id, c.cent_id,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {DUCK_COSINE.format(a='a.embedding', b='c.c_emb')} DESC,
                      c.cent_id) AS rn
    FROM varr a, vcents c
  ) WHERE rn <= {N_PROBE}
),
gd AS (
  SELECT g.doc_id, (g.gate_pass AND d.dsir_pass) AS gd_pass
  FROM gate g JOIN dsir d ON g.doc_id = d.doc_id
)"""
    parts = [
        f"WITH {_DUCK_SIG_CTE},",
        f"""bands AS (
  SELECT doc_id, b AS band_id,
         array_to_string(sig[b * {ROWS_PER_BAND} + 1 : (b + 1) * {ROWS_PER_BAND}],
                         '-') AS bucket
  FROM sigs, unnest(generate_series(0, {N_BANDS - 1})) AS u(b)
),""",
        dsir_alpha_cte.strip() + ",",
        ann_cte.strip() + ",",
        f"""idx0 AS (
  SELECT band_id, bucket FROM bands WHERE doc_id % {ARRIVAL_MOD} <> 0
),""",
    ]
    for b in range(N_ADMIT_BATCHES):
        parts.append(
            f"""rej{b} AS (
  SELECT DISTINCT a.doc_id
  FROM bands a JOIN idx{b} i
    ON a.band_id = i.band_id AND a.bucket = i.bucket
  WHERE a.doc_id % {ARRIVAL_MOD} = 0
    AND ((a.doc_id // {ARRIVAL_MOD}) % {N_ADMIT_BATCHES}) = {b}
),"""
        )
        parts.append(
            f"""annrej{b} AS (
  SELECT DISTINCT p.query_id AS doc_id
  FROM vprobes p
  JOIN vidx{b} s ON s.cent_id = p.cent_id
  JOIN varr a ON a.vec_id = p.query_id
  WHERE {DUCK_COSINE.format(a='a.embedding', b='s.embedding')}
        >= {NEARDUP_COS}
    AND ((p.query_id // {ARRIVAL_MOD}) % {N_ADMIT_BATCHES}) = {b}
),"""
        )
        parts.append(
            f"""adm{b} AS (
  SELECT ar.doc_id FROM arrivals ar JOIN gd e ON ar.doc_id = e.doc_id
  WHERE ar.batch_id = {b} AND e.gd_pass
    AND ar.doc_id NOT IN (SELECT doc_id FROM rej{b})
    AND ar.doc_id NOT IN (SELECT doc_id FROM annrej{b})
),"""
        )
        if b < N_ADMIT_BATCHES - 1:
            parts.append(
                f"""idx{b + 1} AS (
  SELECT band_id, bucket FROM idx{b}
  UNION ALL
  SELECT band_id, bucket FROM bands
  WHERE doc_id IN (SELECT doc_id FROM adm{b})
),"""
            )
            parts.append(
                f"""vidx{b + 1} AS (
  SELECT cent_id, embedding FROM vidx{b}
  UNION ALL
  SELECT cent_id, embedding FROM vassign
  WHERE vec_id IN (SELECT doc_id FROM adm{b})
),"""
            )
    rej_union = " UNION ALL ".join(
        f"SELECT doc_id FROM rej{b}" for b in range(N_ADMIT_BATCHES)
    )
    annrej_union = " UNION ALL ".join(
        f"SELECT doc_id FROM annrej{b}" for b in range(N_ADMIT_BATCHES)
    )
    adm_union = " UNION ALL ".join(
        f"SELECT doc_id FROM adm{b}" for b in range(N_ADMIT_BATCHES)
    )
    parts.append(f"rejected_dup AS ({rej_union}),")
    parts.append(f"rejected_ann AS ({annrej_union}),")
    parts.append(f"admitted AS ({adm_union})")
    parts.append(
        """SELECT ar.doc_id, CAST(ar.batch_id AS INT) AS batch_id,
       g.gate_pass, d.dsir_pass,
       ar.doc_id NOT IN (SELECT doc_id FROM rejected_ann) AS ann_pass,
       ar.doc_id NOT IN (SELECT doc_id FROM rejected_dup) AS dup_pass,
       ar.doc_id IN (SELECT doc_id FROM admitted) AS admitted
FROM arrivals ar
JOIN gate g ON ar.doc_id = g.doc_id
JOIN dsir d ON ar.doc_id = d.doc_id"""
    )
    return "\n".join(parts)


def quartet_state_base(landing: str) -> str:
    """Deterministic per-fixture state root (checkpoint + verdicts)
    so a killed drain's checkpoint is findable on resume — the
    admit_state_base discipline."""
    return f"/tmp/sfdc_quartet_state/{os.path.basename(landing)}"


#: an index table's storage dir (the resume drill lists its partitions)
_quartet_tbl_path = attrgetter("path")


def _screen_inputs(
    spark: SparkSession, sf_dir: str, landing: str, model_path: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The quartet's batch-invariant screen inputs, computed ONCE per
    drain (guide §2.4): (doc_id, gate_pass, dsir_pass), MinHash band
    rows, probe-cell rows (doc_id, embedding, nrm, cent_id) and each
    doc's top-1 fold-back cell. All are pure per-doc functions of the
    landing — only the two INDEX PROBES depend on drain state, and
    those stay per batch. Each relation is localCheckpointed (one
    execution, N-batch fan-out), recomputed fresh per invocation —
    deterministic, so a crash-resumed drain rebuilds identical
    values."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = [
        (
            r["vec_id"],
            list(r["embedding"]),
            float(sum(x * x for x in r["embedding"]) ** 0.5),
        )
        for r in e.where(F.col("vec_id") < N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect()
    ]
    arr_vecs = e.where(F.col("vec_id") % ARRIVAL_MOD == 0).select(
        F.col("vec_id").alias("doc_id"),
        "embedding",
        norm(F.col("embedding")).alias("nrm"),
    )
    arr_all = spread_batch(
        read_parquet(
            spark,
            *batch_dirs(landing),
            schema="doc_id long, text string, lang string, n_chars long",
        )
    ).localCheckpoint()
    model = F.broadcast(read_parquet(spark, model_path))

    def _build_stateless() -> DataFrame:
        gate_all = arr_all.select("doc_id", _gate_pass().alias("gate_pass"))
        w_all = (
            arr_all.select("doc_id", F.explode(_feats_col()).alias("feat"))
            .select(
                "doc_id",
                (shared_hash64(F.col("feat")) % DSIR_BUCKETS).alias("bucket"),
            )
            .join(model, "bucket")
            .groupBy("doc_id")
            .agg(F.sum("c").alias("w"))
        )
        return (
            gate_all.join(w_all, "doc_id", "left")
            .select(
                "doc_id",
                "gate_pass",
                (
                    F.coalesce(F.col("w"), F.lit(0).cast("decimal(18,9)"))
                    >= 0
                ).alias("dsir_pass"),
            )
            .localCheckpoint()
        )

    def _build_cells() -> DataFrame:
        # the ONLY evaluation of the centroid-scoring expression, which
        # bakes N_CENTROIDS x 64 array literals into the plan (~1 s of
        # py4j driver work per build): probe cells land as DATA, and
        # the probe explode and top-1 assignment are narrow transforms
        # of this relation
        cells = _probe_cells_expr(F.col("embedding"), F.col("nrm"), cents)
        return arr_vecs.select(
            "doc_id", "embedding", "nrm", cells.alias("cells")
        ).localCheckpoint()

    # independent jobs — overlap them so the tail of one back-fills
    # cores the others free (guide §2.6)
    with ThreadPoolExecutor(3) as pool:
        f_stateless = pool.submit(_build_stateless)
        f_bands = pool.submit(drain_bands, spark, landing)
        f_cells = pool.submit(_build_cells)
        stateless_all = f_stateless.result()
        bands_all = f_bands.result()
        cells_all = f_cells.result()
    probed_all = cells_all.select(
        "doc_id", "embedding", "nrm", F.explode("cells").alias("p")
    ).select("doc_id", "embedding", "nrm", F.col("p.cent_id").alias("cent_id"))
    assign_all = cells_all.select(
        "doc_id",
        F.element_at("cells", 1)["cent_id"].alias("cent_id"),
        F.col("embedding").alias("c_embedding"),
        F.col("nrm").alias("c_nrm"),
    )
    return stateless_all, bands_all, probed_all, assign_all


def run_quartet_drain(
    spark: SparkSession,
    sf_dir: str,
    keep_state: bool = False,
    kill_after_batch: int | None = None,
) -> DataFrame:
    """One quartet drain over the partitioned+bucketed index tables
    against the fixture's deterministic state root; resumable. Same
    keep_state / kill_after_batch drill hooks as
    ingest_dedup.run_admit_drain_bucketed — tests/test_quartet.py
    runs the identical SIGKILL-mid-drain subprocess drill on this
    path."""
    landing = ensure_quartet_landing(spark, sf_dir)
    tbl, vtbl = ensure_quartet_bkt_tables(spark, sf_dir)
    model_path = ensure_dsir_model(spark, sf_dir)

    def verdicts(pre, ids: DataFrame, batch_id: int) -> DataFrame:
        stateless_all, bands_all, probed_all, _assign = pre
        s = ids.sparkSession
        probed = probed_all.join(F.broadcast(ids), "doc_id")
        ann = _screen(ids, quartet_ann_probe_plan(s, probed, vtbl, batch_id), "ann_pass")
        bands_b = bands_all.join(F.broadcast(ids), "doc_id")
        dup_hits = quartet_dup_probe_plan(s, bands_b, tbl, batch_id).select("doc_id")
        dup = _screen(ids, dup_hits.distinct(), "dup_pass")
        return (
            stateless_all.join(F.broadcast(ids), "doc_id")
            .join(ann, "doc_id")
            .join(dup, "doc_id")
            .select(
                "doc_id",
                "gate_pass",
                "dsir_pass",
                "ann_pass",
                "dup_pass",
                (
                    F.col("gate_pass")
                    & F.col("dsir_pass")
                    & F.col("ann_pass")
                    & F.col("dup_pass")
                ).alias("admitted"),
            )
        )

    def commits(pre, admitted: DataFrame, batch_id: int) -> dict:
        _stateless, bands_all, _probed, assign_all = pre
        bands = _admitted_bands(bands_all, admitted)
        # admitted docs' vectors fold back at their TOP-1 IVF cell —
        # the rn=1 assignment the corpus index uses
        vecs = admitted.join(assign_all, "doc_id").select(
            "cent_id", "c_embedding", "c_nrm"
        )
        return {
            "bands": lambda: tbl.commit(bands, batch_id),
            "vectors": lambda: vtbl.commit(vecs, batch_id),
        }

    return run_verdict_drain(
        spark,
        "stream_screen_quartet",
        landing,
        quartet_state_base(landing),
        lambda: _screen_inputs(spark, sf_dir, landing, model_path),
        verdicts,
        commits,
        indexes=(tbl, vtbl),
        keep_state=keep_state,
        kill_after_batch=kill_after_batch,
    )


@query("stream_screen_quartet", oracle=_quartet_oracle())
def stream_screen_quartet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE foreachBatch drain applying all four admission screens per
    micro-batch, emitting per-doc per-screen verdicts:

    - **gate_pass** — stateless rules (≥{GATE_MIN_TOKENS} tokens,
      <{GATE_MAX_CHARS} chars), the stream_quality_gate predicate.
    - **dsir_pass** — DSIR importance weight ≥ 0 against the
      materialized corpus model (exact DECIMAL sum — no float
      boundary; docs with no features carry weight 0 and pass), the
      stream_dsir_ingest model.
    - **ann_pass** — no vector above {NEARDUP_COS} cosine in the
      doc's {N_PROBE} probed IVF cells of the index AS OF THIS BATCH:
      corpus-split vectors ∪ vectors of prior fully-admitted
      arrivals, each entering at its top-1 cell (docs without an
      embedding bypass and pass). STATEFUL like the dup screen
      (round-12 verdict item 4) — an arrival whose near-vector twin
      was admitted three batches earlier is caught; the fold-back
      algebra is ivf_index_merge's, composed into the drain. The
      vector corpus is the DOC split (vec_id % {ARRIVAL_MOD}),
      aligning all four screens on one arrival population.
    - **dup_pass** — no shared LSH band bucket with the index as of
      this batch: corpus ∪ band rows of PRIOR FULLY-ADMITTED
      arrivals. Both similarity screens are stateful; only docs
      passing ALL FOUR screens fold back (an arrival rejected by the
      gate never joins the corpus, so it must not block a later
      twin).

    admitted = all four. Drop accounting is the verdict relation
    itself — per-screen failure counts are one aggregation over the
    output, and tests/test_quartet.py checks each column against the
    corresponding individual screen's verdicts. The DuckDB oracle
    replays the same order-dependent admission as chained CTEs.

    At 100 TB: three map-side screens (rules inline; DSIR =
    broadcast join against a {DSIR_BUCKETS}-row model) plus TWO
    pruned bucketed-table probes — both stateful indexes are ONE
    commit_batch-partitioned table each, bucketed on their join key
    (band rows on (band_id, bucket), vectors on cent_id), probed
    exchange-free on the index side and folded via idempotent
    dynamic-partition-overwrite commits (round-13 verdict item 3:
    the admit loop's lake layout, composed — no flat delta-dir
    unions remain). One pass over the arrivals instead of four
    separate drains; same restart contract as the bucketed admit
    loop, drilled by the same SIGKILL test."""
    return run_quartet_drain(spark, sf_dir)
