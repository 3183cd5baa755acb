"""Second relational suite: grouping sets, correlated EXISTS, non-equi
range joins, exact quantiles, skew-salted joins, and session windows.

These round out the declared extension surface (SURVEY.md §2.9) with
the plan shapes a 100 TB deployment leans on: expand-based grouping
sets (one pass, no re-scan), semi/anti joins from decorrelated EXISTS,
bin-pruned non-equi joins, and salting as the manual skew-join escape
hatch AQE falls back to.

Float discipline follows operators/relational.py: DECIMAL-cast inputs
into sums, round() on interpolated quantiles, id tiebreaks on any
ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sfdc_cdc_aws_spark.registry import query
from sfdc_cdc_aws_spark.sources import load_table


def _dec(col: str, scale: int = 2):
    return F.col(col).cast(f"decimal(18,{scale})")


@query(
    "grouping_sets_suite",
    oracle="""
SELECT l_returnflag, l_linestatus,
       grouping(l_returnflag) AS g_flag,
       grouping(l_linestatus) AS g_status,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)
def grouping_sets_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (each dimension alone + grand total) with
    grouping() indicators — one Expand node feeding one aggregate, so
    the fact table scans once regardless of how many sets are asked
    for. Complements the rollup/cube queries."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag) AS g_flag,
               grouping(l_linestatus) AS g_status,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               count(*) AS n
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "exists_subquery_suite",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
  AND NOT EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey
                    AND o2.o_orderstatus = 'F')
""",
)
def exists_subquery_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS — Catalyst decorrelates these to
    a left-semi and a left-anti join on c_custkey (SURVEY.md §4:
    subquery decorrelation is free). Both join the same key, so one
    shuffle partitioning of customer serves both probes."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_ex")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_ex")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer_ex c
        WHERE EXISTS (SELECT 1 FROM orders_ex o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
          AND NOT EXISTS (SELECT 1 FROM orders_ex o2
                          WHERE o2.o_custkey = c.c_custkey
                            AND o2.o_orderstatus = 'F')
        """
    )


N_BANDS_PRICE = 10
BAND_WIDTH = 500.0


@query(
    "range_join_bands",
    oracle=f"""
WITH bands AS (
  SELECT b AS band_id, b * {BAND_WIDTH} AS lo, (b + 1) * {BAND_WIDTH} AS hi
  FROM unnest(generate_series(0, {N_BANDS_PRICE - 1})) AS t(b)
)
SELECT band_id, count(*) AS n_parts,
       CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band_id
""",
)
def range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join: parts against half-open price bands. The
    band table broadcasts, so the plan is BroadcastNestedLoopJoin over
    a 10-row build side — the right physical choice for a tiny range
    dimension. At a scale where the band table is large, the rewrite
    is banding both sides on floor(price/width) to recover an
    equi-join; this operator keeps the genuine non-equi form to
    exercise that join surface."""
    part = load_table(spark, sf_dir, "part")
    bands = spark.range(N_BANDS_PRICE).select(
        F.col("id").alias("band_id"),
        (F.col("id") * BAND_WIDTH).alias("lo"),
        ((F.col("id") + 1) * BAND_WIDTH).alias("hi"),
    )
    return (
        part.join(
            F.broadcast(bands),
            (part["p_retailprice"] >= F.col("lo"))
            & (part["p_retailprice"] < F.col("hi")),
        )
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(_dec("p_retailprice")).cast("double").alias("sum_price"),
        )
    )


@query(
    "quantile_suite",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 6) AS q25,
       round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5),  6) AS q50,
       round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75), 6) AS q75,
       round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 6) AS median_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def quantile_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``: both linear-interpolate between order
    statistics). Exact percentile sorts within each group — at 100 TB
    the scale path is ``approx_percentile`` (t-digest sketch, map-side
    combinable), which has no cross-engine-identical twin and is
    therefore benched but not hash-checked."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.expr(
        "percentile(CAST(l_quantity AS DOUBLE), array(0.25, 0.5, 0.75))"
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            q.alias("qs"),
            F.expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.5)").alias(
                "mp"
            ),
        )
        .select(
            "l_returnflag",
            F.round(F.element_at("qs", 1), 6).alias("q25"),
            F.round(F.element_at("qs", 2), 6).alias("q50"),
            F.round(F.element_at("qs", 3), 6).alias("q75"),
            F.round(F.col("mp"), 6).alias("median_price"),
        )
    )


N_SALT = 8


@query(
    "skew_salted_join",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted fact-to-dim join: the probe side gets a
    deterministic salt (l_linenumber % N_SALT), the build side is
    replicated N_SALT ways, and the join key becomes (key, salt) — so
    one pathologically hot orderkey spreads over N_SALT reducers
    instead of stalling one. The salt never reaches the output; the
    oracle is the plain join. This is the manual escape hatch for skew
    beyond what AQE's skew-join splitting handles (SURVEY.md §4)."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "salt", F.col("l_linenumber") % N_SALT
    )
    o = load_table(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1)))
    )
    return (
        li.join(o, (li["l_orderkey"] == o["o_orderkey"]) & (li["salt"] == o["salt"]))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        )
    )


HOT_KEY_MOD = 4  # ~3/4 of lineitem rows collapse onto hot key 1


def skewed_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key derived fact: every lineitem row whose orderkey is not
    ≡0 (mod HOT_KEY_MOD) is remapped onto orderkey 1 — one key carries
    ~75% of the relation, the canonical power-law hot key. ``widen``
    matters beyond parallelism here: AQE can only split a skewed
    reduce partition along MAPPER output boundaries, so a fact that
    scans as one map task is unsplittable no matter how skewed — at
    100 TB the fact always has thousands of mappers, and widening
    reproduces that precondition locally."""
    li = load_table(spark, sf_dir, "lineitem", widen=True)
    return li.withColumn(
        "k",
        F.when(F.col("l_orderkey") % HOT_KEY_MOD != 0, F.lit(1)).otherwise(
            F.col("l_orderkey")
        ),
    )


AQE_SKEW_CONFS = {
    # force the shuffle-join shape skew splitting exists to protect,
    # and scope the size thresholds down so the SAME OptimizeSkewedJoin
    # rule fires on a toy fixture as would at 100 TB (defaults: 256 MB
    # threshold — never reached locally)
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8192",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8192",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    # the query aggregates after the join, and the agg's distribution
    # requirement would otherwise veto the split (splitting breaks the
    # join output's hash partitioning, costing an extra shuffle);
    # this conf tells AQE to take that trade — the right call whenever
    # the hot partition dominates the stage, which is the premise here
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
}


@query(
    "skew_aqe_join",
    oracle=f"""
WITH fact AS (
  SELECT CASE WHEN l_orderkey % {HOT_KEY_MOD} <> 0 THEN 1 ELSE l_orderkey END AS k,
         l_extendedprice
  FROM lineitem
)
SELECT o_orderpriority,
       count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM fact JOIN orders ON k = o_orderkey
GROUP BY o_orderpriority
""",
)
def skew_aqe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AQE-native answer to the hot key ``skew_salted_join``
    handles manually: join the hot-key fact (``skewed_fact``: one
    orderkey carrying ~75% of rows) to orders and let AQE's
    OptimizeSkewedJoin split the oversized reduce partition into
    mapper-range chunks at runtime, replicating the matching build
    rows per chunk — no salt column, no build-side explosion, and the
    result is identical to the plain join (the oracle).

    The skew SPLIT is an execution-time decision made from live map
    statistics, so it appears under the AQE_SKEW_CONFS window —
    tests/test_plan_shapes.py asserts ``SortMergeJoin(skew=true)`` in
    the AQE final plan, and SKEW_BENCH.json keeps the naive vs AQE
    vs salted wall times (BASELINE.md). Without the window the query
    simply runs the statistics-chosen join — correctness never
    depends on the skew path taken. The load-bearing precondition is
    in ``skewed_fact``'s docstring: splitting happens on mapper
    boundaries, so the fact side must have >1 map output — true by
    construction at scale, arranged via ``widen`` locally."""
    fact = skewed_fact(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders")
    return (
        fact.join(o, fact["k"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        )
    )


SESSION_GAP = "60 minutes"
_GAP_MS = 60 * 60 * 1000


@query(
    "session_window_agg",
    oracle=f"""
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= {_GAP_MS}
              THEN 1 ELSE 0 END AS brk
  FROM events
),
sess AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM gaps
)
SELECT user_id, min(epoch_ms(ts)) AS session_start_ms, count(*) AS n_events
FROM sess GROUP BY user_id, sid
""",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in ``session_window`` aggregation in batch mode (gap 60
    min, end-exclusive: an event exactly gap-after the last starts a
    new session). The oracle replays the same semantics with the
    lag-gap formulation — proving the two sessionization styles the
    engine offers (this one and ``sessionize_events``) agree. In
    streaming the identical expression runs behind a watermark."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_millis("sw.start").alias("session_start_ms"),
            "n_events",
        )
    )


@query(
    "null_handling_suite",
    oracle="""
SELECT c_custkey,
       nullif(c_acctbal, 0.0) AS bal_or_null,
       coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_masked,
       CASE WHEN nullif(c_acctbal, 0.0) IS NULL THEN -1.0
            ELSE round(greatest(c_acctbal, 100.0), 2) END AS floored,
       (c_acctbal IS NOT NULL AND c_acctbal < 0) AS overdrawn
FROM customer
""",
)
def null_handling_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics end-to-end: nullif/coalesce/greatest plus a
    three-valued-logic predicate — null propagation must agree with
    ANSI across engines (nulls sort/hash as the literal string 'None'
    in the comparator, so any divergence is caught)."""
    c = load_table(spark, sf_dir, "customer")
    bal_or_null = F.nullif(F.col("c_acctbal"), F.lit(0.0))
    return c.select(
        "c_custkey",
        bal_or_null.alias("bal_or_null"),
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")
        ).alias("seg_masked"),
        F.when(bal_or_null.isNull(), F.lit(-1.0))
        .otherwise(F.round(F.greatest(F.col("c_acctbal"), F.lit(100.0)), 2))
        .alias("floored"),
        (F.col("c_acctbal").isNotNull() & (F.col("c_acctbal") < 0)).alias(
            "overdrawn"
        ),
    )


@query(
    "outer_join_suite",
    oracle="""
SELECT n.n_name,
       s.s_suppkey,
       coalesce(s.s_name, '<no supplier>') AS supplier_name
FROM nation n
FULL OUTER JOIN (SELECT * FROM supplier WHERE s_acctbal > 1000) s
  ON n.n_nationkey = s.s_nationkey
""",
)
def outer_join_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with an unmatched-side filter: nations with no
    qualifying supplier keep a NULL supplier side, qualifying suppliers
    always appear. Completes the join-type surface next to
    join_suite's inner/left/semi/anti. Note a full outer cannot
    broadcast — Spark must plan a shuffle join on the key, which the
    plan tests can assert."""
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 1000)
    return n.join(s, n["n_nationkey"] == s["s_nationkey"], "full_outer").select(
        "n_name",
        "s_suppkey",
        F.coalesce(F.col("s_name"), F.lit("<no supplier>")).alias("supplier_name"),
    )


@query(
    "array_fn_suite",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS t
  FROM documents
)
SELECT doc_id,
       len(t) AS n_tokens,
       list_contains(t, 'the') AS has_the,
       CAST(coalesce(list_position(t, 'the'), 0) AS BIGINT) AS pos_the,
       array_to_string(t[1:3], ',') AS first3,
       array_to_string(list_sort(t)[1:3], ',') AS sorted3,
       list_has_any(t, ['the', 'and']) AS has_stop
FROM toks
""",
)
def array_fn_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over the token arrays: size / contains /
    position / slice / sort / overlap — the collection ops the dedup
    and text pipelines compose, exposed as a directly-checkable suite.
    (Spark's array_position returns 0 for missing; the oracle
    coalesces DuckDB's NULL to match.)"""
    from sfdc_cdc_aws_spark.operators.text import tokens_col

    d = load_table(spark, sf_dir, "documents")
    t = tokens_col()
    return d.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_tokens"),
        F.array_contains(t, "the").alias("has_the"),
        F.array_position(t, "the").alias("pos_the"),
        F.array_join(F.slice(t, 1, 3), ",").alias("first3"),
        F.array_join(F.slice(F.sort_array(t), 1, 3), ",").alias("sorted3"),
        F.arrays_overlap(t, F.array(F.lit("the"), F.lit("and"))).alias("has_stop"),
    )


@query(
    "regexp_suite",
    oracle="""
SELECT p_partkey,
       regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
       len(regexp_extract_all(p_name, '\\w+')) AS n_words,
       length(regexp_replace(p_name, '[aeiou]', '', 'g')) AS n_chars_novowel
FROM part
""",
)
def regexp_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface beyond string_fn_suite: anchored group extraction,
    extract-all cardinality, global class replacement. All JVM-side
    codegen — regexes never fall back to Python."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract(F.col("p_name"), r"^(\w+)", 1).alias("first_word"),
        F.size(F.regexp_extract_all(F.col("p_name"), F.lit(r"(\w+)"))).cast(
            "bigint"
        ).alias("n_words"),
        F.length(F.regexp_replace(F.col("p_name"), "[aeiou]", "")).alias(
            "n_chars_novowel"
        ),
    )


@query(
    "date_spine_fill",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('month', min(o_orderdate)) AS lo,
         date_trunc('month', max(o_orderdate)) AS hi
  FROM orders
),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS m FROM bounds
),
rev AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         count(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT CAST(s.m AS DATE) AS month_start,
       coalesce(r.revenue, 0.0) AS revenue,
       coalesce(r.n_orders, 0) AS n_orders
FROM spine s LEFT JOIN rev r ON r.m = s.m
""",
)
def date_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap fill: generate every month between the data's
    bounds (``sequence`` of timestamps — engine-side, no Python) and
    left-join the monthly aggregate so empty months surface as zeros.
    The spine is one row per month — broadcast side; the aggregate
    side shuffles only (month, partial sums)."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.select(
        F.date_trunc("month", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("month", F.max("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 month)")).alias("m")
    )
    rev = o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("m")).agg(
        F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    return spine.join(rev, "m", "left").select(
        F.col("m").cast("date").alias("month_start"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )


@query(
    "range_window_frame",
    oracle="""
SELECT o_orderkey, o_custkey,
       count(*) OVER (PARTITION BY o_custkey
                      ORDER BY CAST(o_totalprice AS DOUBLE)
                      RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)
         AS n_similar_spend
FROM orders
""",
)
def range_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame (value-based, vs window_frame_suite's
    row-based frames): per customer, how many orders fall within 1000
    of this order's price, at or below it. Value frames are
    tie-insensitive, so no id tiebreak is needed for determinism."""
    o = load_table(spark, sf_dir, "orders")
    return o.selectExpr(
        "o_orderkey",
        "o_custkey",
        """count(*) OVER (PARTITION BY o_custkey
                          ORDER BY CAST(o_totalprice AS DOUBLE)
                          RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)
           AS n_similar_spend""",
    )


@query(
    "unpivot_suite",
    oracle="""
SELECT o_orderpriority, metric, CAST(v AS DOUBLE) AS value
FROM (
  SELECT o_orderpriority,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
         CAST(count(*) AS DOUBLE) AS n_orders,
         CAST(count(DISTINCT o_custkey) AS DOUBLE) AS n_customers
  FROM orders GROUP BY o_orderpriority
) UNPIVOT (v FOR metric IN (total_price, n_orders, n_customers))
""",
)
def unpivot_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt): one aggregate row per priority fans
    out to (metric, value) pairs — the inverse of pivot_suite, via the
    built-in ``unpivot`` (an Expand node, no shuffle beyond the
    aggregate's own)."""
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        F.count("*").cast("double").alias("n_orders"),
        F.countDistinct("o_custkey").cast("double").alias("n_customers"),
    )
    return wide.unpivot(
        ["o_orderpriority"],
        ["total_price", "n_orders", "n_customers"],
        "metric",
        "value",
    )


@query(
    "table_profile",
    oracle="""
SELECT 'o_totalprice' AS col, count(*) AS n,
       count(o_totalprice) AS n_nonnull,
       count(DISTINCT o_totalprice) AS n_distinct,
       CAST(min(o_totalprice) AS VARCHAR) AS min_v,
       CAST(max(o_totalprice) AS VARCHAR) AS max_v
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*), count(o_orderstatus),
       count(DISTINCT o_orderstatus),
       min(o_orderstatus), max(o_orderstatus)
FROM orders
""",
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the deterministic core of ``df.summary()``):
    row/non-null/distinct counts and min/max per column, one scan per
    profile via a union of aggregates. At scale the distinct counts
    switch to HLL sketches (sketch_suite); exact here so the oracle
    hash-checks."""
    o = load_table(spark, sf_dir, "orders")

    def prof(col: str) -> DataFrame:
        return o.agg(
            F.lit(col).alias("col"),
            F.count("*").alias("n"),
            F.count(col).alias("n_nonnull"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(col).cast("string").alias("min_v"),
            F.max(col).cast("string").alias("max_v"),
        )

    return prof("o_totalprice").unionByName(prof("o_orderstatus"))


@query(
    "skew_key_report",
    oracle="""
WITH oc AS (
  SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY k
),
lp AS (
  SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY k
)
SELECT 'orders.o_custkey' AS keyspace,
       CAST(sum(c) AS BIGINT) AS n_rows,
       count(*) AS n_keys,
       CAST(max(c) AS BIGINT) AS max_cnt,
       CAST(sum(c) AS DOUBLE) / count(*) AS avg_cnt,
       CAST(max(c) AS DOUBLE) / (CAST(sum(c) AS DOUBLE) / count(*))
         AS skew_ratio,
       CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top1_share
FROM oc
UNION ALL
SELECT 'lineitem.l_partkey',
       CAST(sum(c) AS BIGINT), count(*), CAST(max(c) AS BIGINT),
       CAST(sum(c) AS DOUBLE) / count(*),
       CAST(max(c) AS DOUBLE) / (CAST(sum(c) AS DOUBLE) / count(*)),
       CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
FROM lp
""",
)
def skew_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the report that decides whether a
    join needs salting (operators/relational3.py::skew_salted_join)
    or AQE skew handling BEFORE it runs: per candidate key space, the
    hottest key's multiplicity vs the average (skew_ratio) and its
    share of all rows (top1_share). A skew_ratio near 1 means uniform
    hashing distributes fine; a ratio of 100 means one reducer gets
    100x the median partition.

    Plan: one map-side-partial count per key space (the shuffle
    carries (key, partial) pairs), then a second aggregate over
    |keys| rows collapses to a single diagnostic row — nothing wider
    than a key ever moves, so profiling 100 TB costs one pass per key
    space."""

    def report(df: DataFrame, key: str, label: str) -> DataFrame:
        per_key = df.groupBy(F.col(key).alias("k")).agg(F.count("*").alias("c"))
        total = F.sum("c").cast("double")
        avg = total / F.count("*")
        return per_key.agg(
            F.lit(label).alias("keyspace"),
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count("*").alias("n_keys"),
            F.max("c").cast("bigint").alias("max_cnt"),
            avg.alias("avg_cnt"),
            (F.max("c").cast("double") / avg).alias("skew_ratio"),
            (F.max("c").cast("double") / total).alias("top1_share"),
        )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return report(o, "o_custkey", "orders.o_custkey").unionByName(
        report(li, "l_partkey", "lineitem.l_partkey")
    )
