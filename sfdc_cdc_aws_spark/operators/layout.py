"""Z-order (Morton-curve) data layout: multi-dimensional file
pruning.

The bucketed tables in operators/sinks.py amortize JOIN shuffles at
write time; this module does the same for multi-dimensional RANGE
scans. Sorting by a single column gives perfect pruning on that
column and none on any other; sorting by the interleaved-bit Morton
code of two columns gives good pruning on BOTH — each output file
covers a small rectangle of (x, y) space, so a box predicate touches
only the files whose rectangle overlaps it. This is the layout
Delta/Iceberg `OPTIMIZE ZORDER BY` produces; here it is plain Spark:
a codegen'd bit-interleave expression, a range-partitioned sorted
write, and parquet row-group statistics doing the skipping.

The pruning claim is tested mechanically (tests/test_layout.py):
parquet footer min/max of BOTH dimensions are narrow per file in the
z-ordered copy, and the fraction of files a box predicate must read
is far below a single-column-sorted layout's.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sfdc_cdc_aws_spark.materialize import materialize
from sfdc_cdc_aws_spark.registry import query
from sfdc_cdc_aws_spark.sources import load_table, read_parquet

Z_BITS = 8  # rank-bucket resolution per dimension (256 buckets)
Z_FILES = 64

# the box predicate the demo query scans (see oracle): a rectangle in
# (custkey, orderdate-day) space, valid (non-empty) at every SF —
# sf0.001 only has custkeys < 150
BOX_CUST = (30, 60)
BOX_DAYS = (500, 800)  # days since 1995-01-01
EPOCH = "1995-01-01"


def zorder_key(x: Column, y: Column, bits: int = Z_BITS) -> Column:
    """Morton code of two non-negative ints: interleave the low
    ``bits`` bits of x (even positions) and y (odd positions). A
    static sum of masked shifts — whole-stage codegen, no UDF."""
    mask = F.lit(((1 << bits) - 1)).cast("bigint")
    one = F.lit(1).cast("bigint")
    x = x.cast("bigint").bitwiseAND(mask)
    y = y.cast("bigint").bitwiseAND(mask)
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(one), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(one), 2 * i + 1)
        )
    return z


def _day(col: str) -> Column:
    return F.datediff(F.col(col), F.lit(EPOCH))


def ensure_zorder_layout(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the z-ordered copy of orders: normalize BOTH
    dimensions to equal-width rank buckets (raw values interleave badly when the dims have unequal bit
    widths — the wider dim's high bits dominate the code and the
    layout degenerates to a single-column sort; rank-bucketing is
    what Delta's OPTIMIZE ZORDER does with range_partition_id), take
    the Morton code of the bucket ids, range-partition into Z_FILES
    sorted files. Every file then covers a compact rectangle of
    (custkey, day) rank space, captured in its parquet min/max stats.

    The global percent_rank windows are write-time-only cost, the
    same sort OPTIMIZE pays; a production job derives the bucket
    boundaries from a sample (range partitioner) instead of an exact
    rank."""
    from pyspark.sql import Window

    def build(out: str) -> None:
        o = load_table(spark, sf_dir, "orders")
        hi = (1 << Z_BITS) - 1
        xb = F.least(
            F.lit(hi),
            F.floor(
                F.percent_rank().over(Window.orderBy("o_custkey")) * (hi + 1)
            ),
        )
        yb = F.least(
            F.lit(hi),
            F.floor(
                F.percent_rank().over(Window.orderBy("o_orderdate")) * (hi + 1)
            ),
        )
        (
            o.withColumn("z", zorder_key(xb, yb))
            .repartitionByRange(Z_FILES, "z")
            .sortWithinPartitions("z")
            .drop("z")
            .write.parquet(out)
        )

    return materialize("zorder", sf_dir, ("orders",), build)


@query(
    "zorder_box_scan",
    oracle=f"""
SELECT count(*) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS box_revenue
FROM orders
WHERE o_custkey BETWEEN {BOX_CUST[0]} AND {BOX_CUST[1]}
  AND date_diff('day', TIMESTAMP '{EPOCH}', o_orderdate)
      BETWEEN {BOX_DAYS[0]} AND {BOX_DAYS[1]}
""",
)
def zorder_box_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box query over the z-ordered copy of orders: both range
    predicates reach the parquet reader, and because the layout
    clusters both dimensions, file/row-group min-max stats skip most
    of the table — single-column-sorted data prunes only its sort
    column. Results are layout-independent (the oracle scans the
    original table); the pruning itself is asserted from the parquet
    footers in tests/test_layout.py."""
    path = ensure_zorder_layout(spark, sf_dir)
    z = read_parquet(spark, path)
    return z.where(
        F.col("o_custkey").between(*BOX_CUST)
        & _day("o_orderdate").between(*BOX_DAYS)
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("box_revenue"),
    )


# ---------------------------------------------------------------------------
# single-dimension range-sorted layout (the time-series standard)
# ---------------------------------------------------------------------------

RANGE_FILES = 32
SHIP_LO, SHIP_HI = "1998-06-01", "1998-09-01"


def ensure_range_sorted_layout(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the shipdate-sorted copy of lineitem:
    ``repartitionByRange`` draws file boundaries
    from a reservoir sample of l_shipdate — the exact mechanism a
    1000-executor job uses, no global window — and
    ``sortWithinPartitions`` makes every file a contiguous date run.
    Each parquet footer then carries a tight min/max on l_shipdate,
    so time-range scans skip all non-overlapping files. This is the
    bread-and-butter lake layout for event/time-series data; the
    z-order layout above generalizes it to two dimensions at the cost
    of per-dimension precision."""

    def build(out: str) -> None:
        (
            load_table(spark, sf_dir, "lineitem")
            .repartitionByRange(RANGE_FILES, "l_shipdate")
            .sortWithinPartitions("l_shipdate")
            .write.parquet(out)
        )

    return materialize("rangesort", sf_dir, ("lineitem",), build)


@query(
    "range_sorted_scan",
    oracle=f"""
SELECT l_returnflag,
       count(*) AS n_rows,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS window_revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{SHIP_LO}'
  AND l_shipdate <  TIMESTAMP '{SHIP_HI}'
GROUP BY l_returnflag
""",
)
def range_sorted_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-quarter revenue scan over the range-sorted lineitem copy:
    the date bounds reach the parquet reader, and because files are
    disjoint contiguous date runs, footer min/max stats skip every
    file outside the quarter — IO proportional to the window, not the
    table. Results are layout-independent (the oracle scans the
    original); the skipping itself is asserted from parquet footers in
    tests/test_layout.py."""
    path = ensure_range_sorted_layout(spark, sf_dir)
    s = read_parquet(spark, path)
    return (
        s.where(
            (F.col("l_shipdate") >= SHIP_LO) & (F.col("l_shipdate") < SHIP_HI)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("window_revenue"),
        )
    )
