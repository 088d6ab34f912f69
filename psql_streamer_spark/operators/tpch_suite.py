"""Remaining TPC-H query shapes (q2/q4/q6/q8/q9/q11-q16/q18-q22), adapted
to the reduced synthetic schema (SURVEY.md §2.8 engine scope; the
reference has no relational surface).

The testdata lake has no ``partsupp`` and lineitem lacks
commitdate/receiptdate/shipmode, so the shapes that depend on them are
re-expressed over the columns that exist while keeping the *plan shape*
that makes each query interesting:

- q2: correlated-min subquery over a supply relation (derived from
  lineitem) + multi-dim join;
- q4: correlated EXISTS with a non-equi predicate against the fact table;
- q8: two-level conditional market-share ratio across a 6-way join;
- q9: profit expression over part+supplier+orders joins, grouped by
  nation x year;
- q11: group-value vs global-aggregate threshold (scalar subquery);
- q12/q14: conditional aggregation (counts / revenue-share);
- q13: outer join with filtered join condition -> distribution of counts;
- q15: view-style aggregate joined back to its own MAX;
- q16: NOT IN supplier exclusion + count-distinct over grouped dims;
- q18: HAVING-driven semi join back to the fact table;
- q19: OR-of-ANDs disjunctive join predicate;
- q20: nested semi-join chain through a HAVING aggregate;
- q21: EXISTS + NOT EXISTS self-joins on the fact table;
- q22: anti join + global scalar average threshold.

Scale notes (100 TB): every scalar subquery is a crossJoin(broadcast(...))
of a 1-row aggregate — never a driver collect; region/nation dims are
always broadcast; fact-fact joins shuffle on their equi keys and leave
strategy choice to AQE; all FP aggregates go through the exact-decimal
helpers (functions/numeric.py) so results hash-match DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psql_streamer_spark.caching import persist_for, warehouse_table
from psql_streamer_spark.functions.numeric import davg, dsum, sql_davg, sql_dsum
from psql_streamer_spark.registry import register
from psql_streamer_spark.sources.tables import load_table


def _nations_in_region(spark: SparkSession, sf_dir: str, region: str) -> DataFrame:
    """Broadcast-safe nation list for one region (5/25 rows at any SF)."""
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == region)
    return F.broadcast(
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )


# --------------------------------------------------------------------------
# Q6: single-table predicate + conditional revenue (the pushdown showcase:
# every filter reaches the parquet scan; no shuffle at all until the
# 1-row final aggregate).
# --------------------------------------------------------------------------
@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT {rev} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """.format(rev=sql_dsum("l_extendedprice * l_discount")),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


# --------------------------------------------------------------------------
# Q6 over a PARTITIONED fact layout (r12): lineitem laid out as
# l_shipmonth=YYYY-MM directories, the fact-table half of lake discipline.
# evt_pruned_date_range (operators/event_time.py) proved pruned scans on
# the CDC events lake; this applies the same mechanism to the table that
# dominates a 100 TB TPC-H-shaped scan — q1/q6-class date predicates on a
# flat lineitem prune via row-group stats only, while this layout makes
# them PartitionFilters that never open files outside the range.
# --------------------------------------------------------------------------
#: Inclusive ship-month window (zero-padded yyyy-MM compares correctly as
#: a string range). Literal, like EVT_PRUNE_START/END: month membership is
#: EXACTLY l_shipdate in [1996-01-01, 1996-04-01) — the partition predicate
#: fully replaces the timestamp range, so the pruned scan needs no data
#: filter at all.
Q6_PRUNE_START_MONTH = "1996-01"
Q6_PRUNE_END_MONTH = "1996-03"

#: Intra-month write salt: bounds files-per-leaf (a leaf is written by at
#: most this many tasks) while keeping a pruned small-range read wide
#: enough to use local[32] — see lineitem_shipmonth_partitioned_table.
LAKE_LEAF_SALT = 8


def lineitem_shipmonth_partitioned_table(spark: SparkSession, sf_dir: str) -> str:
    """Write lineitem ONCE per session as a ship-month partitioned table
    (``l_shipmonth=YYYY-MM/`` directories) and return its name. The
    synthetic corpus spans 83 months, so the partition count grows with
    MONTHS, never rows/month — the daily/monthly-append layout a real
    lake runs.

    The write repartitions by (month, salt): month alone bounds files
    per leaf but collapses each month to ONE writer task and ONE file —
    measured at sf10 (LAKE_r12), that made the pruned read SLOWER than
    the full scan cold (3 splits vs 32 threads) despite reading 2.9% of
    the bytes. An 8-way intra-month salt keeps files-per-leaf bounded
    (<= LAKE_LEAF_SALT vs the unsalted 32-per-task-per-leaf blowup)
    while giving a pruned month range enough splits to use the machine.
    At 100 TB a month exceeds maxPartitionBytes thousands of times over,
    so splits come free either way — the salt is the small-SF/local
    parallelism knob, and the leaf layout and pruning are unchanged by
    it."""

    def _build(table: str) -> None:
        l = load_table(spark, "lineitem", sf_dir).withColumn(
            "l_shipmonth", F.date_format("l_shipdate", "yyyy-MM")
        )
        # explicit partition count: AQE coalesces an implicit-N
        # repartition of a small shuffle down to ONE partition (observed
        # at sf0.01), re-collapsing the write to one file per leaf
        n_write = max(LAKE_LEAF_SALT, spark.sparkContext.defaultParallelism)
        (
            l.repartition(
                n_write,
                F.col("l_shipmonth"),
                F.pmod(F.col("l_orderkey"), F.lit(LAKE_LEAF_SALT)),
            )
            .write.partitionBy("l_shipmonth")
            .mode("overwrite")
            .saveAsTable(table)
        )

    return warehouse_table(spark, "lineitem_by_shipmonth", sf_dir, _build)


@register(
    "q6_pruned_shipdate_range",
    oracle="""
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           COUNT(*) AS n_items,
           {qty} AS sum_qty,
           {rev} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY 1
    """.format(
        qty=sql_dsum("l_quantity"),
        rev=sql_dsum("l_extendedprice * l_discount"),
    ),
)
def q6_pruned_shipdate_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month q6-class revenue rollup over a 3-month range read from
    the ship-month partitioned lineitem: the range predicate is purely a
    PARTITION filter (month membership == the timestamp range, so there
    is no data filter), the scan opens only the 3 matching month
    directories of 83 — plan-guarded both ways in
    tests/test_plan_quality.py (PartitionFilters in the scan node AND
    inputFiles() confined to the 3 directories). The oracle replays the
    same rollup against the RAW lineitem parquet, proving layout +
    pruning change nothing but the bytes read. At 100 TB the lineitem
    scan IS the job: this is the difference between reading 3 months
    and reading the decade."""
    t = spark.table(lineitem_shipmonth_partitioned_table(spark, sf_dir))
    return (
        t.filter(
            (F.col("l_shipmonth") >= Q6_PRUNE_START_MONTH)
            & (F.col("l_shipmonth") <= Q6_PRUNE_END_MONTH)
        )
        .groupBy(F.col("l_shipmonth").alias("ship_month"))
        .agg(
            F.count("*").alias("n_items"),
            dsum("l_quantity").alias("sum_qty"),
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Q4: correlated EXISTS with a non-equi component. Spark form: left-semi
# join on the equi key with the extra predicate riding along (the shuffle
# carries only the key; the non-equi part evaluates post-match).
# --------------------------------------------------------------------------
@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# --------------------------------------------------------------------------
# Q4-class rollup over a PARTITIONED orders layout (r12): the second fact
# table gets the same ship-month treatment as lineitem above — orders as
# o_ordermonth=YYYY-MM directories (80 months in the synthetic corpus).
# Together the two pruned variants cover both halves of a date-ranged
# order/lineitem join job at 100 TB: each side's scan opens only the
# in-range month directories.
# --------------------------------------------------------------------------
def orders_ordermonth_partitioned_table(spark: SparkSession, sf_dir: str) -> str:
    """Write orders ONCE per session as an order-month partitioned table
    (``o_ordermonth=YYYY-MM/``) and return its name — same
    repartition-by-month write discipline as
    lineitem_shipmonth_partitioned_table."""

    def _build(table: str) -> None:
        o = load_table(spark, "orders", sf_dir).withColumn(
            "o_ordermonth", F.date_format("o_orderdate", "yyyy-MM")
        )
        n_write = max(LAKE_LEAF_SALT, spark.sparkContext.defaultParallelism)
        (
            o.repartition(
                n_write,
                F.col("o_ordermonth"),
                F.pmod(F.col("o_orderkey"), F.lit(LAKE_LEAF_SALT)),
            )
            .write.partitionBy("o_ordermonth")
            .mode("overwrite")
            .saveAsTable(table)
        )

    return warehouse_table(spark, "orders_by_ordermonth", sf_dir, _build)


@register(
    "q4_pruned_orderdate_range",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS order_count,
           {tot} AS sum_totalprice
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY o_orderpriority
    """.format(tot=sql_dsum("o_totalprice")),
)
def q4_pruned_orderdate_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority order counts + total price over the q4 3-month window
    read from the order-month partitioned orders table: the range is
    purely a PARTITION predicate (month membership == the timestamp
    range), 3 of 80 directories opened — plan-guarded alongside the
    lineitem variant in tests/test_plan_quality.py. The oracle replays
    the rollup against the RAW orders parquet."""
    t = spark.table(orders_ordermonth_partitioned_table(spark, sf_dir))
    return (
        t.filter(
            (F.col("o_ordermonth") >= Q6_PRUNE_START_MONTH)
            & (F.col("o_ordermonth") <= Q6_PRUNE_END_MONTH)
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("order_count"),
            dsum("o_totalprice").alias("sum_totalprice"),
        )
    )


# --------------------------------------------------------------------------
# File-internal CLUSTERING (r12): the third pruning axis, after directory
# partitioning (above) and bucketing (r9). Partitioning prunes whole
# directories on the partition key; a point/range predicate on any OTHER
# column still reads every file of the surviving partitions — unless rows
# are SORTED by that column inside the files, in which case parquet
# row-group min/max stats let the pushed-down predicate skip almost every
# row group (the linear-clustering half of what table formats call
# Z-ORDER/OPTIMIZE BY). Partition count bounds the directory explosion;
# clustering costs only a sort at write time and no layout change.
# --------------------------------------------------------------------------
#: Deterministic lookup key for the clustered point query: present at
#: every SF (the synthetic part domain starts at 0 and grows with SF).
CLUSTER_LOOKUP_PARTKEY = 42

#: Range splits per month for the clustered layout: each month's rows
#: spread over ~this many files, EACH covering ~1/8 of the partkey
#: domain — the file-level narrowing that makes min/max stats skip.
CLUSTER_SPLITS_PER_MONTH = 8


def lineitem_clustered_table(spark: SparkSession, sf_dir: str) -> str:
    """Write lineitem ONCE per session month-partitioned AND
    partkey-CLUSTERED: ``repartitionByRange(month, l_partkey)`` +
    ``sortWithinPartitions`` before the partitioned write, so each leaf
    holds ~CLUSTER_SPLITS_PER_MONTH files and EACH FILE covers a narrow
    contiguous l_partkey slice (range partitioning assigns contiguous
    key ranges to tasks; the within-task sort orders rows inside the
    file). A pushed-down partkey predicate then skips at BOTH stat
    levels — whole row groups whose min/max excludes the key, which for
    a narrow-range file is almost all of every other file's — at any
    row-group size, including the default 128 MiB on GB-scale files.
    This is the linear-clustering half of a table format's OPTIMIZE
    ZORDER, expressed as plain Spark writes. (A hash SALT instead of
    range splits was measured NOT to work — LAKE_r12 first attempt:
    every salted file spans the full key domain, so single-row-group
    local files straddle every key and the stat-read fraction stayed
    ~0.86 vs 0.82 unsorted. Range-splitting narrows the FILE, which
    survives any row-group geometry.)"""

    def _build(table: str) -> None:
        l = load_table(spark, "lineitem", sf_dir).withColumn(
            "l_shipmonth", F.date_format("l_shipdate", "yyyy-MM")
        )
        n_months = l.select("l_shipmonth").distinct().count()
        n_range = max(
            CLUSTER_SPLITS_PER_MONTH * n_months,
            spark.sparkContext.defaultParallelism,
        )
        (
            l.repartitionByRange(
                n_range, F.col("l_shipmonth"), F.col("l_partkey")
            )
            .sortWithinPartitions("l_shipmonth", "l_partkey")
            .write.partitionBy("l_shipmonth")
            .mode("overwrite")
            .saveAsTable(table)
        )

    return warehouse_table(spark, "lineitem_clustered", sf_dir, _build)


@register(
    "lake_clustered_partkey_lookup",
    oracle="""
    SELECT l_partkey,
           COUNT(*) AS n_items,
           {qty} AS sum_qty,
           {rev} AS revenue
    FROM lineitem
    WHERE l_partkey = 42
    GROUP BY l_partkey
    """.format(
        qty=sql_dsum("l_quantity"),
        rev=sql_dsum("l_extendedprice * (1 - l_discount)"),
    ),
)
def lake_clustered_partkey_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup on the clustered layout: one part's lineitem rollup
    across the whole lake. The partkey equality pushes down to the scan
    (PushedFilters, plan-guarded) and — because every file's row groups
    hold narrow sorted partkey ranges — reads only the row groups whose
    min/max straddle the key (measured at sf10 in LAKE_r12: the stat-
    skip fraction and wall-clock vs the unclustered layout). At 100 TB
    this is the needle-in-a-fact-table query every enrichment join
    decomposes into; clustering is what makes it sub-scan without an
    index. The oracle replays the rollup on the RAW parquet."""
    t = spark.table(lineitem_clustered_table(spark, sf_dir))
    return (
        t.filter(F.col("l_partkey") == CLUSTER_LOOKUP_PARTKEY)
        .groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_items"),
            dsum("l_quantity").alias("sum_qty"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


# --------------------------------------------------------------------------
# Z-ORDER (r12): two-dimensional clustering. Linear clustering (above)
# gives ONE column near-total stat skipping and every other column none;
# bit-interleaving two keys' bucket ids into a morton code and
# range-partitioning on it lays files out as a grid in (partkey, suppkey)
# space — a point predicate on EITHER column then skips all files outside
# its grid row/column (~1/sqrt(files) read fraction per dimension), the
# classic multi-dim trade a table format's OPTIMIZE ZORDER makes. Parquet
# needs nothing new: each file's RAW-column min/max already reflects its
# grid cell, so the ordinary pushed-down predicate does the skipping.
# --------------------------------------------------------------------------
Z_BITS = 8  # 256 equal-width buckets per dimension
ZORDER_LOOKUP_SUPPKEY = 7


def _morton2(a, b, bits: int = Z_BITS):
    """Interleave the low ``bits`` of bucket-id columns a and b into a
    morton code — pure JVM bit expressions, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def quantile_bucket(df, col: str, n_buckets: int):
    """Equal-FREQUENCY bucket id (0..n_buckets-1) for ``col``: boundaries
    from one approxQuantile pass (driver-side list, O(n_buckets)), the
    per-row id = count of boundaries <= key, a JVM array expression.
    Equal-WIDTH quantization ((key * n) / (max+1)) is brittle on sparse
    or striped domains — measured directly on the inflated sf10 corpus,
    whose replica-striped keys (replica*1e9 + original) collapse every
    original-domain key into bucket 0 and degenerate the whole z-order
    grid to one cell. Quantile buckets are distribution-shaped by
    construction (what table formats' OPTIMIZE does via range sampling),
    so the grid stays balanced on any key distribution."""
    bounds = df.stat.approxQuantile(
        col, [i / n_buckets for i in range(1, n_buckets)], 0.001
    )
    barr = F.array(*[F.lit(float(b)) for b in bounds])
    key = F.col(col).cast("double")
    return F.size(F.filter(barr, lambda b: b <= key))


def lineitem_zorder_table(spark: SparkSession, sf_dir: str) -> str:
    """Write lineitem ONCE per session Z-ORDERED on (l_partkey,
    l_suppkey): each key quantile-bucketed (equal-frequency, see
    quantile_bucket) to 2^Z_BITS buckets, bucket ids bit-interleaved
    into a morton code, and the write range-partitioned + sorted on
    that code. The morton column is layout-only and dropped before the
    write — the data is byte-identical to raw lineitem, only file
    ASSIGNMENT changes."""

    def _build(table: str) -> None:
        l = load_table(spark, "lineitem", sf_dir)
        n_buckets = 1 << Z_BITS
        bp = quantile_bucket(l, "l_partkey", n_buckets)
        bs = quantile_bucket(l, "l_suppkey", n_buckets)
        n_files = max(64, spark.sparkContext.defaultParallelism)
        (
            l.withColumn("__z", _morton2(bp, bs))
            .repartitionByRange(n_files, F.col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode("overwrite")
            .saveAsTable(table)
        )

    return warehouse_table(spark, "lineitem_zorder", sf_dir, _build)


def _zorder_lookup(
    spark: SparkSession, sf_dir: str, col: str, key: int
) -> DataFrame:
    t = spark.table(lineitem_zorder_table(spark, sf_dir))
    return (
        t.filter(F.col(col) == key)
        .groupBy(col)
        .agg(
            F.count("*").alias("n_items"),
            dsum("l_quantity").alias("sum_qty"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


_ZORDER_ORACLE = """
    SELECT {col},
           COUNT(*) AS n_items,
           {qty} AS sum_qty,
           {rev} AS revenue
    FROM lineitem
    WHERE {col} = {key}
    GROUP BY {col}
"""


@register(
    "lake_zorder_partkey_lookup",
    oracle=_ZORDER_ORACLE.format(
        col="l_partkey",
        key=CLUSTER_LOOKUP_PARTKEY,
        qty=sql_dsum("l_quantity"),
        rev=sql_dsum("l_extendedprice * (1 - l_discount)"),
    ),
)
def lake_zorder_partkey_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup on the FIRST z-order dimension — reads ~1/sqrt(files)
    of the lake by min/max stats (plan guard + footer-measured fractions
    in tests/test_plan_quality.py and LAKE_r12 `zorder`)."""
    return _zorder_lookup(spark, sf_dir, "l_partkey", CLUSTER_LOOKUP_PARTKEY)


@register(
    "lake_zorder_suppkey_lookup",
    oracle=_ZORDER_ORACLE.format(
        col="l_suppkey",
        key=ZORDER_LOOKUP_SUPPKEY,
        qty=sql_dsum("l_quantity"),
        rev=sql_dsum("l_extendedprice * (1 - l_discount)"),
    ),
)
def lake_zorder_suppkey_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup on the SECOND z-order dimension — the query linear
    clustering cannot serve (its suppkey stat-read fraction is ~1.0);
    the z-order grid serves both at ~1/sqrt(files) each."""
    return _zorder_lookup(spark, sf_dir, "l_suppkey", ZORDER_LOOKUP_SUPPKEY)


@register(
    "q3_pruned_fact_join",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           {rev} AS revenue
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l.l_shipdate  >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate  <  TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY o.o_orderpriority
    """.format(rev=sql_dsum("l.l_extendedprice * (1 - l.l_discount)")),
)
def q3_pruned_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The job-shaped composition of the two pruned layouts: a q3-class
    revenue join where BOTH fact scans are partition-pruned before the
    join shuffle — orders to its 3 o_ordermonth directories (of 80),
    lineitem to 6 l_shipmonth directories (of 83; lineitems of a Q1
    order can ship into Q2, so the ship window extends a quarter past
    the order window — at 100 TB this asymmetric-window pruning is how
    an order/lineitem join job avoids scanning either decade). Both
    range predicates are purely partition filters; the join shuffles
    only the pruned slices on l_orderkey/o_orderkey and AQE picks the
    strategy. Plan-guarded in tests/test_plan_quality.py: PartitionFilters
    on BOTH scan nodes, inputFiles confined to 3 + 6 directories. The
    oracle replays the identical join against the RAW parquet tables."""
    o = spark.table(orders_ordermonth_partitioned_table(spark, sf_dir)).filter(
        (F.col("o_ordermonth") >= "1996-01") & (F.col("o_ordermonth") <= "1996-03")
    )
    l = spark.table(lineitem_shipmonth_partitioned_table(spark, sf_dir)).filter(
        (F.col("l_shipmonth") >= "1996-01") & (F.col("l_shipmonth") <= "1996-06")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


# --------------------------------------------------------------------------
# Q2: min-cost supplier. The supply relation is derived from lineitem
# (no partsupp in the lake): per (part, supplier) the minimum observed
# extended price. The correlated-min subquery becomes an aggregate joined
# back on equality — min() of identical double sets is bit-identical in
# both engines, so the equality join is hash-safe.
# --------------------------------------------------------------------------
@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH supply AS (
      SELECT l.l_partkey AS partkey, l.l_suppkey AS suppkey,
             MIN(l.l_extendedprice) AS supply_cost
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY l.l_partkey, l.l_suppkey
    )
    SELECT s.s_acctbal AS s_acctbal, s.s_name AS s_name, n.n_name AS n_name,
           p.p_partkey AS p_partkey, p.p_name AS p_name,
           sup.supply_cost AS supply_cost
    FROM part p
    JOIN supply sup ON sup.partkey = p.p_partkey
    JOIN supplier s ON sup.suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_type = 'STANDARD' AND p.p_size <= 10
      AND sup.supply_cost = (
        SELECT MIN(sup2.supply_cost) FROM supply sup2
        WHERE sup2.partkey = p.p_partkey
      )
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    eu = _nations_in_region(spark, sf_dir, "EUROPE")
    s = load_table(spark, "supplier", sf_dir).join(
        eu, F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    l = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    supply = (
        l.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("supply_cost"))
        .withColumnsRenamed({"l_partkey": "partkey", "l_suppkey": "suppkey"})
    )
    p = load_table(spark, "part", sf_dir).filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    ).select("p_partkey", "p_name")
    # Restrict the supply relation to the filtered parts FIRST, then take
    # the per-part min — at scale this keeps the min-aggregate input to the
    # selected parts instead of the whole supply relation.
    part_supply = supply.join(p, F.col("partkey") == F.col("p_partkey"))
    min_cost = part_supply.groupBy("partkey").agg(
        F.min("supply_cost").alias("min_cost")
    ).withColumnRenamed("partkey", "mc_partkey")
    return (
        part_supply.join(
            min_cost,
            (F.col("partkey") == F.col("mc_partkey"))
            & (F.col("supply_cost") == F.col("min_cost")),
        )
        .join(s, F.col("suppkey") == F.col("s_suppkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "supply_cost"
        )
        .orderBy(
            F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey")
        )
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q8: national market share — conditional share of a 6-way join, by year.
# --------------------------------------------------------------------------
@register(
    "q8_market_share",
    oracle="""
    SELECT year(o.o_orderdate) AS o_year,
           {target} / {total} AS mkt_share
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    JOIN region cr  ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    WHERE cr.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY year(o.o_orderdate)
    """.format(
        target=sql_dsum(
            "CASE WHEN sn.n_name = 'NATION_3' "
            "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END"
        ),
        total=sql_dsum("l.l_extendedprice * (1 - l.l_discount)"),
    ),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    am = _nations_in_region(spark, sf_dir, "AMERICA").select("n_nationkey")
    all_n = F.broadcast(
        load_table(spark, "nation", sf_dir).select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name")
        )
    )
    c = load_table(spark, "customer", sf_dir).join(
        am, F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey")
    p = load_table(spark, "part", sf_dir).filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    s = load_table(spark, "supplier", sf_dir).join(
        all_n, F.col("s_nationkey") == F.col("sn_key")
    ).select("s_suppkey", "sn_name")
    l = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            dsum(F.when(F.col("sn_name") == "NATION_3", vol).otherwise(0.0)).alias(
                "_target"
            ),
            dsum(vol).alias("_total"),
        )
        .select(
            "o_year", (F.col("_target") / F.col("_total")).alias("mkt_share")
        )
    )


# --------------------------------------------------------------------------
# Q9: product-type profit by nation x year. No ps_supplycost in the lake,
# so cost is proxied as half the part's retail price per unit — keeps the
# expression shape (revenue minus quantity-scaled cost) intact.
# --------------------------------------------------------------------------
@register(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           {profit} AS sum_profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """.format(
        profit=sql_dsum(
            "l.l_extendedprice * (1 - l.l_discount)"
            " - 0.5 * p.p_retailprice * l.l_quantity"
        )
    ),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir).filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey", "p_retailprice")
    n = F.broadcast(load_table(spark, "nation", sf_dir))
    s = load_table(spark, "supplier", sf_dir).join(
        n, F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "n_name")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderdate")
    l = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(profit).alias("sum_profit"))
    )


# --------------------------------------------------------------------------
# Q11: group value vs a global-aggregate threshold (scalar subquery).
# The supply "value" per part comes from lineitem revenue for one nation's
# suppliers; parts above 0.1% of the national total survive.
# --------------------------------------------------------------------------
@register(
    "q11_important_stock",
    oracle="""
    WITH natsupply AS (
      SELECT l.l_partkey AS partkey, {val} AS part_value
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey = 7
      GROUP BY l.l_partkey
    )
    SELECT partkey, part_value
    FROM natsupply,
         (SELECT {tot} AS total_value FROM natsupply) t
    WHERE part_value > 0.001 * t.total_value
    """.format(
        val=sql_dsum("l.l_extendedprice"),
        tot=sql_dsum("part_value"),
    ),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, "supplier", sf_dir).filter(
        F.col("s_nationkey") == 7
    ).select("s_suppkey")
    l = load_table(spark, "lineitem", sf_dir).select("l_partkey", "l_suppkey", "l_extendedprice")
    per_part = (
        l.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(dsum("l_extendedprice").alias("part_value"))
    )
    total = per_part.agg(dsum("part_value").alias("total_value"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.lit(0.001) * F.col("total_value"))
        .select("partkey", "part_value")
    )


# --------------------------------------------------------------------------
# Q12: late-shipment priority classes (conditional counts). l_shipmode is
# absent, so groups come from l_returnflag; "late" = shipped after order
# date within the audit year.
# --------------------------------------------------------------------------
@register(
    "q12_priority_classes",
    oracle="""
    SELECT l.l_returnflag AS shipgroup,
           COUNT(*) FILTER (WHERE o.o_orderpriority IN ('1-URGENT','2-HIGH'))
             AS high_line_count,
           COUNT(*) FILTER (WHERE o.o_orderpriority NOT IN ('1-URGENT','2-HIGH'))
             AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate > o.o_orderdate
    GROUP BY l.l_returnflag
    """,
)
def q12_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    l = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_shipdate", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, (F.col("l_orderkey") == F.col("o_orderkey")))
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy(F.col("l_returnflag").alias("shipgroup"))
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# Q13: customer order-count distribution — outer join with a predicate in
# the join condition (not a post-filter!), then a second aggregation over
# the first's result.
# --------------------------------------------------------------------------
@register(
    "q13_customer_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c.c_custkey AS c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir).select("c_custkey")
    o = load_table(spark, "orders", sf_dir).select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderpriority") != "4-NOT SPECIFIED"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# --------------------------------------------------------------------------
# Q14: promo revenue share for one month (conditional revenue ratio).
# --------------------------------------------------------------------------
@register(
    "q14_promo_revenue",
    oracle="""
    SELECT 100.0 * {promo} / {total} AS promo_revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """.format(
        promo=sql_dsum(
            "CASE WHEN p.p_type = 'PROMO' "
            "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END"
        ),
        total=sql_dsum("l.l_extendedprice * (1 - l.l_discount)"),
    ),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = load_table(spark, "part", sf_dir).select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            dsum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0)).alias("_p"),
            dsum(vol).alias("_t"),
        )
        .select((F.lit(100.0) * F.col("_p") / F.col("_t")).alias("promo_revenue"))
    )


# --------------------------------------------------------------------------
# Q15: top supplier — an aggregate "view" joined back to its own maximum.
# The max is a broadcast 1-row aggregate, never a collect; equality on the
# exact-decimal revenue is hash-safe.
# --------------------------------------------------------------------------
@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, {rev} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name,
           r.total_revenue AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """.format(rev=sql_dsum("l_extendedprice * (1 - l_discount)")),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# Q16: supplier counts per part dims with a NOT IN exclusion. The supply
# relation is lineitem; "complaint" suppliers are proxied by negative
# account balance.
# --------------------------------------------------------------------------
@register(
    "q16_part_supplier_counts",
    oracle="""
    SELECT p.p_brand AS p_brand, p.p_type AS p_type, p.p_size AS p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#4' AND p.p_type <> 'ECONOMY'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#4")
        & (F.col("p_type") != "ECONOMY")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = load_table(spark, "supplier", sf_dir).filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    l = load_table(spark, "lineitem", sf_dir).select("l_partkey", "l_suppkey")
    return (
        l.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# Q18: large-volume customers — HAVING over the fact table drives a semi
# join back into a 3-way join.
# --------------------------------------------------------------------------
@register(
    "q18_large_volume_customers",
    oracle="""
    SELECT c.c_name AS c_name, c.c_custkey AS c_custkey,
           o.o_orderkey AS o_orderkey, o.o_orderdate AS o_orderdate,
           o.o_totalprice AS o_totalprice, {qty} AS sum_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """.format(qty=sql_dsum("l.l_quantity")),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One pass over lineitem, total. The textbook form (HAVING-filtered
    # keys semi-join orders, then re-join lineitem to re-aggregate
    # per-order quantity) scans AND shuffles the fact table twice; but
    # the per-order sum the final SELECT wants is exactly the aggregate
    # the HAVING already computed, so carrying it through the join makes
    # the second fact-table pass disappear. At 300x (180M lineitem rows)
    # that re-join dominated everything: 160.8 s -> re-measured after
    # this rewrite in SCALE_r07_sf30.json. The grouping by order PK makes
    # the per-customer group equivalence exact (one row per order either
    # way); the oracle keeps the textbook double-pass form.
    l = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    big = (
        l.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = load_table(spark, "orders", sf_dir).join(
        big, F.col("o_orderkey") == F.col("l_orderkey")
    )
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_name")
    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q19: disjunctive OR-of-ANDs join predicate. The equi key still carries
# the join; the disjunction evaluates post-match (no cartesian product —
# plan-tested expectation, same as join_range_part_quantity_band).
# --------------------------------------------------------------------------
@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT {rev} AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#4'  AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#2'  AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 25)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 40)
    """.format(rev=sql_dsum("l.l_extendedprice * (1 - l.l_discount)")),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand", "p_size")
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    disj = (
        ((brand == "Brand#4") & size.between(1, 15) & qty.between(1, 15))
        | ((brand == "Brand#2") & size.between(1, 25) & qty.between(10, 25))
        | ((brand == "Brand#19") & size.between(1, 35) & qty.between(20, 40))
    )
    return (
        l.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(disj)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


# --------------------------------------------------------------------------
# Q20: semi-join chain through a HAVING aggregate — suppliers in one
# region who shipped a meaningful volume of a part family in a year.
# --------------------------------------------------------------------------
@register(
    "q20_potential_promotion",
    oracle="""
    SELECT s.s_name AS s_name, s.s_acctbal AS s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE 'red%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_suppkey
        HAVING SUM(l.l_quantity) > 100
      )
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    eu = _nations_in_region(spark, sf_dir, "EUROPE").select("n_nationkey")
    s = load_table(spark, "supplier", sf_dir).join(
        eu, F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "s_acctbal")
    p = load_table(spark, "part", sf_dir).filter(
        F.col("p_name").like("red%")
    ).select("p_partkey")
    l = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("l_suppkey", "l_partkey", "l_quantity")
    qualified = (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 100)
    )
    return s.join(
        qualified, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_name", "s_acctbal")


# --------------------------------------------------------------------------
# Q21: suppliers who kept orders waiting — EXISTS + NOT EXISTS self-joins.
# "Late" = shipped more than 60 days after the order date (the lake has no
# receipt/commit dates). A supplier is counted when it was late on a
# finalized multi-supplier order where no OTHER supplier was late.
# --------------------------------------------------------------------------
@register(
    "q21_waiting_supplier",
    oracle="""
    SELECT s.s_name AS s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    l = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late_cut = F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    # l1: late lines on finalized orders (keeps one row per late line —
    # q21 counts lines, not distinct orders).
    l1 = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > late_cut)
        .select("l_orderkey", "l_suppkey")
    )
    # EXISTS (another supplier on the order) and NOT EXISTS (another LATE
    # supplier) rewritten as per-order distinct-supplier counts joined
    # back to the late lines: "exists different supplier" <=> the order
    # has >= 2 distinct suppliers (this line's supplier is one of them);
    # "no OTHER late supplier" <=> the order has exactly 1 distinct late
    # supplier (this line's supplier IS late, so it is that one). Same
    # row multiset as the semi/anti formulation the oracle runs, but two
    # map-side-combined aggregates + two orderkey-local joins instead of
    # an order-pair semi + anti over the full lineitem — the previous
    # shape also planned the late-line join subtree twice (once per
    # semi/anti side) and curved 6.7 -> 39.6 s from sf1 to sf3.
    l1 = l1.persist()
    n_supp = (
        l.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_supp"))
        .select(F.col("l_orderkey").alias("ns_orderkey"), "n_supp")
    )
    n_late = (
        l1.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_late_supp"))
        .select(F.col("l_orderkey").alias("nl_orderkey"), "n_late_supp")
    )
    only_late = (
        l1.join(n_supp, F.col("l_orderkey") == F.col("ns_orderkey"))
        .join(n_late, F.col("l_orderkey") == F.col("nl_orderkey"))
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    result = (
        only_late.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )
    return persist_for(l1, result)


# --------------------------------------------------------------------------
# Q22: global sales opportunity — anti join + global scalar average.
# The lake has no phone country codes, so the "country" slice is a set of
# nation keys; "no orders" is narrowed to "no urgent orders" because every
# synthetic customer has at least one order.
# --------------------------------------------------------------------------
@register(
    "q22_global_sales_opportunity",
    oracle="""
    WITH pool AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer
      WHERE c_nationkey IN (3, 8, 13, 18, 23)
    ),
    avg_bal AS (SELECT {avg} AS ab FROM pool WHERE c_acctbal > 0.0)
    SELECT p.c_nationkey AS nationkey, COUNT(*) AS numcust,
           {bal} AS totacctbal
    FROM pool p, avg_bal
    WHERE p.c_acctbal > avg_bal.ab
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = p.c_custkey AND o.o_orderpriority = '1-URGENT'
      )
    GROUP BY p.c_nationkey
    """.format(avg=sql_davg("c_acctbal"), bal=sql_dsum("p.c_acctbal")),
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pool = load_table(spark, "customer", sf_dir).filter(
        F.col("c_nationkey").isin(3, 8, 13, 18, 23)
    ).select("c_custkey", "c_nationkey", "c_acctbal")
    avg_bal = pool.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("ab")
    )
    urgent = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    return (
        pool.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(urgent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )
