"""The relational operator inventory — SURVEY.md §2.11 Q1–Q24+.

The reference has NO relational algebra (no joins/aggs/windows/sorts/
set-ops, SURVEY.md §2.11 evidence column); this module fills every
category with the idiomatic built-in Spark operator, declared as
concrete oracle-checkable queries over the /root/testdata tables.

Each query is a function ``(spark, sf_dir) -> DataFrame`` registered
in ``QUERIES``; its DuckDB oracle SQL lives in ``ORACLES`` under the
same key with IDENTICAL output column names (the driver's comparator
sorts columns by name before hashing).

Determinism rules applied throughout (the hash-match hazards from
SURVEY.md §7.3):
* money/measure SUM/AVG go through DECIMAL and rounding uses the
  FLOOR(x*10^k+0.5)/10^k form, never ROUND — both through
  :mod:`smartpipeline_spark.rounding`, which states why;
* dates/timestamps output as formatted strings or epoch integers;
* every top-k / window ordering carries a unique-key tiebreak.

Scale notes are inline: dimension joins are broadcast, aggregations
rely on partial (map-side) aggregation, filters are Catalyst-native so
they push into the parquet scan.
"""

from __future__ import annotations

import glob
import os
from typing import Callable

import pandas as pd  # resolves stringified type hints of pandas UDFs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from smartpipeline_spark import sources
from smartpipeline_spark.rounding import (
    DEC4,
    DEC8,
    DEC28,
    davg2,
    dsum2,
    half_up,
    sql_davg2,
    sql_dsum2,
    sql_half_up,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return sources.table(spark, name, sf_dir)


# ---------------------------------------------------------------------------
# Scans & sinks
# ---------------------------------------------------------------------------

@query("q01_scan_count", "SELECT COUNT(*) AS cnt FROM lineitem")
def q01_scan_count(spark, sf_dir):
    """Parquet scan + count — row-group metadata only, no data read."""
    return _t(spark, sf_dir, "lineitem").agg(F.count("*").alias("cnt"))


@query(
    "q02_sink_roundtrip",
    f"""SELECT COUNT(*) AS n_rows,
               {sql_dsum2('o_totalprice')} AS sum_total,
               (SELECT COUNT(*) FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1997)
                 AS n_rows_1997,
               (SELECT {sql_dsum2('o_totalprice')} FROM orders
                WHERE year(CAST(o_orderdate AS DATE)) = 1997) AS sum_total_1997
        FROM orders""",
)
def q02_sink_roundtrip(spark, sf_dir):
    """Both sink shapes in one round trip: (a) orders -> json ->
    re-read with an explicit partial schema (JSON projection pushdown)
    -> aggregate; (b) orders -> parquet partitionBy(o_year) -> filtered
    re-read that touches ONLY the o_year=1997 directory (partition
    pruning — the single most important layout lever at 100 TB).

    Paths are per-process under the user's private scratch root
    (:func:`sources.scratch_root`) so concurrent runs and checkouts
    don't collide on the sink directory; sink dirs left behind by DEAD
    processes are reaped here so repeated harness runs don't
    accumulate litter."""
    import shutil

    root = sources.scratch_root("q02_sink")
    for stale in glob.glob(f"{root}/*"):
        try:
            pid = int(os.path.basename(stale))
            if pid != os.getpid():
                os.kill(pid, 0)  # raises if the owner is gone
        except ProcessLookupError:
            shutil.rmtree(stale, ignore_errors=True)
        except (ValueError, PermissionError):
            pass
    base = f"{root}/{os.getpid()}"
    os.makedirs(base, exist_ok=True)
    o = _t(spark, sf_dir, "orders")

    out_json = f"{base}/roundtrip_json"
    o.write.mode("overwrite").json(out_json)
    back = spark.read.schema("o_totalprice double").json(out_json)
    flat = back.agg(
        F.count("*").alias("n_rows"),
        dsum2(F.col("o_totalprice")).alias("sum_total"),
    )

    out_part = f"{base}/partitioned"
    o.withColumn("o_year", F.year("o_orderdate")).write.mode("overwrite").partitionBy(
        "o_year"
    ).parquet(out_part)
    pruned = (
        spark.read.parquet(out_part)
        .filter(F.col("o_year") == 1997)
        .agg(
            F.count("*").alias("n_rows_1997"),
            dsum2(F.col("o_totalprice")).alias("sum_total_1997"),
        )
    )
    return flat.crossJoin(pruned)


# ---------------------------------------------------------------------------
# Projection / filter (Catalyst-native: pushes into the parquet scan)
# ---------------------------------------------------------------------------

@query(
    "q03_filter_project",
    """SELECT l_orderkey, l_linenumber,
              l_extendedprice * (1 - l_discount) AS rev
       FROM lineitem
       WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'""",
)
def q03_filter_project(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.to_date("l_shipdate") <= F.lit("1998-09-02").cast("date")).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("rev"),
    )


# ---------------------------------------------------------------------------
# Joins — every flavor. Dimensions are broadcast explicitly; fact-fact
# joins shuffle on the join key and benefit from AQE skew handling.
# ---------------------------------------------------------------------------

@query(
    "q04_join_inner",
    """SELECT o_orderkey, c_name, o_totalprice
       FROM orders JOIN customer ON o_custkey = c_custkey""",
)
def q04_join_inner(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    # customer is the small side at any SF ratio -> broadcast
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_name", "o_totalprice"
    )


@query(
    "q05_join_left_agg",
    f"""SELECT c_custkey, c_name,
               COUNT(o_orderkey) AS n_orders,
               COALESCE({sql_dsum2('o_totalprice')}, 0.0) AS sum_spent
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name""",
)
def q05_join_left_agg(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    # At scale: pre-aggregate the fact side BEFORE the join so the
    # left join is dim-sized vs custkey-sized, not dim vs full fact.
    per_cust = o.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("_n"),
        dsum2(F.col("o_totalprice")).alias("_s"),
    )
    return c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left").select(
        "c_custkey",
        "c_name",
        F.coalesce(F.col("_n"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("_s"), F.lit(0.0)).alias("sum_spent"),
    )


@query(
    "q06_join_broadcast",
    f"""SELECT n_name,
               {sql_dsum2('l_extendedprice * (1 - l_discount)', 'DECIMAL(22,8)')} AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name""",
)
def q06_join_broadcast(spark, sf_dir):
    """Star join: the filtered dim chain broadcasts, so the fact table
    streams through map-side hash joins with zero shuffle before the
    final (partial-agg'd) groupBy."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dim = sup.join(
        F.broadcast(nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)),
        sup.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "n_name")
    return (
        li.join(F.broadcast(dim), li.l_suppkey == dim.s_suppkey)
        .groupBy("n_name")
        .agg(
            dsum2(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), DEC8
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q07_join_semi",
    """SELECT c_custkey, c_name FROM customer
       WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
)
def q07_join_semi(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "q08_join_anti",
    """SELECT c_custkey, c_name FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
)
def q08_join_anti(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "q09_join_3way",
    f"""SELECT l_orderkey,
              strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date,
              o_orderpriority,
              {sql_dsum2('l_extendedprice * (1 - l_discount)', 'DECIMAL(22,8)')} AS revenue
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
         AND CAST(l_shipdate AS DATE) > DATE '1998-01-01'
       GROUP BY l_orderkey, o_date, o_orderpriority""",
)
def q09_join_3way(spark, sf_dir):
    """TPC-H Q3 shape. Filters applied before the joins (Catalyst pushes
    them into the scans); customer side broadcast."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit("1998-01-01").cast("date")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit("1998-01-01").cast("date")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            "o_orderpriority",
        )
        .agg(
            dsum2(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), DEC8
            ).alias("revenue")
        )
    )


@query(
    "q10_join_range",
    f"""SELECT l_returnflag, COUNT(*) AS n_rows,
              {sql_dsum2('l_extendedprice * (1 - l_discount)', 'DECIMAL(22,8)')} AS sum_rev
       FROM lineitem JOIN orders
         ON l_orderkey = o_orderkey
        AND CAST(l_shipdate AS DATE) BETWEEN CAST(o_orderdate AS DATE)
                                         AND CAST(o_orderdate AS DATE) + 90
       GROUP BY l_returnflag""",
)
def q10_join_range(spark, sf_dir):
    """Equi + range predicate: the equi key keeps it a hash/sort-merge
    join (NOT a cartesian range join); the BETWEEN is a post-join
    filter evaluated inside the join operator."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (F.to_date(li.l_shipdate) >= F.to_date(o.o_orderdate))
        & (F.to_date(li.l_shipdate) <= F.date_add(F.to_date(o.o_orderdate), 90))
    )
    return (
        li.join(o, cond)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            dsum2(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), DEC8
            ).alias("sum_rev"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------

@query(
    "q11_agg_pricing_summary",
    f"""SELECT l_returnflag, l_linestatus,
              {sql_dsum2('l_quantity')} AS sum_qty,
              {sql_dsum2('l_extendedprice')} AS sum_base_price,
              {sql_dsum2('l_extendedprice * (1 - l_discount)', 'DECIMAL(22,8)')} AS sum_disc_price,
              {sql_dsum2('(l_extendedprice * (1 - l_discount)) * (1 + l_tax)', 'DECIMAL(22,8)')} AS sum_charge,
              {sql_davg2('l_quantity')} AS avg_qty,
              {sql_davg2('l_extendedprice')} AS avg_price,
              {sql_davg2('l_discount')} AS avg_disc,
              COUNT(*) AS count_order
       FROM lineitem
       WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
       GROUP BY l_returnflag, l_linestatus""",
)
def q11_agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape — the flagship aggregation. Hash aggregate with
    automatic partial (map-side) combine; 6 groups total, so the final
    exchange moves ~nothing."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc * (F.lit(1) + F.col("l_tax"))
    cnt = F.count("*")
    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum2(F.col("l_quantity")).alias("sum_qty"),
            dsum2(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum2(disc, DEC8).alias("sum_disc_price"),
            dsum2(charge, DEC8).alias("sum_charge"),
            davg2(F.col("l_quantity"), cnt).alias("avg_qty"),
            davg2(F.col("l_extendedprice"), cnt).alias("avg_price"),
            davg2(F.col("l_discount"), cnt).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q12_count_distinct",
    """SELECT COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_orders
       FROM orders""",
)
def q12_count_distinct(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_cust"), F.count("*").alias("n_orders")
    )


# Pinned HLL++ estimates per frozen fixture, keyed by COUNT(*) of
# orders. DuckDB cannot replay Spark's HyperLogLog++ (different
# sketch), but the estimate is a DETERMINISTIC pure function of the
# data: register maxima are order- and partitioning-independent, so
# the value is stable across shuffles, layouts and retries — the
# fixture-closed-form recipe applies. Honesty is two-sided:
# test_approx_distinct_within_rsd_bound proves the value is a sane
# estimate of the true distinct count, and
# test_q12b_oracle_pins_match_engine re-derives the pins via the
# engine at every ladder sf so they cannot rot.
# Independence class (closed r12): tests/hll_reference.py is a pure-
# CPython HyperLogLog++ twin (xxHash64 from the public spec, the HLL++
# paper's published p=14 bias tables, parquet read via pyarrow) and
# test_q12b_pins_match_pure_hll_reference re-derives every pin with NO
# SparkSession — the same recipe that de-circularized the classifier
# pins in r11. The rsd-bound pytest remains as the semantic check.
_Q12B_HLL_PINS = {1500: 151, 15000: 1507, 150000: 14897}


@query(
    "q12b_approx_distinct",
    f"""SELECT CAST(n_cust_approx AS BIGINT) AS n_cust_approx FROM (VALUES
        {",".join(f"({n},{v})" for n, v in sorted(_Q12B_HLL_PINS.items()))})
        pins(n_orders, n_cust_approx)
        WHERE n_orders = (SELECT COUNT(*) FROM orders)""",
)
def q12b_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++) — the scale path for
    distinct counting: one pass, no distinct shuffle, bounded memory.
    Oracled as of r10 via per-fixture pinned estimates (see
    _Q12B_HLL_PINS); the rsd-bound pytest remains."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(F.approx_count_distinct("o_custkey", 0.01).alias("n_cust_approx"))


@query(
    "q13_rollup",
    f"""SELECT n_name, c_mktsegment, COUNT(*) AS n_cust,
              {sql_davg2('c_acctbal')} AS avg_bal
       FROM customer JOIN nation ON c_nationkey = n_nationkey
       GROUP BY ROLLUP(n_name, c_mktsegment)""",
)
def q13_rollup(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup("n_name", "c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            davg2(F.col("c_acctbal"), F.count("*")).alias("avg_bal"),
        )
    )


@query(
    "q14_cube",
    f"""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
              {sql_dsum2('o_totalprice')} AS total
       FROM orders
       GROUP BY CUBE(o_orderpriority, o_orderstatus)""",
)
def q14_cube(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n"), dsum2(F.col("o_totalprice")).alias("total")
    )


@query(
    "q13b_grouping_sets",
    f"""SELECT n_name, c_mktsegment, COUNT(*) AS n_cust,
               {sql_dsum2('c_acctbal')} AS sum_bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())""",
)
def q13b_grouping_sets(spark, sf_dir):
    """GROUPING SETS via the SQL surface (the DataFrame API only has
    rollup/cube); also demonstrates the engine's spark.sql entry point
    over registered temp views."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(
        """SELECT n_name, c_mktsegment, COUNT(*) AS n_cust,
                  CAST(FLOOR(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                             * 100.0 + 0.5) / 100.0 AS DOUBLE) AS sum_bal
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())"""
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

@query(
    "q28_percentiles",
    f"""SELECT o_orderstatus,
               {sql_half_up("quantile_cont(o_totalprice, 0.5)", 2)} AS median_price,
               {sql_half_up("quantile_cont(o_totalprice, 0.9)", 2)} AS p90_price,
               {sql_half_up("MIN(o_totalprice)", 2)} AS min_price,
               {sql_half_up("MAX(o_totalprice)", 2)} AS max_price
        FROM orders GROUP BY o_orderstatus""",
)
def q28_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (median/p90) per group. The
    oracle-checked exact form sorts within groups; the 100 TB path is
    approx_percentile (one-pass sketch, no sort) — same API shape,
    swap when exactness isn't required."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        half_up(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("median_price"),
        half_up(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90_price"),
        half_up(F.min("o_totalprice"), 2).alias("min_price"),
        half_up(F.max("o_totalprice"), 2).alias("max_price"),
    )


@query(
    "q33_filtered_agg",
    f"""SELECT o_orderpriority,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
               COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
               {sql_dsum2("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS total_finished
        FROM orders GROUP BY o_orderpriority""",
)
def q33_filtered_agg(spark, sf_dir):
    """Conditional aggregation (FILTER clauses) — one scan computing
    several disjoint aggregates instead of one scan per predicate."""
    o = _t(spark, sf_dir, "orders")
    is_f = F.col("o_orderstatus") == "F"
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(is_f, 1)).alias("n_finished"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        dsum2(F.when(is_f, F.col("o_totalprice"))).alias("total_finished"),
    )


@query(
    "q34_minby_maxby",
    """SELECT o_custkey,
              min_by(o_orderkey, o_totalprice) AS cheapest_order,
              max_by(o_orderkey, o_totalprice) AS priciest_order
       FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                    ROW_NUMBER() OVER (PARTITION BY o_custkey, o_totalprice
                                       ORDER BY o_orderkey) AS rn
             FROM orders) t
       WHERE rn = 1
       GROUP BY o_custkey""",
)
def q34_minby_maxby(spark, sf_dir):
    """min_by/max_by argmin aggregates. Ties on o_totalprice are
    engine-arbitrary, so the inner row_number pre-dedups to one
    orderkey per (custkey, price), making the arg unique."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_totalprice").orderBy("o_orderkey")
    dedup = o.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return dedup.groupBy("o_custkey").agg(
        F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
        F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
    )


@query(
    "q35_string_agg",
    """SELECT n_name,
              string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments
       FROM customer JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name""",
)
def q35_string_agg(spark, sf_dir):
    """Ordered string aggregation: collect_set -> sort -> join gives a
    deterministic result regardless of row arrival order (bare
    collect_list/string_agg order is partitioning-dependent)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("c_mktsegment")), ","
            ).alias("segments")
        )
    )


@query(
    "q15_window_topk",
    """SELECT o_custkey, rn, rnk, drnk, quartile, next_orderkey,
              o_orderkey, o_totalprice FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
                ROW_NUMBER() OVER w AS rn,
                RANK() OVER w AS rnk,
                DENSE_RANK() OVER w AS drnk,
                NTILE(4) OVER w AS quartile,
                LEAD(o_orderkey) OVER w AS next_orderkey
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey)) t
       WHERE rn <= 3""",
)
def q15_window_topk(spark, sf_dir):
    """Top-k per group plus the whole rank-function family
    (rank/dense_rank/ntile/lead) over one shared window definition —
    Spark evaluates all five in a single Window physical node, so the
    bundle costs one sort, same as row_number alone."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.lead("o_orderkey").over(w).alias("next_orderkey"),
        )
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey", "rn", "rnk", "drnk", "quartile", "next_orderkey",
            "o_orderkey", "o_totalprice",
        )
    )


@query(
    "q16_window_running",
    f"""SELECT o_custkey, o_orderkey,
              {sql_half_up('''CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
                 PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)''', 2)} AS running,
              {sql_half_up('''CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
                 PARTITION BY o_custkey
                 ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)''', 2)} AS rolling_30d
       FROM orders""",
)
def q16_window_running(spark, sf_dir):
    """Running total (ROWS frame) plus a 30-day rolling spend (RANGE
    frame over event-time) in one pass. Range frames differ from row
    frames: all orders inside the value window count, ties included,
    independent of row position. Both windows share the partition key,
    so one shuffle feeds two Window nodes."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.to_date("o_orderdate"), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    epoch_day = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
    w_range = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch_day)
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        half_up(F.sum(F.col("o_totalprice").cast(DEC4)).over(w).cast("double"), 2).alias("running"),
        half_up(F.sum(F.col("o_totalprice").cast(DEC4)).over(w_range).cast("double"), 2).alias(
            "rolling_30d"
        ),
    )


@query(
    "q17_window_lag",
    f"""SELECT o_custkey, o_orderkey,
              LAG(o_totalprice) OVER w AS prev_price,
              {sql_half_up('o_totalprice - LAG(o_totalprice) OVER w', 2)} AS delta,
              FIRST_VALUE(o_orderkey) OVER w AS first_key,
              NTH_VALUE(o_orderkey, 3) OVER w AS third_key,
              {sql_half_up('PERCENT_RANK() OVER w * 1000.0', 2)} AS pct_rank_k,
              {sql_half_up('CUME_DIST() OVER w * 1000.0', 2)} AS cume_k
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey
                    ORDER BY CAST(o_orderdate AS DATE), o_orderkey)""",
)
def q17_window_lag(spark, sf_dir):
    """Offset + distribution window functions over one shared spec:
    lag/delta, first_value, nth_value (default running frame, so the
    3rd key is null until 3 rows accumulate), percent_rank and
    cume_dist (scaled+rounded — their double division is identical
    IEEE math in both engines on exact small-int operands)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.to_date("o_orderdate"), F.col("o_orderkey"))
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("o_totalprice").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        prev.alias("prev_price"),
        half_up(F.col("o_totalprice") - prev, 2).alias("delta"),
        F.first("o_orderkey").over(wf).alias("first_key"),
        F.nth_value("o_orderkey", 3).over(wf).alias("third_key"),
        half_up(F.percent_rank().over(w) * F.lit(1000.0), 2).alias("pct_rank_k"),
        half_up(F.cume_dist().over(w) * F.lit(1000.0), 2).alias("cume_k"),
    )


# ---------------------------------------------------------------------------
# Sort / limit
# ---------------------------------------------------------------------------

@query(
    "q18_orderby_limit",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def q18_orderby_limit(spark, sf_dir):
    """Top-k: Spark plans this as TakeOrderedAndProject — per-partition
    heap + driver merge, no global sort, no full shuffle."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

@query(
    "q19_union",
    """SELECT
         (SELECT COUNT(*) FROM (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            UNION ALL
            SELECT c_custkey FROM customer WHERE c_acctbal > 5000) t) AS n_all,
         (SELECT COUNT(*) FROM (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            UNION
            SELECT c_custkey FROM customer WHERE c_acctbal > 5000) t) AS n_distinct""",
)
def q19_union(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    n_all = a.unionAll(b).agg(F.count("*").alias("n_all"))
    n_distinct = a.union(b).distinct().agg(F.count("*").alias("n_distinct"))
    return n_all.crossJoin(n_distinct)


@query(
    "q20_intersect_except",
    """SELECT
         (SELECT COUNT(*) FROM (
            SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
            INTERSECT
            SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O') t) AS n_intersect,
         (SELECT COUNT(*) FROM (
            SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
            EXCEPT
            SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O') t) AS n_except,
         (SELECT COUNT(*) FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            INTERSECT ALL
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') t) AS n_intersect_all,
         (SELECT COUNT(*) FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            EXCEPT ALL
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') t) AS n_except_all""",
)
def q20_intersect_except(spark, sf_dir):
    """Set semantics (INTERSECT/EXCEPT over distinct keys) alongside the
    bag-semantics ALL variants (multiplicity-aware: min(count) /
    count-difference per key), one column each."""
    o = _t(spark, sf_dir, "orders")
    f_d = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    op_d = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    n_int = f_d.intersect(op_d).agg(F.count("*").alias("n_intersect"))
    n_exc = f_d.exceptAll(op_d).agg(F.count("*").alias("n_except"))
    f_ = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    n_int_all = f_.intersectAll(op).agg(F.count("*").alias("n_intersect_all"))
    n_exc_all = f_.exceptAll(op).agg(F.count("*").alias("n_except_all"))
    return n_int.crossJoin(n_exc).crossJoin(n_int_all).crossJoin(n_exc_all)


# ---------------------------------------------------------------------------
# Scalar function battery (strings / math / dates / json) — mirrors every
# concrete reference stage (TextReverser/TextReplacer/TextReducer/VatFinder
# /JsonlDump, SURVEY.md §2.3) with the built-in JVM-side equivalent.
# ---------------------------------------------------------------------------

@query(
    "q21_scalar_strings",
    f"""SELECT p_partkey,
              reverse(p_name) AS rev_name,
              substring(p_name, 1, 12) AS name12,
              upper(p_type) AS type_upper,
              length(p_name) AS name_len,
              CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INT) AS brand_num,
              {sql_half_up('p_retailprice * 1.1', 2)} AS uplift,
              concat(p_brand, ':', p_type) AS brand_type,
              replace(p_name, ' ', '_') AS snake_name
       FROM part""",
)
def q21_scalar_strings(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.reverse("p_name").alias("rev_name"),
        F.substring("p_name", 1, 12).alias("name12"),
        F.upper("p_type").alias("type_upper"),
        F.length("p_name").alias("name_len"),
        F.regexp_extract("p_brand", "([0-9]+)", 1).cast("int").alias("brand_num"),
        half_up(F.col("p_retailprice") * 1.1, 2).alias("uplift"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", " ", "_").alias("snake_name"),
    )


@query(
    "q21b_scalar_dates",
    """SELECT o_orderkey,
              year(o_orderdate) AS o_year,
              month(o_orderdate) AS o_month,
              quarter(o_orderdate) AS o_quarter,
              strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date,
              date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
              strftime(CAST(o_orderdate AS DATE) + 7, '%Y-%m-%d') AS next_week
       FROM orders""",
)
def q21b_scalar_dates(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.quarter("o_orderdate").alias("o_quarter"),
        F.date_format(d, "yyyy-MM-dd").alias("o_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), d).alias("days_to_2002"),
        F.date_format(F.date_add(d, 7), "yyyy-MM-dd").alias("next_week"),
    )


@query(
    "q21c_scalar_json",
    """SELECT event_id,
              CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
              event_type,
              CAST(json_extract_string(props, '$.k') AS INT) AS k_from_map,
              len(json_keys(props)) AS n_keys,
              json_keys(props)[1] AS first_key,
              CAST(json_extract_string(props, '$.k') AS INT) AS k_typed
       FROM events""",
)
def q21c_scalar_json(spark, sf_dir):
    """JSON + map-type battery: path extraction, parse into
    map<string,int> (element_at / map_keys / size), and parse into a
    typed struct — the three ways semi-structured columns become
    relational. The oracle computes the same values through DuckDB's
    json functions; only OUTPUT values must agree, not the
    intermediate representation."""
    e = _t(spark, sf_dir, "events")
    props_map = F.from_json("props", "map<string,int>")
    props_struct = F.from_json("props", "struct<k:int>")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        "event_type",
        F.element_at(props_map, "k").alias("k_from_map"),
        F.size(props_map).alias("n_keys"),
        F.element_at(F.map_keys(props_map), 1).alias("first_key"),
        props_struct["k"].alias("k_typed"),
    )


@query(
    "q21d_array_map",
    """SELECT doc_id,
              len(string_split(text, ' ')) AS n_words,
              array_to_string(string_split(text, ' ')[1:3], '-') AS first3,
              CAST(list_contains(string_split(lower(text), ' '), 'data') AS INT) AS has_data,
              list_sort(string_split(lower(substring(text, 1, 30)), ' '))[1] AS min_word,
              string_split(text, ' ')[-1] AS last_word,
              len(list_filter(string_split(text, ' '), w -> length(w) > 5))
                AS n_long_words,
              CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w)))
                AS BIGINT) AS total_chars,
              array_to_string(list_transform(string_split(text, ' ')[1:2],
                                             w -> upper(w)), '-') AS first2_upper
       FROM documents""",
)
def q21d_array_map(spark, sf_dir):
    """Array-function battery: split/size/slice/contains/sort/element_at
    plus the lambda higher-order trio (filter / transform / aggregate)
    — all JVM-side, no UDFs."""
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    words_lower = F.split(F.lower(F.col("text")), " ")
    return d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.array_join(F.slice(words, 1, 3), "-").alias("first3"),
        F.array_contains(words_lower, "data").cast("int").alias("has_data"),
        F.element_at(
            F.sort_array(F.split(F.lower(F.substring("text", 1, 30)), " ")), 1
        ).alias("min_word"),
        F.element_at(words, -1).alias("last_word"),
        F.size(F.filter(words, lambda w: F.length(w) > 5)).alias("n_long_words"),
        F.aggregate(
            words, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
        ).alias("total_chars"),
        F.array_join(
            F.transform(F.slice(words, 1, 2), lambda w: F.upper(w)), "-"
        ).alias("first2_upper"),
    )


@query(
    "q27_explode_wordfreq",
    """SELECT word, COUNT(*) AS n
       FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
             FROM documents)
       GROUP BY word
       HAVING COUNT(*) >= 50""",
)
def q27_explode_wordfreq(spark, sf_dir):
    """UDTF-shaped row expansion: explode (flatMap) + aggregate — the
    word-count canonical. At 100 TB the explode is streamed, never
    materialized; partial aggregation collapses per-partition counts
    before the one shuffle."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 50)
    )


# ---------------------------------------------------------------------------
# Event-time windows in batch mode (streaming semantics in §streaming/)
# ---------------------------------------------------------------------------

@query(
    "q22_tumbling_window",
    f"""SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)),
                       '%Y-%m-%d %H:%M:%S') AS window_start,
              event_type,
              COUNT(*) AS n_events,
              {sql_dsum2('value', 'DECIMAL(28,12)')} AS sum_value
       FROM events
       GROUP BY window_start, event_type""",
)
def q22_tumbling_window(spark, sf_dir):
    """Tumbling 1h event-time window; epoch-aligned in both engines."""
    e = _t(spark, sf_dir, "events")
    w = F.window("ts", "1 hour")
    return e.groupBy(w, "event_type").agg(
        F.count("*").alias("n_events"),
        dsum2(F.col("value"), DEC28).alias("sum_value"),
    ).select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


@query(
    "q22b_sliding_window",
    """SELECT strftime(time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP))
                      - k * INTERVAL 15 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_start,
              event_type, COUNT(*) AS n_events
       FROM events, LATERAL (SELECT unnest(generate_series(0, 3)) AS k) t
       GROUP BY window_start, event_type""",
)
def q22b_sliding_window(spark, sf_dir):
    """Sliding 1h/15min event-time windows in batch mode: each event
    lands in exactly 4 overlapping windows (the oracle enumerates them
    with generate_series)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
        )
    )


@query(
    "q23_session_window",
    f"""WITH e AS (
         SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, value
         FROM events),
       marked AS (
         SELECT user_id, t_us, value,
                CASE WHEN t_us - LAG(t_us) OVER (PARTITION BY user_id ORDER BY t_us)
                          >= 1800000000
                       OR LAG(t_us) OVER (PARTITION BY user_id ORDER BY t_us) IS NULL
                     THEN 1 ELSE 0 END AS new_sess
         FROM e),
       sess AS (
         SELECT user_id, t_us, value,
                SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM marked)
       SELECT user_id, MIN(t_us) AS sess_start_us, COUNT(*) AS n_events,
              {sql_dsum2('value', 'DECIMAL(28,12)')} AS sum_value
       FROM sess GROUP BY user_id, sid""",
)
def q23_session_window(spark, sf_dir):
    """Session windows (30-min gap) in batch mode via F.session_window;
    the oracle is the classic gaps-and-islands rewrite (new session iff
    gap >= 30min, matching Spark's half-open [start, start+gap))."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("t_us", F.unix_micros(F.col("ts")))
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.min("t_us").alias("sess_start_us"),
            F.count("*").alias("n_events"),
            dsum2(F.col("value"), DEC28).alias("sum_value"),
        )
        .select("user_id", "sess_start_us", "n_events", "sum_value")
    )


@query(
    "q24b_udf_chain_throughput",
    """SELECT l_orderkey, l_linenumber,
              reverse(l_returnflag) AS flag_rev,
              l_extendedprice * (1 - l_discount) AS rev,
              CASE WHEN l_quantity >= 25 THEN 'bulk' ELSE 'small' END AS size_class
       FROM lineitem""",
)
def q24b_udf_chain_throughput(spark, sf_dir):
    """Wrapper throughput probe: a 3-stage Python chain over the full
    fact table (~600k rows at sf0.1). The three stages fuse into ONE
    mapInPandas (single Arrow crossing) and the input is auto-widened
    to cluster parallelism — this is the engine's answer to the
    reference's per-stage concurrency scaling."""
    from smartpipeline_spark.pipeline import Pipeline
    from smartpipeline_spark.stage import Stage

    class RevStage(Stage):
        output_fields = {"rev": "double"}

        def process(self, item):
            item.data["rev"] = item.data["l_extendedprice"] * (
                1 - item.data["l_discount"]
            )
            return item

    class FlagRev(Stage):
        output_fields = {"flag_rev": "string"}

        def process(self, item):
            item.data["flag_rev"] = item.data["l_returnflag"][::-1]
            return item

    class Classify(Stage):
        output_fields = {"size_class": "string"}

        def process(self, item):
            item.data["size_class"] = (
                "bulk" if item.data["l_quantity"] >= 25 else "small"
            )
            return item

    src = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        "l_discount",
        "l_quantity",
    )
    pipe = (
        Pipeline(spark)
        .set_source(src)
        .append("rev", RevStage())
        .append("flagrev", FlagRev())
        .append("classify", Classify())
    )
    return pipe.dataframe().select(
        "l_orderkey", "l_linenumber", "flag_rev", "rev", "size_class"
    )


@query(
    "q32_pivot",
    f"""SELECT o_orderpriority,
               COALESCE("F", 0) AS status_f,
               COALESCE("O", 0) AS status_o,
               COALESCE("P", 0) AS status_p
        FROM (PIVOT orders ON o_orderstatus IN ('F', 'O', 'P')
              USING COUNT(*) GROUP BY o_orderpriority)""",
)
def q32_pivot(spark, sf_dir):
    """Pivot / crosstab: order counts per priority x status. Pivot
    values are declared explicitly — at scale an undeclared pivot
    first runs a distinct scan to discover them AND makes the output
    schema data-dependent; never do that on a 100 TB fact table."""
    o = _t(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
    )


@query(
    "q30_correlated_exists",
    """SELECT o_orderpriority, COUNT(*) AS n_orders
       FROM orders
       WHERE EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey
                       AND CAST(l_shipdate AS DATE) >
                           CAST(o_orderdate AS DATE) + 60)
       GROUP BY o_orderpriority""",
)
def q30_correlated_exists(spark, sf_dir):
    """Correlated EXISTS subquery (TPC-H Q4 shape) through the SQL
    surface — Catalyst rewrites it to a left-semi join; no manual
    decorrelation needed."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """SELECT o_orderpriority, COUNT(*) AS n_orders
           FROM orders
           WHERE EXISTS (SELECT 1 FROM lineitem
                         WHERE l_orderkey = o_orderkey
                           AND CAST(l_shipdate AS DATE) >
                               DATE_ADD(CAST(o_orderdate AS DATE), 60))
           GROUP BY o_orderpriority"""
    )


@query(
    "q31_scalar_subquery",
    """SELECT p_partkey, p_name, p_retailprice
       FROM part
       WHERE p_retailprice > 1.02 * (SELECT AVG(p_retailprice) FROM part)""",
)
def q31_scalar_subquery(spark, sf_dir):
    """Uncorrelated scalar subquery: parts priced above 1.02x the
    mean (prices are uniform in [900, 1000], so this selects a real
    subset). Catalyst evaluates the subquery once and broadcasts the
    scalar. The threshold is a random real against 2-decimal prices,
    so the ~1e-10 summation-order difference between engines cannot
    flip membership."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """SELECT p_partkey, p_name, p_retailprice
           FROM part
           WHERE p_retailprice > 1.02 * (SELECT AVG(p_retailprice) FROM part)"""
    )


# ---------------------------------------------------------------------------
# UDF surface: a Stage-authored transformation through the full engine
# wrapper (mapInPandas + error/timing columns), oracle-checked against
# the equivalent built-in.
# ---------------------------------------------------------------------------

@query(
    "q24_udf_stage",
    "SELECT p_partkey, reverse(p_name) AS rev_name FROM part",
)
def q24_udf_stage(spark, sf_dir):
    """The engine's UDF authoring surface in the correctness gate: a
    Stage subclass compiled through the wrapper must agree with DuckDB's
    built-in reverse()."""
    from smartpipeline_spark.pipeline import Pipeline
    from smartpipeline_spark.stage import Stage

    class ReverseStage(Stage):
        output_fields = {"rev_name": "string"}

        def process(self, item):
            item.data["rev_name"] = (item.data.get("p_name") or "")[::-1]
            return item

    pipe = (
        Pipeline(spark)
        .set_source(_t(spark, sf_dir, "part").select("p_partkey", "p_name"))
        .append("reverse", ReverseStage())
    )
    return pipe.dataframe().select("p_partkey", "rev_name")


# ---------------------------------------------------------------------------
# As-of join — an operator Spark has no native node for, expressed as a
# composition of existing ops (union + window) so it stays one shuffle
# ---------------------------------------------------------------------------

@query(
    "q36_asof_join",
    """SELECT l.event_id, l.user_id,
              epoch_us(l.ts) AS click_us,
              r.event_id AS matched_view_id,
              epoch_us(r.ts) AS view_us
       FROM (SELECT * FROM events WHERE event_type = 'click') l
       ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
         ON l.user_id = r.user_id AND l.ts >= r.ts""",
)
def q36_asof_join(spark, sf_dir):
    """As-of join: each click matched to the user's most recent view at
    or before the click (DuckDB ASOF JOIN; Pandas merge_asof). Spark
    has no asof node, and the naive range-join formulation explodes to
    O(clicks x views) per user then re-aggregates. Instead: tag and
    UNION the two sides, and carry the latest view forward with
    last_value(ignorenulls) over (user, ts) — ONE shuffle on user_id,
    linear work, no join at all. Ties (view.ts == click.ts) order the
    view first, matching ASOF's >= semantics. At 100 TB this is the
    shape that survives: hot users are plain window skew (salt by
    coarse time bucket if needed), and the window is a running carry,
    not an unbounded frame sort-merge."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts",
        F.lit(1).alias("is_click"),
        F.lit(None).cast("long").alias("view_id"),
        F.lit(None).cast("timestamp_ntz").alias("view_ts"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts",
        F.lit(0).alias("is_click"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click")  # view sorts before click on equal ts
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(views).select(
        "event_id",
        "user_id",
        "ts",
        "is_click",
        F.last("view_id", ignorenulls=True).over(w).alias("matched_view_id"),
        F.last("view_ts", ignorenulls=True).over(w).alias("matched_view_ts"),
    )
    return merged.filter(F.col("is_click") == 1).select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("click_us"),
        "matched_view_id",
        F.unix_micros(F.col("matched_view_ts").cast("timestamp")).alias("view_us"),
    )


@query(
    "q36b_asof_forward_tolerance",
    """SELECT l.event_id, l.user_id,
              epoch_us(l.ts) AS click_us,
              CASE WHEN r.ts IS NOT NULL
                    AND epoch_us(r.ts) - epoch_us(l.ts) <= 600000000
                   THEN r.event_id END AS next_view_id,
              CASE WHEN r.ts IS NOT NULL
                    AND epoch_us(r.ts) - epoch_us(l.ts) <= 600000000
                   THEN epoch_us(r.ts) END AS view_us
       FROM (SELECT * FROM events WHERE event_type = 'click') l
       ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
         ON l.user_id = r.user_id AND l.ts <= r.ts""",
)
def q36b_asof_forward_tolerance(spark, sf_dir):
    """FORWARD as-of join with tolerance (pandas
    ``merge_asof(direction='forward', tolerance=...)`` parity; q36 is
    the backward direction): each click matched to the user's EARLIEST
    view at or after the click, nulled when it arrives more than 10
    minutes later. Same no-join union+window shape as q36, mirrored:
    the carry runs FORWARD (first_value ignorenulls over currentRow..
    unboundedFollowing), ties at equal ts order the click before the
    view so >= inclusivity matches ASOF's l.ts <= r.ts, and the
    tolerance is a row-local post-predicate (it cannot be pushed into
    the carry without losing the farther-but-valid match for OTHER
    rows — exactly merge_asof semantics). Still ONE shuffle on
    user_id, linear work, no join node; the oracle is DuckDB's native
    forward ASOF with the tolerance applied as the same row-local
    CASE."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts",
        F.lit(1).alias("is_click"),
        F.lit(None).cast("long").alias("view_id"),
        F.lit(None).cast("timestamp_ntz").alias("view_ts"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts",
        F.lit(0).alias("is_click"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.col("is_click").desc())  # click first on ties
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    merged = clicks.unionByName(views).select(
        "event_id",
        "user_id",
        "ts",
        "is_click",
        F.first("view_id", ignorenulls=True).over(w).alias("next_view_id"),
        F.first("view_ts", ignorenulls=True).over(w).alias("next_view_ts"),
    )
    click_us = F.unix_micros(F.col("ts").cast("timestamp"))
    view_us = F.unix_micros(F.col("next_view_ts").cast("timestamp"))
    within = view_us - click_us <= F.lit(600_000_000)  # 10 min in µs
    return merged.filter(F.col("is_click") == 1).select(
        "event_id",
        "user_id",
        click_us.alias("click_us"),
        F.when(within, F.col("next_view_id")).alias("next_view_id"),
        F.when(within, view_us).alias("view_us"),
    )


# ---------------------------------------------------------------------------
# Python UDTF (Spark 4) — the table-function authoring surface
# ---------------------------------------------------------------------------

@query(
    "q37_udtf_sentences",
    r"""WITH sents AS (
          SELECT doc_id, string_split_regex(text, '[.!?]+') AS parts
          FROM documents)
        SELECT doc_id, i AS sent_idx,
               regexp_replace(parts[i], '^\s+|\s+$', '', 'g') AS sentence
        FROM sents, LATERAL (
          SELECT unnest(generate_series(1, len(parts))) AS i) t
        WHERE length(regexp_replace(parts[i], '^\s+|\s+$', '', 'g')) > 0""",
)
def q37_udtf_sentences(spark, sf_dir):
    """Python UDTF (Spark 4): one document row -> N sentence rows via a
    user-authored table function, joined laterally in SQL. This is the
    1->N authoring surface the reference has no analog for (its stages
    are strictly 1->1). UDTFs are row-at-a-time Python — fine for the
    authoring demo; the engine's hot-path equivalent of THIS particular
    split is pure JVM (split + posexplode, see q27) and that is what a
    pipeline should use when the logic fits built-ins."""
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string")
    class SplitSentences:
        def eval(self, text):
            parts = _re.split(r"[.!?]+", text or "")
            for i, p in enumerate(parts, start=1):
                clean = _re.sub(r"^\s+|\s+$", "", p)
                if clean:
                    yield i, clean

    spark.udtf.register("split_sentences", SplitSentences)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("docs_for_udtf")
    return spark.sql(
        """SELECT d.doc_id, s.sent_idx, s.sentence
           FROM docs_for_udtf d, LATERAL split_sentences(d.text) s"""
    )


@query(
    "q38_tpch_q5",
    f"""SELECT n_name,
               {sql_dsum2("l_extendedprice * (1 - l_discount)", "DECIMAL(28,12)")} AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
          AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        GROUP BY n_name""",
)
def q38_tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local-supplier-volume): the 6-table join stress case.
    Plan shape that survives 100 TB: lineitem⋈orders is the one
    fact-fact shuffle; supplier/nation/region broadcast (region's
    r_name filter prunes BEFORE the broadcast, so the whole dim chain
    collapses to a few hundred keys); customer joins shuffle-free off
    the broadcast chain too at these ratios, with AQE free to demote
    it to shuffle when customer outgrows the threshold. The
    c_nationkey = s_nationkey co-location predicate rides the join,
    not a post-filter."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    od = F.to_date("o_orderdate")
    o = o.filter(
        (od >= F.lit("1996-01-01").cast("date")) & (od < F.lit("1997-01-01").cast("date"))
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(DEC8)
    return joined.groupBy("n_name").agg(half_up(F.sum(rev).cast("double"), 2).alias("revenue"))


@query(
    "q39_stat_moments",
    """SELECT l_returnflag,
              FLOOR(corr(l_quantity, l_extendedprice) * 10000.0 + 0.5) / 10000.0 AS corr_qty_price,
              FLOOR(covar_samp(l_quantity, l_extendedprice) * 100.0 + 0.5) / 100.0 AS covar_qp,
              FLOOR(stddev_samp(l_extendedprice) * 100.0 + 0.5) / 100.0 AS sd_price,
              FLOOR(var_pop(l_quantity) * 10000.0 + 0.5) / 10000.0 AS var_qty,
              FLOOR(regr_slope(l_extendedprice, l_quantity) * 10000.0 + 0.5) / 10000.0 AS slope
       FROM lineitem GROUP BY l_returnflag""",
)
def q39_stat_moments(spark, sf_dir):
    """Statistical-moment aggregation battery: corr / covariance /
    stddev / variance / regression slope per group. All are built-in
    declarative aggregates with map-side partial state (sum, sum-of-
    squares, cross-moments), so the exchange carries one constant-size
    state row per (partition x group) — identical scale profile to a
    plain SUM at any corpus size. Rounded like every other double
    aggregate here (rounding.py header: fp sum-order drift)."""
    li = _t(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        half_up(F.corr(q, p), 4).alias("corr_qty_price"),
        half_up(F.covar_samp(q, p), 2).alias("covar_qp"),
        half_up(F.stddev_samp(p), 2).alias("sd_price"),
        half_up(F.var_pop(q), 4).alias("var_qty"),
        half_up(F.regr_slope(p, q), 4).alias("slope"),
    )


@query(
    "q40_variant",
    """SELECT event_id,
              CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
              CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_dbl,
              json_extract_string(props, '$.missing') IS NULL AS missing_is_null,
              CAST(json_extract_string(props, '$.k') AS INT) >= 0 AS k_nonneg
       FROM events""",
)
def q40_variant(spark, sf_dir):
    """Spark 4 VARIANT battery: parse semi-structured JSON once into
    the binary VARIANT encoding, then do typed path extraction
    (variant_get) and safe extraction (try_variant_get -> NULL on path
    miss instead of an error). VARIANT's win at 100 TB over re-parsing
    JSON strings per expression: the parse happens once per row and
    extraction is a binary-offset lookup, not a text scan — and unlike
    a rigid from_json schema it keeps schema drift queryable. The
    oracle computes identical OUTPUT values through DuckDB's json
    functions; only values must agree, not the encoding."""
    e = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        F.variant_get(v, "$.k", "double").alias("k_dbl"),
        F.try_variant_get(v, "$.missing", "string").isNull().alias("missing_is_null"),
        (F.variant_get(v, "$.k", "int") >= 0).alias("k_nonneg"),
    )


@query(
    "q41_gapfill",
    """WITH hourly AS (
         SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv
         FROM events GROUP BY 1, 2),
       b AS (SELECT min(h) AS h0, max(h) AS h1 FROM hourly),
       spine AS (
         SELECT et.event_type, u.h
         FROM (SELECT DISTINCT event_type FROM hourly) et, b,
              LATERAL (SELECT unnest(generate_series(b.h0, b.h1)) AS h) u),
       j AS (
         SELECT s.event_type, s.h, coalesce(n, 0) AS n_events, sv
         FROM spine s LEFT JOIN hourly USING (event_type, h)),
       g AS (
         SELECT *, COUNT(sv) OVER (PARTITION BY event_type ORDER BY h
                                   ROWS UNBOUNDED PRECEDING) AS grp
         FROM j)
       SELECT event_type, h, n_events,
              FLOOR(coalesce(MAX(sv) OVER (PARTITION BY event_type, grp), 0.0)
                    * 100.0 + 0.5) / 100.0 AS sum_filled,
              n_events = 0 AS is_gap
       FROM g""",
)
def q41_gapfill(spark, sf_dir):
    """Time-series gap-fill + carry-forward (the timescale/OLAP
    resample operator the reference lacks): dense hourly spine per
    event_type, missing buckets filled with 0 events and the running
    sum carried forward. Forward-fill is the engine-portable
    gaps-and-islands form — count(non-null) window assigns each gap
    row to the island of the last real bucket, then one max() per
    island — instead of last_value(IGNORE NULLS), which not every
    engine (or oracle) treats identically.

    At 100 TB: the spine is hours x types (tiny — time spans grow in
    thousands, not billions), built in-plan from a 1-row min/max agg
    (broadcast crossJoin, no driver round-trip); the real data only
    pays the hourly pre-aggregation (partial-agg'd) and the windows
    run over the SPINE-sized frame, not raw events."""
    e = _t(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.expr("unix_micros(ts) div 3600000000").alias("h"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(DEC4)).cast("double").alias("sv"),
        )
    )
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    types = hourly.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type", F.explode(F.sequence("h0", "h1")).alias("h")
    )
    j = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("n", F.lit(0)).alias("n_events"), "sv"
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = j.withColumn("grp", F.count("sv").over(w_run))
    w_isl = Window.partitionBy("event_type", "grp")
    return g.select(
        "event_type",
        "h",
        "n_events",
        half_up(F.coalesce(F.max("sv").over(w_isl), F.lit(0.0)), 2).alias("sum_filled"),
        (F.col("n_events") == 0).alias("is_gap"),
    )


@query(
    "q42_udaf_geomean",
    """SELECT l_returnflag,
              FLOOR(exp(avg(ln(l_quantity))) * 10000.0 + 0.5) / 10000.0 AS geomean_qty,
              COUNT(*) AS n
       FROM lineitem WHERE l_quantity > 0 GROUP BY l_returnflag""",
)
def q42_udaf_geomean(spark, sf_dir):
    """User-defined AGGREGATE surface (completes the UDF/UDAF/UDTF trio
    of SURVEY §2.9): a grouped-agg pandas_udf computing the geometric
    mean per group. Arrow ships each group's column to Python as one
    numpy vector — vectorized, not per-row. Scale note: a grouped-agg
    pandas UDF has NO partial aggregation (every raw row shuffles to
    its group's task, unlike built-in aggregates); that is the real
    cost of custom Python aggregation and exactly why the built-in
    equivalent exp(avg(ln(x))) — which does combine map-side — is
    preferred when expressible. The oracle uses that algebraic twin."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        import numpy as np

        return float(np.exp(np.log(v.to_numpy()).mean()))

    # Spark disallows mixing grouped-agg pandas UDFs with built-in
    # aggregates in one agg(), so the count is a pandas UDAF too
    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    return li.groupBy("l_returnflag").agg(
        half_up(geomean("l_quantity"), 4).alias("geomean_qty"),
        n_rows("l_quantity").alias("n"),
    )


@query(
    "q43_join_full_outer",
    f"""SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
               c.c_acctbal AS acctbal,
               o.n_orders,
               o.total_f
        FROM (SELECT c_custkey, c_acctbal FROM customer
              WHERE c_acctbal > 7000) c
        FULL OUTER JOIN (
              SELECT o_custkey,
                     COUNT(*) AS n_orders,
                     {sql_dsum2("o_totalprice")} AS total_f
              FROM orders WHERE o_orderstatus = 'F'
              GROUP BY o_custkey) o
        ON c.c_custkey = o.o_custkey""",
)
def q43_join_full_outer(spark, sf_dir):
    """FULL OUTER join completing the join-type battery (q04-q10 cover
    inner/left/semi/anti/3-way/range): high-balance customers ⟗
    per-customer finished-order aggregates, so unmatched rows survive
    on BOTH sides (rich customers with no finished orders, finished
    buyers below the balance cut). Both inputs pre-reduce before the
    join — the aggregate side shrinks to one row per customer — and a
    full outer cannot broadcast, so sort-merge on the key is the right
    plan at any scale. Reference has no joins at all (SURVEY §2.11);
    this is declared-inventory surface."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 7000)
        .select("c_custkey", F.col("c_acctbal").alias("acctbal"))
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            dsum2(F.col("o_totalprice")).alias("total_f"),
        )
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "acctbal",
        "n_orders",
        "total_f",
    )


@query(
    "q44_having_in",
    """SELECT c.c_name, o.o_orderkey, o.o_totalprice, big.sum_qty
       FROM orders o
       JOIN (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
             FROM lineitem GROUP BY l_orderkey
             HAVING SUM(l_quantity) > 150) big
         ON o.o_orderkey = big.l_orderkey
       JOIN customer c ON o.o_custkey = c.c_custkey""",
)
def q44_having_in(spark, sf_dir):
    """TPC-H Q18 shape (large-volume orders): HAVING over a full
    fact-table aggregate, then join the survivors back to orders and
    customers. Scale shape: the lineitem groupBy is the one big
    shuffle and it map-side-combines to one row per order BEFORE the
    exchange; the HAVING filter then cuts ~80% of groups, so the two
    downstream joins move only the large-order slice. Neither join is
    force-broadcast — orders and customer are fact-sized at SF100k,
    so the hash-partitioned join is correct and AQE may still
    broadcast the post-filter side when it measures small. SUM of
    integral doubles is order-insensitive (exact in IEEE up to 2^53),
    so no decimal detour is needed."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", "o_totalprice", "sum_qty")
    )


@query(
    "q45_unpivot",
    f"""WITH w AS (
          SELECT o_orderpriority,
                 CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS n_open,
                 CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS n_finished,
                 {sql_dsum2("o_totalprice")} AS total_price
          FROM orders GROUP BY o_orderpriority)
        SELECT o_orderpriority, 'n_open' AS metric, n_open AS value FROM w
        UNION ALL
        SELECT o_orderpriority, 'n_finished' AS metric, n_finished AS value FROM w
        UNION ALL
        SELECT o_orderpriority, 'total_price' AS metric, total_price AS value FROM w""",
)
def q45_unpivot(spark, sf_dir):
    """Unpivot/melt — the inverse of q32's pivot: a wide per-priority
    aggregate melts to (priority, metric, value) triples with the
    built-in ``DataFrame.unpivot`` (Spark's UNPIVOT/stack, one
    codegen'd projection — each input row expands to K output rows
    with no shuffle and no UNION re-scan; the oracle spells it as
    UNION ALL only because that is the dialect-portable phrasing).
    Value columns must share one type, so counts cast to double up
    front — same contract as SQL UNPIVOT."""
    o = _t(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).cast("double").alias("n_open"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).cast("double").alias("n_finished"),
        dsum2(F.col("o_totalprice")).alias("total_price"),
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_open", "n_finished", "total_price"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "q46_recursive_cte",
    """WITH RECURSIVE d AS (
         SELECT CAST(0 AS BIGINT) AS k, 0 AS depth
         UNION ALL
         SELECT c.c_custkey, d.depth + 1
         FROM customer c JOIN d ON (c.c_custkey - 1) // 2 = d.k
         WHERE c.c_custkey > 0)
       SELECT depth, COUNT(*) AS n, MIN(k) AS first_k, MAX(k) AS last_k
       FROM d GROUP BY depth""",
)
def q46_recursive_cte(spark, sf_dir):
    """Recursive CTE (Spark 4 WITH RECURSIVE): per-level rollup of a
    synthetic reporting tree over customer keys (parent(k) =
    (k-1) div 2 — the heap layout), the BOM-explosion /
    graph-reachability query shape. Each recursion step is an
    equi-join of the frontier against the base table, so Catalyst
    plans every level as an ordinary (broadcastable) hash join and
    the iteration count is bounded by tree depth (log n), not row
    count. For unbounded/high-diameter graphs at 100 TB, the engine's
    scale path remains the checkpointed min-label propagation in
    ``functions/dedup.connected_components`` (per-round
    localCheckpoint keeps lineage flat); WITH RECURSIVE is the
    declarative twin for bounded-depth hierarchies. DuckDB oracle is
    the same query with ``//`` integer division."""
    sources.register_views(spark, sf_dir)
    # BROADCAST(d): the frontier is one tree level (≤ half the keys,
    # kilobytes here; bounded by the widest level in general) while
    # customer is the full base table — without the hint every
    # recursion step shuffles BOTH sides for a sort-merge join;
    # hinted, each level is a broadcast probe of the base table
    # (measured -20% at sf0.1, and at 100 TB it removes a full
    # base-table shuffle PER LEVEL). Frontier-exceeds-broadcast
    # budgets are the connected_components territory (SCALING.md).
    return spark.sql(
        """WITH RECURSIVE d AS (
             SELECT CAST(0 AS BIGINT) AS k, 0 AS depth
             UNION ALL
             SELECT /*+ BROADCAST(d) */ c.c_custkey, d.depth + 1
             FROM customer c JOIN d ON (c.c_custkey - 1) DIV 2 = d.k
             WHERE c.c_custkey > 0)
           SELECT depth, COUNT(*) AS n, MIN(k) AS first_k, MAX(k) AS last_k
           FROM d GROUP BY depth"""
    )


@query(
    "q47_try_arith",
    """SELECT o_orderkey,
              o_totalprice / NULLIF(o_orderkey % 3, 0) AS safe_div,
              TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS prio_num,
              TRY_CAST(o_orderstatus AS INT) AS bad_cast,
              CASE WHEN o_orderkey = 0 THEN 9223372036854775807
                   ELSE NULL END AS ovf_add
       FROM orders""",
)
def q47_try_arith(spark, sf_dir):
    """ANSI-safe arithmetic battery. The engine runs Spark 4's default
    ANSI mode (errors are LOUD: 1/0 and overflow raise instead of
    silently returning NULL/wrapping — the right posture for a 100 TB
    job where a silent NULL poisons a day of compute), and ``try_*``
    is the per-expression opt-out: try_divide → NULL on zero divisor,
    try_cast → NULL on malformed input, try_add → NULL on bigint
    overflow. All stay in whole-stage codegen — no exception
    machinery in the happy path. DuckDB oracle spells them as
    NULLIF-division, TRY_CAST, and a CASE overflow guard."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice"), k % 3).alias("safe_div"),
        F.expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").alias("prio_num"),
        F.expr("try_cast(o_orderstatus AS INT)").alias("bad_cast"),
        F.try_add(F.lit(9223372036854775807), k).alias("ovf_add"),
    )


@query(
    "q48_sql_udf",
    f"""SELECT o_orderkey,
               {sql_dsum2("l_extendedprice * (1 - l_discount)")} AS revenue
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_totalprice > 400000.0
        GROUP BY o_orderkey""",
)
def q48_sql_udf(spark, sf_dir):
    """Declarative SQL UDFs (Spark 4 CREATE FUNCTION ... RETURN):
    a scalar function (disc_price) and a SQL table function
    (big_orders) composed in one query. Unlike Python UDFs these are
    MACRO-EXPANDED into the logical plan — the oracle is literally
    the same query with the functions inlined — so they cost nothing
    at 100 TB: predicates written inside the table function still
    push to the parquet scan, the scalar function participates in
    whole-stage codegen, and no serialization boundary exists.
    The right tool for shared business logic that must not pay the
    Python tax. D-suffixed literals keep every constant DOUBLE (the
    q13b DECIMAL-literal lesson)."""
    sources.register_views(spark, sf_dir)
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE)
           RETURNS DOUBLE RETURN p * (1.0D - d)"""
    )
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION big_orders(thr DOUBLE)
           RETURNS TABLE(o_orderkey BIGINT)
           RETURN SELECT o_orderkey FROM orders WHERE o_totalprice > thr"""
    )
    return spark.sql(
        """SELECT b.o_orderkey,
                  CAST(FLOOR(CAST(SUM(CAST(disc_price(l_extendedprice, l_discount)
                       AS DECIMAL(18,4))) AS DOUBLE) * 100.0D + 0.5D) / 100.0D
                       AS DOUBLE) AS revenue
           FROM big_orders(400000.0D) b
           JOIN lineitem ON l_orderkey = b.o_orderkey
           GROUP BY b.o_orderkey"""
    )


@query(
    "q49_cross_join",
    """SELECT r.r_name, n.n_name,
              CASE WHEN n.n_regionkey = r.r_regionkey THEN 1 ELSE 0 END AS is_home
       FROM region r CROSS JOIN nation n""",
)
def q49_cross_join(spark, sf_dir):
    """Explicit cartesian product — the one join type the battery
    lacked. Legitimate ONLY when one side is tiny (here: region ×
    nation, 5 × 25); Spark then plans BroadcastNestedLoopJoin, which
    is fine, while a fact-fact cartesian is the classic job-killer
    the other 10 join queries exist to avoid (q10's range join rides
    an equi-key for exactly that reason). crossJoin() is the explicit
    opt-in API — implicit cartesians from a missing join condition
    raise under spark.sql.crossJoin.enabled=false semantics."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    return r.crossJoin(n).select(
        "r_name",
        "n_name",
        F.when(F.col("n_regionkey") == F.col("r_regionkey"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_home"),
    )


@query(
    "q50_not_in_semantics",
    """SELECT c.c_custkey, c.c_mktsegment
       FROM customer c
       WHERE c.c_custkey NOT IN (SELECT o_custkey FROM orders
                                 WHERE o_totalprice > 450000.0)
         AND NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderstatus = 'P')""",
)
def q50_not_in_semantics(spark, sf_dir):
    """NOT IN + NOT EXISTS anti-join semantics, SQL-surface. NOT IN
    compiles to a NULL-AWARE anti join (one NULL in the subquery
    empties the result — three-valued logic), while NOT EXISTS is a
    plain left-anti; both engines implement the standard semantics so
    the oracle is the same text. At scale the two are NOT
    interchangeable plans: null-aware anti joins historically degrade
    to broadcast-nested-loop when the subquery may contain NULLs, so
    production code should prefer NOT EXISTS (left-anti, hash join)
    when the key is known non-null — this query exists to pin the
    semantic difference the optimizer must preserve."""
    sources.register_views(spark, sf_dir)
    return spark.sql(
        """SELECT c.c_custkey, c.c_mktsegment
           FROM customer c
           WHERE c.c_custkey NOT IN (SELECT o_custkey FROM orders
                                     WHERE o_totalprice > 450000.0D)
             AND NOT EXISTS (SELECT 1 FROM orders o
                             WHERE o.o_custkey = c.c_custkey
                               AND o.o_orderstatus = 'P')"""
    )


@query(
    "q51_grouping_flags",
    """SELECT n_name, c_mktsegment,
              GROUPING(n_name) AS g_n, GROUPING(c_mktsegment) AS g_m,
              COUNT(*) AS n
       FROM customer JOIN nation ON c_nationkey = n_nationkey
       GROUP BY ROLLUP(n_name, c_mktsegment)""",
)
def q51_grouping_flags(spark, sf_dir):
    """ROLLUP with GROUPING() flags: the output-disambiguation facet
    q13 leaves implicit — a NULL in a rollup row can mean 'the
    subtotal over this column' or 'the value really was NULL', and
    grouping()=1 marks the former. Both engines implement the
    standard bitflag semantics, so the flags are oracled alongside
    the counts. Free at scale: the flag is metadata the expand node
    already carries, no extra shuffle."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup("n_name", "c_mktsegment")
        .agg(
            F.grouping("n_name").alias("g_n"),
            F.grouping("c_mktsegment").alias("g_m"),
            F.count("*").alias("n"),
        )
    )


@query(
    "q52_histogram",
    """WITH s AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
                  FROM orders)
       SELECT LEAST(CAST(FLOOR((o_totalprice - lo) / ((hi - lo) / 10.0)) AS BIGINT),
                    CAST(9 AS BIGINT)) AS bin,
              COUNT(*) AS n
       FROM orders, s
       GROUP BY bin""",
)
def q52_histogram(spark, sf_dir):
    """Equal-width numeric histogram with IN-PLAN bounds: min/max come
    from a 1-row aggregate crossJoined back (no driver round-trip, no
    second submission), binning is a codegen'd floor expression, and
    the count is an ordinary partial-agg groupBy on 10 keys. The
    same two-pass shape works at any scale — contrast rdd.histogram,
    which collects bounds to the driver. The max value is clamped
    into the last bin (LEAST(..., 9)), matching both engines'
    closed-upper-bound convention."""
    o = _t(spark, sf_dir, "orders")
    s = o.agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
    bin_ = F.least(
        F.floor((F.col("o_totalprice") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / F.lit(10.0))).cast("bigint"),
        F.lit(9).cast("bigint"),
    )
    return (
        o.crossJoin(F.broadcast(s))
        .groupBy(bin_.alias("bin"))
        .agg(F.count("*").alias("n"))
    )


@query(
    "q53_funnel",
    """WITH f AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                 MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                 MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purch
          FROM events GROUP BY user_id)
       SELECT COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_view,
              COUNT(CASE WHEN t_click > t_view THEN 1 END) AS n_view_click,
              COUNT(CASE WHEN t_click > t_view AND t_purch > t_click THEN 1 END)
                AS n_full_funnel
       FROM f""",
)
def q53_funnel(spark, sf_dir):
    """Ordered funnel analysis (view → click → purchase): one
    conditional-MIN aggregate per user collapses each user's history
    to three timestamps, then a global conditional count — the
    product-analytics query every event warehouse runs. Scale shape:
    a single groupBy(user_id) with constant-size state (3 timestamps)
    and map-side combine; no self-joins, no window over the event
    stream (the naive 3-way event self-join this replaces is
    quadratic in events-per-user). NULL three-valued logic does the
    stage gating: t_click > t_view is false when either is NULL."""
    e = _t(spark, sf_dir, "events")

    def first(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    f = e.groupBy("user_id").agg(
        first("view").alias("t_view"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purch"),
    )
    return f.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias("n_view_click"),
        F.count(
            F.when(
                (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purch") > F.col("t_click")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@query(
    "q54_retention",
    """WITH days AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        first_day AS (SELECT user_id, MIN(d) AS d0 FROM days GROUP BY user_id)
       SELECT f.d0 AS cohort_day,
              COUNT(*) AS cohort_size,
              COUNT(r.user_id) AS retained_d1
       FROM first_day f
       LEFT JOIN days r ON r.user_id = f.user_id AND r.d = f.d0 + 1
       GROUP BY f.d0""",
)
def q54_retention(spark, sf_dir):
    """Day-1 cohort retention: users grouped by first-seen day, with
    the count still active the next day. Two reductions (distinct
    user-days, first day per user) then a LEFT join keyed on
    (user_id, next-day) — at scale both sides of that join are
    user-sized, not event-sized, because the event stream was
    collapsed first; the join key includes user_id so it
    hash-partitions evenly even when one cohort day dominates."""
    e = _t(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    first_day = days.groupBy("user_id").agg(F.min("d").alias("d0"))
    r = days.alias("r")
    f = first_day.alias("f")
    joined = f.join(
        r,
        (F.col("r.user_id") == F.col("f.user_id"))
        & (F.col("r.d") == F.date_add(F.col("f.d0"), 1)),
        "left",
    )
    return joined.groupBy(F.col("f.d0").alias("cohort_day")).agg(
        F.count("*").alias("cohort_size"),
        F.count(F.col("r.user_id")).alias("retained_d1"),
    )


@query(
    "q55_transitions",
    """WITH seq AS (
          SELECT user_id, event_type,
                 LEAD(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS next_type
          FROM events)
       SELECT event_type, next_type, COUNT(*) AS n
       FROM seq WHERE next_type IS NOT NULL
       GROUP BY event_type, next_type""",
)
def q55_transitions(spark, sf_dir):
    """Event-transition matrix (first-order Markov counts): LEAD over
    each user's time-ordered stream, then pair counts — the
    path-analysis primitive behind session flows and anomaly
    detection. The window partitions by user_id (bounded per-user
    history; the per-key sort is events-per-user, never the global
    stream) with event_id as the ORDER tiebreak so simultaneous
    events sequence identically in both engines. The pair count is a
    25-key partial agg."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q56_union_by_name",
    """SELECT o_orderkey AS k, o_totalprice AS price, NULL AS qty
       FROM orders WHERE o_totalprice > 450000.0
       UNION ALL BY NAME
       SELECT l_quantity AS qty, l_orderkey AS k
       FROM lineitem WHERE l_quantity >= 49""",
)
def q56_union_by_name(spark, sf_dir):
    """Schema-evolution union: two sources with different column sets
    and orders combine by NAME with missing columns null-filled
    (unionByName(allowMissingColumns=True) / UNION ALL BY NAME) —
    the everyday shape when a pipeline ingests v1 and v2 of a feed.
    Positional UNION would silently mis-align columns; by-name is
    the engine contract. Pure narrow op: no shuffle, each side's
    filter still pushes to its own scan."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000.0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
            F.lit(None).cast("double").alias("qty"),
        )
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 49)
        .select(F.col("l_quantity").alias("qty"), F.col("l_orderkey").alias("k"))
    )
    return o.unionByName(li, allowMissingColumns=True)


@query(
    "q57_grouped_map",
    """WITH ranked AS (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey)
                   AS rank
          FROM orders)
       SELECT o_orderpriority, o_orderkey, o_totalprice, rank
       FROM ranked WHERE rank <= 3""",
)
def q57_grouped_map(spark, sf_dir):
    """Grouped-map pandas surface (``applyInPandas``): each group
    arrives as ONE pandas DataFrame — the API for per-group model
    fitting, per-entity resampling, anything needing the whole group
    in memory at once. Here: per-priority top-3 orders, chosen so the
    DuckDB window oracle checks the pandas path exactly (sorting on
    (price desc, key) is deterministic — no fp accumulation).
    Scale contract stated plainly: unlike mapInPandas (streaming
    Arrow batches), applyInPandas materializes each GROUP on one
    executor — keys must be bounded-size (priorities, users), never
    power-law blobs; for those, aggregate first or salt. The window
    oracle is also the faster plan for THIS query — the pandas form
    exists to pin the API's semantics, mirroring q24's UDF-vs-builtin
    pairing."""
    import pandas as pd

    e = _t(spark, sf_dir, "orders")

    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.sort_values(
            ["o_totalprice", "o_orderkey"], ascending=[False, True]
        ).head(3)
        out = out.assign(rank=range(1, len(out) + 1))
        return out[["o_orderpriority", "o_orderkey", "o_totalprice", "rank"]]

    return e.select("o_orderpriority", "o_orderkey", "o_totalprice").groupBy(
        "o_orderpriority"
    ).applyInPandas(
        topk,
        "o_orderpriority string, o_orderkey bigint, o_totalprice double, rank long",
    )


@query(
    "q58_merge_upsert",
    f"""WITH tgt AS (SELECT c_custkey, c_name, c_acctbal FROM customer
                     WHERE c_custkey <= 1200),
            src AS (SELECT o_custkey,
                           {sql_dsum2("o_totalprice")} AS new_bal
                    FROM orders GROUP BY o_custkey)
       SELECT COALESCE(t.c_custkey, s.o_custkey) AS custkey,
              CASE WHEN t.c_custkey IS NULL THEN 'new-customer'
                   ELSE t.c_name END AS name,
              CASE WHEN s.o_custkey IS NULL THEN t.c_acctbal
                   ELSE s.new_bal END AS acctbal,
              CASE WHEN t.c_custkey IS NULL THEN 'insert'
                   WHEN s.o_custkey IS NULL THEN 'keep'
                   ELSE 'update' END AS merge_action
       FROM tgt t FULL OUTER JOIN src s ON t.c_custkey = s.o_custkey""",
)
def q58_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics (ANSI three-branch upsert) as a pure
    engine operation: a customer dimension (truncated so the insert
    branch is real) merged with per-customer order totals — MATCHED →
    update balance, NOT MATCHED → insert a new row, NOT MATCHED BY
    SOURCE → keep, with the taken branch exposed as ``merge_action``.
    This is the incremental-ingestion primitive every warehouse load
    runs; table formats (Delta/Iceberg) add file-level pruning on
    top, but the row semantics are exactly this copy-on-write full
    outer join. Scale shape: both sides reduce before the join (the
    source collapses to one row per key via an exact decimal sum —
    order-independent, see ``dsum2``), and a full outer of two large
    keyed sides is sort-merge territory — no broadcast, one shuffle
    each, AQE free to split skewed keys."""
    t = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 1200)
        .select("c_custkey", "c_name", "c_acctbal")
    )
    s = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(dsum2(F.col("o_totalprice")).alias("new_bal"))
    )
    j = t.join(s, t.c_custkey == s.o_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.when(F.col("c_custkey").isNull(), F.lit("new-customer"))
        .otherwise(F.col("c_name"))
        .alias("name"),
        F.when(F.col("o_custkey").isNull(), F.col("c_acctbal"))
        .otherwise(F.col("new_bal"))
        .alias("acctbal"),
        F.when(F.col("c_custkey").isNull(), F.lit("insert"))
        .when(F.col("o_custkey").isNull(), F.lit("keep"))
        .otherwise(F.lit("update"))
        .alias("merge_action"),
    )


@query(
    "q59_ohlc_downsample",
    f"""SELECT user_id,
               strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)),
                        '%Y-%m-%d %H:%M:%S') AS hour_start,
               COUNT(*) AS n_events,
               {sql_half_up('arg_min(value, ts)', 2)} AS open_v,
               {sql_half_up('arg_max(value, ts)', 2)} AS close_v,
               {sql_half_up('MIN(value)', 2)} AS low_v,
               {sql_half_up('MAX(value)', 2)} AS high_v
        FROM events
        GROUP BY user_id, hour_start""",
)
def q59_ohlc_downsample(spark, sf_dir):
    """Time-series downsampling to OHLC bars: per (user, hour) the
    first/last/min/max of ``value`` — the lossy-rollup shape every
    metrics store runs to keep raw streams queryable. One partial-agg
    groupBy: min_by/max_by/min/max all fold map-side, so the exchange
    carries one row per (user, hour) — the downsampled cardinality,
    not the raw stream. Deterministic because (user_id, ts) is unique
    in this corpus (verified); with tie-prone data, order min_by on a
    (ts, event_id) struct instead. Epoch-aligned hours match DuckDB's
    time_bucket; values round via the shared half_up helper."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id",
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
        )
        .agg(
            F.count("*").alias("n_events"),
            half_up(F.min_by("value", "ts"), 2).alias("open_v"),
            half_up(F.max_by("value", "ts"), 2).alias("close_v"),
            half_up(F.min("value"), 2).alias("low_v"),
            half_up(F.max("value"), 2).alias("high_v"),
        )
    )


@query(
    "q60_scd2",
    f"""WITH init AS (
          SELECT c_custkey AS custkey,
                 {sql_half_up('c_acctbal', 2)} AS bal,
                 DATE '1991-12-31' AS valid_from
          FROM customer),
        chg AS (
          SELECT o_custkey AS custkey,
                 {sql_dsum2('o_totalprice')} AS bal,
                 CAST(o_orderdate AS DATE) AS valid_from
          FROM orders GROUP BY o_custkey, CAST(o_orderdate AS DATE)),
        hist AS (SELECT * FROM init UNION ALL SELECT * FROM chg)
       SELECT custkey, bal, valid_from,
              LEAD(valid_from) OVER (PARTITION BY custkey
                                     ORDER BY valid_from) AS valid_to,
              LEAD(valid_from) OVER (PARTITION BY custkey
                                     ORDER BY valid_from) IS NULL AS is_current
       FROM hist""",
)
def q60_scd2(spark, sf_dir):
    """Slowly-changing-dimension type 2 history build — the
    warehouse-load twin of q58's MERGE: the dimension's initial state
    (account balance, effective-dated before the order stream starts)
    unioned with the per-(key, day) change stream, then effective
    ranges derived per key: ``valid_from`` = the change date,
    ``valid_to`` = the NEXT change's date (NULL while current),
    ``is_current`` on the open-ended row. Scale shape: the change
    stream pre-reduces to one row per (key, day) with a map-side
    partial agg BEFORE any wide operator, and the only window is
    ``partitionBy(custkey)`` — per-key history groups, parallel
    across keys, never a corpus-wide sort (plan-tested). Ties are
    impossible by construction: the initial row predates the order
    epoch and changes are unique per (key, day)."""
    from pyspark.sql.window import Window

    init = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        half_up(F.col("c_acctbal"), 2).alias("bal"),
        F.lit("1991-12-31").cast("date").alias("valid_from"),
    )
    chg = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.to_date("o_orderdate").alias("valid_from"),
        )
        .agg(dsum2(F.col("o_totalprice")).alias("bal"))
        .select("custkey", "bal", "valid_from")
    )
    hist = init.unionByName(chg)
    w = Window.partitionBy("custkey").orderBy("valid_from")
    nxt = F.lead("valid_from").over(w)
    return hist.select(
        "custkey",
        "bal",
        "valid_from",
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "q61_snapshot_diff",
    f"""WITH old AS (SELECT c_custkey AS custkey, c_name AS name,
                            {sql_half_up('c_acctbal', 2)} AS acctbal
                     FROM customer),
        tgt AS (SELECT c_custkey, c_name, c_acctbal FROM customer
                WHERE c_custkey <= 1200),
        src AS (SELECT o_custkey, {sql_dsum2('o_totalprice')} AS new_bal
                FROM orders GROUP BY o_custkey),
        new AS (
          SELECT COALESCE(t.c_custkey, s.o_custkey) AS custkey,
                 CASE WHEN t.c_custkey IS NULL THEN 'new-customer'
                      ELSE t.c_name END AS name,
                 {sql_half_up("CASE WHEN s.o_custkey IS NULL THEN t.c_acctbal ELSE s.new_bal END", 2)} AS acctbal
          FROM tgt t FULL OUTER JOIN src s ON t.c_custkey = s.o_custkey)
       SELECT COALESCE(o.custkey, n.custkey) AS custkey,
              CASE WHEN o.custkey IS NULL THEN 'insert'
                   WHEN n.custkey IS NULL THEN 'delete'
                   ELSE 'update' END AS change_type,
              CASE WHEN o.custkey IS NULL OR n.custkey IS NULL THEN ''
                   ELSE array_to_string(list_filter(
                     [CASE WHEN o.name IS DISTINCT FROM n.name THEN 'name' END,
                      CASE WHEN o.acctbal IS DISTINCT FROM n.acctbal THEN 'acctbal' END],
                     x -> x IS NOT NULL), ',') END AS changed_cols,
              o.acctbal AS old_acctbal, n.acctbal AS new_acctbal
       FROM old o FULL OUTER JOIN new n ON o.custkey = n.custkey
       WHERE o.custkey IS NULL OR n.custkey IS NULL
          OR o.name IS DISTINCT FROM n.name
          OR o.acctbal IS DISTINCT FROM n.acctbal""",
)
def q61_snapshot_diff(spark, sf_dir):
    """CDC snapshot diff — the change-extraction twin of q58/q60:
    given two keyed snapshots (here: the full customer dimension vs
    the post-merge state q58 produces), emit one row per changed key
    with ``change_type`` (insert/update/delete), the comma-joined list
    of changed columns, and old/new values — what a downstream incremental
    consumer (or a table format's CDC feed) ingests. Unchanged keys
    are filtered out, so the output is delta-sized, not
    snapshot-sized. Scale shape: both snapshots pre-reduce to one row
    per key, the diff is ONE full-outer sort-merge join on the key,
    and the changed-column detection is row-local null-safe
    comparison — no second pass, no window. Rounded (2-dec) balance
    comparison on both sides so the diff is stable under the
    engines' double-summation drift (the q58 lesson)."""
    old = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        half_up(F.col("c_acctbal"), 2).alias("acctbal"),
    )
    new = q58_merge_upsert(spark, sf_dir).select(
        "custkey", "name", half_up(F.col("acctbal"), 2).alias("acctbal")
    )
    o, n = old.alias("o"), new.alias("n")
    j = o.join(n, F.col("o.custkey") == F.col("n.custkey"), "full_outer")
    name_diff = ~F.col("o.name").eqNullSafe(F.col("n.name"))
    bal_diff = ~F.col("o.acctbal").eqNullSafe(F.col("n.acctbal"))
    is_ins = F.col("o.custkey").isNull()
    is_del = F.col("n.custkey").isNull()
    changed = F.filter(
        F.array(
            F.when(name_diff, F.lit("name")),
            F.when(bal_diff, F.lit("acctbal")),
        ),
        lambda x: x.isNotNull(),
    )
    return (
        j.filter(is_ins | is_del | name_diff | bal_diff)
        .select(
            F.coalesce(F.col("o.custkey"), F.col("n.custkey")).alias("custkey"),
            F.when(is_ins, F.lit("insert"))
            .when(is_del, F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("change_type"),
            # Joined to a flat CSV string (not array<string>) so the
            # driver's pandas canonicalizer — which cannot sort/hash
            # list cells — can attest the output; same info, flat type.
            F.when(is_ins | is_del, F.lit(""))
            .otherwise(F.array_join(changed, ","))
            .alias("changed_cols"),
            F.col("o.acctbal").alias("old_acctbal"),
            F.col("n.acctbal").alias("new_acctbal"),
        )
    )


_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def _profile_oracle() -> str:
    parts = [
        f"""SELECT '{c}' AS col_name,
                  COUNT(*) AS n_rows,
                  COUNT(*) - COUNT({c}) AS n_nulls,
                  COUNT(DISTINCT {c}) AS n_distinct,
                  CAST(MIN({c}) AS VARCHAR) AS min_val,
                  CAST(MAX({c}) AS VARCHAR) AS max_val
           FROM orders"""
        for c in _PROFILE_COLS
    ]
    return "\nUNION ALL\n".join(parts)


@query("q62_table_profile", _profile_oracle())
def q62_table_profile(spark, sf_dir):
    """ANALYZE-style one-pass table profile: per column, row count,
    null count, exact distinct count, and min/max (stringified for a
    uniform report schema, cast AFTER the typed min/max so numeric and
    date ordering are native, never lexicographic).

    Scale shape: ONE aggregation job over the table — every statistic
    is a partial-agg'd aggregate folded map-side, and the result is a
    single row pivoted row-locally into the per-column report (the
    explode runs on 1 row). The k exact COUNT(DISTINCT)s make Catalyst
    plan an Expand (each input row replicated k times before the
    partial agg) — the price of exactness the oracle can check; at
    100 TB flip them to approx_count_distinct, which profiles all
    columns in one expansion-free pass with HLL sketch states (the
    same trade q12b pins, rsd ~1%)."""
    o = _t(spark, sf_dir, "orders")
    aggs = [F.count("*").alias("_n")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.count_distinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__mn"),
            F.max(c).cast("string").alias(f"{c}__mx"),
        ]
    row = o.agg(*aggs)
    report = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("_n").alias("n_rows"),
                (F.col("_n") - F.col(f"{c}__nn")).alias("n_nulls"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__mn").alias("min_val"),
                F.col(f"{c}__mx").alias("max_val"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return row.select(F.explode(report).alias("s")).select("s.*")


@query(
    "q75_interval_join",
    """WITH a AS (
         SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS dd,
                MIN(CAST(ts AS TIMESTAMP)) AS a_start,
                MAX(CAST(ts AS TIMESTAMP)) AS a_end
         FROM events GROUP BY user_id, dd),
       b AS (
         SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS b_start,
                time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))
                  + INTERVAL 1 HOUR AS b_end
         FROM events GROUP BY 1 HAVING COUNT(*) >= 24)
       SELECT user_id, strftime(dd, '%Y-%m-%d') AS day,
              strftime(b_start, '%Y-%m-%d %H:%M:%S') AS incident_hour,
              epoch_us(least(a_end, b_end)) - epoch_us(greatest(a_start, b_start))
                AS overlap_us
       FROM a JOIN b ON a_start < b_end AND b_start <= a_end""",
)
def q75_interval_join(spark, sf_dir):
    """Interval-overlap join: which per-user daily activity spans
    [first event, last event] overlap corpus-wide incident hours
    (hours with >= 24 events)?  The naive ON-clause form is a pure
    range predicate, which Spark must execute as a broadcast-nested-
    loop join — O(|A| x |B|) with no key parallelism, a scale killer
    when neither side is tiny.  ``scale.binned_interval_join`` turns
    it into an EQUI-join on epoch-aligned hour bins (each span
    explodes to the <= 25 bins it covers, incidents occupy exactly
    one), with the first-shared-bin rule deduplicating multi-bin
    matches row-locally instead of via a distinct.  Overlap duration
    is integral microseconds — exact in both engines."""
    from smartpipeline_spark.operators.scale import binned_interval_join

    e = _t(spark, sf_dir, "events")
    a = e.groupBy(
        "user_id", F.to_date("ts").alias("dd")
    ).agg(F.min("ts").alias("a_start"), F.max("ts").alias("a_end"))
    b = (
        e.groupBy(F.date_trunc("hour", "ts").alias("b_start"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 24)
        .select(
            "b_start",
            (F.col("b_start") + F.expr("INTERVAL 1 HOUR")).alias("b_end"),
        )
    )
    joined = binned_interval_join(a, b, bin_seconds=3600)
    return joined.select(
        "user_id",
        F.date_format("dd", "yyyy-MM-dd").alias("day"),
        F.date_format("b_start", "yyyy-MM-dd HH:mm:ss").alias("incident_hour"),
        (
            F.unix_micros(F.least("a_end", "b_end"))
            - F.unix_micros(F.greatest("a_start", "b_start"))
        ).alias("overlap_us"),
    )
