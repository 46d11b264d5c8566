"""TPC-H decision-support suite over the testdata star schema.

The reference engine ships no relational benchmark surface at all
(SURVEY.md §2.11); rounds 1–3 covered the individual operator
categories (joins/aggs/windows/subqueries) with isolated queries.
This module closes the loop with the classic multi-operator
composites: the TPC-H queries expressible over the driver's
TPC-H-lite schema (no ``partsupp`` table; no
shipmode/commitdate/receiptdate/phone/container columns — queries
needing those are adapted as documented per-query, the rest are the
canonical text).  Q1 and Q5 already exist as q11/q38; this file adds
the other twenty — ALL 22 TPC-H queries run oracled.  The five
partsupp-bound queries (Q2/Q9/Q11/Q16/Q20) run against a
deterministic partsupp derived in-plan from part x supplier (see the
derivation contract mid-file), with the identical derivation embedded
in their oracle CTEs.

Every query follows the determinism contract from
``relational.py``'s module header: money aggregates through exact
DECIMAL summation and FLOOR-based rounding (both from
``rounding.py``), date output as formatted
strings, unique-key tiebreaks on every ORDER BY ... LIMIT.

Scale notes are inline per query; the common shape is one
lineitem⋈orders fact-fact shuffle with every dimension broadcast —
the plan that survives a 1000-executor 100 TB run because the only
wide exchange is on the join key both sides already need.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from smartpipeline_spark.operators.relational import _t, query
from smartpipeline_spark.rounding import DEC4, DEC28, dsum2, half_up, sql_dsum2


def _rev():
    """l_extendedprice * (1 - l_discount) as exact decimal."""
    return (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(DEC28)


_SQL_REV = "l_extendedprice * (1 - l_discount)"


@query(
    "q63_tpch_q3",
    f"""SELECT l_orderkey,
               {sql_dsum2(_SQL_REV, "DECIMAL(28,12)")} AS revenue,
               strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS orderdate
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND CAST(o_orderdate AS DATE) < DATE '1998-07-01'
          AND CAST(l_shipdate AS DATE) > DATE '1998-07-01'
        GROUP BY l_orderkey, orderdate
        ORDER BY revenue DESC, l_orderkey LIMIT 10""",
)
def q63_tpch_q3(spark, sf_dir):
    """TPC-H Q3 (shipping priority), minus the o_shippriority column
    the lite schema lacks.  Plan: the segment filter prunes customer
    BEFORE its broadcast, the two date filters push into the parquet
    scans of orders and lineitem, and the only exchange is
    lineitem⋈orders on l_orderkey.  The top-10 is a TakeOrdered —
    per-partition heaps, no global sort.  Tiebreak l_orderkey makes
    the LIMIT deterministic."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit("1998-07-01").cast("date")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit("1998-07-01").cast("date")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("orderdate"),
        )
        .agg(half_up(F.sum(_rev()).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q64_tpch_q4",
    """SELECT o_orderpriority, COUNT(*) AS order_count
       FROM orders
       WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
         AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey
                       AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 90)
       GROUP BY o_orderpriority""",
)
def q64_tpch_q4(spark, sf_dir):
    """TPC-H Q4 (order priority checking).  The canonical predicate is
    l_commitdate < l_receiptdate; the lite schema carries neither, so
    the adapted late-order test is "some lineitem shipped more than 90
    days after the order date" — the same EXISTS-correlated shape.
    Plan: quarter filter prunes orders at the scan; the EXISTS is a
    LEFT SEMI join on l_orderkey (first match short-circuits, output
    never exceeds orders); the final agg is 5 groups of partial
    counts."""
    od = F.to_date("o_orderdate")
    o = _t(spark, sf_dir, "orders").filter(
        (od >= F.lit("1997-01-01").cast("date")) & (od < F.lit("1997-04-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = (li.l_orderkey == o.o_orderkey) & (
        F.to_date(li.l_shipdate) > F.date_add(F.to_date(o.o_orderdate), 90)
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q65_tpch_q6",
    f"""SELECT {sql_dsum2("l_extendedprice * l_discount", "DECIMAL(28,12)")} AS revenue
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
          AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""",
)
def q65_tpch_q6(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change) — verbatim.  Pure
    scan-side query: every predicate (date range, discount band,
    quantity cap) pushes into the parquet reader, the aggregate is a
    single partial-sum exchange of one row per partition.  The
    discount BETWEEN compares the stored doubles against the same
    literal doubles in both engines, so no epsilon is needed."""
    sd = F.to_date("l_shipdate")
    li = _t(spark, sf_dir, "lineitem").filter(
        (sd >= F.lit("1997-01-01").cast("date"))
        & (sd < F.lit("1998-01-01").cast("date"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    disc_rev = (F.col("l_extendedprice") * F.col("l_discount")).cast(DEC28)
    return li.agg(half_up(F.sum(disc_rev).cast("double"), 2).alias("revenue"))


@query(
    "q66_tpch_q7",
    f"""SELECT supp_nation, cust_nation, yr,
               {sql_dsum2("volume", "DECIMAL(28,12)")} AS revenue
        FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     year(CAST(l_shipdate AS DATE)) AS yr,
                     {_SQL_REV} AS volume
              FROM supplier, lineitem, orders, customer, nation n1, nation n2
              WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
                AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
                AND c_nationkey = n2.n_nationkey
                AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
                AND CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01'
                                                 AND DATE '1997-12-31') shipping
        GROUP BY supp_nation, cust_nation, yr""",
)
def q66_tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping between two nations) — verbatim with
    the generator's nation names.  Plan: both nation sides broadcast;
    the bidirectional nation-pair disjunction rides the join ON
    clauses (supplier and customer each equi-join their nation, the
    pair predicate is a post-join filter over ~2 broadcast rows each
    side).  lineitem⋈orders stays the single fact shuffle; supplier
    and customer broadcast."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    sd = F.to_date("l_shipdate")
    li = li.filter(sd.between(F.lit("1996-01-01").cast("date"), F.lit("1997-12-31").cast("date")))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(pair)
    )
    return (
        joined.withColumn("yr", F.year(sd))
        .groupBy("supp_nation", "cust_nation", "yr")
        .agg(half_up(F.sum(_rev()).cast("double"), 2).alias("revenue"))
    )


@query(
    "q67_tpch_q8",
    f"""SELECT yr,
               FLOOR(CAST(SUM(CASE WHEN nation = 'NATION_3'
                                   THEN CAST(volume AS DECIMAL(28,12)) ELSE 0 END)
                          AS DOUBLE)
                     / CAST(SUM(CAST(volume AS DECIMAL(28,12))) AS DOUBLE)
                     * 10000.0 + 0.5) / 10000.0 AS mkt_share
        FROM (SELECT year(CAST(o_orderdate AS DATE)) AS yr,
                     {_SQL_REV} AS volume,
                     n2.n_name AS nation
              FROM part, supplier, lineitem, orders, customer, nation n1,
                   nation n2, region
              WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
                AND l_orderkey = o_orderkey AND o_custkey = c_custkey
                AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
                AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
                AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01'
                                                  AND DATE '1997-12-31'
                AND p_type = 'PROMO') all_nations
        GROUP BY yr""",
)
def q67_tpch_q8(spark, sf_dir):
    """TPC-H Q8 (national market share) — the 8-table join: what share
    of ASIA's PROMO-part revenue came from NATION_3 suppliers, by
    year.  Plan: part's p_type filter and region's r_name filter both
    prune before their broadcasts (part is the big dim — the filter
    keeps ~1/6 of it); lineitem⋈orders is again the only exchange.
    The share divides two exact-decimal sums cast to double, so both
    engines divide bit-identical numerators and denominators."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    od = F.to_date("o_orderdate")
    o = _t(spark, sf_dir, "orders").filter(
        od.between(F.lit("1996-01-01").cast("date"), F.lit("1997-12-31").cast("date"))
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
    )
    vol = _rev()
    nat_vol = F.when(F.col("nation") == "NATION_3", vol).otherwise(F.lit(0.0).cast(DEC28))
    return (
        joined.withColumn("yr", F.year(F.to_date("o_orderdate")))
        .groupBy("yr")
        .agg(
            half_up(F.sum(nat_vol).cast("double") / F.sum(vol).cast("double"), 4).alias("mkt_share")
        )
    )


@query(
    "q68_tpch_q10",
    f"""SELECT c_custkey, c_name,
               {sql_dsum2(_SQL_REV, "DECIMAL(28,12)")} AS revenue,
               c_acctbal, n_name
        FROM customer, orders, lineitem, nation
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
          AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
          AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""",
)
def q68_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): top-20 customers by
    revenue lost to returns in a quarter (phone/address/comment
    columns don't exist in the lite schema).  Plan: quarter filter on
    orders and returnflag filter on lineitem both push to the scans;
    customer and nation broadcast; TakeOrdered top-20 with c_custkey
    tiebreak.  c_acctbal passes through ungrouped-by-value (it is
    functionally dependent on c_custkey) as a raw stored double —
    identical bits both engines."""
    c = _t(spark, sf_dir, "customer")
    od = F.to_date("o_orderdate")
    o = _t(spark, sf_dir, "orders").filter(
        (od >= F.lit("1997-01-01").cast("date")) & (od < F.lit("1997-04-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(half_up(F.sum(_rev()).cast("double"), 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q69_tpch_q13",
    """SELECT c_count, COUNT(*) AS custdist
       FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
             FROM customer LEFT JOIN orders
               ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
             GROUP BY c_custkey) c_orders
       GROUP BY c_count""",
)
def q69_tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution).  The canonical
    exclusion predicate is an o_comment NOT LIKE; the lite schema has
    no comment column, so the adapted filter excludes urgent orders —
    same left-join-with-ON-filter shape, which is the semantics under
    test (the filter must live in the ON clause, not WHERE, to keep
    zero-order customers).  Plan: first agg shuffles on c_custkey
    (the join already partitioned by it — AQE reuses the exchange),
    second agg is ~dozens of count groups."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q70_tpch_q14",
    """SELECT FLOOR(100.0
                    * CAST(SUM(CASE WHEN p_type = 'PROMO'
                               THEN CAST(l_extendedprice * (1 - l_discount)
                                         AS DECIMAL(28,12)) ELSE 0 END) AS DOUBLE)
                    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                    AS DECIMAL(28,12))) AS DOUBLE)
                    * 10000.0 + 0.5) / 10000.0 AS promo_revenue
       FROM lineitem, part
       WHERE l_partkey = p_partkey
         AND CAST(l_shipdate AS DATE) >= DATE '1997-09-01'
         AND CAST(l_shipdate AS DATE) < DATE '1997-10-01'""",
)
def q70_tpch_q14(spark, sf_dir):
    """TPC-H Q14 (promotion effect): percent of one month's revenue
    from PROMO parts.  Plan: the month filter prunes lineitem at the
    scan to ~1/80 of the fact; part broadcasts un-filtered (the CASE
    needs both PROMO and non-PROMO rows); the result is a single
    global ratio of two exact-decimal sums."""
    sd = F.to_date("l_shipdate")
    li = _t(spark, sf_dir, "lineitem").filter(
        (sd >= F.lit("1997-09-01").cast("date")) & (sd < F.lit("1997-10-01").cast("date"))
    )
    p = _t(spark, sf_dir, "part")
    vol = _rev()
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0).cast(DEC28))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            half_up(
                F.lit(100.0) * F.sum(promo).cast("double") / F.sum(vol).cast("double"), 4
            ).alias("promo_revenue")
        )
    )


@query(
    "q71_tpch_q15",
    """WITH revenue AS (
         SELECT l_suppkey AS supplier_no,
                SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,12)))
                  AS total
         FROM lineitem
         WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
           AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name,
              FLOOR(CAST(total AS DOUBLE) * 100.0 + 0.5) / 100.0 AS total_revenue
       FROM supplier, revenue
       WHERE s_suppkey = supplier_no
         AND total = (SELECT MAX(total) FROM revenue)""",
)
def q71_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): supplier(s) whose quarterly revenue
    equals the global maximum.  The revenue totals are exact DECIMALs,
    so the max-equality test is exact arithmetic in both engines — the
    textbook reason Q15's view must not round before comparing.
    Plan: one groupBy(l_suppkey) over the quarter-pruned scan; the
    1-row MAX broadcasts back as a cross join; supplier broadcasts
    onto the few surviving rows."""
    sd = F.to_date("l_shipdate")
    li = _t(spark, sf_dir, "lineitem").filter(
        (sd >= F.lit("1997-01-01").cast("date")) & (sd < F.lit("1997-04-01").cast("date"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).alias("total")
    )
    top = rev.agg(F.max("total").alias("max_total"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(top), rev.total == top.max_total)
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            half_up(F.col("total").cast("double"), 2).alias("total_revenue"),
        )
    )


@query(
    "q72_tpch_q17",
    """SELECT FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                    / 7.0 * 100.0 + 0.5) / 100.0 AS avg_yearly
       FROM lineitem, part
       WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
         AND l_quantity < (SELECT 0.2 * AVG(l_quantity)
                           FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""",
)
def q72_tpch_q17(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue): yearly revenue lost
    if sub-20%-of-average-quantity orders stopped (container predicate
    dropped — no p_container column).  The correlated AVG dissolves
    into a per-part aggregate joined back — Catalyst's own de-
    correlation, written explicitly so the brand filter prunes
    lineitem FIRST via the broadcast semi-ish join and the per-part
    averages are computed only over the ~1/25 of parts in the brand
    (identical values to the whole-table correlated AVG, since the
    subquery is keyed on p_partkey).  l_quantity is integer-valued so
    its AVG (exact sum / count) is bit-identical across engines."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    li = _t(spark, sf_dir, "lineitem")
    brand_li = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    per_part = brand_li.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        (
            F.lit(0.2)
            * (F.sum(F.col("l_quantity").cast(DEC4)).cast("double") / F.count("*"))
        ).alias("qty_cutoff")
    )
    return (
        brand_li.join(F.broadcast(per_part), F.col("l_partkey") == F.col("pp_key"))
        .filter(F.col("l_quantity") < F.col("qty_cutoff"))
        .agg(
            half_up(
                F.sum(F.col("l_extendedprice").cast(DEC4)).cast("double") / F.lit(7.0), 2
            ).alias("avg_yearly")
        )
    )


@query(
    "q73_tpch_q18",
    """SELECT c_name, c_custkey, o_orderkey,
              strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS orderdate,
              o_totalprice,
              SUM(l_quantity) AS sum_qty
       FROM customer, orders, lineitem
       WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                            GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
         AND c_custkey = o_custkey AND o_orderkey = l_orderkey
       GROUP BY c_name, c_custkey, o_orderkey, orderdate, o_totalprice
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
)
def q73_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume customers), threshold 250 for the lite
    row counts (the spec's 300+ leaves almost nothing at sf0.01).
    Plan: the HAVING subquery is ONE groupBy(l_orderkey) whose output
    semi-joins back — both sides hash-partition on l_orderkey, so AQE
    reuses the exchange rather than shuffling twice; customer
    broadcasts; top-100 is TakeOrdered with o_orderkey tiebreak.
    SUM(l_quantity) stays exact (integer-valued doubles)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .filter(F.col("tq") > 250)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "big_key"),
                F.col("l_orderkey") == F.col("big_key"), "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
        )
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@query(
    "q74_tpch_q22",
    f"""SELECT cntrycode, COUNT(*) AS numcust,
               {sql_dsum2("c_acctbal")} AS totacctbal
        FROM (SELECT c_nationkey % 10 AS cntrycode, c_acctbal, c_custkey
              FROM customer
              WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5)
                AND c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4)))
                                              AS DOUBLE) / COUNT(*)
                                 FROM customer
                                 WHERE c_acctbal > 0.0
                                   AND c_nationkey % 10 IN (1, 2, 3, 4, 5))
                AND NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey
                                  AND CAST(o_orderdate AS DATE)
                                      >= DATE '2000-01-01')) custsale
        GROUP BY cntrycode""",
)
def q74_tpch_q22(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity): well-funded customers in
    selected countries who never ordered.  The canonical country code
    is substring(c_phone, 1, 2); the lite schema has no phone, so the
    adapted code is c_nationkey % 10 — same IN-list + scalar-AVG +
    NOT-EXISTS composite.  The generator gives (nearly) every customer
    at least one order, so the "never ordered" test is adapted to "no
    order since 2000" — a lapsed-customer anti-join that keeps the
    query non-degenerate.  The AVG goes through an exact decimal sum
    divided by the count, so the > comparison sees bit-identical
    cutoffs in both engines.  Plan: the 1-row average broadcasts; the
    NOT EXISTS is a LEFT ANTI join against orders projected to
    o_custkey (shuffle on the key both sides already need); final agg
    is 5 groups."""
    c = _t(spark, sf_dir, "customer").withColumn(
        "cntrycode", F.col("c_nationkey") % 10
    ).filter(F.col("cntrycode").isin(1, 2, 3, 4, 5))
    cutoff = c.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(F.col("c_acctbal").cast(DEC4)).cast("double") / F.count("*")).alias(
            "avg_bal"
        )
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.to_date("o_orderdate") >= F.lit("2000-01-01").cast("date"))
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            dsum2(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


@query(
    "q76_tpch_q12",
    """SELECT l_returnflag,
              CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
              CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       FROM orders, lineitem
       WHERE o_orderkey = l_orderkey
         AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
         AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
         AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE)
       GROUP BY l_returnflag""",
)
def q76_tpch_q12(spark, sf_dir):
    """TPC-H Q12 (shipping-mode priority split).  The lite schema has
    no l_shipmode/commitdate/receiptdate, so the mode grouping becomes
    l_returnflag and the date-ordering chain becomes "shipped after
    ordered, within 1997" — the same join + conditional-count shape.
    Plan: the year filter prunes lineitem at the scan; the
    shipdate > orderdate comparison rides the joined row (row-local);
    the conditional SUMs are one partial-agg'd pass, 3 groups."""
    sd = F.to_date("l_shipdate")
    li = _t(spark, sf_dir, "lineitem").filter(
        (sd >= F.lit("1997-01-01").cast("date")) & (sd < F.lit("1998-01-01").cast("date"))
    )
    o = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.to_date("l_shipdate") > F.to_date("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q77_tpch_q19",
    f"""SELECT {sql_dsum2(_SQL_REV, "DECIMAL(28,12)")} AS revenue
        FROM lineitem, part
        WHERE p_partkey = l_partkey AND (
             (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
              AND l_quantity BETWEEN 1 AND 11)
          OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
              AND l_quantity BETWEEN 10 AND 20)
          OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15
              AND l_quantity BETWEEN 20 AND 30))""",
)
def q77_tpch_q19(spark, sf_dir):
    """TPC-H Q19 (discounted revenue, disjunctive predicates) — the
    OR-of-ANDs stress case, minus the p_container/l_shipmode legs the
    lite schema lacks.  The planner lesson Q19 exists to test: the
    disjunction straddles BOTH tables, so neither side's scan can
    evaluate it alone — but Catalyst derives the single-table
    implications (p_brand IN (...), p_size <= 15, l_quantity <= 30)
    and pushes THOSE, shrinking the join inputs before the full
    predicate runs on the joined row.  part broadcasts as always."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    leg = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & q.between(qlo, qhi)
    )
    cond = leg("Brand#12", 5, 1, 11) | leg("Brand#23", 10, 10, 20) | leg(
        "Brand#14", 15, 20, 30
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(half_up(F.sum(_rev()).cast("double"), 2).alias("revenue"))
    )


@query(
    "q78_tpch_q21",
    """SELECT s_name, COUNT(*) AS numwait
       FROM supplier, lineitem l1, orders, nation
       WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
         AND o_orderstatus = 'F'
         AND CAST(l1.l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 60
         AND s_nationkey = n_nationkey AND n_name = 'NATION_5'
         AND EXISTS (SELECT 1 FROM lineitem l2
                     WHERE l2.l_orderkey = l1.l_orderkey
                       AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (SELECT 1 FROM lineitem l3
                         WHERE l3.l_orderkey = l1.l_orderkey
                           AND l3.l_suppkey <> l1.l_suppkey
                           AND CAST(l3.l_shipdate AS DATE)
                               > CAST(o_orderdate AS DATE) + 60)
       GROUP BY s_name
       ORDER BY numwait DESC, s_name LIMIT 100""",
)
def q78_tpch_q21(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting) — the hardest
    correlation shape in the suite: EXISTS + NOT EXISTS both
    correlated to the same fact row.  Lateness is adapted to
    "shipped > 60 days after the order date" (no commit/receipt
    dates).  The oracle keeps the correlated form; the Spark plan
    de-correlates it into ONE per-order aggregate — n_suppliers and
    n_late_suppliers via conditional count-distinct — joined back on
    l_orderkey: "some other supplier exists" = ns >= 2, "no OTHER
    late supplier" = nl == 1 (the row's own supplier is late).  Two
    correlated subqueries collapse into one exchange the join
    already needed; supplier and nation broadcast.  The top-100 is
    TakeOrdered with s_name tiebreak."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    rows = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.to_date("l_shipdate") > F.date_add(F.to_date("o_orderdate"), 60)).alias(
            "late"
        ),
    )
    per_order = rows.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("ns"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("nl"),
    )
    return (
        rows.filter("late")
        .join(per_order, "l_orderkey")
        .filter((F.col("ns") >= 2) & (F.col("nl") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Derived partsupp: the one TPC-H table the test schema omits.
#
# Q2/Q9/Q11/Q16/Q20 need part-supplier rows, so they run against a
# DETERMINISTIC derivation from the tables that do exist (the same
# derived-fixture pattern as multimodal.synth_media): each part gets
# exactly 4 suppliers at stride S/4 around the supplier ring (dbgen's
# scheme simplified to a constant stride — collision-free for S >= 5,
# which holds at every shipped SF), and availqty/supplycost are
# integer-arithmetic hashes of the keys, so both engines derive
# bit-identical rows (supplycost is an integer scaled by 100, i.e. an
# exact 2-decimal double).  The oracle queries embed the IDENTICAL
# derivation as a CTE, so the comparison remains end-to-end sound.
# ---------------------------------------------------------------------------

_PARTSUPP_CTE = """partsupp AS (
  SELECT p_partkey AS ps_partkey,
         (p_partkey + i * (S // 4)) % S AS ps_suppkey,
         (p_partkey * 7 + i * 11) % 9999 + 1 AS ps_availqty,
         ((p_partkey * 13 + ((p_partkey + i * (S // 4)) % S) * 7) % 90000)
           / 100.0 + 100.0 AS ps_supplycost
  FROM part,
       (SELECT COUNT(*) AS S FROM supplier) ns,
       (SELECT unnest(generate_series(0, 3)) AS i) gs)"""


def derived_partsupp(spark, sf_dir):
    """(ps_partkey, ps_suppkey, ps_availqty, ps_supplycost) — see the
    derivation contract above.  The supplier count folds in as an
    in-plan 1-row broadcast, not a driver count."""
    p = _t(spark, sf_dir, "part").select("p_partkey")
    s_count = _t(spark, sf_dir, "supplier").agg(F.count("*").alias("S"))
    base = (
        p.join(F.broadcast(s_count))
        .select("p_partkey", "S", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"))
    )
    suppkey = (F.col("p_partkey") + F.col("i") * F.expr("S div 4")) % F.col("S")
    return base.select(
        F.col("p_partkey").alias("ps_partkey"),
        suppkey.alias("ps_suppkey"),
        ((F.col("p_partkey") * 7 + F.col("i") * 11) % 9999 + 1).alias("ps_availqty"),
        (
            ((F.col("p_partkey") * 13 + suppkey * 7) % 90000) / F.lit(100.0)
            + F.lit(100.0)
        ).alias("ps_supplycost"),
    )


@query(
    "q79_tpch_q2",
    f"""WITH {_PARTSUPP_CTE},
       eu_cost AS (
         SELECT ps_partkey, ps_suppkey, ps_supplycost
         FROM partsupp, supplier, nation, region
         WHERE s_suppkey = ps_suppkey AND s_nationkey = n_nationkey
           AND n_regionkey = r_regionkey AND r_name = 'EUROPE')
       SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
       FROM part, eu_cost, supplier, nation, region
       WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
         AND p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'EUROPE'
         AND ps_supplycost = (SELECT MIN(c2.ps_supplycost) FROM eu_cost c2
                              WHERE c2.ps_partkey = p_partkey)
       ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""",
)
def q79_tpch_q2(spark, sf_dir):
    """TPC-H Q2 (minimum-cost supplier; p_mfgr/address/phone dropped —
    columns absent).  The correlated MIN de-correlates into one
    per-part aggregate over the region-filtered partsupp, joined back
    on (partkey, exact supplycost equality — safe because supplycost
    is a derived 2-decimal exact double).  Every dimension broadcasts;
    partsupp itself is part x 4 rows, generated in-plan with zero
    shuffle.  Top-100 is TakeOrdered with the canonical sort."""
    ps = derived_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    eu = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("ps_partkey", "ps_suppkey", "ps_supplycost", "s_acctbal", "s_name", "n_name")
    )
    min_cost = eu.groupBy(F.col("ps_partkey").alias("mc_key")).agg(
        F.min("ps_supplycost").alias("mc")
    )
    return (
        eu.join(
            F.broadcast(min_cost),
            (eu.ps_partkey == F.col("mc_key")) & (eu.ps_supplycost == F.col("mc")),
        )
        .join(F.broadcast(p), eu.ps_partkey == p.p_partkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "ps_supplycost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q80_tpch_q9",
    f"""WITH {_PARTSUPP_CTE}
       SELECT nation, o_year,
              FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
                                  - CAST(ps_supplycost AS DECIMAL(12,2))
                                    * CAST(l_quantity AS DECIMAL(12,2)))
                               AS DOUBLE)
                    * 100.0 + 0.5) / 100.0 AS sum_profit
       FROM (SELECT n_name AS nation,
                    year(CAST(o_orderdate AS DATE)) AS o_year,
                    l_extendedprice, l_discount, ps_supplycost, l_quantity
             FROM part, supplier, lineitem, partsupp, orders, nation
             WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
               AND ps_partkey = l_partkey AND p_partkey = l_partkey
               AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
               AND p_name LIKE '%red%') profit
       GROUP BY nation, o_year""",
)
def q80_tpch_q9(spark, sf_dir):
    """TPC-H Q9 (product-type profit measure) — canonical except the
    part filter word ('%red%'; the generator's names have no 'green').
    Profit = revenue minus supply cost per lineitem, aggregated by
    supplier nation and order year.  Plan: the name filter prunes part
    before broadcast; partsupp joins lineitem on the composite
    (partkey, suppkey) — both broadcast-sized here, and at full scale
    partsupp is the one dimension worth bucketing by partkey;
    lineitem⋈orders is again the lone fact shuffle.  The profit
    difference is computed per-row then summed as exact DECIMAL."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    ps = derived_partsupp(spark, sf_dir)
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(
            F.broadcast(ps),
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    # profit is a DIFFERENCE, so it gets the strictest determinism
    # treatment in the suite: cast only the CLEAN 2-decimal input
    # columns to DECIMAL (exact in both engines) and keep every
    # multiply/subtract in decimal. Casting any COMPUTED double to
    # decimal diverges between engines at the 1e-12 level (Spark
    # rounds the shortest string, DuckDB the exact binary) — harmless
    # under 2-decimal rounding for plain revenue sums, but on a
    # cancellation-prone difference it flipped a group landing exactly
    # on a .xx5 boundary.
    profit = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)")
    ) - F.col("ps_supplycost").cast("decimal(12,2)") * F.col("l_quantity").cast(
        "decimal(12,2)"
    )
    return (
        joined.select(
            F.col("n_name").alias("nation"),
            F.year(F.to_date("o_orderdate")).alias("o_year"),
            profit.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(half_up(F.sum("amount").cast("double"), 2).alias("sum_profit"))
    )


@query(
    "q81_tpch_q11",
    f"""WITH {_PARTSUPP_CTE},
       nps AS (
         SELECT ps_partkey,
                CAST(ps_supplycost * ps_availqty AS DECIMAL(28,12)) AS v
         FROM partsupp, supplier, nation
         WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
           AND n_name = 'NATION_7'),
       tot AS (SELECT SUM(v) AS total_v FROM nps)
       SELECT ps_partkey,
              FLOOR(CAST(SUM(v) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS part_value
       FROM nps, tot
       GROUP BY ps_partkey, total_v
       HAVING CAST(SUM(v) AS DOUBLE) > CAST(total_v AS DOUBLE) * 0.004""",
)
def q81_tpch_q11(spark, sf_dir):
    """TPC-H Q11 (important stock identification): parts whose stock
    value at NATION_7's suppliers exceeds a fraction of the nation's
    total.  The national total stays IN-PLAN as a 1-row aggregate
    cross-joined back (the TF-IDF/data-card recipe) — no driver
    round-trip.  Both the per-part values and the total are exact
    DECIMAL sums, so the threshold comparison divides bit-identical
    doubles in both engines."""
    ps = derived_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    nps = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "ps_partkey",
            (F.col("ps_supplycost") * F.col("ps_availqty")).cast(DEC28).alias("v"),
        )
    )
    tot = nps.agg(F.sum("v").alias("total_v"))
    return (
        nps.groupBy("ps_partkey")
        .agg(F.sum("v").alias("pv"))
        .join(F.broadcast(tot))
        .filter(F.col("pv").cast("double") > F.col("total_v").cast("double") * 0.004)
        .select("ps_partkey", half_up(F.col("pv").cast("double"), 2).alias("part_value"))
    )


@query(
    "q82_tpch_q16",
    f"""WITH {_PARTSUPP_CTE}
       SELECT p_brand, p_type, p_size,
              COUNT(DISTINCT ps_suppkey) AS supplier_cnt
       FROM partsupp, part
       WHERE p_partkey = ps_partkey
         AND p_brand <> 'Brand#5' AND p_type <> 'PROMO'
         AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
         AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0)
       GROUP BY p_brand, p_type, p_size""",
)
def q82_tpch_q16(spark, sf_dir):
    """TPC-H Q16 (parts/supplier relationship; the supplier-complaint
    exclusion becomes negative account balance — no comment column).
    Plan: the NOT IN compiles to a null-safe anti join against the
    tiny excluded-supplier list (broadcast); part's three predicates
    prune before its broadcast; the count-distinct groups by the
    (brand, type, size) cells."""
    ps = derived_partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        ps.join(F.broadcast(bad), ps.ps_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@query(
    "q83_tpch_q20",
    f"""WITH {_PARTSUPP_CTE},
       shipped AS (
         SELECT l_partkey, l_suppkey, SUM(l_quantity) AS sq
         FROM lineitem
         WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
           AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
         GROUP BY l_partkey, l_suppkey)
       SELECT DISTINCT s_name, n_name
       FROM supplier, nation, partsupp, shipped
       WHERE s_nationkey = n_nationkey AND n_name = 'NATION_9'
         AND ps_suppkey = s_suppkey
         AND ps_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'red%')
         AND ps_partkey = l_partkey AND ps_suppkey = l_suppkey
         AND ps_availqty > 0.5 * sq""",
)
def q83_tpch_q20(spark, sf_dir):
    """TPC-H Q20 (potential part promotion): NATION_9 suppliers whose
    stock of red parts exceeds half of what they shipped in 1997.
    The doubly-correlated quantity subquery de-correlates into one
    (partkey, suppkey) aggregate over the year-pruned lineitem —
    the inner join drops never-shipped pairs exactly as the NULL
    comparison would.  0.5 * an integer-valued sum keeps the
    comparison exact.  part's name filter and the nation filter both
    prune before broadcast; DISTINCT collapses multi-part hits."""
    ps = derived_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9")
    red = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select(
        "p_partkey"
    )
    sd = F.to_date("l_shipdate")
    shipped = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (sd >= F.lit("1997-01-01").cast("date"))
            & (sd < F.lit("1998-01-01").cast("date"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("sq"))
    )
    return (
        ps.join(F.broadcast(red), ps.ps_partkey == red.p_partkey, "left_semi")
        .join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey) & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .filter(F.col("ps_availqty") > F.lit(0.5) * F.col("sq"))
        .join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", "n_name")
        .distinct()
    )
