"""Registered query keys for the scale machinery (operators/scale.py).

The skew/salting levers were previously pytest-only; these thin
wrappers put them in the DuckDB-oracled registry, driver-attesting the
two claims that matter: the skew DIAGNOSTIC reports exact key
concentrations, and the salted join EQUALS the plain join it
replaces (salting redistributes work, never changes results).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from smartpipeline_spark import sources
from smartpipeline_spark.functions import ext_query
from smartpipeline_spark.rounding import DEC28, dsum2, half_up, sql_dsum2


@ext_query(
    "ext_skew_report",
    """WITH c AS (SELECT o_custkey AS key, COUNT(*) AS n
                  FROM orders GROUP BY o_custkey),
        t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
       SELECT key, n,
              FLOOR(n * 1.0 / total * 1000000.0 + 0.5) / 1000000.0 AS frac
       FROM c, t
       ORDER BY n DESC, key
       LIMIT 10""",
)
def ext_skew_report(spark, sf_dir) -> DataFrame:
    """The top-10 hottest join-key table for a prospective
    orders-by-customer join — the tabular core of
    :func:`smartpipeline_spark.operators.scale.skew_report` (which
    additionally collects quantiles into a driver dict). Scale shape:
    one partial-agg key count, the corpus total stays IN-PLAN as a
    1-row broadcast, and the top-10 compiles to
    TakeOrderedAndProject — the pre-flight you run on 100 TB BEFORE
    wiring the join, not after it stalls."""
    o = sources.table(spark, "orders", sf_dir)
    counts = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count("*").alias("n")
    )
    total = counts.agg(F.sum("n").cast("bigint").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "key",
            "n",
            half_up(F.col("n") * F.lit(1.0) / F.col("total"), 6).alias("frac"),
        )
        .orderBy(F.desc("n"), F.asc("key"))
        .limit(10)
    )


@ext_query(
    "ext_salted_join",
    f"""SELECT s.s_nationkey AS nationkey,
               COUNT(*) AS n_items,
               {sql_dsum2('l.l_quantity')} AS sum_qty
       FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
       GROUP BY s.s_nationkey""",
)
def ext_salted_join(spark, sf_dir) -> DataFrame:
    """Skew-mitigated fact-to-dimension join, driver-attested EQUAL to
    the plain join it replaces: the fact side carries a random salt,
    the dimension side replicates once per salt value, and the
    per-nation rollup must hash-match the unsalted oracle exactly —
    pinning that salting redistributes WORK (a hot supplier's rows
    spread over ``salt_buckets`` tasks) without touching RESULTS.
    The oracle is the plain join because equality IS the contract
    (operators/scale.py:29 documents the join-type restrictions that
    preserve it)."""
    from smartpipeline_spark.operators.scale import salted_join

    li = sources.table(spark, "lineitem", sf_dir).select(
        "l_suppkey", "l_quantity"
    )
    s = sources.table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_nationkey"
    )
    j = salted_join(li, s, key="l_suppkey", small_key="s_suppkey", salt_buckets=8)
    return j.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_items"),
        dsum2(F.col("l_quantity")).alias("sum_qty"),
    )


@ext_query(
    "ext_rollup_reuse",
    f"""SELECT strftime(time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP)),
                       '%Y-%m-%d') AS day,
               event_type,
               COUNT(*) AS n_events,
               {sql_dsum2('value', 'DECIMAL(28,12)')} AS sum_value
       FROM events GROUP BY day, event_type""",
)
def ext_rollup_reuse(spark, sf_dir) -> DataFrame:
    """Materialized-rollup REUSE (the batch half of the hypertable /
    continuous-aggregate contract whose streaming maintenance is
    ext_stream_upsert): daily per-type totals answered from the
    HOURLY rollup — counts sum, and the value partials stay DECIMAL
    through the re-aggregation (decimal addition is associative, so
    agg-on-agg is EXACT; casting to double per hour first would not
    hash-match) — while the oracle computes the same dailies straight
    from the raw events. A green row is the mergeability proof that
    makes rollup layouts usable at all: coarser grains never rescan
    raw data. At 100 TB the hourly rollup is ~1/3600th of the event
    stream; every daily/weekly/monthly question costs a scan of THAT,
    which is why the continuous aggregate is maintained in the first
    place (the same algebra as scale.sketch_rollup's mergeable HLL /
    CMS / quantile grids, here for exact counts and sums)."""
    ev = sources.table(spark, "events", sf_dir)
    hourly = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(DEC28)).alias("s"),
    )
    return (
        hourly.groupBy(
            F.date_format(F.col("window.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n_events"),
            half_up(F.sum("s").cast("double"), 2).alias("sum_value"),
        )
    )


@ext_query(
    "ext_global_index",
    r"""WITH keyed AS (
          SELECT doc_id,
                 ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS k
          FROM documents)
       SELECT doc_id, k,
              CAST(ROW_NUMBER() OVER (ORDER BY k) - 1 AS BIGINT) AS row_idx
       FROM keyed""",
)
def ext_global_index(spark, sf_dir) -> DataFrame:
    """Dense 0-based global row numbering in a non-monotonic numeric
    order WITHOUT a global sort — the driver-attested form of
    :func:`smartpipeline_spark.operators.scale.with_global_index`
    (the DataFrame answer to RDD ``zipWithIndex``): rows range-bucket
    via ``width_bucket`` over an in-plan min/max, per-bucket counts
    cumsum into broadcast base offsets, and a parallel
    ``partitionBy(bucket)`` row_number finishes the index — no
    single-partition window anywhere (the naive ``Window.orderBy``
    sorts the corpus in ONE task at 100 TB). The order key is an
    md5-derived 52-bit surrogate (engine-portable, unique on the
    fixtures, and < 2^53 so the bucket bounds stay exact in doubles),
    deliberately uncorrelated with doc_id so the oracle's naive global
    window only matches if the two-level decomposition is exactly
    right — same honesty pattern as ext_epoch_shuffle."""
    from smartpipeline_spark.operators.scale import with_global_index

    d = sources.table(spark, "documents", sf_dir).select("doc_id")
    keyed = d.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("bigint")
        .alias("k"),
    )
    return with_global_index(keyed, "k", "row_idx").select(
        "doc_id", "k", F.col("row_idx").cast("bigint").alias("row_idx")
    )
