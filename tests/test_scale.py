"""Scale machinery: salted joins/aggs must be result-identical to
their plain forms, and bucketed joins must eliminate the exchange."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from smartpipeline_spark.operators import scale
from tests.conftest import SF_SMOKE


def _skewed_df(spark):
    # 90% of rows share key 1 (hot key), the rest spread over 100 keys
    hot = spark.range(900).select(F.lit(1).alias("k"), F.col("id").alias("v"))
    cold = spark.range(100).select(
        (F.col("id") % 100 + 2).alias("k"), F.col("id").alias("v")
    )
    return hot.unionAll(cold)


def test_salted_join_matches_plain_join(spark):
    fact = _skewed_df(spark)
    dim = spark.range(102).select(
        (F.col("id") + 1).alias("k"), F.concat(F.lit("d"), "id").alias("name")
    )
    plain = fact.join(dim, "k").groupBy("k").agg(F.count("*").alias("n")).collect()
    salted = (
        scale.salted_join(fact, dim, "k")
        .groupBy("k")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert sorted((r["k"], r["n"]) for r in plain) == sorted(
        (r["k"], r["n"]) for r in salted
    )


def test_salted_count_matches_plain_count(spark):
    df = _skewed_df(spark)
    plain = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    salted = {r["k"]: r["cnt"] for r in scale.salted_count(df, "k").collect()}
    assert salted == plain
    assert salted[1] == 900


def test_bucketed_join_has_no_exchange(spark):
    c = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    scale.write_bucketed(c, "bt_customer", "c_custkey", num_buckets=8)
    scale.write_bucketed(o, "bt_orders", "c_custkey", num_buckets=8)
    # disable auto-broadcast so the join would otherwise shuffle both
    # sides — bucketing must eliminate that shuffle entirely
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = scale.bucketed_join(spark, "bt_customer", "bt_orders", "c_custkey")
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == o.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_write_collects_observe_metrics(spark, items_df, tmp_path):
    from smartpipeline_spark import Pipeline, Stage, SoftError

    class FlakyOdd(Stage):
        def process(self, item):
            if item.data["count"] % 2:
                raise SoftError("odd")
            return item

    pipe = Pipeline(spark).set_source(items_df).append("flaky", FlakyOdd())
    pipe.write(str(tmp_path / "out"))
    assert pipe.last_metrics["n_items"] == 100
    assert pipe.last_metrics["error_items"] == 50
    assert pipe.count == 100


def test_write_errors_dead_letter_sink(spark, items_df, tmp_path):
    from smartpipeline_spark import Pipeline, Stage

    class FailSome(Stage):
        def process(self, item):
            if item.data["count"] % 10 == 0:
                raise ValueError(f"bad {item.data['count']}")
            return item

    pipe = Pipeline(spark).set_source(items_df).append("failsome", FailSome())
    out = str(tmp_path / "dead_letter")
    pipe.write_errors(out)
    errs = spark.read.parquet(out)
    assert errs.count() == 10
    row = errs.orderBy("count").first()
    assert row["error_stage"] == "failsome"
    assert row["error_kind"] == "critical"
    assert row["error_exc_class"] == "ValueError"


def test_salted_asof_join_matches_plain_window_form(spark):
    """The bucket-salted as-of join must produce exactly the plain
    single-window as-of result (q36 semantics) on the events table,
    including cross-bucket matches (a click whose latest view happened
    on an earlier day) and no-match rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from smartpipeline_spark import sources
    from smartpipeline_spark.operators.scale import salted_asof_join

    e = sources.table(spark, "events", SF_SMOKE)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )

    got = {
        (r["event_id"], r["matched_view_id"])
        for r in salted_asof_join(
            clicks, views, key="user_id", ts_col="ts", value_col="view_id"
        ).collect()
    }

    # plain single-window formulation (q36 shape)
    l = clicks.select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_click"),
        F.lit(None).cast("long").alias("view_id"),
    )
    v = views.select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts",
        F.lit(0).alias("is_click"), "view_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["event_id"], r["m"])
        for r in l.unionByName(v)
        .select("event_id", "is_click", F.last("view_id", ignorenulls=True).over(w).alias("m"))
        .filter(F.col("is_click") == 1)
        .collect()
    }
    assert got == want and got
    # sanity: the dataset actually exercises cross-bucket repair
    assert any(m is not None for _, m in got)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """A partition-columned fact joined to a filtered dim must show a
    dynamicpruning expression in the scan's PartitionFilters: at scale
    this is the difference between scanning 5% of a 100 TB table and
    all of it — the dim filter's surviving keys prune fact partitions
    at RUNTIME, before IO."""
    from smartpipeline_spark import sources

    fact_path = str(tmp_path / "orders_part")
    dim_path = str(tmp_path / "prio_dim")
    sources.table(spark, "orders", SF_SMOKE).write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(fact_path)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    spark.createDataFrame(
        [{"o_orderpriority": p, "grp": "hot" if "URGENT" in p else "cold"} for p in prios]
    ).write.mode("overwrite").parquet(dim_path)

    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("grp") == "hot")
    j = fact.join(dim, "o_orderpriority").groupBy("grp").count()

    buf = io.StringIO()
    with redirect_stdout(buf):
        j.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruningexpression" in plan.lower(), plan

    want = (
        sources.table(spark, "orders", SF_SMOKE)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .count()
    )
    got = {r.grp: r["count"] for r in j.collect()}
    assert got == {"hot": want}


def test_sketch_rollup_merges_without_rescan(spark):
    """Sketch rollup: per-(day,type) HLL sketches of user_id; merging
    them to per-day, and globally, must track exact distincts within
    HLL error (~1% at this cardinality) — and the merged global
    estimate must EQUAL the estimate of a directly-built global
    sketch (merge is lossless over sketch state)."""
    from smartpipeline_spark import sources
    from smartpipeline_spark.operators.scale import merge_sketches, sketch_rollup

    e = sources.table(spark, "events", SF_SMOKE).select(
        F.to_date("ts").alias("d"), "event_type", "user_id"
    )
    rollup = sketch_rollup(e, ["d", "event_type"], "user_id").cache()

    per_day = {r.d: r.approx_distinct for r in merge_sketches(rollup, ["d"]).collect()}
    exact_day = {
        r.d: r.cnt
        for r in e.groupBy("d").agg(F.count_distinct("user_id").alias("cnt")).collect()
    }
    assert set(per_day) == set(exact_day)
    for d, est in per_day.items():
        assert abs(est - exact_day[d]) / exact_day[d] < 0.05, (d, est, exact_day[d])

    merged_global = merge_sketches(rollup, []).collect()[0]
    direct = e.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    ).collect()[0]
    assert merged_global.approx_distinct == direct.est
    assert merged_global.n_rows == e.count()
    rollup.unpersist()


def test_skew_report_flags_hot_key(spark):
    from smartpipeline_spark.operators.scale import skew_report

    rows = [{"k": "hot", "v": i} for i in range(900)] + [
        {"k": f"cold{i % 50}", "v": i} for i in range(100)
    ]
    rep = skew_report(spark.createDataFrame(rows), "k")
    assert rep["n_rows"] == 1000 and rep["n_keys"] == 51
    assert rep["top_keys"][0] == ("hot", 900)
    assert rep["skew_ratio"] > 100  # 900 / median(2) — salting territory
    assert rep["p50"] <= 4


def test_compact_reduces_files_and_preserves_data(spark, tmp_path):
    from smartpipeline_spark import sources
    from smartpipeline_spark.operators.scale import compact

    out = str(tmp_path / "many_files")
    orders = sources.table(spark, "orders", SF_SMOKE)
    orders.repartition(40).write.mode("overwrite").parquet(out)  # 40 tiny files
    dec_sum = F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
    before_sum = spark.read.parquet(out).agg(dec_sum).collect()[0][0]

    rep = compact(spark, out, target_file_mb=128)
    assert rep["files_before"] >= 40
    assert rep["files_after"] == 1  # tiny table -> one file
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    # decimal-cast sum: partition order changed, double order-drift is
    # expected (the repo's own determinism lesson); exact decimal isn't
    assert back.agg(dec_sum).collect()[0][0] == before_sum
    import glob

    assert not glob.glob(out + "._compacting") and not glob.glob(out + "._old")


def test_write_sorted_files_have_disjoint_key_ranges(spark, tmp_path):
    import glob as _glob

    import pyarrow.parquet as _pq

    from smartpipeline_spark import sources
    from smartpipeline_spark.operators.scale import write_sorted

    out = str(tmp_path / "sorted_orders")
    orders = sources.table(spark, "orders", SF_SMOKE)
    write_sorted(orders, out, "o_orderkey", num_files=6)

    ranges = []
    for f in sorted(_glob.glob(out + "/*.parquet")):
        md = _pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "o_orderkey"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4  # range partitioner may merge tiny bins
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "file key ranges overlap — data skipping broken"
    # round trip intact
    assert spark.read.parquet(out).count() == orders.count()


def _footer_ranges(path: str, col: str) -> list[tuple]:
    import glob as _glob

    import pyarrow.parquet as _pq

    ranges = []
    for f in sorted(_glob.glob(path + "/*.parquet")):
        md = _pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            c = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == col
            )
            mins.append(c.statistics.min)
            maxs.append(c.statistics.max)
        ranges.append((min(mins), max(maxs)))
    return ranges


def test_write_zordered_skips_files_on_every_dimension(spark, tmp_path):
    """The z-order claim, checked on real footers: after clustering on
    (o_custkey, o_totalprice), a point predicate on EITHER column must
    rule out files at the footer level. A plain single-key sort gives
    perfect pruning on its key and NONE on the other — z-order trades
    a little of the first for a lot of the second."""
    from smartpipeline_spark import sources
    from smartpipeline_spark.operators.scale import write_sorted, write_zordered

    orders = sources.table(spark, "orders", SF_SMOKE)
    zpath, spath = str(tmp_path / "z_orders"), str(tmp_path / "s_orders")
    write_zordered(orders, zpath, ["o_custkey", "o_totalprice"], num_files=8)
    write_sorted(orders, spath, "o_custkey", num_files=8)

    # round trip intact
    assert spark.read.parquet(zpath).count() == orders.count()

    probes = {
        "o_custkey": [r.o_custkey for r in orders.select("o_custkey").limit(10).collect()],
        "o_totalprice": [
            r.o_totalprice for r in orders.select("o_totalprice").limit(10).collect()
        ],
    }

    def eligible_frac(path, col):
        ranges = _footer_ranges(path, col)
        fracs = [
            sum(1 for lo, hi in ranges if lo <= v <= hi) / len(ranges)
            for v in probes[col]
        ]
        return sum(fracs) / len(fracs)

    z_cust = eligible_frac(zpath, "o_custkey")
    z_price = eligible_frac(zpath, "o_totalprice")
    s_price = eligible_frac(spath, "o_totalprice")
    # both dimensions prune under z-order...
    assert z_cust < 0.8, z_cust
    assert z_price < 0.8, z_price
    # ...while the single-key sort cannot prune the second column at
    # all (every file spans ~the full price range)
    assert s_price > 0.9, s_price
    assert z_price < s_price


def test_cms_rollup_one_sided_error_and_exact_merge(spark):
    """Count-min contract: estimates never undercount, overcount is
    bounded, and merging per-group sketches by summing cells is
    EXACTLY the sketch of the union (deterministic hashing)."""
    from smartpipeline_spark import sources
    from smartpipeline_spark.operators.scale import (
        cms_estimate,
        cms_merge,
        cms_rollup,
    )

    orders = sources.table(spark, "orders", SF_SMOKE)
    truth = {
        r.o_custkey: r.n
        for r in orders.groupBy("o_custkey").agg(F.count("*").alias("n")).collect()
    }
    n_rows = sum(truth.values())
    width, depth = 1024, 4

    per_status = cms_rollup(orders, "o_custkey", ["o_orderstatus"], width, depth)
    merged = cms_merge(per_status, [])
    direct = cms_merge(cms_rollup(orders, "o_custkey", [], width, depth), [])

    keys = orders.select("o_custkey").distinct()
    est_merged = {
        r.o_custkey: r.est
        for r in cms_estimate(merged, keys, "o_custkey", width, depth).collect()
    }
    est_direct = {
        r.o_custkey: r.est
        for r in cms_estimate(direct, keys, "o_custkey", width, depth).collect()
    }
    # merge-of-parts == sketch-of-whole, cell for cell
    assert est_merged == est_direct
    # one-sided error, bounded by the CMS guarantee with margin
    bound = 3.0 * n_rows / width
    for k, t in truth.items():
        assert est_merged[k] >= t, k
        assert est_merged[k] <= t + bound, (k, t, est_merged[k])
    # most estimates exact at this load factor
    exact = sum(1 for k, t in truth.items() if est_merged[k] == t)
    assert exact / len(truth) > 0.5


def test_reap_temp_litter_age_gated_and_data_safe(spark, tmp_path):
    """The DSv2 leak closer: old temp shards and dead _temporary trees
    go; fresh temps (a concurrent writer), committed data files, and
    _SUCCESS markers stay."""
    import os
    import time

    from smartpipeline_spark import sources
    from smartpipeline_spark.operators.scale import reap_temp_litter

    out = str(tmp_path / "sink")
    orders = sources.table(spark, "orders", SF_SMOKE)
    orders.coalesce(1).write.mode("overwrite").parquet(out)
    n = orders.count()

    old = time.time() - 100_000
    # dead-task litter (old): dot-temp shard + _temporary tree
    litter = os.path.join(out, "._tmp-deadbeef-3.jsonl")
    open(litter, "w").write("x" * 100)
    os.utime(litter, (old, old))
    tdir = os.path.join(out, "_temporary", "0")
    os.makedirs(tdir)
    tfile = os.path.join(tdir, "part-0")
    open(tfile, "w").write("y" * 50)
    for p in (tfile, tdir, os.path.join(out, "_temporary")):
        os.utime(p, (old, old))
    # in-flight litter (fresh): must survive
    fresh = os.path.join(out, "._tmp-cafebabe-1.jsonl")
    open(fresh, "w").write("z")
    # user dir whose NAME merely contains the substring: not staging
    # litter even when old and empty — exact component match only
    userdir = os.path.join(out, "pre_temporary_x")
    os.makedirs(userdir)
    os.utime(userdir, (old, old))
    # live committer race: freshly mkdir'd still-empty attempt dir
    # (mkdir happened moments ago, first file not yet created)
    livedir = os.path.join(out, "_temporary", "1", "attempt_0")
    os.makedirs(livedir)

    rep = reap_temp_litter(out, older_than_s=86400)
    assert rep["reaped_files"] == 2
    assert rep["reclaimed_bytes"] == 150
    assert not os.path.exists(litter)
    assert not os.path.exists(os.path.join(out, "_temporary", "0"))
    assert os.path.exists(fresh)
    assert os.path.exists(userdir)
    assert os.path.exists(livedir)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    # committed data intact
    assert spark.read.parquet(out).count() == n
    # second reap a day later (simulated by aging the now-dead attempt
    # dir) removes the remainder of the tree
    for p in (
        livedir,
        os.path.join(out, "_temporary", "1"),
        os.path.join(out, "_temporary"),
    ):
        os.utime(p, (old, old))
    reap_temp_litter(out, older_than_s=86400)
    assert not os.path.exists(os.path.join(out, "_temporary"))
    assert os.path.exists(userdir)


def test_zorder_quantile_ranks_survive_skew(spark):
    """Equal-width ranks collapse a skewed column into a few buckets
    (degenerating the curve toward a single-key sort); quantile ranks
    keep buckets equally populated by construction. Asserted on the
    rank distribution itself."""
    from smartpipeline_spark.operators.scale import zorder_ranks

    # polynomial skew: 94% of the mass in the lowest 6% of the range
    rows = [(i, i**4) for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, v long")
    bits = 6  # 64 buckets

    def bucket_counts(mode):
        out = (
            zorder_ranks(df, ["id", "v"], bits=bits, rank_mode=mode)
            .groupBy("_r1")
            .count()
            .collect()
        )
        return {r["_r1"]: r["count"] for r in out}

    width = bucket_counts("width")
    quant = bucket_counts("quantile")
    n, k = len(rows), 1 << bits
    # width mode: the hottest bucket swallows a huge share
    assert max(width.values()) > n * 0.2
    # quantile mode: every occupied bucket near the uniform share,
    # and (nearly) all buckets occupied
    assert len(quant) >= k - 2
    assert max(quant.values()) < n / k * 2, sorted(quant.values())[-3:]
    # both modes conserve rows
    assert sum(width.values()) == sum(quant.values()) == n


def test_delete_keys_removes_exactly_the_doomed_rows(spark, tmp_path):
    from smartpipeline_spark import sources
    from smartpipeline_spark.operators.scale import delete_keys

    out = str(tmp_path / "erasable")
    orders = sources.table(spark, "orders", SF_SMOKE)
    orders.write.mode("overwrite").parquet(out)
    n = orders.count()
    doomed = [r.o_orderkey for r in orders.select("o_orderkey").limit(7).collect()]

    rep = delete_keys(spark, out, "o_orderkey", doomed)
    back = spark.read.parquet(out)
    assert rep["rows_after"] == back.count() == n - 7
    assert back.filter(F.col("o_orderkey").isin(doomed)).count() == 0
    import glob

    assert not glob.glob(out + "._deleting") and not glob.glob(out + "._old")


def test_with_global_index_matches_single_partition_order(spark):
    from smartpipeline_spark.operators.scale import with_global_index

    import random

    rnd = random.Random(7)
    vals = rnd.sample(range(-(10**9), 10**9), 5000)
    df = spark.createDataFrame([(v,) for v in vals], "k long").repartition(16)
    out = with_global_index(df, "k")
    got = {r.k: r.row_idx for r in out.collect()}
    expect = {v: i for i, v in enumerate(sorted(vals))}
    assert got == expect
    # skewed distribution (many buckets empty, one dense band)
    skewed = [0] + [10**9 + i for i in range(999)]
    sdf = spark.createDataFrame([(v,) for v in skewed], "k long").repartition(8)
    sgot = {r.k: r.row_idx for r in with_global_index(sdf, "k").collect()}
    assert sgot == {v: i for i, v in enumerate(sorted(skewed))}


def test_with_global_index_degenerate_single_row(spark):
    from smartpipeline_spark.operators.scale import with_global_index

    rows = with_global_index(
        spark.createDataFrame([(42,)], "k long"), "k"
    ).collect()
    assert [(r.k, r.row_idx) for r in rows] == [(42, 0)]


def test_with_global_index_constant_key_above_double_precision(spark):
    # a constant key above 2^53: max+1.0 is absorbed by double rounding,
    # so without the magnitude-scaled hi bump width_bucket would see
    # lo == hi, return NULL, and silently drop every row
    from smartpipeline_spark.operators.scale import with_global_index

    big = 2**60
    out = with_global_index(
        spark.createDataFrame([(big,)] * 5, "k long"), "k"
    ).collect()
    assert sorted(r.row_idx for r in out) == [0, 1, 2, 3, 4]
    assert all(r.k == big for r in out)


def test_skew_report_empty_input(spark):
    from smartpipeline_spark.operators.scale import skew_report

    rep = skew_report(
        spark.createDataFrame([], "k string, v long").filter("1=0"), "k"
    )
    assert rep["n_keys"] == 0 and rep["n_rows"] == 0
    assert rep["top_keys"] == []


def test_salted_join_rejects_small_side_preserving_how(spark):
    import pytest as _pytest

    from smartpipeline_spark.operators.scale import salted_join

    fact = spark.createDataFrame([(1, "a")], "k long, v string")
    dim = spark.createDataFrame([(1, "x"), (2, "y")], "k long, w string")
    for how in ("right", "full", "outer", "right_outer"):
        with _pytest.raises(ValueError, match="salted_join"):
            salted_join(fact, dim, "k", how=how)
    # the allowed shapes still work and equal the plain join
    got = sorted(
        (r.k, r.v, r.w) for r in salted_join(fact, dim, "k", how="left").collect()
    )
    assert got == [(1, "a", "x")]


def test_compact_preserves_partitioned_layout(spark, tmp_path):
    from smartpipeline_spark import sources
    from smartpipeline_spark.operators.scale import compact

    out = str(tmp_path / "part_events")
    orders = sources.table(spark, "orders", SF_SMOKE)
    (
        orders.withColumn("o_year", F.year("o_orderdate"))
        .repartition(10)
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(out)
    )
    import glob

    files_per_dir = len(glob.glob(out + "/o_year=*/*.parquet"))
    assert files_per_dir > 10  # many files per partition before

    rep = compact(spark, out, target_file_mb=128)
    assert rep["files_after"] < rep["files_before"]
    # key=value dirs survive -> directory pruning still works
    year_dirs = glob.glob(out + "/o_year=*")
    assert year_dirs, "partition layout flattened by compaction"
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    assert "o_year" in back.columns
    # each partition collapses to ~one file
    for d in year_dirs:
        assert len(glob.glob(d + "/*.parquet")) <= 2


def test_delete_keys_empty_batch_is_noop(spark, tmp_path):
    from smartpipeline_spark import sources
    from smartpipeline_spark.operators.scale import delete_keys

    out = str(tmp_path / "noop_del")
    orders = sources.table(spark, "orders", SF_SMOKE)
    orders.write.mode("overwrite").parquet(out)
    import os

    mtimes = {f: os.path.getmtime(os.path.join(out, f)) for f in os.listdir(out)}
    rep = delete_keys(spark, out, "o_orderkey", [])
    assert rep["rows_after"] == orders.count()
    # table untouched, not rewritten
    assert mtimes == {
        f: os.path.getmtime(os.path.join(out, f)) for f in os.listdir(out)
    }


def test_overwrite_partitions_replaces_only_touched(spark, tmp_path):
    """Dynamic partition overwrite: the backfill replaces exactly the
    partitions present in the incoming frame — other partitions keep
    their rows AND their physical files — and the session conf is
    restored afterwards."""
    import os

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], i * 10) for i in range(30)],
        "id long, lang string, v long",
    )
    base.write.partitionBy("lang").parquet(path)

    def files(part):
        d = os.path.join(path, f"lang={part}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if not f.startswith(("_", "."))
        )

    b_before, c_before = files("b"), files("c")
    prev_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "STATIC"
    )
    backfill = spark.createDataFrame(
        [(100, "a", -1), (101, "a", -2)], "id long, lang string, v long"
    )
    stats = scale.overwrite_partitions(backfill, path, ["lang"])
    assert stats == {"partitions_replaced": 1}
    # conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        == prev_mode
    )
    out = spark.read.parquet(path)
    # lang=a fully replaced (2 new rows, none of the original 10)
    a_rows = {(r.id, r.v) for r in out.filter("lang = 'a'").collect()}
    assert a_rows == {(100, -1), (101, -2)}
    # untouched partitions: same rows AND same physical files
    assert out.filter("lang = 'b'").count() == 10
    assert files("b") == b_before and files("c") == c_before


def test_quantile_rollup_merge_of_parts_matches_whole(spark):
    """Quantile sketch contract: (a) merging fine-grained rollups to a
    coarser grain estimates quantiles within the documented rank-error
    bound of the exact answer, (b) merge-of-parts tracks
    sketch-of-whole within the same bound, (c) exact row counts
    survive the merge."""
    from smartpipeline_spark import sources
    from smartpipeline_spark.operators.scale import quantile_merge, quantile_rollup

    li = sources.table(spark, "lineitem", SF_SMOKE)
    b = 128
    probs = [0.5, 0.9, 0.99]
    # fine grain: (returnflag, linestatus); coarse: global
    rollup = quantile_rollup(li, ["l_returnflag", "l_linestatus"], "l_extendedprice", b)
    merged = {
        r.prob: (r.est, r.n_rows) for r in quantile_merge(rollup, [], probs).collect()
    }
    direct = {
        r.prob: (r.est, r.n_rows)
        for r in quantile_merge(quantile_rollup(li, [], "l_extendedprice", b), [], probs).collect()
    }
    vals = sorted(v[0] for v in li.select("l_extendedprice").collect())
    n = len(vals)
    assert merged[0.5][1] == n and direct[0.5][1] == n  # counts exact

    def rank(x):  # fraction of values <= x
        import bisect

        return bisect.bisect_right(vals, x) / n

    bound = 1.0 / (b - 1) + 0.01  # grid + GK error, with slack
    for p in probs:
        for est, _ in (merged[p], direct[p]):
            assert abs(rank(est) - p) <= bound, (p, est, rank(est))


def test_quantile_merge_at_intermediate_grain(spark):
    """Merging per-(flag,status) rollups to per-flag must agree with
    rolling up per-flag directly, within the error bound."""
    from smartpipeline_spark import sources
    from smartpipeline_spark.operators.scale import quantile_merge, quantile_rollup

    li = sources.table(spark, "lineitem", SF_SMOKE)
    fine = quantile_rollup(li, ["l_returnflag", "l_linestatus"], "l_quantity", 64)
    via_merge = {
        (r.l_returnflag, r.prob): r.est
        for r in quantile_merge(fine, ["l_returnflag"], [0.5, 0.95]).collect()
    }
    direct = {
        (r.l_returnflag, r.prob): r.est
        for r in quantile_merge(
            quantile_rollup(li, ["l_returnflag"], "l_quantity", 64),
            ["l_returnflag"],
            [0.5, 0.95],
        ).collect()
    }
    # l_quantity is integer-valued 1..50: estimates within 2 units
    assert set(via_merge) == set(direct)
    for k in direct:
        assert abs(via_merge[k] - direct[k]) <= 2.0, (k, via_merge[k], direct[k])


def test_binned_interval_join_matches_naive_range_join(spark):
    """The bin equi-join must return EXACTLY the naive overlap join's
    pairs — including intervals spanning many bins (the first-shared-
    bin rule must emit each pair once, not once per shared bin)."""
    from smartpipeline_spark.operators.scale import binned_interval_join

    base = "2024-01-01 00:00:00"
    a = spark.createDataFrame(
        [  # (id, start offset s, end offset s): spans of 30s .. 3h
            (1, 0, 30), (2, 100, 7300), (3, 3600, 3600), (4, 10000, 20800),
            (5, 50, 40000), (6, 7200, 7199 + 2),
        ],
        "a_id int, s long, e long",
    ).selectExpr(
        "a_id",
        f"timestampadd(SECOND, s, timestamp'{base}') AS a_start",
        f"timestampadd(SECOND, e, timestamp'{base}') AS a_end",
    )
    b = spark.createDataFrame(
        [(10, 0, 3600), (11, 3600, 7200), (12, 7200, 14400), (13, 39999, 40001)],
        "b_id int, s long, e long",
    ).selectExpr(
        "b_id",
        f"timestampadd(SECOND, s, timestamp'{base}') AS b_start",
        f"timestampadd(SECOND, e, timestamp'{base}') AS b_end",
    )
    naive = {
        (r.a_id, r.b_id)
        for r in a.join(
            b, (a.a_start < b.b_end) & (b.b_start <= a.a_end)
        ).collect()
    }
    binned = [
        (r.a_id, r.b_id)
        for r in binned_interval_join(a, b, bin_seconds=3600).collect()
    ]
    assert len(binned) == len(set(binned)), "pair emitted more than once"
    assert set(binned) == naive


def test_binned_interval_join_plan_is_hash_not_nested_loop(spark):
    """The whole point: the physical plan must contain a hash-style
    equi-join on the bin, never a BroadcastNestedLoopJoin/cartesian."""
    import io
    from contextlib import redirect_stdout

    from smartpipeline_spark import sources
    from smartpipeline_spark.operators import QUERIES

    df = QUERIES["q75_interval_join"](spark, SF_SMOKE)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan, plan


def test_binned_interval_join_rejects_runaway_spans(spark):
    """An interval spanning more bins than the cap must fail fast with
    raise_error, not silently explode the stage."""
    import pytest as _pytest

    from smartpipeline_spark.operators.scale import binned_interval_join

    base = "2024-01-01 00:00:00"
    a = spark.createDataFrame([(1, 0, 400)], "a_id int, s long, e long").selectExpr(
        "a_id",
        f"timestampadd(SECOND, s, timestamp'{base}') AS a_start",
        f"timestampadd(SECOND, e, timestamp'{base}') AS a_end",
    )
    b = spark.createDataFrame([(1, 0, 60)], "b_id int, s long, e long").selectExpr(
        "b_id",
        f"timestampadd(SECOND, s, timestamp'{base}') AS b_start",
        f"timestampadd(SECOND, e, timestamp'{base}') AS b_end",
    )
    with _pytest.raises(Exception, match="max_bins_per_interval"):
        binned_interval_join(a, b, bin_seconds=60, max_bins_per_interval=3).collect()


def test_zorder_on_multimodal_binary_table_prunes_metadata_scans(spark, tmp_path):
    """The binary-table layout claim (pruning evidence beyond text
    columns): cluster the media table by its TYPED METADATA
    (doc_id, n_bytes) and point predicates on either column must rule
    out whole files from their footers — so metadata-routed scans
    (size-based sharding, id lookups) skip the heavy binary payloads
    entirely. Payload bytes must survive the rewrite bit-for-bit."""
    from smartpipeline_spark.functions.multimodal import synth_media
    from smartpipeline_spark.operators.scale import write_zordered

    media = synth_media(spark, SF_SMOKE).select(
        "doc_id", F.octet_length("payload").alias("n_bytes"), "payload"
    )
    before = {
        (r.doc_id, r.h) for r in media.select("doc_id", F.md5("payload").alias("h")).collect()
    }
    zpath = str(tmp_path / "z_media")
    write_zordered(media, zpath, ["doc_id", "n_bytes"], num_files=8)

    back = spark.read.parquet(zpath)
    after = {
        (r.doc_id, r.h) for r in back.select("doc_id", F.md5("payload").alias("h")).collect()
    }
    assert after == before  # binary payloads intact through the rewrite

    probes = {
        "doc_id": [r.doc_id for r in media.select("doc_id").limit(10).collect()],
        "n_bytes": [r.n_bytes for r in media.select("n_bytes").distinct().limit(10).collect()],
    }

    def eligible_frac(col):
        ranges = _footer_ranges(zpath, col)
        fracs = [
            sum(1 for lo, hi in ranges if lo <= v <= hi) / len(ranges)
            for v in probes[col]
        ]
        return sum(fracs) / len(fracs)

    z_id, z_bytes = eligible_frac("doc_id"), eligible_frac("n_bytes")
    assert z_id < 0.8, z_id
    assert z_bytes < 0.8, z_bytes


def test_tuned_shuffle_partitions_reproduces_idle_host_bests():
    """The r10 idle-host matrix regression pins: the helper must map
    each measured working set to the partition count that won its rung,
    and must NOT round up 'for safety' — the over-partitioned configs
    (jaccard 64x@256p, 256x@1024p) measured +36-40% executor CPU."""
    from smartpipeline_spark.operators.scale import tuned_shuffle_partitions

    # capped-jaccard 64x: 328,869,744 estimated join rows -> 128 (not 256)
    assert tuned_shuffle_partitions(328_869_744, floor=64) == 128
    # capped-jaccard 256x: 1,315,285,872 rows -> 512 (not 1024; r9's
    # 1024p preference was host-load contamination)
    assert tuned_shuffle_partitions(1_315_285_872, floor=64) == 512
    # capped-minhash 256x: small working set (zero spill at any width,
    # wall flat 54-64s) -> the floor, not a scaled-up count
    assert tuned_shuffle_partitions(20_000_000, floor=64) == 64
    # byte-direct form agrees with rows x row_bytes
    assert tuned_shuffle_partitions(
        working_set_bytes=328_869_744 * 50, floor=64
    ) == 128
    # clamps: ceiling binds, floor binds
    assert tuned_shuffle_partitions(10**13, floor=64, ceiling=2048) == 2048
    assert tuned_shuffle_partitions(1, floor=64) == 64


def test_release_caches_drops_tracked_pairing_frames(spark):
    """The pairing joins persist their index frames internally and the
    returned lazy frame keeps referencing them, so the operator can
    never unpersist — release_caches() is the documented cleanup hook
    for long-lived sessions (r11 ADVICE: repeated calls accumulated
    cached blocks with no release handle)."""
    from smartpipeline_spark.functions import dedup

    dedup.release_caches()  # start clean
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 3} epsilon zeta") for i in range(30)],
        ["doc_id", "text"],
    )
    dedup.jaccard_pairs(docs, max_df=None).count()
    tracked = list(dedup._TRACKED_CACHES)
    assert tracked, "pairing join registered no caches"
    assert any(df.storageLevel.useMemory or df.storageLevel.useDisk for df in tracked)
    n = dedup.release_caches()
    assert n == len(tracked)
    assert dedup._TRACKED_CACHES == []
    for df in tracked:
        lvl = df.storageLevel
        assert not (lvl.useMemory or lvl.useDisk), "frame still cached"
    # idempotent and safe to call again
    assert dedup.release_caches() == 0


def test_heap_aware_level_parks_oversized_frames_on_disk(spark):
    """A cached frame whose plan-estimated size crowds the unified
    memory pool must go DISK_ONLY (the 8g-vs-16g thrash finding in
    ``git show d3e6f62:SMOKE_r11.json``); frames that fit keep
    MEMORY_AND_DISK, so fixture-scale persists are unchanged."""
    from pyspark import StorageLevel

    from smartpipeline_spark.functions.dedup import _heap_aware_level

    small = spark.range(10)
    assert _heap_aware_level(small) == StorageLevel.MEMORY_AND_DISK
    # range(N) is estimated at 8 bytes/row -> ~800 GB, far past any pool
    huge = spark.range(100_000_000_000)
    assert _heap_aware_level(huge) == StorageLevel.DISK_ONLY


def test_shingle_sets_survives_missing_rdd_handle(spark, monkeypatch):
    """Spark Connect / non-JVM plan wrappers don't expose .rdd; the
    partition-width probe must fall back to the unconditional
    repartition instead of crashing (r11 ADVICE)."""
    from pyspark.sql import DataFrame

    from smartpipeline_spark.functions.dedup import shingle_sets

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(5)],
        ["doc_id", "text"],
    )

    def _no_rdd(self):
        raise NotImplementedError("rdd is not available in this mode")

    monkeypatch.setattr(DataFrame, "rdd", property(_no_rdd))
    out = shingle_sets(docs, 3)
    rows = {r["doc_id"]: sorted(r["sh_set"]) for r in out.collect()}
    assert len(rows) == 5
    assert rows[0] == [
        "alpha beta gamma",
        "beta gamma delta",
        "gamma delta epsilon",
    ]


def test_resolve_exchange_width_contract(spark):
    """The shared 'auto'/int/None contract behind every auto-sized
    corpus-wide exchange (r11 verdict #2): int and None pass through
    WITHOUT running the estimate; 'auto' runs the one-pass estimate,
    records the decision, and injects only above the pressure floor."""
    from smartpipeline_spark.operators.scale import (
        resolve_exchange_width,
        should_inject_width,
    )

    calls = []

    def big_est():
        calls.append(1)
        return 10**12

    assert resolve_exchange_width(None, spark, big_est) is None
    assert resolve_exchange_width(17, spark, big_est) == 17
    assert calls == [], "estimate must not run for int/None"

    d = {}
    p = resolve_exchange_width("auto", spark, big_est, row_bytes=50, decision=d)
    floor = 2 * spark.sparkContext.defaultParallelism
    assert p is not None and p > floor
    assert d == {"est_rows": 10**12, "partitions": p}
    # tiny estimate under a sane session width -> skip
    assert resolve_exchange_width("auto", spark, lambda: 100) is None
    # the 8x-over-width session clamp
    assert should_inject_width(floor, spark) is False
    sess = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(9 * floor))
        assert should_inject_width(floor, spark) is True
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", sess)


def test_auto_width_ops_keep_fixture_plans_unchanged(spark):
    """partitions='auto' on the newly covered corpus-wide ops
    (ExactSubstr, line dedup, packing, epoch shuffle) must leave
    fixture-scale plans IDENTICAL to partitions=None — the estimate
    sits under the floor, so no exchange is injected — while a forced
    int width does change the plan (proving the knob is live)."""
    from scripts.planfp import fingerprint_of_plan, plan_of

    from smartpipeline_spark.functions.curation import (
        epoch_shuffle,
        line_dedup,
        pack_sequences,
    )
    from smartpipeline_spark.functions.dedup import (
        duplicate_spans,
        strip_duplicate_spans,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    ops = {
        "duplicate_spans": lambda p: duplicate_spans(docs, partitions=p),
        "strip_duplicate_spans": lambda p: strip_duplicate_spans(docs, partitions=p),
        "line_dedup": lambda p: line_dedup(docs, partitions=p),
        "pack_sequences": lambda p: pack_sequences(docs, partitions=p),
        "epoch_shuffle": lambda p: epoch_shuffle(docs, partitions=p),
    }
    import re

    def norm(plan):
        # exprIds (#123), plan_ids, and HOF lambda-variable suffixes
        # are session-monotonic; strip them so two builds of the
        # IDENTICAL plan compare equal textually
        plan = re.sub(r"#\d+", "#", plan)
        plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
        return re.sub(r"\blambda x_\d+", "lambda x_", plan)

    for name, op in ops.items():
        auto_plan = plan_of(op("auto"))
        none_plan = plan_of(op(None))
        if name == "duplicate_spans":
            # r12: on a provably small input, "auto" additionally
            # dispatches the single-fold shape (the gram stream is
            # eagerly localCheckpointed so the md5 k-gram fold — which
            # the optimizer otherwise duplicates into both consumers —
            # evaluates once). So auto ≠ none here BY CONTRACT: the
            # auto plan must carry NO fold (it reads the checkpoint)
            # and no injected width; none keeps the double-fold
            # recompute shape. Row-equality of the two shapes is
            # pinned in test_extensions.
            # structural shape pin (not explain-text substrings): the
            # single-fold plan reads the eager checkpoint in BOTH
            # consumers — no Generate (the posexplode of the k-gram
            # fold) survives anywhere — while the recompute plan keeps
            # one Generate per consumer.
            from scripts.planfp import operator_counts

            auto_ops = operator_counts(auto_plan)
            none_ops = operator_counts(none_plan)
            assert auto_ops.get("Generate", 0) == 0, (
                f"single-fold did not engage: {auto_ops}"
            )
            assert auto_ops.get("Scan ExistingRDD", 0) == 2, auto_ops
            assert none_ops.get("Generate", 0) == 2, none_ops
        else:
            assert norm(auto_plan) == norm(none_plan), (
                f"{name}: auto injected at fixture scale"
            )
            assert fingerprint_of_plan(auto_plan) == fingerprint_of_plan(
                none_plan
            )
        forced_plan = plan_of(op(4096))
        assert "4096" in forced_plan, f"{name}: forced width had no effect"
        assert "4096" not in none_plan, name


def test_pair_join_width_sample_first_with_trust_gates(spark, monkeypatch):
    """The r12 sample-first estimate pass: a 1-in-16 key sample scaled
    x16 is trusted only under the two concentration gates (enough
    sampled keys, no single-key dominance); hot-bucket-dominated and
    small indexes fall back to the exact pass — where exactness is
    cheap and sampling is genuinely noisy. The gates are exercised with
    the plan-size skip disabled (these in-memory frames plan-estimate
    tiny); the skip itself is pinned separately below."""
    from smartpipeline_spark.functions import dedup

    monkeypatch.setattr(dedup, "_EST_SAMPLE_MIN_BYTES", 0)

    # 1) concentrated: 100k keys x 2 rows, per-key C(2,2)=1 -> exact
    # sum = 100k; the sample must be trusted and land within 10%.
    wide = spark.range(200_000).select(
        (F.col("id") % 100_000).cast("string").alias("sh")
    )
    dedup._pair_join_width(wide, ["sh"])
    d = dict(dedup.LAST_AUTO_DECISION)
    assert d["est_mode"] == "sampled", d
    assert abs(d["est_join_rows"] - 100_000) <= 10_000, d

    # 2) dominance: 100k singleton keys + ONE hot key carrying all the
    # mass (C(1000,2) = 499500). Whether or not the hot key lands in
    # the sample, the gates must force the exact fallback.
    hot = spark.range(100_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("sh")
    ).union(spark.range(1_000).select(F.lit("HOT").alias("sh")))
    dedup._pair_join_width(hot, ["sh"])
    d = dict(dedup.LAST_AUTO_DECISION)
    assert d["est_mode"] == "exact_fallback", d
    assert d["est_join_rows"] == 499_500, d

    # 3) small index (< 4096 keys): exact, bit-for-bit.
    small = spark.range(30).select((F.col("id") % 10).cast("string").alias("sh"))
    dedup._pair_join_width(small, ["sh"])
    d = dict(dedup.LAST_AUTO_DECISION)
    assert d["est_mode"] == "exact_fallback", d
    assert d["est_join_rows"] == 10 * 3, d

    # 4) anchored form keeps the same contract (exact at small scale:
    # sum_k na*nb over the anchor predicate).
    dedup._pair_join_width(small, ["sh"], anchor=F.col("sh") == "0")
    d = dict(dedup.LAST_AUTO_DECISION)
    assert d["est_mode"] == "exact_fallback", d
    assert d["est_join_rows"] == 3 * 3, d


def test_pair_join_width_skips_sample_below_plan_size_gate(spark):
    """r12 idle-bench fix: on an index that plan-estimates under
    _EST_SAMPLE_MIN_BYTES the sampled pre-pass is skipped outright
    (est_mode == "exact", not "exact_fallback") — one estimate job,
    the r11 cost — while the estimate itself stays bit-exact."""
    from smartpipeline_spark.functions import dedup

    wide = spark.range(200_000).select(
        (F.col("id") % 100_000).cast("string").alias("sh")
    )
    dedup._pair_join_width(wide, ["sh"])
    d = dict(dedup.LAST_AUTO_DECISION)
    assert d["est_mode"] == "exact", d
    assert d["est_join_rows"] == 100_000, d
