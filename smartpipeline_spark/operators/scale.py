"""Scale machinery: exchange widths, skew-salted joins and bucketed
co-located joins.

* **Exchange widths** — this module is the only one that decides the
  width of an auto-sized exchange: :func:`resolve_exchange_width` is
  the one ``partitions=`` contract, :func:`sample_first_estimate` the
  one sample-first estimator, :func:`plan_size_bytes` the one read of
  Catalyst's size statistic and :data:`TASK_TARGET_BYTES` the one
  per-task target. Operators supply only their row estimates.

Salting and bucketing are the two levers AQE can't always pull for
you at 100 TB:

* **Salting** — when one join key carries a disproportionate share of
  rows (a celebrity user, a null-ish default key), hash partitioning
  sends it all to one task. Salting splits the hot key into N
  sub-keys: the skewed side gets a random salt 0..N-1, the small side
  is replicated N times, and the join key becomes (key, salt). AQE's
  skew-join splits oversized partitions post-shuffle, but salting is
  the explicit, planner-independent fix — and the only one for
  skewed *aggregations*.

* **Bucketing** — pre-shuffling a table once at write time
  (bucketBy on the join key) so every subsequent join/agg on that key
  is exchange-free. At 100 TB you bucket the fact tables at ingest;
  the per-query saving is the entire fact-table shuffle.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


# The one per-task target every auto-sized width is derived from:
# ~128 MB of serialized rows per shuffle task (exchanges) or per
# sorted output file (index segments).
TASK_TARGET_BYTES = 128 * 1024 * 1024


def pressure_floor(spark: SparkSession) -> int:
    """The width floor of every auto-sized exchange: 2 x the session's
    ``defaultParallelism``."""
    return 2 * spark.sparkContext.defaultParallelism


def tuned_shuffle_partitions(
    est_rows: int,
    *,
    row_bytes: int = 50,
    floor: int | None = None,
    ceiling: int = 8192,
    spark: SparkSession | None = None,
) -> int:
    """Executable form of the partition-sizing rule the SMOKE ladders
    converged on (r9 hand-tuning, r10 idle-host adjudication): size an
    exchange so each task's share of the WIDEST exchange's working set
    (``est_rows`` x ``row_bytes``) is ~:data:`TASK_TARGET_BYTES`
    serialized, then round to the nearest power of two and clamp to
    [:func:`pressure_floor`, ceiling].

    ``est_rows`` is the widest shuffle's row count — e.g. a join's
    output cardinality Sum_k n_a(k)*n_b(k), computable by one cheap
    pre-aggregation — and ``row_bytes`` its serialized row size (~50
    for a pair+count shuffle row).

    Why NEAREST, with a hard floor and no round-up-for-safety: the
    measured curve is NON-monotone in both directions —
    * r10 idle-host matrix, capped-jaccard 64x (329M join rows):
      128p = 68.1s / 1303 exec-CPU-s, 256p = 91.7s / 1767 — doubling
      partitions past the target cost +36% CPU (per-task overhead +
      doubled spill), load-independently.
    * capped-jaccard 256x (1.32B rows): 512p = 251.7s / 6077 CPU-s,
      1024p = 346.3s / 8487 — same +40% penalty. (r9's apparent 1024p
      preference, and its 2x-worse 64x@256p point, were measured under
      host load 14-27 and do not reproduce idle; executorCpuTime
      inflates under contention — the r8 lesson, reconfirmed.)
    * capped-minhash 256x (small working set, zero spill at every
      width 128-1024): wall flat 54-64s — below the pressure point
      partitions simply don't matter, so the floor is the right
      answer, not a scaled-up count.
    Both jaccard bests sit at the SAME per-task load (329M/128 =
    1315M/512 = 2.57M rows ~ 128 MB serialized at ~50 B/row) — one
    target, both rungs, which is exactly the rule a 1000-executor job
    sizes reducers by."""
    import math

    if floor is None:
        floor = pressure_floor(spark)
    need = max(1.0, int(est_rows) * int(row_bytes) / TASK_TARGET_BYTES)
    # nearest power of two in log space (131 -> 128, 526 -> 512)
    p = 2 ** round(math.log2(need))
    return int(min(max(p, floor), ceiling))


# Serialized bytes of one sorted index-segment row (a posting).
SEGMENT_ROW_BYTES = 30


def files_for_rows(rows: int) -> int:
    """Output file count for a sorted index segment: ~
    :data:`TASK_TARGET_BYTES` of rows at :data:`SEGMENT_ROW_BYTES` per
    file, capped at 8192. The r12 1024x RAG rung measured why a fixed count cannot
    work: 8 files over ~500M postings put ~50M rows through each
    sortWithinPartitions task, while a fixture corpus wants ~1 file so
    a term probe opens ~1 footer."""
    import math

    return max(1, min(math.ceil(rows * SEGMENT_ROW_BYTES / TASK_TARGET_BYTES), 8192))


def _session_width(spark: SparkSession) -> int | None:
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return None


def should_inject_width(p: int, spark: SparkSession) -> bool:
    """The inject-or-skip half of the ``partitions="auto"`` contract:
    inject the tuned width only when it exceeds the pressure floor
    (:func:`pressure_floor`) — below it the measured curves are flat
    and an explicit exchange would pin tiny jobs away from AQE's
    broadcast/coalesce choices — EXCEPT when the session width is
    egregiously oversized (> 8 x the tuned target), which measured
    +49% wall at 1024x from per-task overhead alone; then the tuned
    width is injected as a clamp. Typical test/driver sessions (32-200
    partitions) stay under the 8 x line, so fixture plans remain
    untouched."""
    if p > pressure_floor(spark):
        return True
    sess = _session_width(spark)
    return sess is not None and sess > 8 * p


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's plan-estimated size of a frame, or None when it is
    unavailable (Spark Connect / non-JVM plan wrappers) or is the
    "unknown" sentinel (~8 EB). For a parquet scan this is the
    COMPRESSED file bytes; for a materialized cache it is the actual
    in-memory size — both usable as a conservative smallness witness
    (callers must treat None/huge as "not small", never the reverse).
    The package's only read of Catalyst's size statistic."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    if size <= 0 or size > (1 << 50):
        return None
    return size


# Plan-size gate under which an auto-sized operator SKIPS its estimate
# job outright: at <= 16 MB of plan-estimated input (compressed scan
# bytes or materialized cache bytes), every exchange a LINEAR-output
# operator derives from the input is in the pressure-floor region
# where the measured width curves are flat (r10/r11 idle matrices) —
# the only decisions the estimate could produce are "don't inject" or
# the 8x session clamp, and the clamp precondition is checked
# separately before bypassing. The estimate job itself, by contrast,
# is a real cost at exactly this scale: the r12 idle bench measured
# the added pre-pass at +62% executor CPU on ext_line_dedup (1.23 ->
# 1.99 s) and +34% wall on ext_epoch_shuffle — fixed job overhead that
# buys a number which changes nothing. At 16 MB the bound is tight
# even adversarially: <= ~128 MB decompressed, and at the operators'
# linear row multipliers (<= ~1 row / 2 raw bytes) the widest
# exchange's working set stays ~<= the floor's 8 GB budget at
# 150 B/row. SMOKE ladder rungs (64x+ replicated corpora, >= ~200 MB
# materialized) stay far above the gate, so every measured injection
# decision is unchanged.
ESTIMATE_BYPASS_BYTES = 16 * 1024 * 1024


def estimate_bypassed(input_df: DataFrame) -> bool:
    """The small-input bypass of :func:`resolve_exchange_width`: True
    when ``input_df`` plan-estimates under :data:`ESTIMATE_BYPASS_BYTES`
    AND the session width cannot trip the 8x clamp (``sess <= 8 x
    floor`` — exact: the tuned width is always >= floor, so ``sess <=
    8 x p`` for any estimate and the clamp branch of
    :func:`should_inject_width` is provably off). Operators that pick a
    follow-on shape by input size ask this same predicate, so the gate
    has one definition."""
    size = plan_size_bytes(input_df)
    if size is None or size > ESTIMATE_BYPASS_BYTES:
        return False
    spark = input_df.sparkSession
    sess = _session_width(spark)
    return sess is not None and sess <= 8 * pressure_floor(spark)


# Diagnostics: the most recent ``partitions="auto"`` decision —
# ``est_rows`` and the tuned ``partitions`` (both None when the
# small-input bypass skipped the estimate). Written only by
# :func:`resolve_exchange_width`; read by scripts/scale_smoke.py and
# the tests. Not part of the API contract.
LAST_DECISION: dict = {}


def resolve_exchange_width(
    partitions,
    spark: SparkSession,
    est_rows_fn,
    row_bytes: int = 50,
    input_df: DataFrame | None = None,
) -> int | None:
    """The ``partitions`` contract of every auto-sized exchange in the
    package (pairing joins, ExactSubstr, line dedup, packing, epoch
    shuffle, BM25 segment builds): ``"auto"`` runs ``est_rows_fn()``
    (the operator's one-pass estimate of its widest exchange's row
    count — charged to the operator by design), sizes it with
    :func:`tuned_shuffle_partitions` at ``row_bytes`` per serialized
    row, and applies :func:`should_inject_width`; an int forces that
    width; ``None`` leaves the session conf / AQE in charge. Every
    "auto" decision is recorded in :data:`LAST_DECISION`.

    ``input_df`` (optional) enables the small-input bypass
    (:func:`estimate_bypassed`): the estimate job is skipped and None
    returned directly. Only LINEAR-output operators may pass it — a
    16 MB input keeps their widest exchange at/near the pressure floor,
    so skipping costs nothing and saves the estimate job, the dominant
    fixture-scale cost. The pairing joins must not: their output is
    QUADRATIC in the input (Σ_k C(n_k, 2) pairs), so a small input
    can still feed a join far above the floor."""
    if partitions is None:
        return None
    if partitions != "auto":
        return int(partitions)
    if input_df is not None and estimate_bypassed(input_df):
        est = p = None
    else:
        est = int(est_rows_fn() or 0)
        p = tuned_shuffle_partitions(est, row_bytes=row_bytes, spark=spark)
    LAST_DECISION.clear()
    LAST_DECISION.update({"est_rows": est, "partitions": p})
    return p if p is not None and should_inject_width(p, spark) else None


# The sample-first estimate's key-sample rate and its two trust gates:
# the scaled sample is believed only when it aggregates enough keys for
# concentration (>= _EST_MIN_SAMPLED_KEYS) AND no single key carries
# more than _EST_MAX_KEY_SHARE of the sampled mass (a dominant key
# means the estimate rides on a handful of hot keys, where a 1-in-16
# key sample is Poisson-noisy — exactly the replica-ladder shape).
_EST_SAMPLE_MOD = 16
_EST_MIN_SAMPLED_KEYS = 4096
_EST_MAX_KEY_SHARE = 1.0 / 16.0
# Plan-size gate under which the sampled pre-pass is SKIPPED and the
# exact estimate runs directly: the sample exists to make the estimate
# cheap on BIG inputs; on a small input the exact pass is itself one
# cheap job, while the sample almost always fails the >= 4096-key
# trust gate and falls back — costing TWO estimate jobs where one
# gives the same number (measured in the r12 idle bench as
# ext_dedup_minhash +13% wall, pure fixed overhead at fixture scale).
# 256 MB keeps every regime where sampling measurably pays (the
# 256x/1024x ladder rungs, multi-GB materialized indexes) on the
# sampled path.
_EST_SAMPLE_MIN_BYTES = 256 * 1024 * 1024


def sample_first_estimate(
    frame: DataFrame, key_cols: list[str], per_key
) -> int:
    """One-pass estimate of an exchange's row count, SAMPLE-FIRST (r12):
    ``per_key(f)`` maps a frame to one row per key with that key's
    contribution in column ``e``; the estimate is Σ e over ``frame``.

    The sample keeps 1 key in 16 (``xxhash64(keys) % 16 == 0`` — the
    filter prunes ~15/16 of the input BEFORE any exchange ``per_key``
    adds) and scales its sum back up by 16. A width only needs the
    right power-of-two bucket (nearest-pow2 rounding tolerates ±41%
    before the bucket flips, and the measured curves are flat within a
    2x band), so a concentrated sample is plenty — but concentration
    must be CHECKED, not assumed: the sample is trusted only when it
    covers >= 4096 keys and its largest single-key contribution is
    <= 1/16 of the sampled mass. Otherwise (few keys, or a mass
    dominated by a few hot keys — where a key sample is genuinely
    noisy) the exact pass runs, which is cheap in exactly those
    regimes. Inputs that plan-estimate at or under 256 MB skip the
    sample and run the exact pass alone: one job instead of two."""

    def agg(f):
        return per_key(f).agg(
            F.sum("e").alias("r"), F.count("*").alias("k"), F.max("e").alias("m")
        ).collect()[0]

    size = plan_size_bytes(frame)
    if size is not None and size <= _EST_SAMPLE_MIN_BYTES:
        return int(agg(frame)["r"] or 0)
    sampled = agg(
        frame.filter(F.pmod(F.xxhash64(*key_cols), F.lit(_EST_SAMPLE_MOD)) == 0)
    )
    if (
        (sampled["k"] or 0) >= _EST_MIN_SAMPLED_KEYS
        and (sampled["r"] or 0) > 0
        and sampled["m"] <= sampled["r"] * _EST_MAX_KEY_SHARE
    ):
        return int(sampled["r"]) * _EST_SAMPLE_MOD
    return int(agg(frame)["r"] or 0)


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    small_key: str | None = None,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join a skewed fact side to a smaller side with key salting.

    The skewed side gets ``salt = pmod(hash(monotonic row id), N)``;
    the small side is exploded N-fold with every salt value. The
    result equals a plain join on ``key`` but the hot key's rows
    spread over N tasks. The small side's replication cost is N x
    its size — keep it for genuinely small/medium dimension sides.

    Only fact-side-preserving join types are accepted: because the
    small side is REPLICATED once per salt value, ``right``/``full``
    would emit every unmatched small-side row ``salt_buckets`` times
    instead of once — not equal to the plain join. Flip the sides
    (or dedupe the dim side yourself) for those shapes.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "semi", "left_anti", "leftanti", "anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} is not equivalent under salt replication "
            f"(unmatched small-side rows would appear {salt_buckets}x); "
            f"use one of {sorted(allowed)}"
        )
    small_key = small_key or key
    salted_fact = skewed.withColumn(
        "_salt", F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    # rename the small side's join helpers to avoid ambiguity when the
    # two sides share column names
    salted_dim = small.withColumnRenamed(small_key, "_sj_key").withColumn(
        "_sj_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    cond = (salted_fact[key] == salted_dim["_sj_key"]) & (
        salted_fact["_salt"] == salted_dim["_sj_salt"]
    )
    return salted_fact.join(salted_dim, cond, how).drop("_salt", "_sj_salt", "_sj_key")


def salted_count(df: DataFrame, key: str, salt_buckets: int = 64) -> DataFrame:
    """Two-phase skew-safe count per key: count per (key, salt) first
    (spreads a hot key over N tasks), then combine. Same trick
    generalizes to any algebraic aggregate (sum/min/max/avg via
    sum+count)."""
    return (
        df.withColumn(
            "_salt", F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(salt_buckets))
        )
        .groupBy(key, "_salt")
        .agg(F.count("*").alias("_partial"))
        .groupBy(key)
        .agg(F.sum("_partial").alias("cnt"))
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    num_buckets: int = 16,
    sort_by: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) on the join
    key. Subsequent equi-joins/aggregations between tables bucketed
    the same way on the same key run with NO exchange (and no sort,
    if sorted)."""
    spark = df.sparkSession
    # an orphaned warehouse dir (table dropped from a fresh catalog but
    # files left behind) blocks saveAsTable — clear both
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.removeprefix("file:"), table.lower())
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)
    writer = df.write.mode("overwrite").bucketBy(num_buckets, key)
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, key: str, how: str = "inner") -> DataFrame:
    """Join two same-bucketed saved tables — plan shows zero Exchange
    under the join when bucketing lines up (verified in tests)."""
    return spark.table(left_table).join(spark.table(right_table), key, how)


def salted_asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    bucket: str = "DAY",
) -> DataFrame:
    """Skew-resistant as-of join (the 100 TB form of q36): match each
    left row to the latest right row with the same ``key`` at or
    before its ``ts_col``.

    The plain formulation windows over ``key`` alone — one giant
    sorted partition per hot key. Here the window partitions by
    (key, time-bucket), splitting a hot key across its buckets, and a
    second, BUCKET-LEVEL pass repairs rows whose true match precedes
    their bucket: per (key, bucket) the last right value is carried
    forward with a window over bucket rows (thousands per key at
    most, never row-scale), and unmatched left rows coalesce to the
    carry of the previous bucket. Total cost: one (key, bucket)
    window, one tiny bucket-level window, one join of the carry table
    back onto the rows — all skew-proof.

    Left/right rows are identified by ``value_col`` being null/set;
    output: left columns + ``matched_<value_col>``.
    """
    bucket_col = F.date_trunc(bucket, F.col(ts_col)).alias("_bucket")
    l = left.select(
        "*",
        F.lit(1).alias("_is_left"),
        F.lit(None).cast(dict(right.dtypes)[value_col]).alias("_rv"),
        bucket_col,
    )
    r = right.select(
        F.col(key),
        F.col(ts_col),
        F.lit(0).alias("_is_left"),
        F.col(value_col).alias("_rv"),
        bucket_col,
    )
    left_cols = [c for c in left.columns]
    u = l.unionByName(r, allowMissingColumns=True)

    from pyspark.sql.window import Window

    w_in = (
        Window.partitionBy(key, "_bucket")
        .orderBy(ts_col, "_is_left")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.select(
        *left_cols,
        "_is_left",
        "_bucket",
        F.last("_rv", ignorenulls=True).over(w_in).alias("_in_match"),
    ).filter(F.col("_is_left") == 1)

    # bucket-level carry: last right value of each (key, bucket), then
    # carried from strictly earlier buckets over ALL buckets seen
    rb = r.groupBy(key, "_bucket").agg(F.max_by("_rv", F.col(ts_col)).alias("_lastv"))
    all_buckets = u.select(key, "_bucket").distinct()
    w_carry = (
        Window.partitionBy(key)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        all_buckets.join(rb, [key, "_bucket"], "left")
        .select(
            key,
            "_bucket",
            F.last("_lastv", ignorenulls=True).over(w_carry).alias("_prev_carry"),
        )
    )
    return (
        matched.join(carry, [key, "_bucket"], "left")
        .select(
            *left_cols,
            F.coalesce("_in_match", "_prev_carry").alias(f"matched_{value_col}"),
        )
    )


def sketch_rollup(
    df: DataFrame, group_cols: list[str], distinct_col: str
) -> DataFrame:
    """Pre-aggregated distinct-count rollup via HLL sketches
    (Datasketches, built into Spark 4): one row per group carrying a
    MERGEABLE binary sketch of the distinct values. This is THE
    100 TB cardinality pattern — materialize per-partition/per-day
    sketches once, then answer any coarser-grained distinct-count
    (per week, per region, global) by merging sketch bytes with
    ``merge_sketches``, never rescanning the raw data. An exact
    COUNT(DISTINCT) re-shuffles the full corpus per question;
    sketches shuffle ~KB per group, are commutative/associative
    (partial-agg friendly), and cost ~1% relative error."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(distinct_col).alias("sketch"),
        F.count("*").alias("n_rows"),
    )


def merge_sketches(rollup: DataFrame, group_cols: list[str]) -> DataFrame:
    """Re-aggregate a sketch rollup to a coarser grouping (possibly
    empty = global): union the sketches, estimate at the end."""
    agg = [
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_distinct"),
        F.sum("n_rows").alias("n_rows"),
    ]
    return rollup.groupBy(*group_cols).agg(*agg) if group_cols else rollup.agg(*agg)


def cms_rollup(
    df: DataFrame,
    key: str,
    group_cols: list[str],
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Count-min frequency sketch rollup — the FREQUENCY sibling of
    :func:`sketch_rollup`'s HLL distinct counts: one (group, d,
    bucket, cnt) row per occupied cell, a mergeable approximation of
    "how often does each key occur" in ``depth * width`` longs per
    group regardless of key cardinality (Cormode-Muthukrishnan).
    Build once per partition/day; answer point-frequency and
    heavy-hitter questions at any coarser grain by SUMMING cells
    (:func:`cms_merge`) — never rescanning the corpus. One-sided
    error: estimates only ever OVERcount, by <= e/width * N with
    probability 1 - (1/2)^depth. Entirely partial-agg'd column
    algebra (xxhash64 bucketing, no UDF)."""
    rows = df.select(
        *group_cols,
        *[
            F.pmod(F.xxhash64(F.col(key), F.lit(d)), F.lit(width)).alias(f"_b{d}")
            for d in range(depth)
        ],
    )
    cells = None
    for d in range(depth):
        c = rows.select(*group_cols, F.lit(d).alias("d"), F.col(f"_b{d}").alias("bucket"))
        cells = c if cells is None else cells.unionByName(c)
    return cells.groupBy(*group_cols, "d", "bucket").agg(
        F.count("*").alias("cnt")
    )


def cms_merge(rollup: DataFrame, group_cols: list[str]) -> DataFrame:
    """Re-aggregate a CMS rollup to a coarser grouping (possibly
    empty = global): cells merge by plain SUM — the property that
    makes the sketch a layout, not a query."""
    if group_cols:
        return rollup.groupBy(*group_cols, "d", "bucket").agg(
            F.sum("cnt").alias("cnt")
        )
    return rollup.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame, keys: DataFrame, key: str, width: int = 1024, depth: int = 4
) -> DataFrame:
    """Point-frequency estimates for ``keys`` against a (global) CMS
    sketch: recompute each key's ``depth`` buckets, join the matching
    cells (broadcast — the key list is the small side), take the MIN
    over rows. Missing cells read as 0. Returns (key, est)."""
    probes = keys.select(F.col(key)).distinct()
    probe_cells = None
    for d in range(depth):
        c = probes.select(
            key,
            F.lit(d).alias("d"),
            F.pmod(F.xxhash64(F.col(key), F.lit(d)), F.lit(width)).alias("bucket"),
        )
        probe_cells = c if probe_cells is None else probe_cells.unionByName(c)
    joined = probe_cells.join(F.broadcast(sketch), ["d", "bucket"], "left")
    return joined.groupBy(key).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est")
    )


def binned_interval_join(
    a: DataFrame,
    b: DataFrame,
    a_start: str = "a_start",
    a_end: str = "a_end",
    b_start: str = "b_start",
    b_end: str = "b_end",
    bin_seconds: int = 3600,
    max_bins_per_interval: int = 10_000,
) -> DataFrame:
    """Interval-overlap join ``[a_start, a_end] x [b_start, b_end)``
    as an EQUI-join on time bins — the plan that survives 100 TB where
    the naive form cannot: Spark executes a pure range predicate as a
    broadcast-nested-loop (or cartesian) join, O(|A|x|B|) comparisons
    with no partition parallelism on the key.  Binning restores hash
    semantics: each interval explodes to the epoch-aligned bins it
    covers, both sides shuffle on the bin, and only same-bin pairs are
    compared.

    Duplicate control without a distinct: a pair overlapping several
    shared bins would match once per bin, so the join keeps a pair
    only in the FIRST bin both intervals cover (``bin ==
    floor(us(greatest(starts)) / width)``) — row-local arithmetic, no
    post-join dedup shuffle.

    Explosion bound: rows_per_interval = ceil(len / bin_seconds) + 1;
    pick ``bin_seconds`` near the typical interval length (the classic
    interval-bin sizing rule).  A row whose span exceeds
    ``max_bins_per_interval`` bins fails fast with raise_error instead
    of silently exploding the stage (the hot-key-cap ethos: quadratic
    and multiplicative blowups die loudly at their source).  Skewed
    bins (rush hour) remain ordinary skewed-key territory — salt or
    let AQE split them."""
    w_us = F.lit(int(bin_seconds) * 1_000_000)

    def guarded_seq(lo, hi):
        n_bins = hi - lo + 1
        # hi < lo (end before start) would make F.sequence emit a
        # DESCENDING bin list — spurious matches instead of a loud
        # failure, and n_bins <= 0 sails under the cap check below
        return F.when(
            n_bins <= F.lit(0),
            F.raise_error(
                F.lit(
                    "binned_interval_join: invalid interval "
                    "(end before start) — fix the input rows"
                )
            ).cast("array<bigint>"),
        ).when(
            n_bins > F.lit(max_bins_per_interval),
            F.raise_error(
                F.format_string(
                    "binned_interval_join: an interval spans %s bins "
                    "(> max_bins_per_interval=%s) — widen bin_seconds "
                    "or raise the cap",
                    n_bins.cast("string"),
                    F.lit(str(max_bins_per_interval)),
                )
            ).cast("array<bigint>"),
        ).otherwise(F.sequence(lo, hi))

    a_bins = a.withColumn(
        "_bin",
        F.explode(
            guarded_seq(
                F.floor(F.unix_micros(F.col(a_start)) / w_us),
                F.floor(F.unix_micros(F.col(a_end)) / w_us),
            )
        ),
    )
    b_bins = b.withColumn(
        "_bin",
        F.explode(
            guarded_seq(
                F.floor(F.unix_micros(F.col(b_start)) / w_us),
                # half-open b-end: an interval ending exactly on a bin
                # boundary does not occupy the next bin
                F.floor((F.unix_micros(F.col(b_end)) - F.lit(1)) / w_us),
            )
        ),
    )
    overlap = (
        (F.col(a_start) < F.col(b_end))
        & (F.col(b_start) <= F.col(a_end))
        & (
            F.col("_bin")
            == F.floor(
                F.unix_micros(F.greatest(F.col(a_start), F.col(b_start))) / w_us
            )
        )
    )
    return a_bins.join(b_bins, ["_bin"]).filter(overlap).drop("_bin")


def quantile_rollup(
    df: DataFrame, group_cols: list[str], col: str, b: int = 128
) -> DataFrame:
    """Mergeable quantile rollup — the QUANTILE member of the sketch
    triad beside :func:`sketch_rollup` (HLL distinct) and
    :func:`cms_rollup` (count-min frequency): one row per group
    carrying an equi-depth grid of ``b`` approximate quantiles of
    ``col`` (Greenwald-Khanna via ``percentile_approx``) plus the
    exact row count.  Materialize per-partition/per-day once, answer
    p50/p95/p99 at ANY coarser grain with :func:`quantile_merge` —
    never rescanning the corpus.  An exact percentile re-sorts the
    full corpus per question; the rollup shuffles ``b`` doubles per
    group.

    Error: the grid point at position i approximates the
    i/(b-1)-quantile with GK rank error <= 1/accuracy; re-extracting
    a quantile from the merged weighted grid adds <= 1/(b-1) rank
    error (grid discretization).  Total rank error ~ 1/(b-1) + 1e-4
    at the default accuracy — b=128 gives <~1% rank error, constant
    regardless of corpus size."""
    probs = F.array(*[F.lit(i / (b - 1)) for i in range(b)])
    return df.groupBy(*group_cols).agg(
        F.percentile_approx(col, probs, F.lit(10_000)).alias("grid"),
        F.count(col).alias("n_rows"),
    )


def quantile_merge(
    rollup: DataFrame, group_cols: list[str], probs: list[float] | None = None
) -> DataFrame:
    """Re-aggregate a quantile rollup to a coarser grouping (possibly
    empty = global) and extract quantile estimates at ``probs``
    (default p50/p90/p95/p99).  Each source grid is treated as an
    equi-depth weighted sample — b values each carrying n_rows/b
    weight — so the merge is: explode grids, cumulative-sum weights
    per target group in value order, and for each requested p take
    the first value whose cumulative weight reaches p * total.
    All built-in column algebra (posexplode + one window + one
    aggregate); the exploded interim is |groups| * b rows — tiny next
    to the corpus the rollup summarized.  Returns group_cols + prob +
    est (+ n_rows)."""
    probs = probs if probs is not None else [0.5, 0.9, 0.95, 0.99]
    w = (
        rollup.filter(F.col("n_rows") > 0)  # all-null groups carry no grid
        .select(
            *group_cols,
            (F.col("n_rows").cast("double") / F.size("grid")).alias("_wt"),
            F.posexplode("grid").alias("_pos", "value"),
        )
        .drop("_pos")
    )
    from pyspark.sql.window import Window

    part = Window.partitionBy(*group_cols) if group_cols else Window.partitionBy(F.lit(1))
    # value-ordered cumulative weight; _wt DESC tiebreak keeps runs of
    # equal values deterministic (heavier grids first is arbitrary but
    # stable), and rowsBetween makes ties accumulate one at a time
    cum = part.orderBy(F.col("value"), F.col("_wt").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = part.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w = w.select(
        *group_cols,
        "value",
        F.sum("_wt").over(cum).alias("_cum"),
        F.sum("_wt").over(tot).alias("_tot"),
    )
    p = F.explode(F.array(*[F.lit(float(x)) for x in probs])).alias("prob")
    probed = w.select(*group_cols, "value", "_cum", "_tot", p)
    return probed.groupBy(*group_cols, "prob").agg(
        F.min(
            F.when(F.col("_cum") >= F.col("prob") * F.col("_tot"), F.col("value"))
        ).alias("est"),
        F.floor(F.max("_tot") + F.lit(0.5)).cast("long").alias("n_rows"),
    )


def skew_report(df: DataFrame, key: str, top_n: int = 10) -> dict:
    """Pre-flight skew diagnostic for a prospective join/agg key: one
    aggregation over the keys producing (a) count quantiles, (b) the
    top-N heaviest keys and their share, (c) the skew ratio
    (max/median) that decides between a plain shuffle, AQE skew
    splitting, or explicit salting (`salted_join`). ONE job, two
    rows of driver transfer — run it on 100 TB before wiring the
    join, not after it stalls. Returns a plain dict (it's a
    diagnostic, not a dataset)."""
    counts = df.groupBy(key).agg(F.count("*").alias("n"))
    stats = counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
        F.expr("percentile(n, array(0.5, 0.9, 0.99))").alias("quantiles"),
    ).collect()[0]
    if not stats["n_keys"]:  # empty input: a zeroed report, not a TypeError
        return {
            "n_keys": 0, "n_rows": 0, "p50": None, "p90": None, "p99": None,
            "max": None, "skew_ratio": 0.0, "top_keys": [],
        }
    top = (
        counts.orderBy(F.desc("n"), key).limit(top_n).collect()
    )
    median = stats["quantiles"][0] or 1.0
    return {
        "n_keys": stats["n_keys"],
        "n_rows": stats["n_rows"],
        "p50": stats["quantiles"][0],
        "p90": stats["quantiles"][1],
        "p99": stats["quantiles"][2],
        "max": stats["max_n"],
        "skew_ratio": stats["max_n"] / median,
        "top_keys": [(r[key], r["n"]) for r in top],
    }


def compact(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    fmt: str = "parquet",
) -> dict:
    """Small-files compaction — the standing maintenance job behind
    every streaming sink (each micro-batch commits >= 1 file per
    partition; a day of 10-second triggers is ~10^5 files whose open
    cost dominates scans long before data size does). Rewrites
    ``path`` to ~ceil(bytes / target_file_mb) files — a narrow
    coalesce for flat tables; for PARTITIONED tables (``key=value``
    subdirs, the usual streaming-sink layout) the partition columns
    are re-applied on write and rows are first clustered by them so
    directory pruning survives compaction and each partition lands in
    ~one file instead of one per task. Finishes with the crash-safe
    directory swap of :func:`_atomic_swap`. Returns before/after file
    counts. On object stores, point the temp at the same bucket so
    the final rename is a metadata op."""
    import math
    import os
    import re

    before = _data_files(path)
    total_bytes = sum(os.path.getsize(f) for f in before)
    n_out = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    # partition columns, in hierarchy order, from one data file's
    # directory chain (all files share the layout)
    part_cols = []
    if before:
        for comp in os.path.relpath(before[0], path).split(os.sep)[:-1]:
            m = re.match(r"([^=]+)=", comp)
            if m:
                part_cols.append(m.group(1))
    tmp = path.rstrip("/") + "._compacting"
    df = spark.read.format(fmt).load(path)
    if part_cols:
        writer = (
            df.repartition(n_out, *[F.col(c) for c in part_cols])
            .write.mode("overwrite")
            .partitionBy(*part_cols)
        )
    else:
        writer = df.coalesce(n_out).write.mode("overwrite")
    writer.format(fmt).save(tmp)
    _atomic_swap(tmp, path)
    return {"files_before": len(before), "files_after": len(_data_files(path)), "bytes": total_bytes}


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
) -> dict:
    """Idempotent partition-level backfill (dynamic partition
    overwrite): write ``df`` into the partitioned table at ``path``,
    replacing ONLY the partitions ``df`` actually contains and leaving
    every other partition's files physically untouched. This is THE
    re-run-safe ingestion primitive at 100 TB: re-processing one day
    (or one source shard) replaces exactly that day — never appends
    duplicates, never rewrites the other 10^3 partitions the way
    ``mode("overwrite")`` alone would (static overwrite truncates the
    WHOLE table root).

    Rows are first clustered by the partition columns so each written
    partition lands in ~one file per holding task instead of one per
    (task × partition) — the small-files prevention that keeps
    :func:`compact` a rare event rather than a nightly necessity.
    The session's ``partitionOverwriteMode`` is saved and restored, so
    the dynamic mode never leaks into unrelated writes. Returns the
    number of partitions replaced (computed from the write's own
    distinct partition values — bounded by partition count, which is
    operationally small by definition)."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, "dynamic")
    try:
        (
            df.repartition(*[F.col(c) for c in partition_cols])
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .format(fmt)
            .save(path)
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    n = df.select(*partition_cols).distinct().count()
    return {"partitions_replaced": n}


def _data_files(p: str) -> list[str]:
    import os

    return [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(p)
        for f in fs
        if not f.startswith(("_", "."))
    ]


def reap_temp_litter(path: str, older_than_s: float = 86400.0) -> dict:
    """Remove orphaned temp files from a sink directory — the
    maintenance twin of :func:`compact` for the DSv2 leak the custom
    sinks document: a task that dies MID-WRITE never returns a commit
    message, so ``abort()`` has nothing to clean and its
    ``._tmp-*``/``.…tmp`` shard survives on disk. Harmless for
    correctness (readers skip dot/underscore files) but it accumulates
    on object stores forever and costs listing time + storage.

    Age-gated (default 24h) so a CONCURRENT writer's in-flight temp
    files are never reaped — the same contract as Delta VACUUM's
    retention window: only run with a horizon longer than any writer's
    possible task lifetime. Reaped: dot-prefixed temp shards
    (``._tmp-*``) and anything under a dead job's ``_temporary``
    tree. NOT reaped: committed data files (never dot/underscore
    prefixed) and ``_SUCCESS`` markers (they attest a COMPLETED
    job). Returns counts + bytes reclaimed."""
    import os
    import time

    now = time.time()
    reaped_files = 0
    reclaimed = 0
    # snapshot staging-dir mtimes BEFORE any deletion: reaping a child
    # updates the parent's mtime, so gating on live mtimes would keep
    # a dead tree alive forever; gating on the pre-reap snapshot both
    # removes trees we just emptied of aged litter and spares a live
    # committer's freshly mkdir'd (still-empty) task-attempt dir
    dir_mtime: dict[str, float] = {}
    for dp, dns, _ in os.walk(path):
        in_tmp = "_temporary" in dp.split(os.sep)
        for d in dns:
            if d == "_temporary" or in_tmp:
                full = os.path.join(dp, d)
                try:
                    dir_mtime[full] = os.stat(full).st_mtime
                except OSError:
                    pass
    for dp, dns, fs in os.walk(path, topdown=False):
        in_temporary = "_temporary" in dp.split(os.sep)
        for f in fs:
            is_tmp_shard = f.startswith(".") and "tmp" in f.lower()
            if not (in_temporary or is_tmp_shard):
                continue
            full = os.path.join(dp, f)
            try:
                st = os.stat(full)
                if now - st.st_mtime > older_than_s:
                    reclaimed += st.st_size
                    os.remove(full)
                    reaped_files += 1
            except OSError:
                pass
        # prune now-empty _temporary dirs (bottom-up walk). Exact
        # component match only — a user directory whose NAME merely
        # contains the substring (``pre_temporary_x``) is not staging
        # litter. Age-gated like the files: a live committer mkdirs()
        # its task-attempt dir moments before the first file lands, so
        # reaping a FRESH empty dir races that window (task fails and
        # retries); a day-old empty staging dir has no live writer.
        for d in dns:
            full = os.path.join(dp, d)
            if d == "_temporary" or in_temporary:
                mt = dir_mtime.get(full)
                try:
                    if (
                        mt is not None
                        and now - mt > older_than_s
                        and not os.listdir(full)
                    ):
                        os.rmdir(full)
                except OSError:
                    pass
    return {"reaped_files": reaped_files, "reclaimed_bytes": reclaimed}


def _atomic_swap(tmp: str, path: str) -> None:
    """Replace ``path`` with ``tmp`` via two renames. POSIX cannot swap
    two DIRECTORIES in one rename, so this is crash-SAFE rather than
    strictly atomic: a concurrent reader can hit a brief not-found
    window between the renames (retry), but at every instant the data
    exists in full at ``path``, ``path._old``, or both — a failed
    second rename rolls the original back, and a stale ``._old`` from
    a previous crash is cleared first (otherwise move() would nest the
    live table INSIDE it). True single-rename atomicity needs an
    indirection the plain-directory layout doesn't have: a symlink
    flip or a table format's metadata pointer."""
    import os
    import shutil

    old = path.rstrip("/") + "._old"
    if os.path.isdir(old):
        shutil.rmtree(old)
    shutil.move(path, old)
    try:
        shutil.move(tmp, path)
    except BaseException:
        shutil.move(old, path)  # roll back; the original is intact
        raise
    shutil.rmtree(old)


def delete_keys(
    spark: SparkSession,
    path: str,
    key: str,
    keys,
    fmt: str = "parquet",
) -> dict:
    """Right-to-erasure / retraction delete: rewrite the table without
    the rows whose ``key`` is in ``keys`` (a list or a 1-column
    DataFrame), with the same atomic swap as :func:`compact`. The
    delete itself is a LEFT ANTI join against the key set — AQE picks
    broadcast when the set measures small (the GDPR case: thousands
    of subjects vs billions of rows) and a shuffle join when a caller
    passes a huge retraction table. This is the copy-on-write
    worst case: table formats narrow the rewrite to files whose
    footer range can contain a doomed key (pair with
    :func:`write_sorted` so those footers are tight); on a raw
    directory the whole table rewrites, which is the honest floor."""
    df = spark.read.format(fmt).load(path)
    if isinstance(keys, DataFrame):
        kdf = keys.toDF(key)
    else:
        if not keys:  # empty retraction batch: leave the table untouched
            return {
                "rows_after": df.count(),
                "files": len(_data_files(path)),
            }
        from pyspark.sql.types import StructField, StructType

        schema = StructType([StructField(key, df.schema[key].dataType)])
        kdf = spark.createDataFrame([(k,) for k in keys], schema)
    tmp = path.rstrip("/") + "._deleting"
    kept = df.join(kdf, key, "left_anti")
    kept.write.mode("overwrite").format(fmt).save(tmp)
    _atomic_swap(tmp, path)
    after = spark.read.format(fmt).load(path)
    return {"rows_after": after.count(), "files": len(_data_files(path))}


def with_global_index(
    df: DataFrame,
    order_col: str,
    index_name: str = "row_idx",
    num_buckets: int = 1 << 12,
) -> DataFrame:
    """Dense 0-based global row number in ``order_col`` order without
    ever sorting the dataset in one partition — the DataFrame answer
    to RDD ``zipWithIndex`` (which breaks whole-stage codegen and
    drags rows through Java serialization). Same exact two-level
    decomposition as sequence packing: rows hash into ``ntile``-free
    range buckets via
    ``width_bucket`` over an in-plan min/max, per-bucket counts cumsum
    into base offsets (tiny table, broadcast back), and a
    ``partitionBy(bucket)`` row_number — parallel across buckets —
    finishes the index. Requires a NUMERIC ``order_col``
    (``width_bucket`` rejects strings/timestamps — index a numeric
    surrogate like ``unix_micros(ts)`` instead) with values unique
    (ties would make the global order, and therefore the index,
    nondeterministic — the same caveat zipWithIndex hides) and
    non-null (a null key has no position in a total order; such rows
    would silently fall out of the bucket join — filter them first)."""
    from pyspark.sql.window import Window

    # bounds are widened to double and hi to max+1: width_bucket's
    # upper bound is exclusive AND rejects lo == hi (a 1-row or
    # constant-key frame would NULL out and the bucket join would
    # silently drop every row), and long-max keys must not overflow
    # the +1 under ANSI mode. Above 2^53 the +1.0 is absorbed by
    # double rounding, so a constant large-magnitude key would still
    # yield lo == hi — the fallback bumps hi by a magnitude-scaled
    # step (>= 4 ulps of lo) that double addition cannot absorb.
    # Rounding at double precision only moves bucket boundaries —
    # out-of-range keys land in buckets 0 / n+1, which join like any
    # other bucket, so no row is ever lost.
    hi_plus1 = F.max(order_col).cast("double") + F.lit(1.0)
    lo_d = F.min(order_col).cast("double")
    bounds = df.agg(
        lo_d.alias("lo"),
        F.when(hi_plus1 > lo_d, hi_plus1)
        .otherwise(lo_d + F.greatest(F.abs(lo_d) * F.lit(2.0 ** -50), F.lit(1.0)))
        .alias("hi"),
    )
    bucketed = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_gb",
        F.width_bucket(F.col(order_col), F.col("lo"), F.col("hi"), F.lit(num_buckets)),
    ).drop("lo", "hi")
    per = bucketed.groupBy("_gb").agg(F.count("*").alias("_n"))
    wb = Window.orderBy("_gb").rowsBetween(Window.unboundedPreceding, -1)
    base = per.select(
        "_gb", F.coalesce(F.sum("_n").over(wb), F.lit(0)).alias("_base")
    )
    win = Window.partitionBy("_gb").orderBy(order_col)
    return (
        bucketed.join(F.broadcast(base), "_gb")
        .withColumn(
            index_name, F.col("_base") + F.row_number().over(win) - F.lit(1)
        )
        .drop("_gb", "_base")
    )


def write_sorted(
    df: DataFrame,
    path: str,
    key: str,
    num_files: int = 8,
) -> None:
    """Sort-clustered parquet layout — the single-column answer to
    "why is my point lookup scanning 100 TB". ``repartitionByRange``
    gives every output file a DISJOINT key range, and the within-file
    sort tightens every row group's footer min/max to a narrow band;
    a later ``key = x`` / ``key BETWEEN`` predicate then skips all
    but one file at the footer level before any data IO happens —
    the same mechanism Delta's OPTIMIZE ZORDER exploits, here for
    the dominant-single-key case where a plain range sort is
    strictly better than a space-filling curve. The cost is one
    range shuffle at write time, paid once, amortized over every
    subsequent selective read. Tests assert the disjointness on the
    real footers (pyarrow), not just the plan."""
    (
        df.repartitionByRange(num_files, F.col(key))
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_ranks(
    df: DataFrame, cols: list[str], bits: int = 8, rank_mode: str = "width"
) -> DataFrame:
    """Per-column bucket ranks (``_r0..``, each in ``[0, 2^bits)``) —
    the rank stage of :func:`write_zordered`, exposed so the rank
    distribution itself is testable.

    ``rank_mode="width"``: ``width_bucket`` over in-plan min/max (one
    tiny agg broadcast back; degenerate-bounds guard as in
    :func:`with_global_index`). Right for roughly uniform spreads.

    ``rank_mode="quantile"``: buckets bounded by ``approxQuantile``
    cut points (driver-side, ``2^bits - 1`` doubles — constant size
    regardless of corpus), rank = count of cut points <= value via a
    row-local filter over the broadcast literal array. Right for
    skewed distributions, where equal-width ranks collapse most rows
    into a few buckets and the curve degenerates toward a single-key
    sort. NULLs rank 0 in both modes (they cluster at the curve
    origin)."""
    n_buckets = 1 << bits
    ranks = []
    if rank_mode == "quantile":
        probs = [i / n_buckets for i in range(1, n_buckets)]
        for i, c in enumerate(cols):
            cuts = df.selectExpr(f"CAST({c} AS DOUBLE) AS _q").approxQuantile(
                "_q", probs, 0.001
            )
            arr = ", ".join(repr(v) for v in cuts)
            ranks.append(
                F.coalesce(
                    F.expr(
                        f"size(filter(array({arr}), b -> b <= CAST(`{c}` AS DOUBLE)))"
                    ),
                    F.lit(0),
                ).cast("bigint").alias(f"_r{i}")
            )
        return df.select("*", *ranks)
    if rank_mode != "width":
        raise ValueError(f"rank_mode must be 'width' or 'quantile', got {rank_mode!r}")
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"_hi_{c}")]
    with_b = df.crossJoin(F.broadcast(df.agg(*aggs)))
    for i, c in enumerate(cols):
        lo, hi = F.col(f"_lo_{c}"), F.col(f"_hi_{c}")
        # exclusive upper bound; the magnitude-scaled step (>= 4 ulps)
        # survives double rounding where a flat +1.0 is absorbed above
        # 2^53 (the with_global_index lesson)
        hi_x = hi + F.greatest(F.abs(hi) * F.lit(2.0 ** -50), F.lit(1.0))
        r = (
            F.width_bucket(F.col(c).cast("double"), lo, hi_x, F.lit(n_buckets))
            - F.lit(1)
        )
        ranks.append(
            F.coalesce(
                F.least(F.greatest(r, F.lit(0)), F.lit(n_buckets - 1)), F.lit(0)
            ).cast("bigint").alias(f"_r{i}")
        )
    return with_b.select("*", *ranks).drop(
        *[f"_lo_{c}" for c in cols], *[f"_hi_{c}" for c in cols]
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int = 8,
    bits: int = 8,
    rank_mode: str = "width",
) -> None:
    """Z-order (Morton curve) clustered parquet layout — the
    MULTI-dimension answer where :func:`write_sorted` only prunes on
    one key: with a plain sort on A, every file spans B's full range
    and a ``B = x`` predicate reads the whole table. Interleaving the
    bit-planes of each column's rank gives a locality-preserving
    1-D order in which files hold tight footer min/max ranges on
    EVERY participating column, so predicates on any of them skip
    files before data IO — the mechanism behind Delta's OPTIMIZE
    ZORDER, built here from plain column algebra:

    1. each column ranks into ``2^bits`` buckets
       (:func:`zorder_ranks`; ``rank_mode="quantile"`` for skewed
       columns — equal-POPULATION buckets from approxQuantile cut
       points — ``"width"`` for uniform spreads);
    2. ranks interleave bit-by-bit into the Morton value — a pure
       row-local codegen expression, no UDF;
    3. ``repartitionByRange + sortWithinPartitions`` on the z-value,
       exactly the write_sorted tail.

    One range shuffle at write time. Skipping effectiveness per
    column decays as columns are added (each gets ``bits`` of the
    curve but file boundaries cut ``bits/k`` high bits per column) —
    2-4 columns is the productive range, same guidance as every
    z-order implementation."""
    k = len(cols)
    if k < 2:
        raise ValueError("write_zordered wants >=2 columns; use write_sorted for 1")
    with_r = zorder_ranks(df, cols, bits, rank_mode)
    terms = " + ".join(
        f"shiftleft(shiftright(_r{i}, j) & 1L, j * {k} + {i})" for i in range(k)
    )
    z = F.expr(f"aggregate(sequence(0, {bits - 1}), 0L, (acc, j) -> acc + ({terms}))")
    out_cols = df.columns
    (
        with_r.withColumn("_z", z)
        .repartitionByRange(num_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .select(*out_cols)
        .write.mode("overwrite")
        .parquet(path)
    )
