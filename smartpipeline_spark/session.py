"""SparkSession bootstrap with scale-oriented defaults.

All engine entry points funnel through :func:`get_spark` so every
session gets the same performance-relevant configuration: AQE (runtime
re-planning, skew-join handling, partition coalescing), Arrow for all
Python<->JVM data movement, UTC session time, and nanosecond-parquet
compatibility (the ``events`` test table is TIMESTAMP(NANOS), which
vanilla Spark refuses to read).

On a real cluster the caller passes ``master=None`` and lets
spark-submit decide; locally we default to ``local[$SPARK_GRAFT_CPUS]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Engine-wide defaults. Everything here is safe on a 1000-executor
# cluster: AQE decides final shuffle partitioning at runtime, so the
# static shuffle.partitions value only caps the *initial* plan.
_ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Always use the sort-based shuffle writer, never the bypass-merge
    # writer. Bypass (the default for <= 200 reduce partitions) opens
    # one file + compression stream per (map task x reduce partition);
    # that per-BLOCK fixed cost measured ~4 ms CPU here, so a plain
    # 32-map x 64-reduce exchange burned ~10 executor-CPU-s in file
    # opens alone (r13 probe: repartition(64) of 190k rows 11.5 -> 0.4
    # CPU-s, ext_contamination_bloom 18.7 -> 3.9 CPU-s with the sort
    # writer). Above 200 partitions — i.e. at scale — Spark already
    # takes the sort path, so this aligns small-shuffle behavior with
    # the at-scale write path instead of paying M x R block creation
    # (guide §2.2's quadratic) on every fixture-scale exchange.
    "spark.shuffle.sort.bypassMergeThreshold": "2",
    # Arrow everywhere Python touches rows (pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic wall-clock semantics for tests/oracles.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS): read as long, convert
    # explicitly in sources.events().
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Micro-batch size for mapInPandas stage execution (the engine's
    # BatchStage `size` analog caps this per-stage, see wrapper).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Python data sources (sources/pysource.py) declare pushFilters;
    # without this flag Spark refuses to plan them.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def default_parallelism() -> int:
    """CPU budget: $SPARK_GRAFT_CPUS if set, else the CPUs this
    process may run on (its affinity mask, like ``nproc``), else
    os.cpu_count()."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "smartpipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``shuffle_partitions`` defaults to 2x the CPU budget locally — at
    sf0.1 every shuffle partition then fits comfortably in memory, and
    AQE coalesces away the excess. On a cluster, pass an explicit
    value sized to input volume (rule of thumb: ~128MB post-shuffle
    per partition at 100 TB scale).
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    conf = dict(_ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else 2 * cpus
    )
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
