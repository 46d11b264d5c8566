"""Structured Streaming surface — SURVEY.md §2.10 / M3.

The reference owes only: unbounded sources, per-stage map/batch-map,
graceful stop, and backpressure (bounded queues). Spark gives all of
that natively (readStream, mapInPandas on streaming DataFrames,
query.stop(), maxFilesPerTrigger/maxOffsetsPerTrigger); this module
adds the event-time operators the reference lacks entirely —
watermarks, tumbling/sliding/session windows, late-data handling,
streaming dedup — as thin Catalyst-native helpers, plus streaming
execution for the Pipeline stage chain.

Batch-mode twins of the windowed aggregations live in
operators/relational.py (q22/q23) where they are DuckDB-oracled; the
functions here produce the SAME plans on unbounded inputs (tested by
equivalence against the batch results under an availableNow trigger).
"""

from __future__ import annotations

import os
import time
from typing import Callable
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from smartpipeline_spark import materialize, wrapper

EVENTS_STREAM_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def stream_events_dir(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-drop stream of event batches: new parquet files under
    ``path`` arrive as micro-batches. ``maxFilesPerTrigger`` is the
    backpressure knob (the reference's bounded-queue analog)."""
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def with_watermark(df: DataFrame, ts_col: str = "ts", delay: str = "1 hour") -> DataFrame:
    """Late-data bound: rows older than max(event time) - delay are
    dropped from stateful operators and their state evicted — the
    thing that makes unbounded windowed aggregation bounded-memory."""
    return df.withWatermark(ts_col, delay)


def tumbling_counts(
    df: DataFrame,
    window: str = "1 hour",
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling event-time window aggregation (streaming twin of q22)."""
    return (
        df.groupBy(F.window(ts_col, window), *keys)
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    df: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Sliding windows: each event lands in window/slide overlapping
    buckets; Spark expands them JVM-side, no row duplication in user
    code."""
    return (
        df.groupBy(F.window(ts_col, window, slide), *keys)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format(F.col("window.end"), "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            *keys,
            "n_events",
        )
    )


def sessionize(
    df: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Session windows (dynamic-length, gap-closed). Streaming twin of
    q23; in streaming mode requires a watermark on ``ts_col``."""
    return (
        df.groupBy(F.session_window(ts_col, gap), *keys)
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            *keys,
            F.unix_micros(F.col("session_window.start")).alias("sess_start_us"),
            "n_events",
            "sum_value",
        )
    )


def dedup_within_watermark(df: DataFrame, keys: list[str], ts_col: str = "ts", delay: str = "1 hour") -> DataFrame:
    """Streaming exact dedup with bounded state: duplicates arriving
    within the watermark delay are dropped; state for old keys is
    evicted. The unbounded-corpus version of ext_dedup_exact."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def stateful_user_counts(df: DataFrame, key: str = "user_id") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-key
    running event counts that survive across micro-batches (the
    template for arbitrary user state machines — sessionization with
    custom logic, per-entity CDC folds, online feature accumulation).

    State is one row per key, partitioned by the grouping key across
    executors; Spark checkpoints it per batch, so at scale state size
    is bounded by distinct keys, not stream length. Emits the updated
    count for every key seen in the batch (update semantics).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key_tuple, pdf_iter, state: GroupState):
        try:
            n = state.get[0] if state.exists else 0
            for pdf in pdf_iter:
                n += len(pdf)
            state.update((n,))
            yield pd.DataFrame({key: [key_tuple[0]], "n_events": [n]})
        finally:
            # a state task runs no stage wrapper, which would drop them
            # (see the wrapper module's docstring)
            wrapper._drop_archive_internal_importers()

    return df.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=f"{key} bigint, n_events bigint",
        stateStructType="n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- state width of availableNow drains --------------------------------
#
# Every stateful operator commits one state store per state partition
# per trigger (a stream-stream join commits four), and the partition
# count binds to spark.sql.shuffle.partitions at the query's first
# checkpoint, for good. The commit is a fixed cost per partition, so a
# small drain's wall grows with the width while the width buys nothing.
# Measured on a 4-core VM (session width 8), widths 8 / 4 / 2 / 1 forced
# around start(); ext keys in min-of-3 drain seconds, stream_ingest in
# median items/s of 3 seeds (20k docs, 5.8 MiB, 4 files, 1 per batch):
#                           sf0.01 (0.2 MiB)           sf0.1 (2.0 MiB)
#   ext_stream_tumbling     1.33 / 1.16 / 1.34 / 1.24  1.41 / 1.32 / 1.24 / 1.29
#   ext_stream_sliding      1.46 / 1.35 / 1.45 / 1.42  1.74 / 1.45 / 1.50 / 1.34
#   ext_stream_session      1.54 / 1.29 / 1.37 / 1.33  2.45 / 2.14 / 2.26 / 2.54
#   ext_stream_join         4.29 / 3.00 / 2.51 / 2.35  4.63 / 2.93 / 2.90 / 2.77
#   ext_stream_dedup        0.99 / 0.87 / 0.80 / 0.74  1.17 / 0.83 / 0.94 / 0.87
#   ext_stream_upsert       3.97 / 3.66 / 3.76 / 4.77  4.03 / 3.33 / 4.08 / 5.45
#   ext_stream_outer_join   4.17 / 3.07 / 2.51 / 2.29  4.49 / 3.25 / 2.99 / 3.10
#   ext_stream_stateful     1.94 / 1.75 / 1.60 / 1.84  3.68 / 2.53 / 4.47 / 6.11
#   ext_stream_stateful_tws 3.62 / 3.68 / 3.50 / 3.49  4.94 / 3.92 / 5.57 / 8.75
#   stream_ingest           3444 / 3669 / 4160 / 4069 items/s
# Width 2 is as fast as 8 or faster (within 0.05 s) wherever Spark keeps
# the state of an aggregation, a dedup or a stream-stream join. Where
# the state stage runs a Python function per key group (stateful,
# stateful_tws at sf0.1) that work is per row and needs the cores.
# Width 1 starves the upsert sink, whose partitioned write runs at the
# state width. Rule: an availableNow drain of a plan with one of
# _STATE_OPS, no Python stateful operator, and only file-stream leaves
# holding at most _STATE_WIDTH_MAX_BYTES on disk (the largest input
# swept, 5.8 MiB, rounded up) runs its state at _STATE_WIDTH partitions.
# Every other stream keeps the session width:
# - larger inputs, because no width was swept above 5.8 MiB, and the
#   one earlier measurement above it (the ~128 MiB replicated rung)
#   found the session width right;
# - foreachBatch sinks of the caller (start_foreach_batch), because the
#   batch frame runs in the query's session, so a join or aggregation
#   the callback runs would start at the state width too, and AQE can
#   only merge partitions, not add them (continuous_rollup's own
#   callback writes the batch as it is, so it keeps the rule);
# - streams that are not availableNow, because the width they bind at
#   their first checkpoint must also serve input not yet seen.
# An availableNow checkpoint is bound by its first drain in the same
# way: later drains from it keep that width whatever their input.
_STATE_WIDTH = 2
_STATE_WIDTH_MAX_BYTES = 6 * 1024 * 1024
_STATE_OPS = {"Aggregate", "Deduplicate", "DeduplicateWithinWatermark", "Join"}
_PYTHON_STATE_OPS = {"FlatMapGroupsInPandasWithState", "TransformWithStateInPySpark"}
_WIDTH_KEY = "spark.sql.shuffle.partitions"


def _state_width(df: DataFrame) -> int | None:
    """The state width the rule above gives an availableNow drain of
    ``df``, or None when the session width stays in charge: the plan
    keeps no state in Spark or keeps some in Python, a leaf is not a
    file stream over a local path (Kafka, rate, memory, a Python data
    source, a static table), the input is larger than the rule covers,
    or the session is no wider than the rule."""
    paths, stateful = set(), False
    nodes = [df._jdf.queryExecution().analyzed()]
    while nodes:
        node = nodes.pop()
        name = node.getClass().getSimpleName()
        children = node.children()
        if name in _PYTHON_STATE_OPS:
            return None
        stateful |= name in _STATE_OPS
        if children.isEmpty():
            if name != "StreamingRelation":
                return None
            path = node.dataSource().options().get("path")
            if path.isEmpty() or not os.path.exists(path.get()):
                return None
            paths.add(path.get())
        nodes.extend(children.apply(i) for i in range(children.size()))
    if not stateful or _STATE_WIDTH >= int(df.sparkSession.conf.get(_WIDTH_KEY)):
        return None
    size = 0
    try:
        for p in paths:
            if os.path.isfile(p):
                size += os.path.getsize(p)
            for root, _dirs, files in os.walk(p, followlinks=True):
                size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    except OSError:  # a broken link or a file removed while sizing
        return None
    return _STATE_WIDTH if size <= _STATE_WIDTH_MAX_BYTES else None


def _with_trigger(
    writer: DataStreamWriter,
    checkpoint: str | None,
    available_now: bool,
    processing_time: str | None,
) -> DataStreamWriter:
    """The one place the checkpoint and the trigger policy are set.
    ``available_now`` drains what is there and stops; otherwise
    ``processing_time`` fixes the micro-batch interval; otherwise
    Spark's default trigger runs the next batch as soon as the last one
    ends."""
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        return writer.trigger(availableNow=True)
    if processing_time:
        return writer.trigger(processingTime=processing_time)
    return writer


# --- checkpoint file manager of local checkpoints ----------------------
#
# Spark's default checkpoint file manager works through Hadoop's
# FileContext. Without libhadoop, FileContext on a local path forks a
# `readlink` for every link-status lookup (on `file:/...` strings, where
# it always fails) and a `chmod` for every file it creates. One 4-batch
# stream_ingest drain (seed 7, JFR jdk.ProcessStart, 4-core VM) forked
# 379 processes: 280 readlink and 99 chmod, 189 on the stream thread
# (offset, commit, source and sink metadata logs) and 160 in the state
# store. The FileSystem-based manager writes the same files in the same
# format and forks no readlink: 99 spawns, all chmod (45 and 32). Only
# local checkpoints were measured, so an HDFS or object-store checkpoint
# keeps Spark's default, and so does a session that sets the key itself.
_CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)
_CKPT_LOCATION_KEY = "spark.sql.streaming.checkpointLocation"


def _is_local(location: str | None, default_fs: str | None) -> bool:
    """Whether a checkpoint at ``location`` resolves to the local file
    system: by the location's own scheme, or, for a path without one
    (None stands for Spark's temp directory), by ``default_fs``'s, the
    way Hadoop qualifies a path; no file system is opened."""
    scheme = urlsplit(location or "").scheme or urlsplit(default_fs or "file:///").scheme
    return scheme == "file"


def _checkpoint_confs(spark: SparkSession, checkpoint: str | None) -> dict[str, str]:
    """The checkpoint-manager conf a stream of ``spark`` starts with:
    the FileSystem-based manager when the session is a classic one, has
    no value of its own for the key, and the checkpoint resolves to the
    local file system. The checkpoint is ``checkpoint``, else the
    session's ``spark.sql.streaming.checkpointLocation``, else Spark's
    temp directory."""
    jsc = getattr(spark, "_jsc", None)
    if jsc is None or spark.conf.get(_CKPT_MANAGER_KEY, None) is not None:
        return {}
    location = checkpoint or spark.conf.get(_CKPT_LOCATION_KEY, None)
    if not _is_local(location, jsc.hadoopConfiguration().get("fs.defaultFS")):
        return {}
    return {_CKPT_MANAGER_KEY: _CKPT_MANAGER}


def _start(writer: DataStreamWriter, confs: dict[str, str]) -> StreamingQuery:
    """``writer.start()`` with ``confs`` set on the session around it:
    the one place a stream starts. start() clones the session conf into
    the query, but the query builds its sources on its own thread after
    start() has returned, and a file source opens its log with the
    caller's session, not the clone. So the session gets its prior
    values back once the query has built its sources or ended, and also
    when start() raises; from then on each value holds for the whole
    run."""
    conf = writer._df.sparkSession.conf
    prev = {k: conf.get(k, None) for k in confs}
    for k, v in confs.items():
        conf.set(k, v)
    try:
        query = writer.start()
        if confs:
            execution = query._jsq.streamingQuery()
            while execution.sources().isEmpty() and query.isActive:
                time.sleep(0.001)
        return query
    finally:
        for k, v in prev.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def start_query(
    writer: DataStreamWriter,
    checkpoint: str | None = None,
    available_now: bool = False,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start a stream whose sink is already chosen (a caller's
    foreachBatch callback goes through :func:`start_foreach_batch`): the
    one place the state width is set. An ``available_now`` drain starts
    at the width :func:`_state_width` gives it, if any; a local
    checkpoint gets the manager of :func:`_checkpoint_confs`;
    ``processing_time`` and the default trigger are as in
    :func:`_with_trigger`."""
    df = writer._df
    writer = _with_trigger(writer, checkpoint, available_now, processing_time)
    confs = _checkpoint_confs(df.sparkSession, checkpoint)
    width = _state_width(df) if available_now else None
    if width is not None:
        confs[_WIDTH_KEY] = str(width)
    return _start(writer, confs)


def start_foreach_batch(
    df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    available_now: bool = False,
    processing_time: str | None = None,
    output_mode: str = "append",
) -> StreamingQuery:
    """foreachBatch sink: ``fn(batch_df, batch_id)`` per micro-batch —
    the streaming sink pattern for external systems (the reference's
    Elasticsearch ``Indexer`` stage maps here). It runs at the session
    width: ``batch_df`` runs in the query's session, so every shuffle
    ``fn`` runs on it gets the width the query started with. A local
    checkpoint gets the manager of :func:`_checkpoint_confs`."""
    writer = df.writeStream.foreachBatch(fn).outputMode(output_mode)
    writer = _with_trigger(writer, checkpoint, available_now, processing_time)
    return _start(writer, _checkpoint_confs(df.sparkSession, checkpoint))


def start_memory_sink(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    available_now: bool = True,
) -> StreamingQuery:
    """Memory sink for tests/interactive use: results land in the
    in-memory table ``name`` (driver-sized outputs only)."""
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    return start_query(writer, available_now=available_now)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    within: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream inner join: pairs a left row with
    every right row of the same ``key`` whose event time falls in
    ``[left.ts - within, left.ts]``. Both sides carry watermarks and
    the join condition bounds event time in BOTH directions, so Spark
    can evict join state past the horizon — the requirement that makes
    a stream-stream join run with bounded memory on unbounded input.
    Works identically on batch DataFrames (state logic just vanishes).
    """
    l = left.withWatermark(ts_col, watermark).alias("l") if left.isStreaming else left.alias("l")
    r = right.withWatermark(ts_col, watermark).alias("r") if right.isStreaming else right.alias("r")
    return l.join(
        r,
        F.expr(
            f"l.{key} = r.{key} AND "
            f"r.{ts_col} BETWEEN l.{ts_col} - INTERVAL {within} AND l.{ts_col}"
        ),
    )


def continuous_rollup(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    window: str = "1 hour",
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    watermark: str = "2 hours",
    available_now: bool = False,
) -> StreamingQuery:
    """Continuously-maintained time-bucketed aggregate table (the
    hypertable / continuous-aggregate pattern): a watermarked windowed
    aggregation runs in UPDATE mode and each micro-batch upserts ONLY
    the (bucket, key) groups it changed — the sink is parquet
    partitioned by (bucket, *keys), so one group = one partition and
    dynamic partition overwrite IS the upsert. Readers always see the
    latest finalized-or-running totals with spark.read.parquet(path).

    At 100 TB: buckets are coarse (hours/days) so partitions stay
    chunky; the many-small-files pressure from hot keys is handled by
    a periodic compaction pass, and watermarking bounds both state and
    how far back a partition can still be rewritten."""
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), *keys)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd-HH").alias("bucket"),
            *keys,
            "n_events",
            "sum_value",
        )
    )

    def upsert(batch_df: DataFrame, _batch_id: int) -> None:
        # availableNow drains end with a finalization micro-batch that
        # carries no updated groups (the watermark-advance batch); a
        # dynamic-overwrite of an empty frame still pays a full write
        # job + commit-protocol pass over the partition tree. With
        # dynamic overwrite an empty write is a NO-OP by definition
        # (no partitions to replace), so skip it outright. foreachBatch
        # frames re-execute their plan per action, so persist around
        # the probe + write — otherwise every NON-empty batch pays the
        # rollup twice to save one no-op write at the end.
        materialize.persist(batch_df)
        try:
            if batch_df.isEmpty():
                return
            (
                batch_df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket", *keys)
                .parquet(path)
            )
        finally:
            materialize.release(batch_df)

    # start_query, not start_foreach_batch: upsert writes each batch as
    # it comes, with no shuffle of its own, so the state width fits it
    writer = agg.writeStream.foreachBatch(upsert).outputMode("update")
    return start_query(writer, checkpoint, available_now)


def _activate_protobuf_shim(spark: SparkSession) -> None:
    """Let this session's Python workers import ``google.protobuf``,
    which the transformWithStateInPandas state protocol needs.

    When the driver finds no protobuf, append the vendored minimal
    runtime (``smartpipeline_spark/vendor``, a PEP-420 ``google``
    portion) to the session's worker ``PYTHONPATH``, once. A real
    installation the driver can see is left to win. The worker
    environment is bound when the Python function is built, so this
    runs before ``transformWithStateInPandas``; ``sc.addPyFile`` would
    not do, as the TWS pre-init driver worker never reads pyFiles.

    The path reaches only workers on the driver's host: a multi-host
    cluster still needs protobuf installed on its executors."""
    import importlib.util

    try:
        if importlib.util.find_spec("google.protobuf") is not None:
            return
    except (ImportError, ValueError):
        pass
    vendor = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "vendor")
    env = spark.sparkContext.environment
    parts = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if vendor not in parts:
        env["PYTHONPATH"] = os.pathsep.join(parts + [vendor])


def stateful_user_counts_tws(df: DataFrame, key: str = "user_id") -> DataFrame:
    """Per-key running counts on the Spark-4 ``transformWithStateInPandas``
    API — the successor to ``applyInPandasWithState`` above, kept side
    by side because the two APIs differ operationally at scale:
    transformWithState runs on the RocksDB state store (state spills
    to local disk instead of capping at executor heap), supports
    multiple named state variables, TTL, and timers per key. For a
    100 TB ingest with hundreds of millions of live keys, this is the
    one to use; the applyInPandasWithState twin remains the
    compatibility path. Runtime dependency: the TWS wire protocol
    needs a protobuf runtime in the Python workers; where the real
    package is not installed, :func:`_activate_protobuf_shim` points
    this session's workers at the vendored minimal wire-format runtime
    (vendor/google/protobuf)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n", "n bigint")

        def handleInputRows(self, key_tuple, rows, timer_values):
            try:
                n = self._n.get()[0] if self._n.exists() else 0
                for pdf in rows:
                    n += len(pdf)
                self._n.update((n,))
                yield pd.DataFrame({key: [key_tuple[0]], "n_events": [n]})
            finally:
                wrapper._drop_archive_internal_importers()

        def close(self) -> None:
            pass

    _activate_protobuf_shim(df.sparkSession)
    return df.groupBy(key).transformWithStateInPandas(
        statefulProcessor=RunningCount(),
        outputStructType=f"{key} bigint, n_events bigint",
        outputMode="Update",
        timeMode="None",
    )


def enrich_with_static(
    stream: DataFrame, dim: DataFrame, key: str, broadcast: bool = True
) -> DataFrame:
    """Stream-static join: enrich a stream with a batch dimension
    table. The static side is re-read per micro-batch (Spark's
    stream-static contract — slowly-changing dims pick up updates for
    free) and broadcast by default, so each micro-batch pays a
    map-side hash join with NO state store and no watermark — the
    right shape for reference-data enrichment, versus the stateful
    stream-stream ``interval_join`` above which buffers both sides."""
    from pyspark.sql.functions import broadcast as bcast

    return stream.join(bcast(dim) if broadcast else dim, key)
