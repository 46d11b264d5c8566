"""Streaming semantics (M3): unbounded sources, watermarked windows,
session windows, streaming dedup, foreachBatch sinks, stage chains on
streams, graceful termination. Each windowed operator is checked for
EQUIVALENCE against its batch twin over the same data — streaming and
batch must agree when the stream is fully drained (availableNow)."""

import glob
import os
import shutil

import pytest

from pyspark.sql import functions as F

from smartpipeline_spark import sources, streaming
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    """Replay the events table as a file-drop directory (4 chunks)."""
    base = tmp_path_factory.mktemp("events_stream")
    ev = sources.table(spark, "events", SF_SMOKE)
    ev.repartition(4).write.mode("overwrite").parquet(str(base / "data"))
    return str(base / "data")


def _drain(query):
    query.awaitTermination(120)


def test_tumbling_window_stream_matches_batch(spark, events_stream_dir, tmp_path):
    stream = streaming.stream_events_dir(spark, events_stream_dir, max_files_per_trigger=2)
    agg = streaming.tumbling_counts(streaming.with_watermark(stream, "ts", "2 hours"))
    q = streaming.start_memory_sink(agg, "tumbling_out", output_mode="complete")
    _drain(q)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in spark.table("tumbling_out").collect()
    }
    batch = streaming.tumbling_counts(sources.table(spark, "events", SF_SMOKE))
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in batch.collect()
    }
    assert got == want


def test_sliding_window_stream_runs(spark, events_stream_dir):
    stream = streaming.stream_events_dir(spark, events_stream_dir)
    agg = streaming.sliding_counts(streaming.with_watermark(stream, "ts", "2 hours"))
    q = streaming.start_memory_sink(agg, "sliding_out", output_mode="complete")
    _drain(q)
    rows = spark.table("sliding_out").collect()
    assert rows
    # a 1h window sliding by 15min: every event lands in 4 windows
    n_events = sources.table(spark, "events", SF_SMOKE).count()
    assert sum(r["n_events"] for r in rows) == 4 * n_events


def test_session_window_stream_matches_batch_q23(spark, events_stream_dir):
    stream = streaming.stream_events_dir(spark, events_stream_dir)
    sess = streaming.sessionize(streaming.with_watermark(stream, "ts", "2 hours"))
    q = streaming.start_memory_sink(sess, "session_out", output_mode="complete")
    _drain(q)
    got = {
        (r["user_id"], r["sess_start_us"]): r["n_events"]
        for r in spark.table("session_out").collect()
    }
    from smartpipeline_spark.operators import QUERIES

    want = {
        (r["user_id"], r["sess_start_us"]): r["n_events"]
        for r in QUERIES["q23_session_window"](spark, SF_SMOKE).collect()
    }
    assert got == want


def test_dedup_within_watermark(spark, tmp_path):
    src_dir = tmp_path / "dup_stream"
    ev = sources.table(spark, "events", SF_SMOKE).limit(200)
    dup = ev.unionAll(ev)  # every event twice
    dup.repartition(2).write.mode("overwrite").parquet(str(src_dir))
    stream = streaming.stream_events_dir(spark, str(src_dir))
    deduped = streaming.dedup_within_watermark(stream, ["event_id"], "ts", "365 days")
    q = streaming.start_memory_sink(deduped, "dedup_out", output_mode="append")
    _drain(q)
    out = spark.table("dedup_out")
    assert out.count() == 200
    assert out.select("event_id").distinct().count() == 200


def test_pipeline_stage_chain_on_stream(spark, events_stream_dir, tmp_path):
    from smartpipeline_spark import Pipeline, Stage

    class Flag(Stage):
        output_fields = {"flagged": "string"}

        def process(self, item):
            item.data["flagged"] = f"{item.data['event_type']}!"
            return item

    stream = streaming.stream_events_dir(spark, events_stream_dir)
    pipe = Pipeline(spark).set_source(stream).append("flag", Flag())
    out_dir = str(tmp_path / "out")
    q = pipe.start_stream(
        checkpoint=str(tmp_path / "ckpt"), sink=out_dir, available_now=True
    )
    _drain(q)
    result = spark.read.parquet(out_dir)
    n = sources.table(spark, "events", SF_SMOKE).count()
    assert result.count() == n
    assert result.filter(F.col("flagged") == F.concat("event_type", F.lit("!"))).count() == n
    # companion columns flow through streaming too
    assert "_errors" in result.columns


def test_stateful_counts_accumulate_across_microbatches(spark, events_stream_dir, tmp_path):
    stream = streaming.stream_events_dir(spark, events_stream_dir, max_files_per_trigger=1)
    counted = streaming.stateful_user_counts(stream)
    rows = []
    q = streaming.start_foreach_batch(
        counted,
        lambda df, bid: rows.extend((bid, r["user_id"], r["n_events"]) for r in df.collect()),
        checkpoint=str(tmp_path / "ckpt_state"),
        available_now=True,
        output_mode="update",
    )
    _drain(q)
    n_batches = len({b for b, _, _ in rows})
    assert n_batches > 1, "state must span multiple micro-batches"
    # the final state per user equals the batch-mode count
    final = {}
    for _, uid, n in rows:
        final[uid] = max(n, final.get(uid, 0))
    want = {
        r["user_id"]: r["cnt"]
        for r in sources.table(spark, "events", SF_SMOKE)
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert final == want


def test_foreach_batch_sink_and_graceful_stop(spark, events_stream_dir, tmp_path):
    seen = []
    stream = streaming.stream_events_dir(spark, events_stream_dir, max_files_per_trigger=1)
    q = streaming.start_foreach_batch(
        stream.groupBy("event_type").count(),
        lambda df, bid: seen.append((bid, df.count())),
        checkpoint=str(tmp_path / "ckpt2"),
        available_now=True,
        output_mode="complete",
    )
    _drain(q)
    assert seen and not q.isActive  # drained and terminated gracefully
    assert all(n > 0 for _, n in seen)


def test_stream_stream_interval_join_matches_batch(spark, events_stream_dir):
    """Watermarked stream-stream join: clicks joined to same-user views
    within the preceding 10 minutes must produce exactly the batch
    join's pairs once the stream drains."""
    stream = streaming.stream_events_dir(spark, events_stream_dir, max_files_per_trigger=2)
    clicks = stream.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    views = stream.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    joined = streaming.interval_join(
        clicks, views.withColumnRenamed("v_user", "user_id").withColumnRenamed("v_ts", "ts"),
        key="user_id", ts_col="ts", within="10 minutes",
    ).select("l.click_id", "r.view_id")
    q = streaming.start_memory_sink(joined, "ssjoin_out", output_mode="append")
    _drain(q)
    got = {
        (r["click_id"], r["view_id"])
        for r in spark.sql("SELECT * FROM ssjoin_out").collect()
    }

    ev = sources.table(spark, "events", SF_SMOKE)
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    ).alias("l")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("user_id"), F.col("ts").alias("ts"),
        F.col("event_id").alias("view_id"),
    ).alias("r")
    expected = {
        (r["click_id"], r["view_id"])
        for r in c.join(
            v,
            F.expr("l.user_id = r.user_id AND r.ts BETWEEN l.ts - INTERVAL 10 minutes AND l.ts"),
        ).select("l.click_id", "r.view_id").collect()
    }
    assert got == expected and expected


def test_continuous_rollup_matches_batch(spark, events_stream_dir, tmp_path):
    """The incrementally-upserted rollup table, after draining the
    stream, must equal the one-shot batch aggregation exactly
    (counts and decimal-summed values)."""
    stream = streaming.stream_events_dir(spark, events_stream_dir, max_files_per_trigger=1)
    out = str(tmp_path / "rollup")
    # the replay chunks are in random time order, so the "late data"
    # horizon must span the whole corpus (production watermarks match
    # the real disorder bound)
    q = streaming.continuous_rollup(
        stream, out, str(tmp_path / "ckpt"), window="1 hour",
        watermark="365 days", available_now=True,
    )
    _drain(q)

    got = {
        (r["bucket"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    ev = sources.table(spark, "events", SF_SMOKE)
    expected = {
        (r["bucket"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd-HH").alias("bucket"),
            "event_type", "n_events", "sum_value",
        )
        .collect()
    }
    assert got == expected and expected


def test_transform_with_state_matches_batch_counts(spark, events_stream_dir, tmp_path):
    """Spark-4 transformWithStateInPandas twin of the stateful-count
    test: same semantics, RocksDB-backed state store. The TWS protocol
    speaks protobuf between JVM and the Python state server;
    stateful_user_counts_tws points the workers at the vendored
    wire-format runtime where the real package is absent, so a missing
    runtime fails here."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = streaming.stream_events_dir(spark, events_stream_dir, max_files_per_trigger=1)
        counted = streaming.stateful_user_counts_tws(stream)
        rows = []
        q = streaming.start_foreach_batch(
            counted,
            lambda df, bid: rows.extend((bid, r["user_id"], r["n_events"]) for r in df.collect()),
            checkpoint=str(tmp_path / "ckpt_tws"),
            available_now=True,
            output_mode="update",
        )
        _drain(q)
        assert len({b for b, _, _ in rows}) > 1, "state must span micro-batches"
        final = {}
        for _, uid, n in rows:
            final[uid] = max(n, final.get(uid, 0))
        want = {
            r["user_id"]: r["cnt"]
            for r in sources.table(spark, "events", SF_SMOKE)
            .groupBy("user_id")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        assert final == want
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_stream_static_enrichment_matches_batch_join(spark, events_stream_dir, tmp_path):
    stream = streaming.stream_events_dir(spark, events_stream_dir, max_files_per_trigger=2)
    dim = spark.createDataFrame(
        [{"user_id": i, "tier": "gold" if i % 3 == 0 else "basic"} for i in range(200)]
    )
    enriched = streaming.enrich_with_static(stream, dim, "user_id")
    q = streaming.start_memory_sink(enriched.select("event_id", "user_id", "tier"), "enriched_t")
    _drain(q)
    got = {(r.event_id, r.tier) for r in spark.table("enriched_t").collect()}
    want = {
        (r.event_id, r.tier)
        for r in sources.table(spark, "events", SF_SMOKE).join(dim, "user_id").collect()
    }
    assert got == want and got


def test_checkpoint_restart_is_exactly_once(spark, events_stream_dir, tmp_path):
    """Kill a stream mid-way, restart from the SAME checkpoint: the
    combined output must contain every event exactly once — Spark's
    offset log + sink commit protocol recovering without dupes or
    holes. This is the operational contract a 100 TB ingest restarts
    rely on."""
    out_dir = str(tmp_path / "recov_out")
    ckpt = str(tmp_path / "recov_ckpt")

    def start(available_now: bool):
        stream = streaming.stream_events_dir(spark, events_stream_dir, max_files_per_trigger=1)
        writer = (
            stream.select("event_id")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
        )
        writer = writer.trigger(
            availableNow=True
        ) if available_now else writer.trigger(processingTime="200 milliseconds")
        return writer.start()

    import time

    q = start(available_now=False)
    deadline = time.time() + 60
    while time.time() < deadline:
        if q.lastProgress and q.lastProgress["batchId"] >= 1:
            break
        time.sleep(0.3)
    q.stop()  # "crash" after ~2 of 4 file-batches
    q.awaitTermination(30)

    # restart from the same checkpoint; availableNow drains the rest
    # and terminates by itself
    q2 = start(available_now=True)
    _drain(q2)

    ids = [r.event_id for r in spark.read.parquet(out_dir).collect()]
    want = {r.event_id for r in sources.table(spark, "events", SF_SMOKE).collect()}
    assert len(ids) == len(set(ids)), "restart produced duplicates"
    assert set(ids) == want, "restart lost events"


def test_streaming_curation_matches_batch(spark, tmp_path):
    """The curation surface is stateless column algebra, so the SAME
    library calls must run unchanged over a readStream and produce
    byte-identical per-doc results to the batch pass — streaming
    ingest-time curation, no second code path to maintain."""
    from smartpipeline_spark.functions.curation import assign_split, redact_pii
    from smartpipeline_spark.functions.text import _word_count_expr

    docs = sources.table(spark, "documents", SF_SMOKE)
    src = str(tmp_path / "docs_stream")
    docs.repartition(3).write.mode("overwrite").parquet(src)

    def curate(df):
        return assign_split(redact_pii(df, "text")).select(
            "doc_id",
            "split",
            "n_email",
            _word_count_expr(F.col("clean")).alias("n_tokens"),
        )

    batch = {tuple(r) for r in curate(docs).collect()}

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        curate(stream)
        .writeStream.format("memory")
        .queryName("curated_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "stream did not finish in 120s"
    finally:
        q.stop()
    got = {tuple(r) for r in spark.sql("SELECT * FROM curated_stream").collect()}
    assert got == batch


def test_ingestion_showcase_dedup_gate_partitioned_sink_restart(spark, tmp_path):
    """The composition a production ingest actually runs, end to end:
    Pipeline.start_stream over a document file-drop → quality gate
    (stateless column algebra) → streaming exact dedup (stateful,
    checkpointed) → lang-partitioned parquet sink — killed mid-stream
    and restarted from the same checkpoint. Exactly-once contract:
    the combined output holds each surviving fingerprint once, and
    the survivor SET equals the batch equivalent of the same plan.
    (Every part exists separately in this suite; this pins the
    composition.)"""
    import time

    from smartpipeline_spark import Pipeline
    from smartpipeline_spark.functions.dedup import _norm_text
    from smartpipeline_spark.functions.text import _quality_cols

    docs = sources.table(spark, "documents", SF_SMOKE).select(
        "doc_id", "lang", "text"
    )
    # plant exact duplicates: every doc re-arrives under a new id
    planted = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "lang", "text")
    )
    src = str(tmp_path / "docs_drop")
    planted.repartition(4).write.mode("overwrite").parquet(src)

    def gate(df):
        n_chars, _, n_punct, n_stop = _quality_cols()
        quality = (
            F.when((n_chars >= 50) & (n_chars <= 100000), 0.4).otherwise(0.0)
            + F.when(n_punct * 1.0 / F.greatest(n_chars, F.lit(1)) < 0.1, 0.3).otherwise(0.0)
            + F.when(n_stop > 0, 0.3).otherwise(0.0)
        )
        return df.withColumn("quality", quality).filter("quality >= 0.7")

    def fingerprint_dedup(df):
        return df.withColumn("fp", F.md5(_norm_text())).dropDuplicates(["fp"])

    def build_pipeline(source_df):
        return (
            Pipeline(spark)
            .set_source(source_df)
            .transform("quality_gate", gate)
            .transform("dedup", fingerprint_dedup)
            .build()
        )

    out = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")

    def start(available_now):
        stream = (
            spark.readStream.schema(planted.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return build_pipeline(stream).start_stream(
            ckpt,
            sink=out,
            available_now=available_now,
            processing_time=None if available_now else "200 milliseconds",
            partition_by=("lang",),
        )

    q = start(available_now=False)
    deadline = time.time() + 60
    while time.time() < deadline:
        if q.lastProgress and q.lastProgress["batchId"] >= 1:
            break
        time.sleep(0.3)
    q.stop()  # crash mid-ingest (~2 of 4 file-batches committed)
    q.awaitTermination(30)
    q2 = start(available_now=True)
    q2.awaitTermination(120)

    got = spark.read.parquet(out)
    fps = [r.fp for r in got.select("fp").collect()]
    assert len(fps) == len(set(fps)), "restart re-emitted a fingerprint"
    expected = {
        r.fp for r in fingerprint_dedup(gate(planted)).select("fp").collect()
    }
    assert set(fps) == expected, "stream survivors != batch survivors"
    assert expected  # gate keeps something, corpus isn't vacuous
    # planted duplicates actually collapsed: half the gated rows
    gated = gate(planted).count()
    assert len(fps) <= gated / 2
    # partitioned layout materialized (hive-style lang= dirs)
    langs = {d for d in os.listdir(out) if d.startswith("lang=")}
    assert langs and {f"lang={r.lang}" for r in got.select("lang").distinct().collect()} == langs


def test_streaming_cdc_ingest_index_equals_batch_build(spark, tmp_path):
    """Streaming byte-dedup ingestion: a document file-drop drained
    micro-batch by micro-batch through foreachBatch ->
    cdc_dedup_against(append=True) must leave EXACTLY the chunk-fp
    index that one batch build over the whole corpus produces
    (micro-batch boundaries must not change what the index remembers),
    and every doc must be reported exactly once across batches. This
    is the storage-side ingestion composition: content-defined
    chunking + persisted fingerprint index + streaming arrival."""
    from smartpipeline_spark import indexstore
    from smartpipeline_spark.functions.dedup import (
        build_cdc_index,
        cdc_dedup_against,
    )

    docs = sources.table(spark, "documents", SF_SMOKE).select("doc_id", "text")
    # seed the index with the low half; stream the high half in
    median = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    seed = docs.filter(F.col("doc_id") <= median)
    arriving = docs.filter(F.col("doc_id") > median)

    p_stream = str(tmp_path / "idx_stream")
    build_cdc_index(spark, seed, p_stream)

    src = str(tmp_path / "drop")
    arriving.repartition(3).write.mode("overwrite").parquet(src)

    reported: list = []

    def ingest(batch_df, batch_id):
        reported.extend(
            cdc_dedup_against(spark, p_stream, batch_df, append=True).collect()
        )

    q = (
        spark.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(ingest)
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "stream did not finish in 120s"
    finally:
        q.stop()

    # every arriving doc reported exactly once across micro-batches
    ids = [r.doc_id for r in reported]
    assert sorted(ids) == sorted(
        r.doc_id for r in arriving.select("doc_id").collect()
    )

    # the index equals the one-shot batch build over seed + arrivals
    p_batch = str(tmp_path / "idx_batch")
    build_cdc_index(spark, docs, p_batch)
    got = {
        (r.fp, r.chunk_bytes)
        for r in indexstore.read(spark, p_stream, "chunk_fps").collect()
    }
    want = {
        (r.fp, r.chunk_bytes)
        for r in indexstore.read(spark, p_batch, "chunk_fps").collect()
    }
    assert got == want and got


def test_ingestion_showcase_classifier_scoring_restart(spark, tmp_path):
    """Round-6 showcase: the streaming ingest chain scores every
    micro-batch under a PERSISTED trained classifier
    (save_classifier -> load_classifier -> classifier_scores with
    passthrough=True as a stateless mid-pipeline stage — the
    production CCNet shape). Contract pinned here: kill-restart
    exactly-once is preserved with the scoring stage in the chain,
    and every streamed document's prob/pred equals the batch
    equivalent of the same plan (map-side scoring is deterministic,
    so stream and batch must agree bit-for-bit on the rounded
    probs)."""
    import time

    from smartpipeline_spark import Pipeline
    from smartpipeline_spark.functions.curation import (
        assign_split,
        classifier_scores,
        load_classifier,
        save_classifier,
        train_text_classifier,
    )
    from smartpipeline_spark.functions.dedup import _norm_text

    docs = sources.table(spark, "documents", SF_SMOKE).select(
        "doc_id", "lang", "text"
    )
    src = str(tmp_path / "docs_drop")
    docs.repartition(4).write.mode("overwrite").parquet(src)

    labeled = docs.withColumn(
        "label",
        F.coalesce(F.col("text").contains("vector").cast("int"), F.lit(0)),
    )
    train = assign_split(labeled).filter(F.col("split") == "train")
    model_path = str(tmp_path / "quality_model.json")
    save_classifier(
        train_text_classifier(train.select("text", "label"), iters=6),
        model_path,
    )
    model = load_classifier(model_path)

    def dedup(df):
        return df.withColumn("fp", F.md5(_norm_text())).dropDuplicates(["fp"])

    def score(df):
        return classifier_scores(df, model, passthrough=True)

    out = str(tmp_path / "scored")
    ckpt = str(tmp_path / "ckpt")

    def start(available_now):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            Pipeline(spark)
            .set_source(stream)
            .transform("dedup", dedup)
            .transform("classifier_score", score)
            .build()
            .start_stream(
                ckpt,
                sink=out,
                available_now=available_now,
                processing_time=None if available_now else "200 milliseconds",
            )
        )

    q = start(available_now=False)
    deadline = time.time() + 60
    while time.time() < deadline:
        if q.lastProgress and q.lastProgress["batchId"] >= 1:
            break
        time.sleep(0.3)
    q.stop()  # crash mid-ingest
    q.awaitTermination(30)
    q2 = start(available_now=True)
    q2.awaitTermination(120)

    got = spark.read.parquet(out)
    rows = got.select("doc_id", "fp", "prob", "pred").collect()
    fps = [r.fp for r in rows]
    assert len(fps) == len(set(fps)), "restart re-emitted a fingerprint"
    # stream output == the batch equivalent of the same plan,
    # probs and preds included (deterministic map-side scoring)
    batch = {
        r.doc_id: (r.prob, r.pred)
        for r in classifier_scores(
            dedup(docs), model, passthrough=True
        ).collect()
    }
    assert {r.doc_id for r in rows} == set(batch)
    for r in rows:
        assert (r.prob, r.pred) == batch[r.doc_id], r.doc_id
    assert any(r.pred in (0, 1) for r in rows)


def test_stream_outer_join_equals_batch_left_join(spark):
    """The LEFT-OUTER stream-stream interval join key drains (with
    its watermark-advancing sentinel) to exactly the batch LEFT JOIN:
    NULL-padded rows present, including the one for the maximum-ts
    unmatched click — the row an un-adviced watermark holds back —
    and no sentinel artifacts (negative ids) in the output."""
    from smartpipeline_spark.functions.streaming_queries import (
        ext_stream_outer_join,
    )
    from smartpipeline_spark import sources

    sf = "/root/testdata/sf0.001"
    got = ext_stream_outer_join(spark, sf)
    rows = {(r.click_id, r.view_id) for r in got.collect()}
    assert all(c >= 0 for c, _ in rows)

    ev = sources.table(spark, "events", sf)
    clicks = ev.filter("event_type = 'click'").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    ).alias("l")
    views = ev.filter("event_type = 'view'").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    ).alias("r")
    batch = clicks.join(
        views,
        F.expr(
            "l.user_id = r.user_id AND "
            "r.ts BETWEEN l.ts - INTERVAL 10 MINUTES AND l.ts"
        ),
        "leftOuter",
    ).select("l.click_id", "r.view_id")
    expected = {(r.click_id, r.view_id) for r in batch.collect()}
    assert rows == expected
    # the class-defining evidence: unmatched clicks DID emit NULLs,
    # and the latest click (whose ts is the leg maximum — the state
    # the sentinel exists to expire) is among them
    nulls = {c for c, v in expected if v is None}
    assert nulls and nulls <= {c for c, v in rows if v is None}
    last_click = clicks.orderBy(F.col("ts").desc()).first().click_id
    if last_click in nulls:
        assert (last_click, None) in rows


def test_state_width_rule_and_scope(spark, tmp_path):
    """The state width an availableNow drain gets: 2 for a plan whose
    aggregation, dedup or stream-stream join state Spark keeps, over at
    most 6 MiB of file-stream input on disk; None (the session width)
    for larger input, a plan without such state, a Python stateful
    operator, a leaf that is not a file stream, or a session no wider
    than 2. The conf is set only around start() and restored also when
    start() raises."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql.streaming import DataStreamWriter

    from smartpipeline_spark.streaming import (
        _STATE_WIDTH,
        _STATE_WIDTH_MAX_BYTES,
        _state_width,
        start_query,
    )

    mib = 1024 * 1024
    assert (_STATE_WIDTH, _STATE_WIDTH_MAX_BYTES) == (2, 6 * mib)

    def drain_of(*sizes: int) -> DataFrame:
        streams = []
        for n in sizes:
            d = tmp_path / f"in_{len(list(tmp_path.iterdir()))}"
            d.mkdir()
            with open(d / "part-0.parquet", "wb") as f:
                f.truncate(n)  # sparse: sized, never read
            streams.append(spark.readStream.schema("x long").parquet(str(d)))
        return reduce(DataFrame.unionByName, streams)

    def dedup(*sizes: int) -> DataFrame:
        return drain_of(*sizes).dropDuplicates(["x"])

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "64")
        # fixture-scale and stream_ingest-scale input -> 2
        assert _state_width(dedup(1024)) == 2
        assert _state_width(dedup(6 * mib)) == 2
        # input past the swept sizes -> None (session width)
        assert _state_width(dedup(6 * mib + 1)) is None
        assert _state_width(dedup(64 * mib)) is None
        # the leaves of a union sum
        assert _state_width(dedup(3 * mib, 3 * mib)) == 2
        assert _state_width(dedup(3 * mib, 3 * mib + 1)) is None
        # aggregation and stream-stream join state get it too
        assert _state_width(drain_of(1024).groupBy("x").count()) == 2
        assert _state_width(drain_of(1024).join(drain_of(1024), "x")) == 2
        # a plan that keeps no state -> None
        assert _state_width(drain_of(1024)) is None
        # sources that cannot be sized -> None
        assert _state_width(spark.readStream.format("rate").load().dropDuplicates()) is None
        assert _state_width(dedup(1024).crossJoin(spark.range(2))) is None
        glob_path = str(tmp_path / "in_*")
        assert _state_width(spark.readStream.schema("x long").parquet(glob_path).dropDuplicates()) is None
        # a Python stateful operator keeps the session width
        assert _state_width(streaming.stateful_user_counts(drain_of(1024), key="x")) is None
        assert _state_width(streaming.stateful_user_counts_tws(drain_of(1024), key="x")) is None
        # a session no wider than the rule keeps its width
        spark.conf.set(key, "2")
        assert _state_width(dedup(1024)) is None
        spark.conf.set(key, "64")

        # the width is set around start() only, and restored when it raises
        seen = []

        class FailingStart(DataStreamWriter):
            def start(self, *args, **kwargs):
                seen.append(spark.conf.get(key))
                raise RuntimeError("sink down")

        with pytest.raises(RuntimeError, match="sink down"):
            start_query(FailingStart(dedup(1024)), available_now=True)
        assert seen == ["2"] and spark.conf.get(key) == "64"
        # a stream that is not availableNow keeps the session width
        with pytest.raises(RuntimeError, match="sink down"):
            start_query(FailingStart(dedup(1024)), processing_time="1 second")
        assert seen == ["2", "64"] and spark.conf.get(key) == "64"
    finally:
        spark.conf.set(key, prev)


def _recorded_width(ckpt: str, batch: int) -> str:
    """The shuffle width Spark recorded in a checkpoint's offset log."""
    import json

    with open(os.path.join(ckpt, "offsets", str(batch))) as f:
        return json.loads(f.read().splitlines()[1])["conf"]["spark.sql.shuffle.partitions"]


def _dedup_pipeline(spark, src: str, schema: str):
    """A Pipeline that digests each text and drops repeated digests."""
    from smartpipeline_spark import Pipeline

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    return (
        Pipeline(spark)
        .set_source(stream)
        .transform("digest", lambda df: df.withColumn("digest", F.md5("text")))
        .transform("dedup", lambda df: df.dropDuplicates(["digest"]))
        .build()
    )


def test_available_now_drain_binds_the_derived_width(spark, tmp_path):
    """Pipeline.start_stream over a small parquet directory: the
    availableNow drain records the derived width in <ckpt>/offsets/0,
    the session conf is back right after start() (and after a start()
    that raises), a processing-time stream and a rate source keep the
    session width, and a second availableNow drain from that checkpoint,
    over input grown past the rule's 6 MiB and under another session
    width, keeps the recorded width and leaves the dedup sink
    exactly-once."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        schema = "doc_id bigint, text string"
        src = tmp_path / "drop"

        def drop(batch: int, n: int = 40) -> None:
            # half of each file's texts are in the next file too: duplicates
            # that only the dedup state can drop
            rows = [(batch * 1000 + i, f"text {batch * n // 2 + i}") for i in range(n)]
            spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(src))

        def pipeline():
            return _dedup_pipeline(spark, str(src), schema)

        drop(0)
        drop(1)
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        q = pipeline().start_stream(ckpt, sink=out, available_now=True)
        assert spark.conf.get(key) == "4"  # restored right after start()
        _drain(q)
        assert _recorded_width(ckpt, 0) == "2"

        def state_partitions() -> set:
            return {d for d in os.listdir(os.path.join(ckpt, "state", "0")) if d.isdigit()}

        assert state_partitions() == {"0", "1"}

        # a start() that raises leaves the session conf as it was
        with pytest.raises(Exception):
            pipeline().start_stream(str(tmp_path / "ckpt_bad"), sink=out, fmt="no_such_format",
                                    available_now=True)
        assert spark.conf.get(key) == "4"

        # a processing-time stream keeps the session width
        ckpt_pt = str(tmp_path / "ckpt_pt")
        q = pipeline().start_stream(ckpt_pt, sink=str(tmp_path / "out_pt"),
                                    processing_time="100 milliseconds")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert _recorded_width(ckpt_pt, 0) == "4"

        # a rate source keeps the session width
        ckpt_rate = str(tmp_path / "ckpt_rate")
        rate = spark.readStream.format("rate").option("rowsPerSecond", 10).load()
        q = streaming.start_query(
            rate.dropDuplicates(["value"]).writeStream.format("noop"), ckpt_rate, available_now=True
        )
        _drain(q)
        assert _recorded_width(ckpt_rate, 0) == "4"

        # the input grows past 6 MiB (one file of unique 512-char hex texts,
        # which parquet cannot compress much) and the drain reruns from the
        # same checkpoint under another session width
        drop(2)
        spark.range(15000).select(
            (F.col("id") + 10**6).alias("doc_id"),
            F.concat(*[F.sha2(F.concat(F.col("id").cast("string"), F.lit(k)), 512) for k in "abcd"])
            .alias("text"),
        ).coalesce(1).write.mode("append").parquet(str(src))
        on_disk = sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(src) for f in fs)
        assert on_disk > 6 * 1024 * 1024
        spark.conf.set(key, "3")
        q = pipeline().start_stream(ckpt, sink=out, available_now=True)
        _drain(q)
        assert q.exception() is None
        assert spark.conf.get(key) == "3"
        batches = sorted(int(b) for b in os.listdir(os.path.join(ckpt, "offsets")) if b.isdigit())
        assert len(batches) >= 4
        assert {_recorded_width(ckpt, b) for b in batches} == {"2"}
        assert state_partitions() == {"0", "1"}
        got = spark.read.parquet(out).select("digest").collect()
        want = {
            r.digest
            for r in spark.read.schema(schema).parquet(str(src))
            .select(F.md5("text").alias("digest")).distinct().collect()
        }
        assert len(got) == len(want), "the rerun re-emitted or lost a digest"
        assert {r.digest for r in got} == want
    finally:
        spark.conf.set(key, prev)


def test_foreach_batch_callback_keeps_the_session_width(spark, tmp_path):
    """A caller's foreachBatch callback, through Pipeline.start_stream or
    start_foreach_batch, runs at the session width on an availableNow
    dedup drain that a path sink runs at width 2: the batch frame runs
    in the query's session, so every shuffle the callback runs gets the
    width the query started with."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        schema = "doc_id bigint, text string"
        src = str(tmp_path / "drop")
        rows = [(i, f"text {i % 30}") for i in range(60)]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
        seen = []

        def callback(batch_df, _batch_id):
            seen.append(batch_df.sparkSession.conf.get(key))
            batch_df.groupBy("text").count().collect()

        ckpt = str(tmp_path / "ckpt_pipeline")
        _drain(_dedup_pipeline(spark, src, schema).start_stream(ckpt, sink=callback, available_now=True))
        assert _recorded_width(ckpt, 0) == "4"

        ckpt_fb = str(tmp_path / "ckpt_fb")
        stream = spark.readStream.schema(schema).parquet(src).dropDuplicates(["text"])
        _drain(streaming.start_foreach_batch(stream, callback, ckpt_fb, available_now=True))
        assert _recorded_width(ckpt_fb, 0) == "4"
        assert len(seen) >= 2 and set(seen) == {"4"}
        assert spark.conf.get(key) == "4"
    finally:
        spark.conf.set(key, prev)


_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."


def _log_managers(q) -> dict:
    """The checkpoint file manager class of each metadata log of a file
    source -> file sink query: its offset, commit, source and sink logs."""
    ex = q._jsq.streamingQuery()

    def private_log(obj, field):
        f = obj.getClass().getDeclaredField(field)
        f.setAccessible(True)
        return f.get(obj)

    logs = {
        "offsets": ex.offsetLog(),
        "commits": ex.commitLog(),
        "sources": private_log(ex.sources().apply(0), "metadataLog"),
        "sink": private_log(ex.sink(), "fileLog"),
    }
    return {k: log.fileManager().getClass().getSimpleName() for k, log in logs.items()}


def test_local_checkpoint_uses_the_filesystem_manager(spark, tmp_path):
    """A stream whose checkpoint is local runs every metadata log on the
    FileSystem-based checkpoint file manager (no `readlink` fork per
    lookup without libhadoop), through Pipeline.start_stream and
    start_foreach_batch alike; the session has no value for the key once
    start() has returned."""
    schema = "doc_id bigint, text string"
    src = str(tmp_path / "drop")
    spark.createDataFrame([(i, f"text {i % 30}") for i in range(60)], schema).coalesce(1).write.parquet(src)
    assert spark.conf.get(_MANAGER_KEY, None) is None

    out = str(tmp_path / "out")
    q = _dedup_pipeline(spark, src, schema).start_stream(str(tmp_path / "ckpt"), sink=out, available_now=True)
    assert spark.conf.get(_MANAGER_KEY, None) is None
    _drain(q)
    assert q.exception() is None
    assert _log_managers(q) == dict.fromkeys(
        ("offsets", "commits", "sources", "sink"), "FileSystemBasedCheckpointFileManager"
    )
    assert spark.read.parquet(out).count() == 30

    stream = spark.readStream.schema(schema).parquet(src)
    q = streaming.start_foreach_batch(stream, lambda df, _i: None, f"file:{tmp_path}/ckpt_fb", available_now=True)
    assert spark.conf.get(_MANAGER_KEY, None) is None
    _drain(q)
    ex = q._jsq.streamingQuery()
    assert ex.offsetLog().fileManager().getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def test_session_manager_is_left_alone_and_restart_crosses_managers(spark, tmp_path):
    """A session value for the checkpoint-manager key wins and stays set;
    a checkpoint that Spark's default manager wrote restarts under the
    FileSystem-based one exactly once (same files, same format)."""
    schema = "doc_id bigint, text string"
    src = tmp_path / "drop"

    def drop(batch: int) -> None:
        rows = [(batch * 100 + i, f"text {batch * 10 + i}") for i in range(20)]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(src))

    default = _CHECKPOINTING + "FileContextBasedCheckpointFileManager"
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    drop(0)
    drop(1)
    spark.conf.set(_MANAGER_KEY, default)
    try:
        q = _dedup_pipeline(spark, str(src), schema).start_stream(ckpt, sink=out, available_now=True)
        assert spark.conf.get(_MANAGER_KEY) == default
        _drain(q)
        assert q.exception() is None
        assert set(_log_managers(q).values()) == {"FileContextBasedCheckpointFileManager"}
    finally:
        spark.conf.unset(_MANAGER_KEY)

    drop(2)
    q = _dedup_pipeline(spark, str(src), schema).start_stream(ckpt, sink=out, available_now=True)
    _drain(q)
    assert q.exception() is None
    assert set(_log_managers(q).values()) == {"FileSystemBasedCheckpointFileManager"}
    digests = [r.digest for r in spark.read.parquet(out).select("digest").collect()]
    assert len(digests) == len(set(digests)) == 40, "the restart re-emitted or lost a digest"


def test_checkpoint_manager_conf_is_restored_when_start_raises(spark, tmp_path):
    """The key is on the session inside start() only, and gone again
    after a start() that raises."""
    from pyspark.sql.streaming import DataStreamWriter

    seen = []

    class FailingStart(DataStreamWriter):
        def start(self, *args, **kwargs):
            seen.append(spark.conf.get(_MANAGER_KEY, None))
            raise RuntimeError("sink down")

    stream = spark.readStream.schema("x long").parquet(str(tmp_path))
    with pytest.raises(RuntimeError, match="sink down"):
        streaming.start_query(FailingStart(stream), str(tmp_path / "ckpt"))
    with pytest.raises(RuntimeError, match="sink down"):
        streaming.start_query(FailingStart(stream), "hdfs://nn:8020/ckpt")
    assert seen == [_CHECKPOINTING + "FileSystemBasedCheckpointFileManager", None]
    assert spark.conf.get(_MANAGER_KEY, None) is None


def test_checkpoint_locality(spark, tmp_path):
    """Only a checkpoint that resolves to the file scheme gets the
    FileSystem-based manager: a scheme of its own decides, else
    fs.defaultFS's; no file system is opened."""
    from smartpipeline_spark.streaming import _checkpoint_confs, _is_local

    for default_fs in ("file:///", None):
        assert _is_local("/tmp/c", default_fs)
        assert _is_local("file:/tmp/c", default_fs)
        assert _is_local("file:///tmp/c", default_fs)
        assert _is_local("ckpt", default_fs)
        assert _is_local(None, default_fs)
        assert not _is_local("hdfs://nn:8020/c", default_fs)
        assert not _is_local("s3a://b/c", default_fs)
    assert not _is_local("/tmp/c", "hdfs://nn:8020")
    assert not _is_local(None, "hdfs://nn:8020")
    assert _is_local("file:/tmp/c", "hdfs://nn:8020")

    local = {_MANAGER_KEY: _CHECKPOINTING + "FileSystemBasedCheckpointFileManager"}
    assert _checkpoint_confs(spark, str(tmp_path)) == local
    assert _checkpoint_confs(spark, None) == local
    assert _checkpoint_confs(spark, "s3a://b/c") == {}
    key = "spark.sql.streaming.checkpointLocation"
    spark.conf.set(key, "hdfs://nn:8020/ckpts")
    try:
        assert _checkpoint_confs(spark, None) == {}
        assert _checkpoint_confs(spark, str(tmp_path)) == local
    finally:
        spark.conf.unset(key)


# --- one place starts a stream (an AST guard in the style of
# tests/test_materialize.py) ---------------------------------------------
_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "smartpipeline_spark")
_STARTER = os.path.join("streaming", "__init__.py")


def stream_starts(source: str, filename: str) -> list:
    """``file:line`` of every ``.start(...)`` method call, except those in
    the body of ``_start`` in the streaming module. The package starts no
    thread and reads no match offset through ``.start()``, so every such
    call is a stream writer's."""
    import ast

    allowed = set()
    tree = ast.parse(source, filename)
    if filename == _STARTER:
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "_start":
                allowed |= {id(n) for n in ast.walk(node)}
    lines = {
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "start"
        and id(node) not in allowed
    }
    return [f"{filename}:{n}" for n in sorted(lines)]


def test_guard_flags_planted_stream_starts():
    src = (
        "q = df.writeStream.format('noop').start()\n"
        "q = _with_trigger(writer, ckpt, True, None).start(path)\n"
        "def start_query(writer):\n"
        "    return writer.start()\n"
        "def _start(writer, confs):\n"
        "    return writer.start()\n"
        "doc = 'writer.start()'\n"
        "started = start(writer)\n"
    )
    planted = ["m.py:1", "m.py:2", "m.py:4", "m.py:6"]
    assert stream_starts(src, "m.py") == planted
    assert stream_starts(src, _STARTER) == [p.replace("m.py", _STARTER) for p in planted[:3]]


def test_only_streaming_start_starts_a_stream():
    hits = []
    for root, _dirs, files in os.walk(_PKG):
        for f in sorted(files):
            path = os.path.join(root, f)
            rel = os.path.relpath(path, _PKG)
            if f.endswith(".py") and not rel.startswith("vendor"):
                with open(path) as fh:
                    hits += stream_starts(fh.read(), rel)
    assert not hits, f"start a stream through streaming.start_query or start_foreach_batch: {hits}"
