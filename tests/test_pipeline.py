"""Pipeline contract tests — the reference's dominant invariants
(SURVEY.md §5): set-completeness, per-stage timings, error channel
contents and stage attribution, retry counts/timing envelopes, batch
semantics, count, and local/distributed parity.
"""

import os
import shutil
import subprocess
import sys
import textwrap
import threading
import time

import pytest

from smartpipeline_spark import (
    BatchStage,
    ErrorManager,
    Item,
    Pipeline,
    SoftError,
    Stage,
)


class TextReverser(Stage):
    output_fields = {"text": "string"}

    def process(self, item):
        item.data["text"] = item.data["text"][::-1]
        return item


class TextDuplicator(Stage):
    output_fields = {"text_copy": "string"}

    def process(self, item):
        item.data["text_copy"] = item.data["text"]
        return item


class SoftFailEven(Stage):
    def process(self, item):
        if item.data["count"] % 2 == 0:
            raise SoftError("even item")
        return item


class CriticalOnFive(Stage):
    def process(self, item):
        if item.data["count"] % 5 == 0:
            raise ValueError("multiple of five")
        return item


class CustomException(Exception):
    pass


class AlwaysRaise(Stage):
    def __init__(self, exc_class=CustomException):
        self._exc_class = exc_class

    def process(self, item):
        raise self._exc_class("boom")


class BatchReverser(BatchStage):
    output_fields = {"text": "string"}

    def __init__(self, size=10, check_batch_max=None):
        super().__init__(size=size)
        self._check_max = check_batch_max

    def process_batch(self, items):
        if self._check_max is not None:
            assert len(items) <= self._check_max
        for it in items:
            it.data["text"] = it.data["text"][::-1]
        return items


class BatchBoom(BatchStage):
    def __init__(self, size=10):
        super().__init__(size=size)

    def process_batch(self, items):
        if any(it.data["count"] == 42 for it in items):
            raise ValueError("poison")
        return items


def _run(pipe):
    return sorted(pipe.run(), key=lambda it: it.data["count"])


# ---------------------------------------------------------------------------
# set-completeness + enrichment + timings
# ---------------------------------------------------------------------------

def test_set_completeness_and_timings(spark, items_df):
    pipe = (
        Pipeline(spark)
        .set_source(items_df)
        .append("reverser", TextReverser())
        .append("duplicator", TextDuplicator())
    )
    items = _run(pipe)
    # every source item comes out exactly once
    assert sorted(it.data["count"] for it in items) == list(range(1, 101))
    assert pipe.count == 100
    for it in items:
        assert it.data["text_copy"] == it.data["text"]
        # timing present for every traversed stage
        assert sorted(it.timed_stages()) == ["duplicator", "reverser"]
        assert it.get_timing("reverser") >= 0


def test_double_reverse_is_identity(spark, items_df):
    pipe = (
        Pipeline(spark)
        .set_source(items_df)
        .append("r1", TextReverser())
        .append("r2", TextReverser())
    )
    originals = {r["count"]: r["text"] for r in items_df.collect()}
    for it in pipe.run():
        assert it.data["text"] == originals[it.data["count"]]


# ---------------------------------------------------------------------------
# error semantics
# ---------------------------------------------------------------------------

def test_soft_error_skips_stage_only(spark, items_df):
    pipe = (
        Pipeline(spark)
        .set_source(items_df)
        .append("softfail", SoftFailEven())
        .append("duplicator", TextDuplicator())
    )
    items = _run(pipe)
    assert len(items) == 100
    for it in items:
        if it.data["count"] % 2 == 0:
            (err,) = it.soft_errors()
            assert err["stage"] == "softfail"
            assert err["exc_class"] == "SoftError"
        else:
            assert not it.error_entries
        # later stage ran for everyone (soft = skip failing stage only)
        assert it.data["text_copy"] == it.data["text"]


def test_critical_error_skips_rest_but_item_survives(spark, items_df):
    pipe = (
        Pipeline(spark)
        .set_source(items_df)
        .append("critfail", CriticalOnFive())
        .append("duplicator", TextDuplicator())
    )
    items = _run(pipe)
    assert len(items) == 100  # failed items still reach the sink
    for it in items:
        if it.data["count"] % 5 == 0:
            (err,) = it.critical_errors()
            assert err["stage"] == "critfail"
            assert err["exc_class"] == "ValueError"
            assert it.data["text_copy"] is None  # later stage skipped
            assert "duplicator" not in list(it.timed_stages())
        else:
            assert it.data["text_copy"] == it.data["text"]


def test_no_skip_on_critical_mode(spark, items_df):
    em = ErrorManager().no_skip_on_critical_error()
    pipe = (
        Pipeline(spark, error_manager=em)
        .set_source(items_df)
        .append("critfail", CriticalOnFive())
        .append("duplicator", TextDuplicator())
    )
    for it in pipe.run():
        # critical recorded but stages keep running
        assert it.data["text_copy"] == it.data["text"]


def test_raise_on_critical_mode(spark, items_df):
    em = ErrorManager().raise_on_critical_error()
    pipe = (
        Pipeline(spark, error_manager=em)
        .set_source(items_df)
        .append("critfail", CriticalOnFive())
    )
    with pytest.raises(Exception):
        list(pipe.run())


# ---------------------------------------------------------------------------
# retry semantics (reference tests/pipeline/test_pipeline.py:227-436)
# ---------------------------------------------------------------------------

def test_retry_exhaustion_attaches_one_error_per_attempt(spark):
    pipe = Pipeline(spark).append(
        "flaky",
        AlwaysRaise(),
        retryable_errors=(CustomException,),
        max_retries=3,
        backoff=0.0,
    )
    it = pipe.process(Item({"count": 1, "text": "x"}))
    # 4 attempts (1 + 3 retries) -> 4 soft RetryErrors, no critical
    assert len(it.soft_errors()) == 4
    assert not it.has_critical_errors()
    assert all(e["exc_class"] == "CustomException" for e in it.soft_errors())


def test_retry_zero_means_single_attempt(spark):
    pipe = Pipeline(spark).append(
        "flaky", AlwaysRaise(), retryable_errors=(CustomException,), max_retries=0,
        backoff=1.0,
    )
    t0 = time.monotonic()
    it = pipe.process(Item({"count": 1}))
    assert time.monotonic() - t0 < 1.0  # fast fail: no backoff sleep
    assert len(it.soft_errors()) == 1
    assert it.get_timing("flaky") < 1.0


def test_retry_backoff_timing_envelope(spark):
    # 2 retries at backoff=0.2 -> sleeps 0.2 + 0.4 = 0.6s inside timing
    pipe = Pipeline(spark).append(
        "flaky", AlwaysRaise(), retryable_errors=(CustomException,), max_retries=2,
        backoff=0.2,
    )
    it = pipe.process(Item({"count": 1}))
    assert 0.6 <= it.get_timing("flaky") <= 1.2
    assert len(it.soft_errors()) == 3


def test_non_retryable_exception_is_critical_despite_retry_policy(spark):
    pipe = Pipeline(spark).append(
        "flaky", AlwaysRaise(ValueError), retryable_errors=(CustomException,),
        max_retries=3, backoff=0.0,
    )
    it = pipe.process(Item({"count": 1}))
    assert len(it.critical_errors()) == 1
    assert not it.soft_errors()


def test_retry_param_validation(spark):
    pipe = Pipeline(spark)
    with pytest.raises(ValueError):
        pipe.append("a", TextReverser(), max_retries=-1)
    with pytest.raises(ValueError):
        pipe.append("b", TextReverser(), backoff=-0.5)
    with pytest.raises(ValueError):
        pipe.append("c", TextReverser(), retryable_errors=("notaclass",))


def test_unique_stage_names(spark, items_df):
    pipe = Pipeline(spark).set_source(items_df).append("x", TextReverser())
    with pytest.raises(ValueError):
        pipe.append("x", TextDuplicator())


# ---------------------------------------------------------------------------
# batch stages
# ---------------------------------------------------------------------------

def test_batch_stage_results_match_row_stage(spark, items_df):
    pipe = (
        Pipeline(spark)
        .set_source(items_df.coalesce(1))
        .append("batchrev", BatchReverser(size=7, check_batch_max=7))
    )
    items = _run(pipe)
    assert len(items) == 100
    originals = {r["count"]: r["text"] for r in items_df.collect()}
    for it in items:
        assert it.data["text"] == originals[it.data["count"]][::-1]
        assert it.get_timing("batchrev") is not None


def test_batch_error_poisons_whole_chunk(spark, items_df):
    pipe = (
        Pipeline(spark)
        .set_source(items_df.coalesce(1))
        .append("boom", BatchBoom(size=10))
    )
    items = _run(pipe)
    poisoned = [it for it in items if it.has_critical_errors()]
    # item 42 sits in a chunk of 10; reference semantics poison all of it
    assert len(poisoned) == 10
    assert all(e["stage"] == "boom" for it in poisoned for e in it.critical_errors())


def test_batch_isolate_failures_poisons_only_culprit(spark, items_df):
    pipe = (
        Pipeline(spark)
        .set_source(items_df.coalesce(1))
        .append("boom", BatchBoom(size=10), isolate_failures=True)
    )
    items = _run(pipe)
    poisoned = [it for it in items if it.has_critical_errors()]
    assert [it.data["count"] for it in poisoned] == [42]


def test_batch_critical_items_skip_batch_stage(spark, items_df):
    pipe = (
        Pipeline(spark)
        .set_source(items_df.coalesce(1))
        .append("critfail", CriticalOnFive())
        .append("batchrev", BatchReverser(size=10))
    )
    originals = {r["count"]: r["text"] for r in items_df.collect()}
    for it in pipe.run():
        if it.data["count"] % 5 == 0:
            assert it.data["text"] == originals[it.data["count"]]  # untouched
        else:
            assert it.data["text"] == originals[it.data["count"]][::-1]


def test_batch_stage_size_validation():
    with pytest.raises(ValueError):
        BatchReverser(size=0)


# ---------------------------------------------------------------------------
# single-item paths + parity
# ---------------------------------------------------------------------------

def test_process_parity_with_distributed_run(spark, items_df):
    def build():
        return (
            Pipeline(spark)
            .set_source(items_df)
            .append("softfail", SoftFailEven())
            .append("critfail", CriticalOnFive())
            .append("duplicator", TextDuplicator())
        )

    dist = {it.data["count"]: it for it in build().run()}
    local_pipe = build()
    for row in items_df.collect():
        local = local_pipe.process(Item(row.asDict()))
        d = dist[row["count"]]
        assert local.data.get("text_copy") == d.data.get("text_copy")
        assert [e["kind"] for e in local.error_entries] == [
            e["kind"] for e in d.error_entries
        ]
        assert sorted(local.timed_stages()) == sorted(d.timed_stages())


def test_process_async_callbacks_and_results(spark):
    pipe = Pipeline(spark).append("reverser", TextReverser())
    seen = []
    for i in range(10):
        pipe.process_async(Item({"count": i, "text": f"t{i}"}), callback=seen.append)
    got = sorted(pipe.get_item(timeout=10).data["count"] for _ in range(10))
    assert got == list(range(10))
    assert len(seen) == 10
    assert pipe.count == 10
    pipe.shutdown()


def test_process_async_surfaces_raise_on_critical(spark):
    em = ErrorManager().raise_on_critical_error()
    pipe = Pipeline(spark, error_manager=em).append("boom", AlwaysRaise(ValueError))
    pipe.process_async(Item({"count": 1}))
    with pytest.raises(ValueError):
        pipe.get_item(timeout=10)
    pipe.shutdown()


def test_count_accumulates_across_runs(spark, items_df):
    pipe = Pipeline(spark).set_source(items_df).append("r", TextReverser())
    list(pipe.run())
    list(pipe.run())
    assert pipe.count == 200


def test_dynamic_payload_tier(spark, items_df):
    """Stages that invent keys at runtime (reference TextDuplicator
    invents random key names) spill them into the _data map tier and
    later stages + the driver see them."""

    class InventKeys(Stage):
        dynamic = True

        def process(self, item):
            item.data[f"dyn_{item.data['count'] % 3}"] = item.data["text"]
            return item

    class ReadDynamic(Stage):
        dynamic = True

        def process(self, item):
            key = f"dyn_{item.data['count'] % 3}"
            item.data["roundtrip_ok"] = str(item.data.get(key) == item.data["text"])
            return item

    pipe = (
        Pipeline(spark)
        .set_source(items_df)
        .append("invent", InventKeys())
        .append("readback", ReadDynamic())
    )
    items = _run(pipe)
    assert len(items) == 100
    for it in items:
        assert it.data["roundtrip_ok"] == "True"
        assert it.data[f"dyn_{it.data['count'] % 3}"] == it.data["text"]


def test_custom_error_manager_subclass(spark):
    """Pluggable ErrorManager: subclasses can classify/route errors
    (the reference docs ship them to Elasticsearch; here we downgrade
    ValueErrors to soft)."""
    from smartpipeline_spark.errors import KIND_SOFT, error_entry

    class Downgrading(ErrorManager):
        def handle(self, error, stage, item):
            if isinstance(error, ValueError):
                return error_entry(stage, KIND_SOFT, error)
            return super().handle(error, stage, item)

    pipe = (
        Pipeline(spark, error_manager=Downgrading())
        .append("boom", AlwaysRaise(ValueError))
        .append("dup", TextDuplicator())
    )
    it = pipe.process(Item({"count": 1, "text": "x"}))
    assert len(it.soft_errors()) == 1 and not it.has_critical_errors()
    assert it.data["text_copy"] == "x"  # later stage still ran


def test_transform_step_relational(spark, items_df):
    from pyspark.sql import functions as F

    pipe = (
        Pipeline(spark)
        .set_source(items_df)
        .append("reverser", TextReverser())
        .transform("only_even", lambda df: df.filter(F.col("count") % 2 == 0))
    )
    items = list(pipe.run())
    assert len(items) == 50
    # relational steps cannot be used with the local single-item path
    with pytest.raises(ValueError):
        pipe.process(Item({"count": 2, "text": "x"}))


def test_run_generator_break_cancels_jobs(spark):
    """Reference behavior: breaking/closing the run() generator tears
    the pipeline down (/root/reference/smartpipeline/pipeline.py:283-286,
    tests/pipeline/test_concurrent.py:784-808). Spark mapping: jobs the
    iterator triggered run in a dedicated job group that is cancelled
    on generator close, so no orphan jobs keep burning the cluster."""
    import time

    from smartpipeline_spark import Pipeline, Stage

    class Slow(Stage):
        def process(self, item):
            time.sleep(0.25)
            return item

    df = spark.createDataFrame([{"id": i} for i in range(64)]).repartition(16)
    pipe = Pipeline(spark).set_source(df).append("slow", Slow())
    gen = pipe.run()
    next(gen)  # at least one partition computed
    gen.close()  # consumer breaks out -> job group cancelled

    tracker = spark.sparkContext.statusTracker()
    deadline = time.time() + 15
    while time.time() < deadline and tracker.getActiveJobsIds():
        time.sleep(0.2)
    assert not tracker.getActiveJobsIds()


def test_worker_stage_cache_is_per_pipeline(spark):
    """Two pipelines reusing a stage name+class with different ctor
    args must not share executor-side initialized instances."""
    from smartpipeline_spark import Pipeline, Stage

    class Tagger(Stage):
        output_fields = {"tag": "string"}

        def __init__(self, tag):
            self._tag = tag

        def process(self, item):
            item.data["tag"] = self._tag
            return item

    df = spark.createDataFrame([{"id": 1}])
    first = [it.data["tag"] for it in Pipeline(spark).set_source(df).append("t", Tagger("a")).run()]
    second = [it.data["tag"] for it in Pipeline(spark).set_source(df).append("t", Tagger("b")).run()]
    assert first == ["a"] and second == ["b"]


def test_retry_recovery_leaves_item_clean(spark):
    """Reference kernel (runners.py:33-67): a stage that fails then
    succeeds within its retry budget attaches NO RetryErrors — only
    exhaustion does. Recovered items must not land in write_errors."""
    from smartpipeline_spark import Pipeline, Stage

    class FlakyOnce(Stage):
        output_fields = {"ok": "boolean"}

        def __init__(self):
            self._failed = set()

        def process(self, item):
            key = item.data["id"]
            if key not in self._failed:
                self._failed.add(key)
                raise ValueError("transient")
            item.data["ok"] = True
            return item

    df = spark.createDataFrame([{"id": i} for i in range(4)]).coalesce(1)
    out = list(
        Pipeline(spark)
        .set_source(df)
        .append("flaky", FlakyOnce(), retryable_errors=(ValueError,), max_retries=2, backoff=0.0)
        .run()
    )
    assert len(out) == 4
    assert all(it.data["ok"] for it in out)
    assert not any(it.has_soft_errors() for it in out)


def test_append_concurrently_parity_with_append(spark):
    """Reference shape (tests/pipeline/test_concurrent.py): the same
    chain built with append vs append_concurrently (+ concurrency
    knobs) must produce identical items."""
    from smartpipeline_spark import Pipeline, Stage

    class Mark(Stage):
        output_fields = {"mark": "string"}

        def __init__(self, tag="x"):
            self._tag = tag

        def process(self, item):
            item.data["mark"] = f"{self._tag}{item.data['id']}"
            return item

    df = spark.createDataFrame([{"id": i} for i in range(20)])
    plain = sorted(
        it.data["mark"]
        for it in Pipeline(spark).set_source(df).append("m", Mark("a")).run()
    )
    conc = sorted(
        it.data["mark"]
        for it in Pipeline(spark)
        .set_source(df)
        .append_concurrently("m", Mark, kwargs={"tag": "a"}, concurrency=4)
        .run()
    )
    assert plain == conc


def test_source_error_propagates_to_driver(spark):
    """Reference behavior (tests/test_error.py::test_source_errors): an
    exception raised inside the source's pop() surfaces to the caller
    driving the pipeline, not swallowed."""
    import pytest

    from smartpipeline_spark import Item, Pipeline, Source, Stage

    class Exploding(Source):
        def __init__(self):
            super().__init__()
            self._n = 0

        def pop(self):
            self._n += 1
            if self._n > 3:
                raise RuntimeError("source blew up")
            return Item({"id": self._n})

    class Noop(Stage):
        def process(self, item):
            return item

    pipe = Pipeline(spark).set_source(Exploding()).append("noop", Noop())
    with pytest.raises(RuntimeError, match="source blew up"):
        list(pipe.run())


def test_pipeline_without_spark_keeps_the_live_session_confs(spark):
    """A Pipeline built with no ``spark=`` runs on the live session as
    it is: building one through the engine builder would reset the
    session's shuffle width (and AQE, Arrow) to the engine defaults."""
    from smartpipeline_spark import Source

    class Three(Source):
        def __init__(self):
            super().__init__()
            self._it = iter(range(3))

        def pop(self):
            try:
                return Item({"count": next(self._it), "text": "abc"})
            except StopIteration:
                self.stop()
                return None

    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    pipe = Pipeline().set_source(Three()).append("rev", TextReverser())
    assert sorted(it.data["text"] for it in pipe.run()) == ["cba"] * 3
    assert pipe.spark is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"


def test_stage_cache_and_memory_profiling(spark):
    """Reference roadmap features, real here: cache=True persists the
    stage's output (repeat consumption skips recompute), and
    profile_memory=True records worker RSS under <name>#rss_kb."""
    from pyspark import StorageLevel

    from smartpipeline_spark import Pipeline, Stage

    class Tag(Stage):
        output_fields = {"tag": "string"}

        def process(self, item):
            item.data["tag"] = f"t{item.data['id']}"
            return item

    df = spark.createDataFrame([{"id": i} for i in range(8)])
    pipe = (
        Pipeline(spark)
        .set_source(df)
        .append("tag", Tag(), cache=True, profile_memory=True)
    )
    out = pipe.dataframe()
    assert out.storageLevel != StorageLevel.NONE

    items = list(pipe.run())
    assert len(items) == 8
    for it in items:
        assert it.get_timing("tag") is not None
        assert it.get_timing("tag#rss_kb") and it.get_timing("tag#rss_kb") > 1000
    out.unpersist()


def test_pipeline_name_unique_and_stable(spark):
    from smartpipeline_spark import Pipeline

    p1, p2 = Pipeline(spark), Pipeline(spark)
    assert p1.name != p2.name
    assert p1.name == p1.name and p1.name.startswith("pipeline-")


def test_map_in_arrow_matches_map_in_pandas(spark):
    """mapInArrow — the zero-copy RecordBatch variant of mapInPandas
    (no pandas conversion per batch; the right surface when the
    kernel is numpy/pyarrow-native). Same transform both ways must
    agree exactly."""
    import pyarrow as pa

    df = spark.range(1000).selectExpr("id", "CAST(id * 2 AS DOUBLE) AS v")

    def arrow_fn(batches):
        for b in batches:
            t = pa.Table.from_batches([b])
            yield pa.RecordBatch.from_arrays(
                [t.column("id").combine_chunks(),
                 pa.compute.add(t.column("v").combine_chunks(), 1.0)],
                names=["id", "v"],
            )

    def pandas_fn(pdfs):
        for pdf in pdfs:
            pdf["v"] = pdf["v"] + 1.0
            yield pdf

    a = {(r.id, r.v) for r in df.mapInArrow(arrow_fn, "id long, v double").collect()}
    b = {(r.id, r.v) for r in df.mapInPandas(pandas_fn, "id long, v double").collect()}
    assert a == b and len(a) == 1000


class LoggingStage(Stage):
    """Stage that logs through ordinary Python logging — the records
    must surface in the DRIVER process logger (reference LogsReceiver
    contract, smartpipeline/utils.py:73-105)."""

    def process(self, item):
        import logging

        logging.getLogger("my.test.stage").warning(
            "processed item %s", item.data["count"]
        )
        return item


def test_stage_logs_ship_to_driver_logger(spark, items_df, caplog):
    import logging

    p = (
        Pipeline(spark)
        .set_source(items_df.limit(5))
        .append("logger", LoggingStage())
        .build()
    )
    with caplog.at_level(logging.WARNING, logger="my.test.stage"):
        items = list(p.run())
    assert len(items) == 5
    shipped = [r for r in caplog.records if r.name == "my.test.stage"]
    assert len(shipped) == 5, caplog.records
    assert all("processed item" in r.getMessage() for r in shipped)
    # drain is idempotent: a second drain must not re-emit
    n = len(caplog.records)
    p._drain_shipped_logs()
    assert len(caplog.records) == n


def test_log_shipping_disabled_opt_out(spark, items_df, caplog):
    import logging

    p = (
        Pipeline(spark, ship_logs=False)
        .set_source(items_df.limit(3))
        .append("logger", LoggingStage())
        .build()
    )
    with caplog.at_level(logging.WARNING, logger="my.test.stage"):
        list(p.run())
    assert not [r for r in caplog.records if r.name == "my.test.stage"]


class DebugChattyStage(Stage):
    """Stage whose dependency logs DEBUG chatter — must stay
    worker-side under the default INFO shipping gate."""

    def process(self, item):
        import logging

        logging.getLogger("chatty.dep").debug("noise %s", item.data["count"])
        return item


def test_log_shipping_gates_debug_by_default(spark, items_df, caplog):
    import logging

    p = (
        Pipeline(spark)
        .set_source(items_df.limit(3))
        .append("chatty", DebugChattyStage())
        .build()
    )
    with caplog.at_level(logging.DEBUG, logger="chatty.dep"):
        list(p.run())
    assert not [r for r in caplog.records if r.name == "chatty.dep"]


def test_log_shipping_debug_opt_in(spark, items_df, caplog):
    import logging

    p = (
        Pipeline(spark, ship_logs=logging.DEBUG)
        .set_source(items_df.limit(3))
        .append("chatty", DebugChattyStage())
        .build()
    )
    with caplog.at_level(logging.DEBUG, logger="chatty.dep"):
        list(p.run())
    shipped = [r for r in caplog.records if r.name == "chatty.dep"]
    assert len(shipped) == 3, caplog.records


def test_log_capture_per_task_cap():
    import logging

    from smartpipeline_spark.wrapper import _LogCapture

    cap = _LogCapture()
    cap.MAX_RECORDS = 5  # instance shadow of the class cap
    for i in range(8):
        cap.emit(
            logging.LogRecord(
                "user.stage", logging.INFO, __file__, 1, "m%d", (i,), None
            )
        )
    out = cap.drain()
    assert len(out) == 6  # 5 kept + 1 truncation marker
    assert "3 records over" in out[-1][2]
    # post-drain the counter stays exhausted (per-task, not per-batch):
    # a further record is dropped and reported, never re-admitted
    cap.emit(
        logging.LogRecord("user.stage", logging.INFO, __file__, 1, "x", (), None)
    )
    tail = cap.drain()
    assert len(tail) == 1 and "1 records over" in tail[0][2]


def test_error_summary_aggregates_the_error_channel(spark, items_df):
    p = (
        Pipeline(spark)
        .set_source(items_df)
        .append("soft", SoftFailEven())
        .append("crit", CriticalOnFive())
        .build()
    )
    rows = {(r.stage, r.kind, r.exc_class): r.n_errors for r in p.error_summary().collect()}
    # 100 items: 50 even -> SoftError at "soft"; criticals at "crit"
    # for count % 5 == 0 AND odd (evens skip later stages? no — soft
    # errors only skip the failing stage), so count%5==0 -> 20 items
    assert rows[("soft", "soft", "SoftError")] == 50
    assert rows[("crit", "critical", "ValueError")] == 20
    assert sum(rows.values()) == 70


def test_process_async_raising_callback_keeps_workers(caplog):
    # JVM-free: process_async runs the local kernel path only. More
    # raising callbacks than pool workers, then one plain item: every
    # item must still arrive, and each failure is logged.
    pipe = Pipeline(spark=None).append("reverser", TextReverser())

    def boom(_item):
        raise RuntimeError("callback failed")

    for i in range(9):
        pipe.process_async(Item({"count": i, "text": f"t{i}"}), callback=boom)
    pipe.process_async(Item({"count": 9, "text": "t9"}))
    got = sorted(pipe.get_item(timeout=5).data["count"] for _ in range(10))
    assert got == list(range(10))
    pipe.shutdown()
    logged = [r for r in caplog.records if r.name == pipe.name]
    assert len(logged) == 9 and all(r.exc_info for r in logged)


class SlowStage(Stage):
    def __init__(self):
        self.started = threading.Event()
        self.finished = False
        self.finished_at_on_end = None

    def process(self, item):
        self.started.set()
        time.sleep(2)
        self.finished = True
        return item

    def on_end(self):
        self.finished_at_on_end = self.finished


def test_shutdown_waits_for_in_flight_item_before_on_end():
    stage = SlowStage()
    pipe = Pipeline(spark=None).append("slow", stage)
    pipe.process_async(Item({"x": 1}))
    assert stage.started.wait(timeout=5)
    pipe.shutdown()
    assert stage.finished_at_on_end is True
    assert pipe.get_item(timeout=1).data == {"x": 1}


def test_chain_fails_when_the_worker_imports_another_package_copy(tmp_path):
    """The driver imports copy A; its Python workers start in copy B,
    which differs by one comment, and put that directory first on their
    ``sys.path``. The chain's first batch must fail and name both."""
    src = os.path.join(os.path.dirname(os.path.dirname(__file__)), "smartpipeline_spark")
    a, b = tmp_path / "a", tmp_path / "b"
    for copy in (a, b):
        shutil.copytree(src, copy / "smartpipeline_spark",
                        ignore=shutil.ignore_patterns("__pycache__"))
    with open(b / "smartpipeline_spark" / "wrapper.py", "a") as fh:
        fh.write("# copy B\n")
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(a)!r})
        from smartpipeline_spark import Pipeline, Stage
        from smartpipeline_spark.session import get_spark

        class Keep(Stage):
            def process(self, item):
                return item

        spark = get_spark("pkgcheck", master="local[1]",
                          extra_conf={{"spark.ui.enabled": "false"}})
        try:
            df = spark.createDataFrame([(1, "x")], ["id", "text"])
            list(Pipeline(spark).set_source(df).append("keep", Keep()).run())
        finally:
            spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", script], cwd=b, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode != 0, out.stdout[-2000:]
    msg = out.stderr
    assert "this Python worker imported a different copy" in msg, msg[-3000:]
    assert str(a / "smartpipeline_spark") in msg and str(b / "smartpipeline_spark") in msg


def _map_in_pandas_inputs(df) -> list:
    """The input column names of each MapInPandas node of ``df``'s
    analyzed plan, from the root down."""
    found, nodes = [], [df._jdf.queryExecution().analyzed()]
    while nodes:
        node = nodes.pop(0)
        children = node.children()
        if node.getClass().getSimpleName() == "MapInPandas":
            out = node.child().output()
            found.append([out.apply(i).name() for i in range(out.size())])
        nodes.extend(children.apply(i) for i in range(children.size()))
    return found


def test_first_segment_gets_no_companion_columns(spark, items_df):
    """Nothing constant crosses into Python: the first stage segment's
    input has no _errors/_timings (the wrapper mints them), and items
    still come out with an empty error list. A source that already
    carries companions, such as a previous pipeline's output, keeps its
    errors through the next segment."""
    first = Pipeline(spark).set_source(items_df).append("softfail", SoftFailEven())
    (inputs,) = _map_in_pandas_inputs(first.dataframe())
    assert "_errors" not in inputs and "_timings" not in inputs
    items = _run(first)
    assert [it.error_entries == [] for it in items] == [it.data["count"] % 2 == 1 for it in items]

    second = Pipeline(spark).set_source(first.dataframe()).append("duplicator", TextDuplicator())
    inputs = _map_in_pandas_inputs(second.dataframe())
    assert len(inputs) == 2 and {"_errors", "_timings"} <= set(inputs[0])
    items = _run(second)
    assert len(items) == 100
    for it in items:
        assert [e["stage"] for e in it.error_entries] == (["softfail"] if it.data["count"] % 2 == 0 else [])
        assert it.data["text_copy"] == it.data["text"]
        assert sorted(it.timed_stages()) == ["duplicator", "softfail"]
