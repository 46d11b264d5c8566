"""Source/scan surface (reference helpers.py + tests/test_helpers.py)."""

import os
import shutil

import pytest

from smartpipeline_spark import sources
from tests.conftest import SF_SMOKE, count_jobs


@pytest.fixture()
def schema_cache(monkeypatch):
    """An empty remembered-schema cache for one test."""
    monkeypatch.setattr(sources, "_SCHEMAS", {})
    return sources._SCHEMAS


def _nation_dir(tmp_path):
    shutil.copy(os.path.join(SF_SMOKE, "nation.parquet"), tmp_path / "nation.parquet")
    return str(tmp_path)


def test_unchanged_file_reuses_its_schema(spark, tmp_path, schema_cache):
    sf = _nation_dir(tmp_path)
    first, jobs = count_jobs(spark, lambda: sources.table(spark, "nation", sf))
    assert jobs >= 1  # footer inference
    again, jobs = count_jobs(spark, lambda: sources.table(spark, "nation", sf))
    assert jobs == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_file_infers_again(spark, tmp_path, schema_cache):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert sources.parquet(spark, str(path)).columns == ["a"]
    mtime = os.stat(path).st_mtime_ns
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    os.utime(path, ns=(mtime + 10**9, mtime + 10**9))
    df, jobs = count_jobs(spark, lambda: sources.parquet(spark, str(path)))
    assert jobs >= 1
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_changed_converter_conf_infers_again(spark, tmp_path, schema_cache):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"v": pa.array([b"ab"], pa.binary())}), path)
    assert dict(sources.parquet(spark, path).dtypes)["v"] == "binary"
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        df, jobs = count_jobs(spark, lambda: sources.parquet(spark, path))
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert jobs >= 1
    assert dict(df.dtypes)["v"] == "string"


def test_self_join_of_cached_reads(spark, tmp_path, schema_cache):
    from pyspark.sql import functions as F

    sf = _nation_dir(tmp_path)
    path = os.path.join(sf, "nation.parquet")

    def pairs(a, b):
        a, b = a.alias("a"), b.alias("b")
        return sorted(
            a.join(b, F.col("a.n_regionkey") == F.col("b.n_regionkey"))
            .select(F.col("a.n_name"), F.col("b.n_name"))
            .collect()
        )

    want = pairs(spark.read.parquet(path), spark.read.parquet(path))
    sources.table(spark, "nation", sf)  # remember the schema
    got = pairs(sources.table(spark, "nation", sf), sources.table(spark, "nation", sf))
    assert got == want and len(got) > 25


def test_cached_events_read_keeps_timestamp(spark, schema_cache):
    sources.table(spark, "events", SF_SMOKE)
    ev, jobs = count_jobs(spark, lambda: sources.table(spark, "events", SF_SMOKE))
    assert jobs == 0
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_missing_path_raises_like_spark(spark, tmp_path, schema_cache):
    missing = str(tmp_path / "nope.parquet")
    with pytest.raises(Exception) as bare:
        spark.read.parquet(missing)
    with pytest.raises(Exception) as ours:
        sources.parquet(spark, missing)
    assert type(ours.value) is type(bare.value)
    assert not schema_cache


def test_file_signature_is_for_regular_files_only(tmp_path):
    f = tmp_path / "f"
    f.write_bytes(b"1")
    sig = sources.file_signature(str(f))
    assert sig[0] == str(f) and sig[2] == 1
    f.write_bytes(b"22")
    assert sources.file_signature(str(f)) != sig
    assert sources.file_signature(str(tmp_path)) is None
    assert sources.file_signature(str(tmp_path / "missing")) is None
    assert sources.file_signature(str(tmp_path / "*")) is None


def test_local_files_postfix_and_dotfile_skip(spark, tmp_path):
    (tmp_path / "a.txt").write_text("alpha")
    (tmp_path / "b.txt").write_text("beta")
    (tmp_path / "c.skip").write_text("nope")
    (tmp_path / ".hidden.txt").write_text("dot")
    df = sources.local_files(spark, str(tmp_path), postfix=".txt")
    rows = {r["id"]: bytes(r["content"]).decode() for r in df.collect()}
    assert rows == {"a.txt": "alpha", "b.txt": "beta"}


def test_text_lines(spark, tmp_path):
    p = tmp_path / "lines.txt"
    p.write_text("one\ntwo\nthree\n")
    df = sources.text_lines(spark, str(p))
    assert sorted(r["value"] for r in df.collect()) == ["one", "three", "two"]


def test_from_rows_and_range(spark):
    df = sources.from_rows(spark, [{"a": 1}, {"a": 2}])
    assert df.count() == 2
    rng = sources.range_source(spark, 5)
    assert sorted(r["count"] for r in rng.collect()) == [1, 2, 3, 4, 5]


def test_tables_load_all(spark):
    ts = sources.tables(spark, SF_SMOKE)
    assert set(ts) == set(sources.TABLE_NAMES)
    assert dict(ts["events"].dtypes)["ts"] == "timestamp"


def test_local_files_pull_source(tmp_path):
    (tmp_path / "a.txt").write_text("alpha")
    (tmp_path / "b.txt").write_text("beta")
    (tmp_path / ".hidden.txt").write_text("dot")
    (tmp_path / "c.skip").write_text("nope")
    src = sources.LocalFilesSource(str(tmp_path), postfix=".txt")
    items = list(src.items())
    assert [it.id for it in items] == ["a.txt", "b.txt"]
    assert src.is_stopped
    assert all(it.path.startswith(str(tmp_path)) for it in items)


def test_dataitem_alias_and_filepathitem():
    from smartpipeline_spark.item import DataItem, FilePathItem, Item

    assert DataItem is Item
    it = FilePathItem("/some/dir/file.bin")
    assert it.id == "file.bin"
    assert it.path == "/some/dir/file.bin"


def test_custom_source_drained_via_pipeline(spark):
    from smartpipeline_spark import Item, Pipeline, Source, Stage

    class ListSource(Source):
        def __init__(self, n):
            super().__init__()
            self._it = iter(range(1, n + 1))

        def pop(self):
            try:
                return Item({"count": next(self._it)})
            except StopIteration:
                self.stop()
                return None

    class AddOne(Stage):
        output_fields = {"plus": "bigint"}

        def process(self, item):
            item.data["plus"] = item.data["count"] + 1
            return item

    pipe = Pipeline(spark).set_source(ListSource(10)).append("addone", AddOne())
    out = sorted(it.data["plus"] for it in pipe.run())
    assert out == list(range(2, 12))


def test_prepend_item_fifo_before_source_items():
    """Reference SourceContainer.prepend_item semantics
    (/root/reference/tests/test_stage.py:87-105): prepended items come
    out FIFO, ahead of the source's own feed, including mid-drain."""
    from smartpipeline_spark import Item, Source

    class ListSource(Source):
        def __init__(self, data):
            super().__init__()
            self._it = iter(data)

        def pop(self):
            try:
                return Item(next(self._it))
            except StopIteration:
                self.stop()
                return None

    src = ListSource([{"id": 1}, {"id": 2}, {"id": 3}])
    src.prepend_item(Item({"id": 1001}))
    src.prepend_item(Item({"id": 1002}))
    it = src.items()
    assert next(it).data["id"] == 1001
    assert next(it).data["id"] == 1002
    assert next(it).data["id"] == 1
    src.prepend_item(Item({"id": 1003}))
    assert next(it).data["id"] == 1003
    assert next(it).data["id"] == 2
    assert next(it).data["id"] == 3
    assert not src.is_stopped  # stop() fires on the next exhausted pop


def test_prepend_item_drained_even_after_stop():
    from smartpipeline_spark import Item, Source

    class EmptySource(Source):
        def pop(self):
            self.stop()
            return None

    src = EmptySource()
    src.prepend_item(Item({"id": 7}))
    src.stop()
    got = list(src.items())
    assert [g.data["id"] for g in got] == [7]


def test_items_polls_until_stop_and_opt_in_valve_raises():
    """Default drain polls through None gaps until stop() (reference
    pump semantics); the miss cap is opt-in and raises loudly instead
    of silently truncating."""
    import pytest

    from smartpipeline_spark import Item, Source

    class GappySource(Source):
        def __init__(self):
            super().__init__()
            self._seq = iter(
                [None, None, Item({"id": 1})] + [None] * 1500 + [Item({"id": 2})]
            )

        def pop(self):
            try:
                return next(self._seq)
            except StopIteration:
                self.stop()
                return None

    # >1000 consecutive Nones mid-feed: default keeps polling to stop()
    assert [i.data["id"] for i in GappySource().items()] == [1, 2]

    class NeverStops(Source):
        def pop(self):
            return None

    with pytest.raises(TimeoutError):
        list(NeverStops().items(max_polls_after_none=5))


def test_register_views_sql_entry_point(spark):
    """Ad-hoc SQL over registered views must agree with the DataFrame
    read of the same normalized tables (events.ts conversion
    included)."""
    from pyspark.sql import functions as F

    sources.register_views(spark, SF_SMOKE)
    got = spark.sql(
        """SELECT o_orderstatus, COUNT(*) AS n
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY o_orderstatus ORDER BY o_orderstatus"""
    ).collect()
    want = (
        sources.table(spark, "orders", SF_SMOKE)
        .join(sources.table(spark, "customer", SF_SMOKE),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderstatus").count().orderBy("o_orderstatus").collect()
    )
    assert [(r["o_orderstatus"], r["n"]) for r in got] == [
        (r["o_orderstatus"], r["count"]) for r in want
    ]
    # the events view carries the normalized timestamp column
    assert dict(spark.table("events").dtypes)["ts"].startswith("timestamp")


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC sink + source: write through the Pipeline sink (fmt="orc"),
    read back via sources.orc_source, and confirm predicate pushdown
    reaches the ORC scan like it does for parquet."""
    from smartpipeline_spark import Pipeline

    nation = sources.table(spark, "nation", SF_SMOKE)
    out = str(tmp_path / "nation_orc")
    Pipeline(spark).set_source(nation).write(out, fmt="orc")
    back = sources.orc_source(spark, out)
    assert back.count() == nation.count()
    assert set(back.columns) == set(nation.columns)
    plan = (
        back.filter("n_regionkey = 2")
        .select("n_name")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "n_regionkey" in plan


def test_python_datasource_parallel_deterministic(spark):
    from smartpipeline_spark.sources.pysource import SynthDocsDataSource

    spark.dataSource.register(SynthDocsDataSource)
    df = (
        spark.read.format("synthdocs")
        .option("numPartitions", 4)
        .option("rowsPerPartition", 250)
        .load()
    )
    assert df.count() == 1000
    assert df.rdd.getNumPartitions() == 4
    # deterministic: same options -> identical corpus, any run
    again = (
        spark.read.format("synthdocs")
        .option("numPartitions", 4)
        .option("rowsPerPartition", 250)
        .load()
    )
    a = sorted(r.doc_id for r in df.collect())
    assert a == sorted(r.doc_id for r in again.collect())
    assert df.select("lang").distinct().count() == 5


def test_python_datasource_filter_pushdown(spark):
    from pyspark.sql import functions as F

    from smartpipeline_spark.sources.pysource import SynthDocsDataSource

    spark.dataSource.register(SynthDocsDataSource)
    base = (
        spark.read.format("synthdocs")
        .option("numPartitions", 2)
        .option("rowsPerPartition", 500)
        .load()
    )
    pushed = base.filter(F.col("lang") == "en")
    # values correct under pushdown: matches post-hoc filtering of the full corpus
    want = {r.doc_id for r in base.collect() if r.lang == "en"}
    got = {r.doc_id for r in pushed.collect()}
    assert got == want and got
    # residual (non-pushed) predicates still apply on top
    both = base.filter((F.col("lang") == "en") & (F.col("n_chars") > 150))
    assert all(r.n_chars > 150 and r.lang == "en" for r in both.collect())


def test_python_stream_datasource_offsets_accumulate(spark, tmp_path):
    from smartpipeline_spark.sources.pysource import SynthEventsDataSource

    spark.dataSource.register(SynthEventsDataSource)
    stream = (
        spark.readStream.format("synthevents")
        .option("rowsPerBatch", 40)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("synthev_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_synthev"))
        .start()
    )
    import time

    deadline = time.time() + 60
    while time.time() < deadline:
        if spark.table("synthev_out").count() >= 120:
            break
        time.sleep(1)
    q.stop()
    rows = spark.table("synthev_out").collect()
    ids = sorted(r.event_id for r in rows)
    # offsets advance without gaps or replays: ids are exactly 0..n-1
    assert ids == list(range(len(ids))) and len(ids) >= 120


def test_python_custom_sink_commit_protocol(spark, tmp_path):
    import glob
    import json

    from smartpipeline_spark.sources.pysource import JsonlSinkDataSource

    spark.dataSource.register(JsonlSinkDataSource)
    out = str(tmp_path / "jsonl_out")
    df = spark.range(100).selectExpr("id", "id * 2 AS double_id").repartition(4)
    df.write.format("jsonlsink").option("path", out).mode("append").save()
    parts = sorted(glob.glob(out + "/part-*.jsonl"))
    assert len(parts) == 4
    rows = [json.loads(line) for p in parts for line in open(p)]
    assert {r["id"] for r in rows} == set(range(100))
    assert all(r["double_id"] == 2 * r["id"] for r in rows)
    # no uncommitted temp shards left behind
    assert not glob.glob(out + "/._tmp-*")


def test_python_custom_stream_sink_per_batch_files(spark, tmp_path):
    import glob
    import json

    from smartpipeline_spark.sources.pysource import (
        JsonlSinkDataSource,
        SynthEventsDataSource,
    )

    spark.dataSource.register(SynthEventsDataSource)
    spark.dataSource.register(JsonlSinkDataSource)
    out = str(tmp_path / "jsonl_stream_out")
    stream = spark.readStream.format("synthevents").option("rowsPerBatch", 30).load()
    q = (
        stream.writeStream.format("jsonlsink")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_jsonl"))
        .start()
    )
    import time

    deadline = time.time() + 60
    while time.time() < deadline:
        if len(glob.glob(out + "/batch-*.jsonl")) >= 3:
            break
        time.sleep(1)
    q.stop()
    files = sorted(glob.glob(out + "/batch-*.jsonl"))
    assert len(files) >= 3
    ids = sorted(
        json.loads(line)["event_id"] for p in files for line in open(p)
    )
    # contiguous, replay-free ids across committed batches
    assert ids == list(range(len(ids))) and len(ids) >= 90
    # q.stop() may kill an in-flight batch mid-write; its task dies
    # before returning a commit message, so a temp shard can survive.
    # The contract is that temp shards are never PUBLISHED: every
    # committed batch-*.jsonl came through commit(), and batch ids are
    # gap-free.
    batch_ids = sorted({int(p.split("batch-")[1][:5]) for p in files})
    assert batch_ids == list(range(len(batch_ids)))


def test_python_custom_sink_publishes_nothing_on_failure(spark, tmp_path):
    """DSv2 commit contract, failure leg: when any task raises
    mid-write, commit() never runs — no part-*.jsonl may appear
    (temp shards from already-finished tasks are abort()-cleaned;
    the failing task's own temp is the known DSv2 leak and is
    tolerated, but never PUBLISHED)."""
    import glob

    import pytest as _pytest

    from smartpipeline_spark.sources.pysource import JsonlSinkDataSource

    spark.dataSource.register(JsonlSinkDataSource)
    out = str(tmp_path / "jsonl_fail_out")
    # bytes are not json-serializable -> json.dumps raises in write()
    df = spark.range(10).selectExpr(
        "id", "unhex(lpad(hex(id), 2, '0')) AS blob"
    ).repartition(2)
    with _pytest.raises(Exception):
        df.write.format("jsonlsink").option("path", out).mode("append").save()
    assert not glob.glob(out + "/part-*.jsonl"), "failed job published shards"


def test_jsonl_sink_abort_mixed_success_failure(tmp_path):
    """Mixed abort leg: PySpark passes None in the messages list for
    each FAILED task and a real commit message for tasks that finished
    before the job aborted. abort() must skip the Nones AND still
    clean up the successful tasks' temp shards (batch and streaming
    writers share the contract)."""
    from smartpipeline_spark.sources.pysource import (
        JsonlCommit,
        JsonlShardWriter,
        JsonlStreamShardWriter,
    )

    for writer, extra in (
        (JsonlShardWriter({"path": str(tmp_path)}), ()),
        (JsonlStreamShardWriter({"path": str(tmp_path)}), (7,)),
    ):
        tmp = tmp_path / "._tmp-deadbeef-0.jsonl"
        tmp.write_text("{}\n")
        writer.abort([JsonlCommit(tmp=str(tmp), part=0, rows=1), None], *extra)
        assert not tmp.exists(), f"{type(writer).__name__} leaked the temp shard"


def test_examples_compile():
    """Every example must at least be importable-valid Python — a
    syntax/rot guard cheaper than executing them all."""
    import glob
    import py_compile
    from pathlib import Path

    files = glob.glob(str(Path(__file__).resolve().parents[1] / "examples" / "*.py"))
    assert files
    for f in files:
        py_compile.compile(f, doraise=True)
