"""Built-in sources (scans) — SURVEY.md §2.2.

The reference's source surface (directory-of-files, line-oriented text
file, in-memory list, external cursor) maps onto Spark readers; every
reader here returns a plain DataFrame so Catalyst sees the scan and
can push filters/pruning into it.

The TPC-H-ish test tables load through :func:`table` / :func:`tables`,
which also normalizes the one format quirk in the corpus: the
``events`` table stores ``ts`` as parquet TIMESTAMP(NANOS), which
Spark only reads with ``spark.sql.legacy.parquet.nanosAsLong`` — we
read the nanos as long and convert to a microsecond timestamp_ntz
column explicitly.
"""

from __future__ import annotations

import os
import stat
import tempfile
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smartpipeline_spark.item import FilePathItem
from smartpipeline_spark.stage import Source

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_FALLBACK_ROOTS: dict[str, str] = {}


def scratch_root(name: str) -> str:
    """The private scratch directory of one query family:
    ``<tempdir>/spark_graft_<name>_u<uid>``, created 0700. A fixed
    world-shared name is the classic predictable-tmp hazard (another
    local user pre-plants or clobbers the path and an oracled key
    silently serves it), so a root that exists with the wrong owner or
    with group/other permissions is REJECTED in favour of a fresh
    private ``mkdtemp`` — one per rejected root and process."""
    root = os.path.join(tempfile.gettempdir(), f"spark_graft_{name}_u{os.getuid()}")
    if root in _FALLBACK_ROOTS:
        return _FALLBACK_ROOTS[root]
    try:
        os.makedirs(root, mode=0o700, exist_ok=True)
        st = os.stat(root)
        if st.st_uid != os.getuid() or st.st_mode & (stat.S_IRWXG | stat.S_IRWXO):
            raise OSError("scratch root not exclusively ours")
    except OSError:
        _FALLBACK_ROOTS[root] = tempfile.mkdtemp(prefix=f"spark_graft_{name}_")
        return _FALLBACK_ROOTS[root]
    return root


def parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one test table; events.ts comes back as TimestampType
    (:func:`normalize_event_ts`).

    SESSION-WIDE SIDE EFFECT (events only): sets
    ``spark.sql.legacy.parquet.nanosAsLong=true`` on the caller's
    session and leaves it set. The conf cannot be save/restored around
    the read because the returned DataFrame is LAZY — the scan
    re-resolves the conf at execution time, so restoring it before the
    caller's action would re-raise the nanos error. Consequence for
    callers: any LATER read of an unrelated TIMESTAMP(NANOS) parquet in
    the same session comes back as ``bigint`` (nanos since epoch)
    instead of erroring; convert explicitly as done below."""
    if name == "events":
        # events.parquet is TIMESTAMP(NANOS), which Spark refuses to read
        # unless nanosAsLong is on. Runtime-settable, so set it here too —
        # callers with a vanilla session (not our session.get_spark()) must
        # still be able to read the table.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_event_ts(df) if name == "events" else df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """The events ``ts`` column as TimestampType, from either legacy
    parquet encoding — for batch reads (:func:`table`) and for stream
    reads of the same files alike."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # nanos since epoch (legacy nanosAsLong) -> microsecond
        # TimestampType. Integer `div` (not `/`): the nano values are
        # ~1.7e18, beyond double's 2^53 exact range, so float division
        # would corrupt microsecond precision. Truncation matches
        # DuckDB's ns->us cast.
        return df.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts div 1000 AS LONG))")
        )
    if ts_type == "timestamp_ntz":
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet reads as
        # TIMESTAMP_NTZ; the engine standardizes on TimestampType
        # (session tz pinned to UTC in session.py, so the cast is a
        # pure type change — the stored micros are untouched).
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: table(spark, name, sf_dir) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every corpus table as a temp view so arbitrary
    ``spark.sql(...)`` runs against the same normalized tables the
    DataFrame operators read (events.ts included). The engine's ad-hoc
    SQL entry point:

        sources.register_views(spark, sf_dir)
        spark.sql("SELECT ... FROM lineitem JOIN orders ON ...")
    """
    for name, df in tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def orc_source(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same pushdown/pruning properties as parquet (Spark's
    native ORC reader supports predicate pushdown and column pruning),
    for corpora that arrive ORC-formatted from Hive-era pipelines."""
    return spark.read.orc(path)


def text_lines(spark: SparkSession, path: str) -> DataFrame:
    """One row per line (reference ``FileIter``, examples/dump_es_ids.py:25)."""
    return spark.read.text(path)


def json_source(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def csv_source(spark: SparkSession, path: str, header: bool = True, schema=None) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def local_files(spark: SparkSession, dir_path: str, postfix: str = "") -> DataFrame:
    """Directory scan emitting (path, modificationTime, length, content)
    — the reference's ``LocalFilesSource`` (helpers.py:10-32): one item
    per file matching ``postfix``, dotfiles skipped. ``binaryFile`` is
    distributed and lists/splits files across executors, unlike the
    reference's single-thread os.listdir."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", f"*{postfix}" if postfix else "*")
        .load(dir_path)
    )
    # basename as the item id (FilePathItem semantics, helpers.py:47-49)
    df = df.withColumn("id", F.element_at(F.split(F.col("path"), "/"), -1))
    return df.filter(~F.col("id").startswith("."))


class LocalFilesSource(Source):
    """Pull-based directory source (reference ``helpers.py:10-32``):
    one :class:`FilePathItem` per file matching ``postfix``, dotfiles
    skipped. Driver-local by design — use :func:`local_files` for the
    distributed scan."""

    def __init__(self, dir_path: str, postfix: str = ""):
        super().__init__()
        names = sorted(
            n
            for n in os.listdir(dir_path)
            if not n.startswith(".") and n.endswith(postfix)
        )
        self._dir_path = dir_path
        self._iter = iter(names)

    def pop(self) -> FilePathItem | None:
        try:
            return FilePathItem(os.path.join(self._dir_path, next(self._iter)))
        except StopIteration:
            self.stop()
            return None


def from_rows(spark: SparkSession, rows: Iterable[dict], schema=None) -> DataFrame:
    """In-memory list source (reference ``ListSource``, tests/utils.py:50)."""
    rows = list(rows)
    if schema is not None:
        return spark.createDataFrame(rows, schema=schema)
    return spark.createDataFrame(rows)


def range_source(spark: SparkSession, n: int, num_partitions: int | None = None) -> DataFrame:
    """Synthetic 1..n source (reference ``RandomTextSource`` shape)."""
    return spark.range(1, n + 1, numPartitions=num_partitions).withColumnRenamed("id", "count")


# ---------------------------------------------------------------------------
# streaming sources (SURVEY.md §2.10): unbounded reads
# ---------------------------------------------------------------------------

def stream_rate(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def stream_parquet_dir(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-drop streaming source: new parquet files under ``path``
    become micro-batches (schema must be provided for streaming)."""
    return spark.readStream.schema(schema).parquet(path)
