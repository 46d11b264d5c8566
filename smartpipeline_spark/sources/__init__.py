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

Parquet read path (:func:`table`, :func:`parquet`): a read that names no
schema makes Spark infer one from the file footers, and that inference
runs as a Spark job on every call (70-120 ms of driver time per read
on a 4-core VM, against 15-35 ms for the same read given its schema).
The schema inferred for an absolute path to a regular local
file is remembered and passed back with ``.schema(...)`` on later
reads, but only while the file's ``(inode, size, mtime_ns)`` is
unchanged and the session's values of the confs Spark's footer-schema
converter reads (:data:`_SCHEMA_CONFS`) are the same. Only the schema is
reused, never the DataFrame: every call builds a fresh relation with
fresh attribute ids, so a self-join of two reads stays valid. Anything
else (a relative, remote, globbed or missing path, a directory, or a
session whose default filesystem is not ``file:``) goes to
``spark.read.parquet`` unchanged, errors included.
"""

from __future__ import annotations

import os
import stat
import tempfile
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


#: The session confs Spark's parquet footer-to-schema converter reads
#: (``ParquetToSparkSchemaConverter(SQLConf)``): one file infers a
#: different schema under different values (``events.ts`` is
#: ``bigint`` under nanosAsLong, an error without it).
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
)

#: absolute path -> (schema key, inferred schema); one entry per path,
#: replaced when the file or the confs change
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def file_signature(path: str) -> tuple | None:
    """``(absolute path, inode, size, mtime_ns)`` of a regular local
    file, or None when ``path`` is anything else (missing, a directory,
    a URI or a glob). The one identity rule of the driver-side metadata
    caches: a file rewritten in place gets a new signature."""
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (os.path.abspath(path), st.st_ino, st.st_size, st.st_mtime_ns)


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """What a remembered schema of ``path`` must match to be reused:
    the file's signature and the converter confs. None when ``path``
    names no absolute local file that Spark also reads locally (a
    Spark Connect session has no ``_jsc``: its server may not share
    the client's disk)."""
    sig = file_signature(path) if os.path.isabs(path) else None
    jsc = getattr(spark, "_jsc", None)
    if sig is None or jsc is None:
        return None
    default_fs = jsc.hadoopConfiguration().get("fs.defaultFS")
    if not (default_fs or "file:").startswith("file:"):
        return None
    return sig + tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)


def parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, minus the schema-inference job
    when the schema of this unchanged local file was already inferred
    under the same confs (see the module docstring)."""
    key = _schema_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    hit = _SCHEMAS.get(key[0])
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key[0]] = (key, df.schema)
    return df


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
    df = parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
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
