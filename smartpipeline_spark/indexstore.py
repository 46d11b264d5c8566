"""The one saved-index store: every saved index of the package (BM25
postings, IVF, PQ/IVFPQ, HNSW, the MinHash dedup index, the CDC index)
keeps its layout and commits through this module
(``tests/test_indexstore.py`` fails on a batch ``.write.mode("append")``
or a ``json.dump`` anywhere else in the package).

Layout: ``path/_manifest.json`` lists, per table, the partition
columns, the sort column and the live segments with their row counts,
plus the family's metadata (centroids, codebooks, corpus stats, ...).
A table's rows live in immutable ``path/<table>/seg=<id>/``
directories. A build or an append writes its new segments first and
then publishes them with one fsynced ``os.replace`` of the manifest
(:func:`_commit`). A reader resolves the manifest once per call and
reads only the segments it lists, so it sees exactly the old index or
exactly the new one, and a crash before the commit leaves the
published index as it was, plus orphan directories that the next
:func:`compact` removes. One writer per index at a time; readers may
run alongside it.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import uuid

from pyspark.sql import DataFrame, functions as F

from smartpipeline_spark import sources

MANIFEST = "_manifest.json"
# live segments of one table past which an append compacts inline, so
# a probe keeps opening about one file per table instead of one per append
COMPACT_AFTER = 16


def write_json(path: str, obj, **dump_kw) -> None:
    """Write ``obj`` as JSON to ``path`` atomically: a private temp file
    beside it, fsynced, then ``os.replace``d over ``path``, so a crash
    leaves the old file or the new one and never a truncated one."""
    tmp = os.path.join(
        os.path.dirname(path) or ".",
        f".{os.path.basename(path)}-{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp",
    )
    with open(tmp, "w") as fh:
        json.dump(obj, fh, **dump_kw)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def manifest(path: str) -> dict:
    """The committed manifest of the index at ``path``."""
    f = os.path.join(path, MANIFEST)
    if not os.path.isfile(f):
        raise ValueError(f"{path} holds no saved index: {MANIFEST} is missing")
    with open(f) as fh:
        return json.load(fh)


def _commit(path: str, man: dict) -> None:
    """Publish ``man`` — THE single commit point of every index."""
    write_json(os.path.join(path, MANIFEST), man)


def segments(man: dict, table: str) -> list[str]:
    """The live segment ids of ``table`` in manifest ``man``."""
    return list(man["tables"].get(table, {}).get("segments", {}))


def rows(man: dict, table: str) -> int:
    """The row count of ``table`` in manifest ``man`` — no job."""
    return sum(man["tables"].get(table, {}).get("segments", {}).values())


def _seg_dir(path: str, table: str, seg: str) -> str:
    return os.path.join(path, table, f"seg={seg}")


def _rows(d: str) -> int:
    """Rows in the parquet footers under segment directory ``d``."""
    import pyarrow.parquet as pq

    from smartpipeline_spark.operators.scale import _data_files

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _data_files(d))


def _scan(spark, path: str, table: str, segs) -> DataFrame:
    base = os.path.join(path, table)
    return (
        spark.read.option("basePath", base)
        .parquet(*[_seg_dir(path, table, s) for s in segs])
        .drop("seg")
    )


def read(spark, path: str, table: str, man: dict | None = None) -> DataFrame:
    """``table`` of the index at ``path``: the segments ``man`` lists
    (the committed manifest when None — pass one manifest to read
    several tables from one snapshot), read as one scan under
    ``basePath=path/<table>`` so the partition columns survive and the
    ``seg`` column is dropped."""
    segs = segments(man or manifest(path), table)
    if not segs:
        raise ValueError(f"saved index at {path} has no table {table!r}")
    return _scan(spark, path, table, segs)


def _write(df: DataFrame, d: str, layout: dict, n: int | None) -> None:
    """Write one segment with the table's layout: sort-clustered into
    ``n`` files on its sort column, or partitioned by its partition
    columns; ``n`` (compaction) also sets the output file count."""
    from smartpipeline_spark.operators.scale import write_sorted

    part = layout["partition"]
    if layout["sort"]:
        write_sorted(df, d, layout["sort"], n or 1)
        return
    if n:
        df = df.repartition(n, *[F.col(c) for c in part]) if part else df.coalesce(n)
    df.write.partitionBy(*part).parquet(d)


def _publish(path, tables, meta, layout, files, replace) -> dict:
    """Write each frame of ``tables`` as a new segment, then commit a
    manifest that adds them (``replace``: that lists only them). An
    appended segment with no rows is dropped instead of listed."""
    man = {"tables": {}, "meta": {}} if replace else manifest(path)
    new = {}
    for name, df in tables.items():
        t = man["tables"].get(name) or {
            "partition": [],
            "sort": None,
            **(layout or {}).get(name, {}),
            "segments": {},
        }
        seg = "s" + uuid.uuid4().hex[:12]  # never parses as a number
        d = _seg_dir(path, name, seg)
        _write(df, d, t, (files or {}).get(name))
        n = _rows(d)
        if n or replace:
            t["segments"][seg] = n
            new[name] = seg
        else:
            shutil.rmtree(d, ignore_errors=True)
        man["tables"][name] = t
    if callable(meta):
        spark = next(iter(tables.values())).sparkSession
        meta = meta({t: _scan(spark, path, t, [s]) for t, s in new.items()}, man["meta"])
    man["meta"].update(meta or {})
    _commit(path, man)
    return man


def build(path: str, tables: dict, meta=None, layout: dict | None = None, files=None) -> dict:
    """Write a fresh index at ``path`` from ``tables`` ({name: frame})
    and commit it, replacing whatever index was there; ``layout``
    declares a table's ``partition`` columns or ``sort`` column,
    ``files`` a sorted table's file count, ``meta`` the family's
    metadata, or a function of ({table: new segment's frame}, the old
    metadata) that returns it. Returns the committed manifest."""
    os.makedirs(path, exist_ok=True)
    man = _publish(path, tables, meta, layout, files, replace=True)
    _reap(path, man)
    return man


def append(path: str, tables: dict, meta=None, files=None) -> tuple[dict, bool]:
    """Add ``tables`` to the index at ``path`` as new segments, merge
    ``meta`` into its metadata and commit; compact inline once a table
    holds more than :data:`COMPACT_AFTER` segments. Returns the
    committed manifest and whether it compacted."""
    man = _publish(path, tables, meta, None, files, replace=False)
    if max((len(t["segments"]) for t in man["tables"].values()), default=0) <= COMPACT_AFTER:
        return man, False
    compact(next(iter(tables.values())).sparkSession, path)
    return manifest(path), True


def compact(spark, path: str) -> dict:
    """Rewrite each table holding several segments into one segment
    with its declared layout (a sorted table at ``files_for_rows`` of
    its rows, any other at one file per ~128 MB), commit, then remove
    every ``seg=`` directory the manifest does not list: the replaced
    segments and any orphan of a crashed append. A reader still
    scanning a removed segment fails, so on a shared cluster delay
    the removal past the longest query (the Delta VACUUM contract)."""
    from smartpipeline_spark.operators.scale import (
        TASK_TARGET_BYTES,
        _data_files,
        files_for_rows,
    )

    man = manifest(path)
    before = sum(len(t["segments"]) for t in man["tables"].values())
    for name, t in man["tables"].items():
        if len(t["segments"]) < 2:
            continue
        if t["sort"]:
            n = files_for_rows(rows(man, name))
        else:
            size = sum(
                os.path.getsize(f)
                for s in t["segments"]
                for f in _data_files(_seg_dir(path, name, s))
            )
            n = max(1, math.ceil(size / TASK_TARGET_BYTES))
        seg = "s" + uuid.uuid4().hex[:12]
        _write(read(spark, path, name, man), _seg_dir(path, name, seg), t, n)
        t["segments"] = {seg: rows(man, name)}
    _commit(path, man)
    return {
        "segments_before": before,
        "segments_after": sum(len(t["segments"]) for t in man["tables"].values()),
        "dirs_reaped": _reap(path, man),
    }


def _reap(path: str, man: dict) -> int:
    """Remove the ``seg=`` directories ``man`` does not list."""
    reaped = 0
    for table in os.listdir(path):
        tdir = os.path.join(path, table)
        if not os.path.isdir(tdir):
            continue
        live = {f"seg={s}" for s in segments(man, table)}
        for d in os.listdir(tdir):
            if d.startswith("seg=") and d not in live:
                shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
                reaped += 1
    return reaped


def verify(path: str, man: dict | None = None) -> dict:
    """Raise ValueError when a listed segment's parquet footers do not
    hold the rows the manifest records for it (a torn or tampered
    layout); costs one footer read per file. Returns the manifest."""
    man = man or manifest(path)
    for name, t in man["tables"].items():
        for seg, n in t["segments"].items():
            d = _seg_dir(path, name, seg)
            got = _rows(d) if os.path.isdir(d) else None
            if got != n:
                raise ValueError(
                    f"index at {path} is torn: manifest says {n} rows in "
                    f"{name}/seg={seg}, the segment holds {got}"
                )
    return man


_FIXTURE_IDX_CACHE: dict[tuple[str, str], str] = {}


def fixture_index(kind: str, src: str, build, count) -> str:
    """Build-once cache of an index saved from one fixture file.

    Keyed by ``src``'s :func:`~smartpipeline_spark.sources.file_signature`
    (path, inode, size, mtime; the path alone when ``src`` is not a
    regular local file), so a testdata regeneration rebuilds instead of
    serving a stale layout. A memoized or on-disk copy is served only
    while :func:`verify` passes and ``count(manifest)`` equals ``src``'s
    footer row count; otherwise ``build(path)`` writes a fresh index,
    which replaces the invalid copy. The cache root is per-user and
    0700 (:func:`~smartpipeline_spark.sources.scratch_root`)."""
    import hashlib

    import pyarrow.parquet as pq

    def _ok(p: str) -> bool:
        try:
            return count(verify(p)) == pq.ParquetFile(src).metadata.num_rows
        except Exception:
            return False

    sig = sources.file_signature(src) or (src,)
    tag = hashlib.md5(repr(sig).encode()).hexdigest()[:16]
    path = os.path.join(sources.scratch_root(f"{kind}_idx"), tag)
    if _FIXTURE_IDX_CACHE.get((kind, tag)) == path and _ok(path):
        return path
    if not _ok(path):
        # concurrent sessions (driver + sweep) may race to build the
        # same tag: build privately, publish with one rename; the loser
        # keeps the winner's valid copy, and an invalid one is replaced
        staging = f"{path}.build-{os.getpid()}"
        try:
            build(staging)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        try:
            os.rename(staging, path)
        except OSError:
            if _ok(path):
                shutil.rmtree(staging, ignore_errors=True)
            else:
                shutil.rmtree(path, ignore_errors=True)
                os.rename(staging, path)
    _FIXTURE_IDX_CACHE[(kind, tag)] = path
    return path
