"""The build-once fixture-index cache (indexstore.fixture_index) and
the private scratch root under it (sources.scratch_root), without a
JVM: a fake build callable that commits a table-less store manifest
stands in for the Spark index writers and ``tempfile.tempdir`` points
the cache root into the test's tmp dir."""

import os
import stat
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from smartpipeline_spark import indexstore, sources


def _write_fixture(src, n):
    pq.write_table(pa.table({"doc_id": list(range(n))}), str(src))


@pytest.fixture()
def cache(tmp_path, monkeypatch):
    """A private tempdir and memo, a fixture file, and a counting fake
    build whose manifest records the fixture's current row count, so
    a copy is valid iff it was built from the fixture as it is now."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    monkeypatch.setattr(indexstore, "_FIXTURE_IDX_CACHE", {})
    monkeypatch.setattr(sources, "_FALLBACK_ROOTS", {})
    src = tmp_path / "docs.parquet"
    _write_fixture(src, 3)
    built = []

    def build(path):
        built.append(path)
        os.makedirs(path)
        n = pq.ParquetFile(str(src)).metadata.num_rows
        indexstore._commit(path, {"tables": {}, "meta": {"rows": n}})

    def index_for():
        return indexstore.fixture_index(
            "t", str(src), build, lambda man: man["meta"]["rows"]
        )

    root = tmp / f"spark_graft_t_idx_u{os.getuid()}"
    return index_for, built, root


def test_memo_hit_builds_nothing(cache):
    index_for, built, root = cache
    first = index_for()
    assert len(built) == 1 and os.path.dirname(first) == str(root)
    assert index_for() == first
    assert len(built) == 1


def test_rewritten_source_rebuilds_once(cache, tmp_path):
    index_for, built, root = cache
    first = index_for()
    src = tmp_path / "docs.parquet"
    mtime = os.stat(src).st_mtime_ns
    _write_fixture(src, 5)
    os.utime(src, ns=(mtime + 10**9, mtime + 10**9))
    second = index_for()
    assert second != first and os.path.dirname(second) == str(root)
    assert index_for() == second
    assert len(built) == 2


def test_garbage_at_tag_path_is_replaced(cache, monkeypatch):
    """A fresh process (empty memo) that finds an invalid layout at the
    tag path rebuilds it IN PLACE, so the process after it is served
    the rebuilt copy and builds nothing, and no copy leaks beside it."""
    index_for, built, root = cache
    tag_path = index_for()
    os.remove(os.path.join(tag_path, indexstore.MANIFEST))
    with open(os.path.join(tag_path, "junk"), "w") as fh:
        fh.write("garbage")
    monkeypatch.setattr(indexstore, "_FIXTURE_IDX_CACHE", {})
    assert index_for() == tag_path
    assert len(built) == 2
    assert os.listdir(tag_path) == [indexstore.MANIFEST]
    assert os.listdir(root) == [os.path.basename(tag_path)]
    monkeypatch.setattr(indexstore, "_FIXTURE_IDX_CACHE", {})
    assert index_for() == tag_path
    assert len(built) == 2, "a second process rebuilt a valid copy"


def test_torn_copy_at_tag_path_is_rebuilt(cache, monkeypatch):
    """A layout whose manifest no longer matches its fixture (a stale
    row count) fails validation and is rebuilt in place too."""
    index_for, built, root = cache
    tag_path = index_for()
    indexstore._commit(tag_path, {"tables": {}, "meta": {"rows": 99}})
    monkeypatch.setattr(indexstore, "_FIXTURE_IDX_CACHE", {})
    assert index_for() == tag_path
    assert len(built) == 2
    assert indexstore.manifest(tag_path)["meta"]["rows"] == 3


def test_shared_cache_root_falls_back_to_private_mkdtemp(cache):
    index_for, built, root = cache
    root.mkdir()
    os.chmod(root, 0o755)
    path = index_for()
    private = os.path.dirname(path)
    assert private != str(root)
    assert os.path.basename(private).startswith("spark_graft_t_idx_")
    assert stat.S_IMODE(os.stat(private).st_mode) == 0o700
    assert os.listdir(root) == []
    # the helper behind it: the same rejected root maps to the same
    # private directory for the rest of the process (no mkdtemp per
    # call), and a fresh name gets its own per-user 0700 root
    assert sources.scratch_root("t_idx") == private
    fresh = sources.scratch_root("other")
    assert os.path.basename(fresh) == f"spark_graft_other_u{os.getuid()}"
    assert os.path.dirname(fresh) == str(root.parent)
    assert stat.S_IMODE(os.stat(fresh).st_mode) == 0o700
    assert sources.scratch_root("other") == fresh
