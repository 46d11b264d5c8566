"""The build-once fixture-index cache (text._fixture_index_for) and the
private scratch root under it (sources.scratch_root), without a JVM:
a fake build callable stands in for the Spark index writers and
``tempfile.tempdir`` points the cache root into the test's tmp dir."""

import os
import stat
import tempfile

import pytest

from smartpipeline_spark import sources
from smartpipeline_spark.functions import text


@pytest.fixture()
def cache(tmp_path, monkeypatch):
    """A private tempdir and memo, a fixture file, and a counting fake
    build whose output is valid iff it holds the ``ok`` marker."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    monkeypatch.setattr(text, "_FIXTURE_IDX_CACHE", {})
    monkeypatch.setattr(sources, "_FALLBACK_ROOTS", {})
    src = tmp_path / "docs.parquet"
    src.write_bytes(b"fixture")
    built = []

    def build(path):
        built.append(path)
        os.makedirs(path)
        open(os.path.join(path, "ok"), "w").close()

    def valid(path):
        return os.path.exists(os.path.join(path, "ok"))

    def index_for():
        return text._fixture_index_for("t", str(src), build, valid)

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
    src.write_bytes(b"regenerated")
    os.utime(src, ns=(mtime + 10**9, mtime + 10**9))
    second = index_for()
    assert second != first and os.path.dirname(second) == str(root)
    assert index_for() == second
    assert len(built) == 2


def test_garbage_at_tag_path_publishes_under_fresh_name(cache, monkeypatch):
    index_for, built, root = cache
    tag_path = index_for()
    # a fresh process (empty memo) finds garbage planted at the tag path
    os.remove(os.path.join(tag_path, "ok"))
    with open(os.path.join(tag_path, "junk"), "w") as fh:
        fh.write("garbage")
    monkeypatch.setattr(text, "_FIXTURE_IDX_CACHE", {})
    fresh = index_for()
    assert len(built) == 2
    assert fresh != tag_path and fresh.startswith(tag_path + "-")
    assert os.path.exists(os.path.join(fresh, "ok"))
    assert os.listdir(tag_path) == ["junk"]
    assert not [p for p in os.listdir(root) if ".build-" in p]


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
