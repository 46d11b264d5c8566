"""One saved-index store: ``smartpipeline_spark/indexstore.py`` alone
appends to a saved table or writes JSON (an AST guard in the style of
tests/test_materialize.py), and every index family commits through its
one manifest, so a reader or a crash never sees half an append."""

import ast
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from smartpipeline_spark import indexstore

_PKG = pathlib.Path(__file__).resolve().parent.parent / "smartpipeline_spark"
_OWNER = pathlib.Path("indexstore.py")


def store_writes(source: str, filename: str) -> list:
    """``file:line`` of every batch ``.write.mode("append")`` and every
    ``json.dump(...)`` call."""
    lines = set()
    for node in ast.walk(ast.parse(source, filename)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        f = node.func
        appends = (
            f.attr == "mode"
            and isinstance(f.value, ast.Attribute)
            and f.value.attr == "write"
            and any(isinstance(a, ast.Constant) and a.value == "append" for a in node.args)
        )
        dumps = f.attr == "dump" and isinstance(f.value, ast.Name) and f.value.id == "json"
        if appends or dumps:
            lines.add(node.lineno)
    return [f"{filename}:{n}" for n in sorted(lines)]


def test_guard_flags_planted_store_writes():
    src = (
        "df.write.mode('append').parquet(p)\n"
        "df.select('a').write.mode(\n    'append'\n).partitionBy('c').parquet(p)\n"
        "json.dump(obj, fh)\n"
        "q = df.writeStream.outputMode('append').start()\n"
        "df.write.mode('overwrite').parquet(p)\n"
        "s = json.dumps(obj)\n"
        "doc = 'df.write.mode(\"append\")'\n"
    )
    assert store_writes(src, "m.py") == ["m.py:1", "m.py:2", "m.py:5"]


def test_only_the_store_appends_or_writes_json():
    hits = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG)
        if rel.parts[0] != "vendor" and rel != _OWNER:
            hits += store_writes(path.read_text(), str(rel))
    assert not hits, f"append and write JSON through indexstore: {hits}"


def test_no_manifest_is_an_error_naming_the_path(tmp_path):
    with pytest.raises(ValueError, match=str(tmp_path)):
        indexstore.manifest(str(tmp_path))


def test_write_json_replaces_without_leaving_a_temp(tmp_path):
    p = str(tmp_path / "_m.json")
    indexstore.write_json(p, {"a": 1})
    indexstore.write_json(p, {"a": 2})
    assert os.listdir(tmp_path) == ["_m.json"]
    assert open(p).read() == '{"a": 2}'


# ------------------------------------------------ one protocol, six families


def _hashable(v):
    if isinstance(v, (list, tuple)):
        return tuple(_hashable(x) for x in v)
    return v


def _table(spark, path, table, cols=None):
    df = indexstore.read(spark, path, table)
    return sorted(_hashable(tuple(r)) for r in df.select(*(cols or df.columns)).collect())


def _emb(spark):
    from smartpipeline_spark.functions.similarity import _emb

    return _emb(spark, SF_SMOKE)


def _docs(spark):
    from smartpipeline_spark import sources

    return sources.table(spark, "documents", SF_SMOKE).select("doc_id", "text")


def _bm25(spark):
    from smartpipeline_spark.functions import text

    d = _docs(spark)
    return (
        d.filter("doc_id % 2 = 0"),
        d.filter("doc_id % 2 = 1"),
        lambda df, p: text.build_bm25_index(df, p),
        lambda df, p: text.append_to_bm25_index(df, p),
        lambda p: {
            r["doc_id"]: r["raw"] for r in text.query_bm25_index(spark, p).collect()
        },
    )


def _ivf(spark):
    from smartpipeline_spark.functions import similarity as sim

    e = _emb(spark)
    # the held-out slice avoids the training stride: equal centroids
    hold = e.filter((F.col("vec_id") % 7 != 0) & (F.col("vec_id") % 11 == 3))
    q = e.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    return (
        e.join(hold.select("vec_id"), "vec_id", "left_anti"),
        hold,
        sim.build_ivf_index,
        lambda df, p: sim.append_to_ivf_index(spark, p, df),
        lambda p: sorted(map(tuple, sim.query_ivf_index(spark, p, q).collect())),
    )


def _pq(spark):
    from smartpipeline_spark.functions import similarity as sim

    e = _emb(spark)
    # avoids the training AND the fit-reference strides
    hold = e.filter((F.col("vec_id") % 7 > 1) & (F.col("vec_id") % 11 == 3))
    q = e.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    return (
        e.join(hold.select("vec_id"), "vec_id", "left_anti"),
        hold,
        lambda df, p: sim.build_pq_index(df, p, with_cells=True),
        lambda df, p: sim.append_to_pq_index(spark, p, df),
        lambda p: (
            sorted(map(tuple, sim.query_pq_index(spark, p, q, vectors=e).collect())),
            indexstore.manifest(p)["meta"]["pq_fit"],
        ),
    )


def _hnsw(spark):
    from smartpipeline_spark.functions import similarity as sim

    e = _emb(spark)
    # graphs are insert-sequential, so an append adds shards instead
    # of reproducing the rebuild's: compare what they index
    return (
        e.filter("vec_id % 5 != 2"),
        e.filter("vec_id % 5 = 2"),
        sim.build_hnsw_index,
        lambda df, p: sim.append_to_hnsw_index(spark, p, df),
        lambda p: (
            sorted(i for r in indexstore.read(spark, p, "graphs").collect() for i in r["ids"]),
            _table(spark, p, "vectors", ["vec_id"]),
        ),
    )


def _dedup(spark):
    from smartpipeline_spark.functions import dedup

    d = _docs(spark)
    return (
        d.filter("doc_id < 300"),
        d.filter("doc_id >= 300"),
        lambda df, p: dedup.build_dedup_index(spark, df, p),
        lambda df, p: dedup.dedup_against(spark, p, df, append=True).count(),
        lambda p: (_table(spark, p, "fingerprints"), _table(spark, p, "signatures")),
    )


def _cdc(spark):
    import random

    from smartpipeline_spark.functions import dedup

    rng = random.Random(5)
    rows = [(i, " ".join(rng.choice("abcdefgh qrstu") for _ in range(900))) for i in range(10)]
    rows.append((20, rows[0][1]))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    return (
        d.filter("doc_id < 6"),
        d.filter("doc_id >= 6"),
        lambda df, p: dedup.build_cdc_index(spark, df, p),
        lambda df, p: dedup.cdc_dedup_against(spark, p, df, append=True).count(),
        lambda p: _table(spark, p, "chunk_fps"),
    )


FAMILIES = {
    "bm25": _bm25,
    "ivf": _ivf,
    "pq": _pq,
    "hnsw": _hnsw,
    "dedup": _dedup,
    "cdc": _cdc,
}


def _orphans(path):
    man = indexstore.manifest(path)
    return [
        f"{t}/{d}"
        for t in os.listdir(path)
        if os.path.isdir(os.path.join(path, t))
        for d in os.listdir(os.path.join(path, t))
        if d.startswith("seg=") and d[4:] not in indexstore.segments(man, t)
    ]


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_append_reader_atomic(spark, tmp_path, monkeypatch, family):
    """A reader interleaved BETWEEN the two append phases (segments
    written, manifest not yet committed) sees EXACTLY the old index,
    and a reader after the commit exactly the rebuild (the r11 torn
    read, pinned closed for every family). The probe runs inside a
    monkeypatched commit, i.e. at the worst possible instant."""
    old, new, build, append, state = FAMILIES[family](spark)
    path, full = str(tmp_path / "idx"), str(tmp_path / "full")
    build(old, path)
    build(old.unionByName(new), full)
    before = state(path)
    real_commit = indexstore._commit
    mid = []

    def probing_commit(p, man):
        mid.append(state(path))
        real_commit(p, man)

    monkeypatch.setattr(indexstore, "_commit", probing_commit)
    append(new, path)
    monkeypatch.setattr(indexstore, "_commit", real_commit)
    assert mid and mid[0] == before
    assert state(path) == state(full)
    indexstore.verify(path)


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_append_crash_atomic(spark, tmp_path, monkeypatch, family):
    """A crash between segment write and manifest commit leaves the
    published index unchanged (the orphan segments are invisible), a
    retried append converges to the rebuild, and the next compaction
    removes the orphans."""
    old, new, build, append, state = FAMILIES[family](spark)
    path, full = str(tmp_path / "idx"), str(tmp_path / "full")
    build(old, path)
    build(old.unionByName(new), full)
    before = state(path)
    real_commit = indexstore._commit

    def crashing_commit(p, man):
        raise OSError("simulated crash before manifest commit")

    monkeypatch.setattr(indexstore, "_commit", crashing_commit)
    with pytest.raises(OSError, match="simulated crash"):
        append(new, path)
    monkeypatch.setattr(indexstore, "_commit", real_commit)
    assert state(path) == before
    assert _orphans(path), "the crashed append wrote no segment"
    indexstore.verify(path)

    append(new, path)
    assert state(path) == state(full)
    indexstore.compact(spark, path)
    assert not _orphans(path)
    assert state(path) == state(full)
    indexstore.verify(path)


def test_verify_detects_a_torn_segment(spark, tmp_path):
    """A segment whose files no longer hold the rows its manifest
    entry records (a lost or foreign file) fails verify, naming it."""
    path = str(tmp_path / "idx")
    man = indexstore.build(path, {"t": spark.range(10).coalesce(1)})
    seg = indexstore.segments(man, "t")[0]
    spark.range(3).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "x"))
    extra = [f for f in os.listdir(tmp_path / "x") if f.endswith(".parquet")][0]
    os.rename(tmp_path / "x" / extra, tmp_path / "idx" / "t" / f"seg={seg}" / extra)
    with pytest.raises(ValueError, match=f"t/seg={seg}"):
        indexstore.verify(path)
