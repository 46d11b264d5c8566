"""One materialization module: ``smartpipeline_spark/materialize.py``
alone persists, checkpoints and releases, and names a storage level
(an AST guard in the style of tests/test_width_contract.py), and a
``materialize.scope`` frees what a call built: persisted frames and
checkpoints alike."""

import ast
import pathlib
import sys
import threading

from conftest import SF_SMOKE

from scripts.check_oracles import held

_PKG = pathlib.Path(__file__).resolve().parent.parent / "smartpipeline_spark"
_OWNER = pathlib.Path("materialize.py")
_MATERIALIZING = {"persist", "cache", "localCheckpoint", "checkpoint", "unpersist"}

# The keys whose call leaves a persisted or checkpointed frame behind
# for its consumer: each held at least one more storage entry inside a
# scope than before it, at sf0.001 on a 4-core local[4] session. The
# other registered keys materialize nothing, or release it in the call.
MATERIALIZING_KEYS = (
    "ext_bpe_train",
    "ext_ccnet_buckets",
    "ext_chunk_dedup",
    "ext_contamination_bloom",
    "ext_dedup_clusters",
    "ext_dedup_jaccard_anchored",
    "ext_dedup_minhash",
    "ext_dedup_ngram_jaccard",
    "ext_hybrid_indexed",
    "ext_hybrid_search",
    "ext_knn_lsh",
    "ext_lang_id_trained",
    "ext_leakage_safe_split",
    "ext_lm_score",
    "ext_lm_stupid_backoff",
    "ext_pagerank",
    "ext_pr_curve",
    "ext_psi_drift",
    "ext_quality_classifier",
    "ext_substring_dedup",
    "ext_unimax_budget",
    "ext_winnow_pairs",
    "ext_zipf_spectrum",
)


def materializations(source: str, filename: str) -> list:
    """``file:line`` of every materializing call not spelled
    ``materialize.<name>(...)`` and every ``StorageLevel`` name."""
    lines = set()
    for node in ast.walk(ast.parse(source, filename)):
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Attribute):
                owner = isinstance(f.value, ast.Name) and f.value.id == "materialize"
                if f.attr in _MATERIALIZING and not owner:
                    lines.add(node.lineno)
            elif isinstance(f, ast.Name) and f.id in _MATERIALIZING:
                lines.add(node.lineno)
        elif (
            (isinstance(node, ast.Name) and node.id == "StorageLevel")
            or (isinstance(node, ast.Attribute) and node.attr == "StorageLevel")
            or (isinstance(node, ast.alias) and node.name.endswith("StorageLevel"))
        ):
            lines.add(node.lineno)
    return [f"{filename}:{n}" for n in sorted(lines)]


def test_guard_flags_planted_materializations():
    src = (
        "df = df.repartition(8).persist()\n"
        "df.cache()\n"
        "x = y.localCheckpoint(eager=True)\n"
        "df.unpersist()\n"
        "from pyspark import StorageLevel\n"
        "lvl = pyspark.StorageLevel.DISK_ONLY\n"
        "z = checkpoint(df)\n"
        "ok = materialize.persist(df)\n"
        "ok = materialize.checkpoint(df)\n"
        "materialize.release(df)\n"
        "doc = 'df.persist(StorageLevel.MEMORY_AND_DISK)'\n"
    )
    assert materializations(src, "m.py") == [f"m.py:{i}" for i in range(1, 8)]


def test_only_the_materialize_module_persists_or_checkpoints():
    hits = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG)
        if rel.parts[0] != "vendor" and rel != _OWNER:
            hits += materializations(path.read_text(), str(rel))
    assert not hits, f"persist, checkpoint and release through materialize: {hits}"


def test_level_parks_oversized_frames_on_disk(spark):
    """A cached frame whose plan-estimated size crowds the unified
    memory pool must go DISK_ONLY (the 8g-vs-16g thrash finding in
    ``git show d3e6f62:SMOKE_r11.json``); frames that fit keep
    MEMORY_AND_DISK, so fixture-scale persists are unchanged."""
    from pyspark import StorageLevel

    from smartpipeline_spark.materialize import _level

    small = spark.range(10)
    assert _level(small) == StorageLevel.MEMORY_AND_DISK
    # range(N) is estimated at 8 bytes/row -> ~800 GB, far past any pool
    huge = spark.range(100_000_000_000)
    assert _level(huge) == StorageLevel.DISK_ONLY


def test_scope_releases_pairing_and_checkpointed_frames(spark):
    """The pairing joins persist their index frames internally and the
    returned lazy frame keeps referencing them, so the operator can
    never release them; the consumer's scope does, and it frees a
    checkpoint's blocks too, which ``unpersist()`` alone does not."""
    from smartpipeline_spark import materialize
    from smartpipeline_spark.functions import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 3} epsilon zeta") for i in range(30)],
        ["doc_id", "text"],
    )
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    with materialize.scope():
        dedup.jaccard_pairs(docs, max_df=None).count()
        cp = materialize.checkpoint(spark.range(7).selectExpr("id * 3 AS x"))
        cp_rdd = cp._jdf.queryExecution().analyzed().rdd().id()
        tracked = list(materialize._SCOPES[-1])
        assert len(tracked) > 1, "pairing join registered no caches"
        assert any(df.storageLevel.useMemory or df.storageLevel.useDisk for df in tracked)
        assert rdds().containsKey(cp_rdd)
    assert materialize._SCOPES == []
    for df in tracked:
        lvl = df.storageLevel
        assert not (lvl.useMemory or lvl.useDisk), "frame still cached"
    assert not rdds().containsKey(cp_rdd), "checkpoint blocks still held"
    # idempotent and safe to call again
    for df in tracked:
        materialize.release(df)


def test_scope_collects_frames_stored_from_other_threads(monkeypatch):
    """Calls store frames from driver threads of their own (the hybrid
    search legs); the caller's scope must release every one of them,
    newest first. JVM-free: ``release`` is replaced by a recorder."""
    from smartpipeline_spark import materialize

    released = []
    monkeypatch.setattr(materialize, "release", released.append)
    chunks = [[object() for _ in range(500)] for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with materialize.scope():
            threads = [
                threading.Thread(target=lambda c=c: [materialize._register(f) for f in c])
                for c in chunks
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=30)
            assert not any(t.is_alive() for t in threads)
            stored = list(materialize._SCOPES[-1])
    finally:
        sys.setswitchinterval(interval)
    assert released == stored[::-1]
    assert sorted(map(id, released)) == sorted(id(f) for c in chunks for f in c)
    assert materialize._SCOPES == []


def test_scope_frees_what_each_materializing_key_built(spark):
    """Each key that materializes builds and runs inside a scope; once
    the scope closes, the session holds no storage entry it did not
    hold before the call, and every plan cached before is still
    cached. Persistent RDD ids held before may vanish meanwhile: the
    ContextCleaner frees the checkpoints of earlier unscoped calls
    whenever the JVM collects them, and a scope never frees an RDD it
    did not register."""
    import __spark_entry__ as entrymod

    from smartpipeline_spark import materialize

    def plans(h):
        return {e for e in h if e[0] == "plan"}

    queries = entrymod.queries()
    built = 0
    for key in MATERIALIZING_KEYS:
        before = held(spark)
        with materialize.scope():
            queries[key](spark, SF_SMOKE).count()
            built += len(held(spark) - before)
        after = held(spark)
        assert not after - before, f"{key} left {sorted(after - before)}"
        assert plans(after) == plans(before), f"{key} freed a plan it did not cache"
    assert built, "the scopes held nothing to free"


def test_iterations_hold_one_round_checkpoint(spark):
    """connected_components checkpoints its labels every round and
    pagerank its ranks every 4 rounds; each frees the previous round's
    checkpoint once the next one is stored, so inside a scope, before
    it closes, one label or rank checkpoint is held, not one per
    round."""
    from smartpipeline_spark import materialize
    from smartpipeline_spark.functions import dedup

    rdds = spark.sparkContext._jsc.getPersistentRDDs

    def held_checkpoints(cols):
        return [
            df
            for df in materialize._SCOPES[-1]
            if set(df.columns) >= cols
            and rdds().containsKey(df._jdf.queryExecution().analyzed().rdd().id())
        ]

    # a chain of 8 nodes: label 0 walks one hop per round (8 rounds)
    chain = spark.createDataFrame([(i, i + 1) for i in range(7)], "d1 long, d2 long")
    with materialize.scope():
        labels = dedup.connected_components(chain)
        assert {r.cluster_id for r in labels.collect()} == {0}
        assert len([df for df in materialize._SCOPES[-1] if "label" in df.columns]) >= 5
        assert len(held_checkpoints({"id", "label"})) == 1

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src long, dst long"
    )
    with materialize.scope():
        ranks = dedup.pagerank(edges, iters=12)
        assert abs(sum(r["rank"] for r in ranks.collect()) - 5.0) < 1e-9
        assert len([df for df in materialize._SCOPES[-1] if "rank" in df.columns]) == 4
        assert len(held_checkpoints({"id", "rank"})) == 1
