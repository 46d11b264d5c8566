"""Quality tests for the approximate training-data operators: the
hash-seed-specific paths (MinHash/LSH, SimHash, hyperplane ANN) can't
be SQL-oracled, so they are tested against their exact counterparts
(recall) plus structural invariants."""

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_minhash_recall_against_exact_jaccard(spark):
    from smartpipeline_spark import sources
    from smartpipeline_spark.functions.dedup import (
        jaccard_pairs,
        minhash_candidates,
        minhash_signatures,
    )

    docs = sources.table(spark, "documents", SF_SMOKE)
    exact = {
        (r["d1"], r["d2"])
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    cands = {
        (r["d1"], r["d2"])
        for r in minhash_candidates(minhash_signatures(docs)).collect()
    }
    assert exact, "fixture should contain near-duplicate documents"
    # every high-similarity pair must surface as an LSH candidate
    recall = len(exact & cands) / len(exact)
    assert recall >= 0.9, (recall, exact - cands)


def test_minhash_verified_output_has_no_false_positives(spark):
    from smartpipeline_spark.functions import EXT_QUERIES
    from smartpipeline_spark.functions.dedup import JACCARD_THRESHOLD

    rows = EXT_QUERIES["ext_dedup_minhash"](spark, SF_SMOKE).collect()
    assert all(r["jaccard_verified"] >= JACCARD_THRESHOLD for r in rows)


def test_simhash_pairs_are_symmetric_and_bounded(spark):
    from smartpipeline_spark.functions import EXT_QUERIES

    rows = EXT_QUERIES["ext_dedup_simhash"](spark, SF_SMOKE).collect()
    for r in rows:
        assert r["d1"] < r["d2"]
        assert 0 <= r["hamming"] <= 3


def test_mmr_diversify_trades_relevance_for_diversity(spark):
    """MMR semantics against the brute ranking: pick 1 is exactly the
    relevance top-1; the picked set is genuinely diversified — its
    mean pairwise cosine is strictly below the relevance-only top-k's
    (λ=0.7 leaves room to spend on redundancy); and mmr_score is
    non-increasing in rank (greedy argmax over a penalty that only
    grows)."""
    import numpy as np

    from smartpipeline_spark.functions import EXT_QUERIES
    from smartpipeline_spark.functions.similarity import _MMR_K, _emb

    exact = EXT_QUERIES["ext_knn_bruteforce"](spark, SF_SMOKE).collect()
    mmr = EXT_QUERIES["ext_mmr_diversify"](spark, SF_SMOKE).collect()
    embs = {
        r["vec_id"]: np.asarray(r["emb"]) for r in _emb(spark, SF_SMOKE).collect()
    }

    def mean_pairwise(ids):
        vs = [embs[i] / np.linalg.norm(embs[i]) for i in ids]
        sims = [float(a @ b) for x, a in enumerate(vs) for b in vs[:x]]
        return sum(sims) / len(sims)

    by_q_exact, by_q_mmr = {}, {}
    for r in exact:
        by_q_exact.setdefault(r["query_id"], {})[r["rank"]] = r["neighbor_id"]
    for r in mmr:
        by_q_mmr.setdefault(r["query_id"], []).append(r)
    assert set(by_q_mmr) == set(by_q_exact)
    diversified = 0
    for qid, rows in by_q_mmr.items():
        rows.sort(key=lambda r: r["mmr_rank"])
        assert len(rows) == _MMR_K
        assert rows[0]["neighbor_id"] == by_q_exact[qid][1]  # top-1 rel
        scores = [r["mmr_score"] for r in rows]
        assert scores == sorted(scores, reverse=True), (qid, scores)
        topk_ids = [by_q_exact[qid][k] for k in range(1, _MMR_K + 1)]
        if mean_pairwise([r["neighbor_id"] for r in rows]) < mean_pairwise(topk_ids):
            diversified += 1
    assert diversified >= 0.8 * len(by_q_mmr), diversified


def test_lsh_ann_recall_against_bruteforce(spark):
    from smartpipeline_spark.functions import EXT_QUERIES

    exact = EXT_QUERIES["ext_knn_bruteforce"](spark, SF_SMOKE).collect()
    approx = EXT_QUERIES["ext_knn_lsh"](spark, SF_SMOKE).collect()
    exact_top3 = {
        (r["query_id"], r["neighbor_id"]) for r in exact if r["rank"] <= 3
    }
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx}
    # single-table hyperplane LSH: recall of the very top neighbors
    recall = len(exact_top3 & approx_pairs) / len(exact_top3)
    assert recall >= 0.3, recall


def test_ivf_ann_recall_against_bruteforce(spark):
    """IVF with nprobe=8/k=16 on i.i.d. gaussian vectors (the
    locality-free worst case) still recovers well over half the exact
    top-10; measured ~0.73-0.76, asserted with margin. Also checks the
    per-query output contract (ranked, <= k rows each)."""
    from smartpipeline_spark.functions import EXT_QUERIES

    exact = EXT_QUERIES["ext_knn_bruteforce"](spark, SF_SMOKE).collect()
    approx = EXT_QUERIES["ext_knn_ivf"](spark, SF_SMOKE).collect()
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.55, recall
    per_query = {}
    for r in approx:
        per_query.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_query.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_oracle_pins_match_reference():
    """The _IVF_CENTROID_PINS behind the ext_knn_ivf replay oracle must
    stay re-derivable from the frozen fixtures: same deterministic
    vec_id%7 sample, same _ivf_kmeans core, byte-identical doubles
    (repr equality — the oracle emits them via repr, so any drift in
    the trainer or fixture reddens this before a driver row). Also
    re-checks the fingerprint key each pin is filed under. No Spark
    involved."""
    import duckdb
    import numpy as np

    from smartpipeline_spark.functions.similarity import (
        _IVF_CENTROID_PINS,
        _IVF_SAMPLE_CAP,
        _ivf_kmeans,
    )

    con = duckdb.connect()
    seen = {}
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        pq = f"/root/testdata/{sf}/embeddings.parquet"
        fp = con.sql(
            f"""SELECT CAST(COUNT(*) AS VARCHAR) || ':' ||
                CAST(SUM(CAST(embedding[1] AS DECIMAL(28,14))) AS VARCHAR)
                FROM read_parquet('{pq}')"""
        ).fetchone()[0]
        m = con.sql(
            f"""SELECT embedding::DOUBLE[] AS e FROM read_parquet('{pq}')
                WHERE vec_id % 7 = 0 ORDER BY vec_id LIMIT {_IVF_SAMPLE_CAP}"""
        ).fetchnumpy()["e"]
        seen[fp] = [[repr(x) for x in row] for row in _ivf_kmeans(np.stack(m))]
    pinned = {
        fp: [[repr(x) for x in row] for row in cents]
        for fp, cents in _IVF_CENTROID_PINS.items()
    }
    assert seen == pinned, "fixture-derived centroids diverge from the pinned oracle table"


def test_spread_groups_one_range_exchange_one_partition_per_group(spark):
    """The AQE-coalescing countermeasure's two load-bearing claims:
    (1) the explicit range repartition is the ONLY exchange — Catalyst
    accepts the range layout as satisfying the groupBy clustering, so
    no hash exchange re-appears (which would both re-coalesce under
    AQE and re-collide the small-int labels); (2) distinct groups
    land in distinct partitions — the property hash partitioning
    lacks (consecutive small ints collide under murmur3)."""
    from pyspark.sql import functions as F

    from smartpipeline_spark.functions.similarity import _spread_groups

    df = spark.range(0, 400).select((F.col("id") % 4).alias("g"), "id")
    spread = _spread_groups(df, 4, "g")
    applied = spread.groupBy("g").applyInPandas(
        lambda _k, p: p[["id"]], "id long"
    )
    plan = applied._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), plan
    assert plan.count("Exchange") == 1, plan
    pids = (
        spread.withColumn("p", F.spark_partition_id())
        .select("g", "p")
        .distinct()
        .collect()
    )
    by_group = {}
    for r in pids:
        by_group.setdefault(r.g, set()).add(r.p)
    assert all(len(v) == 1 for v in by_group.values()), by_group
    assert len({next(iter(v)) for v in by_group.values()}) == 4, by_group


def test_hnsw_ann_recall_against_bruteforce(spark):
    """Per-partition HNSW (M=8, efC=64, efS=48): measured recall 1.0
    on the 500-vector fixture (shards are small enough that the graph
    search is near-exhaustive); asserted at 0.85 with margin for
    parameter drift. Output contract: exactly k ranked rows per query
    (the k+1 shard fetch covers the self-match exclusion)."""
    from smartpipeline_spark.functions import EXT_QUERIES

    exact = EXT_QUERIES["ext_knn_bruteforce"](spark, SF_SMOKE).collect()
    approx = EXT_QUERIES["ext_knn_hnsw"](spark, SF_SMOKE).collect()
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.85, recall
    per_query = {}
    for r in approx:
        per_query.setdefault(r["query_id"], []).append(r["rank"])
    assert len(per_query) == 10
    for ranks in per_query.values():
        assert sorted(ranks) == list(range(1, 11))


def test_hnsw_graph_local_search_matches_exhaustive():
    """Graph-navigability attestation on the local kernel: on a
    planted corpus of well-separated gaussian clusters, HNSW search
    must return the exhaustive top-k for every in-cluster query (the
    regime where greedy graph descent cannot get stuck), and the
    build must be deterministic for a fixed seed."""
    import numpy as np

    from smartpipeline_spark.functions.similarity import (
        _hnsw_build,
        _hnsw_search,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(5, 32)) * 10.0
    vecs = np.concatenate(
        [c + rng.normal(scale=0.1, size=(40, 32)) for c in centers]
    )
    nvecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    g1 = _hnsw_build(nvecs, seed=3)
    g2 = _hnsw_build(nvecs, seed=3)
    assert g1[2] == g2[2] and [sorted(d.items()) for d in g1[1]] == [
        sorted(d.items()) for d in g2[1]
    ], "HNSW build must be deterministic for a fixed seed"
    levels, adj, entry, max_level = g1
    sims = nvecs @ nvecs.T
    for qi in range(0, 200, 17):
        want = set(np.argsort(-sims[qi])[:5].tolist())
        got = {
            n for _s, n in _hnsw_search(nvecs, adj, entry, max_level, nvecs[qi], 5)
        }
        assert got == want, (qi, got, want)


def test_hnsw_saved_index_matches_inline(spark, tmp_path):
    """build_hnsw_index persists the same pmod shard layout and the
    same per-shard graphs the inline key builds (sorted ids, min-id
    seed), so querying the saved index must reproduce the inline
    output EXACTLY — the saved-vs-inline contract the IVF/PQ indexes
    pin, extended to the graph member."""
    from smartpipeline_spark.functions import EXT_QUERIES
    from smartpipeline_spark.functions.similarity import (
        N_QUERIES,
        _emb,
        build_hnsw_index,
        query_hnsw_index,
    )

    e = _emb(spark, SF_SMOKE)
    path = str(tmp_path / "hnsw_idx")
    build_hnsw_index(e, path)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    saved = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["score"])
        for r in query_hnsw_index(spark, path, q).collect()
    }
    inline = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["score"])
        for r in EXT_QUERIES["ext_knn_hnsw"](spark, SF_SMOKE).collect()
    }
    assert saved == inline and saved


def test_hnsw_append_adds_disjoint_shards_and_finds_planted_twin(
    spark, tmp_path
):
    """Appending writes NEW shard graphs (disjoint id range, built
    ones immutable byte-for-byte) and appended vectors are findable:
    a planted near-duplicate of query 0 lands at rank 1."""
    from smartpipeline_spark import indexstore
    from smartpipeline_spark.functions.similarity import (
        N_QUERIES,
        _emb,
        append_to_hnsw_index,
        build_hnsw_index,
        query_hnsw_index,
    )

    e = _emb(spark, SF_SMOKE)
    path = str(tmp_path / "hnsw_idx")
    build_hnsw_index(e, path)
    graphs_before = {
        r["shard"]: (r["entry"], tuple(r["ids"]))
        for r in indexstore.read(spark, path, "graphs").collect()
    }
    q0 = e.filter(F.col("vec_id") == 0).collect()[0]["emb"]
    twin = [v + (0.001 if i == 0 else 0.0) for i, v in enumerate(q0)]
    # fillers are DISTINCT deterministic vectors: a batch of exact
    # duplicates is outside the graph's contract (exact dedup runs
    # before ANN indexing in this package's own pipeline ordering)
    new = spark.createDataFrame(
        [
            (
                10_000 + i,
                twin
                if i == 0
                else [float((i * 7 + j * 3) % 13) - 6.0 for j in range(len(q0))],
            )
            for i in range(40)
        ],
        "vec_id long, emb array<double>",
    )
    rep = append_to_hnsw_index(spark, path, new)
    assert rep["n_appended"] == 40 and rep["new_shards"] >= 1
    after = {
        r["shard"]: (r["entry"], tuple(r["ids"]))
        for r in indexstore.read(spark, path, "graphs").collect()
    }
    for shard, sig in graphs_before.items():
        assert after[shard] == sig, "built shards must be immutable"
    assert set(after) - set(graphs_before), "append must add new shards"
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    got = query_hnsw_index(spark, path, q).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in got if r["rank"] == 1}
    assert top1[0] == 10_000, "planted near-dup twin must outrank everything"


def test_pq_ann_recall_against_bruteforce(spark):
    """PQ (8x256 codebooks) with ADC + exact re-rank of the top 100
    candidates: measured recall ~0.89-0.91 on the i.i.d. gaussian
    corpus (the locality-free worst case), asserted with margin. The
    re-rank contract also means no false positives can outrank a
    re-scored true neighbor — the emitted scores are exact."""
    from smartpipeline_spark.functions import EXT_QUERIES

    exact = EXT_QUERIES["ext_knn_bruteforce"](spark, SF_SMOKE).collect()
    approx = EXT_QUERIES["ext_knn_pq"](spark, SF_SMOKE).collect()
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.75, recall
    # exact-score contract: every emitted (pair, score) that brute
    # force also emits carries the identical rounded score
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["score"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert abs(r["score"] - exact_scores[key]) < 1e-9, key
    per_query = {}
    for r in approx:
        per_query.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_query.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivfpq_ann_recall_tracks_ivf_ceiling(spark):
    """IVF+PQ composes both approximations; since the exact re-rank
    recovers PQ's quantization error, recall should sit at (not far
    below) plain IVF's nprobe ceiling — measured ~0.70-0.74 vs IVF's
    ~0.73-0.76 on the gaussian corpus."""
    from smartpipeline_spark.functions import EXT_QUERIES

    exact = EXT_QUERIES["ext_knn_bruteforce"](spark, SF_SMOKE).collect()
    ivfpq = EXT_QUERIES["ext_knn_ivfpq"](spark, SF_SMOKE).collect()
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
    ivfpq_pairs = {(r["query_id"], r["neighbor_id"]) for r in ivfpq}
    recall = len(exact_pairs & ivfpq_pairs) / len(exact_pairs)
    assert recall >= 0.55, recall
    per_query = {}
    for r in ivfpq:
        per_query.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_query.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_exact_dedup_keeps_one_per_group(spark):
    from smartpipeline_spark.functions import EXT_QUERIES

    df = EXT_QUERIES["ext_dedup_exact"](spark, SF_SMOKE)
    agg = df.agg(
        F.count("*").alias("groups"), F.sum("n_copies").alias("total")
    ).collect()[0]
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert agg["total"] == n_docs
    assert agg["groups"] <= n_docs


def test_multimodal_decode_real_roundtrip(spark):
    """Decode is REAL: valid PNG/BMP/WAV bytes are written and their
    container headers parsed back; metadata must equal the synthesis
    parametrization (functions of doc_id)."""
    from smartpipeline_spark.functions import EXT_QUERIES

    rows = EXT_QUERIES["ext_multimodal_decode"](spark, SF_SMOKE).collect()
    assert len(rows) == 500
    for r in rows:
        i = r["doc_id"]
        if i % 3 < 2:
            assert r["kind"] == ("png" if i % 3 == 0 else "bmp")
            assert r["width"] == 4 + i % 29 and r["height"] == 4 + i % 17
            assert r["duration_ms"] is None
        else:
            assert r["kind"] == "wav"
            assert r["duration_ms"] == (400 + (i % 50) * 80) // 8
            assert r["width"] is None


def test_media_codec_kernels_pixel_exact():
    """Pure-stdlib codec kernels: PNG unfilter (all 5 filter types),
    nearest-neighbor resize pixel math, WAV frame windowing."""
    import struct
    import zlib

    from smartpipeline_spark.functions.multimodal import (
        _png_from_pixels,
        _png_pixels,
        bmp_bytes,
        decode_media,
        png_bytes,
        resize_image,
        wav_bytes,
        wav_frames,
    )

    # decode-to-pixels inverts the encoder exactly
    w, h, bpp, rows = _png_pixels(png_bytes(7, 5))
    assert (w, h, bpp) == (7, 5, 3)
    assert list(rows[2]) == [(x + 6) % 256 for x in range(21)]

    # all five PNG filter types unfilter correctly: hand-filter a known
    # image with Sub/Up/Average/Paeth and check we recover the pixels
    plain = [bytearray((x * 7 + y * 13) % 256 for x in range(12)) for y in range(4)]
    filtered = bytearray()
    prev = bytearray(12)
    for y, line in enumerate(plain):
        ftype = y % 4 + 1  # 1=Sub 2=Up 3=Average 4=Paeth
        enc = bytearray(line)
        for i in reversed(range(12)):
            a = line[i - 3] if i >= 3 else 0
            b_ = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            if ftype == 1:
                enc[i] = (line[i] - a) & 0xFF
            elif ftype == 2:
                enc[i] = (line[i] - b_) & 0xFF
            elif ftype == 3:
                enc[i] = (line[i] - ((a + b_) >> 1)) & 0xFF
            else:
                p = a + b_ - c
                pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b_ if pb <= pc else c)
                enc[i] = (line[i] - pred) & 0xFF
        filtered += bytes([ftype]) + bytes(enc)
        prev = line

    def chunk(tag, data):
        body = tag + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    hand_png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(filtered)))
        + chunk(b"IEND", b"")
    )
    _, _, _, got = _png_pixels(hand_png)
    assert [list(r) for r in got] == [list(r) for r in plain]

    # round trip through the encoder
    again = _png_from_pixels(4, 4, 3, got)
    assert [list(r) for r in _png_pixels(again)[3]] == [list(r) for r in plain]

    # nearest-neighbor resize: 2x2 -> 4x4 duplicates each pixel
    px = [bytearray([1, 1, 1, 2, 2, 2]), bytearray([3, 3, 3, 4, 4, 4])]
    small = _png_from_pixels(2, 2, 3, px)
    up = resize_image(small, 4, 4)
    uw, uh, _, urows = _png_pixels(up)
    assert (uw, uh) == (4, 4)
    assert list(urows[0]) == [1, 1, 1, 1, 1, 1, 2, 2, 2, 2, 2, 2]
    assert list(urows[3]) == [3, 3, 3, 3, 3, 3, 4, 4, 4, 4, 4, 4]

    # BMP resize parses back with the target dims
    small_bmp = decode_media(resize_image(bmp_bytes(10, 8), 5, 4))
    assert (small_bmp["kind"], small_bmp["width"], small_bmp["height"]) == ("bmp", 5, 4)

    # WAV frames: 800 samples @8kHz = 100ms -> two 50ms frames of 800 bytes
    frames = wav_frames(wav_bytes(800, 8000), frame_ms=50)
    assert [len(f) for f in frames] == [800, 800]


def test_multimodal_resize_and_frames_queries(spark):
    from smartpipeline_spark.functions import EXT_QUERIES

    resized = EXT_QUERIES["ext_multimodal_resize"](spark, SF_SMOKE).collect()
    assert len(resized) == 500
    for r in resized:
        if r["kind"] in ("png", "bmp"):
            assert (r["width"], r["height"]) == (16, 12)
        else:
            assert r["kind"] == "wav"

    frames = EXT_QUERIES["ext_multimodal_frames"](spark, SF_SMOKE)
    import pyspark.sql.functions as F

    per_doc = frames.groupBy("doc_id").count().collect()
    for r in per_doc:
        i = r["doc_id"]
        if i % 3 == 2:  # wav: ceil(n_samples/400) 50ms frames
            n_samples = 400 + (i % 50) * 80
            assert r["count"] == -(-n_samples // 400)
        else:
            assert r["count"] == 1


def test_training_data_curation_pipeline(spark):
    """The end-to-end curation composition (examples/
    training_data_pipeline.py): exact dedup -> cluster-resolved
    near-dup removal -> quality/lang/LM gates -> chunk novelty ->
    redaction -> split. Survivors must be unique, english,
    quality-gated, split-assigned, and exactly one doc per near-dup
    cluster survives its cluster."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "training_data_pipeline",
        Path(__file__).resolve().parents[1] / "examples" / "training_data_pipeline.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    curated = mod.curate(spark, SF_SMOKE).collect()
    assert 0 < len(curated) <= 500
    ids = [r["doc_id"] for r in curated]
    assert len(ids) == len(set(ids))
    assert all(r["pred_lang"] == "en" and r["quality"] >= 0.7 for r in curated)
    assert all(r["split"] in ("train", "val", "test") for r in curated)
    assert all(r["avg_logprob"] > -8.0 and r["novelty"] >= 0.2 for r in curated)

    from smartpipeline_spark.functions import EXT_QUERIES
    from smartpipeline_spark.functions.dedup import connected_components

    pairs = EXT_QUERIES["ext_dedup_minhash"](spark, SF_SMOKE)
    clusters = connected_components(pairs, "d1", "d2").collect()
    # every surviving member of a near-dup cluster is its canonical doc
    for r in clusters:
        if r["id"] in set(ids):
            assert r["id"] == r["cluster_id"]


def test_fuzzy_pairs_blocked_levenshtein(spark):
    from smartpipeline_spark.functions.dedup import fuzzy_pairs

    df = spark.createDataFrame(
        [{"name": n} for n in
         ["red bolt", "blue bolt", "red bolt", "grey bolt",
          "small gear", "smol gear", "ring"]]
    )
    got = {(r.n1, r.n2, r.dist) for r in fuzzy_pairs(df, "name").collect()}
    # identical strings excluded (min_dist=1); cross-block pairs never
    # compared ("ring" matches nothing; bolt never vs gear)
    assert ("grey bolt", "red bolt", 2) in got
    assert ("small gear", "smol gear", 2) in got
    # blue/red bolt are distance 4 — outside the default cap, inside a wider one
    assert not any({a, b} == {"blue bolt", "red bolt"} for a, b, _ in got)
    wider = {(r.n1, r.n2, r.dist) for r in fuzzy_pairs(df, "name", max_dist=4).collect()}
    assert ("blue bolt", "red bolt", 4) in wider
    assert all(d >= 1 for _, _, d in got)
    assert not any("ring" in (a, b) for a, b, _ in got)
    assert not any(("gear" in a) != ("gear" in b) for a, b, _ in got)


def test_collation_aware_grouping_and_equality(spark):
    """Spark 4 collations: case-/accent-insensitive semantics on the
    COLUMN TYPE itself, JVM-side — the declarative alternative to
    lower()/regexp normalization for dedup keys (normalization
    rewrites the value; collation keeps it and changes comparison)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [{"s": x} for x in ["Apfel", "apfel", "ÄPFEL", "äpfel", "Banane"]]
    )
    groups = {
        r["count"]
        for r in df.groupBy(F.collate(F.col("s"), "UNICODE_CI_AI").alias("k"))
        .count()
        .collect()
    }
    assert groups == {4, 1}  # all Apfel variants fold together
    ci = df.filter(F.collate(F.col("s"), "UNICODE_CI") == F.lit("APFEL"))
    assert ci.count() == 2  # case folds, accents do not


def test_semantic_dedup_recall_against_brute(spark):
    """Cell-bucketed semantic dedup vs the exact all-pairs baseline:
    no false positives (every reported pair is a true above-threshold
    pair) and high recall (only cell-boundary pairs may be missed)."""
    from smartpipeline_spark.functions import EXT_QUERIES

    brute = {
        (r.v1, r.v2) for r in EXT_QUERIES["ext_dedup_embedding"](spark, SF_SMOKE).collect()
    }
    cells = {
        (r.v1, r.v2) for r in EXT_QUERIES["ext_dedup_semantic"](spark, SF_SMOKE).collect()
    }
    assert cells <= brute  # precision 1.0 by construction
    assert brute, "fixture must contain near-duplicate embeddings"
    recall = len(cells) / len(brute)
    assert recall >= 0.5, recall


def test_bpe_training_matches_reference_implementation(spark):
    """The distributed BPE trainer must learn exactly the merge
    sequence a textbook single-machine implementation learns (same
    (freq desc, left, right) tie-breaking)."""
    from collections import Counter

    from smartpipeline_spark.functions.text import train_bpe

    texts = [
        "low lower lowest new newer newest",
        "low low new new new wider wide wide",
        "the lowest the newest the widest",
    ]
    df = spark.createDataFrame([{"doc_id": i, "text": t} for i, t in enumerate(texts)])
    got = train_bpe(df, n_merges=12)

    # reference: classic word-freq BPE with identical tie-breaks
    wordfreq = Counter(w for t in texts for w in t.lower().split())
    vocab = {tuple(w): f for w, f in wordfreq.items()}
    want = []
    for _ in range(12):
        pairs = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if best[1] < 2:
            break
        a, b = best[0]
        want.append((a, b))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    assert got == want, (got, want)


def test_bpe_train_oracle_pins_match_reference():
    """The BPE_TRAIN_REFERENCE_PINS behind the ext_bpe_train oracle
    must stay re-derivable from the frozen fixtures by the pure-python
    textbook BPE — this re-runs that reference over every ladder dir
    so a fixture or pin drift fails here before it reddens a driver
    row. (No Spark involved: the pins' whole point is independence
    from the distributed trainer.)"""
    from collections import Counter

    import duckdb

    from smartpipeline_spark.functions.text import BPE_TRAIN_REFERENCE_PINS

    def reference(texts, n_merges=12):
        wordfreq = Counter(w for t in texts for w in t.lower().split())
        vocab = {tuple(w): f for w, f in wordfreq.items()}
        out = []
        for _ in range(n_merges):
            pairs = Counter()
            for syms, f in vocab.items():
                for i in range(len(syms) - 1):
                    pairs[(syms[i], syms[i + 1])] += f
            if not pairs:
                break
            best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            if best[1] < 2:
                break
            a, b = best[0]
            out.append((a, b))
            nv = {}
            for syms, f in vocab.items():
                o, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        o.append(a + b)
                        i += 2
                    else:
                        o.append(syms[i])
                        i += 1
                nv[tuple(o)] = nv.get(tuple(o), 0) + f
            vocab = nv
        return out

    con = duckdb.connect()
    seen = {}
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        texts = [
            r[0]
            for r in con.sql(
                f"SELECT text FROM read_parquet('/root/testdata/{sf}/documents.parquet')"
            ).fetchall()
        ]
        fp = f"{len(texts)}:{sum(len(t) for t in texts)}"
        seen[fp] = reference(texts)
    assert seen == BPE_TRAIN_REFERENCE_PINS, (
        "fixture-derived reference merges diverge from the pinned oracle "
        f"table: {seen} != {BPE_TRAIN_REFERENCE_PINS}"
    )


def test_bpe_tokenize_applies_merges_in_rank_order(spark):
    from smartpipeline_spark.functions.text import bpe_tokenize, train_bpe

    texts = ["low low lower lowest", "new newer newest low"]
    df = spark.createDataFrame([{"doc_id": i, "text": t} for i, t in enumerate(texts)])
    merges = train_bpe(df, n_merges=6)
    toks = {r.doc_id: r.tokens for r in bpe_tokenize(df, merges).collect()}
    flat = [t for ts in toks.values() for t in ts]
    # every token is either a learned merge product or a single char
    products = set()
    for a, b in merges:
        products.add(a + b)
    assert all(len(t) == 1 or any(p in t for p in products) or t in products for t in flat)
    # 'low' appears often enough that it must have fused into one token
    assert "low" in flat
    # untokenized text reconstructs exactly
    for i, t in enumerate(texts):
        assert "".join(toks[i]) == t.replace(" ", "")


def test_winnowing_robust_to_single_char_edit(spark):
    """The property winnowing exists for: a 1-char edit leaves most
    fingerprints shared (whole-doc md5 shares none), and any shared
    substring of length >= w+k-1 guarantees >= 1 shared fingerprint."""
    from smartpipeline_spark.functions import EXT_QUERIES
    from smartpipeline_spark.functions.dedup import WINNOW_K, WINNOW_W

    base = "the quick brown fox jumps over the lazy dog and keeps on running far away"
    edited = base.replace("lazy", "hazy")
    df = spark.createDataFrame(
        [{"doc_id": 1, "text": base}, {"doc_id": 2, "text": edited},
         {"doc_id": 3, "text": "completely different content with nothing in common here at all"}]
    )
    df.createOrReplaceTempView("_winnow_docs")
    # drive the operator through its library expression on this frame
    import smartpipeline_spark.functions.dedup as dd
    from smartpipeline_spark import sources as _s
    orig = _s.table
    try:
        _s.table = lambda spark, name, sf: df
        fps = {1: set(), 2: set(), 3: set()}
        for r in EXT_QUERIES["ext_winnow"](spark, "unused").collect():
            fps[r.doc_id].add(r.fp)
    finally:
        _s.table = orig
    shared = fps[1] & fps[2]
    assert len(shared) >= 1  # guarantee: long shared substrings surface
    # most fingerprints survive the 1-char edit
    assert len(shared) / len(fps[1]) > 0.5
    # unrelated docs share (almost) nothing
    assert len(fps[1] & fps[3]) <= 1


def test_pagerank_matches_reference_power_iteration(spark):
    from smartpipeline_spark.functions.dedup import pagerank

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)]  # 3 is the authority
    df = spark.createDataFrame([{"src": a, "dst": b} for a, b in edges])
    got = {r.id: r.rank for r in pagerank(df, iters=20).collect()}

    # reference power iteration, identical damping/dangling handling
    nodes = {1, 2, 3, 4}
    out = {}
    for a, b in edges:
        out.setdefault(a, []).append(b)
    ranks = {n: 1.0 for n in nodes}
    for _ in range(20):
        inflow = {n: 0.0 for n in nodes}
        for a, targets in out.items():
            for b in targets:
                inflow[b] += ranks[a] / len(targets)
        dmass = sum(r for n, r in ranks.items() if n not in out)
        ranks = {
            n: 0.15 + 0.85 * (inflow[n] + dmass / len(nodes)) for n in nodes
        }
    for n in nodes:
        assert abs(got[n] - ranks[n]) < 1e-9, (n, got[n], ranks[n])
    assert got[3] == max(got.values())  # the authority wins

    # deterministic_sums (the oracle-portable DECIMAL accumulator)
    # agrees with the plain-double path to quantization error and is
    # rerun-identical bit-for-bit
    det1 = {r.id: r.rank for r in pagerank(df, iters=20, deterministic_sums=True).collect()}
    det2 = {r.id: r.rank for r in pagerank(df, iters=20, deterministic_sums=True).collect()}
    assert det1 == det2
    for n in nodes:
        assert abs(det1[n] - got[n]) < 1e-9, (n, det1[n], got[n])


def test_ivf_saved_index_matches_inline_and_prunes_partitions(spark, tmp_path):
    import io
    from contextlib import redirect_stdout

    from smartpipeline_spark.functions import EXT_QUERIES
    from smartpipeline_spark.functions.similarity import (
        _emb,
        build_ivf_index,
        query_ivf_index,
        N_QUERIES,
    )

    idx_path = str(tmp_path / "ivf_index")
    e = _emb(spark, SF_SMOKE)
    build_ivf_index(e, idx_path)

    queries = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    from_disk = query_ivf_index(spark, idx_path, queries)

    # identical results to the inline single-job path (same centroids:
    # deterministic seeded training)
    inline = EXT_QUERIES["ext_knn_ivf"](spark, SF_SMOKE)
    assert sorted(map(tuple, from_disk.collect())) == sorted(
        map(tuple, inline.collect())
    )

    # the probe scan must prune cell directories, not read the corpus
    buf = io.StringIO()
    with redirect_stdout(buf):
        from_disk.explain("formatted")
    plan = buf.getvalue()
    # the filter must be INSIDE the PartitionFilters list — an empty
    # "PartitionFilters: []" line prints for every partitioned scan, so
    # substring presence alone cannot detect a lost pushdown
    import re as _re

    assert _re.search(r"PartitionFilters: \[[^\]]*cell", plan), plan


def test_ivf_append_equals_rebuild_and_flags_drift(spark, tmp_path):
    from smartpipeline_spark.functions.similarity import (
        _emb,
        append_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
        N_QUERIES,
    )

    e = _emb(spark, SF_SMOKE)
    # the held-out append slice avoids vec_id % 7 == 0 so the
    # deterministic training stride sees the SAME sample for the base
    # and full corpora -> identical centroids -> build+append must be
    # bit-equal to a from-scratch rebuild, not merely recall-equal
    hold = e.filter((F.col("vec_id") % 7 != 0) & (F.col("vec_id") % 11 == 3))
    base = e.join(hold.select("vec_id"), "vec_id", "left_anti")
    incr, full = str(tmp_path / "ivf_incr"), str(tmp_path / "ivf_full")
    build_ivf_index(base, incr)
    rep = append_to_ivf_index(spark, incr, hold)
    build_ivf_index(e, full)

    queries = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    got = sorted(map(tuple, query_ivf_index(spark, incr, queries).collect()))
    want = sorted(map(tuple, query_ivf_index(spark, full, queries).collect()))
    assert got == want
    assert rep["appended"] == hold.count()
    # an in-distribution batch spreads over cells: no retrain signal
    assert rep["retrain_recommended"] is False
    assert rep["cells_touched"] > 1

    # adversarial drift: a novel tight cluster (200 copies of one
    # vector) piles into a single cell and must trip the signal
    one = e.limit(1).collect()[0]["emb"]
    novel = spark.createDataFrame(
        [(10_000_000 + i, one) for i in range(200)], "vec_id long, emb array<double>"
    )
    rep2 = append_to_ivf_index(spark, incr, novel)
    assert rep2["max_cell_frac"] == 1.0
    assert rep2["retrain_recommended"] is True


def test_ivf_append_auto_compacts_cells(spark, tmp_path, monkeypatch):
    """Verdict r11 #4: appends accumulate one segment (one file per
    task x cell) each; once the segments pass the store's
    COMPACT_AFTER the append APIs trigger the reader-safe compaction
    inline. After N appends the layout must be back to ~1 file per
    cell (file-count asserted), the centroids must survive in the
    manifest, and (build; append*) must still query-equal the
    rebuild."""
    import os

    from smartpipeline_spark import indexstore
    from smartpipeline_spark.functions.similarity import (
        N_QUERIES,
        _emb,
        append_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
    )
    from smartpipeline_spark.operators.scale import _data_files

    def max_files_per_cell(path):
        from collections import Counter

        # a probe of one cell opens its files in every live segment
        per = Counter(os.path.basename(os.path.dirname(f)) for f in _data_files(path))
        return max(per.values())

    monkeypatch.setattr(indexstore, "COMPACT_AFTER", 2)
    e = _emb(spark, SF_SMOKE)
    hold = e.filter((F.col("vec_id") % 7 != 0) & (F.col("vec_id") % 11 == 3))
    base = e.join(hold.select("vec_id"), "vec_id", "left_anti")
    incr, full = str(tmp_path / "ivf_incr"), str(tmp_path / "ivf_full")
    build_ivf_index(base, incr)
    build_ivf_index(e, full)

    # drive appends with a tight threshold until one reports compaction
    slices = [hold.filter(F.col("vec_id") % 5 == i) for i in range(5)]
    compact_seen = False
    for s in slices:
        rep = append_to_ivf_index(spark, incr, s)
        compact_seen = compact_seen or rep["compacted"]
    assert compact_seen, "threshold never tripped the inline compaction"
    # last append may have re-accumulated at most threshold files
    assert max_files_per_cell(incr) <= 2 + 1
    assert "centroids" in indexstore.manifest(incr)["meta"]

    queries = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    got = sorted(map(tuple, query_ivf_index(spark, incr, queries).collect()))
    want = sorted(map(tuple, query_ivf_index(spark, full, queries).collect()))
    assert got == want


def test_pq_append_auto_compacts_and_keeps_sidecars(spark, tmp_path, monkeypatch):
    """Same contract on the PQ side (flat layout): threshold-tripped
    inline compaction, the codebooks and the fit reference survive in
    the manifest, and the compacted index queries identically to
    build-on-concat."""
    from smartpipeline_spark import indexstore
    from smartpipeline_spark.functions.similarity import (
        N_QUERIES,
        _emb,
        append_to_pq_index,
        build_pq_index,
        query_pq_index,
    )
    from smartpipeline_spark.operators.scale import _data_files

    monkeypatch.setattr(indexstore, "COMPACT_AFTER", 2)
    e = _emb(spark, SF_SMOKE)
    hold = e.filter((F.col("vec_id") % 7 != 0) & (F.col("vec_id") % 11 == 3))
    base = e.join(hold.select("vec_id"), "vec_id", "left_anti")
    incr, full = str(tmp_path / "pq_incr"), str(tmp_path / "pq_full")
    build_pq_index(base, incr)
    build_pq_index(e, full)

    compact_seen = False
    for i in range(5):
        rep = append_to_pq_index(spark, incr, hold.filter(F.col("vec_id") % 5 == i))
        compact_seen = compact_seen or rep["compacted"]
    assert compact_seen
    assert len(_data_files(incr)) <= 2 + 1
    for key in ("codebooks", "pq_fit"):
        assert key in indexstore.manifest(incr)["meta"], key

    queries = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    got = sorted(map(tuple, query_pq_index(spark, incr, queries).collect()))
    want = sorted(map(tuple, query_pq_index(spark, full, queries).collect()))
    assert got == want


# --------------------------------------------------- perceptual multimodal dedup


def _pattern_png(w, h, fn):
    from smartpipeline_spark.functions.multimodal import _png_from_pixels

    rows = [
        bytearray(
            v for x in range(w) for v in (fn(x, y), fn(x, y), fn(x, y))
        )
        for y in range(h)
    ]
    return _png_from_pixels(w, h, 3, rows)


def _custom_wav(envelope):
    """16-bit mono WAV whose per-window energy follows ``envelope``
    (list of amplitudes, 100 samples per step)."""
    import struct

    samples = []
    for amp in envelope:
        samples.extend(int(amp) * (1 if i % 2 else -1) for i in range(100))
    data = struct.pack("<%dh" % len(samples), *samples)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_phash_planted_image_copies_found_distinct_not(spark):
    """The multimodal↔dedup bridge contract: resized and re-encoded
    copies of an image pair with their original; structurally distinct
    patterns do not."""
    from smartpipeline_spark.functions.dedup import hamming_band_pairs
    from smartpipeline_spark.functions.multimodal import (
        media_phash,
        reencode_image,
        resize_image,
    )

    patterns = {
        0: lambda x, y: 255 if ((x // 2) + (y // 2)) % 2 else 0,  # checker
        1: lambda x, y: 255 if y % 4 < 2 else 0,  # h-stripes
        2: lambda x, y: 255 if x % 4 < 2 else 0,  # v-stripes
        3: lambda x, y: x * 255 // 16,  # gradient
    }
    rows = []
    for i, fn in patterns.items():
        p = _pattern_png(16, 16, fn)
        rows.append((i, p))
        rows.append((i + 100, resize_image(p, 32, 32)))
        rows.append((i + 200, reencode_image(p)))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    pairs = {
        (r.d1, r.d2): r.hamming
        for r in hamming_band_pairs(
            media_phash(df), class_col="media_class"
        ).collect()
    }
    for i in patterns:
        assert (i, i + 100) in pairs, f"resized copy of {i} missed"
        assert (i, i + 200) in pairs, f"re-encoded copy of {i} missed"
        assert pairs[(i, i + 200)] == 0  # identical pixels, identical hash
    # no pair ever crosses pattern families
    for (d1, d2) in pairs:
        assert d1 % 100 == d2 % 100, (d1, d2)


def test_phash_audio_fingerprint_amplitude_invariant(spark):
    """WAV energy-envelope hash: a gain-scaled copy fingerprints
    identically (every window energy scales by the same factor, no
    sign flips); a different envelope does not pair."""
    from smartpipeline_spark.functions.dedup import hamming_band_pairs
    from smartpipeline_spark.functions.multimodal import media_phash, wav_fp64

    rising = [100 + 80 * j for j in range(80)]
    falling = list(reversed(rising))
    scaled = [a // 2 for a in rising]
    assert wav_fp64(_custom_wav(rising)) == wav_fp64(_custom_wav(scaled))
    df = spark.createDataFrame(
        [
            (1, _custom_wav(rising)),
            (2, _custom_wav(scaled)),
            (3, _custom_wav(falling)),
        ],
        "doc_id long, payload binary",
    )
    pairs = {
        (r.d1, r.d2)
        for r in hamming_band_pairs(
            media_phash(df), class_col="media_class"
        ).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_phash_hot_bucket_cap_bounds_degenerate_hashes(spark):
    """Solid-color images all hash to 0 — one degenerate bucket. The
    cap drops it (bounding the quadratic term); above the population
    it is a no-op (healthy-corpus transparency, same contract as
    drop_hot_keys)."""
    from smartpipeline_spark.functions.dedup import hamming_band_pairs
    from smartpipeline_spark.functions.multimodal import media_phash

    solid = _pattern_png(16, 16, lambda x, y: 128)
    df = spark.createDataFrame(
        [(i, solid) for i in range(12)], "doc_id long, payload binary"
    )
    hashed = media_phash(df)
    assert hamming_band_pairs(hashed, class_col="media_class", max_bucket=5).count() == 0
    assert (
        hamming_band_pairs(hashed, class_col="media_class", max_bucket=100).count()
        == 12 * 11 // 2
    )


def test_phash_query_planted_recall(spark):
    """The registered ext_multimodal_phash corpus plants a resized and
    a re-encoded copy per image: re-encodes must all be found (hash-
    identical), resizes near-all (pooling boundary rounding can cost a
    few bits on tiny fixtures)."""
    from smartpipeline_spark.functions.multimodal import (
        ext_multimodal_phash,
        synth_media,
    )

    sf = SF_SMOKE
    pairs = {
        (r.d1, r.d2) for r in ext_multimodal_phash(spark, sf).collect()
    }
    img_ids = [
        r.doc_id
        for r in synth_media(spark, sf).select("doc_id").collect()
        if r.doc_id % 3 < 2
    ]
    enc = sum((i, i + 2_000_000) in pairs for i in img_ids)
    res = sum((i, i + 1_000_000) in pairs for i in img_ids)
    assert enc == len(img_ids)
    assert res / len(img_ids) >= 0.95


# --------------------------------------------------------- persisted PQ index


def test_pq_saved_index_matches_inline_and_prunes_partitions(spark, tmp_path):
    """The saved PQ layouts must return bit-identical top-k to the
    inline queries (same deterministic codebooks/centroids; the ONE
    shared ADC kernel makes the candidate cut batching-invariant),
    and the IVFPQ layout's probe scan must prune cell directories."""
    import io
    import re as _re
    from contextlib import redirect_stdout

    from smartpipeline_spark.functions import EXT_QUERIES
    from smartpipeline_spark.functions.similarity import (
        _emb,
        build_pq_index,
        query_pq_index,
        N_QUERIES,
    )

    e = _emb(spark, SF_SMOKE)
    flat, cells = str(tmp_path / "pq_flat"), str(tmp_path / "pq_cells")
    build_pq_index(e, flat)
    build_pq_index(e, cells, with_cells=True)
    queries = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    from_flat = query_pq_index(spark, flat, queries, vectors=e)
    assert sorted(map(tuple, from_flat.collect())) == sorted(
        map(tuple, EXT_QUERIES["ext_knn_pq"](spark, SF_SMOKE).collect())
    )
    from_cells = query_pq_index(spark, cells, queries, vectors=e)
    assert sorted(map(tuple, from_cells.collect())) == sorted(
        map(tuple, EXT_QUERIES["ext_knn_ivfpq"](spark, SF_SMOKE).collect())
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        from_cells.explain("formatted")
    assert _re.search(r"PartitionFilters: \[[^\]]*cell", buf.getvalue())
    # codes-only deployment (no float vectors online): ADC ranking
    # still returns a full top-k per query
    adc_only = query_pq_index(spark, cells, queries)
    assert adc_only.count() == N_QUERIES * 10
    assert adc_only.columns == ["query_id", "neighbor_id", "rank", "score"]


def test_pq_append_equals_rebuild_and_flags_drift(spark, tmp_path):
    """(build; append) must equal a from-scratch rebuild (the held-out
    append slice avoids vec_id % 7 == 0 AND % 7 == 1, so training and
    fit-reference strides see the same samples either way), an
    in-distribution batch must NOT flag retrain, and a novel tight
    cluster must trip BOTH drift signals (codebook fit drop + cell
    concentration)."""
    from smartpipeline_spark.functions.similarity import (
        _emb,
        append_to_pq_index,
        build_pq_index,
        query_pq_index,
        N_QUERIES,
    )

    e = _emb(spark, SF_SMOKE)
    hold = e.filter(
        (F.col("vec_id") % 7 > 1) & (F.col("vec_id") % 11 == 3)
    )
    base = e.join(hold.select("vec_id"), "vec_id", "left_anti")
    incr, full = str(tmp_path / "pq_incr"), str(tmp_path / "pq_full")
    build_pq_index(base, incr, with_cells=True)
    rep = append_to_pq_index(spark, incr, hold)
    build_pq_index(e, full, with_cells=True)

    queries = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    got = sorted(map(tuple, query_pq_index(spark, incr, queries, vectors=e).collect()))
    want = sorted(map(tuple, query_pq_index(spark, full, queries, vectors=e).collect()))
    assert got == want
    assert rep["appended"] == hold.count()
    assert rep["retrain_recommended"] is False
    assert abs(rep["fit_drop"]) < 0.05
    assert rep["cells_touched"] > 1

    # adversarial drift: 200 copies of an out-of-distribution one-hot
    # vector reconstruct poorly under the saved codebooks AND pile
    # into a single coarse cell
    one = [0.0] * 64
    one[0] = 1.0
    novel = spark.createDataFrame(
        [(10_000_000 + i, one) for i in range(200)],
        "vec_id long, emb array<double>",
    )
    rep2 = append_to_pq_index(spark, incr, novel)
    assert rep2["fit_drop"] > 0.05
    assert rep2["max_cell_frac"] == 1.0
    assert rep2["retrain_recommended"] is True


# --------------------------------------------------- incremental corpus dedup


def test_dedup_index_append_equals_rebuild(spark, tmp_path):
    """(build corpus; append batch) must leave the index in exactly
    the state build-on-concat produces — the ingestion contract
    (mirrors append_to_ivf_index's append-vs-rebuild pin)."""
    from smartpipeline_spark import indexstore, sources
    from smartpipeline_spark.functions.dedup import (
        build_dedup_index,
        dedup_against,
    )
    from tests.conftest import SF_SMOKE

    d = sources.table(spark, "documents", SF_SMOKE).select("doc_id", "text")
    corpus = d.filter("doc_id < 300")
    batch = d.filter("doc_id >= 300")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_dedup_index(spark, corpus, inc)
    dedup_against(spark, inc, batch, append=True)
    build_dedup_index(spark, d, full)

    def state(root):
        fps = {
            (r.fp, r.keep_id)
            for r in indexstore.read(spark, root, "fingerprints").collect()
        }
        sigs = {
            tuple(r) for r in indexstore.read(spark, root, "signatures").collect()
        }
        return fps, sigs

    assert state(inc) == state(full)


def test_dedup_against_planted_duplicates(spark, tmp_path):
    """Exact copies die at the fingerprint stage, near copies at the
    signature stage (vs index AND within batch), distinct docs
    survive."""
    from smartpipeline_spark.functions.dedup import (
        build_dedup_index,
        dedup_against,
    )

    words = [f"w{i}" for i in range(50)]
    base = " ".join(words)
    near = " ".join(["CHANGED" if i == 25 else w for i, w in enumerate(words)])
    other = " ".join(f"z{i}" for i in range(50))
    third = " ".join(f"q{i}" for i in range(50))
    third_near = " ".join(
        ["ALTERED" if i == 10 else f"q{i}" for i in range(50)]
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, near),        # near-copy of corpus doc 1 -> dropped
            (11, third),       # novel -> survives
            (12, third_near),  # near-copy of batch doc 11 -> dropped
            (13, other),       # exact copy of corpus doc 2 -> dropped
        ],
        "doc_id long, text string",
    )
    root = str(tmp_path / "idx")
    build_dedup_index(spark, corpus, root)
    out = {r.doc_id for r in dedup_against(spark, root, batch).collect()}
    assert out == {11}
    # exact-only mode keeps the near copies
    root2 = str(tmp_path / "idx2")
    build_dedup_index(spark, corpus, root2)
    out2 = {
        r.doc_id
        for r in dedup_against(spark, root2, batch, near=False).collect()
    }
    assert out2 == {10, 11, 12}


def test_dedup_incremental_builds_its_index_once(spark, tmp_path, monkeypatch):
    """ext_dedup_incremental serves its corpus index through the
    build-once fixture cache: the first call builds it under the cache
    root (a manifest recording the documents it was drawn from), a
    second call with an empty memo builds nothing and returns the same
    survivors."""
    import os
    import tempfile

    from smartpipeline_spark import indexstore, sources
    from smartpipeline_spark.functions import dedup

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(indexstore, "_FIXTURE_IDX_CACHE", {})
    builds = []
    real_build = dedup.build_dedup_index
    monkeypatch.setattr(
        dedup, "build_dedup_index", lambda *a, **kw: builds.append(a[2]) or real_build(*a, **kw)
    )

    first = sorted(tuple(r) for r in dedup.ext_dedup_incremental(spark, SF_SMOKE).collect())
    (staging,) = builds
    path = dedup._dedup_index_for(spark, SF_SMOKE)  # a memo hit
    assert len(builds) == 1
    assert os.path.dirname(path) == os.path.dirname(staging) == sources.scratch_root("dedup_fp_seg_idx")
    man = indexstore.manifest(path)
    assert man["meta"]["n_src"] == sources.table(spark, "documents", SF_SMOKE).count()
    assert set(man["tables"]) == {"fingerprints"}

    monkeypatch.setattr(indexstore, "_FIXTURE_IDX_CACHE", {})
    second = sorted(tuple(r) for r in dedup.ext_dedup_incremental(spark, SF_SMOKE).collect())
    assert len(builds) == 1
    assert first == second and first


# ------------------------------------------------ exact substring dedup


def _substr_fixture(spark):
    """Three docs: 0 and 1 share a verbatim 10-word passage (>= k=8,
    at different offsets), 2 is fully distinct. Filler words are all
    unique so cut seams cannot form new duplicated k-grams."""
    passage = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    texts = [
        "u1 u2 u3 " + passage + " u4 u5",
        "v1 " + passage + " v2 v3 v4 v5 v6",
        "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12",
    ]
    return spark.createDataFrame(
        [{"doc_id": i, "text": t} for i, t in enumerate(texts)]
    )


def test_substring_spans_find_planted_passage_and_merge_maximally(spark):
    from smartpipeline_spark.functions.dedup import duplicate_spans

    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_words"])
        for r in duplicate_spans(_substr_fixture(spark), k=8).collect()
    }
    # exactly one MAXIMAL span per sharing doc (three overlapping
    # 8-gram windows merged into the full 10-word passage), 1-based
    assert spans == {0: (4, 13, 10), 1: (2, 11, 10)}


def test_substring_spans_single_fold_shape_matches_recompute(spark):
    """On a provably small input duplicate_spans(partitions="auto")
    evaluates the md5 k-gram fold ONCE (eager localCheckpoint of the
    gram stream — the fold is gone from the declared plan), while
    partitions=None keeps the recompute shape (the fold appears in
    BOTH consumers). The two shapes must be row-identical, on the
    edge fixture and on the real sf0.001 corpus."""
    from smartpipeline_spark import sources
    from smartpipeline_spark.functions.dedup import duplicate_spans

    docs = _substr_fixture(spark)
    # a LocalRelation plan-estimates as the unknown sentinel -> NOT
    # provably small -> conservative recompute shape even under "auto"
    fixture_auto = duplicate_spans(docs, k=8)
    fx_plan = fixture_auto._jdf.queryExecution().executedPlan().toString()
    assert fx_plan.count("posexplode") == 2
    a = sorted(tuple(r) for r in fixture_auto.collect())
    b = sorted(
        tuple(r) for r in duplicate_spans(docs, k=8, partitions=None).collect()
    )
    assert a == b
    # a small parquet scan IS provably small -> single-fold checkpoint
    d = sources.table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    x = duplicate_spans(d)  # default partitions="auto"
    y = duplicate_spans(d, partitions=None)
    x_plan = x._jdf.queryExecution().executedPlan().toString()
    y_plan = y._jdf.queryExecution().executedPlan().toString()
    assert "md5" not in x_plan  # fold ran once, eagerly
    assert y_plan.count("posexplode") == 2  # fold in both consumers
    assert x.exceptAll(y).count() == 0 and y.exceptAll(x).count() == 0


def test_substring_strip_keeps_first_occurrence_only(spark):
    from smartpipeline_spark.functions.dedup import (
        duplicate_spans,
        strip_duplicate_spans,
    )

    docs = _substr_fixture(spark)
    out = {
        r["doc_id"]: r.asDict()
        for r in strip_duplicate_spans(docs, k=8).collect()
    }
    passage = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    # doc 0 (first occurrence by doc_id order) keeps the passage
    assert out[0]["text_clean"] == "u1 u2 u3 " + passage + " u4 u5"
    assert out[0]["n_removed"] == 0
    # doc 1 loses exactly the 10 passage words, flanks survive
    assert out[1]["text_clean"] == "v1 v2 v3 v4 v5 v6"
    assert out[1]["n_removed"] == 10
    # untouched doc passes through verbatim
    assert out[2]["n_removed"] == 0 and out[2]["text_clean"].startswith("w1 ")
    # the cleaned corpus (controlled seams) contains no duplicated
    # k-gram — the ExactSubstr guarantee this fixture can pin
    cleaned = spark.createDataFrame(
        [
            {"doc_id": i, "text": d["text_clean"]}
            for i, d in out.items()
            if d["text_clean"]
        ]
    )
    assert duplicate_spans(cleaned, k=8).count() == 0


def test_winnow_xxhash_variant_same_guarantees_and_plan(spark):
    """The production hash swap (md5 -> xxhash64) must preserve the
    two winnowing guarantees (long-shared-substring detection, 1-char
    edit robustness) and the row-local plan shape; and an unknown
    hash_fn must fail loudly rather than silently change fingerprints."""
    import io
    import re
    from contextlib import redirect_stdout

    import pytest as _pytest

    from smartpipeline_spark.functions.dedup import winnow_fingerprints

    base = "the quick brown fox jumps over the lazy dog and keeps on running far away"
    edited = base.replace("lazy", "hazy")
    df = spark.createDataFrame(
        [{"doc_id": 1, "text": base}, {"doc_id": 2, "text": edited},
         {"doc_id": 3, "text": "completely different content with nothing in common here at all"}]
    )
    out = winnow_fingerprints(df, hash_fn="xxhash64")
    fps = {1: set(), 2: set(), 3: set()}
    for r in out.collect():
        fps[r.doc_id].add(r.fp)
    shared = fps[1] & fps[2]
    assert len(shared) >= 1
    assert len(shared) / len(fps[1]) > 0.5
    assert len(fps[1] & fps[3]) <= 1
    # same plan shape as the md5 variant: no md5 anywhere, one
    # Generate (the final explode), fused into the scan stage
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "md5" not in plan
    assert "xxhash64" in plan.lower()
    # one explode: count distinct Generate node ids (tree + details
    # repeat ids) in the final plan only (AQE appends an Initial Plan
    # section that re-lists every node under fresh ids)
    final = plan.split("Initial Plan")[0]
    assert len(re.findall(r"Generate \(\d+\)", final)) == 1
    with _pytest.raises(ValueError, match="hash_fn"):
        winnow_fingerprints(df, hash_fn="sha1")


# ---------------------------------------------- content-defined chunking


def test_cdc_spark_matches_reference_chunker(spark):
    """The distributed chunker must emit exactly the reference
    pure-python chunking of every document (offsets, lengths, and
    md5 fingerprints)."""
    import hashlib

    from smartpipeline_spark import sources
    from smartpipeline_spark.functions.dedup import (
        cdc_chunk_offsets,
        cdc_chunks,
    )

    d = sources.table(spark, "documents", SF_SMOKE).select("doc_id", "text")
    got = {
        (r.doc_id, r.off, r.length, r.fp)
        for r in cdc_chunks(d).collect()
    }
    want = set()
    for row in d.collect():
        data = (row.text or "").encode("utf-8")
        for off, ln in cdc_chunk_offsets(data):
            want.add(
                (row.doc_id, off, ln, hashlib.md5(data[off : off + ln]).hexdigest())
            )
    assert got == want and want


def test_cdc_vectorized_batch_kernel_equals_scalar_reference():
    """The numpy batch kernel (`_cdc_offsets_batch`) must be byte-
    identical to the pure-python reference on an adversarial corpus —
    empty/tiny docs, window-boundary lengths, zero runs that force
    max_size cuts, random binary, the oracle fixture classes — across
    the parameter grid, including the uint16/uint32 word-width switch
    at bits=16/17 and the scalar fallback when min_size < the hash
    window width."""
    import random

    from smartpipeline_spark.functions.dedup import (
        _cdc_offsets_batch,
        _cdc_synth_py,
        cdc_chunk_offsets,
    )

    rng = random.Random(7)
    docs = [b"", b"a", bytes(63), bytes(64), bytes(65), bytes(5000)]
    docs += [
        bytes(rng.getrandbits(8) for _ in range(rng.randint(0, 9000)))
        for _ in range(40)
    ]
    docs += [_cdc_synth_py(r).encode() for r in range(64)]
    docs += [bytes([rng.getrandbits(8)]) * rng.randint(60, 300) for _ in range(20)]
    grid = [
        (64, 4096, 8),   # defaults: uint16 path
        (64, 1024, 6), (128, 4096, 10), (64, 65, 8), (200, 256, 4),
        (64, 4096, 16),  # widest mask still on the uint16 path
        (64, 4096, 17),  # first uint32-path mask
        (33, 4096, 16),  # min_size below 64 but >= the uint16 window
        (16, 4096, 8),   # below every window -> scalar fallback
    ]
    for mn, mx, bits in grid:
        want = [cdc_chunk_offsets(d, mn, mx, bits) for d in docs]
        assert _cdc_offsets_batch(docs, mn, mx, bits) == want, (mn, mx, bits)


def test_cdc_boundaries_survive_prefix_edit(spark):
    """THE content-defined property: inserting bytes at the head of a
    copy shifts every fixed-size block, but CDC boundaries downstream
    of the edit re-synchronize, so the copy shares most chunk
    fingerprints with the original. Fixed-size blocking would share
    none."""
    from smartpipeline_spark.functions.dedup import cdc_chunk_offsets
    import hashlib
    import random

    rng = random.Random(11)
    base = bytes(rng.getrandbits(8) for _ in range(20_000))
    edited = b"INSERTED-PREFIX-" + base

    def fps(data):
        return [
            hashlib.md5(data[o : o + ln]).hexdigest()
            for o, ln in cdc_chunk_offsets(data)
        ]

    f_base, f_edit = fps(base), fps(edited)
    shared = len(set(f_base) & set(f_edit))
    assert shared / len(f_base) >= 0.8, (shared, len(f_base))
    # and the fixed-size strawman really would lose everything
    fixed_base = {hashlib.md5(base[i : i + 256]).hexdigest() for i in range(0, len(base), 256)}
    fixed_edit = {hashlib.md5(edited[i : i + 256]).hexdigest() for i in range(0, len(edited), 256)}
    assert len(fixed_base & fixed_edit) <= 1


def test_cdc_stats_find_planted_shared_chunks(spark):
    """Two documents sharing a large middle passage must surface in
    the duplication profile with n_docs == 2 rows covering the shared
    bytes."""
    from smartpipeline_spark.functions.dedup import cdc_chunks

    import random

    rng = random.Random(7)
    shared = "".join(rng.choice("abcdefgh ") for _ in range(5_000))
    a = "unique-head-A " * 40 + shared + " unique-tail-A" * 40
    b = "different-head-B " * 40 + shared + " other-tail-B" * 40
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, "entirely unrelated " * 200)],
        "doc_id long, text string",
    )
    ch = cdc_chunks(df)
    dup = (
        ch.groupBy("fp")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.first("length").alias("chunk_bytes"),
        )
        .filter(F.col("n_docs") >= 2)
        .collect()
    )
    assert dup, "no shared chunks found for a 5KB planted passage"
    assert sum(r.chunk_bytes for r in dup) >= 3_000


# ------------------------------------------- trained quality classifier


def _qc_reference(rows, m, iters=30, lr=2.0, l2=1e-6):
    """Pure-python twin of train_text_classifier: identical
    featurization (md5-bucketed unigrams+bigrams, distinct presence,
    sentinel bias bucket) and identical full-batch GD."""
    import hashlib
    import math
    import re

    def buckets(text):
        ws = re.split(r"\s+", (text or "").strip().lower())
        grams = ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        out = [-1]
        for g in grams:
            b = int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % m
            if b not in out:
                out.append(b)
        return out

    feats = [(float(y), buckets(t)) for t, y in rows]
    w = {}
    n = len(feats)
    for _ in range(iters):
        grads = {}
        for y, bs in feats:
            z = sum(w.get(b, 0.0) for b in bs)
            r = 1.0 / (1.0 + math.exp(-z)) - y
            for b in bs:
                grads[b] = grads.get(b, 0.0) + r
        for b, g in grads.items():
            w[b] = w.get(b, 0.0) - lr * (g / n + l2 * w.get(b, 0.0))
    return w


def test_classifier_matches_local_reference(spark):
    """Distributed GD must reproduce the textbook single-machine fit
    on the same featurization — weights equal within float-sum
    tolerance."""
    from smartpipeline_spark.functions.curation import train_text_classifier

    rows = [
        ("good prose flows well and stays coherent", 1),
        ("well written text stays clear and coherent prose", 1),
        ("clear writing flows well good text", 1),
        ("spam spam click here buy now spam", 0),
        ("buy now click spam here now buy", 0),
        ("click buy spam now here spam click", 0),
        ("good prose stays clear", 1),
        ("spam here buy click", 0),
    ]
    m = 256
    model = train_text_classifier(
        spark.createDataFrame(rows, "text string, label int"), m=m
    )
    want = _qc_reference(rows, m)
    assert set(model["weights"]) == set(want)
    for b, v in want.items():
        assert abs(model["weights"][b] - v) < 1e-9, (b, model["weights"][b], v)


def test_classifier_learns_planted_concept(spark):
    """Two disjoint vocabularies -> near-perfect holdout accuracy: the
    proof the distributed training actually learns."""
    import random

    from smartpipeline_spark.functions.curation import (
        classifier_scores,
        train_text_classifier,
    )

    rng = random.Random(3)
    phys = "quark lepton boson gauge entropy lagrangian tensor flux".split()
    cook = "butter flour saute simmer garlic whisk oven braise".split()
    rows = [
        (
            i,
            " ".join(rng.choices(phys if i % 2 else cook, k=12)),
            i % 2,
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    train = df.filter(F.col("doc_id") < 300)
    hold = df.filter(F.col("doc_id") >= 300)
    model = train_text_classifier(train)
    scored = classifier_scores(hold, model, label_col="label")
    acc = scored.agg(
        F.avg((F.col("pred") == F.col("label")).cast("double"))
    ).collect()[0][0]
    assert acc >= 0.95, acc


def test_classifier_key_beats_base_rate(spark):
    """The registered key's planted 'mentions vector' concept must be
    rediscovered from hashed n-grams: accuracy far above the positive
    base rate, and stable across reruns."""
    from smartpipeline_spark.functions import EXT_QUERIES

    q = EXT_QUERIES["ext_quality_classifier"]
    rows = q(spark, SF_SMOKE).collect()
    n = len(rows)
    base = sum(r.label for r in rows) / n
    acc = sum(int(r.pred == r.label) for r in rows) / n
    assert 0.5 < base < 0.9, base  # non-degenerate concept
    assert acc >= 0.95, (acc, base)
    # rerun stability: preds exact; probs may drift by one 4-decimal
    # rounding step when Spark's FP partial-sum order differs between
    # runs (gradient sums are not order-stable across schedulings)
    again = {r.doc_id: (r.prob, r.pred) for r in q(spark, SF_SMOKE).collect()}
    first = {r.doc_id: (r.prob, r.pred) for r in rows}
    assert set(first) == set(again)
    for did, (p1, d1) in first.items():
        p2, d2 = again[did]
        assert d1 == d2, (did, first[did], again[did])
        assert abs(p1 - p2) <= 1e-4 + 1e-12, (did, p1, p2)


# ---------------------------- zipf spectrum + fixed-k group sampling


def test_zipf_spectrum_conserves_vocab_and_tokens(spark):
    """The spectrum is a lossless regrouping of the vocabulary:
    sum(n_words) == vocab size, sum(freq * n_words) == total tokens,
    and the slope column is one constant."""
    from smartpipeline_spark.functions import EXT_QUERIES

    rows = EXT_QUERIES["ext_zipf_spectrum"](spark, SF_SMOKE).collect()
    from smartpipeline_spark import sources

    d = sources.table(spark, "documents", SF_SMOKE)
    words = d.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    vocab, toks = words.agg(
        F.countDistinct("w"), F.count("*")
    ).collect()[0]
    assert sum(r.n_words for r in rows) == vocab
    assert sum(r.freq * r.n_words for r in rows) == toks
    assert len({r.zipf_slope for r in rows}) == 1
    assert rows[0].zipf_slope < 0  # frequency falls with rank


def test_sample_per_group_equals_naive_window_on_skewed_groups(spark):
    """The salted two-phase top-k must return exactly the naive
    one-window-per-group answer, exactly k rows per group (fewer only
    when the group is smaller than k), on a corpus where one group
    dominates."""
    from pyspark.sql import Window

    from smartpipeline_spark.functions.curation import sample_per_group

    rows = [(i, "big" if i % 20 else "rare") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    got = {
        (r.doc_id, r.grp, r.sample_rank)
        for r in sample_per_group(df, "grp", 7, salt_buckets=8).collect()
    }
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    naive = (
        df.withColumn("h", h)
        .withColumn(
            "sample_rank",
            F.row_number().over(Window.partitionBy("grp").orderBy("h", "doc_id")),
        )
        .filter(F.col("sample_rank") <= 7)
    )
    want = {(r.doc_id, r.grp, r.sample_rank) for r in naive.collect()}
    assert got == want
    per = {}
    for _, g, _r in got:
        per[g] = per.get(g, 0) + 1
    assert per == {"big": 7, "rare": 7}


def test_classifier_saved_model_scores_identically(spark, tmp_path):
    """save -> load -> score must be bit-equal to scoring with the
    in-memory model (the train-once / score-every-batch contract)."""
    from smartpipeline_spark.functions.curation import (
        classifier_scores,
        load_classifier,
        save_classifier,
        train_text_classifier,
    )

    rows = [
        (1, "good prose flows well and stays coherent", 1),
        (2, "spam spam click here buy now spam", 0),
        (3, "clear writing flows well good text", 1),
        (4, "buy now click spam here now buy", 0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    model = train_text_classifier(df, iters=5)
    save_classifier(model, str(tmp_path / "clf"))
    loaded = load_classifier(str(tmp_path / "clf"))
    assert loaded == model
    a = {tuple(r) for r in classifier_scores(df, model).collect()}
    b = {tuple(r) for r in classifier_scores(df, loaded).collect()}
    assert a == b and a


def test_cdc_index_append_equals_rebuild(spark, tmp_path):
    """(build on A; dedup_against B with append) must leave the same
    chunk-fp index as building on A+B directly — the incremental
    ingestion contract, byte-level edition."""
    import random

    from smartpipeline_spark import indexstore
    from smartpipeline_spark.functions.dedup import (
        build_cdc_index,
        cdc_dedup_against,
    )

    rng = random.Random(5)
    mk = lambda: " ".join(rng.choice("abcdefgh qrstu") for _ in range(900))
    a_rows = [(i, mk()) for i in range(6)]
    b_rows = [(10 + i, mk()) for i in range(4)] + [(20, a_rows[0][1])]
    schema = "doc_id long, text string"
    A = spark.createDataFrame(a_rows, schema)
    B = spark.createDataFrame(b_rows, schema)

    p_inc = str(tmp_path / "inc")
    build_cdc_index(spark, A, p_inc)
    cdc_dedup_against(spark, p_inc, B, append=True).count()  # drain
    p_all = str(tmp_path / "all")
    build_cdc_index(spark, A.unionByName(B), p_all)

    inc = {tuple(r) for r in indexstore.read(spark, p_inc, "chunk_fps").collect()}
    allr = {tuple(r) for r in indexstore.read(spark, p_all, "chunk_fps").collect()}
    assert inc == allr and inc


def test_cdc_dedup_against_flags_near_copy_with_insertion(spark, tmp_path):
    """A batch doc that is an indexed doc with a prefix insertion must
    report a high dup_fraction (content-defined boundaries resync);
    an unrelated doc must not. Rerunning the same call (re-entrancy
    after its own append) gives the identical report."""
    import random

    from smartpipeline_spark.functions.dedup import (
        build_cdc_index,
        cdc_dedup_against,
    )

    rng = random.Random(9)
    base = " ".join(rng.choice("lmnop wxyz") for _ in range(2500))
    other = " ".join(rng.choice("01234 56789") for _ in range(2500))
    A = spark.createDataFrame([(1, base)], "doc_id long, text string")
    p = str(tmp_path / "idx")
    build_cdc_index(spark, A, p)

    B = spark.createDataFrame(
        [(11, "INSERTED PREFIX " + base), (12, other)],
        "doc_id long, text string",
    )
    rep1 = {r.doc_id: r for r in cdc_dedup_against(spark, p, B).collect()}
    assert rep1[11].dup_fraction >= 0.6, rep1[11]
    assert rep1[12].dup_fraction <= 0.2, rep1[12]
    assert rep1[11].is_dup and not rep1[12].is_dup
    rep2 = {r.doc_id: r for r in cdc_dedup_against(spark, p, B).collect()}
    assert {k: tuple(v) for k, v in rep1.items()} == {
        k: tuple(v) for k, v in rep2.items()
    }


def test_cdc_rerun_appends_nothing_and_empty_docs_get_report_rows(spark, tmp_path):
    """Re-running the same batch must leave the index row count
    unchanged (idempotent append), and a zero-chunk (empty-text) batch
    doc must still appear in the report with total_bytes=0."""
    from smartpipeline_spark import indexstore
    from smartpipeline_spark.functions.dedup import (
        build_cdc_index,
        cdc_dedup_against,
    )

    A = spark.createDataFrame(
        [(1, "alpha beta gamma " * 120)], "doc_id long, text string"
    )
    p = str(tmp_path / "idx")
    build_cdc_index(spark, A, p)
    B = spark.createDataFrame(
        [(11, "delta epsilon zeta " * 120), (12, "")],
        "doc_id long, text string",
    )
    rep1 = {r.doc_id: tuple(r) for r in cdc_dedup_against(spark, p, B).collect()}
    n1 = indexstore.read(spark, p, "chunk_fps").count()
    rep2 = {r.doc_id: tuple(r) for r in cdc_dedup_against(spark, p, B).collect()}
    n2 = indexstore.read(spark, p, "chunk_fps").count()
    assert n1 == n2, "rerun appended duplicate fps"
    assert rep1 == rep2
    assert 12 in rep1 and rep1[12][1] == 0 and not rep1[12][-1]
    fps = [r.fp for r in indexstore.read(spark, p, "chunk_fps").collect()]
    assert len(fps) == len(set(fps)), "index holds duplicate fps"


def test_classifier_handles_null_and_empty_text(spark):
    """NULL / empty text must score (bias-only features), not crash
    the Arrow kernel; pred always equals (published prob >= 0.5)."""
    from smartpipeline_spark.functions.curation import (
        classifier_scores,
        train_text_classifier,
    )

    rows = [
        (1, "good clear prose", 1),
        (2, "spam spam spam", 0),
        (3, None, 0),
        (4, "", 0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    model = train_text_classifier(df, iters=3)
    got = classifier_scores(df, model, label_col="label").collect()
    assert len(got) == 4
    for r in got:
        assert r.pred == int(r.prob >= 0.5), (r.doc_id, r.prob, r.pred)


def test_cdc_chunks_binary_column(spark):
    """The chunker's docstring claims binary columns work unchanged:
    feed actual bytes (non-UTF8 content included) and check the
    distributed output equals the reference chunking of those bytes."""
    import hashlib
    import random

    from smartpipeline_spark.functions.dedup import (
        cdc_chunk_offsets,
        cdc_chunks,
    )

    rng = random.Random(21)
    blobs = [(i, bytes(rng.getrandbits(8) for _ in range(3000))) for i in range(3)]
    df = spark.createDataFrame(blobs, "doc_id long, payload binary")
    got = {
        (r.doc_id, r.off, r.length, r.fp)
        for r in cdc_chunks(df, text_col="payload").collect()
    }
    want = set()
    for i, data in blobs:
        for off, ln in cdc_chunk_offsets(data):
            want.add((i, off, ln, hashlib.md5(data[off : off + ln]).hexdigest()))
    assert got == want and want


def test_sample_per_group_smaller_group_returns_all_ranked(spark):
    """A group with fewer than k rows returns every row, ranked 1..n."""
    from smartpipeline_spark.functions.curation import sample_per_group

    df = spark.createDataFrame(
        [(i, "big" if i < 50 else "tiny") for i in range(53)],
        "doc_id long, grp string",
    )
    got = sample_per_group(df, "grp", 10, salt_buckets=4).collect()
    per = {}
    for r in got:
        per.setdefault(r.grp, []).append(r.sample_rank)
    assert sorted(per["big"]) == list(range(1, 11))
    assert sorted(per["tiny"]) == [1, 2, 3]


# ------------------------------ AUC evaluation + compression ratio


def test_binary_auc_matches_sklearn_free_reference(spark):
    """Histogram-decomposed AUC must equal the textbook pairwise
    definition (ties count half) on a small corpus with heavy ties."""
    from smartpipeline_spark.functions.curation import binary_auc

    rows = [
        (1, 3.0, 1), (2, 3.0, 0), (3, 1.0, 0), (4, 5.0, 1),
        (5, 5.0, 0), (6, 2.0, 0), (7, 4.0, 1), (8, 1.0, 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, score double, label int")
    got = binary_auc(df, "score", "label").collect()[0]
    pos = [s for _, s, y in rows if y == 1]
    neg = [s for _, s, y in rows if y == 0]
    pairs = sum(
        1.0 if p > n_ else (0.5 if p == n_ else 0.0) for p in pos for n_ in neg
    )
    want = pairs / (len(pos) * len(neg))
    assert abs(got.auc - want) < 1e-6, (got.auc, want)
    assert got.n_pos == len(pos) and got.n_neg == len(neg)


def test_compression_ratio_exact_and_ordering(spark):
    """Spark output must equal local zlib byte-for-byte, and a
    repetitive doc must compress far better than a diverse one."""
    import random
    import zlib

    from smartpipeline_spark.functions.text import compression_ratio

    rng = random.Random(13)
    diverse = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8))
        for _ in range(300)
    )
    rows = [(1, "lorem ipsum " * 400), (2, diverse), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in compression_ratio(df).collect()}
    for did, text in rows:
        data = text.encode("utf-8")
        assert got[did].n_bytes == len(data)
        assert got[did].z_bytes == len(zlib.compress(data, 6))
    assert got[1].ratio < 0.1 < got[2].ratio
    # zero-byte doc: NULL ratio (not the ~8.0 zlib-header artifact
    # that would read as incompressible binary junk downstream)
    assert got[3].n_bytes == 0 and got[3].ratio is None


def test_temperature_mixture_limits_and_monotonicity(spark):
    """T=1 keeps the natural distribution (everything); larger T moves
    minority share toward balance monotonically; the binding
    (upweighted-most) stratum is always kept whole."""
    from smartpipeline_spark.functions.curation import temperature_mixture

    rows = [(i, "en" if i < 900 else ("fr" if i < 980 else "zh"))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    t1 = temperature_mixture(df, "lang", "doc_id", 1.0)
    assert t1.count() == 1000  # natural distribution: nothing dropped

    def shares(t):
        out = temperature_mixture(df, "lang", "doc_id", t).groupBy("lang").count()
        d = {r.lang: r["count"] for r in out.collect()}
        tot = sum(d.values())
        return {k: v / tot for k, v in d.items()}, d

    s2, d2 = shares(2.0)
    s8, d8 = shares(8.0)
    nat_en = 0.9
    assert s2["en"] < nat_en            # majority thins
    assert s8["en"] < s2["en"]          # more temperature -> more balance
    assert s8["zh"] > s2["zh"] > 20 / 1000
    assert d2["zh"] == 20 and d8["zh"] == 20  # binding stratum kept whole


def test_pr_curve_matches_pointwise_reference(spark):
    """Every (threshold, precision, recall) row must equal the direct
    'score >= t' confusion-matrix computation."""
    from smartpipeline_spark.functions.curation import pr_curve

    rows = [
        (1, 3.0, 1), (2, 3.0, 0), (3, 1.0, 0), (4, 5.0, 1),
        (5, 5.0, 0), (6, 2.0, 0), (7, 4.0, 1), (8, 1.0, 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, score double, label int")
    got = {r.threshold: r for r in pr_curve(df, "score", "label").collect()}
    P = sum(y for _, _, y in rows)
    for t in {s for _, s, _ in rows}:
        tp = sum(1 for _, s, y in rows if s >= t and y == 1)
        fp = sum(1 for _, s, y in rows if s >= t and y == 0)
        r = got[t]
        assert (r.tp, r.fp) == (tp, fp)
        assert abs(r.precision - tp / (tp + fp)) < 1e-6
        assert abs(r.recall - tp / P) < 1e-6
    # recall is monotone nonincreasing in threshold
    ts = sorted(got)
    for a, b in zip(ts, ts[1:]):
        assert got[a].recall >= got[b].recall


def test_temperature_mixture_binding_stratum_whole_at_pow_boundary(spark):
    """The measured floor-discontinuity combo (n=64, T=8 gives
    10000.0*scale*w/n = 9999.999999999998 without the epsilon nudge):
    the binding stratum must be kept WHOLE, including bucket-9999
    rows."""
    from smartpipeline_spark.functions.curation import temperature_mixture

    rows = [(i, "maj" if i < 936 else "min") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_mixture(df, "lang", "doc_id", 8.0)
    kept_min = out.filter(F.col("lang") == "min").count()
    assert kept_min == 64, kept_min


def test_byte_ops_and_classifier_work_with_string_doc_ids(spark):
    """cdc_chunks / compression_ratio / classifier_scores declare
    their output doc_id from the INPUT schema — string ids (common in
    document stores) must flow through unchanged."""
    from smartpipeline_spark.functions.curation import (
        classifier_scores,
        train_text_classifier,
    )
    from smartpipeline_spark.functions.dedup import cdc_chunks
    from smartpipeline_spark.functions.text import compression_ratio

    df = spark.createDataFrame(
        [("doc-a", "alpha beta gamma " * 40), ("doc-b", "delta " * 100)],
        "doc_id string, text string",
    )
    ch = cdc_chunks(df)
    assert dict(ch.dtypes)["doc_id"] == "string" and ch.count() > 0
    cr = compression_ratio(df)
    assert {r.doc_id for r in cr.collect()} == {"doc-a", "doc-b"}
    model = train_text_classifier(
        df.withColumn("label", (F.col("doc_id") == "doc-a").cast("int")),
        iters=2,
    )
    sc = classifier_scores(df, model)
    assert {r.doc_id for r in sc.collect()} == {"doc-a", "doc-b"}


def test_top_terms_equals_naive_window_on_skewed_vocab(spark):
    """The salted two-phase top-k over aggregated counts must return
    exactly the naive per-group window answer on a corpus where one
    group's vocabulary dwarfs the other's."""
    import random

    from pyspark.sql import Window

    from smartpipeline_spark.functions.text import top_terms_per_group

    rng = random.Random(17)
    big_vocab = [f"w{i}" for i in range(400)]
    rows = [
        (i, "big", " ".join(rng.choices(big_vocab, k=30))) for i in range(300)
    ] + [(1000 + i, "small", "alpha beta alpha") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        tuple(r) for r in top_terms_per_group(df, "lang", 7).collect()
    }
    counts = (
        df.select(
            "lang",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count("*").alias("n"))
    )
    naive = (
        counts.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("word"))
            ),
        )
        .filter(F.col("rank") <= 7)
        .select("lang", "word", F.col("n").cast("bigint"), F.col("rank").cast("bigint"))
    )
    want = {tuple(r) for r in naive.collect()}
    assert got == want and len({g for g, *_ in got}) == 2


def test_html_oracles_survive_exotic_whitespace(spark, tmp_path):
    """r10 verdict #4: the markup closed forms must no longer depend
    on the fixture being plain-ASCII. Plants \\x0b, \\x1c, \\x85,
    \\xa0, U+2028 and U+3000 (the python-str.split-vs-RE2 divergence
    set) in document text, runs BOTH registered keys against their
    REGISTERED DuckDB oracles on that corpus, and requires exact
    equality — the synth expression's whitespace fold (markup.py)
    must act identically in both engines."""
    import duckdb

    from smartpipeline_spark.functions import EXT_ORACLES, EXT_QUERIES

    rows = [
        (0, "en", "plain text stays plain"),
        (1, "en", "vertical\x0btab and file\x1csep here"),
        (2, "es", "next\x85line and nbsp\xa0joined words"),
        (3, "de", "line sep plus　ideographic space"),
        (4, "fr", "\xa0leading and trailing\x85"),
        (5, "en", "\x0b\x1c\x85\xa0 　"),  # whitespace-only
        (6, "en", "mixed \t ascii\nand exotic runs"),
    ]
    d = str(tmp_path / "planted")
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    for key in ("ext_html_extract", "ext_html_boilerplate"):
        got = sorted(
            (r["doc_id"], r["text"])
            for r in EXT_QUERIES[key](spark, d).collect()
        )
        want = sorted(map(tuple, con.sql(EXT_ORACLES[key]).fetchall()))
        assert got == want, f"{key} diverged on planted exotic whitespace"


def test_html_extraction_drops_planted_boilerplate(spark):
    """Planted-boilerplate attestation for ext_html_boilerplate: chrome
    subtrees (head/nav/header/footer, script/style bodies) and
    link-dense blocks are removed, article prose survives; strip mode
    keeps every text node (the SQL tag-strip contract); the Spark
    operator matches the local kernel row-by-row and passes NULLs."""
    from smartpipeline_spark.functions.markup import (
        extract_html_text,
        extract_text_local,
    )

    html = (
        "<html><head><title>SiteTitle</title><script>var x=1;</script>"
        "<style>p{color:red}</style></head><body>"
        "<nav><a>HomeLink</a> <a>AboutLink</a> <a>ContactLink</a></nav>"
        "<header>SiteHeader</header>"
        "<div><p>The actual article text survives extraction.</p>"
        "<p>Second paragraph keeps a <a href='x'>tiny link</a> inside "
        "much longer running prose that clearly dominates.</p>"
        "<ul><li><a>related one</a></li><li><a>related two</a></li></ul>"
        "</div><footer>CopyrightFooter</footer></body></html>"
    )
    out = extract_text_local(html, mode="boilerplate")
    assert "actual article text" in out
    assert "Second paragraph" in out and "tiny link" in out
    for boiler in (
        "SiteTitle", "HomeLink", "AboutLink", "SiteHeader",
        "CopyrightFooter", "var x=1", "color:red",
        "related one", "related two",
    ):
        assert boiler not in out, boiler
    s = extract_text_local(html, mode="strip")
    for kept in (
        "SiteTitle", "HomeLink", "SiteHeader", "CopyrightFooter",
        "var x=1;", "actual article text", "related one",
    ):
        assert kept in s, kept
    df = spark.createDataFrame(
        [(1, html), (2, None)], "doc_id long, html string"
    )
    rows = {
        r.doc_id: r.text
        for r in extract_html_text(df, mode="boilerplate").collect()
    }
    assert rows[1] == out and rows[2] is None
    # registered keys run end-to-end on the fixture corpus: boilerplate
    # output strips the synthesized chrome that strip mode keeps
    from smartpipeline_spark.functions import EXT_QUERIES

    strip = {
        r.doc_id: r.text
        for r in EXT_QUERIES["ext_html_extract"](spark, SF_SMOKE).collect()
    }
    clean = {
        r.doc_id: r.text
        for r in EXT_QUERIES["ext_html_boilerplate"](spark, SF_SMOKE).collect()
    }
    assert set(strip) == set(clean) and len(strip) > 0
    k = next(iter(strip))
    assert strip[k].startswith("doc home about ")
    assert strip[k].endswith(" contact us")
    assert "home" not in clean[k] and "contact us" not in clean[k]
    assert clean[k].split("\n", 1)[1] in strip[k]


def _heuristic_langid(spark, df):
    """The stopword-marker heuristic (ext_lang_id's exact rule) applied
    to an arbitrary (doc_id, text) frame, for head-to-head accuracy."""
    from smartpipeline_spark.functions.text import LANG_MARKERS, _marker_hits

    scores = {}
    for lang, words in LANG_MARKERS.items():
        s = None
        for w in words:
            hits = _marker_hits(F.col("text"), w)
            s = hits if s is None else (s + hits)
        scores[lang] = s
    pred = (
        F.when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["fr"])
            & (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["zh"]),
            F.lit("en"),
        )
        .when(
            (scores["es"] >= scores["fr"])
            & (scores["es"] >= scores["de"])
            & (scores["es"] >= scores["zh"]),
            F.lit("es"),
        )
        .when(
            (scores["fr"] >= scores["de"]) & (scores["fr"] >= scores["zh"]),
            F.lit("fr"),
        )
        .when(scores["de"] >= scores["zh"], F.lit("de"))
        .otherwise(F.lit("zh"))
    )
    return df.select("doc_id", pred.alias("pred_lang"))


def test_trained_langid_beats_heuristic_on_signal_corpus(spark):
    """Planted signal-rich corpus: every language has a distinctive
    6-word vocabulary containing NO stopword markers, so the heuristic
    scores 0 everywhere and tie-breaks to 'en' (20% accuracy) while
    the trained one-vs-rest heads must recover the vocabulary from
    hashed n-grams and clear 90% on the held-out split."""
    from smartpipeline_spark.functions.curation import (
        langid_predict,
        train_langid_classifier,
    )

    vocab = {
        "en": ["query", "window", "batch", "stream", "scan", "merge"],
        "es": ["ventana", "consulta", "lote", "flujo", "mesa", "fila"],
        "fr": ["fenetre", "requete", "paquet", "flot", "table2", "ligne"],
        "de": ["fenster", "anfrage", "stapel", "strom", "tabelle", "zeile"],
        "zh": ["chuangkou", "chaxun", "pici", "liu", "biao", "hang"],
    }
    rows = []
    doc_id = 0
    for lang, words in sorted(vocab.items()):
        for i in range(40):
            text = " ".join(words[(i + j) % 6] for j in range(8))
            rows.append((doc_id, lang, text, i >= 30))
            doc_id += 1
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, text string, holdout boolean"
    )
    train = df.filter(~F.col("holdout"))
    hold = df.filter(F.col("holdout"))
    model = train_langid_classifier(train.select("lang", "text"), iters=10)
    got = {
        r.doc_id: r.pred_lang for r in langid_predict(hold, model).collect()
    }
    truth = {r.doc_id: r.lang for r in hold.select("doc_id", "lang").collect()}
    acc_trained = sum(got[k] == truth[k] for k in truth) / len(truth)
    heur = {
        r.doc_id: r.pred_lang
        for r in _heuristic_langid(spark, hold).collect()
    }
    acc_heur = sum(heur[k] == truth[k] for k in truth) / len(truth)
    assert acc_heur <= 0.25  # markers absent: tie-break majority only
    assert acc_trained >= 0.9
    assert acc_trained > acc_heur


def test_trained_langid_key_holds_heuristic_floor_on_fixture(spark):
    """On the fixture corpus (whose text is deliberately
    language-independent — word frequencies match lang base rates) the
    trained model can only learn the majority class; the attestation
    is that its holdout accuracy never falls BELOW the heuristic's on
    the same holdout, and that the registered key is deterministic and
    total (one prediction per document)."""
    from smartpipeline_spark.functions import EXT_QUERIES
    from smartpipeline_spark.functions.curation import assign_split
    from smartpipeline_spark import sources

    d = sources.table(spark, "documents", SF_SMOKE)
    pred = {
        r.doc_id: r.pred_lang
        for r in EXT_QUERIES["ext_lang_id_trained"](spark, SF_SMOKE).collect()
    }
    assert len(pred) == d.count() and all(v is not None for v in pred.values())
    truth = {r.doc_id: r.lang for r in d.select("doc_id", "lang").collect()}
    split = {
        r.doc_id: r.split
        for r in assign_split(d).select("doc_id", "split").collect()
    }
    hold = [k for k in truth if split[k] == "test"]
    heur = {
        r.doc_id: r.pred_lang
        for r in EXT_QUERIES["ext_lang_id"](spark, SF_SMOKE).collect()
    }
    acc_trained = sum(pred[k] == truth[k] for k in hold) / len(hold)
    acc_heur = sum(heur[k] == truth[k] for k in hold) / len(hold)
    assert acc_trained >= acc_heur


def test_binary_auc_single_class_returns_explicit_null(spark):
    """Degenerate label distributions (all-positive / all-negative)
    have no rankable pairs: auc must be an explicit NULL (pinned
    behavior, not an engine-dependent 0/0), with the class counts
    still reported."""
    from smartpipeline_spark.functions.curation import binary_auc

    allpos = spark.createDataFrame(
        [(0.9, 1), (0.3, 1)], "score double, label int"
    )
    r = binary_auc(allpos, "score").collect()[0]
    assert r.auc is None and r.n_pos == 2 and r.n_neg == 0
    allneg = spark.createDataFrame(
        [(0.9, 0), (0.3, 0)], "score double, label int"
    )
    r = binary_auc(allneg, "score").collect()[0]
    assert r.auc is None and r.n_pos == 0 and r.n_neg == 2
    # non-degenerate input unaffected by the guard
    mixed = spark.createDataFrame(
        [(0.9, 1), (0.3, 0)], "score double, label int"
    )
    assert binary_auc(mixed, "score").collect()[0].auc == 1.0


def test_saved_index_external_namespace_exclude_self_flag(spark, tmp_path):
    """The saved-index query paths default to the shared-id-namespace
    contract (query_id == vec_id means self, masked). An external
    query batch whose id coincidentally collides with an unrelated
    corpus vec_id must pass exclude_self=False to keep that neighbor —
    this pins both behaviors for the IVF and PQ paths."""
    from smartpipeline_spark.functions.similarity import (
        _emb,
        build_ivf_index,
        build_pq_index,
        query_ivf_index,
        query_pq_index,
    )

    e = _emb(spark, SF_SMOKE)
    x = e.limit(1).collect()[0]  # corpus vector X
    # external query: id collides with X, embedding IS X's -> X is the
    # true rank-1 neighbor (cosine 1.0) but shares the colliding id
    q = spark.createDataFrame(
        [(int(x.vec_id), list(x.emb))], "query_id long, q_emb array<double>"
    )
    ivf_path = str(tmp_path / "ivf")
    build_ivf_index(e, ivf_path)
    got_default = {
        r.neighbor_id
        for r in query_ivf_index(spark, ivf_path, q).collect()
    }
    assert x.vec_id not in got_default  # masked as self
    got_external = query_ivf_index(
        spark, ivf_path, q, exclude_self=False
    ).collect()
    by_rank = {r.rank: r for r in got_external}
    assert by_rank[1].neighbor_id == x.vec_id and by_rank[1].score >= 0.9999

    pq_path = str(tmp_path / "pq")
    build_pq_index(e, pq_path)
    got_default = {
        r.neighbor_id
        for r in query_pq_index(spark, pq_path, q, vectors=e).collect()
    }
    assert x.vec_id not in got_default
    got_external = query_pq_index(
        spark, pq_path, q, vectors=e, exclude_self=False
    ).collect()
    by_rank = {r.rank: r for r in got_external}
    assert by_rank[1].neighbor_id == x.vec_id and by_rank[1].score >= 0.9999


def test_ewma_matches_closed_form(spark):
    """ewma_by_key against a hand-computed 3-event series, plus the
    anchor invariants: the last event weighs exactly 1, so decayed_n
    >= 1 and ewma_value lies between min and max value."""
    import datetime
    import math

    from smartpipeline_spark.functions.timeseries import decay_trend, ewma_by_key

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0, 10.0),
        (1, t0 + datetime.timedelta(days=7), 20.0),
        (1, t0 + datetime.timedelta(days=14), 40.0),
        (2, t0, 5.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {r.user_id: r for r in ewma_by_key(df, "user_id", "ts", "value").collect()}

    # user 1, half-life 7d: weights 2^-2, 2^-1, 2^0 = .25, .5, 1
    w = [0.25, 0.5, 1.0]
    v = [10.0, 20.0, 40.0]
    dv = sum(wi * vi for wi, vi in zip(w, v))
    dn = sum(w)
    assert got[1].decayed_value == round(dv, 4)
    assert got[1].decayed_n == round(dn, 4)
    assert math.isclose(got[1].ewma_value, round(dv / dn, 4), abs_tol=1e-9)
    assert got[1].last_ts == t0 + datetime.timedelta(days=14)
    # single-event key: anchor weight exactly 1, mean == the value
    assert got[2].decayed_n == 1.0 and got[2].ewma_value == 5.0

    # global-anchor trend: user 2's lone event is 14d old -> weight 2^-2
    trend = {
        r.user_id: r
        for r in decay_trend(df, "user_id", "ts", "value").collect()
    }
    assert trend[2].decayed_n == 0.25 and trend[2].decayed_value == 1.25
    assert trend[1].decayed_n == round(dn, 4)


def test_winsorize_closed_form_band_and_clip_counts(spark):
    """1..100 uniform: p01/p99 interpolate to 1.99/99.01, exactly one
    row clips on each side, and the symmetric clip leaves the mean
    unchanged; clip_outliers row count equals the input."""
    from smartpipeline_spark.functions.curation import clip_outliers, winsorize_stats

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 101)], "g string, v double"
    )
    row = winsorize_stats(df, "v", "g").collect()[0]
    assert row.p_lo == 1.99 and row.p_hi == 99.01
    assert row.n_clip_lo == 1 and row.n_clip_hi == 1
    assert row.mean_raw == 50.5 and row.mean_winsorized == 50.5

    clipped = clip_outliers(df, "v", "g").collect()
    assert len(clipped) == 100
    vals = sorted(r.v_winsorized for r in clipped)
    assert vals[0] == 1.99 and vals[-1] == 99.01 and vals[1] == 2.0


def test_mad_outliers_closed_form(spark):
    """1..100 uniform: median 50.5, MAD 25.0, robust sigma 37.065; at
    k=1 exactly the 13 lowest and 13 highest values are outliers, at
    the default k=3 none are."""
    from smartpipeline_spark.functions.curation import mad_outliers

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 101)], "g string, v double"
    )
    r = mad_outliers(df, "v", "g", k=1.0).collect()[0]
    assert r.median == 50.5 and r.mad == 25.0 and r.robust_sigma == 37.065
    assert r.n_outliers == 26 and r.n_rows == 100
    r3 = mad_outliers(df, "v", "g").collect()[0]
    assert r3.n_outliers == 0


def test_c4_rules_closed_form(spark):
    """Hand-built pages: doc 1 (6 lines, 4 terminal-punct, one short
    line, one duplicated line) passes every gate; doc 2 trips the
    lorem-ipsum and brace kill flags."""
    from smartpipeline_spark.functions.curation import c4_quality_rules

    page1 = (
        "Good line one here.\nGood line two here.\nshort\n"
        "No punct line here\nGood line three yes.\nGood line three yes."
    )
    page2 = "Lorem ipsum dolor sit.\nvar x = { 1 };\nok fine."
    df = spark.createDataFrame(
        [(1, page1), (2, page2)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in c4_quality_rules(df).collect()}
    r1 = rows[1]
    assert r1.n_lines == 6 and r1.term_punct_ratio == 0.6667
    assert r1.short_line_frac == 0.1667 and r1.dup_line_frac == 0.1667
    assert not (r1.has_lorem or r1.has_brace or r1.has_js)
    assert r1.max_word_len == 5 and r1.keep
    r2 = rows[2]
    assert r2.has_lorem and r2.has_brace and not r2.has_js
    assert not r2.keep


def test_stupid_backoff_closed_form(spark):
    """Hand-computed three-level backoff: doc 0 (the reference half)
    scores pure trigram ratios; doc 1 mixes one trigram hit with two
    OOV unigram floors; doc 3 exercises the middle (bigram-backoff)
    level exactly once. Model counts follow the context convention
    (bi/uni from trigram (w1,w2)/(w1) positions)."""
    import math

    from smartpipeline_spark.functions.curation import stupid_backoff_scores

    df = spark.createDataFrame(
        [(0, "a b c a b d"), (1, "a b c x y"), (3, "x a b")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in stupid_backoff_scores(df).collect()}
    r4 = lambda x: math.floor(x * 10000.0 + 0.5) / 10000.0
    # doc 0: ln(1/2), 0, 0, ln(1/2) over 4 trigrams
    assert rows[0].in_ref and rows[0].n_trigrams == 4
    assert rows[0].avg_logscore == r4(2 * math.log(0.5) / 4) == -0.3466
    # doc 1: trigram hit ln(1/2); (b,c,x),(c,x,y) fall through to the
    # OOV unigram floor ln(0.4^2 * 0.5 / 4)
    exp1 = (math.log(0.5) + 2 * math.log(0.16 * 0.5 / 4)) / 3
    assert not rows[1].in_ref and rows[1].n_trigrams == 3
    assert rows[1].avg_logscore == r4(exp1) == -2.8391
    # doc 3: (x,a,b) missing as trigram, backs off to bigram (a,b):
    # ln(alpha * c(a,b)/c(a)) = ln(0.4 * 2/2)
    assert rows[3].avg_logscore == r4(math.log(0.4)) == -0.9163


def test_psi_drift_closed_form(spark):
    """bins=2 hand computation with Laplace 0.5: group a=[0,0,10],
    b=[10] against the pooled distribution; includes an empty-bin
    pseudo-count path (group b, bucket 0)."""
    import math

    from smartpipeline_spark.functions.curation import psi_drift

    df = spark.createDataFrame(
        [("a", 0), ("a", 0), ("a", 10), ("b", 10)], "g string, v long"
    )
    rows = {r.g: r.psi for r in psi_drift(df, "v", "g", bins=2).collect()}
    psi_a = 0.125 * (math.log(1.25) - math.log(0.75))
    psi_b = -0.25 * math.log(0.5) + 0.25 * math.log(1.5)
    r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6
    assert rows["a"] == r6(psi_a) == 0.063853
    assert rows["b"] == r6(psi_b) == 0.274653


def test_ks_drift_closed_form(spark):
    """a=[1,2,3] vs b=[2,3,4]: both ECDFs differ by exactly 1/3 at
    every interior jump -> ks 0.333333 each; a single-group corpus
    has an empty rest side and returns NULL ks, not a zero-division."""
    from smartpipeline_spark.functions.curation import ks_drift

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 2), ("b", 3), ("b", 4)],
        "g string, v long",
    )
    rows = {r.g: r for r in ks_drift(df, "v", "g").collect()}
    assert rows["a"].n_rows == 3 and rows["a"].ks == 0.333333
    assert rows["b"].n_rows == 3 and rows["b"].ks == 0.333333
    one = spark.createDataFrame([("a", 1), ("a", 2)], "g string, v long")
    r = ks_drift(one, "v", "g").collect()[0]
    assert r.n_rows == 2 and r.ks is None


def test_entropy_metrics_orders_and_bounds(spark):
    import math

    from smartpipeline_spark.functions.text import entropy_metrics

    df = spark.createDataFrame([
        {"doc_id": 1, "text": "aaaa aaaa aaaa aaaa"},        # minimal entropy
        {"doc_id": 2, "text": "the quick brown fox jumps over lazy dogs"},
        {"doc_id": 3, "text": "ab ab ab ab"},
    ])
    rows = {r.doc_id: r for r in entropy_metrics(df).collect()}
    # doc 1: chars are only {a, ' '}: H = exact two-symbol entropy
    n_a, n_sp = 16, 3
    n = n_a + n_sp
    h_exact = -(n_a/n)*math.log2(n_a/n) - (n_sp/n)*math.log2(n_sp/n)
    assert abs(rows[1].char_entropy - h_exact) < 1e-3
    # one distinct word => word entropy exactly 0
    assert rows[1].word_entropy == 0.0 and rows[1].n_words == 4
    # varied text strictly more entropic on both axes
    assert rows[2].char_entropy > rows[3].char_entropy > rows[1].char_entropy
    assert rows[2].word_entropy > rows[1].word_entropy
    # bounds: H <= log2(alphabet)
    assert rows[2].char_entropy <= math.log2(rows[2].n_chars) + 1e-9
    # keep gate fires only for the genuinely varied doc at fixture thresholds
    assert not rows[1].keep and not rows[3].keep


def test_entropy_zero_word_docs_survive_and_thresholds_bind(spark):
    """Whitespace-only documents must NOT vanish (the word leg is a
    LEFT join): they surface with n_words=0, NULL word_entropy and
    keep=false. And the gate thresholds are parameters — a short doc
    that can never clear word entropy 4.0 (bounded by log2(n_words))
    passes once the caller length-conditions the threshold."""
    from smartpipeline_spark.functions.text import entropy_metrics

    df = spark.createDataFrame([
        {"doc_id": 1, "text": "   "},                        # zero words
        {"doc_id": 2, "text": "the quick brown fox jumps"},  # 5 words
    ])
    rows = {r.doc_id: r for r in entropy_metrics(df).collect()}
    assert set(rows) == {1, 2}, "zero-word doc dropped by the join"
    assert rows[1].n_words == 0 and rows[1].word_entropy is None
    assert not rows[1].keep
    # 5 distinct words => word entropy log2(5) ~ 2.32 < default 4.0
    assert not rows[2].keep
    relaxed = {
        r.doc_id: r
        for r in entropy_metrics(
            df, min_char_entropy=2.0, min_word_entropy=2.0
        ).collect()
    }
    assert relaxed[2].keep and not relaxed[1].keep


def test_entropy_char_leg_never_explodes(spark):
    """The char leg is a row-local HOF fold BY DESIGN — the only
    Generate (explode) in the whole plan must be the word-count leg.
    A per-character explode here would be the 100 TB anti-pattern the
    docstring forbids."""
    from smartpipeline_spark.functions.text import entropy_metrics

    df = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("some text here words").alias("text")
    )
    plan = entropy_metrics(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Generate ") == 1, plan


def test_readability_flesch_exact_and_banded(spark):
    from smartpipeline_spark.functions.text import readability_scores

    df = spark.createDataFrame([
        # "the cat sat." -> 3 words, 1 sentence, 3 syllables
        {"doc_id": 1, "text": "the cat sat."},
        # polysyllabic academic prose scores much lower
        {"doc_id": 2, "text": "Incomprehensibility characterizes institutional bureaucratization."},
    ])
    rows = {r.doc_id: r for r in readability_scores(df).collect()}
    r1 = rows[1]
    assert (r1.n_words, r1.n_sentences, r1.n_syllables) == (3, 1, 3)
    want = 206.835 - 1.015 * 3 - 84.6 * 1.0
    assert abs(r1.flesch - round(want, 2)) < 1e-9
    assert r1.band == "easy"
    assert rows[2].flesch < rows[1].flesch and rows[2].band == "very_difficult"
    # degenerate doc: empty text floors at 1 word / 1 sentence / 1 syllable
    e = readability_scores(
        spark.createDataFrame([{"doc_id": 3, "text": ""}])
    ).collect()[0]
    assert (e.n_words, e.n_sentences, e.n_syllables) == (1, 1, 1)


def test_epoch_shuffle_emits_exact_permutations_that_differ(spark):
    """Each epoch's pos column is exactly 1..n (a permutation), the
    two epochs order the corpus differently, and the 256-bucket
    decomposition is parallelism-invariant (1-partition run == 32)."""
    from smartpipeline_spark.functions.curation import epoch_shuffle

    docs = spark.createDataFrame([{"doc_id": i} for i in range(311)])
    out = epoch_shuffle(docs, epochs=2).collect()
    by_epoch = {}
    for r in out:
        by_epoch.setdefault(r.epoch, {})[r.doc_id] = r.pos
    assert sorted(by_epoch) == [1, 2]
    for ep, m in by_epoch.items():
        assert sorted(m.values()) == list(range(1, 312)), ep
    order1 = sorted(by_epoch[1], key=by_epoch[1].get)
    order2 = sorted(by_epoch[2], key=by_epoch[2].get)
    assert order1 != order2
    # layout invariance: a serial layout must yield identical positions
    solo = epoch_shuffle(docs.coalesce(1), epochs=2).collect()
    assert {(r.epoch, r.doc_id, r.pos) for r in solo} == {
        (r.epoch, r.doc_id, r.pos) for r in out
    }


def test_emb_quantize_codes_bounded_and_reconstruction_within_half_step(spark):
    """int8 quantization invariants: code_sum consistent with 0..255
    codes, max reconstruction error <= scale/2 (+1 ulp), degenerate
    constant vectors quantize losslessly to zero codes."""
    from smartpipeline_spark.functions.similarity import quantize_embeddings_int8

    rows = [
        {"vec_id": 1, "emb": [0.0, 1.0, 0.25, 0.75]},
        {"vec_id": 2, "emb": [-3.5, 2.0, 0.0, 1.1]},
        {"vec_id": 3, "emb": [0.42, 0.42, 0.42, 0.42]},  # degenerate
    ]
    df = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    out = {r.vec_id: r for r in quantize_embeddings_int8(df).collect()}
    for vid, r in out.items():
        assert 0 <= r.code_sum <= 255 * r.n_dims, vid
        scale = (r.v_max - r.v_min) / 255.0 if r.v_max > r.v_min else 1.0
        assert r.max_abs_err <= scale / 2 + 1e-12, (vid, r.max_abs_err, scale)
    deg = out[3]
    assert deg.code_sum == 0 and deg.max_abs_err == 0.0
    # exact endpoints: min maps to code 0, max to 255 -> both recoverable
    r1 = out[1]
    assert r1.v_min == 0.0 and r1.v_max == 1.0


def test_resize_oracle_pins_match_kernel():
    """The 493 _RESIZE_PNG_PINS behind the ext_multimodal_resize oracle
    must stay re-derivable from the kernel: for every (doc_id%29,
    doc_id%17) residue class, resize_image(png_bytes(4+a, 4+b), 16, 12)
    must still produce a 16x12 PNG of exactly the pinned byte size.
    Static pins mean a kernel regression reddens the driver row; this
    test reddens first with a precise diff. No Spark involved."""
    from smartpipeline_spark.functions.multimodal import (
        _RESIZE_PNG_PINS,
        decode_media,
        png_bytes,
        resize_image,
    )

    pinned = {}
    for triple in _RESIZE_PNG_PINS.split("),("):
        a, b, n = map(int, triple.strip("()").split(","))
        pinned[(a, b)] = n
    assert len(pinned) == 29 * 17
    for (a, b), n in pinned.items():
        out = resize_image(png_bytes(4 + a, 4 + b), 16, 12)
        m = decode_media(out)
        assert (m["kind"], m["width"], m["height"]) == ("png", 16, 12), (a, b)
        assert len(out) == n, f"residue ({a},{b}): kernel {len(out)} != pin {n}"


def test_frames_oracle_pins_match_kernel():
    """The 493 _SOURCE_PNG_PINS behind the ext_multimodal_frames oracle
    (original-container byte sizes — images pass through frame sampling
    whole) must stay re-derivable from png_bytes. No Spark involved."""
    from smartpipeline_spark.functions.multimodal import (
        _SOURCE_PNG_PINS,
        png_bytes,
    )

    pinned = {}
    for triple in _SOURCE_PNG_PINS.split("),("):
        a, b, n = map(int, triple.strip("()").split(","))
        pinned[(a, b)] = n
    assert len(pinned) == 29 * 17
    for (a, b), n in pinned.items():
        got = len(png_bytes(4 + a, 4 + b))
        assert got == n, f"residue ({a},{b}): kernel {got} != pin {n}"


def test_pq_candidate_pins_match_reference():
    """The _PQ_CANDIDATE_PINS / _IVFPQ_CANDIDATE_PINS behind the
    ext_knn_pq / ext_knn_ivfpq oracles must stay re-derivable from the
    frozen fixtures by a pure-numpy reference (independent re-
    implementation of codebook training, encoding, ADC table gathers,
    self/probe masking and the global (score desc, neighbor_id)
    top-R cut). No Spark involved."""
    import duckdb
    import numpy as np

    from smartpipeline_spark.functions.similarity import (
        _IVF_K,
        _IVF_NPROBE,
        _IVF_SAMPLE_CAP,
        _IVFPQ_CANDIDATE_PINS,
        _PQ_CANDIDATE_PINS,
        _PQ_ITERS,
        _PQ_K,
        _PQ_M,
        _PQ_RERANK,
        N_QUERIES,
    )

    def parse(pins):
        out = {}
        for triple in pins.split("),("):
            fp, q, v = triple.strip("()").split(",")
            fp = fp.strip("'")
            out.setdefault(fp, {}).setdefault(int(q), []).append(int(v))
        return out

    def norm(m):
        return m / (np.linalg.norm(m, axis=1, keepdims=True) + 1e-12)

    got_pq, got_ivfpq = {}, {}
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        pq_path = f"/root/testdata/{sf}/embeddings.parquet"
        con = duckdb.connect()
        fp = con.sql(
            f"""SELECT CAST(COUNT(*) AS VARCHAR) || ':' ||
                CAST(SUM(CAST(embedding[1] AS DECIMAL(28,14))) AS VARCHAR)
                FROM read_parquet('{pq_path}')"""
        ).fetchone()[0]
        x = np.stack(
            con.sql(
                f"SELECT embedding::DOUBLE[] AS e FROM read_parquet('{pq_path}') ORDER BY vec_id"
            ).fetchnumpy()["e"]
        )
        sample = np.stack(
            con.sql(
                f"""SELECT embedding::DOUBLE[] AS e FROM read_parquet('{pq_path}')
                    WHERE vec_id % 7 = 0 ORDER BY vec_id LIMIT {_IVF_SAMPLE_CAP}"""
            ).fetchnumpy()["e"]
        )
        xn, sn = norm(x), norm(sample)
        ds = x.shape[1] // _PQ_M
        books = np.empty((_PQ_M, _PQ_K, ds))
        for j in range(_PQ_M):
            sub = sn[:, j * ds : (j + 1) * ds]
            cents = sub[:: max(1, len(sub) // _PQ_K)][:_PQ_K].copy()
            if len(cents) < _PQ_K:
                cents = np.resize(cents, (_PQ_K, ds))
            for _ in range(_PQ_ITERS):
                d2 = -2.0 * (sub @ cents.T) + (cents**2).sum(axis=1)
                a = d2.argmin(axis=1)
                for c in range(_PQ_K):
                    mem = sub[a == c]
                    if len(mem):
                        cents[c] = mem.mean(axis=0)
            books[j] = cents
        codes = np.empty((len(x), _PQ_M), dtype=int)
        for j in range(_PQ_M):
            sub = xn[:, j * ds : (j + 1) * ds]
            d2 = -2.0 * (sub @ books[j].T) + (books[j] ** 2).sum(axis=1)
            codes[:, j] = d2.argmin(axis=1)
        qm = xn[:N_QUERIES]
        tables = np.stack(
            [qm[:, j * ds : (j + 1) * ds] @ books[j].T for j in range(_PQ_M)], axis=1
        )
        acc = np.zeros((N_QUERIES, len(x)))
        for j in range(_PQ_M):
            acc += tables[:, j, codes[:, j]]
        for qi in range(N_QUERIES):
            acc[qi, qi] = -np.inf

        def top_r(row):
            order = sorted(range(len(row)), key=lambda v: (-row[v], v))
            return [v for v in order if np.isfinite(row[v])][:_PQ_RERANK]

        got_pq[fp] = {q: top_r(acc[q]) for q in range(N_QUERIES)}
        # ivf kmeans (cosine, normalized means) for the probe mask
        cents = sn[:: max(1, len(sn) // _IVF_K)][:_IVF_K].copy()
        for _ in range(5):
            a = (sn @ cents.T).argmax(axis=1)
            for c in range(len(cents)):
                mem = sn[a == c]
                if len(mem):
                    mu = mem.mean(axis=0)
                    cents[c] = mu / (np.linalg.norm(mu) + 1e-12)
        sims = xn @ cents.T
        assign = sims.argmax(axis=1)
        acc2 = np.zeros((N_QUERIES, len(x)))
        for j in range(_PQ_M):
            acc2 += tables[:, j, codes[:, j]]
        for qi in range(N_QUERIES):
            probe = set(np.argsort(-sims[qi])[:_IVF_NPROBE])
            acc2[qi, ~np.isin(assign, list(probe))] = -np.inf
            acc2[qi, qi] = -np.inf
        got_ivfpq[fp] = {q: top_r(acc2[q]) for q in range(N_QUERIES)}

    assert got_pq == parse(_PQ_CANDIDATE_PINS)
    assert got_ivfpq == parse(_IVFPQ_CANDIDATE_PINS)


def test_phash_oracle_pins_match_kernel():
    """Every pinned perceptual hash behind the ext_multimodal_phash
    oracle must stay re-derivable from the kernels: base and 2x-resized
    aHash per (doc_id%29, doc_id%17) residue class for both containers
    (and the container-swapped variant must hash identically to base —
    the oracle reuses h0 for it), plus the WAV envelope hash per
    doc_id%50. No Spark involved."""
    from smartpipeline_spark.functions.multimodal import (
        _PHASH_BMP_PINS,
        _PHASH_PNG_PINS,
        _PHASH_WAV_PINS,
        ahash64,
        bmp_bytes,
        png_bytes,
        reencode_image,
        resize_image,
        wav_bytes,
        wav_fp64,
    )

    def parse4(pins):
        out = {}
        for row in pins.split("),("):
            a, b, h0, h2x = map(int, row.strip("()").split(","))
            out[(a, b)] = (h0, h2x)
        return out

    png, bmp = parse4(_PHASH_PNG_PINS), parse4(_PHASH_BMP_PINS)
    assert len(png) == len(bmp) == 29 * 17
    for (a, b), (h0, h2x) in png.items():
        p = png_bytes(4 + a, 4 + b)
        assert ahash64(p) == h0 and ahash64(reencode_image(p)) == h0, (a, b)
        assert ahash64(resize_image(p, 2 * (4 + a), 2 * (4 + b))) == h2x, (a, b)
    for (a, b), (h0, h2x) in bmp.items():
        m = bmp_bytes(4 + a, 4 + b)
        assert ahash64(m) == h0 and ahash64(reencode_image(m)) == h0, (a, b)
        assert ahash64(resize_image(m, 2 * (4 + a), 2 * (4 + b))) == h2x, (a, b)
    wav = {}
    for row in _PHASH_WAV_PINS.split("),("):
        r, h = map(int, row.strip("()").split(","))
        wav[r] = h
    assert len(wav) == 50
    for r, h in wav.items():
        assert wav_fp64(wav_bytes(400 + r * 80, 8000)) == h, r


def test_classifier_pins_match_engine(spark):
    """The _QC_SCORE_PINS / _LANGID_PRED_PINS behind the two trained-
    classifier oracles must stay re-derivable from the engine at every
    ladder sf (the GD run is a deterministic pure function of the
    fixture: zero init, full batch, fixed iterations, partitioning-
    independent bucket-summed gradients). Re-trains both models per sf
    — the heavyweight honesty test that lets the driver rows stay
    lightweight pins."""
    from smartpipeline_spark.functions import EXT_QUERIES
    from smartpipeline_spark.functions.curation import (
        _LANGID_PRED_PINS,
        _QC_SCORE_PINS,
    )

    pinned_q = {}
    for row in _QC_SCORE_PINS.split("),("):
        fp, doc_id, p4 = row.strip("()").split(",")
        pinned_q.setdefault(fp.strip("'"), {})[int(doc_id)] = int(p4)
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        d = f"/root/testdata/{sf}"
        docs = spark.read.parquet(f"{d}/documents.parquet")
        from pyspark.sql import functions as F

        n, chars = docs.agg(
            F.count("*"), F.sum(F.length("text"))
        ).collect()[0]
        fp = f"{n}:{chars}"
        got_q = {
            r["doc_id"]: int(round(r["prob"] * 10000))
            for r in EXT_QUERIES["ext_quality_classifier"](spark, d).collect()
        }
        assert got_q == pinned_q[fp], f"{sf}: quality pins diverged"
        langs = {
            r["pred_lang"]
            for r in EXT_QUERIES["ext_lang_id_trained"](spark, d).collect()
        }
        assert langs == {_LANGID_PRED_PINS[fp]}, f"{sf}: langid pins diverged"


def test_classifier_pins_match_pure_reference():
    """INDEPENDENT re-derivation of the trained-classifier pins — no
    Spark anywhere (ADVICE r10: test_classifier_pins_match_engine
    re-derives the pins via the same engine, so it only detects
    drift; this test closes the loop the way the PQ/IVF/BPE pins do).
    Pure hashlib/re/numpy twin of the whole chain: java-trim + \\s+
    split + unigram/bigram md5 buckets, md5 train split, full-batch
    GD (quality: 20 iters binary; langid: 8 iters one-vs-rest),
    score every document, compare to _QC_SCORE_PINS /
    _LANGID_PRED_PINS at ALL THREE ladder sfs.

    Bitwise equality with the engine is not expected (JVM Math.exp vs
    numpy exp differ by ~1 ulp per iteration), so the test also
    asserts the DECISION margins that make the 1e-4-grid pins robust
    to that noise: every prob at least 1e-7 from a rounding boundary
    (measured >= 2.1e-4) and every argmax at least 1e-6 clear of the
    runner-up (measured >= 0.32)."""
    import hashlib
    import re

    import numpy as np

    from smartpipeline_spark.functions.curation import (
        _LANGID_PRED_PINS,
        _QC_SCORE_PINS,
        QC_BUCKETS,
    )

    m = QC_BUCKETS
    jtrim = "".join(chr(c) for c in range(0x21))
    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")

    def buckets_of(text):
        if text is None:
            return [-1]
        s = text.strip(jtrim).lower()
        ws = [""] if s == "" else ws_re.split(s)
        gs = list(ws)
        if len(ws) >= 2:
            gs += [ws[i] + " " + ws[i + 1] for i in range(len(ws) - 1)]
        out, seen = [-1], {-1}
        for g in gs:
            b = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16) % m
            if b not in seen:
                seen.add(b)
                out.append(b)
        return out

    def csr(bls):
        indptr = np.zeros(len(bls) + 1, dtype=np.int64)
        for i, bs in enumerate(bls):
            indptr[i + 1] = indptr[i] + len(bs)
        idx = np.empty(indptr[-1], dtype=np.int64)
        for i, bs in enumerate(bls):
            idx[indptr[i] : indptr[i + 1]] = bs
        return indptr, idx, np.diff(indptr)

    def doc_sums(W2d, indptr, idx):
        # per-doc sum of weights at the doc's buckets — same numpy
        # fancy-index + .sum the engine's scoring UDF runs per row
        return np.stack(
            [
                W2d[:, idx[indptr[i] : indptr[i + 1]]].sum(axis=1)
                for i in range(len(indptr) - 1)
            ]
        )

    pinned_q = {}
    for row in _QC_SCORE_PINS.split("),("):
        f_, d_, v_ = row.strip("()").split(",")
        pinned_q.setdefault(f_.strip("'"), {})[int(d_)] = int(v_)

    import pyarrow.parquet as pq

    lr, l2 = 2.0, 1e-6
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        tbl = pq.read_table(
            f"/root/testdata/{sf}/documents.parquet",
            columns=["doc_id", "text", "lang"],
        )
        doc_ids = tbl["doc_id"].to_pylist()
        texts = tbl["text"].to_pylist()
        fp = f"{len(doc_ids)}:{sum(len(t) for t in texts if t is not None)}"
        bls = [buckets_of(t) for t in texts]
        is_train = np.array(
            [
                int(hashlib.md5(str(d).encode()).hexdigest()[:8], 16) % 100 < 80
                for d in doc_ids
            ]
        )
        indptr, idx, _ = csr(bls)
        tr_bls = [b for b, t in zip(bls, is_train) if t]
        tr_ptr, tr_idx, tr_counts = csr(tr_bls)
        n = len(tr_bls)
        seen = np.unique(tr_idx)

        # --- quality classifier: binary GD, 20 iters (the key's value)
        y = np.array(
            [1.0 if (t is not None and "vector" in t) else 0.0 for t in texts]
        )[is_train.astype(bool)]
        w = np.zeros(m + 1)
        for _ in range(20):
            z = doc_sums(w[None, :], tr_ptr, tr_idx)[:, 0]
            r = 1.0 / (1.0 + np.exp(-z)) - y
            g = np.zeros(m + 1)
            np.add.at(g, tr_idx, np.repeat(r, tr_counts))
            w[seen] -= lr * (g[seen] / n + l2 * w[seen])
        p = 1.0 / (1.0 + np.exp(-doc_sums(w[None, :], indptr, idx)[:, 0]))
        scaled = p * 10000.0 + 0.5
        fracs = scaled % 1.0
        assert np.minimum(fracs, 1.0 - fracs).min() > 1e-7, f"{sf}: grid margin"
        mine = {int(d): int(v) for d, v in zip(doc_ids, np.floor(scaled))}
        assert mine == pinned_q[fp], f"{sf}: pure-reference quality pins diverged"

        # --- langid: one-vs-rest GD, 8 iters (the key's value)
        classes = sorted(set(tbl["lang"].to_pylist()))
        cidx = {c: i for i, c in enumerate(classes)}
        tr_y = np.array([cidx[lg] for lg in tbl["lang"].to_pylist()])[
            is_train.astype(bool)
        ]
        W = np.zeros((len(classes), m + 1))
        for _ in range(8):
            P = 1.0 / (1.0 + np.exp(-doc_sums(W, tr_ptr, tr_idx)))
            P[np.arange(n), tr_y] -= 1.0
            G = np.zeros_like(W)
            for c in range(len(classes)):
                np.add.at(G[c], tr_idx, np.repeat(P[:, c], tr_counts))
            W[:, seen] -= lr * (G[:, seen] / n + l2 * W[:, seen])
        Z = doc_sums(W, indptr, idx)
        top2 = np.sort(Z, axis=1)
        assert (top2[:, -1] - top2[:, -2]).min() > 1e-6, f"{sf}: argmax margin"
        preds = {classes[int(i)] for i in np.argmax(Z, axis=1)}
        assert preds == {_LANGID_PRED_PINS[fp]}, f"{sf}: pure langid pin diverged"


def test_bm25_index_lifecycle(spark, tmp_path):
    """The persisted BM25 postings index (build/append/query — the
    lexical member of the saved retrieval-index family): (a) the
    indexed scorer is BIT-identical to the inline bm25_scores on raw
    totals; (b) (build; append) equals build-on-concat in postings,
    stats, and query results; (c) the term probe reaches the parquet
    footers (PushedFilters In(w,...)) and the sorted layout gives
    files disjoint term ranges."""
    import json
    import os

    import pyarrow.parquet as pq

    from smartpipeline_spark.functions.text import (
        BM25_TERMS,
        append_to_bm25_index,
        bm25_scores,
        build_bm25_index,
        query_bm25_index,
    )

    from smartpipeline_spark import indexstore

    def seg_postings(path):
        return {tuple(r) for r in indexstore.read(spark, path, "postings").collect()}

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    full = str(tmp_path / "full")
    stats = build_bm25_index(docs, full)
    assert stats["n_docs"] == docs.count()

    # (a) bit-identical raw totals vs the inline scorer (verify=True
    # also exercises the torn-layout row-count detector on a good index)
    inline = {r["doc_id"]: r["raw"] for r in bm25_scores(docs).collect()}
    indexed = {
        r["doc_id"]: r["raw"]
        for r in query_bm25_index(spark, full, BM25_TERMS, verify=True).collect()
    }
    assert indexed == inline

    # (b) build+append == rebuild
    half_a = docs.filter("doc_id % 2 = 0")
    half_b = docs.filter("doc_id % 2 = 1")
    inc = str(tmp_path / "inc")
    build_bm25_index(half_a, inc)
    stats2 = append_to_bm25_index(half_b, inc)
    assert {k: stats2[k] for k in ("n_docs", "sum_dl", "postings_rows")} == {
        k: stats[k] for k in ("n_docs", "sum_dl", "postings_rows")
    }
    assert len(stats2["segments"]) == 2
    assert seg_postings(inc) == seg_postings(full)
    inc_q = {
        r["doc_id"]: r["raw"]
        for r in query_bm25_index(spark, inc, BM25_TERMS).collect()
    }
    assert inc_q == inline

    # (c) pushdown + sorted layout (disjoint term ranges WITHIN each
    # immutable segment — a probe opens ~1 file per term per segment)
    plan = (
        query_bm25_index(spark, full, BM25_TERMS)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "In(w, [" in plan, "term probe not pushed to the scan"
    for seg in indexstore.segments(indexstore.manifest(inc), "postings"):
        ranges = []
        pdir = f"{inc}/postings/seg={seg}"
        for f in sorted(os.listdir(pdir)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(pdir, f)).metadata
            lo = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
            ranges.append((lo, hi))
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, f"{seg} files overlap: {hi1!r} > {lo2!r}"


def test_bm25_index_survives_compaction(spark, tmp_path):
    """The standing maintenance story for the append-heavy lexical
    index: after appends accumulate segments, indexstore.compact must
    merge them into ONE segment via a reader-safe manifest flip, reap
    the replaced dirs, and leave the indexed scorer EXACT (stats carry
    over unchanged; postings rows are order-free). The merged segment
    must regain the disjoint-term-range layout (~1 file per term probe
    total — the auto-compaction 'done' criterion)."""
    import os

    import pyarrow.parquet as pq

    from smartpipeline_spark import indexstore
    from smartpipeline_spark.functions.text import (
        BM25_TERMS,
        append_to_bm25_index,
        build_bm25_index,
        query_bm25_index,
    )

    def segs(path):
        return indexstore.segments(indexstore.manifest(path), "postings")

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    path = str(tmp_path / "idx")
    build_bm25_index(docs.filter("doc_id % 3 = 0"), path)
    append_to_bm25_index(docs.filter("doc_id % 3 = 1"), path)
    append_to_bm25_index(docs.filter("doc_id % 3 = 2"), path)
    assert len(segs(path)) == 3
    before = {
        r["doc_id"]: r["raw"]
        for r in query_bm25_index(spark, path, BM25_TERMS).collect()
    }
    report = indexstore.compact(spark, path)
    assert report["segments_before"] == 3 and report["segments_after"] == 1
    assert report["dirs_reaped"] == 3
    assert len(segs(path)) == 1
    # only the live segment remains on disk
    assert os.listdir(os.path.join(path, "postings")) == [f"seg={segs(path)[0]}"]
    after = {
        r["doc_id"]: r["raw"]
        for r in query_bm25_index(spark, path, BM25_TERMS, verify=True).collect()
    }
    assert after == before
    # merged segment is sort-clustered again: disjoint per-file ranges
    pdir = os.path.join(path, "postings", f"seg={segs(path)[0]}")
    ranges = []
    for f in sorted(os.listdir(pdir)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(pdir, f)).metadata
        lo = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2


def test_bm25_append_auto_compacts(spark, tmp_path, monkeypatch):
    """Once segments exceed the store's COMPACT_AFTER the append APIs
    trigger the reader-safe compaction inline, so probe cost returns
    to ~1 file per term without an external maintenance job."""
    from smartpipeline_spark import indexstore
    from smartpipeline_spark.functions.text import (
        BM25_TERMS,
        append_to_bm25_index,
        bm25_scores,
        build_bm25_index,
        query_bm25_index,
    )

    monkeypatch.setattr(indexstore, "COMPACT_AFTER", 2)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    path = str(tmp_path / "idx")
    build_bm25_index(docs.filter("doc_id % 4 = 0"), path)
    append_to_bm25_index(docs.filter("doc_id % 4 = 1"), path)
    stats = append_to_bm25_index(docs.filter("doc_id % 4 = 2"), path)
    # third segment crossed the threshold -> compacted back to one
    assert len(stats["segments"]) == 1
    assert len(indexstore.segments(indexstore.manifest(path), "postings")) == 1
    part = docs.filter("doc_id % 4 < 3")
    expected = {r["doc_id"]: r["raw"] for r in bm25_scores(part).collect()}
    got = {
        r["doc_id"]: r["raw"]
        for r in query_bm25_index(spark, path, BM25_TERMS, verify=True).collect()
    }
    assert got == expected


def test_overlap_legs_order_and_error_propagation(spark):
    """r13: the hybrid keys run their independent retrieval legs on
    concurrent driver threads (guide §2.6). Results come back in
    submission order regardless of completion order, and a failing leg
    raises in the caller instead of being swallowed."""
    import time

    from smartpipeline_spark.functions.similarity import _overlap_legs

    def slow():
        time.sleep(0.2)
        return spark.range(3).selectExpr("id").localCheckpoint(eager=True)

    def fast():
        return spark.range(5).selectExpr("id * 10 as id").localCheckpoint(
            eager=True
        )

    a, b = _overlap_legs(slow, fast)
    assert sorted(r.id for r in a.collect()) == [0, 1, 2]
    assert sorted(r.id for r in b.collect()) == [0, 10, 20, 30, 40]

    def boom():
        raise ValueError("leg failed")

    try:
        _overlap_legs(fast, boom)
    except ValueError as e:
        assert "leg failed" in str(e)
    else:
        raise AssertionError("leg exception did not propagate")
