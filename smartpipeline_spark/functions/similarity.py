"""Similarity search over the ``embeddings`` table.

* ``ext_knn_bruteforce`` — exact top-k cosine neighbors; the
  correctness baseline, DuckDB-oracled via list_cosine_similarity.
  The query set broadcasts, the corpus streams: cost is one scan of
  the corpus per batch of queries, fully partition-parallel.
* ``ext_knn_lsh`` — random-hyperplane LSH bucketing, the scale path:
  corpus is bucketed once (a write-once index at 100 TB), queries
  probe only their bucket. Oracled as of r10 by a FULL SEMANTIC
  REPLAY: the hyperplanes are fixed literals, so the DuckDB oracle
  recomputes the same signatures (list_dot_product against the same
  plane constants), bucket-joins, dedups and exact-re-scores — it
  grades the bucketing itself, not merely recall containment. Recall
  vs brute force additionally measured in pytest.

Dot products use built-in higher-order functions (zip_with +
aggregate) — JVM-side, no Python. For very wide vectors a pandas_udf
over Arrow would amortize better; at dim<=1024 the built-ins win.
"""

# NOTE: no `from __future__ import annotations` here — pandas_udf must
# evaluate the pd.Series type hints at decoration time
import os
import random

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from smartpipeline_spark import indexstore, materialize, sources
from smartpipeline_spark.functions import ext_query
from smartpipeline_spark.rounding import half_up, np_half_up

K_NEIGHBORS = 10
N_QUERIES = 10  # vec_id < 10 are the query vectors
_DIM = 64

# Multi-table hyperplane LSH: collision prob for angle θ is
# (1-θ/π)^BITS per table, 1-(1-p)^TABLES overall. Random 64-d vectors
# put true neighbors at θ≈60-70°, so one wide table has ~0 recall;
# 16 tables × 4 bits gives ~0.95 union recall there while still
# cutting each probe to ~1/2^4 of the corpus per table.
_N_TABLES = 16
_BITS_PER_TABLE = 4

_rng = random.Random(7)
# fixed random hyperplanes (deterministic across runs / both paths)
_PLANES = [
    [[_rng.gauss(0.0, 1.0) for _ in range(_DIM)] for _ in range(_BITS_PER_TABLE)]
    for _ in range(_N_TABLES)
]


_EMB_WIDTH: dict[tuple, int] = {}  # embeddings file signature -> repartition width


def _emb(spark, sf_dir) -> DataFrame:
    """Embeddings with double vectors, repartitioned: the test corpus
    is one parquet file (one partition — serial); the hyperplane/dot
    math is CPU-bound, so spread it first. Width adapts to corpus
    size (~500 vectors per task floor) — over-splitting a small corpus
    costs more in per-task/python-worker overhead than it buys
    (measured: 5k vectors run faster on 8 tasks than 32).

    The sizing ``count()`` is metadata-only but still schedules a job
    per call; at 100 TB with hundreds of query batches that is pure
    driver traffic, so the width is computed ONCE per corpus file and
    cached under its :func:`~smartpipeline_spark.sources.file_signature`
    (a file rewritten in place is sized again). A path with no local
    signature (a directory, a remote store) is taken as a static
    snapshot and keyed by path alone."""
    raw = sources.table(spark, "embeddings", sf_dir)
    path = os.path.join(sf_dir, "embeddings.parquet")
    key = sources.file_signature(path) or (path,)
    width = _EMB_WIDTH.get(key)
    if width is None:
        import math

        rows = raw.count()  # parquet metadata only — no data scan
        # floor ~500 vectors/task (below it task overhead dominates —
        # measured), cap at parallelism for one clean wave, but GROW
        # past parallelism at ~50k vectors (~50 MB of 128-dim doubles)
        # per task so a billion-vector corpus never pins memory-per-
        # task to corpus_size/cores (VERDICT r10: bare-parallelism
        # widths don't survive 100 TB)
        width = max(
            max(1, min(spark.sparkContext.defaultParallelism, rows // 500)),
            math.ceil(rows / 50_000),
        )
        _EMB_WIDTH[key] = width
    return raw.repartition(width).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential left-to-right double summation — matches the oracle's
    evaluation order so values agree to ~1 ulp."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


# Exact top-k oracle, shared by ext_knn_bruteforce AND (round 9)
# ext_knn_hnsw: on the fixture ladder the sharded-HNSW candidate union
# contains the true top-k for every query (verified bit-exact
# including rounded scores at sf0.001/0.01/0.1), so the exact ranking
# is the correct — and regression-sensitive — oracle for both. If the
# HNSW build parameters or the embeddings fixture ever change, re-run
# that equality check before trusting a red row as a semantics bug.
_KNN_TOPK_ORACLE = f"""WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
                  WHERE vec_id < {N_QUERIES}),
        c AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 FLOOR(list_cosine_similarity(q.emb, c.emb) * 10000.0 + 0.5)
                   / 10000.0 AS score
          FROM q JOIN c ON q.vec_id <> c.vec_id),
        ranked AS (
          SELECT query_id, neighbor_id, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, rank, score
        FROM ranked WHERE rank <= {K_NEIGHBORS}"""


@ext_query("ext_knn_bruteforce", _KNN_TOPK_ORACLE)
def ext_knn_bruteforce(spark, sf_dir):
    """Exact ANN baseline: broadcast the query set against the corpus,
    rank per query with a window over (rounded score, neighbor_id) so
    ordering is deterministic in both engines. Norms are projected
    once per SIDE before the join (pure per-vector values; the
    ``dot/(qn*cn)`` arithmetic is unchanged, so scores stay
    bit-identical) — the naive per-pair ``cosine_expr`` re-folds each
    corpus norm once per query it meets, which the r12 IVF probe
    measured at ~5x the per-pair cost of the dot fold alone."""
    from pyspark.sql.window import Window

    e = _emb(spark, sf_dir).withColumn("_cn", norm_expr(F.col("emb")))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("_cn").alias("_qn"),
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            half_up(
                dot_expr(F.col("q_emb"), F.col("emb"))
                / (F.col("_qn") * F.col("_cn")), 4
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K_NEIGHBORS)
        .select("query_id", "neighbor_id", "rank", "score")
    )


# ---------------------------------------------------- MMR diversification
# Maximal Marginal Relevance (Carbonell & Goldstein '98): greedy top-k
# that trades relevance against redundancy — next pick maximizes
# λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s). The curation use is
# diversified selection (search results, few-shot example pools,
# training-subset picking after dedup); relevance-only top-k returns
# near-duplicate clusters, MMR spends the k slots on coverage.
_MMR_POOL = 24  # relevance pool per query the greedy runs over
_MMR_K = 8      # diversified picks per query
_MMR_LAMBDA = 0.7

_MMR_ORACLE = f"""WITH RECURSIVE
 q AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
       WHERE vec_id < {N_QUERIES}),
 c AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
 scored AS (
   SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          FLOOR(list_cosine_similarity(q.emb, c.emb) * 10000.0 + 0.5)
            / 10000.0 AS rel
   FROM q JOIN c ON q.vec_id <> c.vec_id),
 pool AS (
   SELECT * FROM (
     SELECT query_id, neighbor_id, rel,
            ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rel DESC, neighbor_id) AS rnk
     FROM scored) ranked WHERE rnk <= {_MMR_POOL}),
 pairs AS (
   SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
          FLOOR(list_cosine_similarity(ea.emb, eb.emb) * 10000.0 + 0.5)
            / 10000.0 AS s
   FROM pool a JOIN pool b ON a.query_id = b.query_id
                          AND a.neighbor_id <> b.neighbor_id
   JOIN c ea ON ea.vec_id = a.neighbor_id
   JOIN c eb ON eb.vec_id = b.neighbor_id),
 sel AS (
   SELECT query_id, 1 AS step, neighbor_id AS picked,
          {_MMR_LAMBDA} * rel AS mmr, [neighbor_id] AS sel_ids
   FROM pool WHERE rnk = 1
   UNION ALL
   SELECT s.query_id, s.step + 1, nxt.neighbor_id, nxt.mmr,
          list_append(s.sel_ids, nxt.neighbor_id)
   FROM sel s, LATERAL (
     SELECT p.neighbor_id,
            {_MMR_LAMBDA} * p.rel - {1.0 - _MMR_LAMBDA} * (
              SELECT MAX(pr.s) FROM pairs pr
              WHERE pr.query_id = p.query_id AND pr.i = p.neighbor_id
                AND list_contains(s.sel_ids, pr.j)) AS mmr
     FROM pool p
     WHERE p.query_id = s.query_id
       AND NOT list_contains(s.sel_ids, p.neighbor_id)
     ORDER BY mmr DESC, p.neighbor_id
     LIMIT 1) nxt
   WHERE s.step < {_MMR_K})
SELECT query_id, picked AS neighbor_id, step AS mmr_rank,
       FLOOR(mmr * 10000.0 + 0.5) / 10000.0 AS mmr_score
FROM sel"""


def _spread_groups(df: DataFrame, n_groups: int, col: str) -> DataFrame:
    """One partition per group ahead of a CPU-heavy applyInPandas.

    AQE's small-shuffle coalescing sees a few KB behind the groupBy
    exchange and merges everything into ONE reduce partition, which
    serializes every per-group kernel into a single Python worker
    (measured: 4 one-second graph builds ran in 4.9s). An explicit
    repartition is exempt from coalescing, and RANGE partitioning
    (not hash) is what guarantees distinct groups land in distinct
    partitions — the group labels are small consecutive ints whose
    murmur3 values collide at practical partition counts (ids 0 and 1
    collide mod 16/32/64). Catalyst accepts the range layout as
    satisfying the groupBy clustering, so no second exchange appears;
    the range sampling pass costs one cheap job on the tiny keyed
    frame. Only worth it when per-group kernel CPU dominates — plain
    data-bound groupBys should keep letting AQE coalesce."""
    return df.repartitionByRange(max(1, n_groups), col)


def mmr_diversify(
    pool: DataFrame,
    k: int = _MMR_K,
    lam: float = _MMR_LAMBDA,
) -> DataFrame:
    """Greedy MMR over a per-query candidate pool: ``pool`` carries
    (query_id, neighbor_id, rel, emb) with at most a few dozen rows
    per query (the output of ANY first-stage retriever — brute,
    LSH/IVF/HNSW — which is where the scale knob lives). One
    applyInPandas group per query: the greedy is O(pool²·k) on a
    pool that is bounded BY CONTRACT, pairwise similarities are one
    (pool × pool) matrix per group, and nothing touches the driver —
    at 100 TB the cost profile is the retriever's, MMR re-ranking is
    noise. Pairwise cosines accumulate dimension-by-dimension
    (``Σ_d outer(E_d, E_d)``) so every pair reproduces the sequential
    fold order of :func:`cosine_expr` bit-for-bit, then round to the
    4-decimal grid shared with the DuckDB oracle; the λ-blend runs on
    those rounded doubles, so both engines walk identical argmax
    (tie: lowest id) paths."""
    import numpy as np
    import pandas as pd

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["rel", "neighbor_id"], ascending=[False, True]
        ).reset_index(drop=True)
        n = len(pdf)
        E = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
        dots = np.zeros((n, n))
        norms = np.zeros(n)
        for d in range(E.shape[1]):  # fold order: acc + x*x, dim by dim
            col = E[:, d]
            dots += np.outer(col, col)
            norms += col * col
        nrm = np.sqrt(norms)
        sim = np_half_up(dots / np.outer(nrm, nrm), 4)
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        ids = pdf["neighbor_id"].to_numpy()
        picks, scores = [0], [lam * rel[0]]
        penalty = sim[:, 0].copy()
        while len(picks) < min(k, n):
            best = -1
            best_v = None
            for i in range(n):
                if i in picks:
                    continue
                v = lam * rel[i] - (1.0 - lam) * penalty[i]
                if best < 0 or v > best_v or (v == best_v and ids[i] < ids[best]):
                    best, best_v = i, v
            picks.append(best)
            scores.append(best_v)
            np.maximum(penalty, sim[:, best], out=penalty)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "neighbor_id": ids[picks],
                "mmr_rank": np.arange(1, len(picks) + 1, dtype=np.int32),
                "mmr_score": np_half_up(np.asarray(scores), 4),
            }
        )

    # NO _spread_groups here: the greedy kernel is ~20ms/group, so the
    # range-sampling job costs more than AQE's coalesced single task
    # (measured 0.68s -> 0.93s) — the helper's own "only when kernel
    # CPU dominates" rule, applied.
    return pool.groupBy("query_id").applyInPandas(
        kernel,
        "query_id long, neighbor_id long, mmr_rank int, mmr_score double",
    )


@ext_query("ext_mmr_diversify", _MMR_ORACLE)
def ext_mmr_diversify(spark, sf_dir):
    """MMR-diversified top-k: brute relevance pool (same broadcast
    shape as ext_knn_bruteforce, pool of _MMR_POOL=24) re-ranked by
    :func:`mmr_diversify` (λ=0.7, k=8). The DuckDB oracle replays the
    greedy exactly as a recursive CTE carrying the selected list,
    re-picking each step's argmax with a LATERAL top-1."""
    from pyspark.sql.window import Window

    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "emb",
        half_up(cosine_expr(F.col("q_emb"), F.col("emb")), 4).alias("rel"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("neighbor_id")
    )
    pool = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _MMR_POOL)
        .select("query_id", "neighbor_id", "rel", "emb")
    )
    return mmr_diversify(pool)


def _lsh_buckets_udf():
    """All-table hyperplane signatures in one vectorized Pandas UDF:
    a (batch x dim) @ (dim x tables*bits) numpy matmul, sign-packed to
    one bucket int per table. Spark's higher-order functions are
    interpreted (no codegen), so 64 per-row aggregate() dot products
    cost ~10x more than this single Arrow-batched matmul — the
    documented exception where a vectorized UDF beats built-ins."""
    planes = np.array(_PLANES, dtype=np.float64)  # (tables, bits, dim)
    flat = planes.reshape(_N_TABLES * _BITS_PER_TABLE, _DIM)  # (t*b, dim)
    weights = (1 << np.arange(_BITS_PER_TABLE)).astype(np.int64)

    @F.pandas_udf("array<int>")
    def buckets(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy())  # (n, dim)
        bits = (m @ flat.T) > 0  # (n, tables*bits)
        bits = bits.reshape(len(m), _N_TABLES, _BITS_PER_TABLE)
        vals = (bits * weights).sum(axis=2)  # (n, tables)
        return pd.Series(list(vals.astype("int32")))

    return buckets


@ext_query(
    "ext_embedding_centroids",
    """SELECT label, i AS pos,
              FLOOR(AVG(embedding[i]) * 10000.0 + 0.5) / 10000.0 AS centroid
       FROM embeddings, LATERAL (
         SELECT unnest(generate_series(1, len(embedding))) AS i) t
       GROUP BY label, i""",
)
def ext_embedding_centroids(spark, sf_dir):
    """Per-label centroid vectors via posexplode + groupBy(label, pos):
    the standard distributed reduction for k-means-style updates —
    shuffle carries (label, pos, partial sums), never whole vectors."""
    e = sources.table(spark, "embeddings", sf_dir)
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(half_up(F.avg("v"), 4).alias("centroid"))
    )


def _lsh_oracle() -> str:
    """DuckDB oracle for ext_knn_lsh: a FULL SEMANTIC REPLAY of the
    LSH pipeline rather than a containment argument (the HNSW recipe
    does not transfer here: on this i.i.d.-gaussian corpus true
    neighbors sit at θ≈70°, so a candidate union ⊇ true top-k would
    need to probe essentially the whole corpus — measured r10:
    16×4-bit tables miss 21–43 of the 100 true pairs across the
    ladder). Instead the oracle re-derives the SAME bucketing from
    the SAME fixed hyperplanes, emitted as literals from _PLANES via
    repr (single source of truth with the Pandas-UDF path):
    signature = Σ (dot(emb, plane)>0) << bit per table, candidates =
    distinct (query, corpus) pairs sharing any (table_id, bucket),
    then the exact rounded re-score and (score desc, neighbor_id)
    top-k — so the driver row grades hyperplane math, sign packing,
    multi-table union, dedup AND re-rank end-to-end.

    Cross-engine sign robustness: numpy's matmul and DuckDB's
    list_dot_product sum in different orders, so a dot within ~1e-13
    of zero could flip a bit. Measured margin on the frozen fixture:
    min |dot| over corpus × all 64 planes = 3.1e-7 (sf0.1), 2.1e-5
    (sf0.001), 8.3e-5 (sf0.01) — six orders above summation noise;
    replay verified exact-equal at all three sfs (r10)."""
    rows = []
    for t, planes in enumerate(_PLANES):
        for b, p in enumerate(planes):
            lit = "[" + ",".join(repr(x) for x in p) + "]"
            rows.append(f"({t},{b},{lit}::DOUBLE[])")
    values = ",\n".join(rows)
    return f"""WITH planes(table_id, bit, plane) AS (VALUES {values}),
 c AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
 sigs AS (
   SELECT e.vec_id, p.table_id,
          CAST(SUM(CASE WHEN list_dot_product(e.emb, p.plane) > 0
                        THEN 1 << p.bit ELSE 0 END) AS INT) AS bucket
   FROM c e CROSS JOIN planes p
   GROUP BY e.vec_id, p.table_id),
 cand AS (
   SELECT DISTINCT qs.vec_id AS query_id, cs.vec_id AS neighbor_id
   FROM sigs qs JOIN sigs cs
     ON qs.table_id = cs.table_id AND qs.bucket = cs.bucket
   WHERE qs.vec_id < {N_QUERIES} AND cs.vec_id <> qs.vec_id),
 scored AS (
   SELECT cand.query_id, cand.neighbor_id,
          FLOOR(list_cosine_similarity(eq.emb, ec.emb) * 10000.0 + 0.5)
            / 10000.0 AS score
   FROM cand JOIN c eq ON eq.vec_id = cand.query_id
             JOIN c ec ON ec.vec_id = cand.neighbor_id),
 ranked AS (
   SELECT query_id, neighbor_id, score,
          ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY score DESC, neighbor_id) AS rank
   FROM scored)
SELECT query_id, neighbor_id, rank, score FROM ranked WHERE rank <= {K_NEIGHBORS}"""


@ext_query("ext_knn_lsh", _lsh_oracle())
def ext_knn_lsh(spark, sf_dir):
    """LSH-bucketed ANN, the scale path: the corpus is hashed once
    into _N_TABLES independent bucket keys (at 100 TB: a write-once
    table partitioned by (table_id, bucket), probe many); each query
    scores only the union of its 16 buckets instead of the full
    corpus. Candidates dedup on (query_id, neighbor_id) before the
    exact re-score, so multi-table hits cost one cosine each.
    Oracled as of r10 by the full semantic replay in
    :func:`_lsh_oracle` (the hyperplanes are fixed literals shared
    between both engines); recall vs brute force stays pytest-pinned
    on top."""
    e = _emb(spark, sf_dir)
    buckets = _lsh_buckets_udf()
    # both the probe side and the corpus side read `keyed`: persist so
    # the signature UDF runs one pass over the corpus, not two (at
    # 100 TB this persist IS the write-once (table_id, bucket) index)
    keyed = materialize.persist(
        e.select("vec_id", "emb", F.posexplode(buckets(F.col("emb"))).alias("table_id", "bucket"))
    )
    q = keyed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("table_id").alias("q_table"),
        F.col("bucket").alias("q_bucket"),
    )
    cands = (
        keyed.join(
            F.broadcast(q),
            (F.col("table_id") == F.col("q_table"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "q_emb", F.col("vec_id").alias("neighbor_id"), "emb")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _exact_topk(cands)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path next to LSH
# ---------------------------------------------------------------------------

_IVF_K = 16  # coarse cells
# nprobe=8 probes half the cells: necessary on THIS corpus because the
# synthetic embeddings are i.i.d. gaussian — true neighbors sit at
# cosine ~0.4, barely inside cell locality. Clustered real-world
# embeddings run nprobe ~k/8 at much higher recall; the knob is the
# recall/throughput dial either way.
_IVF_NPROBE = 8
_IVF_SAMPLE_CAP = 2048  # training sample collected to the driver
_IVF_ITERS = 5


def _ivf_centroids(e: DataFrame) -> np.ndarray:
    """Seeded k-means over a BOUNDED deterministic sample (<=2048
    vectors, ~1 MB at dim 64) collected to the driver — the standard
    IVF training recipe (FAISS trains coarse quantizers on a sample
    too): training cost is constant in corpus size, the full corpus is
    only ever *assigned*, never iterated. Deterministic: sample =
    ordered vec_id stride, init = evenly spaced sample rows, fixed
    iteration count."""
    sample = (
        e.filter(F.col("vec_id") % 7 == 0)
        .orderBy("vec_id")
        .limit(_IVF_SAMPLE_CAP)
        .select("emb")
        .collect()
    )
    return _ivf_kmeans(np.array([r["emb"] for r in sample], dtype=np.float64))


def _ivf_kmeans(m: np.ndarray) -> np.ndarray:
    """The pure-numpy k-means core of :func:`_ivf_centroids`, split out
    so the oracle pin-honesty pytest can re-derive the pinned centroids
    from the raw fixture sample without a SparkSession."""
    m = m / (np.linalg.norm(m, axis=1, keepdims=True) + 1e-12)
    # every centroid is snapped to a 1e-12 grid: numpy's SIMD reductions
    # round differently by an ulp from one CPU to the next, and the
    # oracle replays the pinned doubles by repr. The snap makes a host
    # difference much less likely, not impossible: an ulp can still
    # cross a grid midpoint, or flip a near-tie in the argmax below,
    # which runs on unsnapped rows; the pin test's repr check catches it
    cents = np_half_up(m[:: max(1, len(m) // _IVF_K)][:_IVF_K], 12)
    for _ in range(_IVF_ITERS):
        assign = (m @ cents.T).argmax(axis=1)  # cosine on normalized rows
        for c in range(len(cents)):
            members = m[assign == c]
            if len(members):
                mu = members.mean(axis=0)
                cents[c] = np_half_up(mu / (np.linalg.norm(mu) + 1e-12), 12)
    return cents


def _ivf_cells_udf(cents: np.ndarray, nprobe: int):
    """Vectorized cell assignment: one Arrow-batched matmul against the
    (tiny, closure-broadcast) centroid matrix; returns the nprobe
    nearest cell ids per vector. nprobe=1 indexes the corpus, nprobe=N
    probes for queries."""

    @F.pandas_udf("array<int>")
    def cells(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy())
        m = m / (np.linalg.norm(m, axis=1, keepdims=True) + 1e-12)
        sims = m @ cents.T  # (n, k)
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype("int32")
        return pd.Series(list(top))

    return cells


def _exact_topk(cands: DataFrame, k: int | None = None) -> DataFrame:
    """Shared tail of every ANN path: exact cosine re-score of the
    candidate set, deterministic per-query top-k. A caller that has
    already scored map-side (``score`` present — the IVF candidate
    algebra, which scores inside the broadcast-join stage so its dedup
    exchange never carries embeddings) skips straight to the top-k."""
    from pyspark.sql.window import Window

    if "score" in cands.columns:
        scored = cands.select("query_id", "neighbor_id", "score")
    else:
        scored = cands.select(
            "query_id",
            "neighbor_id",
            half_up(cosine_expr(F.col("q_emb"), F.col("emb")), 4).alias("score"),
        )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= (K_NEIGHBORS if k is None else k))
        .select("query_id", "neighbor_id", "rank", "score")
    )


# Reference coarse-quantizer centroids per frozen fixture, keyed by the
# embeddings fingerprint COUNT(*):SUM(DECIMAL(28,14) of embedding[1])
# (exact order-free accumulator, so the key is engine- and
# parallelism-stable; it distinguishes sf0.001 from sf0.01, which share
# a row count). Derived by _ivf_kmeans (centroids snapped to its 1e-12
# grid, so the doubles are much less likely to differ by host) over the
# same deterministic vec_id%7 sample _ivf_centroids collects —
# re-derived from the parquet on every suite run by
# test_ivf_oracle_pins_match_reference, so the
# pins cannot rot. Emitted into the oracle via repr: both engines see
# the identical doubles.
_IVF_CENTROID_PINS = {
    # sf0.001
    '500:-1.46395296278528': [
        [-0.186071392734,0.03198709877,-0.018567293444,-0.011394165242,-0.103480291871,-0.300108199664,-0.081824068203,-0.04548801249,0.000687868432,0.022154475795,-0.127183248144,-0.166344383134,0.174245345644,0.174980728069,-0.06129813697,0.181739941455,0.033562944854,-0.06287260186,0.046535769133,-0.043534574241,-0.019473807485,-0.076157487091,0.146796865866,-0.087005022723,-0.083254783572,0.236291826478,-0.153899383216,0.052138169259,0.105246398842,0.06618694127,-0.265061121129,0.052784960298,-0.006653290292,-0.132138604417,-0.250795734947,0.184039425228,0.176126652166,-0.051330264601,-0.07241202023,0.090321129923,-0.031026556274,-0.111950925155,-0.045129517022,-0.024738848472,0.045851679764,-0.08479212511,-0.117390131087,0.023971111014,0.003769298533,0.118540562696,-0.076193106449,-0.008772128027,-0.154762299196,-0.260630887043,0.137414318065,0.039971342438,-0.000913365397,0.137211336647,-0.138326336553,0.113901942463,0.024894975091,-0.029590707625,-0.270848165037,0.175810749946],
        [0.079974960889,-0.073413194329,0.25078485403,-0.077892573664,0.185354437088,0.011840673814,0.100929697312,0.049921608949,-0.033209341142,-0.140985137709,0.14193773379,0.058868573603,-0.064809997165,0.005567775929,-0.068447937761,-0.06377352881,-0.199019024834,-0.157357065216,0.043497900717,0.218621744789,0.142308885237,-0.031072392334,0.127403000001,-0.155505678746,0.026376485506,0.009227115429,-0.04515923594,0.194024254607,-0.206540287428,-0.002358066486,-0.043986909203,-0.059221599236,0.065695841413,0.127105849608,-0.241807033287,-0.103924060699,0.326541412782,0.169191724686,0.199589751001,0.056315409416,-0.012316192706,-0.116693491438,0.080118494755,-0.080638026141,-0.160945519527,0.014646986412,0.139788285364,0.344855819115,0.059988169175,-0.013537980024,0.071444019863,-0.105084141149,-0.016362309233,-0.002261660119,0.055569482338,-0.001571666067,-0.008703383305,-0.023960420209,-0.012718758444,0.020359372565,0.180649064387,0.060292803517,-0.081032109794,0.153654142921],
        [0.018961033833,0.00537933457,0.013255133625,0.080951207035,-0.046459428316,-0.244197212939,-0.090416816632,0.048007921198,-0.18085813642,-0.025220265611,-0.189022382754,-0.13046424714,0.18102624343,-0.227242446748,0.03370537196,-0.044892168195,0.165553572804,0.031440323624,-0.042392476184,-0.0799971961,-0.045973506129,-0.053879830559,0.066667998558,0.173061299021,-0.023765803495,-0.259056135393,0.124629068122,0.061502456092,0.208463628541,0.008202273358,-0.005346473268,-0.072392022221,0.094145098773,0.149845916926,0.068696590678,-0.181806625501,-0.103742231496,-0.004655984025,-0.040056511911,0.016045332563,-0.042833776007,-0.051294373982,0.0202655065,0.092024011223,0.006433961398,-0.312137822783,-0.254801792514,0.089684377179,0.035152701422,0.02990153412,-0.076272799654,0.149815259934,-0.029435529722,0.076912323178,0.165269553705,-0.259828091014,0.102676916587,-0.027188782767,-0.007304912684,-0.13603152916,0.093625431541,0.169714683765,-0.196598840575,0.177733089203],
        [-0.091008203563,-0.012506170943,-0.032799571002,-0.040500523524,0.142301372959,0.061003077895,0.232389157258,-0.029147605697,0.053151003455,-0.104935551583,-0.070376466101,-0.136052977936,-0.115951682447,0.078150992662,-0.019749137165,-0.012455434437,-0.207121378592,0.238135798711,0.152163548673,-0.168708042408,0.198655289575,-0.122520944247,0.050806807734,0.17825290065,0.162595723485,-0.044141911952,-0.100907375437,-0.022348389944,0.046616920934,-0.028153388976,0.066149021427,-0.034379866481,-0.049721455691,-0.050951214772,-0.095214852594,0.262283423744,0.065057163199,-0.03182611084,0.105344599402,0.10632572797,0.126564502629,-0.262561096645,0.050378110467,-0.082827110335,-0.33428661176,0.139658708458,0.191817865219,-0.245548813789,0.116577875653,-0.077863234236,-0.052716930326,0.036608155633,0.000233125042,0.053291490124,-5.3446729e-05,-0.138800065711,-0.038029563923,-0.19567035335,0.09105971391,-0.024134977656,-0.126322221359,-0.129910120138,-0.000347633768,0.066233085357],
        [0.111055721588,0.24790756252,-0.073577572352,0.18632349058,0.20529300426,-0.163135532675,-0.206234085579,-0.061940841063,0.117164737812,0.09637870751,-0.019288241619,0.086412228884,-0.074430097571,-0.077178425278,-0.107893181725,0.030960918757,0.080780194408,-0.18244602536,-0.0383953813,-0.209026590876,0.138991586107,-0.03389259198,-0.124401856617,-0.006212602157,0.046910681728,-0.151398028199,0.103870434368,-0.084271493249,0.110988364014,-0.077577334324,-0.071606720941,-0.048152263811,0.205702813318,-0.261941660382,0.008008501732,0.136396580394,-0.001362709947,-0.213210899922,0.071287027021,-0.143152074283,-0.057106264584,-0.155832395631,0.008253471422,0.169112798803,0.223942270594,-0.053125044526,0.080581181312,0.127135707185,-0.031859196736,0.031571194767,-0.210708764304,-0.212462089575,0.121319123618,-0.088126604182,0.060308474522,0.042051957533,0.150260925844,-0.157765353084,-0.06165941413,-0.026592497453,0.004513165664,0.005250435817,0.076639722507,0.12819116203],
        [0.239021297829,-0.177012978146,-0.032149390143,0.026066452874,-0.08833176932,0.044877453657,-0.019485862518,-0.159903557242,0.238959081404,0.06418068478,0.0072120954,0.054280844634,-0.031547634256,0.177037295888,-0.110285816642,-0.052702981618,-0.072824027445,-0.050228555744,0.076569112366,0.044942618093,-0.142333677665,0.05878837642,0.189869701275,-0.02499086893,-0.066366668233,0.021939709974,0.039589212042,-0.144939284694,0.108761977581,0.102004594212,0.008556365393,0.032731319807,0.085443338915,0.094054033017,0.187678569511,-0.009219723099,-0.171634211098,0.068385332726,0.030582414644,0.056634315935,-0.151426237345,0.038217985712,-0.261224728892,0.127191894843,-0.120245469996,-0.189124723766,-0.029685076141,-0.244823001895,-0.036362719568,-0.058321962302,0.091295378002,0.268799659673,-0.089900410068,-0.121699855684,0.040161864693,0.220807822571,-0.112551849891,-0.180418062309,0.160120206517,0.011500917723,0.167934831652,0.136782727545,0.164328885059,0.150189959025],
        [-0.089661773567,-0.094175432312,0.045890188563,0.175775477512,-0.011471996141,-0.008367473463,0.183593536963,0.189013921404,0.092703945484,-0.035145784825,-0.050020845704,-0.060408460338,-0.039408062497,-0.081111540952,0.211495451456,0.136731755884,0.114329484549,0.07501381459,-0.219365469185,0.109386966064,-0.190193452098,-0.178597419976,0.00606693526,-0.206569355358,0.044591182568,-0.027979423915,-0.105720780522,0.202635721292,0.200364129537,-0.004123017854,-0.156191549847,0.039045306432,-0.034238213272,-0.146176291171,-0.115935573468,-0.096144682846,-0.048491330357,0.142967534172,0.171804429704,-0.112567343907,-0.16149879534,0.150696906666,-0.136301960514,0.282778780204,-0.089584307149,0.034991517048,-0.151552211173,-0.038022072339,-0.203848666712,0.021678702407,0.052204108599,-0.131081115472,0.012342718565,-0.086229123374,0.227824757376,0.128023523496,-0.003043135608,0.17066215859,0.108273616153,0.020051520867,-0.010222582893,0.020199603289,-0.032904823883,-0.101932051112],
        [0.269781344923,-0.005214125913,-0.268718742737,0.007715021077,0.029849068197,0.27568420219,-0.016586191599,0.13086714863,0.167840620365,-0.141949312934,-0.042457080372,0.146760642678,0.107044434372,0.02450062915,0.185964854394,-0.004534316721,-0.060837623951,0.276388428665,-0.283213289569,-0.161964691715,-0.13852503714,0.13512417701,0.063011357625,-0.060349161501,0.102597312316,-0.10508123492,-0.180872249678,0.192065269352,-0.02785010547,-0.110673673457,0.059932222553,-0.080250071661,-0.132537908872,-0.041461390037,0.053753081037,0.019225828534,-0.12191821464,0.150034811887,-0.001385261989,0.048838812467,0.079376938385,0.001290260596,0.055409786373,-0.065427576268,0.177918614024,-0.010263589609,0.110918625036,0.134155836744,-0.166832905947,0.170703080245,0.011831704475,0.082363177941,0.069594246055,-0.129102454479,-0.137082708681,0.017523203743,-0.085721395738,-0.1222946666,0.009454010923,-0.140657873089,0.000940442934,0.061697030675,-0.073896352184,0.050084908866],
        [-0.034258554022,0.015879797535,-0.101349016754,0.023756604763,0.090294620516,0.095458643238,0.159965777985,-0.108336921353,0.02272710609,-0.050072369994,-0.035221764045,-0.201688943427,-0.134024518944,0.157327044464,-0.039354145589,-0.102151267689,-0.054184809681,-0.168130728258,0.036939561062,-0.100316514077,-0.101572524582,0.099909978658,-0.266139847128,-0.095666862803,-0.074988762021,-0.079594124146,0.161796374125,0.000201844793,0.16247265644,-0.268609217943,-0.044871845826,0.138180591807,-0.217783968572,-0.061003060912,-0.330706312469,-0.139672588837,-0.225882721831,0.072538929305,-0.098043796973,0.027576228174,0.107833305212,-0.056072684035,0.044154407609,-0.079085542373,-0.183803618395,-0.041562034322,-0.025697478378,0.077114769448,-0.045042349444,0.011764953867,-0.190490927806,-0.144109569295,-0.008432646765,0.06491868371,-0.091825064068,-0.22356818891,-0.042694303886,0.08305743636,-0.062287456398,0.144197031466,-0.010964088398,0.082730754408,-0.019668368429,-0.241566813067],
        [0.043339173195,0.000832162205,0.045784924081,0.030400238008,-0.023819430709,-0.05744934187,-0.017456012792,-0.13578691784,0.009093150696,0.043913641382,0.124178966593,0.07832473721,-0.173045423338,0.053184134191,0.152955079598,0.04665323971,0.001499408701,-0.021515406949,0.05391813648,-0.17944234655,0.259902069115,0.021586608463,-0.250891625924,0.028809136005,-0.216918738244,-0.107062992435,0.158296415994,0.036067635806,-0.055669960703,0.344519340472,-0.074020498966,0.051917835315,0.169648122364,-0.124603666301,-0.021796562568,-0.049394627658,-0.053177962512,0.041895707787,-0.124733638545,-0.119506562091,-0.011248694888,-0.158354640369,-0.01768080569,-0.078297076766,-0.214218035941,0.09071318107,-0.363465287356,-0.035760545918,0.078431238096,0.110169781283,-0.236535431543,-0.056466626097,0.040092822693,0.092990993077,0.091327624537,0.073958603416,-0.086287113087,0.016821020575,0.131194759349,0.039468969639,0.226855998051,-0.003407990253,-0.125751477281,-0.110903739885],
        [0.159791859568,0.009361996848,-0.022137703038,-0.018515650126,0.024355876801,-0.123661899982,-0.064833109893,0.086195531498,0.042121020869,0.065715858296,-0.279151146984,-0.003364121953,-0.017438970235,0.109723578614,-0.011061709441,0.020646074527,0.145139146117,-0.079341072299,-0.113330687718,-0.154877948366,0.104029408991,-0.020502564148,0.172843821167,-0.005120275307,-0.108324928022,0.145144220079,-0.043983209606,-0.024023687072,0.142732376102,-0.209037667892,0.022644643281,0.228873823834,-0.066338660995,0.131250951312,0.012405599557,0.068098279689,0.151488850946,0.169631913291,-0.056288833201,0.0175918476,-0.282703876051,0.005520256601,0.01338750488,0.031304356251,0.251829309742,0.156617188187,-0.003431768696,0.195507768445,0.255529997951,0.075491313261,-0.051966050458,0.074770329691,0.011428043052,0.149662627489,0.248281366827,0.118367451745,0.198708130923,0.087511547445,-0.016657779836,0.184886636496,0.030555796933,-0.013361585036,0.190510431323,0.07809850114],
        [-0.019541261178,-0.090678738106,-0.124080765752,-0.077445433592,0.157311169137,0.111608806686,0.327678252272,0.120897633512,-0.150229228993,-0.071195822362,0.04757071528,-0.169158344127,0.271394526887,0.025918431445,-0.146157240163,0.073199200319,-0.13313929075,-0.002188901082,-0.114475681489,-0.157057038463,-0.097605144747,-0.144509358033,-0.011606028748,-0.150241126492,-0.178519392024,0.033520100018,-0.156968236046,-0.055176929969,0.05127721097,0.038225132863,0.07065177664,-0.23275790742,-0.008726917315,0.149101318138,0.176959767783,-0.065727591161,-0.072918392965,-0.060427669424,0.03409344308,-0.110270420317,-0.001739917778,-0.106208204386,0.069471004673,-0.139141953117,0.089446791638,0.148781333067,0.10054134035,-0.186959927463,0.108326723065,-0.104995900141,0.130929632915,-0.043796256473,-0.106553684414,-0.059904663372,-0.055326398541,-0.040842212395,0.037454005202,-0.036170270559,-0.105430609288,-0.200012845458,0.183391669322,0.051673903062,0.258458166821,0.096773942671],
        [-0.125055227067,0.091886513199,-0.052582656873,-0.083831896797,-0.028246828219,0.009814337814,-0.161274760692,0.04183057082,0.082548702991,-0.022805069497,0.213891383048,-0.003699763009,-0.100422622765,-0.154297435358,-0.072949056286,-0.193579056245,0.007615901384,-0.004769683774,0.062240914958,0.034239597438,-0.181092883791,0.079882469603,-0.005513538987,0.264964511904,-0.028939719261,0.019935217764,0.175351606147,0.159863338622,0.01404370829,0.091196574032,0.213434560125,-0.001097176854,-0.161292338717,-0.064413264824,-0.078504902163,0.002777842421,0.181892156324,0.035105013049,0.051742758456,0.015741677041,0.186564482023,0.138909781752,0.034419965965,-0.049342699655,0.119497217946,0.120328423516,-0.049287273667,-0.012650259635,0.125366619203,-0.06494270062,0.313464403928,0.255262094336,0.141877426485,0.110510435041,-0.058854579399,-0.068286666454,0.186996821782,-0.120746079132,-0.209009884849,-0.085380187432,-0.29227452913,-0.024168525955,0.090900547732,-0.016637649598],
        [-0.025586678055,-0.153560907187,0.074763721373,0.006403090332,-0.016634911707,0.048959781489,0.044991373774,-0.059622811181,0.040688700428,0.140630329559,0.024954531009,-0.099229083186,0.097450764309,0.004070629913,-0.143494811785,-0.184698888263,-0.094315911719,-0.027103410734,0.01073171918,0.231411808246,-0.097879544851,-0.266854667079,0.335060581986,0.021343774787,-0.201448091132,0.122628815039,0.208263580022,0.006307357306,-0.025702327854,-0.22278533531,0.030191399077,-0.067932422678,-0.177924299988,-0.159245528688,0.113036851502,-0.054569906325,0.117663984821,0.034762393075,-0.082397280445,0.010565048446,0.169213803346,0.244522663234,-0.062022399879,0.054079264039,-0.046315245162,-0.031852425598,0.108764781093,-0.246071554976,-0.166142467347,-0.099775483444,-0.100332188231,0.022133982364,-0.091572410898,0.14356719548,0.070549942812,-0.059708994287,0.065477229689,-0.189304232539,-0.019873539519,-0.08150393211,0.115465338359,-0.03950044181,-0.191154707175,0.066246006433],
        [-0.007095926597,-0.257408650449,0.182305168821,0.21901545105,-0.135584610698,0.079406632985,0.201613092781,-0.107872071782,-0.03393765205,-0.0701958127,0.027424548074,0.104161111934,-0.014182879442,-0.02416805788,0.026499467823,-0.073196229728,0.121245806185,-0.057503772622,0.024958627103,0.011714833699,-0.148895535667,0.116082200957,0.009415651324,-0.169332527356,-0.102489156572,-0.041469589555,0.091523185904,-0.048689384079,-0.140092077953,-0.06434270274,0.183869943222,0.042398325826,0.19249315043,-0.175327030984,-0.102624755308,0.121088409372,0.005506519942,-0.019381183046,-0.0126700447,0.047199442212,-0.029926447192,0.022284799606,-0.00571796284,-0.153318725993,0.018220657434,0.127482396527,0.112107326988,0.102689177856,0.089498783455,-0.05625929767,-0.177310536269,-0.16887916516,-0.226264270354,0.280167154827,0.229904225215,0.047206658283,-0.154627717911,0.073684489663,0.181128712694,-0.217077335453,-0.129088823414,-0.062176703492,0.119815373483,0.158109968731],
        [-0.004821962264,-0.101348861938,-0.140113302351,0.259921064559,-0.130852417454,-0.066809710599,0.073740088988,-0.064854229383,-0.42629338205,0.026440070713,0.067508907425,-0.001509966462,-0.07678433516,-0.005424127002,0.012352623501,0.05417105028,0.013044477016,-0.013666925566,0.162079116726,0.001755125301,-0.114343540304,-0.158560826365,0.153861321764,0.03376016642,0.01509988829,-0.0951551048,-0.011229704024,-0.094746588442,-0.172099919525,0.06433470742,-0.269303759872,0.034508860859,-0.18413581798,0.008166407719,0.034483052972,0.127098009943,0.013657470285,-0.207076278768,-0.04089315485,0.061413155178,0.016944236919,0.186473071966,0.1068323409,-0.009682985425,0.044558471469,0.146135221239,-0.060297318703,-0.074399886258,0.175818581824,0.106488081156,-0.193217364214,-0.165896391044,0.201830213075,0.175896310201,0.073573141905,0.135219992192,0.003467554194,-0.218026626002,0.006166210225,-0.033136493817,0.044004471746,0.143017934036,-0.068710482502,-0.050908416291],
    ],
    # sf0.01
    '500:1.08235486072832': [
        [0.089408338372,0.105945893853,-0.057123940257,-0.114052036264,0.172502463832,-0.110622385778,-0.129727542501,0.100877499682,-0.020452060953,0.05086306463,0.06340875293,-0.060151425649,-0.16109436647,-0.053819509824,0.033384981791,-0.158139811743,0.009316749507,0.08043619971,-0.003587693408,0.092477826524,-0.207718697358,0.032556953757,0.260157358835,-0.034442213264,0.022992068797,0.213021627336,-0.186494511217,-0.031636306475,-0.049079406966,0.202018335763,0.098383518186,0.152057300661,-0.007842491162,-0.165907891295,-0.115927863933,-0.085387558604,-0.022105070498,0.050076834899,0.0505970315,0.280404438646,-0.050148779417,-0.074988456652,-0.105411234699,0.024402300009,0.001643067714,0.046321125205,0.122018751317,0.020683017224,0.08064812104,-0.062261738153,0.050116175234,0.276421065963,0.053129825092,-0.134782577234,-0.05506176547,0.108178350157,-0.018608889141,0.069825661873,-0.311511376282,0.03557603825,0.106427649044,0.10295745309,0.109264619377,-0.334309390509],
        [0.21896415407,-0.137002489288,-0.097286871335,0.038566203236,0.152848339601,0.158397469096,0.0157907255,0.182699168499,-0.125581215756,0.145764656186,0.247700041288,0.328939261177,-0.013510818763,0.023533868144,-0.049518068316,-0.227760488152,-0.028723669606,-0.096561107656,0.009398328961,-0.027204199781,-0.051826770736,0.120522720767,-0.042574799432,-0.22056318008,0.115785535822,-0.006396579666,-0.097309493158,-0.022525142638,0.112171837347,0.101156042318,-0.000663912546,-0.043085463039,-0.047752716015,0.185996264027,-0.157761697302,0.033682752687,-0.249449617375,-0.020518991274,0.056530352822,0.068011320163,0.217001063587,-0.115664185187,-0.170140954626,-0.0676981764,0.029599214511,-0.197950339511,0.004104014949,-0.053328097778,-0.041343200347,-0.035320868228,0.018031635912,-0.152308409941,-0.036200545543,0.194521014964,-0.101917597181,-0.126638187931,0.01873466049,-0.147925233799,0.007885942881,0.07586917186,0.153896436962,0.110398811,-0.134044996291,-0.087402934871],
        [-0.215097160472,0.109672959078,0.183989831537,-0.232589488698,-0.018440102685,-0.048043796915,0.013100672302,0.185583883621,0.11379004675,0.177432298657,0.015137349355,0.015972765264,0.020707763606,-0.191378213665,0.024144191756,0.072885065588,0.01512145321,0.067938590849,0.050744041093,0.069363958798,-0.022575075107,-0.088491359235,0.035221741684,-0.116308274537,-0.139645768556,-0.027830796276,0.010790722507,0.084693859257,-0.262864643686,0.009534941544,-0.224824268363,0.036516477352,0.118448909079,0.194892038117,0.173510798674,0.16311626573,0.122135401456,-0.173891506711,-0.019727495859,0.037720437207,-0.01212033189,0.014030227173,0.230307298877,0.046547542038,-0.149975626513,-0.067555633496,0.006185149801,0.02567467498,-0.084348072386,-0.171328562351,0.088466765514,0.21707534681,0.190690395899,0.0396132325,0.05979630542,0.084744261521,-0.111783381783,0.088875812505,-0.28438868829,0.098771794631,-0.147168353621,-0.148661836662,0.051757800845,0.089931772088],
        [0.052099391777,-0.082049501958,-0.115140317662,-0.091423045415,-0.043705855641,0.009344991545,-0.177842518833,0.02542852942,0.072385418672,-0.165077608501,-0.082218705144,0.15257430899,-0.161984906954,0.177405227033,-0.25583364909,0.111736084736,-0.07905523312,-0.182799260264,0.091611475316,-0.131899478998,-0.144828126946,0.131921307304,-0.039597740533,0.118467878277,0.056337929215,0.093551423385,0.307284195441,-0.062239707954,-0.034430531491,-0.013901002017,-0.020507036211,0.194179198653,-0.172116710541,0.065158037758,0.060221403842,-0.115155531672,-0.033477915265,-0.243399889419,-0.136443713472,-0.081290504655,0.068208580055,-0.015743116921,-0.054449885476,-0.045492491834,0.10346223648,0.088754093884,-0.144031661385,0.072333368664,0.012775127022,-0.188786818956,0.004005529503,0.050064916513,0.18239302282,-0.088148325528,-0.095574901524,0.182379061626,-0.053667464687,-0.04899768957,0.053124744905,0.13598579897,-0.16875831541,0.303510304825,-0.06403628666,-0.058572543676],
        [0.111447868965,0.041601979151,0.179919970629,0.128966895201,0.105585348843,-0.126465323589,-0.119386995491,-0.213670848272,-0.06472654629,-0.108669557229,-0.193203270501,0.05543818537,-0.095737190366,0.04539009506,0.268625114514,0.14654501702,0.181250941704,-0.244549733699,-0.314114196189,0.024330657904,-0.007449051273,-0.011835833984,0.207611463759,-0.002210078206,-0.05724160929,-0.043414529833,-0.045578416124,-0.216481039774,-0.138730738389,-0.023172582893,-0.043585442333,0.058299483389,-0.010732577979,0.026963406387,-0.017968653771,0.007819379498,0.059690525813,-0.071659202558,0.237747846574,-0.096266076244,-0.043952354722,0.078584242745,0.043108338416,-0.05489251331,-0.036291063462,-0.150152292583,-0.150231168466,0.027973321577,0.118969670164,0.165553341999,0.090468651419,-0.046935982133,-0.077028212047,-0.000810851681,-0.104136772681,-0.023868783968,0.259258857844,-0.034237907684,0.007151142069,0.02186034195,0.146432156785,-0.076459237414,0.23504288275,0.132191082814],
        [-0.030327595215,-0.086195349728,0.039422042889,-0.05366029523,0.053214553455,0.209662686495,-0.023950695857,-0.349673843957,-0.199149896469,0.030308873009,-0.164223140297,-0.256935084447,0.132408814104,0.113027280635,0.046208504437,0.167435417466,-0.069761079438,-0.158887107061,0.08988158417,-0.13074057706,0.161140511868,-0.069610951034,-0.123414048082,0.047831516629,-0.078607708516,0.04017227506,-0.106631564449,-0.001611479824,0.024589666041,0.042035912287,0.157662751516,0.06360132466,-0.014672226946,-0.271180773478,-0.069244045441,-0.182696332127,-0.163455174731,-0.092414105598,-0.004913000565,0.040362994094,0.069364067381,0.019774905324,-0.023705186068,0.37975292646,0.010652646324,-0.052579274801,0.060951111134,0.040150330998,-0.182957634584,-0.15078700251,0.081617981814,-8.6402211e-05,0.107692162588,0.100348030352,0.003089577616,0.104818462683,-0.069871717072,0.035314685944,0.071765953184,0.033318916196,-0.030281135893,-0.189718832978,0.067425242785,0.114385271461],
        [-0.126982636124,-0.1562019426,0.023354705412,0.172685821154,0.00274074196,0.273146577743,0.157250148962,0.236991273848,-0.16129863668,-0.039735182392,-0.012975535965,-0.152689424676,0.064196883449,0.016082897878,-0.248868814488,0.125815013122,-0.320270710676,-0.063381816851,-0.106955228389,0.085097680717,-0.153205687572,-0.124932970863,-0.069231647111,0.11385389302,-0.096188108477,0.063022747635,0.096446818372,0.027844583751,-0.081897257024,-0.066404069291,-0.07302766293,-0.014886088866,0.194490422923,-0.000625955643,0.048401378816,0.13464245795,0.124353406025,0.03242136206,0.045285837799,-0.017369573769,-0.132370543821,0.203745800221,-0.262162935452,-0.104224386607,-0.243038392006,-0.04448151048,-0.040419713866,0.142426236469,0.039616869111,-0.074116690779,0.202479157301,0.003273966584,0.003776778149,0.064343111066,-0.010153641808,-0.063797787725,0.078611665033,0.208086940545,0.093826229785,-0.050853949347,0.019109815671,-0.037120635463,-0.022737299945,-0.003461177258],
        [0.141290758004,0.01316153268,0.091502126391,-0.007508910606,-0.16858106212,0.063604806161,-0.030336000289,-0.056362877109,0.115699901857,0.089130026564,0.072376960026,0.097656103246,0.082110701004,-0.075214040329,0.097836170533,0.107850580452,0.010024037328,-0.047920100511,0.096259302867,0.062856797823,0.160853796827,-0.075184617845,-0.290473010349,0.010701133767,0.077190731664,0.188527743248,-0.033523877964,0.230035020171,0.186693397355,-0.202098200317,-0.250711356392,-0.089309448452,0.100828232088,0.196966036584,0.034001542122,0.112774219485,0.069725992047,-0.239319091377,-0.079699768353,-0.02691456838,0.103733795033,-0.231346634895,-0.029548980718,-0.034002770924,-0.145686470238,-0.226533851117,0.143262516286,0.20288791578,-0.022272598972,-0.092868613588,-0.071480576553,-0.016795189261,0.005270856033,-0.158112624491,-0.086960858219,0.217367304595,0.074284495253,-0.010716650236,-0.10316028005,-0.093966409246,0.010839772964,-0.056434690103,-0.188393757695,-0.024983175161],
        [0.045438685367,-0.08131934539,0.120434864704,-0.239740271727,0.267568540942,-0.058167138162,-0.015642288607,0.04008757246,0.022994625216,-0.028720033015,-0.139189125273,-0.077038976499,0.06981042374,0.223263932549,0.151332018195,-0.058485569753,-0.028538656868,-0.123225093629,-0.077496144315,0.11435051358,0.010277064664,-0.046568622022,0.108307839833,0.107563610504,0.030933122345,0.241708880048,0.097362484577,0.030766669266,0.1771294966,-0.238789442481,-0.041189789859,0.131092397023,0.015717466668,0.273786408992,0.238911270542,0.004773413494,-0.031241401569,-0.161034765338,-0.018578141234,-0.023944176161,0.067963536824,-0.178122640158,-0.180562675534,0.049471727173,-0.017363798582,0.024673893935,-0.066818558419,0.029329120635,0.034219224192,0.094417702362,0.001349872834,-0.167019898268,0.261438773253,-0.153755517514,-0.148399286299,-0.009686801093,-0.091573622092,-0.049950481277,0.217215248027,-0.055768121102,0.071868181106,0.086215505733,-0.109348235054,0.146582344895],
        [0.079750030781,0.057205423527,0.028689913396,0.05668451179,0.019911504297,0.006379032156,-0.161205552248,-0.045885015145,0.135126450564,0.145811475425,0.014039843723,-0.106049566968,0.03971512989,0.145521386535,-0.067668985118,-0.082304689499,0.115248415203,0.197108484212,-0.105700606835,0.005285109034,-0.236027316647,0.091872163908,0.054395277526,-0.272534528668,-0.07947487059,-0.177783337634,0.172628586451,0.12858872033,0.006811489327,-0.063478221822,0.061072887911,-0.061613853513,0.080949796817,-0.094958147536,-0.068389497688,0.406379211625,-0.107320256685,-0.196436073835,0.164155305932,0.018672798942,0.094193343513,-0.037078309393,-0.003915767834,-0.129072231976,0.035628662743,-0.081554846163,-0.177584462851,-0.051108914218,-0.077900705716,0.069012994855,-0.156828281593,-0.071532055033,0.15992843572,-0.147268407426,0.220891289745,-0.037715214827,-0.171031582306,-0.027387695459,0.052137537318,-0.007038217442,0.03976827897,0.197886980826,-0.154104499176,-0.071322554894],
        [0.057302607963,0.091836133497,-0.157295495321,0.009624754228,-0.138243045178,0.059900180553,-0.005058464612,0.134970895728,-0.008341425128,-0.047695477479,0.057003196985,-0.167908004879,0.043833731576,0.062527775509,0.061138307499,0.168723734177,0.209763700498,0.264726948097,-0.069133172282,-0.048405177561,-0.013199690536,-0.006286185117,-0.057145691742,0.145604654748,-0.120815460153,-0.183461117655,0.054535837825,0.091703085768,0.19153194399,0.138994198681,0.120983613314,-0.028764824783,0.130907846849,-0.004575716395,-0.152571791883,0.215208171128,0.02374661516,-0.146377432087,-0.104714423355,-0.023091291092,0.041714355369,-0.144940766089,-0.219241209076,0.223320899608,-0.138507545236,-0.098576379214,0.05718957115,-0.027326861904,-0.075657881596,-0.150443832957,0.047581801932,0.015975282769,-0.139000785043,-0.133464693563,-0.082072202354,0.069307311834,-0.084541782657,-0.118673408824,0.037090201455,-0.109312416447,-0.033643945772,-0.204454752193,0.267138352088,-0.267292534193],
        [-0.091706071549,-0.141644139269,-0.083975788617,0.080889157876,-0.026453171605,-0.057060454545,0.007545823892,0.054392647598,0.062259983965,-0.001639436757,0.103110449634,-0.057340046877,0.077103368453,-0.210858694066,0.181195783874,0.020335174262,0.086376856743,-0.086113045314,0.204925765789,0.052770380112,-0.021878342022,-0.005893107756,-0.066039956311,0.224062307565,0.251213269549,-0.038022809895,-0.143803408772,0.055588208321,-0.180297402329,-0.198885579534,0.080378357956,-0.128381312149,0.259635404633,-0.114824593792,-0.0634422559,-0.052636124876,-0.083756585153,-0.115442473965,0.182859696185,0.019706435676,0.36824715991,0.164816692818,-0.080816014442,-0.115089229555,0.159533677412,0.138115208646,0.046577755702,-0.002188625904,-0.058419125323,-0.062289278673,-0.124042081806,-0.044882894072,-0.067015109632,-0.008328392837,-0.085449121074,0.012472393484,0.006596379223,0.294824067655,0.025119396743,-0.125546181658,0.094140800106,-0.005892145219,-0.1568080236,-0.084177331922],
        [-0.280829538391,0.156131181936,-0.04578682339,0.073648616898,0.148946397497,0.057793735241,-0.153979723776,-0.088517346183,-0.152997930679,0.088983490203,-0.009616286149,-0.073905107283,-0.277803868064,-0.071340095877,0.027652367098,-0.203877363325,0.23230429704,0.080751150501,-0.141372202554,-0.07828571603,-0.156442515326,-0.067136243601,-0.06980187865,-0.098617324413,-0.179140188373,-0.076525068781,-0.078124402353,0.029449621707,0.115812982659,0.006185820243,0.052944751629,-0.106059749834,0.00024286136,-0.070921225724,0.334738180388,-0.003230678754,0.040880346716,-0.017613191497,0.116251936533,-0.084960210379,-0.00787587625,-0.115389875324,0.204801930519,-0.02924084596,-0.088303692132,0.139286787528,0.01362940879,-0.24294011031,-0.068157761518,0.008109542287,-0.180538659536,0.03546784116,0.179744366267,-0.03447882902,-0.059967727025,0.195324647629,0.145263119063,0.021509433375,-0.026266728285,0.079763806421,0.091689110288,0.125474001017,0.03579645424,0.133604758093],
        [0.1302757088,-0.142206438159,-0.049974804785,-0.239656361086,0.073938871642,-0.119115973945,0.005144506199,-0.010127302063,0.031683934773,-0.107316401045,0.061039016734,-0.063525937746,0.036553153821,-0.081688539235,0.116128353144,0.196962813858,0.038490794665,0.184685975365,0.185567635242,-0.001167043295,-0.007426377958,-0.302872753322,-0.274917954279,-0.053506499332,-0.013863181646,-0.251138033624,0.020769178026,0.231273152958,-0.055485117912,0.128900620806,-0.08524395938,0.054429181642,-0.021282449831,0.057773638843,0.178238268644,-0.091587786158,-0.072497381961,0.006164684247,0.063993822198,-0.123721461053,-0.0774028127,-0.179453586214,0.073100969668,0.295614683589,-0.037384674138,0.169167254268,-0.005625397773,-0.048016814116,0.112151264929,0.107413734442,0.062024177362,-0.036342820614,-0.069939981604,-0.270296470515,0.052941418465,-0.111627822421,0.108627872003,0.049682218894,-0.044503407457,-0.101245583411,-0.08495926363,0.136802929265,-0.068939937932,-0.059570422766],
        [0.210424825443,-0.432193560737,-0.097706133437,-0.135297154478,-0.01048487611,0.109769364489,0.181264153466,-0.103190030942,-0.011051545423,0.060541388896,0.201337101464,0.087083358137,-0.072993415115,-0.028949740378,0.129374693645,-0.183481045104,0.052709834805,0.056695239528,0.084486690505,-0.040741901522,-0.057564646757,0.113720235895,-0.081375205989,-0.284615558649,0.132289630474,0.212052763725,0.028692753546,-0.024231226956,-0.063354462027,-0.061059833473,0.007951802322,0.136247860732,0.170237430031,-0.120585058519,-0.057097821481,-0.112202265892,-0.053937934252,-0.051404740365,-0.007433979013,0.043125681662,0.027251332368,-0.068162173784,0.032927012014,-0.072888662975,0.140338986556,0.033724416893,0.094039519673,-0.028555753007,-0.023714615181,-0.169795990869,0.048426104521,-0.130432738447,0.015740939421,-0.14761927757,-0.015510146812,-0.185135564754,0.039620294865,0.175409909468,0.250045956369,-0.078444115284,-0.005829955506,0.116710232208,0.126456310062,-0.151475562408],
        [0.029815108991,0.019497948937,-0.062270271928,0.127827760129,0.069483384052,0.023176659486,-0.144231712559,0.121516513457,-0.113774816312,-0.078320274842,0.060667219197,0.102394453222,-0.034626592896,-0.060787644235,0.07528897322,0.173508064391,-0.157091201754,0.054728265466,-0.038436582664,0.134041901369,0.023935627671,-0.069035480782,0.039951953146,-0.129510784887,0.01649658191,-0.080509120757,0.029738880635,0.150958899004,-0.149333515962,-0.284177515564,0.122031314495,0.000993228199,-0.130875372564,-0.001176750932,0.077874803933,-0.024758656735,-0.137447775943,0.212949093444,-0.12920419119,0.1536812057,0.041665990991,-0.062223463094,-0.041522040776,-0.108748045943,0.156051193846,0.241474520307,0.109909042724,-0.172322204601,0.273106227623,0.014874576539,-0.273555548852,0.037278114822,0.049401879815,0.06453631089,0.02724466292,0.008279510504,0.151195421746,-0.082364406669,0.003711531135,0.230866602317,-0.276744946034,-0.088339739,0.088919279535,-0.197002954545],
    ],
    # sf0.1
    '2000:1.53081411098240': [
        [-0.100948127885,0.122399942627,-0.085437477207,-0.221523164996,-0.026469458573,0.0601793994,0.204304102533,0.091953307065,0.003882117077,-0.005479584511,-0.100863624409,-0.041371706958,-0.15514211323,0.004792912653,-0.037009135409,-0.230237368571,0.067576245294,0.01552255816,-0.146729861062,0.22564159717,-0.072167439316,0.001261312207,0.03121759953,-0.147277055297,0.009464910027,-0.066433727122,0.039320961861,0.028284879231,0.043375995214,-0.181008549229,0.117754024144,-0.116343189314,0.133916687364,0.078307742427,0.195632296529,-0.290827713024,0.159571904333,0.133115969744,-0.141084735303,-0.061187424393,0.211869788019,-0.196719397389,0.045082982079,-0.129561435167,-0.078154440061,-0.193472874363,-0.028539064675,0.126358246168,0.029994251737,-0.080623724791,0.050775655102,0.085477032863,-0.139414890665,0.062630509642,0.104534088828,0.1077425416,0.178998678953,-0.16992625777,0.212640957656,0.136113358451,-0.060337003941,-0.024972296281,0.112262052511,-0.135396973498],
        [0.219181860204,-0.132287403322,-0.118502582568,-0.103015344447,-0.058010611191,0.038573163101,0.135701567817,-0.147145381695,-0.002268016756,-0.132153132852,0.004001280798,-0.102717081651,-0.008518658154,-0.256061621889,0.025961861238,0.185768489762,-0.014976119329,-0.033321631857,-0.02396142202,0.037207222569,0.03744689926,-0.054588363405,0.163225000326,0.108806881184,-0.266586704127,-0.095678602547,-0.083508384205,0.088534044509,0.140957610251,-0.121134255923,0.086316621421,0.143835031464,-0.38643308518,-0.139695152946,0.197760105864,-0.093850762718,0.159746114386,0.066328417644,-0.014835688719,-0.100281776448,-0.100495870444,0.050802827831,0.034407067686,0.123013751669,-0.051041498553,0.243323085119,-0.019309309501,-0.142140317845,0.112458758828,-0.034080230158,0.144522549029,-0.05356417035,0.095631516567,-0.148477215012,-0.17837757423,-0.053915715194,0.067568212677,-0.051608906554,-0.018050498151,-0.152052532904,0.142085579476,-0.046190189545,-0.048618149182,-0.070485988707],
        [-0.041468841326,0.223882193341,0.090765398299,0.013994008143,0.088125757698,-0.040418702542,-0.02322567583,0.114648148452,-0.113364595471,0.056470819287,-0.032089569098,-0.039693014474,0.129891476063,0.095060601734,0.073468952347,-0.059439839404,-0.243205940655,-0.010735951093,-0.250047041443,0.074532363482,0.039763061827,0.281384778094,-0.091379597136,-0.093086133943,0.038638702004,-0.019772547343,-0.042129949045,0.104110513378,0.006052466879,0.065116745312,0.231567852506,0.070605969348,-0.193190696285,-0.035224585264,0.0623390258,-0.195606565813,-0.021767289501,-0.104237885814,-0.153264097139,0.099748191814,0.19012530501,0.161484729134,-0.111728698659,-0.081984503531,0.064749988509,0.072972549269,0.079556973986,-0.011869776739,0.29430394114,0.141305333571,-0.133012373246,-0.150505776554,-0.098132980603,0.064994232826,-0.09206946851,0.053984572931,0.058534921578,0.036625916459,-0.00553242618,-0.159868941097,0.204600209496,0.003594832495,0.184495848067,0.243526835876],
        [0.067853357781,-0.00480215868,-0.320382649186,0.08469536582,0.072056897588,-0.073459126178,0.055827174967,0.152311679423,0.092516071461,-0.0791298696,-0.057890473631,0.007958174762,0.166100381526,-0.024320483435,-0.059251965956,-0.0326625741,0.011071252509,-0.02224077863,0.098791971142,-0.033334395225,-0.101045519733,-0.313125982295,0.311812606948,-0.176695074614,0.214319480273,-0.131383536133,0.00161636897,0.110388403614,0.182611459466,-0.282038209133,0.016569242696,0.037062223537,0.07119808402,-0.156630404795,-0.102915442521,0.034681836947,0.105107096733,-0.118442062404,0.092574212874,-0.040592474838,0.066810737927,-0.119541936952,-0.164195090597,0.108619699767,0.128736879992,-0.006961830021,0.015410917135,-0.262985807805,-0.034999688301,0.082073631968,0.056758734042,-0.071115545452,-0.021450024827,0.125225136126,-0.039700158309,-0.048438358496,-0.0368967547,0.09391448881,-0.088240893852,-0.020483072052,-0.084984592741,-0.120729334563,-0.072603494777,0.239906363464],
        [-0.074758026722,0.136399562023,-0.229948115359,0.085470007666,-0.139960568156,0.175431914729,0.034283576508,-0.039884972342,0.062823387233,0.341581509041,-0.034200143246,0.053609385438,0.097328259634,0.233541086541,-0.063823529147,0.168084676608,0.003008132072,0.032022438295,0.170122298842,0.032078490604,-0.083909190674,-0.155595103602,0.092880499559,0.16341400864,-0.121730265324,-0.109475458084,0.028846871371,-0.004742818096,-0.075502723819,0.035805177784,-0.044293981591,-0.139960262964,0.259988527333,0.013534055229,0.077375470657,0.18799460065,-0.083018406584,0.060083311111,0.04914367536,0.102852281642,-0.22819804654,0.213211686789,-0.115389097159,-0.060336726346,-0.018781509327,0.113477350545,0.216541205292,0.005542590379,0.224833966129,-0.162883318271,-0.065599841287,-0.121908004183,-0.08899009362,0.038414125184,0.036704159782,-0.056357940547,-0.025631572738,0.091297785504,0.142136556042,-0.008189566142,0.035611024831,-0.108803677295,-0.066672545601,-0.153257205951],
        [-0.037443003162,-0.025879563549,0.051832010664,-0.136015713711,-0.33027027756,0.143972785506,0.16284104257,-0.064096188456,-0.02834358463,-0.294742025971,0.049986079438,0.11051620732,-0.17342820871,0.172798164509,-0.022218009884,-0.270221848203,-0.008686998947,-0.145844539696,0.052944118958,-0.067552084878,0.145010744662,0.039706427471,-0.093831465656,-0.048497537889,-0.14057135066,0.111432065289,-0.160409501094,-0.007298436144,0.096895959825,0.112182648735,-0.196680752747,0.039448916435,0.119986873451,-0.038243380563,0.00739283667,-0.133498814661,-0.18347417167,0.08650439127,-0.02771668311,0.059624568843,-0.037326615458,0.060035578981,-0.097705379431,-0.141899281702,-0.079415146904,-0.04234973322,0.032337079708,-0.017333546358,-0.045917085406,-0.063830165699,-0.132354555217,-0.02055720441,-0.065226017821,-0.176850308759,0.166507068976,-0.199905082366,0.142691576212,-0.053549926132,-0.062903980128,-0.004810447546,0.002036041148,-0.08661399572,-0.330419021234,-0.057092879173],
        [-0.008730205076,0.14368101256,-0.012202397964,0.047301710502,0.030759099561,-0.062755099104,-0.297508508109,-0.085419295295,0.089065828973,0.120370943926,-0.08699414448,0.00086099033,-0.085582687205,-0.332928242533,0.028177584286,-0.091177123192,-0.004794110916,0.224517280324,-0.012098020398,-0.04555368264,-0.007621500568,0.212620199455,-0.107855590627,0.047756589934,0.008370375264,0.2130434186,0.04890580059,0.026552509947,0.002571164859,-0.059235235071,-0.021995770687,0.267428394118,-0.058583613706,0.196422796246,0.069109965933,0.005451580652,0.169634043686,-0.171371477467,-0.028254048926,0.040039426774,0.015673489152,0.048499440064,0.179296604098,-0.249981519032,0.017843261893,0.26122910556,-0.013288200605,-0.080188320655,-0.225904841548,-0.018248424508,0.165861929503,0.009269328895,-0.008922427999,-0.081571838853,0.087577354025,0.081926649598,0.035666326761,0.044748236525,-0.152609053025,-0.108407740943,-0.097291481539,0.021083640291,0.165652054171,-0.165901547468],
        [0.005616668805,0.050239810966,0.157530983601,-0.039078707607,-0.144368899009,-0.139895977944,0.262640473278,-0.114156645476,-0.027461505348,0.051137853498,-0.156231437453,0.080018712584,0.001341589076,0.032244986113,-0.066353980586,-0.116537029717,0.032567016015,-0.030004584509,0.111109961249,-0.000375045155,-0.263746368593,-0.164153223755,-0.023559418343,0.019671551936,0.141441446914,0.06910029915,0.283229527492,0.1105410736,-0.185678729341,0.232280917953,-0.102584654042,0.052645131934,0.193700402294,0.053223742667,-0.041900456935,-0.023698658474,0.194493325099,-0.067447508984,0.229229789978,-0.103819649039,0.059738485317,0.040638406243,-0.123667892303,-0.048675969777,-0.117313766651,-0.061176010021,0.121550900507,-0.012769491094,0.091627296759,0.103644960491,-0.028076999789,0.036323718036,-0.266009438345,-0.0362520674,0.048598797457,0.0686940157,0.05488226097,0.076314495664,0.239037683945,-0.238013083748,-0.098673835571,-0.029722071783,0.152652668569,0.064200147394],
        [-0.045591154509,0.109025070641,0.025950200232,0.113038887972,0.161419412019,0.082951729695,-0.119994718277,0.062780210224,0.051206561056,-0.220993773667,0.034404786818,-0.140138122881,-0.108010415078,0.174701892685,-0.121666619523,0.058123762758,0.091906910127,0.039883407252,0.15985722088,-0.124644941702,-0.035499769482,0.134576476809,-0.059670639124,-0.036617986809,0.012304030015,-0.021357428468,0.047171941483,-0.108139692999,0.118687492835,-0.045604251178,0.133756114036,-0.14678574057,-0.027831114163,-0.142745522713,-0.08534250977,-0.045801669324,-0.015767714978,0.155424217035,-0.099459843474,-0.245274317685,-0.069807926959,0.150711961262,-0.374691854811,0.085114186886,-0.072106025576,0.0192091926,-0.001492421128,0.153416488331,0.043917387344,0.006973794285,-0.211512444494,0.045694278472,0.137602366314,-0.259243884765,-0.011134699304,-0.043375701849,0.191009569427,-0.088982949019,-0.061925762394,0.047607612337,-0.016611930759,-0.222758022624,0.089708287411,-0.261541945364],
        [0.307190299384,-0.139916345853,-0.194090701145,-0.002844271774,0.189674692105,-0.103769792447,-0.296108516488,-0.119858413839,0.133385586016,-0.017910970106,0.041679087045,-0.138362362663,0.018283569665,-0.058387492777,-0.090418160735,0.024868581271,0.060325800484,0.026959938959,-0.134253667247,-0.198178877324,0.107472665391,0.007350756248,-0.184158912815,-0.05163516479,0.011000434702,-0.075328021324,0.14066846658,-0.030058079392,-0.071993779634,0.027182134714,-0.152855250995,-0.22637455433,-0.070255998772,-0.160443123194,-0.203491719427,0.103915235073,-0.033738278506,0.002819022842,0.290766855833,-0.202967795748,-0.002018565743,-0.03691162762,0.241126142467,-0.106013173453,-0.085916876556,0.084018679818,-0.045734546689,0.140627804871,-0.06958766934,0.05818869226,0.048332190152,-0.0016466926,0.138830942698,-0.019786956789,0.087832048366,-0.058699991195,-0.000791626037,-0.073058867843,0.075251232525,-0.117458570954,0.121750159163,0.162634689095,-0.060592255078,0.056782440174],
        [0.176904620321,-0.0956061159,-0.03395177429,0.04445122556,0.104701707204,0.003553379358,-0.280705862397,0.027329013628,-0.088261736534,0.093853788213,-0.244836467176,-0.024118828871,-0.100387710695,0.154537269007,-0.129816024159,0.156168842851,0.061364435246,-0.063202658621,-0.063215786847,-0.012670172639,0.108436912608,-0.081400361461,-0.055379416988,-0.188272643503,-0.052603970941,-0.073398524981,-0.081841461008,-0.071407095528,-0.276555829764,-0.134496732596,-0.051503412341,0.093387544202,0.082852406972,-0.059678066453,-0.135430740035,0.198620235968,0.112635484808,-0.274555447104,-0.100373479806,-0.026291469131,0.017920275801,0.08904692872,0.123906457791,-0.069434109889,0.158883390581,-0.103855063553,-0.010194859696,0.107712191678,-0.089156229432,0.002684397234,0.213777337694,-0.380049453056,-0.023679287196,-0.212955643241,0.065541444036,0.033231114845,0.01192510266,-0.009928513687,0.068964247771,0.138045515081,-0.0374127692,0.018124187238,-0.001988596885,0.021853288673],
        [-0.055955425104,-0.097191598718,-0.113964761275,0.125174851321,0.15394411669,0.014709865602,-0.118762766168,0.135503631577,0.203500233094,0.209815163961,0.08296739619,0.139481357603,0.03805600628,0.179949618891,-0.019455145308,-0.227981395645,0.208173500242,-0.003716729149,0.001869809329,0.022475908124,-0.060788970603,-0.144808270401,-0.092469852901,-0.034643903201,0.174099190037,-0.079521658989,0.187688898557,-0.133734532704,-0.107480864013,-0.14844772597,-0.108464695843,0.095471400519,0.155487887043,-0.078750065959,-0.047143872187,-0.087522203048,0.112252075502,-0.117386361087,0.124089290965,-0.025251841838,0.101441202007,-0.020247019165,-0.106921679025,-0.010443884339,-0.080311063726,0.009649970429,0.022324413556,-0.199417402369,-0.015975455326,-0.083982344995,0.285501971419,-0.06492684542,0.051762948628,0.021087761537,-0.059199423639,-0.323952519261,-0.200903222256,0.071566060017,-0.019387954873,0.038768474574,0.184723799141,0.160969430793,0.127639682277,-0.043751765433],
        [-0.266782143408,-0.03597085799,0.124197469197,-0.151650541352,0.110600444978,-0.020694378953,-0.061527569828,0.002340538288,0.092948551413,-0.206889064256,-0.036719136122,0.088684198866,-0.12323772682,-0.166924106358,-0.187492042559,-0.009586063832,-0.081443194147,-0.182212704007,-0.11172326504,0.256089961102,0.094043491832,-0.135876909174,0.301519859045,0.157308301837,-0.062275870979,-0.132103089573,-0.008221158507,-0.041264604121,-0.014046983221,-0.016328997291,-0.185589232319,0.070769897235,-0.035637473029,0.011500436567,0.007123545673,0.03002536286,-0.004397504618,0.126272710729,-0.011960472987,-0.054705455708,0.236092316437,-0.043051227928,-0.036382026446,0.030928229486,0.030689703337,-0.044008291005,-0.181071709599,0.04240509149,0.074163343384,-0.07353569085,0.048868494489,0.051596723819,-0.314605365483,0.127382471357,0.069722289998,0.182881866494,-0.12209725498,-0.178146554126,-0.154268146634,0.088210236809,0.005874140899,0.137819702155,-0.011305990724,0.155518830091],
        [-0.120629861835,0.072739410985,0.250002770705,-0.002909379737,-0.127553520055,0.035842485166,0.13789331677,0.034466854864,-0.124340147996,0.103039184185,0.178802879654,0.031053065687,0.012262724939,-0.019197975685,-0.031082440175,-0.049326350964,-0.175869798852,-0.028085429861,-0.035480222891,-0.018705158044,-0.079080584151,0.23268251398,0.076278034715,0.093340220091,0.123134847881,-0.001342532639,-0.006316453339,0.011818180532,0.180492259174,0.018504271441,0.030378013932,0.127477578201,0.217436030619,0.265336156313,-0.008856681533,0.180317333304,-0.098580804081,-0.049311051379,-0.068108400135,-0.064766062217,-0.192173538144,-0.153351167829,0.159324916862,-0.014904807946,0.027709048739,-0.09481272089,0.122313263193,-0.111642237687,-0.164936850167,0.077325872005,-0.245524617764,0.02580496645,0.147525262611,-0.148422671858,-0.213155907452,-0.168430945869,-0.215032608535,0.209154317006,0.043327861253,-0.020335180937,-0.180702806836,0.030265255317,-0.067371673936,-0.081631706124],
        [0.037739881523,-0.052104456161,0.033632032293,0.076364405817,0.020642664843,0.090647295259,0.073516217749,-0.064676151228,0.214234809846,-0.105639657969,0.098474950621,0.052447177198,0.00689144041,0.040650112317,0.314143109172,0.296452633148,-0.04383842759,-0.124903846435,-0.011106856402,-0.116295216389,-0.068522988875,0.039690851641,0.093827378888,-0.103126741602,0.028806471018,-0.082073361226,-0.024509403596,-0.226669529685,-0.14275268761,0.072228270466,-0.168216329921,-0.040767161736,-0.080994688826,0.074115034271,-0.081661832629,-0.157086757469,0.026766365539,0.134504340592,0.153949964367,-0.033976030334,-0.17698510974,-0.134926618942,0.179106492594,-0.028066486705,0.165675357659,0.047952690901,-0.027539804016,-0.109833026908,-0.129348628052,0.015403085044,-0.170938614614,-0.014759401991,-0.272916366016,0.069289652839,-0.12583507835,-0.11241178801,0.127439553864,-0.244071996109,0.094227063707,-0.04421831393,-0.051967305788,0.063994584712,0.138799442275,-0.249035369103],
        [0.135825324587,-0.099759154571,0.060030459768,-0.206150441116,-0.285170265464,-0.120785343484,-0.040056120989,0.118663042978,-0.225078914895,0.184787669776,0.046044725622,-0.087227485232,0.044224656175,0.120394090636,-0.0370401134,-0.206440812129,-0.122113153087,-0.090877703164,0.104747039398,0.023773014219,0.112028756417,-0.001092892224,-0.007217143093,-0.069126611014,-0.141478702776,-0.090657062339,-0.046990954043,-0.238695401141,-0.034426944495,0.208709800243,0.082087419133,-0.042941655363,-0.153176265174,0.132295301313,-0.055866837801,0.043396750393,-0.163346718777,0.044075679851,0.083433999521,0.088997523474,-0.083747876085,0.200496425567,0.051962084148,0.022645107955,0.091972657768,-0.181724382287,-0.025841489608,0.129644591821,0.027343791529,-0.091679597001,0.14336525615,0.090119394894,0.00387068347,0.262576418759,-0.015853723496,0.007344519148,-0.120911916844,-0.052405560717,-0.04033424961,-0.24877016654,0.068840707843,-0.112634311524,0.245130765038,0.041729833121],
    ],
}


def _ivf_cent_values() -> str:
    """The pinned-centroid VALUES rows (corpus_fp, cell, cvec) shared
    by every oracle that replays the coarse quantizer (_ivf_oracle,
    _semantic_dedup_oracle)."""
    rows = []
    for fp, cents in _IVF_CENTROID_PINS.items():
        for cell, cv in enumerate(cents):
            lit = "[" + ",".join(repr(x) for x in cv) + "]"
            rows.append(f"('{fp}',{cell},{lit}::DOUBLE[])")
    return ",\n".join(rows)


def _ivf_oracle() -> str:
    """DuckDB oracle for ext_knn_ivf: FULL SEMANTIC REPLAY of the IVF
    read path under the pinned coarse quantizer (the LSH-replay recipe
    plus the BPE fixture-closed-form pins). Containment does not hold
    here (nprobe=8 of 16 cells misses 50-65 of the 100 true pairs on
    this i.i.d.-gaussian ladder), so the oracle re-derives the SAME
    candidate set: normalize each vector (x / (||x|| + 1e-12), the
    numpy formula), dot against the 16 pinned centroid literals,
    assign the corpus by argmax (sim DESC, cell ASC — numpy argmax
    takes the lowest index on ties), probe the _IVF_NPROBE top cells
    per query, cell-equi join, self-filter, dedup, exact rounded
    re-score, (score desc, neighbor_id) top-k.

    Cross-engine argmax robustness: numpy matmul and list_dot_product
    sum in different orders (~1e-14 noise); measured fixture margins —
    assignment best-vs-runner-up >= 3.85e-6, probe 8th-vs-9th
    >= 1.75e-4 — leave 8+ orders of magnitude. A fixture change misses
    every fingerprint -> 0 oracle rows -> loud red row."""
    return f"""WITH fp AS (SELECT CAST(COUNT(*) AS VARCHAR) || ':' ||
                   CAST(SUM(CAST(embedding[1] AS DECIMAL(28,14))) AS VARCHAR) AS v
            FROM embeddings),
 cents(corpus_fp, cell, cvec) AS (VALUES {_ivf_cent_values()}),
 live AS (SELECT cell, cvec FROM cents, fp WHERE corpus_fp = fp.v),
 c AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
 cn AS (SELECT vec_id, emb,
               list_transform(emb,
                 x -> x / (sqrt(list_dot_product(emb, emb)) + 1e-12)) AS nemb
        FROM c),
 sims AS (SELECT v.vec_id, lc.cell, list_dot_product(v.nemb, lc.cvec) AS sim
          FROM cn v CROSS JOIN live lc),
 assign AS (SELECT vec_id, cell FROM (
              SELECT vec_id, cell,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY sim DESC, cell) AS rn
              FROM sims) t WHERE rn = 1),
 probes AS (SELECT vec_id AS query_id, cell FROM (
              SELECT vec_id, cell,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY sim DESC, cell) AS rn
              FROM sims WHERE vec_id < {N_QUERIES}) t WHERE rn <= {_IVF_NPROBE}),
 cand AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
          FROM probes p JOIN assign a ON a.cell = p.cell
          WHERE a.vec_id <> p.query_id),
 scored AS (SELECT cand.query_id, cand.neighbor_id,
                   FLOOR(list_cosine_similarity(eq.emb, ec.emb) * 10000.0 + 0.5)
                     / 10000.0 AS score
            FROM cand JOIN c eq ON eq.vec_id = cand.query_id
                      JOIN c ec ON ec.vec_id = cand.neighbor_id),
 ranked AS (SELECT query_id, neighbor_id, score,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id) AS rank
            FROM scored)
SELECT query_id, neighbor_id, rank, score FROM ranked WHERE rank <= {K_NEIGHBORS}"""


@ext_query("ext_knn_ivf", _ivf_oracle())  # + recall/lifecycle pytests
def ext_knn_ivf(spark, sf_dir):
    """IVF-bucketed ANN: corpus vectors are assigned to their single
    nearest coarse centroid (at 100 TB: a write-once index partitioned
    by cell — training reads a constant-size sample, assignment is one
    linear pass); each query probes its _IVF_NPROBE nearest cells, so
    the scored fraction is ~nprobe/k of the corpus regardless of
    scale. Candidates get an exact cosine re-score, making false
    candidates cost recall nothing."""
    e = _emb(spark, sf_dir)
    cents = _ivf_centroids(e)
    keyed = _ivf_keyed(e, cents)
    probe_cells = _ivf_cells_udf(cents, _IVF_NPROBE)
    q = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.explode(probe_cells(F.col("emb"))).alias("cell"),
        )
    )
    return _exact_topk(_ivf_candidates(keyed, q))


def _ivf_keyed(e: DataFrame, cents: np.ndarray) -> DataFrame:
    """Corpus vectors tagged with their single nearest cell — the
    index content, shared by the inline path and the saved layout."""
    corpus_cell = _ivf_cells_udf(cents, 1)
    return e.select(
        "vec_id", "emb", F.element_at(corpus_cell(F.col("emb")), 1).alias("cell")
    )


def _ivf_candidates(
    keyed: DataFrame, q: DataFrame, exclude_self: bool = True
) -> DataFrame:
    """Shared candidate algebra of every IVF path (inline and saved
    index): cell-equi join, self-match filter, per-(query, neighbor)
    dedup across probed cells. One definition — the saved-index path
    is equality-tested against the inline path, and divergent copies
    here would break that silently.

    ID-NAMESPACE CONTRACT: ``exclude_self`` assumes query_id and the
    corpus vec_id share one namespace (the corpus-self-join deployment
    every inline key runs). An EXTERNAL query batch whose ids can
    coincidentally collide with unrelated corpus vec_ids must pass
    ``exclude_self=False`` or it silently loses those neighbors.

    The exact cosine is computed MAP-SIDE, inside the broadcast-join
    stage, so the candidate dedup exchange and the top-k sort carry
    (query_id, neighbor_id, score) — ~24 bytes a row — instead of two
    embedding arrays (~1 KB a row). Rows that duplicate a
    (query, neighbor) pair across probed cells carry bit-identical
    embeddings, so scoring before the dedup keeps the surviving row's
    score identical. This ordering is what the r12 1024x RAG probe
    demanded: the embedding-carrying formulation shuffled 13 GB and
    spilled 73 GB in the saved-index query leg — the widest exchange
    of the whole retrieval stack — while every other phase ran
    spill-free.

    Each side's NORM is projected once before the join — a corpus
    vector pairs with every query that probes its cell, and the naive
    ``cosine_expr`` re-folds both norms per PAIR (3 interpreted HOF
    aggregates a row; the norms are ~2/3 of that work and are pure
    per-vector functions). ``dot/(c_norm * q_norm)`` evaluates the
    identical double arithmetic, so scores stay bit-identical while
    the per-pair work drops to the one fold that genuinely depends on
    the pair."""
    kn = keyed.withColumn("_cn", norm_expr(F.col("emb")))
    qn = q.withColumn("_qn", norm_expr(F.col("q_emb")))
    j = kn.join(F.broadcast(qn), ["cell"])
    if exclude_self:
        j = j.filter(F.col("vec_id") != F.col("query_id"))
    return j.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        half_up(
            dot_expr(F.col("q_emb"), F.col("emb"))
            / (F.col("_qn") * F.col("_cn")), 4
        ).alias("score"),
    ).dropDuplicates(["query_id", "neighbor_id"])


def build_ivf_index(e: DataFrame, path: str) -> None:
    """Materialize the IVF index the inline query recomputes, through
    :mod:`~smartpipeline_spark.indexstore`: a ``cells`` table of corpus
    vectors PARTITIONED BY their nearest-centroid cell, with the
    trained centroids in the manifest. This is the write-once form of
    the 100 TB contract: train on a constant-size sample, assign the
    corpus in one linear pass, pay the layout once — every later query
    batch reads only its probed cell directories (verified in tests
    via the scan's partition filters), not the corpus."""
    cents = _ivf_centroids(e)
    indexstore.build(
        path,
        {"cells": _ivf_keyed(e, cents)},
        {"centroids": cents.tolist()},
        layout={"cells": {"partition": ["cell"]}},
    )


def _ivf_assign_udf(cents: np.ndarray):
    """Top-1 cell assignment WITH the achieved cosine — one Arrow
    matmul per batch, shared by index maintenance (the cell routes the
    row; the sim feeds the drift report)."""

    @F.pandas_udf("struct<cell:int, sim:double>")
    def assign(emb: pd.Series) -> pd.DataFrame:
        m = np.stack(emb.to_numpy())
        m = m / (np.linalg.norm(m, axis=1, keepdims=True) + 1e-12)
        sims = m @ cents.T
        cell = sims.argmax(axis=1).astype("int32")
        return pd.DataFrame(
            {"cell": cell, "sim": sims[np.arange(len(cell)), cell]}
        )

    return assign


def append_to_ivf_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    concentration_factor: float = 4.0,
) -> dict:
    """Incremental IVF maintenance: real corpora APPEND, and a rebuild
    per append is the anti-pattern a 100 TB index exists to avoid. New
    vectors are assigned with the SAVED centroids (existing cell
    contents stay untouched and valid — readers see a consistent
    quantizer throughout) and appended into their cell partitions; the
    corpus moves once, the centroids move never.

    The cost of never retraining is quantizer drift, so the append
    returns a drift report: ``max_cell_frac`` is the hottest cell's
    share of this batch (a batch from the trained distribution spreads
    ~uniformly; a novel cluster the quantizer never saw piles into one
    cell, degrading both balance and recall), and ``mean_sim`` is the
    batch's mean cosine to its assigned centroid (falling fit).
    ``retrain_recommended`` fires when the hottest cell exceeds
    ``concentration_factor`` x the uniform share — the signal to
    retrain + re-layout, which is a new index build, not a mutation.

    Each append commits one new segment; past
    ``indexstore.COMPACT_AFTER`` segments the store compacts inline so
    probed cells keep opening ~1 file."""
    cents = np.array(indexstore.manifest(path)["meta"]["centroids"])
    assign = _ivf_assign_udf(cents)
    assigned = materialize.persist(
        new_vectors.select("vec_id", "emb", assign(F.col("emb")).alias("a"))
        .select("vec_id", "emb", F.col("a.cell").alias("cell"), F.col("a.sim").alias("sim"))
    )
    stats = assigned.groupBy("cell").agg(
        F.count("*").alias("n"), F.sum("sim").alias("s")
    ).collect()
    n = sum(r["n"] for r in stats)
    try:
        compacted = indexstore.append(path, {"cells": assigned.select("vec_id", "emb", "cell")})[1]
    finally:
        materialize.release(assigned)
    max_frac = (max(r["n"] for r in stats) / n) if n else 0.0
    uniform = 1.0 / len(cents)
    return {
        "appended": n,
        "cells_touched": len(stats),
        "mean_sim": (sum(r["s"] for r in stats) / n) if n else None,
        "max_cell_frac": max_frac,
        "retrain_recommended": max_frac > concentration_factor * uniform,
        "compacted": compacted,
    }


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int | None = None,
    exclude_self: bool = True,
    k: int | None = None,
) -> DataFrame:
    """ANN top-k against a saved :func:`build_ivf_index` layout.
    ``queries`` carries (query_id, q_emb). The probed cell ids become
    an IN-filter on the index's PARTITION column, so the parquet scan
    opens only nprobe directories per query batch — the remaining
    ~(k - nprobe)/k of the corpus is pruned before any IO. Candidates
    get the same exact cosine re-score as every other ANN path.

    ``exclude_self=True`` (the default, matching the inline keys)
    assumes query_id SHARES the corpus vec_id namespace and drops
    exact-id matches as self-hits. Callers querying with an external
    id namespace (ids minted outside the index) must pass
    ``exclude_self=False`` — otherwise a query whose id coincidentally
    equals an unrelated corpus vec_id silently loses that neighbor."""
    man = indexstore.manifest(path)
    cents = np.array(man["meta"]["centroids"])
    probe = _ivf_cells_udf(cents, nprobe if nprobe is not None else _IVF_NPROBE)
    # materialized: the frame is consumed twice (distinct-cells collect
    # for the partition filter, then the candidate join) — without this
    # the upstream query pipeline AND the Arrow cell-assignment UDF run
    # as two full jobs
    q = materialize.checkpoint(
        queries.select("query_id", "q_emb", F.explode(probe(F.col("q_emb"))).alias("cell"))
    )
    probed = [r.cell for r in q.select("cell").distinct().collect()]
    idx = indexstore.read(spark, path, "cells", man).filter(F.col("cell").isin(probed))
    return _exact_topk(_ivf_candidates(idx, q, exclude_self), k=k)


def _ivf_index_for(spark, sf_dir: str) -> str:
    """The saved IVF layout of a fixture corpus, built once: valid when
    the layout's row count equals the embeddings file's footer row
    count. The kind names the trainer and the format: a layout saved
    before the 1e-12 centroid snap ("ivf") or before the segment store
    ("ivf12") is never served."""
    return indexstore.fixture_index(
        "ivf12_seg",
        os.path.join(sf_dir, "embeddings.parquet"),
        lambda p: build_ivf_index(_emb(spark, sf_dir), p),
        lambda man: indexstore.rows(man, "cells"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bound ANN scale path
# ---------------------------------------------------------------------------

_PQ_M = 8  # subquantizers (dim 64 -> 8 subvectors of 8)
_PQ_K = 256  # codes per subquantizer (1 byte each)
_PQ_ITERS = 5
_PQ_RERANK = 100  # ADC candidates re-scored exactly per query


def _pq_codebooks(e: DataFrame) -> np.ndarray:
    """Per-subspace k-means codebooks, (m, k, d/m) — trained on the
    SAME bounded deterministic driver sample as the IVF coarse
    quantizer (constant cost in corpus size; the corpus is only ever
    encoded, never iterated). L2 k-means per subspace (the standard PQ
    objective, Jégou et al. "Product Quantization for Nearest Neighbor
    Search"); scoring later uses inner products against these
    centroids, the FAISS METRIC_INNER_PRODUCT arrangement."""
    sample = (
        e.filter(F.col("vec_id") % 7 == 0)
        .orderBy("vec_id")
        .limit(_IVF_SAMPLE_CAP)
        .select("emb")
        .collect()
    )
    m = np.array([r["emb"] for r in sample], dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True) + 1e-12
    d = m.shape[1]
    ds = d // _PQ_M
    books = np.empty((_PQ_M, _PQ_K, ds))
    for j in range(_PQ_M):
        sub = m[:, j * ds : (j + 1) * ds]
        cents = sub[:: max(1, len(sub) // _PQ_K)][:_PQ_K].copy()
        if len(cents) < _PQ_K:  # tiny corpus: pad by repetition
            cents = np.resize(cents, (_PQ_K, ds))
        for _ in range(_PQ_ITERS):
            # L2 assignment via the expanded form; sub-norms constant
            # per iteration so argmin(-2 s.c + |c|^2) suffices
            d2 = -2.0 * (sub @ cents.T) + (cents**2).sum(axis=1)
            assign = d2.argmin(axis=1)
            for c in range(_PQ_K):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[j] = cents
    return books


def _pq_encode_udf(books: np.ndarray):
    """Corpus encoder: (m) uint8-range codes per vector — one Arrow
    batch matmul per subspace. The encoded corpus is m bytes/vector
    (64x smaller than float64 at dim 64, packable to binary on disk)
    — the representation that lets a 100 TB corpus's index live in
    cluster memory."""
    m_, ds = books.shape[0], books.shape[2]
    flat = books  # closure-broadcast, ~0.5 MB

    @F.pandas_udf("array<int>")
    def enc(emb: pd.Series) -> pd.Series:
        x = np.stack(emb.to_numpy())
        x = x / (np.linalg.norm(x, axis=1, keepdims=True) + 1e-12)
        codes = np.empty((len(x), m_), dtype="int64")
        for j in range(m_):
            sub = x[:, j * ds : (j + 1) * ds]
            d2 = -2.0 * (sub @ flat[j].T) + (flat[j] ** 2).sum(axis=1)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return enc


def _query_matrix(df: DataFrame, id_col: str = "vec_id", emb_col: str = "emb"):
    """BOUNDED driver collect of the query batch (ANN queries arrive
    in small batches by contract — same bound as query_ivf_index's
    probe collect), returned as (ids, row-normalized matrix) sorted by
    id for determinism."""
    qrows = sorted(df.select(id_col, emb_col).collect(), key=lambda r: r[id_col])
    if not qrows:
        raise ValueError(
            "empty query batch: the ANN query frame produced no rows "
            "(np.stack on nothing would raise an opaque numpy error)"
        )
    qids = np.array([r[id_col] for r in qrows])
    qm = np.stack([np.array(r[emb_col], dtype=np.float64) for r in qrows])
    qm /= np.linalg.norm(qm, axis=1, keepdims=True) + 1e-12
    return qids, qm


def _adc_tables(qm: np.ndarray, books: np.ndarray) -> np.ndarray:
    """ADC lookup tables T[q, j, c] = <query_j, codebook_{j,c}> —
    (Q, m, k) doubles, closure-broadcast to the scoring kernel."""
    m_, ds = books.shape[0], books.shape[2]
    return np.stack(
        [qm[:, j * ds : (j + 1) * ds] @ books[j].T for j in range(m_)], axis=1
    )


def _probe_cells(qm: np.ndarray, qids: np.ndarray, cents: np.ndarray, nprobe: int):
    """Per-query probed coarse cells, driver-side (Q x nprobe ints):
    {query_id -> cell set} for the kernel's mask plus the sorted union
    for the partition-prunable scan filter."""
    sims = qm @ cents.T
    probe = np.argsort(-sims, axis=1)[:, :nprobe]
    probed_sets = {int(q): set(map(int, row)) for q, row in zip(qids, probe)}
    all_probed = sorted({c for s in probed_sets.values() for c in s})
    return probed_sets, all_probed


def _adc_score_fn(
    tables: np.ndarray,
    qids: np.ndarray,
    rerank: int,
    probed_sets=None,
    exclude_self: bool = True,
):
    """The ONE ADC scoring kernel every PQ path runs (inline
    ext_knn_pq / ext_knn_ivfpq and the saved-index query path —
    equality between them is pytest-pinned, and a divergent copy here
    would break it silently): per Arrow batch, score = m table
    gathers over the codes, optionally mask rows outside each query's
    probed cells, keep the per-batch top ``rerank`` INCLUDING rows
    tied with the boundary score. Keeping boundary ties makes the
    candidate set invariant to batching: duplicate code rows produce
    exact ADC ties, and an arbitrary per-batch tie cut would let the
    final ranking depend on partition layout — the global
    (score desc, neighbor_id) cut in :func:`_adc_rerank` then selects
    the same rows under ANY partitioning.

    Adversarial bound: the documented batches x Q x rerank emission
    ceiling assumes ties at the kth score are rare. On a corpus of
    heavily duplicated vectors (identical rows -> identical codes ->
    exact ties) EVERY tied row survives the per-batch cut, so the
    emission can degrade toward batches x Q x (rerank + tie-class
    size). That is the price of batching invariance; callers who can
    tolerate layout-dependent tie resolution can deduplicate exact
    code rows upstream (group identical codes, fan back out after
    the cut) — the global cut in _adc_rerank re-bounds the final
    candidate set either way."""
    m_ = tables.shape[1]

    def score(batches):
        for pdf in batches:
            if not len(pdf):  # empty Arrow batch: np.stack would raise
                continue
            codes = np.stack(pdf["codes"].to_numpy())  # (B, m)
            vids = pdf["vec_id"].to_numpy()
            acc = np.zeros((len(qids), len(codes)))
            for j in range(m_):
                acc += tables[:, j, codes[:, j]]
            # self-matches are masked HERE, not filtered downstream: a
            # self row surviving to the per-batch cut would consume a
            # top-``rerank`` slot and push the true boundary candidate
            # out in large batches only — breaking batching invariance.
            # Only valid under the shared-id-namespace contract (see
            # query_pq_index); external-namespace callers disable it.
            if exclude_self:
                acc[qids[:, None] == vids[None, :]] = -np.inf
            if probed_sets is not None:
                cells = pdf["cell"].to_numpy()
                for qi, q in enumerate(qids):
                    mask = np.array(
                        [c not in probed_sets[int(q)] for c in cells]
                    )
                    acc[qi, mask] = -np.inf
            top = min(rerank, len(codes))
            kth = -np.partition(-acc, top - 1, axis=1)[:, top - 1]
            keep = np.isfinite(acc) & (acc >= kth[:, None])
            qidx, vidx = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "query_id": qids[qidx],
                    "neighbor_id": vids[vidx],
                    "pq_score": acc[qidx, vidx],
                }
            )

    return score


def _adc_rerank(cand: DataFrame, vectors: DataFrame, q: DataFrame, rerank: int) -> DataFrame:
    """Shared exact-re-rank tail of every PQ path: global per-query
    top-R cut on the ADC score, join the (tiny) survivor set back to
    full vectors, exact cosine top-k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), F.col("neighbor_id")
    )
    top_cand = (
        cand.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= rerank)
        .select("query_id", "neighbor_id")
    )
    full = (
        top_cand.join(vectors, top_cand.neighbor_id == vectors.vec_id)
        .join(F.broadcast(q), "query_id")
        .select("query_id", "q_emb", "neighbor_id", "emb")
    )
    return _exact_topk(full)


# Pinned post-ADC candidate sets per frozen fixture (the CDC recipe:
# reference outputs ride the oracle as a VALUES CTE). Each is the
# global per-query top-_PQ_RERANK cut by (ADC score desc, neighbor_id)
# computed by a PURE-NUMPY reference (no Spark) that replays codebook
# training, corpus encoding, table gathers, self/probe masking and the
# deterministic global cut — re-derived from the parquet on every
# suite run by test_pq_candidate_pins_match_reference. Margins that
# make the cut engine-stable (measured r10): code argmin winner-class
# leads the nearest NON-identical centroid by >= 9.3e-6 (exact ties
# are bitwise-duplicate centroids from np.resize padding, which both
# argmin and (d2, code) ordering resolve to the lowest index), and the
# rank-100 ADC boundary margin is >= 2.3e-5 — vs ~1e-14 summation
# noise. The ADC sum itself is j-sequential in both the engine kernel
# and the reference, so acc values are bitwise-equal.
_PQ_CANDIDATE_PINS = "('500:-1.46395296278528',0,73),('500:-1.46395296278528',0,483),('500:-1.46395296278528',0,260),('500:-1.46395296278528',0,306),('500:-1.46395296278528',0,13),('500:-1.46395296278528',0,19),('500:-1.46395296278528',0,59),('500:-1.46395296278528',0,497),('500:-1.46395296278528',0,225),('500:-1.46395296278528',0,475),('500:-1.46395296278528',0,221),('500:-1.46395296278528',0,232),('500:-1.46395296278528',0,394),('500:-1.46395296278528',0,393),('500:-1.46395296278528',0,423),('500:-1.46395296278528',0,12),('500:-1.46395296278528',0,499),('500:-1.46395296278528',0,278),('500:-1.46395296278528',0,374),('500:-1.46395296278528',0,94),('500:-1.46395296278528',0,402),('500:-1.46395296278528',0,350),('500:-1.46395296278528',0,82),('500:-1.46395296278528',0,17),('500:-1.46395296278528',0,212),('500:-1.46395296278528',0,467),('500:-1.46395296278528',0,240),('500:-1.46395296278528',0,346),('500:-1.46395296278528',0,272),('500:-1.46395296278528',0,382),('500:-1.46395296278528',0,442),('500:-1.46395296278528',0,248),('500:-1.46395296278528',0,421),('500:-1.46395296278528',0,117),('500:-1.46395296278528',0,137),('500:-1.46395296278528',0,105),('500:-1.46395296278528',0,183),('500:-1.46395296278528',0,84),('500:-1.46395296278528',0,349),('500:-1.46395296278528',0,3),('500:-1.46395296278528',0,51),('500:-1.46395296278528',0,186),('500:-1.46395296278528',0,453),('500:-1.46395296278528',0,292),('500:-1.46395296278528',0,398),('500:-1.46395296278528',0,57),('500:-1.46395296278528',0,120),('500:-1.46395296278528',0,89),('500:-1.46395296278528',0,239),('500:-1.46395296278528',0,139),('500:-1.46395296278528',0,40),('500:-1.46395296278528',0,493),('500:-1.46395296278528',0,296),('500:-1.46395296278528',0,262),('500:-1.46395296278528',0,222),('500:-1.46395296278528',0,49),('500:-1.46395296278528',0,431),('500:-1.46395296278528',0,192),('500:-1.46395296278528',0,427),('500:-1.46395296278528',0,202),('500:-1.46395296278528',0,492),('500:-1.46395296278528',0,1),('500:-1.46395296278528',0,330),('500:-1.46395296278528',0,362),('500:-1.46395296278528',0,177),('500:-1.46395296278528',0,33),('500:-1.46395296278528',0,131),('500:-1.46395296278528',0,26),('500:-1.46395296278528',0,93),('500:-1.46395296278528',0,76),('500:-1.46395296278528',0,367),('500:-1.46395296278528',0,238),('500:-1.46395296278528',0,326),('500:-1.46395296278528',0,299),('500:-1.46395296278528',0,449),('500:-1.46395296278528',0,424),('500:-1.46395296278528',0,340),('500:-1.46395296278528',0,380),('500:-1.46395296278528',0,244),('500:-1.46395296278528',0,478),('500:-1.46395296278528',0,153),('500:-1.46395296278528',0,10),('500:-1.46395296278528',0,446),('500:-1.46395296278528',0,226),('500:-1.46395296278528',0,206),('500:-1.46395296278528',0,313),('500:-1.46395296278528',0,450),('500:-1.46395296278528',0,414),('500:-1.46395296278528',0,235),('500:-1.46395296278528',0,109),('500:-1.46395296278528',0,428),('500:-1.46395296278528',0,104),('500:-1.46395296278528',0,81),('500:-1.46395296278528',0,439),('500:-1.46395296278528',0,282),('500:-1.46395296278528',0,246),('500:-1.46395296278528',0,214),('500:-1.46395296278528',0,359),('500:-1.46395296278528',0,276),('500:-1.46395296278528',0,261),('500:-1.46395296278528',1,305),('500:-1.46395296278528',1,75),('500:-1.46395296278528',1,455),('500:-1.46395296278528',1,229),('500:-1.46395296278528',1,247),('500:-1.46395296278528',1,235),('500:-1.46395296278528',1,349),('500:-1.46395296278528',1,57),('500:-1.46395296278528',1,231),('500:-1.46395296278528',1,244),('500:-1.46395296278528',1,464),('500:-1.46395296278528',1,413),('500:-1.46395296278528',1,378),('500:-1.46395296278528',1,70),('500:-1.46395296278528',1,440),('500:-1.46395296278528',1,66),('500:-1.46395296278528',1,412),('500:-1.46395296278528',1,237),('500:-1.46395296278528',1,283),('500:-1.46395296278528',1,328),('500:-1.46395296278528',1,115),('500:-1.46395296278528',1,248),('500:-1.46395296278528',1,87),('500:-1.46395296278528',1,159),('500:-1.46395296278528',1,479),('500:-1.46395296278528',1,376),('500:-1.46395296278528',1,64),('500:-1.46395296278528',1,50),('500:-1.46395296278528',1,183),('500:-1.46395296278528',1,233),('500:-1.46395296278528',1,209),('500:-1.46395296278528',1,458),('500:-1.46395296278528',1,490),('500:-1.46395296278528',1,106),('500:-1.46395296278528',1,14),('500:-1.46395296278528',1,477),('500:-1.46395296278528',1,185),('500:-1.46395296278528',1,482),('500:-1.46395296278528',1,260),('500:-1.46395296278528',1,129),('500:-1.46395296278528',1,492),('500:-1.46395296278528',1,314),('500:-1.46395296278528',1,495),('500:-1.46395296278528',1,339),('500:-1.46395296278528',1,206),('500:-1.46395296278528',1,264),('500:-1.46395296278528',1,400),('500:-1.46395296278528',1,162),('500:-1.46395296278528',1,6),('500:-1.46395296278528',1,449),('500:-1.46395296278528',1,223),('500:-1.46395296278528',1,377),('500:-1.46395296278528',1,98),('500:-1.46395296278528',1,213),('500:-1.46395296278528',1,90),('500:-1.46395296278528',1,194),('500:-1.46395296278528',1,60),('500:-1.46395296278528',1,296),('500:-1.46395296278528',1,332),('500:-1.46395296278528',1,252),('500:-1.46395296278528',1,411),('500:-1.46395296278528',1,34),('500:-1.46395296278528',1,355),('500:-1.46395296278528',1,110),('500:-1.46395296278528',1,275),('500:-1.46395296278528',1,265),('500:-1.46395296278528',1,37),('500:-1.46395296278528',1,388),('500:-1.46395296278528',1,438),('500:-1.46395296278528',1,224),('500:-1.46395296278528',1,418),('500:-1.46395296278528',1,293),('500:-1.46395296278528',1,447),('500:-1.46395296278528',1,273),('500:-1.46395296278528',1,291),('500:-1.46395296278528',1,74),('500:-1.46395296278528',1,141),('500:-1.46395296278528',1,302),('500:-1.46395296278528',1,242),('500:-1.46395296278528',1,295),('500:-1.46395296278528',1,499),('500:-1.46395296278528',1,202),('500:-1.46395296278528',1,173),('500:-1.46395296278528',1,444),('500:-1.46395296278528',1,311),('500:-1.46395296278528',1,144),('500:-1.46395296278528',1,285),('500:-1.46395296278528',1,109),('500:-1.46395296278528',1,374),('500:-1.46395296278528',1,73),('500:-1.46395296278528',1,68),('500:-1.46395296278528',1,203),('500:-1.46395296278528',1,425),('500:-1.46395296278528',1,262),('500:-1.46395296278528',1,82),('500:-1.46395296278528',1,257),('500:-1.46395296278528',1,466),('500:-1.46395296278528',1,89),('500:-1.46395296278528',1,357),('500:-1.46395296278528',1,276),('500:-1.46395296278528',2,183),('500:-1.46395296278528',2,246),('500:-1.46395296278528',2,91),('500:-1.46395296278528',2,443),('500:-1.46395296278528',2,441),('500:-1.46395296278528',2,136),('500:-1.46395296278528',2,31),('500:-1.46395296278528',2,221),('500:-1.46395296278528',2,378),('500:-1.46395296278528',2,484),('500:-1.46395296278528',2,94),('500:-1.46395296278528',2,358),('500:-1.46395296278528',2,201),('500:-1.46395296278528',2,155),('500:-1.46395296278528',2,241),('500:-1.46395296278528',2,474),('500:-1.46395296278528',2,106),('500:-1.46395296278528',2,256),('500:-1.46395296278528',2,234),('500:-1.46395296278528',2,282),('500:-1.46395296278528',2,132),('500:-1.46395296278528',2,376),('500:-1.46395296278528',2,151),('500:-1.46395296278528',2,497),('500:-1.46395296278528',2,275),('500:-1.46395296278528',2,345),('500:-1.46395296278528',2,211),('500:-1.46395296278528',2,96),('500:-1.46395296278528',2,118),('500:-1.46395296278528',2,313),('500:-1.46395296278528',2,333),('500:-1.46395296278528',2,49),('500:-1.46395296278528',2,185),('500:-1.46395296278528',2,409),('500:-1.46395296278528',2,321),('500:-1.46395296278528',2,39),('500:-1.46395296278528',2,10),('500:-1.46395296278528',2,170),('500:-1.46395296278528',2,407),('500:-1.46395296278528',2,428),('500:-1.46395296278528',2,488),('500:-1.46395296278528',2,150),('500:-1.46395296278528',2,452),('500:-1.46395296278528',2,24),('500:-1.46395296278528',2,68),('500:-1.46395296278528',2,410),('500:-1.46395296278528',2,79),('500:-1.46395296278528',2,85),('500:-1.46395296278528',2,237),('500:-1.46395296278528',2,434),('500:-1.46395296278528',2,383),('500:-1.46395296278528',2,415),('500:-1.46395296278528',2,159),('500:-1.46395296278528',2,62),('500:-1.46395296278528',2,451),('500:-1.46395296278528',2,373),('500:-1.46395296278528',2,287),('500:-1.46395296278528',2,45),('500:-1.46395296278528',2,490),('500:-1.46395296278528',2,97),('500:-1.46395296278528',2,379),('500:-1.46395296278528',2,149),('500:-1.46395296278528',2,259),('500:-1.46395296278528',2,347),('500:-1.46395296278528',2,430),('500:-1.46395296278528',2,281),('500:-1.46395296278528',2,204),('500:-1.46395296278528',2,125),('500:-1.46395296278528',2,309),('500:-1.46395296278528',2,301),('500:-1.46395296278528',2,418),('500:-1.46395296278528',2,67),('500:-1.46395296278528',2,459),('500:-1.46395296278528',2,33),('500:-1.46395296278528',2,43),('500:-1.46395296278528',2,131),('500:-1.46395296278528',2,402),('500:-1.46395296278528',2,399),('500:-1.46395296278528',2,239),('500:-1.46395296278528',2,254),('500:-1.46395296278528',2,300),('500:-1.46395296278528',2,263),('500:-1.46395296278528',2,471),('500:-1.46395296278528',2,226),('500:-1.46395296278528',2,7),('500:-1.46395296278528',2,110),('500:-1.46395296278528',2,128),('500:-1.46395296278528',2,74),('500:-1.46395296278528',2,429),('500:-1.46395296278528',2,56),('500:-1.46395296278528',2,184),('500:-1.46395296278528',2,374),('500:-1.46395296278528',2,145),('500:-1.46395296278528',2,58),('500:-1.46395296278528',2,86),('500:-1.46395296278528',2,17),('500:-1.46395296278528',2,485),('500:-1.46395296278528',2,60),('500:-1.46395296278528',2,44),('500:-1.46395296278528',2,144),('500:-1.46395296278528',3,278),('500:-1.46395296278528',3,84),('500:-1.46395296278528',3,72),('500:-1.46395296278528',3,382),('500:-1.46395296278528',3,53),('500:-1.46395296278528',3,426),('500:-1.46395296278528',3,328),('500:-1.46395296278528',3,83),('500:-1.46395296278528',3,305),('500:-1.46395296278528',3,362),('500:-1.46395296278528',3,430),('500:-1.46395296278528',3,174),('500:-1.46395296278528',3,134),('500:-1.46395296278528',3,17),('500:-1.46395296278528',3,329),('500:-1.46395296278528',3,380),('500:-1.46395296278528',3,140),('500:-1.46395296278528',3,205),('500:-1.46395296278528',3,137),('500:-1.46395296278528',3,0),('500:-1.46395296278528',3,303),('500:-1.46395296278528',3,112),('500:-1.46395296278528',3,335),('500:-1.46395296278528',3,86),('500:-1.46395296278528',3,312),('500:-1.46395296278528',3,169),('500:-1.46395296278528',3,194),('500:-1.46395296278528',3,225),('500:-1.46395296278528',3,66),('500:-1.46395296278528',3,374),('500:-1.46395296278528',3,52),('500:-1.46395296278528',3,406),('500:-1.46395296278528',3,25),('500:-1.46395296278528',3,156),('500:-1.46395296278528',3,37),('500:-1.46395296278528',3,301),('500:-1.46395296278528',3,499),('500:-1.46395296278528',3,326),('500:-1.46395296278528',3,387),('500:-1.46395296278528',3,42),('500:-1.46395296278528',3,244),('500:-1.46395296278528',3,118),('500:-1.46395296278528',3,119),('500:-1.46395296278528',3,336),('500:-1.46395296278528',3,491),('500:-1.46395296278528',3,350),('500:-1.46395296278528',3,376),('500:-1.46395296278528',3,223),('500:-1.46395296278528',3,338),('500:-1.46395296278528',3,212),('500:-1.46395296278528',3,221),('500:-1.46395296278528',3,299),('500:-1.46395296278528',3,104),('500:-1.46395296278528',3,364),('500:-1.46395296278528',3,203),('500:-1.46395296278528',3,448),('500:-1.46395296278528',3,204),('500:-1.46395296278528',3,105),('500:-1.46395296278528',3,93),('500:-1.46395296278528',3,9),('500:-1.46395296278528',3,295),('500:-1.46395296278528',3,466),('500:-1.46395296278528',3,248),('500:-1.46395296278528',3,273),('500:-1.46395296278528',3,421),('500:-1.46395296278528',3,463),('500:-1.46395296278528',3,402),('500:-1.46395296278528',3,439),('500:-1.46395296278528',3,73),('500:-1.46395296278528',3,293),('500:-1.46395296278528',3,414),('500:-1.46395296278528',3,27),('500:-1.46395296278528',3,453),('500:-1.46395296278528',3,108),('500:-1.46395296278528',3,39),('500:-1.46395296278528',3,272),('500:-1.46395296278528',3,255),('500:-1.46395296278528',3,288),('500:-1.46395296278528',3,322),('500:-1.46395296278528',3,332),('500:-1.46395296278528',3,330),('500:-1.46395296278528',3,32),('500:-1.46395296278528',3,265),('500:-1.46395296278528',3,125),('500:-1.46395296278528',3,478),('500:-1.46395296278528',3,192),('500:-1.46395296278528',3,352),('500:-1.46395296278528',3,317),('500:-1.46395296278528',3,102),('500:-1.46395296278528',3,178),('500:-1.46395296278528',3,260),('500:-1.46395296278528',3,133),('500:-1.46395296278528',3,446),('500:-1.46395296278528',3,460),('500:-1.46395296278528',3,111),('500:-1.46395296278528',3,348),('500:-1.46395296278528',3,315),('500:-1.46395296278528',3,369),('500:-1.46395296278528',3,431),('500:-1.46395296278528',3,147),('500:-1.46395296278528',4,98),('500:-1.46395296278528',4,343),('500:-1.46395296278528',4,357),('500:-1.46395296278528',4,275),('500:-1.46395296278528',4,220),('500:-1.46395296278528',4,57),('500:-1.46395296278528',4,413),('500:-1.46395296278528',4,462),('500:-1.46395296278528',4,231),('500:-1.46395296278528',4,390),('500:-1.46395296278528',4,175),('500:-1.46395296278528',4,197),('500:-1.46395296278528',4,325),('500:-1.46395296278528',4,70),('500:-1.46395296278528',4,464),('500:-1.46395296278528',4,345),('500:-1.46395296278528',4,94),('500:-1.46395296278528',4,429),('500:-1.46395296278528',4,233),('500:-1.46395296278528',4,89),('500:-1.46395296278528',4,229),('500:-1.46395296278528',4,110),('500:-1.46395296278528',4,276),('500:-1.46395296278528',4,468),('500:-1.46395296278528',4,7),('500:-1.46395296278528',4,256),('500:-1.46395296278528',4,459),('500:-1.46395296278528',4,100),('500:-1.46395296278528',4,240),('500:-1.46395296278528',4,38),('500:-1.46395296278528',4,425),('500:-1.46395296278528',4,209),('500:-1.46395296278528',4,365),('500:-1.46395296278528',4,160),('500:-1.46395296278528',4,477),('500:-1.46395296278528',4,314),('500:-1.46395296278528',4,383),('500:-1.46395296278528',4,62),('500:-1.46395296278528',4,179),('500:-1.46395296278528',4,50),('500:-1.46395296278528',4,138),('500:-1.46395296278528',4,143),('500:-1.46395296278528',4,484),('500:-1.46395296278528',4,472),('500:-1.46395296278528',4,351),('500:-1.46395296278528',4,448),('500:-1.46395296278528',4,147),('500:-1.46395296278528',4,184),('500:-1.46395296278528',4,235),('500:-1.46395296278528',4,389),('500:-1.46395296278528',4,454),('500:-1.46395296278528',4,347),('500:-1.46395296278528',4,214),('500:-1.46395296278528',4,224),('500:-1.46395296278528',4,409),('500:-1.46395296278528',4,326),('500:-1.46395296278528',4,265),('500:-1.46395296278528',4,212),('500:-1.46395296278528',4,195),('500:-1.46395296278528',4,364),('500:-1.46395296278528',4,269),('500:-1.46395296278528',4,402),('500:-1.46395296278528',4,388),('500:-1.46395296278528',4,339),('500:-1.46395296278528',4,285),('500:-1.46395296278528',4,238),('500:-1.46395296278528',4,479),('500:-1.46395296278528',4,226),('500:-1.46395296278528',4,123),('500:-1.46395296278528',4,217),('500:-1.46395296278528',4,407),('500:-1.46395296278528',4,109),('500:-1.46395296278528',4,247),('500:-1.46395296278528',4,460),('500:-1.46395296278528',4,255),('500:-1.46395296278528',4,85),('500:-1.46395296278528',4,206),('500:-1.46395296278528',4,52),('500:-1.46395296278528',4,148),('500:-1.46395296278528',4,221),('500:-1.46395296278528',4,377),('500:-1.46395296278528',4,277),('500:-1.46395296278528',4,355),('500:-1.46395296278528',4,82),('500:-1.46395296278528',4,437),('500:-1.46395296278528',4,446),('500:-1.46395296278528',4,103),('500:-1.46395296278528',4,41),('500:-1.46395296278528',4,193),('500:-1.46395296278528',4,271),('500:-1.46395296278528',4,202),('500:-1.46395296278528',4,186),('500:-1.46395296278528',4,72),('500:-1.46395296278528',4,81),('500:-1.46395296278528',4,222),('500:-1.46395296278528',4,122),('500:-1.46395296278528',4,405),('500:-1.46395296278528',4,293),('500:-1.46395296278528',4,257),('500:-1.46395296278528',4,157),('500:-1.46395296278528',5,360),('500:-1.46395296278528',5,448),('500:-1.46395296278528',5,382),('500:-1.46395296278528',5,113),('500:-1.46395296278528',5,433),('500:-1.46395296278528',5,414),('500:-1.46395296278528',5,118),('500:-1.46395296278528',5,447),('500:-1.46395296278528',5,440),('500:-1.46395296278528',5,492),('500:-1.46395296278528',5,171),('500:-1.46395296278528',5,186),('500:-1.46395296278528',5,39),('500:-1.46395296278528',5,395),('500:-1.46395296278528',5,384),('500:-1.46395296278528',5,236),('500:-1.46395296278528',5,326),('500:-1.46395296278528',5,281),('500:-1.46395296278528',5,298),('500:-1.46395296278528',5,130),('500:-1.46395296278528',5,53),('500:-1.46395296278528',5,322),('500:-1.46395296278528',5,127),('500:-1.46395296278528',5,359),('500:-1.46395296278528',5,14),('500:-1.46395296278528',5,308),('500:-1.46395296278528',5,219),('500:-1.46395296278528',5,378),('500:-1.46395296278528',5,483),('500:-1.46395296278528',5,446),('500:-1.46395296278528',5,203),('500:-1.46395296278528',5,393),('500:-1.46395296278528',5,205),('500:-1.46395296278528',5,264),('500:-1.46395296278528',5,189),('500:-1.46395296278528',5,409),('500:-1.46395296278528',5,441),('500:-1.46395296278528',5,4),('500:-1.46395296278528',5,218),('500:-1.46395296278528',5,109),('500:-1.46395296278528',5,143),('500:-1.46395296278528',5,42),('500:-1.46395296278528',5,288),('500:-1.46395296278528',5,79),('500:-1.46395296278528',5,77),('500:-1.46395296278528',5,332),('500:-1.46395296278528',5,336),('500:-1.46395296278528',5,390),('500:-1.46395296278528',5,343),('500:-1.46395296278528',5,69),('500:-1.46395296278528',5,104),('500:-1.46395296278528',5,206),('500:-1.46395296278528',5,154),('500:-1.46395296278528',5,27),('500:-1.46395296278528',5,276),('500:-1.46395296278528',5,233),('500:-1.46395296278528',5,476),('500:-1.46395296278528',5,95),('500:-1.46395296278528',5,67),('500:-1.46395296278528',5,487),('500:-1.46395296278528',5,108),('500:-1.46395296278528',5,13),('500:-1.46395296278528',5,357),('500:-1.46395296278528',5,56),('500:-1.46395296278528',5,349),('500:-1.46395296278528',5,311),('500:-1.46395296278528',5,489),('500:-1.46395296278528',5,179),('500:-1.46395296278528',5,92),('500:-1.46395296278528',5,437),('500:-1.46395296278528',5,372),('500:-1.46395296278528',5,159),('500:-1.46395296278528',5,193),('500:-1.46395296278528',5,463),('500:-1.46395296278528',5,194),('500:-1.46395296278528',5,223),('500:-1.46395296278528',5,268),('500:-1.46395296278528',5,52),('500:-1.46395296278528',5,45),('500:-1.46395296278528',5,293),('500:-1.46395296278528',5,31),('500:-1.46395296278528',5,460),('500:-1.46395296278528',5,300),('500:-1.46395296278528',5,307),('500:-1.46395296278528',5,364),('500:-1.46395296278528',5,204),('500:-1.46395296278528',5,376),('500:-1.46395296278528',5,85),('500:-1.46395296278528',5,366),('500:-1.46395296278528',5,10),('500:-1.46395296278528',5,296),('500:-1.46395296278528',5,36),('500:-1.46395296278528',5,24),('500:-1.46395296278528',5,249),('500:-1.46395296278528',5,213),('500:-1.46395296278528',5,481),('500:-1.46395296278528',5,341),('500:-1.46395296278528',5,137),('500:-1.46395296278528',5,396),('500:-1.46395296278528',5,356),('500:-1.46395296278528',6,434),('500:-1.46395296278528',6,280),('500:-1.46395296278528',6,213),('500:-1.46395296278528',6,352),('500:-1.46395296278528',6,486),('500:-1.46395296278528',6,495),('500:-1.46395296278528',6,252),('500:-1.46395296278528',6,141),('500:-1.46395296278528',6,155),('500:-1.46395296278528',6,93),('500:-1.46395296278528',6,358),('500:-1.46395296278528',6,334),('500:-1.46395296278528',6,444),('500:-1.46395296278528',6,313),('500:-1.46395296278528',6,378),('500:-1.46395296278528',6,322),('500:-1.46395296278528',6,140),('500:-1.46395296278528',6,63),('500:-1.46395296278528',6,489),('500:-1.46395296278528',6,26),('500:-1.46395296278528',6,445),('500:-1.46395296278528',6,151),('500:-1.46395296278528',6,375),('500:-1.46395296278528',6,118),('500:-1.46395296278528',6,115),('500:-1.46395296278528',6,147),('500:-1.46395296278528',6,307),('500:-1.46395296278528',6,329),('500:-1.46395296278528',6,437),('500:-1.46395296278528',6,112),('500:-1.46395296278528',6,161),('500:-1.46395296278528',6,481),('500:-1.46395296278528',6,265),('500:-1.46395296278528',6,439),('500:-1.46395296278528',6,34),('500:-1.46395296278528',6,185),('500:-1.46395296278528',6,25),('500:-1.46395296278528',6,499),('500:-1.46395296278528',6,20),('500:-1.46395296278528',6,179),('500:-1.46395296278528',6,497),('500:-1.46395296278528',6,124),('500:-1.46395296278528',6,339),('500:-1.46395296278528',6,177),('500:-1.46395296278528',6,412),('500:-1.46395296278528',6,387),('500:-1.46395296278528',6,190),('500:-1.46395296278528',6,369),('500:-1.46395296278528',6,8),('500:-1.46395296278528',6,424),('500:-1.46395296278528',6,306),('500:-1.46395296278528',6,297),('500:-1.46395296278528',6,397),('500:-1.46395296278528',6,216),('500:-1.46395296278528',6,395),('500:-1.46395296278528',6,131),('500:-1.46395296278528',6,433),('500:-1.46395296278528',6,30),('500:-1.46395296278528',6,279),('500:-1.46395296278528',6,427),('500:-1.46395296278528',6,194),('500:-1.46395296278528',6,381),('500:-1.46395296278528',6,78),('500:-1.46395296278528',6,61),('500:-1.46395296278528',6,281),('500:-1.46395296278528',6,438),('500:-1.46395296278528',6,39),('500:-1.46395296278528',6,24),('500:-1.46395296278528',6,421),('500:-1.46395296278528',6,376),('500:-1.46395296278528',6,342),('500:-1.46395296278528',6,494),('500:-1.46395296278528',6,183),('500:-1.46395296278528',6,254),('500:-1.46395296278528',6,333),('500:-1.46395296278528',6,312),('500:-1.46395296278528',6,157),('500:-1.46395296278528',6,238),('500:-1.46395296278528',6,56),('500:-1.46395296278528',6,23),('500:-1.46395296278528',6,355),('500:-1.46395296278528',6,221),('500:-1.46395296278528',6,120),('500:-1.46395296278528',6,425),('500:-1.46395296278528',6,315),('500:-1.46395296278528',6,246),('500:-1.46395296278528',6,403),('500:-1.46395296278528',6,139),('500:-1.46395296278528',6,237),('500:-1.46395296278528',6,260),('500:-1.46395296278528',6,2),('500:-1.46395296278528',6,210),('500:-1.46395296278528',6,398),('500:-1.46395296278528',6,191),('500:-1.46395296278528',6,7),('500:-1.46395296278528',6,316),('500:-1.46395296278528',6,154),('500:-1.46395296278528',6,38),('500:-1.46395296278528',6,463),('500:-1.46395296278528',6,105),('500:-1.46395296278528',7,29),('500:-1.46395296278528',7,276),('500:-1.46395296278528',7,329),('500:-1.46395296278528',7,339),('500:-1.46395296278528',7,269),('500:-1.46395296278528',7,163),('500:-1.46395296278528',7,347),('500:-1.46395296278528',7,249),('500:-1.46395296278528',7,246),('500:-1.46395296278528',7,59),('500:-1.46395296278528',7,371),('500:-1.46395296278528',7,341),('500:-1.46395296278528',7,383),('500:-1.46395296278528',7,370),('500:-1.46395296278528',7,97),('500:-1.46395296278528',7,402),('500:-1.46395296278528',7,178),('500:-1.46395296278528',7,466),('500:-1.46395296278528',7,209),('500:-1.46395296278528',7,55),('500:-1.46395296278528',7,139),('500:-1.46395296278528',7,98),('500:-1.46395296278528',7,434),('500:-1.46395296278528',7,124),('500:-1.46395296278528',7,75),('500:-1.46395296278528',7,357),('500:-1.46395296278528',7,231),('500:-1.46395296278528',7,310),('500:-1.46395296278528',7,451),('500:-1.46395296278528',7,185),('500:-1.46395296278528',7,8),('500:-1.46395296278528',7,413),('500:-1.46395296278528',7,323),('500:-1.46395296278528',7,482),('500:-1.46395296278528',7,80),('500:-1.46395296278528',7,355),('500:-1.46395296278528',7,285),('500:-1.46395296278528',7,469),('500:-1.46395296278528',7,408),('500:-1.46395296278528',7,353),('500:-1.46395296278528',7,375),('500:-1.46395296278528',7,368),('500:-1.46395296278528',7,298),('500:-1.46395296278528',7,42),('500:-1.46395296278528',7,360),('500:-1.46395296278528',7,18),('500:-1.46395296278528',7,326),('500:-1.46395296278528',7,325),('500:-1.46395296278528',7,167),('500:-1.46395296278528',7,227),('500:-1.46395296278528',7,118),('500:-1.46395296278528',7,304),('500:-1.46395296278528',7,25),('500:-1.46395296278528',7,380),('500:-1.46395296278528',7,91),('500:-1.46395296278528',7,305),('500:-1.46395296278528',7,48),('500:-1.46395296278528',7,444),('500:-1.46395296278528',7,157),('500:-1.46395296278528',7,319),('500:-1.46395296278528',7,291),('500:-1.46395296278528',7,113),('500:-1.46395296278528',7,122),('500:-1.46395296278528',7,340),('500:-1.46395296278528',7,151),('500:-1.46395296278528',7,126),('500:-1.46395296278528',7,147),('500:-1.46395296278528',7,82),('500:-1.46395296278528',7,153),('500:-1.46395296278528',7,373),('500:-1.46395296278528',7,119),('500:-1.46395296278528',7,79),('500:-1.46395296278528',7,322),('500:-1.46395296278528',7,216),('500:-1.46395296278528',7,382),('500:-1.46395296278528',7,448),('500:-1.46395296278528',7,217),('500:-1.46395296278528',7,198),('500:-1.46395296278528',7,312),('500:-1.46395296278528',7,351),('500:-1.46395296278528',7,133),('500:-1.46395296278528',7,266),('500:-1.46395296278528',7,367),('500:-1.46395296278528',7,342),('500:-1.46395296278528',7,344),('500:-1.46395296278528',7,436),('500:-1.46395296278528',7,410),('500:-1.46395296278528',7,378),('500:-1.46395296278528',7,495),('500:-1.46395296278528',7,455),('500:-1.46395296278528',7,130),('500:-1.46395296278528',7,263),('500:-1.46395296278528',7,255),('500:-1.46395296278528',7,418),('500:-1.46395296278528',7,390),('500:-1.46395296278528',7,194),('500:-1.46395296278528',7,63),('500:-1.46395296278528',7,68),('500:-1.46395296278528',7,463),('500:-1.46395296278528',7,459),('500:-1.46395296278528',8,190),('500:-1.46395296278528',8,487),('500:-1.46395296278528',8,80),('500:-1.46395296278528',8,385),('500:-1.46395296278528',8,231),('500:-1.46395296278528',8,320),('500:-1.46395296278528',8,257),('500:-1.46395296278528',8,347),('500:-1.46395296278528',8,395),('500:-1.46395296278528',8,31),('500:-1.46395296278528',8,86),('500:-1.46395296278528',8,210),('500:-1.46395296278528',8,349),('500:-1.46395296278528',8,90),('500:-1.46395296278528',8,41),('500:-1.46395296278528',8,74),('500:-1.46395296278528',8,455),('500:-1.46395296278528',8,118),('500:-1.46395296278528',8,209),('500:-1.46395296278528',8,424),('500:-1.46395296278528',8,51),('500:-1.46395296278528',8,434),('500:-1.46395296278528',8,132),('500:-1.46395296278528',8,410),('500:-1.46395296278528',8,281),('500:-1.46395296278528',8,199),('500:-1.46395296278528',8,444),('500:-1.46395296278528',8,366),('500:-1.46395296278528',8,142),('500:-1.46395296278528',8,7),('500:-1.46395296278528',8,265),('500:-1.46395296278528',8,237),('500:-1.46395296278528',8,155),('500:-1.46395296278528',8,94),('500:-1.46395296278528',8,373),('500:-1.46395296278528',8,20),('500:-1.46395296278528',8,205),('500:-1.46395296278528',8,292),('500:-1.46395296278528',8,47),('500:-1.46395296278528',8,376),('500:-1.46395296278528',8,166),('500:-1.46395296278528',8,101),('500:-1.46395296278528',8,185),('500:-1.46395296278528',8,375),('500:-1.46395296278528',8,497),('500:-1.46395296278528',8,95),('500:-1.46395296278528',8,141),('500:-1.46395296278528',8,368),('500:-1.46395296278528',8,439),('500:-1.46395296278528',8,224),('500:-1.46395296278528',8,29),('500:-1.46395296278528',8,182),('500:-1.46395296278528',8,461),('500:-1.46395296278528',8,427),('500:-1.46395296278528',8,77),('500:-1.46395296278528',8,89),('500:-1.46395296278528',8,398),('500:-1.46395296278528',8,341),('500:-1.46395296278528',8,114),('500:-1.46395296278528',8,284),('500:-1.46395296278528',8,61),('500:-1.46395296278528',8,219),('500:-1.46395296278528',8,34),('500:-1.46395296278528',8,475),('500:-1.46395296278528',8,28),('500:-1.46395296278528',8,58),('500:-1.46395296278528',8,191),('500:-1.46395296278528',8,147),('500:-1.46395296278528',8,168),('500:-1.46395296278528',8,371),('500:-1.46395296278528',8,453),('500:-1.46395296278528',8,179),('500:-1.46395296278528',8,419),('500:-1.46395296278528',8,280),('500:-1.46395296278528',8,407),('500:-1.46395296278528',8,401),('500:-1.46395296278528',8,436),('500:-1.46395296278528',8,456),('500:-1.46395296278528',8,49),('500:-1.46395296278528',8,333),('500:-1.46395296278528',8,268),('500:-1.46395296278528',8,136),('500:-1.46395296278528',8,211),('500:-1.46395296278528',8,82),('500:-1.46395296278528',8,125),('500:-1.46395296278528',8,207),('500:-1.46395296278528',8,112),('500:-1.46395296278528',8,340),('500:-1.46395296278528',8,418),('500:-1.46395296278528',8,220),('500:-1.46395296278528',8,152),('500:-1.46395296278528',8,396),('500:-1.46395296278528',8,139),('500:-1.46395296278528',8,213),('500:-1.46395296278528',8,123),('500:-1.46395296278528',8,187),('500:-1.46395296278528',8,105),('500:-1.46395296278528',8,302),('500:-1.46395296278528',8,378),('500:-1.46395296278528',8,143),('500:-1.46395296278528',9,365),('500:-1.46395296278528',9,137),('500:-1.46395296278528',9,433),('500:-1.46395296278528',9,426),('500:-1.46395296278528',9,343),('500:-1.46395296278528',9,22),('500:-1.46395296278528',9,381),('500:-1.46395296278528',9,154),('500:-1.46395296278528',9,305),('500:-1.46395296278528',9,419),('500:-1.46395296278528',9,300),('500:-1.46395296278528',9,463),('500:-1.46395296278528',9,352),('500:-1.46395296278528',9,335),('500:-1.46395296278528',9,37),('500:-1.46395296278528',9,369),('500:-1.46395296278528',9,340),('500:-1.46395296278528',9,191),('500:-1.46395296278528',9,95),('500:-1.46395296278528',9,410),('500:-1.46395296278528',9,372),('500:-1.46395296278528',9,387),('500:-1.46395296278528',9,143),('500:-1.46395296278528',9,180),('500:-1.46395296278528',9,60),('500:-1.46395296278528',9,493),('500:-1.46395296278528',9,324),('500:-1.46395296278528',9,170),('500:-1.46395296278528',9,278),('500:-1.46395296278528',9,223),('500:-1.46395296278528',9,3),('500:-1.46395296278528',9,315),('500:-1.46395296278528',9,21),('500:-1.46395296278528',9,475),('500:-1.46395296278528',9,350),('500:-1.46395296278528',9,11),('500:-1.46395296278528',9,496),('500:-1.46395296278528',9,129),('500:-1.46395296278528',9,2),('500:-1.46395296278528',9,364),('500:-1.46395296278528',9,342),('500:-1.46395296278528',9,440),('500:-1.46395296278528',9,320),('500:-1.46395296278528',9,472),('500:-1.46395296278528',9,18),('500:-1.46395296278528',9,392),('500:-1.46395296278528',9,178),('500:-1.46395296278528',9,23),('500:-1.46395296278528',9,374),('500:-1.46395296278528',9,455),('500:-1.46395296278528',9,205),('500:-1.46395296278528',9,375),('500:-1.46395296278528',9,222),('500:-1.46395296278528',9,230),('500:-1.46395296278528',9,458),('500:-1.46395296278528',9,373),('500:-1.46395296278528',9,182),('500:-1.46395296278528',9,280),('500:-1.46395296278528',9,302),('500:-1.46395296278528',9,261),('500:-1.46395296278528',9,82),('500:-1.46395296278528',9,406),('500:-1.46395296278528',9,307),('500:-1.46395296278528',9,438),('500:-1.46395296278528',9,417),('500:-1.46395296278528',9,169),('500:-1.46395296278528',9,42),('500:-1.46395296278528',9,337),('500:-1.46395296278528',9,93),('500:-1.46395296278528',9,356),('500:-1.46395296278528',9,471),('500:-1.46395296278528',9,118),('500:-1.46395296278528',9,396),('500:-1.46395296278528',9,431),('500:-1.46395296278528',9,447),('500:-1.46395296278528',9,107),('500:-1.46395296278528',9,397),('500:-1.46395296278528',9,212),('500:-1.46395296278528',9,444),('500:-1.46395296278528',9,291),('500:-1.46395296278528',9,159),('500:-1.46395296278528',9,142),('500:-1.46395296278528',9,479),('500:-1.46395296278528',9,76),('500:-1.46395296278528',9,32),('500:-1.46395296278528',9,78),('500:-1.46395296278528',9,43),('500:-1.46395296278528',9,441),('500:-1.46395296278528',9,281),('500:-1.46395296278528',9,155),('500:-1.46395296278528',9,5),('500:-1.46395296278528',9,394),('500:-1.46395296278528',9,285),('500:-1.46395296278528',9,349),('500:-1.46395296278528',9,470),('500:-1.46395296278528',9,197),('500:-1.46395296278528',9,449),('500:-1.46395296278528',9,74),('500:-1.46395296278528',9,190),('500:-1.46395296278528',9,112),('500:1.08235486072832',0,498),('500:1.08235486072832',0,73),('500:1.08235486072832',0,464),('500:1.08235486072832',0,7),('500:1.08235486072832',0,327),('500:1.08235486072832',0,415),('500:1.08235486072832',0,344),('500:1.08235486072832',0,6),('500:1.08235486072832',0,461),('500:1.08235486072832',0,483),('500:1.08235486072832',0,365),('500:1.08235486072832',0,318),('500:1.08235486072832',0,232),('500:1.08235486072832',0,145),('500:1.08235486072832',0,331),('500:1.08235486072832',0,423),('500:1.08235486072832',0,229),('500:1.08235486072832',0,214),('500:1.08235486072832',0,81),('500:1.08235486072832',0,404),('500:1.08235486072832',0,353),('500:1.08235486072832',0,435),('500:1.08235486072832',0,190),('500:1.08235486072832',0,478),('500:1.08235486072832',0,334),('500:1.08235486072832',0,65),('500:1.08235486072832',0,29),('500:1.08235486072832',0,197),('500:1.08235486072832',0,387),('500:1.08235486072832',0,319),('500:1.08235486072832',0,491),('500:1.08235486072832',0,57),('500:1.08235486072832',0,323),('500:1.08235486072832',0,320),('500:1.08235486072832',0,70),('500:1.08235486072832',0,36),('500:1.08235486072832',0,266),('500:1.08235486072832',0,84),('500:1.08235486072832',0,261),('500:1.08235486072832',0,316),('500:1.08235486072832',0,85),('500:1.08235486072832',0,364),('500:1.08235486072832',0,270),('500:1.08235486072832',0,290),('500:1.08235486072832',0,269),('500:1.08235486072832',0,240),('500:1.08235486072832',0,450),('500:1.08235486072832',0,345),('500:1.08235486072832',0,88),('500:1.08235486072832',0,108),('500:1.08235486072832',0,184),('500:1.08235486072832',0,35),('500:1.08235486072832',0,51),('500:1.08235486072832',0,407),('500:1.08235486072832',0,391),('500:1.08235486072832',0,397),('500:1.08235486072832',0,362),('500:1.08235486072832',0,268),('500:1.08235486072832',0,135),('500:1.08235486072832',0,493),('500:1.08235486072832',0,27),('500:1.08235486072832',0,87),('500:1.08235486072832',0,56),('500:1.08235486072832',0,388),('500:1.08235486072832',0,337),('500:1.08235486072832',0,310),('500:1.08235486072832',0,303),('500:1.08235486072832',0,148),('500:1.08235486072832',0,137),('500:1.08235486072832',0,272),('500:1.08235486072832',0,211),('500:1.08235486072832',0,412),('500:1.08235486072832',0,32),('500:1.08235486072832',0,110),('500:1.08235486072832',0,374),('500:1.08235486072832',0,434),('500:1.08235486072832',0,244),('500:1.08235486072832',0,370),('500:1.08235486072832',0,297),('500:1.08235486072832',0,177),('500:1.08235486072832',0,420),('500:1.08235486072832',0,103),('500:1.08235486072832',0,113),('500:1.08235486072832',0,220),('500:1.08235486072832',0,130),('500:1.08235486072832',0,418),('500:1.08235486072832',0,248),('500:1.08235486072832',0,380),('500:1.08235486072832',0,472),('500:1.08235486072832',0,292),('500:1.08235486072832',0,489),('500:1.08235486072832',0,209),('500:1.08235486072832',0,399),('500:1.08235486072832',0,490),('500:1.08235486072832',0,99),('500:1.08235486072832',0,392),('500:1.08235486072832',0,257),('500:1.08235486072832',0,340),('500:1.08235486072832',0,322),('500:1.08235486072832',0,315),('500:1.08235486072832',1,195),('500:1.08235486072832',1,243),('500:1.08235486072832',1,472),('500:1.08235486072832',1,27),('500:1.08235486072832',1,407),('500:1.08235486072832',1,203),('500:1.08235486072832',1,220),('500:1.08235486072832',1,430),('500:1.08235486072832',1,124),('500:1.08235486072832',1,285),('500:1.08235486072832',1,268),('500:1.08235486072832',1,467),('500:1.08235486072832',1,388),('500:1.08235486072832',1,490),('500:1.08235486072832',1,64),('500:1.08235486072832',1,253),('500:1.08235486072832',1,441),('500:1.08235486072832',1,338),('500:1.08235486072832',1,370),('500:1.08235486072832',1,22),('500:1.08235486072832',1,43),('500:1.08235486072832',1,217),('500:1.08235486072832',1,34),('500:1.08235486072832',1,30),('500:1.08235486072832',1,475),('500:1.08235486072832',1,465),('500:1.08235486072832',1,4),('500:1.08235486072832',1,294),('500:1.08235486072832',1,222),('500:1.08235486072832',1,271),('500:1.08235486072832',1,187),('500:1.08235486072832',1,393),('500:1.08235486072832',1,104),('500:1.08235486072832',1,38),('500:1.08235486072832',1,423),('500:1.08235486072832',1,258),('500:1.08235486072832',1,213),('500:1.08235486072832',1,436),('500:1.08235486072832',1,329),('500:1.08235486072832',1,51),('500:1.08235486072832',1,477),('500:1.08235486072832',1,209),('500:1.08235486072832',1,8),('500:1.08235486072832',1,80),('500:1.08235486072832',1,363),('500:1.08235486072832',1,172),('500:1.08235486072832',1,165),('500:1.08235486072832',1,314),('500:1.08235486072832',1,3),('500:1.08235486072832',1,59),('500:1.08235486072832',1,396),('500:1.08235486072832',1,161),('500:1.08235486072832',1,218),('500:1.08235486072832',1,134),('500:1.08235486072832',1,474),('500:1.08235486072832',1,42),('500:1.08235486072832',1,181),('500:1.08235486072832',1,283),('500:1.08235486072832',1,448),('500:1.08235486072832',1,2),('500:1.08235486072832',1,402),('500:1.08235486072832',1,460),('500:1.08235486072832',1,138),('500:1.08235486072832',1,10),('500:1.08235486072832',1,411),('500:1.08235486072832',1,171),('500:1.08235486072832',1,16),('500:1.08235486072832',1,49),('500:1.08235486072832',1,261),('500:1.08235486072832',1,210),('500:1.08235486072832',1,327),('500:1.08235486072832',1,455),('500:1.08235486072832',1,434),('500:1.08235486072832',1,386),('500:1.08235486072832',1,400),('500:1.08235486072832',1,61),('500:1.08235486072832',1,145),('500:1.08235486072832',1,207),('500:1.08235486072832',1,235),('500:1.08235486072832',1,17),('500:1.08235486072832',1,300),('500:1.08235486072832',1,153),('500:1.08235486072832',1,378),('500:1.08235486072832',1,142),('500:1.08235486072832',1,73),('500:1.08235486072832',1,100),('500:1.08235486072832',1,387),('500:1.08235486072832',1,196),('500:1.08235486072832',1,31),('500:1.08235486072832',1,5),('500:1.08235486072832',1,105),('500:1.08235486072832',1,418),('500:1.08235486072832',1,373),('500:1.08235486072832',1,245),('500:1.08235486072832',1,185),('500:1.08235486072832',1,23),('500:1.08235486072832',1,29),('500:1.08235486072832',1,194),('500:1.08235486072832',1,498),('500:1.08235486072832',1,295),('500:1.08235486072832',2,112),('500:1.08235486072832',2,350),('500:1.08235486072832',2,145),('500:1.08235486072832',2,243),('500:1.08235486072832',2,172),('500:1.08235486072832',2,460),('500:1.08235486072832',2,109),('500:1.08235486072832',2,128),('500:1.08235486072832',2,100),('500:1.08235486072832',2,407),('500:1.08235486072832',2,188),('500:1.08235486072832',2,325),('500:1.08235486072832',2,20),('500:1.08235486072832',2,49),('500:1.08235486072832',2,450),('500:1.08235486072832',2,117),('500:1.08235486072832',2,165),('500:1.08235486072832',2,358),('500:1.08235486072832',2,459),('500:1.08235486072832',2,340),('500:1.08235486072832',2,465),('500:1.08235486072832',2,479),('500:1.08235486072832',2,452),('500:1.08235486072832',2,371),('500:1.08235486072832',2,266),('500:1.08235486072832',2,34),('500:1.08235486072832',2,352),('500:1.08235486072832',2,474),('500:1.08235486072832',2,9),('500:1.08235486072832',2,410),('500:1.08235486072832',2,37),('500:1.08235486072832',2,434),('500:1.08235486072832',2,233),('500:1.08235486072832',2,209),('500:1.08235486072832',2,384),('500:1.08235486072832',2,1),('500:1.08235486072832',2,436),('500:1.08235486072832',2,405),('500:1.08235486072832',2,41),('500:1.08235486072832',2,256),('500:1.08235486072832',2,239),('500:1.08235486072832',2,223),('500:1.08235486072832',2,399),('500:1.08235486072832',2,10),('500:1.08235486072832',2,149),('500:1.08235486072832',2,182),('500:1.08235486072832',2,283),('500:1.08235486072832',2,293),('500:1.08235486072832',2,449),('500:1.08235486072832',2,327),('500:1.08235486072832',2,268),('500:1.08235486072832',2,389),('500:1.08235486072832',2,409),('500:1.08235486072832',2,476),('500:1.08235486072832',2,290),('500:1.08235486072832',2,396),('500:1.08235486072832',2,29),('500:1.08235486072832',2,417),('500:1.08235486072832',2,186),('500:1.08235486072832',2,23),('500:1.08235486072832',2,19),('500:1.08235486072832',2,312),('500:1.08235486072832',2,17),('500:1.08235486072832',2,418),('500:1.08235486072832',2,83),('500:1.08235486072832',2,457),('500:1.08235486072832',2,462),('500:1.08235486072832',2,150),('500:1.08235486072832',2,259),('500:1.08235486072832',2,68),('500:1.08235486072832',2,221),('500:1.08235486072832',2,276),('500:1.08235486072832',2,206),('500:1.08235486072832',2,391),('500:1.08235486072832',2,219),('500:1.08235486072832',2,453),('500:1.08235486072832',2,442),('500:1.08235486072832',2,307),('500:1.08235486072832',2,197),('500:1.08235486072832',2,440),('500:1.08235486072832',2,195),('500:1.08235486072832',2,181),('500:1.08235486072832',2,468),('500:1.08235486072832',2,381),('500:1.08235486072832',2,53),('500:1.08235486072832',2,222),('500:1.08235486072832',2,166),('500:1.08235486072832',2,431),('500:1.08235486072832',2,62),('500:1.08235486072832',2,382),('500:1.08235486072832',2,77),('500:1.08235486072832',2,331),('500:1.08235486072832',2,414),('500:1.08235486072832',2,5),('500:1.08235486072832',2,345),('500:1.08235486072832',2,193),('500:1.08235486072832',2,202),('500:1.08235486072832',2,33),('500:1.08235486072832',2,71),('500:1.08235486072832',2,245),('500:1.08235486072832',3,130),('500:1.08235486072832',3,343),('500:1.08235486072832',3,474),('500:1.08235486072832',3,231),('500:1.08235486072832',3,482),('500:1.08235486072832',3,315),('500:1.08235486072832',3,125),('500:1.08235486072832',3,283),('500:1.08235486072832',3,428),('500:1.08235486072832',3,377),('500:1.08235486072832',3,114),('500:1.08235486072832',3,486),('500:1.08235486072832',3,237),('500:1.08235486072832',3,490),('500:1.08235486072832',3,82),('500:1.08235486072832',3,118),('500:1.08235486072832',3,33),('500:1.08235486072832',3,201),('500:1.08235486072832',3,406),('500:1.08235486072832',3,207),('500:1.08235486072832',3,447),('500:1.08235486072832',3,301),('500:1.08235486072832',3,134),('500:1.08235486072832',3,421),('500:1.08235486072832',3,37),('500:1.08235486072832',3,437),('500:1.08235486072832',3,158),('500:1.08235486072832',3,192),('500:1.08235486072832',3,98),('500:1.08235486072832',3,263),('500:1.08235486072832',3,454),('500:1.08235486072832',3,180),('500:1.08235486072832',3,204),('500:1.08235486072832',3,463),('500:1.08235486072832',3,32),('500:1.08235486072832',3,104),('500:1.08235486072832',3,363),('500:1.08235486072832',3,149),('500:1.08235486072832',3,25),('500:1.08235486072832',3,61),('500:1.08235486072832',3,112),('500:1.08235486072832',3,491),('500:1.08235486072832',3,41),('500:1.08235486072832',3,376),('500:1.08235486072832',3,44),('500:1.08235486072832',3,126),('500:1.08235486072832',3,438),('500:1.08235486072832',3,143),('500:1.08235486072832',3,249),('500:1.08235486072832',3,140),('500:1.08235486072832',3,483),('500:1.08235486072832',3,419),('500:1.08235486072832',3,221),('500:1.08235486072832',3,440),('500:1.08235486072832',3,76),('500:1.08235486072832',3,203),('500:1.08235486072832',3,439),('500:1.08235486072832',3,239),('500:1.08235486072832',3,493),('500:1.08235486072832',3,174),('500:1.08235486072832',3,326),('500:1.08235486072832',3,329),('500:1.08235486072832',3,468),('500:1.08235486072832',3,390),('500:1.08235486072832',3,194),('500:1.08235486072832',3,448),('500:1.08235486072832',3,121),('500:1.08235486072832',3,240),('500:1.08235486072832',3,361),('500:1.08235486072832',3,214),('500:1.08235486072832',3,391),('500:1.08235486072832',3,368),('500:1.08235486072832',3,50),('500:1.08235486072832',3,210),('500:1.08235486072832',3,85),('500:1.08235486072832',3,338),('500:1.08235486072832',3,250),('500:1.08235486072832',3,51),('500:1.08235486072832',3,410),('500:1.08235486072832',3,350),('500:1.08235486072832',3,432),('500:1.08235486072832',3,404),('500:1.08235486072832',3,80),('500:1.08235486072832',3,382),('500:1.08235486072832',3,320),('500:1.08235486072832',3,341),('500:1.08235486072832',3,469),('500:1.08235486072832',3,172),('500:1.08235486072832',3,460),('500:1.08235486072832',3,27),('500:1.08235486072832',3,193),('500:1.08235486072832',3,430),('500:1.08235486072832',3,230),('500:1.08235486072832',3,479),('500:1.08235486072832',3,106),('500:1.08235486072832',3,182),('500:1.08235486072832',3,477),('500:1.08235486072832',3,403),('500:1.08235486072832',3,219),('500:1.08235486072832',3,88),('500:1.08235486072832',4,250),('500:1.08235486072832',4,280),('500:1.08235486072832',4,51),('500:1.08235486072832',4,394),('500:1.08235486072832',4,249),('500:1.08235486072832',4,496),('500:1.08235486072832',4,81),('500:1.08235486072832',4,395),('500:1.08235486072832',4,412),('500:1.08235486072832',4,288),('500:1.08235486072832',4,235),('500:1.08235486072832',4,6),('500:1.08235486072832',4,384),('500:1.08235486072832',4,434),('500:1.08235486072832',4,368),('500:1.08235486072832',4,350),('500:1.08235486072832',4,276),('500:1.08235486072832',4,470),('500:1.08235486072832',4,89),('500:1.08235486072832',4,473),('500:1.08235486072832',4,262),('500:1.08235486072832',4,139),('500:1.08235486072832',4,190),('500:1.08235486072832',4,61),('500:1.08235486072832',4,92),('500:1.08235486072832',4,114),('500:1.08235486072832',4,214),('500:1.08235486072832',4,19),('500:1.08235486072832',4,274),('500:1.08235486072832',4,445),('500:1.08235486072832',4,346),('500:1.08235486072832',4,107),('500:1.08235486072832',4,257),('500:1.08235486072832',4,373),('500:1.08235486072832',4,218),('500:1.08235486072832',4,403),('500:1.08235486072832',4,221),('500:1.08235486072832',4,333),('500:1.08235486072832',4,396),('500:1.08235486072832',4,163),('500:1.08235486072832',4,474),('500:1.08235486072832',4,165),('500:1.08235486072832',4,231),('500:1.08235486072832',4,341),('500:1.08235486072832',4,290),('500:1.08235486072832',4,428),('500:1.08235486072832',4,183),('500:1.08235486072832',4,424),('500:1.08235486072832',4,269),('500:1.08235486072832',4,131),('500:1.08235486072832',4,408),('500:1.08235486072832',4,471),('500:1.08235486072832',4,453),('500:1.08235486072832',4,268),('500:1.08235486072832',4,1),('500:1.08235486072832',4,281),('500:1.08235486072832',4,337),('500:1.08235486072832',4,271),('500:1.08235486072832',4,86),('500:1.08235486072832',4,133),('500:1.08235486072832',4,234),('500:1.08235486072832',4,402),('500:1.08235486072832',4,138),('500:1.08235486072832',4,241),('500:1.08235486072832',4,136),('500:1.08235486072832',4,345),('500:1.08235486072832',4,353),('500:1.08235486072832',4,100),('500:1.08235486072832',4,343),('500:1.08235486072832',4,13),('500:1.08235486072832',4,443),('500:1.08235486072832',4,366),('500:1.08235486072832',4,391),('500:1.08235486072832',4,299),('500:1.08235486072832',4,123),('500:1.08235486072832',4,118),('500:1.08235486072832',4,18),('500:1.08235486072832',4,377),('500:1.08235486072832',4,462),('500:1.08235486072832',4,422),('500:1.08235486072832',4,35),('500:1.08235486072832',4,459),('500:1.08235486072832',4,480),('500:1.08235486072832',4,406),('500:1.08235486072832',4,124),('500:1.08235486072832',4,191),('500:1.08235486072832',4,170),('500:1.08235486072832',4,116),('500:1.08235486072832',4,2),('500:1.08235486072832',4,239),('500:1.08235486072832',4,419),('500:1.08235486072832',4,137),('500:1.08235486072832',4,468),('500:1.08235486072832',4,28),('500:1.08235486072832',4,317),('500:1.08235486072832',4,332),('500:1.08235486072832',4,164),('500:1.08235486072832',4,315),('500:1.08235486072832',4,40),('500:1.08235486072832',4,49),('500:1.08235486072832',5,419),('500:1.08235486072832',5,379),('500:1.08235486072832',5,266),('500:1.08235486072832',5,451),('500:1.08235486072832',5,133),('500:1.08235486072832',5,157),('500:1.08235486072832',5,182),('500:1.08235486072832',5,359),('500:1.08235486072832',5,121),('500:1.08235486072832',5,46),('500:1.08235486072832',5,316),('500:1.08235486072832',5,126),('500:1.08235486072832',5,454),('500:1.08235486072832',5,211),('500:1.08235486072832',5,362),('500:1.08235486072832',5,361),('500:1.08235486072832',5,436),('500:1.08235486072832',5,464),('500:1.08235486072832',5,337),('500:1.08235486072832',5,404),('500:1.08235486072832',5,219),('500:1.08235486072832',5,32),('500:1.08235486072832',5,36),('500:1.08235486072832',5,200),('500:1.08235486072832',5,431),('500:1.08235486072832',5,455),('500:1.08235486072832',5,208),('500:1.08235486072832',5,474),('500:1.08235486072832',5,103),('500:1.08235486072832',5,468),('500:1.08235486072832',5,386),('500:1.08235486072832',5,268),('500:1.08235486072832',5,27),('500:1.08235486072832',5,396),('500:1.08235486072832',5,113),('500:1.08235486072832',5,367),('500:1.08235486072832',5,499),('500:1.08235486072832',5,487),('500:1.08235486072832',5,149),('500:1.08235486072832',5,408),('500:1.08235486072832',5,30),('500:1.08235486072832',5,250),('500:1.08235486072832',5,387),('500:1.08235486072832',5,21),('500:1.08235486072832',5,92),('500:1.08235486072832',5,19),('500:1.08235486072832',5,279),('500:1.08235486072832',5,433),('500:1.08235486072832',5,480),('500:1.08235486072832',5,187),('500:1.08235486072832',5,315),('500:1.08235486072832',5,203),('500:1.08235486072832',5,497),('500:1.08235486072832',5,22),('500:1.08235486072832',5,235),('500:1.08235486072832',5,152),('500:1.08235486072832',5,54),('500:1.08235486072832',5,209),('500:1.08235486072832',5,251),('500:1.08235486072832',5,312),('500:1.08235486072832',5,63),('500:1.08235486072832',5,263),('500:1.08235486072832',5,241),('500:1.08235486072832',5,472),('500:1.08235486072832',5,493),('500:1.08235486072832',5,406),('500:1.08235486072832',5,127),('500:1.08235486072832',5,111),('500:1.08235486072832',5,324),('500:1.08235486072832',5,6),('500:1.08235486072832',5,435),('500:1.08235486072832',5,309),('500:1.08235486072832',5,244),('500:1.08235486072832',5,339),('500:1.08235486072832',5,206),('500:1.08235486072832',5,381),('500:1.08235486072832',5,255),('500:1.08235486072832',5,131),('500:1.08235486072832',5,190),('500:1.08235486072832',5,28),('500:1.08235486072832',5,95),('500:1.08235486072832',5,257),('500:1.08235486072832',5,35),('500:1.08235486072832',5,156),('500:1.08235486072832',5,297),('500:1.08235486072832',5,75),('500:1.08235486072832',5,65),('500:1.08235486072832',5,395),('500:1.08235486072832',5,488),('500:1.08235486072832',5,86),('500:1.08235486072832',5,492),('500:1.08235486072832',5,173),('500:1.08235486072832',5,161),('500:1.08235486072832',5,282),('500:1.08235486072832',5,139),('500:1.08235486072832',5,225),('500:1.08235486072832',5,234),('500:1.08235486072832',5,150),('500:1.08235486072832',5,440),('500:1.08235486072832',5,346),('500:1.08235486072832',6,350),('500:1.08235486072832',6,403),('500:1.08235486072832',6,260),('500:1.08235486072832',6,252),('500:1.08235486072832',6,345),('500:1.08235486072832',6,371),('500:1.08235486072832',6,145),('500:1.08235486072832',6,443),('500:1.08235486072832',6,81),('500:1.08235486072832',6,186),('500:1.08235486072832',6,351),('500:1.08235486072832',6,197),('500:1.08235486072832',6,430),('500:1.08235486072832',6,105),('500:1.08235486072832',6,465),('500:1.08235486072832',6,40),('500:1.08235486072832',6,156),('500:1.08235486072832',6,8),('500:1.08235486072832',6,271),('500:1.08235486072832',6,213),('500:1.08235486072832',6,268),('500:1.08235486072832',6,121),('500:1.08235486072832',6,118),('500:1.08235486072832',6,214),('500:1.08235486072832',6,219),('500:1.08235486072832',6,165),('500:1.08235486072832',6,192),('500:1.08235486072832',6,450),('500:1.08235486072832',6,303),('500:1.08235486072832',6,199),('500:1.08235486072832',6,308),('500:1.08235486072832',6,435),('500:1.08235486072832',6,99),('500:1.08235486072832',6,315),('500:1.08235486072832',6,111),('500:1.08235486072832',6,380),('500:1.08235486072832',6,82),('500:1.08235486072832',6,381),('500:1.08235486072832',6,425),('500:1.08235486072832',6,11),('500:1.08235486072832',6,130),('500:1.08235486072832',6,123),('500:1.08235486072832',6,146),('500:1.08235486072832',6,13),('500:1.08235486072832',6,399),('500:1.08235486072832',6,170),('500:1.08235486072832',6,339),('500:1.08235486072832',6,37),('500:1.08235486072832',6,238),('500:1.08235486072832',6,327),('500:1.08235486072832',6,472),('500:1.08235486072832',6,155),('500:1.08235486072832',6,29),('500:1.08235486072832',6,166),('500:1.08235486072832',6,101),('500:1.08235486072832',6,277),('500:1.08235486072832',6,421),('500:1.08235486072832',6,304),('500:1.08235486072832',6,274),('500:1.08235486072832',6,264),('500:1.08235486072832',6,0),('500:1.08235486072832',6,266),('500:1.08235486072832',6,143),('500:1.08235486072832',6,475),('500:1.08235486072832',6,72),('500:1.08235486072832',6,408),('500:1.08235486072832',6,270),('500:1.08235486072832',6,207),('500:1.08235486072832',6,322),('500:1.08235486072832',6,429),('500:1.08235486072832',6,333),('500:1.08235486072832',6,201),('500:1.08235486072832',6,287),('500:1.08235486072832',6,386),('500:1.08235486072832',6,273),('500:1.08235486072832',6,410),('500:1.08235486072832',6,88),('500:1.08235486072832',6,432),('500:1.08235486072832',6,167),('500:1.08235486072832',6,438),('500:1.08235486072832',6,296),('500:1.08235486072832',6,480),('500:1.08235486072832',6,189),('500:1.08235486072832',6,126),('500:1.08235486072832',6,307),('500:1.08235486072832',6,265),('500:1.08235486072832',6,103),('500:1.08235486072832',6,369),('500:1.08235486072832',6,242),('500:1.08235486072832',6,217),('500:1.08235486072832',6,232),('500:1.08235486072832',6,4),('500:1.08235486072832',6,387),('500:1.08235486072832',6,437),('500:1.08235486072832',6,162),('500:1.08235486072832',6,453),('500:1.08235486072832',6,28),('500:1.08235486072832',6,5),('500:1.08235486072832',6,404),('500:1.08235486072832',6,388),('500:1.08235486072832',7,340),('500:1.08235486072832',7,344),('500:1.08235486072832',7,319),('500:1.08235486072832',7,467),('500:1.08235486072832',7,17),('500:1.08235486072832',7,209),('500:1.08235486072832',7,0),('500:1.08235486072832',7,88),('500:1.08235486072832',7,49),('500:1.08235486072832',7,86),('500:1.08235486072832',7,269),('500:1.08235486072832',7,418),('500:1.08235486072832',7,137),('500:1.08235486072832',7,479),('500:1.08235486072832',7,145),('500:1.08235486072832',7,156),('500:1.08235486072832',7,425),('500:1.08235486072832',7,310),('500:1.08235486072832',7,108),('500:1.08235486072832',7,229),('500:1.08235486072832',7,445),('500:1.08235486072832',7,184),('500:1.08235486072832',7,186),('500:1.08235486072832',7,276),('500:1.08235486072832',7,438),('500:1.08235486072832',7,415),('500:1.08235486072832',7,468),('500:1.08235486072832',7,353),('500:1.08235486072832',7,334),('500:1.08235486072832',7,60),('500:1.08235486072832',7,299),('500:1.08235486072832',7,434),('500:1.08235486072832',7,185),('500:1.08235486072832',7,87),('500:1.08235486072832',7,270),('500:1.08235486072832',7,59),('500:1.08235486072832',7,138),('500:1.08235486072832',7,194),('500:1.08235486072832',7,408),('500:1.08235486072832',7,189),('500:1.08235486072832',7,70),('500:1.08235486072832',7,332),('500:1.08235486072832',7,374),('500:1.08235486072832',7,471),('500:1.08235486072832',7,103),('500:1.08235486072832',7,248),('500:1.08235486072832',7,459),('500:1.08235486072832',7,330),('500:1.08235486072832',7,385),('500:1.08235486072832',7,381),('500:1.08235486072832',7,97),('500:1.08235486072832',7,327),('500:1.08235486072832',7,247),('500:1.08235486072832',7,261),('500:1.08235486072832',7,280),('500:1.08235486072832',7,457),('500:1.08235486072832',7,112),('500:1.08235486072832',7,167),('500:1.08235486072832',7,164),('500:1.08235486072832',7,391),('500:1.08235486072832',7,375),('500:1.08235486072832',7,307),('500:1.08235486072832',7,195),('500:1.08235486072832',7,171),('500:1.08235486072832',7,218),('500:1.08235486072832',7,78),('500:1.08235486072832',7,461),('500:1.08235486072832',7,6),('500:1.08235486072832',7,293),('500:1.08235486072832',7,90),('500:1.08235486072832',7,474),('500:1.08235486072832',7,147),('500:1.08235486072832',7,357),('500:1.08235486072832',7,442),('500:1.08235486072832',7,191),('500:1.08235486072832',7,420),('500:1.08235486072832',7,317),('500:1.08235486072832',7,427),('500:1.08235486072832',7,146),('500:1.08235486072832',7,114),('500:1.08235486072832',7,366),('500:1.08235486072832',7,117),('500:1.08235486072832',7,341),('500:1.08235486072832',7,439),('500:1.08235486072832',7,482),('500:1.08235486072832',7,407),('500:1.08235486072832',7,363),('500:1.08235486072832',7,152),('500:1.08235486072832',7,290),('500:1.08235486072832',7,292),('500:1.08235486072832',7,214),('500:1.08235486072832',7,429),('500:1.08235486072832',7,13),('500:1.08235486072832',7,339),('500:1.08235486072832',7,397),('500:1.08235486072832',7,150),('500:1.08235486072832',7,498),('500:1.08235486072832',7,435),('500:1.08235486072832',7,413),('500:1.08235486072832',7,373),('500:1.08235486072832',8,497),('500:1.08235486072832',8,39),('500:1.08235486072832',8,380),('500:1.08235486072832',8,196),('500:1.08235486072832',8,161),('500:1.08235486072832',8,271),('500:1.08235486072832',8,222),('500:1.08235486072832',8,173),('500:1.08235486072832',8,138),('500:1.08235486072832',8,44),('500:1.08235486072832',8,35),('500:1.08235486072832',8,326),('500:1.08235486072832',8,151),('500:1.08235486072832',8,111),('500:1.08235486072832',8,338),('500:1.08235486072832',8,319),('500:1.08235486072832',8,321),('500:1.08235486072832',8,315),('500:1.08235486072832',8,304),('500:1.08235486072832',8,431),('500:1.08235486072832',8,277),('500:1.08235486072832',8,3),('500:1.08235486072832',8,253),('500:1.08235486072832',8,207),('500:1.08235486072832',8,260),('500:1.08235486072832',8,58),('500:1.08235486072832',8,82),('500:1.08235486072832',8,14),('500:1.08235486072832',8,140),('500:1.08235486072832',8,314),('500:1.08235486072832',8,347),('500:1.08235486072832',8,362),('500:1.08235486072832',8,301),('500:1.08235486072832',8,183),('500:1.08235486072832',8,114),('500:1.08235486072832',8,262),('500:1.08235486072832',8,152),('500:1.08235486072832',8,255),('500:1.08235486072832',8,311),('500:1.08235486072832',8,462),('500:1.08235486072832',8,489),('500:1.08235486072832',8,403),('500:1.08235486072832',8,406),('500:1.08235486072832',8,100),('500:1.08235486072832',8,291),('500:1.08235486072832',8,146),('500:1.08235486072832',8,224),('500:1.08235486072832',8,25),('500:1.08235486072832',8,109),('500:1.08235486072832',8,31),('500:1.08235486072832',8,296),('500:1.08235486072832',8,128),('500:1.08235486072832',8,463),('500:1.08235486072832',8,379),('500:1.08235486072832',8,126),('500:1.08235486072832',8,179),('500:1.08235486072832',8,167),('500:1.08235486072832',8,147),('500:1.08235486072832',8,499),('500:1.08235486072832',8,217),('500:1.08235486072832',8,409),('500:1.08235486072832',8,37),('500:1.08235486072832',8,276),('500:1.08235486072832',8,405),('500:1.08235486072832',8,433),('500:1.08235486072832',8,130),('500:1.08235486072832',8,144),('500:1.08235486072832',8,234),('500:1.08235486072832',8,367),('500:1.08235486072832',8,294),('500:1.08235486072832',8,494),('500:1.08235486072832',8,437),('500:1.08235486072832',8,176),('500:1.08235486072832',8,10),('500:1.08235486072832',8,392),('500:1.08235486072832',8,418),('500:1.08235486072832',8,117),('500:1.08235486072832',8,53),('500:1.08235486072832',8,324),('500:1.08235486072832',8,178),('500:1.08235486072832',8,242),('500:1.08235486072832',8,73),('500:1.08235486072832',8,254),('500:1.08235486072832',8,159),('500:1.08235486072832',8,132),('500:1.08235486072832',8,125),('500:1.08235486072832',8,353),('500:1.08235486072832',8,470),('500:1.08235486072832',8,272),('500:1.08235486072832',8,328),('500:1.08235486072832',8,323),('500:1.08235486072832',8,261),('500:1.08235486072832',8,376),('500:1.08235486072832',8,80),('500:1.08235486072832',8,90),('500:1.08235486072832',8,225),('500:1.08235486072832',8,121),('500:1.08235486072832',8,303),('500:1.08235486072832',8,78),('500:1.08235486072832',8,69),('500:1.08235486072832',9,49),('500:1.08235486072832',9,489),('500:1.08235486072832',9,205),('500:1.08235486072832',9,256),('500:1.08235486072832',9,319),('500:1.08235486072832',9,259),('500:1.08235486072832',9,302),('500:1.08235486072832',9,186),('500:1.08235486072832',9,156),('500:1.08235486072832',9,270),('500:1.08235486072832',9,492),('500:1.08235486072832',9,294),('500:1.08235486072832',9,7),('500:1.08235486072832',9,274),('500:1.08235486072832',9,359),('500:1.08235486072832',9,414),('500:1.08235486072832',9,275),('500:1.08235486072832',9,267),('500:1.08235486072832',9,75),('500:1.08235486072832',9,325),('500:1.08235486072832',9,218),('500:1.08235486072832',9,434),('500:1.08235486072832',9,15),('500:1.08235486072832',9,326),('500:1.08235486072832',9,162),('500:1.08235486072832',9,408),('500:1.08235486072832',9,168),('500:1.08235486072832',9,303),('500:1.08235486072832',9,438),('500:1.08235486072832',9,380),('500:1.08235486072832',9,339),('500:1.08235486072832',9,485),('500:1.08235486072832',9,331),('500:1.08235486072832',9,445),('500:1.08235486072832',9,206),('500:1.08235486072832',9,431),('500:1.08235486072832',9,199),('500:1.08235486072832',9,265),('500:1.08235486072832',9,37),('500:1.08235486072832',9,178),('500:1.08235486072832',9,53),('500:1.08235486072832',9,140),('500:1.08235486072832',9,151),('500:1.08235486072832',9,58),('500:1.08235486072832',9,427),('500:1.08235486072832',9,133),('500:1.08235486072832',9,344),('500:1.08235486072832',9,95),('500:1.08235486072832',9,471),('500:1.08235486072832',9,457),('500:1.08235486072832',9,246),('500:1.08235486072832',9,403),('500:1.08235486072832',9,301),('500:1.08235486072832',9,328),('500:1.08235486072832',9,453),('500:1.08235486072832',9,203),('500:1.08235486072832',9,399),('500:1.08235486072832',9,2),('500:1.08235486072832',9,149),('500:1.08235486072832',9,458),('500:1.08235486072832',9,462),('500:1.08235486072832',9,306),('500:1.08235486072832',9,376),('500:1.08235486072832',9,107),('500:1.08235486072832',9,377),('500:1.08235486072832',9,342),('500:1.08235486072832',9,20),('500:1.08235486072832',9,6),('500:1.08235486072832',9,340),('500:1.08235486072832',9,394),('500:1.08235486072832',9,283),('500:1.08235486072832',9,490),('500:1.08235486072832',9,24),('500:1.08235486072832',9,161),('500:1.08235486072832',9,305),('500:1.08235486072832',9,160),('500:1.08235486072832',9,280),('500:1.08235486072832',9,79),('500:1.08235486072832',9,424),('500:1.08235486072832',9,435),('500:1.08235486072832',9,181),('500:1.08235486072832',9,260),('500:1.08235486072832',9,292),('500:1.08235486072832',9,311),('500:1.08235486072832',9,248),('500:1.08235486072832',9,129),('500:1.08235486072832',9,245),('500:1.08235486072832',9,172),('500:1.08235486072832',9,225),('500:1.08235486072832',9,69),('500:1.08235486072832',9,297),('500:1.08235486072832',9,479),('500:1.08235486072832',9,239),('500:1.08235486072832',9,386),('500:1.08235486072832',9,296),('500:1.08235486072832',9,68),('500:1.08235486072832',9,365),('500:1.08235486072832',9,333),('500:1.08235486072832',9,442),('500:1.08235486072832',9,263),('2000:1.53081411098240',0,1204),('2000:1.53081411098240',0,1835),('2000:1.53081411098240',0,925),('2000:1.53081411098240',0,1613),('2000:1.53081411098240',0,1422),('2000:1.53081411098240',0,1590),('2000:1.53081411098240',0,1182),('2000:1.53081411098240',0,121),('2000:1.53081411098240',0,462),('2000:1.53081411098240',0,1183),('2000:1.53081411098240',0,1407),('2000:1.53081411098240',0,1157),('2000:1.53081411098240',0,242),('2000:1.53081411098240',0,789),('2000:1.53081411098240',0,76),('2000:1.53081411098240',0,1087),('2000:1.53081411098240',0,794),('2000:1.53081411098240',0,1472),('2000:1.53081411098240',0,231),('2000:1.53081411098240',0,1553),('2000:1.53081411098240',0,1836),('2000:1.53081411098240',0,281),('2000:1.53081411098240',0,379),('2000:1.53081411098240',0,1978),('2000:1.53081411098240',0,1841),('2000:1.53081411098240',0,1403),('2000:1.53081411098240',0,1074),('2000:1.53081411098240',0,500),('2000:1.53081411098240',0,1218),('2000:1.53081411098240',0,1633),('2000:1.53081411098240',0,856),('2000:1.53081411098240',0,133),('2000:1.53081411098240',0,633),('2000:1.53081411098240',0,1576),('2000:1.53081411098240',0,780),('2000:1.53081411098240',0,1008),('2000:1.53081411098240',0,61),('2000:1.53081411098240',0,1854),('2000:1.53081411098240',0,111),('2000:1.53081411098240',0,532),('2000:1.53081411098240',0,1807),('2000:1.53081411098240',0,1933),('2000:1.53081411098240',0,722),('2000:1.53081411098240',0,641),('2000:1.53081411098240',0,1775),('2000:1.53081411098240',0,866),('2000:1.53081411098240',0,728),('2000:1.53081411098240',0,1591),('2000:1.53081411098240',0,934),('2000:1.53081411098240',0,833),('2000:1.53081411098240',0,75),('2000:1.53081411098240',0,1647),('2000:1.53081411098240',0,1020),('2000:1.53081411098240',0,1116),('2000:1.53081411098240',0,1052),('2000:1.53081411098240',0,743),('2000:1.53081411098240',0,947),('2000:1.53081411098240',0,721),('2000:1.53081411098240',0,1119),('2000:1.53081411098240',0,291),('2000:1.53081411098240',0,1194),('2000:1.53081411098240',0,1187),('2000:1.53081411098240',0,455),('2000:1.53081411098240',0,105),('2000:1.53081411098240',0,1713),('2000:1.53081411098240',0,1031),('2000:1.53081411098240',0,1880),('2000:1.53081411098240',0,1171),('2000:1.53081411098240',0,1608),('2000:1.53081411098240',0,745),('2000:1.53081411098240',0,1819),('2000:1.53081411098240',0,797),('2000:1.53081411098240',0,1984),('2000:1.53081411098240',0,255),('2000:1.53081411098240',0,823),('2000:1.53081411098240',0,257),('2000:1.53081411098240',0,1072),('2000:1.53081411098240',0,1595),('2000:1.53081411098240',0,1270),('2000:1.53081411098240',0,1724),('2000:1.53081411098240',0,464),('2000:1.53081411098240',0,375),('2000:1.53081411098240',0,686),('2000:1.53081411098240',0,1308),('2000:1.53081411098240',0,40),('2000:1.53081411098240',0,1611),('2000:1.53081411098240',0,843),('2000:1.53081411098240',0,1034),('2000:1.53081411098240',0,509),('2000:1.53081411098240',0,1917),('2000:1.53081411098240',0,372),('2000:1.53081411098240',0,1174),('2000:1.53081411098240',0,1292),('2000:1.53081411098240',0,1439),('2000:1.53081411098240',0,1299),('2000:1.53081411098240',0,1929),('2000:1.53081411098240',0,145),('2000:1.53081411098240',0,104),('2000:1.53081411098240',0,34),('2000:1.53081411098240',0,1905),('2000:1.53081411098240',1,1724),('2000:1.53081411098240',1,665),('2000:1.53081411098240',1,638),('2000:1.53081411098240',1,1950),('2000:1.53081411098240',1,1594),('2000:1.53081411098240',1,987),('2000:1.53081411098240',1,1561),('2000:1.53081411098240',1,43),('2000:1.53081411098240',1,1832),('2000:1.53081411098240',1,1060),('2000:1.53081411098240',1,980),('2000:1.53081411098240',1,694),('2000:1.53081411098240',1,173),('2000:1.53081411098240',1,1317),('2000:1.53081411098240',1,1843),('2000:1.53081411098240',1,823),('2000:1.53081411098240',1,745),('2000:1.53081411098240',1,546),('2000:1.53081411098240',1,1164),('2000:1.53081411098240',1,1580),('2000:1.53081411098240',1,1290),('2000:1.53081411098240',1,676),('2000:1.53081411098240',1,90),('2000:1.53081411098240',1,394),('2000:1.53081411098240',1,653),('2000:1.53081411098240',1,84),('2000:1.53081411098240',1,1336),('2000:1.53081411098240',1,50),('2000:1.53081411098240',1,732),('2000:1.53081411098240',1,260),('2000:1.53081411098240',1,181),('2000:1.53081411098240',1,1617),('2000:1.53081411098240',1,1971),('2000:1.53081411098240',1,1753),('2000:1.53081411098240',1,1880),('2000:1.53081411098240',1,1453),('2000:1.53081411098240',1,1914),('2000:1.53081411098240',1,1092),('2000:1.53081411098240',1,26),('2000:1.53081411098240',1,111),('2000:1.53081411098240',1,425),('2000:1.53081411098240',1,1908),('2000:1.53081411098240',1,864),('2000:1.53081411098240',1,1635),('2000:1.53081411098240',1,983),('2000:1.53081411098240',1,1782),('2000:1.53081411098240',1,114),('2000:1.53081411098240',1,273),('2000:1.53081411098240',1,1273),('2000:1.53081411098240',1,73),('2000:1.53081411098240',1,1183),('2000:1.53081411098240',1,704),('2000:1.53081411098240',1,1462),('2000:1.53081411098240',1,909),('2000:1.53081411098240',1,611),('2000:1.53081411098240',1,1388),('2000:1.53081411098240',1,1232),('2000:1.53081411098240',1,1351),('2000:1.53081411098240',1,1760),('2000:1.53081411098240',1,431),('2000:1.53081411098240',1,1069),('2000:1.53081411098240',1,1848),('2000:1.53081411098240',1,966),('2000:1.53081411098240',1,345),('2000:1.53081411098240',1,779),('2000:1.53081411098240',1,300),('2000:1.53081411098240',1,242),('2000:1.53081411098240',1,1141),('2000:1.53081411098240',1,1433),('2000:1.53081411098240',1,142),('2000:1.53081411098240',1,862),('2000:1.53081411098240',1,48),('2000:1.53081411098240',1,1524),('2000:1.53081411098240',1,378),('2000:1.53081411098240',1,85),('2000:1.53081411098240',1,1484),('2000:1.53081411098240',1,314),('2000:1.53081411098240',1,995),('2000:1.53081411098240',1,257),('2000:1.53081411098240',1,501),('2000:1.53081411098240',1,1475),('2000:1.53081411098240',1,1408),('2000:1.53081411098240',1,821),('2000:1.53081411098240',1,1710),('2000:1.53081411098240',1,1154),('2000:1.53081411098240',1,1720),('2000:1.53081411098240',1,785),('2000:1.53081411098240',1,1976),('2000:1.53081411098240',1,1560),('2000:1.53081411098240',1,645),('2000:1.53081411098240',1,625),('2000:1.53081411098240',1,1379),('2000:1.53081411098240',1,1225),('2000:1.53081411098240',1,756),('2000:1.53081411098240',1,406),('2000:1.53081411098240',1,156),('2000:1.53081411098240',1,701),('2000:1.53081411098240',1,227),('2000:1.53081411098240',1,210),('2000:1.53081411098240',1,1791),('2000:1.53081411098240',2,1912),('2000:1.53081411098240',2,798),('2000:1.53081411098240',2,32),('2000:1.53081411098240',2,1781),('2000:1.53081411098240',2,315),('2000:1.53081411098240',2,461),('2000:1.53081411098240',2,1303),('2000:1.53081411098240',2,337),('2000:1.53081411098240',2,981),('2000:1.53081411098240',2,1330),('2000:1.53081411098240',2,1335),('2000:1.53081411098240',2,1436),('2000:1.53081411098240',2,903),('2000:1.53081411098240',2,571),('2000:1.53081411098240',2,990),('2000:1.53081411098240',2,350),('2000:1.53081411098240',2,961),('2000:1.53081411098240',2,1704),('2000:1.53081411098240',2,839),('2000:1.53081411098240',2,273),('2000:1.53081411098240',2,35),('2000:1.53081411098240',2,1220),('2000:1.53081411098240',2,922),('2000:1.53081411098240',2,493),('2000:1.53081411098240',2,639),('2000:1.53081411098240',2,1882),('2000:1.53081411098240',2,1873),('2000:1.53081411098240',2,1050),('2000:1.53081411098240',2,123),('2000:1.53081411098240',2,749),('2000:1.53081411098240',2,243),('2000:1.53081411098240',2,399),('2000:1.53081411098240',2,868),('2000:1.53081411098240',2,1743),('2000:1.53081411098240',2,1806),('2000:1.53081411098240',2,1026),('2000:1.53081411098240',2,710),('2000:1.53081411098240',2,220),('2000:1.53081411098240',2,1012),('2000:1.53081411098240',2,95),('2000:1.53081411098240',2,1596),('2000:1.53081411098240',2,494),('2000:1.53081411098240',2,442),('2000:1.53081411098240',2,1109),('2000:1.53081411098240',2,1328),('2000:1.53081411098240',2,1630),('2000:1.53081411098240',2,37),('2000:1.53081411098240',2,247),('2000:1.53081411098240',2,450),('2000:1.53081411098240',2,569),('2000:1.53081411098240',2,1519),('2000:1.53081411098240',2,20),('2000:1.53081411098240',2,588),('2000:1.53081411098240',2,1412),('2000:1.53081411098240',2,1409),('2000:1.53081411098240',2,1427),('2000:1.53081411098240',2,953),('2000:1.53081411098240',2,371),('2000:1.53081411098240',2,723),('2000:1.53081411098240',2,1059),('2000:1.53081411098240',2,672),('2000:1.53081411098240',2,652),('2000:1.53081411098240',2,68),('2000:1.53081411098240',2,1793),('2000:1.53081411098240',2,377),('2000:1.53081411098240',2,1646),('2000:1.53081411098240',2,291),('2000:1.53081411098240',2,1757),('2000:1.53081411098240',2,703),('2000:1.53081411098240',2,1794),('2000:1.53081411098240',2,523),('2000:1.53081411098240',2,358),('2000:1.53081411098240',2,105),('2000:1.53081411098240',2,1343),('2000:1.53081411098240',2,1119),('2000:1.53081411098240',2,1696),('2000:1.53081411098240',2,848),('2000:1.53081411098240',2,1002),('2000:1.53081411098240',2,1832),('2000:1.53081411098240',2,1237),('2000:1.53081411098240',2,1389),('2000:1.53081411098240',2,612),('2000:1.53081411098240',2,491),('2000:1.53081411098240',2,580),('2000:1.53081411098240',2,150),('2000:1.53081411098240',2,1592),('2000:1.53081411098240',2,1627),('2000:1.53081411098240',2,741),('2000:1.53081411098240',2,1136),('2000:1.53081411098240',2,1203),('2000:1.53081411098240',2,1615),('2000:1.53081411098240',2,307),('2000:1.53081411098240',2,26),('2000:1.53081411098240',2,287),('2000:1.53081411098240',2,1405),('2000:1.53081411098240',2,1175),('2000:1.53081411098240',2,1499),('2000:1.53081411098240',2,1432),('2000:1.53081411098240',2,1314),('2000:1.53081411098240',2,471),('2000:1.53081411098240',3,1701),('2000:1.53081411098240',3,1062),('2000:1.53081411098240',3,263),('2000:1.53081411098240',3,550),('2000:1.53081411098240',3,173),('2000:1.53081411098240',3,687),('2000:1.53081411098240',3,978),('2000:1.53081411098240',3,1973),('2000:1.53081411098240',3,971),('2000:1.53081411098240',3,1617),('2000:1.53081411098240',3,777),('2000:1.53081411098240',3,930),('2000:1.53081411098240',3,859),('2000:1.53081411098240',3,1550),('2000:1.53081411098240',3,1649),('2000:1.53081411098240',3,812),('2000:1.53081411098240',3,937),('2000:1.53081411098240',3,965),('2000:1.53081411098240',3,271),('2000:1.53081411098240',3,1465),('2000:1.53081411098240',3,943),('2000:1.53081411098240',3,664),('2000:1.53081411098240',3,1163),('2000:1.53081411098240',3,1116),('2000:1.53081411098240',3,1515),('2000:1.53081411098240',3,275),('2000:1.53081411098240',3,1328),('2000:1.53081411098240',3,715),('2000:1.53081411098240',3,1958),('2000:1.53081411098240',3,372),('2000:1.53081411098240',3,1329),('2000:1.53081411098240',3,304),('2000:1.53081411098240',3,1281),('2000:1.53081411098240',3,1484),('2000:1.53081411098240',3,483),('2000:1.53081411098240',3,1215),('2000:1.53081411098240',3,1182),('2000:1.53081411098240',3,59),('2000:1.53081411098240',3,1552),('2000:1.53081411098240',3,959),('2000:1.53081411098240',3,585),('2000:1.53081411098240',3,257),('2000:1.53081411098240',3,100),('2000:1.53081411098240',3,194),('2000:1.53081411098240',3,842),('2000:1.53081411098240',3,908),('2000:1.53081411098240',3,1042),('2000:1.53081411098240',3,885),('2000:1.53081411098240',3,1274),('2000:1.53081411098240',3,1057),('2000:1.53081411098240',3,1877),('2000:1.53081411098240',3,232),('2000:1.53081411098240',3,975),('2000:1.53081411098240',3,1402),('2000:1.53081411098240',3,1309),('2000:1.53081411098240',3,1810),('2000:1.53081411098240',3,28),('2000:1.53081411098240',3,1879),('2000:1.53081411098240',3,97),('2000:1.53081411098240',3,1607),('2000:1.53081411098240',3,1021),('2000:1.53081411098240',3,1372),('2000:1.53081411098240',3,919),('2000:1.53081411098240',3,1316),('2000:1.53081411098240',3,135),('2000:1.53081411098240',3,1836),('2000:1.53081411098240',3,1306),('2000:1.53081411098240',3,376),('2000:1.53081411098240',3,155),('2000:1.53081411098240',3,1695),('2000:1.53081411098240',3,644),('2000:1.53081411098240',3,440),('2000:1.53081411098240',3,1542),('2000:1.53081411098240',3,1075),('2000:1.53081411098240',3,1945),('2000:1.53081411098240',3,80),('2000:1.53081411098240',3,1272),('2000:1.53081411098240',3,1408),('2000:1.53081411098240',3,110),('2000:1.53081411098240',3,769),('2000:1.53081411098240',3,1686),('2000:1.53081411098240',3,1913),('2000:1.53081411098240',3,125),('2000:1.53081411098240',3,1312),('2000:1.53081411098240',3,629),('2000:1.53081411098240',3,1199),('2000:1.53081411098240',3,1241),('2000:1.53081411098240',3,1717),('2000:1.53081411098240',3,436),('2000:1.53081411098240',3,1437),('2000:1.53081411098240',3,712),('2000:1.53081411098240',3,467),('2000:1.53081411098240',3,1612),('2000:1.53081411098240',3,1914),('2000:1.53081411098240',3,29),('2000:1.53081411098240',3,1232),('2000:1.53081411098240',3,202),('2000:1.53081411098240',3,690),('2000:1.53081411098240',3,819),('2000:1.53081411098240',3,1602),('2000:1.53081411098240',4,1166),('2000:1.53081411098240',4,1645),('2000:1.53081411098240',4,1299),('2000:1.53081411098240',4,1525),('2000:1.53081411098240',4,381),('2000:1.53081411098240',4,995),('2000:1.53081411098240',4,1249),('2000:1.53081411098240',4,1106),('2000:1.53081411098240',4,993),('2000:1.53081411098240',4,646),('2000:1.53081411098240',4,1457),('2000:1.53081411098240',4,1632),('2000:1.53081411098240',4,1633),('2000:1.53081411098240',4,1487),('2000:1.53081411098240',4,174),('2000:1.53081411098240',4,1983),('2000:1.53081411098240',4,832),('2000:1.53081411098240',4,1397),('2000:1.53081411098240',4,1811),('2000:1.53081411098240',4,238),('2000:1.53081411098240',4,1351),('2000:1.53081411098240',4,1812),('2000:1.53081411098240',4,513),('2000:1.53081411098240',4,1183),('2000:1.53081411098240',4,763),('2000:1.53081411098240',4,822),('2000:1.53081411098240',4,1627),('2000:1.53081411098240',4,1112),('2000:1.53081411098240',4,1284),('2000:1.53081411098240',4,1653),('2000:1.53081411098240',4,1164),('2000:1.53081411098240',4,1301),('2000:1.53081411098240',4,233),('2000:1.53081411098240',4,921),('2000:1.53081411098240',4,76),('2000:1.53081411098240',4,462),('2000:1.53081411098240',4,441),('2000:1.53081411098240',4,896),('2000:1.53081411098240',4,20),('2000:1.53081411098240',4,1036),('2000:1.53081411098240',4,1227),('2000:1.53081411098240',4,704),('2000:1.53081411098240',4,1574),('2000:1.53081411098240',4,524),('2000:1.53081411098240',4,1294),('2000:1.53081411098240',4,277),('2000:1.53081411098240',4,825),('2000:1.53081411098240',4,162),('2000:1.53081411098240',4,1026),('2000:1.53081411098240',4,392),('2000:1.53081411098240',4,697),('2000:1.53081411098240',4,807),('2000:1.53081411098240',4,1722),('2000:1.53081411098240',4,112),('2000:1.53081411098240',4,1550),('2000:1.53081411098240',4,1790),('2000:1.53081411098240',4,667),('2000:1.53081411098240',4,1272),('2000:1.53081411098240',4,526),('2000:1.53081411098240',4,1215),('2000:1.53081411098240',4,685),('2000:1.53081411098240',4,492),('2000:1.53081411098240',4,181),('2000:1.53081411098240',4,1281),('2000:1.53081411098240',4,1262),('2000:1.53081411098240',4,1384),('2000:1.53081411098240',4,1652),('2000:1.53081411098240',4,380),('2000:1.53081411098240',4,1973),('2000:1.53081411098240',4,187),('2000:1.53081411098240',4,1837),('2000:1.53081411098240',4,242),('2000:1.53081411098240',4,1485),('2000:1.53081411098240',4,1128),('2000:1.53081411098240',4,1691),('2000:1.53081411098240',4,695),('2000:1.53081411098240',4,276),('2000:1.53081411098240',4,1403),('2000:1.53081411098240',4,33),('2000:1.53081411098240',4,270),('2000:1.53081411098240',4,1855),('2000:1.53081411098240',4,1641),('2000:1.53081411098240',4,1319),('2000:1.53081411098240',4,1370),('2000:1.53081411098240',4,1732),('2000:1.53081411098240',4,1423),('2000:1.53081411098240',4,1889),('2000:1.53081411098240',4,913),('2000:1.53081411098240',4,56),('2000:1.53081411098240',4,969),('2000:1.53081411098240',4,1657),('2000:1.53081411098240',4,1442),('2000:1.53081411098240',4,1886),('2000:1.53081411098240',4,1579),('2000:1.53081411098240',4,1266),('2000:1.53081411098240',4,1058),('2000:1.53081411098240',4,508),('2000:1.53081411098240',4,1975),('2000:1.53081411098240',4,433),('2000:1.53081411098240',4,1735),('2000:1.53081411098240',5,282),('2000:1.53081411098240',5,533),('2000:1.53081411098240',5,1092),('2000:1.53081411098240',5,1374),('2000:1.53081411098240',5,1304),('2000:1.53081411098240',5,1652),('2000:1.53081411098240',5,585),('2000:1.53081411098240',5,1270),('2000:1.53081411098240',5,1902),('2000:1.53081411098240',5,1491),('2000:1.53081411098240',5,493),('2000:1.53081411098240',5,809),('2000:1.53081411098240',5,1303),('2000:1.53081411098240',5,190),('2000:1.53081411098240',5,845),('2000:1.53081411098240',5,1166),('2000:1.53081411098240',5,813),('2000:1.53081411098240',5,1910),('2000:1.53081411098240',5,1711),('2000:1.53081411098240',5,56),('2000:1.53081411098240',5,1198),('2000:1.53081411098240',5,1684),('2000:1.53081411098240',5,250),('2000:1.53081411098240',5,478),('2000:1.53081411098240',5,564),('2000:1.53081411098240',5,150),('2000:1.53081411098240',5,42),('2000:1.53081411098240',5,660),('2000:1.53081411098240',5,1828),('2000:1.53081411098240',5,576),('2000:1.53081411098240',5,1012),('2000:1.53081411098240',5,1884),('2000:1.53081411098240',5,994),('2000:1.53081411098240',5,1019),('2000:1.53081411098240',5,1568),('2000:1.53081411098240',5,1165),('2000:1.53081411098240',5,381),('2000:1.53081411098240',5,883),('2000:1.53081411098240',5,1192),('2000:1.53081411098240',5,1627),('2000:1.53081411098240',5,466),('2000:1.53081411098240',5,910),('2000:1.53081411098240',5,1176),('2000:1.53081411098240',5,1691),('2000:1.53081411098240',5,1386),('2000:1.53081411098240',5,1624),('2000:1.53081411098240',5,1285),('2000:1.53081411098240',5,943),('2000:1.53081411098240',5,715),('2000:1.53081411098240',5,685),('2000:1.53081411098240',5,697),('2000:1.53081411098240',5,939),('2000:1.53081411098240',5,966),('2000:1.53081411098240',5,1409),('2000:1.53081411098240',5,1086),('2000:1.53081411098240',5,649),('2000:1.53081411098240',5,1730),('2000:1.53081411098240',5,1635),('2000:1.53081411098240',5,921),('2000:1.53081411098240',5,648),('2000:1.53081411098240',5,218),('2000:1.53081411098240',5,961),('2000:1.53081411098240',5,837),('2000:1.53081411098240',5,1377),('2000:1.53081411098240',5,1403),('2000:1.53081411098240',5,793),('2000:1.53081411098240',5,570),('2000:1.53081411098240',5,761),('2000:1.53081411098240',5,1790),('2000:1.53081411098240',5,1517),('2000:1.53081411098240',5,448),('2000:1.53081411098240',5,622),('2000:1.53081411098240',5,2),('2000:1.53081411098240',5,832),('2000:1.53081411098240',5,291),('2000:1.53081411098240',5,1957),('2000:1.53081411098240',5,1135),('2000:1.53081411098240',5,1796),('2000:1.53081411098240',5,1901),('2000:1.53081411098240',5,601),('2000:1.53081411098240',5,1142),('2000:1.53081411098240',5,422),('2000:1.53081411098240',5,1735),('2000:1.53081411098240',5,1938),('2000:1.53081411098240',5,532),('2000:1.53081411098240',5,1055),('2000:1.53081411098240',5,1699),('2000:1.53081411098240',5,1587),('2000:1.53081411098240',5,516),('2000:1.53081411098240',5,617),('2000:1.53081411098240',5,1470),('2000:1.53081411098240',5,389),('2000:1.53081411098240',5,1096),('2000:1.53081411098240',5,408),('2000:1.53081411098240',5,909),('2000:1.53081411098240',5,1235),('2000:1.53081411098240',5,1054),('2000:1.53081411098240',5,1765),('2000:1.53081411098240',5,1526),('2000:1.53081411098240',5,593),('2000:1.53081411098240',6,1876),('2000:1.53081411098240',6,1550),('2000:1.53081411098240',6,1363),('2000:1.53081411098240',6,238),('2000:1.53081411098240',6,624),('2000:1.53081411098240',6,91),('2000:1.53081411098240',6,1823),('2000:1.53081411098240',6,1802),('2000:1.53081411098240',6,861),('2000:1.53081411098240',6,707),('2000:1.53081411098240',6,931),('2000:1.53081411098240',6,1688),('2000:1.53081411098240',6,821),('2000:1.53081411098240',6,1874),('2000:1.53081411098240',6,270),('2000:1.53081411098240',6,1805),('2000:1.53081411098240',6,1128),('2000:1.53081411098240',6,1789),('2000:1.53081411098240',6,932),('2000:1.53081411098240',6,714),('2000:1.53081411098240',6,404),('2000:1.53081411098240',6,292),('2000:1.53081411098240',6,1701),('2000:1.53081411098240',6,916),('2000:1.53081411098240',6,527),('2000:1.53081411098240',6,1921),('2000:1.53081411098240',6,326),('2000:1.53081411098240',6,441),('2000:1.53081411098240',6,1061),('2000:1.53081411098240',6,1064),('2000:1.53081411098240',6,1452),('2000:1.53081411098240',6,199),('2000:1.53081411098240',6,1582),('2000:1.53081411098240',6,1904),('2000:1.53081411098240',6,667),('2000:1.53081411098240',6,943),('2000:1.53081411098240',6,22),('2000:1.53081411098240',6,630),('2000:1.53081411098240',6,1634),('2000:1.53081411098240',6,806),('2000:1.53081411098240',6,24),('2000:1.53081411098240',6,1469),('2000:1.53081411098240',6,158),('2000:1.53081411098240',6,421),('2000:1.53081411098240',6,382),('2000:1.53081411098240',6,1106),('2000:1.53081411098240',6,1250),('2000:1.53081411098240',6,1695),('2000:1.53081411098240',6,1416),('2000:1.53081411098240',6,1068),('2000:1.53081411098240',6,1332),('2000:1.53081411098240',6,1184),('2000:1.53081411098240',6,866),('2000:1.53081411098240',6,1036),('2000:1.53081411098240',6,696),('2000:1.53081411098240',6,548),('2000:1.53081411098240',6,1155),('2000:1.53081411098240',6,1473),('2000:1.53081411098240',6,1123),('2000:1.53081411098240',6,101),('2000:1.53081411098240',6,1790),('2000:1.53081411098240',6,591),('2000:1.53081411098240',6,1611),('2000:1.53081411098240',6,157),('2000:1.53081411098240',6,878),('2000:1.53081411098240',6,1808),('2000:1.53081411098240',6,1941),('2000:1.53081411098240',6,700),('2000:1.53081411098240',6,1327),('2000:1.53081411098240',6,990),('2000:1.53081411098240',6,857),('2000:1.53081411098240',6,1903),('2000:1.53081411098240',6,1821),('2000:1.53081411098240',6,507),('2000:1.53081411098240',6,169),('2000:1.53081411098240',6,140),('2000:1.53081411098240',6,1455),('2000:1.53081411098240',6,702),('2000:1.53081411098240',6,830),('2000:1.53081411098240',6,952),('2000:1.53081411098240',6,1132),('2000:1.53081411098240',6,374),('2000:1.53081411098240',6,616),('2000:1.53081411098240',6,596),('2000:1.53081411098240',6,637),('2000:1.53081411098240',6,397),('2000:1.53081411098240',6,1602),('2000:1.53081411098240',6,852),('2000:1.53081411098240',6,21),('2000:1.53081411098240',6,823),('2000:1.53081411098240',6,664),('2000:1.53081411098240',6,1197),('2000:1.53081411098240',6,689),('2000:1.53081411098240',6,1645),('2000:1.53081411098240',6,995),('2000:1.53081411098240',6,997),('2000:1.53081411098240',6,1276),('2000:1.53081411098240',6,1562),('2000:1.53081411098240',6,1676),('2000:1.53081411098240',6,271),('2000:1.53081411098240',7,498),('2000:1.53081411098240',7,605),('2000:1.53081411098240',7,663),('2000:1.53081411098240',7,420),('2000:1.53081411098240',7,1622),('2000:1.53081411098240',7,1981),('2000:1.53081411098240',7,622),('2000:1.53081411098240',7,1618),('2000:1.53081411098240',7,490),('2000:1.53081411098240',7,1835),('2000:1.53081411098240',7,780),('2000:1.53081411098240',7,1506),('2000:1.53081411098240',7,1333),('2000:1.53081411098240',7,813),('2000:1.53081411098240',7,1339),('2000:1.53081411098240',7,1135),('2000:1.53081411098240',7,1666),('2000:1.53081411098240',7,1888),('2000:1.53081411098240',7,1575),('2000:1.53081411098240',7,74),('2000:1.53081411098240',7,182),('2000:1.53081411098240',7,1324),('2000:1.53081411098240',7,1849),('2000:1.53081411098240',7,334),('2000:1.53081411098240',7,236),('2000:1.53081411098240',7,1341),('2000:1.53081411098240',7,322),('2000:1.53081411098240',7,1266),('2000:1.53081411098240',7,1182),('2000:1.53081411098240',7,1568),('2000:1.53081411098240',7,1165),('2000:1.53081411098240',7,175),('2000:1.53081411098240',7,1021),('2000:1.53081411098240',7,1269),('2000:1.53081411098240',7,849),('2000:1.53081411098240',7,949),('2000:1.53081411098240',7,1946),('2000:1.53081411098240',7,1272),('2000:1.53081411098240',7,1829),('2000:1.53081411098240',7,1228),('2000:1.53081411098240',7,1247),('2000:1.53081411098240',7,970),('2000:1.53081411098240',7,1711),('2000:1.53081411098240',7,668),('2000:1.53081411098240',7,1948),('2000:1.53081411098240',7,478),('2000:1.53081411098240',7,1451),('2000:1.53081411098240',7,471),('2000:1.53081411098240',7,739),('2000:1.53081411098240',7,1772),('2000:1.53081411098240',7,306),('2000:1.53081411098240',7,379),('2000:1.53081411098240',7,1729),('2000:1.53081411098240',7,422),('2000:1.53081411098240',7,1754),('2000:1.53081411098240',7,1500),('2000:1.53081411098240',7,160),('2000:1.53081411098240',7,1058),('2000:1.53081411098240',7,223),('2000:1.53081411098240',7,349),('2000:1.53081411098240',7,178),('2000:1.53081411098240',7,976),('2000:1.53081411098240',7,1544),('2000:1.53081411098240',7,282),('2000:1.53081411098240',7,903),('2000:1.53081411098240',7,843),('2000:1.53081411098240',7,1984),('2000:1.53081411098240',7,1920),('2000:1.53081411098240',7,1094),('2000:1.53081411098240',7,339),('2000:1.53081411098240',7,279),('2000:1.53081411098240',7,166),('2000:1.53081411098240',7,398),('2000:1.53081411098240',7,1678),('2000:1.53081411098240',7,1511),('2000:1.53081411098240',7,287),('2000:1.53081411098240',7,1204),('2000:1.53081411098240',7,896),('2000:1.53081411098240',7,1386),('2000:1.53081411098240',7,900),('2000:1.53081411098240',7,1792),('2000:1.53081411098240',7,1376),('2000:1.53081411098240',7,1865),('2000:1.53081411098240',7,1064),('2000:1.53081411098240',7,392),('2000:1.53081411098240',7,1623),('2000:1.53081411098240',7,1241),('2000:1.53081411098240',7,324),('2000:1.53081411098240',7,1898),('2000:1.53081411098240',7,784),('2000:1.53081411098240',7,374),('2000:1.53081411098240',7,1274),('2000:1.53081411098240',7,686),('2000:1.53081411098240',7,1287),('2000:1.53081411098240',7,574),('2000:1.53081411098240',7,1883),('2000:1.53081411098240',7,1783),('2000:1.53081411098240',7,1534),('2000:1.53081411098240',7,1235),('2000:1.53081411098240',7,234),('2000:1.53081411098240',8,1574),('2000:1.53081411098240',8,777),('2000:1.53081411098240',8,1069),('2000:1.53081411098240',8,1413),('2000:1.53081411098240',8,690),('2000:1.53081411098240',8,767),('2000:1.53081411098240',8,343),('2000:1.53081411098240',8,641),('2000:1.53081411098240',8,595),('2000:1.53081411098240',8,1668),('2000:1.53081411098240',8,1227),('2000:1.53081411098240',8,745),('2000:1.53081411098240',8,1582),('2000:1.53081411098240',8,274),('2000:1.53081411098240',8,1724),('2000:1.53081411098240',8,1278),('2000:1.53081411098240',8,869),('2000:1.53081411098240',8,1381),('2000:1.53081411098240',8,48),('2000:1.53081411098240',8,296),('2000:1.53081411098240',8,822),('2000:1.53081411098240',8,1842),('2000:1.53081411098240',8,1011),('2000:1.53081411098240',8,304),('2000:1.53081411098240',8,1899),('2000:1.53081411098240',8,1976),('2000:1.53081411098240',8,1935),('2000:1.53081411098240',8,1833),('2000:1.53081411098240',8,1135),('2000:1.53081411098240',8,1031),('2000:1.53081411098240',8,973),('2000:1.53081411098240',8,1739),('2000:1.53081411098240',8,656),('2000:1.53081411098240',8,1820),('2000:1.53081411098240',8,1395),('2000:1.53081411098240',8,1485),('2000:1.53081411098240',8,904),('2000:1.53081411098240',8,993),('2000:1.53081411098240',8,1996),('2000:1.53081411098240',8,483),('2000:1.53081411098240',8,1380),('2000:1.53081411098240',8,1999),('2000:1.53081411098240',8,90),('2000:1.53081411098240',8,1813),('2000:1.53081411098240',8,1384),('2000:1.53081411098240',8,1532),('2000:1.53081411098240',8,154),('2000:1.53081411098240',8,1456),('2000:1.53081411098240',8,606),('2000:1.53081411098240',8,1365),('2000:1.53081411098240',8,1554),('2000:1.53081411098240',8,1812),('2000:1.53081411098240',8,346),('2000:1.53081411098240',8,1632),('2000:1.53081411098240',8,707),('2000:1.53081411098240',8,35),('2000:1.53081411098240',8,1942),('2000:1.53081411098240',8,1435),('2000:1.53081411098240',8,1122),('2000:1.53081411098240',8,602),('2000:1.53081411098240',8,28),('2000:1.53081411098240',8,1499),('2000:1.53081411098240',8,1798),('2000:1.53081411098240',8,221),('2000:1.53081411098240',8,12),('2000:1.53081411098240',8,199),('2000:1.53081411098240',8,1975),('2000:1.53081411098240',8,1802),('2000:1.53081411098240',8,575),('2000:1.53081411098240',8,1301),('2000:1.53081411098240',8,1359),('2000:1.53081411098240',8,1698),('2000:1.53081411098240',8,1344),('2000:1.53081411098240',8,1583),('2000:1.53081411098240',8,634),('2000:1.53081411098240',8,1020),('2000:1.53081411098240',8,769),('2000:1.53081411098240',8,1578),('2000:1.53081411098240',8,1334),('2000:1.53081411098240',8,666),('2000:1.53081411098240',8,628),('2000:1.53081411098240',8,1448),('2000:1.53081411098240',8,1093),('2000:1.53081411098240',8,1980),('2000:1.53081411098240',8,124),('2000:1.53081411098240',8,342),('2000:1.53081411098240',8,421),('2000:1.53081411098240',8,1524),('2000:1.53081411098240',8,430),('2000:1.53081411098240',8,646),('2000:1.53081411098240',8,1649),('2000:1.53081411098240',8,358),('2000:1.53081411098240',8,1224),('2000:1.53081411098240',8,15),('2000:1.53081411098240',8,1695),('2000:1.53081411098240',8,460),('2000:1.53081411098240',8,1106),('2000:1.53081411098240',8,1828),('2000:1.53081411098240',8,572),('2000:1.53081411098240',8,551),('2000:1.53081411098240',9,1443),('2000:1.53081411098240',9,1086),('2000:1.53081411098240',9,124),('2000:1.53081411098240',9,1937),('2000:1.53081411098240',9,805),('2000:1.53081411098240',9,462),('2000:1.53081411098240',9,452),('2000:1.53081411098240',9,121),('2000:1.53081411098240',9,147),('2000:1.53081411098240',9,796),('2000:1.53081411098240',9,1835),('2000:1.53081411098240',9,226),('2000:1.53081411098240',9,1896),('2000:1.53081411098240',9,1195),('2000:1.53081411098240',9,155),('2000:1.53081411098240',9,1428),('2000:1.53081411098240',9,608),('2000:1.53081411098240',9,1017),('2000:1.53081411098240',9,1047),('2000:1.53081411098240',9,259),('2000:1.53081411098240',9,718),('2000:1.53081411098240',9,140),('2000:1.53081411098240',9,855),('2000:1.53081411098240',9,1035),('2000:1.53081411098240',9,491),('2000:1.53081411098240',9,1424),('2000:1.53081411098240',9,1026),('2000:1.53081411098240',9,1882),('2000:1.53081411098240',9,789),('2000:1.53081411098240',9,78),('2000:1.53081411098240',9,357),('2000:1.53081411098240',9,379),('2000:1.53081411098240',9,1753),('2000:1.53081411098240',9,1167),('2000:1.53081411098240',9,1532),('2000:1.53081411098240',9,378),('2000:1.53081411098240',9,957),('2000:1.53081411098240',9,1946),('2000:1.53081411098240',9,918),('2000:1.53081411098240',9,1093),('2000:1.53081411098240',9,1981),('2000:1.53081411098240',9,1020),('2000:1.53081411098240',9,1918),('2000:1.53081411098240',9,1623),('2000:1.53081411098240',9,1496),('2000:1.53081411098240',9,1750),('2000:1.53081411098240',9,1028),('2000:1.53081411098240',9,277),('2000:1.53081411098240',9,605),('2000:1.53081411098240',9,301),('2000:1.53081411098240',9,931),('2000:1.53081411098240',9,733),('2000:1.53081411098240',9,321),('2000:1.53081411098240',9,195),('2000:1.53081411098240',9,967),('2000:1.53081411098240',9,265),('2000:1.53081411098240',9,1579),('2000:1.53081411098240',9,1331),('2000:1.53081411098240',9,1246),('2000:1.53081411098240',9,749),('2000:1.53081411098240',9,1970),('2000:1.53081411098240',9,1392),('2000:1.53081411098240',9,316),('2000:1.53081411098240',9,871),('2000:1.53081411098240',9,780),('2000:1.53081411098240',9,1309),('2000:1.53081411098240',9,109),('2000:1.53081411098240',9,1038),('2000:1.53081411098240',9,1242),('2000:1.53081411098240',9,1273),('2000:1.53081411098240',9,1540),('2000:1.53081411098240',9,339),('2000:1.53081411098240',9,1462),('2000:1.53081411098240',9,701),('2000:1.53081411098240',9,1335),('2000:1.53081411098240',9,348),('2000:1.53081411098240',9,1001),('2000:1.53081411098240',9,1369),('2000:1.53081411098240',9,1514),('2000:1.53081411098240',9,1831),('2000:1.53081411098240',9,965),('2000:1.53081411098240',9,824),('2000:1.53081411098240',9,1500),('2000:1.53081411098240',9,1766),('2000:1.53081411098240',9,406),('2000:1.53081411098240',9,1280),('2000:1.53081411098240',9,1787),('2000:1.53081411098240',9,1738),('2000:1.53081411098240',9,1519),('2000:1.53081411098240',9,1396),('2000:1.53081411098240',9,538),('2000:1.53081411098240',9,699),('2000:1.53081411098240',9,132),('2000:1.53081411098240',9,334),('2000:1.53081411098240',9,1719),('2000:1.53081411098240',9,1356),('2000:1.53081411098240',9,1638),('2000:1.53081411098240',9,922),('2000:1.53081411098240',9,10),('2000:1.53081411098240',9,939)"
_IVFPQ_CANDIDATE_PINS = "('500:-1.46395296278528',0,73),('500:-1.46395296278528',0,483),('500:-1.46395296278528',0,260),('500:-1.46395296278528',0,306),('500:-1.46395296278528',0,13),('500:-1.46395296278528',0,59),('500:-1.46395296278528',0,497),('500:-1.46395296278528',0,475),('500:-1.46395296278528',0,221),('500:-1.46395296278528',0,232),('500:-1.46395296278528',0,393),('500:-1.46395296278528',0,12),('500:-1.46395296278528',0,278),('500:-1.46395296278528',0,374),('500:-1.46395296278528',0,94),('500:-1.46395296278528',0,402),('500:-1.46395296278528',0,17),('500:-1.46395296278528',0,212),('500:-1.46395296278528',0,467),('500:-1.46395296278528',0,240),('500:-1.46395296278528',0,346),('500:-1.46395296278528',0,272),('500:-1.46395296278528',0,248),('500:-1.46395296278528',0,421),('500:-1.46395296278528',0,137),('500:-1.46395296278528',0,105),('500:-1.46395296278528',0,84),('500:-1.46395296278528',0,349),('500:-1.46395296278528',0,3),('500:-1.46395296278528',0,186),('500:-1.46395296278528',0,292),('500:-1.46395296278528',0,239),('500:-1.46395296278528',0,262),('500:-1.46395296278528',0,49),('500:-1.46395296278528',0,431),('500:-1.46395296278528',0,192),('500:-1.46395296278528',0,427),('500:-1.46395296278528',0,492),('500:-1.46395296278528',0,1),('500:-1.46395296278528',0,330),('500:-1.46395296278528',0,177),('500:-1.46395296278528',0,33),('500:-1.46395296278528',0,131),('500:-1.46395296278528',0,26),('500:-1.46395296278528',0,367),('500:-1.46395296278528',0,299),('500:-1.46395296278528',0,449),('500:-1.46395296278528',0,424),('500:-1.46395296278528',0,340),('500:-1.46395296278528',0,380),('500:-1.46395296278528',0,244),('500:-1.46395296278528',0,10),('500:-1.46395296278528',0,446),('500:-1.46395296278528',0,226),('500:-1.46395296278528',0,206),('500:-1.46395296278528',0,450),('500:-1.46395296278528',0,414),('500:-1.46395296278528',0,428),('500:-1.46395296278528',0,104),('500:-1.46395296278528',0,81),('500:-1.46395296278528',0,439),('500:-1.46395296278528',0,246),('500:-1.46395296278528',0,214),('500:-1.46395296278528',0,359),('500:-1.46395296278528',0,276),('500:-1.46395296278528',0,411),('500:-1.46395296278528',0,473),('500:-1.46395296278528',0,348),('500:-1.46395296278528',0,230),('500:-1.46395296278528',0,255),('500:-1.46395296278528',0,372),('500:-1.46395296278528',0,11),('500:-1.46395296278528',0,70),('500:-1.46395296278528',0,155),('500:-1.46395296278528',0,361),('500:-1.46395296278528',0,275),('500:-1.46395296278528',0,383),('500:-1.46395296278528',0,127),('500:-1.46395296278528',0,30),('500:-1.46395296278528',0,28),('500:-1.46395296278528',0,395),('500:-1.46395296278528',0,258),('500:-1.46395296278528',0,463),('500:-1.46395296278528',0,189),('500:-1.46395296278528',0,466),('500:-1.46395296278528',0,284),('500:-1.46395296278528',0,191),('500:-1.46395296278528',0,27),('500:-1.46395296278528',0,175),('500:-1.46395296278528',0,135),('500:-1.46395296278528',0,156),('500:-1.46395296278528',0,65),('500:-1.46395296278528',0,75),('500:-1.46395296278528',0,145),('500:-1.46395296278528',0,371),('500:-1.46395296278528',0,378),('500:-1.46395296278528',0,418),('500:-1.46395296278528',0,157),('500:-1.46395296278528',0,302),('500:-1.46395296278528',0,435),('500:-1.46395296278528',1,75),('500:-1.46395296278528',1,455),('500:-1.46395296278528',1,229),('500:-1.46395296278528',1,247),('500:-1.46395296278528',1,235),('500:-1.46395296278528',1,349),('500:-1.46395296278528',1,231),('500:-1.46395296278528',1,244),('500:-1.46395296278528',1,464),('500:-1.46395296278528',1,378),('500:-1.46395296278528',1,70),('500:-1.46395296278528',1,440),('500:-1.46395296278528',1,66),('500:-1.46395296278528',1,412),('500:-1.46395296278528',1,237),('500:-1.46395296278528',1,283),('500:-1.46395296278528',1,248),('500:-1.46395296278528',1,87),('500:-1.46395296278528',1,159),('500:-1.46395296278528',1,376),('500:-1.46395296278528',1,50),('500:-1.46395296278528',1,183),('500:-1.46395296278528',1,233),('500:-1.46395296278528',1,209),('500:-1.46395296278528',1,458),('500:-1.46395296278528',1,490),('500:-1.46395296278528',1,106),('500:-1.46395296278528',1,14),('500:-1.46395296278528',1,482),('500:-1.46395296278528',1,260),('500:-1.46395296278528',1,129),('500:-1.46395296278528',1,492),('500:-1.46395296278528',1,339),('500:-1.46395296278528',1,206),('500:-1.46395296278528',1,400),('500:-1.46395296278528',1,162),('500:-1.46395296278528',1,449),('500:-1.46395296278528',1,377),('500:-1.46395296278528',1,98),('500:-1.46395296278528',1,213),('500:-1.46395296278528',1,194),('500:-1.46395296278528',1,296),('500:-1.46395296278528',1,252),('500:-1.46395296278528',1,355),('500:-1.46395296278528',1,110),('500:-1.46395296278528',1,265),('500:-1.46395296278528',1,438),('500:-1.46395296278528',1,224),('500:-1.46395296278528',1,418),('500:-1.46395296278528',1,293),('500:-1.46395296278528',1,447),('500:-1.46395296278528',1,273),('500:-1.46395296278528',1,291),('500:-1.46395296278528',1,74),('500:-1.46395296278528',1,141),('500:-1.46395296278528',1,295),('500:-1.46395296278528',1,202),('500:-1.46395296278528',1,173),('500:-1.46395296278528',1,311),('500:-1.46395296278528',1,144),('500:-1.46395296278528',1,109),('500:-1.46395296278528',1,374),('500:-1.46395296278528',1,73),('500:-1.46395296278528',1,203),('500:-1.46395296278528',1,262),('500:-1.46395296278528',1,357),('500:-1.46395296278528',1,426),('500:-1.46395296278528',1,238),('500:-1.46395296278528',1,454),('500:-1.46395296278528',1,382),('500:-1.46395296278528',1,348),('500:-1.46395296278528',1,199),('500:-1.46395296278528',1,147),('500:-1.46395296278528',1,363),('500:-1.46395296278528',1,433),('500:-1.46395296278528',1,17),('500:-1.46395296278528',1,386),('500:-1.46395296278528',1,5),('500:-1.46395296278528',1,408),('500:-1.46395296278528',1,22),('500:-1.46395296278528',1,83),('500:-1.46395296278528',1,485),('500:-1.46395296278528',1,322),('500:-1.46395296278528',1,448),('500:-1.46395296278528',1,261),('500:-1.46395296278528',1,200),('500:-1.46395296278528',1,26),('500:-1.46395296278528',1,54),('500:-1.46395296278528',1,402),('500:-1.46395296278528',1,298),('500:-1.46395296278528',1,189),('500:-1.46395296278528',1,125),('500:-1.46395296278528',1,316),('500:-1.46395296278528',1,480),('500:-1.46395296278528',1,99),('500:-1.46395296278528',1,20),('500:-1.46395296278528',1,352),('500:-1.46395296278528',1,214),('500:-1.46395296278528',1,158),('500:-1.46395296278528',1,427),('500:-1.46395296278528',2,183),('500:-1.46395296278528',2,246),('500:-1.46395296278528',2,91),('500:-1.46395296278528',2,443),('500:-1.46395296278528',2,441),('500:-1.46395296278528',2,378),('500:-1.46395296278528',2,484),('500:-1.46395296278528',2,201),('500:-1.46395296278528',2,155),('500:-1.46395296278528',2,106),('500:-1.46395296278528',2,256),('500:-1.46395296278528',2,282),('500:-1.46395296278528',2,132),('500:-1.46395296278528',2,497),('500:-1.46395296278528',2,275),('500:-1.46395296278528',2,313),('500:-1.46395296278528',2,49),('500:-1.46395296278528',2,185),('500:-1.46395296278528',2,39),('500:-1.46395296278528',2,10),('500:-1.46395296278528',2,170),('500:-1.46395296278528',2,428),('500:-1.46395296278528',2,150),('500:-1.46395296278528',2,452),('500:-1.46395296278528',2,68),('500:-1.46395296278528',2,79),('500:-1.46395296278528',2,237),('500:-1.46395296278528',2,415),('500:-1.46395296278528',2,159),('500:-1.46395296278528',2,451),('500:-1.46395296278528',2,45),('500:-1.46395296278528',2,97),('500:-1.46395296278528',2,379),('500:-1.46395296278528',2,149),('500:-1.46395296278528',2,259),('500:-1.46395296278528',2,347),('500:-1.46395296278528',2,430),('500:-1.46395296278528',2,204),('500:-1.46395296278528',2,309),('500:-1.46395296278528',2,67),('500:-1.46395296278528',2,459),('500:-1.46395296278528',2,33),('500:-1.46395296278528',2,43),('500:-1.46395296278528',2,402),('500:-1.46395296278528',2,399),('500:-1.46395296278528',2,239),('500:-1.46395296278528',2,263),('500:-1.46395296278528',2,471),('500:-1.46395296278528',2,226),('500:-1.46395296278528',2,7),('500:-1.46395296278528',2,128),('500:-1.46395296278528',2,429),('500:-1.46395296278528',2,56),('500:-1.46395296278528',2,58),('500:-1.46395296278528',2,17),('500:-1.46395296278528',2,60),('500:-1.46395296278528',2,453),('500:-1.46395296278528',2,413),('500:-1.46395296278528',2,475),('500:-1.46395296278528',2,371),('500:-1.46395296278528',2,369),('500:-1.46395296278528',2,6),('500:-1.46395296278528',2,121),('500:-1.46395296278528',2,463),('500:-1.46395296278528',2,135),('500:-1.46395296278528',2,404),('500:-1.46395296278528',2,460),('500:-1.46395296278528',2,483),('500:-1.46395296278528',2,331),('500:-1.46395296278528',2,496),('500:-1.46395296278528',2,264),('500:-1.46395296278528',2,171),('500:-1.46395296278528',2,235),('500:-1.46395296278528',2,494),('500:-1.46395296278528',2,233),('500:-1.46395296278528',2,489),('500:-1.46395296278528',2,394),('500:-1.46395296278528',2,89),('500:-1.46395296278528',2,57),('500:-1.46395296278528',2,255),('500:-1.46395296278528',2,318),('500:-1.46395296278528',2,384),('500:-1.46395296278528',2,330),('500:-1.46395296278528',2,177),('500:-1.46395296278528',2,48),('500:-1.46395296278528',2,340),('500:-1.46395296278528',2,198),('500:-1.46395296278528',2,8),('500:-1.46395296278528',2,388),('500:-1.46395296278528',2,456),('500:-1.46395296278528',2,163),('500:-1.46395296278528',2,288),('500:-1.46395296278528',2,470),('500:-1.46395296278528',2,217),('500:-1.46395296278528',2,420),('500:-1.46395296278528',2,277),('500:-1.46395296278528',2,22),('500:-1.46395296278528',2,29),('500:-1.46395296278528',2,354),('500:-1.46395296278528',2,385),('500:-1.46395296278528',3,84),('500:-1.46395296278528',3,382),('500:-1.46395296278528',3,53),('500:-1.46395296278528',3,83),('500:-1.46395296278528',3,362),('500:-1.46395296278528',3,17),('500:-1.46395296278528',3,329),('500:-1.46395296278528',3,380),('500:-1.46395296278528',3,140),('500:-1.46395296278528',3,205),('500:-1.46395296278528',3,137),('500:-1.46395296278528',3,0),('500:-1.46395296278528',3,112),('500:-1.46395296278528',3,335),('500:-1.46395296278528',3,86),('500:-1.46395296278528',3,312),('500:-1.46395296278528',3,169),('500:-1.46395296278528',3,225),('500:-1.46395296278528',3,66),('500:-1.46395296278528',3,374),('500:-1.46395296278528',3,406),('500:-1.46395296278528',3,25),('500:-1.46395296278528',3,301),('500:-1.46395296278528',3,326),('500:-1.46395296278528',3,42),('500:-1.46395296278528',3,244),('500:-1.46395296278528',3,118),('500:-1.46395296278528',3,336),('500:-1.46395296278528',3,491),('500:-1.46395296278528',3,223),('500:-1.46395296278528',3,212),('500:-1.46395296278528',3,221),('500:-1.46395296278528',3,299),('500:-1.46395296278528',3,104),('500:-1.46395296278528',3,203),('500:-1.46395296278528',3,448),('500:-1.46395296278528',3,204),('500:-1.46395296278528',3,105),('500:-1.46395296278528',3,466),('500:-1.46395296278528',3,248),('500:-1.46395296278528',3,273),('500:-1.46395296278528',3,439),('500:-1.46395296278528',3,73),('500:-1.46395296278528',3,293),('500:-1.46395296278528',3,414),('500:-1.46395296278528',3,27),('500:-1.46395296278528',3,453),('500:-1.46395296278528',3,108),('500:-1.46395296278528',3,272),('500:-1.46395296278528',3,255),('500:-1.46395296278528',3,32),('500:-1.46395296278528',3,265),('500:-1.46395296278528',3,125),('500:-1.46395296278528',3,192),('500:-1.46395296278528',3,352),('500:-1.46395296278528',3,317),('500:-1.46395296278528',3,102),('500:-1.46395296278528',3,260),('500:-1.46395296278528',3,446),('500:-1.46395296278528',3,111),('500:-1.46395296278528',3,315),('500:-1.46395296278528',3,147),('500:-1.46395296278528',3,247),('500:-1.46395296278528',3,222),('500:-1.46395296278528',3,304),('500:-1.46395296278528',3,391),('500:-1.46395296278528',3,35),('500:-1.46395296278528',3,127),('500:-1.46395296278528',3,218),('500:-1.46395296278528',3,344),('500:-1.46395296278528',3,78),('500:-1.46395296278528',3,261),('500:-1.46395296278528',3,65),('500:-1.46395296278528',3,493),('500:-1.46395296278528',3,99),('500:-1.46395296278528',3,316),('500:-1.46395296278528',3,393),('500:-1.46395296278528',3,245),('500:-1.46395296278528',3,337),('500:-1.46395296278528',3,296),('500:-1.46395296278528',3,377),('500:-1.46395296278528',3,300),('500:-1.46395296278528',3,339),('500:-1.46395296278528',3,22),('500:-1.46395296278528',3,250),('500:-1.46395296278528',3,302),('500:-1.46395296278528',3,432),('500:-1.46395296278528',3,184),('500:-1.46395296278528',3,306),('500:-1.46395296278528',3,165),('500:-1.46395296278528',3,485),('500:-1.46395296278528',3,14),('500:-1.46395296278528',3,175),('500:-1.46395296278528',3,158),('500:-1.46395296278528',3,461),('500:-1.46395296278528',3,240),('500:-1.46395296278528',3,46),('500:-1.46395296278528',3,217),('500:-1.46395296278528',3,5),('500:-1.46395296278528',3,419),('500:-1.46395296278528',4,98),('500:-1.46395296278528',4,343),('500:-1.46395296278528',4,357),('500:-1.46395296278528',4,275),('500:-1.46395296278528',4,220),('500:-1.46395296278528',4,57),('500:-1.46395296278528',4,413),('500:-1.46395296278528',4,462),('500:-1.46395296278528',4,231),('500:-1.46395296278528',4,175),('500:-1.46395296278528',4,197),('500:-1.46395296278528',4,325),('500:-1.46395296278528',4,70),('500:-1.46395296278528',4,464),('500:-1.46395296278528',4,345),('500:-1.46395296278528',4,94),('500:-1.46395296278528',4,233),('500:-1.46395296278528',4,110),('500:-1.46395296278528',4,468),('500:-1.46395296278528',4,256),('500:-1.46395296278528',4,459),('500:-1.46395296278528',4,38),('500:-1.46395296278528',4,425),('500:-1.46395296278528',4,209),('500:-1.46395296278528',4,365),('500:-1.46395296278528',4,383),('500:-1.46395296278528',4,62),('500:-1.46395296278528',4,179),('500:-1.46395296278528',4,50),('500:-1.46395296278528',4,138),('500:-1.46395296278528',4,143),('500:-1.46395296278528',4,484),('500:-1.46395296278528',4,472),('500:-1.46395296278528',4,448),('500:-1.46395296278528',4,147),('500:-1.46395296278528',4,184),('500:-1.46395296278528',4,235),('500:-1.46395296278528',4,389),('500:-1.46395296278528',4,454),('500:-1.46395296278528',4,224),('500:-1.46395296278528',4,326),('500:-1.46395296278528',4,265),('500:-1.46395296278528',4,364),('500:-1.46395296278528',4,402),('500:-1.46395296278528',4,388),('500:-1.46395296278528',4,339),('500:-1.46395296278528',4,238),('500:-1.46395296278528',4,479),('500:-1.46395296278528',4,226),('500:-1.46395296278528',4,123),('500:-1.46395296278528',4,217),('500:-1.46395296278528',4,407),('500:-1.46395296278528',4,247),('500:-1.46395296278528',4,460),('500:-1.46395296278528',4,85),('500:-1.46395296278528',4,52),('500:-1.46395296278528',4,277),('500:-1.46395296278528',4,82),('500:-1.46395296278528',4,103),('500:-1.46395296278528',4,41),('500:-1.46395296278528',4,193),('500:-1.46395296278528',4,271),('500:-1.46395296278528',4,202),('500:-1.46395296278528',4,222),('500:-1.46395296278528',4,293),('500:-1.46395296278528',4,113),('500:-1.46395296278528',4,283),('500:-1.46395296278528',4,49),('500:-1.46395296278528',4,264),('500:-1.46395296278528',4,127),('500:-1.46395296278528',4,273),('500:-1.46395296278528',4,133),('500:-1.46395296278528',4,480),('500:-1.46395296278528',4,29),('500:-1.46395296278528',4,159),('500:-1.46395296278528',4,434),('500:-1.46395296278528',4,327),('500:-1.46395296278528',4,471),('500:-1.46395296278528',4,281),('500:-1.46395296278528',4,368),('500:-1.46395296278528',4,242),('500:-1.46395296278528',4,112),('500:-1.46395296278528',4,420),('500:-1.46395296278528',4,315),('500:-1.46395296278528',4,360),('500:-1.46395296278528',4,456),('500:-1.46395296278528',4,183),('500:-1.46395296278528',4,305),('500:-1.46395296278528',4,330),('500:-1.46395296278528',4,436),('500:-1.46395296278528',4,322),('500:-1.46395296278528',4,291),('500:-1.46395296278528',4,237),('500:-1.46395296278528',4,415),('500:-1.46395296278528',4,141),('500:-1.46395296278528',4,54),('500:-1.46395296278528',4,45),('500:-1.46395296278528',4,91),('500:-1.46395296278528',4,387),('500:-1.46395296278528',4,30),('500:-1.46395296278528',5,448),('500:-1.46395296278528',5,414),('500:-1.46395296278528',5,118),('500:-1.46395296278528',5,447),('500:-1.46395296278528',5,440),('500:-1.46395296278528',5,492),('500:-1.46395296278528',5,186),('500:-1.46395296278528',5,395),('500:-1.46395296278528',5,236),('500:-1.46395296278528',5,326),('500:-1.46395296278528',5,298),('500:-1.46395296278528',5,130),('500:-1.46395296278528',5,53),('500:-1.46395296278528',5,322),('500:-1.46395296278528',5,359),('500:-1.46395296278528',5,378),('500:-1.46395296278528',5,483),('500:-1.46395296278528',5,446),('500:-1.46395296278528',5,203),('500:-1.46395296278528',5,393),('500:-1.46395296278528',5,205),('500:-1.46395296278528',5,189),('500:-1.46395296278528',5,441),('500:-1.46395296278528',5,4),('500:-1.46395296278528',5,218),('500:-1.46395296278528',5,288),('500:-1.46395296278528',5,77),('500:-1.46395296278528',5,336),('500:-1.46395296278528',5,343),('500:-1.46395296278528',5,104),('500:-1.46395296278528',5,206),('500:-1.46395296278528',5,27),('500:-1.46395296278528',5,233),('500:-1.46395296278528',5,487),('500:-1.46395296278528',5,108),('500:-1.46395296278528',5,13),('500:-1.46395296278528',5,357),('500:-1.46395296278528',5,56),('500:-1.46395296278528',5,349),('500:-1.46395296278528',5,179),('500:-1.46395296278528',5,193),('500:-1.46395296278528',5,194),('500:-1.46395296278528',5,268),('500:-1.46395296278528',5,45),('500:-1.46395296278528',5,293),('500:-1.46395296278528',5,31),('500:-1.46395296278528',5,364),('500:-1.46395296278528',5,204),('500:-1.46395296278528',5,376),('500:-1.46395296278528',5,85),('500:-1.46395296278528',5,366),('500:-1.46395296278528',5,10),('500:-1.46395296278528',5,296),('500:-1.46395296278528',5,36),('500:-1.46395296278528',5,24),('500:-1.46395296278528',5,341),('500:-1.46395296278528',5,396),('500:-1.46395296278528',5,356),('500:-1.46395296278528',5,241),('500:-1.46395296278528',5,38),('500:-1.46395296278528',5,380),('500:-1.46395296278528',5,81),('500:-1.46395296278528',5,197),('500:-1.46395296278528',5,188),('500:-1.46395296278528',5,208),('500:-1.46395296278528',5,438),('500:-1.46395296278528',5,480),('500:-1.46395296278528',5,292),('500:-1.46395296278528',5,459),('500:-1.46395296278528',5,379),('500:-1.46395296278528',5,425),('500:-1.46395296278528',5,220),('500:-1.46395296278528',5,422),('500:-1.46395296278528',5,321),('500:-1.46395296278528',5,485),('500:-1.46395296278528',5,19),('500:-1.46395296278528',5,374),('500:-1.46395296278528',5,210),('500:-1.46395296278528',5,340),('500:-1.46395296278528',5,28),('500:-1.46395296278528',5,147),('500:-1.46395296278528',5,498),('500:-1.46395296278528',5,269),('500:-1.46395296278528',5,260),('500:-1.46395296278528',5,265),('500:-1.46395296278528',5,287),('500:-1.46395296278528',5,66),('500:-1.46395296278528',5,200),('500:-1.46395296278528',5,82),('500:-1.46395296278528',5,234),('500:-1.46395296278528',5,2),('500:-1.46395296278528',5,165),('500:-1.46395296278528',5,407),('500:-1.46395296278528',5,211),('500:-1.46395296278528',5,254),('500:-1.46395296278528',5,475),('500:-1.46395296278528',5,215),('500:-1.46395296278528',5,267),('500:-1.46395296278528',5,131),('500:-1.46395296278528',5,272),('500:-1.46395296278528',6,434),('500:-1.46395296278528',6,280),('500:-1.46395296278528',6,213),('500:-1.46395296278528',6,252),('500:-1.46395296278528',6,141),('500:-1.46395296278528',6,155),('500:-1.46395296278528',6,334),('500:-1.46395296278528',6,444),('500:-1.46395296278528',6,313),('500:-1.46395296278528',6,378),('500:-1.46395296278528',6,322),('500:-1.46395296278528',6,140),('500:-1.46395296278528',6,63),('500:-1.46395296278528',6,489),('500:-1.46395296278528',6,26),('500:-1.46395296278528',6,445),('500:-1.46395296278528',6,151),('500:-1.46395296278528',6,375),('500:-1.46395296278528',6,118),('500:-1.46395296278528',6,307),('500:-1.46395296278528',6,329),('500:-1.46395296278528',6,437),('500:-1.46395296278528',6,112),('500:-1.46395296278528',6,481),('500:-1.46395296278528',6,439),('500:-1.46395296278528',6,25),('500:-1.46395296278528',6,499),('500:-1.46395296278528',6,20),('500:-1.46395296278528',6,497),('500:-1.46395296278528',6,124),('500:-1.46395296278528',6,177),('500:-1.46395296278528',6,387),('500:-1.46395296278528',6,190),('500:-1.46395296278528',6,369),('500:-1.46395296278528',6,424),('500:-1.46395296278528',6,297),('500:-1.46395296278528',6,397),('500:-1.46395296278528',6,216),('500:-1.46395296278528',6,395),('500:-1.46395296278528',6,433),('500:-1.46395296278528',6,279),('500:-1.46395296278528',6,427),('500:-1.46395296278528',6,381),('500:-1.46395296278528',6,78),('500:-1.46395296278528',6,281),('500:-1.46395296278528',6,438),('500:-1.46395296278528',6,39),('500:-1.46395296278528',6,24),('500:-1.46395296278528',6,342),('500:-1.46395296278528',6,183),('500:-1.46395296278528',6,312),('500:-1.46395296278528',6,157),('500:-1.46395296278528',6,238),('500:-1.46395296278528',6,56),('500:-1.46395296278528',6,23),('500:-1.46395296278528',6,355),('500:-1.46395296278528',6,221),('500:-1.46395296278528',6,315),('500:-1.46395296278528',6,246),('500:-1.46395296278528',6,237),('500:-1.46395296278528',6,260),('500:-1.46395296278528',6,210),('500:-1.46395296278528',6,191),('500:-1.46395296278528',6,7),('500:-1.46395296278528',6,154),('500:-1.46395296278528',6,463),('500:-1.46395296278528',6,105),('500:-1.46395296278528',6,171),('500:-1.46395296278528',6,244),('500:-1.46395296278528',6,232),('500:-1.46395296278528',6,432),('500:-1.46395296278528',6,71),('500:-1.46395296278528',6,52),('500:-1.46395296278528',6,350),('500:-1.46395296278528',6,480),('500:-1.46395296278528',6,349),('500:-1.46395296278528',6,406),('500:-1.46395296278528',6,127),('500:-1.46395296278528',6,362),('500:-1.46395296278528',6,41),('500:-1.46395296278528',6,382),('500:-1.46395296278528',6,365),('500:-1.46395296278528',6,175),('500:-1.46395296278528',6,211),('500:-1.46395296278528',6,475),('500:-1.46395296278528',6,379),('500:-1.46395296278528',6,368),('500:-1.46395296278528',6,104),('500:-1.46395296278528',6,144),('500:-1.46395296278528',6,231),('500:-1.46395296278528',6,233),('500:-1.46395296278528',6,346),('500:-1.46395296278528',6,248),('500:-1.46395296278528',6,471),('500:-1.46395296278528',6,86),('500:-1.46395296278528',6,345),('500:-1.46395296278528',6,310),('500:-1.46395296278528',6,467),('500:-1.46395296278528',6,122),('500:-1.46395296278528',6,302),('500:-1.46395296278528',7,29),('500:-1.46395296278528',7,276),('500:-1.46395296278528',7,329),('500:-1.46395296278528',7,163),('500:-1.46395296278528',7,347),('500:-1.46395296278528',7,249),('500:-1.46395296278528',7,59),('500:-1.46395296278528',7,371),('500:-1.46395296278528',7,383),('500:-1.46395296278528',7,370),('500:-1.46395296278528',7,97),('500:-1.46395296278528',7,466),('500:-1.46395296278528',7,55),('500:-1.46395296278528',7,139),('500:-1.46395296278528',7,98),('500:-1.46395296278528',7,434),('500:-1.46395296278528',7,124),('500:-1.46395296278528',7,231),('500:-1.46395296278528',7,310),('500:-1.46395296278528',7,451),('500:-1.46395296278528',7,185),('500:-1.46395296278528',7,323),('500:-1.46395296278528',7,80),('500:-1.46395296278528',7,285),('500:-1.46395296278528',7,469),('500:-1.46395296278528',7,353),('500:-1.46395296278528',7,375),('500:-1.46395296278528',7,368),('500:-1.46395296278528',7,42),('500:-1.46395296278528',7,360),('500:-1.46395296278528',7,18),('500:-1.46395296278528',7,325),('500:-1.46395296278528',7,167),('500:-1.46395296278528',7,227),('500:-1.46395296278528',7,304),('500:-1.46395296278528',7,25),('500:-1.46395296278528',7,305),('500:-1.46395296278528',7,48),('500:-1.46395296278528',7,444),('500:-1.46395296278528',7,157),('500:-1.46395296278528',7,319),('500:-1.46395296278528',7,291),('500:-1.46395296278528',7,113),('500:-1.46395296278528',7,122),('500:-1.46395296278528',7,151),('500:-1.46395296278528',7,82),('500:-1.46395296278528',7,153),('500:-1.46395296278528',7,119),('500:-1.46395296278528',7,216),('500:-1.46395296278528',7,382),('500:-1.46395296278528',7,217),('500:-1.46395296278528',7,198),('500:-1.46395296278528',7,312),('500:-1.46395296278528',7,351),('500:-1.46395296278528',7,367),('500:-1.46395296278528',7,342),('500:-1.46395296278528',7,344),('500:-1.46395296278528',7,436),('500:-1.46395296278528',7,495),('500:-1.46395296278528',7,390),('500:-1.46395296278528',7,63),('500:-1.46395296278528',7,68),('500:-1.46395296278528',7,463),('500:-1.46395296278528',7,459),('500:-1.46395296278528',7,453),('500:-1.46395296278528',7,102),('500:-1.46395296278528',7,222),('500:-1.46395296278528',7,429),('500:-1.46395296278528',7,169),('500:-1.46395296278528',7,327),('500:-1.46395296278528',7,52),('500:-1.46395296278528',7,138),('500:-1.46395296278528',7,62),('500:-1.46395296278528',7,182),('500:-1.46395296278528',7,318),('500:-1.46395296278528',7,392),('500:-1.46395296278528',7,95),('500:-1.46395296278528',7,425),('500:-1.46395296278528',7,94),('500:-1.46395296278528',7,237),('500:-1.46395296278528',7,143),('500:-1.46395296278528',7,6),('500:-1.46395296278528',7,235),('500:-1.46395296278528',7,161),('500:-1.46395296278528',7,251),('500:-1.46395296278528',7,324),('500:-1.46395296278528',7,238),('500:-1.46395296278528',7,399),('500:-1.46395296278528',7,283),('500:-1.46395296278528',7,416),('500:-1.46395296278528',7,44),('500:-1.46395296278528',7,287),('500:-1.46395296278528',7,396),('500:-1.46395296278528',7,83),('500:-1.46395296278528',7,271),('500:-1.46395296278528',7,441),('500:-1.46395296278528',7,366),('500:-1.46395296278528',7,403),('500:-1.46395296278528',7,202),('500:-1.46395296278528',7,9),('500:-1.46395296278528',8,190),('500:-1.46395296278528',8,487),('500:-1.46395296278528',8,385),('500:-1.46395296278528',8,231),('500:-1.46395296278528',8,320),('500:-1.46395296278528',8,257),('500:-1.46395296278528',8,347),('500:-1.46395296278528',8,395),('500:-1.46395296278528',8,31),('500:-1.46395296278528',8,210),('500:-1.46395296278528',8,349),('500:-1.46395296278528',8,90),('500:-1.46395296278528',8,455),('500:-1.46395296278528',8,118),('500:-1.46395296278528',8,209),('500:-1.46395296278528',8,424),('500:-1.46395296278528',8,51),('500:-1.46395296278528',8,132),('500:-1.46395296278528',8,410),('500:-1.46395296278528',8,444),('500:-1.46395296278528',8,142),('500:-1.46395296278528',8,265),('500:-1.46395296278528',8,237),('500:-1.46395296278528',8,155),('500:-1.46395296278528',8,20),('500:-1.46395296278528',8,292),('500:-1.46395296278528',8,47),('500:-1.46395296278528',8,376),('500:-1.46395296278528',8,166),('500:-1.46395296278528',8,101),('500:-1.46395296278528',8,185),('500:-1.46395296278528',8,497),('500:-1.46395296278528',8,95),('500:-1.46395296278528',8,368),('500:-1.46395296278528',8,224),('500:-1.46395296278528',8,29),('500:-1.46395296278528',8,182),('500:-1.46395296278528',8,427),('500:-1.46395296278528',8,77),('500:-1.46395296278528',8,89),('500:-1.46395296278528',8,341),('500:-1.46395296278528',8,284),('500:-1.46395296278528',8,61),('500:-1.46395296278528',8,34),('500:-1.46395296278528',8,475),('500:-1.46395296278528',8,28),('500:-1.46395296278528',8,58),('500:-1.46395296278528',8,147),('500:-1.46395296278528',8,168),('500:-1.46395296278528',8,371),('500:-1.46395296278528',8,179),('500:-1.46395296278528',8,419),('500:-1.46395296278528',8,280),('500:-1.46395296278528',8,407),('500:-1.46395296278528',8,401),('500:-1.46395296278528',8,436),('500:-1.46395296278528',8,456),('500:-1.46395296278528',8,49),('500:-1.46395296278528',8,136),('500:-1.46395296278528',8,211),('500:-1.46395296278528',8,207),('500:-1.46395296278528',8,340),('500:-1.46395296278528',8,418),('500:-1.46395296278528',8,220),('500:-1.46395296278528',8,152),('500:-1.46395296278528',8,139),('500:-1.46395296278528',8,213),('500:-1.46395296278528',8,187),('500:-1.46395296278528',8,105),('500:-1.46395296278528',8,302),('500:-1.46395296278528',8,143),('500:-1.46395296278528',8,26),('500:-1.46395296278528',8,277),('500:-1.46395296278528',8,97),('500:-1.46395296278528',8,66),('500:-1.46395296278528',8,451),('500:-1.46395296278528',8,63),('500:-1.46395296278528',8,108),('500:-1.46395296278528',8,273),('500:-1.46395296278528',8,421),('500:-1.46395296278528',8,33),('500:-1.46395296278528',8,403),('500:-1.46395296278528',8,367),('500:-1.46395296278528',8,476),('500:-1.46395296278528',8,130),('500:-1.46395296278528',8,365),('500:-1.46395296278528',8,250),('500:-1.46395296278528',8,35),('500:-1.46395296278528',8,68),('500:-1.46395296278528',8,4),('500:-1.46395296278528',8,15),('500:-1.46395296278528',8,478),('500:-1.46395296278528',8,413),('500:-1.46395296278528',8,202),('500:-1.46395296278528',8,471),('500:-1.46395296278528',8,194),('500:-1.46395296278528',8,21),('500:-1.46395296278528',8,282),('500:-1.46395296278528',8,428),('500:-1.46395296278528',8,249),('500:-1.46395296278528',9,365),('500:-1.46395296278528',9,426),('500:-1.46395296278528',9,343),('500:-1.46395296278528',9,381),('500:-1.46395296278528',9,154),('500:-1.46395296278528',9,305),('500:-1.46395296278528',9,300),('500:-1.46395296278528',9,352),('500:-1.46395296278528',9,37),('500:-1.46395296278528',9,369),('500:-1.46395296278528',9,95),('500:-1.46395296278528',9,410),('500:-1.46395296278528',9,143),('500:-1.46395296278528',9,60),('500:-1.46395296278528',9,493),('500:-1.46395296278528',9,170),('500:-1.46395296278528',9,21),('500:-1.46395296278528',9,350),('500:-1.46395296278528',9,496),('500:-1.46395296278528',9,129),('500:-1.46395296278528',9,2),('500:-1.46395296278528',9,364),('500:-1.46395296278528',9,342),('500:-1.46395296278528',9,320),('500:-1.46395296278528',9,18),('500:-1.46395296278528',9,392),('500:-1.46395296278528',9,178),('500:-1.46395296278528',9,23),('500:-1.46395296278528',9,458),('500:-1.46395296278528',9,373),('500:-1.46395296278528',9,182),('500:-1.46395296278528',9,302),('500:-1.46395296278528',9,261),('500:-1.46395296278528',9,82),('500:-1.46395296278528',9,406),('500:-1.46395296278528',9,307),('500:-1.46395296278528',9,417),('500:-1.46395296278528',9,93),('500:-1.46395296278528',9,356),('500:-1.46395296278528',9,471),('500:-1.46395296278528',9,118),('500:-1.46395296278528',9,396),('500:-1.46395296278528',9,107),('500:-1.46395296278528',9,159),('500:-1.46395296278528',9,142),('500:-1.46395296278528',9,479),('500:-1.46395296278528',9,76),('500:-1.46395296278528',9,78),('500:-1.46395296278528',9,441),('500:-1.46395296278528',9,394),('500:-1.46395296278528',9,285),('500:-1.46395296278528',9,470),('500:-1.46395296278528',9,197),('500:-1.46395296278528',9,449),('500:-1.46395296278528',9,74),('500:-1.46395296278528',9,425),('500:-1.46395296278528',9,398),('500:-1.46395296278528',9,229),('500:-1.46395296278528',9,198),('500:-1.46395296278528',9,29),('500:-1.46395296278528',9,454),('500:-1.46395296278528',9,481),('500:-1.46395296278528',9,207),('500:-1.46395296278528',9,282),('500:-1.46395296278528',9,202),('500:-1.46395296278528',9,55),('500:-1.46395296278528',9,114),('500:-1.46395296278528',9,327),('500:-1.46395296278528',9,150),('500:-1.46395296278528',9,358),('500:-1.46395296278528',9,64),('500:-1.46395296278528',9,235),('500:-1.46395296278528',9,311),('500:-1.46395296278528',9,270),('500:-1.46395296278528',9,140),('500:-1.46395296278528',9,460),('500:-1.46395296278528',9,181),('500:-1.46395296278528',9,430),('500:-1.46395296278528',9,120),('500:-1.46395296278528',9,164),('500:-1.46395296278528',9,46),('500:-1.46395296278528',9,368),('500:-1.46395296278528',9,176),('500:-1.46395296278528',9,195),('500:-1.46395296278528',9,52),('500:-1.46395296278528',9,88),('500:-1.46395296278528',9,225),('500:-1.46395296278528',9,160),('500:-1.46395296278528',9,200),('500:-1.46395296278528',9,40),('500:-1.46395296278528',9,44),('500:-1.46395296278528',9,231),('500:-1.46395296278528',9,208),('500:-1.46395296278528',9,399),('500:-1.46395296278528',9,334),('500:-1.46395296278528',9,412),('500:-1.46395296278528',9,236),('500:-1.46395296278528',9,314),('500:-1.46395296278528',9,465),('500:-1.46395296278528',9,216),('500:1.08235486072832',0,498),('500:1.08235486072832',0,73),('500:1.08235486072832',0,464),('500:1.08235486072832',0,7),('500:1.08235486072832',0,327),('500:1.08235486072832',0,415),('500:1.08235486072832',0,6),('500:1.08235486072832',0,461),('500:1.08235486072832',0,483),('500:1.08235486072832',0,365),('500:1.08235486072832',0,318),('500:1.08235486072832',0,232),('500:1.08235486072832',0,423),('500:1.08235486072832',0,229),('500:1.08235486072832',0,214),('500:1.08235486072832',0,81),('500:1.08235486072832',0,353),('500:1.08235486072832',0,190),('500:1.08235486072832',0,334),('500:1.08235486072832',0,29),('500:1.08235486072832',0,387),('500:1.08235486072832',0,319),('500:1.08235486072832',0,320),('500:1.08235486072832',0,70),('500:1.08235486072832',0,36),('500:1.08235486072832',0,266),('500:1.08235486072832',0,84),('500:1.08235486072832',0,261),('500:1.08235486072832',0,85),('500:1.08235486072832',0,364),('500:1.08235486072832',0,270),('500:1.08235486072832',0,269),('500:1.08235486072832',0,345),('500:1.08235486072832',0,88),('500:1.08235486072832',0,108),('500:1.08235486072832',0,184),('500:1.08235486072832',0,35),('500:1.08235486072832',0,51),('500:1.08235486072832',0,407),('500:1.08235486072832',0,391),('500:1.08235486072832',0,397),('500:1.08235486072832',0,362),('500:1.08235486072832',0,268),('500:1.08235486072832',0,135),('500:1.08235486072832',0,27),('500:1.08235486072832',0,87),('500:1.08235486072832',0,56),('500:1.08235486072832',0,388),('500:1.08235486072832',0,337),('500:1.08235486072832',0,310),('500:1.08235486072832',0,303),('500:1.08235486072832',0,137),('500:1.08235486072832',0,412),('500:1.08235486072832',0,32),('500:1.08235486072832',0,374),('500:1.08235486072832',0,434),('500:1.08235486072832',0,370),('500:1.08235486072832',0,297),('500:1.08235486072832',0,177),('500:1.08235486072832',0,420),('500:1.08235486072832',0,103),('500:1.08235486072832',0,113),('500:1.08235486072832',0,220),('500:1.08235486072832',0,130),('500:1.08235486072832',0,248),('500:1.08235486072832',0,380),('500:1.08235486072832',0,472),('500:1.08235486072832',0,292),('500:1.08235486072832',0,489),('500:1.08235486072832',0,209),('500:1.08235486072832',0,399),('500:1.08235486072832',0,490),('500:1.08235486072832',0,99),('500:1.08235486072832',0,392),('500:1.08235486072832',0,340),('500:1.08235486072832',0,322),('500:1.08235486072832',0,30),('500:1.08235486072832',0,77),('500:1.08235486072832',0,425),('500:1.08235486072832',0,385),('500:1.08235486072832',0,479),('500:1.08235486072832',0,185),('500:1.08235486072832',0,284),('500:1.08235486072832',0,468),('500:1.08235486072832',0,329),('500:1.08235486072832',0,313),('500:1.08235486072832',0,386),('500:1.08235486072832',0,265),('500:1.08235486072832',0,17),('500:1.08235486072832',0,104),('500:1.08235486072832',0,485),('500:1.08235486072832',0,484),('500:1.08235486072832',0,372),('500:1.08235486072832',0,123),('500:1.08235486072832',0,83),('500:1.08235486072832',0,351),('500:1.08235486072832',0,186),('500:1.08235486072832',0,98),('500:1.08235486072832',0,378),('500:1.08235486072832',0,441),('500:1.08235486072832',1,243),('500:1.08235486072832',1,472),('500:1.08235486072832',1,27),('500:1.08235486072832',1,407),('500:1.08235486072832',1,203),('500:1.08235486072832',1,285),('500:1.08235486072832',1,268),('500:1.08235486072832',1,388),('500:1.08235486072832',1,64),('500:1.08235486072832',1,253),('500:1.08235486072832',1,441),('500:1.08235486072832',1,370),('500:1.08235486072832',1,22),('500:1.08235486072832',1,217),('500:1.08235486072832',1,30),('500:1.08235486072832',1,475),('500:1.08235486072832',1,465),('500:1.08235486072832',1,294),('500:1.08235486072832',1,222),('500:1.08235486072832',1,271),('500:1.08235486072832',1,187),('500:1.08235486072832',1,104),('500:1.08235486072832',1,423),('500:1.08235486072832',1,258),('500:1.08235486072832',1,213),('500:1.08235486072832',1,436),('500:1.08235486072832',1,329),('500:1.08235486072832',1,51),('500:1.08235486072832',1,477),('500:1.08235486072832',1,209),('500:1.08235486072832',1,8),('500:1.08235486072832',1,80),('500:1.08235486072832',1,363),('500:1.08235486072832',1,165),('500:1.08235486072832',1,314),('500:1.08235486072832',1,218),('500:1.08235486072832',1,474),('500:1.08235486072832',1,42),('500:1.08235486072832',1,283),('500:1.08235486072832',1,448),('500:1.08235486072832',1,2),('500:1.08235486072832',1,460),('500:1.08235486072832',1,10),('500:1.08235486072832',1,411),('500:1.08235486072832',1,16),('500:1.08235486072832',1,49),('500:1.08235486072832',1,261),('500:1.08235486072832',1,327),('500:1.08235486072832',1,455),('500:1.08235486072832',1,400),('500:1.08235486072832',1,145),('500:1.08235486072832',1,207),('500:1.08235486072832',1,17),('500:1.08235486072832',1,153),('500:1.08235486072832',1,378),('500:1.08235486072832',1,142),('500:1.08235486072832',1,73),('500:1.08235486072832',1,387),('500:1.08235486072832',1,105),('500:1.08235486072832',1,418),('500:1.08235486072832',1,29),('500:1.08235486072832',1,194),('500:1.08235486072832',1,498),('500:1.08235486072832',1,295),('500:1.08235486072832',1,85),('500:1.08235486072832',1,148),('500:1.08235486072832',1,351),('500:1.08235486072832',1,451),('500:1.08235486072832',1,412),('500:1.08235486072832',1,409),('500:1.08235486072832',1,46),('500:1.08235486072832',1,468),('500:1.08235486072832',1,54),('500:1.08235486072832',1,191),('500:1.08235486072832',1,347),('500:1.08235486072832',1,497),('500:1.08235486072832',1,228),('500:1.08235486072832',1,65),('500:1.08235486072832',1,328),('500:1.08235486072832',1,414),('500:1.08235486072832',1,39),('500:1.08235486072832',1,212),('500:1.08235486072832',1,312),('500:1.08235486072832',1,442),('500:1.08235486072832',1,324),('500:1.08235486072832',1,211),('500:1.08235486072832',1,19),('500:1.08235486072832',1,322),('500:1.08235486072832',1,177),('500:1.08235486072832',1,62),('500:1.08235486072832',1,336),('500:1.08235486072832',1,242),('500:1.08235486072832',1,60),('500:1.08235486072832',1,333),('500:1.08235486072832',1,399),('500:1.08235486072832',1,398),('500:1.08235486072832',1,215),('500:1.08235486072832',1,56),('500:1.08235486072832',1,483),('500:1.08235486072832',1,112),('500:1.08235486072832',2,112),('500:1.08235486072832',2,350),('500:1.08235486072832',2,243),('500:1.08235486072832',2,109),('500:1.08235486072832',2,128),('500:1.08235486072832',2,100),('500:1.08235486072832',2,188),('500:1.08235486072832',2,325),('500:1.08235486072832',2,49),('500:1.08235486072832',2,117),('500:1.08235486072832',2,358),('500:1.08235486072832',2,459),('500:1.08235486072832',2,340),('500:1.08235486072832',2,479),('500:1.08235486072832',2,266),('500:1.08235486072832',2,34),('500:1.08235486072832',2,352),('500:1.08235486072832',2,9),('500:1.08235486072832',2,37),('500:1.08235486072832',2,434),('500:1.08235486072832',2,233),('500:1.08235486072832',2,209),('500:1.08235486072832',2,436),('500:1.08235486072832',2,41),('500:1.08235486072832',2,256),('500:1.08235486072832',2,223),('500:1.08235486072832',2,399),('500:1.08235486072832',2,149),('500:1.08235486072832',2,182),('500:1.08235486072832',2,449),('500:1.08235486072832',2,327),('500:1.08235486072832',2,268),('500:1.08235486072832',2,389),('500:1.08235486072832',2,409),('500:1.08235486072832',2,396),('500:1.08235486072832',2,186),('500:1.08235486072832',2,23),('500:1.08235486072832',2,312),('500:1.08235486072832',2,17),('500:1.08235486072832',2,418),('500:1.08235486072832',2,457),('500:1.08235486072832',2,462),('500:1.08235486072832',2,150),('500:1.08235486072832',2,68),('500:1.08235486072832',2,221),('500:1.08235486072832',2,276),('500:1.08235486072832',2,442),('500:1.08235486072832',2,307),('500:1.08235486072832',2,181),('500:1.08235486072832',2,468),('500:1.08235486072832',2,431),('500:1.08235486072832',2,382),('500:1.08235486072832',2,77),('500:1.08235486072832',2,331),('500:1.08235486072832',2,5),('500:1.08235486072832',2,193),('500:1.08235486072832',2,71),('500:1.08235486072832',2,333),('500:1.08235486072832',2,54),('500:1.08235486072832',2,65),('500:1.08235486072832',2,411),('500:1.08235486072832',2,21),('500:1.08235486072832',2,354),('500:1.08235486072832',2,127),('500:1.08235486072832',2,496),('500:1.08235486072832',2,490),('500:1.08235486072832',2,404),('500:1.08235486072832',2,489),('500:1.08235486072832',2,6),('500:1.08235486072832',2,97),('500:1.08235486072832',2,99),('500:1.08235486072832',2,121),('500:1.08235486072832',2,236),('500:1.08235486072832',2,78),('500:1.08235486072832',2,395),('500:1.08235486072832',2,360),('500:1.08235486072832',2,355),('500:1.08235486072832',2,63),('500:1.08235486072832',2,423),('500:1.08235486072832',2,148),('500:1.08235486072832',2,7),('500:1.08235486072832',2,351),('500:1.08235486072832',2,320),('500:1.08235486072832',2,187),('500:1.08235486072832',2,244),('500:1.08235486072832',2,426),('500:1.08235486072832',2,22),('500:1.08235486072832',2,198),('500:1.08235486072832',2,274),('500:1.08235486072832',2,142),('500:1.08235486072832',2,85),('500:1.08235486072832',2,108),('500:1.08235486072832',2,486),('500:1.08235486072832',2,253),('500:1.08235486072832',2,191),('500:1.08235486072832',2,225),('500:1.08235486072832',2,86),('500:1.08235486072832',2,303),('500:1.08235486072832',2,155),('500:1.08235486072832',2,113),('500:1.08235486072832',3,130),('500:1.08235486072832',3,343),('500:1.08235486072832',3,474),('500:1.08235486072832',3,482),('500:1.08235486072832',3,315),('500:1.08235486072832',3,125),('500:1.08235486072832',3,114),('500:1.08235486072832',3,486),('500:1.08235486072832',3,237),('500:1.08235486072832',3,490),('500:1.08235486072832',3,33),('500:1.08235486072832',3,201),('500:1.08235486072832',3,406),('500:1.08235486072832',3,207),('500:1.08235486072832',3,301),('500:1.08235486072832',3,134),('500:1.08235486072832',3,421),('500:1.08235486072832',3,37),('500:1.08235486072832',3,437),('500:1.08235486072832',3,180),('500:1.08235486072832',3,204),('500:1.08235486072832',3,463),('500:1.08235486072832',3,363),('500:1.08235486072832',3,149),('500:1.08235486072832',3,25),('500:1.08235486072832',3,61),('500:1.08235486072832',3,112),('500:1.08235486072832',3,376),('500:1.08235486072832',3,44),('500:1.08235486072832',3,126),('500:1.08235486072832',3,143),('500:1.08235486072832',3,249),('500:1.08235486072832',3,140),('500:1.08235486072832',3,483),('500:1.08235486072832',3,419),('500:1.08235486072832',3,221),('500:1.08235486072832',3,440),('500:1.08235486072832',3,203),('500:1.08235486072832',3,439),('500:1.08235486072832',3,239),('500:1.08235486072832',3,493),('500:1.08235486072832',3,174),('500:1.08235486072832',3,468),('500:1.08235486072832',3,390),('500:1.08235486072832',3,194),('500:1.08235486072832',3,448),('500:1.08235486072832',3,121),('500:1.08235486072832',3,240),('500:1.08235486072832',3,361),('500:1.08235486072832',3,214),('500:1.08235486072832',3,368),('500:1.08235486072832',3,50),('500:1.08235486072832',3,210),('500:1.08235486072832',3,85),('500:1.08235486072832',3,338),('500:1.08235486072832',3,250),('500:1.08235486072832',3,410),('500:1.08235486072832',3,350),('500:1.08235486072832',3,404),('500:1.08235486072832',3,80),('500:1.08235486072832',3,341),('500:1.08235486072832',3,230),('500:1.08235486072832',3,479),('500:1.08235486072832',3,106),('500:1.08235486072832',3,182),('500:1.08235486072832',3,477),('500:1.08235486072832',3,403),('500:1.08235486072832',3,219),('500:1.08235486072832',3,88),('500:1.08235486072832',3,168),('500:1.08235486072832',3,418),('500:1.08235486072832',3,218),('500:1.08235486072832',3,323),('500:1.08235486072832',3,103),('500:1.08235486072832',3,155),('500:1.08235486072832',3,205),('500:1.08235486072832',3,233),('500:1.08235486072832',3,224),('500:1.08235486072832',3,5),('500:1.08235486072832',3,11),('500:1.08235486072832',3,296),('500:1.08235486072832',3,373),('500:1.08235486072832',3,476),('500:1.08235486072832',3,459),('500:1.08235486072832',3,128),('500:1.08235486072832',3,346),('500:1.08235486072832',3,455),('500:1.08235486072832',3,57),('500:1.08235486072832',3,58),('500:1.08235486072832',3,497),('500:1.08235486072832',3,21),('500:1.08235486072832',3,449),('500:1.08235486072832',3,499),('500:1.08235486072832',3,254),('500:1.08235486072832',3,331),('500:1.08235486072832',3,235),('500:1.08235486072832',3,464),('500:1.08235486072832',3,452),('500:1.08235486072832',3,351),('500:1.08235486072832',3,236),('500:1.08235486072832',4,280),('500:1.08235486072832',4,51),('500:1.08235486072832',4,394),('500:1.08235486072832',4,496),('500:1.08235486072832',4,81),('500:1.08235486072832',4,395),('500:1.08235486072832',4,412),('500:1.08235486072832',4,288),('500:1.08235486072832',4,235),('500:1.08235486072832',4,384),('500:1.08235486072832',4,434),('500:1.08235486072832',4,350),('500:1.08235486072832',4,89),('500:1.08235486072832',4,190),('500:1.08235486072832',4,92),('500:1.08235486072832',4,114),('500:1.08235486072832',4,214),('500:1.08235486072832',4,274),('500:1.08235486072832',4,445),('500:1.08235486072832',4,346),('500:1.08235486072832',4,107),('500:1.08235486072832',4,373),('500:1.08235486072832',4,218),('500:1.08235486072832',4,221),('500:1.08235486072832',4,333),('500:1.08235486072832',4,396),('500:1.08235486072832',4,163),('500:1.08235486072832',4,474),('500:1.08235486072832',4,424),('500:1.08235486072832',4,269),('500:1.08235486072832',4,471),('500:1.08235486072832',4,268),('500:1.08235486072832',4,281),('500:1.08235486072832',4,337),('500:1.08235486072832',4,402),('500:1.08235486072832',4,138),('500:1.08235486072832',4,353),('500:1.08235486072832',4,100),('500:1.08235486072832',4,343),('500:1.08235486072832',4,13),('500:1.08235486072832',4,366),('500:1.08235486072832',4,377),('500:1.08235486072832',4,462),('500:1.08235486072832',4,422),('500:1.08235486072832',4,459),('500:1.08235486072832',4,480),('500:1.08235486072832',4,406),('500:1.08235486072832',4,124),('500:1.08235486072832',4,191),('500:1.08235486072832',4,170),('500:1.08235486072832',4,239),('500:1.08235486072832',4,137),('500:1.08235486072832',4,28),('500:1.08235486072832',4,332),('500:1.08235486072832',4,315),('500:1.08235486072832',4,40),('500:1.08235486072832',4,49),('500:1.08235486072832',4,308),('500:1.08235486072832',4,477),('500:1.08235486072832',4,251),('500:1.08235486072832',4,200),('500:1.08235486072832',4,413),('500:1.08235486072832',4,213),('500:1.08235486072832',4,254),('500:1.08235486072832',4,55),('500:1.08235486072832',4,279),('500:1.08235486072832',4,363),('500:1.08235486072832',4,329),('500:1.08235486072832',4,327),('500:1.08235486072832',4,11),('500:1.08235486072832',4,63),('500:1.08235486072832',4,324),('500:1.08235486072832',4,427),('500:1.08235486072832',4,198),('500:1.08235486072832',4,171),('500:1.08235486072832',4,364),('500:1.08235486072832',4,336),('500:1.08235486072832',4,475),('500:1.08235486072832',4,479),('500:1.08235486072832',4,189),('500:1.08235486072832',4,365),('500:1.08235486072832',4,25),('500:1.08235486072832',4,215),('500:1.08235486072832',4,134),('500:1.08235486072832',4,186),('500:1.08235486072832',4,232),('500:1.08235486072832',4,433),('500:1.08235486072832',4,372),('500:1.08235486072832',4,26),('500:1.08235486072832',4,399),('500:1.08235486072832',4,360),('500:1.08235486072832',4,472),('500:1.08235486072832',4,98),('500:1.08235486072832',4,34),('500:1.08235486072832',4,162),('500:1.08235486072832',4,310),('500:1.08235486072832',4,323),('500:1.08235486072832',4,379),('500:1.08235486072832',4,45),('500:1.08235486072832',4,152),('500:1.08235486072832',5,419),('500:1.08235486072832',5,379),('500:1.08235486072832',5,266),('500:1.08235486072832',5,451),('500:1.08235486072832',5,133),('500:1.08235486072832',5,182),('500:1.08235486072832',5,359),('500:1.08235486072832',5,121),('500:1.08235486072832',5,316),('500:1.08235486072832',5,126),('500:1.08235486072832',5,454),('500:1.08235486072832',5,211),('500:1.08235486072832',5,362),('500:1.08235486072832',5,361),('500:1.08235486072832',5,464),('500:1.08235486072832',5,337),('500:1.08235486072832',5,404),('500:1.08235486072832',5,219),('500:1.08235486072832',5,32),('500:1.08235486072832',5,36),('500:1.08235486072832',5,200),('500:1.08235486072832',5,431),('500:1.08235486072832',5,455),('500:1.08235486072832',5,474),('500:1.08235486072832',5,468),('500:1.08235486072832',5,386),('500:1.08235486072832',5,27),('500:1.08235486072832',5,396),('500:1.08235486072832',5,113),('500:1.08235486072832',5,367),('500:1.08235486072832',5,499),('500:1.08235486072832',5,149),('500:1.08235486072832',5,408),('500:1.08235486072832',5,250),('500:1.08235486072832',5,387),('500:1.08235486072832',5,21),('500:1.08235486072832',5,19),('500:1.08235486072832',5,480),('500:1.08235486072832',5,315),('500:1.08235486072832',5,203),('500:1.08235486072832',5,497),('500:1.08235486072832',5,22),('500:1.08235486072832',5,235),('500:1.08235486072832',5,152),('500:1.08235486072832',5,54),('500:1.08235486072832',5,312),('500:1.08235486072832',5,263),('500:1.08235486072832',5,241),('500:1.08235486072832',5,493),('500:1.08235486072832',5,406),('500:1.08235486072832',5,127),('500:1.08235486072832',5,111),('500:1.08235486072832',5,6),('500:1.08235486072832',5,435),('500:1.08235486072832',5,309),('500:1.08235486072832',5,244),('500:1.08235486072832',5,339),('500:1.08235486072832',5,255),('500:1.08235486072832',5,28),('500:1.08235486072832',5,95),('500:1.08235486072832',5,156),('500:1.08235486072832',5,65),('500:1.08235486072832',5,86),('500:1.08235486072832',5,492),('500:1.08235486072832',5,173),('500:1.08235486072832',5,161),('500:1.08235486072832',5,139),('500:1.08235486072832',5,225),('500:1.08235486072832',5,440),('500:1.08235486072832',5,422),('500:1.08235486072832',5,400),('500:1.08235486072832',5,349),('500:1.08235486072832',5,194),('500:1.08235486072832',5,171),('500:1.08235486072832',5,62),('500:1.08235486072832',5,254),('500:1.08235486072832',5,301),('500:1.08235486072832',5,249),('500:1.08235486072832',5,442),('500:1.08235486072832',5,25),('500:1.08235486072832',5,136),('500:1.08235486072832',5,18),('500:1.08235486072832',5,94),('500:1.08235486072832',5,207),('500:1.08235486072832',5,275),('500:1.08235486072832',5,56),('500:1.08235486072832',5,371),('500:1.08235486072832',5,242),('500:1.08235486072832',5,489),('500:1.08235486072832',5,11),('500:1.08235486072832',5,458),('500:1.08235486072832',5,66),('500:1.08235486072832',5,243),('500:1.08235486072832',5,201),('500:1.08235486072832',5,328),('500:1.08235486072832',5,248),('500:1.08235486072832',5,448),('500:1.08235486072832',5,8),('500:1.08235486072832',5,50),('500:1.08235486072832',5,236),('500:1.08235486072832',6,350),('500:1.08235486072832',6,403),('500:1.08235486072832',6,260),('500:1.08235486072832',6,252),('500:1.08235486072832',6,345),('500:1.08235486072832',6,371),('500:1.08235486072832',6,145),('500:1.08235486072832',6,443),('500:1.08235486072832',6,81),('500:1.08235486072832',6,186),('500:1.08235486072832',6,351),('500:1.08235486072832',6,197),('500:1.08235486072832',6,430),('500:1.08235486072832',6,105),('500:1.08235486072832',6,465),('500:1.08235486072832',6,40),('500:1.08235486072832',6,156),('500:1.08235486072832',6,8),('500:1.08235486072832',6,271),('500:1.08235486072832',6,213),('500:1.08235486072832',6,118),('500:1.08235486072832',6,214),('500:1.08235486072832',6,192),('500:1.08235486072832',6,303),('500:1.08235486072832',6,199),('500:1.08235486072832',6,99),('500:1.08235486072832',6,111),('500:1.08235486072832',6,380),('500:1.08235486072832',6,82),('500:1.08235486072832',6,381),('500:1.08235486072832',6,425),('500:1.08235486072832',6,130),('500:1.08235486072832',6,123),('500:1.08235486072832',6,146),('500:1.08235486072832',6,13),('500:1.08235486072832',6,399),('500:1.08235486072832',6,170),('500:1.08235486072832',6,238),('500:1.08235486072832',6,327),('500:1.08235486072832',6,472),('500:1.08235486072832',6,29),('500:1.08235486072832',6,166),('500:1.08235486072832',6,101),('500:1.08235486072832',6,277),('500:1.08235486072832',6,274),('500:1.08235486072832',6,0),('500:1.08235486072832',6,266),('500:1.08235486072832',6,72),('500:1.08235486072832',6,408),('500:1.08235486072832',6,270),('500:1.08235486072832',6,322),('500:1.08235486072832',6,429),('500:1.08235486072832',6,287),('500:1.08235486072832',6,386),('500:1.08235486072832',6,273),('500:1.08235486072832',6,410),('500:1.08235486072832',6,88),('500:1.08235486072832',6,432),('500:1.08235486072832',6,167),('500:1.08235486072832',6,438),('500:1.08235486072832',6,296),('500:1.08235486072832',6,480),('500:1.08235486072832',6,189),('500:1.08235486072832',6,265),('500:1.08235486072832',6,103),('500:1.08235486072832',6,369),('500:1.08235486072832',6,242),('500:1.08235486072832',6,217),('500:1.08235486072832',6,4),('500:1.08235486072832',6,387),('500:1.08235486072832',6,453),('500:1.08235486072832',6,388),('500:1.08235486072832',6,22),('500:1.08235486072832',6,7),('500:1.08235486072832',6,395),('500:1.08235486072832',6,184),('500:1.08235486072832',6,221),('500:1.08235486072832',6,446),('500:1.08235486072832',6,53),('500:1.08235486072832',6,120),('500:1.08235486072832',6,20),('500:1.08235486072832',6,241),('500:1.08235486072832',6,223),('500:1.08235486072832',6,334),('500:1.08235486072832',6,377),('500:1.08235486072832',6,231),('500:1.08235486072832',6,133),('500:1.08235486072832',6,56),('500:1.08235486072832',6,420),('500:1.08235486072832',6,457),('500:1.08235486072832',6,372),('500:1.08235486072832',6,1),('500:1.08235486072832',6,382),('500:1.08235486072832',6,469),('500:1.08235486072832',6,177),('500:1.08235486072832',6,85),('500:1.08235486072832',6,227),('500:1.08235486072832',6,212),('500:1.08235486072832',6,200),('500:1.08235486072832',6,149),('500:1.08235486072832',7,340),('500:1.08235486072832',7,467),('500:1.08235486072832',7,17),('500:1.08235486072832',7,209),('500:1.08235486072832',7,0),('500:1.08235486072832',7,88),('500:1.08235486072832',7,49),('500:1.08235486072832',7,86),('500:1.08235486072832',7,269),('500:1.08235486072832',7,418),('500:1.08235486072832',7,479),('500:1.08235486072832',7,156),('500:1.08235486072832',7,425),('500:1.08235486072832',7,310),('500:1.08235486072832',7,108),('500:1.08235486072832',7,229),('500:1.08235486072832',7,445),('500:1.08235486072832',7,184),('500:1.08235486072832',7,276),('500:1.08235486072832',7,415),('500:1.08235486072832',7,468),('500:1.08235486072832',7,334),('500:1.08235486072832',7,270),('500:1.08235486072832',7,59),('500:1.08235486072832',7,189),('500:1.08235486072832',7,70),('500:1.08235486072832',7,332),('500:1.08235486072832',7,471),('500:1.08235486072832',7,103),('500:1.08235486072832',7,459),('500:1.08235486072832',7,330),('500:1.08235486072832',7,385),('500:1.08235486072832',7,327),('500:1.08235486072832',7,261),('500:1.08235486072832',7,280),('500:1.08235486072832',7,112),('500:1.08235486072832',7,391),('500:1.08235486072832',7,375),('500:1.08235486072832',7,307),('500:1.08235486072832',7,171),('500:1.08235486072832',7,218),('500:1.08235486072832',7,78),('500:1.08235486072832',7,6),('500:1.08235486072832',7,293),('500:1.08235486072832',7,474),('500:1.08235486072832',7,357),('500:1.08235486072832',7,442),('500:1.08235486072832',7,191),('500:1.08235486072832',7,427),('500:1.08235486072832',7,366),('500:1.08235486072832',7,439),('500:1.08235486072832',7,407),('500:1.08235486072832',7,363),('500:1.08235486072832',7,152),('500:1.08235486072832',7,292),('500:1.08235486072832',7,214),('500:1.08235486072832',7,13),('500:1.08235486072832',7,339),('500:1.08235486072832',7,498),('500:1.08235486072832',7,435),('500:1.08235486072832',7,373),('500:1.08235486072832',7,414),('500:1.08235486072832',7,387),('500:1.08235486072832',7,213),('500:1.08235486072832',7,232),('500:1.08235486072832',7,99),('500:1.08235486072832',7,268),('500:1.08235486072832',7,54),('500:1.08235486072832',7,107),('500:1.08235486072832',7,162),('500:1.08235486072832',7,170),('500:1.08235486072832',7,483),('500:1.08235486072832',7,266),('500:1.08235486072832',7,9),('500:1.08235486072832',7,358),('500:1.08235486072832',7,308),('500:1.08235486072832',7,350),('500:1.08235486072832',7,91),('500:1.08235486072832',7,149),('500:1.08235486072832',7,22),('500:1.08235486072832',7,490),('500:1.08235486072832',7,221),('500:1.08235486072832',7,259),('500:1.08235486072832',7,464),('500:1.08235486072832',7,342),('500:1.08235486072832',7,486),('500:1.08235486072832',7,297),('500:1.08235486072832',7,383),('500:1.08235486072832',7,95),('500:1.08235486072832',7,2),('500:1.08235486072832',7,422),('500:1.08235486072832',7,153),('500:1.08235486072832',7,324),('500:1.08235486072832',7,368),('500:1.08235486072832',7,65),('500:1.08235486072832',7,148),('500:1.08235486072832',7,336),('500:1.08235486072832',7,470),('500:1.08235486072832',7,441),('500:1.08235486072832',7,411),('500:1.08235486072832',8,497),('500:1.08235486072832',8,39),('500:1.08235486072832',8,196),('500:1.08235486072832',8,161),('500:1.08235486072832',8,271),('500:1.08235486072832',8,222),('500:1.08235486072832',8,173),('500:1.08235486072832',8,138),('500:1.08235486072832',8,44),('500:1.08235486072832',8,35),('500:1.08235486072832',8,111),('500:1.08235486072832',8,338),('500:1.08235486072832',8,315),('500:1.08235486072832',8,3),('500:1.08235486072832',8,260),('500:1.08235486072832',8,58),('500:1.08235486072832',8,14),('500:1.08235486072832',8,140),('500:1.08235486072832',8,301),('500:1.08235486072832',8,114),('500:1.08235486072832',8,262),('500:1.08235486072832',8,403),('500:1.08235486072832',8,406),('500:1.08235486072832',8,146),('500:1.08235486072832',8,224),('500:1.08235486072832',8,109),('500:1.08235486072832',8,31),('500:1.08235486072832',8,296),('500:1.08235486072832',8,463),('500:1.08235486072832',8,126),('500:1.08235486072832',8,167),('500:1.08235486072832',8,147),('500:1.08235486072832',8,499),('500:1.08235486072832',8,217),('500:1.08235486072832',8,405),('500:1.08235486072832',8,433),('500:1.08235486072832',8,144),('500:1.08235486072832',8,367),('500:1.08235486072832',8,294),('500:1.08235486072832',8,176),('500:1.08235486072832',8,10),('500:1.08235486072832',8,392),('500:1.08235486072832',8,178),('500:1.08235486072832',8,242),('500:1.08235486072832',8,125),('500:1.08235486072832',8,470),('500:1.08235486072832',8,272),('500:1.08235486072832',8,323),('500:1.08235486072832',8,376),('500:1.08235486072832',8,80),('500:1.08235486072832',8,121),('500:1.08235486072832',8,78),('500:1.08235486072832',8,61),('500:1.08235486072832',8,131),('500:1.08235486072832',8,57),('500:1.08235486072832',8,72),('500:1.08235486072832',8,265),('500:1.08235486072832',8,342),('500:1.08235486072832',8,244),('500:1.08235486072832',8,456),('500:1.08235486072832',8,105),('500:1.08235486072832',8,102),('500:1.08235486072832',8,177),('500:1.08235486072832',8,443),('500:1.08235486072832',8,157),('500:1.08235486072832',8,228),('500:1.08235486072832',8,59),('500:1.08235486072832',8,302),('500:1.08235486072832',8,487),('500:1.08235486072832',8,231),('500:1.08235486072832',8,467),('500:1.08235486072832',8,393),('500:1.08235486072832',8,5),('500:1.08235486072832',8,198),('500:1.08235486072832',8,258),('500:1.08235486072832',8,139),('500:1.08235486072832',8,275),('500:1.08235486072832',8,191),('500:1.08235486072832',8,336),('500:1.08235486072832',8,133),('500:1.08235486072832',8,461),('500:1.08235486072832',8,281),('500:1.08235486072832',8,371),('500:1.08235486072832',8,9),('500:1.08235486072832',8,30),('500:1.08235486072832',8,297),('500:1.08235486072832',8,402),('500:1.08235486072832',8,13),('500:1.08235486072832',8,473),('500:1.08235486072832',8,287),('500:1.08235486072832',8,438),('500:1.08235486072832',8,429),('500:1.08235486072832',8,357),('500:1.08235486072832',8,12),('500:1.08235486072832',8,390),('500:1.08235486072832',8,235),('500:1.08235486072832',8,227),('500:1.08235486072832',8,141),('500:1.08235486072832',8,24),('500:1.08235486072832',8,397),('500:1.08235486072832',9,49),('500:1.08235486072832',9,489),('500:1.08235486072832',9,205),('500:1.08235486072832',9,256),('500:1.08235486072832',9,259),('500:1.08235486072832',9,302),('500:1.08235486072832',9,186),('500:1.08235486072832',9,492),('500:1.08235486072832',9,294),('500:1.08235486072832',9,274),('500:1.08235486072832',9,359),('500:1.08235486072832',9,414),('500:1.08235486072832',9,275),('500:1.08235486072832',9,267),('500:1.08235486072832',9,75),('500:1.08235486072832',9,218),('500:1.08235486072832',9,15),('500:1.08235486072832',9,408),('500:1.08235486072832',9,168),('500:1.08235486072832',9,380),('500:1.08235486072832',9,339),('500:1.08235486072832',9,485),('500:1.08235486072832',9,445),('500:1.08235486072832',9,431),('500:1.08235486072832',9,265),('500:1.08235486072832',9,53),('500:1.08235486072832',9,140),('500:1.08235486072832',9,151),('500:1.08235486072832',9,58),('500:1.08235486072832',9,427),('500:1.08235486072832',9,344),('500:1.08235486072832',9,471),('500:1.08235486072832',9,457),('500:1.08235486072832',9,246),('500:1.08235486072832',9,403),('500:1.08235486072832',9,301),('500:1.08235486072832',9,328),('500:1.08235486072832',9,453),('500:1.08235486072832',9,203),('500:1.08235486072832',9,399),('500:1.08235486072832',9,458),('500:1.08235486072832',9,462),('500:1.08235486072832',9,306),('500:1.08235486072832',9,376),('500:1.08235486072832',9,107),('500:1.08235486072832',9,377),('500:1.08235486072832',9,342),('500:1.08235486072832',9,20),('500:1.08235486072832',9,394),('500:1.08235486072832',9,490),('500:1.08235486072832',9,161),('500:1.08235486072832',9,305),('500:1.08235486072832',9,280),('500:1.08235486072832',9,79),('500:1.08235486072832',9,435),('500:1.08235486072832',9,260),('500:1.08235486072832',9,248),('500:1.08235486072832',9,245),('500:1.08235486072832',9,172),('500:1.08235486072832',9,479),('500:1.08235486072832',9,386),('500:1.08235486072832',9,296),('500:1.08235486072832',9,68),('500:1.08235486072832',9,365),('500:1.08235486072832',9,263),('500:1.08235486072832',9,211),('500:1.08235486072832',9,198),('500:1.08235486072832',9,321),('500:1.08235486072832',9,439),('500:1.08235486072832',9,194),('500:1.08235486072832',9,361),('500:1.08235486072832',9,496),('500:1.08235486072832',9,244),('500:1.08235486072832',9,217),('500:1.08235486072832',9,117),('500:1.08235486072832',9,330),('500:1.08235486072832',9,269),('500:1.08235486072832',9,144),('500:1.08235486072832',9,130),('500:1.08235486072832',9,17),('500:1.08235486072832',9,422),('500:1.08235486072832',9,109),('500:1.08235486072832',9,5),('500:1.08235486072832',9,47),('500:1.08235486072832',9,241),('500:1.08235486072832',9,308),('500:1.08235486072832',9,290),('500:1.08235486072832',9,66),('500:1.08235486072832',9,456),('500:1.08235486072832',9,300),('500:1.08235486072832',9,230),('500:1.08235486072832',9,91),('500:1.08235486072832',9,187),('500:1.08235486072832',9,145),('500:1.08235486072832',9,449),('500:1.08235486072832',9,11),('500:1.08235486072832',9,491),('500:1.08235486072832',9,277),('500:1.08235486072832',9,202),('500:1.08235486072832',9,23),('2000:1.53081411098240',0,1204),('2000:1.53081411098240',0,1835),('2000:1.53081411098240',0,925),('2000:1.53081411098240',0,1613),('2000:1.53081411098240',0,1422),('2000:1.53081411098240',0,1590),('2000:1.53081411098240',0,121),('2000:1.53081411098240',0,462),('2000:1.53081411098240',0,1183),('2000:1.53081411098240',0,1407),('2000:1.53081411098240',0,1157),('2000:1.53081411098240',0,242),('2000:1.53081411098240',0,789),('2000:1.53081411098240',0,76),('2000:1.53081411098240',0,1087),('2000:1.53081411098240',0,794),('2000:1.53081411098240',0,1472),('2000:1.53081411098240',0,231),('2000:1.53081411098240',0,1836),('2000:1.53081411098240',0,379),('2000:1.53081411098240',0,1978),('2000:1.53081411098240',0,1841),('2000:1.53081411098240',0,1403),('2000:1.53081411098240',0,1218),('2000:1.53081411098240',0,1633),('2000:1.53081411098240',0,856),('2000:1.53081411098240',0,1576),('2000:1.53081411098240',0,1008),('2000:1.53081411098240',0,61),('2000:1.53081411098240',0,722),('2000:1.53081411098240',0,641),('2000:1.53081411098240',0,1775),('2000:1.53081411098240',0,866),('2000:1.53081411098240',0,728),('2000:1.53081411098240',0,1591),('2000:1.53081411098240',0,934),('2000:1.53081411098240',0,833),('2000:1.53081411098240',0,75),('2000:1.53081411098240',0,1647),('2000:1.53081411098240',0,1020),('2000:1.53081411098240',0,1052),('2000:1.53081411098240',0,743),('2000:1.53081411098240',0,947),('2000:1.53081411098240',0,1119),('2000:1.53081411098240',0,291),('2000:1.53081411098240',0,1194),('2000:1.53081411098240',0,1187),('2000:1.53081411098240',0,455),('2000:1.53081411098240',0,1713),('2000:1.53081411098240',0,1031),('2000:1.53081411098240',0,1171),('2000:1.53081411098240',0,1608),('2000:1.53081411098240',0,745),('2000:1.53081411098240',0,1819),('2000:1.53081411098240',0,797),('2000:1.53081411098240',0,255),('2000:1.53081411098240',0,823),('2000:1.53081411098240',0,257),('2000:1.53081411098240',0,1072),('2000:1.53081411098240',0,1595),('2000:1.53081411098240',0,1270),('2000:1.53081411098240',0,1724),('2000:1.53081411098240',0,686),('2000:1.53081411098240',0,1308),('2000:1.53081411098240',0,40),('2000:1.53081411098240',0,1611),('2000:1.53081411098240',0,843),('2000:1.53081411098240',0,1034),('2000:1.53081411098240',0,509),('2000:1.53081411098240',0,1917),('2000:1.53081411098240',0,1174),('2000:1.53081411098240',0,1292),('2000:1.53081411098240',0,1439),('2000:1.53081411098240',0,1929),('2000:1.53081411098240',0,104),('2000:1.53081411098240',0,34),('2000:1.53081411098240',0,798),('2000:1.53081411098240',0,138),('2000:1.53081411098240',0,1852),('2000:1.53081411098240',0,1663),('2000:1.53081411098240',0,567),('2000:1.53081411098240',0,63),('2000:1.53081411098240',0,1358),('2000:1.53081411098240',0,1111),('2000:1.53081411098240',0,1053),('2000:1.53081411098240',0,1740),('2000:1.53081411098240',0,1239),('2000:1.53081411098240',0,162),('2000:1.53081411098240',0,1573),('2000:1.53081411098240',0,864),('2000:1.53081411098240',0,86),('2000:1.53081411098240',0,1816),('2000:1.53081411098240',0,345),('2000:1.53081411098240',0,353),('2000:1.53081411098240',0,1417),('2000:1.53081411098240',0,1229),('2000:1.53081411098240',0,387),('2000:1.53081411098240',0,1604),('2000:1.53081411098240',0,875),('2000:1.53081411098240',0,1217),('2000:1.53081411098240',1,1724),('2000:1.53081411098240',1,665),('2000:1.53081411098240',1,638),('2000:1.53081411098240',1,1950),('2000:1.53081411098240',1,1594),('2000:1.53081411098240',1,1561),('2000:1.53081411098240',1,1060),('2000:1.53081411098240',1,980),('2000:1.53081411098240',1,173),('2000:1.53081411098240',1,1843),('2000:1.53081411098240',1,823),('2000:1.53081411098240',1,546),('2000:1.53081411098240',1,1164),('2000:1.53081411098240',1,1580),('2000:1.53081411098240',1,1290),('2000:1.53081411098240',1,90),('2000:1.53081411098240',1,653),('2000:1.53081411098240',1,1336),('2000:1.53081411098240',1,50),('2000:1.53081411098240',1,1617),('2000:1.53081411098240',1,1971),('2000:1.53081411098240',1,1880),('2000:1.53081411098240',1,1453),('2000:1.53081411098240',1,425),('2000:1.53081411098240',1,1908),('2000:1.53081411098240',1,864),('2000:1.53081411098240',1,1635),('2000:1.53081411098240',1,983),('2000:1.53081411098240',1,1782),('2000:1.53081411098240',1,1183),('2000:1.53081411098240',1,704),('2000:1.53081411098240',1,1462),('2000:1.53081411098240',1,1388),('2000:1.53081411098240',1,1351),('2000:1.53081411098240',1,1069),('2000:1.53081411098240',1,1848),('2000:1.53081411098240',1,966),('2000:1.53081411098240',1,779),('2000:1.53081411098240',1,300),('2000:1.53081411098240',1,242),('2000:1.53081411098240',1,142),('2000:1.53081411098240',1,48),('2000:1.53081411098240',1,1524),('2000:1.53081411098240',1,1484),('2000:1.53081411098240',1,314),('2000:1.53081411098240',1,257),('2000:1.53081411098240',1,501),('2000:1.53081411098240',1,1475),('2000:1.53081411098240',1,1408),('2000:1.53081411098240',1,821),('2000:1.53081411098240',1,1154),('2000:1.53081411098240',1,1720),('2000:1.53081411098240',1,785),('2000:1.53081411098240',1,645),('2000:1.53081411098240',1,625),('2000:1.53081411098240',1,1225),('2000:1.53081411098240',1,756),('2000:1.53081411098240',1,406),('2000:1.53081411098240',1,156),('2000:1.53081411098240',1,227),('2000:1.53081411098240',1,641),('2000:1.53081411098240',1,773),('2000:1.53081411098240',1,1595),('2000:1.53081411098240',1,144),('2000:1.53081411098240',1,709),('2000:1.53081411098240',1,1202),('2000:1.53081411098240',1,1616),('2000:1.53081411098240',1,715),('2000:1.53081411098240',1,744),('2000:1.53081411098240',1,1005),('2000:1.53081411098240',1,46),('2000:1.53081411098240',1,889),('2000:1.53081411098240',1,1429),('2000:1.53081411098240',1,947),('2000:1.53081411098240',1,1194),('2000:1.53081411098240',1,1248),('2000:1.53081411098240',1,372),('2000:1.53081411098240',1,1879),('2000:1.53081411098240',1,1175),('2000:1.53081411098240',1,1910),('2000:1.53081411098240',1,1995),('2000:1.53081411098240',1,595),('2000:1.53081411098240',1,1297),('2000:1.53081411098240',1,1687),('2000:1.53081411098240',1,728),('2000:1.53081411098240',1,1790),('2000:1.53081411098240',1,630),('2000:1.53081411098240',1,307),('2000:1.53081411098240',1,870),('2000:1.53081411098240',1,986),('2000:1.53081411098240',1,509),('2000:1.53081411098240',1,950),('2000:1.53081411098240',1,687),('2000:1.53081411098240',1,743),('2000:1.53081411098240',1,747),('2000:1.53081411098240',1,272),('2000:1.53081411098240',1,1652),('2000:1.53081411098240',1,262),('2000:1.53081411098240',1,786),('2000:1.53081411098240',1,725),('2000:1.53081411098240',2,1912),('2000:1.53081411098240',2,798),('2000:1.53081411098240',2,315),('2000:1.53081411098240',2,461),('2000:1.53081411098240',2,1303),('2000:1.53081411098240',2,337),('2000:1.53081411098240',2,1335),('2000:1.53081411098240',2,903),('2000:1.53081411098240',2,990),('2000:1.53081411098240',2,350),('2000:1.53081411098240',2,961),('2000:1.53081411098240',2,1704),('2000:1.53081411098240',2,35),('2000:1.53081411098240',2,1220),('2000:1.53081411098240',2,639),('2000:1.53081411098240',2,1882),('2000:1.53081411098240',2,1873),('2000:1.53081411098240',2,243),('2000:1.53081411098240',2,399),('2000:1.53081411098240',2,868),('2000:1.53081411098240',2,1743),('2000:1.53081411098240',2,1806),('2000:1.53081411098240',2,710),('2000:1.53081411098240',2,1012),('2000:1.53081411098240',2,95),('2000:1.53081411098240',2,1596),('2000:1.53081411098240',2,1109),('2000:1.53081411098240',2,1328),('2000:1.53081411098240',2,1630),('2000:1.53081411098240',2,37),('2000:1.53081411098240',2,247),('2000:1.53081411098240',2,450),('2000:1.53081411098240',2,569),('2000:1.53081411098240',2,1519),('2000:1.53081411098240',2,1412),('2000:1.53081411098240',2,1427),('2000:1.53081411098240',2,953),('2000:1.53081411098240',2,1059),('2000:1.53081411098240',2,672),('2000:1.53081411098240',2,652),('2000:1.53081411098240',2,68),('2000:1.53081411098240',2,1793),('2000:1.53081411098240',2,377),('2000:1.53081411098240',2,291),('2000:1.53081411098240',2,1794),('2000:1.53081411098240',2,358),('2000:1.53081411098240',2,105),('2000:1.53081411098240',2,1343),('2000:1.53081411098240',2,1119),('2000:1.53081411098240',2,1002),('2000:1.53081411098240',2,1237),('2000:1.53081411098240',2,1389),('2000:1.53081411098240',2,612),('2000:1.53081411098240',2,150),('2000:1.53081411098240',2,1615),('2000:1.53081411098240',2,287),('2000:1.53081411098240',2,1499),('2000:1.53081411098240',2,1432),('2000:1.53081411098240',2,1314),('2000:1.53081411098240',2,835),('2000:1.53081411098240',2,537),('2000:1.53081411098240',2,761),('2000:1.53081411098240',2,1420),('2000:1.53081411098240',2,1521),('2000:1.53081411098240',2,1496),('2000:1.53081411098240',2,1570),('2000:1.53081411098240',2,740),('2000:1.53081411098240',2,301),('2000:1.53081411098240',2,1758),('2000:1.53081411098240',2,1600),('2000:1.53081411098240',2,400),('2000:1.53081411098240',2,1224),('2000:1.53081411098240',2,538),('2000:1.53081411098240',2,1196),('2000:1.53081411098240',2,193),('2000:1.53081411098240',2,462),('2000:1.53081411098240',2,133),('2000:1.53081411098240',2,570),('2000:1.53081411098240',2,444),('2000:1.53081411098240',2,1604),('2000:1.53081411098240',2,1729),('2000:1.53081411098240',2,1809),('2000:1.53081411098240',2,601),('2000:1.53081411098240',2,1783),('2000:1.53081411098240',2,5),('2000:1.53081411098240',2,357),('2000:1.53081411098240',2,1053),('2000:1.53081411098240',2,833),('2000:1.53081411098240',2,67),('2000:1.53081411098240',2,1712),('2000:1.53081411098240',2,802),('2000:1.53081411098240',2,1132),('2000:1.53081411098240',2,1795),('2000:1.53081411098240',2,1853),('2000:1.53081411098240',2,204),('2000:1.53081411098240',2,1642),('2000:1.53081411098240',2,431),('2000:1.53081411098240',2,1774),('2000:1.53081411098240',2,527),('2000:1.53081411098240',2,1145),('2000:1.53081411098240',3,1701),('2000:1.53081411098240',3,263),('2000:1.53081411098240',3,550),('2000:1.53081411098240',3,173),('2000:1.53081411098240',3,687),('2000:1.53081411098240',3,1973),('2000:1.53081411098240',3,1617),('2000:1.53081411098240',3,777),('2000:1.53081411098240',3,930),('2000:1.53081411098240',3,859),('2000:1.53081411098240',3,1649),('2000:1.53081411098240',3,812),('2000:1.53081411098240',3,965),('2000:1.53081411098240',3,271),('2000:1.53081411098240',3,1465),('2000:1.53081411098240',3,943),('2000:1.53081411098240',3,664),('2000:1.53081411098240',3,1163),('2000:1.53081411098240',3,1116),('2000:1.53081411098240',3,275),('2000:1.53081411098240',3,715),('2000:1.53081411098240',3,1329),('2000:1.53081411098240',3,304),('2000:1.53081411098240',3,1281),('2000:1.53081411098240',3,1484),('2000:1.53081411098240',3,483),('2000:1.53081411098240',3,1182),('2000:1.53081411098240',3,1552),('2000:1.53081411098240',3,959),('2000:1.53081411098240',3,585),('2000:1.53081411098240',3,100),('2000:1.53081411098240',3,842),('2000:1.53081411098240',3,1042),('2000:1.53081411098240',3,885),('2000:1.53081411098240',3,1274),('2000:1.53081411098240',3,1057),('2000:1.53081411098240',3,1877),('2000:1.53081411098240',3,1810),('2000:1.53081411098240',3,28),('2000:1.53081411098240',3,97),('2000:1.53081411098240',3,1316),('2000:1.53081411098240',3,135),('2000:1.53081411098240',3,1836),('2000:1.53081411098240',3,1306),('2000:1.53081411098240',3,155),('2000:1.53081411098240',3,1695),('2000:1.53081411098240',3,644),('2000:1.53081411098240',3,440),('2000:1.53081411098240',3,1542),('2000:1.53081411098240',3,80),('2000:1.53081411098240',3,1272),('2000:1.53081411098240',3,1408),('2000:1.53081411098240',3,1686),('2000:1.53081411098240',3,1913),('2000:1.53081411098240',3,125),('2000:1.53081411098240',3,1312),('2000:1.53081411098240',3,629),('2000:1.53081411098240',3,1199),('2000:1.53081411098240',3,1241),('2000:1.53081411098240',3,1717),('2000:1.53081411098240',3,712),('2000:1.53081411098240',3,467),('2000:1.53081411098240',3,1612),('2000:1.53081411098240',3,1914),('2000:1.53081411098240',3,1232),('2000:1.53081411098240',3,202),('2000:1.53081411098240',3,690),('2000:1.53081411098240',3,819),('2000:1.53081411098240',3,763),('2000:1.53081411098240',3,1849),('2000:1.53081411098240',3,605),('2000:1.53081411098240',3,318),('2000:1.53081411098240',3,511),('2000:1.53081411098240',3,646),('2000:1.53081411098240',3,1567),('2000:1.53081411098240',3,1948),('2000:1.53081411098240',3,1315),('2000:1.53081411098240',3,1741),('2000:1.53081411098240',3,1410),('2000:1.53081411098240',3,1708),('2000:1.53081411098240',3,611),('2000:1.53081411098240',3,1934),('2000:1.53081411098240',3,650),('2000:1.53081411098240',3,983),('2000:1.53081411098240',3,1369),('2000:1.53081411098240',3,1490),('2000:1.53081411098240',3,1170),('2000:1.53081411098240',3,979),('2000:1.53081411098240',3,1441),('2000:1.53081411098240',3,1785),('2000:1.53081411098240',3,720),('2000:1.53081411098240',3,774),('2000:1.53081411098240',3,1919),('2000:1.53081411098240',3,840),('2000:1.53081411098240',3,1916),('2000:1.53081411098240',3,482),('2000:1.53081411098240',3,602),('2000:1.53081411098240',3,367),('2000:1.53081411098240',3,1947),('2000:1.53081411098240',3,297),('2000:1.53081411098240',4,1645),('2000:1.53081411098240',4,1299),('2000:1.53081411098240',4,1525),('2000:1.53081411098240',4,381),('2000:1.53081411098240',4,995),('2000:1.53081411098240',4,1249),('2000:1.53081411098240',4,1106),('2000:1.53081411098240',4,993),('2000:1.53081411098240',4,646),('2000:1.53081411098240',4,1457),('2000:1.53081411098240',4,1632),('2000:1.53081411098240',4,1633),('2000:1.53081411098240',4,1983),('2000:1.53081411098240',4,832),('2000:1.53081411098240',4,1397),('2000:1.53081411098240',4,238),('2000:1.53081411098240',4,1351),('2000:1.53081411098240',4,1812),('2000:1.53081411098240',4,513),('2000:1.53081411098240',4,1183),('2000:1.53081411098240',4,763),('2000:1.53081411098240',4,822),('2000:1.53081411098240',4,1627),('2000:1.53081411098240',4,1112),('2000:1.53081411098240',4,1653),('2000:1.53081411098240',4,1164),('2000:1.53081411098240',4,921),('2000:1.53081411098240',4,76),('2000:1.53081411098240',4,462),('2000:1.53081411098240',4,441),('2000:1.53081411098240',4,896),('2000:1.53081411098240',4,1036),('2000:1.53081411098240',4,1227),('2000:1.53081411098240',4,704),('2000:1.53081411098240',4,1574),('2000:1.53081411098240',4,1294),('2000:1.53081411098240',4,825),('2000:1.53081411098240',4,162),('2000:1.53081411098240',4,1026),('2000:1.53081411098240',4,392),('2000:1.53081411098240',4,807),('2000:1.53081411098240',4,1722),('2000:1.53081411098240',4,112),('2000:1.53081411098240',4,1272),('2000:1.53081411098240',4,526),('2000:1.53081411098240',4,492),('2000:1.53081411098240',4,181),('2000:1.53081411098240',4,1281),('2000:1.53081411098240',4,1384),('2000:1.53081411098240',4,380),('2000:1.53081411098240',4,1973),('2000:1.53081411098240',4,1837),('2000:1.53081411098240',4,242),('2000:1.53081411098240',4,1128),('2000:1.53081411098240',4,1691),('2000:1.53081411098240',4,695),('2000:1.53081411098240',4,276),('2000:1.53081411098240',4,1855),('2000:1.53081411098240',4,1319),('2000:1.53081411098240',4,1370),('2000:1.53081411098240',4,1732),('2000:1.53081411098240',4,1889),('2000:1.53081411098240',4,913),('2000:1.53081411098240',4,1657),('2000:1.53081411098240',4,1579),('2000:1.53081411098240',4,1266),('2000:1.53081411098240',4,508),('2000:1.53081411098240',4,1975),('2000:1.53081411098240',4,36),('2000:1.53081411098240',4,488),('2000:1.53081411098240',4,575),('2000:1.53081411098240',4,1176),('2000:1.53081411098240',4,834),('2000:1.53081411098240',4,189),('2000:1.53081411098240',4,1874),('2000:1.53081411098240',4,1887),('2000:1.53081411098240',4,1077),('2000:1.53081411098240',4,1228),('2000:1.53081411098240',4,1618),('2000:1.53081411098240',4,1004),('2000:1.53081411098240',4,406),('2000:1.53081411098240',4,823),('2000:1.53081411098240',4,1746),('2000:1.53081411098240',4,439),('2000:1.53081411098240',4,1366),('2000:1.53081411098240',4,815),('2000:1.53081411098240',4,28),('2000:1.53081411098240',4,1582),('2000:1.53081411098240',4,434),('2000:1.53081411098240',4,589),('2000:1.53081411098240',4,797),('2000:1.53081411098240',4,621),('2000:1.53081411098240',4,912),('2000:1.53081411098240',4,408),('2000:1.53081411098240',4,1451),('2000:1.53081411098240',4,650),('2000:1.53081411098240',4,821),('2000:1.53081411098240',4,856),('2000:1.53081411098240',4,611),('2000:1.53081411098240',4,55),('2000:1.53081411098240',5,282),('2000:1.53081411098240',5,1092),('2000:1.53081411098240',5,1374),('2000:1.53081411098240',5,1270),('2000:1.53081411098240',5,1902),('2000:1.53081411098240',5,493),('2000:1.53081411098240',5,809),('2000:1.53081411098240',5,845),('2000:1.53081411098240',5,1166),('2000:1.53081411098240',5,1910),('2000:1.53081411098240',5,1711),('2000:1.53081411098240',5,56),('2000:1.53081411098240',5,250),('2000:1.53081411098240',5,478),('2000:1.53081411098240',5,564),('2000:1.53081411098240',5,150),('2000:1.53081411098240',5,42),('2000:1.53081411098240',5,660),('2000:1.53081411098240',5,1828),('2000:1.53081411098240',5,576),('2000:1.53081411098240',5,1012),('2000:1.53081411098240',5,1884),('2000:1.53081411098240',5,994),('2000:1.53081411098240',5,1019),('2000:1.53081411098240',5,1568),('2000:1.53081411098240',5,1165),('2000:1.53081411098240',5,381),('2000:1.53081411098240',5,883),('2000:1.53081411098240',5,1192),('2000:1.53081411098240',5,1627),('2000:1.53081411098240',5,466),('2000:1.53081411098240',5,910),('2000:1.53081411098240',5,1176),('2000:1.53081411098240',5,1691),('2000:1.53081411098240',5,1285),('2000:1.53081411098240',5,943),('2000:1.53081411098240',5,1409),('2000:1.53081411098240',5,1086),('2000:1.53081411098240',5,649),('2000:1.53081411098240',5,1730),('2000:1.53081411098240',5,1635),('2000:1.53081411098240',5,921),('2000:1.53081411098240',5,218),('2000:1.53081411098240',5,961),('2000:1.53081411098240',5,1377),('2000:1.53081411098240',5,793),('2000:1.53081411098240',5,761),('2000:1.53081411098240',5,1790),('2000:1.53081411098240',5,1517),('2000:1.53081411098240',5,448),('2000:1.53081411098240',5,832),('2000:1.53081411098240',5,291),('2000:1.53081411098240',5,1135),('2000:1.53081411098240',5,1796),('2000:1.53081411098240',5,422),('2000:1.53081411098240',5,1735),('2000:1.53081411098240',5,1938),('2000:1.53081411098240',5,532),('2000:1.53081411098240',5,1699),('2000:1.53081411098240',5,1587),('2000:1.53081411098240',5,516),('2000:1.53081411098240',5,617),('2000:1.53081411098240',5,389),('2000:1.53081411098240',5,1096),('2000:1.53081411098240',5,408),('2000:1.53081411098240',5,909),('2000:1.53081411098240',5,1235),('2000:1.53081411098240',5,1765),('2000:1.53081411098240',5,1526),('2000:1.53081411098240',5,593),('2000:1.53081411098240',5,275),('2000:1.53081411098240',5,651),('2000:1.53081411098240',5,426),('2000:1.53081411098240',5,362),('2000:1.53081411098240',5,378),('2000:1.53081411098240',5,1117),('2000:1.53081411098240',5,175),('2000:1.53081411098240',5,979),('2000:1.53081411098240',5,706),('2000:1.53081411098240',5,558),('2000:1.53081411098240',5,957),('2000:1.53081411098240',5,1511),('2000:1.53081411098240',5,1781),('2000:1.53081411098240',5,287),('2000:1.53081411098240',5,1121),('2000:1.53081411098240',5,522),('2000:1.53081411098240',5,1047),('2000:1.53081411098240',5,1036),('2000:1.53081411098240',5,1134),('2000:1.53081411098240',5,1942),('2000:1.53081411098240',5,1812),('2000:1.53081411098240',5,1026),('2000:1.53081411098240',5,1474),('2000:1.53081411098240',5,200),('2000:1.53081411098240',5,753),('2000:1.53081411098240',5,1549),('2000:1.53081411098240',5,1793),('2000:1.53081411098240',5,692),('2000:1.53081411098240',5,719),('2000:1.53081411098240',5,1831),('2000:1.53081411098240',6,1550),('2000:1.53081411098240',6,1363),('2000:1.53081411098240',6,238),('2000:1.53081411098240',6,91),('2000:1.53081411098240',6,1823),('2000:1.53081411098240',6,1802),('2000:1.53081411098240',6,861),('2000:1.53081411098240',6,707),('2000:1.53081411098240',6,931),('2000:1.53081411098240',6,1688),('2000:1.53081411098240',6,270),('2000:1.53081411098240',6,1805),('2000:1.53081411098240',6,1128),('2000:1.53081411098240',6,714),('2000:1.53081411098240',6,404),('2000:1.53081411098240',6,292),('2000:1.53081411098240',6,1701),('2000:1.53081411098240',6,916),('2000:1.53081411098240',6,527),('2000:1.53081411098240',6,326),('2000:1.53081411098240',6,1452),('2000:1.53081411098240',6,199),('2000:1.53081411098240',6,1904),('2000:1.53081411098240',6,667),('2000:1.53081411098240',6,943),('2000:1.53081411098240',6,22),('2000:1.53081411098240',6,630),('2000:1.53081411098240',6,1634),('2000:1.53081411098240',6,806),('2000:1.53081411098240',6,24),('2000:1.53081411098240',6,158),('2000:1.53081411098240',6,421),('2000:1.53081411098240',6,1695),('2000:1.53081411098240',6,866),('2000:1.53081411098240',6,1036),('2000:1.53081411098240',6,548),('2000:1.53081411098240',6,1155),('2000:1.53081411098240',6,1790),('2000:1.53081411098240',6,878),('2000:1.53081411098240',6,1808),('2000:1.53081411098240',6,1941),('2000:1.53081411098240',6,1327),('2000:1.53081411098240',6,990),('2000:1.53081411098240',6,857),('2000:1.53081411098240',6,1903),('2000:1.53081411098240',6,1821),('2000:1.53081411098240',6,507),('2000:1.53081411098240',6,169),('2000:1.53081411098240',6,140),('2000:1.53081411098240',6,1455),('2000:1.53081411098240',6,702),('2000:1.53081411098240',6,952),('2000:1.53081411098240',6,1132),('2000:1.53081411098240',6,374),('2000:1.53081411098240',6,616),('2000:1.53081411098240',6,637),('2000:1.53081411098240',6,397),('2000:1.53081411098240',6,1602),('2000:1.53081411098240',6,664),('2000:1.53081411098240',6,1197),('2000:1.53081411098240',6,689),('2000:1.53081411098240',6,1645),('2000:1.53081411098240',6,997),('2000:1.53081411098240',6,1562),('2000:1.53081411098240',6,1676),('2000:1.53081411098240',6,1569),('2000:1.53081411098240',6,713),('2000:1.53081411098240',6,1394),('2000:1.53081411098240',6,370),('2000:1.53081411098240',6,95),('2000:1.53081411098240',6,1529),('2000:1.53081411098240',6,1610),('2000:1.53081411098240',6,1860),('2000:1.53081411098240',6,1977),('2000:1.53081411098240',6,632),('2000:1.53081411098240',6,817),('2000:1.53081411098240',6,882),('2000:1.53081411098240',6,1866),('2000:1.53081411098240',6,420),('2000:1.53081411098240',6,1401),('2000:1.53081411098240',6,1045),('2000:1.53081411098240',6,1144),('2000:1.53081411098240',6,1172),('2000:1.53081411098240',6,263),('2000:1.53081411098240',6,1235),('2000:1.53081411098240',6,1126),('2000:1.53081411098240',6,752),('2000:1.53081411098240',6,1285),('2000:1.53081411098240',6,1162),('2000:1.53081411098240',6,748),('2000:1.53081411098240',6,1193),('2000:1.53081411098240',6,584),('2000:1.53081411098240',6,549),('2000:1.53081411098240',6,648),('2000:1.53081411098240',6,547),('2000:1.53081411098240',6,832),('2000:1.53081411098240',6,1212),('2000:1.53081411098240',6,1222),('2000:1.53081411098240',6,711),('2000:1.53081411098240',6,1958),('2000:1.53081411098240',7,498),('2000:1.53081411098240',7,605),('2000:1.53081411098240',7,663),('2000:1.53081411098240',7,420),('2000:1.53081411098240',7,1622),('2000:1.53081411098240',7,622),('2000:1.53081411098240',7,490),('2000:1.53081411098240',7,1835),('2000:1.53081411098240',7,780),('2000:1.53081411098240',7,1506),('2000:1.53081411098240',7,813),('2000:1.53081411098240',7,1135),('2000:1.53081411098240',7,1666),('2000:1.53081411098240',7,1888),('2000:1.53081411098240',7,74),('2000:1.53081411098240',7,182),('2000:1.53081411098240',7,1849),('2000:1.53081411098240',7,334),('2000:1.53081411098240',7,236),('2000:1.53081411098240',7,1341),('2000:1.53081411098240',7,322),('2000:1.53081411098240',7,1266),('2000:1.53081411098240',7,1182),('2000:1.53081411098240',7,1568),('2000:1.53081411098240',7,175),('2000:1.53081411098240',7,1021),('2000:1.53081411098240',7,849),('2000:1.53081411098240',7,949),('2000:1.53081411098240',7,1946),('2000:1.53081411098240',7,1272),('2000:1.53081411098240',7,1829),('2000:1.53081411098240',7,970),('2000:1.53081411098240',7,1711),('2000:1.53081411098240',7,668),('2000:1.53081411098240',7,1948),('2000:1.53081411098240',7,478),('2000:1.53081411098240',7,471),('2000:1.53081411098240',7,739),('2000:1.53081411098240',7,1772),('2000:1.53081411098240',7,422),('2000:1.53081411098240',7,1754),('2000:1.53081411098240',7,1500),('2000:1.53081411098240',7,160),('2000:1.53081411098240',7,1058),('2000:1.53081411098240',7,223),('2000:1.53081411098240',7,349),('2000:1.53081411098240',7,178),('2000:1.53081411098240',7,976),('2000:1.53081411098240',7,282),('2000:1.53081411098240',7,903),('2000:1.53081411098240',7,843),('2000:1.53081411098240',7,1920),('2000:1.53081411098240',7,339),('2000:1.53081411098240',7,398),('2000:1.53081411098240',7,1678),('2000:1.53081411098240',7,1511),('2000:1.53081411098240',7,287),('2000:1.53081411098240',7,1204),('2000:1.53081411098240',7,1386),('2000:1.53081411098240',7,900),('2000:1.53081411098240',7,1792),('2000:1.53081411098240',7,1376),('2000:1.53081411098240',7,1064),('2000:1.53081411098240',7,392),('2000:1.53081411098240',7,1623),('2000:1.53081411098240',7,1241),('2000:1.53081411098240',7,324),('2000:1.53081411098240',7,1898),('2000:1.53081411098240',7,784),('2000:1.53081411098240',7,374),('2000:1.53081411098240',7,686),('2000:1.53081411098240',7,574),('2000:1.53081411098240',7,1883),('2000:1.53081411098240',7,1783),('2000:1.53081411098240',7,234),('2000:1.53081411098240',7,454),('2000:1.53081411098240',7,200),('2000:1.53081411098240',7,593),('2000:1.53081411098240',7,1872),('2000:1.53081411098240',7,1326),('2000:1.53081411098240',7,608),('2000:1.53081411098240',7,788),('2000:1.53081411098240',7,1725),('2000:1.53081411098240',7,1609),('2000:1.53081411098240',7,295),('2000:1.53081411098240',7,1446),('2000:1.53081411098240',7,1816),('2000:1.53081411098240',7,1496),('2000:1.53081411098240',7,1276),('2000:1.53081411098240',7,1227),('2000:1.53081411098240',7,1291),('2000:1.53081411098240',7,1600),('2000:1.53081411098240',7,1171),('2000:1.53081411098240',7,1987),('2000:1.53081411098240',7,1685),('2000:1.53081411098240',7,1320),('2000:1.53081411098240',7,308),('2000:1.53081411098240',7,1238),('2000:1.53081411098240',7,205),('2000:1.53081411098240',7,443),('2000:1.53081411098240',8,1574),('2000:1.53081411098240',8,777),('2000:1.53081411098240',8,1069),('2000:1.53081411098240',8,1413),('2000:1.53081411098240',8,690),('2000:1.53081411098240',8,767),('2000:1.53081411098240',8,343),('2000:1.53081411098240',8,595),('2000:1.53081411098240',8,1227),('2000:1.53081411098240',8,1582),('2000:1.53081411098240',8,274),('2000:1.53081411098240',8,1278),('2000:1.53081411098240',8,869),('2000:1.53081411098240',8,1381),('2000:1.53081411098240',8,48),('2000:1.53081411098240',8,822),('2000:1.53081411098240',8,1011),('2000:1.53081411098240',8,304),('2000:1.53081411098240',8,1899),('2000:1.53081411098240',8,1976),('2000:1.53081411098240',8,1833),('2000:1.53081411098240',8,1135),('2000:1.53081411098240',8,1031),('2000:1.53081411098240',8,973),('2000:1.53081411098240',8,1739),('2000:1.53081411098240',8,1485),('2000:1.53081411098240',8,993),('2000:1.53081411098240',8,483),('2000:1.53081411098240',8,1999),('2000:1.53081411098240',8,90),('2000:1.53081411098240',8,1813),('2000:1.53081411098240',8,1384),('2000:1.53081411098240',8,1456),('2000:1.53081411098240',8,606),('2000:1.53081411098240',8,1365),('2000:1.53081411098240',8,346),('2000:1.53081411098240',8,1632),('2000:1.53081411098240',8,707),('2000:1.53081411098240',8,1435),('2000:1.53081411098240',8,1122),('2000:1.53081411098240',8,602),('2000:1.53081411098240',8,28),('2000:1.53081411098240',8,1499),('2000:1.53081411098240',8,1798),('2000:1.53081411098240',8,221),('2000:1.53081411098240',8,12),('2000:1.53081411098240',8,1975),('2000:1.53081411098240',8,1802),('2000:1.53081411098240',8,575),('2000:1.53081411098240',8,1698),('2000:1.53081411098240',8,1344),('2000:1.53081411098240',8,1583),('2000:1.53081411098240',8,634),('2000:1.53081411098240',8,1448),('2000:1.53081411098240',8,1093),('2000:1.53081411098240',8,1980),('2000:1.53081411098240',8,124),('2000:1.53081411098240',8,342),('2000:1.53081411098240',8,421),('2000:1.53081411098240',8,1524),('2000:1.53081411098240',8,646),('2000:1.53081411098240',8,1649),('2000:1.53081411098240',8,358),('2000:1.53081411098240',8,1224),('2000:1.53081411098240',8,1695),('2000:1.53081411098240',8,460),('2000:1.53081411098240',8,1106),('2000:1.53081411098240',8,551),('2000:1.53081411098240',8,87),('2000:1.53081411098240',8,368),('2000:1.53081411098240',8,1001),('2000:1.53081411098240',8,593),('2000:1.53081411098240',8,730),('2000:1.53081411098240',8,258),('2000:1.53081411098240',8,754),('2000:1.53081411098240',8,1753),('2000:1.53081411098240',8,1818),('2000:1.53081411098240',8,1073),('2000:1.53081411098240',8,1652),('2000:1.53081411098240',8,693),('2000:1.53081411098240',8,1891),('2000:1.53081411098240',8,329),('2000:1.53081411098240',8,1388),('2000:1.53081411098240',8,1398),('2000:1.53081411098240',8,1666),('2000:1.53081411098240',8,1120),('2000:1.53081411098240',8,85),('2000:1.53081411098240',8,1319),('2000:1.53081411098240',8,1629),('2000:1.53081411098240',8,828),('2000:1.53081411098240',8,1817),('2000:1.53081411098240',8,1416),('2000:1.53081411098240',8,1591),('2000:1.53081411098240',8,1680),('2000:1.53081411098240',8,1778),('2000:1.53081411098240',8,413),('2000:1.53081411098240',8,1651),('2000:1.53081411098240',8,667),('2000:1.53081411098240',8,1003),('2000:1.53081411098240',8,1791),('2000:1.53081411098240',9,1086),('2000:1.53081411098240',9,124),('2000:1.53081411098240',9,1937),('2000:1.53081411098240',9,805),('2000:1.53081411098240',9,452),('2000:1.53081411098240',9,121),('2000:1.53081411098240',9,147),('2000:1.53081411098240',9,796),('2000:1.53081411098240',9,226),('2000:1.53081411098240',9,1195),('2000:1.53081411098240',9,155),('2000:1.53081411098240',9,1428),('2000:1.53081411098240',9,608),('2000:1.53081411098240',9,1047),('2000:1.53081411098240',9,718),('2000:1.53081411098240',9,855),('2000:1.53081411098240',9,1026),('2000:1.53081411098240',9,1882),('2000:1.53081411098240',9,789),('2000:1.53081411098240',9,357),('2000:1.53081411098240',9,1753),('2000:1.53081411098240',9,1167),('2000:1.53081411098240',9,1532),('2000:1.53081411098240',9,378),('2000:1.53081411098240',9,957),('2000:1.53081411098240',9,1946),('2000:1.53081411098240',9,918),('2000:1.53081411098240',9,1093),('2000:1.53081411098240',9,1981),('2000:1.53081411098240',9,1918),('2000:1.53081411098240',9,1623),('2000:1.53081411098240',9,1496),('2000:1.53081411098240',9,277),('2000:1.53081411098240',9,605),('2000:1.53081411098240',9,321),('2000:1.53081411098240',9,195),('2000:1.53081411098240',9,265),('2000:1.53081411098240',9,1246),('2000:1.53081411098240',9,749),('2000:1.53081411098240',9,1970),('2000:1.53081411098240',9,1392),('2000:1.53081411098240',9,871),('2000:1.53081411098240',9,1309),('2000:1.53081411098240',9,1038),('2000:1.53081411098240',9,1273),('2000:1.53081411098240',9,1540),('2000:1.53081411098240',9,339),('2000:1.53081411098240',9,1001),('2000:1.53081411098240',9,1369),('2000:1.53081411098240',9,1831),('2000:1.53081411098240',9,824),('2000:1.53081411098240',9,1500),('2000:1.53081411098240',9,1766),('2000:1.53081411098240',9,1738),('2000:1.53081411098240',9,1396),('2000:1.53081411098240',9,699),('2000:1.53081411098240',9,334),('2000:1.53081411098240',9,1719),('2000:1.53081411098240',9,1356),('2000:1.53081411098240',9,922),('2000:1.53081411098240',9,10),('2000:1.53081411098240',9,1470),('2000:1.53081411098240',9,1044),('2000:1.53081411098240',9,999),('2000:1.53081411098240',9,976),('2000:1.53081411098240',9,1521),('2000:1.53081411098240',9,951),('2000:1.53081411098240',9,779),('2000:1.53081411098240',9,1469),('2000:1.53081411098240',9,1608),('2000:1.53081411098240',9,1780),('2000:1.53081411098240',9,435),('2000:1.53081411098240',9,7),('2000:1.53081411098240',9,74),('2000:1.53081411098240',9,1682),('2000:1.53081411098240',9,593),('2000:1.53081411098240',9,1377),('2000:1.53081411098240',9,1114),('2000:1.53081411098240',9,398),('2000:1.53081411098240',9,235),('2000:1.53081411098240',9,239),('2000:1.53081411098240',9,1643),('2000:1.53081411098240',9,1413),('2000:1.53081411098240',9,1689),('2000:1.53081411098240',9,493),('2000:1.53081411098240',9,910),('2000:1.53081411098240',9,852),('2000:1.53081411098240',9,374),('2000:1.53081411098240',9,40),('2000:1.53081411098240',9,488),('2000:1.53081411098240',9,1906),('2000:1.53081411098240',9,553),('2000:1.53081411098240',9,720),('2000:1.53081411098240',9,1258),('2000:1.53081411098240',9,1998),('2000:1.53081411098240',9,1518),('2000:1.53081411098240',9,851),('2000:1.53081411098240',9,978),('2000:1.53081411098240',9,1557),('2000:1.53081411098240',9,1807)"


def _pinned_candidate_oracle(pins: str) -> str:
    """Shared oracle tail of ext_knn_pq / ext_knn_ivfpq: candidates
    come from the fixture pins (selected by the exact DECIMAL corpus
    fingerprint), the exact cosine re-score and (score desc,
    neighbor_id) top-k replay in SQL — so the driver row grades the
    approximate candidate generation against the reference pins AND
    the exact re-rank end-to-end."""
    return f"""WITH fp AS (SELECT CAST(COUNT(*) AS VARCHAR) || ':' ||
                   CAST(SUM(CAST(embedding[1] AS DECIMAL(28,14))) AS VARCHAR) AS v
            FROM embeddings),
 pins(corpus_fp, query_id, neighbor_id) AS (VALUES {pins}),
 c AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
 cand AS (SELECT query_id, neighbor_id FROM pins, fp WHERE corpus_fp = fp.v),
 scored AS (SELECT cand.query_id, cand.neighbor_id,
                   FLOOR(list_cosine_similarity(eq.emb, ec.emb) * 10000.0 + 0.5)
                     / 10000.0 AS score
            FROM cand JOIN c eq ON eq.vec_id = cand.query_id
                      JOIN c ec ON ec.vec_id = cand.neighbor_id),
 ranked AS (SELECT query_id, neighbor_id, score,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id) AS rank
            FROM scored)
SELECT query_id, neighbor_id, rank, score FROM ranked WHERE rank <= {K_NEIGHBORS}"""


@ext_query("ext_knn_pq", _pinned_candidate_oracle(_PQ_CANDIDATE_PINS))  # + recall pytests

def ext_knn_pq(spark, sf_dir):
    """PQ ANN with asymmetric distance computation (ADC) + exact
    re-rank: queries build per-subspace inner-product tables against
    the codebooks (Q x m x k doubles, closure-broadcast); scoring a
    corpus vector is m table gathers over its codes — no float vector
    is touched until the top ``_PQ_RERANK`` ADC candidates per query
    are re-scored exactly. 100 TB shape: the scan side reads only
    (vec_id, codes) — m bytes of payload per row; the per-batch
    top-R cut bounds the shuffle to batches x Q x R rows; the exact
    re-score joins the (tiny) candidate set back to the full vectors.
    Approximation error costs candidate quality only, never false
    positives (the re-rank is exact — same contract as LSH/IVF)."""
    e = _emb(spark, sf_dir)
    books = _pq_codebooks(e)
    enc = _pq_encode_udf(books)
    codes_df = e.select("vec_id", enc(F.col("emb")).alias("codes"))

    qids, qm = _query_matrix(e.filter(F.col("vec_id") < N_QUERIES))
    tables = _adc_tables(qm, books)
    cand = codes_df.mapInPandas(
        _adc_score_fn(tables, qids, _PQ_RERANK),
        "query_id long, neighbor_id long, pq_score double",
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    return _adc_rerank(cand, e, q, _PQ_RERANK)


@ext_query("ext_knn_ivfpq", _pinned_candidate_oracle(_IVFPQ_CANDIDATE_PINS))  # + recall pytests
def ext_knn_ivfpq(spark, sf_dir):
    """IVF+PQ (IVFADC — the FAISS production architecture): coarse
    cells bound WHICH rows are scored, PQ codes bound the BYTES each
    scoring touches. The corpus carries (cell, codes) — m bytes of
    scoring payload per row behind a partition-prunable cell key; a
    query ADC-scores only its nprobe probed cells (~nprobe/k of the
    corpus) via table gathers, and only the surviving top-R
    candidates per query are re-scored exactly against full vectors.
    At 100 TB: cells partition the index on disk (see
    build_ivf_index), codes keep the scanned fraction in memory, and
    neither the scan nor the shuffle ever carries a float vector —
    candidate quality is the only thing approximation can cost."""
    e = _emb(spark, sf_dir)
    cents = _ivf_centroids(e)
    books = _pq_codebooks(e)
    enc = _pq_encode_udf(books)
    keyed = _ivf_keyed(e, cents).select(
        "vec_id", "cell", enc(F.col("emb")).alias("codes")
    )

    qids, qm = _query_matrix(e.filter(F.col("vec_id") < N_QUERIES))
    tables = _adc_tables(qm, books)
    probed_sets, all_probed = _probe_cells(qm, qids, cents, _IVF_NPROBE)
    cand = (
        keyed.filter(F.col("cell").isin(all_probed))
        .mapInPandas(
            _adc_score_fn(tables, qids, _PQ_RERANK, probed_sets),
            "query_id long, neighbor_id long, pq_score double",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    return _adc_rerank(cand, e, q, _PQ_RERANK)


# ------------------------------------------------ persisted PQ / IVFPQ index

def _pq_recon_sims(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Per-row cosine between a (normalized) vector and its PQ
    reconstruction — the codebook-fit metric: high when the codebooks
    were trained on this distribution, falling when the data drifts
    away from them. Vectorized numpy (n x k matmul per subspace)."""
    m_, ds = books.shape[0], books.shape[2]
    recon = np.empty_like(x)
    for j in range(m_):
        sub = x[:, j * ds : (j + 1) * ds]
        d2 = -2.0 * (sub @ books[j].T) + (books[j] ** 2).sum(axis=1)
        recon[:, j * ds : (j + 1) * ds] = books[j][d2.argmin(axis=1)]
    return (x * recon).sum(axis=1) / (np.linalg.norm(recon, axis=1) + 1e-12)


def _pq_encode_sim_udf(books: np.ndarray):
    """Codes + reconstruction cosine in one Arrow pass — the append
    path needs both (codes route the row into the index; the sim
    feeds the codebook-drift report)."""
    m_, ds = books.shape[0], books.shape[2]

    @F.pandas_udf("struct<codes:array<int>, sim:double>")
    def enc(emb: pd.Series) -> pd.DataFrame:
        x = np.stack(emb.to_numpy())
        x = x / (np.linalg.norm(x, axis=1, keepdims=True) + 1e-12)
        codes = np.empty((len(x), m_), dtype="int64")
        for j in range(m_):
            sub = x[:, j * ds : (j + 1) * ds]
            d2 = -2.0 * (sub @ books[j].T) + (books[j] ** 2).sum(axis=1)
            codes[:, j] = d2.argmin(axis=1)
        return pd.DataFrame(
            {"codes": list(codes), "sim": _pq_recon_sims(x, books)}
        )

    return enc


def build_pq_index(e: DataFrame, path: str, with_cells: bool = False) -> dict:
    """Materialize the PQ index the inline queries recompute, through
    :mod:`~smartpipeline_spark.indexstore`: a ``codes`` table of the
    encoded corpus (vec_id, codes — m bytes of scoring payload per
    row) written once, with the trained codebooks in the manifest.
    ``with_cells=True`` builds the composed IVFPQ layout instead (the
    FAISS IVFADC architecture): rows additionally carry their nearest
    coarse centroid, the table is PARTITIONED BY cell and the manifest
    holds the centroids too, so a query batch's scan opens only its
    probed cell directories.

    This is the write-once form of the PQ 100 TB contract, mirroring
    :func:`build_ivf_index`: codebooks (and centroids) train on a
    constant-size deterministic sample, the corpus is encoded in one
    linear pass, and every later query reads m-byte codes instead of
    float vectors. The manifest's ``pq_fit`` records the training
    sample's mean reconstruction cosine — the fit reference the append
    path's drift report compares against. Returns the recorded fit
    stats."""
    books = _pq_codebooks(e)
    enc = _pq_encode_udf(books)
    meta = {"codebooks": books.tolist()}
    if with_cells:
        cents = _ivf_centroids(e)
        meta["centroids"] = cents.tolist()
        codes = _ivf_keyed(e, cents).select("vec_id", "cell", enc(F.col("emb")).alias("codes"))
    else:
        codes = e.select("vec_id", enc(F.col("emb")).alias("codes"))
    # fit reference on a HELD-OUT deterministic stride (disjoint from
    # the % 7 == 0 training sample): k-means with k near the sample
    # size memorizes training points (recon sim -> 1.0 at small
    # corpora), so the training sample itself would set an
    # unreachable reference and flag every in-distribution append as
    # drift. The held-out slice measures generalization fit — what an
    # append batch from the same distribution should actually score.
    sample = (
        e.filter(F.col("vec_id") % 7 == 1)
        .orderBy("vec_id")
        .limit(_IVF_SAMPLE_CAP)
        .select("emb")
        .collect()
    )
    m = np.array([r["emb"] for r in sample], dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True) + 1e-12
    stats = {"mean_recon_sim": float(_pq_recon_sims(m, books).mean())}
    indexstore.build(
        path,
        {"codes": codes},
        {**meta, "pq_fit": stats},
        layout={"codes": {"partition": ["cell"] if with_cells else []}},
    )
    return stats


def append_to_pq_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    fit_drop_threshold: float = 0.05,
    concentration_factor: float = 4.0,
) -> dict:
    """Incremental PQ maintenance, mirroring :func:`append_to_ivf_index`:
    new vectors are encoded with the SAVED codebooks (existing codes
    stay valid — readers see one quantizer throughout) and appended;
    the codebooks move never. The price of never retraining is
    codebook drift, so the append returns a drift report:
    ``mean_recon_sim`` is the batch's mean cosine to its own PQ
    reconstruction, compared against the build-time fit reference
    (``fit_drop = build - batch``); on an IVFPQ layout the coarse
    concentration signal fires too (hottest cell >
    ``concentration_factor`` x uniform share). Either trips
    ``retrain_recommended`` — the signal for a new build, not a
    mutation. Segments accumulate and compact like the IVF side."""
    meta = indexstore.manifest(path)["meta"]
    books, fit = np.array(meta["codebooks"]), meta["pq_fit"]
    has_cells = "centroids" in meta
    enc = _pq_encode_sim_udf(books)
    assigned = new_vectors.select(
        "vec_id", "emb", enc(F.col("emb")).alias("p")
    ).select(
        "vec_id", "emb", F.col("p.codes").alias("codes"), F.col("p.sim").alias("sim")
    )
    if has_cells:
        cents = np.array(meta["centroids"])
        cell = _ivf_assign_udf(cents)
        assigned = assigned.withColumn("cell", cell(F.col("emb")).getField("cell"))
    assigned = materialize.persist(assigned)
    if has_cells:
        stats = assigned.groupBy("cell").agg(
            F.count("*").alias("n"), F.sum("sim").alias("s")
        ).collect()
        n = sum(r["n"] for r in stats)
        codes = assigned.select("vec_id", "cell", "codes")
    else:
        stats = assigned.agg(
            F.count("*").alias("n"), F.sum("sim").alias("s")
        ).collect()
        n = stats[0]["n"]
        codes = assigned.select("vec_id", "codes")
    try:
        compacted = indexstore.append(path, {"codes": codes})[1]
    finally:
        materialize.release(assigned)
    mean_sim = (sum(r["s"] for r in stats) / n) if n else None
    fit_drop = (fit["mean_recon_sim"] - mean_sim) if n else 0.0
    max_frac = (
        (max(r["n"] for r in stats) / n) if (has_cells and n) else None
    )
    concentrated = (
        has_cells and n and max_frac > concentration_factor / len(cents)
    )
    return {
        "appended": n,
        "mean_recon_sim": mean_sim,
        "build_recon_sim": fit["mean_recon_sim"],
        "fit_drop": fit_drop,
        "cells_touched": len(stats) if has_cells else None,
        "max_cell_frac": max_frac,
        "retrain_recommended": bool(fit_drop > fit_drop_threshold or concentrated),
        "compacted": compacted,
    }


def query_pq_index(
    spark,
    path: str,
    queries: DataFrame,
    vectors: DataFrame | None = None,
    rerank: int = _PQ_RERANK,
    nprobe: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """ANN top-k against a saved :func:`build_pq_index` layout.
    ``queries`` carries (query_id, q_emb) — a bounded batch, collected
    driver-side to build the ADC tables (same contract as the inline
    paths). On an IVFPQ layout the probed cell ids become an IN-filter
    on the index's PARTITION column (scan opens only probed cell
    directories). ``vectors`` (vec_id, emb) enables the exact re-rank
    tail — the full-fidelity contract, identical to the inline
    queries; without it the ADC ranking itself is returned (rank by
    approximate score), the codes-only deployment where float vectors
    are too large to keep online.

    ``exclude_self=True`` (the default, matching the inline keys)
    assumes query_id SHARES the corpus vec_id namespace: the kernel
    masks exact-id matches and the plan filters
    query_id != neighbor_id. Callers whose query batch carries an
    EXTERNAL id namespace must pass ``exclude_self=False`` — otherwise
    a query id coincidentally colliding with an unrelated corpus
    vec_id silently loses that neighbor."""
    man = indexstore.manifest(path)
    books = np.array(man["meta"]["codebooks"])
    qids, qm = _query_matrix(queries, "query_id", "q_emb")
    tables = _adc_tables(qm, books)
    idx = indexstore.read(spark, path, "codes", man)
    probed_sets = None
    if "centroids" in man["meta"]:
        cents = np.array(man["meta"]["centroids"])
        probed_sets, all_probed = _probe_cells(
            qm, qids, cents, nprobe if nprobe is not None else _IVF_NPROBE
        )
        idx = idx.filter(F.col("cell").isin(all_probed))
    cand = idx.mapInPandas(
        _adc_score_fn(tables, qids, rerank, probed_sets, exclude_self),
        "query_id long, neighbor_id long, pq_score double",
    )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    if vectors is None:
        w = Window.partitionBy("query_id").orderBy(
            F.col("pq_score").desc(), F.col("neighbor_id")
        )
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= K_NEIGHBORS)
            .select(
                "query_id",
                "neighbor_id",
                "rank",
                half_up(F.col("pq_score"), 4).alias("score"),
            )
        )
    q = queries.select("query_id", "q_emb")
    return _adc_rerank(cand, vectors, q, rerank)


RRF_K = 60
HYBRID_POOL = 50  # depth of each ranker's candidate list
HYBRID_TOPK = 20


def _overlap_legs(*legs):
    """Run independent retrieval legs on concurrent driver threads and
    return their (materialized) results in order. Spark actions are
    only sequential because driver code calls them sequentially (guide
    §2.6): two corpus-pass legs submitted together back-fill each
    other's stragglers and the fusion starts when the slower leg
    finishes, not after their sum. Each leg must return an already
    materialized frame (eager localCheckpoint of its ~50-row survivor
    list), so the caller's fused plan only joins checkpoint scans.
    Exceptions propagate from whichever leg raised."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(legs)) as pool:
        futures = [pool.submit(leg) for leg in legs]
        return [f.result() for f in futures]


@ext_query(
    "ext_hybrid_search",
    f"""WITH words AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
          FROM documents WHERE doc_id <> 0),
        tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY doc_id, w),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY doc_id),
        stats AS (SELECT AVG(dl * 1.0) AS avgdl, COUNT(*) AS n FROM dl),
        dfreq AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM words
                  WHERE w IN ('spark', 'table', 'merge') GROUP BY w),
        s AS (
          SELECT tf.doc_id,
                 ln((n - df + 0.5) / (df + 0.5) + 1.0)
                   * tf.tf * (1.2 + 1.0)
                   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)) AS sc,
                 tf.w
          FROM tf JOIN dfreq ON tf.w = dfreq.w
          JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
        lex0 AS (
          SELECT doc_id,
                 COALESCE(SUM(CASE WHEN w = 'spark' THEN sc END), 0.0)
                 + COALESCE(SUM(CASE WHEN w = 'table' THEN sc END), 0.0)
                 + COALESCE(SUM(CASE WHEN w = 'merge' THEN sc END), 0.0) AS bm25
          FROM s GROUP BY doc_id),
        lex AS (
          SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY FLOOR(bm25 * 10000.0 + 0.5) / 10000.0 DESC,
                                    doc_id) AS r_lex
          FROM lex0),
        qv AS (SELECT embedding::DOUBLE[] AS emb FROM embeddings WHERE vec_id = 0),
        vec0 AS (
          SELECT c.vec_id,
                 FLOOR(list_cosine_similarity(qv.emb, c.embedding::DOUBLE[]) * 10000.0 + 0.5)
                   / 10000.0 AS cos
          FROM embeddings c, qv WHERE c.vec_id <> 0),
        vec AS (
          SELECT vec_id,
                 ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS r_vec
          FROM vec0),
        fused AS (
          SELECT COALESCE(l.doc_id, v.vec_id) AS doc_id, l.r_lex, v.r_vec,
                 COALESCE(1.0 / ({RRF_K} + l.r_lex), 0.0)
                 + COALESCE(1.0 / ({RRF_K} + v.r_vec), 0.0) AS rrf
          FROM (SELECT * FROM lex WHERE r_lex <= {HYBRID_POOL}) l
          FULL OUTER JOIN (SELECT * FROM vec WHERE r_vec <= {HYBRID_POOL}) v
            ON l.doc_id = v.vec_id)
        SELECT doc_id, r_lex, r_vec,
               FLOOR(rrf * 1000000.0 + 0.5) / 1000000.0 AS rrf
        FROM fused
        ORDER BY rrf DESC, doc_id LIMIT {HYBRID_TOPK}""",
)
def ext_hybrid_search(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    ranker and the cosine vector ranker (rrf = Σ 1/(60+rank) over the
    rankers that surfaced the doc) — the standard RAG retrieval stack
    expressed as one plan. Scale shape: each ranker reduces to a
    SMALL top-N candidate list via distributed partial top-k
    (TakeOrderedAndProject), ranks are assigned on the 50-row
    survivor frame, the fusion is a full-outer join of two 50-row frames —
    negligible against the scans — and every corpus-sized structure
    (postings, embeddings) is touched exactly once by its own ranker.
    Ranks are computed over 4-decimal-rounded scores with id
    tiebreaks (the knn recipe), so rank assignment is bit-identical
    in both engines; the query is doc/vec 0 (text terms + its
    embedding), excluded from both candidate pools."""
    from smartpipeline_spark.functions.text import bm25_scores

    # The two rankers are INDEPENDENT until the 50-row fusion, but a
    # single fused plan runs their stages sequentially in practice
    # (measured r13: fused wall ≈ lex wall + vec wall, not max). Guide
    # §2.6's overlap applies: each leg materializes its 50-row survivor
    # frame on its own driver thread (actions are only sequential
    # because driver code calls them sequentially), so the corpus
    # passes run concurrently and the fusion joins two checkpointed
    # 50-row frames. Row-identical (oracle-pinned); measured −30% wall
    # on the indexed twin, same shape here.
    def _lex_leg():
        d = sources.table(spark, "documents", sf_dir).filter(
            F.col("doc_id") != 0
        )
        lex_scored = bm25_scores(d).select(
            "doc_id",
            half_up(F.col("raw"), 4).alias("bm25"),
        )
        # top-POOL FIRST via orderBy().limit() — TakeOrderedAndProject,
        # a distributed partial top-k — then rank the 50-row survivor
        # frame. A global row_number over the corpus-sized score frame
        # would drag everything into ONE partition (WindowExec warns
        # exactly that).
        w_lex = Window.orderBy(F.col("bm25").desc(), F.asc("doc_id"))
        return materialize.checkpoint(
            lex_scored.orderBy(F.col("bm25").desc(), F.asc("doc_id"))
            .limit(HYBRID_POOL)
            .withColumn("r_lex", F.row_number().over(w_lex))
            .select("doc_id", "r_lex")
        )

    def _vec_leg():
        e = _emb(spark, sf_dir)
        # the query vector attaches as a keyless 1-row AGGREGATE (not a
        # filtered frame): semantically identical (exactly one row has
        # vec_id 0), but the plan then carries a scalar frame the BNLJ
        # gate can account for — a bare 1-row filter broadcast is
        # indistinguishable from an accidental all-pairs join in plan
        # text
        q = (
            e.filter(F.col("vec_id") == 0)
            .agg(F.first("emb").alias("q_emb"))
        )
        c = e.filter(F.col("vec_id") != 0)
        vec_scored = c.crossJoin(F.broadcast(q)).select(
            "vec_id", half_up(cosine_expr(F.col("q_emb"), F.col("emb")), 4).alias("cos")
        )
        w_vec = Window.orderBy(F.col("cos").desc(), F.asc("vec_id"))
        return materialize.checkpoint(
            vec_scored.orderBy(F.col("cos").desc(), F.asc("vec_id"))
            .limit(HYBRID_POOL)
            .withColumn("r_vec", F.row_number().over(w_vec))
            .select("vec_id", "r_vec")
        )

    lex, vec = _overlap_legs(_lex_leg, _vec_leg)

    fused = lex.join(vec, lex.doc_id == vec.vec_id, "full_outer").select(
        F.coalesce("doc_id", "vec_id").alias("doc_id"),
        "r_lex",
        "r_vec",
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_vec")), F.lit(0.0))
        ).alias("rrf_raw"),
    )
    return (
        fused.orderBy(F.col("rrf_raw").desc(), F.asc("doc_id"))
        .limit(HYBRID_TOPK)
        .select(
            "doc_id",
            "r_lex",
            "r_vec",
            half_up(F.col("rrf_raw"), 6).alias("rrf"),
        )
    )


def _hybrid_indexed_oracle() -> str:
    """DuckDB oracle for ext_hybrid_indexed: the lexical leg replays
    ext_bm25's full-corpus postings computation (the saved index holds
    the WHOLE corpus, query doc included in df/avgdl — the deployment
    shape; only the ranking excludes the query doc), the vector leg
    replays ext_knn_ivf's saved-layout read path (pinned centroids,
    argmax assignment, nprobe probing, cell join, self-filter, exact
    rounded re-score) for the single query vector, both ranked to the
    50-deep hybrid pool on rounded scores with id tiebreaks, fused by
    reciprocal rank. Every decision rides margins already measured for
    the parent keys (assignment >= 3.85e-6, probe >= 1.75e-4, 1e-4
    score grid)."""
    from smartpipeline_spark.functions.text import BM25_B as _BM25_B
    from smartpipeline_spark.functions.text import BM25_K1 as _BM25_K1

    return f"""WITH words AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      FROM documents),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY doc_id, w),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY doc_id),
    stats AS (SELECT AVG(dl * 1.0) AS avgdl, COUNT(*) AS n FROM dl),
    dfreq AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM words
              WHERE w IN ('spark', 'table', 'merge') GROUP BY w),
    s AS (
      SELECT tf.doc_id,
             ln((n - df + 0.5) / (df + 0.5) + 1.0)
               * tf.tf * ({_BM25_K1} + 1.0)
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / avgdl)) AS sc,
             tf.w
      FROM tf JOIN dfreq ON tf.w = dfreq.w
      JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
    lex0 AS (
      SELECT doc_id,
             COALESCE(SUM(CASE WHEN w = 'spark' THEN sc END), 0.0)
             + COALESCE(SUM(CASE WHEN w = 'table' THEN sc END), 0.0)
             + COALESCE(SUM(CASE WHEN w = 'merge' THEN sc END), 0.0) AS bm25
      FROM s WHERE doc_id <> 0 GROUP BY doc_id),
    lex AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY FLOOR(bm25 * 10000.0 + 0.5) / 10000.0 DESC,
                                doc_id) AS r_lex
      FROM lex0),
    fp AS (SELECT CAST(COUNT(*) AS VARCHAR) || ':' ||
               CAST(SUM(CAST(embedding[1] AS DECIMAL(28,14))) AS VARCHAR) AS v
        FROM embeddings),
    cents(corpus_fp, cell, cvec) AS (VALUES {_ivf_cent_values()}),
    live AS (SELECT cell, cvec FROM cents, fp WHERE corpus_fp = fp.v),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cn AS (SELECT vec_id, emb,
               list_transform(emb,
                 x -> x / (sqrt(list_dot_product(emb, emb)) + 1e-12)) AS nemb
        FROM c),
    sims AS (SELECT v.vec_id, lc.cell, list_dot_product(v.nemb, lc.cvec) AS sim
          FROM cn v CROSS JOIN live lc),
    assign AS (SELECT vec_id, cell FROM (
              SELECT vec_id, cell,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY sim DESC, cell) AS rn
              FROM sims) t WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, cell FROM (
              SELECT vec_id, cell,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY sim DESC, cell) AS rn
              FROM sims WHERE vec_id = 0) t WHERE rn <= {_IVF_NPROBE}),
    cand AS (SELECT DISTINCT a.vec_id AS neighbor_id
          FROM probes p JOIN assign a ON a.cell = p.cell
          WHERE a.vec_id <> 0),
    vscored AS (SELECT cand.neighbor_id,
                   FLOOR(list_cosine_similarity(eq.emb, ec.emb) * 10000.0 + 0.5)
                     / 10000.0 AS score
            FROM cand JOIN c eq ON eq.vec_id = 0
                      JOIN c ec ON ec.vec_id = cand.neighbor_id),
    vec AS (SELECT neighbor_id AS vec_id,
                   ROW_NUMBER() OVER (ORDER BY score DESC, neighbor_id) AS r_vec
            FROM vscored),
    fused AS (
      SELECT COALESCE(l.doc_id, v.vec_id) AS doc_id, l.r_lex, v.r_vec,
             COALESCE(1.0 / ({RRF_K} + l.r_lex), 0.0)
             + COALESCE(1.0 / ({RRF_K} + v.r_vec), 0.0) AS rrf
      FROM (SELECT * FROM lex WHERE r_lex <= {HYBRID_POOL}) l
      FULL OUTER JOIN (SELECT * FROM vec WHERE r_vec <= {HYBRID_POOL}) v
        ON l.doc_id = v.vec_id)
    SELECT doc_id, r_lex, r_vec,
           FLOOR(rrf * 1000000.0 + 0.5) / 1000000.0 AS rrf
    FROM fused
    ORDER BY rrf DESC, doc_id LIMIT {HYBRID_TOPK}"""


@ext_query("ext_hybrid_indexed", _hybrid_indexed_oracle())
def ext_hybrid_indexed(spark, sf_dir):
    """Hybrid RRF retrieval served ENTIRELY from the two persisted
    index layouts — the query-time deployment shape of the saved-index
    family: the lexical leg probes the sort-clustered BM25 postings
    segments (footer-pruned to ~one file per term,
    ``text.query_bm25_index``), the vector leg opens only the probed
    cell directories of the saved IVF layout (``query_ivf_index`` —
    partition-pruned scan), and the fusion joins two 50-row survivor
    frames. Unlike ext_hybrid_search (inline corpus passes, brute
    vector leg) this key grades the INDEXED read paths end to end:
    full-corpus index stats (the query doc stays in df/avgdl — it is
    indexed; only the ranking excludes it) and the nprobe-bounded
    candidate set, replayed exactly by the oracle."""
    from smartpipeline_spark.functions.text import (
        BM25_TERMS,
        _bm25_index_for,
        query_bm25_index,
    )

    # the two index probes are independent until the 50-row fusion —
    # run them on concurrent driver threads (guide §2.6, measured r13:
    # 2.4 → 1.6 s wall solo, rows identical)
    def _lex_leg():
        lex_scored = (
            query_bm25_index(spark, _bm25_index_for(spark, sf_dir), BM25_TERMS)
            .filter(F.col("doc_id") != 0)
            .select(
                "doc_id",
                half_up(F.col("raw"), 4).alias("bm25"),
            )
        )
        w_lex = Window.orderBy(F.col("bm25").desc(), F.asc("doc_id"))
        return materialize.checkpoint(
            lex_scored.orderBy(F.col("bm25").desc(), F.asc("doc_id"))
            .limit(HYBRID_POOL)
            .withColumn("r_lex", F.row_number().over(w_lex))
            .select("doc_id", "r_lex")
        )

    def _vec_leg():
        e = _emb(spark, sf_dir)
        q = e.filter(F.col("vec_id") == 0).agg(
            F.lit(0).cast("long").alias("query_id"), F.first("emb").alias("q_emb")
        )
        ann = query_ivf_index(
            spark, _ivf_index_for(spark, sf_dir), q, k=HYBRID_POOL
        )
        return materialize.checkpoint(
            ann.select(F.col("neighbor_id").alias("vec_id"), F.col("rank").alias("r_vec"))
        )

    lex, vec = _overlap_legs(_lex_leg, _vec_leg)

    fused = lex.join(vec, lex.doc_id == vec.vec_id, "full_outer").select(
        F.coalesce("doc_id", "vec_id").alias("doc_id"),
        "r_lex",
        "r_vec",
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_vec")), F.lit(0.0))
        ).alias("rrf_raw"),
    )
    return (
        fused.orderBy(F.col("rrf_raw").desc(), F.asc("doc_id"))
        .limit(HYBRID_TOPK)
        .select(
            "doc_id",
            "r_lex",
            "r_vec",
            half_up(F.col("rrf_raw"), 6).alias("rrf"),
        )
    )


def _semantic_dedup_oracle() -> str:
    """DuckDB oracle for ext_dedup_semantic: replay the 2-cell coarse
    quantization under the SAME pinned centroids as ext_knn_ivf, pair
    within shared cells (v1 < v2, distinct), then the raw-cosine
    threshold gate and 1e-4 rounding. Engine stability is measured on
    the frozen fixture ladder (r10): the 2nd-vs-3rd probe-cell margin
    is >= 4.5e-6 and the nearest in-cell pair cosine sits >= 7.8e-6
    from the 0.35 threshold — both 8 orders above the ~1e-14
    cross-engine summation noise, so cell membership and the gate
    decide identically in both engines."""
    from smartpipeline_spark.functions.dedup import COSINE_DUP_THRESHOLD

    return f"""WITH fp AS (SELECT CAST(COUNT(*) AS VARCHAR) || ':' ||
                   CAST(SUM(CAST(embedding[1] AS DECIMAL(28,14))) AS VARCHAR) AS v
            FROM embeddings),
 cents(corpus_fp, cell, cvec) AS (VALUES {_ivf_cent_values()}),
 live AS (SELECT cell, cvec FROM cents, fp WHERE corpus_fp = fp.v),
 c AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
 cn AS (SELECT vec_id, emb,
               list_transform(emb,
                 x -> x / (sqrt(list_dot_product(emb, emb)) + 1e-12)) AS nemb
        FROM c),
 sims AS (SELECT v.vec_id, lc.cell, list_dot_product(v.nemb, lc.cvec) AS sim
          FROM cn v CROSS JOIN live lc),
 binned AS (SELECT vec_id, cell FROM (
              SELECT vec_id, cell,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY sim DESC, cell) AS rn
              FROM sims) t WHERE rn <= 2),
 pairs AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
           FROM binned a JOIN binned b
             ON a.cell = b.cell AND a.vec_id < b.vec_id)
SELECT p.v1, p.v2,
       FLOOR(list_cosine_similarity(e1.emb, e2.emb) * 10000.0 + 0.5)
         / 10000.0 AS cosine
FROM pairs p JOIN c e1 ON e1.vec_id = p.v1 JOIN c e2 ON e2.vec_id = p.v2
WHERE list_cosine_similarity(e1.emb, e2.emb) >= {COSINE_DUP_THRESHOLD}"""


@ext_query("ext_dedup_semantic", _semantic_dedup_oracle())  # + recall pytest
def ext_dedup_semantic(spark, sf_dir):
    """SemDeDup-shaped semantic dedup AT SCALE: coarse-quantize every
    embedding into its 2 nearest k-means cells (the same sample-
    trained quantizer as ext_knn_ivf), then compare pairs only WITHIN
    a cell — corpus² collapses to Σ cell². The 2-cell assignment
    catches boundary pairs a 1-cell partition would split (a pair is
    compared if ANY cell is shared; distinct() removes the doubles).
    This is the composition the brute ext_dedup_embedding oracles:
    brute is O(N²) and dies at 10⁸ vectors; cells keep the same
    plan shape (equi-join on cell, JVM cosine filter) at any N.
    Recall vs brute is pytest-measured (boundary losses only).
    Oracled as of r10 by the pinned-quantizer replay in
    :func:`_semantic_dedup_oracle`."""
    e = _emb(spark, sf_dir)
    from smartpipeline_spark.functions.dedup import COSINE_DUP_THRESHOLD

    cents = _ivf_centroids(e)
    cells = _ivf_cells_udf(cents, nprobe=2)
    binned = e.select(
        "vec_id", "emb", F.explode(cells(F.col("emb"))).alias("cell")
    )
    a, b = binned.alias("a"), binned.alias("b")
    cos = cosine_expr(F.col("a.emb"), F.col("b.emb"))
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            cos.alias("_cos"),
        )
        .filter(F.col("_cos") >= COSINE_DUP_THRESHOLD)
        .select(
            "v1",
            "v2",
            half_up(F.col("_cos"), 4).alias("cosine"),
        )
        .distinct()
    )


# ------------------------------------------------- per-partition HNSW

_HNSW_M = 8  # max neighbors per node above level 0 (2M at level 0)
_HNSW_EF_CONSTRUCTION = 64
_HNSW_EF_SEARCH = 48


def _hnsw_build(vecs: "np.ndarray", m: int = _HNSW_M, ef: int = _HNSW_EF_CONSTRUCTION, seed: int = 0):
    """Hierarchical Navigable Small World graph over L2-normalized
    row vectors (Malkov & Yashunin 2016, public algorithm): nodes get
    geometric levels, each inserted by greedy-descending from the top
    entry point, then ef-searching and linking the best ``m``
    neighbors per level (2m at level 0), pruning back-links to the
    cap. Pure numpy, similarity = dot (vectors pre-normalized).

    Returns (levels, adjacency, entry_point, max_level) where
    adjacency[level][node] -> list of neighbor ids (local indices)."""
    import math

    rng = np.random.default_rng(seed)
    n = vecs.shape[0]
    ml = 1.0 / math.log(m)
    levels = np.minimum(
        (-np.log(rng.random(n)) * ml).astype(np.int64), 32
    )
    adj: list[dict[int, list[int]]] = [dict() for _ in range(int(levels.max()) + 1)]
    entry, max_level = 0, int(levels[0])

    def select_diverse(tgt, cand, cap):
        """Malkov Algorithm 4 (select-neighbors heuristic): walk the
        candidates best-first and keep e only if it is closer to the
        target than to every already-kept neighbor — this is what
        preserves BRIDGES between clusters (a plain top-cap keeps an
        intra-cluster clique and greedy search can never cross),
        then backfill remaining slots with the best pruned ones."""
        # round-9 perf: ONE pairwise gemm over the candidate set
        # (c x c, c <= ef) replaces up to cap scalar numpy dots per
        # candidate; .tolist() makes the inner comparisons pure-python
        # floats (identical float64 values, identical selections)
        ids = [e for _x, e in cand]
        pair = (vecs[ids] @ vecs[ids].T).tolist() if ids else []
        selected: list[int] = []
        for j, (sim, _e) in enumerate(cand):
            if len(selected) == cap:
                break
            row = pair[j]
            if all(row[k] <= sim for k in selected):
                selected.append(j)
        if len(selected) < cap:
            chosen = {cand[j][1] for j in selected}
            for j, (_sim, e) in enumerate(cand):
                if len(selected) == cap:
                    break
                if e not in chosen:
                    selected.append(j)
                    chosen.add(e)
        return [cand[j][1] for j in selected]

    def search_layer(q, eps, ef_cap, level):
        # heap-based rewrite of the canonical ef-search (round-9 perf:
        # the original re-sorted the whole frontier per pop and
        # re-scanned best for its min per insert — O(ef) each — and
        # did one scalar dot per neighbor; this does O(log ef) heap
        # ops and ONE batched gemv per node expansion, with identical
        # traversal order incl. ties: cand keys (-sim, -node) pop the
        # largest node among equal sims, exactly like the old
        # sort(reverse=True) pop, and best is a min-heap of
        # (sim, node) whose root is the old min(best)).
        import heapq

        gr = adj[level]
        visited = set(eps)
        best = [(float(vecs[e] @ q), e) for e in eps]
        cand = [(-s, -e) for s, e in best]
        heapq.heapify(best)
        heapq.heapify(cand)
        while cand:
            nsim, nnode = heapq.heappop(cand)
            sim, node = -nsim, -nnode
            if len(best) >= ef_cap and sim < best[0][0]:
                break
            nbs = [nb for nb in gr.get(node, ()) if nb not in visited]
            if not nbs:
                continue
            visited.update(nbs)
            sims = vecs[nbs] @ q
            for s, nb in zip(sims, nbs):
                s = float(s)
                if len(best) < ef_cap:
                    heapq.heappush(best, (s, nb))
                    heapq.heappush(cand, (-s, -nb))
                elif s > best[0][0]:
                    heapq.heapreplace(best, (s, nb))
                    heapq.heappush(cand, (-s, -nb))
        return sorted(best, reverse=True)

    for i in range(1, n):
        li = int(levels[i])
        q = vecs[i]
        ep = [entry]
        for level in range(max_level, li, -1):
            ep = [search_layer(q, ep, 1, level)[0][1]]
        for level in range(min(li, max_level), -1, -1):
            found = search_layer(q, ep, ef, level)
            cap = m if level > 0 else 2 * m
            neigh = select_diverse(i, found, cap)
            adj[level][i] = neigh
            for nb in neigh:
                back = adj[level].setdefault(nb, [])
                back.append(i)
                if len(back) > cap:
                    sims = vecs[back] @ vecs[nb]
                    cand = sorted(
                        ((float(sims[j]), back[j]) for j in range(len(back))),
                        reverse=True,
                    )
                    adj[level][nb] = select_diverse(nb, cand, cap)
            ep = [node for _s, node in found] or ep
        if li > max_level:
            max_level, entry = li, i
    return levels, adj, entry, max_level


def _hnsw_search(vecs, adj, entry, max_level, q, k, ef=_HNSW_EF_SEARCH):
    """Top-k (similarity, local_id) for one normalized query vector."""
    def search_layer(qv, eps, ef_cap, level):
        # same heap/batched-gemv form as the build-side search_layer
        # (round-9 perf), identical traversal order incl. ties
        import heapq

        gr = adj[level]
        visited = set(eps)
        best = [(float(vecs[e] @ qv), e) for e in eps]
        cand = [(-s, -e) for s, e in best]
        heapq.heapify(best)
        heapq.heapify(cand)
        while cand:
            nsim, nnode = heapq.heappop(cand)
            sim, node = -nsim, -nnode
            if len(best) >= ef_cap and sim < best[0][0]:
                break
            nbs = [nb for nb in gr.get(node, ()) if nb not in visited]
            if not nbs:
                continue
            visited.update(nbs)
            sims = vecs[nbs] @ qv
            for s, nb in zip(sims, nbs):
                s = float(s)
                if len(best) < ef_cap:
                    heapq.heappush(best, (s, nb))
                    heapq.heappush(cand, (-s, -nb))
                elif s > best[0][0]:
                    heapq.heapreplace(best, (s, nb))
                    heapq.heappush(cand, (-s, -nb))
        return sorted(best, reverse=True)

    ep = [entry]
    for level in range(max_level, 0, -1):
        ep = [search_layer(q, ep, 1, level)[0][1]]
    found = search_layer(q, ep, max(ef, k), 0)
    return found[:k]


@ext_query("ext_knn_hnsw", _KNN_TOPK_ORACLE)
def ext_knn_hnsw(spark, sf_dir):
    """Graph-ANN member of the index family: sharded HNSW.
    A graph index is insert-sequential, so the Spark-idiomatic layout
    is one graph PER SHARD (pmod(vec_id) — deterministic membership,
    independent of physical partitioning): each task builds an
    in-memory graph over its shard group and answers the broadcast
    query batch locally; per-shard top-k candidates union and the
    family's shared exact re-score tail picks the global top-k
    (false candidates cost recall nothing — same contract as
    IVF/PQ/LSH). build_hnsw_index persists the SAME shard layout, so
    saved-vs-inline equality is structural (pinned in pytest like the
    IVF/PQ saved indexes).

    100 TB design: graphs never leave their task, candidates are
    nshards x k rows per query — the only shuffle is the shard
    groupBy + candidate join-back. Graph build is O(shard·ef·log n)
    ONCE per shard and amortizes across query batches (or once EVER
    via the persisted layout); shards are independent, so the
    structure scales out by shard count, exactly like the
    coarse-cell indexes. The kernel sorts its shard by vec_id and
    seeds level draws from the shard's min id, so the graph (and the
    candidate set) is deterministic under any row arrival order.

    Oracled as of round 9 with the exact brute-force ranking
    (``_KNN_TOPK_ORACLE``): determinism + the fixture-scale shard/ef
    geometry make the candidate union contain the true top-k for
    every query (verified bit-exact, rounded scores included, at
    sf0.001/0.01/0.1) — so the driver grades graph search end-to-end
    and any recall regression turns the row red. The graph-structural
    properties (local search ≡ exhaustive, saved ≡ inline, append
    lifecycle) stay pinned by the four HNSW pytests."""
    import pandas as pd

    e = _emb(spark, sf_dir)
    q_rows = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "emb")
        .collect()  # bounded BY CONTRACT: the query batch only
    )
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    qm = np.array([r["emb"] for r in q_rows], dtype=np.float64)
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    def kernel(_key, pdf):
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        vecs = np.array(list(pdf["emb"]), dtype=np.float64)
        order = np.argsort(ids)
        ids, vecs = ids[order], vecs[order]
        norms = np.linalg.norm(vecs, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        nvecs = vecs / norms
        _levels, adj, entry, max_level = _hnsw_build(
            nvecs, seed=int(ids[0])
        )
        out_q, out_n = [], []
        for qi in range(qm.shape[0]):
            # k+1: the query vector itself lives in some shard and is
            # excluded below — without the spare slot that query would
            # surface only k-1 global candidates from its home shard
            found = _hnsw_search(
                nvecs, adj, entry, max_level, qm[qi], K_NEIGHBORS + 1
            )
            for _sim, local in found:
                nid = int(ids[local])
                if nid == int(q_ids[qi]):
                    continue  # self-match, excluded like every ANN key
                out_q.append(int(q_ids[qi]))
                out_n.append(nid)
        return pd.DataFrame({"query_id": out_q, "neighbor_id": out_n})

    # deterministic pmod sharding (not physical partitions): the SAME
    # shard layout the persisted index writes, so the saved-vs-inline
    # equality the family pins for IVF/PQ holds structurally here too
    n_shards = _hnsw_n_shards(e)
    cand_pairs = (
        _spread_groups(_hnsw_sharded(e, n_shards), n_shards, "shard")
        .groupBy("shard")
        .applyInPandas(kernel, "query_id long, neighbor_id long")
    )
    q = spark.createDataFrame(
        [(int(i),) for i in q_ids], "query_id long"
    ).join(
        e.select(F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")),
        "query_id",
    )
    cands = (
        cand_pairs.join(
            e.select(F.col("vec_id").alias("neighbor_id"), "emb"), "neighbor_id"
        )
        .join(F.broadcast(q), "query_id")
    )
    return _exact_topk(cands)


# -------------------------------------------- persisted HNSW index

_HNSW_SHARD_TARGET = 500  # ~vectors per shard graph

_HNSW_GRAPH_SCHEMA = (
    "shard int, ids array<long>, vecs array<array<double>>, "
    "entry int, max_level int, adj array<array<array<int>>>"
)


def _hnsw_shard_kernel(key, pdf):
    """groupBy('shard').applyInPandas kernel: build one graph per
    shard and serialize it as ONE ROW (ids, normalized vectors,
    entry point, per-level adjacency as nested arrays)."""
    import pandas as pd

    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    vecs = np.array(list(pdf["emb"]), dtype=np.float64)
    order = np.argsort(ids)
    ids, vecs = ids[order], vecs[order]
    norms = np.linalg.norm(vecs, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    nvecs = vecs / norms
    _levels, adj, entry, max_level = _hnsw_build(nvecs, seed=int(ids[0]))
    n = len(ids)
    adj_ser = [
        [list(map(int, level.get(i, []))) for i in range(n)] for level in adj
    ]
    return pd.DataFrame(
        {
            "shard": [int(key[0])],
            "ids": [ids.tolist()],
            "vecs": [nvecs.tolist()],
            "entry": [int(entry)],
            "max_level": [int(max_level)],
            "adj": [adj_ser],
        }
    )


def _hnsw_sharded(e: DataFrame, n_shards: int, base: int = 0) -> DataFrame:
    """Deterministic shard assignment: pmod(vec_id) — independent of
    physical partitioning, so saved and inline layouts agree exactly
    and an appended batch lands in its own disjoint shard-id range."""
    return e.select(
        "vec_id",
        "emb",
        (F.pmod(F.col("vec_id"), F.lit(n_shards)) + F.lit(base)).cast("int").alias("shard"),
    )


def _hnsw_n_shards(e: DataFrame) -> int:
    return max(1, e.count() // _HNSW_SHARD_TARGET)


def build_hnsw_index(e: DataFrame, path: str) -> None:
    """Materialize the sharded-HNSW layout through
    :mod:`~smartpipeline_spark.indexstore`: the ``graphs`` table holds
    one row per shard graph (ids + normalized vectors + adjacency —
    self-contained, a query batch never touches the raw corpus),
    ``vectors`` the (vec_id, emb) table the exact re-score tail joins
    back to, and the manifest the next free shard id. Write-once:
    graphs are immutable; growth appends NEW shards
    (append_to_hnsw_index), never mutates built ones — the same
    never-mutate contract as the IVF/PQ indexes."""
    n_shards = _hnsw_n_shards(e)
    graphs = (
        _spread_groups(_hnsw_sharded(e, n_shards), n_shards, "shard")
        .groupBy("shard")
        .applyInPandas(_hnsw_shard_kernel, _HNSW_GRAPH_SCHEMA)
    )
    indexstore.build(
        path,
        {"graphs": graphs, "vectors": e.select("vec_id", "emb")},
        {"next_shard": n_shards},
    )


def append_to_hnsw_index(spark, path: str, new_vectors: DataFrame) -> dict:
    """Incremental growth: the batch becomes its own disjoint shard-id
    range (graphs are insert-sequential, so cross-batch merging would
    mean a rebuild — new shards preserve the write-once contract; a
    compaction that rebuilds many small shards into fewer large ones
    is the maintenance move, same as parquet small-file compaction).
    Graphs and vectors publish in one manifest commit, so a reader
    never sees one without the other. Returns {"new_shards": n,
    "n_appended": rows}."""
    base = indexstore.manifest(path)["meta"]["next_shard"]
    n_shards = _hnsw_n_shards(new_vectors)
    n_rows = new_vectors.count()
    graphs = (
        _spread_groups(
            _hnsw_sharded(new_vectors, n_shards, base=base), n_shards, "shard"
        )
        .groupBy("shard")
        .applyInPandas(_hnsw_shard_kernel, _HNSW_GRAPH_SCHEMA)
    )
    indexstore.append(
        path,
        {"graphs": graphs, "vectors": new_vectors.select("vec_id", "emb")},
        {"next_shard": base + n_shards},
    )
    return {"new_shards": n_shards, "n_appended": n_rows}


def query_hnsw_index(spark, path: str, q: DataFrame, k: int = K_NEIGHBORS) -> DataFrame:
    """Query the saved layout: each graph row searches the broadcast
    query batch locally (one kernel call per shard — no graph ever
    crosses an executor boundary), candidates join back to the
    ``vectors`` table of the same manifest snapshot for the family's
    shared exact re-score top-k. ``q``: (query_id, q_emb) — the query
    batch, bounded by contract."""
    import pandas as pd

    q_rows = q.collect()  # bounded BY CONTRACT: the query batch only
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    qm = np.array([r["q_emb"] for r in q_rows], dtype=np.float64)
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    def kernel(batches):
        for pdf in batches:
            out_q, out_n = [], []
            for _i, row in pdf.iterrows():
                ids = np.array(row["ids"], dtype=np.int64)
                nvecs = np.array(list(row["vecs"]), dtype=np.float64)
                adj = [
                    {i: list(nb) for i, nb in enumerate(level) if len(nb)}
                    for level in row["adj"]
                ]
                entry, max_level = int(row["entry"]), int(row["max_level"])
                for qi in range(qm.shape[0]):
                    found = _hnsw_search(
                        nvecs, adj, entry, max_level, qm[qi], k + 1
                    )
                    for _sim, local in found:
                        nid = int(ids[local])
                        if nid == int(q_ids[qi]):
                            continue
                        out_q.append(int(q_ids[qi]))
                        out_n.append(nid)
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n})

    man = indexstore.manifest(path)
    graphs = indexstore.read(spark, path, "graphs", man)
    cand_pairs = graphs.mapInPandas(kernel, "query_id long, neighbor_id long")
    vectors = indexstore.read(spark, path, "vectors", man)
    qdf = q.select("query_id", F.col("q_emb").cast("array<double>").alias("q_emb"))
    cands = cand_pairs.join(
        vectors.select(F.col("vec_id").alias("neighbor_id"), "emb"),
        "neighbor_id",
    ).join(F.broadcast(qdf), "query_id")
    return _exact_topk(cands, k=k)


# ------------------------------------------- int8 embedding quantization

def quantize_embeddings_int8(vectors: DataFrame, emb_col: str = "emb") -> DataFrame:
    """Per-vector min/max int8 quantization — the embedding-compression
    stage that precedes index build at scale (4x memory cut before
    IVF/PQ/HNSW shards ever materialize a float matrix): code_i =
    round((x_i - min) / scale) with scale = (max - min)/255, plus the
    reconstruction audit columns a pipeline needs to decide whether
    lossy storage is safe (max absolute reconstruction error and a
    deterministic md5 checksum of the code stream for cross-snapshot
    integrity checks).

    Scale shape: row-local expression tree — one pass, zero shuffles,
    whole-stage-codegen'd end to end; nothing leaves the row, so it
    runs at scan speed on 100 TB. Degenerate constant vectors take
    scale=1 so codes are all zero and the error is exactly 0. All
    arithmetic is a fixed double-precision expression tree, so DuckDB
    reproduces every value bit-for-bit (same contract as ext_pmi)."""
    x = F.col(emb_col)
    mn, mx = F.array_min(x), F.array_max(x)
    d = vectors.select(
        "vec_id",
        x.alias("x"),
        mn.alias("mn"),
        mx.alias("mx"),
        F.when(mx > mn, (mx - mn) / F.lit(255.0)).otherwise(F.lit(1.0)).alias("scale"),
    )
    d = d.withColumn(
        "codes",
        F.expr("transform(x, v -> CAST(floor((v - mn) / scale + 0.5d) AS INT))"),
    )
    err = F.array_max(
        F.expr("zip_with(x, codes, (v, c) -> abs(v - (mn + CAST(c AS DOUBLE) * scale)))")
    )
    return d.select(
        "vec_id",
        F.size("x").cast("bigint").alias("n_dims"),
        F.col("mn").alias("v_min"),
        F.col("mx").alias("v_max"),
        F.expr("aggregate(codes, 0L, (a, c) -> a + c)").alias("code_sum"),
        F.md5(F.expr("array_join(transform(codes, c -> CAST(c AS STRING)), ',')")).alias(
            "code_md5"
        ),
        err.alias("max_abs_err"),
    )


@ext_query(
    "ext_emb_quantize",
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
      s AS (SELECT vec_id, x, list_min(x) AS mn, list_max(x) AS mx,
                   CASE WHEN list_max(x) > list_min(x)
                        THEN (list_max(x) - list_min(x)) / 255.0
                        ELSE 1.0 END AS scale
            FROM v),
      c AS (SELECT vec_id, x, mn, mx, scale,
                   list_transform(x, e -> CAST(floor((e - mn) / scale + 0.5) AS INT)) AS codes
            FROM s)
     SELECT vec_id, CAST(len(x) AS BIGINT) AS n_dims, mn AS v_min, mx AS v_max,
            CAST(list_sum(codes) AS BIGINT) AS code_sum,
            md5(array_to_string(list_transform(codes, e -> CAST(e AS VARCHAR)), ',')) AS code_md5,
            list_max(list_transform(range(1, len(x) + 1),
                     i -> abs(x[i] - (mn + codes[i] * scale)))) AS max_abs_err
     FROM c""",
)
def ext_emb_quantize(spark, sf_dir):
    """int8 quantization + reconstruction audit over the embeddings
    table — exact cross-engine: codes, checksums, and every double in
    the audit are fixed expression trees both engines evaluate
    bit-identically."""
    e = sources.table(spark, "embeddings", sf_dir)
    return quantize_embeddings_int8(
        e.select("vec_id", F.expr("transform(embedding, v -> CAST(v AS DOUBLE))").alias("emb"))
    )
