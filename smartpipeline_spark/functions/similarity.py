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
import random

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from smartpipeline_spark import sources
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


_EMB_WIDTH: dict[str, int] = {}  # sf_dir -> repartition width (corpus is static)


def _emb(spark, sf_dir) -> DataFrame:
    """Embeddings with double vectors, repartitioned: the test corpus
    is one parquet file (one partition — serial); the hyperplane/dot
    math is CPU-bound, so spread it first. Width adapts to corpus
    size (~500 vectors per task floor) — over-splitting a small corpus
    costs more in per-task/python-worker overhead than it buys
    (measured: 5k vectors run faster on 8 tasks than 32).

    The sizing ``count()`` is metadata-only but still schedules a job
    per call; at 100 TB with hundreds of query batches that is pure
    driver traffic, so the width is computed ONCE per corpus path and
    cached (the corpus is a static snapshot — an appended corpus
    arrives under a new path/partition, not by mutating this one)."""
    raw = sources.table(spark, "embeddings", sf_dir)
    width = _EMB_WIDTH.get(sf_dir)
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
        _EMB_WIDTH[sf_dir] = width
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
    from pyspark.sql.window import Window

    e = _emb(spark, sf_dir)
    buckets = _lsh_buckets_udf()
    from pyspark import StorageLevel

    # both the probe side and the corpus side read `keyed`: persist so
    # the signature UDF runs one pass over the corpus, not two (at
    # 100 TB this persist IS the write-once (table_id, bucket) index)
    keyed = e.select(
        "vec_id", "emb", F.posexplode(buckets(F.col("emb"))).alias("table_id", "bucket")
    ).persist(StorageLevel.MEMORY_AND_DISK)
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
    scored = cands.select(
        "query_id",
        "neighbor_id",
        half_up(cosine_expr(F.col("q_emb"), F.col("emb")), 4).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K_NEIGHBORS)
        .select("query_id", "neighbor_id", "rank", "score")
    )


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
    cents = m[:: max(1, len(m) // _IVF_K)][:_IVF_K].copy()
    for _ in range(_IVF_ITERS):
        assign = (m @ cents.T).argmax(axis=1)  # cosine on normalized rows
        for c in range(len(cents)):
            members = m[assign == c]
            if len(members):
                mu = members.mean(axis=0)
                cents[c] = mu / (np.linalg.norm(mu) + 1e-12)
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
# a row count). Derived by _ivf_kmeans over the same deterministic
# vec_id%7 sample _ivf_centroids collects — re-derived from the parquet
# on every suite run by test_ivf_oracle_pins_match_reference, so the
# pins cannot rot. Emitted into the oracle via repr: both engines see
# the identical doubles.
_IVF_CENTROID_PINS = {
    # sf0.001
    '500:-1.46395296278528': [
        [-0.18607139273376905,0.03198709877049546,-0.01856729344427942,-0.011394165242238125,-0.10348029187071266,-0.3001081996639446,-0.08182406820302876,-0.045488012490229164,0.0006878684316908207,0.02215447579528612,-0.12718324814357385,-0.16634438313446262,0.17424534564363175,0.17498072806911857,-0.06129813697001879,0.18173994145520245,0.03356294485384691,-0.06287260186007151,0.04653576913346206,-0.043534574240942855,-0.01947380748476992,-0.0761574870908638,0.14679686586648802,-0.08700502272341851,-0.0832547835724836,0.2362918264775162,-0.15389938321611882,0.05213816925901496,0.10524639884243561,0.06618694127020475,-0.26506112112862806,0.052784960298016666,-0.006653290292134194,-0.13213860441677833,-0.2507957349468945,0.18403942522826117,0.17612665216565082,-0.051330264600514264,-0.07241202023049786,0.09032112992346221,-0.031026556274345318,-0.1119509251547219,-0.045129517022054574,-0.02473884847204603,0.045851679764092025,-0.08479212511031099,-0.11739013108713928,0.023971111013634073,0.003769298532845044,0.11854056269556913,-0.07619310644936836,-0.008772128027087137,-0.15476229919608495,-0.26063088704281445,0.13741431806520799,0.039971342437664766,-0.0009133653969777239,0.13721133664659177,-0.13832633655294932,0.11390194246250877,0.024894975090811806,-0.029590707625249547,-0.2708481650373398,0.1758107499459375],
        [0.07997496088895273,-0.07341319432939393,0.25078485403045214,-0.07789257366444215,0.18535443708782812,0.01184067381359987,0.10092969731247463,0.04992160894869237,-0.03320934114195999,-0.14098513770877633,0.1419377337896372,0.058868573602675965,-0.06480999716532461,0.005567775929313887,-0.06844793776116198,-0.06377352881024201,-0.19901902483369363,-0.15735706521558313,0.04349790071699728,0.2186217447890735,0.142308885237438,-0.03107239233447891,0.1274030000014048,-0.15550567874562676,0.026376485505935993,0.009227115429469534,-0.0451592359397854,0.1940242546067236,-0.20654028742802585,-0.0023580664855712523,-0.043986909203211244,-0.059221599236465625,0.06569584141273722,0.12710584960808782,-0.2418070332874535,-0.10392406069929401,0.32654141278203075,0.16919172468583077,0.1995897510010696,0.05631540941553506,-0.012316192705635883,-0.1166934914377157,0.08011849475542829,-0.08063802614080097,-0.16094551952692232,0.014646986411565525,0.1397882853641347,0.3448558191154218,0.05998816917460865,-0.013537980024169184,0.0714440198629202,-0.10508414114870389,-0.016362309232666097,-0.0022616601192370902,0.05556948233847128,-0.0015716660668403473,-0.008703383305124514,-0.023960420209372946,-0.01271875844447687,0.02035937256524703,0.18064906438675943,0.06029280351705447,-0.08103210979412424,0.15365414292139723],
        [0.018961033832998145,0.005379334569596354,0.013255133625255777,0.08095120703452129,-0.04645942831572271,-0.24419721293866153,-0.09041681663227176,0.048007921197801465,-0.18085813641972498,-0.025220265610939537,-0.1890223827542956,-0.13046424714025276,0.1810262434299493,-0.22724244674836433,0.03370537196030126,-0.04489216819525204,0.1655535728040181,0.03144032362351209,-0.04239247618414237,-0.07999719609978818,-0.04597350612854526,-0.05387983055878378,0.06666799855762583,0.1730612990214052,-0.023765803494828774,-0.25905613539329747,0.12462906812161739,0.06150245609216911,0.20846362854129427,0.008202273357508694,-0.00534647326811347,-0.07239202222120786,0.09414509877310172,0.14984591692563584,0.06869659067778758,-0.18180662550122217,-0.10374223149561738,-0.004655984024544116,-0.040056511910922715,0.016045332562704864,-0.04283377600693473,-0.05129437398218316,0.020265506499867154,0.0920240112227175,0.0064339613975076685,-0.3121378227830718,-0.25480179251372326,0.08968437717862685,0.0351527014222056,0.02990153411958094,-0.07627279965369428,0.1498152599343149,-0.02943552972195709,0.07691232317753473,0.16526955370549143,-0.259828091014136,0.10267691658725754,-0.02718878276678424,-0.007304912683659533,-0.13603152915961694,0.09362543154062218,0.16971468376479198,-0.1965988405754615,0.17773308920261036],
        [-0.09100820356330505,-0.0125061709429721,-0.03279957100234683,-0.04050052352422719,0.1423013729590797,0.06100307789486421,0.2323891572577731,-0.029147605696804798,0.053151003455022626,-0.10493555158291125,-0.07037646610103845,-0.13605297793631174,-0.11595168244736785,0.07815099266240895,-0.01974913716485043,-0.012455434436968352,-0.20712137859227128,0.23813579871094154,0.15216354867283582,-0.16870804240840487,0.19865528957526757,-0.12252094424718699,0.0508068077344197,0.17825290065030097,0.16259572348503779,-0.044141911952499814,-0.10090737543697897,-0.022348389943864542,0.04661692093404343,-0.028153388976483847,0.06614902142686511,-0.03437986648103669,-0.0497214556910014,-0.050951214772262554,-0.0952148525935344,0.2622834237435116,0.06505716319898783,-0.031826110839685756,0.10534459940221987,0.10632572797032387,0.12656450262916671,-0.2625610966446817,0.0503781104674337,-0.08282711033542384,-0.3342866117601001,0.1396587084580245,0.19181786521875346,-0.24554881378941223,0.11657787565258801,-0.07786323423630491,-0.0527169303259006,0.03660815563280086,0.00023312504150497612,0.05329149012429428,-5.344672897734936e-05,-0.13880006571134992,-0.03802956392265111,-0.1956703533502654,0.09105971391006151,-0.02413497765555127,-0.12632222135856422,-0.12991012013799186,-0.0003476337676333139,0.06623308535698086],
        [0.11105572158799872,0.2479075625198526,-0.07357757235196206,0.18632349057991265,0.205293004259832,-0.16313553267507216,-0.20623408557869716,-0.061940841062886776,0.11716473781203869,0.09637870751013235,-0.0192882416191438,0.08641222888413207,-0.07443009757069306,-0.07717842527751786,-0.10789318172509063,0.03096091875669044,0.08078019440831721,-0.18244602535963927,-0.038395381300324265,-0.20902659087581504,0.13899158610747653,-0.03389259198014885,-0.12440185661720193,-0.006212602157114937,0.046910681728106966,-0.1513980281994133,0.10387043436849601,-0.08427149324927874,0.11098836401426339,-0.07757733432428467,-0.07160672094094879,-0.04815226381050771,0.2057028133177086,-0.26194166038185795,0.008008501732375467,0.13639658039404082,-0.001362709946606494,-0.21321089992161404,0.07128702702074466,-0.143152074282601,-0.05710626458446613,-0.15583239563135132,0.008253471421917938,0.1691127988030279,0.223942270594072,-0.05312504452631778,0.08058118131198924,0.12713570718486278,-0.03185919673635916,0.03157119476654728,-0.21070876430386742,-0.21246208957549692,0.12131912361799366,-0.08812660418206117,0.06030847452247632,0.042051957533015015,0.15026092584437006,-0.157765353083658,-0.0616594141304217,-0.026592497453418018,0.004513165664126431,0.0052504358174027856,0.07663972250739277,0.128191162030319],
        [0.2390212978293749,-0.17701297814606418,-0.032149390143422815,0.026066452873556356,-0.08833176932048471,0.04487745365701866,-0.019485862518474336,-0.1599035572416035,0.23895908140353148,0.0641806847803184,0.007212095399685025,0.05428084463443514,-0.03154763425621076,0.17703729588787426,-0.11028581664228718,-0.052702981618002624,-0.07282402744459643,-0.05022855574427484,0.07656911236610943,0.04494261809256374,-0.14233367766463553,0.05878837642018523,0.18986970127486968,-0.024990868930075728,-0.06636666823344302,0.02193970997370493,0.039589212041895194,-0.14493928469417797,0.10876197758062606,0.10200459421212353,0.008556365393498997,0.03273131980745787,0.0854433389154257,0.09405403301724853,0.1876785695114847,-0.009219723098508614,-0.17163421109831412,0.06838533272556051,0.03058241464426275,0.056634315934862595,-0.15142623734546723,0.038217985712447396,-0.2612247288920781,0.12719189484338592,-0.12024546999605662,-0.18912472376630754,-0.029685076141264036,-0.24482300189462544,-0.03636271956770099,-0.05832196230246572,0.09129537800240273,0.2687996596729178,-0.08990041006838054,-0.12169985568351258,0.040161864692966016,0.22080782257130732,-0.11255184989130135,-0.18041806230909788,0.16012020651685227,0.011500917722993113,0.1679348316516153,0.1367827275452014,0.16432888505900642,0.15018995902466906],
        [-0.08966177356733869,-0.09417543231216648,0.0458901885631298,0.1757754775117179,-0.011471996141254269,-0.00836747346328288,0.18359353696347205,0.18901392140359957,0.09270394548445764,-0.03514578482488671,-0.05002084570354744,-0.060408460338230434,-0.03940806249663048,-0.08111154095155786,0.21149545145551385,0.13673175588414185,0.11432948454869031,0.07501381459031267,-0.21936546918470204,0.10938696606413262,-0.1901934520979608,-0.17859741997583353,0.006066935259570416,-0.20656935535835505,0.044591182568441134,-0.027979423915006008,-0.10572078052155617,0.20263572129191962,0.20036412953654262,-0.004123017853551383,-0.1561915498469428,0.03904530643151573,-0.034238213271887336,-0.14617629117068975,-0.11593557346803121,-0.09614468284632446,-0.048491330357459395,0.14296753417154504,0.17180442970354984,-0.11256734390729227,-0.16149879533978387,0.15069690666561814,-0.13630196051397694,0.28277878020375175,-0.08958430714910445,0.0349915170479912,-0.15155221117349263,-0.03802207233891684,-0.2038486667115165,0.02167870240679764,0.052204108598963725,-0.1310811154721396,0.012342718564881939,-0.08622912337420903,0.2278247573758284,0.12802352349585439,-0.0030431356075069985,0.17066215858995182,0.10827361615259991,0.020051520867177274,-0.010222582892819961,0.020199603289281685,-0.03290482388269021,-0.10193205111218816],
        [0.2697813449225595,-0.005214125913388831,-0.26871874273662094,0.007715021077467181,0.029849068196762633,0.27568420218975004,-0.01658619159891707,0.13086714862975085,0.16784062036472644,-0.14194931293445856,-0.04245708037247018,0.1467606426783588,0.10704443437173637,0.024500629150234328,0.1859648543943174,-0.004534316721134781,-0.06083762395132258,0.2763884286650529,-0.2832132895693805,-0.16196469171537833,-0.1385250371398051,0.13512417700992074,0.06301135762503839,-0.060349161501467054,0.10259731231626643,-0.10508123492045475,-0.18087224967826782,0.192065269351967,-0.02785010547012988,-0.11067367345729846,0.059932222552677765,-0.08025007166054132,-0.13253790887176317,-0.04146139003720203,0.05375308103681457,0.019225828533585437,-0.12191821463999296,0.15003481188712314,-0.001385261989206618,0.04883881246726355,0.0793769383852796,0.001290260596104663,0.05540978637318058,-0.06542757626763662,0.17791861402408038,-0.010263589609399689,0.11091862503649148,0.13415583674417428,-0.1668329059470003,0.17070308024460035,0.011831704474974393,0.08236317794055709,0.06959424605469174,-0.12910245447884278,-0.13708270868063097,0.017523203743199763,-0.08572139573763604,-0.12229466660024733,0.009454010923275587,-0.14065787308865377,0.0009404429336767465,0.06169703067487801,-0.07389635218361887,0.05008490886649353],
        [-0.034258554022062945,0.01587979753542403,-0.1013490167540467,0.023756604762504237,0.09029462051601336,0.09545864323847261,0.15996577798538966,-0.1083369213528103,0.022727106089781103,-0.05007236999367067,-0.035221764045198355,-0.2016889434270769,-0.1340245189435493,0.1573270444636981,-0.039354145589361456,-0.10215126768888019,-0.054184809681376525,-0.16813072825786535,0.036939561061563375,-0.10031651407720249,-0.10157252458174547,0.09990997865761077,-0.2661398471277927,-0.09566686280315165,-0.07498876202093864,-0.07959412414630093,0.16179637412501474,0.0002018447933274487,0.16247265644040476,-0.26860921794297676,-0.04487184582614421,0.13818059180717748,-0.21778396857180574,-0.06100306091218757,-0.33070631246860804,-0.13967258883650802,-0.2258827218306737,0.07253892930461615,-0.09804379697272424,0.027576228174136144,0.1078333052123408,-0.05607268403512186,0.0441544076086144,-0.07908554237281082,-0.18380361839462817,-0.04156203432195991,-0.02569747837807428,0.07711476944803508,-0.04504234944410953,0.011764953867043274,-0.19049092780571836,-0.1441095692950068,-0.00843264676497541,0.0649186837099781,-0.09182506406836276,-0.22356818890955882,-0.042694303886348296,0.08305743635979364,-0.06228745639780059,0.1441970314662699,-0.010964088397704911,0.08273075440821127,-0.01966836842892116,-0.24156681306668562],
        [0.04333917319463279,0.0008321622054668956,0.04578492408140957,0.030400238008289074,-0.02381943070948801,-0.057449341869808275,-0.01745601279237627,-0.13578691783967023,0.009093150695584825,0.04391364138235878,0.12417896659251296,0.07832473720954951,-0.17304542333771142,0.05318413419117561,0.15295507959789537,0.046653239709642774,0.0014994087007445596,-0.021515406948698773,0.053918136480039486,-0.17944234654959174,0.2599020691150187,0.021586608463332817,-0.2508916259237662,0.028809136004813506,-0.21691873824420968,-0.10706299243542297,0.15829641599373112,0.03606763580620427,-0.055669960702557794,0.34451934047163685,-0.07402049896613985,0.0519178353146266,0.16964812236404195,-0.12460366630093135,-0.021796562568486694,-0.04939462765771927,-0.05317796251164742,0.04189570778732197,-0.12473363854548368,-0.11950656209108339,-0.011248694888319399,-0.15835464036858293,-0.01768080568953624,-0.07829707676556756,-0.21421803594082575,0.09071318106986212,-0.36346528735579586,-0.03576054591801629,0.0784312380959962,0.11016978128251795,-0.23653543154343074,-0.05646662609669206,0.04009282269316175,0.0929909930767482,0.09132762453712191,0.07395860341567348,-0.08628711308667422,0.016821020574706504,0.13119475934870556,0.03946896963878993,0.22685599805112666,-0.0034079902529430043,-0.12575147728107763,-0.11090373988474257],
        [0.1597918595679895,0.009361996847823602,-0.022137703037954357,-0.018515650125981883,0.0243558768008553,-0.12366189998231412,-0.06483310989333937,0.08619553149793134,0.042121020869259666,0.06571585829575959,-0.27915114698388344,-0.0033641219526131237,-0.01743897023531341,0.1097235786135318,-0.01106170944121999,0.020646074526637977,0.14513914611654405,-0.07934107229886192,-0.11333068771838971,-0.15487794836619537,0.10402940899079717,-0.020502564147558862,0.17284382116712435,-0.005120275306623487,-0.10832492802195041,0.14514422007909192,-0.04398320960593708,-0.024023687072416016,0.14273237610191458,-0.2090376678918953,0.02264464328090545,0.2288738238342999,-0.06633866099486958,0.13125095131231262,0.012405599556587531,0.06809827968939951,0.15148885094563164,0.16963191329060603,-0.0562888332006776,0.017591847599638787,-0.2827038760511022,0.005520256601380792,0.013387504880284291,0.031304356250824214,0.25182930974239787,0.15661718818711085,-0.0034317686964593767,0.1955077684453466,0.25552999795149284,0.07549131326051821,-0.05196605045756276,0.07477032969058289,0.011428043052348163,0.1496626274888231,0.2482813668270704,0.11836745174489977,0.19870813092289177,0.08751154744485515,-0.016657779836254015,0.18488663649578194,0.03055579693278642,-0.01336158503554656,0.19051043132344034,0.07809850113972722],
        [-0.019541261177677526,-0.09067873810647549,-0.12408076575180528,-0.07744543359188026,0.15731116913729518,0.11160880668626603,0.32767825227202124,0.12089763351184528,-0.15022922899252042,-0.07119582236214306,0.04757071528018382,-0.16915834412725253,0.2713945268871399,0.0259184314453074,-0.14615724016314333,0.07319920031860999,-0.1331392907502808,-0.002188901081909143,-0.1144756814887829,-0.15705703846263477,-0.09760514474742399,-0.1445093580327898,-0.011606028747552686,-0.15024112649236862,-0.17851939202391556,0.03352010001849585,-0.15696823604640123,-0.055176929969110056,0.05127721096976937,0.03822513286340935,0.07065177664044071,-0.23275790742005903,-0.008726917314658798,0.1491013181383394,0.17695976778250885,-0.0657275911607108,-0.07291839296500088,-0.06042766942373081,0.034093443080326365,-0.11027042031749604,-0.001739917778446521,-0.10620820438640816,0.06947100467339846,-0.1391419531168005,0.08944679163751112,0.148781333066716,0.10054134035031244,-0.18695992746314954,0.10832672306470587,-0.10499590014085011,0.1309296329152809,-0.04379625647315692,-0.10655368441394994,-0.05990466337199181,-0.05532639854075607,-0.04084221239548614,0.03745400520176206,-0.03617027055921662,-0.10543060928762137,-0.20001284545845943,0.18339166932204584,0.051673903062108714,0.2584581668206964,0.0967739426710158],
        [-0.12505522706707436,0.09188651319875432,-0.05258265687270217,-0.083831896797094,-0.028246828219004535,0.009814337813587185,-0.1612747606916994,0.041830570820015345,0.08254870299103564,-0.02280506949714321,0.2138913830477316,-0.0036997630085213755,-0.100422622765262,-0.1542974353575383,-0.07294905628584662,-0.19357905624479846,0.007615901383598022,-0.004769683773999463,0.06224091495757639,0.0342395974375451,-0.18109288379057373,0.0798824696034011,-0.00551353898660968,0.26496451190430526,-0.02893971926113204,0.019935217764010475,0.17535160614722362,0.15986333862201374,0.01404370828964657,0.09119657403161091,0.2134345601248666,-0.001097176853568643,-0.16129233871653473,-0.06441326482367594,-0.07850490216301241,0.0027778424205896464,0.18189215632373254,0.03510501304935744,0.05174275845613692,0.0157416770409332,0.18656448202253018,0.13890978175208707,0.03441996596499793,-0.04934269965514286,0.11949721794643492,0.12032842351607514,-0.04928727366656851,-0.012650259634682403,0.12536661920302702,-0.06494270062029318,0.31346440392759306,0.2552620943355298,0.14187742648504545,0.11051043504068735,-0.058854579398805534,-0.06828666645420639,0.1869968217821764,-0.12074607913187292,-0.2090098848485955,-0.08538018743249103,-0.29227452912973323,-0.024168525954967737,0.09090054773210302,-0.01663764959754127],
        [-0.025586678054944956,-0.15356090718705975,0.07476372137321431,0.006403090332123045,-0.016634911707282672,0.048959781488569436,0.04499137377401583,-0.0596228111807514,0.04068870042846603,0.14063032955851046,0.024954531009252007,-0.09922908318634432,0.09745076430925464,0.004070629912738705,-0.14349481178530912,-0.18469888826308167,-0.09431591171915137,-0.0271034107342932,0.01073171918006702,0.23141180824583282,-0.09787954485089156,-0.26685466707912636,0.3350605819863213,0.021343774786609933,-0.201448091132079,0.12262881503857463,0.20826358002228962,0.006307357306354769,-0.025702327854130715,-0.22278533531037095,0.030191399077310773,-0.06793242267766143,-0.17792429998802872,-0.15924552868792471,0.11303685150231611,-0.05456990632523202,0.11766398482142691,0.034762393074657574,-0.08239728044477447,0.010565048446394673,0.1692138033456455,0.24452266323448113,-0.06202239987945528,0.054079264038696104,-0.04631524516189795,-0.03185242559783717,0.10876478109287761,-0.24607155497581368,-0.16614246734734664,-0.09977548344358217,-0.10033218823111266,0.022133982363868505,-0.09157241089751122,0.14356719548039448,0.07054994281183531,-0.059708994287106264,0.06547722968916263,-0.18930423253873935,-0.019873539519006257,-0.0815039321103831,0.11546533835915333,-0.03950044181004761,-0.1911547071754472,0.06624600643329258],
        [-0.007095926597059397,-0.2574086504493583,0.1823051688209289,0.21901545105049322,-0.13558461069766703,0.07940663298482449,0.2016130927806415,-0.1078720717820396,-0.03393765204959792,-0.07019581269956796,0.02742454807424279,0.10416111193448592,-0.014182879442032012,-0.02416805787951603,0.026499467823219665,-0.07319622972758749,0.12124580618512551,-0.0575037726215514,0.024958627102854805,0.011714833699409788,-0.14889553566715735,0.11608220095733655,0.009415651324328266,-0.1693325273556126,-0.10248915657225924,-0.04146958955529726,0.09152318590402643,-0.048689384079263834,-0.14009207795327774,-0.06434270274041098,0.18386994322216033,0.04239832582572005,0.19249315042967416,-0.17532703098375507,-0.10262475530809696,0.12108840937208211,0.005506519942112073,-0.019381183045546407,-0.012670044700348517,0.04719944221246122,-0.029926447192251012,0.022284799606308192,-0.005717962840396482,-0.1533187259927858,0.018220657433986553,0.1274823965266568,0.1121073269882698,0.10268917785555483,0.08949878345501451,-0.056259297670288616,-0.17731053626943513,-0.16887916515978346,-0.22626427035367375,0.2801671548267572,0.22990422521470485,0.04720665828255093,-0.15462771791093927,0.07368448966294232,0.18112871269371061,-0.2170773354525083,-0.12908882341418912,-0.06217670349178185,0.11981537348308663,0.1581099687309815],
        [-0.004821962263630638,-0.10134886193849561,-0.14011330235123534,0.2599210645592258,-0.13085241745427206,-0.06680971059885729,0.07374008898813823,-0.06485422938282144,-0.4262933820498713,0.026440070712595593,0.06750890742497058,-0.0015099664616405803,-0.07678433516036667,-0.0054241270017634695,0.012352623500926177,0.054171050280441974,0.013044477016153955,-0.013666925565814579,0.1620791167258366,0.001755125301273426,-0.11434354030424342,-0.15856082636506996,0.15386132176436712,0.03376016641964486,0.01509988829007997,-0.0951551048002062,-0.011229704024299727,-0.0947465884420447,-0.17209991952544199,0.06433470741994038,-0.26930375987199195,0.034508860859114684,-0.1841358179803199,0.008166407718641364,0.034483052972335816,0.12709800994279288,0.013657470285136869,-0.2070762787679123,-0.04089315484985125,0.06141315517802937,0.01694423691898211,0.1864730719664723,0.10683234090023674,-0.00968298542539105,0.04455847146852455,0.14613522123928355,-0.06029731870320955,-0.07439988625833964,0.17581858182436352,0.10648808115643438,-0.19321736421385793,-0.1658963910439129,0.20183021307510823,0.17589631020114102,0.07357314190454557,0.13521999219173417,0.003467554194279246,-0.21802662600244596,0.0061662102251704935,-0.03313649381734003,0.044004471745701705,0.14301793403570456,-0.06871048250206797,-0.05090841629064523],
    ],
    # sf0.01
    '500:1.08235486072832': [
        [0.08940833837187304,0.10594589385253578,-0.0571239402569961,-0.11405203626442395,0.17250246383187054,-0.11062238577771442,-0.12972754250054497,0.10087749968197085,-0.02045206095315987,0.050863064630283394,0.06340875292960022,-0.06015142564858003,-0.1610943664697581,-0.05381950982366744,0.03338498179132757,-0.15813981174264286,0.00931674950693191,0.08043619971020083,-0.0035876934082257747,0.09247782652389731,-0.20771869735756787,0.032556953757277206,0.2601573588352219,-0.034442213264239616,0.022992068797455287,0.21302162733552052,-0.18649451121748672,-0.03163630647548127,-0.04907940696617746,0.20201833576264785,0.09838351818612964,0.1520573006608,-0.007842491162394749,-0.16590789129497713,-0.11592786393328637,-0.08538755860421929,-0.0221050704984656,0.05007683489890161,0.05059703149963702,0.2804044386461531,-0.050148779417024024,-0.07498845665192574,-0.10541123469931307,0.024402300008589745,0.0016430677140570364,0.0463211252046267,0.1220187513172749,0.02068301722351072,0.08064812104018569,-0.062261738152662074,0.05011617523384408,0.27642106596316646,0.05312982509238568,-0.13478257723350182,-0.055061765470137226,0.10817835015743812,-0.018608889141357603,0.06982566187338873,-0.31151137628187986,0.035576038250263155,0.10642764904446905,0.10295745309000248,0.10926461937693736,-0.33430939050879505],
        [0.2189641540700778,-0.1370024892880878,-0.09728687133469581,0.03856620323587642,0.15284833960077024,0.1583974690962782,0.01579072549979377,0.18269916849851706,-0.12558121575575565,0.14576465618560155,0.24770004128789855,0.32893926117727285,-0.013510818762859422,0.023533868143554373,-0.049518068315868885,-0.2277604881522708,-0.02872366960611756,-0.09656110765635875,0.009398328960544466,-0.02720419978057526,-0.05182677073640429,0.12052272076667501,-0.04257479943188261,-0.22056318007988296,0.11578553582197676,-0.006396579665908512,-0.09730949315843146,-0.02252514263761916,0.11217183734717737,0.10115604231811318,-0.0006639125461539686,-0.04308546303890627,-0.04775271601548467,0.1859962640269702,-0.15776169730212747,0.033682752687385256,-0.24944961737455826,-0.020518991273988756,0.05653035282176475,0.06801132016252444,0.2170010635871664,-0.11566418518661041,-0.17014095462633916,-0.06769817639985681,0.02959921451136692,-0.1979503395110572,0.004104014948870107,-0.053328097777889064,-0.041343200346737635,-0.03532086822808232,0.01803163591191356,-0.15230840994135741,-0.03620054554264272,0.1945210149635447,-0.10191759718087093,-0.12663818793061069,0.01873466049014268,-0.14792523379898445,0.007885942881396676,0.07586917185980349,0.15389643696196076,0.11039881099972931,-0.1340449962910614,-0.08740293487102949],
        [-0.21509716047172336,0.10967295907836797,0.18398983153701642,-0.23258948869812257,-0.018440102685265778,-0.04804379691469035,0.01310067230191154,0.18558388362120293,0.11379004675038072,0.17743229865743493,0.015137349355172837,0.015972765264118033,0.02070776360587562,-0.1913782136652858,0.024144191755957473,0.07288506558818993,0.015121453210286623,0.06793859084915209,0.050744041092665906,0.06936395879814795,-0.022575075107369853,-0.08849135923483396,0.035221741684225934,-0.11630827453658522,-0.1396457685559351,-0.02783079627601993,0.010790722507321817,0.08469385925662458,-0.2628646436855305,0.009534941544146327,-0.22482426836306318,0.036516477352024276,0.11844890907903975,0.1948920381174837,0.17351079867367372,0.1631162657298865,0.12213540145557447,-0.1738915067114917,-0.019727495858963558,0.03772043720711345,-0.012120331889583095,0.014030227172805282,0.23030729887699763,0.04654754203783542,-0.14997562651295326,-0.06755563349551828,0.0061851498008742185,0.025674674979809832,-0.08434807238613656,-0.17132856235084473,0.08846676551401389,0.21707534680966398,0.1906903958986718,0.039613232500486,0.05979630541960996,0.0847442615206648,-0.11178338178260701,0.08887581250468815,-0.28438868828999064,0.09877179463076524,-0.14716835362073602,-0.14866183666168709,0.05175780084452654,0.08993177208756087],
        [0.05209939177666439,-0.08204950195834639,-0.11514031766229073,-0.09142304541483041,-0.04370585564068226,0.009344991544566793,-0.17784251883335805,0.02542852942036957,0.07238541867169232,-0.1650776085012868,-0.0822187051443288,0.15257430898968433,-0.16198490695388593,0.17740522703255623,-0.25583364909030415,0.11173608473558388,-0.07905523312025586,-0.18279926026391183,0.0916114753164478,-0.13189947899771357,-0.14482812694631375,0.13192130730416313,-0.03959774053268341,0.11846787827728711,0.05633792921542601,0.09355142338512543,0.3072841954408145,-0.06223970795433615,-0.03443053149149549,-0.01390100201651781,-0.02050703621052032,0.1941791986527605,-0.17211671054064057,0.0651580377578537,0.06022140384220081,-0.11515553167163929,-0.033477915265005424,-0.24339988941899518,-0.13644371347177722,-0.08129050465455331,0.06820858005548382,-0.015743116920741443,-0.05444988547600744,-0.045492491833854835,0.10346223647950448,0.08875409388414864,-0.14403166138530787,0.07233336866395225,0.01277512702159215,-0.1887868189562523,0.004005529502530903,0.050064916513238605,0.182393022819554,-0.08814832552828858,-0.09557490152420882,0.18237906162619608,-0.05366746468686953,-0.048997689570169686,0.05312474490525462,0.1359857989698672,-0.16875831541045472,0.30351030482498575,-0.06403628665962584,-0.05857254367648792],
        [0.11144786896523118,0.04160197915137928,0.17991997062917056,0.12896689520131258,0.10558534884342125,-0.12646532358873488,-0.1193869954914732,-0.21367084827200333,-0.06472654629022385,-0.10866955722861622,-0.19320327050068553,0.05543818536990416,-0.09573719036603774,0.04539009506035769,0.2686251145142581,0.1465450170196876,0.18125094170355655,-0.24454973369872768,-0.31411419618900205,0.024330657903829753,-0.007449051272576043,-0.011835833984001698,0.2076114637589753,-0.002210078205564763,-0.05724160929037948,-0.043414529832916576,-0.04557841612352393,-0.2164810397738622,-0.13873073838926997,-0.023172582892900497,-0.04358544233347862,0.058299483389266805,-0.010732577979399902,0.026963406387425694,-0.017968653770915863,0.007819379497693194,0.05969052581288518,-0.07165920255831355,0.23774784657355322,-0.09626607624397385,-0.043952354721743046,0.07858424274488814,0.04310833841641987,-0.054892513310374876,-0.0362910634622694,-0.1501522925834229,-0.15023116846594764,0.027973321576642517,0.11896967016444449,0.16555334199853933,0.09046865141860898,-0.04693598213296235,-0.07702821204719561,-0.000810851680991041,-0.10413677268129251,-0.02386878396833061,0.2592588578439833,-0.03423790768372353,0.007151142069128236,0.02186034195016096,0.14643215678542892,-0.07645923741369416,0.23504288274991916,0.13219108281388198],
        [-0.03032759521532716,-0.0861953497280684,0.03942204288936752,-0.053660295230073506,0.05321455345496313,0.20966268649471465,-0.02395069585656992,-0.349673843956992,-0.19914989646933692,0.030308873009497365,-0.1642231402974253,-0.25693508444726454,0.1324088141042349,0.11302728063476276,0.04620850443681717,0.16743541746609944,-0.0697610794376054,-0.15888710706114748,0.08988158417044351,-0.13074057706047307,0.16114051186804598,-0.06961095103412215,-0.12341404808154545,0.04783151662932997,-0.07860770851585908,0.040172275060176274,-0.10663156444938479,-0.0016114798238134613,0.02458966604147689,0.042035912286651725,0.1576627515161217,0.06360132465955166,-0.014672226946033413,-0.27118077347806013,-0.06924404544072321,-0.18269633212671538,-0.1634551747312838,-0.09241410559825354,-0.004913000565437917,0.040362994093888584,0.06936406738139403,0.019774905323546574,-0.023705186067504484,0.3797529264600862,0.010652646323963599,-0.05257927480073313,0.06095111113414678,0.04015033099841085,-0.18295763458405548,-0.15078700251028068,0.08161798181443647,-8.640221116472431e-05,0.10769216258836435,0.10034803035161635,0.003089577615809747,0.10481846268300332,-0.06987171707246315,0.03531468594393459,0.07176595318403432,0.03331891619631068,-0.030281135893001947,-0.18971883297791853,0.06742524278529549,0.11438527146140805],
        [-0.12698263612383454,-0.15620194259976777,0.023354705411957975,0.17268582115395398,0.002740741959875045,0.27314657774277556,0.15725014896155398,0.23699127384816215,-0.16129863667995567,-0.039735182391534285,-0.012975535965035607,-0.15268942467632082,0.0641968834488745,0.01608289787791696,-0.24886881448776996,0.12581501312168467,-0.32027071067573554,-0.06338181685083764,-0.10695522838908621,0.08509768071659418,-0.15320568757192102,-0.12493297086333499,-0.0692316471112927,0.11385389302009553,-0.0961881084771107,0.0630227476354927,0.09644681837240623,0.027844583750819944,-0.0818972570240161,-0.06640406929101393,-0.07302766293033477,-0.014886088865800938,0.19449042292313254,-0.000625955643412806,0.04840137881647005,0.13464245795042282,0.12435340602503253,0.03242136206020992,0.045285837798662694,-0.01736957376900073,-0.1323705438209043,0.2037458002208673,-0.262162935451917,-0.10422438660667045,-0.2430383920059574,-0.04448151048012035,-0.04041971386554627,0.1424262364688743,0.03961686911133371,-0.0741166907791835,0.2024791573014081,0.0032739665839624597,0.0037767781491010884,0.06434311106566379,-0.010153641808042697,-0.06379778772544946,0.07861166503275106,0.2080869405449441,0.09382622978498911,-0.05085394934672392,0.019109815671367818,-0.03712063546305955,-0.022737299945357062,-0.0034611772577272546],
        [0.14129075800407465,0.013161532680490218,0.09150212639143421,-0.007508910605780932,-0.16858106212016064,0.06360480616147715,-0.030336000289477184,-0.0563628771092888,0.11569990185741512,0.08913002656444624,0.07237696002607621,0.09765610324569099,0.08211070100442587,-0.0752140403285932,0.09783617053333456,0.10785058045205136,0.010024037327799001,-0.04792010051092639,0.09625930286719708,0.06285679782277734,0.16085379682748743,-0.07518461784474134,-0.29047301034854117,0.010701133767116412,0.07719073166360219,0.18852774324809668,-0.033523877963646136,0.2300350201712099,0.1866933973546615,-0.20209820031685224,-0.25071135639236325,-0.08930944845213729,0.10082823208834388,0.19696603658426506,0.034001542122238645,0.11277421948511471,0.06972599204650591,-0.23931909137711335,-0.07969976835326975,-0.026914568380253124,0.10373379503282823,-0.2313466348952257,-0.029548980717809842,-0.03400277092404058,-0.14568647023764336,-0.22653385111674162,0.14326251628626488,0.20288791578042642,-0.022272598971677365,-0.09286861358803984,-0.07148057655276875,-0.016795189260621284,0.0052708560331989375,-0.15811262449129465,-0.08696085821867296,0.21736730459459935,0.07428449525291753,-0.01071665023622282,-0.10316028005021866,-0.09396640924597727,0.010839772963711733,-0.05643469010268143,-0.18839375769485098,-0.024983175161189877],
        [0.04543868536742045,-0.08131934538965689,0.12043486470369026,-0.23974027172728143,0.2675685409418166,-0.058167138161613355,-0.015642288606863543,0.04008757246039631,0.022994625216217653,-0.02872003301529673,-0.13918912527293925,-0.07703897649915287,0.0698104237402944,0.22326393254868715,0.15133201819455722,-0.05848556975260394,-0.028538656868025862,-0.12322509362922697,-0.07749614431490179,0.11435051357963846,0.01027706466370252,-0.046568622022417676,0.10830783983251935,0.10756361050389136,0.030933122344737832,0.241708880047541,0.09736248457694335,0.030766669266267463,0.17712949659950736,-0.23878944248097933,-0.041189789859289484,0.13109239702300018,0.015717466668340906,0.2737864089920106,0.23891127054232567,0.004773413493541892,-0.031241401569069065,-0.16103476533776018,-0.018578141234258674,-0.023944176160562547,0.06796353682389163,-0.17812264015753132,-0.1805626755341142,0.049471727173105336,-0.017363798582144825,0.024673893934663165,-0.06681855841893752,0.02932912063506269,0.034219224191694694,0.09441770236161032,0.001349872833954192,-0.16701989826818098,0.2614387732533024,-0.1537555175141572,-0.14839928629880936,-0.009686801092687951,-0.09157362209183498,-0.049950481276955734,0.2172152480272651,-0.0557681211020912,0.07186818110577495,0.08621550573305942,-0.10934823505394446,0.14658234489468194],
        [0.07975003078144896,0.05720542352700814,0.028689913396441558,0.05668451178997656,0.019911504297407314,0.006379032155754568,-0.16120555224783148,-0.045885015145096054,0.13512645056435654,0.14581147542544337,0.014039843722915404,-0.10604956696817029,0.03971512989018869,0.14552138653513294,-0.06766898511798121,-0.08230468949949814,0.11524841520273474,0.1971084842116017,-0.10570060683544054,0.005285109033982555,-0.23602731664699594,0.09187216390772741,0.054395277526246795,-0.2725345286682344,-0.07947487059033112,-0.17778333763385248,0.17262858645077225,0.1285887203304294,0.006811489327266712,-0.06347822182226616,0.06107288791066374,-0.06161385351340991,0.08094979681749528,-0.09495814753550207,-0.06838949768812883,0.40637921162484947,-0.10732025668509632,-0.19643607383480746,0.16415530593182617,0.018672798941963605,0.09419334351269865,-0.03707830939318561,-0.003915767834158151,-0.1290722319760785,0.03562866274328733,-0.08155484616343207,-0.17758446285098725,-0.05110891421814925,-0.07790070571577874,0.06901299485500038,-0.15682828159314716,-0.071532055033045,0.15992843571954662,-0.14726840742557146,0.22089128974547922,-0.03771521482727419,-0.1710315823059727,-0.02738769545922742,0.05213753731790934,-0.007038217442023543,0.0397682789704086,0.19788698082553913,-0.15410449917558727,-0.07132255489353255],
        [0.05730260796320127,0.09183613349736187,-0.15729549532115733,0.00962475422778087,-0.1382430451778398,0.059900180553175746,-0.0050584646120933035,0.13497089572819154,-0.00834142512782698,-0.0476954774789105,0.05700319698524671,-0.16790800487890395,0.04383373157613523,0.06252777550925638,0.0611383074991105,0.16872373417668177,0.2097637004981532,0.26472694809677655,-0.06913317228220928,-0.04840517756143479,-0.01319969053609696,-0.006286185117253158,-0.0571456917421021,0.14560465474844642,-0.12081546015251621,-0.1834611176549007,0.05453583782458956,0.09170308576779088,0.19153194399010717,0.13899419868090415,0.1209836133141019,-0.028764824783028956,0.13090784684889906,-0.0045757163953003424,-0.15257179188349793,0.21520817112758975,0.023746615159806334,-0.14637743208657444,-0.10471442335548618,-0.023091291092151158,0.04171435536875606,-0.14494076608904552,-0.21924120907647132,0.22332089960793913,-0.1385075452361925,-0.09857637921352988,0.057189571150277146,-0.02732686190420427,-0.07565788159553596,-0.15044383295729588,0.047581801932168336,0.015975282768525337,-0.1390007850425407,-0.13346469356284765,-0.08207220235375436,0.06930731183390423,-0.08454178265744323,-0.1186734088237789,0.03709020145453865,-0.1093124164469609,-0.033643945772182014,-0.2044547521933889,0.26713835208785425,-0.26729253419339805],
        [-0.09170607154933304,-0.14164413926940125,-0.08397578861698748,0.08088915787632338,-0.026453171604660156,-0.057060454544586234,0.007545823892451531,0.05439264759816808,0.06225998396503839,-0.001639436757129674,0.10311044963388434,-0.05734004687680115,0.07710336845286259,-0.21085869406622357,0.18119578387404847,0.020335174262453005,0.08637685674342314,-0.08611304531435426,0.2049257657886366,0.0527703801118102,-0.021878342021849767,-0.005893107755531377,-0.0660399563110999,0.22406230756545512,0.25121326954866396,-0.03802280989528611,-0.14380340877182346,0.05558820832106555,-0.18029740232873762,-0.19888557953427363,0.08037835795594868,-0.1283813121489118,0.2596354046333461,-0.11482459379190298,-0.06344225589973748,-0.05263612487584129,-0.08375658515255086,-0.11544247396475033,0.18285969618502865,0.019706435675945218,0.3682471599097668,0.1648166928180986,-0.08081601444203165,-0.11508922955497197,0.1595336774121525,0.13811520864647206,0.04657775570239363,-0.0021886259037751502,-0.05841912532268304,-0.062289278673051694,-0.12404208180618273,-0.04488289407165319,-0.06701510963221884,-0.00832839283701646,-0.0854491210744256,0.012472393483726417,0.006596379223375482,0.2948240676547911,0.025119396742659828,-0.12554618165831877,0.09414080010614612,-0.0058921452194708795,-0.15680802359972346,-0.08417733192224745],
        [-0.28082953839060654,0.15613118193645667,-0.04578682338992609,0.07364861689785415,0.14894639749673855,0.05779373524110659,-0.15397972377619593,-0.08851734618341706,-0.15299793067917866,0.08898349020332295,-0.009616286149246528,-0.0739051072829268,-0.27780386806381174,-0.07134009587678324,0.027652367098313584,-0.20387736332468692,0.23230429704003847,0.08075115050128151,-0.14137220255434504,-0.07828571602962013,-0.15644251532648756,-0.06713624360096088,-0.06980187865015314,-0.098617324413064,-0.1791401883733185,-0.07652506878132008,-0.078124402352621,0.029449621707295388,0.11581298265906943,0.006185820243101211,0.052944751629333146,-0.10605974983356822,0.00024286135972584973,-0.07092122572411647,0.334738180387839,-0.003230678753926783,0.04088034671572924,-0.017613191496666496,0.11625193653315871,-0.08496021037940417,-0.007875876249966132,-0.11538987532364746,0.20480193051939194,-0.029240845959990557,-0.08830369213240219,0.13928678752797974,0.013629408789794168,-0.2429401103104988,-0.06815776151776097,0.008109542286717343,-0.1805386595355359,0.03546784116023831,0.17974436626681572,-0.03447882901962493,-0.05996772702508403,0.19532464762867857,0.1452631190625312,0.021509433375109844,-0.026266728285312967,0.07976380642078545,0.09168911028784309,0.1254740010169427,0.03579645424012926,0.1336047580930778],
        [0.13027570879986838,-0.1422064381586914,-0.049974804785017916,-0.23965636108637686,0.07393887164154969,-0.11911597394531172,0.005144506199441005,-0.010127302062671222,0.03168393477250609,-0.10731640104490459,0.06103901673436096,-0.06352593774615893,0.036553153820585646,-0.08168853923523799,0.11612835314419125,0.19696281385836814,0.03849079466529999,0.18468597536542353,0.18556763524178677,-0.0011670432950089164,-0.007426377957982415,-0.3028727533223463,-0.27491795427891896,-0.05350649933200284,-0.013863181646458674,-0.25113803362351556,0.02076917802574598,0.2312731529579507,-0.05548511791192887,0.12890062080625703,-0.08524395937998987,0.05442918164192553,-0.021282449831458453,0.05777363884327167,0.1782382686440313,-0.09158778615848283,-0.0724973819612425,0.006164684247441211,0.06399382219793327,-0.12372146105316809,-0.07740281269981333,-0.17945358621385227,0.0731009696681464,0.29561468358852716,-0.03738467413818268,0.16916725426817822,-0.005625397773094116,-0.04801681411595649,0.1121512649289351,0.1074137344422813,0.06202417736234315,-0.036342820614216585,-0.0699399816035773,-0.2702964705149934,0.05294141846458037,-0.11162782242123208,0.10862787200311905,0.0496822188936656,-0.044503407457314945,-0.10124558341097281,-0.08495926363025963,0.13680292926541865,-0.06893993793220457,-0.05957042276590004],
        [0.21042482544315994,-0.4321935607370791,-0.09770613343665831,-0.1352971544784031,-0.010484876110146606,0.10976936448924952,0.18126415346555758,-0.10319003094219269,-0.01105154542299371,0.0605413888956188,0.20133710146422423,0.08708335813744106,-0.07299341511466614,-0.028949740377621654,0.12937469364488888,-0.18348104510355676,0.052709834805265525,0.05669523952800221,0.08448669050468391,-0.04074190152199398,-0.05756464675664221,0.11372023589504092,-0.08137520598943325,-0.28461555864909227,0.13228963047361322,0.21205276372520773,0.028692753546260212,-0.024231226956280123,-0.06335446202692589,-0.06105983347339399,0.007951802322308401,0.13624786073223008,0.1702374300313572,-0.12058505851914854,-0.0570978214807777,-0.11220226589237595,-0.05393793425151771,-0.05140474036478749,-0.007433979013121294,0.04312568166166113,0.02725133236815661,-0.06816217378390355,0.032927012014064894,-0.07288866297543833,0.14033898655586238,0.03372441689344248,0.09403951967329117,-0.02855575300677563,-0.023714615180966174,-0.16979599086874342,0.04842610452088201,-0.13043273844709427,0.01574093942136418,-0.1476192775701603,-0.015510146812238999,-0.18513556475364512,0.03962029486474717,0.17540990946754806,0.2500459563690874,-0.0784441152843809,-0.005829955505812782,0.11671023220802187,0.12645631006158878,-0.15147556240781063],
        [0.029815108990647404,0.01949794893726839,-0.06227027192808378,0.12782776012889735,0.06948338405204085,0.02317665948615793,-0.1442317125588634,0.12151651345678925,-0.11377481631165484,-0.07832027484222007,0.06066721919664439,0.10239445322242711,-0.0346265928963836,-0.060787644235012976,0.07528897321970719,0.17350806439097546,-0.1570912017542845,0.054728265466273164,-0.03843658266416955,0.13404190136900157,0.023935627670748853,-0.06903548078179286,0.03995195314557606,-0.1295107848874266,0.016496581909702622,-0.08050912075697979,0.029738880634868178,0.15095889900374923,-0.14933351596198013,-0.2841775155639563,0.12203131449473185,0.0009932281988170196,-0.1308753725641299,-0.001176750931562481,0.07787480393260417,-0.024758656734947676,-0.1374477759432632,0.21294909344364576,-0.12920419119044688,0.15368120570034755,0.041665990991074806,-0.06222346309397134,-0.041522040775592454,-0.10874804594305262,0.15605119384566057,0.24147452030714003,0.10990904272350213,-0.17232220460086203,0.27310622762286024,0.014874576538779778,-0.27355554885243755,0.037278114821578286,0.04940187981464462,0.06453631089005789,0.02724466291950995,0.008279510503713772,0.1511954217458408,-0.08236440666869872,0.0037115311346089014,0.23086660231657177,-0.27674494603431404,-0.08833973899992495,0.08891927953498577,-0.19700295454456998],
    ],
    # sf0.1
    '2000:1.53081411098240': [
        [-0.1009481278848251,0.12239994262745499,-0.08543747720723908,-0.22152316499590266,-0.02646945857271728,0.060179399400122804,0.20430410253341083,0.09195330706468906,0.0038821170770167103,-0.005479584510678969,-0.10086362440911535,-0.04137170695788315,-0.15514211322989854,0.004792912653467228,-0.03700913540852066,-0.23023736857096636,0.06757624529405382,0.015522558160187718,-0.14672986106231165,0.22564159716992244,-0.07216743931571831,0.0012613122072345467,0.031217599530107828,-0.14727705529673765,0.009464910027345178,-0.06643372712247164,0.03932096186063071,0.028284879230532124,0.0433759952141424,-0.1810085492293903,0.11775402414395428,-0.11634318931449245,0.13391668736403933,0.07830774242733739,0.1956322965288472,-0.2908277130235048,0.15957190433303298,0.1331159697441849,-0.14108473530287557,-0.061187424393388895,0.211869788019177,-0.19671939738900143,0.04508298207869843,-0.12956143516697638,-0.07815444006140176,-0.19347287436277114,-0.028539064674927634,0.12635824616842337,0.02999425173731413,-0.08062372479081494,0.05077565510224746,0.08547703286337197,-0.1394148906648179,0.06263050964244792,0.10453408882766177,0.10774254160010066,0.17899867895312582,-0.169926257769753,0.21264095765578966,0.13611335845091646,-0.06033700394070834,-0.02497229628132047,0.11226205251137868,-0.13539697349825686],
        [0.21918186020446298,-0.13228740332235686,-0.11850258256807124,-0.10301534444652602,-0.05801061119140589,0.03857316310091408,0.13570156781722797,-0.1471453816947166,-0.0022680167564075497,-0.13215313285227878,0.004001280797766014,-0.10271708165084066,-0.008518658154444083,-0.2560616218886657,0.025961861237947234,0.18576848976236884,-0.014976119328580763,-0.033321631856597776,-0.0239614220204018,0.037207222568942544,0.03744689925966707,-0.05458836340458113,0.16322500032566495,0.10880688118444719,-0.26658670412748675,-0.09567860254727438,-0.08350838420548277,0.08853404450931503,0.14095761025096573,-0.12113425592349862,0.08631662142125444,0.14383503146432572,-0.38643308517960134,-0.13969515294620996,0.1977601058638415,-0.09385076271786554,0.15974611438644032,0.0663284176436867,-0.014835688719451902,-0.10028177644809484,-0.10049587044418315,0.05080282783128602,0.03440706768647808,0.12301375166875489,-0.05104149855252589,0.2433230851186974,-0.019309309501436955,-0.14214031784481518,0.11245875882781411,-0.03408023015756911,0.14452254902886394,-0.05356417034956406,0.09563151656654,-0.14847721501232308,-0.1783775742302074,-0.05391571519368598,0.06756821267716788,-0.05160890655410614,-0.018050498151083554,-0.15205253290401802,0.1420855794759013,-0.046190189545421076,-0.048618149182285145,-0.0704859887072116],
        [-0.04146884132559761,0.2238821933413043,0.09076539829910207,0.013994008143323735,0.08812575769786338,-0.04041870254172763,-0.023225675830453176,0.11464814845236938,-0.11336459547130312,0.056470819287203856,-0.03208956909841053,-0.03969301447372845,0.12989147606308257,0.09506060173352285,0.07346895234671881,-0.05943983940379257,-0.24320594065469897,-0.010735951092703137,-0.25004704144277373,0.07453236348167146,0.0397630618272905,0.28138477809402995,-0.09137959713551642,-0.0930861339425702,0.038638702004470976,-0.0197725473430017,-0.042129949044928214,0.10411051337773358,0.006052466878997733,0.06511674531167586,0.23156785250639028,0.07060596934837754,-0.19319069628480154,-0.03522458526378755,0.06233902579980286,-0.19560656581262997,-0.021767289500789225,-0.10423788581419466,-0.15326409713868988,0.09974819181444071,0.1901253050100712,0.16148472913369824,-0.11172869865856216,-0.081984503530632,0.0647499885086966,0.07297254926869223,0.07955697398619765,-0.011869776739388117,0.2943039411400744,0.1413053335713758,-0.133012373245973,-0.15050577655431355,-0.09813298060299559,0.06499423282563582,-0.09206946850950973,0.053984572930839726,0.058534921578217186,0.03662591645879895,-0.005532426179572102,-0.15986894109659053,0.20460020949633306,0.003594832494949655,0.18449584806679234,0.2435268358764624],
        [0.06785335778081429,-0.004802158680155363,-0.3203826491857578,0.08469536581954244,0.07205689758815977,-0.07345912617775673,0.055827174966990065,0.1523116794227961,0.09251607146111634,-0.07912986960030426,-0.05789047363121355,0.007958174762230309,0.16610038152611017,-0.024320483434509512,-0.05925196595634436,-0.032662574100152206,0.011071252509013063,-0.022240778629877955,0.09879197114151984,-0.03333439522457427,-0.10104551973303305,-0.31312598229495775,0.3118126069481412,-0.17669507461371464,0.21431948027309244,-0.13138353613276094,0.0016163689695525487,0.11038840361371632,0.1826114594659013,-0.28203820913290384,0.016569242695555614,0.03706222353685898,0.07119808401953111,-0.15663040479524362,-0.10291544252091896,0.03468183694726444,0.10510709673268442,-0.11844206240448601,0.09257421287411832,-0.04059247483755153,0.06681073792720921,-0.11954193695235024,-0.16419509059673318,0.10861969976661767,0.1287368799919023,-0.0069618300205768775,0.01541091713485026,-0.26298580780450004,-0.034999688300537374,0.08207363196774127,0.0567587340423414,-0.0711155454516885,-0.021450024826546822,0.12522513612572067,-0.0397001583094308,-0.04843835849567054,-0.03689675470048047,0.09391448881001772,-0.08824089385164838,-0.02048307205199686,-0.08498459274095624,-0.12072933456314237,-0.07260349477690428,0.23990636346372637],
        [-0.0747580267224036,0.1363995620225077,-0.22994811535868884,0.08547000766559694,-0.13996056815588134,0.1754319147294389,0.03428357650797539,-0.03988497234161045,0.06282338723311572,0.34158150904126944,-0.03420014324595203,0.05360938543764461,0.09732825963430912,0.23354108654108052,-0.06382352914687857,0.1680846766081735,0.003008132072182136,0.03202243829502047,0.17012229884244692,0.03207849060358812,-0.08390919067401843,-0.15559510360241174,0.09288049955868068,0.1634140086397562,-0.12173026532411389,-0.109475458083668,0.0288468713712772,-0.0047428180963032624,-0.07550272381888821,0.03580517778372295,-0.04429398159114148,-0.13996026296409927,0.2599885273329956,0.013534055229346023,0.07737547065652417,0.1879946006503743,-0.0830184065835058,0.06008331111056346,0.049143675360109676,0.10285228164160509,-0.22819804654011452,0.21321168678886737,-0.11538909715871878,-0.06033672634597219,-0.018781509327242204,0.11347735054466651,0.21654120529193488,0.005542590378639741,0.22483396612885762,-0.16288331827134797,-0.06559984128686103,-0.12190800418270296,-0.08899009361984192,0.038414125184140925,0.03670415978229614,-0.056357940546761756,-0.025631572737861374,0.09129778550380035,0.14213655604228984,-0.008189566141898409,0.03561102483095234,-0.10880367729530277,-0.06667254560063475,-0.15325720595119],
        [-0.03744300316235298,-0.0258795635488334,0.05183201066401707,-0.1360157137111993,-0.3302702775604825,0.14397278550581055,0.1628410425704571,-0.06409618845605672,-0.02834358463015931,-0.2947420259714899,0.04998607943782354,0.11051620732045801,-0.17342820870978884,0.1727981645092988,-0.022218009883977183,-0.27022184820322354,-0.008686998947014626,-0.14584453969552127,0.05294411895799044,-0.06755208487782251,0.14501074466232985,0.0397064274712845,-0.09383146565617585,-0.048497537889282495,-0.14057135065962592,0.11143206528933748,-0.16040950109423496,-0.007298436144085778,0.09689595982491266,0.11218264873500886,-0.19668075274690722,0.039448916434905223,0.11998687345082712,-0.038243380563444694,0.0073928366695132355,-0.13349881466070768,-0.18347417167028995,0.08650439127042388,-0.027716683110337068,0.059624568842947305,-0.03732661545801896,0.06003557898086075,-0.09770537943096207,-0.1418992817018678,-0.07941514690426994,-0.042349733220487684,0.03233707970810819,-0.017333546358494562,-0.04591708540577654,-0.06383016569889285,-0.13235455521684325,-0.020557204410213234,-0.06522601782092265,-0.17685030875928853,0.16650706897627965,-0.19990508236630664,0.1426915762120489,-0.05354992613214988,-0.06290398012844188,-0.004810447546434258,0.00203604114811016,-0.08661399572007687,-0.33041902123432076,-0.05709287917262138],
        [-0.008730205075556581,0.14368101255976448,-0.012202397963809748,0.0473017105023973,0.030759099560608485,-0.06275509910433627,-0.29750850810885937,-0.0854192952948392,0.0890658289727501,0.12037094392586205,-0.08699414448013928,0.00086099033005788,-0.08558268720527575,-0.33292824253304676,0.028177584285632003,-0.0911771231919506,-0.004794110915647292,0.22451728032404974,-0.01209802039840135,-0.04555368263978357,-0.00762150056797714,0.21262019945502936,-0.10785559062724397,0.04775658993430856,0.008370375263832873,0.21304341859954984,0.0489058005904033,0.026552509947026442,0.002571164859428479,-0.05923523507064397,-0.02199577068678729,0.267428394117957,-0.05858361370626285,0.19642279624561226,0.0691099659333431,0.005451580651860136,0.16963404368556176,-0.1713714774669637,-0.02825404892638661,0.04003942677353726,0.015673489152384163,0.0484994400638665,0.17929660409806988,-0.24998151903187507,0.017843261892651754,0.2612291055598602,-0.013288200605491109,-0.08018832065484051,-0.2259048415480364,-0.018248424508025555,0.16586192950294484,0.00926932889450362,-0.008922427998727134,-0.08157183885346103,0.08757735402451636,0.08192664959838279,0.035666326761466735,0.044748236525227074,-0.15260905302478667,-0.1084077409425213,-0.09729148153896904,0.021083640291064704,0.1656520541708291,-0.16590154746813923],
        [0.005616668804950936,0.05023981096631671,0.15753098360121828,-0.03907870760715313,-0.14436889900879063,-0.13989597794380734,0.26264047327773254,-0.11415664547594845,-0.027461505347554337,0.05113785349829151,-0.15623143745305754,0.08001871258363293,0.0013415890761723126,0.032244986113101684,-0.06635398058576333,-0.11653702971675728,0.0325670160150794,-0.03000458450904604,0.11110996124899468,-0.00037504515489007674,-0.26374636859309414,-0.16415322375491484,-0.023559418342955555,0.019671551935510758,0.1414414469138834,0.0691002991501674,0.2832295274915121,0.11054107360013495,-0.1856787293413132,0.232280917952535,-0.10258465404183502,0.05264513193421961,0.19370040229358382,0.05322374266733898,-0.04190045693523981,-0.02369865847413263,0.19449332509906403,-0.06744750898443629,0.22922978997768512,-0.10381964903914148,0.059738485317363206,0.040638406242635,-0.1236678923028039,-0.048675969776732386,-0.11731376665060969,-0.06117601002059288,0.12155090050699142,-0.012769491094343497,0.09162729675885448,0.10364496049087961,-0.028076999789046514,0.036323718036318176,-0.2660094383454918,-0.036252067400079836,0.048598797457330464,0.06869401570037564,0.05488226096960455,0.0763144956638177,0.23903768394542693,-0.23801308374805197,-0.09867383557139059,-0.02972207178260958,0.15265266856917004,0.06420014739438716],
        [-0.045591154509489536,0.10902507064097273,0.02595020023171009,0.1130388879720657,0.16141941201894752,0.08295172969500339,-0.11999471827735181,0.0627802102240795,0.051206561056367346,-0.2209937736671656,0.034404786817768436,-0.14013812288080782,-0.1080104150775645,0.17470189268461617,-0.12166661952330039,0.058123762757557866,0.09190691012710081,0.03988340725162178,0.15985722087968848,-0.12464494170164023,-0.03549976948242893,0.13457647680877682,-0.05967063912398892,-0.036617986808581596,0.012304030015211893,-0.02135742846817765,0.04717194148301112,-0.10813969299948484,0.118687492834783,-0.04560425117810579,0.1337561140355558,-0.1467857405696124,-0.02783111416315513,-0.14274552271312232,-0.08534250977045808,-0.04580166932443368,-0.01576771497803483,0.15542421703479004,-0.09945984347362435,-0.24527431768496605,-0.06980792695909664,0.1507119612621866,-0.37469185481082656,0.0851141868855968,-0.07210602557575935,0.019209192599952945,-0.0014924211281849193,0.15341648833116595,0.043917387343879906,0.006973794284723706,-0.21151244449389064,0.045694278472349824,0.1376023663144903,-0.2592438847648646,-0.011134699304010115,-0.0433757018486319,0.1910095694267821,-0.08898294901922299,-0.06192576239393365,0.047607612337353895,-0.016611930758816295,-0.22275802262432284,0.08970828741129909,-0.2615419453640408],
        [0.3071902993837098,-0.13991634585289678,-0.19409070114493598,-0.002844271773558433,0.18967469210475157,-0.10376979244660266,-0.29610851648769226,-0.11985841383948811,0.1333855860164045,-0.017910970105630628,0.04167908704500746,-0.1383623626626661,0.018283569665117343,-0.05838749277720494,-0.09041816073494247,0.024868581270598888,0.06032580048367641,0.026959938959155445,-0.13425366724650004,-0.1981788773239292,0.10747266539073914,0.00735075624783596,-0.1841589128149023,-0.05163516479014141,0.011000434702145631,-0.07532802132449226,0.1406684665803481,-0.03005807939237968,-0.07199377963424629,0.02718213471440292,-0.15285525099503908,-0.2263745543295929,-0.07025599877245378,-0.16044312319353543,-0.20349171942682528,0.10391523507301142,-0.03373827850638455,0.002819022842396379,0.2907668558326299,-0.20296779574750093,-0.0020185657432601825,-0.036911627619637344,0.24112614246681005,-0.10601317345325008,-0.08591687655591673,0.08401867981762255,-0.04573454668866084,0.14062780487080231,-0.06958766933953392,0.05818869226004154,0.04833219015179307,-0.0016466926003084843,0.13883094269777035,-0.019786956788751475,0.08783204836632479,-0.05869999119514007,-0.0007916260373481694,-0.07305886784261013,0.07525123252451447,-0.1174585709536767,0.12175015916342363,0.16263468909540074,-0.06059225507809392,0.056782440173568836],
        [0.17690462032109203,-0.09560611589997339,-0.03395177429023002,0.04445122555957701,0.10470170720438153,0.0035533793577070386,-0.28070586239655404,0.02732901362832615,-0.08826173653404042,0.09385378821259074,-0.24483646717626723,-0.02411882887061881,-0.10038771069523177,0.15453726900657766,-0.12981602415946336,0.1561688428509398,0.061364435246006925,-0.06320265862060916,-0.0632157868473717,-0.012670172639440105,0.10843691260772184,-0.0814003614612712,-0.0553794169876815,-0.18827264350269404,-0.052603970941269826,-0.07339852498082954,-0.08184146100799093,-0.07140709552816728,-0.2765558297638153,-0.13449673259605252,-0.05150341234052722,0.09338754420239355,0.08285240697172196,-0.05967806645336897,-0.135430740035433,0.19862023596838194,0.11263548480830532,-0.27455544710386504,-0.10037347980588976,-0.026291469131227,0.017920275801422737,0.08904692871975957,0.12390645779071649,-0.06943410988906411,0.15888339058132253,-0.10385506355272059,-0.010194859695527489,0.10771219167845257,-0.0891562294318268,0.002684397233717935,0.21377733769390908,-0.38004945305638543,-0.02367928719609596,-0.21295564324089533,0.06554144403636544,0.03323111484534971,0.011925102660473544,-0.009928513686803104,0.06896424777144071,0.13804551508131693,-0.03741276920013537,0.018124187238090204,-0.001988596884899897,0.02185328867275902],
        [-0.05595542510426535,-0.09719159871750935,-0.11396476127505349,0.12517485132098502,0.1539441166900066,0.014709865602432128,-0.11876276616791309,0.13550363157656983,0.20350023309368281,0.2098151639614135,0.0829673961901272,0.13948135760343966,0.03805600627996901,0.17994961889145777,-0.019455145307535105,-0.2279813956454134,0.20817350024215767,-0.0037167291490047246,0.0018698093291169185,0.02247590812374058,-0.060788970602853966,-0.14480827040096508,-0.09246985290122971,-0.034643903200905136,0.17409919003731947,-0.07952165898933111,0.18768889855667825,-0.13373453270361133,-0.10748086401340863,-0.1484477259699581,-0.10846469584262047,0.0954714005193318,0.15548788704266905,-0.07875006595936072,-0.04714387218712553,-0.0875222030484534,0.11225207550170081,-0.11738636108700908,0.12408929096502416,-0.02525184183808697,0.101441202006655,-0.02024701916506121,-0.10692167902478866,-0.010443884338836583,-0.08031106372578166,0.00964997042911613,0.022324413556346824,-0.19941740236947414,-0.01597545532641138,-0.08398234499515488,0.28550197141902406,-0.06492684542004915,0.0517629486275591,0.021087761536955504,-0.059199423638768005,-0.3239525192614328,-0.20090322225551616,0.07156606001688075,-0.01938795487332397,0.0387684745743126,0.18472379914082215,0.16096943079345535,0.12763968227650288,-0.04375176543337241],
        [-0.2667821434083701,-0.0359708579896425,0.1241974691972081,-0.15165054135161124,0.1106004449777111,-0.020694378952705428,-0.061527569827550345,0.0023405382878550905,0.09294855141310693,-0.20688906425553305,-0.036719136121868126,0.08868419886565425,-0.12323772681999273,-0.1669241063576718,-0.18749204255934146,-0.009586063832053206,-0.08144319414729237,-0.18221270400741402,-0.11172326503993749,0.25608996110210847,0.0940434918321275,-0.13587690917390347,0.301519859045479,0.15730830183700462,-0.062275870979474304,-0.13210308957272915,-0.008221158507203669,-0.04126460412121336,-0.014046983221132663,-0.016328997291042653,-0.18558923231942,0.07076989723481442,-0.03563747302869758,0.011500436567245163,0.007123545673389044,0.03002536285968888,-0.00439750461795183,0.12627271072929128,-0.011960472987135696,-0.054705455707696166,0.23609231643679046,-0.04305122792811893,-0.03638202644601426,0.030928229486002885,0.030689703336549634,-0.04400829100463877,-0.18107170959873925,0.042405091489665106,0.07416334338406805,-0.07353569085049909,0.04886849448932529,0.051596723818587945,-0.3146053654829828,0.127382471357244,0.06972228999765862,0.18288186649372148,-0.12209725498039718,-0.17814655412604605,-0.15426814663398475,0.08821023680946698,0.0058741408991589035,0.13781970215537287,-0.0113059907242182,0.1555188300909982],
        [-0.12062986183529278,0.07273941098464429,0.25000277070455024,-0.0029093797365220184,-0.1275535200545338,0.03584248516627852,0.13789331677047487,0.034466854863685434,-0.12434014799647977,0.10303918418522812,0.17880287965410568,0.031053065687436328,0.01226272493853697,-0.019197975685423484,-0.03108244017540121,-0.04932635096360959,-0.17586979885177606,-0.028085429861012194,-0.03548022289090635,-0.01870515804373713,-0.07908058415071477,0.2326825139802167,0.07627803471525953,0.09334022009057565,0.12313484788071766,-0.0013425326390227913,-0.006316453338678136,0.01181818053210329,0.18049225917357173,0.01850427144073081,0.03037801393221339,0.12747757820099712,0.21743603061893815,0.26533615631321167,-0.008856681532824567,0.18031733330411276,-0.09858080408098342,-0.04931105137926079,-0.06810840013468196,-0.06476606221660126,-0.19217353814418936,-0.15335116782944208,0.1593249168620694,-0.0149048079458242,0.027709048738926045,-0.09481272088959646,0.12231326319266106,-0.1116422376868758,-0.16493685016702866,0.07732587200499914,-0.24552461776441778,0.02580496645019386,0.14752526261052934,-0.14842267185798325,-0.21315590745206572,-0.16843094586900711,-0.21503260853484443,0.20915431700609285,0.04332786125271519,-0.020335180936510548,-0.18070280683637266,0.030265255317307553,-0.06737167393592525,-0.08163170612361015],
        [0.03773988152267443,-0.052104456161203086,0.03363203229255189,0.07636440581747028,0.020642664843214694,0.0906472952586017,0.07351621774906346,-0.06467615122816972,0.21423480984607707,-0.10563965796917824,0.09847495062089238,0.05244717719788882,0.006891440410484801,0.04065011231681835,0.3141431091718777,0.29645263314809134,-0.04383842759047733,-0.12490384643521997,-0.011106856401870804,-0.11629521638890797,-0.06852298887483259,0.03969085164149701,0.09382737888827904,-0.10312674160180337,0.028806471018055422,-0.08207336122567163,-0.024509403595926127,-0.22666952968530207,-0.14275268760995277,0.07222827046623959,-0.16821632992131938,-0.040767161736202234,-0.08099468882551286,0.07411503427104389,-0.08166183262946622,-0.15708675746937073,0.026766365539185457,0.13450434059197378,0.1539499643665577,-0.03397603033442571,-0.17698510973960244,-0.13492661894204977,0.17910649259358302,-0.028066486704619965,0.16567535765945882,0.047952690900819946,-0.027539804016219204,-0.10983302690804592,-0.1293486280516293,0.015403085043589162,-0.1709386146144809,-0.014759401991258029,-0.27291636601575403,0.06928965283939652,-0.12583507835002497,-0.11241178801019527,0.1274395538638402,-0.2440719961085212,0.09422706370654967,-0.044218313929870794,-0.05196730578824043,0.0639945847120148,0.13879944227451868,-0.24903536910309404],
        [0.13582532458678054,-0.09975915457060751,0.06003045976773236,-0.2061504411158013,-0.28517026546439045,-0.12078534348389469,-0.04005612098880188,0.11866304297756253,-0.22507891489527876,0.18478766977565786,0.046044725621707486,-0.08722748523159442,0.044224656174582315,0.12039409063608243,-0.037040113400030446,-0.2064408121288703,-0.12211315308738649,-0.090877703163969,0.10474703939826398,0.02377301421890509,0.11202875641650045,-0.0010928922242838808,-0.007217143093231893,-0.06912661101393805,-0.14147870277593277,-0.09065706233905291,-0.04699095404321819,-0.23869540114091858,-0.03442694449483691,0.20870980024312316,0.08208741913269703,-0.042941655362657344,-0.15317626517388291,0.13229530131289488,-0.055866837800891044,0.04339675039300469,-0.16334671877662743,0.04407567985133112,0.08343399952102648,0.08899752347406024,-0.08374787608463162,0.2004964255674245,0.051962084147839226,0.02264510795544116,0.0919726577684935,-0.18172438228747814,-0.025841489607650932,0.12964459182144136,0.027343791529143176,-0.09167959700116889,0.14336525615046716,0.09011939489396142,0.003870683470259,0.2625764187591893,-0.01585372349608521,0.007344519147741588,-0.12091191684417285,-0.05240556071701607,-0.04033424960980631,-0.24877016654023634,0.06884070784324293,-0.11263431152388802,0.2451307650378138,0.04172983312073952],
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
    """Materialize the IVF index the inline query recomputes: corpus
    vectors written PARTITIONED BY their nearest-centroid cell, plus
    the trained centroids as ``_centroids.json`` in the index root.
    This is the write-once form of the 100 TB contract: train on a
    constant-size sample, assign the corpus in one linear pass, pay
    the layout once — every later query batch reads only its probed
    cell directories (verified in tests via the scan's partition
    filters), not the corpus."""
    import json
    import os

    cents = _ivf_centroids(e)
    _ivf_keyed(e, cents).write.mode("overwrite").partitionBy("cell").parquet(path)
    with open(os.path.join(path, "_centroids.json"), "w") as fh:
        json.dump(cents.tolist(), fh)


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


def _maybe_compact_index(spark, path: str, threshold: int | None) -> bool:
    """Auto-compaction hook shared by the vector-index append APIs:
    appends accumulate one file per (task x touched cell), so after N
    appends a probed cell opens ~N files — open cost, not data, starts
    to dominate the footer-pruned read. When any single directory's
    data-file count exceeds ``threshold``, run
    :func:`~smartpipeline_spark.operators.scale.compact` (reader-safe
    swap; partition layout and the root ``_*.json`` sidecars are
    preserved) so probes return to ~1 file per cell.
    ``threshold=None`` disables (external maintenance)."""
    import os
    from collections import Counter

    from smartpipeline_spark.operators.scale import _data_files, compact

    if threshold is None:
        return False
    per_dir = Counter(os.path.dirname(f) for f in _data_files(path))
    if not per_dir or max(per_dir.values()) <= threshold:
        return False
    compact(spark, path)
    return True


def append_to_ivf_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    concentration_factor: float = 4.0,
    compact_threshold: int | None = 8,
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

    Appends accumulate files per cell; once any cell exceeds
    ``compact_threshold`` data files the standing maintenance job
    (:func:`_maybe_compact_index`) compacts the layout inline so
    probed cells keep opening ~1 file."""
    import json
    import os

    with open(os.path.join(path, "_centroids.json")) as fh:
        cents = np.array(json.load(fh))
    assign = _ivf_assign_udf(cents)
    assigned = (
        new_vectors.select("vec_id", "emb", assign(F.col("emb")).alias("a"))
        .select("vec_id", "emb", F.col("a.cell").alias("cell"), F.col("a.sim").alias("sim"))
        .persist()
    )
    stats = assigned.groupBy("cell").agg(
        F.count("*").alias("n"), F.sum("sim").alias("s")
    ).collect()
    n = sum(r["n"] for r in stats)
    assigned.select("vec_id", "emb", "cell").write.mode("append").partitionBy(
        "cell"
    ).parquet(path)
    assigned.unpersist()
    compacted = _maybe_compact_index(spark, path, compact_threshold)
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
    import json
    import os

    with open(os.path.join(path, "_centroids.json")) as fh:
        cents = np.array(json.load(fh))
    probe = _ivf_cells_udf(cents, nprobe if nprobe is not None else _IVF_NPROBE)
    # materialized: the frame is consumed twice (distinct-cells collect
    # for the partition filter, then the candidate join) — without this
    # the upstream query pipeline AND the Arrow cell-assignment UDF run
    # as two full jobs. localCheckpoint, not persist: the returned plan
    # keeps reading it, so a persist here could never be unpersisted
    # and would leak a CacheManager entry per query batch.
    q = queries.select(
        "query_id", "q_emb", F.explode(probe(F.col("q_emb"))).alias("cell")
    ).localCheckpoint(eager=True)
    probed = [r.cell for r in q.select("cell").distinct().collect()]
    idx = spark.read.parquet(path).filter(F.col("cell").isin(probed))
    return _exact_topk(_ivf_candidates(idx, q, exclude_self), k=k)


def _ivf_index_for(spark, sf_dir: str) -> str:
    """The saved IVF layout of a fixture corpus, built once through
    ``text._fixture_index_for``: valid when the centroids file exists
    and the layout's total row count equals the embeddings file's
    footer row count."""
    import os

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from smartpipeline_spark.functions.text import _fixture_index_for

    src = os.path.join(sf_dir, "embeddings.parquet")

    def _valid(p: str) -> bool:
        n_src = pq.ParquetFile(src).metadata.num_rows
        n_idx = ds.dataset(p, format="parquet", partitioning="hive").count_rows()
        return os.path.exists(os.path.join(p, "_centroids.json")) and n_idx == n_src

    return _fixture_index_for(
        "ivf", src, lambda p: build_ivf_index(_emb(spark, sf_dir), p), _valid
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
    """Materialize the PQ index the inline queries recompute: the
    encoded corpus (vec_id, codes — m bytes of scoring payload per
    row) written once, plus the trained codebooks as
    ``_codebooks.json`` in the index root. ``with_cells=True`` builds
    the composed IVFPQ layout instead (the FAISS IVFADC architecture):
    rows additionally carry their nearest coarse centroid and the
    parquet is PARTITIONED BY cell (with ``_centroids.json``), so a
    query batch's scan opens only its probed cell directories.

    This is the write-once form of the PQ 100 TB contract, mirroring
    :func:`build_ivf_index`: codebooks (and centroids) train on a
    constant-size deterministic sample, the corpus is encoded in one
    linear pass, and every later query reads m-byte codes instead of
    float vectors. ``_pq_fit.json`` records the training sample's mean
    reconstruction cosine — the fit reference the append path's drift
    report compares against. Returns the recorded fit stats."""
    import json
    import os

    books = _pq_codebooks(e)
    enc = _pq_encode_udf(books)
    if with_cells:
        cents = _ivf_centroids(e)
        _ivf_keyed(e, cents).select(
            "vec_id", "cell", enc(F.col("emb")).alias("codes")
        ).write.mode("overwrite").partitionBy("cell").parquet(path)
    else:
        e.select("vec_id", enc(F.col("emb")).alias("codes")).write.mode(
            "overwrite"
        ).parquet(path)
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
    with open(os.path.join(path, "_codebooks.json"), "w") as fh:
        json.dump(books.tolist(), fh)
    if with_cells:
        with open(os.path.join(path, "_centroids.json"), "w") as fh:
            json.dump(cents.tolist(), fh)
    with open(os.path.join(path, "_pq_fit.json"), "w") as fh:
        json.dump(stats, fh)
    return stats


def append_to_pq_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    fit_drop_threshold: float = 0.05,
    concentration_factor: float = 4.0,
    compact_threshold: int | None = 8,
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
    mutation. File accumulation is handled like the IVF side: any
    directory exceeding ``compact_threshold`` data files triggers the
    inline reader-safe compaction (:func:`_maybe_compact_index`)."""
    import json
    import os

    with open(os.path.join(path, "_codebooks.json")) as fh:
        books = np.array(json.load(fh))
    with open(os.path.join(path, "_pq_fit.json")) as fh:
        fit = json.load(fh)
    cents_path = os.path.join(path, "_centroids.json")
    has_cells = os.path.exists(cents_path)
    enc = _pq_encode_sim_udf(books)
    assigned = new_vectors.select(
        "vec_id", "emb", enc(F.col("emb")).alias("p")
    ).select(
        "vec_id", "emb", F.col("p.codes").alias("codes"), F.col("p.sim").alias("sim")
    )
    if has_cells:
        with open(cents_path) as fh:
            cents = np.array(json.load(fh))
        cell = _ivf_assign_udf(cents)
        assigned = assigned.withColumn("cell", cell(F.col("emb")).getField("cell"))
    assigned = assigned.persist()
    if has_cells:
        stats = assigned.groupBy("cell").agg(
            F.count("*").alias("n"), F.sum("sim").alias("s")
        ).collect()
        n = sum(r["n"] for r in stats)
        assigned.select("vec_id", "cell", "codes").write.mode("append").partitionBy(
            "cell"
        ).parquet(path)
    else:
        stats = assigned.agg(
            F.count("*").alias("n"), F.sum("sim").alias("s")
        ).collect()
        n = stats[0]["n"]
        assigned.select("vec_id", "codes").write.mode("append").parquet(path)
    assigned.unpersist()
    compacted = _maybe_compact_index(spark, path, compact_threshold)
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
    import json
    import os

    with open(os.path.join(path, "_codebooks.json")) as fh:
        books = np.array(json.load(fh))
    qids, qm = _query_matrix(queries, "query_id", "q_emb")
    tables = _adc_tables(qm, books)
    idx = spark.read.parquet(path)
    probed_sets = None
    cents_path = os.path.join(path, "_centroids.json")
    if os.path.exists(cents_path):
        with open(cents_path) as fh:
            cents = np.array(json.load(fh))
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
        return (
            lex_scored.orderBy(F.col("bm25").desc(), F.asc("doc_id"))
            .limit(HYBRID_POOL)
            .withColumn("r_lex", F.row_number().over(w_lex))
            .select("doc_id", "r_lex")
            .localCheckpoint(eager=True)
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
        return (
            vec_scored.orderBy(F.col("cos").desc(), F.asc("vec_id"))
            .limit(HYBRID_POOL)
            .withColumn("r_vec", F.row_number().over(w_vec))
            .select("vec_id", "r_vec")
            .localCheckpoint(eager=True)
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
        return (
            lex_scored.orderBy(F.col("bm25").desc(), F.asc("doc_id"))
            .limit(HYBRID_POOL)
            .withColumn("r_lex", F.row_number().over(w_lex))
            .select("doc_id", "r_lex")
            .localCheckpoint(eager=True)
        )

    def _vec_leg():
        e = _emb(spark, sf_dir)
        q = e.filter(F.col("vec_id") == 0).agg(
            F.lit(0).cast("long").alias("query_id"), F.first("emb").alias("q_emb")
        )
        ann = query_ivf_index(
            spark, _ivf_index_for(spark, sf_dir), q, k=HYBRID_POOL
        )
        return ann.select(
            F.col("neighbor_id").alias("vec_id"), F.col("rank").alias("r_vec")
        ).localCheckpoint(eager=True)

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
    """Materialize the sharded-HNSW layout: ``path/graphs`` holds one
    row per shard graph (ids + normalized vectors + adjacency —
    self-contained, a query batch never touches the raw corpus),
    ``path/vectors`` the (vec_id, emb) table the exact re-score tail
    joins back to. Write-once: graphs are immutable; growth appends
    NEW shards (append_to_hnsw_index), never mutates built ones —
    the same never-mutate contract as the IVF/PQ indexes."""
    import os

    n_shards = _hnsw_n_shards(e)
    graphs = (
        _spread_groups(_hnsw_sharded(e, n_shards), n_shards, "shard")
        .groupBy("shard")
        .applyInPandas(_hnsw_shard_kernel, _HNSW_GRAPH_SCHEMA)
    )
    graphs.write.mode("overwrite").parquet(os.path.join(path, "graphs"))
    e.select("vec_id", "emb").write.mode("overwrite").parquet(
        os.path.join(path, "vectors")
    )


def append_to_hnsw_index(spark, path: str, new_vectors: DataFrame) -> dict:
    """Incremental growth: the batch becomes its own disjoint shard-id
    range (graphs are insert-sequential, so cross-batch merging would
    mean a rebuild — new shards preserve the write-once contract; a
    compaction that rebuilds many small shards into fewer large ones
    is the maintenance move, same as parquet small-file compaction).
    Returns {"new_shards": n, "n_appended": rows}."""
    import os

    graphs_path = os.path.join(path, "graphs")
    base = (
        spark.read.parquet(graphs_path)
        .agg(F.max("shard").alias("m"))
        .collect()[0]["m"]
        + 1
    )
    n_shards = _hnsw_n_shards(new_vectors)
    n_rows = new_vectors.count()
    graphs = (
        _spread_groups(
            _hnsw_sharded(new_vectors, n_shards, base=base), n_shards, "shard"
        )
        .groupBy("shard")
        .applyInPandas(_hnsw_shard_kernel, _HNSW_GRAPH_SCHEMA)
    )
    graphs.write.mode("append").parquet(graphs_path)
    new_vectors.select("vec_id", "emb").write.mode("append").parquet(
        os.path.join(path, "vectors")
    )
    return {"new_shards": n_shards, "n_appended": n_rows}


def query_hnsw_index(spark, path: str, q: DataFrame, k: int = K_NEIGHBORS) -> DataFrame:
    """Query the saved layout: each graph row searches the broadcast
    query batch locally (one kernel call per shard — no graph ever
    crosses an executor boundary), candidates join back to
    ``path/vectors`` for the family's shared exact re-score top-k.
    ``q``: (query_id, q_emb) — the query batch, bounded by contract."""
    import os

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

    graphs = spark.read.parquet(os.path.join(path, "graphs"))
    cand_pairs = graphs.mapInPandas(kernel, "query_id long, neighbor_id long")
    vectors = spark.read.parquet(os.path.join(path, "vectors"))
    qdf = q.select("query_id", F.col("q_emb").cast("array<double>").alias("q_emb"))
    cands = cand_pairs.join(
        vectors.select(F.col("vec_id").alias("neighbor_id"), "emb"),
        "neighbor_id",
    ).join(F.broadcast(qdf), "query_id")
    from pyspark.sql.window import Window

    scored = cands.select(
        "query_id",
        "neighbor_id",
        half_up(cosine_expr(F.col("q_emb"), F.col("emb")), 4).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


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
