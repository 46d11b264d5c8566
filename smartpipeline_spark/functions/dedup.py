"""Deduplication operators over the ``documents`` / ``embeddings``
tables — exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

Scale design (the point of this module):
* exact dedup groups on a 128-bit md5 fingerprint, never on document
  bodies — the shuffle key is 16 bytes regardless of doc size;
* MinHash/LSH is the classic shingle→minhash→band→bucket-join chain,
  expressed entirely as explode/groupBy/join (no driver loops, no
  UDFs) so it scales to any corpus that fits the cluster;
* candidate verification joins back on shingle sets, so LSH recall
  errors only cost false *candidates*, never false positives.

All registered keys here are DuckDB-oracled (MinHash/SimHash use
engine-portable md5-derived hashes so the oracle replays the exact
candidate algebra); recall pytests against the exact Jaccard ground
truth keep the approximate families honest.

The pairing joins and ExactSubstr default to ``partitions="auto"``:
a one-pass estimate of the widest exchange sizes it through
``operators.scale.resolve_exchange_width``, the package's one
exchange-width contract (the rule the SMOKE ladders calibrated at
64x-256x), instead of leaving a 100 TB join at the session's shuffle
width. This module only supplies the estimates.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, functions as F

from smartpipeline_spark import indexstore, materialize, sources
from smartpipeline_spark.functions import ext_query
from smartpipeline_spark.rounding import half_up

# --- minhash parameters (fixed seed: deterministic across runs) -----------
_N_HASHES = 16
_N_BANDS = 4  # 4 rows per band
_P = 4294967311  # prime > 2^32
_rng = random.Random(42)
_A = [_rng.randrange(1, 1 << 30) for _ in range(_N_HASHES)]
_B = [_rng.randrange(0, 1 << 30) for _ in range(_N_HASHES)]

JACCARD_THRESHOLD = 0.2
# Doc-frequency cap for the inverted-index self-joins (jaccard_pairs,
# overlap_pairs): a shingle/fingerprint present in more than this many
# documents is dropped BEFORE the self-join. One boilerplate shingle
# ("terms of service apply") shared by 1M docs otherwise re-creates the
# 10^12-pair cross product the index exists to avoid; dropping it is the
# standard stopword-shingle treatment (Broder). The cap bounds the
# quadratic term at cap^2 per hot key. Mirrored in the DuckDB oracles so
# capped output stays exactly checkable at every SF.
MAX_SHINGLE_DF = 1000
# Block-size cap for blocked fuzzy matching: blocks larger than this are
# sub-blocked by the candidate string's first character, bounding the
# within-block cross product (documented recall loss: pairs whose first
# characters differ inside a degenerate block are not compared).
FUZZY_MAX_BLOCK = 500
# the synthetic embeddings are random (max pairwise cosine ~0.51), so a
# production-style 0.9 threshold would make the oracle check vacuous;
# 0.35 keeps the operator's output non-empty and genuinely verified
COSINE_DUP_THRESHOLD = 0.35

def _norm_text():
    return F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " ")


def shingle_array_expr(n: int = 3):
    """Distinct word n-gram shingles of ``text`` as an array column —
    computed entirely row-local, no explode. The word split is bound
    ONCE per row to a lambda variable (``transform(array(split(..)),
    ws -> ...)[0]``) — inlining the split into the per-shingle slice
    would re-run the regex once per shingle (a ~40x blowup measured
    at sf0.1). Documents with fewer than ``n`` words get an empty
    array (matches the oracle's generate_series semantics)."""
    return F.expr(
        f"""transform(array(split(lower(trim(text)), '\\\\s+')),
              ws -> CASE WHEN size(ws) >= {n}
                    THEN array_distinct(transform(sequence(0, size(ws) - {n}),
                         i -> concat_ws(' ', slice(ws, i + 1, {n}))))
                    ELSE CAST(array() AS array<string>) END)[0]"""
    )


def _spread_width(df: DataFrame) -> int:
    """Parallelism width for a CPU-bound map repartition over raw
    text: ``defaultParallelism`` as the floor (spread a few fat
    row-groups across the cluster), GROWN past it when the input is
    large so each task holds ~128 MB of source bytes — at 100 TB a
    bare ``defaultParallelism`` would put GBs of text per task.
    Sizing uses Catalyst's ``sizeInBytes`` statistic (metadata-only
    for file scans — no job); an unknown/unbounded estimate (joins,
    in-memory frames) falls back to the floor."""
    import math

    from smartpipeline_spark.operators.scale import TASK_TARGET_BYTES, plan_size_bytes

    dp = df.sparkSession.sparkContext.defaultParallelism
    size = plan_size_bytes(df)
    if size is None:
        return dp
    return max(dp, min(math.ceil(size / TASK_TARGET_BYTES), 1 << 20))


def shingle_sets(df: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sh_set): per-doc distinct shingle array.

    Repartitions first: document corpora often arrive as few fat
    files, and shingling is CPU-bound — one narrow shuffle of raw
    text buys full-cluster parallelism for everything downstream.
    The shuffle is SKIPPED when the scan already yields at least the
    target width (a 100 TB corpus arrives as ~10^6 scan splits;
    re-shuffling it round-robin would be a full-corpus exchange that
    buys nothing). The partition probe goes through ``.rdd``, which
    non-JVM plan wrappers (Spark Connect) don't expose — those fall
    back to the unconditional repartition, same as pre-r11."""
    width = _spread_width(df)
    try:
        cur = df.rdd.getNumPartitions()  # plan-only, no job
    except Exception:  # Spark Connect / non-JVM plan wrappers
        cur = None
    if cur is not None and cur >= width:
        return df.select("doc_id", shingle_array_expr(n).alias("sh_set"))
    return df.repartition(width).select(
        "doc_id", shingle_array_expr(n).alias("sh_set")
    )


def word_shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sh) exploded distinct shingles — the inverted-index
    shape used by the exact all-pairs Jaccard join.

    explode_outer + isNotNull, NOT plain explode: the optimizer infers
    a ``size(sh_set) > 0 AND isnotnull(sh_set)`` filter from an inner
    Generate and pushes it below the spread exchange — re-evaluating
    the interpreted shingle fold 2x per document inside the narrow
    scan stage (measured r12: 3x the wall of the explode itself at
    sf0.1, because the fixture scan is one task). An outer Generate
    infers nothing; the handful of <n-word docs become one null row
    each and die in the cheap post-explode filter. Shingle elements
    are concat_ws results and can never be null, so the two forms are
    row-identical."""
    return (
        shingle_sets(df, n)
        .select("doc_id", F.explode_outer("sh_set").alias("sh"))
        .filter(F.col("sh").isNotNull())
    )


@ext_query(
    "ext_dedup_exact",
    """SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
              MIN(doc_id) AS keep_id,
              COUNT(*) AS n_copies
       FROM documents
       GROUP BY fp""",
)
def ext_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on the normalized-text fingerprint,
    keep the lowest doc_id of each group."""
    d = sources.table(spark, "documents", sf_dir)
    return (
        d.select("doc_id", F.md5(_norm_text()).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def drop_hot_keys(df: DataFrame, key: str, max_df: int | None) -> DataFrame:
    """Drop rows whose ``key`` value appears in more than ``max_df``
    rows — the skew guard in front of every inverted-index self-join.
    The hot set is tiny BY CONSTRUCTION (only keys above the cap), so
    it broadcasts; the corpus-side anti-join is map-side, no shuffle
    beyond the partial-agg'd count. ``max_df=None`` disables."""
    if max_df is None:
        return df
    hot = df.groupBy(key).agg(F.count("*").alias("_df")).filter(
        F.col("_df") > max_df
    ).select(key)
    return df.join(F.broadcast(hot), key, "left_anti")


def _pair_estimate(index: DataFrame, key_cols: list[str], anchor=None) -> int:
    """Output cardinality of an inverted-index pairing join — Σ_k
    C(n_k, 2) for the full self-join, Σ_k n_k·a_k when only ``anchor``
    rows sit on the build side — from one sample-first pre-aggregation
    over the (persisted) index
    (:func:`~smartpipeline_spark.operators.scale.sample_first_estimate`)."""
    from smartpipeline_spark.operators.scale import sample_first_estimate

    def per_key(frame):
        grouped = frame.groupBy(*key_cols)
        if anchor is None:
            per = grouped.agg(F.count("*").alias("na"))
            return per.select((F.col("na") * (F.col("na") - 1) / 2).alias("e"))
        per = grouped.agg(
            F.count("*").alias("na"),
            F.sum(F.when(anchor, 1).otherwise(0)).alias("nb"),
        )
        return per.select((F.col("na") * F.col("nb")).alias("e"))

    return sample_first_estimate(index, key_cols, per_key)


def _pair_join_width(
    partitions, index: DataFrame, key_cols: list[str], anchor=None
) -> int | None:
    """``partitions`` contract of the pairing joins: the package's one
    exchange-width contract (:func:`~smartpipeline_spark.operators.
    scale.resolve_exchange_width`) fed the join's output cardinality
    (:func:`_pair_estimate`) at ~50 B per pair row. No small-input
    bypass: the output is quadratic in the index. Helper-sized joins
    measured 27-66% faster than the r9 hand-tuned constants (``git
    show d3e6f62:SMOKE_r10.json``); the estimate pass is charged to the
    operator by design — it is part of the join."""
    from smartpipeline_spark.operators.scale import resolve_exchange_width

    return resolve_exchange_width(
        partitions,
        index.sparkSession,
        lambda: _pair_estimate(index, key_cols, anchor),
    )


def jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int | None = MAX_SHINGLE_DF,
    anchor=None,
    partitions: int | str | None = "auto",
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via shingle inverted index:
    explode shingles → self-join on shingle → per-pair common counts →
    |A∪B| = |A|+|B|-common. The self-join shuffles on the shingle hash,
    so hot shingles are the skew risk: shingles in more than ``max_df``
    documents (stopword/boilerplate shingles) are dropped from the
    shingle universe first (:func:`drop_hot_keys` — sizes and common
    counts both use the capped universe, so Jaccard stays a true
    set similarity over the kept shingles); AQE skew-join splits
    whatever skew remains below the cap.

    ``partitions="auto"`` (default) sizes the join and pair-count
    exchanges from a one-pass output-cardinality estimate (see
    :func:`_pair_join_width`): explicit widths are injected only above
    the pressure floor or to clamp an 8x-oversized session width; pass
    an int to force a width or ``None`` for session conf / AQE.

    ``anchor`` (a boolean Column over the shingled rows, e.g.
    ``F.col("doc_id") % 1000 < 2``) switches to the ANCHORED form:
    only anchor documents sit on the build side and pairs are emitted
    as (d1 > d2=anchor) — the incremental-dedup shape (new corpus vs
    a representative subset) whose output grows linearly in corpus
    size instead of quadratically. Jaccard values are identical to
    the full join's for the emitted pairs (sizes and common counts
    still use the whole capped universe)."""
    raw_sh = materialize.persist(word_shingles(docs, n))
    # sh feeds three consumers (sizes + both join sides): persist so
    # the regex-shingle explode and the hot-key anti-join run once
    sh = materialize.persist(drop_hot_keys(raw_sh, "sh", max_df))
    p = _pair_join_width(partitions, sh, ["sh"], anchor)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    side = sh if p is None else sh.repartition(p, "sh")
    a = side.alias("a")
    b = (side if anchor is None else side.filter(anchor)).alias("b")
    pair_cond = (
        F.col("a.doc_id") < F.col("b.doc_id")
        if anchor is None
        else F.col("a.doc_id") > F.col("b.doc_id")
    )
    pairs_in = a.join(b, (F.col("a.sh") == F.col("b.sh")) & pair_cond).select(
        F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
    )
    if p is not None:
        # the pair-count exchange carries ~the same volume as the join
        # output (a pair's common shingles hash to different partitions,
        # so map-side combine barely reduces it) — size it with the same
        # rule instead of leaving it to the session conf
        pairs_in = pairs_in.repartition(p, "d1", "d2")
    common = pairs_in.groupBy("d1", "d2").agg(F.count("*").alias("c"))
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("c") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("c"))
    return (
        common.join(sa, F.col("d1") == F.col("sa.doc_id"))
        .join(sb, F.col("d2") == F.col("sb.doc_id"))
        .filter(jac >= threshold)
        .select(
            "d1",
            "d2",
            half_up(jac, 4).alias("jaccard"),
        )
    )


@ext_query(
    "ext_dedup_ngram_jaccard",
    f"""WITH words AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
          FROM documents),
        sh0 AS (
          SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
          FROM words, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i) t),
        hot AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > {MAX_SHINGLE_DF}),
        sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT d1, d2,
               FLOOR(c * 1.0 / (sa.n + sb.n - c) * 10000.0 + 0.5) / 10000.0 AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = d1
        JOIN sizes sb ON sb.doc_id = d2
        WHERE c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_THRESHOLD}""",
)
def ext_dedup_ngram_jaccard(spark, sf_dir):
    d = sources.table(spark, "documents", sf_dir)
    return jaccard_pairs(d)


@ext_query(
    "ext_dedup_jaccard_anchored",
    f"""WITH words AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
          FROM documents),
        sh0 AS (
          SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
          FROM words, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i) t),
        hot AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > {MAX_SHINGLE_DF}),
        sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS big, b.doc_id AS anc, COUNT(*) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id > b.doc_id
          WHERE b.doc_id % 10 < 2
          GROUP BY 1, 2)
        SELECT big AS d1, anc AS d2,
               FLOOR(c * 1.0 / (sa.n + sb.n - c) * 10000.0 + 0.5) / 10000.0 AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = big
        JOIN sizes sb ON sb.doc_id = anc
        WHERE c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_THRESHOLD}""",
)
def ext_dedup_jaccard_anchored(spark, sf_dir):
    """The ANCHORED (incremental) Jaccard form born r11: only anchor
    documents (here the deterministic 20% doc_id % 10 < 2) sit on the
    build side, pairs emit as (d1 > d2=anchor) — output grows
    linearly in corpus size instead of quadratically, the shape an
    ingestion pipeline uses to compare a new batch against
    representative anchors. Jaccard values are computed over the same
    capped shingle universe as the full join, so each emitted pair's
    value matches ext_dedup_ngram_jaccard exactly (pinned by
    test_anchored_jaccard_equals_filtered_full_join). Sized by
    partitions="auto" like every pairing join."""
    d = sources.table(spark, "documents", sf_dir)
    return jaccard_pairs(d, anchor=F.col("doc_id") % 10 < 2)


def minhash_signatures(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, h0..h{k-1}) MinHash signatures from word shingles."""
    return minhash_signatures_from_sets(shingle_sets(docs, n))


def minhash_signatures_from_sets(sets_: DataFrame) -> DataFrame:
    """Signatures from a prebuilt (doc_id, sh_set) frame — lets callers
    shingle the corpus ONCE and reuse the same (persisted) frame for
    both signature construction and candidate verification.

    base = int(md5(shingle)[:8], 16) — the first md5 half, an
    engine-portable 32-bit value DuckDB reproduces bit-for-bit (the
    ext_dedup_minhash oracle replays the integer pipeline exactly) —
    then k universal-hash permutations (a*base + b) mod p minimized
    per doc — all computed
    row-local over the shingle ARRAY with transform + array_min:
    signature construction costs ZERO shuffles (the naive
    explode→groupBy(min) formulation shuffles every shingle)."""
    sets_ = sets_.filter(F.size("sh_set") > 0)
    # Single-pass fold: acc[i] = min(acc[i], (a_i*hash + b_i) % p) via
    # aggregate + zip_with over a literal (a_i, b_i) array. The naive
    # form (16 separate array_min(transform(...)) columns) inlines the
    # shingle+hash subtree 16x and costs ~10s of driver-side query
    # compilation alone on first run.
    # The literals are one SQL expression each: assembling them Column
    # by Column costs hundreds of py4j round trips per build (same plan).
    ab = F.expr(
        "array("
        + ", ".join(
            f"named_struct('a', CAST({a} AS BIGINT), 'b', CAST({b} AS BIGINT))"
            for a, b in zip(_A, _B)
        )
        + ")"
    )
    init = F.expr(f"array_repeat(CAST({_P + 1} AS BIGINT), {_N_HASHES})")
    # 32-bit base from the first md5 half (NOT xxhash64): engine-
    # portable, which lets the ext_dedup_minhash key carry an exact
    # DuckDB oracle — same md5-determinism contract as every sampler
    base_arr = F.expr(
        "transform(sh_set, s -> cast(conv(substring(md5(s), 1, 8), 16, 10) AS bigint))"
    )
    sig_arr = F.aggregate(
        base_arr,
        init,
        lambda acc, x: F.zip_with(
            acc, ab, lambda accv, p: F.least(accv, (p["a"] * x + p["b"]) % F.lit(_P))
        ),
    )
    sets_ = sets_.select("doc_id", sig_arr.alias("sig"))
    return sets_.selectExpr(
        "doc_id", *[f"element_at(sig, {i + 1}) AS h{i}" for i in range(_N_HASHES)]
    )


def minhash_candidates(
    sigs: DataFrame,
    anchor=None,
    partitions: int | str | None = "auto",
) -> DataFrame:
    """LSH banding: signature → (band_id, band_key) → bucket join.
    Pairs sharing any band are candidates. The band key is the RAW
    4-long tuple, not a recompacted hash: 32 bytes of shuffle key
    (uniform by construction) buys an exactly-specified candidate set
    — no band-hash collisions — so the key's output is reproducible
    by the DuckDB oracle down to the value hash. (The persisted
    incremental index keeps its compact murmur band_hash: a collision
    there only adds verify work, never output.)

    ``partitions`` / ``anchor`` follow the :func:`jaccard_pairs`
    contract: "auto" (default) sizes the bucket-join and dedup
    exchanges from the one-pass Σ-per-bucket estimate; ``anchor``
    restricts the build side to anchor docs and emits (d1 > d2=anchor)
    — the linear-output incremental form."""
    rows_per_band = _N_HASHES // _N_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_id"),
                F.array(
                    *[F.col(f"h{j * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("band_key"),
            )
            for j in range(_N_BANDS)
        ]
    )
    keyed = sigs.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", "band.band_id", "band.band_key"
    )
    if partitions == "auto":
        # the estimate pass + both join sides read the banded index —
        # persist so signatures compute once
        keyed = materialize.persist(keyed)
    p = _pair_join_width(partitions, keyed, ["band_id", "band_key"], anchor)
    side = keyed if p is None else keyed.repartition(p, "band_id", "band_key")
    a = side.alias("a")
    b = (side if anchor is None else side.filter(anchor)).alias("b")
    pair_cond = (
        F.col("a.doc_id") < F.col("b.doc_id")
        if anchor is None
        else F.col("a.doc_id") > F.col("b.doc_id")
    )
    pairs = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & pair_cond,
    ).select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
    if p is not None:
        # same-rule sizing for the distinct's exchange (a pair repeats
        # only once per shared band, so map-side combine reduces <= 4x)
        pairs = pairs.repartition(p, "d1", "d2")
    return pairs.distinct()


# MinHash oracle: same fixed (a_i, b_i, P) universal-hash family over
# the same md5-derived 32-bit shingle base, per-band exact tuple
# equality for candidates, exact Jaccard verification — every step the
# Spark leg runs, integer-exact (a < 2^30, x < 2^32 so a*x+b < 2^62
# fits BIGINT in both engines).
_MINHASH_SIG_COLS = ", ".join(
    f"MIN(({_A[i]} * x + {_B[i]}) % {_P}) AS h{i}" for i in range(_N_HASHES)
)
_MINHASH_BAND_EQ = " OR ".join(
    "("
    + " AND ".join(
        f"a.h{j * (_N_HASHES // _N_BANDS) + r} = b.h{j * (_N_HASHES // _N_BANDS) + r}"
        for r in range(_N_HASHES // _N_BANDS)
    )
    + ")"
    for j in range(_N_BANDS)
)
_MINHASH_ORACLE = rf"""WITH words AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
          FROM words, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i) t),
        hx AS (
          SELECT doc_id, ('0x' || substring(md5(s), 1, 8))::BIGINT AS x
          FROM sh),
        sig AS (
          SELECT doc_id, {_MINHASH_SIG_COLS}
          FROM hx GROUP BY doc_id),
        cand AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2
          FROM sig a JOIN sig b
            ON a.doc_id < b.doc_id AND ({_MINHASH_BAND_EQ})),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        common AS (
          SELECT c.d1, c.d2, COUNT(*) AS cnt
          FROM cand c
          JOIN sh s1 ON s1.doc_id = c.d1
          JOIN sh s2 ON s2.doc_id = c.d2 AND s2.s = s1.s
          GROUP BY c.d1, c.d2)
        SELECT d1, d2,
               FLOOR(cnt * 1.0 / (sa.n + sb.n - cnt) * 10000.0 + 0.5) / 10000.0
                 AS jaccard_verified
        FROM common
        JOIN sizes sa ON sa.doc_id = d1
        JOIN sizes sb ON sb.doc_id = d2
        WHERE cnt * 1.0 / (sa.n + sb.n - cnt) >= {JACCARD_THRESHOLD}"""


@ext_query("ext_dedup_minhash", _MINHASH_ORACLE)
def ext_dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup: candidates from banding, then exact
    Jaccard verification of the CANDIDATE PAIRS ONLY — the whole point
    of LSH is that the quadratic all-pairs comparison never happens.
    Verification joins each candidate pair to the two docs' shingle
    sets and intersects JVM-side (array_intersect); cost is linear in
    candidate count, not corpus size squared. False positives are
    eliminated exactly; LSH can only lose borderline pairs.

    The corpus is shingled ONCE: the (doc_id, sh_set) frame is
    persisted and feeds both the signature fold and the verification
    joins (previously the regex-shingle pass ran twice — the single
    most expensive bench item; caching halved it)."""
    d = sources.table(spark, "documents", sf_dir)
    sets_ = materialize.persist(shingle_sets(d))
    cands = minhash_candidates(minhash_signatures_from_sets(sets_))
    s1 = sets_.select(F.col("doc_id").alias("d1"), F.col("sh_set").alias("sh1"))
    s2 = sets_.select(F.col("doc_id").alias("d2"), F.col("sh_set").alias("sh2"))
    common = F.size(F.array_intersect(F.col("sh1"), F.col("sh2")))
    union = F.size("sh1") + F.size("sh2") - common
    jac = common / union
    return (
        cands.join(s1, "d1")
        .join(s2, "d2")
        .filter(jac >= F.lit(JACCARD_THRESHOLD))
        .select(
            "d1",
            "d2",
            half_up(jac, 4).alias("jaccard_verified"),
        )
    )


# SimHash oracle: the same 64 bit-sums / threshold / chunk / pigeonhole
# pipeline the Spark leg runs, over the SAME md5-derived word hash —
# the low/high 32-bit halves of md5(w) parse identically in both
# engines, so every downstream integer op is engine-exact. Bit 63 adds
# the -2^63 literal (a 1<<63 shift overflows DuckDB's checked shift;
# two's-complement addition is equivalent and in-range because bits
# 0-62 sum to at most 2^63-1).
_SIMHASH_BIT = lambda j: (
    f"((hl >> {j}) & 1)" if j < 32 else f"((hh >> {j - 32}) & 1)"
)
_SIMHASH_ORACLE = (
    r"""WITH words AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents),
        h AS (
          SELECT doc_id,
                 ('0x' || substring(md5(w), 1, 8))::BIGINT AS hh,
                 ('0x' || substring(md5(w), 9, 8))::BIGINT AS hl
          FROM words),
        bits AS (
          SELECT doc_id, """
    + ", ".join(
        f"SUM(CASE WHEN {_SIMHASH_BIT(j)} = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(64)
    )
    + """
          FROM h GROUP BY doc_id),
        sh AS (
          SELECT doc_id, """
    + " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j}::BIGINT ELSE 0 END)"
        for j in range(63)
    )
    + """
            + (CASE WHEN b63 > 0 THEN (-9223372036854775807 - 1)::BIGINT ELSE 0 END)
            AS simhash
          FROM bits),
        chunks AS (
          SELECT doc_id, simhash, j AS chunk_id,
                 (simhash >> (j * 16)) & 65535 AS chunk_val
          FROM sh, UNNEST([0, 1, 2, 3]) AS t(j)),
        cand AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                          a.simhash AS sh1, b.simhash AS sh2
          FROM chunks a
          JOIN chunks b ON a.chunk_id = b.chunk_id
                       AND a.chunk_val = b.chunk_val
                       AND a.doc_id < b.doc_id)
        SELECT d1, d2,
               CAST(bit_count(xor(sh1, sh2)) AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(xor(sh1, sh2)) <= 3"""
)


@ext_query("ext_dedup_simhash", _SIMHASH_ORACLE)
def ext_dedup_simhash(spark, sf_dir):
    """64-bit SimHash from word unigrams; near-dup candidates = equal
    16-bit chunk in any of 4 chunks (≈ Hamming distance ≤ 3 recall).
    All bit math is JVM-side integer ops — no UDFs. The word hash is
    the two 32-bit halves of md5(w) (NOT xxhash64): a few ns slower
    per word, but engine-portable, which upgrades this key from
    rows-only to exactly DuckDB-oracled — the same md5-determinism
    contract every sampler in curation.py follows."""
    d = sources.table(spark, "documents", sf_dir)
    words = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).alias("w")
    )
    hashed = words.select(
        "doc_id",
        F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long").alias("hh"),
        F.conv(F.substring(F.md5("w"), 9, 8), 16, 10).cast("long").alias("hl"),
    )
    bit_sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftrightunsigned(
                        F.col("hl" if j < 32 else "hh"), j if j < 32 else j - 32
                    ).bitwiseAND(F.lit(1))
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(64)
        ]
    )
    # bit 63 via shiftleft: the literal 1<<63 overflows a signed long
    simhash = bit_sums.select(
        "doc_id",
        sum(
            [
                F.when(
                    F.col(f"b{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)
                ).otherwise(F.lit(0).cast("long"))
                for j in range(64)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    chunks = simhash.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("chunk_id"),
                        F.shiftrightunsigned(F.col("simhash"), j * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", "ch.chunk_id", "ch.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("sh1"),
            F.col("b.simhash").alias("sh2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2"))).cast("long")
    return cand.select("d1", "d2", hamming.alias("hamming")).filter(F.col("hamming") <= 3)


HAMMING_MAX_BUCKET = 1000  # band-bucket population cap (pigeonhole joins)


def hamming_band_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    class_col: str | None = None,
    bands: int = 4,
    bits: int = 64,
    max_hamming: int = 3,
    max_bucket: int | None = HAMMING_MAX_BUCKET,
) -> DataFrame:
    """Generic pigeonhole Hamming join: split each ``bits``-bit hash
    into ``bands`` equal chunks; any pair within ``max_hamming`` ≤
    ``bands - 1`` bit flips must agree on at least one chunk, so equal
    (chunk_id, chunk_val) buckets are a recall-complete candidate set
    and the exact ``bit_count(xor)`` verify runs only on candidates.
    The same machinery behind ext_dedup_simhash, generalized for any
    64-bit perceptual / structural fingerprint.

    ``class_col`` partitions the pairing space (e.g. image vs audio
    hashes never compare). ``max_bucket`` is the hot-bucket cap in
    front of the quadratic bucket join — a degenerate fingerprint
    (all-black images hash identically) otherwise recreates the cross
    product; buckets above the cap are dropped via a broadcast
    anti-join (same contract as :func:`drop_hot_keys`), bounding the
    join at ``max_bucket²`` rows per bucket. All bit math is JVM-side.

    Returns (d1, d2, hamming) with d1 < d2."""
    width = bits // bands
    mask = (1 << width) - 1
    keys = ([class_col] if class_col else [])
    chunks = df.select(
        F.col(id_col).alias("_id"),
        F.col(hash_col).alias("_h"),
        *[F.col(c) for c in keys],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("chunk_id"),
                        F.shiftrightunsigned(F.col(hash_col), j * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk_val"),
                    )
                    for j in range(bands)
                ]
            )
        ).alias("ch"),
    ).select("_id", "_h", *keys, "ch.chunk_id", "ch.chunk_val")
    bucket_keys = [*keys, "chunk_id", "chunk_val"]
    if max_bucket is not None:
        hot = (
            chunks.groupBy(*bucket_keys)
            .agg(F.count("*").alias("_bn"))
            .filter(F.col("_bn") > max_bucket)
            .select(*bucket_keys)
        )
        chunks = chunks.join(F.broadcast(hot), bucket_keys, "left_anti")
    a, b = chunks.alias("a"), chunks.alias("b")
    on = F.col("a.chunk_id") == F.col("b.chunk_id")
    on = on & (F.col("a.chunk_val") == F.col("b.chunk_val"))
    for c in keys:
        on = on & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cand = (
        a.join(b, on & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("d1"),
            F.col("b._id").alias("d2"),
            F.col("a._h").alias("_h1"),
            F.col("b._h").alias("_h2"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("_h1").bitwiseXOR(F.col("_h2")))
    return cand.select("d1", "d2", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


@ext_query(
    "ext_dedup_embedding",
    f"""SELECT a.vec_id AS v1, b.vec_id AS v2,
               FLOOR(list_cosine_similarity(a.embedding::DOUBLE[],
                     b.embedding::DOUBLE[]) * 10000.0 + 0.5) / 10000.0 AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
              >= {COSINE_DUP_THRESHOLD}""",
)
def ext_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup, exact brute force (the oracle-checked
    baseline; the LSH-bucketed scale path is ext_knn_lsh in
    similarity.py)."""
    from smartpipeline_spark.functions.similarity import cosine_expr

    e = sources.table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    a, b = e.alias("a"), e.alias("b")
    cos = cosine_expr(F.col("a.emb"), F.col("b.emb"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
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
    )


def connected_components(
    pairs: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iters: int = 25,
) -> DataFrame:
    """Resolve pairwise duplicate edges into clusters: returns
    (id, cluster_id) for every node appearing in ``pairs``, where
    cluster_id is the minimum node id of its connected component —
    the step that turns a similarity join's output into a "keep one
    document per group" decision.

    Min-label propagation: each round every node adopts the smallest
    label among itself and its neighbors; converged when no label
    changes. Rounds needed = graph diameter, and near-dup graphs are
    shallow (stars and short chains around a canonical doc), so this
    terminates in a handful of rounds. Each round is one join + one
    partial-aggregated groupBy on (id, 8-byte label) rows — no
    document payloads. ``localCheckpoint`` truncates the plan each
    round (iterative lineage otherwise doubles per iteration), and the
    convergence check rides the SAME aggregation pass as the new
    labels (max(changed) — no second join or count job). For
    adversarially deep graphs (long chains), swap in the
    large-star/small-star alternation of Kiveris et al., "Connected
    Components in MapReduce and Beyond" (O(log n) rounds) — same
    (id, label) dataflow, different neighbor rule.
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    edges = materialize.persist(edges.distinct())
    labels = stored = materialize.checkpoint(
        edges.select("a").distinct().select(F.col("a").alias("id"), F.col("a").alias("label"))
    )

    changed = False
    for _ in range(max_iters):
        neighbor = edges.join(labels, edges.b == labels.id).select(
            F.col("a").alias("id"), F.col("label")
        )
        # fold own + neighbor labels; detect change in the same pass:
        # tag self rows so min(own) is recoverable post-aggregation
        own = labels.select("id", "label", F.lit(True).alias("self"))
        nb = neighbor.select("id", "label", F.lit(False).alias("self"))
        folded = materialize.checkpoint(
            own.union(nb)
            .groupBy("id")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("self"), F.col("label"))).alias("old"),
            )
        )
        # the eager checkpoint has read the previous round's labels:
        # free them now rather than one copy per round at scope exit
        materialize.release(stored)
        stored = folded
        changed = folded.agg(
            F.max(F.col("label") != F.col("old")).alias("any")
        ).collect()[0]["any"]
        labels = folded.select("id", "label")
        if not changed:
            break
    materialize.release(edges)
    if changed:
        # Partial labels would split a connected component across the
        # caller's downstream decision (e.g. a train/test boundary) —
        # EXACTLY the failure this operator exists to prevent. Refuse
        # loudly rather than return silently-unconverged labels.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "label-propagation rounds (graph diameter exceeds "
            "max_iters); raise max_iters or use a star-contraction "
            "variant for adversarially deep graphs"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


# ----------------------------------------------------- blocked fuzzy match

FUZZY_SUBBLOCK_LEVELS = 3  # prefix chars appended while a block stays hot


def fuzzy_pairs(
    df: DataFrame,
    col: str,
    block_re: str = "([a-z]+)$",
    min_dist: int = 1,
    max_dist: int = 3,
    max_block: int | None = FUZZY_MAX_BLOCK,
    levels: int = FUZZY_SUBBLOCK_LEVELS,
) -> DataFrame:
    """Blocked fuzzy string matching (entity resolution): candidate
    pairs within a block whose Levenshtein distance falls in
    [min_dist, max_dist]. The classic record-linkage shape:

    1. ``distinct()`` first — fuzzy matching operates on the
       VOCABULARY, not the corpus, so a 100 TB table collapses to its
       distinct strings before any pairing (one small shuffle).
    2. Block on a cheap key (default: trailing word) so the self-join
       is quadratic only within a block, never across the vocabulary.
       Block-size skew is the guarded risk — a degenerate block
       ("inc", "ltd") re-creates the cross product, so hot blocks are
       sub-blocked ITERATIVELY: each of ``levels`` rounds re-measures
       block sizes and appends the string's next prefix character to
       blocks still above ``max_block`` (round ``i`` appends char
       ``i``). A block that survives all rounds hot has every member
       sharing a ``levels``-char prefix AND a block key — after the
       default 3 rounds that is >max_block near-identical strings,
       and its cross product is intentional fuzzy-match work, not
       skew. Recall loss (documented): pairs whose appended prefix
       chars differ inside a hot block are not compared. Each round's
       hot set broadcasts, so every rewrite is map-side.
    3. ``F.levenshtein`` runs JVM-side inside codegen — no Python.

    min_dist=1 excludes identical strings (those are exact-dedup's
    job, ext_dedup_exact)."""
    vocab = df.select(F.col(col).alias("name")).distinct()
    b = vocab.withColumn("blk", F.regexp_extract("name", block_re, 1))
    if max_block is not None:
        for lvl in range(1, levels + 1):
            hot = (
                b.groupBy("blk").agg(F.count("*").alias("_bn"))
                .filter(F.col("_bn") > max_block)
                .select("blk", F.lit(True).alias("_hot"))
            )
            b = (
                b.join(F.broadcast(hot), "blk", "left")
                .withColumn(
                    "blk",
                    F.when(
                        F.col("_hot"),
                        F.concat(
                            F.col("blk"),
                            F.lit("|"),
                            F.substring("name", lvl, 1),
                        ),
                    ).otherwise(F.col("blk")),
                )
                .drop("_hot")
            )
    a, c = b.alias("a"), b.alias("c")
    dist = F.levenshtein(F.col("a.name"), F.col("c.name"))
    return (
        a.join(c, (F.col("a.blk") == F.col("c.blk")) & (F.col("a.name") < F.col("c.name")))
        .filter(dist.between(min_dist, max_dist))
        .select(
            F.col("a.name").alias("n1"),
            F.col("c.name").alias("n2"),
            dist.alias("dist"),
        )
    )


def _fuzzy_oracle_sql(levels: int = FUZZY_SUBBLOCK_LEVELS) -> str:
    """DuckDB mirror of fuzzy_pairs' iterative sub-blocking: one
    hot-detect + prefix-append CTE pair per level, same semantics as
    the broadcast-join rewrite rounds."""
    ctes = [
        "p AS (SELECT DISTINCT p_name FROM part)",
        "b0 AS (SELECT p_name,"
        " regexp_extract(p_name, '([a-z]+)$', 1) AS blk FROM p)",
    ]
    prev = "b0"
    for lvl in range(1, levels + 1):
        ctes.append(
            f"hot{lvl} AS (SELECT blk FROM {prev} GROUP BY blk"
            f" HAVING COUNT(*) > {FUZZY_MAX_BLOCK})"
        )
        ctes.append(
            f"b{lvl} AS (SELECT p_name,"
            f" CASE WHEN blk IN (SELECT blk FROM hot{lvl})"
            f" THEN blk || '|' || substring(p_name, {lvl}, 1)"
            f" ELSE blk END AS blk FROM {prev})"
        )
        prev = f"b{lvl}"
    return (
        "WITH " + ",\n         ".join(ctes) + f"""
       SELECT a.p_name AS n1, c.p_name AS n2,
              levenshtein(a.p_name, c.p_name) AS dist
       FROM {prev} a JOIN {prev} c
         ON a.blk = c.blk AND a.p_name < c.p_name
       WHERE levenshtein(a.p_name, c.p_name) BETWEEN 1 AND 3"""
    )


@ext_query("ext_fuzzy_match", _fuzzy_oracle_sql())
def ext_fuzzy_match(spark, sf_dir):
    p = sources.table(spark, "part", sf_dir)
    return fuzzy_pairs(p, "p_name")


# --------------------------------------------------------- winnowing

WINNOW_K = 8  # k-gram length (characters)
WINNOW_W = 5  # window of consecutive k-gram hashes


@ext_query(
    "ext_winnow",
    f"""WITH hashes AS (
          SELECT doc_id,
                 [ ('0x' || substring(md5(substring(lower(trim(text)), i, {WINNOW_K})), 1, 8))::BIGINT
                   for i in generate_series(1, greatest(length(lower(trim(text))) - {WINNOW_K - 1}, 0)) ] AS h
          FROM documents),
        wins AS (
          SELECT doc_id,
                 [ list_min(h[j+1:j+{WINNOW_W}])
                   for j in generate_series(0, len(h) - {WINNOW_W}) ] AS fps
          FROM hashes
          WHERE len(h) >= {WINNOW_W})
       SELECT DISTINCT doc_id, unnest(fps) AS fp
       FROM wins""",
)
def ext_winnow(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting" — the
    MOSS algorithm): hash every character k-gram, keep the MINIMUM
    hash of each window of w consecutive k-grams. Guarantees: any
    shared substring of length >= w+k-1 yields at least one shared
    fingerprint (detection), and fingerprint density is ~2/(w+1)
    (compression) — the local, position-robust alternative to
    whole-document md5 (ext_fingerprint breaks on a 1-char edit;
    winnowing survives it). Entirely ROW-LOCAL column algebra (two
    nested transform()s per row, no explode until the final distinct),
    so it fuses into the scan; the distinct shuffles (doc_id, 8-byte
    fp) pairs only. Downstream, equal fps joined across docs give
    plagiarism/overlap candidates exactly like the shingle inverted
    index in jaccard_pairs.

    The k-gram hash is md5-derived ONLY for cross-engine oracle
    parity; production corpora should pass ``hash_fn="xxhash64"`` to
    :func:`winnow_fingerprints` — same plan, ~5-10x cheaper per
    k-gram, and the winnowing guarantees don't care which hash
    (pinned by tests/test_extensions.py on both variants)."""
    d = sources.table(spark, "documents", sf_dir)
    return winnow_fingerprints(d)


def winnow_fingerprints(
    df: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, text) → (doc_id, fp) winnowed fingerprint index.

    ``hash_fn="md5"`` (default) truncates md5 to 32 bits — chosen so
    the DuckDB oracle can reproduce the exact fingerprints.
    ``hash_fn="xxhash64"`` is the production choice: one JVM xxhash64
    per k-gram instead of a full md5 + hex + conv chain, same plan
    shape and identical winnowing guarantees (detection of shared
    substrings >= w+k-1, density ~2/(w+1))."""
    if hash_fn == "md5":
        kgram = (
            f"cast(conv(substring(md5(substring(s, i, {k})), 1, 8), 16, 10)"
            " AS bigint)"
        )
    elif hash_fn == "xxhash64":
        kgram = f"xxhash64(substring(s, i, {k}))"
    else:  # fail loudly: a typo'd hash silently changing fps is a trap
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    # both the normalized string and the hash array are bound ONCE per
    # row to lambda variables (the shingle_array_expr lesson: inlining
    # lower(trim(text)) into the per-kgram lambda re-normalizes the
    # string once per k-gram — O(len²) per document)
    fps = F.expr(
        f"""transform(array(lower(trim(text))), s ->
              transform(array(transform(
                  sequence(1, greatest(length(s) - {k - 1}, 0)),
                  i -> {kgram})),
                h -> CASE WHEN size(h) >= {w}
                     THEN transform(sequence(0, size(h) - {w}),
                                    j -> array_min(slice(h, j + 1, {w})))
                     ELSE CAST(array() AS array<bigint>) END)[0])[0]"""
    )
    # explode_outer + isNotNull (see word_shingles): an inner Generate
    # would infer size(fps)>0 and push the ENTIRE O(len) hash fold
    # into a duplicated pre-exchange filter; fp elements (array_min of
    # non-null hashes) are never null, so the forms are row-identical.
    return (
        df.select("doc_id", F.explode_outer(fps).alias("fp"))
        .filter(F.col("fp").isNotNull())
        .distinct()
    )


def overlap_pairs(
    fp: DataFrame,
    min_overlap: float = 0.5,
    max_df: int | None = MAX_SHINGLE_DF,
    partitions: int | str | None = "auto",
) -> DataFrame:
    """MOSS-style overlap report over a (doc_id, fp) fingerprint
    index: document pairs sharing >= ``min_overlap`` of the smaller
    side's fingerprints. Same inverted-index self-join shape as
    :func:`jaccard_pairs`, and the same skew guard: fingerprints in
    more than ``max_df`` documents (boilerplate — license headers,
    shared templates) are dropped from the index BEFORE the
    self-join (:func:`drop_hot_keys`); sizes and shared counts both
    use the capped universe, so the ratio stays a true overlap over
    the kept fingerprints. The fp frame feeds three consumers
    (sizes + both join sides): persisted once."""
    fp = materialize.persist(drop_hot_keys(fp, "fp", max_df))
    p = _pair_join_width(partitions, fp, ["fp"])
    sizes = fp.groupBy("doc_id").agg(F.count("*").alias("n"))
    side = fp if p is None else fp.repartition(p, "fp")
    a, b = side.alias("a"), side.alias("b")
    pairs_in = a.join(
        b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
    if p is not None:
        pairs_in = pairs_in.repartition(p, "d1", "d2")
    common = pairs_in.groupBy("d1", "d2").agg(F.count("*").alias("shared"))
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    ratio = F.col("shared") * F.lit(1.0) / F.least(F.col("sa.n"), F.col("sb.n"))
    return (
        common.join(sa, F.col("d1") == F.col("sa.doc_id"))
        .join(sb, F.col("d2") == F.col("sb.doc_id"))
        .filter(ratio >= min_overlap)
        .select(
            "d1",
            "d2",
            "shared",
            half_up(ratio, 4).alias("overlap"),
        )
    )


@ext_query(
    "ext_winnow_pairs",
    f"""WITH hashes AS (
          SELECT doc_id,
                 [ ('0x' || substring(md5(substring(lower(trim(text)), i, {WINNOW_K})), 1, 8))::BIGINT
                   for i in generate_series(1, greatest(length(lower(trim(text))) - {WINNOW_K - 1}, 0)) ] AS h
          FROM documents),
        wins AS (
          SELECT doc_id,
                 [ list_min(h[j+1:j+{WINNOW_W}])
                   for j in generate_series(0, len(h) - {WINNOW_W}) ] AS fps
          FROM hashes WHERE len(h) >= {WINNOW_W}),
        fp0 AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM wins),
        hot AS (SELECT fp FROM fp0 GROUP BY fp HAVING COUNT(*) > {MAX_SHINGLE_DF}),
        fp AS (SELECT * FROM fp0 WHERE fp NOT IN (SELECT fp FROM hot)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM fp GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
          FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
       SELECT d1, d2, shared,
              FLOOR(shared * 1.0 / least(sa.n, sb.n) * 10000.0 + 0.5) / 10000.0
                AS overlap
       FROM common
       JOIN sizes sa ON sa.doc_id = d1
       JOIN sizes sb ON sb.doc_id = d2
       WHERE shared * 1.0 / least(sa.n, sb.n) >= 0.5""",
)
def ext_winnow_pairs(spark, sf_dir):
    """Winnowed fingerprints (:func:`ext_winnow`) fed to
    :func:`overlap_pairs` — the production plagiarism/near-dup
    candidate generator when edits are local (the winnowed index is
    already ~2/(w+1)-compressed vs the shingle index for the same
    corpus)."""
    return overlap_pairs(ext_winnow(spark, sf_dir))



def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
    deterministic_sums: bool = False,
) -> DataFrame:
    """PageRank over a directed edge list — the second iterative graph
    primitive beside :func:`connected_components` (authority scoring
    for link graphs, citation networks, or similarity graphs from the
    dedup joins). Returns (id, rank) with Σrank = n_nodes.

    Iteration shape (the part that must survive 100 TB): ranks live
    as a (node, rank) frame co-keyed with the out-degree table; one
    join + one groupBy per round, both partial-agg friendly; dangling
    nodes (no out-edges) redistribute uniformly via a 1-row aggregate
    crossJoin (in-plan, no driver round-trip per iteration — the
    driver only coordinates the loop). Lineage localCheckpoints every
    4 rounds (same contract as connected_components: without it the
    plan doubles per iteration).

    ``deterministic_sums`` routes the two per-iteration double sums
    (edge contributions, dangling mass) through DECIMAL(28,14) — an
    exact, order-independent accumulator — so every iteration's rank
    vector is REPRODUCIBLE bit-for-bit across shuffles, retries, AND
    engines (the dsum2 trick from smartpipeline_spark/rounding.py applied
    iteratively; every other op in the update is pointwise IEEE on
    identical inputs). The DuckDB oracle of the registered key
    depends on it; default off to keep the plain-double fast path."""
    _d14 = "decimal(28,14)"

    def _s(col):
        return (
            F.sum(col.cast(_d14)).cast("double")
            if deterministic_sums
            else F.sum(col)
        )

    # checkpoint the edge list: every iteration's contribution join
    # reads it (and out_deg derives from it again) — without this the
    # upstream edge derivation (often a join + distinct) re-executes
    # per use per iteration, 2k+ times for k iterations
    e = materialize.checkpoint(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    )
    nodes = materialize.checkpoint(
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    n_nodes = nodes.count()
    out_deg = materialize.checkpoint(e.groupBy("src").agg(F.count("*").alias("deg")))
    ranks = stored = materialize.checkpoint(nodes.select("id", F.lit(1.0).alias("rank")))
    for i in range(iters):
        contribs = (
            ranks.join(out_deg, ranks.id == out_deg.src)
            .join(e, "src")
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("id")
            .agg(_s(F.col("c")).alias("inflow"))
        )
        # dangling mass: rank held by nodes with no out-edges, spread evenly
        dangling = (
            ranks.join(out_deg, ranks.id == out_deg.src, "left_anti")
            .agg(F.coalesce(_s(F.col("rank")), F.lit(0.0)).alias("dmass"))
        )
        ranks = (
            nodes.join(contribs, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.col("dmass") / F.lit(float(n_nodes)))
                ).alias("rank"),
            )
        )
        if (i + 1) % 4 == 0:
            ranks = materialize.checkpoint(ranks)
            materialize.release(stored)  # read by the eager checkpoint above
            stored = ranks
    return ranks


def _pagerank_oracle(iters: int = 4, damping: float = 0.85) -> str:
    """DuckDB oracle for ext_pagerank: the power iteration UNROLLED as
    chained (non-recursive) CTEs r0..r{iters} — fixed iteration count
    needs no recursion, and chaining sidesteps the no-aggregates-over-
    the-recursive-reference rule entirely. Engine-portability is the
    deterministic_sums contract: both engines accumulate the two
    per-iteration sums in DECIMAL(28,14) (exact, order-free), so each
    iteration's rank vector is bit-identical and only the final
    output rounds (1e-6 grid). The teleport constant is emitted as
    ``repr(1.0 - damping)`` — the SAME float the Spark side computes
    via ``F.lit(1.0 - damping)`` (0.15000000000000002 for the default,
    one ulp off the literal 0.15) — so the pointwise update is
    bit-identical too, not merely within the rounding grid; both
    constants derive from the single ``damping`` parameter shared with
    the library call."""
    teleport = repr(1.0 - damping)
    damp = repr(damping)
    steps = []
    for k in range(1, iters + 1):
        p = f"r{k - 1}"
        steps.append(f""" r{k} AS (
   SELECT n.id,
          {teleport} + {damp} * (COALESCE(inf.s, 0.0) + dm.m / nn.n) AS rank
   FROM nodes n
   CROSS JOIN nn
   CROSS JOIN (SELECT COALESCE(CAST(SUM(CAST(r.rank AS DECIMAL(28,14))) AS DOUBLE), 0.0) AS m
               FROM {p} r LEFT JOIN deg d ON r.id = d.src
               WHERE d.src IS NULL) dm
   LEFT JOIN (SELECT e.dst AS id,
                     CAST(SUM(CAST(r.rank / d.deg AS DECIMAL(28,14))) AS DOUBLE) AS s
              FROM {p} r JOIN deg d ON r.id = d.src JOIN e ON e.src = r.id
              GROUP BY e.dst) inf ON inf.id = n.id)""")
    return f"""WITH e AS (SELECT DISTINCT l.l_suppkey AS src, o.o_custkey AS dst
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
 nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
 deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
 nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
 r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
{",".join(steps)}
SELECT id, FLOOR(rank * 1000000.0 + 0.5) / 1000000.0 AS rank
FROM r{iters}"""


@ext_query("ext_pagerank", _pagerank_oracle())
def ext_pagerank(spark, sf_dir):
    """PageRank authority scores over the supplier→customer delivery
    graph (distinct (l_suppkey, o_custkey) edges — 'who supplies
    whom'), 4 damped power iterations with dangling-mass
    redistribution, via the library :func:`pagerank` in its
    deterministic_sums mode. Per iteration: one edge join + one
    partial-agg'd groupBy + a 1-row dangling aggregate attached
    in-plan — the corpus-scale posture is the edge join's, and the
    iteration count (not graph size) sets the job count. The oracle
    unrolls the same 4 iterations as chained CTEs on the identical
    DECIMAL-exact accumulators."""
    li = sources.table(spark, "lineitem", sf_dir)
    o = sources.table(spark, "orders", sf_dir)
    e = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst")
    )
    pr = pagerank(e, iters=4, deterministic_sums=True)
    return pr.select(
        "id",
        half_up(F.col("rank"), 6).alias("rank"),
    )


# ------------------------------------------------ incremental corpus dedup

def _fp_col():
    return F.md5(_norm_text()).alias("fp")


def build_dedup_index(
    spark,
    docs: DataFrame,
    path: str,
    n: int = 3,
    near: bool = True,
    stats: bool = True,
    meta: dict | None = None,
) -> dict:
    """Persist the dedup INDEX for a corpus — the production ingestion
    shape: a 100 TB corpus is deduped once, then every arriving batch
    is deduped AGAINST the index instead of re-scanning the corpus
    (the dedup twin of similarity.build_ivf_index).

    Index layout (:mod:`~smartpipeline_spark.indexstore` tables, both
    tiny relative to the corpus — ~50 bytes + 16 longs per fp-distinct
    doc):

    * ``fingerprints`` — (fp, keep_id): every distinct exact
      fingerprint ever ingested and the first doc that carried it.
    * ``signatures`` — (doc_id, h0..h15): MinHash signatures of
      every fp-distinct doc ever ingested — INCLUDING docs later
      judged near-duplicates. Keeping non-survivors makes the removal
      rule order-independent ("remove a doc iff it has a candidate
      near-dup with a smaller doc_id among everything ingested so
      far"), which is what makes (build; append) ≡ build-on-concat
      hold exactly; dropping them would let a dup-of-a-dropped-dup
      slip through.

    ``near=False`` builds a fingerprints-only index for callers that
    will only ever run EXACT dedup against it (``dedup_against(...,
    near=False)``) — the MinHash signature pass is the expensive leg
    of the build (a window over fp plus 16 hash folds per doc) and is
    pure thrown-away work when no near-dup query will read it.
    ``stats=False`` skips the count job behind the returned
    {"n_docs", "n_fps"} dict for callers that discard it (``n_fps`` is
    the manifest's row count). ``meta`` is stored as the manifest's
    metadata.

    Returns {"n_docs", "n_fps"} (None values when ``stats=False``)."""
    from pyspark.sql import Window as _W

    fps = docs.select("doc_id", _fp_col())
    tables = {"fingerprints": fps.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))}
    if near:
        # signatures for the keeper (min doc_id) of each fp group
        kept_docs = (
            docs.select("doc_id", "text", _fp_col())
            .withColumn("_keep", F.min("doc_id").over(_W.partitionBy("fp")))
            .filter(F.col("doc_id") == F.col("_keep"))
            .select("doc_id", "text")
        )
        tables["signatures"] = minhash_signatures(kept_docs, n)
    man = indexstore.build(path, tables, meta)
    if not stats:
        return {"n_docs": None, "n_fps": None}
    return {"n_docs": docs.count(), "n_fps": indexstore.rows(man, "fingerprints")}


def _sig_agreement_r():
    """Fraction of equal MinHash components between a plain-named and
    an ``_r``-suffixed signature side — the unbiased estimator of
    Jaccard similarity (E[agreement] = J) that lets the index verify
    near-dups from 16 longs without storing shingle sets. The rename
    (not an alias pair) is what keeps the BATCH self-join resolvable:
    two aliases over one lineage mis-resolve the inequality to a
    single side."""
    eq = [
        F.when(F.col(f"h{i}") == F.col(f"h{i}_r"), 1).otherwise(0)
        for i in range(_N_HASHES)
    ]
    return sum(eq[1:], eq[0]) / F.lit(float(_N_HASHES))


def _band_keys(sigs: DataFrame) -> DataFrame:
    rows_per_band = _N_HASHES // _N_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_id"),
                F.hash(
                    *[F.col(f"h{j * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("band_hash"),
            )
            for j in range(_N_BANDS)
        ]
    )
    return sigs.select(
        "doc_id", *[f"h{i}" for i in range(_N_HASHES)], F.explode(bands).alias("band")
    ).select("doc_id", *[f"h{i}" for i in range(_N_HASHES)], "band.band_id", "band.band_hash")


def dedup_against(
    spark,
    index_path: str,
    batch: DataFrame,
    n: int = 3,
    threshold: float = JACCARD_THRESHOLD,
    near: bool = True,
    append: bool = True,
) -> DataFrame:
    """Dedup an arriving batch AGAINST a persisted index (see
    :func:`build_dedup_index`), appending the batch's new fingerprints
    and signatures so the next batch sees this one. Returns the
    surviving batch rows (doc_id, text).

    Removal rules, in order:

    1. **Exact**: drop rows whose fingerprint is already in the index,
       and within the batch keep only the smallest doc_id per fp.
    2. **Near** (``near=True``): MinHash-band the fp-surviving batch
       docs; a batch doc is dropped iff some band collides with an
       index signature, or with a smaller-id batch doc, AND the
       signature-agreement Jaccard estimate clears ``threshold``.
       Verification is against the 16-component signatures (the index
       stores no shingle sets); the estimator's resolution is 1/16,
       so thresholds between grid points behave like the next point.

    Scale: the batch (GBs) joins the index (fp + 16 longs per doc) on
    fp and on band keys — both uniformly-hashed shuffle keys; the
    corpus text itself is never read. ``append=True`` commits the
    batch's fp-new fingerprints/signatures to the index as one new
    segment per table (run batches serially or externally lock, same
    contract as append_to_ivf_index); the survivors are then computed
    before the append, since an append may compact away the segments
    they read."""
    man = indexstore.manifest(index_path)
    # exclude the batch's own doc_ids from every index read: that
    # makes the call re-entrant — re-running the same batch after its
    # own append yields the same survivors. Requires globally unique
    # doc_ids across ingestions, which is already the ordering contract.
    batch_ids = batch.select("doc_id").distinct()
    idx_fps = indexstore.read(spark, index_path, "fingerprints", man).join(
        batch_ids.withColumnRenamed("doc_id", "keep_id"), "keep_id", "left_anti"
    )
    batch_fp = batch.select("doc_id", "text", _fp_col())
    from pyspark.sql import Window as _W

    batch_fp = batch_fp.withColumn(
        "_keep", F.min("doc_id").over(_W.partitionBy("fp"))
    )
    fp_new = batch_fp.filter(F.col("doc_id") == F.col("_keep")).join(
        idx_fps.select("fp"), "fp", "left_anti"
    ).select("doc_id", "text", "fp")
    # only worth it when fp_new is consumed more than once (the
    # near-dup legs and/or the append write-back)
    if near or append:
        fp_new = materialize.checkpoint(fp_new)
    survivors = fp_new
    new_sigs = minhash_signatures(fp_new.select("doc_id", "text"), n)
    if near:
        new_sigs = materialize.checkpoint(new_sigs)
        idx_sigs = indexstore.read(spark, index_path, "signatures", man).join(
            batch_ids, "doc_id", "left_anti"
        )
        newb = _band_keys(new_sigs)
        newb_r = newb.select(*[F.col(c).alias(f"{c}_r") for c in newb.columns])
        idxb = _band_keys(idx_sigs)
        on_band = (F.col("band_id") == F.col("band_id_r")) & (
            F.col("band_hash") == F.col("band_hash_r")
        )
        vs_index = (
            idxb.join(newb_r, on_band)
            .filter(_sig_agreement_r() >= F.lit(threshold))
            .select(F.col("doc_id_r").alias("doc_id"))
            .distinct()
        )
        vs_batch = (
            newb.join(newb_r, on_band & (F.col("doc_id") < F.col("doc_id_r")))
            .filter(_sig_agreement_r() >= F.lit(threshold))
            .select(F.col("doc_id_r").alias("doc_id"))
            .distinct()
        )
        dropped = vs_index.unionByName(vs_batch).distinct()
        survivors = fp_new.join(dropped, "doc_id", "left_anti")
        if append:
            survivors = materialize.checkpoint(survivors)
    if append:
        # index invariant: ALL fp-new docs enter the index (survivors
        # and near-dropped alike — see build_dedup_index docstring)
        indexstore.append(
            index_path,
            {
                "fingerprints": fp_new.groupBy("fp").agg(F.min("doc_id").alias("keep_id")),
                "signatures": new_sigs,
            },
        )
    return survivors.select("doc_id", "text")


@ext_query(
    "ext_dedup_incremental",
    r"""WITH f AS (
          SELECT doc_id, text,
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                 ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
          FROM documents),
        corpus AS (SELECT * FROM f WHERE bucket < 90),
        batch AS (SELECT * FROM f WHERE bucket >= 90)
       SELECT b.doc_id, b.fp FROM batch b
       WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
         AND NOT EXISTS (SELECT 1 FROM batch b2
                         WHERE b2.fp = b.fp AND b2.doc_id < b.doc_id)""",
)
def ext_dedup_incremental(spark, sf_dir):
    """Driver-checkable incremental EXACT dedup: the md5-bucket train
    split plays the standing corpus (indexed), the test split plays
    the arriving batch; survivors are batch docs whose fingerprint is
    new to both the index and the earlier part of the batch. The
    near-dup stage is exercised with planted duplicates in pytest
    (signature-estimate verification has no SQL mirror)."""
    from smartpipeline_spark.functions.curation import assign_split

    s = assign_split(sources.table(spark, "documents", sf_dir))
    batch = s.filter(F.col("split") == "test").select("doc_id", "text")
    out = dedup_against(spark, _dedup_index_for(spark, sf_dir), batch, near=False, append=False)
    return out.select("doc_id", _fp_col())


def _dedup_index_for(spark, sf_dir: str) -> str:
    """The fingerprints-only dedup index of a fixture corpus's train and
    val splits (the standing corpus of ``ext_dedup_incremental``), built
    once: valid when the manifest's ``n_src``, the documents counted
    when the split was drawn, equals the documents file's footer row
    count. The key exercises EXACT dedup only (the near leg is
    pytest-pinned with planted duplicates), so the build skips the
    signatures and the stats jobs."""
    import os

    from smartpipeline_spark.functions.curation import assign_split

    def build(path: str) -> None:
        d = sources.table(spark, "documents", sf_dir)
        corpus = assign_split(d).filter(F.col("split") != "test").select("doc_id", "text")
        build_dedup_index(spark, corpus, path, near=False, stats=False, meta={"n_src": d.count()})

    return indexstore.fixture_index(
        "dedup_fp_seg",
        os.path.join(sf_dir, "documents.parquet"),
        build,
        lambda man: man["meta"]["n_src"],
    )


# ------------------------------------------------ exact substring dedup
# Lee et al. 2021, "Deduplicating Training Data Makes Language Models
# Better": beyond whole-document and near-duplicate removal, training
# corpora contain VERBATIM REPEATED SPANS (license boilerplate, quoted
# passages, templated headers) inside otherwise-distinct documents.
# The paper finds them with a corpus-wide suffix array; the Spark-first
# equivalent is a positional k-gram inverted index — every length-k
# word window that occurs >=2 times in the corpus marks its positions,
# and overlapping/adjacent marked windows merge into MAXIMAL duplicated
# spans (any duplicated span of length >= k is covered by its length-k
# sub-windows, so k-gram marking finds exactly the spans a suffix
# array would, down to the k-word resolution floor).
#
# Scale shape (the reason this form is used at 100 TB):
# * the shuffle key is md5(gram) — 32 bytes regardless of k, exact
#   (no false positives for the oracle to disagree with);
# * duplicate detection is ONE partial-agg'd groupBy + a 1:N join
#   back; there is no self-join anywhere, so no hot-key cap is needed
#   — a gram occurring a million times costs a million LINEAR rows,
#   never a 10^12 cross product;
# * span merging is a per-document window function (gaps-and-islands)
#   — state bounded by document length, never corpus size.

SUBSTR_K = 8  # span resolution floor, in words (paper uses 50 BPE
# tokens at web scale; the fixture docs average ~54 words)


def positional_kgrams(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """(doc_id, pos, g): md5 of every word k-gram of ``text`` with its
    1-based start position. Row-local (one split per row bound to a
    lambda variable, same trick as shingle_array_expr); docs shorter
    than ``k`` words emit nothing."""
    return docs.select(
        "doc_id",
        F.posexplode_outer(
            F.expr(
                f"""transform(array(split(lower(trim(text)), '\\\\s+')),
                      ws -> CASE WHEN size(ws) >= {k}
                            THEN transform(sequence(0, size(ws) - {k}),
                                 i -> md5(concat_ws(' ', slice(ws, i + 1, {k}))))
                            ELSE CAST(array() AS array<string>) END)[0]"""
            )
        ).alias("idx", "g"),
    ).filter(F.col("g").isNotNull()).select(
        "doc_id", (F.col("idx") + 1).alias("pos"), "g"
    )


def _merge_spans(occ: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands merge of fixed-length-k windows starting at
    (doc_id, pos) into maximal spans [span_start, span_end] (1-based,
    inclusive word indexes). Windows merge when the next start is
    within k of the previous (overlap or exact adjacency)."""
    from pyspark.sql import Window as _W

    w = _W.partitionBy("doc_id").orderBy("pos")
    return (
        occ.withColumn(
            "_new",
            F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
                F.lit(1)
            ),
        )
        .withColumn("_island", F.sum("_new").over(w))
        .groupBy("doc_id", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k - 1).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("n_words"),
        )
    )


def _kgram_width(docs: DataFrame, k: int, partitions) -> int | None:
    """``partitions`` contract for the ExactSubstr family: the widest
    exchanges carry the positional k-gram stream (groupBy g / window
    over g / the join-back), whose row count is exactly
    Σ max(n_words - k + 1, 0) — one row-local pre-pass over the corpus
    estimates it (charged to the operator, same as the pairing joins).
    ~64 B per serialized gram row (two longs + a 32-hex digest). The
    gram stream is linear in the corpus, so the small-input estimate
    bypass applies."""
    from smartpipeline_spark.operators.scale import resolve_exchange_width

    def est():
        return docs.agg(
            F.sum(
                F.greatest(
                    F.expr(f"size(split(lower(trim(text)), '\\\\s+')) - {k - 1}"),
                    F.lit(0),
                )
            ).alias("r")
        ).collect()[0]["r"]

    return resolve_exchange_width(
        partitions, docs.sparkSession, est, row_bytes=64, input_df=docs
    )


def duplicate_spans(
    docs: DataFrame, k: int = SUBSTR_K, partitions: int | str | None = "auto"
) -> DataFrame:
    """All maximal word spans of length >= k that occur verbatim more
    than once in the corpus (cross-document or repeated within one
    document): (doc_id, span_start, span_end, n_words).

    ``partitions="auto"`` (default) sizes the gram exchanges from the
    one-pass word-count estimate (:func:`_kgram_width`) — the groupBy
    and the join then REUSE one exchange on ``g``; below the pressure
    floor nothing is injected and fixture plans are untouched.

    Measured dead end (r12): injecting an AQE-sized ``repartition("g")``
    below the floor, hoping both consumers would reuse one exchange and
    evaluate the md5 k-gram fold once, does NOT work — column pruning
    gives the aggregate branch a ``g``-only projection while the probe
    branch keeps ``(doc_id, pos, g)``, the two exchange subtrees no
    longer canonicalize equal, ReuseExchange never fires, and the key
    measured +127% CPU (the extra full-row exchange on top of the
    still-duplicated fold). A ``count() OVER (PARTITION BY g)`` window
    would genuinely fold once but buffers every occurrence of a hot
    gram in one window group — the exact hot-key hazard the
    groupBy-partial-agg + join-back shape exists to avoid.

    What DOES work (r12, measured): on a provably small input — the
    dispatch is :func:`~smartpipeline_spark.operators.scale.
    estimate_bypassed`, the predicate behind the estimate bypass itself
    (plan-estimated <= its 16 MB bound AND a sane session width), so
    the gate has exactly one source of truth — the gram stream is
    eagerly localCheckpointed so the md5 k-gram fold — the dominant per-row
    cost, duplicated verbatim into both consumers by the optimizer —
    evaluates ONCE; isolated min-of-5 at sf0.1 measured −12% wall min /
    −22% median vs the double-fold shape, row-identical output. Above
    the bound the recompute shape stays: materializing the gram stream
    scales at ~64 B x Σ max(n_words − k + 1, 0) (the
    :func:`_kgram_width` sizing: ~75 GB at the 1024x rung) and the
    store+reread I/O there costs more than the fold it saves, while
    below the bound the materialization is <= a few hundred MB by
    construction.

    The single-fold shape runs a Spark job at construction time and
    its checkpoint lives as :mod:`materialize` says; pass
    ``partitions=None`` to keep the fully lazy double-fold shape."""
    from smartpipeline_spark.operators.scale import estimate_bypassed

    grams = positional_kgrams(docs, k)
    p = _kgram_width(docs, k, partitions)
    if p is not None:
        grams = grams.repartition(p, "g")
    elif partitions == "auto" and estimate_bypassed(docs):
        grams = materialize.checkpoint(grams)
    dup = grams.groupBy("g").agg(F.count("*").alias("_cnt")).filter(
        F.col("_cnt") >= 2
    )
    occ = grams.join(dup, "g").select("doc_id", "pos")
    return _merge_spans(occ, k)


def strip_duplicate_spans(
    docs: DataFrame, k: int = SUBSTR_K, partitions: int | str | None = "auto"
) -> DataFrame:
    """ExactSubstr REMOVAL: keep the globally FIRST occurrence of each
    duplicated k-gram (ordered by doc_id, then position) and cut every
    later occurrence's span out of its document, rebuilding the text
    from the surviving words. Returns (doc_id, text_clean, n_kept,
    n_removed); documents without duplicated spans pass through with
    n_removed = 0.

    Matches the paper's semantics: one copy of every repeated passage
    survives. Seam effects are inherited too — words flanking a cut
    become adjacent and may form new k-grams, so a second pass can in
    principle find residual duplicates (the planted-fixture pytest
    pins the clean-corpus guarantee where seams are controlled).

    NOTE: matching AND rebuilding both operate on the normalized
    stream (lowercased, whitespace-collapsed) — duplicated-span
    detection is case-insensitive and ``text_clean`` is normalized
    text. To preserve original casing, split the raw ``text`` on the
    same word boundaries and cut the same [span_start, span_end]
    ranges — the positions line up because \\s+ tokenization is
    case-insensitive.

    ``partitions="auto"`` (default) sizes the two corpus-wide exchange
    families from the one-pass gram-count estimate
    (:func:`_kgram_width`): the keep-first window over ``g`` (gram
    rows), and the word-stream join-back + reassembly on ``doc_id``
    (word rows — same cardinality, smaller rows, one shared width is
    the right order of magnitude for both)."""
    from pyspark.sql import Window as _W

    grams = positional_kgrams(docs, k)
    p = _kgram_width(docs, k, partitions)
    if p is not None:
        grams = grams.repartition(p, "g")
    later = grams.withColumn(
        "_rn", F.row_number().over(_W.partitionBy("g").orderBy("doc_id", "pos"))
    ).filter(F.col("_rn") > 1)  # rn>1 implies the gram occurs >= 2 times
    rm = _merge_spans(later.select("doc_id", "pos"), k)
    words = docs.select(
        "doc_id",
        F.posexplode(F.expr("split(lower(trim(text)), '\\\\s+')")).alias(
            "idx", "word"
        ),
    ).select("doc_id", (F.col("idx") + 1).alias("pos"), "word")
    if p is not None:
        # the anti-join and the reassembly groupBy both key on doc_id:
        # one exchange, reused by both
        words = words.repartition(p, "doc_id")
    kept = words.join(
        rm,
        (words.doc_id == rm.doc_id)
        & (words.pos >= rm.span_start)
        & (words.pos <= rm.span_end),
        "left_anti",
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s.word,
            ),
            " ",
        ).alias("text_clean"),
        F.count("*").alias("n_kept"),
    )
    sizes = docs.select(
        "doc_id",
        F.expr("size(split(lower(trim(text)), '\\\\s+'))").alias("_n_orig"),
    )
    return (
        sizes.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("_n_orig") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


_SUBSTR_GRAMS_SQL = r"""words AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          FROM documents),
        grams AS (
          SELECT doc_id, i AS pos,
                 md5(list_aggregate(w[i:i+{km1}], 'string_agg', ' ')) AS g
          FROM words, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(w) - {km1}, 0))) AS i) t)"""


def _substr_spans_oracle(k: int = SUBSTR_K) -> str:
    return (
        "WITH "
        + _SUBSTR_GRAMS_SQL.format(km1=k - 1)
        + f""",
        dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
        occ AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
        flagged AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                      <= {k} THEN 0 ELSE 1 END AS new_island
          FROM occ),
        islands AS (
          SELECT doc_id, pos,
                 SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM flagged)
       SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {k - 1} AS span_end,
              MAX(pos) + {k - 1} - MIN(pos) + 1 AS n_words
       FROM islands GROUP BY doc_id, island"""
    )


def _substr_strip_oracle(k: int = SUBSTR_K) -> str:
    return (
        "WITH "
        + _SUBSTR_GRAMS_SQL.format(km1=k - 1)
        + f""",
        later AS (
          SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
            FROM grams) WHERE rn > 1),
        flagged AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                      <= {k} THEN 0 ELSE 1 END AS new_island
          FROM later),
        islands AS (
          SELECT doc_id, pos,
                 SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM flagged),
        rm AS (
          SELECT doc_id, MIN(pos) AS s, MAX(pos) + {k - 1} AS e
          FROM islands GROUP BY doc_id, island),
        wordpos AS (
          SELECT doc_id, i AS pos, w[i] AS word, len(w) AS n_orig
          FROM words, LATERAL (
            SELECT unnest(generate_series(1, len(w))) AS i) t),
        kept AS (
          SELECT wp.* FROM wordpos wp
          WHERE NOT EXISTS (SELECT 1 FROM rm
                            WHERE rm.doc_id = wp.doc_id
                              AND wp.pos BETWEEN rm.s AND rm.e)),
        rebuilt AS (
          SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS text_clean,
                 COUNT(*) AS n_kept
          FROM kept GROUP BY doc_id),
        sizes AS (SELECT doc_id, len(w) AS n_orig FROM words)
       SELECT s.doc_id,
              COALESCE(r.text_clean, '') AS text_clean,
              COALESCE(r.n_kept, 0) AS n_kept,
              s.n_orig - COALESCE(r.n_kept, 0) AS n_removed
       FROM sizes s LEFT JOIN rebuilt r USING (doc_id)"""
    )


@ext_query("ext_substring_dedup", _substr_spans_oracle())
def ext_substring_dedup(spark, sf_dir):
    """Report every maximal duplicated span (>= SUBSTR_K words) in the
    documents corpus — the detection half of ExactSubstr dedup."""
    d = sources.table(spark, "documents", sf_dir)
    return duplicate_spans(d.select("doc_id", "text"))


@ext_query("ext_substring_strip", _substr_strip_oracle())
def ext_substring_strip(spark, sf_dir):
    """Remove all-but-first occurrences of duplicated spans and
    rebuild the documents — the removal half of ExactSubstr dedup."""
    d = sources.table(spark, "documents", sf_dir)
    return strip_duplicate_spans(d.select("doc_id", "text"))


# ------------------------------------------- content-defined chunking (CDC)
# Rolling-hash chunking à la LBFS/FastCDC: split each document's BYTES
# at positions where a gear hash hits a boundary mask, so chunk
# boundaries are decided by CONTENT, not offsets — an insertion early
# in a copy shifts every fixed-size block but leaves all downstream
# CDC chunks (and their fingerprints) identical. This is the
# byte-level complement to the word-level ExactSubstr detector above:
# storage-side dedup, delta-sync, and cross-snapshot diffing all key
# on it, and it works on binary columns where word shingles don't.

_CDC_MIN = 64  # bytes: boundaries inside the first MIN are ignored
_CDC_MAX = 4096  # bytes: force a boundary at MAX (pathological inputs)
_CDC_BITS = 8  # boundary mask width -> ~2^8 = 256-byte average chunks

# deterministic 256-entry gear table (seeded, same on every executor)
_CDC_GEAR = None


def _gear_table():
    global _CDC_GEAR
    if _CDC_GEAR is None:
        import random as _random

        rng = _random.Random(0x5EED)
        _CDC_GEAR = [rng.getrandbits(64) for _ in range(256)]
    return _CDC_GEAR


def _to_bytes(value) -> bytes:
    """THE document-bytes coercion for byte-level operators (CDC
    chunking, compression ratio): bytes-like passes through
    (memoryview included — Arrow can hand those over), strings encode
    utf-8, NULL is empty. One definition — diverging copies would
    silently give the byte-level operators different ideas of what a
    document's bytes are."""
    if isinstance(value, (bytes, bytearray, memoryview)):
        return bytes(value)
    return (value or "").encode("utf-8")


def cdc_chunk_offsets(data: bytes, min_size: int = _CDC_MIN,
                      max_size: int = _CDC_MAX, bits: int = _CDC_BITS):
    """Pure-python reference chunker: yields (offset, length) per
    chunk. Gear hash: h = (h << 1 + gear[byte]) mod 2^64; boundary
    when the low ``bits`` bits are zero and the chunk has reached
    ``min_size``; forced boundary at ``max_size``. The executor kernel
    (:func:`_cdc_offsets_batch`) is a vectorized twin pinned byte-
    equal to this function by ``tests/test_extensions.py``."""
    gear = _gear_table()
    mask = (1 << bits) - 1
    out = []
    start = 0
    h = 0
    n = len(data)
    for i in range(n):
        h = ((h << 1) + gear[data[i]]) & 0xFFFFFFFFFFFFFFFF
        length = i - start + 1
        if (length >= min_size and (h & mask) == 0) or length >= max_size:
            out.append((start, length))
            start = i + 1
            h = 0
    if start < n:
        out.append((start, n - start))
    return out


_CDC_GEAR_NP = {}


def _gear_table_np(dtype_name="uint64"):
    """Gear table as numpy, truncated to ``dtype_name``. Truncation is
    exact for the boundary test: ``(h64 & mask) == ((h64 mod 2^w) &
    mask)`` whenever ``mask < 2^w``, and ``h mod 2^w`` follows the
    same recurrence over the truncated table."""
    if dtype_name not in _CDC_GEAR_NP:
        import numpy as _np

        _CDC_GEAR_NP[dtype_name] = _np.asarray(
            _gear_table(), dtype=_np.uint64
        ).astype(getattr(_np, dtype_name))
    return _CDC_GEAR_NP[dtype_name]


def _cdc_offsets_batch(datas, min_size=_CDC_MIN, max_size=_CDC_MAX,
                       bits=_CDC_BITS):
    """Vectorized batch chunker: one numpy pass over ALL documents'
    bytes, returning ``[chunk_list_per_doc]`` byte-identical to
    running :func:`cdc_chunk_offsets` per document.

    Why the per-cut hash reset can be dropped: ``h = (h<<1 + g) mod
    2^w`` forgets any byte w shifts back, so the windowed (reset-
    free) hash at position i equals the reset hash whenever the
    running chunk already holds >= w bytes — and with ``min_size >=
    w`` the boundary predicate is only ever consulted there. The
    same argument makes doc concatenation safe: a position less than
    w bytes into a doc reads the previous doc's bytes through the
    window, but its chunk length is < min_size so it is never
    eligible. ``w`` is the narrowest power-of-two word that still
    covers the boundary mask (``(h64 & mask) == (h64 mod 2^w) &
    mask`` for ``mask < 2^w``) — uint16 for the default bits=8, a
    quarter of the uint64 memory traffic and log2(w) doubling passes
    instead of 64 shifted adds. Falls back to the scalar reference
    when ``min_size < w`` (reset would be observable)."""
    import numpy as _np

    width = 16 if bits <= 16 else (32 if bits <= 32 else 64)
    if min_size < width:  # reset observable — scalar semantics
        return [cdc_chunk_offsets(d, min_size, max_size, bits)
                for d in datas]
    big = _np.frombuffer(b"".join(datas), dtype=_np.uint8)
    if big.size == 0:
        return [[] for _ in datas]
    dt = getattr(_np, f"uint{width}")
    h = _gear_table_np(f"uint{width}")[big]
    s = 1
    while s < width:
        h[s:] += h[:-s] << dt(s)
        s <<= 1
    cand = _np.flatnonzero((h & dt((1 << bits) - 1)) == 0)
    out = []
    from bisect import bisect_left as _bl

    pos = 0
    for data in datas:
        n = len(data)
        lo = _np.searchsorted(cand, pos)
        hi = _np.searchsorted(cand, pos + n)
        local = (cand[lo:hi] - pos).tolist()
        n_local = len(local)
        chunks = []
        start = 0
        j = 0
        while True:
            forced = start + max_size - 1
            j = _bl(local, start + min_size - 1, j)
            if j < n_local and local[j] <= forced:
                cut = local[j]
            else:
                cut = forced
            if cut > n - 1:
                break
            chunks.append((start, cut - start + 1))
            start = cut + 1
        if start < n:
            chunks.append((start, n - start))
        out.append(chunks)
        pos += n
    return out


def cdc_chunks(
    docs: DataFrame,
    text_col: str = "text",
    min_size: int = _CDC_MIN,
    max_size: int = _CDC_MAX,
    bits: int = _CDC_BITS,
) -> DataFrame:
    """(doc_id, off, length, fp) — one row per content-defined chunk,
    fingerprinted with md5 over the chunk bytes. Arrow-batched
    mapInPandas over utf-8 bytes (works unchanged on a binary column);
    row-local, no shuffle — the downstream groupBy(fp) is the only
    exchange, and it carries 16-byte keys + two ints per chunk, never
    chunk bodies. At 100 TB: chunking parallelizes per partition,
    average chunk size (2^bits) is the dedup-granularity/index-size
    dial, and the fingerprint table is the write-once index a
    storage-dedup or delta-sync layer keys on."""
    import hashlib as _hashlib

    import pandas as pd  # executor-side: module has no top-level pd

    def chunk(batches):
        for pdf in batches:
            rows = {"doc_id": [], "off": [], "length": [], "fp": []}
            datas = [_to_bytes(t) for t in pdf[text_col]]
            per_doc = _cdc_offsets_batch(datas, min_size, max_size, bits)
            for did, data, chunks in zip(pdf["doc_id"], datas, per_doc):
                for off, ln in chunks:
                    rows["doc_id"].append(did)
                    rows["off"].append(off)
                    rows["length"].append(ln)
                    rows["fp"].append(
                        _hashlib.md5(data[off : off + ln]).hexdigest()
                    )
            yield pd.DataFrame(rows)

    id_type = docs.schema["doc_id"].dataType.simpleString()
    return docs.select("doc_id", text_col).mapInPandas(
        chunk, f"doc_id {id_type}, off long, length long, fp string"
    )


def _cdc_synth_py(r: int) -> str:
    """Pure-python twin of the in-plan synth expression in
    ext_cdc_chunk_stats: class ``r``'s document is 6..10 segments,
    each a 320-char md5-block chosen from a 16-passage shared pool
    (selection hashed from (r, i)), so classes genuinely SHARE
    passages and the chunk-duplication profile is non-degenerate."""
    import hashlib as _h

    n_seg = 6 + r % 5
    parts = []
    for i in range(n_seg):
        sel = int(_h.md5(f"{r}:{i}".encode()).hexdigest()[:4], 16) % 16
        parts.append(_h.md5(str(sel).encode()).hexdigest() * 10)
    return "".join(parts)


# the same derivation as a Spark expression over doc_id (kept beside
# its python twin — these two MUST stay in lockstep, the oracle pins it)
_CDC_SYNTH_EXPR = (
    "array_join(transform(sequence(0, 5 + CAST(doc_id % 64 AS INT) % 5), i -> "
    "repeat(md5(CAST(CAST(conv(substring(md5(concat("
    "CAST(doc_id % 64 AS STRING), ':', CAST(i AS STRING))), 1, 4), 16, 10) "
    "AS BIGINT) % 16 AS STRING)), 10)), '')"
)


def _cdc_fixture_sql() -> str:
    """DuckDB oracle for ext_cdc_chunk_stats: the key chunks a
    DETERMINISTIC in-plan column (64 ``doc_id`` residue classes built
    from a shared passage pool), so each class's chunk list is a pure
    function of the residue at any sf. The per-class reference chunks
    are materialized here by running :func:`cdc_chunk_offsets` — the
    same pure-python chunker the executor kernel uses (its
    equivalence to an independent reference implementation, boundary
    resynchronization, and planted-sharing behavior are pinned by the
    CDC pytests) — so this oracle grades the DISTRIBUTED half
    end-to-end: the in-plan synth expression, the Arrow kernel, the
    fingerprint groupBy, and the duplication arithmetic, across
    whatever class mix the sf's corpus has."""
    import hashlib as _h
    from collections import Counter

    rows = []
    for r in range(64):
        data = _cdc_synth_py(r).encode()
        occ = Counter(
            _h.md5(data[off : off + ln]).hexdigest()
            for off, ln in cdc_chunk_offsets(data)
        )
        lengths = {
            _h.md5(data[off : off + ln]).hexdigest(): ln
            for off, ln in cdc_chunk_offsets(data)
        }
        for fp, n in sorted(occ.items()):
            rows.append(f"({r}, '{fp}', {n}, {lengths[fp]})")
    values = ",\n          ".join(rows)
    return f"""WITH cls AS (
          SELECT doc_id % 64 AS r, COUNT(*) AS n
          FROM documents GROUP BY doc_id % 64),
        ref(r, fp, occ, bytes) AS (VALUES {values}),
        agg AS (
          SELECT fp,
                 SUM(cls.n * ref.occ) AS n_occurrences,
                 SUM(cls.n) AS n_docs,
                 MIN(ref.bytes) AS chunk_bytes
          FROM ref JOIN cls USING (r) GROUP BY fp)
        SELECT fp, CAST(n_occurrences AS BIGINT) AS n_occurrences,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(chunk_bytes AS BIGINT) AS chunk_bytes,
               CAST((n_occurrences - 1) * chunk_bytes AS BIGINT) AS dup_bytes
        FROM agg WHERE n_occurrences >= 2"""


@ext_query("ext_cdc_chunk_stats", _cdc_fixture_sql())
def ext_cdc_chunk_stats(spark, sf_dir):
    """Corpus chunk-duplication profile from CDC fingerprints: per
    duplicated chunk, how many documents and occurrences share it and
    how many bytes each extra occurrence costs — the table a
    storage-dedup layer (or a byte-level corpus diff) reads to decide
    what single-instancing buys. Oracled as of round 9 over a
    deterministic in-plan fixture column (64 residue classes sharing
    a 16-passage pool — see ``_cdc_synth_py``): the reference chunk
    lists ride the oracle as a VALUES CTE, so the driver hash-grades
    the synth expression, the Arrow chunker kernel, the fp groupBy,
    and the duplication arithmetic at any sf. The gear chunker's own
    semantics stay pytest-pinned (reference equivalence,
    boundary-shift robustness under prefix edits, planted
    cross-document sharing), and the real-text profile remains one
    ``cdc_chunks(docs).groupBy("fp")`` away."""
    d = sources.table(spark, "documents", sf_dir)
    ch = cdc_chunks(d.select("doc_id", F.expr(_CDC_SYNTH_EXPR).alias("text")))
    return (
        ch.groupBy("fp")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.first("length").alias("chunk_bytes"),
            ((F.count("*") - 1) * F.first("length")).alias("dup_bytes"),
        )
        .filter(F.col("n_occurrences") >= 2)
    )


def build_cdc_index(spark, docs: DataFrame, path: str, **chunk_kw) -> dict:
    """Persist the byte-level dedup INDEX for a corpus — the CDC twin
    of :func:`build_dedup_index`: chunk every document once
    (content-defined boundaries, see :func:`cdc_chunks`), keep ONE row
    per distinct chunk fingerprint. Arriving batches are then profiled
    against this table instead of re-chunking the corpus.

    Index layout: one :mod:`~smartpipeline_spark.indexstore` table,
    ``chunk_fps`` — (fp, first_doc, chunk_bytes), 16-byte md5 + two
    ints per distinct chunk; document bytes never land in the index.
    Returns {"n_chunks", "n_fps"}."""
    # checkpoint: the per-byte python chunker is the expensive pass —
    # without it the n_chunks count below would re-chunk the corpus
    ch = materialize.checkpoint(cdc_chunks(docs, **chunk_kw))
    idx = ch.groupBy("fp").agg(
        F.min("doc_id").alias("first_doc"),
        F.first("length").alias("chunk_bytes"),
    )
    man = indexstore.build(path, {"chunk_fps": idx})
    return {"n_chunks": ch.count(), "n_fps": indexstore.rows(man, "chunk_fps")}


def cdc_dedup_against(
    spark,
    index_path: str,
    batch: DataFrame,
    dup_threshold: float = 0.5,
    append: bool = True,
    **chunk_kw,
) -> DataFrame:
    """Byte-level duplication report for an arriving batch against a
    persisted CDC index: per batch doc — total_bytes, dup_bytes
    (bytes in chunks already present in the index OR in a smaller-id
    doc of the same batch), dup_fraction, and ``is_dup`` at
    ``dup_threshold``. Because boundaries are content-defined, a
    near-copy with an insertion still shares most chunk fingerprints
    and is flagged — a fixed-size blocking index would miss it.

    ``append=True`` commits the batch's fp-new chunks to the index as
    a new segment (run batches serially, same contract as
    dedup_against), after computing the report, since an append may
    compact away the segments it reads. Index rows whose first_doc is
    in the batch are excluded from the comparison, so the call is
    re-entrant; with globally increasing doc_ids (the shared ordering
    contract), (build; append) is row-equal to build-on-concat —
    pytest-pinned.

    Scale: the batch joins the index on 16-byte fps (uniform shuffle
    keys); corpus text is never re-read; the report aggregate is
    partial-agg friendly."""
    man = indexstore.manifest(index_path)
    batch_ids = batch.select("doc_id").distinct()
    idx = indexstore.read(spark, index_path, "chunk_fps", man).join(
        batch_ids.withColumnRenamed("doc_id", "first_doc"),
        "first_doc",
        "left_anti",
    )
    # checkpoint: chunks feed the report join, the within-batch
    # first-occurrence agg, and the append write — chunk once
    ch = materialize.checkpoint(cdc_chunks(batch, **chunk_kw))
    first = ch.groupBy("fp").agg(F.min("doc_id").alias("batch_first"))
    # .distinct() on the probe side: the report sums chunk lengths, so
    # a duplicated index fp would double-count bytes (the sibling
    # dedup_against only feeds anti-joins, where dups are harmless)
    marked = (
        ch.join(
            idx.select("fp").distinct().withColumn("_in_idx", F.lit(1)),
            "fp",
            "left",
        )
        .join(first, "fp")
        .withColumn(
            "_dup",
            (F.col("_in_idx") == 1) | (F.col("doc_id") > F.col("batch_first")),
        )
    )
    # outer-join back to the batch ids so zero-chunk docs (empty text)
    # still get a report row — the "per batch doc" contract
    report = (
        batch_ids.join(
            marked.groupBy("doc_id").agg(
                F.sum("length").alias("total_bytes"),
                F.sum(
                    F.when(F.col("_dup"), F.col("length")).otherwise(0)
                ).alias("dup_bytes"),
            ),
            "doc_id",
            "left",
        )
        .withColumn("total_bytes", F.coalesce("total_bytes", F.lit(0)))
        .withColumn("dup_bytes", F.coalesce("dup_bytes", F.lit(0)))
        .withColumn(
            "dup_fraction",
            F.col("dup_bytes") / F.greatest(F.col("total_bytes"), F.lit(1)),
        )
        .withColumn("is_dup", F.col("dup_fraction") >= F.lit(dup_threshold))
    )
    if append:
        report = materialize.checkpoint(report)
        # the append filter checks the RAW index (no first_doc-in-batch
        # exclusion): after this batch's own append lands, its fps are
        # present there, so re-running the same call appends NOTHING —
        # the filtered view used for the report would hide them and
        # re-append duplicates on every rerun
        raw_fps = indexstore.read(spark, index_path, "chunk_fps", man).select("fp")
        new_fps = (
            ch.join(first, "fp")
            .filter(F.col("doc_id") == F.col("batch_first"))
            .join(raw_fps, "fp", "left_anti")
            .groupBy("fp")
            .agg(
                F.min("doc_id").alias("first_doc"),
                F.first("length").alias("chunk_bytes"),
            )
        )
        indexstore.append(index_path, {"chunk_fps": new_fps})
    return report
