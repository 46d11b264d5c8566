"""Corpus-curation operators for training-data pipelines.

Three curation primitives every large-scale ingest needs, each pure
JVM-side column algebra (no Python in the hot path) and each with an
exact DuckDB oracle:

* deterministic hash-based dataset splitting (train/val/test),
* PII redaction (email / URL / phone scrubbing with counts),
* C4-style keep-first chunk dedup (intra-corpus repeated-passage
  removal at sub-document granularity — Lee et al., "Deduplicating
  Training Data Makes Language Models Better").

Scale notes are per-function; the common theme: shuffle 16-byte
hashes, never document bodies, and keep every aggregation
partial-agg-friendly (map-side combine) instead of windowed.

The synthetic corpus contains no real PII, so ``ext_redact``
synthesizes deterministic contact strings from ``doc_id`` (same
pattern as the multimodal ops synthesizing binaries) — the redaction
expressions themselves are the real operator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smartpipeline_spark import materialize, sources
from smartpipeline_spark.indexstore import write_json
from smartpipeline_spark.functions import ext_query
from smartpipeline_spark.rounding import half_up, np_half_up

EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
URL_RE = "https?://[^ ]+"
PHONE_RE = "\\+1-555-[0-9]{4}"


def _keep_bucket(key_col: str, mod: int):
    """THE rerun-stability primitive, shared by split / balance /
    mixing: first 8 hex chars of md5(key) as an integer mod ``mod``.
    One definition — diverging copies would silently break the
    contract that the three operators agree on which rows a key keeps
    across reruns and appends."""
    return (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint") % mod
    )


def hash_bucket(key_col: str, mod: int):
    """Public name for the md5 keep-bucket primitive (deterministic,
    rerun- and append-stable row bucketing) — for user code that wants
    its own hash-sliced subsets with the same stability contract the
    split/balance/mixing operators share."""
    return _keep_bucket(key_col, mod)


# ---------------------------------------------------------------- split

def assign_split(
    df: DataFrame,
    key_col: str = "doc_id",
    fractions: tuple[int, int] = (80, 10),
) -> DataFrame:
    """Deterministic, rerun-stable dataset split: bucket = first 8 hex
    chars of md5(key) mod 100; (train, val) get ``fractions`` percent,
    test the rest. Per-row and key-local — no shuffle, no sampling
    state, and adding rows later never reassigns existing keys (the
    property random splits lack). At 100 TB this is a free projection
    fused into whatever scan feeds it."""
    bucket = _keep_bucket(key_col, 100)
    train_lt, val_width = fractions
    split = (
        F.when(bucket < train_lt, F.lit("train"))
        .when(bucket < train_lt + val_width, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("bucket", bucket).withColumn("split", split)


@ext_query(
    "ext_split",
    """SELECT doc_id,
              ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket,
              CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
                   WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'val'
                   ELSE 'test' END AS split
       FROM documents""",
)
def ext_split(spark, sf_dir):
    d = sources.table(spark, "documents", sf_dir)
    return assign_split(d).select("doc_id", "bucket", "split")


# --------------------------------------------------------------- redact

def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails, URLs, and phone numbers from ``text_col`` into
    ``clean``, recording per-kind match counts. One pass of chained
    ``regexp_replace`` — whole-stage-codegen, embarrassingly parallel,
    zero shuffle; the counts come from ``regexp_extract_all`` on the
    same scan so nothing is read twice."""
    t = F.col(text_col)
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"),
            URL_RE,
            "<URL>",
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return (
        df.withColumn("n_email", F.size(F.regexp_extract_all(text_col, F.lit(EMAIL_RE), 0)))
        .withColumn("n_url", F.size(F.regexp_extract_all(text_col, F.lit(URL_RE), 0)))
        .withColumn("n_phone", F.size(F.regexp_extract_all(text_col, F.lit(PHONE_RE), 0)))
        .withColumn("clean", clean)
    )


@ext_query(
    "ext_redact",
    r"""WITH e AS (
          SELECT doc_id,
                 concat(text, ' contact user', CAST(doc_id % 50 AS VARCHAR), '@mail',
                        CAST(doc_id % 7 AS VARCHAR), '.example.com or visit https://site',
                        CAST(doc_id % 9 AS VARCHAR), '.net/p/', CAST(doc_id AS VARCHAR),
                        ' call +1-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS enriched
          FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(enriched, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_email,
               len(regexp_extract_all(enriched, 'https?://[^ ]+')) AS n_url,
               len(regexp_extract_all(enriched, '\+1-555-[0-9]{4}')) AS n_phone,
               regexp_replace(regexp_replace(regexp_replace(enriched,
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                   'https?://[^ ]+', '<URL>', 'g'),
                   '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS clean
        FROM e""",
)
def ext_redact(spark, sf_dir):
    """PII redaction over deterministically synthesized contact info
    (the corpus itself is PII-free; synthesis is keyed on doc_id so the
    oracle reproduces it exactly)."""
    d = sources.table(spark, "documents", sf_dir)
    did = F.col("doc_id")
    enriched = F.concat(
        F.col("text"),
        F.lit(" contact user"), (did % 50).cast("string"),
        F.lit("@mail"), (did % 7).cast("string"),
        F.lit(".example.com or visit https://site"), (did % 9).cast("string"),
        F.lit(".net/p/"), did.cast("string"),
        F.lit(" call +1-555-"), F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    return redact_pii(d.select("doc_id", enriched.alias("enriched")), "enriched").select(
        "doc_id", "n_email", "n_url", "n_phone", "clean"
    )


# ---------------------------------------------------------- chunk dedup

def dedup_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 10,
) -> DataFrame:
    """Keep-first repeated-passage removal: split each document into
    consecutive ``chunk_words``-word chunks, fingerprint each chunk,
    and mark the globally-first occurrence (lowest (doc, position)) of
    every fingerprint as kept. Returns per-document
    (n_chunks, n_kept, n_dup).

    100 TB design: only (id, pos, 16-byte md5) rows ever shuffle —
    chunk text dies at the map side, and the hashed frame is persisted
    so the corpus is scanned and regex-shingled ONCE (it feeds both the
    winner aggregation and the join-back; without the persist Spark
    re-derives it from two full scans). The keep-first winner is a
    ``groupBy(hash).min(key)`` (partial-aggregated, map-side combine),
    NOT a ``row_number`` window over the hash partition: a window would
    sort every occurrence of a hash inside one task, so one
    boilerplate chunk repeated 10^9 times (headers, empty strings)
    becomes one straggler task, while min() folds those occurrences
    map-side before they ever concentrate; the join-back skew is the
    kind AQE skew-join does split.
    """
    n = chunk_words
    w = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("words"),
    )
    chunks = F.expr(
        f"transform(sequence(0, int(ceil(size(words)/{n}.0))-1), "
        f"i -> array_join(slice(words, i*{n}+1, {n}), ' '))"
    )
    # posexplode_outer + isNotNull (see dedup.word_shingles): chunk
    # elements are array_join results, never null
    c = w.select(
        "doc_id", F.posexplode_outer(chunks).alias("pos", "chunk")
    ).filter(F.col("chunk").isNotNull())
    hs = materialize.persist(
        c.select(
            "doc_id", "pos", F.md5("chunk").alias("h"),
            (F.col("doc_id") * 1000000 + F.col("pos")).alias("k"),
        )
    )
    winners = hs.groupBy("h").agg(F.min("k").alias("k_min"))
    kept = F.col("k") == F.col("k_min")
    return (
        hs.join(winners, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count(F.when(kept, 1)).alias("n_kept"),
        )
        .withColumn("n_dup", F.col("n_chunks") - F.col("n_kept"))
    )


@ext_query(
    "ext_chunk_dedup",
    r"""WITH w AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents),
        c AS (
          SELECT doc_id,
                 unnest(range(0, CAST(ceil(len(words)/10.0) AS BIGINT))) AS pos,
                 words
          FROM w),
        hs AS (
          SELECT doc_id, pos,
                 md5(array_to_string(words[(pos*10+1):(pos*10+10)], ' ')) AS h,
                 doc_id*1000000 + pos AS k
          FROM c),
        win AS (SELECT h, min(k) AS k_min FROM hs GROUP BY h)
        SELECT doc_id,
               COUNT(*) AS n_chunks,
               COUNT(*) FILTER (WHERE k = k_min) AS n_kept,
               COUNT(*) - COUNT(*) FILTER (WHERE k = k_min) AS n_dup
        FROM hs JOIN win USING (h)
        GROUP BY doc_id""",
)
def ext_chunk_dedup(spark, sf_dir):
    d = sources.table(spark, "documents", sf_dir)
    return dedup_chunks(d).select("doc_id", "n_chunks", "n_kept", "n_dup")


# ------------------------------------------------------ dup clusters

@ext_query(
    "ext_dedup_clusters",
    r"""WITH RECURSIVE
          words AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
            FROM documents),
          sh_raw AS (
            SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
            FROM words, LATERAL (
              SELECT unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i) t),
          -- mirror the Spark leg's MAX_SHINGLE_DF=1000 hot-shingle cap
          -- (dedup.drop_hot_keys): shingles in >1000 docs leave the
          -- shingle universe BEFORE sizing and pairing
          sh AS (
            SELECT doc_id, s FROM sh_raw
            WHERE s IN (SELECT s FROM sh_raw GROUP BY s HAVING COUNT(*) <= 1000)),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          common AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          pairs AS (
            SELECT d1, d2 FROM common
            JOIN sizes sa ON sa.doc_id = d1
            JOIN sizes sb ON sb.doc_id = d2
            WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.2),
          edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                    UNION SELECT d2, d1 FROM pairs),
          reach(src, dst) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
        SELECT src AS doc_id,
               least(src, min(dst)) AS cluster_id,
               src = least(src, min(dst)) AS keep
        FROM reach GROUP BY src""",
)
def ext_dedup_clusters(spark, sf_dir):
    """Near-dup cluster resolution: n-gram Jaccard pairs (the exact,
    oracle-checked similarity join) folded into connected components;
    cluster_id = min doc_id of the component, keep marks the one
    canonical doc per cluster. The oracle reproduces the closure with
    a recursive CTE — Spark runs min-label propagation instead
    (recursion isn't a DataFrame primitive; the iterative form is the
    scale path anyway)."""
    from smartpipeline_spark.functions.dedup import connected_components, jaccard_pairs

    d = sources.table(spark, "documents", sf_dir)
    cc = connected_components(jaccard_pairs(d))
    return cc.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        (F.col("id") == F.col("cluster_id")).alias("keep"),
    )


# ------------------------------------------------------- bigram LM score

def bigram_lm_scores(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Corpus-trained bigram language-model scoring (the perplexity
    filter of CCNet/Gopher-style curation, self-trained here): unigram
    and bigram counts over the whole corpus, then each document scored
    by its mean add-one-smoothed bigram log-probability
    ln((c(w1,w2)+1) / (c(w1)+V)). Low scores mark gibberish /
    boilerplate outliers.

    100 TB design: the exploded bigram frame persists and feeds all
    three consumers (unigram counts, bigram counts, the scoring join)
    — one scan, one regex split. Count tables are groupBy aggregations
    (map-side combine); the scoring joins stay with AQE — a web-scale
    bigram vocabulary is not broadcast-sized, but AQE broadcasts it
    whenever it measures small. V rides in-plan as a 1-row broadcast
    crossJoin (no driver-side count job, same pattern as TF-IDF).
    """
    w = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("w"),
    )
    pairs = F.expr(
        "CASE WHEN size(w) < 2 THEN array() "
        "ELSE transform(sequence(1, size(w)-1), i -> struct(w[i-1] AS w1, w[i] AS w2)) END"
    )
    # explode_outer + isNotNull: the inferred size(pairs)>0 filter
    # would re-run the bigram transform twice more per doc pre-explode
    # (see dedup.word_shingles); struct elements are never null
    words = materialize.persist(
        w.select("doc_id", F.explode_outer(pairs).alias("bg"))
        .filter(F.col("bg").isNotNull())
        .select("doc_id", "bg.w1", "bg.w2")
    )
    uni = words.groupBy("w1").agg(F.count("*").alias("cu"))
    bi = words.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    vocab = uni.agg(F.count("*").alias("vocab"))
    logp = F.log((F.col("cb") + F.lit(1.0)) / (F.col("cu") + F.col("vocab")))
    return (
        words.join(bi, ["w1", "w2"])
        .join(uni, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            half_up(F.avg(logp), 4).alias("avg_logprob"),
        )
    )


@ext_query(
    "ext_lm_score",
    r"""WITH words AS (
          SELECT doc_id, i AS pos, w[i] AS w1, w[i+1] AS w2
          FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
                FROM documents),
               LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-1, 0))) AS i) t),
        uni AS (SELECT w1, COUNT(*) AS cu FROM words GROUP BY w1),
        bi AS (SELECT w1, w2, COUNT(*) AS cb FROM words GROUP BY w1, w2),
        v AS (SELECT COUNT(*) AS vocab FROM uni)
        SELECT doc_id,
               COUNT(*) AS n_bigrams,
               FLOOR(AVG(ln((cb + 1.0) / (cu + vocab))) * 10000.0 + 0.5) / 10000.0 AS avg_logprob
        FROM words JOIN bi USING (w1, w2) JOIN uni USING (w1), v
        GROUP BY doc_id""",
)
def ext_lm_score(spark, sf_dir):
    d = sources.table(spark, "documents", sf_dir)
    return bigram_lm_scores(d)


# ------------------------------------------------- stratified sampling

def stratified_sample(
    df: DataFrame,
    stratum_col: str = "lang",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic language-balanced downsampling: every stratum is
    thinned to (approximately) the size of the SMALLEST stratum, using
    the same rerun-stable md5-bucket trick as :func:`assign_split` —
    so re-ingesting the corpus keeps exactly the same documents, and
    appending new rows never resamples old ones.

    Scale shape: the per-stratum rates come from a count aggregate
    whose output is one row per stratum (dozens of rows at any corpus
    size) crossed with a 1-row global MIN — both stay in-plan, no
    driver collect. The rates table then BROADCASTS back onto the
    corpus and the keep-decision is a codegen'd filter on a 16-byte
    hash: the fact table itself is never shuffled. Contrast
    ``df.sampleBy``, which needs driver-side fractions and is not
    rerun-stable."""
    counts = df.groupBy(stratum_col).agg(F.count("*").alias("n"))
    target = counts.agg(F.min("n").alias("min_n"))
    thresholds = counts.crossJoin(F.broadcast(target)).select(
        stratum_col,
        F.floor(F.lit(10000.0) * F.col("min_n") / F.col("n"))
        .cast("bigint")
        .alias("keep_lt"),
    )
    bucket = _keep_bucket(key_col, 10000)
    return (
        df.join(F.broadcast(thresholds), stratum_col)
        .filter(bucket < F.col("keep_lt"))
    )


@ext_query(
    "ext_stratified_sample",
    """WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
         target AS (SELECT MIN(n) AS min_n FROM counts),
         th AS (SELECT lang,
                       CAST(FLOOR(10000.0 * min_n / n) AS BIGINT) AS keep_lt
                FROM counts, target)
       SELECT d.doc_id, d.lang
       FROM documents d JOIN th ON d.lang = th.lang
       WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
             % 10000 < th.keep_lt""",
)
def ext_stratified_sample(spark, sf_dir):
    d = sources.table(spark, "documents", sf_dir)
    return stratified_sample(d).select("doc_id", "lang")


# ------------------------------------------------ quantile quality gate

def quality_gate(
    df: DataFrame,
    metric_col: str = "n_chars",
    stratum_col: str = "lang",
    quantile: float = 0.5,
) -> DataFrame:
    """Per-stratum quantile gate: keep documents whose ``metric_col``
    is at or above the stratum's ``quantile`` (the Gopher/C4-style
    "drop the bottom half by quality" filter).

    Deliberately NOT a ``Window.partitionBy(stratum)`` percent_rank:
    at corpus scale a per-language window means sorting half the
    corpus inside one partition (``en`` is routinely >50% of web
    text — maximal skew). Instead the threshold is a constant-size
    percentile aggregate (one row per stratum, map-side partial
    state) broadcast back as a filter — the corpus is scanned twice
    but never sorted and never shuffled."""
    th = df.groupBy(stratum_col).agg(
        F.percentile(metric_col, quantile).alias("gate")
    )
    return df.join(F.broadcast(th), stratum_col).filter(
        F.col(metric_col) >= F.col("gate")
    )


@ext_query(
    "ext_quality_gate",
    """WITH th AS (SELECT lang, quantile_cont(n_chars, 0.5) AS gate
                   FROM documents GROUP BY lang)
       SELECT d.doc_id, d.lang, d.n_chars, th.gate
       FROM documents d JOIN th ON d.lang = th.lang
       WHERE d.n_chars >= th.gate""",
)
def ext_quality_gate(spark, sf_dir):
    """Spark ``percentile`` and DuckDB ``quantile_cont`` share the
    same linear-interpolation definition — verified bit-identical on
    this corpus, so the gate value itself is part of the oracle."""
    d = sources.table(spark, "documents", sf_dir)
    return quality_gate(d).select("doc_id", "lang", "n_chars", "gate")


# ------------------------------------------- DSIR data selection
# Xie et al. 2023, "Data Selection for Language Models via Importance
# Resampling": pick raw-corpus documents whose hashed-n-gram feature
# distribution looks like a TARGET corpus. Fit two smoothed bag-of-
# hashed-ngrams models p (target) and q (raw); a document's importance
# log-weight is sum over its grams of ln p(bucket) - ln q(bucket);
# resample with seeded Gumbel noise (importance resampling, not
# deterministic top-k).
#
# Scale shape: the fitted models are BUCKET HISTOGRAMS — m rows each
# (m=1024 here), so fitting is two partial-agg'd groupBys whose output
# is bounded by m regardless of corpus size, collected like the IVF
# codebooks (a documented, bounded driver transfer). Scoring is then
# 100% map-side: the log-ratio table rides along as a plan literal and
# each document folds its own gram array row-locally (F.aggregate) —
# the corpus is never exploded, never shuffled to score. Selection
# reuses the quality-gate pattern: a constant-size percentile
# aggregate broadcast back as a filter, never a global sort.

DSIR_BUCKETS = 1024


def _gram_bucket(col, m: int = DSIR_BUCKETS):
    """md5-bucket of a gram string — same first-8-hex-chars recipe as
    _keep_bucket so the DuckDB oracle reproduces it exactly."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % m


def _unigram_bigram_expr():
    """Row-local array of word unigrams + bigrams of ``text`` (the
    DSIR hashed feature set; split bound once per row)."""
    return F.expr(
        """transform(array(split(lower(trim(text)), '\\\\s+')),
             ws -> concat(ws, CASE WHEN size(ws) >= 2
                   THEN transform(sequence(0, size(ws) - 2),
                        i -> concat(ws[i], ' ', ws[i + 1]))
                   ELSE CAST(array() AS array<string>) END))[0]"""
    )


def dsir_logratio(raw: DataFrame, target: DataFrame, m: int = DSIR_BUCKETS) -> dict:
    """Fit the importance model: {bucket: ln p̂ - ln q̂} with add-one
    smoothing, for every bucket seen in ``raw``. ONE aggregate job of
    at most ``2m`` rows is collected (raw and target unioned under a
    side flag so both histograms partial-agg in a single pass) —
    bounded by construction, the same contract as the ANN codebook
    training collects."""
    import math

    both = raw.select(F.lit(0).alias("_t"), "text").unionByName(
        target.select(F.lit(1).alias("_t"), "text")
    )
    rows = (
        both.select("_t", F.explode_outer(_unigram_bigram_expr()).alias("g"))
        .filter(F.col("g").isNotNull())
        .select("_t", _gram_bucket(F.col("g"), m).alias("b"))
        .groupBy("_t", "b")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    qc = {r.b: r.c for r in rows if r._t == 0}
    pc = {r.b: r.c for r in rows if r._t == 1}
    qn, pn = sum(qc.values()), sum(pc.values())
    return {
        b: math.log((pc.get(b, 0) + 1.0) / (pn + m))
        - math.log((qc[b] + 1.0) / (qn + m))
        for b in qc
    }


def dsir_scores(raw: DataFrame, lr: dict, m: int = DSIR_BUCKETS) -> DataFrame:
    """(doc_id, score): per-document importance log-weight plus a
    doc_id-seeded Gumbel draw (rerun-stable resampling noise), rounded
    to 4 decimals. Entirely map-side: the fitted log-ratio table ships
    as a DENSE m-slot numpy vector in a ``mapInPandas`` closure (~8 KB
    per task, one O(1) ``np.take`` per gram) — the same kernel shape as
    :func:`classifier_scores`, and for the same reason: the previous
    plan-literal ``F.create_map`` fold paid a LINEAR GetMapValue scan
    per gram (O(grams × m) per document, m=1024 — the hot path at
    corpus scale). Buckets absent from the fit read their zero slot
    (the c=0-both-sides log-ratio). The gram→md5-bucket projection
    stays JVM-side so the arithmetic is bit-identical to the oracle."""
    lrv = np.zeros(m)
    for b, v in lr.items():
        lrv[b] = v
    u = (_keep_bucket("doc_id", 1_000_000) + F.lit(0.5)) / F.lit(1_000_000.0)
    gumbel = -F.log(-F.log(u))
    buckets = F.transform(
        _unigram_bigram_expr(), lambda g: _gram_bucket(g, m)
    )
    base = raw.select(
        "doc_id", buckets.alias("_bs"), gumbel.alias("_gum")
    )
    id_type = raw.schema["doc_id"].dataType.simpleString()

    def score(batches):
        for pdf in batches:
            vals = []
            for bs, g in zip(pdf["_bs"], pdf["_gum"]):
                if bs is None:  # NULL text -> NULL score (as before)
                    vals.append(None)
                else:
                    logw = float(
                        lrv[np.asarray(bs, dtype=np.int64)].sum()
                    )
                    vals.append(
                        np_half_up(logw + g, 4)
                    )
            out = pdf[["doc_id"]].copy()
            out["score"] = pd.array(vals, dtype="Float64")
            yield out

    return base.mapInPandas(score, f"doc_id {id_type}, score double")


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    frac: float = 0.25,
    m: int = DSIR_BUCKETS,
) -> DataFrame:
    """End-to-end DSIR: fit on (raw, target), score raw, keep the top
    ``frac`` by Gumbel-perturbed importance weight via a broadcast
    percentile gate (no global sort): (doc_id, score, gate).

    The scored frame is consumed twice (percentile gate + final
    filter) and is deliberately NOT materialized: scoring is one
    map-side projection + a dense-numpy Arrow pass, so recomputing it
    for the gate aggregate is two cheap scans of two narrow columns —
    strictly better than the eager checkpoint this previously used,
    which forced a synchronous full write+read of the corpus-sized
    frame and dropped an optimizer barrier in front of the filter (the
    round-5 +39% bench regression). No persist either: it would store
    the corpus-sized frame to save a recompute that costs less."""
    lr = dsir_logratio(raw, target, m)
    scored = dsir_scores(raw, lr, m)
    th = scored.agg(F.percentile("score", 1.0 - frac).alias("gate"))
    return scored.crossJoin(F.broadcast(th)).filter(
        F.col("score") >= F.col("gate")
    )


_DSIR_ORACLE = r"""WITH split AS (
          SELECT doc_id, text,
                 ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
          FROM documents),
        rw AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
               FROM split WHERE bucket < 90),
        tw AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
               FROM split WHERE bucket >= 90),
        rg AS (SELECT doc_id,
                      ('0x' || substring(md5(g), 1, 8))::BIGINT % 1024 AS b
               FROM (SELECT doc_id,
                            unnest(list_concat(w,
                              CASE WHEN len(w) >= 2
                              THEN list_transform(generate_series(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i + 1])
                              ELSE CAST([] AS VARCHAR[]) END)) AS g
                     FROM rw)),
        tg AS (SELECT ('0x' || substring(md5(g), 1, 8))::BIGINT % 1024 AS b
               FROM (SELECT unnest(list_concat(w,
                              CASE WHEN len(w) >= 2
                              THEN list_transform(generate_series(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i + 1])
                              ELSE CAST([] AS VARCHAR[]) END)) AS g
                     FROM tw)),
        qc AS (SELECT b, COUNT(*) AS c FROM rg GROUP BY b),
        pc AS (SELECT b, COUNT(*) AS c FROM tg GROUP BY b),
        tot AS (SELECT (SELECT COUNT(*) FROM rg) AS qn,
                       (SELECT COUNT(*) FROM tg) AS pn),
        lr AS (SELECT qc.b,
                      ln((COALESCE(pc.c, 0) + 1.0) / (pn + 1024))
                      - ln((qc.c + 1.0) / (qn + 1024)) AS lr
               FROM qc LEFT JOIN pc USING (b), tot),
        scored AS (
          SELECT rg.doc_id,
                 FLOOR((SUM(lr.lr)
                        - ln(-ln((('0x' || substring(md5(CAST(rg.doc_id AS VARCHAR)), 1, 8))::BIGINT
                                  % 1000000 + 0.5) / 1000000.0)))
                       * 10000.0 + 0.5) / 10000.0 AS score
          FROM rg JOIN lr USING (b)
          GROUP BY rg.doc_id),
        gate AS (SELECT quantile_cont(score, 0.75) AS gate FROM scored)
       SELECT doc_id, score, gate FROM scored, gate WHERE score >= gate"""


@ext_query("ext_dsir_select", _DSIR_ORACLE)
def ext_dsir_select(spark, sf_dir):
    """Driver-checkable DSIR: the md5-bucket test split plays the
    target distribution, train plays the raw pool; keep the top 25%
    by Gumbel-perturbed hashed-bigram importance weight. The oracle
    recomputes the whole chain (fit included) independently in SQL."""
    d = sources.table(spark, "documents", sf_dir)
    s = assign_split(d)
    raw = s.filter(F.col("split") != "test").select("doc_id", "text")
    target = s.filter(F.col("split") == "test").select("doc_id", "text")
    return dsir_select(raw, target, frac=0.25)


# ----------------------------------------------- benchmark decontamination

def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
) -> DataFrame:
    """Train/test contamination check (the GPT-3-appendix /
    decontamination step every serious pretraining run performs):
    flag corpus documents sharing at least one word ``n``-gram with a
    benchmark document. Returns per-contaminated-doc evidence —
    distinct shared shingles and how many benchmark docs they hit.

    Scale shape: benchmarks are megabytes while the corpus is
    terabytes, so the benchmark's shingle set is the BROADCAST side
    and the corpus shingle stream is filtered in the map stage — the
    corpus is never shuffled to find matches; the only exchange is
    the final per-doc aggregate of hits (tiny: contaminated docs
    only). The shingler reuses dedup's row-local expression (one
    regex split per row)."""
    from smartpipeline_spark.functions.dedup import word_shingles

    corpus_sh = word_shingles(corpus, n)
    bench_sh = word_shingles(benchmark, n).select(
        F.col("doc_id").alias("bench_id"), "sh"
    )
    hits = corpus_sh.join(F.broadcast(bench_sh), "sh")
    return hits.groupBy("doc_id").agg(
        F.count_distinct("sh").alias("n_shared_shingles"),
        F.count_distinct("bench_id").alias("n_bench_docs"),
    )


def _bloom_params(n_items: int, fpp: float) -> tuple[int, int]:
    """Textbook Bloom sizing: m = -n·ln(p)/ln²2 bits, k = (m/n)·ln 2
    hashes — the false-positive bound the caller asked for."""
    import math

    m = max(64, int(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    k = max(1, round(m / n_items * math.log(2)))
    return m, k


def _bloom_positions(m: int, k: int):
    """k Bloom bit positions per shingle via double hashing
    pos_i = pmod(h1 + i·h2, m) — computed JVM-SIDE for both the build
    and the probe, so no Python hash function ever has to agree with a
    JVM one (the classic cross-runtime Bloom bug)."""
    # mod-first double hashing: (h1 + i·h2) mod m ≡ (h1 mod m +
    # i·(h2 mod m)) mod m, and the reduced form never overflows a
    # signed long (k·m ≪ 2⁶³) — the raw form would trip ANSI mode
    h1 = F.pmod(F.xxhash64(F.col("sh")), F.lit(m))
    h2 = F.pmod(F.xxhash64(F.lit("bloom-h2"), F.col("sh")), F.lit(m))
    return F.array(
        *[F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)]
    )


def contamination_report_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    fpp: float = 0.01,
) -> DataFrame:
    """Bloom-filter variant of :func:`contamination_report` for when
    the 'benchmark' side exceeds a broadcast budget (decontaminating
    against another corpus SLICE, not a MB-scale benchmark suite):

    1. Build an m-bit Bloom filter over benchmark shingles WITHOUT
       collecting them: each shingle's k bit positions (JVM-side
       double hashing) fold into 64-bit words via a partial-agg'd
       ``groupBy(word) ... bit_or`` — the driver collects m/64 words
       (1.2 MB of bitmap per ~10⁶ shingles at fpp=1%), never the
       shingles.
    2. Probe corpus shingles through the broadcast bitmap with a
       vectorized pandas UDF (pure bit-indexing — positions were
       already computed JVM-side), passing ~(true hits + fpp·rest).
    3. EXACT-verify the survivors with an ordinary join against the
       benchmark shingles — both join sides are now small, and false
       positives die here.

    Result is therefore EXACTLY equal to the broadcast path (pytest-
    pinned); ``fpp`` trades filter memory against wasted join traffic,
    never correctness. Returns the same (doc_id, n_shared_shingles,
    n_bench_docs) schema."""
    from smartpipeline_spark.functions.dedup import word_shingles

    corpus_sh = word_shingles(corpus, n)
    # the benchmark shingle frame is consumed THREE times (sizing
    # count, bitmap build, exact-verify join) — materialize it so the
    # benchmark side is shingled once instead of re-scanned per use
    # (small side by precondition, so the footprint is bounded).
    bench_sh = materialize.checkpoint(
        word_shingles(benchmark, n).select(F.col("doc_id").alias("bench_id"), "sh")
    )
    # sizing count: benchmark shingle ROWS (cheap count over the
    # checkpointed blocks — no distinct exchange; a whole extra job at
    # build time bought nothing: rows >= distinct, and Bloom sizing
    # only requires expectedNumItems >= the true count, so the filter
    # comes out the same size or marginally larger / lower-fpp; the
    # exact-verify join keeps the RESULT bit-identical regardless)
    n_items = bench_sh.count()
    if n_items == 0:
        return corpus_sh.limit(0).groupBy("doc_id").agg(
            F.count_distinct("sh").alias("n_shared_shingles"),
            F.count_distinct("doc_id").alias("n_bench_docs"),
        )
    m, k = _bloom_params(n_items, fpp)
    words = (
        bench_sh.select(F.explode(_bloom_positions(m, k)).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("long").alias("w"),
            # shiftleft's bit-count arg must be a Column here, which the
            # python helper doesn't accept — SQL form does
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "b"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    bitmap = np.zeros(m // 64 + 1, dtype=np.uint64)
    for r in words:
        bitmap[r.w] = np.uint64(r.bits % (1 << 64))

    @F.pandas_udf("boolean")
    def might_contain(pos: pd.Series) -> pd.Series:
        if not len(pos):
            return pd.Series([], dtype=bool)
        idx = np.stack(pos.to_numpy()).astype(np.uint64)  # (B, k)
        w = idx >> np.uint64(6)
        bit = idx & np.uint64(63)
        hit = (bitmap[w] >> bit) & np.uint64(1) == 1
        return pd.Series(hit.all(axis=1))

    # asNondeterministic (guide §4.4 shape): the probe IS deterministic,
    # but left deterministic the optimizer propagates the Python filter
    # through the join's sh-equivalence onto the BENCH side too — a
    # second ArrowEvalPython pass whose every row passes by
    # construction. Non-determinism pins the single evaluation where
    # it is written; placement (above the shingle projection, below
    # the verify join) is unchanged, so results are identical.
    survivors = corpus_sh.withColumn("_pos", _bloom_positions(m, k)).filter(
        might_contain.asNondeterministic()(F.col("_pos"))
    )
    hits = survivors.join(bench_sh, "sh")  # exact verify: FPs die here
    return hits.groupBy("doc_id").agg(
        F.count_distinct("sh").alias("n_shared_shingles"),
        F.count_distinct("bench_id").alias("n_bench_docs"),
    )


_CONTAMINATION_ORACLE = r"""WITH split AS (
          SELECT doc_id, text,
                 ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
          FROM documents),
        words AS (
          SELECT doc_id, bucket, string_split_regex(lower(trim(text)), '\s+') AS w
          FROM split),
        sh AS (
          SELECT DISTINCT doc_id, bucket,
                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS s
          FROM words, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(w) - 4, 0))) AS i) t),
        hits AS (
          SELECT tr.doc_id, tr.s, te.doc_id AS bench_id
          FROM sh tr JOIN sh te ON tr.s = te.s
          WHERE tr.bucket < 90 AND te.bucket >= 90)
       SELECT doc_id,
              COUNT(DISTINCT s) AS n_shared_shingles,
              COUNT(DISTINCT bench_id) AS n_bench_docs
       FROM hits GROUP BY doc_id"""


@ext_query("ext_contamination_bloom", _CONTAMINATION_ORACLE)
def ext_contamination_bloom(spark, sf_dir):
    """The Bloom path against the SAME oracle as ext_contamination —
    the filter changes the data flow (bitmap probe + exact verify
    instead of a broadcast semi-join), never the answer."""
    d = sources.table(spark, "documents", sf_dir)
    s = assign_split(d)
    train = s.filter(F.col("split") != "test").select("doc_id", "text")
    test = s.filter(F.col("split") == "test").select("doc_id", "text")
    return contamination_report_bloom(train, test, n=5)


@ext_query("ext_contamination", _CONTAMINATION_ORACLE)
def ext_contamination(spark, sf_dir):
    """Self-contained driver query: the md5-bucket 'test' split plays
    the benchmark, train plays the corpus — the same deterministic
    split recipe as ext_split, so the oracle reproduces membership
    exactly."""
    d = sources.table(spark, "documents", sf_dir)
    s = assign_split(d)
    train = s.filter(F.col("split") != "test").select("doc_id", "text")
    test = s.filter(F.col("split") == "test").select("doc_id", "text")
    return contamination_report(train, test, n=5)


# ------------------------------------------------- repetition filtering

def repetition_metrics(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Gopher-style within-document repetition metrics over ``text``:

    * ``dup3_frac`` — fraction of word 3-grams that are repeats of an
      earlier 3-gram in the same document (1 - distinct/total), the
      classic boilerplate/spam signal;
    * ``top_word_frac`` — share of the document occupied by its single
      most frequent word;
    * ``keep`` — the combined gate (dup3_frac ≤ 0.5 AND
      top_word_frac ≤ 0.2).

    The 3-gram metrics are ROW-LOCAL (the dedup module's one-split
    shingle expression; no explode, no shuffle). The top-word count
    is the one distributed piece: an explode + two partial-agg
    friendly aggregations keyed by doc — at corpus scale this is a
    word-count, the cheapest shuffle Spark knows. A per-row HOF
    max-count would avoid the shuffle but is O(words²) per document
    interpreted — wrong trade at any scale."""
    from smartpipeline_spark.functions.dedup import shingle_array_expr

    words = F.split(F.lower(F.trim(F.col("text"))), "\\s+")
    base = df.select(
        id_col,
        F.greatest(F.size(words) - 2, F.lit(0)).alias("n3_total"),
        F.size(shingle_array_expr(3)).alias("n3_distinct"),
    )
    tf = (
        df.select(id_col, F.explode(words).alias("word"))
        .groupBy(id_col, "word")
        .count()
    )
    top = tf.groupBy(id_col).agg(
        F.max("count").alias("max_c"), F.sum("count").alias("nw")
    )
    dup3 = F.when(F.col("n3_total") == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.col("n3_distinct") / F.col("n3_total")
    )
    topf = F.col("max_c") / F.col("nw")
    return base.join(top, id_col).select(
        id_col,
        half_up(dup3, 4).alias("dup3_frac"),
        half_up(topf, 4).alias("top_word_frac"),
        ((dup3 <= 0.5) & (topf <= 0.2)).alias("keep"),
    )


@ext_query(
    "ext_repetition",
    r"""WITH words AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          FROM documents),
        base AS (
          SELECT doc_id,
                 greatest(len(w) - 2, 0) AS n3_total,
                 len(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in generate_series(1, greatest(len(w) - 2, 0))])) AS n3_distinct
          FROM words),
        tf AS (
          SELECT doc_id, word, COUNT(*) AS c
          FROM (SELECT doc_id, unnest(w) AS word FROM words)
          GROUP BY doc_id, word),
        top AS (SELECT doc_id, MAX(c) AS max_c, SUM(c) AS nw FROM tf GROUP BY doc_id),
        m AS (
          SELECT b.doc_id,
                 CASE WHEN b.n3_total = 0 THEN 0.0
                      ELSE 1.0 - b.n3_distinct * 1.0 / b.n3_total END AS dup3,
                 t.max_c * 1.0 / t.nw AS topf
          FROM base b JOIN top t ON b.doc_id = t.doc_id)
       SELECT doc_id,
              FLOOR(dup3 * 10000.0 + 0.5) / 10000.0 AS dup3_frac,
              FLOOR(topf * 10000.0 + 0.5) / 10000.0 AS top_word_frac,
              (dup3 <= 0.5 AND topf <= 0.2) AS keep
       FROM m""",
)
def ext_repetition(spark, sf_dir):
    d = sources.table(spark, "documents", sf_dir)
    return repetition_metrics(d)


# ------------------------------------------------- document chunking

def chunk_documents(
    df: DataFrame,
    chunk_words: int = 50,
    stride: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window chunking for RAG ingestion: each document yields
    overlapping ``chunk_words``-word windows every ``stride`` words
    (overlap = chunk_words - stride), the unit retrieval actually
    indexes — embeddings degrade past a few hundred tokens and answers
    live mid-document. Pure map-side algebra: split once, explode a
    chunk-count ``sequence``, ``slice`` per chunk — no shuffle, no
    Python; downstream embed/index stages see ~n/stride rows per doc.
    Differs from :func:`dedup_chunks` (disjoint windows, hash-only,
    for dedup accounting): these windows overlap and carry text."""
    if not 0 < stride <= chunk_words:
        # stride > chunk_words would skip words between windows AND
        # make the tail chunk's slice length negative (runtime error);
        # gapped sampling is a different operator
        raise ValueError(
            f"stride must be in (0, chunk_words]; got stride={stride}, "
            f"chunk_words={chunk_words}"
        )
    n = F.size(F.col("words"))
    n_chunks = F.when(n <= chunk_words, F.lit(1)).otherwise(
        F.floor((n - chunk_words + stride - 1) / stride) + 1
    ).cast("bigint")
    start = F.col("chunk_id") * stride + 1
    length = F.least(F.lit(chunk_words), n - start + 1)
    return (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("words"),
        )
        .select(
            id_col,
            "words",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            length.cast("int").alias("n_chunk_words"),
            F.array_join(F.slice(F.col("words"), start, length), " ").alias("chunk"),
        )
    )


@ext_query(
    "ext_chunk_docs",
    """WITH w AS (
         SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
         FROM documents WHERE length(trim(text)) > 0),
       c AS (
         SELECT doc_id, words,
                unnest(range(0, CASE WHEN len(words) <= 50 THEN 1
                                     ELSE (len(words) - 50 + 39) // 40 + 1 END)) AS chunk_id
         FROM w)
       SELECT doc_id, chunk_id,
              CAST(least(50, len(words) - (chunk_id * 40 + 1) + 1) AS INT) AS n_chunk_words,
              array_to_string(words[chunk_id * 40 + 1 : chunk_id * 40 + least(50, len(words) - (chunk_id * 40 + 1) + 1)], ' ') AS chunk
       FROM c""",
)
def ext_chunk_docs(spark, sf_dir):
    d = sources.table(spark, "documents", sf_dir)
    return chunk_documents(d)


# ------------------------------------------------- epoch shuffle

def deterministic_shuffle(
    df: DataFrame,
    key_col: str = "doc_id",
    seed: int = 0,
    num_shards: int = 64,
) -> DataFrame:
    """Rerun-stable global shuffle for training epochs: order becomes
    ``xxhash64(key, seed)`` — a fixed pseudorandom permutation per
    seed, so epoch N is reproducible on any rerun and epoch N+1 (next
    seed) is a fresh permutation. Layout, not a sort-at-read:
    ``repartitionByRange`` over the hash splits the permutation into
    ``num_shards`` contiguous shards and each shard sorts internally —
    write the result and readers consuming shards in file order see
    the full shuffled sequence without any global sort at train time.
    One range shuffle, the same price as any epoch-shuffle pass.
    Requires ``key_col`` unique — rows sharing a key share a hash, and
    their relative order would then be partition-internal, breaking
    reproducibility. Output carries the input schema only (the hash
    order is an implementation detail, recomputable from key+seed)."""
    h = F.xxhash64(F.col(key_col).cast("string"), F.lit(seed))
    return (
        df.withColumn("_shuffle_ord", h)
        .repartitionByRange(num_shards, F.col("_shuffle_ord"))
        .sortWithinPartitions("_shuffle_ord")
        .drop("_shuffle_ord")
    )


# ------------------------------------------------- dataset export

def export_dataset(
    df: DataFrame,
    path: str,
    split_col: str = "split",
    fmt: str = "parquet",
) -> dict:
    """Materialize a curated corpus as a split-partitioned dataset plus
    a ``manifest.json`` a trainer can trust without rescanning: per-split
    row counts and an ORDER-INSENSITIVE content fingerprint (sum of
    per-row ``xxhash64`` over all columns, accumulated in DECIMAL(38,0)
    — ANSI mode forbids wrapping int64 sums, and unlike bit_xor a sum
    doesn't let duplicate rows cancel pairwise), computed from the
    files as written (read-back, not the in-memory frame), so the
    manifest attests to what is actually on disk. Partitioning by split
    makes the trainer's ``split=train`` read a directory prune, not a
    filter. One extra read-back scan is the integrity cost; at 100 TB
    run it as the same job's final stage reading the files it just
    wrote (still one pass over the output, zero over the input)."""
    import os

    df.write.mode("overwrite").partitionBy(split_col).format(fmt).save(path)
    back = df.sparkSession.read.format(fmt).load(path)
    data_cols = [c for c in back.columns if c != split_col]
    fp = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in data_cols])
    stats = (
        back.groupBy(split_col)
        .agg(
            F.count("*").alias("rows"),
            F.sum(fp.cast("decimal(38,0)")).alias("fingerprint"),
        )
        .collect()
    )
    manifest = {
        "format": fmt,
        "split_col": split_col,
        "columns": [c for c in back.columns],
        "splits": {
            r[split_col]: {"rows": r["rows"], "fingerprint": int(r["fingerprint"])}
            for r in stats
        },
    }
    # underscore prefix: Spark treats non-underscore files as data, so
    # "manifest.json" in the root would break every later read of the
    # dataset with "not a Parquet file"
    write_json(os.path.join(path, "_manifest.json"), manifest, indent=1, sort_keys=True)
    return manifest


def export_tar_shards(
    df: DataFrame,
    path: str,
    members: dict[str, str] | None = None,
    key_col: str = "doc_id",
    num_shards: int = 16,
) -> DataFrame:
    """WebDataset-style tar-shard export — the sequential-read layout
    multimodal training loaders consume (one ``shard-NNNNN.tar`` per
    shard; each sample's members named ``{key}.{ext}``).

    ``members`` maps column -> member extension, e.g.
    ``{"text": "txt"}`` or ``{"payload": "jpg", "meta": "json"}``;
    string columns are written utf-8, binary columns as-is, NULLs
    skipped. Shard assignment is :func:`_keep_bucket` (md5-bucket of
    the key, the engine-wide rerun-stability primitive), so appending
    rows later never reassigns existing keys, and the whole layout is
    BYTE-DETERMINISTIC: members sort by key within a shard and tar
    headers are normalized (mtime/uid/gid=0, fixed mode), so two runs
    over the same frame produce identical sha256 per shard — the
    property that lets a trainer cache shards by checksum.

    Returns the per-shard attestation frame (shard, n_samples,
    payload_bytes, sha256) computed from the bytes ACTUALLY written,
    one row per non-empty shard.

    Scale: one hash-partition exchange (``groupBy(shard)``), then each
    shard streams through a single Arrow group — size ``num_shards``
    so shards land in the usual 0.1-1 GB webdataset range and fit an
    executor's group buffer. ``path`` must be a filesystem every
    executor can write (local dir on local[*], shared/NFS or a
    fuse-mounted object store on a cluster — the same contract as any
    foreachPartition sink)."""
    import hashlib
    import io as _io
    import os
    import tarfile

    import pandas as pd  # noqa: F811 (module-level alias for executors)

    members = members or {"text": "txt"}
    os.makedirs(path, exist_ok=True)
    # The directory must equal the attestation frame after the run: a
    # shard that is empty THIS run writes no file, so a stale tar from
    # a prior run over a different corpus would silently disagree with
    # the returned stats. Clear matching shard files up front (driver
    # side, same fs contract as the makedirs above).
    import glob as _glob

    for stale in _glob.glob(os.path.join(path, "shard-*.tar")):
        os.remove(stale)
    cols = [key_col, *members]
    mem_items = sorted(members.items())  # deterministic member order

    def _write_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if not len(pdf):
            return pd.DataFrame(
                {"shard": [], "n_samples": [], "payload_bytes": [], "sha256": []}
            )
        pdf = pdf.sort_values(key_col, kind="mergesort")
        sid = int(pdf["_shard"].iloc[0])
        buf = _io.BytesIO()
        payload = 0
        with tarfile.open(fileobj=buf, mode="w") as tar:
            for row in pdf.itertuples(index=False):
                key = getattr(row, key_col)
                for col, ext in mem_items:
                    data = getattr(row, col)
                    if data is None or (isinstance(data, float) and pd.isna(data)):
                        continue
                    b = (
                        bytes(data)
                        if isinstance(data, (bytes, bytearray, memoryview))
                        else str(data).encode("utf-8")
                    )
                    info = tarfile.TarInfo(f"{key}.{ext}")
                    info.size = len(b)
                    info.mtime = 0
                    info.uid = info.gid = 0
                    info.uname = info.gname = ""
                    info.mode = 0o644
                    tar.addfile(info, _io.BytesIO(b))
                    payload += len(b)
        blob = buf.getvalue()
        with open(os.path.join(path, f"shard-{sid:05d}.tar"), "wb") as fh:
            fh.write(blob)
        return pd.DataFrame(
            {
                "shard": [sid],
                "n_samples": [len(pdf)],
                "payload_bytes": [payload],
                "sha256": [hashlib.sha256(blob).hexdigest()],
            }
        )

    tagged = df.select(*cols).withColumn(
        "_shard", _keep_bucket(key_col, num_shards)
    )
    return tagged.groupBy("_shard").applyInPandas(
        _write_shard,
        schema="shard bigint, n_samples bigint, payload_bytes bigint, sha256 string",
    )


def read_tar_shards(spark, path: str) -> DataFrame:
    """Distributed reader twin of :func:`export_tar_shards`: scan the
    shard directory with the binaryFile source (one row per tar, so
    shards parallelize across executors exactly like any file scan)
    and unpack members in an Arrow-batched mapInPandas — returns
    (shard, key, ext, data) with ``data`` the raw member bytes.

    The trainer-side contract this verifies: what the sink wrote is
    recoverable bit-exactly by any reader that can list the directory
    — no driver-side unpacking, no member-name conventions beyond
    ``{key}.{ext}``. Filter/selection pushdown applies to the FILE
    level (shard pruning by path); member-level projection happens
    after the unpack."""
    import io as _io
    import os
    import re as _re
    import tarfile

    def _unpack(batches):
        for pdf in batches:
            out = {"shard": [], "key": [], "ext": [], "data": []}
            for row in pdf.itertuples(index=False):
                m = _re.search(r"shard-(\d+)\.tar$", row.path)
                sid = int(m.group(1)) if m else -1
                with tarfile.open(fileobj=_io.BytesIO(row.content)) as tar:
                    for mem in tar.getmembers():
                        key, _, ext = mem.name.rpartition(".")
                        out["shard"].append(sid)
                        out["key"].append(key)
                        out["ext"].append(ext)
                        out["data"].append(tar.extractfile(mem).read())
            yield pd.DataFrame(out)

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard-*.tar")
        .load(path)
        .select("path", "content")
    )
    return files.mapInPandas(
        _unpack, schema="shard bigint, key string, ext string, data binary"
    )


@ext_query(
    "ext_export_shards",
    """SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16 AS shard,
              COUNT(*) AS n_samples,
              CAST(SUM(strlen(text)) AS BIGINT) AS payload_bytes
       FROM documents GROUP BY shard""",
)
def ext_export_shards(spark, sf_dir):
    """Tar-shard the documents corpus and return the attestation frame
    (minus the SQL-inexpressible sha256 column) — the oracle recomputes
    shard membership and payload byte totals from the same md5-bucket
    recipe, so a green row proves the sink wrote every sample to the
    right shard with the right bytes."""
    import os

    d = sources.table(spark, "documents", sf_dir)
    out = os.path.join(
        sources.scratch_root("shards"), sf_dir.strip("/").replace("/", "_")
    )
    stats = export_tar_shards(d, out, members={"text": "txt"})
    return stats.select("shard", "n_samples", "payload_bytes")


# ------------------------------------------------- mixture sampling

def mixture_sample(
    df: DataFrame,
    weights: dict,
    stratum_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Dataset mixing to TARGET proportions (the DoReMi/Dolma recipe):
    given per-stratum mixture weights, downsample each stratum so the
    output distribution matches the weights exactly while retaining
    the maximum possible data — the binding stratum (smallest
    ``n_s / w_s``) is kept whole and every other stratum thins to
    match. Generalizes :func:`stratified_sample` (equal weights ==
    balance to the smallest stratum). Same rerun-stable md5-bucket
    keep-decision, same scale shape: per-stratum counts and the
    1-row binding minimum stay in-plan, the rate table broadcasts,
    and the corpus itself is never shuffled — strata missing from
    ``weights`` are dropped (weight 0)."""
    spark = df.sparkSession
    w = F.broadcast(
        spark.createDataFrame(
            [(k, float(v)) for k, v in weights.items()], [stratum_col, "w"]
        )
    )
    counts = df.groupBy(stratum_col).agg(F.count("*").alias("n")).join(w, stratum_col)
    binding = counts.agg(F.min(F.col("n") / F.col("w")).alias("scale"))
    # the binding stratum's rate is EXACTLY 10000 in exact arithmetic
    # (scale*w/n with scale = n/w), which is a floor() discontinuity:
    # FP rounding can deliver 9999.999...8 and silently drop the
    # bucket-9999 slice of the stratum the contract says is kept
    # whole. The 1e-6 nudge absorbs ulp noise (mirrored in the
    # oracle) while leaving genuinely fractional rates untouched.
    rates = counts.crossJoin(F.broadcast(binding)).select(
        stratum_col,
        F.floor(
            F.lit(10000.0) * F.col("scale") * F.col("w") / F.col("n")
            + F.lit(1e-6)
        )
        .cast("bigint")
        .alias("keep_lt"),
    )
    bucket = _keep_bucket(key_col, 10000)
    return df.join(F.broadcast(rates), stratum_col).filter(bucket < F.col("keep_lt"))


@ext_query(
    "ext_mixture_sample",
    """WITH w AS (SELECT * FROM (VALUES ('src0', 3.0), ('src1', 1.0),
                                        ('src2', 1.0), ('src3', 2.0))
                  AS t(source, w)),
         counts AS (SELECT d.source, COUNT(*) AS n, ANY_VALUE(w.w) AS w
                    FROM documents d JOIN w ON d.source = w.source
                    GROUP BY d.source),
         binding AS (SELECT MIN(n / w) AS scale FROM counts),
         rates AS (SELECT source,
                          CAST(FLOOR(10000.0 * scale * w / n + 0.000001) AS BIGINT)
                            AS keep_lt
                   FROM counts, binding)
       SELECT d.doc_id, d.source
       FROM documents d JOIN rates r ON d.source = r.source
       WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
             % 10000 < r.keep_lt""",
)
def ext_mixture_sample(spark, sf_dir):
    """Four strata at weights 3:1:1:2 over equal-sized sources — src0
    keeps ~everything, the others thin to 1/3 and 2/3 of it; sources
    outside the weight map drop entirely."""
    d = sources.table(spark, "documents", sf_dir)
    return mixture_sample(
        d, {"src0": 3.0, "src1": 1.0, "src2": 1.0, "src3": 2.0}
    ).select("doc_id", "source")


# ----------------------------------------- URL canonicalization / domains

def canonicalize_url(col):
    """Web-curation URL normalization: lowercase, strip scheme,
    ``www.`` prefix, query string, and fragment, and any trailing
    slash — the key under which crawl snapshots of the same page
    dedup. Pure regexp column algebra (codegen'd, no UDF)."""
    c = F.lower(col)
    c = F.regexp_replace(c, "^https?://", "")
    c = F.regexp_replace(c, "^www\\.", "")
    c = F.regexp_replace(c, "[?#].*$", "")
    return F.regexp_replace(c, "/$", "")


def url_domain(col):
    """Registered host of an already-canonicalized URL (everything
    before the first slash)."""
    return F.regexp_extract(col, "^([^/]+)", 1)


def domain_stats(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-domain corpus rollup — pages, bytes, and a stable example
    URL — the table RefinedWeb/C4-style pipelines rank to allowlist
    or drop whole domains before any per-document scoring runs.
    Scale shape: canonicalization is map-side regexp, the rollup is a
    partial-agg groupBy on the (short) domain string; nothing about a
    document body ever shuffles — only its length."""
    canon = df.withColumn("canon", canonicalize_url(F.col(url_col)))
    return (
        canon.withColumn("domain", url_domain(F.col("canon")))
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_pages"),
            F.count_distinct("canon").alias("n_unique_pages"),
            F.sum("n_chars").alias("total_chars"),
            F.min("canon").alias("example_url"),
        )
    )


@ext_query(
    "ext_url_stats",
    """WITH u AS (
         SELECT doc_id, n_chars,
                'https://WWW.Site' || CAST(doc_id % 37 AS VARCHAR)
                  || '.example.COM/p/' || CAST(doc_id % 100 AS VARCHAR)
                  || '/?utm=x' || CAST(doc_id AS VARCHAR) || '#frag' AS url
         FROM documents),
       c AS (
         SELECT doc_id, n_chars,
                regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  lower(url), '^https?://', ''), '^www\\.', ''),
                  '[?#].*$', ''), '/$', '') AS canon
         FROM u)
       SELECT regexp_extract(canon, '^([^/]+)', 1) AS domain,
              COUNT(*) AS n_pages,
              COUNT(DISTINCT canon) AS n_unique_pages,
              CAST(SUM(n_chars) AS BIGINT) AS total_chars,
              MIN(canon) AS example_url
       FROM c GROUP BY 1""",
)
def ext_url_stats(spark, sf_dir):
    """The synthetic corpus has no URL column, so deterministic messy
    URLs (mixed case, www, tracking query, fragment, trailing slash)
    are synthesized from ``doc_id`` — the canonicalization and the
    domain rollup are the real operator. ``doc_id % 100`` makes
    distinct raw URLs collide post-canonicalization, so
    ``n_unique_pages < n_pages`` is exercised, not vacuous."""
    d = sources.table(spark, "documents", sf_dir)
    u = d.select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("https://WWW.Site"),
            (F.col("doc_id") % 37).cast("string"),
            F.lit(".example.COM/p/"),
            (F.col("doc_id") % 100).cast("string"),
            F.lit("/?utm=x"),
            F.col("doc_id").cast("string"),
            F.lit("#frag"),
        ).alias("url"),
    )
    return domain_stats(u)


# ------------------------------------------------- sequence packing

def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_span: int = 1024,
    partitions: int | str | None = "auto",
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: documents are
    concatenated in ``id_col`` order into one token stream that is cut
    into fixed-``budget`` training sequences, so every batch is exactly
    full (no padding waste). Returns one row per document with its
    global token offset, the sequence it starts in, and whether it
    straddles a sequence boundary (the fraction of straddlers is the
    attention-contamination metric packing trades against).

    The global running total is the scale problem: a plain
    ``Window.orderBy(id)`` cumsum sorts the whole corpus in ONE
    partition. Instead a two-level exact decomposition: documents are
    bucketed by ``id DIV bucket_span``, per-bucket token sums collapse
    to one row per bucket (map-side partial agg), a cumsum over that
    tiny table yields each bucket's base offset (broadcast back), and
    a ``partitionBy(bucket)`` window — parallel across buckets —
    finishes the within-bucket offsets. Integer arithmetic, so the
    decomposition is bit-exact vs the naive window. At 10^11 docs
    raise ``bucket_span`` so the bucket table stays ~10^6 rows.

    ``partitions="auto"`` (default) sizes the bucket exchange from the
    document count (a metadata-cheap pre-pass on a parquet scan;
    ~30 B per (id, tokens, bucket) row): the partial agg and the
    within-bucket window then REUSE one exchange on ``bucket``; below
    the pressure floor nothing is injected — fixture plans
    unchanged."""
    from pyspark.sql.window import Window

    from smartpipeline_spark.functions.text import _word_count_expr
    from smartpipeline_spark.operators.scale import resolve_exchange_width

    toks = df.select(
        F.col(id_col),
        _word_count_expr(F.col(text_col)).alias("tokens"),
        F.expr(f"{id_col} DIV {bucket_span}").alias("bucket"),
    )
    p = resolve_exchange_width(
        partitions, df.sparkSession, df.count, row_bytes=30, input_df=df
    )
    if p is not None:
        toks = toks.repartition(p, "bucket")
    per_bucket = toks.groupBy("bucket").agg(F.sum("tokens").alias("bsum"))
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    base = per_bucket.select(
        "bucket", F.coalesce(F.sum("bsum").over(wb), F.lit(0)).alias("base")
    )
    win = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = toks.join(F.broadcast(base), "bucket").select(
        id_col,
        "tokens",
        (F.col("base") + F.coalesce(F.sum("tokens").over(win), F.lit(0))).alias(
            "start_off"
        ),
    )
    return placed.select(
        id_col,
        "tokens",
        "start_off",
        F.expr(f"start_off DIV {budget}").alias("seq_id"),
        (
            F.expr(f"(start_off + greatest(tokens, 1) - 1) DIV {budget}")
            > F.expr(f"start_off DIV {budget}")
        ).alias("straddles"),
    )


@ext_query(
    "ext_pack_sequences",
    """WITH t AS (
         SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\\s+')) END AS tokens
         FROM documents),
       c AS (
         SELECT doc_id, tokens,
                CAST(COALESCE(SUM(tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS start_off
         FROM t)
       SELECT doc_id, tokens, start_off,
              start_off // 512 AS seq_id,
              ((start_off + greatest(tokens, 1) - 1) // 512)
                > (start_off // 512) AS straddles
       FROM c""",
)
def ext_pack_sequences(spark, sf_dir):
    """Oracle is the naive single-window cumsum — DuckDB can afford it
    at sf0.01; the Spark side must reproduce it bit-exactly from the
    bucketed decomposition."""
    d = sources.table(spark, "documents", sf_dir)
    return pack_sequences(d)


def emit_packed(
    df: DataFrame,
    budget: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_span: int = 1024,
) -> DataFrame:
    """Materialize the packed training sequences that
    :func:`pack_sequences` only PLACES: one row per ``seq_id`` with
    the exactly-``budget``-long token array a trainer consumes (the
    last sequence may be shorter). Documents straddling a boundary are
    split across sequences.

    Scale shape: placement reuses the two-level exact cumsum (no
    corpus-wide window); each document then explodes into its
    (seq_id, offset, token-slice) spans ROW-LOCALLY — a document
    overlaps ceil(tokens/budget)+1 sequences at most, so the explode
    is O(tokens) total, not O(tokens x sequences). The final
    ``groupBy(seq_id)`` reassembles groups bounded by ``budget``
    tokens (array_sort over at most ``budget`` spans), so no group
    can blow a task regardless of corpus size. Shuffle payload is
    the token stream itself — unavoidable for this op, and it moves
    exactly once."""
    from pyspark.sql.window import Window

    words = F.expr(
        f"CASE WHEN length(trim({text_col})) = 0 THEN CAST(array() AS array<string>) "
        f"ELSE split(trim({text_col}), '\\\\s+') END"
    )
    toks = df.select(
        F.col(id_col),
        words.alias("w"),
        F.expr(f"{id_col} DIV {bucket_span}").alias("bucket"),
    ).withColumn("tokens", F.size("w"))
    per_bucket = toks.groupBy("bucket").agg(F.sum("tokens").alias("bsum"))
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    base = per_bucket.select(
        "bucket", F.coalesce(F.sum("bsum").over(wb), F.lit(0)).alias("base")
    )
    win = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = (
        toks.join(F.broadcast(base), "bucket")
        .select(
            "w",
            "tokens",
            (F.col("base") + F.coalesce(F.sum("tokens").over(win), F.lit(0))).alias(
                "start_off"
            ),
        )
        .filter(F.col("tokens") > 0)
    )
    span = F.expr(
        f"""explode(transform(
              sequence(start_off DIV {budget},
                       (start_off + tokens - 1) DIV {budget}),
              s -> named_struct(
                'seq_id', s,
                'off', greatest(s * {budget}, start_off) - s * {budget},
                'chunk', slice(w,
                  CAST(greatest(s * {budget}, start_off) - start_off + 1 AS INT),
                  CAST(least((s + 1) * {budget}, start_off + tokens)
                       - greatest(s * {budget}, start_off) AS INT)))))"""
    )
    spans = placed.select(span.alias("sp")).select(
        F.col("sp.seq_id").alias("seq_id"),
        F.col("sp.off").alias("off"),
        F.col("sp.chunk").alias("chunk"),
    )
    reassembled = F.expr(
        "flatten(transform(array_sort(collect_list(struct(off, chunk))), x -> x.chunk))"
    )
    return spans.groupBy("seq_id").agg(
        reassembled.alias("tokens")
    ).withColumn("n_tokens", F.size("tokens"))


@ext_query(
    "ext_pack_emit",
    """WITH t AS (
         SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                     ELSE string_split_regex(trim(text), '\\s+') END AS w
         FROM documents),
       c AS (
         SELECT doc_id, w, len(w) AS tokens,
                CAST(COALESCE(SUM(len(w)) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS start_off
         FROM t),
       spans AS (
         SELECT s.s AS seq_id,
                greatest(s.s * 512, start_off) - s.s * 512 AS off,
                w[CAST(greatest(s.s * 512, start_off) - start_off + 1 AS BIGINT)
                  : CAST(least((s.s + 1) * 512, start_off + tokens) - start_off AS BIGINT)]
                  AS chunk
         FROM c, LATERAL (
           SELECT unnest(generate_series(start_off // 512,
                                         (start_off + tokens - 1) // 512)) AS s) s
         WHERE tokens > 0)
       SELECT seq_id,
              array_to_string(flatten(list(chunk ORDER BY off)), ' ') AS tokens,
              CAST(len(flatten(list(chunk ORDER BY off))) AS BIGINT) AS n_tokens
       FROM spans GROUP BY seq_id""",
)
def ext_pack_emit(spark, sf_dir):
    """Oracle is the naive single-window placement plus the same
    span-slice reassembly — DuckDB affords the global window at
    sf0.01; Spark must emit bit-identical sequences from the
    bucketed decomposition. The REGISTERED query space-joins the
    token array to a flat string (and only it — :func:`emit_packed`
    keeps returning real arrays) because the driver's pandas
    canonicalizer cannot sort/hash list cells."""
    d = sources.table(spark, "documents", sf_dir)
    return emit_packed(d).select(
        "seq_id",
        F.array_join("tokens", " ").alias("tokens"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
    )


# ------------------------------- trained quality classifier (fastText-style)
# CCNet / GPT-3 / LLaMA curation filters documents with a TRAINED
# linear classifier over bag-of-ngram features (fastText), not just
# hand-written heuristics (quality_score in text.py is the heuristic
# sibling). Same feature space as DSIR above — hashed word
# unigram+bigram buckets, binary presence — but instead of a
# closed-form density ratio, logistic regression fit by full-batch
# gradient descent (deterministic: zero init, no sampling).
#
# Scale shape (the DSIR/BPE precedents composed): the featurized
# corpus (doc_id, y, distinct-bucket array) is checkpointed ONCE —
# three narrow columns, document text never re-read per iteration.
# Each GD iteration is ONE job: explode buckets, partial-agg'd
# groupBy(bucket) summing residuals — the collected gradient is
# <= m+1 rows (m=2048) regardless of corpus size, the same
# bounded-driver-transfer contract as the DSIR histograms and ANN
# codebooks. The bias is just the weight of a sentinel bucket (-1)
# planted in every document's feature array, so it trains in the
# same aggregate with no second job. Scoring is 100% map-side —
# the corpus is never shuffled to score, identical to dsir_scores.
#
# WHY the weight lookup is an Arrow-batched pandas UDF and not the
# DSIR-style plan-literal create_map fold: a literal map is built as
# a 2m-child expression whose GetMapValue is a LINEAR scan, so one
# document costs O(grams * m) comparisons and every GD iteration
# re-optimizes/codegens a ~4000-node plan — measured 400+ s for 30
# iterations at sf0.1. The UDF captures the DENSE m+1 numpy weight
# vector (16 KB, shipped once per task like a broadcast) and does
# O(1) np.take lookups per gram: same math, ~20x faster, and the
# per-iteration plan stays constant-size. DSIR gets away with the
# literal map because it builds it ONCE; here it would be rebuilt
# every iteration.

QC_BUCKETS = 2048
_QC_BIAS = -1  # sentinel always-on feature: its weight IS the bias


def _qc_buckets_expr(m: int):
    """Row-local distinct hashed-gram bucket array of ``text``, with
    the sentinel bias bucket prepended (binary-presence features).
    NULL text coalesces to an empty gram array (bias-only features)
    rather than a NULL array that would crash the numpy kernel."""
    grams = F.coalesce(
        _unigram_bigram_expr(), F.expr("CAST(array() AS array<string>)")
    )
    return F.array_distinct(
        F.concat(
            F.array(F.lit(_QC_BIAS).cast("bigint")),
            F.transform(grams, lambda g: _gram_bucket(g, m)),
        )
    )


def _qc_z_udf(w_dense: "np.ndarray"):
    """Vectorized margin: z = sum of weights at the row's bucket
    indexes. The sentinel bias bucket (-1) needs no translation —
    numpy's negative indexing reads the LAST slot of the m+1 vector,
    which is exactly where the bias lives."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def z(bs: pd.Series) -> pd.Series:
        return pd.Series(
            [float(w_dense[np.asarray(b, dtype=np.int64)].sum()) for b in bs],
            dtype="float64",
        )

    return z


def _qc_dense(weights: dict, m: int) -> "np.ndarray":
    """Sparse {bucket: w} (bucket -1 = bias) -> dense m+1 vector with
    the bias in the last slot (= numpy index -1)."""
    w = np.zeros(m + 1)
    for b, v in weights.items():
        w[b] = v
    return w


def train_text_classifier(
    docs: DataFrame,
    label_col: str = "label",
    m: int = QC_BUCKETS,
    iters: int = 30,
    lr: float = 2.0,
    l2: float = 1e-6,
) -> dict:
    """Fit logistic regression over hashed-ngram presence features by
    full-batch gradient descent; returns {"weights": {bucket: w},
    "m": m} (bucket -1 is the bias). ``iters`` sequential jobs, each
    collecting <= m+1 gradient rows (see scale note above)."""
    feats = materialize.checkpoint(
        docs.select(F.col(label_col).cast("double").alias("y"), _qc_buckets_expr(m).alias("bs"))
    )
    n_docs = feats.count()
    if n_docs == 0:
        return {"weights": {}, "m": m}
    w = np.zeros(m + 1)
    seen: set = set()
    for _ in range(iters):
        z = _qc_z_udf(w.copy())("bs")
        resid = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col("y")
        grad_rows = (
            feats.select(F.explode("bs").alias("b"), resid.alias("r"))
            .groupBy("b")
            .agg(F.sum("r").alias("g"))
            .collect()
        )
        for r in grad_rows:
            seen.add(r.b)
            w[r.b] -= lr * (r.g / n_docs + l2 * w[r.b])
    return {"weights": {b: w[b] for b in sorted(seen)}, "m": m}


def classifier_scores(
    docs: DataFrame,
    model: dict,
    label_col: str | None = None,
    passthrough: bool = False,
) -> DataFrame:
    """(doc_id[, label], prob, pred): map-side scoring under a trained
    model — dense weights in the closure, row-local bucket lookups,
    prob rounded to 4 decimals (rerun-stable output like
    dsir_scores). Scoring runs through ``mapInPandas`` rather than a
    scalar pandas UDF: a scalar UDF whose argument is a
    higher-order-lambda expression gets its input RE-INLINED by
    project-collapse during optimization and then reaches executors
    unevaluable (INTERNAL_ERROR: Cannot evaluate z(...)) — the
    training loop only dodges this because its UDF input sits behind
    the localCheckpoint barrier. mapInPandas is an OPERATOR, not an
    expression, so the JVM-side bucket projection is always
    materialized into the Arrow batch first; the plan stays one
    narrow map stage, no shuffle."""
    m = model["m"]
    w_dense = _qc_dense(model["weights"], m)
    if passthrough:
        # mid-pipeline stage shape (streaming ingest scoring): keep
        # EVERY input column and append prob/pred — works unchanged on
        # streaming DataFrames (stateless one-pass map, no shuffle)
        cols = list(docs.columns)
    else:
        cols = ["doc_id"]
        if label_col:
            cols.append(label_col)
    out_fields = [
        f"{c} {docs.schema[c].dataType.simpleString()}" for c in cols
    ]
    base = docs.select(*cols, _qc_buckets_expr(m).alias("_qc_bs"))

    def score(batches):
        for pdf in batches:
            z = np.array(
                [w_dense[np.asarray(b, dtype=np.int64)].sum() for b in pdf["_qc_bs"]]
            )
            prob = 1.0 / (1.0 + np.exp(-z))
            out = pdf[cols].copy()
            p4 = np_half_up(prob, 4)
            out["prob"] = p4
            # threshold the PUBLISHED (rounded) prob so pred always
            # equals prob >= 0.5 for a reader of the output
            out["pred"] = (p4 >= 0.5).astype("int32")
            yield out

    return base.mapInPandas(
        score, ", ".join(out_fields) + ", prob double, pred int"
    )


# Pinned per-document scores of the 20-iteration GD run per frozen
# fixture (fixture-closed-form recipe: zero init + full batch + fixed
# iterations make the trained model, and hence every rounded score, a
# deterministic pure function of the corpus — stable across
# partitionings because the gradient aggregate sums per hashed bucket).
# Probs ride as 1e-4-grid integers; label and pred are closed forms
# (label = text contains 'vector'; pred = rounded prob >= 0.5, the
# published-prob threshold contract). The GD-reference, planted-concept
# and determinism pytests keep the trainer honest;
# test_classifier_pins_match_engine re-derives these pins each run.
_QC_SCORE_PINS = "('500:153156',0,329),('500:153156',1,9970),('500:153156',2,9966),('500:153156',3,9689),('500:153156',4,9673),('500:153156',5,9274),('500:153156',6,9976),('500:153156',7,9749),('500:153156',8,6),('500:153156',9,9167),('500:153156',10,9546),('500:153156',11,9959),('500:153156',12,5),('500:153156',13,9757),('500:153156',14,574),('500:153156',15,814),('500:153156',16,9967),('500:153156',17,9794),('500:153156',18,1039),('500:153156',19,9710),('500:153156',20,3990),('500:153156',21,9711),('500:153156',22,9819),('500:153156',23,9927),('500:153156',24,1092),('500:153156',25,9543),('500:153156',26,9979),('500:153156',27,2763),('500:153156',28,9508),('500:153156',29,9954),('500:153156',30,9935),('500:153156',31,9784),('500:153156',32,9536),('500:153156',33,8201),('500:153156',34,9942),('500:153156',35,9961),('500:153156',36,9959),('500:153156',37,2021),('500:153156',38,9944),('500:153156',39,9817),('500:153156',40,739),('500:153156',41,9810),('500:153156',42,9809),('500:153156',43,9979),('500:153156',44,357),('500:153156',45,236),('500:153156',46,1515),('500:153156',47,9568),('500:153156',48,9334),('500:153156',49,9899),('500:153156',50,435),('500:153156',51,4491),('500:153156',52,9799),('500:153156',53,9865),('500:153156',54,9958),('500:153156',55,9769),('500:153156',56,9862),('500:153156',57,9808),('500:153156',58,9703),('500:153156',59,9637),('500:153156',60,9917),('500:153156',61,1212),('500:153156',62,9391),('500:153156',63,9993),('500:153156',64,829),('500:153156',65,1773),('500:153156',66,284),('500:153156',67,9847),('500:153156',68,907),('500:153156',69,1780),('500:153156',70,9038),('500:153156',71,9863),('500:153156',72,9746),('500:153156',73,9753),('500:153156',74,1440),('500:153156',75,9506),('500:153156',76,9840),('500:153156',77,9948),('500:153156',78,9658),('500:153156',79,587),('500:153156',80,9939),('500:153156',81,1877),('500:153156',82,294),('500:153156',83,9941),('500:153156',84,4599),('500:153156',85,9919),('500:153156',86,649),('500:153156',87,9978),('500:153156',88,398),('500:153156',89,1043),('500:153156',90,9881),('500:153156',91,8908),('500:153156',92,1299),('500:153156',93,9959),('500:153156',94,9736),('500:153156',95,9466),('500:153156',96,9811),('500:153156',97,9318),('500:153156',98,9938),('500:153156',99,9932),('500:153156',100,9780),('500:153156',101,9415),('500:153156',102,9822),('500:153156',103,3422),('500:153156',104,9977),('500:153156',105,2973),('500:153156',106,9989),('500:153156',107,9879),('500:153156',108,9988),('500:153156',109,9983),('500:153156',110,9923),('500:153156',111,9867),('500:153156',112,9744),('500:153156',113,1017),('500:153156',114,880),('500:153156',115,9472),('500:153156',116,1083),('500:153156',117,8215),('500:153156',118,1592),('500:153156',119,9492),('500:153156',120,7),('500:153156',121,9523),('500:153156',122,1004),('500:153156',123,9802),('500:153156',124,9853),('500:153156',125,9103),('500:153156',126,5584),('500:153156',127,9721),('500:153156',128,9882),('500:153156',129,9487),('500:153156',130,9329),('500:153156',131,9953),('500:153156',132,9882),('500:153156',133,9800),('500:153156',134,9972),('500:153156',135,3158),('500:153156',136,9975),('500:153156',137,9847),('500:153156',138,955),('500:153156',139,9918),('500:153156',140,870),('500:153156',141,643),('500:153156',142,80),('500:153156',143,966),('500:153156',144,9975),('500:153156',145,9705),('500:153156',146,9939),('500:153156',147,9097),('500:153156',148,9969),('500:153156',149,9999),('500:153156',150,9237),('500:153156',151,9989),('500:153156',152,9903),('500:153156',153,9866),('500:153156',154,9989),('500:153156',155,9778),('500:153156',156,9763),('500:153156',157,9872),('500:153156',158,1646),('500:153156',159,1280),('500:153156',160,9870),('500:153156',161,9973),('500:153156',162,9955),('500:153156',163,9583),('500:153156',164,8231),('500:153156',165,669),('500:153156',166,9884),('500:153156',167,9032),('500:153156',168,9993),('500:153156',169,2753),('500:153156',170,9502),('500:153156',171,1979),('500:153156',172,9636),('500:153156',173,5163),('500:153156',174,9942),('500:153156',175,9929),('500:153156',176,9976),('500:153156',177,9434),('500:153156',178,9591),('500:153156',179,9906),('500:153156',180,1976),('500:153156',181,9496),('500:153156',182,803),('500:153156',183,1104),('500:153156',184,9894),('500:153156',185,9830),('500:153156',186,9488),('500:153156',187,9988),('500:153156',188,9493),('500:153156',189,9995),('500:153156',190,9956),('500:153156',191,1559),('500:153156',192,9968),('500:153156',193,1118),('500:153156',194,3549),('500:153156',195,8695),('500:153156',196,9943),('500:153156',197,9953),('500:153156',198,9352),('500:153156',199,9880),('500:153156',200,9710),('500:153156',201,9751),('500:153156',202,1842),('500:153156',203,8701),('500:153156',204,6176),('500:153156',205,9505),('500:153156',206,563),('500:153156',207,301),('500:153156',208,9975),('500:153156',209,9958),('500:153156',210,9943),('500:153156',211,9964),('500:153156',212,9922),('500:153156',213,9869),('500:153156',214,9849),('500:153156',215,9752),('500:153156',216,9787),('500:153156',217,212),('500:153156',218,9983),('500:153156',219,9608),('500:153156',220,364),('500:153156',221,9383),('500:153156',222,422),('500:153156',223,9892),('500:153156',224,9763),('500:153156',225,9494),('500:153156',226,9895),('500:153156',227,9986),('500:153156',228,9553),('500:153156',229,9805),('500:153156',230,9727),('500:153156',231,153),('500:153156',232,9832),('500:153156',233,2556),('500:153156',234,9730),('500:153156',235,9986),('500:153156',236,9838),('500:153156',237,9670),('500:153156',238,9867),('500:153156',239,9064),('500:153156',240,9978),('500:153156',241,9713),('500:153156',242,9994),('500:153156',243,9646),('500:153156',244,9819),('500:153156',245,9940),('500:153156',246,9954),('500:153156',247,3270),('500:153156',248,9996),('500:153156',249,9922),('500:153156',250,621),('500:153156',251,9294),('500:153156',252,9992),('500:153156',253,9902),('500:153156',254,9271),('500:153156',255,7779),('500:153156',256,3006),('500:153156',257,678),('500:153156',258,9432),('500:153156',259,9661),('500:153156',260,9929),('500:153156',261,9948),('500:153156',262,9438),('500:153156',263,9792),('500:153156',264,9249),('500:153156',265,9806),('500:153156',266,9145),('500:153156',267,9643),('500:153156',268,9916),('500:153156',269,9793),('500:153156',270,9966),('500:153156',271,9756),('500:153156',272,9991),('500:153156',273,9716),('500:153156',274,9930),('500:153156',275,9896),('500:153156',276,1291),('500:153156',277,9970),('500:153156',278,9721),('500:153156',279,9885),('500:153156',280,9700),('500:153156',281,2080),('500:153156',282,9905),('500:153156',283,9905),('500:153156',284,9980),('500:153156',285,9942),('500:153156',286,502),('500:153156',287,9993),('500:153156',288,9930),('500:153156',289,9769),('500:153156',290,956),('500:153156',291,9984),('500:153156',292,9901),('500:153156',293,9969),('500:153156',294,8824),('500:153156',295,9348),('500:153156',296,9996),('500:153156',297,9620),('500:153156',298,9944),('500:153156',299,9935),('500:153156',300,9950),('500:153156',301,9964),('500:153156',302,2343),('500:153156',303,9967),('500:153156',304,9520),('500:153156',305,9951),('500:153156',306,9979),('500:153156',307,1731),('500:153156',308,950),('500:153156',309,9855),('500:153156',310,9689),('500:153156',311,355),('500:153156',312,9652),('500:153156',313,480),('500:153156',314,9942),('500:153156',315,6847),('500:153156',316,604),('500:153156',317,9851),('500:153156',318,9829),('500:153156',319,9971),('500:153156',320,9957),('500:153156',321,9927),('500:153156',322,9406),('500:153156',323,9963),('500:153156',324,935),('500:153156',325,2263),('500:153156',326,9952),('500:153156',327,8716),('500:153156',328,9885),('500:153156',329,9970),('500:153156',330,9898),('500:153156',331,9728),('500:153156',332,9992),('500:153156',333,9498),('500:153156',334,9965),('500:153156',335,9208),('500:153156',336,9830),('500:153156',337,9400),('500:153156',338,541),('500:153156',339,9715),('500:153156',340,9347),('500:153156',341,9820),('500:153156',342,9977),('500:153156',343,9963),('500:153156',344,910),('500:153156',345,9752),('500:153156',346,1079),('500:153156',347,1196),('500:153156',348,9772),('500:153156',349,9623),('500:153156',350,9853),('500:153156',351,9914),('500:153156',352,9152),('500:153156',353,9062),('500:153156',354,9554),('500:153156',355,1038),('500:153156',356,9971),('500:153156',357,9888),('500:153156',358,9953),('500:153156',359,9864),('500:153156',360,5),('500:153156',361,9746),('500:153156',362,9740),('500:153156',363,9959),('500:153156',364,9913),('500:153156',365,9801),('500:153156',366,9700),('500:153156',367,9969),('500:153156',368,9903),('500:153156',369,9972),('500:153156',370,9607),('500:153156',371,1680),('500:153156',372,9773),('500:153156',373,9797),('500:153156',374,9976),('500:153156',375,9684),('500:153156',376,9840),('500:153156',377,7694),('500:153156',378,9957),('500:153156',379,9823),('500:153156',380,9951),('500:153156',381,324),('500:153156',382,1076),('500:153156',383,9456),('500:153156',384,9554),('500:153156',385,9722),('500:153156',386,9944),('500:153156',387,9941),('500:153156',388,9521),('500:153156',389,2609),('500:153156',390,9816),('500:153156',391,9916),('500:153156',392,9589),('500:153156',393,9983),('500:153156',394,9958),('500:153156',395,9862),('500:153156',396,9953),('500:153156',397,9388),('500:153156',398,1008),('500:153156',399,9810),('500:153156',400,9784),('500:153156',401,9973),('500:153156',402,9721),('500:153156',403,1312),('500:153156',404,9958),('500:153156',405,9987),('500:153156',406,9988),('500:153156',407,9626),('500:153156',408,9880),('500:153156',409,9960),('500:153156',410,9925),('500:153156',411,9712),('500:153156',412,9918),('500:153156',413,2131),('500:153156',414,9502),('500:153156',415,9782),('500:153156',416,8794),('500:153156',417,1009),('500:153156',418,9113),('500:153156',419,9941),('500:153156',420,9852),('500:153156',421,9972),('500:153156',422,1080),('500:153156',423,9884),('500:153156',424,9685),('500:153156',425,9558),('500:153156',426,9632),('500:153156',427,1453),('500:153156',428,9850),('500:153156',429,565),('500:153156',430,9627),('500:153156',431,9868),('500:153156',432,9937),('500:153156',433,9927),('500:153156',434,9859),('500:153156',435,6702),('500:153156',436,8461),('500:153156',437,9380),('500:153156',438,9676),('500:153156',439,9632),('500:153156',440,9990),('500:153156',441,9985),('500:153156',442,1310),('500:153156',443,9722),('500:153156',444,9960),('500:153156',445,9538),('500:153156',446,9972),('500:153156',447,9582),('500:153156',448,9830),('500:153156',449,9401),('500:153156',450,9437),('500:153156',451,9775),('500:153156',452,621),('500:153156',453,9980),('500:153156',454,276),('500:153156',455,9406),('500:153156',456,9589),('500:153156',457,9981),('500:153156',458,9714),('500:153156',459,9955),('500:153156',460,9800),('500:153156',461,9424),('500:153156',462,9622),('500:153156',463,617),('500:153156',464,9401),('500:153156',465,9959),('500:153156',466,883),('500:153156',467,9910),('500:153156',468,6205),('500:153156',469,9993),('500:153156',470,9380),('500:153156',471,9779),('500:153156',472,2875),('500:153156',473,9858),('500:153156',474,9996),('500:153156',475,9838),('500:153156',476,9712),('500:153156',477,9932),('500:153156',478,9649),('500:153156',479,9870),('500:153156',480,8287),('500:153156',481,9931),('500:153156',482,9953),('500:153156',483,9020),('500:153156',484,2105),('500:153156',485,9813),('500:153156',486,9991),('500:153156',487,313),('500:153156',488,9962),('500:153156',489,6688),('500:153156',490,8973),('500:153156',491,1567),('500:153156',492,9882),('500:153156',493,926),('500:153156',494,9908),('500:153156',495,9755),('500:153156',496,9189),('500:153156',497,9792),('500:153156',498,9996),('500:153156',499,9656),('500:149174',0,661),('500:149174',1,1456),('500:149174',2,9961),('500:149174',3,9240),('500:149174',4,135),('500:149174',5,9809),('500:149174',6,246),('500:149174',7,9933),('500:149174',8,9886),('500:149174',9,9924),('500:149174',10,238),('500:149174',11,9716),('500:149174',12,9362),('500:149174',13,9465),('500:149174',14,9954),('500:149174',15,9614),('500:149174',16,9717),('500:149174',17,9846),('500:149174',18,9926),('500:149174',19,9158),('500:149174',20,9801),('500:149174',21,9239),('500:149174',22,9975),('500:149174',23,9387),('500:149174',24,9990),('500:149174',25,9700),('500:149174',26,732),('500:149174',27,9865),('500:149174',28,9153),('500:149174',29,9708),('500:149174',30,9253),('500:149174',31,9861),('500:149174',32,9968),('500:149174',33,252),('500:149174',34,8987),('500:149174',35,656),('500:149174',36,1157),('500:149174',37,9668),('500:149174',38,270),('500:149174',39,9521),('500:149174',40,9849),('500:149174',41,9947),('500:149174',42,2991),('500:149174',43,797),('500:149174',44,516),('500:149174',45,9962),('500:149174',46,9982),('500:149174',47,8589),('500:149174',48,605),('500:149174',49,9455),('500:149174',50,4872),('500:149174',51,9826),('500:149174',52,700),('500:149174',53,627),('500:149174',54,9642),('500:149174',55,1017),('500:149174',56,9976),('500:149174',57,9973),('500:149174',58,9976),('500:149174',59,3147),('500:149174',60,9990),('500:149174',61,9895),('500:149174',62,233),('500:149174',63,9958),('500:149174',64,5278),('500:149174',65,1373),('500:149174',66,9940),('500:149174',67,9912),('500:149174',68,9831),('500:149174',69,9996),('500:149174',70,9995),('500:149174',71,9941),('500:149174',72,86),('500:149174',73,499),('500:149174',74,2164),('500:149174',75,9392),('500:149174',76,9944),('500:149174',77,2556),('500:149174',78,9768),('500:149174',79,771),('500:149174',80,9904),('500:149174',81,9962),('500:149174',82,159),('500:149174',83,1016),('500:149174',84,9769),('500:149174',85,154),('500:149174',86,8908),('500:149174',87,9641),('500:149174',88,9594),('500:149174',89,643),('500:149174',90,827),('500:149174',91,9921),('500:149174',92,9719),('500:149174',93,8734),('500:149174',94,9504),('500:149174',95,9777),('500:149174',96,252),('500:149174',97,9974),('500:149174',98,9977),('500:149174',99,7374),('500:149174',100,9972),('500:149174',101,9604),('500:149174',102,9991),('500:149174',103,9943),('500:149174',104,9479),('500:149174',105,9426),('500:149174',106,9555),('500:149174',107,9867),('500:149174',108,2193),('500:149174',109,9609),('500:149174',110,910),('500:149174',111,9993),('500:149174',112,9809),('500:149174',113,9971),('500:149174',114,9623),('500:149174',115,9609),('500:149174',116,1014),('500:149174',117,194),('500:149174',118,519),('500:149174',119,8645),('500:149174',120,9752),('500:149174',121,9656),('500:149174',122,632),('500:149174',123,1475),('500:149174',124,1725),('500:149174',125,7956),('500:149174',126,9991),('500:149174',127,9989),('500:149174',128,9978),('500:149174',129,9729),('500:149174',130,2102),('500:149174',131,9514),('500:149174',132,9908),('500:149174',133,9980),('500:149174',134,9722),('500:149174',135,9488),('500:149174',136,9764),('500:149174',137,451),('500:149174',138,8898),('500:149174',139,9821),('500:149174',140,9140),('500:149174',141,465),('500:149174',142,9930),('500:149174',143,9988),('500:149174',144,540),('500:149174',145,9886),('500:149174',146,9453),('500:149174',147,9981),('500:149174',148,329),('500:149174',149,815),('500:149174',150,9817),('500:149174',151,9943),('500:149174',152,9354),('500:149174',153,9842),('500:149174',154,9898),('500:149174',155,9952),('500:149174',156,8360),('500:149174',157,1018),('500:149174',158,8514),('500:149174',159,9968),('500:149174',160,9786),('500:149174',161,9706),('500:149174',162,9991),('500:149174',163,9008),('500:149174',164,412),('500:149174',165,734),('500:149174',166,9975),('500:149174',167,9896),('500:149174',168,9400),('500:149174',169,9983),('500:149174',170,312),('500:149174',171,9945),('500:149174',172,8779),('500:149174',173,9993),('500:149174',174,9870),('500:149174',175,743),('500:149174',176,9985),('500:149174',177,1189),('500:149174',178,9323),('500:149174',179,9977),('500:149174',180,8524),('500:149174',181,216),('500:149174',182,9913),('500:149174',183,9234),('500:149174',184,9827),('500:149174',185,9873),('500:149174',186,9990),('500:149174',187,9969),('500:149174',188,9025),('500:149174',189,556),('500:149174',190,9894),('500:149174',191,1483),('500:149174',192,365),('500:149174',193,7620),('500:149174',194,9583),('500:149174',195,7890),('500:149174',196,9918),('500:149174',197,9945),('500:149174',198,9678),('500:149174',199,9276),('500:149174',200,9900),('500:149174',201,9890),('500:149174',202,9925),('500:149174',203,9244),('500:149174',204,4989),('500:149174',205,9786),('500:149174',206,1188),('500:149174',207,9954),('500:149174',208,582),('500:149174',209,9705),('500:149174',210,9948),('500:149174',211,447),('500:149174',212,9933),('500:149174',213,9944),('500:149174',214,810),('500:149174',215,9975),('500:149174',216,9985),('500:149174',217,9838),('500:149174',218,9963),('500:149174',219,8856),('500:149174',220,9987),('500:149174',221,9457),('500:149174',222,9077),('500:149174',223,9981),('500:149174',224,657),('500:149174',225,9759),('500:149174',226,9175),('500:149174',227,9840),('500:149174',228,9958),('500:149174',229,9938),('500:149174',230,8976),('500:149174',231,9327),('500:149174',232,8404),('500:149174',233,9970),('500:149174',234,9824),('500:149174',235,331),('500:149174',236,1173),('500:149174',237,9927),('500:149174',238,9874),('500:149174',239,9519),('500:149174',240,9911),('500:149174',241,9922),('500:149174',242,9916),('500:149174',243,358),('500:149174',244,9933),('500:149174',245,9877),('500:149174',246,9566),('500:149174',247,6709),('500:149174',248,9943),('500:149174',249,9962),('500:149174',250,9625),('500:149174',251,9947),('500:149174',252,9860),('500:149174',253,9441),('500:149174',254,8914),('500:149174',255,2142),('500:149174',256,573),('500:149174',257,8768),('500:149174',258,9953),('500:149174',259,9982),('500:149174',260,287),('500:149174',261,9878),('500:149174',262,849),('500:149174',263,9941),('500:149174',264,9956),('500:149174',265,9133),('500:149174',266,560),('500:149174',267,9959),('500:149174',268,9741),('500:149174',269,9969),('500:149174',270,9892),('500:149174',271,9934),('500:149174',272,9943),('500:149174',273,9875),('500:149174',274,9944),('500:149174',275,1266),('500:149174',276,9984),('500:149174',277,1428),('500:149174',278,9582),('500:149174',279,9664),('500:149174',280,9972),('500:149174',281,232),('500:149174',282,9821),('500:149174',283,9705),('500:149174',284,9801),('500:149174',285,9992),('500:149174',286,9658),('500:149174',287,9047),('500:149174',288,9710),('500:149174',289,9966),('500:149174',290,9981),('500:149174',291,9983),('500:149174',292,9994),('500:149174',293,9974),('500:149174',294,9969),('500:149174',295,9709),('500:149174',296,9966),('500:149174',297,9858),('500:149174',298,9063),('500:149174',299,9994),('500:149174',300,9193),('500:149174',301,9991),('500:149174',302,9625),('500:149174',303,785),('500:149174',304,8537),('500:149174',305,2006),('500:149174',306,9920),('500:149174',307,9520),('500:149174',308,9553),('500:149174',309,266),('500:149174',310,802),('500:149174',311,9929),('500:149174',312,9765),('500:149174',313,722),('500:149174',314,9741),('500:149174',315,9849),('500:149174',316,9940),('500:149174',317,9557),('500:149174',318,9965),('500:149174',319,9964),('500:149174',320,9911),('500:149174',321,9862),('500:149174',322,9017),('500:149174',323,9975),('500:149174',324,9655),('500:149174',325,7926),('500:149174',326,9841),('500:149174',327,7748),('500:149174',328,9918),('500:149174',329,9860),('500:149174',330,9807),('500:149174',331,9918),('500:149174',332,9732),('500:149174',333,913),('500:149174',334,9988),('500:149174',335,9986),('500:149174',336,9238),('500:149174',337,9940),('500:149174',338,729),('500:149174',339,9520),('500:149174',340,9753),('500:149174',341,9676),('500:149174',342,9640),('500:149174',343,674),('500:149174',344,9954),('500:149174',345,9607),('500:149174',346,9950),('500:149174',347,9729),('500:149174',348,752),('500:149174',349,2107),('500:149174',350,9983),('500:149174',351,9903),('500:149174',352,9996),('500:149174',353,9811),('500:149174',354,9853),('500:149174',355,299),('500:149174',356,98),('500:149174',357,7899),('500:149174',358,1079),('500:149174',359,9887),('500:149174',360,9638),('500:149174',361,9967),('500:149174',362,9577),('500:149174',363,9887),('500:149174',364,9937),('500:149174',365,8266),('500:149174',366,9741),('500:149174',367,9268),('500:149174',368,1280),('500:149174',369,9668),('500:149174',370,9934),('500:149174',371,9896),('500:149174',372,1288),('500:149174',373,9950),('500:149174',374,9689),('500:149174',375,9668),('500:149174',376,9963),('500:149174',377,87),('500:149174',378,9948),('500:149174',379,9975),('500:149174',380,9854),('500:149174',381,8793),('500:149174',382,266),('500:149174',383,9872),('500:149174',384,734),('500:149174',385,9684),('500:149174',386,9756),('500:149174',387,9848),('500:149174',388,9859),('500:149174',389,910),('500:149174',390,3335),('500:149174',391,9844),('500:149174',392,8267),('500:149174',393,9940),('500:149174',394,9906),('500:149174',395,2824),('500:149174',396,9418),('500:149174',397,418),('500:149174',398,522),('500:149174',399,9707),('500:149174',400,930),('500:149174',401,9821),('500:149174',402,1141),('500:149174',403,9934),('500:149174',404,9158),('500:149174',405,9790),('500:149174',406,9861),('500:149174',407,281),('500:149174',408,918),('500:149174',409,9503),('500:149174',410,9800),('500:149174',411,9750),('500:149174',412,2692),('500:149174',413,9962),('500:149174',414,9952),('500:149174',415,9568),('500:149174',416,9737),('500:149174',417,9873),('500:149174',418,9847),('500:149174',419,2738),('500:149174',420,9937),('500:149174',421,9976),('500:149174',422,9873),('500:149174',423,9930),('500:149174',424,9796),('500:149174',425,9719),('500:149174',426,9500),('500:149174',427,9926),('500:149174',428,9822),('500:149174',429,9980),('500:149174',430,9915),('500:149174',431,9485),('500:149174',432,9883),('500:149174',433,8444),('500:149174',434,9977),('500:149174',435,9455),('500:149174',436,649),('500:149174',437,9779),('500:149174',438,9891),('500:149174',439,9251),('500:149174',440,408),('500:149174',441,9987),('500:149174',442,9920),('500:149174',443,9854),('500:149174',444,9991),('500:149174',445,9692),('500:149174',446,517),('500:149174',447,9995),('500:149174',448,9671),('500:149174',449,8414),('500:149174',450,9702),('500:149174',451,9782),('500:149174',452,425),('500:149174',453,9974),('500:149174',454,692),('500:149174',455,693),('500:149174',456,8396),('500:149174',457,9873),('500:149174',458,9796),('500:149174',459,9922),('500:149174',460,9760),('500:149174',461,9713),('500:149174',462,9821),('500:149174',463,9991),('500:149174',464,8531),('500:149174',465,498),('500:149174',466,9831),('500:149174',467,9900),('500:149174',468,1995),('500:149174',469,1145),('500:149174',470,9708),('500:149174',471,9968),('500:149174',472,207),('500:149174',473,9760),('500:149174',474,9729),('500:149174',475,677),('500:149174',476,9319),('500:149174',477,9817),('500:149174',478,9920),('500:149174',479,9980),('500:149174',480,9937),('500:149174',481,9397),('500:149174',482,5054),('500:149174',483,9607),('500:149174',484,9307),('500:149174',485,8700),('500:149174',486,9487),('500:149174',487,9808),('500:149174',488,9903),('500:149174',489,9764),('500:149174',490,9560),('500:149174',491,9831),('500:149174',492,9430),('500:149174',493,9999),('500:149174',494,9842),('500:149174',495,9980),('500:149174',496,9950),('500:149174',497,9251),('500:149174',498,375),('500:149174',499,9554),('5000:1485576',0,9179),('5000:1485576',1,9874),('5000:1485576',2,9999),('5000:1485576',3,8061),('5000:1485576',4,10000),('5000:1485576',5,9998),('5000:1485576',6,9994),('5000:1485576',7,10000),('5000:1485576',8,10000),('5000:1485576',9,8568),('5000:1485576',10,7657),('5000:1485576',11,10000),('5000:1485576',12,9998),('5000:1485576',13,9995),('5000:1485576',14,9998),('5000:1485576',15,9996),('5000:1485576',16,9988),('5000:1485576',17,9998),('5000:1485576',18,9999),('5000:1485576',19,9998),('5000:1485576',20,10000),('5000:1485576',21,9998),('5000:1485576',22,10000),('5000:1485576',23,8170),('5000:1485576',24,8364),('5000:1485576',25,9999),('5000:1485576',26,9999),('5000:1485576',27,9999),('5000:1485576',28,9984),('5000:1485576',29,9996),('5000:1485576',30,9996),('5000:1485576',31,9982),('5000:1485576',32,10000),('5000:1485576',33,9992),('5000:1485576',34,9995),('5000:1485576',35,10000),('5000:1485576',36,9867),('5000:1485576',37,9980),('5000:1485576',38,9999),('5000:1485576',39,9955),('5000:1485576',40,10000),('5000:1485576',41,6933),('5000:1485576',42,9906),('5000:1485576',43,9999),('5000:1485576',44,10000),('5000:1485576',45,6193),('5000:1485576',46,8385),('5000:1485576',47,10000),('5000:1485576',48,10000),('5000:1485576',49,9994),('5000:1485576',50,9997),('5000:1485576',51,10000),('5000:1485576',52,10000),('5000:1485576',53,9990),('5000:1485576',54,10000),('5000:1485576',55,10000),('5000:1485576',56,10000),('5000:1485576',57,10000),('5000:1485576',58,9995),('5000:1485576',59,9945),('5000:1485576',60,9991),('5000:1485576',61,9996),('5000:1485576',62,10000),('5000:1485576',63,10000),('5000:1485576',64,6617),('5000:1485576',65,9999),('5000:1485576',66,10000),('5000:1485576',67,10000),('5000:1485576',68,9998),('5000:1485576',69,6568),('5000:1485576',70,9995),('5000:1485576',71,10000),('5000:1485576',72,9999),('5000:1485576',73,5727),('5000:1485576',74,9999),('5000:1485576',75,10000),('5000:1485576',76,6382),('5000:1485576',77,4061),('5000:1485576',78,9988),('5000:1485576',79,7162),('5000:1485576',80,9995),('5000:1485576',81,10000),('5000:1485576',82,9965),('5000:1485576',83,9995),('5000:1485576',84,9990),('5000:1485576',85,9992),('5000:1485576',86,8644),('5000:1485576',87,9998),('5000:1485576',88,10000),('5000:1485576',89,9982),('5000:1485576',90,9995),('5000:1485576',91,5969),('5000:1485576',92,9964),('5000:1485576',93,6301),('5000:1485576',94,7212),('5000:1485576',95,9986),('5000:1485576',96,9580),('5000:1485576',97,9993),('5000:1485576',98,10000),('5000:1485576',99,9989),('5000:1485576',100,8341),('5000:1485576',101,9965),('5000:1485576',102,10000),('5000:1485576',103,9986),('5000:1485576',104,5879),('5000:1485576',105,9972),('5000:1485576',106,9999),('5000:1485576',107,9999),('5000:1485576',108,9992),('5000:1485576',109,9197),('5000:1485576',110,9996),('5000:1485576',111,9961),('5000:1485576',112,9193),('5000:1485576',113,9999),('5000:1485576',114,9995),('5000:1485576',115,9985),('5000:1485576',116,9999),('5000:1485576',117,9999),('5000:1485576',118,10000),('5000:1485576',119,10000),('5000:1485576',120,10000),('5000:1485576',121,9997),('5000:1485576',122,9932),('5000:1485576',123,9176),('5000:1485576',124,9984),('5000:1485576',125,9993),('5000:1485576',126,9993),('5000:1485576',127,10000),('5000:1485576',128,9997),('5000:1485576',129,6056),('5000:1485576',130,9946),('5000:1485576',131,9917),('5000:1485576',132,9999),('5000:1485576',133,5396),('5000:1485576',134,10000),('5000:1485576',135,9999),('5000:1485576',136,10000),('5000:1485576',137,10000),('5000:1485576',138,5784),('5000:1485576',139,10000),('5000:1485576',140,9997),('5000:1485576',141,9999),('5000:1485576',142,9988),('5000:1485576',143,9999),('5000:1485576',144,9999),('5000:1485576',145,9931),('5000:1485576',146,9978),('5000:1485576',147,10000),('5000:1485576',148,10000),('5000:1485576',149,9999),('5000:1485576',150,4785),('5000:1485576',151,9998),('5000:1485576',152,8934),('5000:1485576',153,8599),('5000:1485576',154,9984),('5000:1485576',155,6259),('5000:1485576',156,9608),('5000:1485576',157,7370),('5000:1485576',158,9299),('5000:1485576',159,10000),('5000:1485576',160,9999),('5000:1485576',161,9953),('5000:1485576',162,9998),('5000:1485576',163,10000),('5000:1485576',164,9996),('5000:1485576',165,9999),('5000:1485576',166,5781),('5000:1485576',167,9999),('5000:1485576',168,10000),('5000:1485576',169,9982),('5000:1485576',170,4194),('5000:1485576',171,10000),('5000:1485576',172,9906),('5000:1485576',173,10000),('5000:1485576',174,6698),('5000:1485576',175,9999),('5000:1485576',176,9999),('5000:1485576',177,9998),('5000:1485576',178,9995),('5000:1485576',179,4663),('5000:1485576',180,5061),('5000:1485576',181,9995),('5000:1485576',182,9998),('5000:1485576',183,9993),('5000:1485576',184,9992),('5000:1485576',185,10000),('5000:1485576',186,9999),('5000:1485576',187,9997),('5000:1485576',188,9960),('5000:1485576',189,9056),('5000:1485576',190,9998),('5000:1485576',191,10000),('5000:1485576',192,9954),('5000:1485576',193,10000),('5000:1485576',194,8723),('5000:1485576',195,9105),('5000:1485576',196,10000),('5000:1485576',197,9997),('5000:1485576',198,9954),('5000:1485576',199,9999),('5000:1485576',200,9938),('5000:1485576',201,9995),('5000:1485576',202,10000),('5000:1485576',203,9999),('5000:1485576',204,4823),('5000:1485576',205,9994),('5000:1485576',206,9993),('5000:1485576',207,3910),('5000:1485576',208,9999),('5000:1485576',209,10000),('5000:1485576',210,7962),('5000:1485576',211,10000),('5000:1485576',212,9998),('5000:1485576',213,9999),('5000:1485576',214,10000),('5000:1485576',215,9332),('5000:1485576',216,10000),('5000:1485576',217,9977),('5000:1485576',218,9999),('5000:1485576',219,10000),('5000:1485576',220,9999),('5000:1485576',221,9999),('5000:1485576',222,9980),('5000:1485576',223,9990),('5000:1485576',224,9943),('5000:1485576',225,9997),('5000:1485576',226,10000),('5000:1485576',227,10000),('5000:1485576',228,9988),('5000:1485576',229,5492),('5000:1485576',230,9983),('5000:1485576',231,10000),('5000:1485576',232,9991),('5000:1485576',233,10000),('5000:1485576',234,9998),('5000:1485576',235,9999),('5000:1485576',236,9994),('5000:1485576',237,9998),('5000:1485576',238,9996),('5000:1485576',239,9998),('5000:1485576',240,10000),('5000:1485576',241,9997),('5000:1485576',242,9980),('5000:1485576',243,9999),('5000:1485576',244,9923),('5000:1485576',245,9999),('5000:1485576',246,10000),('5000:1485576',247,9204),('5000:1485576',248,10000),('5000:1485576',249,9809),('5000:1485576',250,5351),('5000:1485576',251,9999),('5000:1485576',252,9998),('5000:1485576',253,9978),('5000:1485576',254,9992),('5000:1485576',255,9940),('5000:1485576',256,10000),('5000:1485576',257,9882),('5000:1485576',258,9997),('5000:1485576',259,9834),('5000:1485576',260,10000),('5000:1485576',261,6676),('5000:1485576',262,9999),('5000:1485576',263,9999),('5000:1485576',264,9999),('5000:1485576',265,5907),('5000:1485576',266,9987),('5000:1485576',267,10000),('5000:1485576',268,9583),('5000:1485576',269,9826),('5000:1485576',270,9985),('5000:1485576',271,9982),('5000:1485576',272,9869),('5000:1485576',273,9998),('5000:1485576',274,9949),('5000:1485576',275,8985),('5000:1485576',276,10000),('5000:1485576',277,6518),('5000:1485576',278,5574),('5000:1485576',279,9999),('5000:1485576',280,10000),('5000:1485576',281,9997),('5000:1485576',282,10000),('5000:1485576',283,10000),('5000:1485576',284,10000),('5000:1485576',285,7172),('5000:1485576',286,10000),('5000:1485576',287,9999),('5000:1485576',288,9998),('5000:1485576',289,9998),('5000:1485576',290,9999),('5000:1485576',291,9988),('5000:1485576',292,9979),('5000:1485576',293,9903),('5000:1485576',294,9990),('5000:1485576',295,9998),('5000:1485576',296,9999),('5000:1485576',297,9997),('5000:1485576',298,9998),('5000:1485576',299,9998),('5000:1485576',300,5058),('5000:1485576',301,10000),('5000:1485576',302,9993),('5000:1485576',303,9981),('5000:1485576',304,9999),('5000:1485576',305,9217),('5000:1485576',306,10000),('5000:1485576',307,10000),('5000:1485576',308,9927),('5000:1485576',309,10000),('5000:1485576',310,9999),('5000:1485576',311,6321),('5000:1485576',312,9991),('5000:1485576',313,9973),('5000:1485576',314,9994),('5000:1485576',315,9958),('5000:1485576',316,5458),('5000:1485576',317,10000),('5000:1485576',318,8734),('5000:1485576',319,9965),('5000:1485576',320,10000),('5000:1485576',321,10000),('5000:1485576',322,10000),('5000:1485576',323,9999),('5000:1485576',324,10000),('5000:1485576',325,9998),('5000:1485576',326,10000),('5000:1485576',327,9998),('5000:1485576',328,9999),('5000:1485576',329,10000),('5000:1485576',330,9972),('5000:1485576',331,3935),('5000:1485576',332,6841),('5000:1485576',333,10000),('5000:1485576',334,9996),('5000:1485576',335,10000),('5000:1485576',336,10000),('5000:1485576',337,5486),('5000:1485576',338,9899),('5000:1485576',339,9995),('5000:1485576',340,10000),('5000:1485576',341,9930),('5000:1485576',342,9979),('5000:1485576',343,10000),('5000:1485576',344,9933),('5000:1485576',345,10000),('5000:1485576',346,9999),('5000:1485576',347,9950),('5000:1485576',348,10000),('5000:1485576',349,9996),('5000:1485576',350,9996),('5000:1485576',351,8726),('5000:1485576',352,9999),('5000:1485576',353,9785),('5000:1485576',354,9984),('5000:1485576',355,9890),('5000:1485576',356,9998),('5000:1485576',357,10000),('5000:1485576',358,6889),('5000:1485576',359,9987),('5000:1485576',360,9993),('5000:1485576',361,9963),('5000:1485576',362,10000),('5000:1485576',363,9968),('5000:1485576',364,9999),('5000:1485576',365,10000),('5000:1485576',366,9963),('5000:1485576',367,9933),('5000:1485576',368,9994),('5000:1485576',369,9525),('5000:1485576',370,4657),('5000:1485576',371,9940),('5000:1485576',372,10000),('5000:1485576',373,9999),('5000:1485576',374,7573),('5000:1485576',375,9981),('5000:1485576',376,10000),('5000:1485576',377,9999),('5000:1485576',378,9965),('5000:1485576',379,9998),('5000:1485576',380,9966),('5000:1485576',381,9964),('5000:1485576',382,10000),('5000:1485576',383,10000),('5000:1485576',384,9992),('5000:1485576',385,10000),('5000:1485576',386,9989),('5000:1485576',387,9980),('5000:1485576',388,9951),('5000:1485576',389,9933),('5000:1485576',390,9999),('5000:1485576',391,9995),('5000:1485576',392,10000),('5000:1485576',393,9999),('5000:1485576',394,9997),('5000:1485576',395,9999),('5000:1485576',396,10000),('5000:1485576',397,6076),('5000:1485576',398,9998),('5000:1485576',399,9791),('5000:1485576',400,10000),('5000:1485576',401,5897),('5000:1485576',402,8242),('5000:1485576',403,9999),('5000:1485576',404,10000),('5000:1485576',405,10000),('5000:1485576',406,8677),('5000:1485576',407,9945),('5000:1485576',408,9962),('5000:1485576',409,9974),('5000:1485576',410,8568),('5000:1485576',411,9964),('5000:1485576',412,9974),('5000:1485576',413,9999),('5000:1485576',414,9990),('5000:1485576',415,4189),('5000:1485576',416,9975),('5000:1485576',417,9998),('5000:1485576',418,3866),('5000:1485576',419,9996),('5000:1485576',420,9999),('5000:1485576',421,9999),('5000:1485576',422,9997),('5000:1485576',423,9988),('5000:1485576',424,9958),('5000:1485576',425,9990),('5000:1485576',426,9997),('5000:1485576',427,9995),('5000:1485576',428,9684),('5000:1485576',429,8421),('5000:1485576',430,9999),('5000:1485576',431,9999),('5000:1485576',432,9986),('5000:1485576',433,9992),('5000:1485576',434,9999),('5000:1485576',435,9999),('5000:1485576',436,9999),('5000:1485576',437,5439),('5000:1485576',438,9999),('5000:1485576',439,10000),('5000:1485576',440,9988),('5000:1485576',441,4328),('5000:1485576',442,9976),('5000:1485576',443,9961),('5000:1485576',444,7233),('5000:1485576',445,9998),('5000:1485576',446,9998),('5000:1485576',447,9999),('5000:1485576',448,9996),('5000:1485576',449,9999),('5000:1485576',450,6526),('5000:1485576',451,9999),('5000:1485576',452,9999),('5000:1485576',453,10000),('5000:1485576',454,9997),('5000:1485576',455,9997),('5000:1485576',456,10000),('5000:1485576',457,9203),('5000:1485576',458,9999),('5000:1485576',459,9999),('5000:1485576',460,10000),('5000:1485576',461,9965),('5000:1485576',462,9940),('5000:1485576',463,9996),('5000:1485576',464,9449),('5000:1485576',465,9965),('5000:1485576',466,5215),('5000:1485576',467,9870),('5000:1485576',468,9982),('5000:1485576',469,10000),('5000:1485576',470,10000),('5000:1485576',471,9997),('5000:1485576',472,10000),('5000:1485576',473,9995),('5000:1485576',474,9997),('5000:1485576',475,10000),('5000:1485576',476,9112),('5000:1485576',477,9971),('5000:1485576',478,10000),('5000:1485576',479,10000),('5000:1485576',480,9983),('5000:1485576',481,9995),('5000:1485576',482,10000),('5000:1485576',483,9933),('5000:1485576',484,9852),('5000:1485576',485,10000),('5000:1485576',486,9999),('5000:1485576',487,9988),('5000:1485576',488,9998),('5000:1485576',489,9990),('5000:1485576',490,9998),('5000:1485576',491,9999),('5000:1485576',492,10000),('5000:1485576',493,9999),('5000:1485576',494,9999),('5000:1485576',495,10000),('5000:1485576',496,9963),('5000:1485576',497,9986),('5000:1485576',498,9996),('5000:1485576',499,10000),('5000:1485576',500,9777),('5000:1485576',501,9999),('5000:1485576',502,9998),('5000:1485576',503,8919),('5000:1485576',504,10000),('5000:1485576',505,10000),('5000:1485576',506,10000),('5000:1485576',507,9955),('5000:1485576',508,7317),('5000:1485576',509,10000),('5000:1485576',510,9932),('5000:1485576',511,6867),('5000:1485576',512,9998),('5000:1485576',513,10000),('5000:1485576',514,9552),('5000:1485576',515,10000),('5000:1485576',516,9989),('5000:1485576',517,10000),('5000:1485576',518,9997),('5000:1485576',519,9996),('5000:1485576',520,9989),('5000:1485576',521,9999),('5000:1485576',522,10000),('5000:1485576',523,10000),('5000:1485576',524,10000),('5000:1485576',525,9994),('5000:1485576',526,10000),('5000:1485576',527,3786),('5000:1485576',528,9994),('5000:1485576',529,9999),('5000:1485576',530,9980),('5000:1485576',531,9973),('5000:1485576',532,6987),('5000:1485576',533,9989),('5000:1485576',534,10000),('5000:1485576',535,7567),('5000:1485576',536,8359),('5000:1485576',537,9997),('5000:1485576',538,10000),('5000:1485576',539,9998),('5000:1485576',540,9997),('5000:1485576',541,9998),('5000:1485576',542,9999),('5000:1485576',543,9917),('5000:1485576',544,9920),('5000:1485576',545,10000),('5000:1485576',546,9995),('5000:1485576',547,6277),('5000:1485576',548,9685),('5000:1485576',549,9999),('5000:1485576',550,10000),('5000:1485576',551,9910),('5000:1485576',552,9924),('5000:1485576',553,10000),('5000:1485576',554,8707),('5000:1485576',555,9986),('5000:1485576',556,9994),('5000:1485576',557,9934),('5000:1485576',558,9991),('5000:1485576',559,9995),('5000:1485576',560,9968),('5000:1485576',561,10000),('5000:1485576',562,10000),('5000:1485576',563,5255),('5000:1485576',564,10000),('5000:1485576',565,9999),('5000:1485576',566,9998),('5000:1485576',567,9996),('5000:1485576',568,9992),('5000:1485576',569,9926),('5000:1485576',570,10000),('5000:1485576',571,9304),('5000:1485576',572,10000),('5000:1485576',573,10000),('5000:1485576',574,9999),('5000:1485576',575,10000),('5000:1485576',576,10000),('5000:1485576',577,9911),('5000:1485576',578,5278),('5000:1485576',579,10000),('5000:1485576',580,9994),('5000:1485576',581,7641),('5000:1485576',582,9606),('5000:1485576',583,10000),('5000:1485576',584,9997),('5000:1485576',585,3742),('5000:1485576',586,9969),('5000:1485576',587,9998),('5000:1485576',588,9999),('5000:1485576',589,9051),('5000:1485576',590,9999),('5000:1485576',591,6738),('5000:1485576',592,10000),('5000:1485576',593,9995),('5000:1485576',594,10000),('5000:1485576',595,10000),('5000:1485576',596,9997),('5000:1485576',597,9953),('5000:1485576',598,9629),('5000:1485576',599,9878),('5000:1485576',600,9986),('5000:1485576',601,9960),('5000:1485576',602,9994),('5000:1485576',603,6056),('5000:1485576',604,9904),('5000:1485576',605,10000),('5000:1485576',606,9996),('5000:1485576',607,9920),('5000:1485576',608,10000),('5000:1485576',609,9921),('5000:1485576',610,10000),('5000:1485576',611,5827),('5000:1485576',612,9999),('5000:1485576',613,10000),('5000:1485576',614,10000),('5000:1485576',615,9999),('5000:1485576',616,5212),('5000:1485576',617,9979),('5000:1485576',618,9941),('5000:1485576',619,9972),('5000:1485576',620,6209),('5000:1485576',621,9979),('5000:1485576',622,9999),('5000:1485576',623,9961),('5000:1485576',624,10000),('5000:1485576',625,9999),('5000:1485576',626,9999),('5000:1485576',627,9742),('5000:1485576',628,9999),('5000:1485576',629,9970),('5000:1485576',630,9997),('5000:1485576',631,9995),('5000:1485576',632,9997),('5000:1485576',633,9976),('5000:1485576',634,9971),('5000:1485576',635,9987),('5000:1485576',636,10000),('5000:1485576',637,9994),('5000:1485576',638,10000),('5000:1485576',639,9853),('5000:1485576',640,10000),('5000:1485576',641,9795),('5000:1485576',642,9875),('5000:1485576',643,9373),('5000:1485576',644,9998),('5000:1485576',645,10000),('5000:1485576',646,10000),('5000:1485576',647,9956),('5000:1485576',648,9470),('5000:1485576',649,9993),('5000:1485576',650,9992),('5000:1485576',651,9999),('5000:1485576',652,9999),('5000:1485576',653,9999),('5000:1485576',654,9989),('5000:1485576',655,5510),('5000:1485576',656,10000),('5000:1485576',657,9999),('5000:1485576',658,5048),('5000:1485576',659,9999),('5000:1485576',660,9999),('5000:1485576',661,9996),('5000:1485576',662,9999),('5000:1485576',663,9986),('5000:1485576',664,10000),('5000:1485576',665,10000),('5000:1485576',666,9983),('5000:1485576',667,9992),('5000:1485576',668,9957),('5000:1485576',669,9986),('5000:1485576',670,9972),('5000:1485576',671,9999),('5000:1485576',672,9887),('5000:1485576',673,9973),('5000:1485576',674,9996),('5000:1485576',675,6585),('5000:1485576',676,9991),('5000:1485576',677,7552),('5000:1485576',678,9979),('5000:1485576',679,9985),('5000:1485576',680,7308),('5000:1485576',681,9987),('5000:1485576',682,9928),('5000:1485576',683,4310),('5000:1485576',684,10000),('5000:1485576',685,9996),('5000:1485576',686,10000),('5000:1485576',687,5294),('5000:1485576',688,9905),('5000:1485576',689,9998),('5000:1485576',690,9998),('5000:1485576',691,9993),('5000:1485576',692,10000),('5000:1485576',693,9997),('5000:1485576',694,9999),('5000:1485576',695,10000),('5000:1485576',696,9594),('5000:1485576',697,8737),('5000:1485576',698,10000),('5000:1485576',699,9967),('5000:1485576',700,9987),('5000:1485576',701,9998),('5000:1485576',702,10000),('5000:1485576',703,5891),('5000:1485576',704,9999),('5000:1485576',705,9999),('5000:1485576',706,10000),('5000:1485576',707,9993),('5000:1485576',708,9998),('5000:1485576',709,7908),('5000:1485576',710,9999),('5000:1485576',711,9999),('5000:1485576',712,10000),('5000:1485576',713,9997),('5000:1485576',714,9983),('5000:1485576',715,9996),('5000:1485576',716,10000),('5000:1485576',717,9994),('5000:1485576',718,9998),('5000:1485576',719,9994),('5000:1485576',720,9998),('5000:1485576',721,9999),('5000:1485576',722,9999),('5000:1485576',723,9981),('5000:1485576',724,6225),('5000:1485576',725,10000),('5000:1485576',726,9985),('5000:1485576',727,6827),('5000:1485576',728,10000),('5000:1485576',729,5009),('5000:1485576',730,7819),('5000:1485576',731,6703),('5000:1485576',732,9987),('5000:1485576',733,9988),('5000:1485576',734,5435),('5000:1485576',735,9982),('5000:1485576',736,9996),('5000:1485576',737,9995),('5000:1485576',738,9999),('5000:1485576',739,9940),('5000:1485576',740,9936),('5000:1485576',741,9998),('5000:1485576',742,7434),('5000:1485576',743,9914),('5000:1485576',744,9994),('5000:1485576',745,9999),('5000:1485576',746,6283),('5000:1485576',747,9998),('5000:1485576',748,9963),('5000:1485576',749,9991),('5000:1485576',750,9999),('5000:1485576',751,9998),('5000:1485576',752,9998),('5000:1485576',753,9993),('5000:1485576',754,9996),('5000:1485576',755,4216),('5000:1485576',756,9728),('5000:1485576',757,9998),('5000:1485576',758,9999),('5000:1485576',759,9999),('5000:1485576',760,9996),('5000:1485576',761,9912),('5000:1485576',762,10000),('5000:1485576',763,4252),('5000:1485576',764,9998),('5000:1485576',765,9997),('5000:1485576',766,9998),('5000:1485576',767,9988),('5000:1485576',768,9966),('5000:1485576',769,10000),('5000:1485576',770,9996),('5000:1485576',771,9998),('5000:1485576',772,9998),('5000:1485576',773,9998),('5000:1485576',774,10000),('5000:1485576',775,6573),('5000:1485576',776,9952),('5000:1485576',777,9994),('5000:1485576',778,4831),('5000:1485576',779,10000),('5000:1485576',780,10000),('5000:1485576',781,9998),('5000:1485576',782,4618),('5000:1485576',783,9997),('5000:1485576',784,9996),('5000:1485576',785,8044),('5000:1485576',786,10000),('5000:1485576',787,3583),('5000:1485576',788,9999),('5000:1485576',789,10000),('5000:1485576',790,9997),('5000:1485576',791,9997),('5000:1485576',792,10000),('5000:1485576',793,9991),('5000:1485576',794,4516),('5000:1485576',795,8415),('5000:1485576',796,9998),('5000:1485576',797,10000),('5000:1485576',798,10000),('5000:1485576',799,9998),('5000:1485576',800,9995),('5000:1485576',801,9999),('5000:1485576',802,4791),('5000:1485576',803,9996),('5000:1485576',804,9995),('5000:1485576',805,9235),('5000:1485576',806,10000),('5000:1485576',807,6135),('5000:1485576',808,9924),('5000:1485576',809,9994),('5000:1485576',810,7311),('5000:1485576',811,9996),('5000:1485576',812,9112),('5000:1485576',813,9967),('5000:1485576',814,10000),('5000:1485576',815,10000),('5000:1485576',816,8915),('5000:1485576',817,9999),('5000:1485576',818,6940),('5000:1485576',819,9995),('5000:1485576',820,9999),('5000:1485576',821,8099),('5000:1485576',822,4890),('5000:1485576',823,9999),('5000:1485576',824,9943),('5000:1485576',825,9961),('5000:1485576',826,9997),('5000:1485576',827,9998),('5000:1485576',828,8681),('5000:1485576',829,5855),('5000:1485576',830,9997),('5000:1485576',831,9998),('5000:1485576',832,4759),('5000:1485576',833,9996),('5000:1485576',834,9995),('5000:1485576',835,7647),('5000:1485576',836,9999),('5000:1485576',837,9999),('5000:1485576',838,9637),('5000:1485576',839,9997),('5000:1485576',840,9998),('5000:1485576',841,10000),('5000:1485576',842,8624),('5000:1485576',843,9999),('5000:1485576',844,9844),('5000:1485576',845,9998),('5000:1485576',846,10000),('5000:1485576',847,9965),('5000:1485576',848,9984),('5000:1485576',849,9993),('5000:1485576',850,8025),('5000:1485576',851,10000),('5000:1485576',852,10000),('5000:1485576',853,9939),('5000:1485576',854,9979),('5000:1485576',855,10000),('5000:1485576',856,9964),('5000:1485576',857,10000),('5000:1485576',858,9999),('5000:1485576',859,9999),('5000:1485576',860,7630),('5000:1485576',861,4202),('5000:1485576',862,9999),('5000:1485576',863,6533),('5000:1485576',864,9988),('5000:1485576',865,10000),('5000:1485576',866,6143),('5000:1485576',867,9999),('5000:1485576',868,9865),('5000:1485576',869,9989),('5000:1485576',870,9996),('5000:1485576',871,9999),('5000:1485576',872,9998),('5000:1485576',873,9876),('5000:1485576',874,8993),('5000:1485576',875,9999),('5000:1485576',876,9750),('5000:1485576',877,7540),('5000:1485576',878,9995),('5000:1485576',879,5399),('5000:1485576',880,10000),('5000:1485576',881,9999),('5000:1485576',882,6536),('5000:1485576',883,9998),('5000:1485576',884,9982),('5000:1485576',885,9988),('5000:1485576',886,9999),('5000:1485576',887,9999),('5000:1485576',888,10000),('5000:1485576',889,10000),('5000:1485576',890,9976),('5000:1485576',891,6475),('5000:1485576',892,9989),('5000:1485576',893,9998),('5000:1485576',894,5694),('5000:1485576',895,10000),('5000:1485576',896,9985),('5000:1485576',897,9998),('5000:1485576',898,9998),('5000:1485576',899,9999),('5000:1485576',900,9999),('5000:1485576',901,9999),('5000:1485576',902,10000),('5000:1485576',903,9999),('5000:1485576',904,9207),('5000:1485576',905,10000),('5000:1485576',906,10000),('5000:1485576',907,9999),('5000:1485576',908,9999),('5000:1485576',909,9945),('5000:1485576',910,6786),('5000:1485576',911,9993),('5000:1485576',912,9992),('5000:1485576',913,3184),('5000:1485576',914,8033),('5000:1485576',915,10000),('5000:1485576',916,6548),('5000:1485576',917,9983),('5000:1485576',918,9862),('5000:1485576',919,10000),('5000:1485576',920,9998),('5000:1485576',921,7295),('5000:1485576',922,9998),('5000:1485576',923,9999),('5000:1485576',924,10000),('5000:1485576',925,9999),('5000:1485576',926,9994),('5000:1485576',927,9996),('5000:1485576',928,9999),('5000:1485576',929,9992),('5000:1485576',930,10000),('5000:1485576',931,9996),('5000:1485576',932,10000),('5000:1485576',933,9997),('5000:1485576',934,9992),('5000:1485576',935,9997),('5000:1485576',936,9955),('5000:1485576',937,9624),('5000:1485576',938,10000),('5000:1485576',939,9986),('5000:1485576',940,10000),('5000:1485576',941,9995),('5000:1485576',942,10000),('5000:1485576',943,9998),('5000:1485576',944,9958),('5000:1485576',945,10000),('5000:1485576',946,9988),('5000:1485576',947,9996),('5000:1485576',948,9992),('5000:1485576',949,6276),('5000:1485576',950,10000),('5000:1485576',951,8675),('5000:1485576',952,10000),('5000:1485576',953,9948),('5000:1485576',954,10000),('5000:1485576',955,10000),('5000:1485576',956,9997),('5000:1485576',957,6154),('5000:1485576',958,5942),('5000:1485576',959,9995),('5000:1485576',960,10000),('5000:1485576',961,9991),('5000:1485576',962,9621),('5000:1485576',963,9966),('5000:1485576',964,9998),('5000:1485576',965,9995),('5000:1485576',966,9981),('5000:1485576',967,9934),('5000:1485576',968,9980),('5000:1485576',969,9992),('5000:1485576',970,9988),('5000:1485576',971,8518),('5000:1485576',972,9997),('5000:1485576',973,7189),('5000:1485576',974,9136),('5000:1485576',975,9999),('5000:1485576',976,9982),('5000:1485576',977,9999),('5000:1485576',978,9989),('5000:1485576',979,9988),('5000:1485576',980,9998),('5000:1485576',981,9998),('5000:1485576',982,9998),('5000:1485576',983,10000),('5000:1485576',984,9949),('5000:1485576',985,10000),('5000:1485576',986,9987),('5000:1485576',987,9998),('5000:1485576',988,9999),('5000:1485576',989,10000),('5000:1485576',990,4914),('5000:1485576',991,9987),('5000:1485576',992,9968),('5000:1485576',993,9967),('5000:1485576',994,9943),('5000:1485576',995,9996),('5000:1485576',996,10000),('5000:1485576',997,9981),('5000:1485576',998,9889),('5000:1485576',999,9991),('5000:1485576',1000,9850),('5000:1485576',1001,9981),('5000:1485576',1002,9996),('5000:1485576',1003,10000),('5000:1485576',1004,9997),('5000:1485576',1005,6332),('5000:1485576',1006,9997),('5000:1485576',1007,10000),('5000:1485576',1008,8245),('5000:1485576',1009,9989),('5000:1485576',1010,10000),('5000:1485576',1011,9999),('5000:1485576',1012,9997),('5000:1485576',1013,9999),('5000:1485576',1014,3642),('5000:1485576',1015,10000),('5000:1485576',1016,9998),('5000:1485576',1017,9999),('5000:1485576',1018,4527),('5000:1485576',1019,9077),('5000:1485576',1020,9993),('5000:1485576',1021,9989),('5000:1485576',1022,9998),('5000:1485576',1023,9999),('5000:1485576',1024,5534),('5000:1485576',1025,9997),('5000:1485576',1026,9997),('5000:1485576',1027,9987),('5000:1485576',1028,9994),('5000:1485576',1029,10000),('5000:1485576',1030,10000),('5000:1485576',1031,9999),('5000:1485576',1032,9933),('5000:1485576',1033,10000),('5000:1485576',1034,4470),('5000:1485576',1035,10000),('5000:1485576',1036,9994),('5000:1485576',1037,9991),('5000:1485576',1038,9987),('5000:1485576',1039,5198),('5000:1485576',1040,9998),('5000:1485576',1041,9995),('5000:1485576',1042,9998),('5000:1485576',1043,9552),('5000:1485576',1044,9998),('5000:1485576',1045,3959),('5000:1485576',1046,9593),('5000:1485576',1047,9985),('5000:1485576',1048,6931),('5000:1485576',1049,9998),('5000:1485576',1050,10000),('5000:1485576',1051,9979),('5000:1485576',1052,9997),('5000:1485576',1053,10000),('5000:1485576',1054,10000),('5000:1485576',1055,10000),('5000:1485576',1056,9985),('5000:1485576',1057,9999),('5000:1485576',1058,4171),('5000:1485576',1059,8765),('5000:1485576',1060,9996),('5000:1485576',1061,7106),('5000:1485576',1062,9994),('5000:1485576',1063,9965),('5000:1485576',1064,9988),('5000:1485576',1065,10000),('5000:1485576',1066,9994),('5000:1485576',1067,9998),('5000:1485576',1068,7738),('5000:1485576',1069,9982),('5000:1485576',1070,9957),('5000:1485576',1071,9990),('5000:1485576',1072,10000),('5000:1485576',1073,9997),('5000:1485576',1074,9979),('5000:1485576',1075,9888),('5000:1485576',1076,8900),('5000:1485576',1077,8049),('5000:1485576',1078,9969),('5000:1485576',1079,9999),('5000:1485576',1080,5598),('5000:1485576',1081,9994),('5000:1485576',1082,9993),('5000:1485576',1083,4630),('5000:1485576',1084,9983),('5000:1485576',1085,9999),('5000:1485576',1086,10000),('5000:1485576',1087,9981),('5000:1485576',1088,8998),('5000:1485576',1089,9999),('5000:1485576',1090,9999),('5000:1485576',1091,10000),('5000:1485576',1092,9998),('5000:1485576',1093,9999),('5000:1485576',1094,9971),('5000:1485576',1095,9999),('5000:1485576',1096,9999),('5000:1485576',1097,9940),('5000:1485576',1098,9994),('5000:1485576',1099,9980),('5000:1485576',1100,10000),('5000:1485576',1101,9989),('5000:1485576',1102,6992),('5000:1485576',1103,4114),('5000:1485576',1104,6465),('5000:1485576',1105,10000),('5000:1485576',1106,9999),('5000:1485576',1107,6031),('5000:1485576',1108,9994),('5000:1485576',1109,10000),('5000:1485576',1110,9995),('5000:1485576',1111,9984),('5000:1485576',1112,9999),('5000:1485576',1113,10000),('5000:1485576',1114,9999),('5000:1485576',1115,9920),('5000:1485576',1116,9995),('5000:1485576',1117,9121),('5000:1485576',1118,9996),('5000:1485576',1119,9997),('5000:1485576',1120,9998),('5000:1485576',1121,9353),('5000:1485576',1122,10000),('5000:1485576',1123,9994),('5000:1485576',1124,9928),('5000:1485576',1125,10000),('5000:1485576',1126,9996),('5000:1485576',1127,9958),('5000:1485576',1128,9999),('5000:1485576',1129,9986),('5000:1485576',1130,9999),('5000:1485576',1131,9988),('5000:1485576',1132,9999),('5000:1485576',1133,6831),('5000:1485576',1134,9833),('5000:1485576',1135,3544),('5000:1485576',1136,9829),('5000:1485576',1137,9999),('5000:1485576',1138,10000),('5000:1485576',1139,10000),('5000:1485576',1140,10000),('5000:1485576',1141,9949),('5000:1485576',1142,9342),('5000:1485576',1143,9998),('5000:1485576',1144,9986),('5000:1485576',1145,6803),('5000:1485576',1146,9907),('5000:1485576',1147,9897),('5000:1485576',1148,10000),('5000:1485576',1149,9995),('5000:1485576',1150,9984),('5000:1485576',1151,10000),('5000:1485576',1152,10000),('5000:1485576',1153,10000),('5000:1485576',1154,9998),('5000:1485576',1155,9999),('5000:1485576',1156,9999),('5000:1485576',1157,10000),('5000:1485576',1158,9952),('5000:1485576',1159,9999),('5000:1485576',1160,9999),('5000:1485576',1161,9993),('5000:1485576',1162,9999),('5000:1485576',1163,10000),('5000:1485576',1164,4126),('5000:1485576',1165,9997),('5000:1485576',1166,9942),('5000:1485576',1167,9991),('5000:1485576',1168,9986),('5000:1485576',1169,9997),('5000:1485576',1170,9984),('5000:1485576',1171,3960),('5000:1485576',1172,7060),('5000:1485576',1173,10000),('5000:1485576',1174,10000),('5000:1485576',1175,9929),('5000:1485576',1176,7610),('5000:1485576',1177,9987),('5000:1485576',1178,9960),('5000:1485576',1179,9997),('5000:1485576',1180,9983),('5000:1485576',1181,9978),('5000:1485576',1182,9995),('5000:1485576',1183,6067),('5000:1485576',1184,9980),('5000:1485576',1185,7419),('5000:1485576',1186,10000),('5000:1485576',1187,10000),('5000:1485576',1188,10000),('5000:1485576',1189,9988),('5000:1485576',1190,9999),('5000:1485576',1191,9959),('5000:1485576',1192,10000),('5000:1485576',1193,8701),('5000:1485576',1194,10000),('5000:1485576',1195,5030),('5000:1485576',1196,7801),('5000:1485576',1197,10000),('5000:1485576',1198,10000),('5000:1485576',1199,9999),('5000:1485576',1200,10000),('5000:1485576',1201,9995),('5000:1485576',1202,10000),('5000:1485576',1203,5113),('5000:1485576',1204,9998),('5000:1485576',1205,9997),('5000:1485576',1206,9999),('5000:1485576',1207,9999),('5000:1485576',1208,9957),('5000:1485576',1209,9997),('5000:1485576',1210,10000),('5000:1485576',1211,9967),('5000:1485576',1212,10000),('5000:1485576',1213,9941),('5000:1485576',1214,9997),('5000:1485576',1215,9997),('5000:1485576',1216,9986),('5000:1485576',1217,9780),('5000:1485576',1218,9998),('5000:1485576',1219,9957),('5000:1485576',1220,5323),('5000:1485576',1221,9986),('5000:1485576',1222,9993),('5000:1485576',1223,4921),('5000:1485576',1224,9863),('5000:1485576',1225,9998),('5000:1485576',1226,9659),('5000:1485576',1227,9962),('5000:1485576',1228,5341),('5000:1485576',1229,9999),('5000:1485576',1230,9209),('5000:1485576',1231,4820),('5000:1485576',1232,9928),('5000:1485576',1233,10000),('5000:1485576',1234,4690),('5000:1485576',1235,9941),('5000:1485576',1236,7379),('5000:1485576',1237,7603),('5000:1485576',1238,10000),('5000:1485576',1239,9998),('5000:1485576',1240,3767),('5000:1485576',1241,9997),('5000:1485576',1242,9999),('5000:1485576',1243,6378),('5000:1485576',1244,10000),('5000:1485576',1245,10000),('5000:1485576',1246,10000),('5000:1485576',1247,9997),('5000:1485576',1248,10000),('5000:1485576',1249,10000),('5000:1485576',1250,9928),('5000:1485576',1251,9996),('5000:1485576',1252,9995),('5000:1485576',1253,10000),('5000:1485576',1254,9119),('5000:1485576',1255,10000),('5000:1485576',1256,9994),('5000:1485576',1257,9999),('5000:1485576',1258,10000),('5000:1485576',1259,9999),('5000:1485576',1260,10000),('5000:1485576',1261,5943),('5000:1485576',1262,9999),('5000:1485576',1263,9997),('5000:1485576',1264,9999),('5000:1485576',1265,10000),('5000:1485576',1266,10000),('5000:1485576',1267,9999),('5000:1485576',1268,10000),('5000:1485576',1269,10000),('5000:1485576',1270,10000),('5000:1485576',1271,9998),('5000:1485576',1272,9891),('5000:1485576',1273,10000),('5000:1485576',1274,9759),('5000:1485576',1275,7918),('5000:1485576',1276,9999),('5000:1485576',1277,10000),('5000:1485576',1278,10000),('5000:1485576',1279,10000),('5000:1485576',1280,9172),('5000:1485576',1281,9832),('5000:1485576',1282,9993),('5000:1485576',1283,9999),('5000:1485576',1284,3712),('5000:1485576',1285,9997),('5000:1485576',1286,9994),('5000:1485576',1287,9999),('5000:1485576',1288,9999),('5000:1485576',1289,9998),('5000:1485576',1290,9939),('5000:1485576',1291,8816),('5000:1485576',1292,10000),('5000:1485576',1293,9994),('5000:1485576',1294,9999),('5000:1485576',1295,4267),('5000:1485576',1296,9998),('5000:1485576',1297,9979),('5000:1485576',1298,6844),('5000:1485576',1299,10000),('5000:1485576',1300,9973),('5000:1485576',1301,6973),('5000:1485576',1302,9999),('5000:1485576',1303,10000),('5000:1485576',1304,9979),('5000:1485576',1305,9998),('5000:1485576',1306,10000),('5000:1485576',1307,9998),('5000:1485576',1308,9993),('5000:1485576',1309,9994),('5000:1485576',1310,9999),('5000:1485576',1311,9976),('5000:1485576',1312,9998),('5000:1485576',1313,10000),('5000:1485576',1314,9968),('5000:1485576',1315,6394),('5000:1485576',1316,9999),('5000:1485576',1317,9998),('5000:1485576',1318,9999),('5000:1485576',1319,10000),('5000:1485576',1320,10000),('5000:1485576',1321,9560),('5000:1485576',1322,9981),('5000:1485576',1323,9999),('5000:1485576',1324,10000),('5000:1485576',1325,9999),('5000:1485576',1326,9999),('5000:1485576',1327,7862),('5000:1485576',1328,9118),('5000:1485576',1329,9992),('5000:1485576',1330,9998),('5000:1485576',1331,9981),('5000:1485576',1332,9999),('5000:1485576',1333,9998),('5000:1485576',1334,9999),('5000:1485576',1335,6002),('5000:1485576',1336,10000),('5000:1485576',1337,8871),('5000:1485576',1338,10000),('5000:1485576',1339,9999),('5000:1485576',1340,8294),('5000:1485576',1341,9992),('5000:1485576',1342,9939),('5000:1485576',1343,9983),('5000:1485576',1344,9991),('5000:1485576',1345,3892),('5000:1485576',1346,9986),('5000:1485576',1347,9997),('5000:1485576',1348,9999),('5000:1485576',1349,9998),('5000:1485576',1350,9924),('5000:1485576',1351,10000),('5000:1485576',1352,9697),('5000:1485576',1353,10000),('5000:1485576',1354,9997),('5000:1485576',1355,9923),('5000:1485576',1356,9998),('5000:1485576',1357,9995),('5000:1485576',1358,9999),('5000:1485576',1359,9998),('5000:1485576',1360,9998),('5000:1485576',1361,10000),('5000:1485576',1362,9997),('5000:1485576',1363,9996),('5000:1485576',1364,9998),('5000:1485576',1365,10000),('5000:1485576',1366,9998),('5000:1485576',1367,6741),('5000:1485576',1368,9979),('5000:1485576',1369,9999),('5000:1485576',1370,9118),('5000:1485576',1371,9922),('5000:1485576',1372,9999),('5000:1485576',1373,9993),('5000:1485576',1374,9976),('5000:1485576',1375,10000),('5000:1485576',1376,10000),('5000:1485576',1377,9998),('5000:1485576',1378,10000),('5000:1485576',1379,9954),('5000:1485576',1380,9997),('5000:1485576',1381,9985),('5000:1485576',1382,9998),('5000:1485576',1383,9998),('5000:1485576',1384,9999),('5000:1485576',1385,9996),('5000:1485576',1386,10000),('5000:1485576',1387,9944),('5000:1485576',1388,9911),('5000:1485576',1389,9999),('5000:1485576',1390,10000),('5000:1485576',1391,9975),('5000:1485576',1392,9992),('5000:1485576',1393,9997),('5000:1485576',1394,9999),('5000:1485576',1395,9999),('5000:1485576',1396,10000),('5000:1485576',1397,9999),('5000:1485576',1398,9991),('5000:1485576',1399,9947),('5000:1485576',1400,9998),('5000:1485576',1401,10000),('5000:1485576',1402,10000),('5000:1485576',1403,4833),('5000:1485576',1404,9999),('5000:1485576',1405,9998),('5000:1485576',1406,8258),('5000:1485576',1407,5927),('5000:1485576',1408,10000),('5000:1485576',1409,9999),('5000:1485576',1410,9984),('5000:1485576',1411,5023),('5000:1485576',1412,9976),('5000:1485576',1413,9934),('5000:1485576',1414,9828),('5000:1485576',1415,10000),('5000:1485576',1416,9999),('5000:1485576',1417,9873),('5000:1485576',1418,4755),('5000:1485576',1419,9998),('5000:1485576',1420,6464),('5000:1485576',1421,9995),('5000:1485576',1422,9998),('5000:1485576',1423,9988),('5000:1485576',1424,8249),('5000:1485576',1425,9972),('5000:1485576',1426,9996),('5000:1485576',1427,4186),('5000:1485576',1428,10000),('5000:1485576',1429,10000),('5000:1485576',1430,10000),('5000:1485576',1431,9992),('5000:1485576',1432,9999),('5000:1485576',1433,9927),('5000:1485576',1434,9593),('5000:1485576',1435,9995),('5000:1485576',1436,9986),('5000:1485576',1437,10000),('5000:1485576',1438,9999),('5000:1485576',1439,9995),('5000:1485576',1440,9999),('5000:1485576',1441,8334),('5000:1485576',1442,10000),('5000:1485576',1443,10000),('5000:1485576',1444,9998),('5000:1485576',1445,10000),('5000:1485576',1446,9998),('5000:1485576',1447,3331),('5000:1485576',1448,9999),('5000:1485576',1449,6864),('5000:1485576',1450,10000),('5000:1485576',1451,9995),('5000:1485576',1452,10000),('5000:1485576',1453,9999),('5000:1485576',1454,9989),('5000:1485576',1455,9997),('5000:1485576',1456,9985),('5000:1485576',1457,10000),('5000:1485576',1458,10000),('5000:1485576',1459,9995),('5000:1485576',1460,9929),('5000:1485576',1461,9996),('5000:1485576',1462,8646),('5000:1485576',1463,9998),('5000:1485576',1464,8551),('5000:1485576',1465,9997),('5000:1485576',1466,9975),('5000:1485576',1467,9931),('5000:1485576',1468,6831),('5000:1485576',1469,6543),('5000:1485576',1470,10000),('5000:1485576',1471,9998),('5000:1485576',1472,5759),('5000:1485576',1473,9999),('5000:1485576',1474,9952),('5000:1485576',1475,9958),('5000:1485576',1476,10000),('5000:1485576',1477,9994),('5000:1485576',1478,9998),('5000:1485576',1479,9998),('5000:1485576',1480,8871),('5000:1485576',1481,9964),('5000:1485576',1482,9999),('5000:1485576',1483,9993),('5000:1485576',1484,9996),('5000:1485576',1485,7956),('5000:1485576',1486,9305),('5000:1485576',1487,9999),('5000:1485576',1488,10000),('5000:1485576',1489,10000),('5000:1485576',1490,9968),('5000:1485576',1491,9995),('5000:1485576',1492,10000),('5000:1485576',1493,10000),('5000:1485576',1494,9999),('5000:1485576',1495,6086),('5000:1485576',1496,9997),('5000:1485576',1497,9989),('5000:1485576',1498,9999),('5000:1485576',1499,9972),('5000:1485576',1500,10000),('5000:1485576',1501,9999),('5000:1485576',1502,9528),('5000:1485576',1503,9900),('5000:1485576',1504,9997),('5000:1485576',1505,9994),('5000:1485576',1506,10000),('5000:1485576',1507,9997),('5000:1485576',1508,9995),('5000:1485576',1509,9988),('5000:1485576',1510,10000),('5000:1485576',1511,7449),('5000:1485576',1512,9984),('5000:1485576',1513,9999),('5000:1485576',1514,9999),('5000:1485576',1515,9839),('5000:1485576',1516,5162),('5000:1485576',1517,9926),('5000:1485576',1518,9996),('5000:1485576',1519,10000),('5000:1485576',1520,9994),('5000:1485576',1521,9950),('5000:1485576',1522,4760),('5000:1485576',1523,5065),('5000:1485576',1524,7834),('5000:1485576',1525,7045),('5000:1485576',1526,9995),('5000:1485576',1527,6168),('5000:1485576',1528,10000),('5000:1485576',1529,9993),('5000:1485576',1530,9998),('5000:1485576',1531,9999),('5000:1485576',1532,9998),('5000:1485576',1533,10000),('5000:1485576',1534,10000),('5000:1485576',1535,10000),('5000:1485576',1536,9994),('5000:1485576',1537,9999),('5000:1485576',1538,10000),('5000:1485576',1539,9339),('5000:1485576',1540,10000),('5000:1485576',1541,9998),('5000:1485576',1542,10000),('5000:1485576',1543,9999),('5000:1485576',1544,7976),('5000:1485576',1545,9992),('5000:1485576',1546,9990),('5000:1485576',1547,6667),('5000:1485576',1548,9996),('5000:1485576',1549,5385),('5000:1485576',1550,9957),('5000:1485576',1551,9896),('5000:1485576',1552,10000),('5000:1485576',1553,10000),('5000:1485576',1554,9995),('5000:1485576',1555,9426),('5000:1485576',1556,9981),('5000:1485576',1557,10000),('5000:1485576',1558,9985),('5000:1485576',1559,10000),('5000:1485576',1560,9999),('5000:1485576',1561,9989),('5000:1485576',1562,5658),('5000:1485576',1563,10000),('5000:1485576',1564,9999),('5000:1485576',1565,9998),('5000:1485576',1566,9997),('5000:1485576',1567,7354),('5000:1485576',1568,4324),('5000:1485576',1569,6803),('5000:1485576',1570,10000),('5000:1485576',1571,9994),('5000:1485576',1572,10000),('5000:1485576',1573,9968),('5000:1485576',1574,9984),('5000:1485576',1575,9987),('5000:1485576',1576,9959),('5000:1485576',1577,7925),('5000:1485576',1578,9967),('5000:1485576',1579,9990),('5000:1485576',1580,9990),('5000:1485576',1581,10000),('5000:1485576',1582,10000),('5000:1485576',1583,10000),('5000:1485576',1584,10000),('5000:1485576',1585,10000),('5000:1485576',1586,9995),('5000:1485576',1587,9999),('5000:1485576',1588,8438),('5000:1485576',1589,9996),('5000:1485576',1590,10000),('5000:1485576',1591,9984),('5000:1485576',1592,10000),('5000:1485576',1593,9893),('5000:1485576',1594,9999),('5000:1485576',1595,5430),('5000:1485576',1596,9998),('5000:1485576',1597,9977),('5000:1485576',1598,9999),('5000:1485576',1599,9984),('5000:1485576',1600,9999),('5000:1485576',1601,7446),('5000:1485576',1602,9909),('5000:1485576',1603,9999),('5000:1485576',1604,9999),('5000:1485576',1605,9999),('5000:1485576',1606,10000),('5000:1485576',1607,9999),('5000:1485576',1608,10000),('5000:1485576',1609,10000),('5000:1485576',1610,10000),('5000:1485576',1611,6034),('5000:1485576',1612,10000),('5000:1485576',1613,8900),('5000:1485576',1614,9926),('5000:1485576',1615,9991),('5000:1485576',1616,7167),('5000:1485576',1617,7524),('5000:1485576',1618,9998),('5000:1485576',1619,6627),('5000:1485576',1620,9962),('5000:1485576',1621,9998),('5000:1485576',1622,10000),('5000:1485576',1623,5445),('5000:1485576',1624,9936),('5000:1485576',1625,9999),('5000:1485576',1626,9999),('5000:1485576',1627,9999),('5000:1485576',1628,10000),('5000:1485576',1629,9827),('5000:1485576',1630,9999),('5000:1485576',1631,4570),('5000:1485576',1632,9998),('5000:1485576',1633,10000),('5000:1485576',1634,9999),('5000:1485576',1635,9997),('5000:1485576',1636,9999),('5000:1485576',1637,4865),('5000:1485576',1638,10000),('5000:1485576',1639,10000),('5000:1485576',1640,9998),('5000:1485576',1641,9986),('5000:1485576',1642,9999),('5000:1485576',1643,9998),('5000:1485576',1644,10000),('5000:1485576',1645,10000),('5000:1485576',1646,9922),('5000:1485576',1647,9999),('5000:1485576',1648,10000),('5000:1485576',1649,10000),('5000:1485576',1650,9982),('5000:1485576',1651,10000),('5000:1485576',1652,9821),('5000:1485576',1653,9986),('5000:1485576',1654,9993),('5000:1485576',1655,6361),('5000:1485576',1656,5346),('5000:1485576',1657,9999),('5000:1485576',1658,10000),('5000:1485576',1659,9999),('5000:1485576',1660,9998),('5000:1485576',1661,9996),('5000:1485576',1662,9999),('5000:1485576',1663,10000),('5000:1485576',1664,9974),('5000:1485576',1665,9999),('5000:1485576',1666,9997),('5000:1485576',1667,9974),('5000:1485576',1668,9993),('5000:1485576',1669,8305),('5000:1485576',1670,9996),('5000:1485576',1671,9998),('5000:1485576',1672,9999),('5000:1485576',1673,9987),('5000:1485576',1674,9996),('5000:1485576',1675,9999),('5000:1485576',1676,9917),('5000:1485576',1677,9938),('5000:1485576',1678,9997),('5000:1485576',1679,9992),('5000:1485576',1680,10000),('5000:1485576',1681,9987),('5000:1485576',1682,9998),('5000:1485576',1683,10000),('5000:1485576',1684,10000),('5000:1485576',1685,3697),('5000:1485576',1686,9991),('5000:1485576',1687,9998),('5000:1485576',1688,10000),('5000:1485576',1689,9999),('5000:1485576',1690,8965),('5000:1485576',1691,9982),('5000:1485576',1692,8698),('5000:1485576',1693,7846),('5000:1485576',1694,9795),('5000:1485576',1695,9985),('5000:1485576',1696,9991),('5000:1485576',1697,4566),('5000:1485576',1698,9991),('5000:1485576',1699,9919),('5000:1485576',1700,9983),('5000:1485576',1701,10000),('5000:1485576',1702,10000),('5000:1485576',1703,9999),('5000:1485576',1704,9999),('5000:1485576',1705,9999),('5000:1485576',1706,9999),('5000:1485576',1707,5941),('5000:1485576',1708,4433),('5000:1485576',1709,10000),('5000:1485576',1710,9959),('5000:1485576',1711,10000),('5000:1485576',1712,8503),('5000:1485576',1713,7984),('5000:1485576',1714,9965),('5000:1485576',1715,9984),('5000:1485576',1716,9806),('5000:1485576',1717,10000),('5000:1485576',1718,10000),('5000:1485576',1719,7132),('5000:1485576',1720,4979),('5000:1485576',1721,9903),('5000:1485576',1722,10000),('5000:1485576',1723,9999),('5000:1485576',1724,5723),('5000:1485576',1725,9993),('5000:1485576',1726,9992),('5000:1485576',1727,10000),('5000:1485576',1728,9991),('5000:1485576',1729,10000),('5000:1485576',1730,9995),('5000:1485576',1731,10000),('5000:1485576',1732,10000),('5000:1485576',1733,9010),('5000:1485576',1734,9993),('5000:1485576',1735,8790),('5000:1485576',1736,10000),('5000:1485576',1737,6501),('5000:1485576',1738,10000),('5000:1485576',1739,5102),('5000:1485576',1740,9909),('5000:1485576',1741,9999),('5000:1485576',1742,9989),('5000:1485576',1743,9900),('5000:1485576',1744,10000),('5000:1485576',1745,6860),('5000:1485576',1746,9999),('5000:1485576',1747,8409),('5000:1485576',1748,9999),('5000:1485576',1749,9994),('5000:1485576',1750,10000),('5000:1485576',1751,9991),('5000:1485576',1752,9993),('5000:1485576',1753,10000),('5000:1485576',1754,9995),('5000:1485576',1755,9998),('5000:1485576',1756,9990),('5000:1485576',1757,9953),('5000:1485576',1758,6764),('5000:1485576',1759,10000),('5000:1485576',1760,9922),('5000:1485576',1761,9999),('5000:1485576',1762,9994),('5000:1485576',1763,9988),('5000:1485576',1764,9999),('5000:1485576',1765,10000),('5000:1485576',1766,7549),('5000:1485576',1767,9987),('5000:1485576',1768,9833),('5000:1485576',1769,9993),('5000:1485576',1770,9999),('5000:1485576',1771,5791),('5000:1485576',1772,10000),('5000:1485576',1773,9994),('5000:1485576',1774,9941),('5000:1485576',1775,9868),('5000:1485576',1776,10000),('5000:1485576',1777,9999),('5000:1485576',1778,9941),('5000:1485576',1779,9999),('5000:1485576',1780,9999),('5000:1485576',1781,10000),('5000:1485576',1782,9437),('5000:1485576',1783,10000),('5000:1485576',1784,7793),('5000:1485576',1785,9988),('5000:1485576',1786,10000),('5000:1485576',1787,9998),('5000:1485576',1788,9990),('5000:1485576',1789,10000),('5000:1485576',1790,4571),('5000:1485576',1791,9998),('5000:1485576',1792,9998),('5000:1485576',1793,9997),('5000:1485576',1794,8097),('5000:1485576',1795,9993),('5000:1485576',1796,9970),('5000:1485576',1797,9976),('5000:1485576',1798,6997),('5000:1485576',1799,9994),('5000:1485576',1800,9997),('5000:1485576',1801,9996),('5000:1485576',1802,9952),('5000:1485576',1803,9947),('5000:1485576',1804,9997),('5000:1485576',1805,9998),('5000:1485576',1806,9998),('5000:1485576',1807,4737),('5000:1485576',1808,9998),('5000:1485576',1809,9974),('5000:1485576',1810,9986),('5000:1485576',1811,10000),('5000:1485576',1812,7766),('5000:1485576',1813,9996),('5000:1485576',1814,9998),('5000:1485576',1815,9975),('5000:1485576',1816,9995),('5000:1485576',1817,9999),('5000:1485576',1818,9998),('5000:1485576',1819,9985),('5000:1485576',1820,9682),('5000:1485576',1821,9999),('5000:1485576',1822,10000),('5000:1485576',1823,9989),('5000:1485576',1824,9995),('5000:1485576',1825,9999),('5000:1485576',1826,8179),('5000:1485576',1827,9991),('5000:1485576',1828,10000),('5000:1485576',1829,5458),('5000:1485576',1830,9954),('5000:1485576',1831,9955),('5000:1485576',1832,10000),('5000:1485576',1833,9999),('5000:1485576',1834,9998),('5000:1485576',1835,10000),('5000:1485576',1836,9987),('5000:1485576',1837,9915),('5000:1485576',1838,9999),('5000:1485576',1839,9964),('5000:1485576',1840,9928),('5000:1485576',1841,9999),('5000:1485576',1842,7152),('5000:1485576',1843,9999),('5000:1485576',1844,9998),('5000:1485576',1845,9997),('5000:1485576',1846,9946),('5000:1485576',1847,9999),('5000:1485576',1848,9994),('5000:1485576',1849,9972),('5000:1485576',1850,9961),('5000:1485576',1851,8711),('5000:1485576',1852,9258),('5000:1485576',1853,9995),('5000:1485576',1854,9996),('5000:1485576',1855,9941),('5000:1485576',1856,9997),('5000:1485576',1857,8774),('5000:1485576',1858,9999),('5000:1485576',1859,10000),('5000:1485576',1860,5896),('5000:1485576',1861,10000),('5000:1485576',1862,9946),('5000:1485576',1863,9855),('5000:1485576',1864,9999),('5000:1485576',1865,9961),('5000:1485576',1866,9997),('5000:1485576',1867,9999),('5000:1485576',1868,9997),('5000:1485576',1869,9995),('5000:1485576',1870,9999),('5000:1485576',1871,10000),('5000:1485576',1872,9994),('5000:1485576',1873,9987),('5000:1485576',1874,9949),('5000:1485576',1875,9804),('5000:1485576',1876,9998),('5000:1485576',1877,9256),('5000:1485576',1878,9999),('5000:1485576',1879,4806),('5000:1485576',1880,9999),('5000:1485576',1881,7293),('5000:1485576',1882,10000),('5000:1485576',1883,9987),('5000:1485576',1884,10000),('5000:1485576',1885,9987),('5000:1485576',1886,9974),('5000:1485576',1887,10000),('5000:1485576',1888,5375),('5000:1485576',1889,8967),('5000:1485576',1890,9999),('5000:1485576',1891,9999),('5000:1485576',1892,9998),('5000:1485576',1893,9947),('5000:1485576',1894,9996),('5000:1485576',1895,10000),('5000:1485576',1896,9626),('5000:1485576',1897,9999),('5000:1485576',1898,4748),('5000:1485576',1899,4035),('5000:1485576',1900,9639),('5000:1485576',1901,9119),('5000:1485576',1902,9999),('5000:1485576',1903,9986),('5000:1485576',1904,9999),('5000:1485576',1905,9993),('5000:1485576',1906,9998),('5000:1485576',1907,9992),('5000:1485576',1908,9999),('5000:1485576',1909,9973),('5000:1485576',1910,9999),('5000:1485576',1911,9999),('5000:1485576',1912,4609),('5000:1485576',1913,10000),('5000:1485576',1914,10000),('5000:1485576',1915,9999),('5000:1485576',1916,8458),('5000:1485576',1917,9999),('5000:1485576',1918,10000),('5000:1485576',1919,6108),('5000:1485576',1920,9999),('5000:1485576',1921,7921),('5000:1485576',1922,9999),('5000:1485576',1923,9998),('5000:1485576',1924,10000),('5000:1485576',1925,9999),('5000:1485576',1926,10000),('5000:1485576',1927,9945),('5000:1485576',1928,10000),('5000:1485576',1929,9999),('5000:1485576',1930,9997),('5000:1485576',1931,9999),('5000:1485576',1932,9916),('5000:1485576',1933,9980),('5000:1485576',1934,9984),('5000:1485576',1935,10000),('5000:1485576',1936,9987),('5000:1485576',1937,9929),('5000:1485576',1938,9994),('5000:1485576',1939,9994),('5000:1485576',1940,9996),('5000:1485576',1941,9998),('5000:1485576',1942,9995),('5000:1485576',1943,10000),('5000:1485576',1944,8556),('5000:1485576',1945,9990),('5000:1485576',1946,9993),('5000:1485576',1947,9995),('5000:1485576',1948,9214),('5000:1485576',1949,9976),('5000:1485576',1950,9997),('5000:1485576',1951,10000),('5000:1485576',1952,9824),('5000:1485576',1953,9993),('5000:1485576',1954,9989),('5000:1485576',1955,9997),('5000:1485576',1956,10000),('5000:1485576',1957,9999),('5000:1485576',1958,9988),('5000:1485576',1959,9998),('5000:1485576',1960,9833),('5000:1485576',1961,9999),('5000:1485576',1962,10000),('5000:1485576',1963,9997),('5000:1485576',1964,9913),('5000:1485576',1965,9997),('5000:1485576',1966,9999),('5000:1485576',1967,10000),('5000:1485576',1968,9994),('5000:1485576',1969,7806),('5000:1485576',1970,9999),('5000:1485576',1971,10000),('5000:1485576',1972,9928),('5000:1485576',1973,7697),('5000:1485576',1974,5848),('5000:1485576',1975,9987),('5000:1485576',1976,5823),('5000:1485576',1977,9999),('5000:1485576',1978,8762),('5000:1485576',1979,9999),('5000:1485576',1980,10000),('5000:1485576',1981,10000),('5000:1485576',1982,7473),('5000:1485576',1983,9993),('5000:1485576',1984,10000),('5000:1485576',1985,9997),('5000:1485576',1986,9999),('5000:1485576',1987,10000),('5000:1485576',1988,9999),('5000:1485576',1989,9995),('5000:1485576',1990,10000),('5000:1485576',1991,10000),('5000:1485576',1992,7925),('5000:1485576',1993,9998),('5000:1485576',1994,9996),('5000:1485576',1995,9999),('5000:1485576',1996,9983),('5000:1485576',1997,9989),('5000:1485576',1998,9898),('5000:1485576',1999,10000),('5000:1485576',2000,9968),('5000:1485576',2001,10000),('5000:1485576',2002,9993),('5000:1485576',2003,9998),('5000:1485576',2004,5106),('5000:1485576',2005,9958),('5000:1485576',2006,7418),('5000:1485576',2007,6224),('5000:1485576',2008,9999),('5000:1485576',2009,9988),('5000:1485576',2010,9975),('5000:1485576',2011,9237),('5000:1485576',2012,4400),('5000:1485576',2013,9997),('5000:1485576',2014,9993),('5000:1485576',2015,9986),('5000:1485576',2016,9238),('5000:1485576',2017,9991),('5000:1485576',2018,9999),('5000:1485576',2019,9994),('5000:1485576',2020,9959),('5000:1485576',2021,9999),('5000:1485576',2022,8174),('5000:1485576',2023,9978),('5000:1485576',2024,9998),('5000:1485576',2025,9999),('5000:1485576',2026,4640),('5000:1485576',2027,9936),('5000:1485576',2028,9999),('5000:1485576',2029,9741),('5000:1485576',2030,9996),('5000:1485576',2031,10000),('5000:1485576',2032,10000),('5000:1485576',2033,6122),('5000:1485576',2034,9931),('5000:1485576',2035,7114),('5000:1485576',2036,9727),('5000:1485576',2037,9626),('5000:1485576',2038,9945),('5000:1485576',2039,9999),('5000:1485576',2040,9999),('5000:1485576',2041,8677),('5000:1485576',2042,7401),('5000:1485576',2043,10000),('5000:1485576',2044,9970),('5000:1485576',2045,9996),('5000:1485576',2046,9999),('5000:1485576',2047,9986),('5000:1485576',2048,9995),('5000:1485576',2049,10000),('5000:1485576',2050,10000),('5000:1485576',2051,9206),('5000:1485576',2052,9972),('5000:1485576',2053,9999),('5000:1485576',2054,9999),('5000:1485576',2055,5337),('5000:1485576',2056,9991),('5000:1485576',2057,9999),('5000:1485576',2058,9853),('5000:1485576',2059,9999),('5000:1485576',2060,9998),('5000:1485576',2061,7884),('5000:1485576',2062,9961),('5000:1485576',2063,4895),('5000:1485576',2064,9997),('5000:1485576',2065,10000),('5000:1485576',2066,9999),('5000:1485576',2067,9996),('5000:1485576',2068,10000),('5000:1485576',2069,8582),('5000:1485576',2070,4829),('5000:1485576',2071,10000),('5000:1485576',2072,9998),('5000:1485576',2073,9989),('5000:1485576',2074,9994),('5000:1485576',2075,9998),('5000:1485576',2076,9999),('5000:1485576',2077,9999),('5000:1485576',2078,9999),('5000:1485576',2079,9834),('5000:1485576',2080,9926),('5000:1485576',2081,7366),('5000:1485576',2082,8744),('5000:1485576',2083,10000),('5000:1485576',2084,10000),('5000:1485576',2085,7237),('5000:1485576',2086,9999),('5000:1485576',2087,10000),('5000:1485576',2088,10000),('5000:1485576',2089,10000),('5000:1485576',2090,9995),('5000:1485576',2091,10000),('5000:1485576',2092,10000),('5000:1485576',2093,6915),('5000:1485576',2094,9999),('5000:1485576',2095,9969),('5000:1485576',2096,9993),('5000:1485576',2097,8745),('5000:1485576',2098,9998),('5000:1485576',2099,9999),('5000:1485576',2100,10000),('5000:1485576',2101,9997),('5000:1485576',2102,9808),('5000:1485576',2103,9917),('5000:1485576',2104,9989),('5000:1485576',2105,10000),('5000:1485576',2106,10000),('5000:1485576',2107,9937),('5000:1485576',2108,10000),('5000:1485576',2109,7047),('5000:1485576',2110,9915),('5000:1485576',2111,9996),('5000:1485576',2112,5423),('5000:1485576',2113,3469),('5000:1485576',2114,9899),('5000:1485576',2115,9998),('5000:1485576',2116,9856),('5000:1485576',2117,9999),('5000:1485576',2118,9996),('5000:1485576',2119,10000),('5000:1485576',2120,9984),('5000:1485576',2121,10000),('5000:1485576',2122,9977),('5000:1485576',2123,9909),('5000:1485576',2124,10000),('5000:1485576',2125,9998),('5000:1485576',2126,10000),('5000:1485576',2127,10000),('5000:1485576',2128,9997),('5000:1485576',2129,9971),('5000:1485576',2130,4753),('5000:1485576',2131,8394),('5000:1485576',2132,9997),('5000:1485576',2133,9996),('5000:1485576',2134,9999),('5000:1485576',2135,9997),('5000:1485576',2136,10000),('5000:1485576',2137,9999),('5000:1485576',2138,10000),('5000:1485576',2139,9989),('5000:1485576',2140,9999),('5000:1485576',2141,10000),('5000:1485576',2142,9979),('5000:1485576',2143,10000),('5000:1485576',2144,9595),('5000:1485576',2145,9988),('5000:1485576',2146,9999),('5000:1485576',2147,9873),('5000:1485576',2148,9999),('5000:1485576',2149,10000),('5000:1485576',2150,10000),('5000:1485576',2151,9998),('5000:1485576',2152,9528),('5000:1485576',2153,9980),('5000:1485576',2154,9931),('5000:1485576',2155,8624),('5000:1485576',2156,9998),('5000:1485576',2157,10000),('5000:1485576',2158,9903),('5000:1485576',2159,9991),('5000:1485576',2160,9430),('5000:1485576',2161,9999),('5000:1485576',2162,9999),('5000:1485576',2163,7048),('5000:1485576',2164,10000),('5000:1485576',2165,9998),('5000:1485576',2166,9995),('5000:1485576',2167,9993),('5000:1485576',2168,9998),('5000:1485576',2169,9990),('5000:1485576',2170,6115),('5000:1485576',2171,9999),('5000:1485576',2172,9999),('5000:1485576',2173,8610),('5000:1485576',2174,9987),('5000:1485576',2175,7551),('5000:1485576',2176,9999),('5000:1485576',2177,9154),('5000:1485576',2178,10000),('5000:1485576',2179,6369),('5000:1485576',2180,9992),('5000:1485576',2181,9934),('5000:1485576',2182,10000),('5000:1485576',2183,9998),('5000:1485576',2184,10000),('5000:1485576',2185,8957),('5000:1485576',2186,9950),('5000:1485576',2187,9956),('5000:1485576',2188,10000),('5000:1485576',2189,9992),('5000:1485576',2190,9999),('5000:1485576',2191,9999),('5000:1485576',2192,9999),('5000:1485576',2193,10000),('5000:1485576',2194,9909),('5000:1485576',2195,5615),('5000:1485576',2196,9987),('5000:1485576',2197,9999),('5000:1485576',2198,9985),('5000:1485576',2199,10000),('5000:1485576',2200,9990),('5000:1485576',2201,9834),('5000:1485576',2202,9999),('5000:1485576',2203,9993),('5000:1485576',2204,9999),('5000:1485576',2205,9999),('5000:1485576',2206,9998),('5000:1485576',2207,5330),('5000:1485576',2208,9990),('5000:1485576',2209,9998),('5000:1485576',2210,9999),('5000:1485576',2211,10000),('5000:1485576',2212,9991),('5000:1485576',2213,9999),('5000:1485576',2214,9970),('5000:1485576',2215,5395),('5000:1485576',2216,9984),('5000:1485576',2217,9995),('5000:1485576',2218,9973),('5000:1485576',2219,9996),('5000:1485576',2220,5826),('5000:1485576',2221,9995),('5000:1485576',2222,9999),('5000:1485576',2223,10000),('5000:1485576',2224,9921),('5000:1485576',2225,10000),('5000:1485576',2226,9999),('5000:1485576',2227,9984),('5000:1485576',2228,9998),('5000:1485576',2229,9997),('5000:1485576',2230,10000),('5000:1485576',2231,9997),('5000:1485576',2232,9999),('5000:1485576',2233,9994),('5000:1485576',2234,10000),('5000:1485576',2235,9984),('5000:1485576',2236,9988),('5000:1485576',2237,9996),('5000:1485576',2238,10000),('5000:1485576',2239,9994),('5000:1485576',2240,9977),('5000:1485576',2241,9898),('5000:1485576',2242,7228),('5000:1485576',2243,5367),('5000:1485576',2244,10000),('5000:1485576',2245,9993),('5000:1485576',2246,9997),('5000:1485576',2247,9945),('5000:1485576',2248,10000),('5000:1485576',2249,9999),('5000:1485576',2250,9997),('5000:1485576',2251,9995),('5000:1485576',2252,4399),('5000:1485576',2253,10000),('5000:1485576',2254,9973),('5000:1485576',2255,9988),('5000:1485576',2256,9936),('5000:1485576',2257,9998),('5000:1485576',2258,9999),('5000:1485576',2259,9965),('5000:1485576',2260,10000),('5000:1485576',2261,10000),('5000:1485576',2262,9986),('5000:1485576',2263,9929),('5000:1485576',2264,10000),('5000:1485576',2265,10000),('5000:1485576',2266,9033),('5000:1485576',2267,9990),('5000:1485576',2268,9999),('5000:1485576',2269,9999),('5000:1485576',2270,9998),('5000:1485576',2271,9995),('5000:1485576',2272,9973),('5000:1485576',2273,9999),('5000:1485576',2274,9998),('5000:1485576',2275,9998),('5000:1485576',2276,9980),('5000:1485576',2277,6206),('5000:1485576',2278,5780),('5000:1485576',2279,8332),('5000:1485576',2280,4951),('5000:1485576',2281,10000),('5000:1485576',2282,9999),('5000:1485576',2283,9999),('5000:1485576',2284,9966),('5000:1485576',2285,9879),('5000:1485576',2286,9973),('5000:1485576',2287,9997),('5000:1485576',2288,9998),('5000:1485576',2289,9999),('5000:1485576',2290,9999),('5000:1485576',2291,9999),('5000:1485576',2292,9998),('5000:1485576',2293,9999),('5000:1485576',2294,9998),('5000:1485576',2295,9999),('5000:1485576',2296,9998),('5000:1485576',2297,9970),('5000:1485576',2298,9988),('5000:1485576',2299,10000),('5000:1485576',2300,9995),('5000:1485576',2301,9981),('5000:1485576',2302,10000),('5000:1485576',2303,9998),('5000:1485576',2304,9996),('5000:1485576',2305,10000),('5000:1485576',2306,9971),('5000:1485576',2307,9883),('5000:1485576',2308,9617),('5000:1485576',2309,9999),('5000:1485576',2310,9928),('5000:1485576',2311,9999),('5000:1485576',2312,9991),('5000:1485576',2313,9971),('5000:1485576',2314,9997),('5000:1485576',2315,8647),('5000:1485576',2316,9998),('5000:1485576',2317,9998),('5000:1485576',2318,8707),('5000:1485576',2319,10000),('5000:1485576',2320,9999),('5000:1485576',2321,10000),('5000:1485576',2322,9978),('5000:1485576',2323,9978),('5000:1485576',2324,9983),('5000:1485576',2325,9999),('5000:1485576',2326,5068),('5000:1485576',2327,9996),('5000:1485576',2328,9999),('5000:1485576',2329,9979),('5000:1485576',2330,10000),('5000:1485576',2331,9977),('5000:1485576',2332,8560),('5000:1485576',2333,9977),('5000:1485576',2334,9999),('5000:1485576',2335,9999),('5000:1485576',2336,4339),('5000:1485576',2337,9999),('5000:1485576',2338,4758),('5000:1485576',2339,10000),('5000:1485576',2340,9999),('5000:1485576',2341,10000),('5000:1485576',2342,9985),('5000:1485576',2343,9991),('5000:1485576',2344,9959),('5000:1485576',2345,10000),('5000:1485576',2346,9991),('5000:1485576',2347,9627),('5000:1485576',2348,9989),('5000:1485576',2349,10000),('5000:1485576',2350,9889),('5000:1485576',2351,9993),('5000:1485576',2352,9998),('5000:1485576',2353,9977),('5000:1485576',2354,4785),('5000:1485576',2355,10000),('5000:1485576',2356,9999),('5000:1485576',2357,9999),('5000:1485576',2358,9980),('5000:1485576',2359,10000),('5000:1485576',2360,10000),('5000:1485576',2361,9998),('5000:1485576',2362,10000),('5000:1485576',2363,10000),('5000:1485576',2364,9852),('5000:1485576',2365,6354),('5000:1485576',2366,9977),('5000:1485576',2367,9996),('5000:1485576',2368,9999),('5000:1485576',2369,9965),('5000:1485576',2370,9997),('5000:1485576',2371,9999),('5000:1485576',2372,9997),('5000:1485576',2373,8611),('5000:1485576',2374,10000),('5000:1485576',2375,9994),('5000:1485576',2376,8183),('5000:1485576',2377,9991),('5000:1485576',2378,10000),('5000:1485576',2379,10000),('5000:1485576',2380,9944),('5000:1485576',2381,9999),('5000:1485576',2382,7228),('5000:1485576',2383,10000),('5000:1485576',2384,9999),('5000:1485576',2385,9998),('5000:1485576',2386,9924),('5000:1485576',2387,7174),('5000:1485576',2388,10000),('5000:1485576',2389,9998),('5000:1485576',2390,9996),('5000:1485576',2391,9980),('5000:1485576',2392,9788),('5000:1485576',2393,9994),('5000:1485576',2394,4981),('5000:1485576',2395,9990),('5000:1485576',2396,9873),('5000:1485576',2397,9998),('5000:1485576',2398,8605),('5000:1485576',2399,9981),('5000:1485576',2400,9999),('5000:1485576',2401,9997),('5000:1485576',2402,9999),('5000:1485576',2403,5703),('5000:1485576',2404,9995),('5000:1485576',2405,10000),('5000:1485576',2406,9981),('5000:1485576',2407,3835),('5000:1485576',2408,8469),('5000:1485576',2409,9959),('5000:1485576',2410,9999),('5000:1485576',2411,9999),('5000:1485576',2412,5542),('5000:1485576',2413,10000),('5000:1485576',2414,9970),('5000:1485576',2415,9998),('5000:1485576',2416,9971),('5000:1485576',2417,9968),('5000:1485576',2418,9985),('5000:1485576',2419,9947),('5000:1485576',2420,10000),('5000:1485576',2421,10000),('5000:1485576',2422,9408),('5000:1485576',2423,9999),('5000:1485576',2424,9998),('5000:1485576',2425,10000),('5000:1485576',2426,10000),('5000:1485576',2427,9998),('5000:1485576',2428,9998),('5000:1485576',2429,10000),('5000:1485576',2430,9997),('5000:1485576',2431,9995),('5000:1485576',2432,9970),('5000:1485576',2433,9998),('5000:1485576',2434,9999),('5000:1485576',2435,9378),('5000:1485576',2436,9991),('5000:1485576',2437,9994),('5000:1485576',2438,9913),('5000:1485576',2439,9999),('5000:1485576',2440,9998),('5000:1485576',2441,8856),('5000:1485576',2442,9951),('5000:1485576',2443,9999),('5000:1485576',2444,10000),('5000:1485576',2445,9860),('5000:1485576',2446,9996),('5000:1485576',2447,10000),('5000:1485576',2448,10000),('5000:1485576',2449,9974),('5000:1485576',2450,4446),('5000:1485576',2451,10000),('5000:1485576',2452,9984),('5000:1485576',2453,9941),('5000:1485576',2454,9999),('5000:1485576',2455,9994),('5000:1485576',2456,9996),('5000:1485576',2457,9998),('5000:1485576',2458,10000),('5000:1485576',2459,9970),('5000:1485576',2460,9969),('5000:1485576',2461,9992),('5000:1485576',2462,10000),('5000:1485576',2463,10000),('5000:1485576',2464,9986),('5000:1485576',2465,9853),('5000:1485576',2466,4110),('5000:1485576',2467,5030),('5000:1485576',2468,7754),('5000:1485576',2469,9981),('5000:1485576',2470,9987),('5000:1485576',2471,9999),('5000:1485576',2472,10000),('5000:1485576',2473,9995),('5000:1485576',2474,9998),('5000:1485576',2475,9999),('5000:1485576',2476,9952),('5000:1485576',2477,9391),('5000:1485576',2478,9999),('5000:1485576',2479,8361),('5000:1485576',2480,9997),('5000:1485576',2481,8073),('5000:1485576',2482,6298),('5000:1485576',2483,10000),('5000:1485576',2484,9999),('5000:1485576',2485,10000),('5000:1485576',2486,9998),('5000:1485576',2487,9998),('5000:1485576',2488,9492),('5000:1485576',2489,9998),('5000:1485576',2490,9991),('5000:1485576',2491,10000),('5000:1485576',2492,4693),('5000:1485576',2493,9999),('5000:1485576',2494,9997),('5000:1485576',2495,6762),('5000:1485576',2496,9139),('5000:1485576',2497,10000),('5000:1485576',2498,10000),('5000:1485576',2499,9999),('5000:1485576',2500,8979),('5000:1485576',2501,9900),('5000:1485576',2502,4384),('5000:1485576',2503,9997),('5000:1485576',2504,9808),('5000:1485576',2505,10000),('5000:1485576',2506,9992),('5000:1485576',2507,9989),('5000:1485576',2508,9998),('5000:1485576',2509,9998),('5000:1485576',2510,9998),('5000:1485576',2511,9972),('5000:1485576',2512,9999),('5000:1485576',2513,9999),('5000:1485576',2514,9996),('5000:1485576',2515,9998),('5000:1485576',2516,10000),('5000:1485576',2517,10000),('5000:1485576',2518,4693),('5000:1485576',2519,9999),('5000:1485576',2520,10000),('5000:1485576',2521,9994),('5000:1485576',2522,9859),('5000:1485576',2523,4663),('5000:1485576',2524,9995),('5000:1485576',2525,8373),('5000:1485576',2526,8554),('5000:1485576',2527,9997),('5000:1485576',2528,10000),('5000:1485576',2529,9998),('5000:1485576',2530,9908),('5000:1485576',2531,9927),('5000:1485576',2532,7918),('5000:1485576',2533,9454),('5000:1485576',2534,9108),('5000:1485576',2535,9993),('5000:1485576',2536,8824),('5000:1485576',2537,10000),('5000:1485576',2538,10000),('5000:1485576',2539,5149),('5000:1485576',2540,9995),('5000:1485576',2541,9995),('5000:1485576',2542,9618),('5000:1485576',2543,9975),('5000:1485576',2544,9999),('5000:1485576',2545,10000),('5000:1485576',2546,9999),('5000:1485576',2547,9995),('5000:1485576',2548,9998),('5000:1485576',2549,10000),('5000:1485576',2550,9999),('5000:1485576',2551,9926),('5000:1485576',2552,9847),('5000:1485576',2553,9998),('5000:1485576',2554,9999),('5000:1485576',2555,10000),('5000:1485576',2556,10000),('5000:1485576',2557,9996),('5000:1485576',2558,9999),('5000:1485576',2559,10000),('5000:1485576',2560,9406),('5000:1485576',2561,7358),('5000:1485576',2562,9999),('5000:1485576',2563,9999),('5000:1485576',2564,9997),('5000:1485576',2565,10000),('5000:1485576',2566,9999),('5000:1485576',2567,9995),('5000:1485576',2568,6753),('5000:1485576',2569,9990),('5000:1485576',2570,9999),('5000:1485576',2571,9993),('5000:1485576',2572,9999),('5000:1485576',2573,9993),('5000:1485576',2574,9982),('5000:1485576',2575,5497),('5000:1485576',2576,9999),('5000:1485576',2577,9991),('5000:1485576',2578,9970),('5000:1485576',2579,10000),('5000:1485576',2580,4552),('5000:1485576',2581,9999),('5000:1485576',2582,10000),('5000:1485576',2583,9999),('5000:1485576',2584,9993),('5000:1485576',2585,9987),('5000:1485576',2586,9999),('5000:1485576',2587,10000),('5000:1485576',2588,4237),('5000:1485576',2589,9998),('5000:1485576',2590,5822),('5000:1485576',2591,9999),('5000:1485576',2592,9992),('5000:1485576',2593,9998),('5000:1485576',2594,8618),('5000:1485576',2595,9993),('5000:1485576',2596,5795),('5000:1485576',2597,9999),('5000:1485576',2598,10000),('5000:1485576',2599,9699),('5000:1485576',2600,9998),('5000:1485576',2601,9998),('5000:1485576',2602,9993),('5000:1485576',2603,10000),('5000:1485576',2604,9993),('5000:1485576',2605,8919),('5000:1485576',2606,9913),('5000:1485576',2607,9993),('5000:1485576',2608,9768),('5000:1485576',2609,9971),('5000:1485576',2610,9998),('5000:1485576',2611,9993),('5000:1485576',2612,10000),('5000:1485576',2613,10000),('5000:1485576',2614,9997),('5000:1485576',2615,5018),('5000:1485576',2616,9998),('5000:1485576',2617,9996),('5000:1485576',2618,9999),('5000:1485576',2619,9968),('5000:1485576',2620,4228),('5000:1485576',2621,9998),('5000:1485576',2622,10000),('5000:1485576',2623,9996),('5000:1485576',2624,9996),('5000:1485576',2625,10000),('5000:1485576',2626,5054),('5000:1485576',2627,9960),('5000:1485576',2628,9999),('5000:1485576',2629,5725),('5000:1485576',2630,9794),('5000:1485576',2631,10000),('5000:1485576',2632,3860),('5000:1485576',2633,10000),('5000:1485576',2634,9931),('5000:1485576',2635,9957),('5000:1485576',2636,9982),('5000:1485576',2637,9999),('5000:1485576',2638,9987),('5000:1485576',2639,10000),('5000:1485576',2640,10000),('5000:1485576',2641,6493),('5000:1485576',2642,9990),('5000:1485576',2643,9989),('5000:1485576',2644,9999),('5000:1485576',2645,9972),('5000:1485576',2646,6028),('5000:1485576',2647,9905),('5000:1485576',2648,9999),('5000:1485576',2649,9976),('5000:1485576',2650,9984),('5000:1485576',2651,9995),('5000:1485576',2652,10000),('5000:1485576',2653,9999),('5000:1485576',2654,9988),('5000:1485576',2655,9934),('5000:1485576',2656,9999),('5000:1485576',2657,4728),('5000:1485576',2658,9998),('5000:1485576',2659,9927),('5000:1485576',2660,9296),('5000:1485576',2661,9943),('5000:1485576',2662,10000),('5000:1485576',2663,10000),('5000:1485576',2664,9998),('5000:1485576',2665,9984),('5000:1485576',2666,9981),('5000:1485576',2667,9998),('5000:1485576',2668,9910),('5000:1485576',2669,9978),('5000:1485576',2670,10000),('5000:1485576',2671,9998),('5000:1485576',2672,9917),('5000:1485576',2673,9998),('5000:1485576',2674,9969),('5000:1485576',2675,9901),('5000:1485576',2676,10000),('5000:1485576',2677,10000),('5000:1485576',2678,6806),('5000:1485576',2679,9997),('5000:1485576',2680,10000),('5000:1485576',2681,9999),('5000:1485576',2682,9992),('5000:1485576',2683,9998),('5000:1485576',2684,9987),('5000:1485576',2685,9999),('5000:1485576',2686,9998),('5000:1485576',2687,9999),('5000:1485576',2688,9999),('5000:1485576',2689,10000),('5000:1485576',2690,9764),('5000:1485576',2691,9987),('5000:1485576',2692,10000),('5000:1485576',2693,9927),('5000:1485576',2694,8109),('5000:1485576',2695,9992),('5000:1485576',2696,9993),('5000:1485576',2697,10000),('5000:1485576',2698,9975),('5000:1485576',2699,10000),('5000:1485576',2700,9794),('5000:1485576',2701,10000),('5000:1485576',2702,9998),('5000:1485576',2703,9988),('5000:1485576',2704,10000),('5000:1485576',2705,10000),('5000:1485576',2706,5377),('5000:1485576',2707,9999),('5000:1485576',2708,9952),('5000:1485576',2709,9996),('5000:1485576',2710,9999),('5000:1485576',2711,6548),('5000:1485576',2712,9999),('5000:1485576',2713,9999),('5000:1485576',2714,9999),('5000:1485576',2715,9895),('5000:1485576',2716,9968),('5000:1485576',2717,9960),('5000:1485576',2718,10000),('5000:1485576',2719,9997),('5000:1485576',2720,4628),('5000:1485576',2721,9991),('5000:1485576',2722,9990),('5000:1485576',2723,10000),('5000:1485576',2724,9997),('5000:1485576',2725,9984),('5000:1485576',2726,8345),('5000:1485576',2727,5919),('5000:1485576',2728,10000),('5000:1485576',2729,10000),('5000:1485576',2730,8032),('5000:1485576',2731,9994),('5000:1485576',2732,9828),('5000:1485576',2733,9943),('5000:1485576',2734,9992),('5000:1485576',2735,9996),('5000:1485576',2736,9917),('5000:1485576',2737,5802),('5000:1485576',2738,9878),('5000:1485576',2739,9999),('5000:1485576',2740,9990),('5000:1485576',2741,9999),('5000:1485576',2742,9997),('5000:1485576',2743,9980),('5000:1485576',2744,8361),('5000:1485576',2745,10000),('5000:1485576',2746,9991),('5000:1485576',2747,10000),('5000:1485576',2748,10000),('5000:1485576',2749,9996),('5000:1485576',2750,9954),('5000:1485576',2751,10000),('5000:1485576',2752,9967),('5000:1485576',2753,9954),('5000:1485576',2754,9996),('5000:1485576',2755,9997),('5000:1485576',2756,9963),('5000:1485576',2757,10000),('5000:1485576',2758,9978),('5000:1485576',2759,9997),('5000:1485576',2760,9989),('5000:1485576',2761,5621),('5000:1485576',2762,10000),('5000:1485576',2763,7899),('5000:1485576',2764,6043),('5000:1485576',2765,9997),('5000:1485576',2766,9997),('5000:1485576',2767,9997),('5000:1485576',2768,8353),('5000:1485576',2769,9999),('5000:1485576',2770,4620),('5000:1485576',2771,9999),('5000:1485576',2772,8181),('5000:1485576',2773,9998),('5000:1485576',2774,10000),('5000:1485576',2775,9998),('5000:1485576',2776,9999),('5000:1485576',2777,10000),('5000:1485576',2778,9353),('5000:1485576',2779,4307),('5000:1485576',2780,9999),('5000:1485576',2781,10000),('5000:1485576',2782,10000),('5000:1485576',2783,9978),('5000:1485576',2784,10000),('5000:1485576',2785,9999),('5000:1485576',2786,9997),('5000:1485576',2787,9998),('5000:1485576',2788,9995),('5000:1485576',2789,10000),('5000:1485576',2790,9993),('5000:1485576',2791,7213),('5000:1485576',2792,9999),('5000:1485576',2793,9994),('5000:1485576',2794,9999),('5000:1485576',2795,9983),('5000:1485576',2796,10000),('5000:1485576',2797,9608),('5000:1485576',2798,10000),('5000:1485576',2799,10000),('5000:1485576',2800,9997),('5000:1485576',2801,9879),('5000:1485576',2802,9998),('5000:1485576',2803,8579),('5000:1485576',2804,9999),('5000:1485576',2805,9958),('5000:1485576',2806,10000),('5000:1485576',2807,5628),('5000:1485576',2808,9999),('5000:1485576',2809,6554),('5000:1485576',2810,10000),('5000:1485576',2811,10000),('5000:1485576',2812,9994),('5000:1485576',2813,3855),('5000:1485576',2814,10000),('5000:1485576',2815,9990),('5000:1485576',2816,10000),('5000:1485576',2817,9470),('5000:1485576',2818,9984),('5000:1485576',2819,9951),('5000:1485576',2820,9893),('5000:1485576',2821,10000),('5000:1485576',2822,10000),('5000:1485576',2823,5329),('5000:1485576',2824,10000),('5000:1485576',2825,9998),('5000:1485576',2826,3823),('5000:1485576',2827,8249),('5000:1485576',2828,9999),('5000:1485576',2829,9992),('5000:1485576',2830,9997),('5000:1485576',2831,10000),('5000:1485576',2832,9943),('5000:1485576',2833,10000),('5000:1485576',2834,9999),('5000:1485576',2835,9995),('5000:1485576',2836,9999),('5000:1485576',2837,9999),('5000:1485576',2838,9990),('5000:1485576',2839,9987),('5000:1485576',2840,7631),('5000:1485576',2841,10000),('5000:1485576',2842,9998),('5000:1485576',2843,9746),('5000:1485576',2844,9962),('5000:1485576',2845,10000),('5000:1485576',2846,9970),('5000:1485576',2847,5584),('5000:1485576',2848,9995),('5000:1485576',2849,9670),('5000:1485576',2850,9992),('5000:1485576',2851,7316),('5000:1485576',2852,9999),('5000:1485576',2853,10000),('5000:1485576',2854,9877),('5000:1485576',2855,8636),('5000:1485576',2856,9991),('5000:1485576',2857,9998),('5000:1485576',2858,9907),('5000:1485576',2859,9501),('5000:1485576',2860,10000),('5000:1485576',2861,9920),('5000:1485576',2862,9998),('5000:1485576',2863,10000),('5000:1485576',2864,6577),('5000:1485576',2865,10000),('5000:1485576',2866,6738),('5000:1485576',2867,8930),('5000:1485576',2868,10000),('5000:1485576',2869,9984),('5000:1485576',2870,10000),('5000:1485576',2871,9553),('5000:1485576',2872,10000),('5000:1485576',2873,6883),('5000:1485576',2874,10000),('5000:1485576',2875,6627),('5000:1485576',2876,7682),('5000:1485576',2877,9999),('5000:1485576',2878,9998),('5000:1485576',2879,9966),('5000:1485576',2880,9966),('5000:1485576',2881,10000),('5000:1485576',2882,9369),('5000:1485576',2883,9994),('5000:1485576',2884,10000),('5000:1485576',2885,10000),('5000:1485576',2886,9992),('5000:1485576',2887,9407),('5000:1485576',2888,7662),('5000:1485576',2889,4087),('5000:1485576',2890,8036),('5000:1485576',2891,8863),('5000:1485576',2892,10000),('5000:1485576',2893,9997),('5000:1485576',2894,10000),('5000:1485576',2895,10000),('5000:1485576',2896,10000),('5000:1485576',2897,10000),('5000:1485576',2898,9973),('5000:1485576',2899,9964),('5000:1485576',2900,9972),('5000:1485576',2901,10000),('5000:1485576',2902,10000),('5000:1485576',2903,10000),('5000:1485576',2904,9996),('5000:1485576',2905,9997),('5000:1485576',2906,9981),('5000:1485576',2907,9834),('5000:1485576',2908,10000),('5000:1485576',2909,9943),('5000:1485576',2910,9998),('5000:1485576',2911,9997),('5000:1485576',2912,9976),('5000:1485576',2913,9999),('5000:1485576',2914,9994),('5000:1485576',2915,8811),('5000:1485576',2916,9990),('5000:1485576',2917,9999),('5000:1485576',2918,5003),('5000:1485576',2919,9986),('5000:1485576',2920,9999),('5000:1485576',2921,9997),('5000:1485576',2922,10000),('5000:1485576',2923,9996),('5000:1485576',2924,9987),('5000:1485576',2925,9997),('5000:1485576',2926,10000),('5000:1485576',2927,9998),('5000:1485576',2928,9994),('5000:1485576',2929,10000),('5000:1485576',2930,9999),('5000:1485576',2931,10000),('5000:1485576',2932,10000),('5000:1485576',2933,9943),('5000:1485576',2934,10000),('5000:1485576',2935,9984),('5000:1485576',2936,9999),('5000:1485576',2937,10000),('5000:1485576',2938,10000),('5000:1485576',2939,9996),('5000:1485576',2940,4721),('5000:1485576',2941,9960),('5000:1485576',2942,9985),('5000:1485576',2943,9987),('5000:1485576',2944,6150),('5000:1485576',2945,10000),('5000:1485576',2946,10000),('5000:1485576',2947,9999),('5000:1485576',2948,9999),('5000:1485576',2949,9959),('5000:1485576',2950,9995),('5000:1485576',2951,9962),('5000:1485576',2952,9425),('5000:1485576',2953,9999),('5000:1485576',2954,9994),('5000:1485576',2955,10000),('5000:1485576',2956,9998),('5000:1485576',2957,9996),('5000:1485576',2958,9982),('5000:1485576',2959,9995),('5000:1485576',2960,10000),('5000:1485576',2961,9991),('5000:1485576',2962,9986),('5000:1485576',2963,8791),('5000:1485576',2964,9992),('5000:1485576',2965,9995),('5000:1485576',2966,10000),('5000:1485576',2967,9999),('5000:1485576',2968,9965),('5000:1485576',2969,9985),('5000:1485576',2970,7894),('5000:1485576',2971,10000),('5000:1485576',2972,9998),('5000:1485576',2973,9996),('5000:1485576',2974,9995),('5000:1485576',2975,9987),('5000:1485576',2976,9999),('5000:1485576',2977,9991),('5000:1485576',2978,9961),('5000:1485576',2979,9995),('5000:1485576',2980,9993),('5000:1485576',2981,9998),('5000:1485576',2982,6461),('5000:1485576',2983,10000),('5000:1485576',2984,9999),('5000:1485576',2985,6908),('5000:1485576',2986,9999),('5000:1485576',2987,9998),('5000:1485576',2988,9996),('5000:1485576',2989,9966),('5000:1485576',2990,9998),('5000:1485576',2991,9832),('5000:1485576',2992,9999),('5000:1485576',2993,9999),('5000:1485576',2994,9997),('5000:1485576',2995,9997),('5000:1485576',2996,9999),('5000:1485576',2997,9982),('5000:1485576',2998,10000),('5000:1485576',2999,9961),('5000:1485576',3000,7803),('5000:1485576',3001,9999),('5000:1485576',3002,9998),('5000:1485576',3003,9995),('5000:1485576',3004,9959),('5000:1485576',3005,9979),('5000:1485576',3006,9986),('5000:1485576',3007,9994),('5000:1485576',3008,9946),('5000:1485576',3009,9999),('5000:1485576',3010,9999),('5000:1485576',3011,9945),('5000:1485576',3012,10000),('5000:1485576',3013,10000),('5000:1485576',3014,9999),('5000:1485576',3015,10000),('5000:1485576',3016,9993),('5000:1485576',3017,9813),('5000:1485576',3018,9993),('5000:1485576',3019,10000),('5000:1485576',3020,9714),('5000:1485576',3021,9999),('5000:1485576',3022,9999),('5000:1485576',3023,9995),('5000:1485576',3024,9784),('5000:1485576',3025,10000),('5000:1485576',3026,9971),('5000:1485576',3027,9992),('5000:1485576',3028,10000),('5000:1485576',3029,9995),('5000:1485576',3030,9934),('5000:1485576',3031,10000),('5000:1485576',3032,8448),('5000:1485576',3033,9999),('5000:1485576',3034,10000),('5000:1485576',3035,8285),('5000:1485576',3036,9998),('5000:1485576',3037,10000),('5000:1485576',3038,9994),('5000:1485576',3039,9223),('5000:1485576',3040,9964),('5000:1485576',3041,9949),('5000:1485576',3042,9996),('5000:1485576',3043,9998),('5000:1485576',3044,9987),('5000:1485576',3045,9979),('5000:1485576',3046,10000),('5000:1485576',3047,9989),('5000:1485576',3048,6655),('5000:1485576',3049,10000),('5000:1485576',3050,9980),('5000:1485576',3051,9999),('5000:1485576',3052,10000),('5000:1485576',3053,10000),('5000:1485576',3054,5759),('5000:1485576',3055,10000),('5000:1485576',3056,10000),('5000:1485576',3057,7219),('5000:1485576',3058,9998),('5000:1485576',3059,10000),('5000:1485576',3060,9982),('5000:1485576',3061,9997),('5000:1485576',3062,5627),('5000:1485576',3063,5051),('5000:1485576',3064,9999),('5000:1485576',3065,9979),('5000:1485576',3066,9642),('5000:1485576',3067,9999),('5000:1485576',3068,9999),('5000:1485576',3069,10000),('5000:1485576',3070,10000),('5000:1485576',3071,9250),('5000:1485576',3072,9983),('5000:1485576',3073,4818),('5000:1485576',3074,8391),('5000:1485576',3075,10000),('5000:1485576',3076,9998),('5000:1485576',3077,9999),('5000:1485576',3078,9993),('5000:1485576',3079,9983),('5000:1485576',3080,10000),('5000:1485576',3081,9995),('5000:1485576',3082,9998),('5000:1485576',3083,10000),('5000:1485576',3084,9988),('5000:1485576',3085,10000),('5000:1485576',3086,9996),('5000:1485576',3087,9973),('5000:1485576',3088,10000),('5000:1485576',3089,7229),('5000:1485576',3090,10000),('5000:1485576',3091,9971),('5000:1485576',3092,9999),('5000:1485576',3093,10000),('5000:1485576',3094,8832),('5000:1485576',3095,9919),('5000:1485576',3096,10000),('5000:1485576',3097,9876),('5000:1485576',3098,9918),('5000:1485576',3099,9996),('5000:1485576',3100,10000),('5000:1485576',3101,9902),('5000:1485576',3102,10000),('5000:1485576',3103,9992),('5000:1485576',3104,4839),('5000:1485576',3105,10000),('5000:1485576',3106,9451),('5000:1485576',3107,9996),('5000:1485576',3108,9968),('5000:1485576',3109,9432),('5000:1485576',3110,10000),('5000:1485576',3111,9996),('5000:1485576',3112,10000),('5000:1485576',3113,9999),('5000:1485576',3114,9995),('5000:1485576',3115,7179),('5000:1485576',3116,9975),('5000:1485576',3117,9998),('5000:1485576',3118,10000),('5000:1485576',3119,9985),('5000:1485576',3120,9906),('5000:1485576',3121,9999),('5000:1485576',3122,5336),('5000:1485576',3123,9998),('5000:1485576',3124,10000),('5000:1485576',3125,10000),('5000:1485576',3126,9999),('5000:1485576',3127,10000),('5000:1485576',3128,9997),('5000:1485576',3129,9993),('5000:1485576',3130,10000),('5000:1485576',3131,9774),('5000:1485576',3132,9999),('5000:1485576',3133,8039),('5000:1485576',3134,9999),('5000:1485576',3135,9122),('5000:1485576',3136,9918),('5000:1485576',3137,10000),('5000:1485576',3138,4750),('5000:1485576',3139,4980),('5000:1485576',3140,10000),('5000:1485576',3141,9993),('5000:1485576',3142,9957),('5000:1485576',3143,9999),('5000:1485576',3144,8704),('5000:1485576',3145,9999),('5000:1485576',3146,9998),('5000:1485576',3147,9999),('5000:1485576',3148,9981),('5000:1485576',3149,10000),('5000:1485576',3150,9994),('5000:1485576',3151,9998),('5000:1485576',3152,9314),('5000:1485576',3153,9998),('5000:1485576',3154,9979),('5000:1485576',3155,9998),('5000:1485576',3156,9984),('5000:1485576',3157,8352),('5000:1485576',3158,9997),('5000:1485576',3159,4520),('5000:1485576',3160,9968),('5000:1485576',3161,9999),('5000:1485576',3162,9978),('5000:1485576',3163,9997),('5000:1485576',3164,4943),('5000:1485576',3165,9463),('5000:1485576',3166,9975),('5000:1485576',3167,7493),('5000:1485576',3168,10000),('5000:1485576',3169,10000),('5000:1485576',3170,10000),('5000:1485576',3171,9999),('5000:1485576',3172,9970),('5000:1485576',3173,9996),('5000:1485576',3174,9994),('5000:1485576',3175,10000),('5000:1485576',3176,9998),('5000:1485576',3177,9975),('5000:1485576',3178,9979),('5000:1485576',3179,10000),('5000:1485576',3180,9115),('5000:1485576',3181,6698),('5000:1485576',3182,9985),('5000:1485576',3183,9953),('5000:1485576',3184,3713),('5000:1485576',3185,9998),('5000:1485576',3186,9988),('5000:1485576',3187,9996),('5000:1485576',3188,9992),('5000:1485576',3189,9995),('5000:1485576',3190,10000),('5000:1485576',3191,7210),('5000:1485576',3192,9998),('5000:1485576',3193,9995),('5000:1485576',3194,4996),('5000:1485576',3195,9984),('5000:1485576',3196,9963),('5000:1485576',3197,10000),('5000:1485576',3198,9994),('5000:1485576',3199,9997),('5000:1485576',3200,9991),('5000:1485576',3201,9995),('5000:1485576',3202,10000),('5000:1485576',3203,9997),('5000:1485576',3204,9999),('5000:1485576',3205,10000),('5000:1485576',3206,9999),('5000:1485576',3207,10000),('5000:1485576',3208,10000),('5000:1485576',3209,10000),('5000:1485576',3210,9507),('5000:1485576',3211,7101),('5000:1485576',3212,9997),('5000:1485576',3213,9999),('5000:1485576',3214,9999),('5000:1485576',3215,10000),('5000:1485576',3216,9986),('5000:1485576',3217,9999),('5000:1485576',3218,9976),('5000:1485576',3219,10000),('5000:1485576',3220,10000),('5000:1485576',3221,9999),('5000:1485576',3222,9984),('5000:1485576',3223,9999),('5000:1485576',3224,9970),('5000:1485576',3225,9939),('5000:1485576',3226,9997),('5000:1485576',3227,9999),('5000:1485576',3228,8689),('5000:1485576',3229,10000),('5000:1485576',3230,9994),('5000:1485576',3231,9999),('5000:1485576',3232,9939),('5000:1485576',3233,5450),('5000:1485576',3234,9919),('5000:1485576',3235,9956),('5000:1485576',3236,9998),('5000:1485576',3237,7402),('5000:1485576',3238,9999),('5000:1485576',3239,9997),('5000:1485576',3240,9972),('5000:1485576',3241,9999),('5000:1485576',3242,9998),('5000:1485576',3243,9999),('5000:1485576',3244,4648),('5000:1485576',3245,10000),('5000:1485576',3246,9564),('5000:1485576',3247,10000),('5000:1485576',3248,9743),('5000:1485576',3249,9979),('5000:1485576',3250,9999),('5000:1485576',3251,5898),('5000:1485576',3252,10000),('5000:1485576',3253,8325),('5000:1485576',3254,5947),('5000:1485576',3255,9999),('5000:1485576',3256,7978),('5000:1485576',3257,9871),('5000:1485576',3258,10000),('5000:1485576',3259,10000),('5000:1485576',3260,6665),('5000:1485576',3261,9989),('5000:1485576',3262,9268),('5000:1485576',3263,10000),('5000:1485576',3264,9999),('5000:1485576',3265,9999),('5000:1485576',3266,9992),('5000:1485576',3267,9977),('5000:1485576',3268,9999),('5000:1485576',3269,9991),('5000:1485576',3270,5082),('5000:1485576',3271,9877),('5000:1485576',3272,10000),('5000:1485576',3273,5864),('5000:1485576',3274,8602),('5000:1485576',3275,9998),('5000:1485576',3276,10000),('5000:1485576',3277,10000),('5000:1485576',3278,10000),('5000:1485576',3279,9975),('5000:1485576',3280,4668),('5000:1485576',3281,10000),('5000:1485576',3282,10000),('5000:1485576',3283,9997),('5000:1485576',3284,9969),('5000:1485576',3285,10000),('5000:1485576',3286,9945),('5000:1485576',3287,9999),('5000:1485576',3288,9998),('5000:1485576',3289,9999),('5000:1485576',3290,10000),('5000:1485576',3291,9999),('5000:1485576',3292,9801),('5000:1485576',3293,9814),('5000:1485576',3294,10000),('5000:1485576',3295,9997),('5000:1485576',3296,10000),('5000:1485576',3297,9999),('5000:1485576',3298,9974),('5000:1485576',3299,10000),('5000:1485576',3300,10000),('5000:1485576',3301,9993),('5000:1485576',3302,9993),('5000:1485576',3303,9992),('5000:1485576',3304,10000),('5000:1485576',3305,8820),('5000:1485576',3306,9988),('5000:1485576',3307,10000),('5000:1485576',3308,9999),('5000:1485576',3309,9999),('5000:1485576',3310,9986),('5000:1485576',3311,9999),('5000:1485576',3312,9999),('5000:1485576',3313,9521),('5000:1485576',3314,5985),('5000:1485576',3315,9997),('5000:1485576',3316,9997),('5000:1485576',3317,9913),('5000:1485576',3318,9983),('5000:1485576',3319,9998),('5000:1485576',3320,9998),('5000:1485576',3321,8616),('5000:1485576',3322,9949),('5000:1485576',3323,6134),('5000:1485576',3324,9999),('5000:1485576',3325,9996),('5000:1485576',3326,10000),('5000:1485576',3327,10000),('5000:1485576',3328,9998),('5000:1485576',3329,9998),('5000:1485576',3330,9987),('5000:1485576',3331,9995),('5000:1485576',3332,9997),('5000:1485576',3333,9995),('5000:1485576',3334,9998),('5000:1485576',3335,9999),('5000:1485576',3336,9998),('5000:1485576',3337,9887),('5000:1485576',3338,9998),('5000:1485576',3339,9999),('5000:1485576',3340,9421),('5000:1485576',3341,10000),('5000:1485576',3342,9985),('5000:1485576',3343,9888),('5000:1485576',3344,9995),('5000:1485576',3345,9992),('5000:1485576',3346,5810),('5000:1485576',3347,9999),('5000:1485576',3348,9993),('5000:1485576',3349,9391),('5000:1485576',3350,9999),('5000:1485576',3351,9993),('5000:1485576',3352,9997),('5000:1485576',3353,9982),('5000:1485576',3354,5402),('5000:1485576',3355,9992),('5000:1485576',3356,9970),('5000:1485576',3357,10000),('5000:1485576',3358,9999),('5000:1485576',3359,9912),('5000:1485576',3360,5812),('5000:1485576',3361,7314),('5000:1485576',3362,9987),('5000:1485576',3363,9963),('5000:1485576',3364,9984),('5000:1485576',3365,9990),('5000:1485576',3366,10000),('5000:1485576',3367,9999),('5000:1485576',3368,10000),('5000:1485576',3369,9998),('5000:1485576',3370,9999),('5000:1485576',3371,9999),('5000:1485576',3372,10000),('5000:1485576',3373,9999),('5000:1485576',3374,9994),('5000:1485576',3375,9999),('5000:1485576',3376,9997),('5000:1485576',3377,5058),('5000:1485576',3378,9970),('5000:1485576',3379,9980),('5000:1485576',3380,8427),('5000:1485576',3381,10000),('5000:1485576',3382,9928),('5000:1485576',3383,9998),('5000:1485576',3384,9998),('5000:1485576',3385,9984),('5000:1485576',3386,9997),('5000:1485576',3387,9988),('5000:1485576',3388,9999),('5000:1485576',3389,9907),('5000:1485576',3390,9984),('5000:1485576',3391,9997),('5000:1485576',3392,10000),('5000:1485576',3393,9999),('5000:1485576',3394,6844),('5000:1485576',3395,9965),('5000:1485576',3396,9999),('5000:1485576',3397,10000),('5000:1485576',3398,9718),('5000:1485576',3399,9973),('5000:1485576',3400,6643),('5000:1485576',3401,9881),('5000:1485576',3402,5591),('5000:1485576',3403,10000),('5000:1485576',3404,10000),('5000:1485576',3405,7550),('5000:1485576',3406,7220),('5000:1485576',3407,10000),('5000:1485576',3408,9985),('5000:1485576',3409,9994),('5000:1485576',3410,7589),('5000:1485576',3411,6261),('5000:1485576',3412,10000),('5000:1485576',3413,9998),('5000:1485576',3414,9897),('5000:1485576',3415,9997),('5000:1485576',3416,9998),('5000:1485576',3417,9992),('5000:1485576',3418,9999),('5000:1485576',3419,9999),('5000:1485576',3420,9668),('5000:1485576',3421,9991),('5000:1485576',3422,10000),('5000:1485576',3423,4529),('5000:1485576',3424,8705),('5000:1485576',3425,3421),('5000:1485576',3426,6741),('5000:1485576',3427,9999),('5000:1485576',3428,5644),('5000:1485576',3429,10000),('5000:1485576',3430,10000),('5000:1485576',3431,9995),('5000:1485576',3432,10000),('5000:1485576',3433,9999),('5000:1485576',3434,9969),('5000:1485576',3435,10000),('5000:1485576',3436,9842),('5000:1485576',3437,9999),('5000:1485576',3438,9998),('5000:1485576',3439,9946),('5000:1485576',3440,9824),('5000:1485576',3441,9998),('5000:1485576',3442,9999),('5000:1485576',3443,9986),('5000:1485576',3444,6395),('5000:1485576',3445,7964),('5000:1485576',3446,9896),('5000:1485576',3447,10000),('5000:1485576',3448,9985),('5000:1485576',3449,9996),('5000:1485576',3450,10000),('5000:1485576',3451,10000),('5000:1485576',3452,9999),('5000:1485576',3453,9995),('5000:1485576',3454,6691),('5000:1485576',3455,9996),('5000:1485576',3456,10000),('5000:1485576',3457,9995),('5000:1485576',3458,9998),('5000:1485576',3459,7673),('5000:1485576',3460,9993),('5000:1485576',3461,9997),('5000:1485576',3462,4926),('5000:1485576',3463,9933),('5000:1485576',3464,10000),('5000:1485576',3465,10000),('5000:1485576',3466,9998),('5000:1485576',3467,9970),('5000:1485576',3468,10000),('5000:1485576',3469,9999),('5000:1485576',3470,10000),('5000:1485576',3471,9999),('5000:1485576',3472,9962),('5000:1485576',3473,9999),('5000:1485576',3474,9995),('5000:1485576',3475,9968),('5000:1485576',3476,9995),('5000:1485576',3477,9999),('5000:1485576',3478,9980),('5000:1485576',3479,10000),('5000:1485576',3480,9993),('5000:1485576',3481,9986),('5000:1485576',3482,10000),('5000:1485576',3483,9945),('5000:1485576',3484,7855),('5000:1485576',3485,10000),('5000:1485576',3486,5817),('5000:1485576',3487,8235),('5000:1485576',3488,9997),('5000:1485576',3489,10000),('5000:1485576',3490,9996),('5000:1485576',3491,9975),('5000:1485576',3492,9991),('5000:1485576',3493,10000),('5000:1485576',3494,9996),('5000:1485576',3495,9970),('5000:1485576',3496,9780),('5000:1485576',3497,10000),('5000:1485576',3498,9985),('5000:1485576',3499,9981),('5000:1485576',3500,9930),('5000:1485576',3501,9917),('5000:1485576',3502,9996),('5000:1485576',3503,10000),('5000:1485576',3504,5922),('5000:1485576',3505,9980),('5000:1485576',3506,9999),('5000:1485576',3507,9923),('5000:1485576',3508,9999),('5000:1485576',3509,10000),('5000:1485576',3510,9999),('5000:1485576',3511,10000),('5000:1485576',3512,9310),('5000:1485576',3513,9998),('5000:1485576',3514,10000),('5000:1485576',3515,9999),('5000:1485576',3516,8259),('5000:1485576',3517,9997),('5000:1485576',3518,9984),('5000:1485576',3519,7973),('5000:1485576',3520,9877),('5000:1485576',3521,10000),('5000:1485576',3522,10000),('5000:1485576',3523,9999),('5000:1485576',3524,10000),('5000:1485576',3525,9970),('5000:1485576',3526,10000),('5000:1485576',3527,9999),('5000:1485576',3528,10000),('5000:1485576',3529,10000),('5000:1485576',3530,9995),('5000:1485576',3531,8501),('5000:1485576',3532,9517),('5000:1485576',3533,9989),('5000:1485576',3534,4533),('5000:1485576',3535,9988),('5000:1485576',3536,7287),('5000:1485576',3537,9980),('5000:1485576',3538,9996),('5000:1485576',3539,9321),('5000:1485576',3540,9976),('5000:1485576',3541,9998),('5000:1485576',3542,5372),('5000:1485576',3543,8534),('5000:1485576',3544,10000),('5000:1485576',3545,10000),('5000:1485576',3546,10000),('5000:1485576',3547,9977),('5000:1485576',3548,10000),('5000:1485576',3549,9989),('5000:1485576',3550,6968),('5000:1485576',3551,7148),('5000:1485576',3552,10000),('5000:1485576',3553,9983),('5000:1485576',3554,10000),('5000:1485576',3555,9986),('5000:1485576',3556,10000),('5000:1485576',3557,9999),('5000:1485576',3558,9997),('5000:1485576',3559,9950),('5000:1485576',3560,9999),('5000:1485576',3561,9921),('5000:1485576',3562,9999),('5000:1485576',3563,10000),('5000:1485576',3564,9976),('5000:1485576',3565,9999),('5000:1485576',3566,9995),('5000:1485576',3567,10000),('5000:1485576',3568,9998),('5000:1485576',3569,10000),('5000:1485576',3570,9974),('5000:1485576',3571,9992),('5000:1485576',3572,7903),('5000:1485576',3573,10000),('5000:1485576',3574,9964),('5000:1485576',3575,9930),('5000:1485576',3576,9252),('5000:1485576',3577,9981),('5000:1485576',3578,6238),('5000:1485576',3579,7875),('5000:1485576',3580,9998),('5000:1485576',3581,9991),('5000:1485576',3582,9993),('5000:1485576',3583,9998),('5000:1485576',3584,10000),('5000:1485576',3585,10000),('5000:1485576',3586,9994),('5000:1485576',3587,9999),('5000:1485576',3588,7926),('5000:1485576',3589,9999),('5000:1485576',3590,9999),('5000:1485576',3591,9829),('5000:1485576',3592,9990),('5000:1485576',3593,10000),('5000:1485576',3594,10000),('5000:1485576',3595,9999),('5000:1485576',3596,10000),('5000:1485576',3597,9979),('5000:1485576',3598,9978),('5000:1485576',3599,9997),('5000:1485576',3600,4857),('5000:1485576',3601,9959),('5000:1485576',3602,9999),('5000:1485576',3603,9989),('5000:1485576',3604,8997),('5000:1485576',3605,9997),('5000:1485576',3606,9992),('5000:1485576',3607,9999),('5000:1485576',3608,5001),('5000:1485576',3609,10000),('5000:1485576',3610,10000),('5000:1485576',3611,9983),('5000:1485576',3612,9999),('5000:1485576',3613,10000),('5000:1485576',3614,9984),('5000:1485576',3615,9991),('5000:1485576',3616,9996),('5000:1485576',3617,9933),('5000:1485576',3618,9998),('5000:1485576',3619,8881),('5000:1485576',3620,9993),('5000:1485576',3621,9991),('5000:1485576',3622,7508),('5000:1485576',3623,9991),('5000:1485576',3624,9935),('5000:1485576',3625,9988),('5000:1485576',3626,9995),('5000:1485576',3627,7171),('5000:1485576',3628,8058),('5000:1485576',3629,4465),('5000:1485576',3630,9993),('5000:1485576',3631,9979),('5000:1485576',3632,4503),('5000:1485576',3633,7165),('5000:1485576',3634,9976),('5000:1485576',3635,9996),('5000:1485576',3636,7427),('5000:1485576',3637,9998),('5000:1485576',3638,9999),('5000:1485576',3639,9978),('5000:1485576',3640,9999),('5000:1485576',3641,9984),('5000:1485576',3642,9996),('5000:1485576',3643,9170),('5000:1485576',3644,10000),('5000:1485576',3645,5883),('5000:1485576',3646,9556),('5000:1485576',3647,9990),('5000:1485576',3648,10000),('5000:1485576',3649,10000),('5000:1485576',3650,4537),('5000:1485576',3651,9984),('5000:1485576',3652,9998),('5000:1485576',3653,9999),('5000:1485576',3654,8347),('5000:1485576',3655,10000),('5000:1485576',3656,9997),('5000:1485576',3657,9991),('5000:1485576',3658,9998),('5000:1485576',3659,10000),('5000:1485576',3660,5819),('5000:1485576',3661,9999),('5000:1485576',3662,10000),('5000:1485576',3663,10000),('5000:1485576',3664,10000),('5000:1485576',3665,9978),('5000:1485576',3666,6649),('5000:1485576',3667,9995),('5000:1485576',3668,9992),('5000:1485576',3669,9062),('5000:1485576',3670,10000),('5000:1485576',3671,9998),('5000:1485576',3672,10000),('5000:1485576',3673,9999),('5000:1485576',3674,4853),('5000:1485576',3675,4779),('5000:1485576',3676,6909),('5000:1485576',3677,9453),('5000:1485576',3678,6942),('5000:1485576',3679,7026),('5000:1485576',3680,4437),('5000:1485576',3681,5735),('5000:1485576',3682,9949),('5000:1485576',3683,4590),('5000:1485576',3684,9942),('5000:1485576',3685,9983),('5000:1485576',3686,9999),('5000:1485576',3687,9999),('5000:1485576',3688,10000),('5000:1485576',3689,5657),('5000:1485576',3690,9986),('5000:1485576',3691,9856),('5000:1485576',3692,9999),('5000:1485576',3693,9999),('5000:1485576',3694,9956),('5000:1485576',3695,9966),('5000:1485576',3696,9981),('5000:1485576',3697,5545),('5000:1485576',3698,10000),('5000:1485576',3699,9983),('5000:1485576',3700,6627),('5000:1485576',3701,9984),('5000:1485576',3702,9998),('5000:1485576',3703,9868),('5000:1485576',3704,9978),('5000:1485576',3705,10000),('5000:1485576',3706,5035),('5000:1485576',3707,8975),('5000:1485576',3708,9999),('5000:1485576',3709,9991),('5000:1485576',3710,9365),('5000:1485576',3711,4956),('5000:1485576',3712,9991),('5000:1485576',3713,10000),('5000:1485576',3714,9961),('5000:1485576',3715,10000),('5000:1485576',3716,3987),('5000:1485576',3717,10000),('5000:1485576',3718,9429),('5000:1485576',3719,9957),('5000:1485576',3720,9995),('5000:1485576',3721,9962),('5000:1485576',3722,10000),('5000:1485576',3723,6595),('5000:1485576',3724,9999),('5000:1485576',3725,9998),('5000:1485576',3726,9999),('5000:1485576',3727,9986),('5000:1485576',3728,10000),('5000:1485576',3729,9974),('5000:1485576',3730,9787),('5000:1485576',3731,10000),('5000:1485576',3732,9995),('5000:1485576',3733,10000),('5000:1485576',3734,10000),('5000:1485576',3735,9975),('5000:1485576',3736,5743),('5000:1485576',3737,10000),('5000:1485576',3738,9990),('5000:1485576',3739,10000),('5000:1485576',3740,10000),('5000:1485576',3741,9999),('5000:1485576',3742,9900),('5000:1485576',3743,10000),('5000:1485576',3744,9998),('5000:1485576',3745,10000),('5000:1485576',3746,9999),('5000:1485576',3747,9989),('5000:1485576',3748,9976),('5000:1485576',3749,9976),('5000:1485576',3750,8067),('5000:1485576',3751,10000),('5000:1485576',3752,9952),('5000:1485576',3753,9999),('5000:1485576',3754,9958),('5000:1485576',3755,9994),('5000:1485576',3756,9997),('5000:1485576',3757,8363),('5000:1485576',3758,10000),('5000:1485576',3759,9998),('5000:1485576',3760,10000),('5000:1485576',3761,9997),('5000:1485576',3762,8406),('5000:1485576',3763,9999),('5000:1485576',3764,9997),('5000:1485576',3765,5447),('5000:1485576',3766,9986),('5000:1485576',3767,9998),('5000:1485576',3768,9994),('5000:1485576',3769,9983),('5000:1485576',3770,9992),('5000:1485576',3771,9899),('5000:1485576',3772,10000),('5000:1485576',3773,9994),('5000:1485576',3774,9566),('5000:1485576',3775,6319),('5000:1485576',3776,10000),('5000:1485576',3777,9965),('5000:1485576',3778,9995),('5000:1485576',3779,10000),('5000:1485576',3780,9999),('5000:1485576',3781,9999),('5000:1485576',3782,10000),('5000:1485576',3783,9980),('5000:1485576',3784,4858),('5000:1485576',3785,8692),('5000:1485576',3786,10000),('5000:1485576',3787,9984),('5000:1485576',3788,10000),('5000:1485576',3789,4180),('5000:1485576',3790,4320),('5000:1485576',3791,10000),('5000:1485576',3792,9998),('5000:1485576',3793,9986),('5000:1485576',3794,9976),('5000:1485576',3795,9998),('5000:1485576',3796,8663),('5000:1485576',3797,9998),('5000:1485576',3798,8315),('5000:1485576',3799,9999),('5000:1485576',3800,10000),('5000:1485576',3801,10000),('5000:1485576',3802,10000),('5000:1485576',3803,10000),('5000:1485576',3804,9999),('5000:1485576',3805,10000),('5000:1485576',3806,9999),('5000:1485576',3807,9884),('5000:1485576',3808,9986),('5000:1485576',3809,9999),('5000:1485576',3810,9999),('5000:1485576',3811,6384),('5000:1485576',3812,9998),('5000:1485576',3813,9995),('5000:1485576',3814,9972),('5000:1485576',3815,10000),('5000:1485576',3816,7095),('5000:1485576',3817,9969),('5000:1485576',3818,5623),('5000:1485576',3819,8865),('5000:1485576',3820,9999),('5000:1485576',3821,9997),('5000:1485576',3822,9604),('5000:1485576',3823,9999),('5000:1485576',3824,10000),('5000:1485576',3825,10000),('5000:1485576',3826,10000),('5000:1485576',3827,9999),('5000:1485576',3828,9994),('5000:1485576',3829,9995),('5000:1485576',3830,10000),('5000:1485576',3831,9852),('5000:1485576',3832,3824),('5000:1485576',3833,9912),('5000:1485576',3834,10000),('5000:1485576',3835,8809),('5000:1485576',3836,9999),('5000:1485576',3837,9714),('5000:1485576',3838,10000),('5000:1485576',3839,10000),('5000:1485576',3840,9985),('5000:1485576',3841,9999),('5000:1485576',3842,10000),('5000:1485576',3843,9958),('5000:1485576',3844,10000),('5000:1485576',3845,6687),('5000:1485576',3846,10000),('5000:1485576',3847,9997),('5000:1485576',3848,9971),('5000:1485576',3849,9964),('5000:1485576',3850,9999),('5000:1485576',3851,9938),('5000:1485576',3852,9858),('5000:1485576',3853,9998),('5000:1485576',3854,10000),('5000:1485576',3855,9547),('5000:1485576',3856,9985),('5000:1485576',3857,9999),('5000:1485576',3858,4335),('5000:1485576',3859,9999),('5000:1485576',3860,8931),('5000:1485576',3861,10000),('5000:1485576',3862,9991),('5000:1485576',3863,9998),('5000:1485576',3864,9962),('5000:1485576',3865,3809),('5000:1485576',3866,9991),('5000:1485576',3867,10000),('5000:1485576',3868,9997),('5000:1485576',3869,9998),('5000:1485576',3870,9992),('5000:1485576',3871,9997),('5000:1485576',3872,9999),('5000:1485576',3873,9955),('5000:1485576',3874,9996),('5000:1485576',3875,10000),('5000:1485576',3876,5907),('5000:1485576',3877,10000),('5000:1485576',3878,6242),('5000:1485576',3879,9996),('5000:1485576',3880,9999),('5000:1485576',3881,10000),('5000:1485576',3882,10000),('5000:1485576',3883,9987),('5000:1485576',3884,9999),('5000:1485576',3885,9995),('5000:1485576',3886,9971),('5000:1485576',3887,9461),('5000:1485576',3888,9297),('5000:1485576',3889,5176),('5000:1485576',3890,10000),('5000:1485576',3891,9989),('5000:1485576',3892,9959),('5000:1485576',3893,9999),('5000:1485576',3894,9987),('5000:1485576',3895,9999),('5000:1485576',3896,9997),('5000:1485576',3897,9987),('5000:1485576',3898,9968),('5000:1485576',3899,10000),('5000:1485576',3900,10000),('5000:1485576',3901,10000),('5000:1485576',3902,9998),('5000:1485576',3903,9999),('5000:1485576',3904,9976),('5000:1485576',3905,9966),('5000:1485576',3906,9977),('5000:1485576',3907,6538),('5000:1485576',3908,9969),('5000:1485576',3909,5173),('5000:1485576',3910,9999),('5000:1485576',3911,9943),('5000:1485576',3912,9999),('5000:1485576',3913,9986),('5000:1485576',3914,9984),('5000:1485576',3915,10000),('5000:1485576',3916,9999),('5000:1485576',3917,9993),('5000:1485576',3918,10000),('5000:1485576',3919,9999),('5000:1485576',3920,9988),('5000:1485576',3921,10000),('5000:1485576',3922,6324),('5000:1485576',3923,9963),('5000:1485576',3924,9983),('5000:1485576',3925,8706),('5000:1485576',3926,9851),('5000:1485576',3927,6928),('5000:1485576',3928,9999),('5000:1485576',3929,9999),('5000:1485576',3930,9972),('5000:1485576',3931,9535),('5000:1485576',3932,9249),('5000:1485576',3933,10000),('5000:1485576',3934,9986),('5000:1485576',3935,5130),('5000:1485576',3936,9999),('5000:1485576',3937,10000),('5000:1485576',3938,9994),('5000:1485576',3939,10000),('5000:1485576',3940,9999),('5000:1485576',3941,9998),('5000:1485576',3942,9999),('5000:1485576',3943,9999),('5000:1485576',3944,9953),('5000:1485576',3945,5464),('5000:1485576',3946,9998),('5000:1485576',3947,9972),('5000:1485576',3948,9999),('5000:1485576',3949,8227),('5000:1485576',3950,10000),('5000:1485576',3951,9948),('5000:1485576',3952,10000),('5000:1485576',3953,10000),('5000:1485576',3954,9999),('5000:1485576',3955,9974),('5000:1485576',3956,9998),('5000:1485576',3957,9997),('5000:1485576',3958,9999),('5000:1485576',3959,9991),('5000:1485576',3960,10000),('5000:1485576',3961,9999),('5000:1485576',3962,10000),('5000:1485576',3963,7629),('5000:1485576',3964,9714),('5000:1485576',3965,9999),('5000:1485576',3966,8585),('5000:1485576',3967,9994),('5000:1485576',3968,10000),('5000:1485576',3969,9944),('5000:1485576',3970,9998),('5000:1485576',3971,9959),('5000:1485576',3972,10000),('5000:1485576',3973,10000),('5000:1485576',3974,9996),('5000:1485576',3975,7612),('5000:1485576',3976,9960),('5000:1485576',3977,9995),('5000:1485576',3978,10000),('5000:1485576',3979,9999),('5000:1485576',3980,9998),('5000:1485576',3981,10000),('5000:1485576',3982,9993),('5000:1485576',3983,9998),('5000:1485576',3984,9998),('5000:1485576',3985,6912),('5000:1485576',3986,9997),('5000:1485576',3987,6294),('5000:1485576',3988,10000),('5000:1485576',3989,4658),('5000:1485576',3990,9999),('5000:1485576',3991,4838),('5000:1485576',3992,10000),('5000:1485576',3993,7224),('5000:1485576',3994,9998),('5000:1485576',3995,10000),('5000:1485576',3996,10000),('5000:1485576',3997,6125),('5000:1485576',3998,9905),('5000:1485576',3999,9961),('5000:1485576',4000,9022),('5000:1485576',4001,10000),('5000:1485576',4002,6428),('5000:1485576',4003,9997),('5000:1485576',4004,6574),('5000:1485576',4005,9990),('5000:1485576',4006,9998),('5000:1485576',4007,10000),('5000:1485576',4008,9994),('5000:1485576',4009,9995),('5000:1485576',4010,10000),('5000:1485576',4011,9999),('5000:1485576',4012,9986),('5000:1485576',4013,8311),('5000:1485576',4014,9990),('5000:1485576',4015,10000),('5000:1485576',4016,9999),('5000:1485576',4017,9997),('5000:1485576',4018,10000),('5000:1485576',4019,10000),('5000:1485576',4020,9996),('5000:1485576',4021,10000),('5000:1485576',4022,8778),('5000:1485576',4023,4533),('5000:1485576',4024,9995),('5000:1485576',4025,9999),('5000:1485576',4026,10000),('5000:1485576',4027,9999),('5000:1485576',4028,9198),('5000:1485576',4029,9999),('5000:1485576',4030,10000),('5000:1485576',4031,9998),('5000:1485576',4032,5520),('5000:1485576',4033,9998),('5000:1485576',4034,9998),('5000:1485576',4035,9997),('5000:1485576',4036,9067),('5000:1485576',4037,9998),('5000:1485576',4038,6736),('5000:1485576',4039,9884),('5000:1485576',4040,9796),('5000:1485576',4041,3739),('5000:1485576',4042,9996),('5000:1485576',4043,9998),('5000:1485576',4044,7952),('5000:1485576',4045,7074),('5000:1485576',4046,10000),('5000:1485576',4047,10000),('5000:1485576',4048,9999),('5000:1485576',4049,10000),('5000:1485576',4050,9981),('5000:1485576',4051,10000),('5000:1485576',4052,9535),('5000:1485576',4053,9982),('5000:1485576',4054,9981),('5000:1485576',4055,9999),('5000:1485576',4056,9911),('5000:1485576',4057,9975),('5000:1485576',4058,9894),('5000:1485576',4059,9990),('5000:1485576',4060,10000),('5000:1485576',4061,9999),('5000:1485576',4062,9958),('5000:1485576',4063,9999),('5000:1485576',4064,4368),('5000:1485576',4065,9999),('5000:1485576',4066,9997),('5000:1485576',4067,9999),('5000:1485576',4068,10000),('5000:1485576',4069,10000),('5000:1485576',4070,4301),('5000:1485576',4071,6028),('5000:1485576',4072,3814),('5000:1485576',4073,10000),('5000:1485576',4074,5639),('5000:1485576',4075,9997),('5000:1485576',4076,9970),('5000:1485576',4077,10000),('5000:1485576',4078,9998),('5000:1485576',4079,10000),('5000:1485576',4080,10000),('5000:1485576',4081,9999),('5000:1485576',4082,9998),('5000:1485576',4083,9993),('5000:1485576',4084,4549),('5000:1485576',4085,9992),('5000:1485576',4086,9999),('5000:1485576',4087,9998),('5000:1485576',4088,7716),('5000:1485576',4089,8747),('5000:1485576',4090,10000),('5000:1485576',4091,9999),('5000:1485576',4092,10000),('5000:1485576',4093,9673),('5000:1485576',4094,9998),('5000:1485576',4095,10000),('5000:1485576',4096,3814),('5000:1485576',4097,10000),('5000:1485576',4098,10000),('5000:1485576',4099,9998),('5000:1485576',4100,10000),('5000:1485576',4101,9983),('5000:1485576',4102,9858),('5000:1485576',4103,9999),('5000:1485576',4104,9991),('5000:1485576',4105,9984),('5000:1485576',4106,9943),('5000:1485576',4107,9986),('5000:1485576',4108,9999),('5000:1485576',4109,5055),('5000:1485576',4110,9966),('5000:1485576',4111,10000),('5000:1485576',4112,9999),('5000:1485576',4113,10000),('5000:1485576',4114,5956),('5000:1485576',4115,9987),('5000:1485576',4116,9931),('5000:1485576',4117,9998),('5000:1485576',4118,9952),('5000:1485576',4119,6527),('5000:1485576',4120,10000),('5000:1485576',4121,9996),('5000:1485576',4122,8846),('5000:1485576',4123,9082),('5000:1485576',4124,9996),('5000:1485576',4125,9997),('5000:1485576',4126,6469),('5000:1485576',4127,10000),('5000:1485576',4128,9998),('5000:1485576',4129,8513),('5000:1485576',4130,9989),('5000:1485576',4131,4341),('5000:1485576',4132,9995),('5000:1485576',4133,9990),('5000:1485576',4134,10000),('5000:1485576',4135,10000),('5000:1485576',4136,9407),('5000:1485576',4137,8643),('5000:1485576',4138,9997),('5000:1485576',4139,9999),('5000:1485576',4140,9899),('5000:1485576',4141,9131),('5000:1485576',4142,5691),('5000:1485576',4143,9998),('5000:1485576',4144,3564),('5000:1485576',4145,9987),('5000:1485576',4146,10000),('5000:1485576',4147,9978),('5000:1485576',4148,9998),('5000:1485576',4149,10000),('5000:1485576',4150,9909),('5000:1485576',4151,10000),('5000:1485576',4152,8034),('5000:1485576',4153,9670),('5000:1485576',4154,9997),('5000:1485576',4155,9999),('5000:1485576',4156,9999),('5000:1485576',4157,10000),('5000:1485576',4158,6863),('5000:1485576',4159,9981),('5000:1485576',4160,10000),('5000:1485576',4161,9998),('5000:1485576',4162,9921),('5000:1485576',4163,10000),('5000:1485576',4164,9816),('5000:1485576',4165,9999),('5000:1485576',4166,10000),('5000:1485576',4167,9943),('5000:1485576',4168,10000),('5000:1485576',4169,9947),('5000:1485576',4170,9976),('5000:1485576',4171,9986),('5000:1485576',4172,9999),('5000:1485576',4173,9995),('5000:1485576',4174,9985),('5000:1485576',4175,8126),('5000:1485576',4176,9999),('5000:1485576',4177,9990),('5000:1485576',4178,10000),('5000:1485576',4179,9975),('5000:1485576',4180,9999),('5000:1485576',4181,9999),('5000:1485576',4182,9985),('5000:1485576',4183,6863),('5000:1485576',4184,9991),('5000:1485576',4185,5216),('5000:1485576',4186,9957),('5000:1485576',4187,9990),('5000:1485576',4188,9999),('5000:1485576',4189,9997),('5000:1485576',4190,9998),('5000:1485576',4191,6577),('5000:1485576',4192,9979),('5000:1485576',4193,9999),('5000:1485576',4194,9998),('5000:1485576',4195,10000),('5000:1485576',4196,9972),('5000:1485576',4197,10000),('5000:1485576',4198,9999),('5000:1485576',4199,10000),('5000:1485576',4200,10000),('5000:1485576',4201,10000),('5000:1485576',4202,5450),('5000:1485576',4203,6949),('5000:1485576',4204,9996),('5000:1485576',4205,9998),('5000:1485576',4206,8310),('5000:1485576',4207,10000),('5000:1485576',4208,7924),('5000:1485576',4209,10000),('5000:1485576',4210,9995),('5000:1485576',4211,9995),('5000:1485576',4212,9978),('5000:1485576',4213,9999),('5000:1485576',4214,9998),('5000:1485576',4215,9991),('5000:1485576',4216,9953),('5000:1485576',4217,9613),('5000:1485576',4218,9989),('5000:1485576',4219,10000),('5000:1485576',4220,9996),('5000:1485576',4221,10000),('5000:1485576',4222,9999),('5000:1485576',4223,9794),('5000:1485576',4224,9997),('5000:1485576',4225,9999),('5000:1485576',4226,10000),('5000:1485576',4227,3748),('5000:1485576',4228,9999),('5000:1485576',4229,9999),('5000:1485576',4230,9999),('5000:1485576',4231,10000),('5000:1485576',4232,9986),('5000:1485576',4233,9983),('5000:1485576',4234,9999),('5000:1485576',4235,9999),('5000:1485576',4236,9995),('5000:1485576',4237,6102),('5000:1485576',4238,8418),('5000:1485576',4239,9988),('5000:1485576',4240,10000),('5000:1485576',4241,9833),('5000:1485576',4242,10000),('5000:1485576',4243,9987),('5000:1485576',4244,9997),('5000:1485576',4245,9997),('5000:1485576',4246,7603),('5000:1485576',4247,8939),('5000:1485576',4248,9998),('5000:1485576',4249,7787),('5000:1485576',4250,9818),('5000:1485576',4251,10000),('5000:1485576',4252,9978),('5000:1485576',4253,9996),('5000:1485576',4254,7006),('5000:1485576',4255,10000),('5000:1485576',4256,9883),('5000:1485576',4257,9994),('5000:1485576',4258,9994),('5000:1485576',4259,6442),('5000:1485576',4260,9928),('5000:1485576',4261,9999),('5000:1485576',4262,9997),('5000:1485576',4263,9988),('5000:1485576',4264,6485),('5000:1485576',4265,10000),('5000:1485576',4266,10000),('5000:1485576',4267,9995),('5000:1485576',4268,9998),('5000:1485576',4269,9998),('5000:1485576',4270,9999),('5000:1485576',4271,9987),('5000:1485576',4272,9936),('5000:1485576',4273,9064),('5000:1485576',4274,9999),('5000:1485576',4275,10000),('5000:1485576',4276,9984),('5000:1485576',4277,10000),('5000:1485576',4278,5410),('5000:1485576',4279,6366),('5000:1485576',4280,9664),('5000:1485576',4281,10000),('5000:1485576',4282,9914),('5000:1485576',4283,7711),('5000:1485576',4284,10000),('5000:1485576',4285,9999),('5000:1485576',4286,9951),('5000:1485576',4287,5024),('5000:1485576',4288,7146),('5000:1485576',4289,9994),('5000:1485576',4290,10000),('5000:1485576',4291,6080),('5000:1485576',4292,6049),('5000:1485576',4293,5940),('5000:1485576',4294,9993),('5000:1485576',4295,9997),('5000:1485576',4296,9992),('5000:1485576',4297,9938),('5000:1485576',4298,9999),('5000:1485576',4299,9996),('5000:1485576',4300,9896),('5000:1485576',4301,5776),('5000:1485576',4302,10000),('5000:1485576',4303,9999),('5000:1485576',4304,9864),('5000:1485576',4305,9994),('5000:1485576',4306,9937),('5000:1485576',4307,10000),('5000:1485576',4308,10000),('5000:1485576',4309,9999),('5000:1485576',4310,9998),('5000:1485576',4311,9999),('5000:1485576',4312,10000),('5000:1485576',4313,10000),('5000:1485576',4314,9309),('5000:1485576',4315,9988),('5000:1485576',4316,9997),('5000:1485576',4317,10000),('5000:1485576',4318,9999),('5000:1485576',4319,9999),('5000:1485576',4320,10000),('5000:1485576',4321,10000),('5000:1485576',4322,9999),('5000:1485576',4323,9991),('5000:1485576',4324,9999),('5000:1485576',4325,4482),('5000:1485576',4326,9976),('5000:1485576',4327,9995),('5000:1485576',4328,9999),('5000:1485576',4329,9993),('5000:1485576',4330,6969),('5000:1485576',4331,5634),('5000:1485576',4332,8256),('5000:1485576',4333,9996),('5000:1485576',4334,9978),('5000:1485576',4335,10000),('5000:1485576',4336,9998),('5000:1485576',4337,9931),('5000:1485576',4338,7921),('5000:1485576',4339,9990),('5000:1485576',4340,8430),('5000:1485576',4341,9997),('5000:1485576',4342,9996),('5000:1485576',4343,9992),('5000:1485576',4344,9999),('5000:1485576',4345,9995),('5000:1485576',4346,9975),('5000:1485576',4347,9821),('5000:1485576',4348,9999),('5000:1485576',4349,10000),('5000:1485576',4350,9979),('5000:1485576',4351,10000),('5000:1485576',4352,9997),('5000:1485576',4353,9998),('5000:1485576',4354,10000),('5000:1485576',4355,4189),('5000:1485576',4356,10000),('5000:1485576',4357,9884),('5000:1485576',4358,3556),('5000:1485576',4359,10000),('5000:1485576',4360,10000),('5000:1485576',4361,9945),('5000:1485576',4362,10000),('5000:1485576',4363,9948),('5000:1485576',4364,9904),('5000:1485576',4365,8255),('5000:1485576',4366,9985),('5000:1485576',4367,9994),('5000:1485576',4368,3962),('5000:1485576',4369,4059),('5000:1485576',4370,9995),('5000:1485576',4371,10000),('5000:1485576',4372,9999),('5000:1485576',4373,4319),('5000:1485576',4374,6388),('5000:1485576',4375,9984),('5000:1485576',4376,10000),('5000:1485576',4377,9997),('5000:1485576',4378,10000),('5000:1485576',4379,9998),('5000:1485576',4380,9996),('5000:1485576',4381,10000),('5000:1485576',4382,9979),('5000:1485576',4383,10000),('5000:1485576',4384,9996),('5000:1485576',4385,9999),('5000:1485576',4386,10000),('5000:1485576',4387,5645),('5000:1485576',4388,10000),('5000:1485576',4389,10000),('5000:1485576',4390,9979),('5000:1485576',4391,10000),('5000:1485576',4392,10000),('5000:1485576',4393,7778),('5000:1485576',4394,10000),('5000:1485576',4395,9216),('5000:1485576',4396,9997),('5000:1485576',4397,10000),('5000:1485576',4398,10000),('5000:1485576',4399,6472),('5000:1485576',4400,9997),('5000:1485576',4401,9998),('5000:1485576',4402,10000),('5000:1485576',4403,10000),('5000:1485576',4404,9999),('5000:1485576',4405,6650),('5000:1485576',4406,9931),('5000:1485576',4407,10000),('5000:1485576',4408,9040),('5000:1485576',4409,9493),('5000:1485576',4410,9874),('5000:1485576',4411,9985),('5000:1485576',4412,9996),('5000:1485576',4413,9982),('5000:1485576',4414,9997),('5000:1485576',4415,9946),('5000:1485576',4416,9989),('5000:1485576',4417,10000),('5000:1485576',4418,10000),('5000:1485576',4419,9980),('5000:1485576',4420,9996),('5000:1485576',4421,9997),('5000:1485576',4422,9990),('5000:1485576',4423,10000),('5000:1485576',4424,9878),('5000:1485576',4425,9668),('5000:1485576',4426,9997),('5000:1485576',4427,10000),('5000:1485576',4428,9997),('5000:1485576',4429,9767),('5000:1485576',4430,10000),('5000:1485576',4431,9997),('5000:1485576',4432,9999),('5000:1485576',4433,6349),('5000:1485576',4434,9966),('5000:1485576',4435,10000),('5000:1485576',4436,10000),('5000:1485576',4437,9997),('5000:1485576',4438,9988),('5000:1485576',4439,9975),('5000:1485576',4440,10000),('5000:1485576',4441,4141),('5000:1485576',4442,9975),('5000:1485576',4443,9996),('5000:1485576',4444,8110),('5000:1485576',4445,9713),('5000:1485576',4446,9996),('5000:1485576',4447,9994),('5000:1485576',4448,9978),('5000:1485576',4449,9938),('5000:1485576',4450,7957),('5000:1485576',4451,9989),('5000:1485576',4452,9999),('5000:1485576',4453,10000),('5000:1485576',4454,5562),('5000:1485576',4455,9999),('5000:1485576',4456,9997),('5000:1485576',4457,10000),('5000:1485576',4458,9995),('5000:1485576',4459,10000),('5000:1485576',4460,9999),('5000:1485576',4461,9956),('5000:1485576',4462,9991),('5000:1485576',4463,9999),('5000:1485576',4464,10000),('5000:1485576',4465,7417),('5000:1485576',4466,9999),('5000:1485576',4467,10000),('5000:1485576',4468,9999),('5000:1485576',4469,9879),('5000:1485576',4470,7780),('5000:1485576',4471,9975),('5000:1485576',4472,8436),('5000:1485576',4473,9995),('5000:1485576',4474,5882),('5000:1485576',4475,9992),('5000:1485576',4476,9978),('5000:1485576',4477,10000),('5000:1485576',4478,10000),('5000:1485576',4479,9958),('5000:1485576',4480,9974),('5000:1485576',4481,9954),('5000:1485576',4482,9968),('5000:1485576',4483,10000),('5000:1485576',4484,9353),('5000:1485576',4485,9998),('5000:1485576',4486,10000),('5000:1485576',4487,9999),('5000:1485576',4488,9990),('5000:1485576',4489,8604),('5000:1485576',4490,9986),('5000:1485576',4491,9999),('5000:1485576',4492,10000),('5000:1485576',4493,9996),('5000:1485576',4494,9948),('5000:1485576',4495,9998),('5000:1485576',4496,10000),('5000:1485576',4497,9989),('5000:1485576',4498,9998),('5000:1485576',4499,4262),('5000:1485576',4500,10000),('5000:1485576',4501,9997),('5000:1485576',4502,9891),('5000:1485576',4503,5076),('5000:1485576',4504,9957),('5000:1485576',4505,9996),('5000:1485576',4506,5157),('5000:1485576',4507,9998),('5000:1485576',4508,9997),('5000:1485576',4509,9999),('5000:1485576',4510,8543),('5000:1485576',4511,9994),('5000:1485576',4512,9995),('5000:1485576',4513,10000),('5000:1485576',4514,9322),('5000:1485576',4515,9940),('5000:1485576',4516,8207),('5000:1485576',4517,9983),('5000:1485576',4518,10000),('5000:1485576',4519,9977),('5000:1485576',4520,10000),('5000:1485576',4521,9954),('5000:1485576',4522,9998),('5000:1485576',4523,9997),('5000:1485576',4524,9999),('5000:1485576',4525,9978),('5000:1485576',4526,10000),('5000:1485576',4527,9992),('5000:1485576',4528,10000),('5000:1485576',4529,9999),('5000:1485576',4530,9986),('5000:1485576',4531,9999),('5000:1485576',4532,10000),('5000:1485576',4533,9997),('5000:1485576',4534,9970),('5000:1485576',4535,4665),('5000:1485576',4536,10000),('5000:1485576',4537,9982),('5000:1485576',4538,9994),('5000:1485576',4539,9980),('5000:1485576',4540,5520),('5000:1485576',4541,9999),('5000:1485576',4542,10000),('5000:1485576',4543,9993),('5000:1485576',4544,9999),('5000:1485576',4545,10000),('5000:1485576',4546,9969),('5000:1485576',4547,9976),('5000:1485576',4548,9982),('5000:1485576',4549,9955),('5000:1485576',4550,10000),('5000:1485576',4551,8033),('5000:1485576',4552,9977),('5000:1485576',4553,9999),('5000:1485576',4554,9987),('5000:1485576',4555,8230),('5000:1485576',4556,10000),('5000:1485576',4557,5346),('5000:1485576',4558,9984),('5000:1485576',4559,9994),('5000:1485576',4560,6140),('5000:1485576',4561,10000),('5000:1485576',4562,9986),('5000:1485576',4563,10000),('5000:1485576',4564,9996),('5000:1485576',4565,9998),('5000:1485576',4566,9999),('5000:1485576',4567,9980),('5000:1485576',4568,9917),('5000:1485576',4569,10000),('5000:1485576',4570,9992),('5000:1485576',4571,4935),('5000:1485576',4572,9613),('5000:1485576',4573,3156),('5000:1485576',4574,9953),('5000:1485576',4575,9975),('5000:1485576',4576,9852),('5000:1485576',4577,8129),('5000:1485576',4578,9999),('5000:1485576',4579,9646),('5000:1485576',4580,9918),('5000:1485576',4581,9999),('5000:1485576',4582,9260),('5000:1485576',4583,10000),('5000:1485576',4584,9984),('5000:1485576',4585,10000),('5000:1485576',4586,7027),('5000:1485576',4587,9989),('5000:1485576',4588,9998),('5000:1485576',4589,10000),('5000:1485576',4590,10000),('5000:1485576',4591,9999),('5000:1485576',4592,9941),('5000:1485576',4593,9982),('5000:1485576',4594,10000),('5000:1485576',4595,10000),('5000:1485576',4596,9999),('5000:1485576',4597,10000),('5000:1485576',4598,9995),('5000:1485576',4599,9841),('5000:1485576',4600,9995),('5000:1485576',4601,9999),('5000:1485576',4602,9999),('5000:1485576',4603,10000),('5000:1485576',4604,9131),('5000:1485576',4605,3979),('5000:1485576',4606,9898),('5000:1485576',4607,9997),('5000:1485576',4608,9886),('5000:1485576',4609,9997),('5000:1485576',4610,9987),('5000:1485576',4611,10000),('5000:1485576',4612,9998),('5000:1485576',4613,9929),('5000:1485576',4614,9776),('5000:1485576',4615,9995),('5000:1485576',4616,9989),('5000:1485576',4617,7551),('5000:1485576',4618,9992),('5000:1485576',4619,9581),('5000:1485576',4620,9997),('5000:1485576',4621,10000),('5000:1485576',4622,5455),('5000:1485576',4623,9995),('5000:1485576',4624,9995),('5000:1485576',4625,9996),('5000:1485576',4626,9998),('5000:1485576',4627,9992),('5000:1485576',4628,7286),('5000:1485576',4629,5819),('5000:1485576',4630,9941),('5000:1485576',4631,6715),('5000:1485576',4632,9998),('5000:1485576',4633,9998),('5000:1485576',4634,10000),('5000:1485576',4635,9999),('5000:1485576',4636,9994),('5000:1485576',4637,9999),('5000:1485576',4638,9063),('5000:1485576',4639,9128),('5000:1485576',4640,7804),('5000:1485576',4641,9356),('5000:1485576',4642,10000),('5000:1485576',4643,6733),('5000:1485576',4644,8024),('5000:1485576',4645,9999),('5000:1485576',4646,10000),('5000:1485576',4647,9999),('5000:1485576',4648,9999),('5000:1485576',4649,10000),('5000:1485576',4650,9999),('5000:1485576',4651,10000),('5000:1485576',4652,10000),('5000:1485576',4653,10000),('5000:1485576',4654,9984),('5000:1485576',4655,7855),('5000:1485576',4656,9994),('5000:1485576',4657,9999),('5000:1485576',4658,9971),('5000:1485576',4659,9999),('5000:1485576',4660,9999),('5000:1485576',4661,9971),('5000:1485576',4662,10000),('5000:1485576',4663,9990),('5000:1485576',4664,6951),('5000:1485576',4665,7449),('5000:1485576',4666,9996),('5000:1485576',4667,10000),('5000:1485576',4668,9999),('5000:1485576',4669,10000),('5000:1485576',4670,9998),('5000:1485576',4671,9994),('5000:1485576',4672,9579),('5000:1485576',4673,9943),('5000:1485576',4674,9999),('5000:1485576',4675,10000),('5000:1485576',4676,9999),('5000:1485576',4677,10000),('5000:1485576',4678,10000),('5000:1485576',4679,9912),('5000:1485576',4680,4908),('5000:1485576',4681,8035),('5000:1485576',4682,9430),('5000:1485576',4683,8767),('5000:1485576',4684,9925),('5000:1485576',4685,9996),('5000:1485576',4686,10000),('5000:1485576',4687,4791),('5000:1485576',4688,10000),('5000:1485576',4689,9844),('5000:1485576',4690,9997),('5000:1485576',4691,9999),('5000:1485576',4692,9999),('5000:1485576',4693,9993),('5000:1485576',4694,9996),('5000:1485576',4695,10000),('5000:1485576',4696,9930),('5000:1485576',4697,9886),('5000:1485576',4698,3912),('5000:1485576',4699,9988),('5000:1485576',4700,7575),('5000:1485576',4701,9887),('5000:1485576',4702,9981),('5000:1485576',4703,10000),('5000:1485576',4704,9991),('5000:1485576',4705,3997),('5000:1485576',4706,10000),('5000:1485576',4707,9933),('5000:1485576',4708,9999),('5000:1485576',4709,9998),('5000:1485576',4710,9997),('5000:1485576',4711,9943),('5000:1485576',4712,10000),('5000:1485576',4713,9937),('5000:1485576',4714,10000),('5000:1485576',4715,9999),('5000:1485576',4716,9999),('5000:1485576',4717,9999),('5000:1485576',4718,9994),('5000:1485576',4719,9997),('5000:1485576',4720,7787),('5000:1485576',4721,9995),('5000:1485576',4722,9998),('5000:1485576',4723,9961),('5000:1485576',4724,10000),('5000:1485576',4725,9990),('5000:1485576',4726,10000),('5000:1485576',4727,9999),('5000:1485576',4728,9843),('5000:1485576',4729,10000),('5000:1485576',4730,8107),('5000:1485576',4731,9219),('5000:1485576',4732,10000),('5000:1485576',4733,10000),('5000:1485576',4734,5087),('5000:1485576',4735,9999),('5000:1485576',4736,9997),('5000:1485576',4737,9989),('5000:1485576',4738,10000),('5000:1485576',4739,5418),('5000:1485576',4740,9999),('5000:1485576',4741,10000),('5000:1485576',4742,6139),('5000:1485576',4743,9999),('5000:1485576',4744,10000),('5000:1485576',4745,9999),('5000:1485576',4746,10000),('5000:1485576',4747,9999),('5000:1485576',4748,9964),('5000:1485576',4749,10000),('5000:1485576',4750,9970),('5000:1485576',4751,9995),('5000:1485576',4752,9994),('5000:1485576',4753,10000),('5000:1485576',4754,9999),('5000:1485576',4755,10000),('5000:1485576',4756,10000),('5000:1485576',4757,9879),('5000:1485576',4758,9815),('5000:1485576',4759,10000),('5000:1485576',4760,5687),('5000:1485576',4761,9998),('5000:1485576',4762,9996),('5000:1485576',4763,9999),('5000:1485576',4764,9995),('5000:1485576',4765,6751),('5000:1485576',4766,9630),('5000:1485576',4767,10000),('5000:1485576',4768,10000),('5000:1485576',4769,4179),('5000:1485576',4770,9986),('5000:1485576',4771,9228),('5000:1485576',4772,6837),('5000:1485576',4773,9999),('5000:1485576',4774,9979),('5000:1485576',4775,8495),('5000:1485576',4776,9998),('5000:1485576',4777,10000),('5000:1485576',4778,9985),('5000:1485576',4779,9999),('5000:1485576',4780,9999),('5000:1485576',4781,10000),('5000:1485576',4782,9992),('5000:1485576',4783,6293),('5000:1485576',4784,9999),('5000:1485576',4785,10000),('5000:1485576',4786,10000),('5000:1485576',4787,9998),('5000:1485576',4788,9998),('5000:1485576',4789,10000),('5000:1485576',4790,9992),('5000:1485576',4791,9957),('5000:1485576',4792,9999),('5000:1485576',4793,10000),('5000:1485576',4794,10000),('5000:1485576',4795,9999),('5000:1485576',4796,9984),('5000:1485576',4797,10000),('5000:1485576',4798,4932),('5000:1485576',4799,10000),('5000:1485576',4800,10000),('5000:1485576',4801,10000),('5000:1485576',4802,10000),('5000:1485576',4803,7656),('5000:1485576',4804,9999),('5000:1485576',4805,10000),('5000:1485576',4806,9999),('5000:1485576',4807,9985),('5000:1485576',4808,9997),('5000:1485576',4809,10000),('5000:1485576',4810,5310),('5000:1485576',4811,9887),('5000:1485576',4812,10000),('5000:1485576',4813,9999),('5000:1485576',4814,9993),('5000:1485576',4815,9996),('5000:1485576',4816,5770),('5000:1485576',4817,9976),('5000:1485576',4818,9999),('5000:1485576',4819,9985),('5000:1485576',4820,9991),('5000:1485576',4821,7723),('5000:1485576',4822,9999),('5000:1485576',4823,9999),('5000:1485576',4824,10000),('5000:1485576',4825,9995),('5000:1485576',4826,5401),('5000:1485576',4827,9994),('5000:1485576',4828,9937),('5000:1485576',4829,4982),('5000:1485576',4830,9999),('5000:1485576',4831,9885),('5000:1485576',4832,9997),('5000:1485576',4833,10000),('5000:1485576',4834,9996),('5000:1485576',4835,7972),('5000:1485576',4836,10000),('5000:1485576',4837,7073),('5000:1485576',4838,9997),('5000:1485576',4839,4469),('5000:1485576',4840,9441),('5000:1485576',4841,9998),('5000:1485576',4842,9995),('5000:1485576',4843,9994),('5000:1485576',4844,9999),('5000:1485576',4845,10000),('5000:1485576',4846,9998),('5000:1485576',4847,9966),('5000:1485576',4848,9988),('5000:1485576',4849,9999),('5000:1485576',4850,9900),('5000:1485576',4851,9998),('5000:1485576',4852,10000),('5000:1485576',4853,5398),('5000:1485576',4854,9871),('5000:1485576',4855,5712),('5000:1485576',4856,9981),('5000:1485576',4857,9999),('5000:1485576',4858,9999),('5000:1485576',4859,9998),('5000:1485576',4860,9991),('5000:1485576',4861,9925),('5000:1485576',4862,9990),('5000:1485576',4863,4605),('5000:1485576',4864,8751),('5000:1485576',4865,9999),('5000:1485576',4866,9993),('5000:1485576',4867,9999),('5000:1485576',4868,9996),('5000:1485576',4869,7957),('5000:1485576',4870,9980),('5000:1485576',4871,9967),('5000:1485576',4872,9992),('5000:1485576',4873,9923),('5000:1485576',4874,9999),('5000:1485576',4875,9998),('5000:1485576',4876,9999),('5000:1485576',4877,9972),('5000:1485576',4878,10000),('5000:1485576',4879,9957),('5000:1485576',4880,9984),('5000:1485576',4881,9997),('5000:1485576',4882,3881),('5000:1485576',4883,7688),('5000:1485576',4884,8480),('5000:1485576',4885,9998),('5000:1485576',4886,10000),('5000:1485576',4887,10000),('5000:1485576',4888,10000),('5000:1485576',4889,9936),('5000:1485576',4890,9999),('5000:1485576',4891,9942),('5000:1485576',4892,6057),('5000:1485576',4893,9999),('5000:1485576',4894,9994),('5000:1485576',4895,7515),('5000:1485576',4896,9998),('5000:1485576',4897,9998),('5000:1485576',4898,9999),('5000:1485576',4899,10000),('5000:1485576',4900,9998),('5000:1485576',4901,9960),('5000:1485576',4902,9998),('5000:1485576',4903,9999),('5000:1485576',4904,9972),('5000:1485576',4905,10000),('5000:1485576',4906,9991),('5000:1485576',4907,5236),('5000:1485576',4908,10000),('5000:1485576',4909,9997),('5000:1485576',4910,9998),('5000:1485576',4911,9953),('5000:1485576',4912,10000),('5000:1485576',4913,10000),('5000:1485576',4914,9998),('5000:1485576',4915,10000),('5000:1485576',4916,5509),('5000:1485576',4917,7797),('5000:1485576',4918,10000),('5000:1485576',4919,10000),('5000:1485576',4920,9998),('5000:1485576',4921,9998),('5000:1485576',4922,9989),('5000:1485576',4923,4879),('5000:1485576',4924,9980),('5000:1485576',4925,10000),('5000:1485576',4926,6107),('5000:1485576',4927,9974),('5000:1485576',4928,10000),('5000:1485576',4929,4686),('5000:1485576',4930,10000),('5000:1485576',4931,9989),('5000:1485576',4932,9999),('5000:1485576',4933,9999),('5000:1485576',4934,10000),('5000:1485576',4935,10000),('5000:1485576',4936,10000),('5000:1485576',4937,9997),('5000:1485576',4938,10000),('5000:1485576',4939,9923),('5000:1485576',4940,10000),('5000:1485576',4941,10000),('5000:1485576',4942,9999),('5000:1485576',4943,10000),('5000:1485576',4944,8396),('5000:1485576',4945,9996),('5000:1485576',4946,10000),('5000:1485576',4947,9998),('5000:1485576',4948,7391),('5000:1485576',4949,9999),('5000:1485576',4950,9999),('5000:1485576',4951,9976),('5000:1485576',4952,9999),('5000:1485576',4953,9994),('5000:1485576',4954,9966),('5000:1485576',4955,9847),('5000:1485576',4956,9991),('5000:1485576',4957,9995),('5000:1485576',4958,9998),('5000:1485576',4959,9999),('5000:1485576',4960,9991),('5000:1485576',4961,9410),('5000:1485576',4962,9989),('5000:1485576',4963,9996),('5000:1485576',4964,6105),('5000:1485576',4965,10000),('5000:1485576',4966,9999),('5000:1485576',4967,9991),('5000:1485576',4968,9999),('5000:1485576',4969,9999),('5000:1485576',4970,9997),('5000:1485576',4971,9999),('5000:1485576',4972,9999),('5000:1485576',4973,9257),('5000:1485576',4974,9999),('5000:1485576',4975,7250),('5000:1485576',4976,9989),('5000:1485576',4977,10000),('5000:1485576',4978,9994),('5000:1485576',4979,8776),('5000:1485576',4980,9986),('5000:1485576',4981,9994),('5000:1485576',4982,7605),('5000:1485576',4983,9893),('5000:1485576',4984,10000),('5000:1485576',4985,9994),('5000:1485576',4986,9903),('5000:1485576',4987,9996),('5000:1485576',4988,9999),('5000:1485576',4989,9998),('5000:1485576',4990,9999),('5000:1485576',4991,10000),('5000:1485576',4992,9963),('5000:1485576',4993,4151),('5000:1485576',4994,9983),('5000:1485576',4995,9999),('5000:1485576',4996,9998),('5000:1485576',4997,8952),('5000:1485576',4998,7771),('5000:1485576',4999,9988)"


def _quality_classifier_oracle() -> str:
    return f"""WITH fp AS (SELECT CAST(COUNT(*) AS VARCHAR) || ':' ||
                    CAST(SUM(length(text)) AS VARCHAR) AS v FROM documents),
 pins(corpus_fp, doc_id, p4) AS (VALUES {_QC_SCORE_PINS})
SELECT d.doc_id,
       CASE WHEN coalesce(d.text, '') LIKE '%vector%' THEN 1 ELSE 0 END AS label,
       p.p4 / 10000.0 AS prob,
       CASE WHEN p.p4 >= 5000 THEN 1 ELSE 0 END AS pred
FROM documents d JOIN pins p ON p.doc_id = d.doc_id
JOIN fp ON p.corpus_fp = fp.v"""


@ext_query("ext_quality_classifier", _quality_classifier_oracle())

def ext_quality_classifier(spark, sf_dir):
    """End-to-end trained filter on the corpus: label = document
    mentions 'vector' (a ~77%-base-rate single-feature concept the
    classifier must REDISCOVER from hashed n-grams — beating the base
    rate on the held-out split is the proof training worked, pinned
    in pytest); fit on the md5 train split, score every document.
    Rows-only by design: iterative gradient descent is not
    SQL-expressible. 20 iterations, not the library-default 30: the
    accuracy/iteration curve measured on this corpus is 10->0.76
    (still at base rate), 15->0.95, 20->0.99, 30->0.99 — 20 buys the
    plateau at 2/3 the sequential-job cost. Attested by
    reference-equivalence, planted-concept accuracy, and determinism
    tests (tests/test_extensions.py)."""
    d = sources.table(spark, "documents", sf_dir)
    labeled = d.withColumn(
        "label",
        F.coalesce(F.col("text").contains("vector").cast("int"), F.lit(0)),
    )
    train = assign_split(labeled).filter(F.col("split") == "train")
    model = train_text_classifier(train.select("text", "label"), iters=20)
    return classifier_scores(labeled, model, label_col="label")


# ----------------------------------- trained language ID (multiclass)
# fastText-lid-style: the SAME hashed unigram+bigram feature space and
# GD machinery as the binary quality classifier, generalized to
# one-vs-rest softmax-free multiclass. The naive composition (L calls
# to train_text_classifier) would featurize the corpus L times and run
# L x iters sequential jobs; this trainer featurizes ONCE and trains
# ALL class heads in ONE job per iteration — the per-row residual is
# an L-vector, the exploded gradient aggregate sums each component, so
# the collected transfer is <= (m+1) x L doubles per iteration (40 KB
# at m=2048, L=5): the same bounded-driver-transfer contract as the
# binary trainer, independent of corpus size.


def train_langid_classifier(
    docs: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    m: int = QC_BUCKETS,
    iters: int = 10,
    lr: float = 2.0,
    l2: float = 1e-6,
) -> dict:
    """Fit one-vs-rest logistic heads over hashed-ngram presence
    features (deterministic: zero init, full batch, sorted class
    order). Returns {"langs": [...], "weights": (L, m+1) nested list,
    "m": m} — JSON-serializable like the binary model."""
    if text_col != "text":
        docs = docs.withColumn("text", F.col(text_col))
    langs = sorted(
        r[0] for r in docs.select(lang_col).distinct().collect()
    )
    L = len(langs)
    feats = materialize.checkpoint(
        docs.select(F.col(lang_col).alias("_y"), _qc_buckets_expr(m).alias("bs"))
    )
    n_docs = feats.count()
    if n_docs == 0 or L == 0:
        return {"langs": langs, "weights": [], "m": m}
    W = np.zeros((L, m + 1))
    lang_idx = {lg: i for i, lg in enumerate(langs)}

    for _ in range(iters):
        W_c = W.copy()

        @F.pandas_udf("array<double>")
        def resid(bs: pd.Series, y: pd.Series) -> pd.Series:
            out = []
            for b, lbl in zip(bs, y):
                z = W_c[:, np.asarray(b, dtype=np.int64)].sum(axis=1)
                p = 1.0 / (1.0 + np.exp(-z))
                p[lang_idx[lbl]] -= 1.0
                out.append(p.tolist())
            return pd.Series(out)

        grad_rows = (
            feats.select(
                F.explode("bs").alias("b"), resid("bs", "_y").alias("r")
            )
            .groupBy("b")
            .agg(*[F.sum(F.col("r")[i]).alias(f"g{i}") for i in range(L)])
            .collect()
        )
        for row in grad_rows:
            b = row.b
            for i in range(L):
                W[i, b] -= lr * (row[i + 1] / n_docs + l2 * W[i, b])
    return {"langs": langs, "weights": W.tolist(), "m": m}


def langid_predict(
    docs: DataFrame, model: dict, id_col: str = "doc_id"
) -> DataFrame:
    """(id_col, pred_lang): argmax-margin language per document, ties
    broken by sorted class order (np.argmax takes the first maximum).
    Map-side only — the (L, m+1) weight matrix rides in the
    mapInPandas closure; same operator-not-expression rationale as
    :func:`classifier_scores`."""
    langs = model["langs"]
    if not langs:
        return docs.select(id_col).withColumn(
            "pred_lang", F.lit(None).cast("string")
        )
    W = np.asarray(model["weights"])
    m = model["m"]
    id_type = docs.schema[id_col].dataType.simpleString()
    base = docs.select(id_col, _qc_buckets_expr(m).alias("_bs"))

    def score(batches):
        for pdf in batches:
            preds = [
                langs[
                    int(
                        np.argmax(
                            W[:, np.asarray(b, dtype=np.int64)].sum(axis=1)
                        )
                    )
                ]
                for b in pdf["_bs"]
            ]
            out = pdf[[id_col]].copy()
            out["pred_lang"] = pd.array(preds, dtype="string")
            yield out

    return base.mapInPandas(score, f"{id_col} {id_type}, pred_lang string")


# The trained lang-id head predicts ONE class per frozen fixture (the
# corpus is deliberately language-independent — SURVEY §2.12 — so the
# argmax-margin winner is corpus-global), making the oracle a 3-pin
# closed form. The holdout-accuracy and planted-signal pytests keep
# the trainer honest; test_classifier_pins_match_engine re-derives the
# per-document predictions each run (and would redden this pin if any
# document ever diverged from the fixture constant).
_LANGID_PRED_PINS = {'500:153156': 'en', '500:149174': 'en', '5000:1485576': 'es'}


def _langid_oracle() -> str:
    case = " ".join(
        f"WHEN '{fp}' THEN '{lg}'" for fp, lg in _LANGID_PRED_PINS.items()
    )
    return f"""WITH fp AS (SELECT CAST(COUNT(*) AS VARCHAR) || ':' ||
                    CAST(SUM(length(text)) AS VARCHAR) AS v FROM documents)
SELECT d.doc_id, CASE fp.v {case} END AS pred_lang
FROM documents d, fp
WHERE CASE fp.v {case} END IS NOT NULL"""


@ext_query("ext_lang_id_trained", _langid_oracle())

def ext_lang_id_trained(spark, sf_dir):
    """Trained language ID over the lang-labeled fixture: fit
    one-vs-rest hashed-ngram heads on the md5 train split, predict
    every document. Rows-only by design (iterative GD). The fixture
    corpus's text is deliberately language-independent (verified: all
    word frequencies match the lang base rates), so here the model can
    only learn the majority class — the attestation therefore runs
    twice: on a PLANTED signal-rich corpus the trained model must beat
    the stopword heuristic outright, and on this fixture's holdout it
    must stay >= the heuristic (tests/test_extensions.py, both
    manifest-enforced). ext_lang_id (the oracled heuristic) is
    unchanged."""
    d = sources.table(spark, "documents", sf_dir)
    train = assign_split(d).filter(F.col("split") == "train")
    model = train_langid_classifier(
        train.select("lang", "text"), iters=8
    )
    return langid_predict(d, model)


# ------------------------------------- deterministic fixed-k group sampling

def sample_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    key_col: str = "doc_id",
    salt_buckets: int = 32,
) -> DataFrame:
    """Exactly-k-per-group deterministic uniform sample: the k rows
    with the smallest md5(key) hash in each group (rerun- and
    append-stable for the surviving keys, like every md5-order
    operator here), with ``sample_rank`` 1..k. The fixed-size sibling
    of :func:`stratified_sample`'s fixed-RATE gate — eval-set and
    inspection-set construction wants "exactly 1000 per language",
    not a rate.

    Scale shape: the naive plan is ONE window partitioned by the
    group column — with a handful of groups that is a handful of
    partitions sorting the whole corpus (the classic skew trap). Here
    phase 1 windows over (group, salt-of-key) so every task sorts
    ~1/salt_buckets of a group and keeps its local top-k; phase 2
    windows over the survivors — at most k * salt_buckets rows per
    group — to pick the true global top-k. Both sorts are bounded;
    the corpus shuffles once, carrying only (key, group, 8-byte
    hash). The result is IDENTICAL to the naive single-window plan
    (top-k distributes over any partition of the rows), which is what
    the DuckDB oracle runs."""
    from pyspark.sql import Window

    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    salt = _keep_bucket(key_col, salt_buckets)
    base = df.select(
        key_col, group_col, h.alias("h"), salt.alias("s")
    )
    w1 = Window.partitionBy(group_col, "s").orderBy("h", key_col)
    local = (
        base.withColumn("r", F.row_number().over(w1))
        .filter(F.col("r") <= k)
        .drop("r", "s")
    )
    w2 = Window.partitionBy(group_col).orderBy("h", key_col)
    return (
        local.withColumn("sample_rank", F.row_number().over(w2))
        .filter(F.col("sample_rank") <= k)
        .drop("h")
    )


@ext_query(
    "ext_sample_per_group",
    """WITH h AS (
         SELECT doc_id, lang,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
         FROM documents)
       SELECT doc_id, lang,
              CAST(row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id)
                   AS BIGINT) AS sample_rank
       FROM h
       QUALIFY sample_rank <= 25""",
)
def ext_sample_per_group(spark, sf_dir):
    """Exactly 25 documents per language by smallest md5(doc_id) —
    the oracle runs the naive one-window-per-group plan DuckDB can
    afford at sf0.01; Spark must produce the identical set from the
    salted two-phase decomposition (see :func:`sample_per_group`)."""
    d = sources.table(spark, "documents", sf_dir)
    return sample_per_group(d, "lang", 25).select(
        "doc_id", "lang", F.col("sample_rank").cast("bigint").alias("sample_rank")
    )


def save_classifier(model: dict, path: str) -> None:
    """Persist a trained model as ``_classifier.json`` under ``path``,
    written atomically (:func:`~smartpipeline_spark.indexstore.write_json`):
    the model is a KB-scale artifact — train once on a labeled slice,
    score every future ingest batch against the saved weights without
    refitting."""
    import os

    os.makedirs(path, exist_ok=True)
    write_json(
        os.path.join(path, "_classifier.json"),
        {"m": model["m"], "weights": {str(b): v for b, v in model["weights"].items()}},
    )


def load_classifier(path: str) -> dict:
    """Inverse of :func:`save_classifier`; the loaded model scores
    bit-identically to the in-memory one (pytest-pinned)."""
    import json
    import os

    with open(os.path.join(path, "_classifier.json")) as fh:
        raw = json.load(fh)
    return {
        "m": raw["m"],
        "weights": {int(b): v for b, v in raw["weights"].items()},
    }


# ------------------------------------------- model evaluation (AUC)

def binary_auc(
    df: DataFrame, score_col: str, label_col: str = "label"
) -> DataFrame:
    """Distributed ROC-AUC (Mann-Whitney rank-sum with tie
    correction) WITHOUT the global rank sort every naive AUC plan
    pays: decompose over the SCORE HISTOGRAM. groupBy(score) is the
    only corpus-sized shuffle (partial-agg'd, one row per distinct
    score); the rank cumsum then runs over that bounded frame (the
    zipf-spectrum single-partition exception class) and
    AUC = sum_g n_pos_g * (cum_neg_below_g + n_neg_g / 2) / (P * N).
    Exactly equal to pair-counting — ties contribute half, which is
    what the n_neg/2 midpoint term is. Returns one row
    (auc, n_pos, n_neg); auc rounded to 6 decimals.

    Degenerate label distributions (no positives or no negatives —
    AUC is undefined: there are no discordant pairs to rank) return
    an EXPLICIT NULL auc via the min(P,N)>0 guard rather than the
    engine-dependent 0/0 result a bare division would give (Spark
    NULL vs a possible DuckDB error/NaN — the guard pins one
    behavior)."""
    from pyspark.sql import Window

    y = F.col(label_col).cast("int")
    hist = (
        df.select(F.col(score_col).alias("score"), y.alias("y"))
        .groupBy("score")
        .agg(
            F.sum("y").alias("n_pos"),
            F.sum(F.lit(1) - F.col("y")).alias("n_neg"),
        )
    )
    win = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = hist.withColumn(
        "cum_neg", F.coalesce(F.sum("n_neg").over(win), F.lit(0))
    )
    raw_auc = half_up(
        F.sum(F.col("n_pos") * (F.col("cum_neg") + F.col("n_neg") / F.lit(2.0)))
        / (F.sum("n_pos") * F.sum("n_neg")),
        6,
    )
    return c.agg(
        F.when(
            F.least(F.sum("n_pos"), F.sum("n_neg")) > 0, raw_auc
        ).alias("auc"),
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        F.sum("n_neg").cast("bigint").alias("n_neg"),
    )


@ext_query(
    "ext_score_auc",
    r"""WITH s AS (
         SELECT COALESCE(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS score,
                CASE WHEN contains(text, 'vector') THEN 1 ELSE 0 END AS y
         FROM documents),
       h AS (SELECT score,
                    CAST(SUM(y) AS BIGINT) AS n_pos,
                    CAST(SUM(1 - y) AS BIGINT) AS n_neg
             FROM s GROUP BY score),
       c AS (SELECT score, n_pos, n_neg,
                    CAST(COALESCE(SUM(n_neg) OVER (ORDER BY score
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS cum_neg
             FROM h)
       SELECT FLOOR(SUM(n_pos * (cum_neg + n_neg / 2.0))
                    / (SUM(n_pos) * SUM(n_neg)) * 1000000.0 + 0.5)
              / 1000000.0 AS auc,
              CAST(SUM(n_pos) AS BIGINT) AS n_pos,
              CAST(SUM(n_neg) AS BIGINT) AS n_neg
       FROM c""",
)
def ext_score_auc(spark, sf_dir):
    """Model-evaluation surface: ROC-AUC of a signal against a binary
    label at corpus scale — here the whitespace token count scoring
    the planted 'mentions vector' concept (longer docs are likelier
    to contain any given word, so AUC lands meaningfully above 0.5).
    The oracle re-derives the same histogram-decomposed rank-sum in
    SQL; the Spark plan pays one partial-agg'd shuffle and a
    bounded-frame cumsum, never a corpus-wide rank sort."""
    d = sources.table(spark, "documents", sf_dir)
    from smartpipeline_spark.functions.text import _word_count_expr

    # coalesce: a NULL-text doc must score 0, not a NULL that the two
    # engines ORDER differently (Spark NULLS FIRST vs DuckDB NULLS
    # LAST) inside the cumsum window
    scored = d.select(
        F.coalesce(_word_count_expr(F.col("text")), F.lit(0)).alias("score"),
        F.when(F.col("text").contains("vector"), 1).otherwise(0).alias("label"),
    )
    return binary_auc(scored, "score", "label")


def temperature_mixture(
    df: DataFrame,
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    temperature: float = 2.0,
) -> DataFrame:
    """Temperature-scaled mixture sampling (the mT5/UniMax recipe):
    stratum weights are DERIVED from the data, w_s = n_s^(1/T), so
    T=1 reproduces the natural distribution (keeps everything) and
    T→∞ approaches the equal-balance of :func:`stratified_sample`;
    in between, minority strata are upweighted relative to their
    natural share — the standard multilingual-pretraining dial.
    Entirely in-plan (no driver-side weight dict): per-stratum counts
    and the 1-row binding minimum stay as plan aggregates, the rate
    table broadcasts, the corpus never shuffles, and the md5-bucket
    keep-decision is the same rerun/append-stable primitive the rest
    of the sampling family shares."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    counts = df.groupBy(stratum_col).agg(F.count("*").alias("n"))
    w = F.pow(F.col("n"), F.lit(1.0 / temperature))
    binding = counts.agg(F.min(F.col("n") / w).alias("scale"))
    # 1e-6 nudge before floor: the binding stratum's rate is exactly
    # 10000 in exact arithmetic but pow() is transcendental — FP puts
    # it at 9999.999...8 (measured for n=64, T=8), and a 1-ulp
    # JVM-vs-libm pow difference could even land Spark and the SQL
    # oracle on opposite sides of the integer. Mirrored in the oracle.
    rates = counts.crossJoin(F.broadcast(binding)).select(
        stratum_col,
        F.floor(
            F.lit(10000.0) * F.col("scale") * w / F.col("n") + F.lit(1e-6)
        )
        .cast("bigint")
        .alias("keep_lt"),
    )
    bucket = _keep_bucket(key_col, 10000)
    return df.join(F.broadcast(rates), stratum_col).filter(
        bucket < F.col("keep_lt")
    )


@ext_query(
    "ext_mixture_temperature",
    """WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
         binding AS (SELECT MIN(n / pow(n, 0.5)) AS scale FROM counts),
         rates AS (SELECT lang,
                          CAST(FLOOR(10000.0 * scale * pow(n, 0.5) / n + 0.000001)
                            AS BIGINT) AS keep_lt
                   FROM counts, binding)
       SELECT d.doc_id, d.lang
       FROM documents d JOIN rates r ON d.lang = r.lang
       WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
             % 10000 < r.keep_lt""",
)
def ext_mixture_temperature(spark, sf_dir):
    """T=2 language rebalancing over the natural en-heavy corpus: the
    majority language thins toward sqrt-proportional share, minority
    languages keep more of their data — the oracle re-derives the
    whole in-plan chain (counts → n^(1/T) weights → binding minimum →
    bucket rates) independently in SQL."""
    d = sources.table(spark, "documents", sf_dir)
    return temperature_mixture(d, "lang", "doc_id", 2.0).select(
        "doc_id", "lang"
    )


def unimax_mixture(
    df: DataFrame,
    budget_tokens: float | None = None,
    budget_frac: float = 0.8,
    max_epochs: float = 1.2,
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """UniMax budget-constrained language allocation (Chung et al.
    2023, "UniMax: Fairer and More Effective Language Sampling for
    Large-Scale Multilingual Pretraining"): given a total token
    budget and a per-language epoch cap, allocate budget by
    WATERFILLING — each language gets the uniform share of what
    remains unless its entire supply x max_epochs is smaller, in
    which case it is taken whole (capped) and the freed budget
    redistributes over the rest. Returns one row per (document,
    epoch): capped languages repeat every document exactly
    ceil/floor(max_epochs) times via the fixed-point remainder gate,
    uncapped languages keep the md5-bucket-gated fraction — the same
    rerun/append-stable primitive as the rest of the sampling family.

    Scale shape: the entire waterfill runs IN-PLAN over the L-row
    per-stratum token-supply aggregate — the sorted-prefix form of
    waterfilling (capped set = the ascending-cap prefix where
    cap_k*(L-k+1) + prefix_sum < B, monotone by (L-k)(c_{k+1}-c_k)
    >= 0) needs only rank + cumulative-sum windows over L rows (the
    documented bounded partitionless-window class, like the Zipf
    spectrum), one 2-number aggregate over the capped prefix, and a
    broadcast join back; the corpus is scanned once for supplies and
    once for emission, never shuffled, no driver-side state at all.
    Epoch replication is a row-local sequence explode, so output
    volume is exactly the allocated epochs. Fixed-point (1e-4) rate
    quantization with the +1e-6 nudge keeps Spark and the SQL oracle
    on the same side of every floor (the temperature_mixture
    lesson)."""
    from pyspark.sql import Window

    from smartpipeline_spark.functions.text import _word_count_expr

    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    tok = F.coalesce(_word_count_expr(F.col(text_col)), F.lit(0))
    sup = df.groupBy(stratum_col).agg(
        F.sum(tok).cast("double").alias("s")
    )
    sup = sup.select(
        stratum_col, "s", (F.lit(float(max_epochs)) * F.col("s")).alias("cap")
    )
    if budget_tokens is None:
        tot = sup.agg(
            (F.lit(float(budget_frac)) * F.sum("s")).alias("B")
        )
        sup = sup.crossJoin(F.broadcast(tot))
    else:
        sup = sup.withColumn("B", F.lit(float(budget_tokens)))
    w_asc = Window.orderBy(F.col("cap").asc(), F.col(stratum_col).asc())
    flagged = sup.select(
        stratum_col,
        "s",
        "cap",
        "B",
        F.row_number().over(w_asc).alias("k"),
        F.coalesce(
            F.sum("cap").over(
                w_asc.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0.0),
        ).alias("p_prev"),
        F.count("*")
        .over(
            w_asc.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("L"),
    ).withColumn(
        "capped",
        F.col("cap") * (F.col("L") - F.col("k") + 1) + F.col("p_prev")
        <= F.col("B"),
    )
    # the L-row frame feeds both the capped-prefix aggregate and the
    # rate projection; a checkpoint (bounded, like the pr_curve
    # histogram) saves re-running the corpus-sized supply aggregate
    flagged = materialize.checkpoint(flagged)
    cagg = flagged.agg(
        F.coalesce(
            F.sum(F.when(F.col("capped"), F.col("cap"))), F.lit(0.0)
        ).alias("p_capped"),
        F.sum(F.col("capped").cast("int")).alias("n_capped"),
    )
    alloc = F.when(F.col("s") == 0, F.lit(0.0)).otherwise(
        F.when(F.col("capped"), F.col("cap")).otherwise(
            (F.col("B") - F.col("p_capped"))
            / (F.col("L") - F.col("n_capped"))
        )
    )
    rates = flagged.crossJoin(F.broadcast(cagg)).select(
        stratum_col,
        F.floor(
            alloc
            / F.when(F.col("s") == 0, F.lit(1.0)).otherwise(F.col("s"))
            * 10000.0
            + F.lit(1e-6)
        )
        .cast("bigint")
        .alias("keep_total"),
    )
    bucket = _keep_bucket(key_col, 10000)
    n_rep = (
        F.floor(F.col("keep_total") / 10000)
        + F.when(bucket < F.col("keep_total") % 10000, 1).otherwise(0)
    ).cast("int")
    keyed = df.join(F.broadcast(rates), stratum_col).withColumn(
        "_n_rep", n_rep
    )
    # sequence(1, 0) DESCENDS in Spark, so zero-repeat docs need the
    # explicit empty array (DuckDB generate_series(1, 0) is empty)
    epochs = F.when(
        F.col("_n_rep") >= 1, F.sequence(F.lit(1), F.col("_n_rep"))
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    return keyed.select(
        key_col, stratum_col, F.explode(epochs).alias("epoch")
    ).select(key_col, stratum_col, F.col("epoch").cast("bigint").alias("epoch"))


_UNIMAX_ORACLE = r"""WITH sup AS (
      SELECT lang,
             CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END)
                  AS DOUBLE) AS s
      FROM documents GROUP BY lang),
    caps AS (SELECT lang, s, 1.2 * s AS cap FROM sup),
    tot AS (SELECT 0.8 * SUM(s) AS B FROM sup),
    ordered AS (
      SELECT lang, s, cap, B,
             ROW_NUMBER() OVER w AS k,
             COALESCE(SUM(cap) OVER (ORDER BY cap, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS p_prev,
             COUNT(*) OVER () AS L
      FROM caps, tot
      WINDOW w AS (ORDER BY cap, lang)),
    flagged AS (
      SELECT *, cap * (L - k + 1) + p_prev <= B AS capped
      FROM ordered),
    cagg AS (
      SELECT COALESCE(SUM(cap) FILTER (WHERE capped), 0) AS p_capped,
             COUNT(*) FILTER (WHERE capped) AS n_capped
      FROM flagged),
    rates AS (
      SELECT lang,
             CAST(FLOOR(
               (CASE WHEN s = 0 THEN 0
                     WHEN capped THEN cap
                     ELSE (B - p_capped) / (L - n_capped) END)
               / (CASE WHEN s = 0 THEN 1 ELSE s END)
               * 10000.0 + 0.000001) AS BIGINT) AS keep_total
      FROM flagged, cagg),
    docs AS (
      SELECT d.doc_id, d.lang,
             r.keep_total // 10000 AS full_ep,
             r.keep_total % 10000 AS rem,
             ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 10000 AS bucket
      FROM documents d JOIN rates r USING (lang))
    SELECT doc_id, lang, CAST(epoch AS BIGINT) AS epoch
    FROM (SELECT doc_id, lang,
                 unnest(generate_series(1,
                   full_ep + (CASE WHEN bucket < rem THEN 1 ELSE 0 END)))
                   AS epoch
          FROM docs) t"""


@ext_query("ext_unimax_budget", _UNIMAX_ORACLE)
def ext_unimax_budget(spark, sf_dir):
    """UniMax at budget = 0.8 x corpus tokens, epoch cap 1.2: small
    languages whose entire 1.2-epoch supply undercuts the uniform
    share are taken whole (every doc emitted with epoch 2 at the
    remainder rate), the majority language keeps the uniform share's
    fraction. The oracle re-derives the full in-plan chain — supply
    aggregate, sorted-prefix waterfill, fixed-point rates, epoch
    explode — independently in SQL."""
    d = sources.table(spark, "documents", sf_dir)
    return unimax_mixture(d)


def pr_curve(
    df: DataFrame, score_col: str, label_col: str = "label"
) -> DataFrame:
    """Precision/recall at every distinct score threshold ("predict
    positive when score >= t"), from the same histogram decomposition
    as :func:`binary_auc`: one partial-agg'd groupBy(score), then
    cumulative sums over the bounded distinct-score frame — the
    corpus is never rank-sorted. Returns (threshold, tp, fp,
    precision, recall), rounded to 6 decimals."""
    from pyspark.sql import Window

    y = F.col(label_col).cast("int")
    hist = (
        df.select(F.col(score_col).alias("threshold"), y.alias("y"))
        .groupBy("threshold")
        .agg(
            F.sum("y").alias("n_pos"),
            F.sum(F.lit(1) - F.col("y")).alias("n_neg"),
        )
    )
    win = Window.orderBy(F.desc("threshold")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    # the histogram feeds both the cumsum chain and the p_total
    # aggregate; it is a bounded distinct-score frame, so
    # materializing it costs KBs and saves the SECOND corpus-sized
    # groupBy (same rationale as the zipf spectrum checkpoint)
    hist = materialize.checkpoint(hist)
    tot = hist.agg(F.sum("n_pos").alias("p_total"))
    return (
        hist.withColumn("tp", F.sum("n_pos").over(win))
        .withColumn("fp", F.sum("n_neg").over(win))
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            F.col("tp").cast("bigint").alias("tp"),
            F.col("fp").cast("bigint").alias("fp"),
            half_up(F.col("tp") / (F.col("tp") + F.col("fp")), 6).alias("precision"),
            half_up(F.col("tp") / F.col("p_total"), 6).alias("recall"),
        )
    )


@ext_query(
    "ext_pr_curve",
    r"""WITH s AS (
         SELECT COALESCE(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS threshold,
                CASE WHEN contains(text, 'vector') THEN 1 ELSE 0 END AS y
         FROM documents),
       h AS (SELECT threshold,
                    CAST(SUM(y) AS BIGINT) AS n_pos,
                    CAST(SUM(1 - y) AS BIGINT) AS n_neg
             FROM s GROUP BY threshold),
       c AS (SELECT threshold,
                    CAST(SUM(n_pos) OVER (ORDER BY threshold DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS tp,
                    CAST(SUM(n_neg) OVER (ORDER BY threshold DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS fp
             FROM h),
       t AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS p_total FROM h)
       SELECT threshold, tp, fp,
              FLOOR(tp * 1.0 / (tp + fp) * 1000000.0 + 0.5) / 1000000.0
                AS precision,
              FLOOR(tp * 1.0 / p_total * 1000000.0 + 0.5) / 1000000.0
                AS recall
       FROM c, t""",
)
def ext_pr_curve(spark, sf_dir):
    """The operating-point companion of ext_score_auc: precision and
    recall of the token-count signal against the planted concept at
    every distinct threshold — same histogram shape, one shuffle, a
    bounded-frame cumsum, no corpus rank sort."""
    d = sources.table(spark, "documents", sf_dir)
    from smartpipeline_spark.functions.text import _word_count_expr

    scored = d.select(
        F.coalesce(_word_count_expr(F.col("text")), F.lit(0)).alias("score"),
        F.when(F.col("text").contains("vector"), 1).otherwise(0).alias("label"),
    )
    return pr_curve(scored, "score", "label")


def clip_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lo: float = 0.01,
    hi: float = 0.99,
    approx: bool = False,
) -> DataFrame:
    """Winsorize: clip ``value_col`` to the per-group [p_lo, p_hi]
    quantile band, returning the input rows with the clipped value in
    ``<value_col>_winsorized`` (plus the band columns).

    Plan shape: one grouped quantile aggregate (few rows — one per
    group) broadcast-joined back onto the fact, then a map-side
    ``when`` chain; the fact table is never re-shuffled.  The exact
    ``percentile`` aggregate buffers each group's values, which is the
    oracle-checkable form; at 100 TB pass ``approx=True`` to use the
    one-pass ``approx_percentile`` sketch instead (same plan shape,
    bounded memory)."""
    pexpr = "approx_percentile" if approx else "percentile"
    bands = df.groupBy(group_col).agg(
        F.expr(f"{pexpr}({value_col}, {lo})").alias("_p_lo"),
        F.expr(f"{pexpr}({value_col}, {hi})").alias("_p_hi"),
    )
    v = F.col(value_col)
    clipped = (
        F.when(v < F.col("_p_lo"), F.col("_p_lo"))
        .when(v > F.col("_p_hi"), F.col("_p_hi"))
        .otherwise(v)
    )
    return df.join(F.broadcast(bands), group_col).withColumn(
        f"{value_col}_winsorized", clipped
    )


def winsorize_stats(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lo: float = 0.01,
    hi: float = 0.99,
) -> DataFrame:
    """Per-group winsorization report: quantile band, rows clipped on
    each side, and the mean before/after clipping — the numeric-feature
    outlier gate for training-data curation (heavy-tailed metadata
    columns like lengths, scores, prices)."""
    j = clip_outliers(df, value_col, group_col, lo, hi)
    v = F.col(value_col)
    return j.groupBy(group_col).agg(
        F.round(F.first("_p_lo"), 4).alias("p_lo"),
        F.round(F.first("_p_hi"), 4).alias("p_hi"),
        F.count(F.when(v < F.col("_p_lo"), 1)).alias("n_clip_lo"),
        F.count(F.when(v > F.col("_p_hi"), 1)).alias("n_clip_hi"),
        F.round(F.avg(v), 4).alias("mean_raw"),
        F.round(F.avg(F.col(f"{value_col}_winsorized")), 4).alias("mean_winsorized"),
    )


@ext_query(
    "ext_winsorize",
    """WITH p AS (
         SELECT l_returnflag AS g,
                quantile_cont(l_extendedprice, 0.01) AS p_lo,
                quantile_cont(l_extendedprice, 0.99) AS p_hi
         FROM lineitem GROUP BY l_returnflag
       )
       SELECT l.l_returnflag,
              round(any_value(p.p_lo), 4) AS p_lo,
              round(any_value(p.p_hi), 4) AS p_hi,
              COUNT(*) FILTER (WHERE l_extendedprice < p.p_lo) AS n_clip_lo,
              COUNT(*) FILTER (WHERE l_extendedprice > p.p_hi) AS n_clip_hi,
              round(avg(l_extendedprice), 4) AS mean_raw,
              round(avg(CASE WHEN l_extendedprice < p.p_lo THEN p.p_lo
                             WHEN l_extendedprice > p.p_hi THEN p.p_hi
                             ELSE l_extendedprice END), 4) AS mean_winsorized
       FROM lineitem l JOIN p ON l.l_returnflag = p.g
       GROUP BY l.l_returnflag""",
)
def ext_winsorize(spark, sf_dir):
    li = sources.table(spark, "lineitem", sf_dir)
    return winsorize_stats(li, "l_extendedprice", "l_returnflag")


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier report: median, MAD (median absolute
    deviation), the consistent robust sigma (1.4826·MAD), and how many
    rows fall outside median ± k·sigma — the heavy-tail-safe companion
    to :func:`winsorize_stats` (quantile bands move with the outliers
    they are meant to catch; the MAD does not).

    Plan shape: two grouped exact-percentile aggregates (one row per
    group each) broadcast back onto the fact between map-side passes —
    the fact table itself is never re-shuffled.  Like ``percentile``
    everywhere else in this module, the exact aggregate is the
    oracle-checkable form; swap ``approx_percentile`` into both passes
    for bounded memory at 100 TB."""
    v = F.col(value_col)
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med")
    )
    j = df.join(F.broadcast(med), group_col)
    dev = F.abs(v - F.col("_med"))
    mad = j.groupBy(group_col).agg(
        F.expr(f"percentile(abs({value_col} - _med), 0.5)").alias("_mad")
    )
    j2 = j.join(F.broadcast(mad), group_col)
    sigma = F.col("_mad") * F.lit(1.4826)
    return j2.groupBy(group_col).agg(
        F.round(F.first("_med"), 4).alias("median"),
        F.round(F.first("_mad"), 4).alias("mad"),
        F.round(F.first("_mad") * F.lit(1.4826), 4).alias("robust_sigma"),
        F.count(F.when(dev > F.lit(k) * sigma, 1)).alias("n_outliers"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@ext_query(
    "ext_mad_outliers",
    """WITH m AS (
         SELECT l_returnflag AS g, quantile_cont(l_extendedprice, 0.5) AS med
         FROM lineitem GROUP BY l_returnflag
       ),
       d AS (
         SELECT l.l_returnflag, l.l_extendedprice AS v, m.med
         FROM lineitem l JOIN m ON l.l_returnflag = m.g
       ),
       s AS (
         SELECT l_returnflag AS g, quantile_cont(abs(v - med), 0.5) AS mad
         FROM d GROUP BY l_returnflag
       )
       SELECT d.l_returnflag,
              round(any_value(d.med), 4) AS median,
              round(any_value(s.mad), 4) AS mad,
              round(any_value(s.mad) * 1.4826, 4) AS robust_sigma,
              COUNT(*) FILTER (WHERE abs(d.v - d.med) > 3.0 * (s.mad * 1.4826)) AS n_outliers,
              COUNT(*) AS n_rows
       FROM d JOIN s ON d.l_returnflag = s.g
       GROUP BY d.l_returnflag""",
)
def ext_mad_outliers(spark, sf_dir):
    li = sources.table(spark, "lineitem", sf_dir)
    return mad_outliers(li, "l_extendedprice", "l_returnflag")


# ----------------------------------------- C4/FineWeb quality rules

def c4_quality_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_lines: int = 3,
    min_words_per_line: int = 3,
    min_term_punct_ratio: float = 0.5,
    max_dup_line_frac: float = 0.3,
    max_word_chars: int = 1000,
) -> DataFrame:
    """C4 / FineWeb-style rule-based document filter battery (Raffel et
    al. 2020 §2.2; Penedo et al. 2024): per-document line statistics,
    the classic content flags, and the combined ``keep`` verdict.

    Rules (each reported individually so a pipeline can re-weight):

    * ``n_lines`` / ``short_line_frac`` — pages that are mostly
      fragments (< ``min_words_per_line`` words per line) are menus.
    * ``term_punct_ratio`` — fraction of lines ending in terminal
      punctuation (C4 keeps only such lines; reported as a doc ratio).
    * ``dup_line_frac`` — within-document repeated lines (boilerplate).
    * ``has_lorem`` / ``has_brace`` / ``has_js`` — the three literal
      C4 doc-kill flags ("lorem ipsum", '{' ⇒ code, "javascript").
    * ``max_word_len`` — longest whitespace-token (FineWeb drops pages
      with pathological unbroken tokens).

    100 TB design: EVERY statistic is computed row-locally with
    higher-order array functions (split / filter / transform /
    array_distinct) inside whole-stage codegen — no explode, no
    shuffle, no Python; the battery fuses behind the scan and runs at
    parquet-read speed. The corpus is never re-shuffled: the output is
    (id, stats, keep) with one row per input row."""
    txt = F.col(text_col)
    lines = F.filter(
        F.split(txt, "\n"), lambda x: F.trim(x) != F.lit("")
    )
    n_lines = F.size(lines)
    wc = lambda x: F.size(F.split(F.trim(x), r"\s+"))
    short_lines = F.size(
        F.filter(lines, lambda x: wc(x) < F.lit(min_words_per_line))
    )
    term_lines = F.size(
        F.filter(lines, lambda x: x.rlike(r'[.!?"]\s*$'))
    )
    dup_lines = n_lines - F.size(F.array_distinct(lines))
    max_word_len = F.array_max(
        F.transform(F.split(txt, r"\s+"), F.length)
    )
    term_ratio = half_up(term_lines / n_lines, 4)
    short_frac = half_up(short_lines / n_lines, 4)
    dup_frac = half_up(dup_lines / n_lines, 4)
    has_lorem = F.lower(txt).contains("lorem ipsum")
    has_brace = txt.contains("{")
    has_js = F.exists(
        lines, lambda x: F.lower(x).contains("javascript")
    )
    keep = (
        ~has_lorem
        & ~has_brace
        & ~has_js
        & (n_lines >= F.lit(min_lines))
        & (term_ratio >= F.lit(min_term_punct_ratio))
        & (dup_frac <= F.lit(max_dup_line_frac))
        & (max_word_len <= F.lit(max_word_chars))
    )
    return df.select(
        F.col(id_col),
        n_lines.cast("long").alias("n_lines"),
        term_ratio.alias("term_punct_ratio"),
        short_frac.alias("short_line_frac"),
        dup_frac.alias("dup_line_frac"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        has_js.alias("has_js"),
        max_word_len.cast("long").alias("max_word_len"),
        keep.alias("keep"),
    )


def _synth_page(spark, sf_dir):
    """Deterministic multi-line 'web page' derived in-plan from the
    single-line fixture corpus (same pattern as markup._synth_html):
    words wrapped at ``5 + doc_id % 7`` per line, ~2/3 of lines given
    terminal punctuation, and the C4 kill-features planted on disjoint
    doc_id residue classes (17: lorem ipsum, 13: code brace, 11:
    javascript notice, 7: duplicated first line) so every flag and
    ratio is non-degenerate. Both engines derive the page with the
    same row-local array pipeline, so the battery itself is what the
    oracle exercises."""
    d = sources.table(spark, "documents", sf_dir)
    k = F.lit(5) + F.col("doc_id") % 7
    words = F.split(F.col("text"), " ")
    nl = F.ceil(F.size(words) / k.cast("double")).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda i: F.concat(
            F.array_join(F.slice(words, i * k + 1, k), " "),
            F.when((i + F.col("doc_id")) % 3 == 0, F.lit("")).otherwise(
                F.lit(".")
            ),
        ),
    )
    first = F.element_at(lines, 1)
    page = F.concat(
        F.array_join(lines, "\n"),
        F.when(
            F.col("doc_id") % 17 == 0,
            F.lit("\nLorem ipsum dolor sit amet."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.lit("\nfunction f() { return 0; }"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit("\nPlease enable JavaScript to continue."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("\n"), first, F.lit("\n"), first),
        ).otherwise(F.lit("")),
    )
    return d.select("doc_id", page.alias("text"))


@ext_query(
    "ext_c4_rules",
    r"""WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS words,
                 5 + doc_id % 7 AS k
          FROM documents),
        lined AS (
          SELECT doc_id, k,
                 list_transform(
                   range(0, CAST(ceil(len(words) / (k * 1.0)) AS INT)),
                   i -> array_to_string(words[i*k+1 : i*k+k], ' ') ||
                        CASE WHEN (i + doc_id) % 3 = 0 THEN '' ELSE '.' END
                 ) AS lines
          FROM base),
        paged AS (
          SELECT doc_id,
                 array_to_string(lines, chr(10))
                 || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'Lorem ipsum dolor sit amet.' ELSE '' END
                 || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'function f() { return 0; }' ELSE '' END
                 || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'Please enable JavaScript to continue.' ELSE '' END
                 || CASE WHEN doc_id % 7 = 0 THEN chr(10) || lines[1] || chr(10) || lines[1] ELSE '' END
                 AS page
          FROM lined),
        stats AS (
          SELECT doc_id, page,
                 list_filter(string_split(page, chr(10)), x -> trim(x) <> '') AS lines
          FROM paged)
        SELECT doc_id,
               len(lines) AS n_lines,
               floor(CAST(len(list_filter(lines, x -> regexp_matches(x, '[.!?"]\s*$'))) AS DOUBLE) / len(lines) * 10000.0 + 0.5) / 10000.0 AS term_punct_ratio,
               floor(CAST(len(list_filter(lines, x -> len(string_split_regex(trim(x), '\s+')) < 3)) AS DOUBLE) / len(lines) * 10000.0 + 0.5) / 10000.0 AS short_line_frac,
               floor(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines) * 10000.0 + 0.5) / 10000.0 AS dup_line_frac,
               contains(lower(page), 'lorem ipsum') AS has_lorem,
               contains(page, '{') AS has_brace,
               len(list_filter(lines, x -> contains(lower(x), 'javascript'))) > 0 AS has_js,
               list_max(list_transform(string_split_regex(page, '\s+'), x -> length(x))) AS max_word_len,
               (NOT contains(lower(page), 'lorem ipsum'))
               AND (NOT contains(page, '{'))
               AND (len(list_filter(lines, x -> contains(lower(x), 'javascript'))) = 0)
               AND len(lines) >= 3
               AND floor(CAST(len(list_filter(lines, x -> regexp_matches(x, '[.!?"]\s*$'))) AS DOUBLE) / len(lines) * 10000.0 + 0.5) / 10000.0 >= 0.5
               AND floor(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines) * 10000.0 + 0.5) / 10000.0 <= 0.3
               AND list_max(list_transform(string_split_regex(page, '\s+'), x -> length(x))) <= 1000
               AS keep
        FROM stats""",
)
def ext_c4_rules(spark, sf_dir):
    """C4/FineWeb rule battery over the synthesized multi-line page
    column; every statistic, flag, and the keep verdict mirrored in
    the DuckDB oracle over the identically derived fixture."""
    return c4_quality_rules(_synth_page(spark, sf_dir))


# ------------------------------------- Stupid Backoff trigram LM

def stupid_backoff_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_col: str | None = None,
    alpha: float = 0.4,
) -> DataFrame:
    """Trigram language-model scoring under STUPID BACKOFF (Brants et
    al. 2007, "Large Language Models in Machine Translation" — the
    smoothing designed FOR distributed MapReduce-built LMs: no
    normalized discounts, so every model table is a plain count
    aggregate). Score(w3|w1,w2) backs off trigram -> bigram -> unigram
    with factor ``alpha`` per level; a document's score is its mean
    trigram ln-score (the CCNet perplexity-filter shape, trained here
    on the reference half of the corpus).

    ``ref_col``: boolean column marking the REFERENCE corpus the model
    is trained on (CCNet trains on Wikipedia, scores CommonCrawl);
    docs outside it genuinely exercise the backoff paths. Defaults to
    ``doc_id % 2 = 0``. Out-of-vocabulary words take a deterministic
    0.5 pseudo-count at the unigram level (SB leaves OOV unspecified;
    a fixed sub-unit count keeps the score total finite and the
    DuckDB oracle exact).

    100 TB design: the three model tables are map-side-combinable
    count aggregates over the reference half — the exploded trigram
    frame persists and feeds all of them plus the scoring join in ONE
    scan (same single-pass shape as :func:`bigram_lm_scores`). Model
    tables are corpus-vocabulary-sized, NOT broadcast by hand — AQE
    promotes whichever side measures small; at web scale these joins
    shuffle on gram keys, which is exactly Brants et al.'s
    distributed-LM layout. No Python, no driver transfer, no windows.
    """
    ref = (
        F.col(ref_col) if ref_col else (F.col(id_col) % 2 == 0)
    )
    w = df.select(
        F.col(id_col).alias("doc_id"),
        ref.alias("_is_ref"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("w"),
    )
    tris = F.expr(
        "CASE WHEN size(w) < 3 THEN array() "
        "ELSE transform(sequence(1, size(w)-2), "
        "i -> struct(w[i-1] AS w1, w[i] AS w2, w[i+1] AS w3)) END"
    )
    grams = materialize.persist(
        w.select("doc_id", "_is_ref", F.explode_outer(tris).alias("g"))
        .filter(F.col("g").isNotNull())
        .select("doc_id", "_is_ref", "g.w1", "g.w2", "g.w3")
    )
    ref_grams = grams.filter("_is_ref")
    tri = ref_grams.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c3"))
    # bigram counts from trigram CONTEXTS (w1,w2) — every scored
    # trigram's context bigram is then guaranteed present whenever the
    # trigram is, and the (w2,w3) backoff probe reuses the same table
    bi = ref_grams.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    uni = ref_grams.groupBy("w1").agg(F.count("*").alias("c1"))
    n_tot = uni.agg(F.sum("c1").alias("n_tot"))
    a = F.lit(float(alpha))
    score = (
        F.when(
            F.col("c3").isNotNull(),
            F.log(F.col("c3") / F.col("c2")),
        )
        .when(
            F.col("bo_c").isNotNull(),
            F.log(a * F.col("bo_c") / F.col("bo_u")),
        )
        .otherwise(
            F.log(
                a * a * F.coalesce(F.col("u3_c"), F.lit(0.5))
                / F.col("n_tot")
            )
        )
    )
    bo = bi.select(
        F.col("w1").alias("w2"),
        F.col("w2").alias("w3"),
        F.col("c2").alias("bo_c"),
    )
    bo_u = uni.select(F.col("w1").alias("w2"), F.col("c1").alias("bo_u"))
    u3 = uni.select(F.col("w1").alias("w3"), F.col("c1").alias("u3_c"))
    return (
        grams.join(tri, ["w1", "w2", "w3"], "left")
        .join(bi, ["w1", "w2"], "left")
        .join(bo, ["w2", "w3"], "left")
        .join(bo_u, ["w2"], "left")
        .join(u3, ["w3"], "left")
        .crossJoin(F.broadcast(n_tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_trigrams"),
            F.first("_is_ref").alias("in_ref"),
            half_up(F.avg(score), 4).alias("avg_logscore"),
        )
    )


@ext_query(
    "ext_lm_stupid_backoff",
    r"""WITH toks AS (
          SELECT doc_id, doc_id % 2 = 0 AS is_ref,
                 string_split_regex(lower(trim(text)), '\s+') AS w
          FROM documents),
        grams AS (
          SELECT doc_id, is_ref, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
          FROM toks,
               LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-2, 0))) AS i) t),
        tri AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM grams WHERE is_ref GROUP BY 1,2,3),
        bi  AS (SELECT w1, w2, COUNT(*) AS c2 FROM grams WHERE is_ref GROUP BY 1,2),
        uni AS (SELECT w1, COUNT(*) AS c1 FROM grams WHERE is_ref GROUP BY 1),
        tot AS (SELECT CAST(SUM(c1) AS DOUBLE) AS n_tot FROM uni)
        SELECT g.doc_id,
               COUNT(*) AS n_trigrams,
               any_value(g.is_ref) AS in_ref,
               floor(AVG(
                 CASE
                   WHEN tri.c3 IS NOT NULL THEN ln(tri.c3 / (bi.c2 * 1.0))
                   WHEN bo.c2 IS NOT NULL THEN ln(0.4 * bo.c2 / (bu.c1 * 1.0))
                   ELSE ln(0.4 * 0.4 * coalesce(u3.c1, 0.5) / tot.n_tot)
                 END) * 10000.0 + 0.5) / 10000.0 AS avg_logscore
        FROM grams g
        LEFT JOIN tri ON g.w1 = tri.w1 AND g.w2 = tri.w2 AND g.w3 = tri.w3
        LEFT JOIN bi  ON g.w1 = bi.w1 AND g.w2 = bi.w2
        LEFT JOIN bi bo ON g.w2 = bo.w1 AND g.w3 = bo.w2
        LEFT JOIN uni bu ON g.w2 = bu.w1
        LEFT JOIN uni u3 ON g.w3 = u3.w1
        CROSS JOIN tot
        GROUP BY g.doc_id""",
)
def ext_lm_stupid_backoff(spark, sf_dir):
    """Trigram Stupid-Backoff LM: trained on the even-doc_id half of
    the corpus, scoring every document (odd docs exercise the real
    backoff paths). Oracle mirrors the full three-level CASE."""
    d = sources.table(spark, "documents", sf_dir)
    return stupid_backoff_scores(d)


# --------------------------------------------- PSI drift report

def psi_drift(
    df: DataFrame,
    metric_col: str,
    group_col: str,
    bins: int = 10,
) -> DataFrame:
    """Population Stability Index per group: how far each group's
    distribution of ``metric_col`` drifts from the corpus-wide
    distribution — the standard production drift monitor
    (PSI = Σ_b (q_b − p_b)·ln(q_b / p_b) over equal-width bins;
    <0.1 stable, 0.1–0.25 moderate, >0.25 major drift). Run it
    per-source to catch a crawl snapshot whose length/quality profile
    shifted, or per-shard to catch skewed ingestion.

    Empty bins take a deterministic Laplace 0.5 pseudo-count on BOTH
    sides (p and q), keeping every log finite and the DuckDB oracle
    exact.

    100 TB design: the corpus is touched by exactly TWO jobs — a
    min/max aggregate whose 2-scalar result comes back as a bounded,
    documented driver transfer (the DSIR/IVF-codebook collect
    contract; bin edges then ride as plan literals, so no scalar
    crossJoin replicates through downstream lineage), and ONE
    bucket-keyed groupBy whose output is bounded by groups×``bins``
    rows (map-side partial aggregation; the exchange carries bin
    counts, not rows). That tiny count frame persists and every
    remaining aggregate (global bin profile, group totals, corpus
    total, group grid) derives from it, so the PSI assembly runs on
    bounded data. The corpus is never sorted, never re-shuffled,
    never collected."""
    mcol = F.col(metric_col)
    mn, mx = df.agg(F.min(mcol), F.max(mcol)).first()
    if mn is None:
        mn = mx = 0
    if mx == mn:
        bucket = F.lit(0)
    else:
        bucket = F.least(
            F.lit(bins - 1),
            F.floor(
                (mcol - F.lit(mn)) * F.lit(bins) / F.lit(mx - mn)
            ),
        ).cast("int")
    # the frame is BOUNDED (groups x bins count rows), so the eager
    # checkpoint is one corpus groupBy job with a tiny result — nothing
    # like the corpus-sized checkpoint the round-5 dsir regression removed
    q = materialize.checkpoint(
        df.select(F.col(group_col).alias("g"), bucket.alias("b"))
        .groupBy("g", "b")
        .agg(F.count("*").alias("cq"))
    )
    p = q.groupBy("b").agg(F.sum("cq").alias("cp"))
    n_tot = q.agg(F.sum("cq").alias("n_tot"))
    ng = q.groupBy("g").agg(F.sum("cq").alias("n_g"))
    grid = (
        q.select("g")
        .distinct()
        .select(
            "g",
            F.explode(
                F.sequence(F.lit(0), F.lit(bins - 1))
            ).alias("b"),
        )
    )
    half = F.lit(0.5)
    denom_pad = F.lit(bins * 0.5)
    joined = (
        grid.join(q, ["g", "b"], "left")
        .join(p, ["b"], "left")
        .join(F.broadcast(ng), ["g"])
        .crossJoin(F.broadcast(n_tot))
        .select(
            "g",
            (
                (F.coalesce(F.col("cq"), F.lit(0)) + half)
                / (F.col("n_g") + denom_pad)
            ).alias("qb"),
            (
                (F.coalesce(F.col("cp"), F.lit(0)) + half)
                / (F.col("n_tot") + denom_pad)
            ).alias("pb"),
        )
    )
    term = (F.col("qb") - F.col("pb")) * F.log(F.col("qb") / F.col("pb"))
    return (
        joined.groupBy("g")
        .agg(
            half_up(F.sum(term), 6).alias("psi")
        )
        .select(F.col("g").alias(group_col), "psi")
    )


@ext_query(
    "ext_psi_drift",
    """WITH stats AS (
         SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents),
       bk AS (
         SELECT lang AS g,
                CAST(CASE WHEN s.mx = s.mn THEN 0
                     ELSE least(9, floor((n_chars - s.mn) * 10.0 / (s.mx - s.mn)))
                END AS INT) AS b
         FROM documents, stats s),
       p AS (SELECT b, COUNT(*) AS cp FROM bk GROUP BY b),
       q AS (SELECT g, b, COUNT(*) AS cq FROM bk GROUP BY g, b),
       ng AS (SELECT g, COUNT(*) AS n_g FROM bk GROUP BY g),
       tot AS (SELECT COUNT(*) AS n_tot FROM bk),
       grid AS (
         SELECT DISTINCT bk.g, r.range AS b
         FROM bk, range(0, 10) r),
       terms AS (
         SELECT grid.g,
                (COALESCE(q.cq, 0) + 0.5) / (ng.n_g + 5.0) AS qb,
                (COALESCE(p.cp, 0) + 0.5) / (tot.n_tot + 5.0) AS pb
         FROM grid
         LEFT JOIN q ON grid.g = q.g AND grid.b = q.b
         LEFT JOIN p ON grid.b = p.b
         JOIN ng ON grid.g = ng.g
         CROSS JOIN tot)
       SELECT g AS lang,
              floor(SUM((qb - pb) * ln(qb / pb)) * 1e6 + 0.5) / 1e6 AS psi
       FROM terms GROUP BY g""",
)
def ext_psi_drift(spark, sf_dir):
    """Per-language PSI of the document-length distribution against
    the corpus-wide profile (10 equal-width bins, Laplace 0.5)."""
    d = sources.table(spark, "documents", sf_dir)
    return psi_drift(d, "n_chars", "lang")


# ----------------------------------------------- KS drift statistic

def ks_drift(
    df: DataFrame,
    metric_col: str,
    group_col: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic per group: for each
    group, sup_v |ECDF_group(v) − ECDF_rest(v)| of ``metric_col``
    against the REST of the corpus — the bin-free companion to
    :func:`psi_drift` (PSI needs bin edges; KS is distribution-free
    and catches shape drift PSI's 10 bins can smear out).

    100 TB design: the same histogram-decomposition contract as the
    AUC evaluator (`binary_auc`) — the only corpus-sized work is ONE
    (group, value) count aggregate whose exchange is bounded by
    groups × distinct metric values (for continuous metrics,
    pre-bucket with ``F.round``/``width_bucket``; for the length/
    score/count metrics this targets, the value domain is bounded by
    construction). The sup runs as cumsum windows over that bounded
    frame (the documented bounded-window exception class), the value
    axis rides as ONE collect_set array in a 1-row broadcast (the
    declared scalar-attach), and the corpus is never sorted or
    re-shuffled. Degenerate groups (the whole corpus in one group —
    empty rest side) return NULL ks rather than dividing by zero."""
    from pyspark.sql import Window

    mcol = F.col(metric_col)
    counts = (
        df.select(F.col(group_col).alias("g"), mcol.alias("v"))
        .groupBy("g", "v")
        .agg(F.count("*").alias("cg"))
    )
    tot = counts.groupBy("v").agg(F.sum("cg").alias("ct"))
    ng = counts.groupBy("g").agg(F.sum("cg").alias("n_g"))
    n_tot = counts.agg(F.sum("cg").alias("n_tot"))
    vals = df.agg(F.sort_array(F.collect_set(mcol)).alias("_vs"))
    grid = (
        counts.select("g")
        .distinct()
        .crossJoin(F.broadcast(vals))
        .select("g", F.explode("_vs").alias("v"))
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    j = (
        grid.join(counts, ["g", "v"], "left")
        .join(tot, ["v"])
        .join(F.broadcast(ng), ["g"])
        .crossJoin(F.broadcast(n_tot))
        .select(
            "g",
            "v",
            "n_g",
            "n_tot",
            F.coalesce(F.col("cg"), F.lit(0)).alias("cg"),
            "ct",
        )
    )
    cum_g = F.sum("cg").over(w) / F.col("n_g")
    cum_r = F.when(
        F.col("n_tot") > F.col("n_g"),
        F.sum(F.col("ct") - F.col("cg")).over(w)
        / (F.col("n_tot") - F.col("n_g")),
    )
    gap = F.abs(cum_g - cum_r)
    return (
        j.select("g", F.col("n_g"), gap.alias("gap"))
        .groupBy("g")
        .agg(
            F.first("n_g").alias("n_rows"),
            half_up(F.max("gap"), 6).alias("ks"),
        )
        .select(F.col("g").alias(group_col), "n_rows", "ks")
    )


@ext_query(
    "ext_ks_drift",
    """WITH counts AS (
         SELECT lang AS g, n_chars AS v, COUNT(*) AS cg
         FROM documents GROUP BY 1, 2),
       tot AS (SELECT v, SUM(cg) AS ct FROM counts GROUP BY v),
       ng AS (SELECT g, SUM(cg) AS n_g FROM counts GROUP BY g),
       n_tot AS (SELECT SUM(cg) AS n_tot FROM counts),
       grid AS (
         SELECT DISTINCT counts.g, tot.v FROM counts, tot),
       j AS (
         SELECT grid.g, grid.v, ng.n_g, n_tot.n_tot,
                COALESCE(counts.cg, 0) AS cg, tot.ct
         FROM grid
         LEFT JOIN counts ON grid.g = counts.g AND grid.v = counts.v
         JOIN tot ON grid.v = tot.v
         JOIN ng ON grid.g = ng.g
         CROSS JOIN n_tot),
       gaps AS (
         SELECT g, n_g,
                abs(
                  SUM(cg) OVER (PARTITION BY g ORDER BY v
                                ROWS UNBOUNDED PRECEDING) * 1.0 / n_g
                  - CASE WHEN n_tot > n_g THEN
                      SUM(ct - cg) OVER (PARTITION BY g ORDER BY v
                                         ROWS UNBOUNDED PRECEDING) * 1.0
                      / (n_tot - n_g)
                    END) AS gap
         FROM j)
       SELECT g AS lang,
              CAST(any_value(n_g) AS BIGINT) AS n_rows,
              floor(MAX(gap) * 1e6 + 0.5) / 1e6 AS ks
       FROM gaps GROUP BY g""",
)
def ext_ks_drift(spark, sf_dir):
    """Per-language two-sample KS statistic of the document-length
    distribution against the rest of the corpus."""
    d = sources.table(spark, "documents", sf_dir)
    return ks_drift(d, "n_chars", "lang")


# --------------------------------------- CCNet line-level deduplication

def _ccnet_line_norm(col):
    """CCNet's paragraph-hash normalization (Wenzek et al., "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): lowercase, bucket every digit to '0', collapse
    whitespace — so '  Page 3 of 10 ' and 'page 0 of 00' hash
    together."""
    return F.regexp_replace(
        F.regexp_replace(F.lower(F.trim(col)), "[0-9]", "0"), r"\s+", " "
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    partitions: int | str | None = "auto",
) -> DataFrame:
    """CCNet-style corpus-level LINE deduplication with keep-first
    semantics: every non-empty line is hashed under the CCNet
    normalization, and only the corpus-global first occurrence of
    each hash (ordered by (doc_id, position)) survives; documents are
    reassembled from their surviving lines. This is the step that
    strips navigation bars, cookie banners, and boilerplate headers
    that repeat across millions of pages — CCNet reports it removes
    70% of raw CommonCrawl text.

    Returns one row per document: ``n_lines``, ``n_kept``,
    ``dup_frac`` and the reassembled ``clean_text`` (empty string
    when nothing survives).

    100 TB design: the keep-first winner per hash is a partial-agg-
    friendly ``min(struct(doc_id, pos))`` — NOT a window over the
    corpus — so boilerplate hashes (hot keys by construction) map-side
    combine, and AQE handles the residual join skew. The operator has
    TWO physical shapes, chosen by the same measured-input-size rule
    that sizes its exchanges (r12 A/B, alternating fresh-JVM min-of-N
    at 1×/256×/1024× fixture replication):

    * **Below the pressure floor** (fixture/driver scale): one pass —
      lines explode WITH their bodies, the fp exchange and the per-doc
      reassembly ``collect_list`` carry them, documents are rebuilt
      directly. Cheapest when the whole corpus is a few hundred MB
      (the skinny alternative measured +22% at sf0.1 and +27% at 256×:
      its second corpus pass costs more than the small shuffles save).
    * **Above the floor** (the width rule fires): the guide-§8 proxy
      shape — decision passes run over skinny ``(doc_id, pos, fp)``
      rows, the per-document verdict folds to ``(doc_id, n_lines,
      n_kept, kept-positions array)``, and the ONLY exchange that
      sees document text is the final verdict⋈corpus attach;
      ``clean_text`` is rebuilt ROW-LOCALLY by indexing the document's
      own line array with its kept positions. At 1024× (5.12M docs,
      ~60M line instances) this measured 62s vs the one-pass shape's
      149s min — line bodies cross one exchange instead of two, which
      is what bounds the reassembly tail the r12 ladder flagged as
      super-linear.

    Both shapes produce identical rows (pytest-pinned equality; the
    oracle covers the one-pass form at fixture scale).

    ``partitions="auto"`` (default) sizes the line-hash exchange from
    a one-pass non-empty-line count (same estimate→inject contract as
    the pairing joins); the winner aggregation and the tag join then
    REUSE one exchange on ``fp``, and the verdict fold gets the same
    width on ``doc_id``. Below the pressure floor nothing is injected
    — fixture plans unchanged."""
    from smartpipeline_spark.operators.scale import resolve_exchange_width

    nonempty = F.filter(
        F.split(F.col(text_col), "\n"), lambda x: F.trim(x) != F.lit("")
    )
    p = resolve_exchange_width(
        partitions,
        df.sparkSession,
        lambda: df.agg(F.sum(F.size(nonempty)).alias("r")).collect()[0]["r"],
        row_bytes=56,
        input_df=df,
    )
    # posexplode_outer + isNotNull: the inferred size(nonempty)>0
    # filter would re-run the HOF line-filter twice more per doc in
    # the scan stage (see dedup.word_shingles); kept lines are
    # non-null by the nonempty filter itself
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode_outer(nonempty).alias("pos", "line"),
    ).filter(F.col("line").isNotNull())
    fp = F.md5(_ccnet_line_norm(F.col("line")))
    kept_n = F.sum(F.col("kept").cast("long"))
    dup_frac = half_up(F.lit(1.0) - kept_n / F.count("*"), 4)

    if p is None:
        # one-pass shape: bodies ride the (small) exchanges
        lines = exploded.withColumn("fp", fp)
        keepers = lines.groupBy("fp").agg(
            F.min(F.struct("doc_id", "pos")).alias("k")
        )
        tagged = lines.join(keepers, "fp").select(
            "doc_id",
            "pos",
            "line",
            (
                (F.col("k.doc_id") == F.col("doc_id"))
                & (F.col("k.pos") == F.col("pos"))
            ).alias("kept"),
        )
        return tagged.groupBy("doc_id").agg(
            F.count("*").cast("long").alias("n_lines"),
            kept_n.cast("long").alias("n_kept"),
            dup_frac.alias("dup_frac"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("kept"), F.struct("pos", "line"))
                        )
                    ),
                    lambda x: x["line"],
                ),
                "\n",
            ).alias("clean_text"),
        )

    # proxy shape: bodies cross exactly one exchange (the attach)
    lines = exploded.select("doc_id", "pos", fp.alias("fp")).repartition(p, "fp")
    keepers = lines.groupBy("fp").agg(
        F.min(F.struct("doc_id", "pos")).alias("k")
    )
    tagged = (
        lines.join(keepers, "fp")
        .select(
            "doc_id",
            "pos",
            (
                (F.col("k.doc_id") == F.col("doc_id"))
                & (F.col("k.pos") == F.col("pos"))
            ).alias("kept"),
        )
        .repartition(p, "doc_id")
    )
    verdict = tagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        kept_n.cast("long").alias("n_kept"),
        dup_frac.alias("dup_frac"),
        F.sort_array(
            F.collect_list(F.when(F.col("kept"), F.col("pos")))
        ).alias("_kpos"),
    )
    # documents with zero non-empty lines emit no line rows, hence no
    # verdict row, hence (inner join) no output row — same contract as
    # the one-pass reassembly
    return (
        df.select(F.col(id_col).alias("doc_id"), nonempty.alias("_nl"))
        .join(verdict, "doc_id")
        .select(
            "doc_id",
            "n_lines",
            "n_kept",
            "dup_frac",
            F.array_join(
                F.transform(
                    F.col("_kpos"),
                    lambda i: F.element_at(F.col("_nl"), i + F.lit(1)),
                ),
                "\n",
            ).alias("clean_text"),
        )
    )


@ext_query(
    "ext_line_dedup",
    r"""WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS words,
                 5 + doc_id % 7 AS k
          FROM documents),
        lined AS (
          SELECT doc_id, k,
                 list_transform(
                   range(0, CAST(ceil(len(words) / (k * 1.0)) AS INT)),
                   i -> array_to_string(words[i*k+1 : i*k+k], ' ') ||
                        CASE WHEN (i + doc_id) % 3 = 0 THEN '' ELSE '.' END
                 ) AS lines
          FROM base),
        paged AS (
          SELECT doc_id,
                 array_to_string(lines, chr(10))
                 || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'Lorem ipsum dolor sit amet.' ELSE '' END
                 || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'function f() { return 0; }' ELSE '' END
                 || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'Please enable JavaScript to continue.' ELSE '' END
                 || CASE WHEN doc_id % 7 = 0 THEN chr(10) || lines[1] || chr(10) || lines[1] ELSE '' END
                 AS page
          FROM lined),
        docs AS (
          SELECT doc_id,
                 list_filter(string_split(page, chr(10)), x -> trim(x) <> '') AS lines
          FROM paged),
        inst AS (
          SELECT doc_id, pos, lines[pos] AS line,
                 md5(regexp_replace(regexp_replace(lower(trim(lines[pos])), '[0-9]', '0', 'g'), '\s+', ' ', 'g')) AS fp
          FROM docs, LATERAL unnest(generate_series(1, len(lines))) AS t(pos)),
        tagged AS (
          SELECT doc_id, pos, line,
                 row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) = 1 AS kept
          FROM inst)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               floor((1.0 - SUM(CASE WHEN kept THEN 1 ELSE 0 END) * 1.0 / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS dup_frac,
               COALESCE(string_agg(CASE WHEN kept THEN line END, chr(10) ORDER BY pos), '') AS clean_text
        FROM tagged GROUP BY doc_id""",
)
def ext_line_dedup(spark, sf_dir):
    """CCNet line dedup over the synthesized multi-line page fixture
    (the same ``_synth_page`` corpus ext_c4_rules profiles — it
    plants cross-document boilerplate lines and within-document
    duplicated first lines, so keep-first genuinely fires both
    across and within documents)."""
    return line_dedup(_synth_page(spark, sf_dir))


# --------------------- weighted sampling without replacement (A-ES)

def weighted_sample(
    df: DataFrame, weight_col: str, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis-
    Spirakis A-ES key (Efraimidis & Spirakis, "Weighted random
    sampling with a reservoir", IPL 2006): each row draws
    ``u ~ U(0,1)`` and the k rows with the largest ``u^(1/w)`` form
    an exact w-weighted without-replacement sample. We rank by the
    monotone-equivalent ``ln(u)/w`` (better float spacing than
    ``u^(1/w)``, which crowds toward 1.0 for large weights).

    ``u`` is DETERMINISTIC — md5(id) mapped into (0,1) with the same
    first-12-hex-chars primitive as the split/balance bucket — so
    the sample is rerun-stable, append-stable, and exactly
    reproducible by the SQL oracle (the same reason every sampler in
    this module derives randomness from md5, never ``rand()``).

    100 TB design: the key is one map-side expression; selection is
    ``ORDER BY ... LIMIT k`` which Spark executes as
    TakeOrderedAndProject — per-partition top-k heaps merged once,
    never a global sort. No shuffle of the corpus, no window."""
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 48))
    es = F.log(u) / F.col(weight_col)
    return (
        # A-ES precondition is w > 0: w=0 makes ln(u)/w -inf/NaN and
        # w<0 flips the key's sign, silently ranking those rows FIRST.
        # Zero/negative weight means "never sample" — exclude up front.
        df.filter(F.col(weight_col) > 0)
        .select(F.col(id_col), F.col(weight_col), es.alias("_es"))
        .orderBy(F.col("_es").desc(), F.col(id_col))
        .limit(k)
        .select(
            id_col,
            weight_col,
            half_up(F.col("_es"), 8).alias("es_key"),
        )
    )


@ext_query(
    "ext_weighted_sample",
    r"""WITH w AS (
          SELECT doc_id,
                 greatest(len(string_split_regex(trim(text), '\s+')), 1) * 1.0 AS weight
          FROM documents),
        keyed AS (
          SELECT doc_id, weight,
                 ln((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 0.5)
                    / 281474976710656.0) / weight AS es
          FROM w)
        SELECT doc_id, weight,
               floor(es * 1e8 + 0.5) / 1e8 AS es_key
        FROM keyed
        ORDER BY es DESC, doc_id
        LIMIT 100""",
)
def ext_weighted_sample(spark, sf_dir):
    """Length-weighted without-replacement sample of 100 documents
    (longer documents proportionally likelier, each at most once) —
    the deterministic A-ES key makes the oracle exact."""
    d = sources.table(spark, "documents", sf_dir)
    w = d.select(
        "doc_id",
        F.greatest(
            F.size(F.split(F.trim(F.col("text")), r"\s+")), F.lit(1)
        ).cast("double").alias("weight"),
    )
    return weighted_sample(w, "weight", 100)


# ----------------------------------- fuzzy (near-duplicate) decontamination

def fuzzy_decontamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: where
    :func:`contamination_report` counts raw shingle hits per corpus
    doc, this resolves hits into (corpus doc, benchmark doc) PAIRS
    and scores each pair's n-gram overlap — ``containment`` (shared /
    benchmark-doc shingles, the GPT-3-appendix "dirty document"
    metric: a training doc that CONTAINS a benchmark item is
    contaminated even if it is 100x longer, where plain Jaccard
    would dilute to ~0) and ``jaccard`` for symmetric near-dup
    evidence. ``contaminated`` flags containment >= ``threshold``.

    100 TB design: benchmarks are MB-scale, so the benchmark shingle
    frame (with its per-doc set sizes riding along) is the BROADCAST
    side — the corpus streams map-side through the join and only
    CANDIDATE pairs (>=1 shared shingle) reach the one combine-
    friendly aggregation, keyed by (doc, bench) pair. The corpus is
    never shuffled, and there is no corpus-side self-join anywhere."""
    from smartpipeline_spark.functions.dedup import shingle_sets

    # explode_outer + isNotNull on both sides (see dedup.word_shingles):
    # an inner explode would push a duplicated shingle-fold filter
    # below each side's spread exchange
    c = shingle_sets(corpus, n).select(
        "doc_id", F.size("sh_set").alias("a_sz"), F.explode_outer("sh_set").alias("sh")
    ).filter(F.col("sh").isNotNull())
    b = shingle_sets(benchmark, n).select(
        F.col("doc_id").alias("bench_id"),
        F.size("sh_set").alias("b_sz"),
        F.explode_outer("sh_set").alias("sh"),
    ).filter(F.col("sh").isNotNull())
    pairs = (
        c.join(F.broadcast(b), "sh")
        .groupBy("doc_id", "bench_id", "a_sz", "b_sz")
        .agg(F.count("*").cast("long").alias("shared"))
    )
    jac = F.col("shared") / (F.col("a_sz") + F.col("b_sz") - F.col("shared"))
    cont = F.col("shared") / F.col("b_sz")
    return pairs.select(
        "doc_id",
        "bench_id",
        "shared",
        half_up(jac, 4).alias("jaccard"),
        half_up(cont, 4).alias("containment"),
        (cont >= F.lit(float(threshold))).alias("contaminated"),
    )


@ext_query(
    "ext_fuzzy_decontam",
    r"""WITH split AS (
          SELECT doc_id, text,
                 ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
          FROM documents),
        words AS (
          SELECT doc_id, bucket, string_split_regex(lower(trim(text)), '\s+') AS w
          FROM split),
        sh AS (
          SELECT DISTINCT doc_id, bucket,
                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS s
          FROM words, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(w) - 4, 0))) AS i) t),
        sizes AS (
          SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        hits AS (
          SELECT tr.doc_id, te.doc_id AS bench_id, COUNT(*) AS shared
          FROM sh tr JOIN sh te ON tr.s = te.s
          WHERE tr.bucket < 90 AND te.bucket >= 90
          GROUP BY tr.doc_id, te.doc_id)
        SELECT h.doc_id, h.bench_id,
               CAST(h.shared AS BIGINT) AS shared,
               floor(h.shared * 1.0 / (a.sz + b.sz - h.shared) * 10000.0 + 0.5) / 10000.0 AS jaccard,
               floor(h.shared * 1.0 / b.sz * 10000.0 + 0.5) / 10000.0 AS containment,
               h.shared * 1.0 / b.sz >= 0.5 AS contaminated
        FROM hits h
        JOIN sizes a ON h.doc_id = a.doc_id
        JOIN sizes b ON h.bench_id = b.doc_id""",
)
def ext_fuzzy_decontam(spark, sf_dir):
    """Near-dup decontamination with the md5-bucket test split as the
    benchmark (same membership recipe as ext_contamination, which
    this pair-level fuzzy report refines)."""
    d = sources.table(spark, "documents", sf_dir)
    s = assign_split(d)
    train = s.filter(F.col("split") != "test").select("doc_id", "text")
    test = s.filter(F.col("split") == "test").select("doc_id", "text")
    return fuzzy_decontamination(train, test, n=5, threshold=0.5)


# ------------------------------ CCNet perplexity buckets (head/middle/tail)

def ccnet_perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet's signature output structure (Wenzek et al.): per
    language, split the corpus into HEAD / MIDDLE / TAIL terciles by
    language-model score — head = lowest perplexity (highest mean
    bigram log-prob), the slice CCNet ships as its highest-quality
    cut. Completes the CCNet story beside :func:`line_dedup` (its
    dedup stage) and the LM scorers (its perplexity stage).

    100 TB design: scoring is :func:`bigram_lm_scores` (one persisted
    bigram scan); the tercile thresholds reuse the quality-gate
    pattern — a constant-size ``percentile`` aggregate (two doubles
    per language, map-side partial state) broadcast back as a
    labeler. DELIBERATELY not a per-language ``ntile`` window:
    ``en`` is >50% of web text, so a per-language window sort is
    maximal skew. Bucket comparisons run on the rounded 1e-4 score
    grid, so interpolated thresholds falling strictly between grid
    points are engine-stable."""
    scores = bigram_lm_scores(df, id_col, text_col)
    scored = df.select(
        F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang")
    ).join(scores, "doc_id")
    # SNAP the interpolated thresholds to the same 1e-4 grid the
    # scores live on: engines lerp differently (DuckDB returns
    # -3.4052999999999995 between two -3.4053 neighbors — a
    # two-product lerp; Spark returns -3.4053), and a doc whose score
    # EQUALS the threshold would flip buckets on that ulp. Tercile
    # interpolants land on thirds of the grid (frac in {0, 1/3,
    # 2/3}), so after *1e4 + 0.5 they sit >= 1/6 grid unit from every
    # floor boundary — the snap is provably immune to lerp noise.
    th = scored.groupBy("lang").agg(
        half_up(F.percentile("avg_logprob", 1.0 / 3), 4).alias("t_low"),
        half_up(F.percentile("avg_logprob", 2.0 / 3), 4).alias("t_high"),
    )
    return scored.join(F.broadcast(th), "lang").select(
        "doc_id",
        "lang",
        "avg_logprob",
        F.when(F.col("avg_logprob") >= F.col("t_high"), F.lit("head"))
        .when(F.col("avg_logprob") >= F.col("t_low"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


@ext_query(
    "ext_ccnet_buckets",
    r"""WITH words AS (
          SELECT doc_id, w[i] AS w1, w[i+1] AS w2
          FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
                FROM documents),
               LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-1, 0))) AS i) t),
        uni AS (SELECT w1, COUNT(*) AS cu FROM words GROUP BY w1),
        bi AS (SELECT w1, w2, COUNT(*) AS cb FROM words GROUP BY w1, w2),
        v AS (SELECT COUNT(*) AS vocab FROM uni),
        scored AS (
          SELECT doc_id,
                 FLOOR(AVG(ln((cb + 1.0) / (cu + vocab))) * 10000.0 + 0.5) / 10000.0 AS avg_logprob
          FROM words JOIN bi USING (w1, w2) JOIN uni USING (w1), v
          GROUP BY doc_id),
        langd AS (
          SELECT s.doc_id, d.lang, s.avg_logprob
          FROM scored s JOIN documents d USING (doc_id)),
        th AS (
          SELECT lang,
                 floor(quantile_cont(avg_logprob, 1.0/3) * 10000.0 + 0.5) / 10000.0 AS t_low,
                 floor(quantile_cont(avg_logprob, 2.0/3) * 10000.0 + 0.5) / 10000.0 AS t_high
          FROM langd GROUP BY lang)
        SELECT l.doc_id, l.lang, l.avg_logprob,
               CASE WHEN l.avg_logprob >= th.t_high THEN 'head'
                    WHEN l.avg_logprob >= th.t_low THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM langd l JOIN th USING (lang)""",
)
def ext_ccnet_buckets(spark, sf_dir):
    """Per-language head/middle/tail perplexity terciles over the
    documents corpus, scored by the self-trained bigram LM."""
    d = sources.table(spark, "documents", sf_dir)
    return ccnet_perplexity_buckets(d)


# ------------------------------------ leakage-safe (cluster-aware) split

def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    train: int = 80,
    val: int = 10,
) -> DataFrame:
    """Train/val/test assignment by NEAR-DUP CLUSTER, not by document:
    the classic eval-leakage hole in md5-per-doc splitting is that a
    document and its near-duplicate land in different splits, so the
    test set silently overlaps training data (Lee et al. report
    >1% of C4's validation set duplicated in its train split).
    Here every connected component of the near-dup graph is assigned
    as a UNIT — ``split = md5-bucket(cluster_id)``, the same
    deterministic bucket primitive as :func:`assign_split`, applied
    to the cluster's canonical id. Singleton documents keep
    ``cluster_id = doc_id``, so a pair-free corpus degrades to
    exactly ``assign_split``.

    ``pairs`` defaults to the exact n-gram Jaccard similarity join;
    pass MinHash candidate pairs (verified or not) to trade exactness
    for scale — the split contract only needs edges, not scores.

    100 TB design: components come from bounded min-label propagation
    (never a recursive driver loop); the label join is one shuffle on
    doc_id; bucketing is a map-side expression on the label. Nothing
    new beyond the dedup machinery the corpus already runs."""
    from smartpipeline_spark.functions.dedup import (
        connected_components,
        jaccard_pairs,
    )

    if pairs is None:
        pairs = jaccard_pairs(df)
    cc = connected_components(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    lab = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
    )
    bucket = _keep_bucket("cluster_id", 100)
    return lab.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < train, F.lit("train"))
        .when(bucket < train + val, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@ext_query(
    "ext_leakage_safe_split",
    r"""WITH RECURSIVE
          words AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
            FROM documents),
          sh_raw AS (
            SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
            FROM words, LATERAL (
              SELECT unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i) t),
          -- mirror the Spark leg's MAX_SHINGLE_DF=1000 hot-shingle cap
          -- (dedup.drop_hot_keys): shingles in >1000 docs leave the
          -- shingle universe BEFORE sizing and pairing
          sh AS (
            SELECT doc_id, s FROM sh_raw
            WHERE s IN (SELECT s FROM sh_raw GROUP BY s HAVING COUNT(*) <= 1000)),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          common AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          pairs AS (
            SELECT d1, d2 FROM common
            JOIN sizes sa ON sa.doc_id = d1
            JOIN sizes sb ON sb.doc_id = d2
            WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.2),
          edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                    UNION SELECT d2, d1 FROM pairs),
          reach(src, dst) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
          comp AS (
            SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
            FROM reach GROUP BY src),
          lab AS (
            SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN comp c USING (doc_id))
        SELECT doc_id, cluster_id,
               CASE WHEN ('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
                    WHEN ('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM lab""",
)
def ext_leakage_safe_split(spark, sf_dir):
    """Cluster-aware split over the documents corpus: near-dup
    components (exact Jaccard pairs -> connected components) assigned
    to splits as units."""
    d = sources.table(spark, "documents", sf_dir)
    return leakage_safe_split(d)


# ---------------------------------------------- epoch shuffle ordering

def epoch_shuffle(
    docs: DataFrame,
    epochs: int = 2,
    salt: str = "epoch",
    partitions: int | str | None = "auto",
) -> DataFrame:
    """Deterministic per-epoch training order: every epoch gets an
    independent seeded permutation of the corpus (pos = the document's
    1-based position in that epoch's stream), the op every trainer
    runs between curation and packing.

    Scale shape — a global rank WITHOUT a global sort: the order key
    is md5(salt‖epoch‖':'‖doc_id), and because the key IS a hex
    string, its first two characters are a 256-way RANGE partition of
    the total order (every key in bucket '00' sorts before every key
    in '01'). So the global position decomposes into a per-bucket
    row_number (shuffle on (epoch, bucket) — each bucket ~n/256 rows,
    no single-partition window, no RangePartitioner sampling
    nondeterminism) plus a bucket-offset cumsum over a 256-row-per-
    epoch aggregate (bounded by construction — the same bounded-grid
    cumsum pattern the packing ops use), broadcast back. Determinism
    is exact at any parallelism and any input layout; both engines
    replay the identical md5 order, so the oracle is the naive global
    window.

    ``partitions="auto"`` (default) sizes the (epoch, bucket) exchange
    from ``count(docs) x epochs`` (metadata-cheap on a parquet scan;
    ~60 B per keyed row): the per-bucket window and the bucket-count
    aggregate REUSE that one exchange; below the pressure floor
    nothing is injected — fixture plans unchanged."""
    from pyspark.sql.window import Window

    from smartpipeline_spark.operators.scale import resolve_exchange_width

    p = resolve_exchange_width(
        partitions,
        docs.sparkSession,
        lambda: docs.count() * epochs,
        row_bytes=60,
        input_df=docs,
    )
    eps = F.explode(F.array(*[F.lit(i) for i in range(1, epochs + 1)])).alias("epoch")
    d = docs.select("doc_id", eps)
    key = F.md5(
        F.concat(
            F.lit(salt),
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    )
    keyed = d.select(F.col("epoch").cast("bigint").alias("epoch"), "doc_id", key.alias("k"))
    keyed = keyed.withColumn("bucket", F.substring("k", 1, 2))
    if p is not None:
        keyed = keyed.repartition(p, "epoch", "bucket")
    w_in = Window.partitionBy("epoch", "bucket").orderBy("k", "doc_id")
    ranked = keyed.withColumn("intra", F.row_number().over(w_in))
    counts = keyed.groupBy("epoch", "bucket").agg(F.count("*").alias("n"))
    w_off = (
        Window.partitionBy("epoch")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "epoch", "bucket", F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("off")
    )
    return (
        ranked.join(F.broadcast(offsets), ["epoch", "bucket"])
        .select(
            "epoch",
            "doc_id",
            (F.col("off") + F.col("intra")).cast("bigint").alias("pos"),
        )
    )


@ext_query(
    "ext_epoch_shuffle",
    """WITH e AS (SELECT doc_id, epoch FROM documents, (VALUES (1), (2)) t(epoch)),
      k AS (SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
                   md5('epoch' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS key
            FROM e)
     SELECT epoch, doc_id,
            CAST(row_number() OVER (PARTITION BY epoch ORDER BY key, doc_id) AS BIGINT) AS pos
     FROM k""",
)
def ext_epoch_shuffle(spark, sf_dir):
    """Two seeded epoch permutations of the documents corpus; the
    oracle runs the naive global window, Spark runs the 256-bucket
    decomposition — positions must match exactly."""
    d = sources.table(spark, "documents", sf_dir)
    return epoch_shuffle(d, epochs=2)
