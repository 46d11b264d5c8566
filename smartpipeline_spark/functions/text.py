"""Text analysis operators over the ``documents`` table.

All hot-path logic is built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen) — no Python UDFs. Each operator is embarrassingly
parallel (per-row), so it scales linearly with partitions at 100 TB.

Oracle note: every expression here has an exact DuckDB twin, so all of
these are hash-checked, including language ID (a deterministic
stopword-marker heuristic implemented identically in both dialects).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from smartpipeline_spark import indexstore, materialize, sources
from smartpipeline_spark.functions import ext_query
from smartpipeline_spark.rounding import half_up, np_half_up

# deterministic marker lists for the n-gram/stopword language heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "des", "est"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "了", "在", "我"],
}

STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it"]

# BPE-ish tokenizer: letter runs, digit runs, or single non-space symbol
TOKEN_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def _word_count_expr(col):
    """Whitespace token count, null/empty-safe."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, "\\s+"))
    )


def _marker_hits(col, word: str):
    """Occurrences of a marker word (word-ish boundaries via spaces)."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    target = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(target), F.lit(""))))
        / F.length(F.lit(target))
    ).cast("int")


@ext_query(
    "ext_token_count",
    f"""SELECT doc_id,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_ws_tokens,
              len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS n_bpe_tokens,
              length(text) AS n_chars
       FROM documents""",
)
def ext_token_count(spark, sf_dir):
    d = sources.table(spark, "documents", sf_dir)
    return d.select(
        "doc_id",
        _word_count_expr(F.col("text")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_REGEX), 0)).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


@ext_query(
    "ext_fingerprint",
    """SELECT doc_id,
              md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       FROM documents""",
)
def ext_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    — the canonical exact-dedup key at scale (fixed 128-bit shuffle key
    instead of shuffling full document bodies)."""
    d = sources.table(spark, "documents", sf_dir)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " ")
    return d.select("doc_id", F.md5(norm).alias("fp"))


def _quality_cols():
    text = F.col("text")
    n_chars = F.length(text)
    n_tokens = _word_count_expr(text)
    n_punct = F.size(F.regexp_extract_all("text", F.lit("[.,;:!?]"), 0))
    n_stop = None
    for w in STOPWORDS:
        hits = _marker_hits(text, w)
        n_stop = hits if n_stop is None else (n_stop + hits)
    return n_chars, n_tokens, n_punct, n_stop


def quality_expr():
    """The heuristic quality score as a reusable Column over a ``text``
    column — the single source of truth for the C4/Gopher-style weights
    (length band 0.4, punctuation ratio 0.3, stopword presence 0.3).
    Used by :func:`ext_quality_score`, by the streaming-ingest quality
    gate in ``scripts/scale_smoke.py``, and available to user pipelines
    so a threshold change here propagates everywhere. Un-rounded; the
    registered key floors to 2 decimals for oracle parity."""
    n_chars, _, n_punct, n_stop = _quality_cols()
    return (
        F.when((n_chars >= 50) & (n_chars <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(n_punct * F.lit(1.0) / F.greatest(n_chars, F.lit(1)) < 0.1, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(n_stop > 0, F.lit(0.3)).otherwise(F.lit(0.0))
    )


def _quality_sql_stop_expr() -> str:
    parts = [
        "CAST((length(concat(' ', lower(text), ' ')) - "
        f"length(replace(concat(' ', lower(text), ' '), ' {w} ', ''))) / {len(w) + 2} AS INT)"
        for w in STOPWORDS
    ]
    return " + ".join(parts)


@ext_query(
    "ext_quality_score",
    f"""SELECT doc_id,
              length(text) AS n_chars,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
              len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
              {_quality_sql_stop_expr()} AS n_stopwords,
              FLOOR(CAST(
                CASE WHEN length(text) BETWEEN 50 AND 100000 THEN 0.4 ELSE 0.0 END
                + CASE WHEN len(regexp_extract_all(text, '[.,;:!?]')) * 1.0
                         / greatest(length(text), 1) < 0.1 THEN 0.3 ELSE 0.0 END
                + CASE WHEN ({_quality_sql_stop_expr()}) > 0 THEN 0.3 ELSE 0.0 END
              AS DOUBLE) * 100.0 + 0.5) / 100.0 AS quality
       FROM documents""",
)
def ext_quality_score(spark, sf_dir):
    """Heuristic quality score: length band + punctuation ratio +
    stopword presence (the classic C4/Gopher-style filters, computed
    JVM-side)."""
    d = sources.table(spark, "documents", sf_dir)
    n_chars, n_tokens, n_punct, n_stop = _quality_cols()
    quality = quality_expr()
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stopwords"),
        half_up(quality, 2).alias("quality"),
    )


@ext_query(
    "ext_tfidf",
    """WITH words AS (
         SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
         FROM documents),
       tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY doc_id, w),
       dfreq AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY w),
       n AS (SELECT COUNT(*) AS n FROM documents)
       SELECT doc_id, w AS word, tf, df,
              FLOOR((tf * (ln((n + 1.0) / (df + 1.0)) + 1.0)) * 10000.0 + 0.5)
                / 10000.0 AS tfidf
       FROM tf JOIN dfreq USING (w), n""",
)
def ext_tfidf(spark, sf_dir):
    """TF-IDF as pure DataFrame algebra: one explode, two aggregations,
    one join of the document-frequency table back onto term
    frequencies. Scale notes: the corpus size N stays IN-PLAN (1-row
    agg cross-joined onto the result — no separate driver-side count
    job), and the tf⋈dfreq join strategy is left to Catalyst/AQE — a
    web-scale vocabulary is not broadcast-sized, and AQE will still
    pick a broadcast join whenever dfreq measures small at runtime."""
    d = sources.table(spark, "documents", sf_dir)
    words = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).alias("w")
    )
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dfreq = words.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    n_df = d.agg(F.count("*").alias("n"))  # 1 row; broadcast-nested-loop joined
    tfidf = F.col("tf") * (
        F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    )
    return (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(n_df))
        .select(
            "doc_id",
            F.col("w").alias("word"),
            "tf",
            "df",
            half_up(tfidf, 4).alias("tfidf"),
        )
    )


def _langid_sql_score(lang: str) -> str:
    parts = [
        "CAST((length(concat(' ', lower(text), ' ')) - "
        f"length(replace(concat(' ', lower(text), ' '), ' {w} ', ''))) / {len(w) + 2} AS INT)"
        for w in LANG_MARKERS[lang]
    ]
    return " + ".join(parts)


@ext_query(
    "ext_lang_id",
    f"""WITH scores AS (
          SELECT doc_id,
                 {', '.join(f'({_langid_sql_score(lg)}) AS s_{lg}' for lg in LANG_MARKERS)}
          FROM documents)
        SELECT doc_id,
               CASE
                 WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_zh THEN 'en'
                 WHEN s_es >= s_fr AND s_es >= s_de AND s_es >= s_zh THEN 'es'
                 WHEN s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
                 WHEN s_de >= s_zh THEN 'de'
                 ELSE 'zh'
               END AS pred_lang
        FROM scores""",
)
def ext_lang_id(spark, sf_dir):
    """Stopword-marker language ID with a deterministic priority-order
    tie-break (en > es > fr > de > zh), identical in the oracle."""
    d = sources.table(spark, "documents", sf_dir)
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
        .when((scores["fr"] >= scores["de"]) & (scores["fr"] >= scores["zh"]), F.lit("fr"))
        .when(scores["de"] >= scores["zh"], F.lit("de"))
        .otherwise(F.lit("zh"))
    )
    return d.select("doc_id", pred.alias("pred_lang"))


@ext_query(
    "ext_heavy_hitters",
    """WITH words AS (
         SELECT string_split_regex(lower(trim(text)), '\\s+') AS ws
         FROM documents),
       tri AS (
         SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
         FROM words, LATERAL (
           SELECT unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i) t),
       tot AS (SELECT COUNT(*) AS n_total FROM tri)
       SELECT g, COUNT(*) AS cnt
       FROM tri, tot GROUP BY g, n_total
       HAVING COUNT(*) * 5000 >= n_total""",
)
def ext_heavy_hitters(spark, sf_dir):
    """Heavy-hitter trigrams (boilerplate detection): every word
    3-gram occurring in >= 0.02% of the corpus token stream — the
    repeated-boilerplate table a curation pipeline feeds into
    templated-content filters.

    Pattern: count-min candidates + exact verification (the sketch
    sibling of the Bloom decontamination recipe).  The CMS pass
    (operators/scale.py) partial-aggregates the full occurrence
    stream into width x depth cells — the exchange carries sketch
    cells, never the trigram-keyed stream; probing the vocabulary
    against the broadcast sketch yields a CANDIDATE set that CMS's
    one-sided error guarantees is a superset of the true heavy
    hitters.  Only candidates (a broadcast-sized set by the
    threshold's own pigeonhole: <= 5000 keys can exceed N/5000) are
    exactly counted, so the one key-shuffled aggregation is bounded
    by the threshold, not the vocabulary.  Output is therefore
    EXACT — false candidates die at the final HAVING — and fully
    DuckDB-oracled.  The integer cross-multiplied threshold
    (cnt * 5000 >= N) keeps both engines in exact arithmetic.
    The trigram stream keeps duplicates (occurrence counts, unlike
    the per-doc-distinct shingle index), with the same bind-the-
    split-once lambda trick as dedup.shingle_array_expr."""
    from smartpipeline_spark.operators.scale import (
        cms_estimate,
        cms_merge,
        cms_rollup,
    )

    d = sources.table(spark, "documents", sf_dir)
    tri = F.expr(
        """transform(array(split(lower(trim(text)), '\\\\s+')),
             ws -> CASE WHEN size(ws) >= 3
                   THEN transform(sequence(0, size(ws) - 3),
                        i -> concat_ws(' ', slice(ws, i + 1, 3)))
                   ELSE CAST(array() AS array<string>) END)[0]"""
    )
    # explode_outer + isNotNull: the inferred size(tri)>0 filter would
    # run the whole trigram fold twice more per doc in the scan stage
    grams = materialize.persist(
        d.select(F.explode_outer(tri).alias("g")).filter(F.col("g").isNotNull())
    )
    # width must beat the threshold for the CANDIDATE bound to hold:
    # CMS overestimates by up to N/width (all-colliding worst case),
    # so candidates = {keys with est >= N/5000} is only
    # pigeonhole-bounded if N/width is well under the N/5000
    # threshold. At width 65536, a candidate needs TRUE count
    # >= N(1/5000 - 1/65536), so at most ~5400 keys can qualify even
    # adversarially; at width 4096 (the old value) the error term
    # alone exceeded the threshold and a rare-trigram-heavy corpus
    # could promote the whole vocabulary. 64k cells x 4 rows = 256k
    # longs — still a broadcast-sized sketch.
    width, depth = 65536, 4
    try:
        # the ENTIRE query drains eagerly against the cached trigram
        # stream, which is released before returning. Eager is safe
        # because every driver-side structure is bounded: the total (1 row),
        # the CMS cells (width x depth), the candidate set (see the
        # width bound above) and the final answer (<= 5000 keys by the
        # exact threshold's pigeonhole).
        n_total = grams.count()
        sketch = cms_merge(cms_rollup(grams, "g", [], width, depth), [])
        vocab = grams.select("g").distinct()
        candidates = (
            cms_estimate(sketch, vocab, "g", width, depth)
            .filter(F.col("est") * 5000 >= F.lit(n_total))
            .select("g")
        )
        rows = (
            grams.join(F.broadcast(candidates), "g")
            .groupBy("g")
            .agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") * 5000 >= F.lit(n_total))
            .collect()
        )
    finally:
        materialize.release(grams)
    return spark.createDataFrame(
        [(r["g"], r["cnt"]) for r in rows] or [], "g string, cnt bigint"
    )


@ext_query(
    "ext_ngram_stats",
    """WITH words AS (
         SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
         FROM documents),
       bg AS (
         SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS bigram
         FROM words, LATERAL (
           SELECT unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i) t)
       SELECT bigram, COUNT(*) AS df
       FROM bg GROUP BY bigram
       ORDER BY df DESC, bigram LIMIT 20""",
)
def ext_ngram_stats(spark, sf_dir):
    """Corpus bigram document-frequency table (top 20): the building
    block for n-gram LMs, contamination checks, and boilerplate
    detection. Reuses the dedup module's row-local shingler (one
    regex split per row, no per-shingle re-split), so the exchange
    carries (bigram, doc_id) pairs already deduped per document;
    the groupBy count is partial-agg friendly and the top-20 compiles
    to TakeOrderedAndProject (no global sort materialization). The
    ORDER BY carries the bigram as tiebreak so the top-20 boundary is
    deterministic in both engines."""
    from smartpipeline_spark.functions.dedup import word_shingles

    d = sources.table(spark, "documents", sf_dir)
    return (
        word_shingles(d, 2)
        .groupBy(F.col("sh").alias("bigram"))
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("bigram"))
        .limit(20)
    )


@ext_query(
    "ext_data_card",
    r"""WITH per AS (
          SELECT source, lang,
                 COUNT(*) AS n_docs,
                 CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END)
                      AS BIGINT) AS n_tokens
          FROM documents GROUP BY source, lang),
        tot AS (SELECT SUM(n_tokens) AS total_tokens FROM per)
       SELECT source, lang, n_docs, n_tokens,
              FLOOR(n_tokens * 1.0 / total_tokens * 10000.0 + 0.5) / 10000.0
                AS token_share
       FROM per, tot""",
)
def ext_data_card(spark, sf_dir):
    """Data-card mixture report: docs + whitespace-token totals and
    corpus token share per (source, lang) — the table every
    pretraining mixture decision starts from. One partial-agg
    groupBy; the corpus total stays IN-PLAN as a 1-row aggregate
    crossJoined back (no driver-side count job) — same recipe as
    TF-IDF's corpus count. Output is stratum-sized (dozens of rows)
    at any corpus size."""
    d = sources.table(spark, "documents", sf_dir)
    per = d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(_word_count_expr(F.col("text"))).alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("total_tokens"))
    share = F.col("n_tokens") * F.lit(1.0) / F.col("total_tokens")
    return per.crossJoin(F.broadcast(tot)).select(
        "source", "lang", "n_docs", "n_tokens",
        half_up(share, 4).alias("token_share"),
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("spark", "table", "merge")
# Docs-frame plan-size gate above which the corpus-sized dl side of
# the inline BM25 score join gets the explicit shuffle_hash hint (see
# bm25_scores): 256 MB compressed docs ≈ multi-million-row dl, the
# regime where an AQE broadcast promotion risks the driver collect;
# under it dl is dimension-sized and AQE's own choice is both safe
# and measurably faster at fixture scale.
_BM25_NO_BROADCAST_BYTES = 256 * 1024 * 1024


@ext_query(
    "ext_bm25",
    rf"""WITH words AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents),
        tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY doc_id, w),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY doc_id),
        stats AS (SELECT AVG(dl * 1.0) AS avgdl, COUNT(*) AS n FROM dl),
        dfreq AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM words
                  WHERE w IN ('spark', 'table', 'merge') GROUP BY w),
        scores AS (
          SELECT tf.doc_id, tf.w,
                 ln((n - df + 0.5) / (df + 0.5) + 1.0)
                   * tf.tf * ({BM25_K1} + 1.0)
                   / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / avgdl)) AS s
          FROM tf
          JOIN dfreq ON tf.w = dfreq.w
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats),
        pivoted AS (
          SELECT doc_id,
                 COALESCE(SUM(CASE WHEN w = 'spark' THEN s END), 0.0) AS s1,
                 COALESCE(SUM(CASE WHEN w = 'table' THEN s END), 0.0) AS s2,
                 COALESCE(SUM(CASE WHEN w = 'merge' THEN s END), 0.0) AS s3
          FROM scores GROUP BY doc_id)
       SELECT doc_id,
              FLOOR((s1 + s2 + s3) * 10000.0 + 0.5) / 10000.0 AS bm25
       FROM pivoted
       ORDER BY (s1 + s2 + s3) DESC, doc_id LIMIT 20""",
)
def ext_bm25(spark, sf_dir):
    """BM25 ranked retrieval for a fixed term query — the lexical-search
    scorer (Robertson idf, k1/b saturation + length norm) that
    complements the vector KNN operators. Scale shape: the corpus
    statistics (df per query term — a handful of rows; avgdl/N — one
    row) BROADCAST onto the tf stream, so scoring is a map-side join
    over only the postings of the query terms (the WHERE w IN (...)
    prunes before the tf aggregate); top-k compiles to
    TakeOrderedAndProject. Per-term scores are summed as an explicit
    fixed-order expression (s1+s2+s3), not a SUM over rows, so the fp
    result is bit-identical in both engines."""
    d = sources.table(spark, "documents", sf_dir)
    # sort on the RAW total (matching the oracle's ORDER BY) so the
    # top-20 boundary never depends on rounding, then round for output
    return (
        bm25_scores(d, BM25_TERMS)
        .orderBy(F.col("raw").desc(), F.asc("doc_id"))
        .limit(20)
        .select(
            "doc_id",
            half_up(F.col("raw"), 4).alias("bm25"),
        )
    )


def bm25_scores(d, terms=BM25_TERMS):
    """(doc_id, raw) BM25 totals for ``terms`` over a documents frame —
    the reusable core behind ext_bm25 and the hybrid-search fusion.
    Only docs containing at least one query term appear."""
    terms = list(terms)
    words = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).alias("w")
    )
    dl = words.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.avg(F.col("dl") * F.lit(1.0)).alias("avgdl"), F.count("*").alias("n")
    )
    qwords = words.filter(F.col("w").isin(terms))
    tf = qwords.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dfreq = qwords.groupBy("w").agg(F.count_distinct("doc_id").alias("df"))
    k1, b = F.lit(BM25_K1), F.lit(BM25_B)
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    s = (
        idf
        * F.col("tf") * (k1 + F.lit(1.0))
        / (F.col("tf") + k1 * (F.lit(1.0) - b + b * F.col("dl") / F.col("avgdl")))
    ).alias("s")
    # dfreq (<= |terms| rows) and stats (1 row) are bounded by
    # construction: broadcast. dl SCALES WITH THE CORPUS (one row per
    # doc) — on a big corpus it must never be broadcast (the
    # uncompressed collect is the driver OOM shape the r12 1024x rung
    # hit: AQE saw the COMPRESSED shuffle under the 10 MB threshold
    # and the collect blew maxResultSize), so above the plan-size gate
    # the shuffle_hash hint blocks AQE's re-promotion and the doc_id
    # exchange it introduces is reused by the pivot groupBy. BELOW the
    # gate (docs plan-estimate <= 256 MB compressed, i.e. dl well
    # under any collect limit) the hint is withheld and AQE keeps its
    # broadcast choice: forcing shuffle_hash there measured +135%
    # executor CPU on ext_hybrid_search in the r12 idle bench — the
    # classic config-only-for-one-scale trap, parameterized away.
    from smartpipeline_spark.operators.scale import plan_size_bytes

    big_corpus = (plan_size_bytes(d) or (1 << 51)) > _BM25_NO_BROADCAST_BYTES
    scores = (
        tf.join(F.broadcast(dfreq), "w")
        .join(dl.hint("shuffle_hash") if big_corpus else dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "w", s)
    )

    def _term(t):
        return F.coalesce(F.sum(F.when(F.col("w") == t, F.col("s"))), F.lit(0.0))

    pivoted = scores.groupBy("doc_id").agg(
        *[_term(t).alias(f"s{i+1}") for i, t in enumerate(terms)]
    )
    total = None
    for i in range(len(terms)):
        c = F.col(f"s{i+1}")
        total = c if total is None else total + c
    return pivoted.select("doc_id", total.alias("raw"))


def _bm25_words(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).alias("w"),
    )


def _bm25_postings(docs: DataFrame, partitions: int | None = None) -> DataFrame:
    """(w, doc_id, tf, dl) — term frequencies with the document length
    DENORMALIZED onto every posting row, so a query never touches a
    corpus-sized doc-length table (the classic inverted-index layout:
    everything a scorer needs rides the posting).

    dl is derived IN PLACE as a window sum over the doc's own postings
    (dl = Σ tf per doc = the doc's word count, exactly), not a second
    corpus aggregate joined back: the join formulation cost an extra
    corpus pass AND blew up at the r12 1024x rung — AQE measured the
    compressed 5.12M-row dl shuffle under the broadcast threshold and
    the broadcast COLLECT of the uncompressed rows exceeded
    spark.driver.maxResultSize. Never route a corpus-sized frame
    anywhere near a broadcast when the value is computable in plan.

    ``partitions`` (injected by the index builder's auto sizing)
    repartitions the DOC rows ahead of tokenization, so the
    explode+partial-agg map work spreads across the cluster even when
    the input arrives in a handful of scan splits (the replicated-
    corpus shape: a 1024x explode of a 4-split parquet would otherwise
    tokenize 2.6B words on 4 threads). The exploded words themselves
    are NEVER exchanged: the (doc_id, w) aggregate runs its partial
    map-side and shuffles only distinct pairs (~5% of the words here)
    — the r12 formulation that repartitioned post-explode shuffled all
    2.6B raw word rows and cost +45% build wall for zero spill saved
    (the 73 GB it chased belonged to the IVF query leg all along:
    ``git show d3e6f62:scripts/rag_phase_probe.py``)."""
    from pyspark.sql.window import Window

    if partitions is not None:
        docs = docs.repartition(partitions)
    tf = _bm25_words(docs).groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dl = F.sum("tf").over(Window.partitionBy("doc_id"))
    return tf.select("w", "doc_id", "tf", dl.alias("dl"))


def _bm25_word_estimate(docs: DataFrame) -> int:
    """Word-count estimate (upper bound on postings rows) — the sizing
    input for both the segment file count and the build parallelism.
    Charged to the build, same as every auto-sizing contract here.
    One row per document keyed on ``doc_id``, through the shared
    sample-first estimator (:func:`~smartpipeline_spark.operators.
    scale.sample_first_estimate`): per-doc word counts are bounded, so
    a doc sample concentrates fast, and a corpus that plan-estimates
    under its 256 MB sample skip runs the exact pass alone."""
    from smartpipeline_spark.operators.scale import sample_first_estimate

    wc = F.when(
        F.length(F.trim(F.col("text"))) > 0,
        F.size(F.split(F.lower(F.trim(F.col("text"))), "\\s+")),
    ).otherwise(F.lit(1))
    return sample_first_estimate(docs, ["doc_id"], lambda f: f.select(wc.alias("e")))


def _bm25_new_segment(docs: DataFrame, num_files) -> tuple[DataFrame, int]:
    """The postings of ``docs`` and the file count of their segment.

    ``num_files="auto"`` runs the one-pass word estimate and derives
    BOTH knobs from it: the segment file count (~128 MB per sorted
    file, ``scale.files_for_rows``) and — through the package's one
    exchange-width contract (``scale.resolve_exchange_width``) —
    explicit widths for the index build's two corpus-wide exchanges, so
    AQE's compressed-bytes coalescing can't overshoot executor memory
    at corpus scale while fixture-scale plans stay untouched."""
    from smartpipeline_spark.operators.scale import (
        files_for_rows,
        resolve_exchange_width,
    )

    width = None
    if num_files == "auto":
        words = _bm25_word_estimate(docs)
        num_files = files_for_rows(words)
        width = resolve_exchange_width(
            "auto", docs.sparkSession, lambda: words, row_bytes=120
        )
    return _bm25_postings(docs, width), int(num_files)


def _bm25_stats(new: dict, old: dict) -> dict:
    """The corpus stats ``old`` rolled forward by a new postings
    segment, derived from the segment's own postings — no second pass
    over the raw corpus. ``sum_dl`` is SUM(tf) (total word occurrences)
    and ``n_docs`` the distinct doc count; both EXACT integers,
    identical to aggregating the exploded words directly (every
    non-null document yields >= 1 posting — an empty string splits to
    the single token '')."""
    n_docs = sum_dl = 0
    if "postings" in new:
        row = (
            new["postings"]
            .agg(F.count_distinct("doc_id").alias("n"), F.sum("tf").alias("s"))
            .collect()[0]
        )
        n_docs, sum_dl = int(row["n"] or 0), int(row["s"] or 0)
    return {
        "n_docs": old.get("n_docs", 0) + n_docs,
        "sum_dl": old.get("sum_dl", 0) + sum_dl,
    }


def _bm25_report(man: dict) -> dict:
    return {
        **man["meta"],
        "postings_rows": indexstore.rows(man, "postings"),
        "segments": indexstore.segments(man, "postings"),
    }


def build_bm25_index(docs: DataFrame, path: str, num_files: int | str = "auto") -> dict:
    """Persisted BM25 postings index — the LEXICAL member of the saved
    retrieval-index family (build/append/query, like the IVF/PQ/HNSW
    vector layouts): pay the corpus pass once, then every query batch
    reads only the probed terms' postings.

    Layout (:mod:`~smartpipeline_spark.indexstore`): one ``postings``
    table of immutable segments, each holding (w, doc_id, tf, dl)
    written SORT-CLUSTERED on ``w`` (``write_sorted`` — disjoint
    per-file term ranges within a segment), so a ``w IN (...)`` probe
    prunes all but ~one file per term PER SEGMENT at the
    parquet-footer level before any IO. The manifest carries the
    corpus constants the scorer needs (``n_docs``, ``sum_dl`` — both
    EXACT integers, so ``avgdl = sum_dl / n_docs`` reproduces Spark's
    in-plan AVG bit-for-bit and the indexed scorer stays bit-identical
    to :func:`bm25_scores`). Term document frequencies are NOT
    materialized: a query derives df for its probed terms from their
    own postings (always correct after appends). Returns the stats
    (``n_docs``, ``sum_dl``, ``postings_rows``, ``segments``)."""
    postings, n = _bm25_new_segment(docs, num_files)
    return _bm25_report(
        indexstore.build(
            path,
            {"postings": postings},
            _bm25_stats,
            layout={"postings": {"sort": "w"}},
            files={"postings": n},
        )
    )


def append_to_bm25_index(docs_new: DataFrame, path: str, num_files: int | str = "auto") -> dict:
    """Incremental maintenance, reader-atomic: the new batch's postings
    land as a NEW immutable segment (internally w-sorted, so footer
    pruning still skips its files per term), and the store's one
    manifest commit publishes the segment and the rolled-forward exact
    integer stats together. A concurrent :func:`query_bm25_index`
    therefore scores against exactly the old index or exactly the new
    one, and a crash before the commit leaves the published index
    untouched. (build; append) is row-equal to build-on-concat and the
    indexed scorer stays exact — pinned in tests. Past
    ``indexstore.COMPACT_AFTER`` segments the append compacts inline,
    so probe cost stays ~1 file per term. Assumes ``docs_new`` carries
    NEW doc_ids (the dedup contract upstream); re-appending an
    existing document would double its postings, same as every
    append-only index here."""
    postings, n = _bm25_new_segment(docs_new, num_files)
    man, _ = indexstore.append(
        path, {"postings": postings}, _bm25_stats, files={"postings": n}
    )
    return _bm25_report(man)


def query_bm25_index(
    spark, path: str, terms=BM25_TERMS, k: int | None = None, verify: bool = False
) -> DataFrame:
    """Score a term query against a saved :func:`build_bm25_index`
    layout: resolve the manifest ONCE (stats + segment list read
    together, so a concurrent append can never pair new postings with
    stale stats), open only the probed terms' postings (footer-pruned
    via the sorted layout — the plan shows ``PushedFilters:
    In(w, ...)``), derive per-term df from those postings, broadcast
    df onto the posting stream, score with the exact
    :func:`bm25_scores` arithmetic (fixed-order per-term sum), and
    optionally top-k via TakeOrderedAndProject. Corpus cost at query
    time: ZERO rows outside the probed postings. ``verify=True``
    additionally runs the store's torn-layout check
    (:func:`~smartpipeline_spark.indexstore.verify` — one footer read
    per file, skip it in per-query hot loops)."""
    terms = list(terms)
    man = indexstore.verify(path) if verify else indexstore.manifest(path)
    n = man["meta"]["n_docs"]
    avgdl = man["meta"]["sum_dl"] / n
    p = indexstore.read(spark, path, "postings", man).filter(F.col("w").isin(terms))
    dfreq = p.groupBy("w").agg(F.count_distinct("doc_id").alias("df"))
    k1, b = F.lit(BM25_K1), F.lit(BM25_B)
    idf = F.log((F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    s = (
        idf
        * F.col("tf") * (k1 + F.lit(1.0))
        / (F.col("tf") + k1 * (F.lit(1.0) - b + b * F.col("dl") / F.lit(avgdl)))
    ).alias("s")
    scores = p.join(F.broadcast(dfreq), "w").select("doc_id", "w", s)

    def _term(t):
        return F.coalesce(F.sum(F.when(F.col("w") == t, F.col("s"))), F.lit(0.0))

    pivoted = scores.groupBy("doc_id").agg(
        *[_term(t).alias(f"s{i+1}") for i, t in enumerate(terms)]
    )
    total = None
    for i in range(len(terms)):
        c = F.col(f"s{i+1}")
        total = c if total is None else total + c
    out = pivoted.select("doc_id", total.alias("raw"))
    if k is not None:
        out = out.orderBy(F.col("raw").desc(), F.asc("doc_id")).limit(k)
    return out


def _bm25_index_for(spark, sf_dir: str) -> str:
    """The saved BM25 index of a fixture corpus, built once: valid
    when the manifest's exact ``n_docs`` equals the documents file's
    footer row count."""
    import os

    return indexstore.fixture_index(
        "bm25_seg",
        os.path.join(sf_dir, "documents.parquet"),
        lambda p: build_bm25_index(sources.table(spark, "documents", sf_dir), p),
        lambda man: man["meta"]["n_docs"],
    )


@ext_query(
    "ext_bm25_indexed",
    rf"""WITH words AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents),
        tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY doc_id, w),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY doc_id),
        stats AS (SELECT AVG(dl * 1.0) AS avgdl, COUNT(*) AS n FROM dl),
        dfreq AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM words
                  WHERE w IN ('spark', 'table', 'merge') GROUP BY w),
        scores AS (
          SELECT tf.doc_id, tf.w,
                 ln((n - df + 0.5) / (df + 0.5) + 1.0)
                   * tf.tf * ({BM25_K1} + 1.0)
                   / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / avgdl)) AS s
          FROM tf
          JOIN dfreq ON tf.w = dfreq.w
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats),
        pivoted AS (
          SELECT doc_id,
                 COALESCE(SUM(CASE WHEN w = 'spark' THEN s END), 0.0) AS s1,
                 COALESCE(SUM(CASE WHEN w = 'table' THEN s END), 0.0) AS s2,
                 COALESCE(SUM(CASE WHEN w = 'merge' THEN s END), 0.0) AS s3
          FROM scores GROUP BY doc_id)
       SELECT doc_id,
              FLOOR((s1 + s2 + s3) * 10000.0 + 0.5) / 10000.0 AS bm25
       FROM pivoted
       ORDER BY (s1 + s2 + s3) DESC, doc_id LIMIT 20""",
)
def ext_bm25_indexed(spark, sf_dir):
    """BM25 through the PERSISTED postings index — same query, same
    scores as ext_bm25, but served from the saved sort-clustered
    layout (build-once per corpus, footer-pruned term probes) instead
    of a corpus pass. The oracle is ext_bm25's exact SQL: the indexed
    read path must reproduce the inline computation bit-for-bit
    (avgdl from exact integer stats, identical scoring expression,
    same fixed-order term sum). Cited parity: the reference has no
    retrieval index; this is the lexical member of the saved-index
    family (IVF/PQ/HNSW)."""
    path = _bm25_index_for(spark, sf_dir)
    return (
        query_bm25_index(spark, path, BM25_TERMS, k=20)
        .select(
            "doc_id",
            half_up(F.col("raw"), 4).alias("bm25"),
        )
    )


def train_bpe(docs: DataFrame, n_merges: int = 30) -> list[tuple[str, str]]:
    """Distributed BPE vocabulary training (Sennrich et al., "Neural
    Machine Translation of Rare Words with Subword Units"): learn
    ``n_merges`` merge rules from the corpus.

    Scale analysis — the part that matters at 100 TB: BPE trains on
    the WORD-FREQUENCY table, not the corpus. One corpus-sized
    aggregation (word counts — the cheapest shuffle there is)
    collapses terabytes of text to a vocabulary-sized frame
    (millions of rows at web scale), and every merge iteration then
    runs on that small frame: an explode→sum pair count (partial-agg
    friendly, weighted by word freq) and a vectorized pandas merge
    rewrite. The per-iteration driver transfer is ONE row (the
    argmax pair — inherent to the sequential algorithm). Lineage is
    localCheckpoint-truncated every 8 rounds (iterative-algorithm
    contract, same as connected_components). Ties break
    deterministically on (freq desc, left, right)."""
    import pandas as pd

    vocab = materialize.checkpoint(
        docs.select(F.explode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(F.expr("transform(split(w, ''), c -> c)").alias("syms"), "freq")
    )

    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        pairs = (
            vocab.select(
                F.explode_outer(
                    F.expr(
                        "CASE WHEN size(syms) >= 2 THEN "
                        "transform(sequence(0, size(syms) - 2), "
                        "          j -> struct(syms[j] AS l, syms[j+1] AS r)) "
                        "ELSE CAST(array() AS array<struct<l:string,r:string>>) END"
                    )
                ).alias("p"),
                "freq",
            )
            .filter(F.col("p").isNotNull())
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not pairs or pairs[0]["n"] < 2:
            break
        a, b = pairs[0]["l"], pairs[0]["r"]
        merges.append((a, b))

        def _merge(syms):
            def m(seq):
                out = []
                i = 0
                n = len(seq)
                while i < n:
                    if i + 1 < n and seq[i] == a and seq[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(seq[i])
                        i += 1
                return out

            return syms.map(m)

        # this module uses `from __future__ import annotations`, which
        # stringifies hints; pandas_udf needs REAL type objects, so set
        # them explicitly instead of annotating the signature
        _merge.__annotations__ = {"syms": pd.Series, "return": pd.Series}
        merge_pair = F.pandas_udf(_merge, "array<string>")

        vocab = vocab.select(merge_pair("syms").alias("syms"), "freq")
        if (i + 1) % 8 == 0:
            vocab = materialize.checkpoint(vocab)
    return merges


# Reference 12-merge lists per frozen fixture, keyed by the corpus
# fingerprint COUNT(*):SUM(length(text)) — computed by the PURE-PYTHON
# textbook BPE (the same reference test_bpe_training_matches_reference_
# implementation pins on a toy corpus) run over each testdata dir, NOT
# by the Spark trainer, so the oracle grades the distributed trainer
# against an independent implementation. A fixture change makes the
# fingerprint miss every pin -> 0 oracle rows -> loud red row; and
# test_bpe_train_oracle_pins_match_reference re-derives these lists
# from the parquet on every suite run, so the pins cannot rot.
BPE_TRAIN_REFERENCE_PINS: dict[str, list[tuple[str, str]]] = {
    "500:153156": [  # sf0.001
        ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
        ("l", "u"), ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"),
        ("a", "n"), ("c", "an"),
    ],
    "500:149174": [  # sf0.01 (== BPE_PINNED_MERGES, the encode table)
        ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
        ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
        ("j", "o"), ("jo", "in"),
    ],
    "5000:1485576": [  # sf0.1
        ("e", "r"), ("i", "n"), ("o", "r"), ("s", "t"), ("o", "w"),
        ("t", "a"), ("l", "u"), ("m", "er"), ("a", "r"), ("p", "ar"),
        ("u", "p"), ("par", "k"),
    ],
}


def _bpe_train_oracle() -> str:
    """Oracle for ext_bpe_train via the fixture-closed-form recipe
    (the one that graduated ext_cdc_chunk_stats and
    ext_compression_ratio in r9): the trainer's merge list is a pure
    deterministic function of the frozen corpus (integer frequencies,
    total (freq DESC, left, right) tie-break), so the independently
    computed reference lists ride the oracle as a VALUES CTE selected
    by the live corpus fingerprint. The iteration itself stays
    Spark-side; the oracle grades its 12-step argmax trajectory
    end-to-end at every ladder sf."""
    rows = []
    for fp, merges in BPE_TRAIN_REFERENCE_PINS.items():
        for i, (a, b) in enumerate(merges):
            rows.append(f"('{fp}',{i + 1},'{a}','{b}')")
    values = ",".join(rows)
    return f"""WITH fp AS (SELECT CAST(COUNT(*) AS VARCHAR) || ':' ||
                    CAST(SUM(length(text)) AS VARCHAR) AS v FROM documents),
 pins(corpus_fp, rank, "left", "right") AS (VALUES {values})
SELECT rank, "left", "right" FROM pins, fp WHERE pins.corpus_fp = fp.v"""


@ext_query("ext_bpe_train", _bpe_train_oracle())
def ext_bpe_train(spark, sf_dir):
    """Driver-facing wrapper: the learned merge table (rank, left,
    right) over the documents corpus. Oracled as of r10 via the
    fixture-closed-form recipe (:func:`_bpe_train_oracle`): the
    argmax-dependent iteration isn't expressible as one query, but
    its output on the frozen fixture is a pinned pure function of the
    corpus, independently recomputed by the textbook reference both
    offline (the pins) and in pytest. Equivalence against the
    reference single-machine BPE on a toy corpus stays
    pytest-enforced on top."""
    d = sources.table(spark, "documents", sf_dir)
    merges = train_bpe(d, n_merges=12)
    return spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    )


def bpe_tokenize(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply learned BPE merges: (doc_id, tokens array). The merge
    table is a closure constant (KBs — broadcast with the serialized
    UDF), application is one vectorized pandas pass per Arrow batch;
    rank order of merges is the greedy application order, exactly as
    trained. Pairs with :func:`train_bpe` to complete the tokenizer
    story: train once on the word-frequency table, apply everywhere."""
    import pandas as pd

    ranked = {pair: i for i, pair in enumerate(merges)}

    def _tok(text):
        out = []
        for w in (text or "").lower().split():
            syms = list(w)
            while len(syms) >= 2:
                best, best_rank = None, None
                for i in range(len(syms) - 1):
                    r = ranked.get((syms[i], syms[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best, best_rank = i, r
                if best is None:
                    break
                syms[best : best + 2] = [syms[best] + syms[best + 1]]
            out.extend(syms)
        return out

    def _apply(texts):
        return texts.map(_tok)

    _apply.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(_apply, "array<string>")
    return docs.select("doc_id", udf(F.col("text")).alias("tokens"))


@ext_query(
    "ext_pmi",
    r"""WITH words AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          FROM documents),
        uni AS (
          SELECT word, COUNT(*) AS c1 FROM (
            SELECT doc_id, unnest(w) AS word FROM words)
          GROUP BY word),
        n_uni AS (SELECT SUM(c1) AS n1 FROM uni),
        bg AS (
          SELECT w[i] AS l, w[i+1] AS r
          FROM words, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i) t),
        bgc AS (SELECT l, r, COUNT(*) AS c2 FROM bg GROUP BY l, r),
        n_bg AS (SELECT SUM(c2) AS n2 FROM bgc)
       SELECT l, r, c2,
              FLOOR(ln((c2 * 1.0 / n2) / ((ca.c1 * 1.0 / n1) * (cb.c1 * 1.0 / n1)))
                    * 10000.0 + 0.5) / 10000.0 AS pmi
       FROM bgc
       JOIN uni ca ON ca.word = bgc.l
       JOIN uni cb ON cb.word = bgc.r
       CROSS JOIN n_uni CROSS JOIN n_bg
       WHERE c2 >= 5""",
)
def ext_pmi(spark, sf_dir):
    """Pointwise mutual information over adjacent word pairs — the
    collocation-extraction statistic (Church & Hanks): PMI =
    ln(p(l,r) / (p(l)p(r))), reported for pairs seen >= 5 times.
    Scale shape: two word-count aggregations (unigram + bigram — the
    cheap shuffles), corpus totals stay IN-PLAN as 1-row aggregates,
    and the unigram table joins back onto bigram counts — AQE
    broadcasts it while it's small and demotes to hash join at
    web-scale vocabulary. All probability arithmetic is a fixed
    expression tree, so doubles agree bit-for-bit with the oracle."""
    d = sources.table(spark, "documents", sf_dir)
    words = d.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), "\\s+").alias("w")
    )
    uni = (
        words.select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c1"))
    )
    n_uni = uni.agg(F.sum("c1").alias("n1"))
    bg_expr = F.expr(
        """CASE WHEN size(w) >= 2 THEN
             transform(sequence(0, size(w) - 2), i -> struct(w[i] AS l, w[i+1] AS r))
           ELSE CAST(array() AS array<struct<l:string,r:string>>) END"""
    )
    bgc = (
        words.select(F.explode(bg_expr).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.count("*").alias("c2"))
    )
    n_bg = bgc.agg(F.sum("c2").alias("n2"))
    ca, cb = uni.alias("ca"), uni.alias("cb")
    pmi = F.log(
        (F.col("c2") * F.lit(1.0) / F.col("n2"))
        / ((F.col("ca.c1") * F.lit(1.0) / F.col("n1")) * (F.col("cb.c1") * F.lit(1.0) / F.col("n1")))
    )
    return (
        bgc.filter(F.col("c2") >= 5)
        .join(ca, F.col("l") == F.col("ca.word"))
        .join(cb, F.col("r") == F.col("cb.word"))
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bg))
        .select(
            "l", "r", "c2",
            half_up(pmi, 4).alias("pmi"),
        )
    )


# Pinned 12-merge vocabulary: the deterministic output of
# train_bpe(documents, n_merges=12) on the sf0.01 fixture (the
# trainer's argmax tie-breaks on (count DESC, left ASC, right ASC),
# so this table is reproducible bit-for-bit — regenerate with that
# call if the fixture ever changes). Pinning the table is what makes
# the ENCODE half oracle-able: applying a FIXED merge table is
# deterministic at any sf, while the table itself is corpus-dependent
# (training stays live + pytest-attested under ext_bpe_train).
BPE_PINNED_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"),
]


def _bpe_oracle_sql() -> str:
    """DuckDB replay of rank-order BPE application under the pinned
    merge table, via the wrapped-symbol replace trick: a word's
    symbols are rendered ``\\x01 s1 \\x01\\x01 s2 \\x01\\x01 ... \\x01``
    (every symbol wrapped on both sides), so replacing
    ``\\x01 a \\x01\\x01 b \\x01`` with ``\\x01 ab \\x01`` is exactly one
    exhaustive left-to-right merge pass — SQL ``replace`` consumes
    matches non-overlapping left-to-right, the same scan-skip the
    trainer's merge step uses. Rank-order exhaustive application
    equals the tokenizer's greedy lowest-rank loop (a merge at rank k
    can only create pairs whose merges have rank > k; verified
    corpus-wide against the kernel at sf0.01 and sf0.1)."""
    d = "chr(1)"
    expr = f"{d} || array_to_string(string_split(w, ''), {d}||{d}) || {d}"
    for a, b in BPE_PINNED_MERGES:
        pat = f"{d}||'{a}'||{d}||{d}||'{b}'||{d}"
        rep = f"{d}||'{a}{b}'||{d}"
        expr = f"replace({expr}, {pat}, {rep})"
    tok_word = f"replace(trim({expr}, chr(1)), {d}||{d}, ' ')"
    return f"""WITH words AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                             x -> x <> '') AS ws
          FROM documents),
        enc AS (
          SELECT doc_id,
                 array_to_string(list_transform(ws, w -> {tok_word}), ' ') AS tokens
          FROM words)
        SELECT doc_id, tokens,
               CAST(CASE WHEN tokens = '' THEN 0
                    ELSE len(string_split(tokens, ' ')) END AS BIGINT) AS n_tokens
        FROM enc"""


@ext_query("ext_bpe_encode", _bpe_oracle_sql())
def ext_bpe_encode(spark, sf_dir):
    """The ENCODE half of the tokenizer story (train_bpe learns the
    merges, bpe_tokenize applies them): the corpus tokenized under the
    PINNED 12-merge vocabulary (``BPE_PINNED_MERGES`` — the sf0.01
    trainer output), emitted as (doc_id, space-joined tokens,
    n_tokens). Oracled as of round 9: with the merge table fixed, the
    greedy rank-order encoder is deterministic, and the DuckDB oracle
    replays it exactly (see ``_bpe_oracle_sql``); the live trainer and
    the kernel's rank-order contract stay pytest-attested
    (test_bpe_training_matches_reference_implementation,
    test_bpe_tokenize_applies_merges_in_rank_order). Tokens are
    space-joined (BPE symbols never contain whitespace: they merge
    within whitespace-split words) so the output stays flat. Scale
    shape: the merge table is a KB-scale closure constant; application
    is one vectorized Arrow pass — embarrassingly parallel, no
    shuffle."""
    d = sources.table(spark, "documents", sf_dir)
    return bpe_tokenize(d, BPE_PINNED_MERGES).select(
        "doc_id",
        F.array_join("tokens", " ").alias("tokens"),
        F.size("tokens").cast("bigint").alias("n_tokens"),
    )


# --------------------------------------------- Zipf frequency spectrum

@ext_query(
    "ext_zipf_spectrum",
    r"""WITH words AS (
         SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
         FROM documents),
       vocab AS (SELECT w, COUNT(*) AS c FROM words WHERE w <> '' GROUP BY w),
       spec AS (SELECT c AS freq, COUNT(*) AS n_words FROM vocab GROUP BY c),
       ranked AS (
         SELECT freq, n_words,
                COALESCE(SUM(n_words) OVER (ORDER BY freq DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + (n_words + 1) / 2.0 AS rank_mid
         FROM spec),
       fit AS (
         SELECT (SUM(n_words * ln(rank_mid) * ln(freq))
                 - SUM(n_words * ln(rank_mid)) * SUM(n_words * ln(freq))
                   / SUM(n_words))
              / (SUM(n_words * ln(rank_mid) * ln(rank_mid))
                 - SUM(n_words * ln(rank_mid)) * SUM(n_words * ln(rank_mid))
                   / SUM(n_words)) AS slope
         FROM ranked)
       SELECT CAST(freq AS BIGINT) AS freq,
              CAST(n_words AS BIGINT) AS n_words,
              rank_mid,
              FLOOR(slope * 10000.0 + 0.5) / 10000.0 AS zipf_slope
       FROM ranked, fit""",
)
def ext_zipf_spectrum(spark, sf_dir):
    """Corpus token-frequency SPECTRUM (frequency-of-frequencies) plus
    a weighted-OLS Zipf exponent — the one-page statistical profile a
    data card quotes for vocabulary health (a slope far from -1 or a
    truncated tail flags templated/boilerplate corpora; Heaps/Zipf
    checks are standard corpus QA). Scale shape: the corpus-sized
    shuffle is the partial-agg'd word count; the spectrum groupBy then
    collapses the VOCAB to at most O(sqrt(total_tokens)) distinct
    frequencies (a million-token corpus has < ~1500 spectrum rows, a
    100 TB one < ~10M — each row 3 numbers), so the global
    rank-cumsum window runs over a bounded frame (the documented
    single-partition exception, same class as the percentile gates)
    and the slope is one more tiny aggregate broadcast back as a
    plan-literal column. Word ranks are never materialized — the
    midpoint rank of every word at frequency f falls out of the
    spectrum cumsum, which is what keeps the global sort out of the
    plan entirely."""
    from pyspark.sql import Window

    d = sources.table(spark, "documents", sf_dir)
    words = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    vocab = words.groupBy("w").agg(F.count("*").alias("c"))
    spec = vocab.groupBy(F.col("c").alias("freq")).agg(
        F.count("*").alias("n_words")
    )
    win = (
        Window.orderBy(F.desc("freq"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = spec.withColumn(
        "rank_mid",
        F.coalesce(F.sum("n_words").over(win), F.lit(0))
        + (F.col("n_words") + F.lit(1)) / F.lit(2.0),
    )
    # the spectrum is consumed twice (slope fit + output); it is a
    # bounded O(sqrt(tokens))-row frame, so materializing it costs KBs
    # and saves the SECOND full corpus word-count chain
    ranked = materialize.checkpoint(ranked)
    wx = F.col("n_words") * F.log("rank_mid")
    fit = ranked.agg(
        (
            (F.sum(wx * F.log("freq"))
             - F.sum(wx) * F.sum(F.col("n_words") * F.log("freq"))
               / F.sum("n_words"))
            / (F.sum(wx * F.log("rank_mid"))
               - F.sum(wx) * F.sum(wx) / F.sum("n_words"))
        ).alias("slope")
    )
    return ranked.crossJoin(F.broadcast(fit)).select(
        F.col("freq").cast("bigint").alias("freq"),
        F.col("n_words").cast("bigint").alias("n_words"),
        "rank_mid",
        half_up(F.col("slope"), 4).alias("zipf_slope"),
    )


# ------------------------------------------ compression-ratio signal

def compression_ratio(
    docs, text_col: str = "text", level: int = 6
) -> "DataFrame":
    """(doc_id, n_bytes, z_bytes, ratio): per-document zlib
    compression ratio — the classic repetition/boilerplate signal
    (used alongside the Gopher gates: highly compressible text is
    template or repeated content; near-incompressible text is noise
    or binary junk). Row-local mapInPandas, one Arrow crossing, no
    shuffle; works on string or binary columns. ratio = z/n rounded
    to 4 decimals. Zero-byte/NULL documents get a NULL ratio — the
    raw zlib header overhead would otherwise report ~8.0, which reads
    as maximally-incompressible binary junk to downstream gates when
    the document is actually just empty."""
    import pandas as pd
    import zlib as _zlib

    from smartpipeline_spark.functions.dedup import _to_bytes

    def kernel(batches):
        for pdf in batches:
            n_b, z_b = [], []
            for t in pdf[text_col]:
                data = _to_bytes(t)
                n_b.append(len(data))
                z_b.append(len(_zlib.compress(data, level)))
            out = pd.DataFrame({"doc_id": pdf["doc_id"]})
            out["n_bytes"] = n_b
            out["z_bytes"] = z_b
            # the fixture oracle's int() truncation equals this floor
            # only because z / n is never negative
            out["ratio"] = pd.array(
                [np_half_up(z / n, 4) if n else None for n, z in zip(n_b, z_b)],
                dtype="Float64",
            )
            yield out

    id_type = docs.schema["doc_id"].dataType.simpleString()
    return docs.select("doc_id", text_col).mapInPandas(
        kernel, f"doc_id {id_type}, n_bytes long, z_bytes long, ratio double"
    )


def _compression_fixture_sql() -> str:
    """DuckDB oracle for ext_compression_ratio: the key compresses a
    DETERMINISTIC in-plan column (64 residue classes of doc_id, each
    a fixed md5-derived string mixing a repeated 16-char block with a
    non-repeating tail, so compressibility spans the spectrum), which
    makes the zlib output a pure function of ``doc_id % 64`` at any
    sf. No SQL engine reproduces zlib, so the reference output is
    materialized here: this CTE embeds (residue, n_bytes, z_bytes,
    ratio) computed by CPython's zlib at level 6 — the independent
    single-machine reference the distributed kernel must match
    byte-for-byte. If Spark's synth expression or the Arrow kernel
    ever drifts from the local reference, the driver hash flags it."""
    import hashlib
    import zlib as _z

    rows = []
    for r in range(64):
        seed = hashlib.md5(str(r).encode()).hexdigest()
        tail = hashlib.md5((str(r) + "!").encode()).hexdigest()[::-1]
        syn = seed[:16] * (1 + r % 10) + tail
        data = syn.encode()
        n, z = len(data), len(_z.compress(data, 6))
        ratio = float(int(z / n * 10000 + 0.5)) / 10000
        rows.append(f"({r}, {n}, {z}, {ratio})")
    values = ",\n          ".join(rows)
    return f"""WITH ref(r, n_bytes, z_bytes, ratio) AS (
          VALUES {values})
        SELECT d.doc_id, CAST(ref.n_bytes AS BIGINT) AS n_bytes,
               CAST(ref.z_bytes AS BIGINT) AS z_bytes,
               CAST(ref.ratio AS DOUBLE) AS ratio
        FROM documents d JOIN ref ON d.doc_id % 64 = ref.r"""


@ext_query("ext_compression_ratio", _compression_fixture_sql())
def ext_compression_ratio(spark, sf_dir):
    """Corpus compressibility profile over a deterministic synthetic
    column (oracled as of round 9). The zlib kernel itself is not
    SQL-expressible, so the registered key compresses an in-plan
    fixture column — ``doc_id % 64`` residue classes, each a fixed
    md5-derived string whose repeated-block-to-random-tail mix spans
    the compressibility spectrum — and the oracle joins the corpus
    against the CPython-zlib reference outputs per residue (see
    ``_compression_fixture_sql``): sf-independent, exact, and the
    distributed kernel (mapInPandas, one Arrow crossing, no shuffle)
    is graded byte-for-byte. The REAL-text profile stays available as
    :func:`compression_ratio` and is pytest-attested by exact
    local-zlib equivalence + a planted repetitive-vs-diverse ordering
    test (test_compression_ratio_exact_and_ordering)."""
    d = sources.table(spark, "documents", sf_dir)
    r = (F.col("doc_id") % 64).cast("string")
    syn = F.concat(
        F.repeat(F.substring(F.md5(r), 1, 16), (F.col("doc_id") % 64 % 10 + 1).cast("int")),
        F.reverse(F.md5(F.concat(r, F.lit("!")))),
    )
    return compression_ratio(d.select("doc_id", syn.alias("text")))


# ------------------------------------------- per-group top terms

def top_terms_per_group(
    docs, group_col: str = "lang", k: int = 10
) -> "DataFrame":
    """Top-k words per group by corpus frequency — the data-card
    "characteristic vocabulary" table. Same skew-safe decomposition
    as curation.sample_per_group: the per-(group, word) count is the
    only corpus-sized shuffle (partial-agg'd); phase 1 takes a local
    top-k per (group, salt-of-word) so no task ever sorts a whole
    group's vocabulary; phase 2 ranks the <= k*32 survivors.
    Identical to the naive one-window-per-group plan (top-k by
    (count desc, word) distributes over any partition of the rows —
    the oracle runs the naive plan). Ties break on the word so both
    engines pick the same boundary rows."""
    from pyspark.sql import Window

    counts = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("grp", "word")
        .agg(F.count("*").alias("n"))
    )
    salt = (
        F.conv(F.substring(F.md5(F.col("word")), 1, 8), 16, 10)
        .cast("bigint") % 32
    )
    local = (
        counts.withColumn("s", salt)
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("grp", "s").orderBy(
                    F.desc("n"), F.asc("word")
                )
            ),
        )
        .filter(F.col("r") <= k)
        .drop("r", "s")
    )
    w2 = Window.partitionBy("grp").orderBy(F.desc("n"), F.asc("word"))
    return (
        local.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            F.col("grp").alias(group_col),
            "word",
            F.col("n").cast("bigint").alias("n"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


@ext_query(
    "ext_top_terms",
    r"""WITH words AS (
         SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
         FROM documents),
       counts AS (SELECT lang, word, COUNT(*) AS n
                  FROM words WHERE word <> '' GROUP BY lang, word)
       SELECT lang, word, CAST(n AS BIGINT) AS n,
              CAST(row_number() OVER (PARTITION BY lang
                                      ORDER BY n DESC, word) AS BIGINT) AS rank
       FROM counts
       QUALIFY rank <= 10""",
)
def ext_top_terms(spark, sf_dir):
    """Top-10 words per language — the oracle affords the naive
    one-window-per-group plan at fixture scale; Spark must produce
    the identical table from the salted two-phase decomposition."""
    d = sources.table(spark, "documents", sf_dir)
    return top_terms_per_group(d, "lang", 10)


# ---------------------------------------------- Shannon entropy filter

def entropy_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_char_entropy: float = 4.0,
    min_word_entropy: float = 4.0,
) -> DataFrame:
    """Character- and word-level Shannon entropy per document — the
    classic low-information/garbage filter (repetitive spam, key-mash,
    binary-ish blobs all score low on one of the two axes).

    The keep gate is length-sensitive BY CONSTRUCTION: word entropy is
    bounded by log2(n_words), so at the default ``min_word_entropy=4``
    a document under 16 distinct words can never pass — callers
    filtering short-form text should length-condition the thresholds
    (that is why they are parameters, not constants). Zero-word
    documents (whitespace-only text) are KEPT in the output via a left
    join — ``n_words=0``, ``word_entropy`` NULL, ``keep`` false —
    rather than silently vanishing.

    Both entropies use the count decomposition
    ``H = log2(N) - sum(c*log2(c)) / N`` so every floating-point term
    is a function of INTEGER counts (cross-engine reproducible up to
    summation order; outputs are rounded to 1e-4 like every float
    statistic in this package).

    100 TB design: the CHARACTER leg is entirely row-local — a
    higher-order-function fold over ``array_distinct`` of the char
    split (alphabets are ~100 symbols, so the O(len x alphabet) fold
    beats materializing one row per character), zero shuffle, full
    whole-stage codegen. The WORD leg is a word-count — explode +
    two partial-agg-friendly aggregations keyed by doc (per-doc
    vocabularies are unbounded, so the HOF trick would go quadratic
    there; the shuffle rows are (doc_id, word) partial counts, the
    cheapest shuffle Spark knows). One final co-partitioned join on
    doc_id stitches the legs."""
    chars = F.split(F.col(text_col), "")
    n = F.size(chars)
    # the char split is bound ONCE per row to a lambda variable (the
    # dedup shingler's transform(array(..))[0] trick) and each
    # distinct char's count is computed ONCE into a counts array
    # before the fold — inlining the split/count into the fold body
    # would re-run the regex per distinct char per reference
    # (measured 4.9x slower at sf0.1). An O(n log n) sorted-runs
    # rewrite (array_sort + run-length ends + map lookup) was measured
    # in r12 and LOST to this O(n x d) form at fixture document shapes
    # (+26% CPU: per-element interpreted-lambda constants — element_at
    # pairs, sequence allocation, map construction — outweigh the
    # asymptotic gain at n~300, d~40), so the direct fold stays.
    csum = F.expr(
        f"""transform(array(split({text_col}, '')), cs ->
              aggregate(
                transform(array_distinct(cs),
                          c -> cast(size(filter(cs, x -> x = c)) AS double)),
                cast(0.0 AS double),
                (acc, m) -> acc + m * log2(m)
              )
            )[0]"""
    )
    char_side = df.select(
        F.col(id_col).alias("doc_id"),
        n.cast("long").alias("n_chars"),
        (F.log2(n.cast("double")) - csum / n.cast("double")).alias("_hc"),
    )
    wc = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    word_side = wc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_words"),
        (
            F.log2(F.sum("c").cast("double"))
            - F.sum(F.col("c").cast("double") * F.log2(F.col("c").cast("double")))
            / F.sum("c").cast("double")
        ).alias("_hw"),
    )
    return char_side.join(word_side, "doc_id", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce(F.col("n_words"), F.lit(0)).cast("long").alias("n_words"),
        half_up(F.col("_hc"), 4).alias("char_entropy"),
        half_up(F.col("_hw"), 4).alias("word_entropy"),
        (
            (F.col("_hc") >= F.lit(float(min_char_entropy)))
            & F.coalesce(
                F.col("_hw") >= F.lit(float(min_word_entropy)), F.lit(False)
            )
        ).alias("keep"),
    )


@ext_query(
    "ext_entropy_filter",
    r"""WITH c AS (
          SELECT doc_id, length(text) AS n,
                 list_distinct(string_split(text, '')) AS dc,
                 string_split(text, '') AS cs
          FROM documents),
        ce AS (
          SELECT doc_id, n,
                 log2(n) - list_sum(list_transform(dc, ch ->
                   len(list_filter(cs, x -> x = ch))
                   * log2(len(list_filter(cs, x -> x = ch))))) / n AS hc
          FROM c),
        w AS (SELECT doc_id,
                     unnest(string_split_regex(trim(text), '\s+')) AS wd
              FROM documents),
        wcnt AS (SELECT doc_id, wd, COUNT(*) AS cnt
                 FROM w WHERE wd <> '' GROUP BY doc_id, wd),
        we AS (SELECT doc_id, SUM(cnt) AS nw,
                      log2(SUM(cnt)) - SUM(cnt * log2(cnt)) / SUM(cnt) AS hw
               FROM wcnt GROUP BY doc_id)
        SELECT ce.doc_id,
               CAST(ce.n AS BIGINT) AS n_chars,
               CAST(COALESCE(we.nw, 0) AS BIGINT) AS n_words,
               floor(ce.hc * 10000.0 + 0.5) / 10000.0 AS char_entropy,
               floor(we.hw * 10000.0 + 0.5) / 10000.0 AS word_entropy,
               ce.hc >= 4.0 AND COALESCE(we.hw >= 4.0, FALSE) AS keep
        FROM ce LEFT JOIN we USING (doc_id)""",
)
def ext_entropy_filter(spark, sf_dir):
    """Shannon char/word entropy + the low-information keep gate over
    the documents corpus."""
    d = sources.table(spark, "documents", sf_dir)
    return entropy_metrics(d)


# -------------------------------------------- readability (Flesch)

def readability_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Flesch reading-ease per document (Flesch 1948; the
    FineWeb/Gopher-family complexity signal computable without a
    model): ``206.835 - 1.015*(words/sentences) - 84.6*(syllables/
    words)``. Syllables use the standard vowel-group approximation
    (maximal runs of [aeiouy], min 1 per word); sentences count
    terminal-punctuation runs (min 1 per doc). The grade bucket
    labels the usual bands (>=70 easy, >=50 standard, >=30 difficult,
    else very_difficult).

    100 TB design: three regexp counts + one arithmetic projection —
    entirely row-local, zero shuffle, whole-stage codegen; fuses
    behind whatever scan feeds it."""
    lower = F.lower(F.col(text_col))
    words = F.greatest(
        F.size(
            F.filter(
                F.split(F.trim(F.col(text_col)), r"\s+"),
                lambda x: x != F.lit(""),
            )
        ),
        F.lit(1),
    ).cast("double")
    sents = F.greatest(
        F.size(F.expr(f"regexp_extract_all({text_col}, '[.!?]+', 0)")),
        F.lit(1),
    ).cast("double")
    syll = F.greatest(
        F.size(F.expr("regexp_extract_all(_lw, '[aeiouy]+', 0)")),
        F.lit(1),
    ).cast("double")
    score = (
        F.lit(206.835) - F.lit(1.015) * (words / sents)
        - F.lit(84.6) * (syll / words)
    )
    flesch = half_up(score, 2)
    return (
        df.withColumn("_lw", lower)
        .select(
            F.col(id_col).alias("doc_id"),
            words.cast("long").alias("n_words"),
            sents.cast("long").alias("n_sentences"),
            syll.cast("long").alias("n_syllables"),
            flesch.alias("flesch"),
            F.when(flesch >= 70, F.lit("easy"))
            .when(flesch >= 50, F.lit("standard"))
            .when(flesch >= 30, F.lit("difficult"))
            .otherwise(F.lit("very_difficult"))
            .alias("band"),
        )
    )


@ext_query(
    "ext_readability",
    r"""WITH m AS (
          SELECT doc_id,
                 greatest(len(list_filter(string_split_regex(trim(text), '\s+'),
                                          x -> x <> '')), 1) * 1.0 AS words,
                 greatest(len(regexp_extract_all(text, '[.!?]+')), 1) * 1.0 AS sents,
                 greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) * 1.0 AS syll
          FROM documents),
        s AS (
          SELECT doc_id, words, sents, syll,
                 floor((206.835 - 1.015 * (words / sents)
                        - 84.6 * (syll / words)) * 100.0 + 0.5) / 100.0 AS flesch
          FROM m)
        SELECT doc_id,
               CAST(words AS BIGINT) AS n_words,
               CAST(sents AS BIGINT) AS n_sentences,
               CAST(syll AS BIGINT) AS n_syllables,
               flesch,
               CASE WHEN flesch >= 70 THEN 'easy'
                    WHEN flesch >= 50 THEN 'standard'
                    WHEN flesch >= 30 THEN 'difficult'
                    ELSE 'very_difficult' END AS band
        FROM s""",
)
def ext_readability(spark, sf_dir):
    """Flesch reading ease + band over the documents corpus."""
    d = sources.table(spark, "documents", sf_dir)
    return readability_scores(d)
