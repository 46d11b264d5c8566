"""End-to-end training-data curation pipeline — the north-star
composition: raw documents -> exact dedup -> near-dup clustering
(MinHash+LSH pairs resolved to one canonical doc per connected
component) -> ExactSubstr repeated-span removal -> quality / language /
LM-perplexity / entropy / repetition gates -> CCNet perplexity
bucketing -> repeated-passage accounting -> benchmark decontamination
(exact n-gram + fuzzy pair-level) -> DSIR importance selection -> PII
redaction -> token accounting -> deterministic train/val/test split ->
curated parquet. (On raw multi-line crawl pages, ``line_dedup`` — the
CCNet corpus-level boilerplate-line remover — runs FIRST, before any
per-document gate; this fixture corpus is already single-line.) (For multilingual runs, swap the en-only gate for
``stratified_sample`` / ``quality_gate`` — same broadcast-filter
shapes, no new shuffles.) Everything
except the cluster fixpoint is one lazy DataFrame program; the
connected-components step runs its bounded label-propagation loop and
feeds back in as an ordinary (doc_id, keep) frame.

This is the shape a 100 TB pretraining-data job takes on this engine:
each step is a column-algebra or bucketed-join operator from
``functions/`` — no driver loops over rows, no per-row Python.

Run: python examples/training_data_pipeline.py [sf_dir]
"""

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F

from smartpipeline_spark import get_spark, sources
from smartpipeline_spark.functions import EXT_QUERIES
from smartpipeline_spark.functions.curation import (
    assign_split,
    contamination_report,
    redact_pii,
    repetition_metrics,
)
from smartpipeline_spark.functions.dedup import connected_components


def curate(spark, sf_dir: str):
    docs = sources.table(spark, "documents", sf_dir)

    # 1. exact dedup: keep the lowest doc_id of each fingerprint group
    keep_exact = (
        EXT_QUERIES["ext_dedup_exact"](spark, sf_dir)
        .select(F.col("keep_id").alias("doc_id"))
    )

    # 2. near-dup removal, cluster-resolved: MinHash+LSH generates the
    #    candidate pairs at scale (band buckets, never corpus²);
    #    connected components folds overlapping pairs into groups and
    #    keeps exactly ONE canonical doc (min id) per group — pairwise
    #    dropping alone can orphan chains (a~b, b~c drops b and c but a
    #    and c were never compared).
    pairs = EXT_QUERIES["ext_dedup_minhash"](spark, sf_dir)
    clusters = connected_components(pairs, "d1", "d2")
    non_canonical = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("doc_id")
    )

    # 2b. ExactSubstr (Lee et al.): even among surviving distinct docs,
    #     verbatim repeated passages (boilerplate, quoted blocks) get
    #     cut — all-but-first occurrence removed, text rebuilt. The
    #     per-doc removal fraction also feeds the novelty gate below.
    from smartpipeline_spark.functions.dedup import strip_duplicate_spans

    stripped = strip_duplicate_spans(docs).select(
        "doc_id",
        F.col("text_clean"),
        (
            F.col("n_kept")
            / F.greatest(F.col("n_kept") + F.col("n_removed"), F.lit(1))
        ).alias("span_novelty"),
    )

    # 3. quality + language + LM gates (column algebra, fuse into scan;
    #    the bigram LM trains on the corpus itself in two aggregations)
    quality = EXT_QUERIES["ext_quality_score"](spark, sf_dir).select(
        "doc_id", "quality"
    )
    lang = EXT_QUERIES["ext_lang_id"](spark, sf_dir)
    lm = EXT_QUERIES["ext_lm_score"](spark, sf_dir).select(
        "doc_id", "avg_logprob"
    )

    # 4. repeated-passage accounting (keep-first chunk dedup): docs that
    #    are mostly chunks already seen elsewhere get dropped
    chunks = EXT_QUERIES["ext_chunk_dedup"](spark, sf_dir).select(
        "doc_id",
        (F.col("n_kept") / F.greatest(F.col("n_chunks"), F.lit(1))).alias("novelty"),
    )

    # 5. within-document repetition gate (Gopher dup-3gram + top-word)
    rep = repetition_metrics(docs).select("doc_id", F.col("keep").alias("rep_ok"))

    # 5a. Shannon entropy gate: low char entropy = key-mash/binary-ish,
    #     low word entropy = repetitive spam; the char leg is a
    #     row-local fold (fuses behind the scan), the word leg shares
    #     the word-count shuffle shape with `tokens` below
    from smartpipeline_spark.functions.text import entropy_metrics

    ent = entropy_metrics(docs).select("doc_id", F.col("keep").alias("ent_ok"))

    # 5b. C4/FineWeb rule battery — on raw extracted pages this is the
    #     FIRST gate (line stats + kill flags, one codegen span, fuses
    #     behind the scan); this fixture corpus is already clean
    #     single-line text, so only the content kill-flags bind here
    #     (the line-ratio gates are for multi-line pages).
    from smartpipeline_spark.functions.curation import c4_quality_rules

    c4_ok = c4_quality_rules(docs).filter(
        ~F.col("has_lorem")
        & ~F.col("has_brace")
        & ~F.col("has_js")
        & (F.col("max_word_len") <= 1000)
    ).select("doc_id")

    # 6. token accounting for the data card
    tokens = EXT_QUERIES["ext_token_count"](spark, sf_dir).select(
        "doc_id", "n_ws_tokens"
    )

    # 7. benchmark decontamination: any doc sharing a 5-gram with the
    #    held-out eval set is dropped from training data (the eval set
    #    is MBs — its shingles broadcast; the corpus never shuffles)
    bench = assign_split(docs).filter(F.col("split") == "test").select("doc_id", "text")
    contaminated = contamination_report(docs, bench, n=5).select("doc_id")

    # 7a. fuzzy pair-level decontamination: exact shingle hits above
    #     catch verbatim leakage; the containment metric additionally
    #     flags training docs that CONTAIN a benchmark item inside
    #     much longer text (where Jaccard dilutes to ~0) — union both
    #     into the drop set
    from smartpipeline_spark.functions.curation import fuzzy_decontamination

    fuzzy_dirty = (
        fuzzy_decontamination(docs, bench, n=5, threshold=0.5)
        .filter(F.col("contaminated"))
        .select("doc_id")
        .distinct()
    )
    contaminated = contaminated.unionByName(fuzzy_dirty).distinct()

    # 7b. DSIR importance selection: prefer raw docs whose hashed
    #     n-gram profile matches the held-out target distribution —
    #     fit is two m-row aggregates, scoring is map-side
    from smartpipeline_spark.functions.curation import dsir_select

    selected = dsir_select(
        docs.join(bench.select("doc_id"), "doc_id", "left_anti"),
        bench,
        frac=0.8,
    ).select("doc_id")

    # 7c. TRAINED quality score (CCNet/fastText recipe): positives =
    #     the held-out target split, negatives = an md5-bucket slice
    #     of the raw pool; logistic regression over hashed n-grams
    #     (each GD iteration is one bounded-collect job), scored in
    #     one shuffle-free map stage. Reported as a column here; a
    #     production run gates on it exactly like `quality` (or feeds
    #     it to quality_gate for a per-stratum percentile cut).
    from smartpipeline_spark.functions.curation import (
        classifier_scores,
        hash_bucket,
        train_text_classifier,
    )

    neg = (
        docs.join(bench.select("doc_id"), "doc_id", "left_anti")
        .filter(hash_bucket("doc_id", 10) == 0)
        .select("text")
    )
    labeled = (
        bench.select("text").withColumn("label", F.lit(1))
        .unionByName(neg.withColumn("label", F.lit(0)))
    )
    clf = train_text_classifier(labeled, iters=15)
    clf_scores = classifier_scores(docs, clf).select(
        "doc_id", F.col("prob").alias("clf_prob")
    )

    curated = (
        docs.join(keep_exact, "doc_id", "left_semi")
        .join(c4_ok, "doc_id", "left_semi")
        .join(non_canonical, "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
        .join(selected, "doc_id", "left_semi")
        .join(stripped, "doc_id")
        .join(quality, "doc_id")
        .join(lang, "doc_id")
        .join(lm, "doc_id")
        .join(chunks, "doc_id")
        .join(rep, "doc_id")
        .join(ent, "doc_id")
        .join(clf_scores, "doc_id")
        .join(tokens, "doc_id")
        .filter(
            (F.col("quality") >= 0.7)
            & (F.col("pred_lang") == "en")
            & (F.col("avg_logprob") > -8.0)  # gibberish floor
            & (F.col("novelty") >= 0.2)      # mostly-duplicated-content floor
            & (F.col("span_novelty") >= 0.2)  # ExactSubstr removal floor
            & F.col("rep_ok")                # boilerplate/spam repetition gate
            & F.col("ent_ok")                # low-information entropy gate
        )
    )

    # 7d. CCNet perplexity bucket label (head/middle/tail per language)
    #     rides along as a column — downstream mixing typically weights
    #     head > middle > tail rather than hard-dropping
    from smartpipeline_spark.functions.curation import ccnet_perplexity_buckets

    buckets = ccnet_perplexity_buckets(docs).select(
        "doc_id", F.col("bucket").alias("ppl_bucket")
    )
    curated = curated.join(buckets, "doc_id")

    # 8. PII scrub (on the span-stripped text) + 9. deterministic
    #    split, both pure projections
    curated = curated.drop("text").withColumnRenamed("text_clean", "text")
    return assign_split(redact_pii(curated, "text")).select(
        "doc_id",
        F.col("clean").alias("text"),
        "pred_lang",
        "quality",
        "avg_logprob",
        "ppl_bucket",
        "clf_prob",
        "novelty",
        "n_ws_tokens",
        "split",
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("training-data-pipeline")
    curated = curate(spark, sf_dir)
    out = str(REPO / ".tmp/curated_corpus")
    curated.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    n = back.count()
    toks = back.agg(F.sum("n_ws_tokens")).collect()[0][0]
    print(f"curated {n} docs, {toks} whitespace tokens -> {out}")

    # 10. pack the curated corpus into fixed-budget training sequences
    #     (concat-and-chunk; the straddle fraction is the packing tax)
    from smartpipeline_spark.functions.curation import pack_sequences

    packed = pack_sequences(back, budget=512)
    stats = packed.agg(
        (F.max(F.col("start_off") + F.col("tokens")) / 512).alias("n_seqs"),
        F.avg(F.col("straddles").cast("double")).alias("straddle_frac"),
    ).collect()[0]
    print(
        f"packed into ~{stats.n_seqs:.0f} sequences of 512 tokens, "
        f"{stats.straddle_frac:.1%} of docs straddle a boundary"
    )

    # 11. UniMax budget-constrained mixing (Chung et al. 2023): cap
    #     every language at 1.2 epochs, waterfill an 0.8x-total token
    #     budget — small languages are taken whole (epoch-2 remainder
    #     rows), the majority language is gated to the uniform share.
    #     One row per (doc, epoch); the epoch-replicated stream is
    #     what the trainer's sequence packer would consume.
    from smartpipeline_spark.functions.curation import unimax_mixture

    mixture = unimax_mixture(
        back, budget_frac=0.8, max_epochs=1.2, stratum_col="pred_lang"
    )
    alloc = (
        mixture.groupBy("pred_lang")
        .agg(F.count("*").alias("doc_epochs"), F.max("epoch").alias("max_epoch"))
        .orderBy("pred_lang")
    )
    print("UniMax allocation (doc-epochs per language):")
    alloc.show()

    # 11b. drift self-check: the md5 split is supposed to be unbiased,
    #      so the token-length distribution of each split vs the rest
    #      should show PSI ~0 / small KS — a cheap regression alarm a
    #      production job runs per snapshot (both monitors ride
    #      bin/value-bounded exchanges, never a corpus sort).
    from smartpipeline_spark.functions.curation import ks_drift, psi_drift

    drift = psi_drift(back, "n_ws_tokens", "split").join(
        ks_drift(back, "n_ws_tokens", "split"), "split"
    )
    print("split balance drift (PSI / two-sample KS of token counts):")
    drift.orderBy("split").show()

    # 12. materialize split-partitioned with a disk-attested manifest
    from smartpipeline_spark.functions.curation import export_dataset

    manifest = export_dataset(back, str(REPO / ".tmp/curated_dataset"))
    print(
        "exported:",
        {k: v["rows"] for k, v in sorted(manifest["splits"].items())},
    )

    # 12. tar-shard the train split for sequential-read training
    #     loaders (WebDataset layout, byte-deterministic shards)
    from smartpipeline_spark.functions.curation import export_tar_shards

    shards = export_tar_shards(
        back.filter(F.col("split") == "train"),
        str(REPO / ".tmp/curated_shards"),
        members={"text": "txt"},
        num_shards=8,
    ).collect()
    print(
        f"sharded train split into {len(shards)} tars, "
        f"{sum(s.n_samples for s in shards)} samples, "
        f"{sum(s.payload_bytes for s in shards)} payload bytes"
    )
    spark.stop()


if __name__ == "__main__":
    main()
