"""Retrieval stack for RAG over a curated corpus — the search-side
composition of the engine's operators: BM25 lexical ranking + cosine
vector ranking fused by reciprocal rank (RRF), with the corpus first
passed through exact dedup and the repetition gate so boilerplate
never reaches the index.

Plan shape at 100 TB: each ranker reduces the corpus to a 50-row
candidate list inside its own scan (postings-pruned BM25; brute cosine
here — swap in the IVF/LSH operators from ``functions/similarity`` for
a billion-vector corpus); the fusion join touches 100 rows. Nothing in
the retrieval path shuffles document bodies. For a standing corpus,
pre-build BOTH modalities' saved layouts once —
``functions.text.build_bm25_index`` (sort-clustered postings,
footer-pruned term probes) and ``functions.similarity.build_ivf_index``
(cell-partitioned vectors), both segment tables of the one saved-index
store (``smartpipeline_spark.indexstore``, appends commit by one
manifest replace) — and serve query batches from them; the
end-to-end indexed composition is measured as the ``rag_retrieval_qps``
rung in ``scripts/scale_smoke.py`` (results:
``git show d3e6f62:SMOKE_r11.json``).

Run: python examples/rag_retrieval.py [sf_dir]
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from smartpipeline_spark import get_spark, sources
from smartpipeline_spark.functions import EXT_QUERIES
from smartpipeline_spark.functions.curation import repetition_metrics


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("rag-retrieval")

    docs = sources.table(spark, "documents", sf_dir)
    keep = (
        EXT_QUERIES["ext_dedup_exact"](spark, sf_dir)
        .select(F.col("keep_id").alias("doc_id"))
        .join(
            repetition_metrics(docs).filter("keep").select("doc_id"),
            "doc_id",
            "left_semi",
        )
    )
    print(f"index-worthy docs: {keep.count()} / {docs.count()}")

    # the retrieval index unit is the overlapping chunk, not the doc:
    # embeddings degrade past a few hundred tokens and answers live
    # mid-document (map-side explode — no shuffle)
    from smartpipeline_spark.functions.curation import chunk_documents

    chunks = chunk_documents(docs.join(keep, "doc_id", "left_semi"))
    print(f"index units after chunking: {chunks.count()}")

    fused = EXT_QUERIES["ext_hybrid_search"](spark, sf_dir)
    hits = fused.join(keep, "doc_id", "left_semi").join(
        docs.select("doc_id", "lang", F.substring("text", 1, 60).alias("snippet")),
        "doc_id",
    )
    print("top fused hits (lexical rank, vector rank, rrf):")
    for r in hits.orderBy(F.desc("rrf"), "doc_id").limit(10).collect():
        print(f"  doc {r.doc_id:>6}  lex={r.r_lex} vec={r.r_vec} rrf={r.rrf:.6f} [{r.lang}] {r.snippet!r}")

    # final stage: MMR re-rank — the fused list is relevance-ordered,
    # so near-duplicate passages crowd the context window; the greedy
    # λ-blend spends the k slots on coverage instead. Pool is bounded
    # (the fused candidates), so this re-rank prices as noise.
    diversified = EXT_QUERIES["ext_mmr_diversify"](spark, sf_dir)
    print("MMR-diversified context set (rank, score):")
    for r in diversified.filter("query_id = 0").orderBy("mmr_rank").collect():
        print(f"  #{r.mmr_rank}  vec {r.neighbor_id:>6}  mmr={r.mmr_score:.4f}")
    spark.stop()


if __name__ == "__main__":
    main()
