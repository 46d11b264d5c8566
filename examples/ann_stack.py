"""The ANN stack, end to end — how the similarity-search operators
compose into a production retrieval service at 100 TB scale.

Ladder (each rung trades candidate quality for scanned bytes):
  1. brute force        — exact; the oracle every other rung is
                          recall-tested against
  2. hyperplane LSH     — bucketed candidates, write-once bucket keys
  3. IVF                — sample-trained coarse cells, nprobe dial
  4. PQ                 — m-byte codes, ADC table-gather scoring
  5. IVF+PQ (IVFADC)    — cells bound WHICH rows, codes bound the
                          BYTES per row; the FAISS production layout
Plus the index lifecycle — for BOTH quantizers: build once
(partitioned by cell), query with partition pruning, append
incrementally with a drift report (IVF: cell concentration; PQ:
codebook reconstruction fit). Both indexes live in the one saved-index
store (``smartpipeline_spark.indexstore``): each append is a new
immutable segment published by one atomic manifest replace, and the
quantizers ride in that manifest. The saved-index query paths are
pinned bit-equal to the inline queries in tests.

Run: python examples/ann_stack.py
"""

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from smartpipeline_spark import get_spark
from smartpipeline_spark.functions import EXT_QUERIES
from smartpipeline_spark.functions.similarity import (
    N_QUERIES,
    _emb,
    append_to_ivf_index,
    append_to_pq_index,
    build_ivf_index,
    build_pq_index,
    query_ivf_index,
    query_pq_index,
)

SF_DIR = "/root/testdata/sf0.001"


def recall(approx, exact):
    a = {(r.query_id, r.neighbor_id) for r in approx}
    e = {(r.query_id, r.neighbor_id) for r in exact}
    return len(a & e) / len(e)


def main():
    spark = get_spark("ann-stack-example")
    exact = EXT_QUERIES["ext_knn_bruteforce"](spark, SF_DIR).collect()

    for key in ("ext_knn_lsh", "ext_knn_ivf", "ext_knn_pq", "ext_knn_ivfpq"):
        rows = EXT_QUERIES[key](spark, SF_DIR).collect()
        print(f"{key:>16}: recall@10 = {recall(rows, exact):.2f}")

    # index lifecycle: build (partitioned by cell) -> query (pruned)
    # -> append (saved centroids, drift report)
    e = _emb(spark, SF_DIR)
    with tempfile.TemporaryDirectory() as d:
        idx = f"{d}/ivf_index"
        hold = e.filter((F.col("vec_id") % 7 != 0) & (F.col("vec_id") % 11 == 3))
        base = e.join(hold.select("vec_id"), "vec_id", "left_anti")
        build_ivf_index(base, idx)
        queries = e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
        )
        before = query_ivf_index(spark, idx, queries).count()
        rep = append_to_ivf_index(spark, idx, hold)
        after = query_ivf_index(spark, idx, queries).count()
        print(
            f"saved index: {before} -> {after} result rows after appending "
            f"{rep['appended']} vectors into {rep['cells_touched']} cells "
            f"(retrain_recommended={rep['retrain_recommended']})"
        )

        # the same lifecycle on the memory-bound quantizer: IVFPQ
        # layout (codes behind cell partitions), codebook-drift report
        pq = f"{d}/pq_index"
        build_pq_index(base, pq, with_cells=True)
        rep2 = append_to_pq_index(spark, pq, hold)
        topk = query_pq_index(spark, pq, queries, vectors=e)
        print(
            f"saved PQ index: {topk.count()} result rows; append fit "
            f"drop {rep2['fit_drop']:+.4f} vs build "
            f"(retrain_recommended={rep2['retrain_recommended']}); "
            f"codes-only ADC mode rows = "
            f"{query_pq_index(spark, pq, queries).count()}"
        )


if __name__ == "__main__":
    main()
