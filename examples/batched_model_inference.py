"""Batched model-inference pipeline — the reference's flagship
BatchStage use case (README.rst:102-113: "amortize model inference")
on the engine.

A BatchStage subclass loads its (fake) model once per executor worker
via ``on_start`` and scores Arrow-sized batches; the engine compiles
it into ``mapInPandas``, so the model loads once per Python worker
process and batches amortize inference exactly as the reference's
micro-batching did — but partition-parallel across the cluster.

Run: python examples/batched_model_inference.py
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from smartpipeline_spark import BatchStage, Pipeline, get_spark, sources


class FakeSentimentModel:
    """Stands in for an expensive-to-load model (no ML libs here)."""

    def __init__(self):
        self.loaded = True

    def predict_batch(self, texts):
        return [len(t) % 3 - 1 for t in texts]  # {-1, 0, 1}


class SentimentStage(BatchStage):
    output_fields = {"sentiment": "int"}

    def __init__(self, size: int = 256):
        super().__init__(size=size)
        self._model = None

    def on_start(self):  # once per executor Python worker
        self._model = FakeSentimentModel()

    def process_batch(self, items):
        scores = self._model.predict_batch([it.data["text"] or "" for it in items])
        for it, s in zip(items, scores):
            it.data["sentiment"] = int(s)
        return items


def main() -> None:
    spark = get_spark("batched-inference-example")
    docs = sources.table(spark, "documents", "/root/testdata/sf0.001")
    pipe = (
        Pipeline(spark)
        .set_source(docs.select("doc_id", "text"))
        .append("sentiment", SentimentStage(size=256), retryable_errors=(IOError,), max_retries=2, backoff=0.5)
    )
    out = pipe.dataframe().groupBy("sentiment").count()
    out.show()


if __name__ == "__main__":
    main()
