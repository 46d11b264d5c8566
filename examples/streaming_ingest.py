"""Streaming ingestion, end to end — the composition a production
document ingest runs continuously:

    file-drop source  →  quality gate (stateless column algebra)
                      →  streaming exact dedup (stateful, checkpointed)
                      →  TRAINED-classifier scoring under a persisted
                         model (the CCNet shape: every micro-batch is
                         scored map-side by the saved model)
                      →  lang-partitioned parquet sink

driven through ``Pipeline.start_stream``. The model is trained ONCE
offline (batch GD), persisted with ``save_classifier``, and loaded at
stream start — scoring is a stateless Arrow map stage
(``classifier_scores(passthrough=True)``), so it adds no streaming
state and keeps the checkpoint contract intact. The checkpoint makes
the whole chain restartable with exactly-once sink semantics: kill
the process mid-stream, start it again with the same checkpoint dir,
and the output contains every surviving document exactly once (pinned
in tests/test_streaming.py::test_ingestion_showcase_...).

At scale the same code runs unbounded: swap ``availableNow`` for a
processing-time trigger, point the source at the landing bucket, and
size ``maxFilesPerTrigger`` as the backpressure knob. The dedup stage
holds one md5 per seen document in the state store; for unbounded
retention swap ``dropDuplicates`` for
``streaming.dedup_within_watermark`` (time-bounded state) or run
periodic compactions against the batch index
(``functions.dedup.dedup_against``).

Run: python examples/streaming_ingest.py
"""

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F


def main() -> None:
    from smartpipeline_spark import Pipeline, sources
    from smartpipeline_spark.functions.dedup import _norm_text
    from smartpipeline_spark.functions.text import _quality_cols
    from smartpipeline_spark.session import get_spark

    spark = get_spark("streaming-ingest-example")
    work = tempfile.mkdtemp(prefix="ingest_")
    src, out, ckpt = f"{work}/drop", f"{work}/curated", f"{work}/ckpt"

    # simulate the landing zone: documents arrive as parquet files
    docs = sources.table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "lang", "text"
    )
    docs.repartition(4).write.mode("overwrite").parquet(src)

    def gate(df):
        n_chars, _, n_punct, n_stop = _quality_cols()
        quality = (
            F.when((n_chars >= 50) & (n_chars <= 100000), 0.4).otherwise(0.0)
            + F.when(
                n_punct * 1.0 / F.greatest(n_chars, F.lit(1)) < 0.1, 0.3
            ).otherwise(0.0)
            + F.when(n_stop > 0, 0.3).otherwise(0.0)
        )
        return df.withColumn("quality", quality).filter("quality >= 0.7")

    def dedup(df):
        return df.withColumn("fp", F.md5(_norm_text())).dropDuplicates(["fp"])

    # one-time offline training, persisted like any production model
    # artifact; the stream only ever LOADS it
    from smartpipeline_spark.functions.curation import (
        assign_split,
        classifier_scores,
        load_classifier,
        save_classifier,
        train_text_classifier,
    )

    labeled = docs.withColumn(
        "label",
        F.coalesce(F.col("text").contains("vector").cast("int"), F.lit(0)),
    )
    train = assign_split(labeled).filter(F.col("split") == "train")
    save_classifier(
        train_text_classifier(train.select("text", "label"), iters=20),
        f"{work}/quality_model.json",
    )
    model = load_classifier(f"{work}/quality_model.json")

    def score(df):
        # stateless Arrow map stage: every micro-batch scored under
        # the persisted model, low-quality docs gated out
        return classifier_scores(df, model, passthrough=True).filter(
            F.col("prob") >= 0.5
        )

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        Pipeline(spark)
        .set_source(stream)
        .transform("quality_gate", gate)
        .transform("dedup", dedup)
        .transform("classifier_score", score)
        .build()
        .start_stream(
            ckpt, sink=out, available_now=True, partition_by=("lang",)
        )
    )
    q.awaitTermination(300)
    curated = spark.read.parquet(out)
    print(f"curated docs: {curated.count()}, partitions by lang:")
    curated.groupBy("lang").count().orderBy("lang").show()
    spark.stop()


if __name__ == "__main__":
    main()
