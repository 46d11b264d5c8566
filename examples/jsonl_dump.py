"""Engine-idiomatic rewrite of the reference's dump-to-jsonl example
(reference ``examples/dump_es_ids.py``: FileIter source → ESRetrieve
batched lookup → JsonlDump sink stage).

Spark-first translation:
* line-oriented file source        → ``sources.text_lines``
* batched external-lookup stage    → a broadcast lookup JOIN (the
  reference amortized round-trips with BatchStage; with a joinable
  dimension the idiomatic form is a join — no per-batch I/O at all)
* JsonlDump side-effect stage      → ``df.write.json`` (distributed
  sink, not a driver-side file handle)

Run: python examples/jsonl_dump.py <ids.txt> <dim.parquet> <out_dir>
(no args: self-demo over the sf0.001 customer table in a temp dir)
"""

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from smartpipeline_spark import get_spark, sources


def main(ids_path: str, dim_path: str, out_dir: str) -> None:
    spark = get_spark("jsonl-dump-example")
    ids = sources.text_lines(spark, ids_path).select(
        F.col("value").alias("_id")
    ).filter(F.length("_id") > 0)
    dim = spark.read.parquet(dim_path)
    enriched = ids.join(F.broadcast(dim), ids["_id"] == dim[dim.columns[0]], "left")
    enriched.write.mode("overwrite").json(out_dir)
    print(f"wrote {spark.read.json(out_dir).count()} records to {out_dir}")


def _self_demo() -> None:
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark = get_spark("jsonl-dump-example")
        ids_path = f"{d}/ids.txt"
        with open(ids_path, "w") as fh:
            fh.write("".join(f"{i}\n" for i in range(1, 51)))
        dim = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        dim.withColumn(
            "c_custkey", F.col("c_custkey").cast("string")
        ).write.mode("overwrite").parquet(f"{d}/dim.parquet")
        main(ids_path, f"{d}/dim.parquet", f"{d}/out")


if __name__ == "__main__":
    if len(sys.argv) >= 4:
        main(*sys.argv[1:4])
    else:
        _self_demo()
