#!/usr/bin/env python
"""Multimodal curation end to end: binary media columns -> decoded
metadata -> perceptual near-dup removal -> loader-ready tar shards.

The multimodal analog of training_data_pipeline.py, wiring together
the stacks that round 4 connected: real container decode
(functions/multimodal.py), perceptual hashing + Hamming-banded
pairing (the dedup machinery), connected-components canonicalization,
and the WebDataset tar-shard sink — all over opaque binary payload
columns, pixels never shuffled.

Usage: python examples/multimodal_pipeline.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F

from smartpipeline_spark.session import get_spark


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("multimodal-pipeline")

    # 1. the media corpus: (doc_id, payload) binary column with REAL
    #    PNG/BMP/WAV bytes (deterministic synthetic stand-in for an
    #    ingested object-store listing)
    from smartpipeline_spark.functions.multimodal import (
        ext_multimodal_decode,
        media_phash,
        synth_media,
    )

    media = synth_media(spark, sf_dir).persist()
    n_assets = media.count()

    # 2. decode real container headers -> typed metadata (the same
    #    encode->binary->parse round trip the oracled key attests)
    meta = ext_multimodal_decode(spark, sf_dir)
    by_kind = {r.kind: r.n for r in meta.groupBy("kind").agg(F.count("*").alias("n")).collect()}
    print(f"{n_assets} assets decoded: {by_kind}")

    # 3. perceptual near-dup: aHash for images / spectral-sign hash
    #    for audio, Hamming-banded candidate pairs, exact bit_count
    #    verify — resized / re-encoded copies of one asset collapse
    from smartpipeline_spark.functions.dedup import (
        connected_components,
        hamming_band_pairs,
    )

    hashed = media_phash(media)
    pairs = hamming_band_pairs(
        hashed, id_col="doc_id", hash_col="phash", class_col="media_class"
    )
    comps = connected_components(pairs)  # (id, cluster_id=min of cluster)
    # canonical = min doc_id per near-dup cluster; everything else drops
    drops = comps.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("doc_id")
    )
    survivors = media.join(drops, "doc_id", "left_anti")
    n_kept = survivors.count()
    # the synthetic corpus cycles dimensions mod 29x17, so most assets
    # ARE perceptual duplicates — heavy collapse here is the operator
    # working, not over-matching (precision/recall pinned in pytest)
    print(f"near-dup removal: {n_assets} -> {n_kept} assets")

    # 4. shard the survivors for a training loader: payload bytes plus
    #    a JSON metadata member per sample, byte-deterministic tars
    from smartpipeline_spark.functions.curation import export_tar_shards

    with_meta = survivors.join(meta, "doc_id").select(
        "doc_id",
        "payload",
        F.to_json(F.struct("kind", "width", "height", "duration_ms")).alias("meta"),
    )
    stats = export_tar_shards(
        with_meta,
        str(REPO / ".tmp/media_shards"),
        members={"payload": "bin", "meta": "json"},
        num_shards=4,
    ).collect()
    print(
        f"sharded into {len(stats)} tars, "
        f"{sum(s.n_samples for s in stats)} samples, "
        f"{sum(s.payload_bytes for s in stats)} payload bytes"
    )
    spark.stop()


if __name__ == "__main__":
    main()
