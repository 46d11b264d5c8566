#!/usr/bin/env python
"""Oracle output-type audit: execute EVERY registered oracle against
DuckDB (sf0.001) and fail on output column types the external driver's
pandas canonicalizer mishandles — HUGEINT (reaches pandas as float64,
so Spark's '65994' hash-mismatches the oracle's '65994.0') and
list/struct/map cells (pandas sort_values raises on them).

Pin-fingerprint LIVENESS leg (r10 verdict #5): the fingerprint-GATED
oracles (pins keyed by an exact corpus fingerprint, matched via
``WHERE corpus_fp = fp`` / a fingerprint CASE) return ZERO rows when
the live parquet no longer matches any pinned fingerprint — a
testdata regeneration would then surface as a confusing red driver
row. This audit runs those keys' oracles against ALL THREE ladder
sfs and fails on any empty result, so the break lands in this ~30s
gate instead. (The residue-class closed forms — multimodal
resize/frames/phash, compression — are pure functions of doc_id and
need no liveness gate; the LSH/MMR replays carry no pins.)

tests/test_manifest.py pins this for the CURRENT driver window; this
audit covers the full registry because the window rotates — any key
may be in-window next round. Wired into scripts/release_check.py.

Usage: python scripts/audit_oracle_types.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

BAD_MARKERS = ("HUGEINT", "INT128", "STRUCT(", "MAP(")

# every oracle whose pins are keyed by a corpus fingerprint (empty
# result == fingerprint mismatch). Adding a new pinned key? Add it
# here — test_manifest.test_fp_gated_oracles_listed_in_audit greps
# the gating pattern from queries/ and fails if this list goes stale.
PINNED_FP_KEYS = (
    "q12b_approx_distinct",       # pins keyed by COUNT(*) of orders
    "ext_bpe_train",              # documents COUNT:SUM(length) fp
    "ext_quality_classifier",     # documents COUNT:SUM(length) fp
    "ext_lang_id_trained",        # documents fp CASE
    "ext_dedup_semantic",         # embeddings DECIMAL fp (pinned cells)
    "ext_knn_ivf",                # embeddings DECIMAL fp (centroids)
    "ext_knn_pq",                 # embeddings DECIMAL fp (candidates)
    "ext_knn_ivfpq",              # embeddings DECIMAL fp (candidates)
    "ext_hybrid_indexed",         # embeddings DECIMAL fp (ivf centroids)
)

LADDER = ("sf0.001", "sf0.01", "sf0.1")


def pinned_liveness(
    oracles: dict[str, str], sf_dirs=None
) -> dict[str, str]:
    """{key@sf: reason} for every fp-gated oracle that returns no rows
    (or fails) against the live parquet — the fingerprint went stale."""
    from smartpipeline_spark.testing import duckdb_connection

    sf_dirs = sf_dirs or [f"/root/testdata/{sf}" for sf in LADDER]
    stale: dict[str, str] = {}
    for sf_dir in sf_dirs:
        con = duckdb_connection(sf_dir)
        for key in PINNED_FP_KEYS:
            if key not in oracles:
                stale[f"{key}@{sf_dir}"] = "<key missing from registry>"
                continue
            try:
                n = len(con.sql(oracles[key]).fetchall())
            except Exception as e:
                stale[f"{key}@{sf_dir}"] = f"<oracle failed: {e}>"
                continue
            if n == 0:
                stale[f"{key}@{sf_dir}"] = (
                    "0 rows — pinned fingerprint does not match the live "
                    "parquet (testdata regenerated? re-derive the pins)"
                )
    return stale


def main() -> int:
    import __spark_entry__ as entrymod
    from smartpipeline_spark.testing import duckdb_connection

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    con = duckdb_connection(sf_dir)
    offenders: dict[str, list[str]] = {}
    oracles = entrymod.oracle_sql()
    for key, sql in sorted(oracles.items()):
        try:
            rel = con.sql(sql)
            bad = [
                f"{name}: {t}"
                for name, t in zip(rel.columns, map(str, rel.types))
                if any(m in str(t).upper() for m in BAD_MARKERS)
                or "[]" in str(t)
            ]
        except Exception as e:  # an unrunnable oracle is its own failure
            bad = [f"<oracle failed to execute: {type(e).__name__}: {e}>"]
        if bad:
            offenders[key] = bad
            print(f"FAIL  {key}: {bad}", flush=True)
    stale = pinned_liveness(oracles)
    for k, why in sorted(stale.items()):
        print(f"FAIL  {k}: {why}", flush=True)
    print(
        f"audited {len(oracles)} oracles: "
        f"{len(offenders)} with driver-unfaithful output types; "
        f"pin liveness over {len(PINNED_FP_KEYS)} fp-gated keys x "
        f"{len(LADDER)} sfs: {len(stale)} stale"
    )
    return 1 if offenders or stale else 0


if __name__ == "__main__":
    sys.exit(main())
