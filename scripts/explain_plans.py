#!/usr/bin/env python
"""Plan inspection: dump .explain('formatted') for the query inventory
and flag scale smells — missing filter pushdown, unpruned scans,
missing broadcasts, excess exchanges.

Usage: python scripts/explain_plans.py [key_prefix...] [--full] [--check]

``--check`` exits non-zero if any plan builds with an error or
contains a nested-loop join shape (CartesianProduct /
BroadcastNestedLoopJoin) outside the declared allowlist below —
the one plan pathology that silently turns a working fixture query
into an O(N*M) scan at cluster scale.
"""

from __future__ import annotations

import io
import re
import sys
from pathlib import Path
from contextlib import redirect_stdout

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF = "/root/testdata/sf0.01"

# Keys whose docstrings DECLARE an all-pairs shape (exact baselines
# that exist to oracle the bucketed scale paths, or an explicit
# tiny-side cartesian). Everything else must plan hash/sort joins —
# EXCEPT the scalar-attach idiom: joining a broadcast 1-row aggregate
# (a keyless `Keys: []` HashAggregate) plans as a
# BroadcastNestedLoopJoin that moves one row, which is the correct
# way to put an in-plan total beside every row. The check therefore
# flags CartesianProduct always, and BNLJ when a plan contains more
# BNLJ operators than keyless FINAL-aggregate frames (a per-frame
# COUNT, not a plan-global boolean — one legitimate scalar attach
# must not exempt a second, accidental all-pairs join in the same
# plan, and partial-aggregate twins must not inflate the budget).
NESTED_LOOP_ALLOWED = {
    "q49_cross_join",  # declared tiny-side cartesian demo
    "ext_dedup_embedding",  # O(N^2) exact baseline for semantic dedup
    "ext_knn_bruteforce",  # O(N*Q) exact baseline for the ANN ladder
    # MMR's registered first stage IS the brute baseline retriever
    # (same O(N*Q) broadcast pool as ext_knn_bruteforce, by contract
    # swappable for any ANN member); the MMR re-rank itself is the
    # bounded applyInPandas group that follows.
    "ext_mmr_diversify",
}


from scripts.planfp import fingerprint_of_plan, plan_of  # noqa: E402


def main():
    from smartpipeline_spark.session import get_spark

    import __spark_entry__ as entrymod

    prefixes = [a for a in sys.argv[1:] if not a.startswith("--")] or None
    full = "--full" in sys.argv
    check = "--check" in sys.argv
    spark = get_spark("explain")
    violations = []
    for key, fn in sorted(entrymod.queries().items()):
        if prefixes and not any(key.startswith(p) for p in prefixes):
            continue
        try:
            p = plan_of(fn(spark, SF))
        except Exception as e:
            print(f"{key}: ERROR {e}")
            violations.append(f"{key}: plan build error: {e}")
            continue
        # count OPERATORS, not mentions: formatted explain prints each
        # operator in the tree view AND as a numbered detail block, so
        # a bare substring count double-counts every join
        n_cart = len(set(re.findall(r"\((\d+)\) CartesianProduct", p)))
        n_bnlj = len(set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", p)))
        # scalar-attach justification: keyless FINAL aggregates.
        # Counted per logical frame, not boolean and not per line — a
        # plan-global boolean would let ONE legitimate scalar frame
        # exempt EVERY BNLJ in the plan, and counting raw "Keys: []"
        # lines double-counts (each frame prints a partial AND a final
        # aggregate operator, so one legit frame's spare line would
        # still hide one accidental all-pairs join). The partial twin
        # is identified by its partial_* function names; only the
        # final operator counts as a frame.
        n_scalar_frames = len(
            [
                m
                for m in re.findall(
                    r"Keys: \[\]\nFunctions \[\d+\]: \[([^\]]*)\]", p
                )
                if "partial_" not in m
            ]
        )
        scans = re.findall(r"ReadSchema: (.*)", p)
        # the same fingerprint tests/test_scale.py compares — one
        # shared primitive (scripts/planfp.py)
        print(f"{key:28s} {fingerprint_of_plan(p)}")
        if key not in NESTED_LOOP_ALLOWED:
            if n_cart:
                violations.append(
                    f"{key}: {n_cart} CartesianProduct outside the allowlist"
                )
            if n_bnlj > n_scalar_frames:
                violations.append(
                    f"{key}: {n_bnlj} BroadcastNestedLoopJoin vs "
                    f"{n_scalar_frames} keyless final-aggregate frames — "
                    "more nested-loop joins than scalar frames could justify"
                )
        if full:
            for s in scans:
                print(f"    scan: {s.strip()[:120]}")
            print(p)
    spark.stop()
    if check and violations:
        print("PLAN CHECK FAILED:")
        for v in violations:
            print(f"  {v}")
        sys.exit(1)
    if check:
        print("PLAN CHECK OK")


if __name__ == "__main__":
    main()
