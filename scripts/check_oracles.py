#!/usr/bin/env python
"""The inventory runner: build every registered query (or the ones the
key prefixes select) once per session and check it.

Usage: python scripts/check_oracles.py [sf_dir] [key_prefix ...]
           [--oracle] [--driver] [--plans] [--types] [--trace]

``sf_dir`` defaults to /root/testdata/sf0.01, the external driver's
scale; with no check flag ``--oracle`` runs. ``--oracle`` is
``testing.compare`` against the DuckDB oracle; ``--driver`` the external
driver's stricter pandas comparison, on a bare session of its own (in a
child process when combined with other checks); ``--plans`` fails on a
nested-loop join outside ``NESTED_LOOP_ALLOWED``; ``--types`` (DuckDB
only) fails on oracle output types the driver mishandles and on stale
fingerprint pins. Each key is built and checked inside one
``materialize.scope``; every line ends ``left N``, the storage entries
(persistent RDDs, cached plans) the session holds after the scope and
did not before, and a key with N > 0 fails. Exit 1 on any FAIL or
ERROR in any check.

The runner changes into the repository root before any session starts:
Python workers run ``python -m pyspark.daemon``, which puts the driver's
working directory first on their ``sys.path``, so from anywhere else
they would import no package, or another copy of it.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import subprocess
import sys
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

DEFAULT_SF = "/root/testdata/sf0.01"
CHECKS = ("types", "driver", "plans", "oracle")  # run order

def _oracle_check(key, df, sql, sf_dir) -> tuple[bool, str]:
    from smartpipeline_spark.testing import compare

    res = compare(df, sql, sf_dir)
    detail = f"rows {res['spark_rows']}/{res['oracle_rows']}"
    if not res["cols_match"]:
        detail += f" COLS {res['spark_cols']} vs {res['oracle_cols']}"
    return res["hash_match"], detail


# --- --driver: the external driver's comparison ----------------------
#
# The round-4 lesson: three values-correct queries failed the driver
# because its canonicalizer differs from the builder's (`testing.compare`
# recurses into list cells and keeps DuckDB ints exact; the driver's
# pandas `sort_values` crashes on lists and renders HUGEINT as float64).
# So the Spark result goes through toPandas() and the oracle through
# duckdb `.df()`; columns sort by name, rows by ALL columns via pandas
# ``sort_values``; cells hash as strings, floats at 6 significant digits
# (tolerant of sub-ulp engine drift, strict on int-vs-float).


def _cell(v) -> str:
    import datetime

    import pandas as pd

    # nulls cross the paths as None (Spark object cols), NaT (DuckDB
    # datetime64 cols), or NaN — one canonical token for all three
    # (the builder's compare still checks NaN-vs-NULL exactly)
    if v is None or (not isinstance(v, (str, bytes, list)) and pd.isna(v)):
        return "NULL"
    # "#" keeps the point and trailing zeros: 65994.0 renders as
    # "65994.0", never as the int's "65994" (plain ".6g" drops the
    # point and let every int-vs-float mismatch below 1e6 through)
    if isinstance(v, float):
        return format(v, "#.6g")
    # DATE columns cross the two paths differently (Spark toPandas ->
    # datetime.date; DuckDB .df() -> datetime64 at midnight, pandas
    # having no date dtype). The real driver treats these as equal —
    # r04 greens on every date-emitting TPC-H key prove it — so
    # collapse midnight naive timestamps to their date before
    # stringifying. int-vs-float divergence (the HUGEINT failure the
    # driver DID flag) stays strict.
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None and v.time() == datetime.time(0, 0):
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    return str(v)


def _canon_hash(pdf) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    h = hashlib.md5()
    for row in pdf.itertuples(index=False):
        h.update(("|".join(_cell(v) for v in row) + "\n").encode())
    return h.hexdigest()


def _driver_check(key, df, sql, sf_dir) -> tuple[bool, str]:
    from smartpipeline_spark.testing import duckdb_connection

    sp = df.toPandas()
    con = duckdb_connection(sf_dir)
    try:
        od = con.execute(sql).df()
    finally:
        con.close()
    rows_ok = len(sp) == len(od)
    schema_ok = sorted(sp.columns) == sorted(od.columns)
    hash_ok = rows_ok and schema_ok and _canon_hash(sp) == _canon_hash(od)
    detail = f"rows {len(sp)}/{len(od)}"
    if not schema_ok:
        detail += f" COLS {sorted(sp.columns)} vs {sorted(od.columns)}"
    elif not hash_ok:
        detail += " HASH-MISMATCH"
    return rows_ok and schema_ok and hash_ok, detail


def _driver_session():
    """The external driver owns its SparkSession: bare builder, no
    engine confs, built BEFORE any smartpipeline_spark import, so a
    query that needs a conf or a worker dependency must set it up on a
    session it did not create (round 8 shipped a TWS crash that a
    get_spark() rehearsal hid)."""
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    spark = SparkSession.builder.master(f"local[{cpus}]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# --- --plans: no undeclared nested-loop join --------------------------
#
# Keys whose docstrings DECLARE an all-pairs shape. Everything else must
# plan hash/sort joins, except the scalar-attach idiom: a broadcast
# 1-row keyless aggregate (`Keys: []`) joins as a BroadcastNestedLoopJoin
# that moves one row. So CartesianProduct always fails, and BNLJ fails
# when a plan has more BNLJ operators than keyless FINAL-aggregate
# frames: a per-frame count, so one legitimate scalar attach cannot
# exempt a second, accidental all-pairs join in the same plan.
NESTED_LOOP_ALLOWED = {
    "q49_cross_join",  # declared tiny-side cartesian demo
    "ext_dedup_embedding",  # O(N^2) exact baseline for semantic dedup
    "ext_knn_bruteforce",  # O(N*Q) exact baseline for the ANN ladder
    # MMR's first stage IS the brute baseline retriever (swappable for
    # any ANN member); its re-rank is a bounded applyInPandas group
    "ext_mmr_diversify",
}


def _plan_check(key, df, sql, sf_dir) -> tuple[bool, str]:
    from scripts.planfp import fingerprint_of_plan, plan_of

    p = plan_of(df)
    # count OPERATORS, not mentions: formatted explain prints each
    # operator in the tree view AND as a numbered detail block
    n_cart = len(set(re.findall(r"\((\d+)\) CartesianProduct", p)))
    n_bnlj = len(set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", p)))
    # each frame prints a partial AND a final aggregate; the partial
    # twin is told apart by its partial_* function names
    frames = re.findall(r"Keys: \[\]\nFunctions \[\d+\]: \[([^\]]*)\]", p)
    n_scalar_frames = sum("partial_" not in m for m in frames)
    violations = []
    if key not in NESTED_LOOP_ALLOWED:
        if n_cart:
            violations.append(f"{n_cart} CartesianProduct outside the allowlist")
        if n_bnlj > n_scalar_frames:
            violations.append(
                f"{n_bnlj} BroadcastNestedLoopJoin vs {n_scalar_frames} "
                "keyless final-aggregate frames — more nested-loop joins "
                "than scalar frames could justify"
            )
    return not violations, "  ".join([fingerprint_of_plan(p), *violations])


# --- --types: oracle output types and pin liveness (DuckDB only) -----

# HUGEINT reaches pandas as float64; list/struct/map cells make pandas
# sort_values raise
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
    oracles: dict[str, str], sf_dirs=None, keys=PINNED_FP_KEYS
) -> dict[str, str]:
    """{key@sf: reason} for every fp-gated oracle that returns no rows
    (or fails) against the live parquet — the fingerprint went stale."""
    from smartpipeline_spark.testing import duckdb_connection

    sf_dirs = sf_dirs or [f"/root/testdata/{sf}" for sf in LADDER]
    stale: dict[str, str] = {}
    for sf_dir in sf_dirs:
        con = duckdb_connection(sf_dir)
        for key in keys:
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


def check_types(oracles, keys, sf_dir) -> list[str]:
    from smartpipeline_spark.testing import duckdb_connection

    con = duckdb_connection(sf_dir)
    audited = [k for k in keys if k in oracles]
    failed = []
    for key in audited:
        try:
            rel = con.sql(oracles[key])
            bad = [
                f"{name}: {t}"
                for name, t in zip(rel.columns, map(str, rel.types))
                if any(m in t.upper() for m in BAD_MARKERS) or "[]" in t
            ]
        except Exception as e:  # an unrunnable oracle is its own failure
            bad = [f"<oracle failed to execute: {type(e).__name__}: {e}>"]
        if bad:
            failed.append(key)
            print(f"FAIL  types  {key}: {bad}", flush=True)
    pinned = [k for k in PINNED_FP_KEYS if k in keys]
    stale = pinned_liveness(oracles, keys=pinned)
    for k, why in sorted(stale.items()):
        print(f"FAIL  types  {k}: {why}", flush=True)
    print(f"types: {len(audited) - len(failed)}/{len(audited)} oracles with driver-faithful "
          f"types; {len(stale)} stale pins of {len(pinned)} keys x {len(LADDER)} sfs")
    return failed + sorted(stale)


SESSION_CHECKS = {"plans": _plan_check, "oracle": _oracle_check, "driver": _driver_check}


def held(spark) -> frozenset:
    """What the session holds in storage: its persistent RDD ids and
    its CacheManager's cached plans (by JVM identity)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    plans = field.get(cm)
    ident = spark._jvm.java.lang.System.identityHashCode
    rdds = spark.sparkContext._jsc.getPersistentRDDs().keySet()
    return frozenset(
        [("plan", ident(plans.apply(i))) for i in range(plans.size())]
        + [("rdd", int(i)) for i in rdds]
    )


def sweep(spark, sf_dir, queries, oracles, checks, trace) -> dict[str, list[str]]:
    """Build each of ``queries`` once and run each of ``checks`` on it,
    in order (plans first: the plan is read before the query runs), all
    inside one ``materialize.scope``; the failing keys per check. A key
    also fails when the session holds more after its scope than before
    it (``left N``)."""
    from smartpipeline_spark.materialize import scope

    failed: dict[str, list[str]] = {name: [] for name in checks}
    for key, fn in queries.items():
        t0 = time.time()
        before = held(spark)
        lines = []
        with scope():
            df = error = None
            try:
                df = fn(spark, sf_dir)
            except Exception as e:
                error = e
            for name in checks:
                try:
                    if error is not None:
                        raise error
                    if name != "plans" and key not in oracles:
                        # ROWS_ONLY_ATTESTATIONS keys: a pytest attests them
                        ok, detail = True, f"rows-only {df.count()}"
                    else:
                        ok, detail = SESSION_CHECKS[name](key, df, oracles.get(key), sf_dir)
                    status = "PASS" if ok else "FAIL"
                except Exception as e:
                    ok, status, detail = False, "ERROR", f"{type(e).__name__}: {e}"
                    if trace:
                        traceback.print_exc()
                lines.append((name, ok, status, time.time() - t0, detail))
        left = len(held(spark) - before)
        for name, ok, status, secs, detail in lines:
            if ok and left:
                ok, status = False, "FAIL"
            if not ok:
                failed[name].append(key)
            print(f"{status:5s} {name:6s} {key:32s} {secs:6.1f}s  {detail}  left {left}", flush=True)
    for name, bad in failed.items():
        print(f"{name}: {len(queries) - len(bad)}/{len(queries)} PASS", flush=True)
    return failed


def _parse(argv):
    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    p.add_argument("args", nargs="*", metavar="[sf_dir] [key_prefix ...]")
    for flag in CHECKS + ("trace",):
        p.add_argument(f"--{flag}", action="store_true")
    a = p.parse_intermixed_args(argv)
    pos = list(a.args)
    sf_dir = DEFAULT_SF
    if pos and ("/" in pos[0] or os.path.isdir(pos[0])):
        sf_dir = os.path.abspath(pos.pop(0))
    checks = [c for c in CHECKS if getattr(a, c)] or ["oracle"]
    return sf_dir, tuple(pos), checks, a.trace


def main(argv=None) -> int:
    sf_dir, prefixes, checks, trace = _parse(sys.argv[1:] if argv is None else argv)
    os.chdir(REPO)  # before any session: workers import from this cwd
    from perfbench.procs import stop_spark

    # the driver's bare session must come before any package import
    spark = _driver_session() if checks == ["driver"] else None
    import __spark_entry__ as entrymod

    queries = {k: fn for k, fn in sorted(entrymod.queries().items())
               if k.startswith(prefixes or "")}
    oracles = entrymod.oracle_sql()
    failed: dict[str, list[str]] = {}
    if "types" in checks:
        failed["types"] = check_types(oracles, list(queries), sf_dir)
    if "driver" in checks and spark is None:
        cmd = [sys.executable, str(REPO / "scripts" / "check_oracles.py"), sf_dir]
        rc = subprocess.call(cmd + [*prefixes, "--driver"] + ["--trace"] * trace)
        failed["driver"] = [f"<child exited {rc}>"] if rc else []
        checks.remove("driver")
    in_session = [c for c in checks if c in SESSION_CHECKS]
    if in_session:
        if spark is None:
            from smartpipeline_spark.session import get_spark

            spark = get_spark("oracle-check")
        try:
            failed |= sweep(spark, sf_dir, queries, oracles, in_session, trace)
        finally:
            stop_spark(spark)
        if "plans" in checks:
            print("PLAN CHECK " + ("FAILED" if failed["plans"] else "OK"))
    print()
    for name, bad in failed.items():
        print(f"{name}: " + (f"{len(bad)} FAILING {bad}" if bad else "OK"))
    return 1 if any(failed.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
