#!/usr/bin/env python
"""Dev loop: run every declared query against its DuckDB oracle and
print pass/fail per key (same comparison the driver performs).

Usage: python scripts/check_oracles.py [sf_dir] [key_prefix...]
"""

from __future__ import annotations

import sys
from pathlib import Path
import time
import traceback

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from smartpipeline_spark.session import get_spark
from smartpipeline_spark.testing import compare


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    prefixes = sys.argv[2:] or None
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    spark = get_spark("oracle-check")
    failed = []
    for key, fn in sorted(qs.items()):
        if prefixes and not any(key.startswith(p) for p in prefixes):
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            if key in oracles:
                res = compare(df, oracles[key], sf_dir)
                ok = res["hash_match"]
                detail = (
                    f"rows {res['spark_rows']}/{res['oracle_rows']}"
                    + ("" if res["cols_match"] else f" COLS {res['spark_cols']} vs {res['oracle_cols']}")
                )
            else:
                n = df.count()
                ok = True
                detail = f"rows-only {n}"
            status = "PASS" if ok else "FAIL"
            if not ok:
                failed.append(key)
            print(f"{status}  {key:32s} {time.time()-t0:6.1f}s  {detail}", flush=True)
        except Exception as e:
            failed.append(key)
            print(f"ERROR {key:32s} {time.time()-t0:6.1f}s  {type(e).__name__}: {e}", flush=True)
            if "--trace" in sys.argv:
                traceback.print_exc()
    print(f"\n{len(failed)} failing: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
