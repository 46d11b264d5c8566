#!/usr/bin/env python
"""One-command green-ness gate: chains the verification surfaces in
cheap-to-expensive order and stops at the first failure.

    python scripts/release_check.py [--fast]

1. scripts/audit_oracle_types.py (driver-faithful oracle output types
   across the FULL registry; ~30 s)
2. pytest tests/ (full suite; ~8 min)
3. scripts/check_oracles.py at sf0.01 (the driver's own comparison;
   ~4 min)
4. scripts/explain_plans.py --check (no undeclared nested-loop plans;
   ~10 min — skipped with --fast)
5. bench.py (one measured pass so a pathological slowdown surfaces;
   ~7 min — skipped with --fast)

Exit code 0 = every stage passed. Each stage streams its own output;
this wrapper only sequences and summarizes.
"""

from __future__ import annotations

import subprocess
import sys
import time
from pathlib import Path

STAGES = [
    # cheapest first: every oracle's DuckDB output types must be
    # pandas-faithful (no HUGEINT/list/struct — the driver's
    # canonicalizer mishandles them; ~30s, catches rotation hazards
    # across the FULL registry, not just the current window)
    ("oracle-types", [sys.executable, "scripts/audit_oracle_types.py"]),
    ("pytest", [sys.executable, "-m", "pytest", "tests/", "-x", "-q"]),
    (
        "oracles@sf0.01",
        [sys.executable, "scripts/check_oracles.py", "/root/testdata/sf0.01"],
    ),
    ("plan-check", [sys.executable, "scripts/explain_plans.py", "--check"]),
    ("bench", [sys.executable, "bench.py"]),
]


def main() -> int:
    fast = "--fast" in sys.argv
    stages = STAGES[:3] if fast else STAGES
    results = []
    for name, cmd in stages:
        t0 = time.monotonic()
        rc = subprocess.call(cmd, cwd=Path(__file__).resolve().parents[1])
        dt = round(time.monotonic() - t0, 1)
        results.append((name, rc, dt))
        print(f"[release_check] {name}: {'PASS' if rc == 0 else 'FAIL'} ({dt}s)")
        if rc != 0:
            break
    print("[release_check] summary:")
    for name, rc, dt in results:
        print(f"  {name:16s} {'PASS' if rc == 0 else 'FAIL':4s} {dt:8.1f}s")
    return 0 if all(rc == 0 for _, rc, _ in results) else 1


if __name__ == "__main__":
    sys.exit(main())
