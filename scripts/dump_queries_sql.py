#!/usr/bin/env python
"""Regenerate queries/ — one .sql file per registered query key, holding
the DuckDB-oracle SQL text (or a pointer to the pytest verification for
non-oracled operators). Run after adding/changing any oracle;
tests/test_relational.py asserts the directory is in sync.
"""

from __future__ import annotations

import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

QUERIES_DIR = REPO / "queries"


def render(key: str, oracle: str | None) -> str:
    if oracle is not None:
        return (
            f"-- {key}: DuckDB oracle (ANSI SQL over the shared parquet views).\n"
            "-- Spark implementation in smartpipeline_spark (see SURVEY.md 2.12).\n"
            + textwrap.dedent(oracle).strip()
            + "\n"
        )
    return (
        f"-- {key}: no SQL oracle (hash-seed-specific / approximate / binary-media\n"
        "-- operator). Verified by pytest invariants instead - see SURVEY.md 2.12.\n"
    )


def main() -> None:
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    keys = list(entrymod.queries())
    QUERIES_DIR.mkdir(exist_ok=True)
    for stale in QUERIES_DIR.glob("*.sql"):
        if stale.stem not in keys:
            stale.unlink()
    for k in keys:
        (QUERIES_DIR / f"{k}.sql").write_text(render(k, oracles.get(k)))
    print(f"wrote {len(keys)} files to {QUERIES_DIR}")


if __name__ == "__main__":
    main()
