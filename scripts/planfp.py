"""Shared plan-fingerprint primitive.

Two consumers: ``scripts/check_oracles.py --plans`` prints one
fingerprint line per registered key, and tests/test_scale.py compares
the fingerprints and operator counts of two plans to pin a plan shape.
Keep the format here so both read it the same way.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def fingerprint_of_plan(p: str) -> str:
    """The ``exch=.. (reused=..) bhj=.. smj=.. codegen=..
    pushedFilterScans=n/m [NESTEDLOOP=k]`` summary of a formatted
    plan."""
    n_exchange = len(re.findall(r"\bExchange\b", p))
    n_reused = len(re.findall(r"ReusedExchange", p))
    n_bhj = len(re.findall(r"BroadcastHashJoin", p))
    n_smj = len(re.findall(r"SortMergeJoin", p))
    # count OPERATORS, not mentions (formatted explain prints each
    # operator in the tree AND a numbered detail block)
    n_cart = len(set(re.findall(r"\((\d+)\) CartesianProduct", p)))
    n_bnlj = len(set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", p)))
    n_nlj = n_cart + n_bnlj
    n_wsc = len(set(re.findall(r"codegen id : (\d+)", p)))
    pushed = re.findall(r"PushedFilters: \[(.*?)\]", p)
    pushed_n = sum(1 for x in pushed if x.strip())
    nlj_note = f" NESTEDLOOP={n_nlj}" if n_nlj else ""
    # fixed-width counts keep check_oracles.py's --plans column aligned
    return (
        f"exch={n_exchange:2d} (reused={n_reused}) bhj={n_bhj} "
        f"smj={n_smj} codegen={n_wsc:2d} "
        f"pushedFilterScans={pushed_n}/{len(pushed)}{nlj_note}"
    )


def operator_counts(p: str) -> dict:
    """Structural operator histogram of a formatted plan: operator
    name -> count, parsed from the numbered detail blocks (one block
    per physical operator, so the count is per-operator regardless of
    how many times the tree view mentions a name). For tests that need
    to pin a plan SHAPE ("no Generate", "two checkpoint scans") this
    beats substring probes of explain text, which break on rendering
    changes."""
    counts: dict = {}
    for m in re.finditer(r"^\(\d+\) (.+?)(?: \[codegen id : \d+\])?$", p, re.M):
        name = m.group(1).strip()
        counts[name] = counts.get(name, 0) + 1
    return counts
