"""The one rounding rule and the exact-decimal money sums.

Every engine-side rounding and exact-decimal money sum that an oracle
compares goes through here, so the engine (Spark Column code and the
pandas kernels it runs) and its DuckDB oracle SQL agree bit-for-bit. These are the hash-match
hazards of SURVEY.md §7.3, solved once:

* money/measure SUM/AVG go through DECIMAL: per-row doubles are
  bit-identical across engines, casting them to DECIMAL(18,4)/(22,8)
  is exact (inputs have <=6 true decimal digits, far from cast-tie
  boundaries), and DECIMAL summation is exact integer arithmetic —
  immune to float summation-order differences between Spark's
  partial-aggregate tree and DuckDB's scan order;
* rounding to k digits uses FLOOR(x*10^k + 0.5)/10^k instead of ROUND:
  Spark's ROUND rounds the shortest-decimal-string of the double
  (BigDecimal.valueOf) while DuckDB rounds the binary value, so exact
  .xx5 ties diverge (1.005 -> 1.01 vs 1.0); the FLOOR form is the same
  IEEE ops on both sides and in numpy. It rounds half toward +inf, so
  -0.125 -> -0.12.

Each expression language gets one function taking the digit count:
:func:`half_up` (Column), :func:`sql_half_up` (DuckDB text) and
:func:`np_half_up` (numpy / Python floats).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

DEC4 = "decimal(18,4)"
DEC8 = "decimal(22,8)"
DEC28 = "decimal(28,12)"


def half_up(col, k: int):
    """Round a Column to ``k`` decimals: FLOOR(x*10^k + 0.5)/10^k."""
    scale = 10.0**k
    return F.floor(col * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


def sql_half_up(expr: str, k: int) -> str:
    """DuckDB-text twin of :func:`half_up`."""
    scale = 10.0**k
    return f"FLOOR(({expr}) * {scale} + 0.5) / {scale}"


def np_half_up(x, k: int):
    """numpy twin of :func:`half_up` for pandas kernels; takes arrays
    or Python floats."""
    scale = 10.0**k
    return np.floor(x * scale + 0.5) / scale


def dsum2(col, dec: str = DEC4):
    """Exact decimal SUM of a per-row double, output as 2-dec double."""
    return half_up(F.sum(col.cast(dec)).cast("double"), 2)


def davg2(col, count_col, dec: str = DEC4):
    """AVG as exact-decimal SUM / COUNT, rounded: both engines divide
    the identical double by the identical count."""
    return half_up(F.sum(col.cast(dec)).cast("double") / count_col, 2)


def sql_dsum2(expr: str, dec: str = "DECIMAL(18,4)") -> str:
    """DuckDB-text twin of :func:`dsum2`."""
    return sql_half_up(f"CAST(SUM(CAST({expr} AS {dec})) AS DOUBLE)", 2)


def sql_davg2(expr: str, count_expr: str = "COUNT(*)", dec: str = "DECIMAL(18,4)") -> str:
    """DuckDB-text twin of :func:`davg2`."""
    return sql_half_up(f"CAST(SUM(CAST({expr} AS {dec})) AS DOUBLE) / {count_expr}", 2)
