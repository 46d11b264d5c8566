"""The rounding contract (smartpipeline_spark/rounding.py): the Column,
DuckDB-SQL and numpy forms of FLOOR(x*10^k + 0.5)/10^k agree
bit-for-bit, and no other package module spells the rule out."""

import ast
import pathlib

import numpy as np
import pandas as pd

from smartpipeline_spark.rounding import half_up, np_half_up, sql_half_up

# exact binary ties at k=2 (0.125), k=4 (1/32) and k=6 (1/128), their
# negatives, the .xx5 values Spark's and DuckDB's ROUND disagree on,
# and a large tie
PROBES = [
    0.125, -0.125, 0.03125, -0.03125, 0.0078125, -0.0078125,
    1.005, -1.005, 0.285, 4718318.125, -4718318.125,
]
DIGITS = (2, 4, 6)


def test_sql_twin_renders_the_oracle_text():
    assert sql_half_up("x", 2) == "FLOOR((x) * 100.0 + 0.5) / 100.0"
    assert sql_half_up("x", 4) == "FLOOR((x) * 10000.0 + 0.5) / 10000.0"


def test_half_up_rounds_ties_toward_positive_infinity():
    assert np_half_up(-0.125, 2) == -0.12
    assert np_half_up(0.125, 2) == 0.13
    assert np_half_up(4718318.125, 2) == 4718318.13


def test_spark_duckdb_numpy_agree_bit_for_bit(spark):
    import duckdb
    from pyspark.sql import functions as F

    rows = list(enumerate(PROBES))
    sdf = spark.createDataFrame(rows, "i int, x double")
    got_spark = {
        r["i"]: [r[f"r{k}"] for k in DIGITS]
        for r in sdf.select(
            "i", *[half_up(F.col("x"), k).alias(f"r{k}") for k in DIGITS]
        ).collect()
    }
    pdf = pd.DataFrame({"i": range(len(PROBES)), "x": np.array(PROBES, dtype=np.float64)})
    con = duckdb.connect()
    try:
        con.register("probes", pdf)
        cols = ", ".join(f"{sql_half_up('x', k)} AS r{k}" for k in DIGITS)
        got_duck = {
            r[0]: list(r[1:])
            for r in con.execute(f"SELECT i, {cols} FROM probes").fetchall()
        }
        # the reason for the rule: ROUND is not portable between the engines
        duck_round = [
            r[0] for r in con.execute("SELECT ROUND(x, 2) FROM probes ORDER BY i").fetchall()
        ]
    finally:
        con.close()
    spark_round = [
        r[0] for r in sdf.orderBy("i").select(F.round("x", 2)).collect()
    ]
    assert spark_round != duck_round

    mismatches = []
    for i, x in enumerate(PROBES):
        for j, k in enumerate(DIGITS):
            want = float(np_half_up(np.float64(x), k)).hex()
            seen = (float(got_spark[i][j]).hex(), float(got_duck[i][j]).hex())
            if seen != (want, want):
                mismatches.append((x, k, want, seen))
    assert not mismatches, mismatches
    assert got_spark[1][0] == got_duck[1][0] == -0.12


# --- guard: the rule is spelled out only in rounding.py ----------------

_PKG = pathlib.Path(__file__).resolve().parent.parent / "smartpipeline_spark"


def _is_half(node) -> bool:
    if isinstance(node, ast.Constant):
        return node.value == 0.5
    return (
        isinstance(node, ast.Call)
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == 0.5
    )


def _adds_half(node) -> bool:
    """True when ``node`` is a sum with a 0.5 (or lit(0.5)) term."""
    if not (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add)):
        return False
    return _is_half(node.right) or _is_half(node.left) or _adds_half(node.left)


def _is_floor_call(node) -> bool:
    if not (isinstance(node, ast.Call) and len(node.args) == 1):
        return False
    f = node.func
    return (isinstance(f, ast.Attribute) and f.attr == "floor") or (
        isinstance(f, ast.Name) and f.id == "floor"
    )


def spelled_out_roundings(source: str, filename: str) -> list:
    """``file:line`` of every ``floor(... + 0.5) / ...`` in ``source``.
    SQL text inside strings is never an AST node, so it never matches."""
    hits = []
    for node in ast.walk(ast.parse(source, filename)):
        if (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Div)
            and _is_floor_call(node.left)
            and _adds_half(node.left.args[0])
        ):
            hits.append(f"{filename}:{node.lineno}")
    return hits


def test_guard_flags_a_spelled_out_rounding():
    src = (
        "a = F.floor(c * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)\n"
        "b = np.floor(x * 1e4 + 0.5) / 1e4\n"
        "c = F.floor(F.max('n') + F.lit(0.5)).cast('long')\n"
        "d = 'FLOOR((x) * 100.0 + 0.5) / 100.0'\n"
    )
    assert spelled_out_roundings(src, "m.py") == ["m.py:1", "m.py:2"]


def test_only_the_rounding_module_spells_the_rule():
    hits = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG)
        if rel.parts[0] == "vendor" or rel == pathlib.Path("rounding.py"):
            continue
        hits += spelled_out_roundings(path.read_text(), str(rel))
    assert not hits, f"use smartpipeline_spark.rounding instead: {hits}"
