"""One exchange-width contract: ``operators/scale.py`` alone decides an
exchange width, and the package names scratch paths only through
``sources.scratch_root`` (no fixed ``/tmp`` name, no other temp-dir
call). AST guards in the style of tests/test_rounding.py, plus
the BM25 word estimate's single job on a small corpus."""

import ast
import operator
import os
import pathlib

from conftest import SF_SMOKE, count_jobs
from pyspark.sql import functions as F

_PKG = pathlib.Path(__file__).resolve().parent.parent / "smartpipeline_spark"
_SCALE = pathlib.Path("operators") / "scale.py"
_SOURCES = pathlib.Path("sources") / "__init__.py"
_TEMPDIR_CALLS = {"gettempdir", "mkdtemp"}
_WIDTH_CALLS = {"sizeInBytes", "tuned_shuffle_partitions", "should_inject_width"}
_OPS = {ast.Mult: operator.mul, ast.LShift: operator.lshift, ast.Pow: operator.pow}


def _package_files():
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG)
        if rel.parts[0] != "vendor":
            yield rel, path.read_text()


def _const(node):
    """Value of an all-constant ``*``/``<<``/``**`` expression, else None."""
    if isinstance(node, ast.Constant) and isinstance(node.value, int):
        return node.value
    if isinstance(node, ast.BinOp) and type(node.op) in _OPS:
        left, right = _const(node.left), _const(node.right)
        if left is not None and right is not None:
            return _OPS[type(node.op)](left, right)
    return None


def width_decisions(source: str, filename: str) -> list:
    """``file:line`` of every width decision made outside scale.py: a
    ``.sizeInBytes(`` read, a ``tuned_shuffle_partitions`` or
    ``should_inject_width`` call, a spelled-out 128 MiB, or a
    module-level ``*DECISION*`` record."""
    tree = ast.parse(source, filename)
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in _WIDTH_CALLS:
                hits.append(f"{filename}:{node.lineno}")
        elif isinstance(node, ast.BinOp) and _const(node) == 128 * 1024 * 1024:
            hits.append(f"{filename}:{node.lineno}")
    for node in tree.body:
        targets = node.targets if isinstance(node, ast.Assign) else (
            [node.target] if isinstance(node, ast.AnnAssign) else []
        )
        if any(isinstance(t, ast.Name) and "DECISION" in t.id.upper() for t in targets):
            hits.append(f"{filename}:{node.lineno}")
    return hits


def fixed_tmp_paths(source: str, filename: str) -> list:
    """``file:line`` of every ``"/tmp"`` or ``"/tmp/..."`` literal and
    every ``gettempdir()`` / ``mkdtemp()`` call: a scratch path named
    around :func:`sources.scratch_root`."""
    lines = set()
    for node in ast.walk(ast.parse(source, filename)):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value == "/tmp" or node.value.startswith("/tmp/"):
                lines.add(node.lineno)
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in _TEMPDIR_CALLS:
                lines.add(node.lineno)
    return [f"{filename}:{n}" for n in sorted(lines)]


def test_guard_flags_planted_width_decisions():
    src = (
        "s = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()\n"
        "p = tuned_shuffle_partitions(n, spark=spark)\n"
        "q = scale.should_inject_width(p, spark)\n"
        "n = math.ceil(b / (128 * 1024 * 1024))\n"
        "LAST_AUTO_DECISION: dict = {}\n"
        "t = 256 * 1024 * 1024\n"
        "doc = 'sizeInBytes() / (128 * 1024 * 1024)'\n"
        "def f():\n"
        "    decision = {}\n"
    )
    assert width_decisions(src, "m.py") == [f"m.py:{i}" for i in range(1, 6)]


def test_only_the_scale_module_decides_a_width():
    hits = []
    for rel, source in _package_files():
        if rel != _SCALE:
            hits += width_decisions(source, str(rel))
    assert not hits, f"size exchanges through operators.scale: {hits}"


def test_guard_flags_a_fixed_tmp_path():
    src = (
        "a = os.path.join('/tmp', 'x')\n"
        "b = f'/tmp/{name}'\n"
        "c = tempfile.gettempdir() + '_sink'\n"
        "d = mkdtemp(prefix='x')\n"
        "e = 'a world-shared /tmp name'\n"
    )
    assert fixed_tmp_paths(src, "m.py") == [f"m.py:{i}" for i in range(1, 5)]


def test_package_writes_no_fixed_tmp_path():
    hits = []
    for rel, source in _package_files():
        if rel != _SOURCES:
            hits += fixed_tmp_paths(source, str(rel))
    assert not hits, f"use sources.scratch_root instead: {hits}"


def test_bm25_word_estimate_runs_one_job_on_a_small_corpus(spark):
    """Below the estimator's 256 MB sample skip the word estimate runs
    the exact pass alone — one Spark job, not a failed 1-in-16 sample
    followed by the exact pass — and returns the exact word count."""
    from smartpipeline_spark import sources
    from smartpipeline_spark.functions.text import _bm25_word_estimate

    sf = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
    docs = sources.table(spark, "documents", sf)
    text = F.lower(F.trim(F.col("text")))
    exact = docs.agg(
        F.sum(
            F.when(F.length(text) > 0, F.size(F.split(text, "\\s+"))).otherwise(1)
        )
    ).collect()[0][0]
    words, jobs = count_jobs(spark, lambda: _bm25_word_estimate(docs))
    assert words == exact
    assert jobs == 1
