"""Guard: no program file names a checkout of this project by its
absolute path. Tooling run from a second checkout (a parent-vs-change
comparison, a benchmark directory) must import, test and write its own
tree, so every script resolves the repo root from ``__file__``.
JVM-free."""

import pathlib
import re

_ROOT = pathlib.Path(__file__).resolve().parent.parent
_SCANNED = ("scripts", "smartpipeline_spark", "tests", "examples")

# an absolute path token: a slash not glued to a word, dot or another slash
_ABS_PATH = re.compile(r"(?<![\w.~/:-])/[\w.-]+(?:/[\w.-]+)*")


def _is_checkout(p: pathlib.Path) -> bool:
    return p == _ROOT or (p / "smartpipeline_spark" / "__init__.py").is_file()


def checkout_paths(text: str, filename: str) -> list:
    """``file:line`` of every absolute path in ``text`` that lies in a
    checkout of this project: this one, or any other on this host."""
    hits = []
    for lineno, line in enumerate(text.splitlines(), 1):
        for token in _ABS_PATH.findall(line):
            p = pathlib.PurePosixPath(token)
            if any(_is_checkout(pathlib.Path(q)) for q in (p, *p.parents) if q.name):
                hits.append(f"{filename}:{lineno}")
                break
    return hits


def test_guard_flags_a_checkout_path(tmp_path):
    other = tmp_path / "clone"
    (other / "smartpipeline_spark").mkdir(parents=True)
    (other / "smartpipeline_spark" / "__init__.py").write_text("")
    src = (
        f'sys.path.insert(0, "{_ROOT}")\n'
        f'QUERIES = Path("{other}/queries")\n'
        'TMP = "/tmp/q02_sink"\n'
        "x = a / b + c/d\n"
        f'sys.path.insert(0, str(Path(__file__).resolve().parents[1]))  # {tmp_path}\n'
    )
    assert checkout_paths(src, "m.py") == ["m.py:1", "m.py:2"]


def test_no_program_file_names_a_checkout_path():
    hits = []
    files = sorted(_ROOT.glob("*.py"))
    for top in _SCANNED:
        files += sorted((_ROOT / top).rglob("*.py")) + sorted((_ROOT / top).rglob("*.sh"))
    for path in files:
        hits += checkout_paths(path.read_text(), str(path.relative_to(_ROOT)))
    assert not hits, f"resolve the repo root from __file__ instead: {hits}"
