"""Property tests (hypothesis) for the executor-side kernel — pure
Python, no JVM: retry/error/timing semantics must hold for arbitrary
policies and exception sequences, and the batched kernel must agree
with the per-item kernel wherever their semantics overlap."""

import importlib
import sys
import zipfile
import zipimport
from types import SimpleNamespace

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from smartpipeline_spark.errors import ErrorManager, RetryManager, StagePolicy
from smartpipeline_spark.item import Item
from smartpipeline_spark.stage import BatchStage, Stage
from smartpipeline_spark.wrapper import (
    ERRORS_COL,
    TIMINGS_COL,
    compile_chain,
    run_stage_on_batch,
    run_stage_on_item,
)


class Err1(Exception):
    pass


class Err2(Exception):
    pass


class ScriptedStage(Stage):
    """Raises exc_class for the first `fail_times` calls per item."""

    def __init__(self, exc_class=None, fail_times=10**9):
        self._exc = exc_class
        self._fail_times = fail_times
        self._calls = {}

    def process(self, item):
        c = self._calls.get(id(item), 0)
        self._calls[id(item)] = c + 1
        if self._exc is not None and c < self._fail_times:
            raise self._exc("scripted")
        item.data["done"] = True
        return item


@settings(max_examples=60, deadline=None)
@given(
    max_retries=st.integers(min_value=0, max_value=4),
    exc=st.sampled_from([None, Err1, Err2]),
    retryable=st.sampled_from([(), (Err1,), (Err1, Err2)]),
    fail_times=st.integers(min_value=0, max_value=6),
)
def test_retry_error_invariants(max_retries, exc, retryable, fail_times):
    stage = ScriptedStage(exc, fail_times)
    policy = StagePolicy("s", RetryManager(retryable, max_retries, 0.0))
    item = Item({"x": 1})
    run_stage_on_item(stage, policy, item, ErrorManager())

    is_retryable = exc is not None and issubclass(exc, retryable)
    if exc is None or fail_times == 0:
        # clean success: no errors, stage ran
        assert not item.error_entries and item.data.get("done")
    elif is_retryable:
        attempts_allowed = max_retries + 1
        if fail_times >= attempts_allowed:
            # exhausted: one RetryError per attempt, all soft
            assert len(item.soft_errors()) == attempts_allowed
            assert not item.has_critical_errors()
            assert not item.data.get("done")
        else:
            # recovered within budget: NO errors attach (reference
            # runners.py:33-67 — only exhaustion attaches RetryErrors)
            assert not item.error_entries
            assert item.data.get("done")
    else:
        # non-retryable: exactly one critical, no retries
        assert len(item.critical_errors()) == 1
        assert not item.soft_errors()
    # timing always recorded
    assert item.get_timing("s") is not None


class ScriptedBatch(BatchStage):
    def __init__(self, poison_key=None, size=5):
        super().__init__(size=size)
        self._poison = poison_key

    def process_batch(self, items):
        if any(it.data["k"] == self._poison for it in items):
            raise ValueError("poison")
        for it in items:
            it.data["done"] = True
        return items


@settings(max_examples=40, deadline=None)
@given(
    n_items=st.integers(min_value=1, max_value=23),
    size=st.integers(min_value=1, max_value=9),
    poison=st.integers(min_value=-1, max_value=25),
    isolate=st.booleans(),
)
def test_batch_kernel_invariants(n_items, size, poison, isolate):
    stage = ScriptedBatch(poison_key=poison, size=size)
    items = [Item({"k": i}) for i in range(n_items)]
    out = run_stage_on_batch(
        stage, StagePolicy("b", RetryManager()), items, ErrorManager(), isolate
    )
    # set-completeness: every item comes out exactly once, order kept
    assert [it.data["k"] for it in out] == list(range(n_items))
    for it in out:
        assert it.get_timing("b") is not None
    poisoned = [it.data["k"] for it in out if it.has_critical_errors()]
    if poison < 0 or poison >= n_items:
        assert poisoned == []
    elif isolate:
        # only the true culprit is poisoned
        assert poisoned == [poison]
    else:
        # reference semantics: the whole chunk containing the culprit
        chunk = poison // size
        assert poisoned == list(range(chunk * size, min((chunk + 1) * size, n_items)))
    clean = [it for it in out if not it.has_critical_errors()]
    assert all(it.data.get("done") for it in clean)


class FailFirstBatch(BatchStage):
    """Raises exc_class for its first `fail_times` calls, then marks
    every item of the chunk done."""

    def __init__(self, exc_class, fail_times, size):
        super().__init__(size=size)
        self._exc = exc_class
        self._fail_times = fail_times
        self._calls = 0

    def process_batch(self, items):
        self._calls += 1
        if self._calls <= self._fail_times:
            raise self._exc("scripted")
        for it in items:
            it.data["done"] = True
        return items


@settings(max_examples=60, deadline=None)
@given(
    n_items=st.integers(min_value=1, max_value=12),
    size=st.integers(min_value=1, max_value=12),
    max_retries=st.integers(min_value=0, max_value=3),
    exc=st.sampled_from([Err1, Err2]),
    fail_times=st.integers(min_value=0, max_value=5),
)
def test_batch_retry_invariants(n_items, size, max_retries, exc, fail_times):
    stage = FailFirstBatch(exc, fail_times, size)
    policy = StagePolicy("b", RetryManager((Err1,), max_retries, 0.0))
    items = [Item({"k": i}) for i in range(n_items)]
    out = run_stage_on_batch(stage, policy, items, ErrorManager())

    assert [it.data["k"] for it in out] == list(range(n_items))
    for it in out:
        assert it.get_timing("b") is not None
    # the scripted failures hit the first chunk(s) in call order: walk
    # the chunks, replaying how many failing calls each one absorbs
    left = fail_times
    for start in range(0, n_items, size):
        chunk = out[start : start + size]
        if left == 0:
            assert all(not it.error_entries and it.data.get("done") for it in chunk)
        elif exc is Err2:
            # non-retryable: one critical entry per item, no retries
            left -= 1
            for it in chunk:
                assert len(it.critical_errors()) == 1 and not it.soft_errors()
                assert not it.data.get("done")
        elif left > max_retries:
            # exhausted: every item carries max_retries+1 soft RetryErrors
            left -= max_retries + 1
            for it in chunk:
                assert len(it.soft_errors()) == max_retries + 1
                assert all(e["exc_class"] == "Err1" for e in it.soft_errors())
                assert not it.has_critical_errors() and not it.data.get("done")
        else:
            # recovered within budget: clean
            left = 0
            assert all(not it.error_entries and it.data.get("done") for it in chunk)


class SingletonBatch(BatchStage):
    """A size-1 BatchStage around a Stage's ``process``."""

    def __init__(self, stage):
        super().__init__(size=1)
        self._stage = stage

    def process_batch(self, items):
        for it in items:
            self._stage.process(it)
        return items


def _errors_view(item):
    return [(e["stage"], e["kind"], e["exc_class"], e["message"]) for e in item.error_entries]


@settings(max_examples=60, deadline=None)
@given(
    max_retries=st.integers(min_value=0, max_value=4),
    exc=st.sampled_from([None, Err1, Err2]),
    retryable=st.sampled_from([(), (Err1,), (Err1, Err2)]),
    fail_times=st.integers(min_value=0, max_value=6),
)
def test_singleton_batch_matches_item_kernel(max_retries, exc, retryable, fail_times):
    policy = StagePolicy("s", RetryManager(retryable, max_retries, 0.0))
    by_item = run_stage_on_item(
        ScriptedStage(exc, fail_times), policy, Item({"x": 1}), ErrorManager()
    )
    (by_batch,) = run_stage_on_batch(
        SingletonBatch(ScriptedStage(exc, fail_times)),
        policy,
        [Item({"x": 1})],
        ErrorManager(),
    )
    assert _errors_view(by_batch) == _errors_view(by_item)
    assert by_batch.data == by_item.data
    assert by_batch.get_timing("s") is not None and by_item.get_timing("s") is not None


def _write_archive(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in ("pkg/__init__.py", "pkg/sub/__init__.py", *modules):
            zf.writestr(name, "VALUE = 1\n")


def _archive_importers(archive):
    return {
        key: finder.prefix
        for key, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter) and finder.archive == archive
    }


def _file_finders():
    return {
        key
        for key, finder in sys.path_importer_cache.items()
        if isinstance(finder, importlib.machinery.FileFinder)
    }


@pytest.fixture
def zip_package(tmp_path):
    """An archive holding ``pkg.sub.mod`` on ``sys.path``, imported; the
    import state is restored afterwards."""
    archive = str(tmp_path / "lib.zip")
    _write_archive(archive, ["pkg/sub/mod.py"])
    saved_path = list(sys.path)
    sys.path.insert(0, archive)
    try:
        importlib.import_module("pkg.sub.mod")
        yield archive
    finally:
        sys.path[:] = saved_path
        for name in [m for m in sys.modules if m == "pkg" or m.startswith("pkg.")]:
            del sys.modules[name]
        for key in _archive_importers(archive):
            del sys.path_importer_cache[key]


class Passthrough(Stage):
    def process(self, item):
        return item


class Explodes(Stage):
    def process(self, item):
        raise ValueError("critical")


@pytest.mark.parametrize("ending", ["exhausted", "closed", "critical"])
def test_chain_end_drops_archive_internal_importers(zip_package, ending):
    """A reused Python worker's ``importlib.invalidate_caches()`` re-reads
    the archive directory once per cached zipimporter; when the chain's
    function ends — exhausted, closed early or raising — only the
    archives' own importers are left, and a module added to the archive
    still imports after the next invalidation."""
    archive = zip_package
    assert sorted(_archive_importers(archive).values()) == ["", "pkg/", "pkg/sub/"]
    file_finders = _file_finders()

    stage = Explodes() if ending == "critical" else Passthrough()
    errors = ErrorManager()
    if ending == "critical":
        errors.raise_on_critical_error()
    fn = compile_chain(
        [(stage, StagePolicy("s"), False)],
        ["x"],
        ["x", ERRORS_COL, TIMINGS_COL],
        errors,
        chain_uid=f"archive-importers-{ending}",
    )
    batches = [pd.DataFrame({"x": [1, 2]}), pd.DataFrame({"x": [3]})]
    out = fn(iter(batches))
    if ending == "exhausted":
        assert sum(len(pdf) for pdf in out) == 3
    elif ending == "closed":
        assert len(next(out)) == 2
        out.close()
    else:
        with pytest.raises(ValueError, match="critical"):
            next(out)

    assert _archive_importers(archive) == {archive: ""}
    assert _file_finders() >= file_finders

    _write_archive(archive, ["pkg/sub/mod.py", "pkg/sub/new.py"])
    importlib.invalidate_caches()
    assert importlib.import_module("pkg.sub.new").VALUE == 1


class _StatefulCapture:
    """Stands in for a streaming DataFrame: keeps the group function or
    the stateful processor a Python stateful operator is built with."""

    def __init__(self):
        self.sparkSession = SimpleNamespace(sparkContext=SimpleNamespace(environment={}))

    def groupBy(self, _key):
        return self

    def applyInPandasWithState(self, fn, **_kw):
        self.fn = fn
        return self

    def transformWithStateInPandas(self, statefulProcessor, **_kw):
        self.processor = statefulProcessor
        return self


class _ValueState:
    def __init__(self):
        self.value = None

    def exists(self):
        return self.value is not None

    def get(self):
        return self.value

    def update(self, value):
        self.value = value


def _group_function(operator):
    """``(key_tuple, pdf_iter) -> output frames`` of the named Python
    stateful operator of ``streaming``, on fresh state."""
    from smartpipeline_spark import streaming

    df = _StatefulCapture()
    if operator == "applyInPandasWithState":
        streaming.stateful_user_counts(df)
        state = SimpleNamespace(exists=False, update=lambda value: None)
        return lambda key, pdfs: df.fn(key, pdfs, state)
    streaming.stateful_user_counts_tws(df)
    df.processor.init(SimpleNamespace(getValueState=lambda _name, _schema: _ValueState()))
    return lambda key, pdfs: df.processor.handleInputRows(key, pdfs, None)


@pytest.mark.parametrize("ending", ["exhausted", "closed", "raising"])
@pytest.mark.parametrize("operator", ["applyInPandasWithState", "transformWithState"])
def test_stateful_group_end_drops_archive_internal_importers(zip_package, operator, ending):
    """The state tasks of the Python stateful operators run no stage
    wrapper; their group function drops the archive-internal
    zipimporters itself when it ends — exhausted, closed early or
    raising — so a reused worker's next task does not re-read them."""
    archive = zip_package
    assert sorted(_archive_importers(archive).values()) == ["", "pkg/", "pkg/sub/"]
    fn = _group_function(operator)

    def frames():
        yield pd.DataFrame({"user_id": [7, 7]})
        if ending == "raising":
            raise ValueError("input lost")
        yield pd.DataFrame({"user_id": [7]})

    out = fn((7,), frames())
    if ending == "exhausted":
        (pdf,) = list(out)
        assert pdf.to_dict("records") == [{"user_id": 7, "n_events": 3}]
    elif ending == "closed":
        assert len(next(out)) == 1
        out.close()  # the consumer stops before the function returns
    else:
        with pytest.raises(ValueError, match="input lost"):
            next(out)

    assert _archive_importers(archive) == {archive: ""}
