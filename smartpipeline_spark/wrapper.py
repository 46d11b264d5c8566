"""The stage execution wrapper — the one genuinely custom executor-side
piece of the engine (SURVEY.md §4.3).

Compiles a chain of user ``Stage``/``BatchStage`` objects into a single
``mapInPandas`` function that reproduces the reference's runners
(reference ``runners.py:20-138``). Both kernels — ``run_stage_on_item``
(``stage.process`` on one item) and ``run_stage_on_batch``
(``stage.process_batch`` on a chunk) — call one attempt loop,
``_attempt``, so they agree by construction:

* retry with exponential backoff ``2^(attempt-1) * backoff`` on the
  stage's retryable exception classes; RetryErrors attach only when
  retries are EXHAUSTED — one per failed attempt (``max_retries=3`` ->
  4 soft errors) on every item of the call — while an item that
  recovers on a later attempt stays clean (reference
  ``runners.py:33-67``);
* soft errors skip only the failing stage; any other exception becomes
  critical via the pluggable ErrorManager, once per item;
* per-stage wall-clock timing written into the ``_timings`` map
  (includes backoff sleeps, like the reference), spread evenly over
  the items of the call.

What differs stays with the kernels:

* critical-skip: an item with a critical error skips every later stage
  (unless the ErrorManager is in ``no_skip_on_critical_error`` mode)
  but still reaches the output;
* BatchStage: the batch is chunked to ``stage.size``; a non-retryable
  failure poisons the whole chunk (reference semantics,
  ``runners.py:107-125``) unless ``isolate_failures`` is set, in which
  case the wrapper retries the chunk row-by-row and only the truly
  failing rows are poisoned (strictly better, opt-in).

``on_start`` runs once per Python worker process per stage (lazy
executor-side singleton), ``on_end`` at worker exit via atexit —
lifetime documented in SURVEY.md §7.3.

Everything relational bypasses this wrapper entirely and stays inside
Catalyst/Tungsten; only user-authored per-item logic pays the Python
price, over Arrow-transferred batches.

A reused Python worker also pays a fixed cost per task before the chain
runs: pyspark calls ``importlib.invalidate_caches()`` at the start of
every task, and on Python 3.11 each ``zipimporter`` in
``sys.path_importer_cache`` then re-reads its whole archive directory.
After importing pyspark a worker holds 16 of them, 13 for paths inside
an archive (``…/pyspark.zip/pyspark/sql/pandas``, …), and the call took
a median 218 ms per ``stream_ingest`` task on a 4-core VM. When the
chain's function ends, ``_drop_archive_internal_importers`` deletes
those 13; the archives' own importers stay and still refresh the
directory cache the deleted ones are rebuilt from on demand, so the
next task's call re-reads each archive once (median 50 ms).
The group functions of the Python stateful operators in ``streaming``
call it when they end as well, since no chain runs in their tasks.
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import logging
import sys
import zipimport
from pathlib import Path
from time import monotonic, sleep
from typing import Callable, Iterable, Iterator, Sequence

import pandas as pd

from smartpipeline_spark.errors import (
    KIND_SOFT,
    ErrorManager,
    RetryError,
    StagePolicy,
    error_entry,
)
from smartpipeline_spark.item import Item, restore_item
from smartpipeline_spark.stage import BatchStage, Stage

#: companion column names + Spark DDL
ERRORS_COL = "_errors"
TIMINGS_COL = "_timings"
DATA_COL = "_data"  # dynamic-payload tier (SURVEY.md §1.3): stages with
#                     dynamic=True spill undeclared keys here as strings
ERRORS_DDL = "array<struct<stage:string,kind:string,message:string,exc_class:string>>"
TIMINGS_DDL = "map<string,double>"
DATA_DDL = "map<string,string>"

# executor-side registry: one initialized stage copy per worker process
# (key -> stage instance whose on_start has run)
_WORKER_STAGES: dict[str, object] = {}


def _worker_stage(key: str, stage):
    live = _WORKER_STAGES.get(key)
    if live is None:
        stage.on_start()
        _WORKER_STAGES[key] = stage
        atexit.register(_safe_on_end, stage)
        live = stage
    return live


def _drop_archive_internal_importers() -> None:
    """Delete every ``sys.path_importer_cache`` entry whose finder is a
    zipimporter for a path inside an archive (a non-empty ``prefix``).
    Deleting a key only makes the import system search that path entry
    again; the new importer takes the directory from
    ``zipimport._zip_directory_cache``, which the archive's own importer,
    kept here, refreshes on every ``importlib.invalidate_caches()``."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.prefix:
            cache.pop(path, None)  # another thread may have dropped it


def _safe_on_end(stage) -> None:  # pragma: no cover - worker teardown
    try:
        stage.on_end()
    except Exception:
        pass


def run_stage_on_item(
    stage: Stage, policy: StagePolicy, item: Item, error_manager: ErrorManager
) -> Item:
    """Per-item kernel: critical-skip, then the shared attempt loop.
    Shared verbatim by the distributed path (inside ``mapInPandas``)
    and the local ``Pipeline.process`` fast path, so the two agree by
    construction."""
    if item.has_critical_errors() and error_manager.skips_rest():
        return item
    _attempt(stage.process, item, (item,), policy, error_manager)
    return item


def run_stage_on_batch(
    stage: BatchStage,
    policy: StagePolicy,
    items: Sequence[Item],
    error_manager: ErrorManager,
    isolate_failures: bool = False,
) -> list[Item]:
    """Batched kernel (reference ``runners.py:71-138`` semantics): each
    chunk of ``stage.size`` items, minus those a critical error skips,
    goes through the shared attempt loop as one call."""
    skip_critical = error_manager.skips_rest()
    for chunk_start in range(0, len(items), stage.size):
        todo = [
            it
            for it in items[chunk_start : chunk_start + stage.size]
            if not (skip_critical and it.has_critical_errors())
        ]
        if not todo:
            continue
        isolate = isolate_failures and len(todo) > 1
        exc = _attempt(stage.process_batch, todo, todo, policy, error_manager, not isolate)
        if exc is not None:
            # better-than-reference: fall back to singleton sub-batches
            # so only truly-failing rows are poisoned
            for it in todo:
                _attempt(stage.process_batch, [it], (it,), policy, error_manager)
    return list(items)


def _attempt(method, arg, items, policy, error_manager, route=True):
    """The one attempt loop behind both kernels (retry, routing and
    timing as the module docstring says): call ``method(arg)`` —
    ``stage.process`` with an item or ``stage.process_batch`` with a
    chunk — and account the outcome on every Item in ``items``. With
    ``route=False`` a non-retryable exception is returned unrouted, for
    the caller's own fallback."""
    retry = policy.retry
    start = monotonic()
    caught: list[Exception] = []
    try:
        while True:
            try:
                method(arg)
                return None
            except retry.retryable_errors as exc:
                caught.append(exc)
                if len(caught) > retry.max_retries:
                    for rexc in caught:
                        rerr = RetryError(str(rexc)).with_exception(rexc)
                        rerr.set_stage(policy.name)
                        entry = error_entry(policy.name, KIND_SOFT, rerr)
                        for it in items:
                            it.add_error_entry(dict(entry))
                    return None
                sleep(retry.sleep_for(len(caught)))
            except Exception as exc:  # soft / critical routing
                if not route:
                    return exc
                for it in items:
                    it.add_error_entry(error_manager.handle(exc, policy.name, it))
                return None
    finally:
        per_item = (monotonic() - start) / len(items)
        name = policy.name
        for it in items:
            it._timings[name] = per_item
        if policy.profile_memory:
            rss = _worker_rss_kb()
            for it in items:
                it._timings[f"{name}#rss_kb"] = rss


def _worker_rss_kb() -> float:
    """Python worker peak RSS in KB (reference roadmap: "stages can be
    memory profiled") — one getrusage syscall, cheap enough per item."""
    import resource

    return float(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)


def run_chain_on_items(
    steps: Sequence[tuple[object, StagePolicy, bool]],
    items: Iterable[Item],
    error_manager: ErrorManager,
) -> list[Item]:
    """Run a full stage chain over a collection of Items (local path).

    ``steps`` is ``[(stage, policy, isolate_failures), ...]``.
    """
    current = list(items)
    for stage, policy, isolate in steps:
        if isinstance(stage, BatchStage):
            current = run_stage_on_batch(stage, policy, current, error_manager, isolate)
        else:
            current = [run_stage_on_item(stage, policy, it, error_manager) for it in current]
    return current


def _rows_to_items(pdf: pd.DataFrame, payload_cols: list[str]) -> list[Item]:
    """Columnar batch -> Items. Hot path: pandas ``to_dict("records")``
    measured ~3x slower than zipping raw column lists, and
    ``Item.__init__`` copies its dict — both bypassed here (this
    conversion dominated wrapper cost before the stages even ran)."""
    cols = [c for c in payload_cols if c != DATA_COL]
    none = [None] * len(pdf)
    col_lists = [pdf[c].tolist() for c in cols]
    # dynamic tier: the _data map splats back into the payload so stages
    # see keys invented by earlier stages (reference semantics:
    # schemaless dict, SURVEY.md §1.2)
    dyn_list = (
        pdf[DATA_COL].tolist()
        if DATA_COL in payload_cols and DATA_COL in pdf.columns
        else none
    )
    err_list = pdf[ERRORS_COL].tolist() if ERRORS_COL in pdf.columns else none
    tim_list = pdf[TIMINGS_COL].tolist() if TIMINGS_COL in pdf.columns else none
    rows = zip(*col_lists) if col_lists else iter(())
    return [
        restore_item(dict(zip(cols, vals)), dyn, errs, tm)
        for vals, dyn, errs, tm in zip(rows, dyn_list, err_list, tim_list)
    ]


def _items_to_pdf(items: list[Item], out_cols: list[str]) -> pd.DataFrame:
    """Items -> columnar batch; one comprehension per column (the
    per-row inner dispatch loop was ~2x slower)."""
    typed = set(out_cols) - {ERRORS_COL, TIMINGS_COL, DATA_COL}
    data: dict[str, list] = {}
    for c in out_cols:
        if c == ERRORS_COL:
            data[c] = [list(it._error_entries) for it in items]
        elif c == TIMINGS_COL:
            data[c] = [dict(it._timings) for it in items]
        elif c == DATA_COL:
            data[c] = [
                {
                    k: (v if isinstance(v, str) else repr(v))
                    for k, v in it._data.items()
                    if k not in typed and v is not None
                }
                for it in items
            ]
        else:
            data[c] = [it._data.get(c) for it in items]
    return pd.DataFrame(data, columns=out_cols)


class _LogCapture(logging.Handler):
    """Worker-side record buffer for cross-process log shipping — the
    Spark twin of the reference's queue-handler + ``LogsReceiver``
    thread (``smartpipeline/utils.py:73-105``, wired in
    ``pipeline.py:91-109``): stage code logs normally, the records
    travel to the driver, and the driver process logger re-emits them.
    Transport here is an accumulator (records arrive at task
    completion) instead of a multiprocessing queue (records arrive
    live) — batched, but exactly the delivery Spark's task model
    gives; nothing is lost, including logs from failed tasks' retries.
    PySpark's own chatter is filtered so only user-stage logging
    ships.

    Two bounds keep a chatty dependency inside a stage from turning
    the accumulator into an unbounded payload: the capture LEVEL
    (default INFO — third-party DEBUG chatter never enters the buffer;
    pass ``ship_logs=logging.DEBUG`` to opt into full capture) and a
    hard per-task record cap (``MAX_RECORDS``) — past it records are
    counted, dropped, and summarized by one truncation marker."""

    _SKIP = ("py4j", "pyspark")
    MAX_RECORDS = 10_000  # per task; one marker record reports overflow

    def __init__(self, level: int = logging.INFO) -> None:
        super().__init__(level=level)
        self.records: list[tuple[str, int, str]] = []
        self._total = 0
        self._dropped = 0

    def emit(self, record: logging.LogRecord) -> None:
        if record.name.startswith(self._SKIP):
            return
        if self._total >= self.MAX_RECORDS:
            self._dropped += 1
            return
        self._total += 1
        self.records.append((record.name, record.levelno, record.getMessage()))

    def drain(self) -> list[tuple[str, int, str]]:
        out = list(self.records)
        self.records.clear()
        if self._dropped:
            out.append(
                (
                    "smartpipeline_spark.logship",
                    logging.WARNING,
                    f"log shipping truncated: {self._dropped} records over"
                    f" the {self.MAX_RECORDS}/task cap were dropped",
                )
            )
            self._dropped = 0
        return out


@functools.cache
def _package_identity() -> tuple[str, str]:
    """(directory, md5 of its ``.py`` files) of this package, once per process."""
    root = Path(__file__).resolve().parent
    h = hashlib.md5()
    for path in sorted(root.rglob("*.py")):
        h.update(str(path.relative_to(root)).encode() + b"\0" + path.read_bytes())
    return str(root), h.hexdigest()


def compile_chain(
    steps: Sequence[tuple[object, StagePolicy, bool]],
    payload_cols: list[str],
    out_cols: list[str],
    error_manager: ErrorManager,
    chain_uid: str = "",
    log_acc=None,
    log_level: int = logging.INFO,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Compile a stage chain into a mapInPandas function.

    One function for the WHOLE chain: items cross the Arrow boundary
    once, flow through every stage in pure Python, and cross back once
    — no per-stage exchange (the reference's queue hand-offs collapse
    into function composition, SURVEY.md §3.1 Spark mapping).

    ``log_acc`` (optional list-accumulator) enables log shipping: user
    stage log records captured during the chain are added to the
    accumulator and re-emitted by the driver (`Pipeline` drains it).

    Its first batch fails when the worker imported another copy of the
    package than the driver (workers import from their working
    directory first). A cluster must install the same package on its
    executors.
    """
    driver_pkg = _package_identity()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_pkg = _package_identity()
        if worker_pkg[1] != driver_pkg[1]:
            raise RuntimeError(
                f"the driver runs smartpipeline_spark from {driver_pkg[0]}, but "
                f"this Python worker imported a different copy from {worker_pkg[0]}; "
                "install the driver's package on every executor"
            )
        error_manager.on_start()
        capture = None
        prev_root_level = None
        if log_acc is not None:
            capture = _LogCapture(level=log_level)
            root = logging.getLogger()
            root.addHandler(capture)
            # worker processes default to WARNING; shipping honors the
            # stage's own logger levels, so open the root gate down to
            # the CAPTURE level (INFO by default — not DEBUG, so
            # third-party DEBUG chatter stays out of the buffer) and
            # let per-logger levels decide the rest. Restored in the
            # finally — workers are reused across jobs and the widened
            # gate must not outlive the chain.
            if root.level > log_level:
                prev_root_level = root.level
                root.setLevel(log_level)
        live_steps = [
            (
                _worker_stage(
                    f"{chain_uid}:{policy.name}#{type(stage).__qualname__}", stage
                ),
                policy,
                iso,
            )
            for stage, policy, iso in steps
        ]
        try:
            for pdf in batches:
                items = _rows_to_items(pdf, payload_cols)
                items = run_chain_on_items(live_steps, items, error_manager)
                if capture is not None and capture.records:
                    log_acc.add(capture.drain())
                yield _items_to_pdf(items, out_cols)
        finally:
            _drop_archive_internal_importers()
            if capture is not None:
                tail = capture.drain()
                if tail:
                    log_acc.add(tail)
                root = logging.getLogger()
                root.removeHandler(capture)
                if prev_root_level is not None:
                    root.setLevel(prev_root_level)
            error_manager.on_end()

    return fn
