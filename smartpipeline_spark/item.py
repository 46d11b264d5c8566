"""The Item — the unit of data seen by user-authored stages.

Semantics mirror the reference Item (``smartpipeline/item.py:12-193``,
surveyed in SURVEY.md §1.1): a dict payload, a metadata dict,
per-stage timings, soft/critical error channels, id resolution
(``data["id"]`` → ``metadata["id"]`` → lazy uuid4), and a completion
callback.

On Spark, an Item is *transient*: the stage wrapper materializes one
per row inside a ``mapInPandas`` Arrow batch, hands it to
``Stage.process``, and writes the (possibly enriched) payload plus the
companion ``_errors``/``_timings`` columns back into the batch. The
same class also backs the single-item local fast path
(``Pipeline.process`` / ``process_async``), guaranteeing result parity
between the distributed and local paths by construction.
"""

from __future__ import annotations

import uuid
from typing import Any, Callable, Iterator

from smartpipeline_spark.errors import (
    KIND_CRITICAL,
    KIND_SOFT,
    CriticalError,
    Error,
    SoftError,
    error_entry,
)


class Item:
    def __init__(self, data: dict | None = None, metadata: dict | None = None):
        self._data: dict[str, Any] = dict(data) if data else {}
        self._metadata: dict[str, Any] = dict(metadata) if metadata else {}
        self._timings: dict[str, float] = {}
        self._error_entries: list[dict] = []
        self._callback_fun: Callable[["Item"], Any] | None = None

    # -- payload ---------------------------------------------------------
    @property
    def data(self) -> dict:
        return self._data

    # deprecated alias kept for reference-API familiarity
    payload = data

    @property
    def metadata(self) -> dict:
        return self._metadata

    def set_metadata(self, field: str, value: Any) -> "Item":
        """DEPRECATED accessor kept for reference-API familiarity
        (reference ``item.py:50-65``); use ``item.metadata[field]``."""
        self._metadata[field] = value
        return self

    def get_metadata(self, field: str) -> Any:
        """DEPRECATED accessor (reference ``item.py:50-65``); returns
        None when the field is absent."""
        return self._metadata.get(field)

    # -- id resolution: data["id"] → metadata["id"] → lazy uuid4 ----------
    @property
    def id(self) -> Any:
        if "id" in self._data and self._data["id"] is not None:
            return self._data["id"]
        if "id" in self._metadata and self._metadata["id"] is not None:
            return self._metadata["id"]
        generated = uuid.uuid4().hex
        self._metadata["id"] = generated
        return generated

    # -- timings ----------------------------------------------------------
    def set_timing(self, stage: str, seconds: float) -> "Item":
        self._timings[stage] = seconds
        return self

    def get_timing(self, stage: str) -> float | None:
        return self._timings.get(stage)

    def timed_stages(self) -> Iterator[str]:
        return iter(self._timings)

    @property
    def timings(self) -> dict[str, float]:
        return self._timings

    # -- error channels ----------------------------------------------------
    def add_soft_error(self, stage: str, exc: BaseException) -> "Item":
        if isinstance(exc, CriticalError):
            raise ValueError("cannot add a CriticalError as soft error")
        if not isinstance(exc, SoftError):
            exc = SoftError(str(exc)).with_exception(
                exc if isinstance(exc, Exception) else Exception(str(exc))
            )
        exc.set_stage(stage)
        self._error_entries.append(error_entry(stage, KIND_SOFT, exc))
        return self

    def add_critical_error(self, stage: str, exc: BaseException) -> "Item":
        if isinstance(exc, SoftError):
            raise ValueError("cannot add a SoftError as critical error")
        if not isinstance(exc, CriticalError):
            exc = CriticalError(str(exc)).with_exception(
                exc if isinstance(exc, Exception) else Exception(str(exc))
            )
        exc.set_stage(stage)
        self._error_entries.append(error_entry(stage, KIND_CRITICAL, exc))
        return self

    def add_error_entry(self, entry: dict) -> "Item":
        self._error_entries.append(entry)
        return self

    @property
    def error_entries(self) -> list[dict]:
        return self._error_entries

    def soft_errors(self) -> list[dict]:
        return [e for e in self._error_entries if e["kind"] == KIND_SOFT]

    def critical_errors(self) -> list[dict]:
        return [e for e in self._error_entries if e["kind"] == KIND_CRITICAL]

    def has_soft_errors(self) -> bool:
        return any(e["kind"] == KIND_SOFT for e in self._error_entries)

    def has_critical_errors(self) -> bool:
        return any(e["kind"] == KIND_CRITICAL for e in self._error_entries)

    # -- callback (process_async completion) -------------------------------
    def set_callback(self, fun: Callable[["Item"], Any]) -> "Item":
        self._callback_fun = fun
        return self

    def callback(self) -> Any:
        if self._callback_fun is not None:
            return self._callback_fun(self)
        return None

    def data_snippet(self, max_size: int = 100) -> str:
        """Short string view of :attr:`data` for logs (reference
        ``item.py:42-48``; override for custom rendering)."""
        return str(self._data)[:max_size]

    def __str__(self) -> str:
        return f"Data item {self.id} with payload {self.data_snippet()}..."

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Item(id={self.id!r}, keys={sorted(self._data)})"


#: deprecated alias kept for reference-API familiarity (reference
#: ``item.py:197``)
DataItem = Item


class FilePathItem(Item):
    """Item carrying a file path; id = basename (reference
    ``helpers.py:35-49``). The scale path for file corpora is
    ``sources.local_files`` (distributed binaryFile scan); this class
    exists for driver-local pull pipelines."""

    def __init__(self, path: str, metadata: dict | None = None):
        super().__init__({"path": path}, metadata)

    @property
    def path(self) -> str:
        return self._data["path"]

    @property
    def id(self) -> str:
        import os

        return os.path.basename(self.path)


def restore_item(data: dict, dynamic, errors, timings) -> Item:
    """Rebuild an Item from one output row of the stage wrapper.

    ``data`` is the typed payload and becomes the Item's dict as is (no
    copy). ``dynamic`` is the ``_data`` map: its keys splat into the
    payload without overriding a typed column. ``errors`` and
    ``timings`` are the ``_errors``/``_timings`` values. Maps may arrive
    as dicts or as (key, value) pairs and arrays as lists or numpy
    arrays, so each value is copied through ``dict`` and tested with
    ``len()``."""
    if dynamic:
        for k, v in dict(dynamic).items():
            data.setdefault(k, v)
    item = Item.__new__(Item)
    item._data = data
    item._metadata = {}
    item._timings = dict(timings) if timings else {}
    item._error_entries = (
        [dict(e) for e in errors] if errors is not None and len(errors) > 0 else []
    )
    item._callback_fun = None
    return item
