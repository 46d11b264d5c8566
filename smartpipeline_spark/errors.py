"""Error and retry semantics.

Reproduces the reference's error model (see SURVEY.md §2.8; reference
``error/exceptions.py:8-65`` and ``error/handling.py:14-149``) on top
of Spark rows:

* ``SoftError``     — the failing stage is skipped for that item, the
                      item continues down the pipeline.
* ``CriticalError`` — every later stage is skipped for that item, but
                      the item still reaches the output (dead-letter
                      column pattern). Any uncaught exception becomes
                      critical.
* ``RetryError``    — a ``SoftError`` appended once per failed attempt
                      when a retry policy is exhausted.

Errors are carried per-row in an ``_errors ARRAY<STRUCT<stage,kind,
message,exc_class>>`` column rather than on a Python object, so they
shuffle, persist, and scale like any other column.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

_LOG = logging.getLogger(__name__)


class Error(Exception):
    """Base pipeline error; knows its stage and its cause.

    Mirrors the reference's explicit stage attribution and cause
    chaining (``error/exceptions.py:8-39``).
    """

    def __init__(self, *args):
        super().__init__(*args)
        self._stage: str | None = None
        self._exception: Exception | None = None

    def set_stage(self, stage: str) -> "Error":
        self._stage = stage
        return self

    def get_stage(self) -> str | None:
        return self._stage

    def with_exception(self, exception: Exception) -> "Error":
        self._exception = exception
        return self

    def get_exception(self) -> Exception | None:
        return self._exception


class SoftError(Error):
    """Skip the current stage only; the item keeps flowing."""


class CriticalError(Error):
    """Skip the rest of the pipeline for this item (item still output)."""


class RetryError(SoftError):
    """One per failed attempt once a retry policy gives up."""


#: kind tags stored in the _errors column
KIND_SOFT = "soft"
KIND_CRITICAL = "critical"


def error_entry(stage: str, kind: str, exc: BaseException) -> dict:
    """Serialize an exception into an ``_errors`` array element."""
    cause = exc.get_exception() if isinstance(exc, Error) else None
    exc_class = type(cause).__name__ if cause is not None else type(exc).__name__
    return {
        "stage": stage,
        "kind": kind,
        "message": str(exc) or str(cause or ""),
        "exc_class": exc_class,
    }


@dataclass(frozen=True)
class RetryManager:
    """Retry policy: which exception classes retry, how many times,
    and the exponential backoff base (sleep ``2^(attempt-1) * backoff``
    seconds between attempts — same schedule the reference implements).

    ``max_retries=0`` means a single attempt; a retryable failure then
    immediately becomes a :class:`RetryError`. Note Spark's own
    ``spark.task.maxFailures`` retries whole *tasks*; per-item retry
    like this must live in the stage wrapper.
    """

    retryable_errors: tuple = ()
    max_retries: int = 0
    backoff: float = 0.0

    def __post_init__(self):
        if self.max_retries < 0:
            raise ValueError("max_retries must be >= 0")
        if self.backoff < 0:
            raise ValueError("backoff must be >= 0")
        for exc in self.retryable_errors:
            if not (isinstance(exc, type) and issubclass(exc, Exception)):
                raise ValueError(f"retryable_errors must be exception types, got {exc!r}")

    def sleep_for(self, attempt: int) -> float:
        """Backoff before retry number ``attempt`` (1-based)."""
        return (2 ** (attempt - 1)) * self.backoff


class ErrorManager:
    """Pluggable error router (reference ``error/handling.py:14-116``).

    ``handle`` classifies an exception raised by a stage for one item:
    returns the serialized error entry to append, or raises to abort
    the whole run. Subclass to ship errors elsewhere (the reference's
    docs show an Elasticsearch-indexing subclass).

    Modes:
    * default                      — soft errors pass through, anything
                                     else becomes critical; row is kept.
    * ``raise_on_critical_error``  — a critical error propagates and
                                     fails the Spark job.
    * ``no_skip_on_critical_error``— critical behaves like soft: the
                                     item does NOT skip later stages.
    """

    def __init__(self):
        self._raise_on_critical = False
        self._skip_on_critical = True
        self.logger = logging.getLogger(self.__class__.__name__)

    def raise_on_critical_error(self) -> "ErrorManager":
        self._raise_on_critical = True
        return self

    def no_skip_on_critical_error(self) -> "ErrorManager":
        self._skip_on_critical = False
        return self

    # lifecycle hooks, mirroring reference ErrorManager.on_start/on_end
    def on_start(self) -> None:  # pragma: no cover - hook point
        pass

    def on_end(self) -> None:  # pragma: no cover - hook point
        pass

    def handle(self, error: BaseException, stage: str, item) -> dict:
        """Classify ``error`` for ``item`` at ``stage``.

        Returns the ``_errors`` entry dict; the caller decides skip
        semantics from its ``kind`` and :meth:`skips_rest`.
        """
        self.logger.exception("%s on item %s in stage %s", type(error).__name__, item, stage)
        if isinstance(error, SoftError):
            return error_entry(stage, KIND_SOFT, error)
        # anything non-soft is critical
        if self._raise_on_critical:
            raise error
        return error_entry(stage, KIND_CRITICAL, error)

    def skips_rest(self) -> bool:
        """Whether a critical error short-circuits later stages."""
        return self._skip_on_critical


@dataclass
class StagePolicy:
    """Everything the executor-side wrapper needs about one stage."""

    name: str
    retry: RetryManager = field(default_factory=RetryManager)
    concurrency: int = 0  # advisory: repartition hint; Spark is already parallel
    profile_memory: bool = False  # record worker RSS into timings (<name>#rss_kb)
