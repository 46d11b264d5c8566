"""The stage chain every corpus workload runs: normalize -> gate -> flaky
-> enrich. Spark's Python workers import this module by name, so the
repository root must be on their PYTHONPATH."""

from __future__ import annotations

import hashlib

from smartpipeline_spark import BatchStage, Pipeline, SoftError, Stage
from smartpipeline_spark.errors import RetryManager, StagePolicy

from perfbench.corpus import FLAG_FLAKY, FLAG_SOFT


class TransientError(Exception):
    """Raised once by ``Flaky`` on marked docs; retryable."""


class Normalize(Stage):
    output_fields = {"norm": "string"}

    def process(self, item):
        item.data["norm"] = " ".join(item.data["text"].lower().split())
        return item


class Gate(Stage):
    def process(self, item):
        if item.data["flag"] == FLAG_SOFT:
            raise SoftError(f"marked doc {item.data['doc_id']}")
        return item


class Flaky(Stage):
    """Fails the first attempt on marked docs; the retry succeeds."""

    output_fields = {"attempts": "int"}

    def process(self, item):
        if item.data["flag"] == FLAG_FLAKY and not item.metadata.get("failed_once"):
            item.metadata["failed_once"] = True
            raise TransientError(f"transient failure on doc {item.data['doc_id']}")
        item.data["attempts"] = 2 if item.metadata.get("failed_once") else 1
        return item


class Enrich(BatchStage):
    output_fields = {"n_tokens": "int", "digest": "string"}

    def __init__(self):
        super().__init__(size=256)

    def process_batch(self, items):
        for item in items:
            norm = item.data["norm"]
            item.data["n_tokens"] = norm.count(" ") + 1
            item.data["digest"] = hashlib.md5(norm.encode()).hexdigest()
        return items


def append_chain(pipeline: Pipeline) -> Pipeline:
    return (
        pipeline.append("normalize", Normalize())
        .append("gate", Gate())
        .append(
            "flaky", Flaky(), retryable_errors=(TransientError,), max_retries=1, backoff=0
        )
        .append("enrich", Enrich())
    )


def local_steps() -> list[tuple[object, StagePolicy, bool]]:
    """The same chain as ``(stage, policy, isolate_failures)`` steps, the
    form ``wrapper.run_chain_on_items`` and ``wrapper.compile_chain``
    take."""
    steps = []
    for name, stage, retry in (
        ("normalize", Normalize(), RetryManager()),
        ("gate", Gate(), RetryManager()),
        ("flaky", Flaky(), RetryManager((TransientError,), 1, 0.0)),
        ("enrich", Enrich(), RetryManager()),
    ):
        stage.set_name(name)
        steps.append((stage, StagePolicy(name=name, retry=retry), False))
    return steps
