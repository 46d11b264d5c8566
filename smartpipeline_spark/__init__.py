"""smartpipeline_spark — a PySpark-native analytics / dataflow engine.

A brand-new engine with the query and data-processing capabilities of
giacbrd/SmartPipeline (reference at /root/reference, studied in
SURVEY.md), re-expressed Spark-first:

* the reference's ``Source → Stage/BatchStage`` dataflow surface
  (dict-shaped items, soft/critical error channels, retry with
  exponential backoff, per-stage timing, batch size/timeout, lifecycle
  hooks) compiles onto DataFrames — stages become Arrow-batched
  ``mapInPandas`` with companion ``_errors`` / ``_timings`` columns;
* the relational layer the reference lacks (filter/join/agg/window/
  sort/set-op/scalar battery/streaming windows) is exposed directly
  through Catalyst-native DataFrame operators (``operators/``);
* LLM-training-data operators (dedup, similarity search, text
  analysis, multimodal binary columns) live in ``functions/``.

Nothing here is a port: the reference is a single-process Python
producer/consumer framework (see SURVEY.md §3-4); this engine lets
Catalyst/Tungsten plan and execute everything that is relational and
drops to Pandas UDFs only for user-authored per-item logic.
"""

from smartpipeline_spark.errors import (
    CriticalError,
    Error,
    ErrorManager,
    RetryError,
    RetryManager,
    SoftError,
)
from smartpipeline_spark.item import Item
from smartpipeline_spark.pipeline import Pipeline
from smartpipeline_spark.session import get_spark
from smartpipeline_spark.stage import BatchStage, Source, Stage

__version__ = "0.1.0"

__all__ = [
    "BatchStage",
    "CriticalError",
    "Error",
    "ErrorManager",
    "Item",
    "Pipeline",
    "RetryError",
    "RetryManager",
    "SoftError",
    "Source",
    "Stage",
    "get_spark",
    "__version__",
]
