import os
import sys
import uuid

import pytest

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_DIR = os.path.dirname(_TESTS_DIR)
sys.path.insert(0, _REPO_DIR)

# Spark's Python workers must be able to import the test modules that
# define Stage subclasses (cloudpickle serializes classes by reference).
# This must be set before the JVM starts so local-mode workers inherit it.
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_REPO_DIR, _TESTS_DIR, os.environ.get("PYTHONPATH", "")]
).rstrip(os.pathsep)

SF_SMOKE = "/root/testdata/sf0.001"


def count_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted under a job
    group with AQE off: AQE submits each shuffle stage as a job of its
    own, which would count every pass more than once."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from smartpipeline_spark.session import get_spark

    spark = get_spark(
        "pytest",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false"},
    )
    yield spark
    spark.stop()


@pytest.fixture()
def items_df(spark):
    """Mirrors the reference's RandomTextSource/items fixture shape
    (FIXTURES.md §B: count 1..N unique, id=count, text)."""
    sentences = [
        "Lorem ipsum dolor sit amet",
        "consectetur adipiscing elit",
        "sed do eiusmod tempor incididunt",
        "ut labore et dolore magna aliqua",
        "Ut enim ad minim veniam",
        "quis nostrud exercitation ullamco",
    ]
    rows = [
        {"count": i, "id": i, "text": sentences[i % len(sentences)]}
        for i in range(1, 101)
    ]
    return spark.createDataFrame(rows)
