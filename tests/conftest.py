from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this conftest belongs to, so a test run in any copy of the
# repository tests that copy's package
REPO_ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO_ROOT)

from ilogtail_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def spark_jobs(spark, fn) -> int:
    """How many Spark jobs `fn()` launches: the job ids the scheduler
    hands out during the call. Ids are sequential, so this also counts the
    jobs a streaming query runs on its own thread and job group, and it
    does not depend on how many jobs the status store still retains."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    first = scheduler.nextJobId()
    fn()
    return scheduler.nextJobId() - first


def compiled_classes(spark, fn) -> int:
    """How many classes Spark's code generator compiles during `fn()`; a
    plan built again from the same calls should hit the codegen cache."""
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    fn()
    return codegen.METRIC_COMPILATION_TIME().getCount() - before


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="ilogtail_spark_tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def max_partition_bytes(spark):
    """Setter for the session's `spark.sql.files.maxPartitionBytes`, which
    also sizes every file-stream trigger; restored after the test."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    yield lambda n: spark.conf.set(key, str(n))
    spark.conf.set(key, old)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def transcripts(spark):
    from ilogtail_spark.sources.transcripts import transcripts_df

    return transcripts_df(spark, SF_DIR).cache()


@pytest.fixture(scope="session")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
