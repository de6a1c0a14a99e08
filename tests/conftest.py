from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from ilogtail_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


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
