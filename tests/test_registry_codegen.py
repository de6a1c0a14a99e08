"""A registry query built again from the same calls compiles no code: every
class its plan needs is already in Spark's codegen cache, so per-build
literals (a seed, a path, a timestamp baked into generated Java) cannot
come back unnoticed."""

from __future__ import annotations

import pytest
from conftest import SF_DIR, compiled_classes

from ilogtail_spark.queries import QUERIES

# the queries of perfbench's `registry_mix` pass
REGISTRY_MIX = (
    "prom_relabel", "incremental_dedup_cycle", "apsara_parse", "syslog_auto",
    "otel_metric", "dedup_clusters", "syslog_rfc5424", "prom_parse", "minhash_lsh",
    "ngram_jaccard", "line_dedup", "container_log_parse", "grok_parse", "spl_pipeline",
)


@pytest.fixture
def fixed_plans(spark):
    """AQE off for the test. AQE re-plans joins from whichever query stages
    have finished first, so a warm build can meet a plan variant no
    earlier build met: `incremental_dedup_cycle` compiled 8, 12 and 4
    classes on builds 2 to 4 of one session, and `ngram_jaccard` 4 classes
    on its third, fourth or fifth build. Without AQE the plan is fixed by the
    calls that build it, and that is the plan checked for per-build code."""
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("name", REGISTRY_MIX)
def test_rebuilt_query_compiles_nothing(spark, fixed_plans, name):
    def run():
        QUERIES[name](spark, SF_DIR).collect()

    run()
    assert compiled_classes(spark, run) == 0
