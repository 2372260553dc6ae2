"""Deterministic job-count budgets per registry entry.

First piece: a warm session builds each ``warehouse_mix`` benchmark
entry's DataFrame without running a Spark job. Catalog resolution hits
the session's schema store, and none of these entries runs an eager
action while building, so any job here is a regression in one of the
two."""

from __future__ import annotations

import pytest

from datawarehouse_spark.queries import QUERIES, QUERIES_RAW
from tests.conftest import SF_ORACLE
from tests.jobcount import jobs

WAREHOUSE_MIX = (
    "a1_pricing_summary",
    "a5_conditional_multi_distinct",
    "w3_w4_partition_count_sum",
    "j5_salted_skew_join",
    "j15_asof_join",
)


@pytest.mark.parametrize("name", WAREHOUSE_MIX)
def test_warm_build_runs_no_job(spark, name):
    fn = QUERIES.get(name) or QUERIES_RAW[name]
    fn(spark, SF_ORACLE)  # warm: the session's first sight of the tables
    assert jobs(spark, lambda: fn(spark, SF_ORACLE)) == 0
