"""Deterministic job-count budgets per benchmark operation.

A warm session builds each ``warehouse_mix`` benchmark entry's
DataFrame without running a Spark job. Catalog resolution hits the
session's schema store, and none of these entries runs an eager action
while building, so any job here is a regression in one of the two. The
``snapshot_ingest`` maintenance step, ``optimize()`` on a table that is
already compact, runs no job either."""

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


def test_optimize_of_compact_snapshot_table_runs_no_job(spark, tmp_path):
    """optimize() sizes its rewrite from Parquet footers and carries
    every already-compact partition value over, so on a table with one
    small file per value it commits a manifest-only version without a
    Spark job."""
    from pyspark.sql import functions as F

    from datawarehouse_spark.sources.snapshot import SnapshotTable

    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        F.format_string("p%02d", F.col("id") % 40).alias("pt"),
    ).coalesce(1)
    t = SnapshotTable.create(spark, df, str(tmp_path / "compact"),
                             partition_col="pt")
    assert jobs(spark, t.optimize) == 0
    assert t.current_version() == 2
