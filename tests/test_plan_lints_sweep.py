"""Anti-pattern sweep: every driver-registry query's physical plan must
be free of the three hard scale-killers the advisor lints for — an
unbroadcast cartesian product, a row-at-a-time Python UDF, and a
global window (empty partition spec over unbounded input, which
funnels the whole table through one task). This is the mechanical form
of the round bar "no row-python in the hot path, no accidental O(n·m)
joins, no single-partition sorts" across the WHOLE registry, not just
the queries someone remembered to eyeball."""

from __future__ import annotations

import pytest

from datawarehouse_spark.plans import advisor
from datawarehouse_spark.queries import QUERIES
from tests.conftest import SF_ORACLE

FORBIDDEN = {"cartesian-product", "row-python-udf", "global-window"}


@pytest.mark.parametrize("name", list(QUERIES))
def test_no_plan_antipatterns(spark, name):
    df = QUERIES[name](spark, SF_ORACLE)
    hits = {a.rule for a in advisor.lint_plan(df)} & FORBIDDEN
    assert not hits, f"{name}: {hits}"


def test_global_window_lint_fires_and_spares_bounded(spark):
    """The rule must catch the real pathology (empty partition spec
    over unbounded input → Exchange SinglePartition) and stay silent
    for the two legitimate shapes: a window over a TakeOrdered-bounded
    input, and a scalar agg's final single-partition merge."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    # numPartitions pinned: a 1-partition input at local[1] needs no
    # Exchange SinglePartition, so the pathology would not show
    base = spark.range(0, 1000, numPartitions=4).withColumn("v", F.col("id") % 7)
    bad = base.withColumn("r", F.ntile(4).over(W.orderBy("v", "id")))
    assert "global-window" in {a.rule for a in advisor.lint_plan(bad)}

    bounded = base.orderBy("v", "id").limit(10).withColumn(
        "r", F.row_number().over(W.orderBy("v", "id"))
    )
    assert "global-window" not in {
        a.rule for a in advisor.lint_plan(bounded)
    }

    scalar = base.crossJoin(
        F.broadcast(base.agg(F.sum("v").alias("tot")))
    )
    assert "global-window" not in {
        a.rule for a in advisor.lint_plan(scalar)
    }
