"""``operators.pin.pinned`` — the engine's one persist/unpersist
lifecycle — and the call sites that leaked cache entries before they
used it."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel

from datawarehouse_spark.catalog import load_tables
from datawarehouse_spark.operators import dedup
from datawarehouse_spark.operators.pin import pinned
from datawarehouse_spark.queries import ORACLES_RAW, QUERIES_RAW
from tests.conftest import SF_ORACLE
from tests.oracle_compare import compare_query


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def clean_cache(spark):
    spark.catalog.clearCache()
    yield
    spark.catalog.clearCache()


def test_pinned_unpersists_when_body_raises(spark, clean_cache):
    df = spark.range(11)
    with pytest.raises(RuntimeError, match="boom"):
        with pinned(df):
            assert not _cache_empty(spark)
            raise RuntimeError("boom")
    assert _cache_empty(spark)
    assert df.storageLevel == StorageLevel.NONE


def test_pinned_releases_original_after_rebind(spark, clean_cache):
    """Rebinding the ``as`` name (the capped anti-join rebind in
    ngram_jaccard_pairs / incremental_dedup) must not redirect the
    release to the rebound frame."""
    orig = spark.range(100).selectExpr("id", "id % 7 AS k")
    with pinned(orig) as df:
        df = df.filter("k = 3")
        assert df.count() == 14
        assert orig.storageLevel != StorageLevel.NONE
    assert orig.storageLevel == StorageLevel.NONE
    assert _cache_empty(spark)


@pytest.mark.parametrize(
    "args, level",
    [
        ((StorageLevel.DISK_ONLY,), StorageLevel.DISK_ONLY),
        # no level given: DataFrame.persist()'s own default
        ((), StorageLevel.MEMORY_AND_DISK_DESER),
    ],
)
def test_pinned_persists_at_given_level(spark, clean_cache, args, level):
    df = spark.range(13)
    with pinned(df, *args) as p:
        assert p is df
        assert p.storageLevel == level
    assert _cache_empty(spark)


def test_incremental_dedup_capped_releases_corpus_shingles(spark, clean_cache):
    """With ``max_shingle_freq`` set the corpus shingle stream is
    rebound to its hot-shingle anti-join; the DISK_ONLY pin on the
    original stream must still be released (it leaked when the release
    targeted the rebound frame)."""
    docs = load_tables(spark, SF_ORACLE, ("documents",))["documents"]
    new = docs.filter("doc_id % 10 = 0")
    corpus = docs.filter("doc_id % 10 <> 0")
    out = dedup.incremental_dedup(new, corpus, max_shingle_freq=5)
    assert out.count() == new.count()
    assert _cache_empty(spark)


def test_a14_count_distinct_extraction_releases_pairs(spark, duck, clean_cache):
    """a14 pins its deduplicated (user, event_type) pairs for the three
    distinct-count branches; the result is materialized inside the pin,
    so the call leaves no cache entry and still matches its oracle."""
    name = "a14_count_distinct_extraction"
    ok, msg = compare_query(
        spark, duck, QUERIES_RAW[name], ORACLES_RAW[name], SF_ORACLE
    )
    assert ok, msg
    assert _cache_empty(spark)
