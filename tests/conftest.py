from __future__ import annotations

import itertools

import pytest

from neural_search_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="nss-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_corpus(spark):
    """Mirrors the reference IT corpus style (HybridQueryIT.java:62-64) plus
    code-shaped docs."""
    from neural_search_spark.corpus import synthetic_code_corpus

    return synthetic_code_corpus(spark, n_rows=120, seed=42).cache()


@pytest.fixture(scope="session")
def tiny_corpus_pdf():
    from neural_search_spark.corpus import synthetic_code_corpus_pdf

    return synthetic_code_corpus_pdf(n_rows=120, seed=42)


@pytest.fixture(scope="session")
def job_count(spark):
    """``job_count(fn)`` runs ``fn`` under a fresh Spark job group and
    returns (jobs it ran, change in CacheManager entries): the fixed
    overhead a query pays, for job-count ceilings."""
    sc = spark.sparkContext
    cache = spark._jsparkSession.sharedState().cacheManager()
    groups = itertools.count()

    def run(fn):
        group = f"job-count-{next(groups)}"
        before = cache.numCachedEntries()
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), cache.numCachedEntries() - before

    return run
