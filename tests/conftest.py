"""Shared fixtures: one Spark session per test run, one small synthetic
corpus reused across test modules (hermetic, seeded — FIXTURES.md)."""

from __future__ import annotations

import pytest

from webdedup.config import DedupConfig
from webdedup.session import get_spark
from webdedup.synth import generate_pages, pages_to_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="webdedup-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def cfg():
    return DedupConfig()


@pytest.fixture(scope="session")
def corpus(spark):
    """(pages_df cached, truth_pairs_df, truth_clusters_df, pandas pages)."""
    pages_pd, truth_pairs, truth_clusters = generate_pages(n_docs=300, seed=42)
    pages = pages_to_spark(spark, pages_pd, partitions=4).cache()
    pages.count()
    return {
        "pages": pages,
        "truth_pairs": spark.createDataFrame(truth_pairs),
        "truth_clusters": spark.createDataFrame(truth_clusters),
        "pages_pd": pages_pd,
        "truth_pairs_pd": truth_pairs,
    }


@pytest.fixture(scope="session")
def jobs_submitted(spark):
    """run(group, fn) -> (fn()'s result, the number of Spark jobs it
    submitted), counted through the job group's status tracker."""
    sc = spark.sparkContext

    def run(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
