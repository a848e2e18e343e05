"""Spark job counts of the query paths.

Every count is taken for one call inside its own job group
(``setJobGroup`` + ``statusTracker``), after a warm-up run of the same
call, so the df cache and the parquet file listing are warm — the state a
serving engine is in. Jobs are the fixed cost of a query on Spark: a
plain-term search must stay at 3 (scoring exchange, collect, doc lookup),
the df-sentinel path must not need the former 7, and a batch of a-priori
queries must cost no more than the scoring half of one search.
"""

from __future__ import annotations

import itertools

TERM = "hypertension"
PHRASE = '"renal failure"'
A_PRIORI = ["hypertension", "renal failure", "renal OR failure", "failure NOT renal"]

_groups = itertools.count()


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"test-query-jobs-{next(_groups)}"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    jobs = set(tracker.getJobIdsForGroup(group))
    # jobs started on threads that did not inherit the group still count
    jobs |= set(tracker.getJobIdsForGroup(None)) - ungrouped
    return len(jobs)


def _warm_jobs(spark, fn) -> int:
    fn()
    return _jobs(spark, fn)


def test_plain_term_search_jobs(spark, engine):
    n = _warm_jobs(
        spark, lambda: engine.search(TERM, k=10, with_snippets=False).collect()
    )
    assert n <= 3, n


def test_sentinel_path_search_jobs(spark, engine):
    n = _warm_jobs(
        spark, lambda: engine.search(PHRASE, k=10, with_snippets=False).collect()
    )
    assert n < 7, n


def test_a_priori_batch_jobs(spark, engine):
    search = _warm_jobs(
        spark, lambda: engine.search(TERM, k=10, with_snippets=False).collect()
    )
    batch = _warm_jobs(spark, lambda: engine.search_batch(A_PRIORI, k=10).collect())
    # a search is the batch executor plus one doc-lookup job
    assert batch <= search - 1, (batch, search)
