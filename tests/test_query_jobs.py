"""Spark job counts of the query paths.

Every count is taken for one call inside its own job group
(``setJobGroup`` + ``statusTracker``), after a warm-up run of the same
call, so the df cache and the parquet file listing are warm — the state a
serving engine is in. Jobs are the fixed cost of a query on Spark, and the
shard pass has no exchange, so it is one job:

- a one-phrase search (plain term, phrase, prefix, anchor) takes 2: the
  shard pass, whose one collect brings the groups' top-k and df rows, and
  the doc lookup — also cold, since it runs no df lookup;
- a zero-hit search takes 1, the shard pass alone;
- a NEAR search of plain terms is a-priori: warm, it takes at most 2, the
  shard pass and the doc lookup (its dfs are in the df cache);
- a query of several phrases with a multi-term phrase, a prefix or an
  anchor takes at most 3: the df pass (the shard function at k=0), the
  shard pass, the doc lookup;
- a batch of a-priori queries costs no more than the scoring half of one
  search, and an empty result costs no job of its own.

No path persists or caches a DataFrame: every plan entry's groups cut
their hits to ≤ k rows, so the shard pass is one collect.

Opening a snapshot (``SearchEngine``, ``_read_stats``) runs no job: the
commit file is read through the Hadoop FileSystem and both tables are read
with declared schemas. A refresh and a compaction run a pinned number of
jobs (``REFRESH_JOBS``, ``COMPACT_JOBS``).
"""

from __future__ import annotations

import itertools

TERM = "hypertension"
PHRASE = '"renal failure"'
ONE_PHRASE = [PHRASE, "data*", "^guation", "text:hypertension"]
NEAR = "NEAR(renal failure, 3)"
PHRASE_AND_TERM = '"renal failure" hypertension'
ZERO_HIT = "qqzxjvvk"  # a plain term in no fixture document
A_PRIORI = ["hypertension", "renal failure", "renal OR failure", "failure NOT renal"]
# fixture queries with ≥ 60 hits: a one-phrase prefix and a df-pass OR
MANY_HITS = ["b*", "s* OR r*"]
# py4j round trips a k=200 search may make beyond the same search at k=5
ROUND_TRIP_SLACK = 4

# jobs of one refresh_index (+ new docs) and one compact_index over the
# small fixture below; each was 3 more while the commit point was a parquet
# table (schema inference, collect, and the write)
REFRESH_JOBS = 6
COMPACT_JOBS = 4

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


def _round_trips(spark, fn) -> int:
    """py4j commands the driver sends during ``fn()``, except the object
    releases (commands starting ``"m\\n"``), which the Python GC sends at
    random times."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = 0

    def counting(command, *args, **kwargs):
        nonlocal n
        if not command.startswith("m\n"):
            n += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        fn()
    finally:
        client.send_command = send
    return n


def test_plain_term_search_jobs(spark, engine):
    n = _warm_jobs(
        spark, lambda: engine.search(TERM, k=10, with_snippets=False).collect()
    )
    assert n <= 2, n


def test_cold_plain_term_runs_no_df_lookup(spark, index_dir):
    from pdfsearch_spark.search import SearchEngine

    eng = SearchEngine(spark, index_dir)
    rows = []
    n = _jobs(
        spark, lambda: rows.extend(eng.search(TERM, k=10, with_snippets=False).collect())
    )
    assert rows
    assert eng._df_cache == {}
    assert n <= 2, n


def test_one_phrase_search_jobs(spark, engine):
    for q in ONE_PHRASE:
        n = _warm_jobs(
            spark, lambda: engine.search(q, k=10, with_snippets=False).collect()
        )
        assert n <= 2, (q, n)


def test_near_search_jobs(spark, engine):
    n = _warm_jobs(
        spark, lambda: engine.search(NEAR, k=10, with_snippets=False).collect()
    )
    assert n <= 2, n


def test_df_pass_search_jobs(spark, engine):
    n = _warm_jobs(
        spark,
        lambda: engine.search(PHRASE_AND_TERM, k=10, with_snippets=False).collect(),
    )
    # the df pass, the shard pass, the doc lookup
    assert n <= 3, n


def test_executor_never_persists(engine, monkeypatch):
    """No query path persists or caches its shard output. The patch goes on
    the class of the engine's own DataFrames: PySpark's classic DataFrame
    is a subclass that overrides both methods, so a patch on
    ``pyspark.sql.DataFrame`` would not reach it."""

    def refuse(*args, **kwargs):
        raise AssertionError("the executor persisted a DataFrame")

    cls = type(engine._scan)
    monkeypatch.setattr(cls, "persist", refuse)
    monkeypatch.setattr(cls, "cache", refuse)
    for q in (NEAR, PHRASE_AND_TERM, "data* OR renal"):
        assert engine.search(q, k=10, with_snippets=False).collect(), q
    rows = engine.search_batch([NEAR, TERM, PHRASE, PHRASE_AND_TERM, "data* OR renal"], k=10)
    assert {r["query_id"] for r in rows.collect()} == {0, 1, 2, 3, 4}


def test_a_priori_batch_jobs(spark, engine):
    search = _warm_jobs(
        spark, lambda: engine.search(TERM, k=10, with_snippets=False).collect()
    )
    batch = _warm_jobs(spark, lambda: engine.search_batch(A_PRIORI, k=10).collect())
    # a search is the batch executor plus one doc-lookup job
    assert batch <= search - 1, (batch, search)


def test_round_trips_do_not_grow_with_k(spark, engine):
    """A search plans its scans and assembles its result in a fixed number
    of JVM calls: its predicates are SQL strings, not a Column per literal
    (≥ 3 round trips each), so k=200 over ≥ 60 hits costs what k=5 does."""
    for q in MANY_HITS:
        for with_snippets in (True, False):
            runs = {}
            for k in (5, 200):
                engine.search(q, k=k, with_snippets=with_snippets).collect()
                rows = []
                n = _round_trips(
                    spark,
                    lambda: rows.extend(
                        engine.search(q, k=k, with_snippets=with_snippets).collect()
                    ),
                )
                runs[k] = (n, len(rows))
            assert runs[200][1] >= 60, (q, runs)
            assert runs[200][0] <= runs[5][0] + ROUND_TRIP_SLACK, (q, with_snippets, runs)


def test_zero_hit_search_jobs(spark, engine):
    n = _warm_jobs(
        spark, lambda: engine.search(ZERO_HIT, k=10, with_snippets=False).collect()
    )
    # the shard pass alone; the empty result itself runs none
    assert n <= 1, n


def test_empty_results_run_no_job(spark, engine):
    assert engine.search("  ", k=10).collect() == []
    assert _jobs(spark, lambda: engine.search("  ", k=10).collect()) == 0
    assert engine.search_batch(["", " "], k=10).collect() == []
    assert _jobs(spark, lambda: engine.search_batch(["", " "], k=10).collect()) == 0


def test_open_snapshot_runs_no_job(spark, index_dir):
    from pdfsearch_spark.index_build import _read_stats
    from pdfsearch_spark.search import SearchEngine

    assert _jobs(spark, lambda: SearchEngine(spark, index_dir)) == 0
    assert _jobs(spark, lambda: _read_stats(spark, index_dir)) == 0


def test_refresh_and_compaction_jobs(spark, tmp_path):
    from pyspark.sql import functions as F

    from pdfsearch_spark import corpus
    from pdfsearch_spark.index_build import build_index, compact_index, refresh_index

    n = 120
    pages = corpus.web_pages_df(spark, n, partitions=4)
    cutoff = corpus.gen_pandas(n)["warc_ts"].quantile(0.5)
    d = str(tmp_path / "idx")
    build_index(spark, pages.filter(F.col("warc_ts") <= F.lit(cutoff)), d, n_shards=4)
    out = {}
    refresh = _jobs(spark, lambda: out.update(r=refresh_index(spark, pages, d)))
    compact = _jobs(spark, lambda: out.update(c=compact_index(spark, d)))
    assert out["r"]["appended_docs"] > 0 and out["c"]["compacted"]
    assert (refresh, compact) == (REFRESH_JOBS, COMPACT_JOBS)
