"""Physical-plan guards: the scale properties SURVEY.md §6 claims are not
aspirational prose — they are asserted invariants on the plans Catalyst
actually produces.

- term predicates reach the postings parquet scan as PushedFilters (so
  row-group stats prune untouched terms);
- point lookups prune to the shard partition directory (PartitionFilters),
  never scanning the catalog;
- the dimension side of relational joins broadcasts;
- no entry plan contains a CartesianProduct (the one sanctioned
  all-pairs-with-broadcast op, cosine_topk, runs as
  BroadcastNestedLoopJoin by construction).

Plan text is taken from the analyzed/executed plan via
``df._jdf.queryExecution()`` — the same thing ``.explain("formatted")``
prints.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString()


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


# ---- engine-side scans --------------------------------------------------


def test_postings_scan_pushes_term_filter(engine):
    df = engine._postings.filter(F.col("term") == "renal")
    plan = _executed_plan(df)
    assert "PushedFilters" in plan
    # the term equality must reach the parquet scan, not sit in a Filter above
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("term" in l for l in pushed), pushed


def test_postings_scan_pushes_prefix_as_startswith(engine):
    df = engine._postings.filter(F.col("term").startswith("ren"))
    pushed = [
        l for l in _executed_plan(df).splitlines() if "PushedFilters" in l
    ]
    assert any("StringStartsWith" in l and "term" in l for l in pushed), pushed


def test_point_lookup_prunes_shard_partition(engine):
    from pdfsearch_spark.index_build import shard_of

    some_id = 42
    df = engine._doc_text.filter(
        (F.col("shard") == shard_of(some_id, engine.n_shards))
        & (F.col("doc_id") == some_id)
    )
    plan = _executed_plan(df)
    part = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("shard" in l for l in part), part
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("doc_id" in l for l in pushed), pushed


def test_fts_query_plan_has_no_exchange_before_scoring(engine):
    """Both executor paths are scan → ((segment, shard)-grouped)
    match+score: the only wide node between the postings scan and the
    python scorer is the groupBy("segment", "shard") exchange, whose
    payload is <= n_query_terms rows per (segment, shard) — never a second
    full-width shuffle. 'renal failure' scores a priori (WAND) inside the
    shard function; the phrase takes the df-sentinel path, whose
    partition-local scoring over the persisted match output must add no
    exchange above the cache."""
    for q in ("renal failure", '"renal failure"'):
        tree, phrases = engine._plan(q)
        shard_out, plan = engine._shard_pass([(0, tree, phrases)], 200)
        text = _executed_plan(shard_out)
        exchanges = [l for l in text.splitlines() if "Exchange" in l]
        assert len(exchanges) == 1, (q, text)
        assert re.search(r"hashpartitioning\(segment#\d+, shard#\d+,", exchanges[0]), (
            q,
            exchanges[0],
        )
        if plan[0].idfs is not None:
            continue
        shard_out = shard_out.persist()
        try:
            text = _executed_plan(engine._score_matches(shard_out, 200))
        finally:
            shard_out.unpersist()
        above_cache = text.partition("InMemoryRelation")[0]
        assert "InMemoryTableScan" in above_cache, (q, text)
        assert "Exchange" not in above_cache, (q, text)


# ---- entry queries ------------------------------------------------------


@pytest.fixture(scope="module")
def entry_queries():
    import __spark_entry__ as e

    return e.queries()


def test_broadcast_join_is_broadcast(spark, entry_queries):
    plan = _executed_plan(entry_queries["q_broadcast_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_in_filter_join_is_broadcast(spark, entry_queries):
    plan = _executed_plan(entry_queries["q_in_filter"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_no_cartesian_product_in_any_entry(spark, entry_queries):
    """CartesianProduct = the plan that dies at scale. cosine_topk is the
    one deliberate all-pairs op and must run as a BROADCAST nested loop
    (queries are few), not a partitioned cartesian."""
    offenders = {}
    for name, fn in entry_queries.items():
        plan = _executed_plan(fn(spark, SF_DIR))
        if "CartesianProduct" in plan:
            offenders[name] = True
    assert not offenders, offenders


def test_ann_joins_are_equi_joins(spark, entry_queries):
    """The scale paths (LSH bucket, IVF cell) must join on the blocking key
    — a hash join, never a nested loop over the corpus."""
    for name in ("q_ann_lsh", "q_ann_ivf", "q_embedding_neardup"):
        plan = _executed_plan(entry_queries[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, (
            name,
            plan,
        )
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_catalog_scan_prunes_columns(spark, entry_queries):
    """A 4-column projection must not read the text/html payload columns."""
    plan = _executed_plan(entry_queries["q_catalog_scan"](spark, SF_DIR))
    scan_lines = [
        l for l in plan.splitlines() if "ReadSchema" in l
    ]
    assert scan_lines, plan
    assert all("text" not in l and "html" not in l for l in scan_lines), (
        scan_lines
    )
