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

import json
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


def test_engine_scan_predicate_pushes_terms_and_prefix(engine):
    """The engine's own postings predicate (SQL text) pushes both halves:
    the term IN list and the prefix as StringStartsWith."""
    _, phrases = engine._plan('"renal failure" OR hyper*')
    df = engine._postings.filter(engine._scan_predicate(phrases))
    pushed = [l for l in _executed_plan(df).splitlines() if "PushedFilters" in l]
    assert any("term" in l and "StringStartsWith" in l for l in pushed), pushed


def _scan_fields(plan: str, name: str) -> list[str]:
    """The values of one FileScan field (``PushedFilters``, ``ReadSchema``,
    …) across a plan, each cut at its first closing bracket."""
    return re.findall(rf"{name}: (\[[^\]\n]*|struct<[^>\n]*)", plan)


def _read_schemas(df) -> list[list[str]]:
    """The field names of every file scan's ReadSchema in ``df``'s executed
    plan, in full: the plan text cuts a long ReadSchema short."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    return [
        [f["name"] for f in json.loads(leaf.requiredSchema().json())["fields"]]
        for leaf in scans
        if leaf.getClass().getSimpleName() == "FileSourceScanExec"
    ]


def test_engine_lookup_prunes_shard_and_pushes_doc_id(engine):
    """The engine's doc lookup prunes shard partitions, pushes doc_id, and
    reads no text column without snippets — at the ends of the id range
    too."""
    hits = engine.search("hypertension", k=30, with_snippets=False).collect()
    for ids in ([r["doc_id"] for r in hits], [-(2**63), 2**63 - 1, -1, 0]):
        for with_snippets in (False, True):
            plan = _executed_plan(engine._lookup(ids, with_snippets))
            part = _scan_fields(plan, "PartitionFilters")
            assert part and all("shard" in f for f in part), plan
            pushed = _scan_fields(plan, "PushedFilters")
            assert pushed and all("doc_id" in f for f in pushed), plan
            read = _scan_fields(plan, "ReadSchema")
            assert read and all(("text" in f) == with_snippets for f in read), plan


def test_fts_query_plan_has_no_exchange_before_scoring(engine):
    """Every executor path is scan → match+score in one mapInPandas, with
    no exchange: the postings scan reads whole files, one (segment, shard)
    file per task, so the shard function groups by (segment, shard) inside
    its task. 'renal failure' is an a-priori query whose groups cut their
    top-k at the known idfs; the phrase is a one-phrase query whose groups
    cut an idf-free top-k; NEAR takes the df-sentinel path, whose
    partition-local top-k over the persisted match output must add no
    exchange above the cache."""
    for q in ("renal failure", '"renal failure"', "NEAR(renal failure, 3)"):
        tree, phrases = engine._plan(q)
        shard_out, plan = engine._shard_pass([(0, tree, phrases)], 200)
        text = _executed_plan(shard_out)
        assert "MapInPandas" in text, (q, text)
        assert "Exchange" not in text, (q, text)
        assert plan[0].sentinel == q.startswith("NEAR"), q
        if not plan[0].sentinel:
            continue
        shard_out = shard_out.persist()
        try:
            text = _executed_plan(engine._partition_topk(shard_out, {}, 200))
        finally:
            shard_out.unpersist()
        above_cache = text.partition("InMemoryRelation")[0]
        assert "InMemoryTableScan" in above_cache, (q, text)
        assert "Exchange" not in above_cache, (q, text)


# the postings columns only block-max WAND read; the engine scores every hit
# and decodes none of them
UNREAD_POSTING_COLUMNS = (
    "cf", "first_docs", "last_docs", "doc_offs", "tf_offs", "dl_offs",
    "max_impacts", "enc_avgdl",
)


@pytest.mark.parametrize(
    "q", ["renal failure", "hypertension", '"renal failure"', "NEAR(renal failure, 3)"]
)
def test_shard_pass_reads_only_decoded_columns(engine, q):
    """The shard pass's scan reads only the columns its groups decode: for
    a pure AND, a term, a phrase and a NEAR, no WAND-only column is in its
    ReadSchema."""
    tree, phrases = engine._plan(q)
    shard_out, _ = engine._shard_pass([(0, tree, phrases)], 200)
    read = _read_schemas(shard_out)
    assert read, q
    for fields in read:
        assert {"term", "doc_blob", "pos_blob"} <= set(fields), (q, fields)
        assert not set(fields) & set(UNREAD_POSTING_COLUMNS), (q, fields)


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
