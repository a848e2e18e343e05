"""Resumable build (SURVEY.md §5.3-6): build a shard subset, resume, and the
final index must equal a single-shot build — per-shard manifest drives the
skip (north_rule checkpoint clause)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pdfsearch_spark import corpus
from pdfsearch_spark.index_build import POSTING_SCHEMA, _read_stats, build_index, resume_build

N = 120
SHARDS = 4


def _postings_fingerprint(spark, d):
    """Every postings column, one row per (shard, term)."""
    return (
        spark.read.parquet(os.path.join(d, "postings"))
        .select(*[f.name for f in POSTING_SCHEMA.fields])
        .orderBy("shard", "term")
        .collect()
    )


def _assert_same_postings(a, b):
    assert len(a) == len(b) > 0
    differ = [(x["shard"], x["term"]) for x, y in zip(a, b) if x != y]
    assert not differ, f"{len(differ)} of {len(a)} posting rows differ: {differ[:5]}"


def test_resume_equals_single_shot(spark, tmp_path):
    full_dir = str(tmp_path / "full")
    part_dir = str(tmp_path / "partial")

    pages = corpus.web_pages_df(spark, N, partitions=4)
    build_index(spark, pages, full_dir, n_shards=SHARDS)

    # partial build: only shards {0, 2} complete, then resume
    build_index(spark, pages, part_dir, n_shards=SHARDS, only_shards=[0, 2])
    manifest = spark.read.parquet(os.path.join(part_dir, "_build_state"))
    done = {r["shard"] for r in manifest.filter(F.col("status") == "complete").collect()}
    assert done == {0, 2}

    res = resume_build(spark, pages, part_dir, n_shards=SHARDS)
    assert res.get("resumed") != 0  # did real work
    assert _read_stats(spark, part_dir)["op"] == "resume"

    _assert_same_postings(
        _postings_fingerprint(spark, full_dir), _postings_fingerprint(spark, part_dir)
    )

    # second resume is a no-op
    assert resume_build(spark, pages, part_dir, n_shards=SHARDS) == {"resumed": 0}


def test_resumed_index_searches_identically(spark, tmp_path, oracle):
    d = str(tmp_path / "idx")
    pages = corpus.web_pages_df(spark, N, partitions=4)
    build_index(spark, pages, d, n_shards=SHARDS, only_shards=[1, 3])
    resume_build(spark, pages, d, n_shards=SHARDS)

    from pdfsearch_spark.search import SearchEngine

    eng = SearchEngine(spark, d)
    got = sorted(
        (r["doc_id"], r["score"])
        for r in eng.search("renal failure", k=200, with_snippets=False)
        .select("doc_id", "score")
        .collect()
    )
    # oracle over the same 120-doc prefix
    from pdfsearch_spark.extract import extract_text
    from pdfsearch_spark.oracle import FTS5Oracle

    pdf = corpus.gen_pandas(N)
    pdf["text"] = [extract_text(h) for h in pdf["html"]]
    o = FTS5Oracle()
    o.load(pdf)
    want = sorted((r.doc_id, r.score) for r in o.search("renal failure", k=200))
    assert [d_ for d_, _ in got] == [d_ for d_, _ in want]
    assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, want))


def test_fresh_build_sweeps_legacy_tables(spark, tmp_path):
    """An in-place rebuild over a pre-format-7 index removes the tables that
    format 7 no longer writes (documents, term_stats, the parquet stats
    commit table) and their compaction epochs, instead of leaving them on
    disk beside the new index."""
    d = str(tmp_path / "legacy")
    legacy = ("documents", "documents.v1", "term_stats", "term_stats.v2", "stats")
    for sub in legacy:
        os.makedirs(os.path.join(d, sub, "shard=0"))
        with open(os.path.join(d, sub, "shard=0", "part-0.parquet"), "wb") as f:
            f.write(b"PAR1")
    build_index(spark, corpus.web_pages_df(spark, N, partitions=4), d, n_shards=SHARDS)
    assert not [sub for sub in legacy if os.path.exists(os.path.join(d, sub))]
    assert os.path.isdir(os.path.join(d, "postings"))


def test_killed_rebuild_resumes(spark, tmp_path, monkeypatch):
    """An in-place rebuild of a complete index, killed during the postings
    encode, must not leave the old manifest naming every shard complete:
    resume rebuilds the index, equal to a single-shot build."""
    from pdfsearch_spark import index_build

    full_dir = str(tmp_path / "full")
    d = str(tmp_path / "idx")
    pages = corpus.web_pages_df(spark, N, partitions=4)
    build_index(spark, pages, full_dir, n_shards=SHARDS)
    build_index(spark, pages, d, n_shards=SHARDS)

    def _boom(*a, **k):
        raise RuntimeError("simulated crash during encode")

    with monkeypatch.context() as m:
        m.setattr(index_build, "_encode_postings", _boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            build_index(spark, pages, d, n_shards=SHARDS)

    res = resume_build(spark, pages, d, n_shards=SHARDS)
    assert res.get("resumed") != 0  # did real work
    _assert_same_postings(
        _postings_fingerprint(spark, full_dir), _postings_fingerprint(spark, d)
    )


def _lineage(rows) -> dict:
    """shard -> (n_docs, docs_fingerprint, n_tokens), shards with docs only."""
    return {
        r["shard"]: (r["n_docs"], r["docs_fingerprint"], r["n_tokens"])
        for r in rows
        if r["n_docs"]
    }


def _doc_text_lineage(spark, d, segments=None) -> dict:
    """The reference: one groupBy over the committed doc_text (of the given
    segments, default all committed ones)."""
    from pdfsearch_spark.index_build import table_dir

    st = _read_stats(spark, d)
    docs = spark.read.parquet(table_dir(d, "doc_text", st["epoch"])).filter(
        F.col("segment") < st["n_segments"]
    )
    if segments is not None:
        docs = docs.filter(F.col("segment").isin(segments))
    return _lineage(
        docs.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr("bit_xor(doc_id)").alias("docs_fingerprint"),
            F.sum("dl").alias("n_tokens"),
        )
        .collect()
    )


def _manifest_rows(spark, d) -> list:
    return spark.read.parquet(os.path.join(d, "_build_state")).collect()


def test_manifest_lineage_matches_doc_text(spark, tmp_path):
    """The lineage the encode pass measures equals a groupBy over the
    committed doc_text: after a build, a partial build and its resume, for
    a refresh's appended rows (against that segment), and after compaction
    (one row per shard, the compacted segment)."""
    from pdfsearch_spark.index_build import compact_index, refresh_index

    pages = corpus.web_pages_df(spark, N, partitions=4)
    cutoff = corpus.gen_pandas(N)["warc_ts"].quantile(0.5)
    older = pages.filter(F.col("warc_ts") <= F.lit(cutoff))

    built = str(tmp_path / "built")
    build_index(spark, older, built, n_shards=SHARDS)
    rows = _manifest_rows(spark, built)
    assert sorted(r["shard"] for r in rows) == list(range(SHARDS))
    assert _lineage(rows) == _doc_text_lineage(spark, built)

    d = str(tmp_path / "resumed")
    build_index(spark, older, d, n_shards=SHARDS, only_shards=[1, 3])
    assert _lineage(_manifest_rows(spark, d)) == _doc_text_lineage(spark, d)
    resume_build(spark, older, d, n_shards=SHARDS)
    rows = _manifest_rows(spark, d)
    assert sorted(r["shard"] for r in rows) == list(range(SHARDS))
    assert _lineage(rows) == _doc_text_lineage(spark, built)
    assert _lineage(rows) == _doc_text_lineage(spark, d)

    res = refresh_index(spark, pages, d)
    assert res["appended_docs"] > 0
    appended = set(_manifest_rows(spark, d)) - set(rows)
    assert _lineage(appended) == _doc_text_lineage(spark, d, [res["segment"]])

    assert compact_index(spark, d)["compacted"] is True
    rows = _manifest_rows(spark, d)
    assert sorted(r["shard"] for r in rows) == list(range(SHARDS))
    assert _lineage(rows) == _doc_text_lineage(spark, d)
    assert sum(r["n_docs"] for r in rows) == N
