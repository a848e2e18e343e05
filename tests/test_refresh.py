"""Incremental refresh (segment append) + compaction correctness.

An index built over the older half of the corpus (by warc_ts) then refreshed
with the full corpus must be rank-identical to the FTS5 oracle over the FULL
corpus — across every query shape (conjunctions, phrase / NEAR
positions and prefix expansion all run per segment, and their per-segment
results and dfs add up to the full corpus's). Compaction back to one segment
must change nothing.

Reference semantics mirrored: re-crawled urls keep their first version
(files.path UNIQUE + DO NOTHING, /root/reference/database/database.go:46,257);
"refresh" in the reference is a rerun (search/serializer.go) — ours appends.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pdfsearch_spark import corpus
from pdfsearch_spark.fnv import fnv1_64_signed
from pdfsearch_spark.index_build import _read_stats, build_index, compact_index, refresh_index
from pdfsearch_spark.observe import index_stats
from pdfsearch_spark.search import SearchEngine

from conftest import N_DOCS, N_SHARDS

REFRESH_INDEX_DIR = "/tmp/pdfsearch_spark_refresh_index"

# one query per grammar shape (all are in the reference query set); each
# (segment, shard) is scored on its own, and only per-group top-k rows and
# df sentinels are merged
SHAPES = [
    "hypertension",          # single term (one phrase, idf-free group top-k)
    "renal failure",         # conjunction (a-priori top-k per segment, merged)
    "renal OR failure",      # disjunction (a-priori)
    "failure NOT renal",     # NOT
    '"renal failure"',       # positional phrase (per-segment positions)
    "data*",                 # prefix (expanded per segment's vocabulary)
    "NEAR(renal failure, 3)",
    "^renal",
]


@pytest.fixture(scope="module")
def refreshed(spark, corpus_pdf):
    pages = corpus.web_pages_df(spark, N_DOCS, partitions=8)
    cutoff = corpus_pdf["warc_ts"].quantile(0.5)
    shutil.rmtree(REFRESH_INDEX_DIR, ignore_errors=True)
    build_index(
        spark,
        pages.filter(F.col("warc_ts") <= F.lit(cutoff)),
        REFRESH_INDEX_DIR,
        n_shards=N_SHARDS,
    )
    metrics = refresh_index(spark, pages, REFRESH_INDEX_DIR)
    return metrics


def _stats(spark):
    return _read_stats(spark, REFRESH_INDEX_DIR)


def _results(spark, index_dir, ndigits=None):
    """SHAPES results of a fresh reader: sorted (doc_id, score) per query,
    scores rounded to ``ndigits`` when given."""
    eng = SearchEngine(spark, index_dir)
    out = {}
    for q in SHAPES:
        rows = eng.search(q, k=50, with_snippets=False).collect()
        out[q] = sorted(
            (r["doc_id"], r["score"] if ndigits is None else round(r["score"], ndigits))
            for r in rows
        )
    return out


def _crash_at_commit(fn, *args):
    """Run an index write killed at its commit point: every data partition
    is written, the commit (``_write_stats``) raises."""
    from pdfsearch_spark import index_build

    real_write_stats = index_build._write_stats

    def _boom(*a, **k):
        raise RuntimeError("simulated crash before stats commit")

    index_build._write_stats = _boom
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            fn(*args)
    finally:
        index_build._write_stats = real_write_stats


def _assert_oracle_identical(spark, oracle, queries, k=50):
    eng = SearchEngine(spark, REFRESH_INDEX_DIR)
    for q in queries:
        o = sorted((r.doc_id, r.score) for r in oracle.search(q, k=k))
        rows = eng.search(q, k=k, with_snippets=False).select("doc_id", "score").collect()
        e = sorted((r["doc_id"], r["score"]) for r in rows)
        assert len(o) == len(e), f"q={q!r}: oracle {len(o)} vs engine {len(e)}"
        for (od, osc), (ed, esc) in zip(o, e):
            assert od == ed, f"q={q!r}: doc {od} != {ed}"
            assert abs(osc - esc) < 1e-9, f"q={q!r} doc {od}: {osc} vs {esc}"


def test_refresh_appended_second_segment(spark, refreshed):
    assert refreshed["appended_docs"] > 0
    assert refreshed["segment"] == 1
    st = _stats(spark)
    assert st["n_segments"] == 2
    assert st["n_docs"] == N_DOCS
    # the commit records its operation and the phases before it
    assert st["op"] == "refresh"
    assert set(st["phase_sec"]) == {"extract_and_doc_text_write", "postings_encode_write"}
    assert set(refreshed["phase_sec"]) == set(st["phase_sec"]) | {"commit"}


def test_refreshed_index_rank_identical(spark, oracle, refreshed):
    _assert_oracle_identical(spark, oracle, SHAPES)


def test_refresh_is_idempotent_noop_when_current(spark, refreshed):
    pages = corpus.web_pages_df(spark, N_DOCS, partitions=8)
    again = refresh_index(spark, pages, REFRESH_INDEX_DIR)
    assert again["appended_docs"] == 0
    assert _stats(spark)["n_segments"] == 2


def test_recrawled_url_keeps_first_version(spark, refreshed):
    """A later re-crawl of an existing url must be dropped (DO NOTHING)."""
    pages = corpus.web_pages_df(spark, N_DOCS, partitions=8)
    recrawl = (
        pages.limit(3)
        .withColumn("warc_ts", F.expr("warc_ts + INTERVAL 400 DAYS"))
        .withColumn("html", F.lit(b"<html><body><p>changed content</p></body></html>"))
    )
    res = refresh_index(spark, recrawl, REFRESH_INDEX_DIR)
    assert res["appended_docs"] == 0
    st = _stats(spark)
    assert st["n_docs"] == N_DOCS
    # watermark unchanged: nothing committed
    assert st["n_segments"] == 2


def test_refresh_after_compact(spark, oracle, refreshed):
    """compact → refresh must reuse segment numbering cleanly (next segment
    is 1 again after compaction resets to a single segment 0) and stay
    rank-identical. Ordered before test_compaction_preserves_results's module
    teardown state by running compact here on a copy."""
    import shutil as _sh

    side = REFRESH_INDEX_DIR + "_cycle"
    _sh.rmtree(side, ignore_errors=True)
    _sh.copytree(REFRESH_INDEX_DIR, side)
    assert compact_index(spark, side)["compacted"] is True
    extra = (
        corpus.web_pages_df(spark, N_DOCS, partitions=8)
        .limit(20)
        .withColumn("url", F.concat(F.lit("http://late.example/"), F.col("url")))
        .withColumn("warc_ts", F.expr("warc_ts + INTERVAL 900 DAYS"))
    )
    res = refresh_index(spark, extra, side)
    assert res["appended_docs"] == 20
    assert res["segment"] == 1
    st = _read_stats(spark, side)
    assert st["n_segments"] == 2 and st["n_docs"] == N_DOCS + 20
    # original docs still searchable, scores now under the shifted avgdl —
    # just assert the engine runs and returns rows for a known query
    eng = SearchEngine(spark, side)
    assert eng.search("renal", k=10, with_snippets=False).count() > 0
    _sh.rmtree(side, ignore_errors=True)


def test_reader_survives_compaction_epoch_gc(spark, oracle, refreshed):
    """GC grace window (VERDICT r3 item 9): an engine constructed BEFORE a
    compaction commit pins the old epoch, whose dirs must survive that
    compaction's GC — the reader keeps answering rank-identically with no
    retry. The old epoch is swept only by the NEXT compaction cycle."""
    import shutil as _sh

    side = REFRESH_INDEX_DIR + "_grace"
    _sh.rmtree(side, ignore_errors=True)
    _sh.copytree(REFRESH_INDEX_DIR, side)

    reader = SearchEngine(spark, side)          # pins epoch 0
    assert reader.epoch == 0
    before = {
        (r["doc_id"], r["score"])
        for r in reader.search("renal failure", k=50, with_snippets=False)
        .select("doc_id", "score").collect()
    }

    assert compact_index(spark, side)["compacted"] is True
    # grace: epoch-0 dirs (the unversioned base) still present post-GC
    for tbl in ("postings", "doc_text"):
        assert os.path.exists(os.path.join(side, tbl)), tbl
        assert os.path.exists(os.path.join(side, f"{tbl}.v1")), tbl
    # the pinned reader still resolves complete files — identical answers,
    # including a query it has never planned before (cold file access)
    after = {
        (r["doc_id"], r["score"])
        for r in reader.search("renal failure", k=50, with_snippets=False)
        .select("doc_id", "score").collect()
    }
    assert after == before
    assert reader.search('"renal failure"', k=20, with_snippets=True).count() > 0
    # a NEW engine binds the new epoch
    assert SearchEngine(spark, side).epoch == 1

    # next cycle: refresh (to make compaction non-trivial) + compact sweeps
    # epoch 0 but keeps epoch 1 as the new grace epoch
    extra = (
        corpus.web_pages_df(spark, N_DOCS, partitions=8)
        .limit(5)
        .withColumn("url", F.concat(F.lit("http://grace.example/"), F.col("url")))
        .withColumn("warc_ts", F.expr("warc_ts + INTERVAL 900 DAYS"))
    )
    assert refresh_index(spark, extra, side)["appended_docs"] == 5
    res2 = compact_index(spark, side)
    assert res2["compacted"] is True and res2["epoch"] == 2
    for tbl in ("postings", "doc_text"):
        assert not os.path.exists(os.path.join(side, tbl)), tbl
        assert os.path.exists(os.path.join(side, f"{tbl}.v1")), tbl
        assert os.path.exists(os.path.join(side, f"{tbl}.v2")), tbl
    _sh.rmtree(side, ignore_errors=True)


def test_kill_during_compact_never_half_swaps(spark, oracle, refreshed):
    """Crash-safety of the versioned-root commit: a compaction killed at ANY
    point before the commit-file flip leaves readers on the old epoch's
    complete dirs with identical results; the rerun completes, flips the
    epoch, and GCs the old dirs."""
    import os
    import shutil as _sh

    from pdfsearch_spark.index_build import table_dir

    side = REFRESH_INDEX_DIR + "_kill"
    _sh.rmtree(side, ignore_errors=True)
    _sh.copytree(REFRESH_INDEX_DIR, side)

    def results():
        return _results(spark, side, ndigits=9)

    before = results()

    # kill the job at the commit point: all data dirs for the new epoch are
    # written, the commit file is not — the worst-case crash instant
    _crash_at_commit(compact_index, spark, side)

    # readers resolve the old epoch: index is fully usable, results identical
    st = _read_stats(spark, side)
    assert int(st["epoch"]) == 0 and int(st["n_segments"]) == 2
    assert results() == before
    # the orphan next-epoch dirs may exist; they are invisible to readers
    assert os.path.exists(table_dir(side, "postings", 0))

    # rerun to completion: epoch flips, results identical; the replaced
    # epoch-0 dirs are KEPT one cycle as the in-flight-reader grace window
    # (test_reader_survives_compaction_epoch_gc covers their later sweep)
    res = compact_index(spark, side)
    assert res["compacted"] is True and res["epoch"] == 1
    st2 = _read_stats(spark, side)
    assert int(st2["epoch"]) == 1 and int(st2["n_segments"]) == 1
    assert os.path.exists(table_dir(side, "postings", 1))
    assert os.path.exists(os.path.join(side, "postings"))
    assert os.path.exists(os.path.join(side, "doc_text"))
    assert results() == before
    _sh.rmtree(side, ignore_errors=True)


def test_crashed_refresh_is_invisible_to_readers(spark, corpus_pdf):
    """Snapshot isolation across a refresh crash: a refresh killed at its
    commit point (the commit-file write) has already written its segment's doc_text
    and postings partitions. A reader opened afterwards must not see them —
    same docs and bit-identical scores (so idf is unchanged) as a reader of
    the pre-refresh snapshot, and ``observe.index_stats`` must not report
    them either. The rerun then commits the segment."""
    from pdfsearch_spark.index_build import table_dir

    side = REFRESH_INDEX_DIR + "_crash"
    pages = corpus.web_pages_df(spark, N_DOCS, partitions=8)
    cutoff = corpus_pdf["warc_ts"].quantile(0.5)
    shutil.rmtree(side, ignore_errors=True)
    build_index(
        spark,
        pages.filter(F.col("warc_ts") <= F.lit(cutoff)),
        side,
        n_shards=N_SHARDS,
    )

    before = _results(spark, side)
    assert any(before.values())
    postings_before = sum(r["n_postings"] for r in index_stats(spark, side).collect())

    _crash_at_commit(refresh_index, spark, pages, side)

    # the uncommitted segment's data is on disk, and readers ignore it
    for tbl in ("postings", "doc_text"):
        assert os.path.isdir(os.path.join(table_dir(side, tbl), "segment=1")), tbl
    assert _results(spark, side) == before
    # ... and so does the layout report: committed segments only
    n_segments = _read_stats(spark, side)["n_segments"]
    layout = index_stats(spark, side).collect()
    assert sorted({r["segment"] for r in layout}) == list(range(n_segments))
    assert sum(r["n_postings"] for r in layout) == postings_before

    res = refresh_index(spark, pages, side)
    assert res["segment"] == 1
    assert SearchEngine(spark, side).n_docs == N_DOCS
    shutil.rmtree(side, ignore_errors=True)


def test_compact_after_crashed_refresh_drops_orphan_segment(spark, corpus_pdf):
    """Compaction merges committed segments only. A refresh killed at its
    commit point leaves an uncommitted segment on disk; compacting after it
    must not publish that segment's docs (doc_text rows == n_docs) nor its
    postings (results unchanged, so df and idf are unchanged)."""
    from pdfsearch_spark.index_build import table_dir

    side = REFRESH_INDEX_DIR + "_orphan"
    pages = corpus.web_pages_df(spark, N_DOCS, partitions=8)
    q1, q2 = corpus_pdf["warc_ts"].quantile([1 / 3, 2 / 3])
    shutil.rmtree(side, ignore_errors=True)
    build_index(
        spark, pages.filter(F.col("warc_ts") <= F.lit(q1)), side, n_shards=N_SHARDS
    )
    refresh_index(spark, pages.filter(F.col("warc_ts") <= F.lit(q2)), side)
    n_committed = _read_stats(spark, side)["n_docs"]
    assert 0 < n_committed < N_DOCS
    before = _results(spark, side, ndigits=9)

    _crash_at_commit(refresh_index, spark, pages, side)
    assert os.path.isdir(os.path.join(table_dir(side, "doc_text"), "segment=2"))

    res = compact_index(spark, side)
    assert res["compacted"] is True and res["segments_before"] == 2
    st = _read_stats(spark, side)
    assert st["n_docs"] == n_committed and st["n_segments"] == 1
    compacted = spark.read.parquet(table_dir(side, "doc_text", res["epoch"]))
    assert compacted.count() == n_committed
    assert _results(spark, side, ndigits=9) == before
    shutil.rmtree(side, ignore_errors=True)


def test_refresh_rerun_with_other_batch_drops_orphan_partitions(spark, corpus_pdf):
    """A refresh killed at its commit point leaves its batch's partitions
    under the uncommitted segment. A rerun with a DIFFERENT batch (the
    streaming wrapper's next micro-batch) writes other shards; on commit
    the segment must hold only the rerun's docs — committed doc_text rows
    == n_docs, and the doc ids are the build's plus the rerun's."""
    from pdfsearch_spark.index_build import table_dir

    side = REFRESH_INDEX_DIR + "_rerun"
    pages = corpus.web_pages_df(spark, N_DOCS, partitions=8)
    urls = corpus_pdf.sort_values("warc_ts")["url"].tolist()
    built, crashed, rerun = urls[:150], urls[150:240], urls[-2:]
    shutil.rmtree(side, ignore_errors=True)
    build_index(spark, pages.filter(F.col("url").isin(built)), side, n_shards=N_SHARDS)

    _crash_at_commit(refresh_index, spark, pages.filter(F.col("url").isin(crashed)), side)
    res = refresh_index(
        spark, pages.filter(F.col("url").isin(rerun)), side, use_watermark=False
    )
    assert res["appended_docs"] == 2
    st = _read_stats(spark, side)
    assert st["n_docs"] == 152 and st["n_segments"] == 2
    committed = (
        spark.read.parquet(table_dir(side, "doc_text"))
        .filter(F.col("segment") < st["n_segments"])
        .select("doc_id")
        .collect()
    )
    assert len(committed) == st["n_docs"]
    expected = {
        r["doc_id"]
        for r in spark.read.parquet(table_dir(side, "doc_text"))
        .filter(F.col("segment") == 0)
        .select("doc_id")
        .collect()
    } | {fnv1_64_signed(u) for u in rerun}
    assert {r["doc_id"] for r in committed} == expected
    postings = spark.read.parquet(table_dir(side, "postings")).filter(F.col("segment") == 1)
    assert postings.agg(F.max("df")).collect()[0][0] <= 2
    shutil.rmtree(side, ignore_errors=True)


def test_format_mismatch_is_refused_before_any_write(spark, refreshed):
    """An index in another on-disk format is refused by every entry point —
    compaction included, which must not restamp it as the current format:
    the commit is unchanged and no next-epoch table appears. Both older
    kinds of index are planted: a format-6 commit file, and an index of
    format <= 6, whose commit point was a parquet ``stats`` table."""
    import json

    from pdfsearch_spark.index_build import STATS_FILE, table_dir

    side = REFRESH_INDEX_DIR + "_fmt"
    shutil.rmtree(side, ignore_errors=True)
    shutil.copytree(REFRESH_INDEX_DIR, side)
    commit = os.path.join(side, STATS_FILE)
    with open(commit) as f:
        rec = json.load(f)
    with open(commit, "w") as f:
        json.dump(dict(rec, format=6), f)
    with open(commit, "rb") as f:
        planted = f.read()

    def refused():
        with pytest.raises(ValueError, match="format"):
            compact_index(spark, side)
        with pytest.raises(ValueError, match="format"):
            refresh_index(spark, corpus.web_pages_df(spark, N_DOCS, partitions=8), side)
        with pytest.raises(ValueError, match="format"):
            SearchEngine(spark, side)
        for tbl in ("postings", "doc_text"):
            assert not os.path.exists(table_dir(side, tbl, 1)), tbl

    refused()
    with open(commit, "rb") as f:
        assert f.read() == planted

    os.remove(commit)
    stats_dir = os.path.join(side, "stats")
    spark.createDataFrame(
        [(rec["n_docs"], rec["avgdl"], rec["total_tokens"], rec["n_shards"],
          rec["n_segments"], 6, None, rec["epoch"])],
        "n_docs long, avgdl double, total_tokens long, n_shards int, "
        "n_segments int, format int, watermark timestamp, epoch int",
    ).write.parquet(stats_dir)
    planted = spark.read.parquet(stats_dir).collect()
    refused()
    assert spark.read.parquet(stats_dir).collect() == planted
    assert not os.path.exists(commit)
    shutil.rmtree(side, ignore_errors=True)


def test_compaction_preserves_results(spark, oracle, refreshed, index_dir):
    from pdfsearch_spark.index_build import DOC_STORE_SCHEMA, POSTING_SCHEMA, table_dir

    res = compact_index(spark, REFRESH_INDEX_DIR)
    assert res["compacted"] is True
    st = _stats(spark)
    assert st["n_segments"] == 1
    assert st["op"] == "compact"
    assert set(res["phase_sec"]) == set(st["phase_sec"]) | {"commit", "gc"}
    assert st["n_docs"] == N_DOCS
    # the rewrite must demonstrably shrink the index: one segment and fewer
    # data files than the segmented layout it replaced
    assert res["segments_before"] == 2 and res["segments_after"] == 1
    assert res["postings_files_after"] < res["postings_files_before"]
    segs = (
        spark.read.parquet(table_dir(REFRESH_INDEX_DIR, "postings", res["epoch"]))
        .select("segment")
        .distinct()
        .collect()
    )
    assert [r["segment"] for r in segs] == [0]
    _assert_oracle_identical(spark, oracle, SHAPES)

    # compaction is a rebuild from doc_text: the compacted index equals a
    # fresh build of the same pages (the session index), posting bytes per
    # (shard, term) included
    def rows(index, tbl, epoch, schema, key):
        return (
            spark.read.parquet(table_dir(index, tbl, epoch))
            .select(*[f.name for f in schema.fields])
            .orderBy(*key)
            .collect()
        )

    for tbl, schema, key in (
        ("postings", POSTING_SCHEMA, ("shard", "term")),
        ("doc_text", DOC_STORE_SCHEMA, ("doc_id",)),
    ):
        compacted = rows(REFRESH_INDEX_DIR, tbl, res["epoch"], schema, key)
        fresh = rows(index_dir, tbl, 0, schema, key)
        assert len(compacted) == len(fresh) > 0, tbl
        for a, b in zip(compacted, fresh):
            assert a == b, (tbl, [a[c] for c in key])
    fresh_st = _read_stats(spark, index_dir)
    for c in ("n_docs", "avgdl", "total_tokens", "n_shards", "n_segments"):
        assert st[c] == fresh_st[c], c
