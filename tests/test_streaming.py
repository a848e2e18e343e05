"""Structured Streaming ingestion: micro-batches → segment appends.

Two parquet files delivered as two micro-batches (maxFilesPerTrigger=1,
availableNow drain) must yield the same index state as batch build+refresh:
every doc searchable, rank-identical to the FTS5 oracle, one segment per
batch after the seed build. Batches arrive in FILE order, not warc_ts order —
covered by refresh's use_watermark=False mode.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from conftest import N_DOCS, N_SHARDS
from pdfsearch_spark import corpus
from pdfsearch_spark.index_build import _read_stats, build_index
from pdfsearch_spark.search import SearchEngine
from pdfsearch_spark.streaming import stream_refresh

BASE = "/tmp/pdfsearch_spark_stream"


@pytest.fixture(scope="module")
def streamed(spark, corpus_pdf):
    shutil.rmtree(BASE, ignore_errors=True)
    pages = corpus.web_pages_df(spark, N_DOCS, partitions=8)
    ts = sorted(corpus_pdf["warc_ts"])
    c1, c2 = ts[N_DOCS // 3], ts[2 * N_DOCS // 3]

    # seed index from the oldest third
    build_index(
        spark, pages.filter(F.col("warc_ts") <= F.lit(c1)), BASE + "/index",
        n_shards=N_SHARDS,
    )
    # land the NEWEST third first, then the middle third — out of ts order
    pages.filter(F.col("warc_ts") > F.lit(c2)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(BASE + "/incoming/f1")
    pages.filter(
        (F.col("warc_ts") > F.lit(c1)) & (F.col("warc_ts") <= F.lit(c2))
    ).coalesce(1).write.mode("overwrite").parquet(BASE + "/incoming/f2")

    batches = []
    q = stream_refresh(
        spark,
        BASE + "/incoming/*",
        BASE + "/index",
        checkpoint_dir=BASE + "/ckpt",
        available_now=True,
        max_files_per_trigger=1,
        on_batch=lambda epoch, m: batches.append(m),
    )
    q.awaitTermination(300)
    return batches


def test_stream_appended_all_docs(spark, streamed):
    st = _read_stats(spark, BASE + "/index")
    assert st["n_docs"] == N_DOCS
    appended = sum(b["appended_docs"] for b in streamed)
    assert appended == N_DOCS - spark.read.parquet(
        BASE + "/index/doc_text"
    ).filter(F.col("segment") == 0).count()
    assert st["n_segments"] >= 3  # seed + one per non-empty micro-batch


def test_stream_rank_identical(spark, oracle, streamed):
    eng = SearchEngine(spark, BASE + "/index")
    for q in ["hypertension", "renal failure", '"renal failure"', "data*"]:
        o = sorted((r.doc_id, r.score) for r in oracle.search(q, k=50))
        rows = eng.search(q, k=50, with_snippets=False).select("doc_id", "score").collect()
        e = sorted((r["doc_id"], r["score"]) for r in rows)
        assert len(o) == len(e), f"q={q!r}: {len(o)} vs {len(e)}"
        for (od, osc), (ed, esc) in zip(o, e):
            assert od == ed and abs(osc - esc) < 1e-9, f"q={q!r}"


def test_stream_restart_is_noop(spark, streamed):
    """Re-starting the drained stream delivers no new batches → no segments."""
    before = _read_stats(spark, BASE + "/index")["n_segments"]
    q = stream_refresh(
        spark,
        BASE + "/incoming/*",
        BASE + "/index",
        checkpoint_dir=BASE + "/ckpt",
        available_now=True,
    )
    q.awaitTermination(120)
    after = _read_stats(spark, BASE + "/index")["n_segments"]
    assert after == before


# ---------------------------------------------------- stateful dedup stream

DEDUP_BASE = "/tmp/pdfsearch_spark_stream_dedup"


def _pages_rows(spec):
    """spec: list of (url, ts_offset_sec, text)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    return [
        (url, t0 + dt.timedelta(seconds=off), text.encode(), text, "en")
        for url, off, text in spec
    ]


def _write_batch(spark, path, spec):
    spark.createDataFrame(
        _pages_rows(spec),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def _run_dedup_stream(spark):
    from pdfsearch_spark.streaming import stream_exact_dedup

    q = stream_exact_dedup(
        spark,
        DEDUP_BASE + "/incoming/*",
        DEDUP_BASE + "/out",
        checkpoint_dir=DEDUP_BASE + "/ckpt",
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)


def test_stream_exact_dedup_within_and_across_batches(spark):
    """T1 duplicated inside batch 1 (canonical = min url) and again in batch
    2 (dropped via state); T2/T3 each kept once."""
    shutil.rmtree(DEDUP_BASE, ignore_errors=True)
    _write_batch(
        spark,
        DEDUP_BASE + "/incoming/f1",
        [("u/b", 1, "body one"), ("u/a", 2, "body one"), ("u/c", 3, "body two")],
    )
    _write_batch(
        spark,
        DEDUP_BASE + "/incoming/f2",
        [("u/d", 4, "body one"), ("u/e", 5, "body three")],
    )
    _run_dedup_stream(spark)
    out = {
        r["url"]: r["text"]
        for r in spark.read.parquet(DEDUP_BASE + "/out").collect()
    }
    assert out == {"u/a": "body one", "u/c": "body two", "u/e": "body three"}


def test_stream_exact_dedup_state_survives_restart(spark):
    """A later run over the same checkpoint still drops bodies emitted by the
    earlier run (state store persistence), keeps genuinely new ones."""
    _write_batch(
        spark,
        DEDUP_BASE + "/incoming/f3",
        [("u/f", 6, "body two"), ("u/g", 7, "body four")],
    )
    _run_dedup_stream(spark)
    out = sorted(
        (r["url"], r["text"])
        for r in spark.read.parquet(DEDUP_BASE + "/out").collect()
    )
    assert out == [
        ("u/a", "body one"),
        ("u/c", "body two"),
        ("u/e", "body three"),
        ("u/g", "body four"),
    ]


# ---- event-time windowed stats: watermark + late-data drop ----

STATS_BASE = "/tmp/pdfsearch_spark_stream_stats"


@pytest.fixture(scope="module")
def stats_result(spark):
    """Four micro-batches probing the watermark contract end-to-end:
    f1 = on-time hours [0,2); f2 = jump to hours [4,7) (event-time max ->
    6.96h, so the NEXT batch runs with watermark 5.96h and evicts hours
    0,1,4); f3 = on-time tail hours [7,7.6) (its batch performs that
    eviction); f4 = hours [2,4) arriving LAST — later than the watermark,
    after any chance of eviction-merge, so every row must be dropped.
    1h tumbling windows, 1h delay. warc_ts = epoch + 137 s * i
    (corpus.gen_row), so doc i sits in hour i*137/3600."""
    from pdfsearch_spark.streaming import stream_ingest_stats

    shutil.rmtree(STATS_BASE, ignore_errors=True)
    pages = corpus.web_pages_df(spark, 200, partitions=4)
    secs = "unix_timestamp(warc_ts) - unix_timestamp(timestamp'2024-01-01 00:00:00')"
    f1 = pages.filter(F.expr(f"{secs} < {2 * 3600}"))
    f2 = pages.filter(F.expr(f"{secs} >= {4 * 3600} AND {secs} < {7 * 3600}"))
    f3 = pages.filter(F.expr(f"{secs} >= {7 * 3600}"))
    f4 = pages.filter(F.expr(f"{secs} >= {2 * 3600} AND {secs} < {4 * 3600}"))
    # the late filter runs AFTER map-side partial aggregation, so the dropped
    # metric counts (window, lang) partial rows, not raw input rows
    n_late_groups = (
        f4.select(F.window("warc_ts", "1 hour").alias("w"), "lang")
        .distinct()
        .count()
    )
    for name, part in [("f1", f1), ("f2", f2), ("f3", f3), ("f4", f4)]:
        part.coalesce(1).write.mode("overwrite").parquet(
            f"{STATS_BASE}/incoming/{name}"
        )
    q = stream_ingest_stats(
        spark,
        STATS_BASE + "/incoming/*",
        STATS_BASE + "/result",
        STATS_BASE + "/ckpt",
        window_duration="1 hour",
        watermark_delay="1 hour",
        available_now=True,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        if p["stateOperators"]
    )
    out = spark.read.parquet(STATS_BASE + "/result")
    return {
        "ontime": f1.union(f2).union(f3),
        "out": out,
        "dropped": dropped,
        "n_late_groups": n_late_groups,
    }


def _hour_of(ts) -> int:
    return (int(ts.timestamp()) - 1704067200) // 3600


def test_windowed_stats_emits_only_finalized_windows(spark, stats_result):
    hours = sorted(
        _hour_of(r["window_start"])
        for r in stats_result["out"].select("window_start").distinct().collect()
    )
    # 0,1 from f1 and 4 (evicted at watermark 5.96h during f3's batch) plus
    # 5 (evicted at 6.57h during f4's batch); 2,3 NEVER appear (their only
    # rows arrived after the watermark passed: dropped, not merged, not
    # emitted as late corrections); 6,7 not finalized when the drain ended
    assert hours == [0, 1, 4, 5]


def test_windowed_stats_drops_every_late_row(spark, stats_result):
    assert stats_result["n_late_groups"] > 0
    assert stats_result["dropped"] == stats_result["n_late_groups"]


def test_windowed_stats_counts_match_batch_recompute(spark, stats_result):
    """Each finalized (window, lang) row must equal a batch-mode recompute
    over the ON-TIME files only — exactly once, late rows contributing
    nothing. Batch mode reuses the same operator (watermark is a no-op on a
    batch frame), which is the backfill/replay use of the identical code."""
    from pdfsearch_spark.streaming import windowed_ingest_stats

    expected = {
        (r["window_start"], r["lang"]): (r["n_docs"], r["n_bytes"])
        for r in windowed_ingest_stats(
            stats_result["ontime"], "1 hour", "1 hour"
        ).collect()
        if _hour_of(r["window_start"]) in (0, 1, 4, 5)
    }
    got = {
        (r["window_start"], r["lang"]): (r["n_docs"], r["n_bytes"])
        for r in stats_result["out"].collect()
    }
    assert got == expected
    # urls are unique per row, so the HLL estimate tracks n_docs closely
    for r in stats_result["out"].collect():
        assert abs(r["approx_urls"] - r["n_docs"]) <= max(2, 0.1 * r["n_docs"])


def test_session_stats_batch_semantics(spark):
    """Gap rule pinned by hand: an event at EXACTLY the running session end
    (last + gap) still merges — Spark's boundary is inclusive — and the
    session end extends to the new last event + gap; the first event
    strictly past the end opens a new session."""
    from datetime import datetime

    from pdfsearch_spark.streaming import session_stats

    def at(minutes):
        return datetime(2024, 1, 1, minutes // 60, minutes % 60, 0)

    rows = [
        # user 1: 0, 30, 59 merge; 119 == 59+60 (exact boundary) merges;
        # 179 == 119+60 merges again; 240 > 179+60=239 -> NEW session
        (1, at(0), 1.0), (1, at(30), 2.0), (1, at(59), 3.0),
        (1, at(119), 4.0), (1, at(179), 5.0), (1, at(240), 6.0),
        # user 2: single event
        (2, at(10), 7.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = sorted(
        session_stats(df, gap="60 minutes").collect(),
        key=lambda r: (r["user_id"], r["session_start"]),
    )
    assert len(out) == 3
    s1, s2, s3 = out
    assert s1["user_id"] == 1 and s1["n_events"] == 5 and s1["sum_value"] == 15.0
    assert s1["session_start"] == at(0) and s1["session_end"] == at(179 + 60)
    assert s2["user_id"] == 1 and s2["n_events"] == 1
    assert s2["session_start"] == at(240) and s2["session_end"] == at(300)
    assert s3["user_id"] == 2 and s3["n_events"] == 1 and s3["sum_value"] == 7.0


SESS_BASE = "/tmp/pdfsearch_test_session_stream"


def test_session_stream_merges_across_batches(spark):
    """Pins the append-mode session contract on 4.1.2 (same one-batch-lag
    eviction-merge behavior as the windowed stats tests): an event later
    than the watermark still MERGES into its session if that session has
    not yet been evicted — eviction and the late arrival landing in the
    same batch means merge first, then emit — and only events whose session
    was evicted in a PRIOR batch are dropped."""
    from datetime import datetime

    from pdfsearch_spark.streaming import session_stats, stream_session_stats

    def at(h, m=0):
        return datetime(2024, 1, 1, h, m, 0)

    f1 = [(1, at(0, 0), 1.0), (1, at(0, 10), 2.0), (2, at(0, 5), 3.0)]
    # user 1 at 0:30 is within the 30m gap of 0:10 -> cross-batch merge;
    # user 9 at 10:00 advances event time so f3's batch runs with
    # watermark 10:00 - 1h = 9:00, which evicts the early sessions
    f2 = [(1, at(0, 30), 4.0), (9, at(10, 0), 5.0)]
    # f3's 0:40 row is hours late, but its session is evicted IN THIS SAME
    # batch -> merge-before-eviction: it joins the session and extends its
    # end to 1:10 before the merged session is emitted
    f3 = [(1, at(0, 40), 99.0), (9, at(11, 0), 6.0)]
    # f4's 0:50 row arrives a batch AFTER the eviction -> dropped
    f4 = [(1, at(0, 50), 77.0), (9, at(12, 0), 7.0)]
    shutil.rmtree(SESS_BASE, ignore_errors=True)
    import time

    for name, rows in [("f1", f1), ("f2", f2), ("f3", f3), ("f4", f4)]:
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{SESS_BASE}/incoming/{name}"
        )
        time.sleep(1.2)  # distinct modTimes -> one file per micro-batch
    q = stream_session_stats(
        spark,
        SESS_BASE + "/incoming/*",
        SESS_BASE + "/result",
        SESS_BASE + "/ckpt",
        gap="30 minutes",
        watermark_delay="1 hour",
        available_now=True,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        if p["stateOperators"]
    )
    out = sorted(
        spark.read.parquet(SESS_BASE + "/result").collect(),
        key=lambda r: (r["user_id"], r["session_start"]),
    )
    assert [(r["user_id"], r["n_events"]) for r in out] == [(1, 4), (2, 1), (9, 1)]
    s1 = out[0]
    assert s1["session_start"] == at(0, 0)    # merged across batches
    assert s1["session_end"] == at(1, 10)     # late 0:40 row merged pre-eviction
    assert s1["sum_value"] == 106.0           # ...and contributed
    assert out[2]["session_start"] == at(10, 0)  # user 9's first session
    assert dropped >= 1                       # f4's 0:50 row: post-eviction drop
    # emitted rows equal a batch replay over everything except the
    # post-eviction arrivals (f4)
    ontime = spark.createDataFrame(
        f1 + f2 + f3, "user_id long, ts timestamp, value double"
    )
    batch = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in session_stats(ontime, "30 minutes", "1 hour").collect()
    }
    for r in out:
        key = (r["user_id"], r["session_start"])
        assert batch[key] == (r["n_events"], r["sum_value"]), key
