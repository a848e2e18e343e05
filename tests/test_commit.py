"""The commit file (``index_build.STATS_FILE``): exact round-trips, readers
that race commits, and a commit killed between its temp write and its
rename.

A commit writes the whole record under a temp name and renames it over the
old one, so a reader finds either the old record or the new one, complete,
and never a missing commit point.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import threading

import pytest

from pdfsearch_spark import index_build
from pdfsearch_spark.index_build import STATS_FILE, _read_stats, _write_stats
from pdfsearch_spark.search import SearchEngine

KEYS = ("n_docs", "avgdl", "total_tokens", "n_shards", "n_segments", "watermark", "epoch")


@pytest.fixture
def index_copy(spark, index_dir, tmp_path):
    d = str(tmp_path / "idx")
    shutil.copytree(index_dir, d)
    return d


def _commit(spark, d, st, **over):
    rec = dict({k: st[k] for k in KEYS}, **over)
    _write_stats(
        spark, d, rec["n_docs"], rec["avgdl"], rec["total_tokens"], rec["n_shards"],
        rec["n_segments"], rec["watermark"], epoch=rec["epoch"], op="build",
        phase_sec={},
    )


def test_commit_round_trips_exactly(spark, index_copy):
    """avgdl, a microsecond watermark and a None watermark come back exactly,
    and the watermark as the datetime a parquet timestamp collects to."""
    st = _read_stats(spark, index_copy)
    wm = dt.datetime(2024, 3, 9, 17, 45, 1, 123456)
    for avgdl, watermark in ((0.1 + 0.2, wm), (1 / 3, None), (st["avgdl"], st["watermark"])):
        _commit(spark, index_copy, st, avgdl=avgdl, watermark=watermark)
        got = _read_stats(spark, index_copy)
        assert got["avgdl"] == avgdl and type(got["avgdl"]) is float
        assert got["watermark"] == watermark
        collected = spark.createDataFrame([(watermark,)], "w timestamp").collect()[0][0]
        assert got["watermark"] == collected
        assert type(got["watermark"]) is type(collected)
    for k in ("n_docs", "total_tokens", "n_shards", "n_segments", "epoch", "format"):
        assert type(got[k]) is int, k
    assert not os.path.exists(os.path.join(index_copy, f".{STATS_FILE}.crc"))


def test_readers_see_only_complete_commits(spark, index_copy):
    """Reader threads read the commit and open an engine in a loop while
    the main thread commits at least 60 times, alternating two records: every read
    is one of the two, whole, and none fails."""
    st = _read_stats(spark, index_copy)
    old = tuple(st[k] for k in KEYS)
    new = (st["n_docs"] + 7, st["avgdl"] / 3, st["total_tokens"] + 11) + old[3:]
    seen, opened, errors, done = [], [], [], threading.Event()

    def reader():
        while not done.is_set():
            try:
                got = _read_stats(spark, index_copy)
                seen.append(tuple(got[k] for k in KEYS))
                eng = SearchEngine(spark, index_copy)
                opened.append((eng.n_docs, eng.avgdl))
            except Exception as e:  # noqa: BLE001 — every failure counts
                errors.append(repr(e))

    readers = [threading.Thread(target=reader) for _ in range(5)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    for t in readers:
        t.start()
    try:
        # at least 60 commits, and on until the readers opened 20 engines
        for i in range(2000):
            if i >= 60 and i % 2 == 0 and len(opened) >= 20:
                break
            rec = new if i % 2 == 0 else old
            _commit(spark, index_copy, st, **dict(zip(KEYS, rec)))
    finally:
        done.set()
        for t in readers:
            t.join(timeout=120)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in readers)
    assert errors == []
    assert seen and opened
    assert set(seen) <= {old, new}
    assert set(opened) <= {old[:2], new[:2]}
    assert tuple(_read_stats(spark, index_copy)[k] for k in KEYS) == old


def test_commit_killed_before_rename_keeps_old_snapshot(spark, index_copy, monkeypatch):
    """A commit killed after its temp file is written and before the rename
    leaves the old commit readable and the snapshot searchable; the next
    commit replaces the leftover temp file and succeeds."""
    st = _read_stats(spark, index_copy)
    before = SearchEngine(spark, index_copy).search("renal", k=10, with_snippets=False).collect()

    def _killed(*a, **k):
        raise RuntimeError("simulated crash before the rename")

    monkeypatch.setattr(index_build, "_replace", _killed)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _commit(spark, index_copy, st, n_docs=st["n_docs"] + 1)
    assert os.path.exists(os.path.join(index_copy, STATS_FILE + ".tmp"))
    assert _read_stats(spark, index_copy) == st
    eng = SearchEngine(spark, index_copy)
    assert eng.n_docs == st["n_docs"]
    assert eng.search("renal", k=10, with_snippets=False).collect() == before

    monkeypatch.undo()
    _commit(spark, index_copy, st, n_docs=st["n_docs"] + 2)
    assert _read_stats(spark, index_copy)["n_docs"] == st["n_docs"] + 2
    assert not os.path.exists(os.path.join(index_copy, STATS_FILE + ".tmp"))


def test_replace_falls_back_to_filecontext(spark, tmp_path):
    """A file system whose rename refuses an existing target (HDFS) gets
    FileContext's OVERWRITE rename."""

    class _NoOverwrite:
        def rename(self, src, dst):
            return False

    src, dst = tmp_path / "new", tmp_path / "old"
    src.write_text("new")
    dst.write_text("old")
    _, hsrc = index_build._fs(spark, str(src))
    _, hdst = index_build._fs(spark, str(dst))
    index_build._replace(spark, _NoOverwrite(), hsrc, hdst)
    assert dst.read_text() == "new" and not src.exists()


def test_missing_commit_is_not_an_index(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        _read_stats(spark, str(tmp_path))


def test_build_records_its_operation(spark, index_dir):
    st = _read_stats(spark, index_dir)
    assert st["op"] == "build"
    assert set(st["phase_sec"]) == {"extract_and_doc_text_write", "postings_encode_write"}
