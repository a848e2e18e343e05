"""The layout the exchange-free shard pass relies on
(search.SearchEngine._shard_pass): every committed (segment, shard)
postings partition is ONE parquet file, and the engine reads postings
through ``index_build.whole_file_session``, so each scan task holds whole
files — one task per file — whatever split size the caller's session
uses."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from pdfsearch_spark import corpus
from pdfsearch_spark.index_build import (
    _read_stats,
    build_index,
    compact_index,
    refresh_index,
    resume_build,
    table_dir,
    whole_file_session,
)
from pdfsearch_spark.search import SearchEngine

N = 120
SHARDS = 4


def _postings_files(spark, index_dir) -> dict[tuple[int, int], int]:
    """{(segment, shard): parquet files} over the committed snapshot."""
    st = _read_stats(spark, index_dir)
    root = table_dir(index_dir, "postings", int(st["epoch"]))
    out = {}
    for seg_dir in os.listdir(root):
        if not seg_dir.startswith("segment="):
            continue
        seg = int(seg_dir.split("=")[1])
        if seg >= int(st["n_segments"]):
            continue
        for shard_dir in os.listdir(os.path.join(root, seg_dir)):
            files = os.listdir(os.path.join(root, seg_dir, shard_dir))
            out[(seg, int(shard_dir.split("=")[1]))] = sum(
                f.endswith(".parquet") for f in files
            )
    return out


def _assert_one_file_each(spark, index_dir, segments: int, shards=range(SHARDS)):
    files = _postings_files(spark, index_dir)
    assert set(files) == {(g, s) for g in range(segments) for s in shards}, files
    assert set(files.values()) == {1}, files


def test_every_postings_partition_is_one_file(spark, tmp_path):
    d = str(tmp_path / "idx")
    cutoff = corpus.gen_pandas(N)["warc_ts"].quantile(0.5)
    pages = corpus.web_pages_df(spark, N, partitions=4)
    first = pages.filter(F.col("warc_ts") <= F.lit(cutoff))

    build_index(spark, first, d, n_shards=SHARDS, only_shards=[0, 2])
    _assert_one_file_each(spark, d, 1, shards=[0, 2])
    resume_build(spark, first, d, n_shards=SHARDS)
    _assert_one_file_each(spark, d, 1)
    assert refresh_index(spark, pages, d)["segment"] == 1
    _assert_one_file_each(spark, d, 2)
    compact_index(spark, d)
    assert _read_stats(spark, d)["epoch"] == 1
    _assert_one_file_each(spark, d, 1)
    shutil.rmtree(d, ignore_errors=True)


def test_engine_scan_ignores_the_callers_split_size(spark, engine, index_dir):
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        eng = SearchEngine(spark, index_dir)
        n_files = sum(_postings_files(spark, index_dir).values())
        assert eng._postings.rdd.getNumPartitions() == n_files
        # the caller's own read of the same files splits them
        own = spark.read.parquet(table_dir(index_dir, "postings", eng.epoch))
        assert own.rdd.getNumPartitions() > n_files
        # ... and the engine never set its session's conf
        assert spark.conf.get(key) == "4096"
        for q in ("hypertension", '"renal failure"', "NEAR(renal failure, 3)"):
            got = eng.search(q, k=20, with_snippets=False).collect()
            want = engine.search(q, k=20, with_snippets=False).collect()
            assert got == want, q
    finally:
        spark.conf.set(key, prev)


def test_whole_file_session_keeps_the_write_settings(spark):
    """The encode write runs in the scoped session: it must overwrite
    partitions dynamically (a resume or refresh replaces only its own
    (segment, shard) partitions) and compress like every other write."""
    scoped = whole_file_session(spark)
    for key in (
        "spark.sql.sources.partitionOverwriteMode",
        "spark.sql.parquet.compression.codec",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
    ):
        assert scoped.conf.get(key) == spark.conf.get(key), key
    assert scoped.conf.get("spark.sql.files.maxPartitionBytes") == str(1 << 38)
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") != str(1 << 38)
