"""Skew evidence: Zipf-head terms must NOT skew shard sizes.

north_rule "skew-aware splitting of head terms": we shard by doc id, so every
term's postings — including the corpus's engineered high-df head term
(corpus.py vocab[0], present in ~every doc) — split evenly across all shards
by construction. The _build_state manifest records per-shard posting counts
and bytes; assert the spread is tight.
"""

from __future__ import annotations

from pdfsearch_spark.index_build import _read_stats


def test_postings_spread_is_tight(spark, index_dir):
    rows = (
        spark.read.parquet(index_dir + "/_build_state")
        .select("shard", "n_postings", "postings_bytes")
        .collect()
    )
    counts = [r["n_postings"] for r in rows]
    assert len(counts) >= 4 and min(counts) > 0
    assert max(counts) <= 2.0 * (sum(counts) / len(counts)), counts


def test_head_term_splits_across_all_shards(spark, index_dir):
    from pdfsearch_spark import corpus

    head = corpus._vocab_and_zipf()[0][0]
    from pdfsearch_spark.analyzer import tokenize

    stem = tokenize(head)[0]
    post = (
        spark.read.parquet(index_dir + "/postings")
        .filter(f"term = '{stem}'")
        .select("shard", "df")
        .collect()
    )
    n_shards = _read_stats(spark, index_dir)["n_shards"]
    assert len(post) == n_shards  # one slice of the head term in EVERY shard
    dfs = [r["df"] for r in post]
    assert max(dfs) <= 3.0 * (sum(dfs) / len(dfs)), dfs


def test_reader_refuses_wrong_format(spark, tmp_path):
    """A reader refuses a commit file of another format, and an index of
    format <= 6, whose commit point was a parquet ``stats`` table."""
    import json
    import os

    import pytest

    from pdfsearch_spark.index_build import STATS_FILE
    from pdfsearch_spark.search import SearchEngine

    commit = tmp_path / STATS_FILE
    commit.write_text(json.dumps(
        {"n_docs": 100, "avgdl": 50.0, "total_tokens": 5000, "n_shards": 8,
         "n_segments": 1, "format": 6, "watermark": None, "epoch": 0}
    ))
    with pytest.raises(ValueError, match="format"):
        SearchEngine(spark, str(tmp_path))
    os.remove(commit)

    spark.createDataFrame(
        [(100, 50.0, 5000, 8, 1, 1, None)],
        schema=(
            "n_docs long, avgdl double, total_tokens long, n_shards int, "
            "n_segments int, format int, watermark timestamp"
        ),
    ).write.mode("overwrite").parquet(str(tmp_path / "stats"))
    with pytest.raises(ValueError, match="format"):
        SearchEngine(spark, str(tmp_path))


def test_index_stats_consistent_with_term_stats(spark, index_dir):
    import os

    from pyspark.sql import functions as F

    from pdfsearch_spark.observe import index_stats

    st = index_stats(spark, index_dir).collect()
    assert st and all(r["n_terms"] > 0 for r in st)
    # totals must reconcile with the postings-derived global dictionary
    # (format 6: term_stats is a view over the postings metadata columns):
    # per-shard postings partition the (term, doc) pairs, so sums agree
    ts = (
        spark.read.parquet(os.path.join(index_dir, "postings"))
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .first()
    )
    assert sum(r["n_postings"] for r in st) == ts["df"]
    assert sum(r["n_tokens"] for r in st) == ts["cf"]
    # blob byte counts are positive wherever there are postings
    assert all(r["doc_bytes"] > 0 and r["tf_bytes"] > 0 for r in st)


def test_hash_inverse_matches_spark_and_places_exactly(spark):
    """cluster_by_shard's placement relies on a driver-side reimplementation
    of Spark's int32 Murmur3 (F.hash): pin the two against each other, and
    prove the exact shard -> partition placement (one shard per partition,
    no empties) that defeats hash-collision stragglers in the encode stage."""
    from pyspark.sql import functions as F

    from pdfsearch_spark.index_build import (
        _mmh3_int,
        cluster_by_shard,
        shard_pkeys,
    )

    vals = list(range(300)) + [2**31 - 1, -1, -2**31]
    got = {
        r["k"]: r["h"]
        for r in spark.createDataFrame([(v,) for v in vals], "k int")
        .select("k", F.hash("k").alias("h"))
        .collect()
    }
    assert all(got[v] == _mmh3_int(v) for v in vals)

    n = 16
    pk = shard_pkeys(n)
    assert sorted(_mmh3_int(k) % n for k in pk) == list(range(n))

    df = spark.range(800).select(
        (F.col("id") % n).cast("int").alias("shard"), F.col("id")
    )
    parts = (
        cluster_by_shard(df, n)
        .withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .agg(F.collect_set("shard").alias("shards"))
        .collect()
    )
    assert len(parts) == n  # no empty partitions
    assert all(len(r["shards"]) == 1 for r in parts)  # one shard each
