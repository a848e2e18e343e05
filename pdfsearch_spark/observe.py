"""Index observability: relational reports over the on-disk index layout.

The reference surfaces no index introspection (its index is an opaque
SQLite file); at cluster scale the first question an operator asks is
"are my shards balanced and how big is each segment?" — answered here
straight off the postings parquet, no engine startup, blobs never decoded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Per-(segment, shard) postings profile:
    (segment, shard, n_terms, n_postings, n_tokens, doc_bytes, tf_bytes,
    pos_bytes) — dictionary size, posting/occurrence counts, and encoded
    blob bytes per compression stream.

    This is the shard-balance / segment-growth report: doc-sharded postings
    (index_build's layout) should show near-uniform rows here; a hot shard
    means the doc-hash is skewed and query fan-out is unbalanced. One
    partial-agged aggregation over a scan that prunes to the stats columns
    (the blobs contribute only their lengths, via parquet column reads —
    nothing is decoded). Only committed segments are reported: a crashed
    refresh's uncommitted ``segment=n_segments`` is on disk but not in the
    index, the same rule ``SearchEngine`` reads by."""
    from .index_build import POSTING_SCHEMA, _read_stats, table_dir

    st = _read_stats(spark, index_dir)
    p = spark.read.schema(POSTING_SCHEMA).parquet(
        table_dir(index_dir, "postings", int(st["epoch"]))
    )
    p = p.filter(F.col("segment") < int(st["n_segments"]))
    return p.groupBy("segment", "shard").agg(
        F.count("*").alias("n_terms"),
        F.sum("df").alias("n_postings"),
        F.sum("cf").alias("n_tokens"),
        F.sum(F.octet_length("doc_blob")).alias("doc_bytes"),
        F.sum(F.octet_length("tf_blob")).alias("tf_bytes"),
        F.sum(F.octet_length("pos_blob")).alias("pos_bytes"),
    )
