"""Continuous index maintenance: Structured Streaming → segment appends.

The reference has no streaming surface (its build is a one-shot batch,
search/serializer.go:22-93; "refresh" is a rerun). At web scale, the natural
refresh model is a stream of crawled pages landing as files in a table
directory; this wrapper turns each micro-batch into one ``refresh_index``
segment append:

    readStream(pages dir) → foreachBatch(refresh_index) → index segments

Delivery semantics compose cleanly:

- the STREAM checkpoint guarantees each source file is delivered in exactly
  one micro-batch (replayed identically after a crash);
- ``refresh_index`` is idempotent per batch (dynamic partition overwrite of
  the segment's partitions, commit-file-last commit) — so a replayed batch rewrites
  the same segment rather than duplicating it;
- batches need not arrive in warc_ts order: the wrapper passes
  ``use_watermark=False`` so dedup rides the doc-id anti-join (the MERGE
  predicate) and the watermark only advances.

The per-micro-batch cost is one segment append (no existing postings are
rewritten); run ``compact_index`` periodically to fold accumulated segments.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..index_build import refresh_index

# input_hint table shape: Common-Crawl-style web pages
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def stream_refresh(
    spark: SparkSession,
    pages_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    on_batch=None,
):
    """Start a streaming query appending every micro-batch as an index segment.

    ``available_now=True`` (default) drains everything currently in
    ``pages_dir`` then stops — the incremental-batch "catch up" mode; pass
    False for a continuously running ingest. Returns the StreamingQuery
    (caller awaits/stops it). ``on_batch(epoch_id, metrics)`` is an optional
    observer for per-batch refresh metrics.
    """
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    stream = reader.parquet(pages_dir)

    def _batch(df, epoch_id: int) -> None:
        metrics = refresh_index(spark, df, index_dir, use_watermark=False)
        if on_batch is not None:
            on_batch(epoch_id, metrics)

    writer = stream.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
