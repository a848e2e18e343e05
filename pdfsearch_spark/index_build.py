"""Distributed inverted-index build (the explicit version of what FTS5 does
behind the reference DDL at /root/reference/database/database.go:59-66, built
the Spark-first way — SURVEY.md §3.A).

Layout (partitioned Parquet warehouse; Iceberg would use the same schema):

  <out>/doc_text/     segment / shard / full doc store: text + part + every
                      metadata column (snippet source; the build's later
                      stages are column-pruned reads of this table)
  <out>/postings/     segment / shard / term, df, cf, blobs + block metadata
  <out>/_stats.json   n_docs, avgdl, total_tokens, n_shards, n_segments,
                      format, watermark, epoch, op, phase_sec — the commit
                      point: one small JSON file, replaced by an atomic
                      rename and read without a Spark job
  <out>/_build_state/ per-shard manifest of committed shards: lineage +
                      build metrics

Two former physical tables are now DERIVED views (format 6), because on a
columnar store they were pure redundancy and each cost the build (and every
refresh) a fixed-tail Spark job that Amdahl-floored scaling efficiency
(BENCH/PAIRB_BREAKDOWN.md: the only phases below 0.8-of-kernel):

- ``documents`` (the narrow doc catalog) == a column-pruned read of
  ``doc_text``: parquet reads only the selected column chunks, so scanning
  doc_text for (doc_id, base_name, ...) does the exact I/O the separate
  table did, with the same (segment, shard) partition pruning — minus one
  write job per build/refresh and one rewrite per compaction.
- ``term_stats`` (term → global df/cf, for idf) == sum over the postings
  table's own (term, df, cf) metadata columns. Query-side df lookup is a
  column-pruned postings scan — only the term and df column chunks of the
  committed files are read, blobs never — summed driver-side over
  ≤ shards×terms rows. Terms are NOT sorted within a postings file (they
  come in the encoder's first-appearance order), so row-group min/max stats
  rarely prune that scan. No job writes the vocabulary, and a segment
  refresh no longer pays a full-vocabulary groupBy: refresh cost is
  O(batch), not O(vocab).

Postings are a pure function of ``doc_text``, and ONE function commits
every segment (``_commit_segment``): fresh build, resume, refresh and
compaction only select its input rows and clean up around it. It writes
the segment's doc_text (corpus totals observed on that write), encodes
each shard's postings with block bounds at that shard's own avgdl, commits
``_stats.json`` and only then writes the ``_build_state`` rows, so a
manifest row never names uncommitted work. Per-shard lineage (doc count,
doc-id fingerprint, token count) is measured by the encode pass that already reads every doc of its
shard — no Spark job of its own. Compaction is a one-segment rebuild from
the committed doc_text.

Scale design (the part that must survive 1000 executors × 100 TB):

- ``shard = top bits of (unsigned) doc_id`` — FNV-1 64 ids are uniform, so
  shards are balanced ranges. The posting build groups by ``shard``: unlike a
  groupBy(term) build, **Zipfian head terms cause no reducer skew** — every
  term's postings split evenly across all shards (this IS the north_rule's
  "skew-aware splitting of head terms", done by construction rather than by
  salting after the fact). Within a shard doc ids are a contiguous range, so
  delta gaps stay small.
- ONE exchange total, and it carries the raw pages clustered by shard;
  dedup + extraction run AFTER it in a single Arrow pass whose one consumer
  writes the doc_text store. Everything derived from tokens — per-doc tf
  aggregation, position streams, posting encode — happens map-side over
  column-pruned reads of that shard-clustered store
  (encode_docs_partitions): the per-term payload never crosses a shuffle or
  an Arrow boundary at all. Shuffle bytes per token: zero; shuffle bytes
  per document: its raw page, once.
- ``n_shards`` sizing rule: pick so one shard's posting rows ≈ 100-500 MB in
  flight (n_shards ≈ total_postings × 24 B / 250 MB); at sf0.1 bench scale 32
  matches local[32]; at 10^12 docs this is ~10^5 shards, which Spark handles
  as ordinary partitions.
- every stage is resumable: postings are written per-shard (partitionBy), the
  manifest records committed shards + input fingerprint, and resume_build
  re-runs only missing shards (SURVEY.md §7.6). A fresh in-place build
  removes the old manifest before it writes any data.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SHARD_DEFAULT = 32

# On-disk index format version (bumped on any postings/stats schema change);
# readers refuse a mismatched index instead of misreading it.
# 6: documents + term_stats are no longer materialized (derived from
#    doc_text / postings; see module docstring).
# 7: the commit point is the JSON file STATS_FILE, not a parquet ``stats``
#    table.
INDEX_FORMAT = 7
STATS_FILE = "_stats.json"


def table_dir(out_dir: str, tbl: str, epoch: int = 0) -> str:
    """Physical dir of a logical index table at a given epoch.

    Epoch 0 is the unversioned layout a fresh build writes (``<out>/<tbl>``);
    compaction commits each full-table rewrite as epoch N+1
    (``<out>/<tbl>.v<N+1>``) and flips the epoch recorded in the commit
    file (``STATS_FILE``) — a versioned-root commit that makes the swap
    crash-safe on plain parquet (the Iceberg-snapshot analog): readers
    resolve table paths through the commit file, so at every instant they
    see either the old complete epoch or the new complete epoch, never a
    half-swapped directory. Old epochs are GC'd only after the commit."""
    return os.path.join(out_dir, tbl if epoch == 0 else f"{tbl}.v{epoch}")

DOCROW_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("url", StringType()),
        StructField("host", StringType()),
        StructField("base_name", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("lang", StringType()),
        StructField("dl", IntegerType()),
        StructField("shard", IntegerType()),
        StructField("part", IntegerType()),
        StructField("text", StringType()),
    ]
)

# doc_text on disk = DOCROW + the segment partition column. Passed explicitly
# to every read-back of the store: schema inference would otherwise add a
# footer-probe job per read.
DOC_STORE_SCHEMA = StructType(
    list(DOCROW_SCHEMA.fields) + [StructField("segment", IntegerType())]
)

POSTING_SCHEMA = StructType(
    [
        StructField("segment", IntegerType()),
        StructField("shard", IntegerType()),
        StructField("term", StringType()),
        StructField("df", LongType()),
        StructField("cf", LongType()),
        StructField("dl_blob", BinaryType()),
        StructField("doc_blob", BinaryType()),
        StructField("tf_blob", BinaryType()),
        StructField("pos_blob", BinaryType()),
        StructField("first_docs", ArrayType(LongType())),
        StructField("last_docs", ArrayType(LongType())),
        StructField("doc_offs", ArrayType(LongType())),
        StructField("tf_offs", ArrayType(LongType())),
        StructField("pos_offs", ArrayType(LongType())),
        StructField("dl_offs", ArrayType(LongType())),
        StructField("block_lens", ArrayType(IntegerType())),
        StructField("max_impacts", ArrayType(FloatType())),
        # the avgdl block max_impacts were computed at: the mean doc length
        # of the row's own (segment, shard), so a shard's postings depend on
        # its docs alone. No query reads it: only perfbench's block-max
        # WAND probe (scorer.wand_shard_topk) rescales each bound by
        # max(1, corpus avgdl / enc_avgdl); a bound computed at a larger
        # avgdl is already an upper bound.
        StructField("enc_avgdl", DoubleType()),
    ]
)


def _mmh3_int(x: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashInt (= ``F.hash`` over one int32 column),
    reimplemented so the driver can INVERT the engine's hash partitioner
    (pinned against F.hash by tests/test_shard_balance.py)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = x & 0xFFFFFFFF
    k = (k * c1) & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = (k * c2) & 0xFFFFFFFF
    h = seed ^ k
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # fmix: length in bytes of one int
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


_PKEY_CACHE: dict[int, list[int]] = {}


def shard_pkeys(n_parts: int) -> list[int]:
    """pkeys[r] = smallest k >= 0 with pmod(F.hash(k), n_parts) == r.

    Lets ``repartition(n_parts, pkey)`` place shard s in partition s
    EXACTLY, instead of pmod(hash(s), n) which collides: with S shards
    into S partitions, hashing leaves ~S/e partitions empty and piles
    2-4 shards on others — at high parallelism the build's encode stage
    then runs few waves of unbalanced tasks and the stragglers set the
    wall (measured: 2x phase wall at 32 threads). Driver-side cost is a
    one-off ~n·ln n hash probe, cached per n_parts."""
    pk = _PKEY_CACHE.get(n_parts)
    if pk is None:
        pk = [-1] * n_parts
        found, k = 0, 0
        while found < n_parts:
            r = _mmh3_int(k) % n_parts
            if pk[r] < 0:
                pk[r] = k
                found += 1
            k += 1
        _PKEY_CACHE[n_parts] = pk
    return pk


def cluster_by_shard(df: DataFrame, n_shards: int) -> DataFrame:
    """Exchange into ``n_shards`` partitions that places shard s in
    partition s exactly (see shard_pkeys)."""
    lut = F.array(*[F.lit(k) for k in shard_pkeys(n_shards)])
    return (
        df.withColumn("_pkey", F.element_at(lut, F.col("shard") + 1).cast("int"))
        .repartition(n_shards, F.col("_pkey"))
        .drop("_pkey")
    )


# Build-input contract (input_hint): the columns the extractor consumes.
# Extra input columns (e.g. a pre-extracted cross-check ``text``) are
# pruned BEFORE the build's one full-payload exchange — they would
# otherwise ride the shuffle and every Arrow crossing for nothing.
PAGE_COLUMNS = ["url", "warc_ts", "html", "lang"]


def whole_file_session(spark: SparkSession) -> SparkSession:
    """A session on ``spark``'s SparkContext whose file scans read whole
    parquet files, ONE file per task.

    Readers that rely on partition == file read through it: the encode
    stage (partition == shard, so one posting row per (segment, shard,
    term)) and the query engine's exchange-free shard pass (each task holds
    whole (segment, shard) posting files). Spark's default bin-packing
    would coalesce many small files into one task (fine) but can also SPLIT
    a file across tasks at row-group boundaries (not fine). Setting
    openCostInBytes == maxPartitionBytes makes every file overflow a bin by
    itself: exactly one file per task, at any file size — the same knob a
    cluster deployment sets for this read. n_shards stays the contract that
    bounds one shard's rows to one task's memory.

    ``newSession()`` gives the scoped session its own SQLConf, seeded from
    the SparkContext's conf (where ``session.get_spark`` puts every
    setting), so the two keys are set once and never touch ``spark``'s own
    conf: a caller's reads and another thread's queries keep their split
    sizes."""
    scoped = spark.newSession()
    big = str(1 << 38)  # 256 GiB: above any shard file; never splits
    scoped.conf.set("spark.sql.files.maxPartitionBytes", big)
    scoped.conf.set("spark.sql.files.openCostInBytes", big)
    return scoped


def shard_of(doc_id: int, n_shards: int) -> int:
    """Top-bits range shard of a signed 64-bit doc id (uniform for FNV ids)."""
    u = (doc_id + (1 << 64)) % (1 << 64)
    return int((u * n_shards) >> 64)


def shard_of_array(doc_ids: np.ndarray, n_shards: int) -> np.ndarray:
    u = doc_ids.astype(np.uint64)
    # (u * n) >> 64 without 128-bit ints: use float is lossy; do it in two
    # 32-bit halves: (hi*n + ((lo*n) >> 32)) >> 32
    hi = (u >> np.uint64(32)).astype(np.uint64)
    lo = (u & np.uint64(0xFFFFFFFF)).astype(np.uint64)
    n = np.uint64(n_shards)
    return ((hi * n + ((lo * n) >> np.uint64(32))) >> np.uint64(32)).astype(np.int32)


def ids_and_shards(pages: DataFrame, n_shards: int) -> DataFrame:
    """Adds (doc_id, shard) from ``url`` via a scalar pandas UDF whose Arrow
    boundary carries ONLY the url column (≈60 B/row) and a 12 B/row struct
    back — the html payload never crosses into Python here. This keeps the
    pre-shuffle side of the build effectively JVM-only, so the one
    text-moving exchange can start streaming while extraction (the heavy
    Python stage) runs AFTER the shuffle, fused with dedup
    (extract_documents_sharded): two fewer full-text Arrow crossings per
    row than the former extract → shuffle → dedup pipeline."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("doc_id long, shard int")
    def _ids(urls: pd.Series) -> pd.DataFrame:
        from .fnv import fnv1_64_signed

        doc_ids = np.fromiter(
            (fnv1_64_signed(u) for u in urls), dtype=np.int64, count=len(urls)
        )
        return pd.DataFrame(
            {"doc_id": doc_ids, "shard": shard_of_array(doc_ids, n_shards)}
        )

    cols = pages.columns
    return (
        pages.withColumn("_ids", _ids(F.col("url")))
        .select(*cols, F.col("_ids.doc_id"), F.col("_ids.shard"))
    )


def _extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """(url, warc_ts, html, lang, doc_id, shard) batch → DOCROW batch:
    html → byte-identical text (the input_hint per-url contract), doc
    lengths, display fields. Prefers extracting from ``html``; the nullable
    pre-extracted ``text`` column is a cross-check only (FIXTURES.md §1)."""
    from .analyzer import token_count
    from .extract import extract_text

    texts = [extract_text(h) for h in pdf["html"]]
    urls = pdf["url"].tolist()
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].to_numpy(np.int64),
            "url": urls,
            "host": [u.split("/")[2] if "://" in u else "" for u in urls],
            "base_name": [u.rsplit("/", 1)[-1] for u in urls],
            "warc_ts": pdf["warc_ts"],
            "lang": pdf["lang"],
            "dl": [token_count(t) for t in texts],
            "shard": pdf["shard"].to_numpy(np.int32),
            "part": 0,
            "text": texts,
        }
    )


def extract_documents_sharded(pages_with_ids: DataFrame) -> DataFrame:
    """ONE Arrow pass over shard-clustered raw pages: partition-local dedup
    by doc_id, THEN extraction — duplicates are never extracted, and the
    former separate dedup round-trip of full text rows is gone.

    Valid only AFTER a hash repartition on ``shard`` (any partition count:
    equal shard values co-locate): doc_id → shard is a pure function, so
    every duplicate is in the same partition and a per-partition seen-set
    gives global dedup without a by-doc_id shuffle. The seen-set is O(docs
    per partition) ints. Which copy of a duplicated url survives is
    arbitrary, matching the reference's INSERT .. DO NOTHING semantics
    (database/database.go:152-176)."""

    def fn(it):
        seen: set[int] = set()
        for pdf in it:
            m = (~pdf["doc_id"].duplicated()) & (~pdf["doc_id"].isin(seen))
            out = pdf[m]
            if len(out) == 0:
                continue
            seen.update(out["doc_id"].tolist())
            yield _extract_batch(out)

    return pages_with_ids.mapInPandas(fn, schema=DOCROW_SCHEMA)


class _ShardMetricsParam(AccumulatorParam):
    """Merges per-shard encode records ``{shard: [sec, n_postings, n_terms,
    postings_bytes, positions_bytes, n_docs, n_tokens, docs_fingerprint]}``:
    every field sums except the fingerprint (last), which XORs, so the
    records of a shard read by several tasks merge to the shard's lineage."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            if k in a:
                x = a[k]
                a[k] = [p + q for p, q in zip(x[:-1], v[:-1])] + [x[-1] ^ v[-1]]
            else:
                a[k] = list(v)
        return a


def encode_docs_partitions(metrics_acc=None, segment: int = 0):
    """mapInPandas body over SHARD-CLUSTERED doc partitions: tokenize →
    aggregate → encode in ONE Python pass per shard.

    Because ``docs`` is already hash-partitioned by ``shard`` (the build's
    single text-moving exchange), the per-doc term payload never crosses a
    shuffle OR an Arrow boundary: tokens go straight from the analyzer's
    output into the codec's vectorized encoder inside the same worker.
    This replaces the former term_rows → groupBy(shard).applyInPandas
    pipeline, which serialized every (term, tf, positions) through one more
    exchange and two more Arrow crossings — measurably the build's one
    non-scaling phase (BENCH/BASELINE.md).

    A partition may hold several shards (hash collisions); they are grouped
    locally. A shard must fit in one task's memory — the same bound
    applyInPandas imposed — so ``n_shards`` stays the knob that caps
    per-task state as the corpus grows. Block bounds are computed at the
    shard's own mean doc length (tokens over docs, zero-token docs
    included), written as ``enc_avgdl``: a shard's postings are a function
    of its docs alone, so a resumed or compacted build equals a fresh one.

    ``metrics_acc`` (a ``_ShardMetricsParam`` accumulator) receives one
    record per shard: encode metrics plus the shard's lineage — every doc
    read (zero-token docs included), its token count and the XOR of its doc
    ids — so the manifest needs no pass over the store of its own.
    """

    def fn(it):
        from itertools import chain

        from .analyzer import tokenize
        from .codec import encode_shard_frame_pre

        pdfs = [p for p in it]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if len(pdf) == 0:
            return
        for shard, g in pdf.groupby("shard", sort=False):
            t0 = time.perf_counter()
            # docs processed in ascending doc_id order, so one stable sort
            # on (term id, doc order) below yields (term, doc_id)-ordered
            # postings with ascending positions inside each posting. The
            # whole shard is aggregated VECTORIZED: tokenize is the only
            # per-token Python left — term ids come from one pd.factorize
            # (C hash table, first-appearance order, same ids the former
            # per-doc dict loop produced), postings from one stable argsort
            # over an int64 (term, doc) key.
            g = g.sort_values("doc_id", kind="stable")
            all_doc_ids = g["doc_id"].to_numpy(np.int64)
            tok_lists = [tokenize(t) for t in g["text"]]
            counts = np.fromiter(
                (len(l) for l in tok_lists), np.int64, len(tok_lists)
            )
            n_tok = int(counts.sum())
            lineage = [len(g), n_tok, int(np.bitwise_xor.reduce(all_doc_ids))]
            if n_tok == 0:
                if metrics_acc is not None:
                    sec = time.perf_counter() - t0
                    metrics_acc.add({int(shard): [sec, 0, 0, 0, 0, *lineage]})
                continue
            avgdl = n_tok / len(g)
            keep = counts > 0
            doc_ids_arr = all_doc_ids[keep]
            counts_k = counts[keep]
            all_toks = np.fromiter(
                chain.from_iterable(tok_lists), dtype=object, count=n_tok
            )
            codes, uniques = pd.factorize(all_toks)
            nd = len(counts_k)
            doc_ord = np.repeat(np.arange(nd, dtype=np.int64), counts_k)
            starts = np.zeros(nd, dtype=np.int64)
            np.cumsum(counts_k[:-1], out=starts[1:])
            # position of each token within its doc (tokens are emitted in
            # document order, so positions ascend per doc by construction)
            pos = np.arange(n_tok, dtype=np.int64) - np.repeat(starts, counts_k)
            key = codes.astype(np.int64) * nd + doc_ord
            order = np.argsort(key, kind="stable")
            sk = key[order]
            newp = np.empty(n_tok, dtype=bool)
            newp[0] = True
            np.not_equal(sk[1:], sk[:-1], out=newp[1:])
            pstart = np.flatnonzero(newp)
            tf_flat = np.diff(np.append(pstart, n_tok))
            first = order[pstart]
            p_doc_ord = doc_ord[first]
            doc_flat = doc_ids_arr[p_doc_ord]
            dl_flat = counts_k[p_doc_ord]
            p_tid = codes[first]
            n_post = len(pstart)
            # term boundaries straight from the id counts (ids are dense,
            # 0..T-1, in first-appearance order; sorted stream groups them)
            tcounts = np.bincount(p_tid, minlength=len(uniques))
            ts = np.zeros(len(uniques) + 1, dtype=np.int64)
            np.cumsum(tcounts, out=ts[1:])
            terms_list = list(uniques)
            cols = encode_shard_frame_pre(
                terms_list,
                ts,
                doc_flat,
                tf_flat,
                dl_flat,
                (pos[order], tf_flat),
                avgdl,
            )
            out = pd.DataFrame(cols)
            out.insert(0, "shard", np.int32(shard))
            out.insert(0, "segment", np.int32(segment))
            out["enc_avgdl"] = float(avgdl)
            if metrics_acc is not None:
                pbytes = int(
                    sum(len(b) for b in cols["doc_blob"])
                    + sum(len(b) for b in cols["tf_blob"])
                    + sum(len(b) for b in cols["dl_blob"])
                )
                qbytes = int(sum(len(b) for b in cols["pos_blob"]))
                sec = time.perf_counter() - t0
                metrics_acc.add(
                    {int(shard): [sec, n_post, len(out), pbytes, qbytes, *lineage]}
                )
            yield out[[f.name for f in POSTING_SCHEMA.fields]]

    return fn


def _write_doc_text(docs: DataFrame, path: str, segment: int) -> dict:
    """Write DOCROW rows as segment ``segment`` of the doc store at ``path``
    (dynamic partition overwrite of its (segment, shard) partitions) and
    return the segment's corpus stats: ``n_docs``, ``n_tokens`` and
    ``watermark`` (max warc_ts). The stats are OBSERVED on the write itself
    (CollectMetrics merges from successfully-committed tasks), so no
    separate stats job or second pass over the text is needed. ``docs`` is
    expected shard-clustered, so each task writes one file per shard."""
    obs = Observation("doc_text")
    docs.withColumn("segment", F.lit(segment)).observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("n_tokens"),
        F.max("warc_ts").alias("watermark"),
    ).write.partitionBy("segment", "shard").mode("overwrite").parquet(path)
    return obs.get


def _encode_postings(
    spark: SparkSession, store: DataFrame, path: str, segment: int
) -> dict:
    """Encode segment ``segment`` of the doc store into the postings table at
    ``path``, entirely map-side, each shard's block bounds at its own
    avgdl.

    A pruned (shard, doc_id, text) re-read of the shard-clustered ``store``,
    which the caller reads through ``whole_file_session`` so partition ==
    shard exactly (one posting row per (segment, shard, term), hence one
    postings file per (segment, shard)); tokenize → aggregate → encode runs in a
    single mapInPandas (encode_docs_partitions), no shuffle, and the
    per-term payload never crosses an Arrow boundary. Returns the per-shard
    records ``{shard: [sec, n_postings, n_terms, postings_bytes,
    positions_bytes, n_docs, n_tokens, docs_fingerprint]}``, measured at
    the source by accumulator: the write is a result stage, so each
    task's records merge exactly once."""
    acc = spark.sparkContext.accumulator({}, _ShardMetricsParam())
    (
        store.filter(F.col("segment") == segment)
        .select("shard", "doc_id", "text")
        .mapInPandas(encode_docs_partitions(acc, segment), schema=POSTING_SCHEMA)
        .write.partitionBy("segment", "shard")
        .mode("overwrite")
        .parquet(path)
    )
    return dict(acc.value)


MANIFEST_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("status", StringType()),
        StructField("built_at", TimestampType()),
        StructField("n_docs", LongType()),
        StructField("docs_fingerprint", LongType()),
        StructField("n_tokens", LongType()),
        StructField("n_terms", LongType()),
        StructField("n_postings", LongType()),
        StructField("postings_bytes", LongType()),
        StructField("positions_bytes", LongType()),
        StructField("encode_sec", DoubleType()),
        StructField("docs_per_sec", DoubleType()),
        StructField("postings_per_sec", DoubleType()),
    ]
)


def _write_manifest(
    spark: SparkSession, out_dir: str, shards, shard_metrics: dict, mode: str
) -> None:
    """Per-shard lineage + metrics manifest (``_build_state``; the north_rule
    checkpoint clause that resume_build reads): one ``complete`` row per
    committed shard, from its encode record (a shard with no docs has no
    record and gets zeros). Written and read with ``MANIFEST_SCHEMA``."""
    built_at = pd.Timestamp.utcnow().tz_localize(None)
    rows = []
    for s in shards:
        sec, n_post, n_terms, pbytes, qbytes, n_docs, n_tokens, fp = shard_metrics.get(
            s, [0.0, 0, 0, 0, 0, 0, 0, 0]
        )
        rows.append(
            {
                "shard": s,
                "status": "complete",
                "built_at": built_at,
                "n_docs": int(n_docs),
                "docs_fingerprint": int(fp),
                "n_tokens": int(n_tokens),
                "n_terms": int(n_terms),
                "n_postings": int(n_post),
                "postings_bytes": int(pbytes),
                "positions_bytes": int(qbytes),
                "encode_sec": float(sec),
                "docs_per_sec": n_docs / sec if sec > 0 else 0.0,
                "postings_per_sec": n_post / sec if sec > 0 else 0.0,
            }
        )
    spark.createDataFrame(
        pd.DataFrame(rows, columns=MANIFEST_SCHEMA.fieldNames()), MANIFEST_SCHEMA
    ).write.mode(mode).parquet(os.path.join(out_dir, "_build_state"))


def _commit_segment(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    n_shards: int,
    op: str,
    epoch: int = 0,
    segment: int = 0,
    base: tuple = (0, 0, None),
    shards: list[int] | None = None,
) -> dict | None:
    """Write and commit one segment — the one write path of build, resume,
    refresh and compaction (``op``, recorded in the commit).

    ``docs`` are shard-clustered DOCROW rows; ``base`` is the committed
    corpus they add to, as (n_docs, total_tokens, watermark); ``shards``
    narrows the encode and the manifest to a resume's rebuilt shards.

    1. doc_text: ``docs`` become segment ``segment`` of epoch ``epoch``.
       This write is the extraction's ONE consumer (~one zstd parquet file
       per shard); every later stage is a column-pruned read of it, never a
       cached frame — the layout that still works when the corpus exceeds
       cluster memory. The rows' totals are observed on the write, so
       N / avgdl / watermark need no job (FTS5 counts zero-token docs in N).
    2. postings: each of the segment's shards is encoded with block bounds
       at its own avgdl, so a shard's postings depend on its docs alone and
       a resume or compaction writes what a fresh build writes; the same
       pass measures each shard's lineage.
    3. COMMIT: the ``_stats.json`` commit file (``_write_stats``) with
       n_segments = segment + 1, ``op`` and the phase times so far, written
       under a temp name and renamed over the old one — no Spark job, and
       a reader sees the old commit or the new one, never neither. The
       watermark only ever advances (out-of-order batches must not regress
       it).
    4. ``_build_state``: a new manifest for a whole base segment (fresh
       build, compaction), appended rows for a resume's or a refresh's
       shards. Written after the commit, so a manifest row never names
       uncommitted work: a crash in between costs a resume re-doing
       committed shards, never skipping a missing one.

    An appended segment (``segment > 0``) with no rows commits nothing and
    returns None. Otherwise returns the committed totals, the per-shard
    encode records and the wall time per phase."""
    phases: dict[str, float] = {}
    last = [time.time()]

    def _phase(name: str) -> None:
        now = time.time()
        phases[name] = round(now - last[0], 2)
        last[0] = now

    doc_text_dir = table_dir(out_dir, "doc_text", epoch)
    written = _write_doc_text(docs, doc_text_dir, segment)
    _phase("extract_and_doc_text_write")
    n_new = int(written["n_docs"] or 0)
    if segment > 0 and n_new == 0:
        return None
    base_docs, base_tokens, base_wm = base
    n_docs = base_docs + n_new
    total_tokens = base_tokens + int(written["n_tokens"] or 0)
    avgdl = total_tokens / n_docs if n_docs else 0.0
    wms = [w for w in (base_wm, written["watermark"]) if w is not None]
    watermark = max(wms) if wms else None

    store = whole_file_session(spark).read.schema(DOC_STORE_SCHEMA).parquet(
        doc_text_dir
    )
    if shards is not None:
        store = store.filter(F.col("shard").isin(shards))
    sm = _encode_postings(
        spark, store, table_dir(out_dir, "postings", epoch), segment
    )
    _phase("postings_encode_write")

    _write_stats(
        spark, out_dir, n_docs, avgdl, total_tokens, n_shards, segment + 1,
        watermark, epoch=epoch, op=op, phase_sec=phases,
    )
    if segment == 0 and shards is None:
        _write_manifest(spark, out_dir, range(n_shards), sm, "overwrite")
    else:
        _write_manifest(spark, out_dir, shards or sorted(sm), sm, "append")
    _phase("commit")
    return {
        "n_docs": n_docs,
        "n_new": n_new,
        "avgdl": avgdl,
        "total_tokens": total_tokens,
        "shard_metrics": sm,
        "phase_sec": phases,
    }


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_shards: int = SHARD_DEFAULT,
    only_shards: list[int] | None = None,
) -> dict:
    """Full index build. Returns build metrics dict.

    ``only_shards`` is the resume hook: drop completed shards before the
    exchange (never re-shuffled or re-extracted) and rebuild only the given
    shards' doc_text/postings partitions; the corpus totals they add to
    come from one aggregate over the other shards' committed doc_text.
    """
    t0 = time.time()
    doc_text_dir = os.path.join(out_dir, "doc_text")
    base = (0, 0, None)
    if only_shards is None:
        # Fresh build: the old manifest goes first — a rebuild killed
        # midway must not leave it naming every shard complete — then the
        # prior table dirs. Dynamic partition overwrite (needed for
        # resume/refresh) only replaces partitions present in the output,
        # so a rebuild over an old dir would otherwise leave orphan
        # shard/segment partitions behind. documents/term_stats are the
        # tables a pre-format-6 index materialized, and stats the parquet
        # commit table of a pre-format-7 one; nothing reads them now.
        _hdfs_rm(spark, os.path.join(out_dir, "_build_state"))
        for sub in ("postings", "doc_text", "documents", "term_stats", "stats"):
            _hdfs_rm(spark, os.path.join(out_dir, sub))
            _gc_epoch_dirs(spark, out_dir, sub, keep_epochs=0)
    elif _exists(spark, doc_text_dir):
        r = (
            spark.read.schema(DOC_STORE_SCHEMA)
            .parquet(doc_text_dir)
            .filter((F.col("segment") == 0) & ~F.col("shard").isin(only_shards))
            .agg(F.count(F.lit(1)), F.sum("dl"), F.max("warc_ts"))
            .collect()[0]
        )
        base = (int(r[0]), int(r[1] or 0), r[2])
    # ONE full-payload shuffle for the whole build, and it moves RAW pages:
    # the map side computes only (doc_id, shard) from url (a column-pruned
    # pandas UDF — html never enters Python pre-shuffle), rows move once
    # clustered by shard, and the heavy Python stage (dedup + extraction)
    # runs AFTER the exchange in a single Arrow pass. Because doc_id
    # determines shard, url-duplicates land in the same partition and dedup
    # is partition-local — no dropDuplicates shuffle by doc_id, duplicates
    # are never even extracted, and the doc_text write needs no repartition
    # either (each task already holds exactly one shard → one file per
    # shard partition).
    pre = ids_and_shards(pages.select(*PAGE_COLUMNS), n_shards)
    if only_shards is not None:
        # per-partition checkpoint resume: completed shards are dropped
        # BEFORE the exchange — their pages are never shuffled or
        # re-extracted.
        pre = pre.filter(F.col("shard").isin(only_shards))
    c = _commit_segment(
        spark,
        extract_documents_sharded(cluster_by_shard(pre, n_shards)),
        out_dir,
        n_shards,
        "build" if only_shards is None else "resume",
        base=base,
        shards=only_shards,
    )
    elapsed = time.time() - t0
    sm = c["shard_metrics"]
    n_docs = c["n_docs"]
    n_postings = int(sum(v[1] for v in sm.values()))
    return {
        "n_docs": n_docs,
        "avgdl": c["avgdl"],
        "total_tokens": c["total_tokens"],
        "n_postings": n_postings,
        "n_shards": n_shards,
        "elapsed_sec": elapsed,
        "phase_sec": c["phase_sec"],
        "docs_per_sec": n_docs / elapsed if elapsed > 0 else 0.0,
        "postings_per_sec": n_postings / elapsed if elapsed > 0 else 0.0,
        "postings_bytes": int(sum(v[3] for v in sm.values())),
        "positions_bytes": int(sum(v[4] for v in sm.values())),
    }


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) of ``path`` — works for any scheme."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sc._jsc.hadoopConfiguration()), hpath


def _exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath))


def _hdfs_rm(spark: SparkSession, path: str) -> None:
    """Recursive delete (a missing path is a no-op)."""
    fs, hpath = _fs(spark, path)
    fs.delete(hpath, True)


def _gc_epoch_dirs(
    spark: SparkSession, out_dir: str, tbl: str, keep_epochs: int | set[int]
) -> None:
    """Delete every versioned dir of `tbl` except the kept epochs, plus the
    unversioned base dir (= epoch 0) when 0 isn't kept. Sweeps ALL stale
    epochs (not just the immediately previous one), so orphans from a crash
    between commit and GC are collected by the next cycle.

    Compaction passes {new, old}: the just-replaced epoch survives one full
    compaction cycle as a reader grace window — a SearchEngine pins its
    epoch at construction (search.py), so an engine created just before the
    commit flip keeps resolving complete files for its whole lifetime; the
    NEXT compaction's GC (which keeps {newer, new}) finally sweeps it."""
    keep = (
        {int(keep_epochs)}
        if isinstance(keep_epochs, int)
        else {int(k) for k in keep_epochs}
    )
    keep_names = {f"{tbl}.v{k}" for k in keep}
    fs, pattern = _fs(spark, os.path.join(out_dir, f"{tbl}.v*"))
    for st in fs.globStatus(pattern) or []:
        p = st.getPath()
        if p.getName() not in keep_names:
            fs.delete(p, True)
    if 0 not in keep:
        _hdfs_rm(spark, os.path.join(out_dir, tbl))


def _count_parquet_files(spark: SparkSession, path: str) -> int:
    """Number of .parquet data files under `path` (recursive) — the
    small-files metric compaction exists to improve."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return 0
    it = fs.listFiles(hpath, True)
    n = 0
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            n += 1
    return n


def _commit_fs(spark: SparkSession, path: str):
    """``_fs`` for the commit file, unwrapped to the raw FS when the FS
    checksums (the local FS does). A checksumming local FS renames a file
    and its ``.crc`` sidecar in two steps, so a reader could pair a new
    file with an old checksum; the raw FS writes no sidecar. ``_fs``
    returns the JVM's cached FileSystem, which the parquet writers share:
    it is unwrapped, never reconfigured."""
    fs, hpath = _fs(spark, path)
    jvm = spark.sparkContext._jvm
    if jvm.org.apache.hadoop.fs.ChecksumFileSystem._java_lang_class.isInstance(fs):
        fs = fs.getRawFileSystem()
    return fs, hpath


def _replace(spark: SparkSession, fs, src, dst) -> None:
    """Rename ``src`` over ``dst`` so that a reader of ``dst`` finds the
    old file or the new one, never neither. The raw local FS renames with
    rename(2), which replaces ``dst`` atomically. A store that refuses to
    rename over an existing file (HDFS) gets FileContext's OVERWRITE
    rename, which is its atomic replace. FileContext is not used for the
    local FS: there, OVERWRITE deletes ``dst`` before renaming."""
    if fs.rename(src, dst):
        return
    sc = spark.sparkContext
    rename_opt = getattr(sc._jvm.org.apache.hadoop.fs, "Options$Rename")
    opts = sc._gateway.new_array(rename_opt, 1)
    opts[0] = rename_opt.OVERWRITE
    fc = sc._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        dst.toUri(), sc._jsc.hadoopConfiguration()
    )
    fc.rename(src, dst, opts)


def _write_stats(
    spark: SparkSession,
    out_dir: str,
    n_docs: int,
    avgdl: float,
    total_tokens: int,
    n_shards: int,
    n_segments: int,
    watermark,
    *,
    epoch: int,
    op: str,
    phase_sec: dict,
) -> None:
    """Commit the index: write ``STATS_FILE`` under a temp name in
    ``out_dir``, then rename it over the old one (``_replace``). No Spark
    job runs. ``watermark`` is stored as Spark's internal timestamp value
    (UTC microseconds), so it reads back as the datetime a parquet
    timestamp column collects to. ``op`` (build, resume, refresh or
    compact) and its ``phase_sec`` up to the commit are recorded for
    operators; no reader depends on them. One writer per index."""
    rec = {
        "format": INDEX_FORMAT,
        "op": op,
        "n_docs": int(n_docs),
        "avgdl": float(avgdl),
        "total_tokens": int(total_tokens),
        "n_shards": int(n_shards),
        "n_segments": int(n_segments),
        "epoch": int(epoch),
        "watermark": TimestampType().toInternal(watermark),
        "phase_sec": phase_sec,
    }
    fs, path = _commit_fs(spark, os.path.join(out_dir, STATS_FILE))
    tmp = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(
        path.getParent(), STATS_FILE + ".tmp"
    )
    out = fs.create(tmp, True)
    try:
        out.write(json.dumps(rec, sort_keys=True).encode())
    finally:
        out.close()
    _replace(spark, fs, tmp, path)


def _read_stats(spark: SparkSession, out_dir: str) -> dict:
    """The committed ``STATS_FILE`` record of an index, as a dict, read
    without a Spark job. Raises ``ValueError`` when the index was written
    in another on-disk format (formats up to 6 committed a parquet
    ``stats`` table instead), so no reader or writer misreads (or
    restamps) an older index, and ``FileNotFoundError`` when ``out_dir``
    holds no commit at all."""
    fs, path = _commit_fs(spark, os.path.join(out_dir, STATS_FILE))
    if not fs.exists(path):
        if _exists(spark, os.path.join(out_dir, "stats")):
            raise ValueError(
                f"index format <= 6 (a parquet stats table) != reader format "
                f"{INDEX_FORMAT}; rebuild the index"
            )
        raise FileNotFoundError(f"no committed index at {out_dir}")
    stream = fs.open(path)
    try:
        raw = spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    st = json.loads(bytes(raw))
    fmt = st.get("format")
    if fmt != INDEX_FORMAT:
        raise ValueError(
            f"index format {fmt!r} != reader format {INDEX_FORMAT}; rebuild the index"
        )
    st["watermark"] = TimestampType().fromInternal(st["watermark"])
    return st


def resume_build(
    spark: SparkSession, pages: DataFrame, out_dir: str, n_shards: int = SHARD_DEFAULT
) -> dict:
    """Complete a partial build: read the manifest, build only missing shards."""
    manifest = os.path.join(out_dir, "_build_state")
    done = set()
    if _exists(spark, manifest):
        done = {
            r["shard"]
            for r in spark.read.schema(MANIFEST_SCHEMA)
            .parquet(manifest)
            .filter(F.col("status") == "complete")
            .collect()
        }
    missing = [s for s in range(n_shards) if s not in done]
    if not missing:
        return {"resumed": 0}
    return build_index(spark, pages, out_dir, n_shards, only_shards=missing)


def refresh_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    use_watermark: bool = True,
) -> dict:
    """Incremental batch append over new ``warc_ts`` ranges (SURVEY.md §2.8:
    the reference's "refresh" is a rerun; ours is a Lucene/Iceberg-style
    segment append — no existing postings are rewritten).

    A refresh writes one new SEGMENT: docs newer than the index watermark get
    their own complete postings/doc_text partitions under
    ``segment=<n>``. Doc ids are hash-sharded, so every doc's postings still
    land in its shard — a query evaluates each (segment, shard) on its own
    (segments partition the doc space) and merges only per-group top-k rows.
    Each of the segment's shards has its block bounds encoded at its own
    avgdl (recorded in enc_avgdl; no query reads the bounds), and
    global df/cf stays derivable from the postings table, so an append costs
    O(batch), not O(vocab).

    This function only selects the batch's new docs and clears the
    uncommitted segment; ``_commit_segment`` writes and commits it, as it
    does for the build and compaction: doc_text, postings, then the small
    ``_stats.json`` file — carrying the watermark and segment count — as
    the commit point, then the segment's ``_build_state`` rows. A refresh
    first deletes whatever an earlier crashed attempt left under the uncommitted
    ``segment=<n>``, so a rerun after any crash, with the same batch or
    another one (the streaming wrapper's next micro-batch), commits exactly
    its own docs. On Iceberg this whole function is one transaction; on
    plain parquet the ordering provides the same
    at-least-once-with-idempotence guarantee.

    Re-crawled urls keep their first version (reference semantics:
    ``files.path UNIQUE`` + INSERT DO NOTHING, database/database.go:46,257).

    ``use_watermark=False`` skips the warc_ts pre-filter and relies solely on
    the doc-id anti-join — for callers whose batches do not arrive in
    timestamp order (e.g. the Structured Streaming wrapper, whose source
    checkpoint already guarantees each batch is delivered once); the
    anti-join is then the MERGE predicate and the watermark only advances.
    """
    t0 = time.time()
    st = _read_stats(spark, out_dir)
    n_shards = int(st["n_shards"])
    seg = int(st["n_segments"])
    watermark = st["watermark"]
    epoch = int(st["epoch"])
    # A crashed attempt may have left segment=<seg> partitions written from
    # ANOTHER batch; the writes overwrite only the shards this batch
    # touches, so clear the whole uncommitted segment first (no reader sees
    # it: readers stop at segment < n_segments).
    for tbl in ("doc_text", "postings"):
        _hdfs_rm(spark, os.path.join(table_dir(out_dir, tbl, epoch), f"segment={seg}"))

    new_pages = pages.select(*PAGE_COLUMNS)
    if use_watermark and watermark is not None:
        new_pages = new_pages.filter(F.col("warc_ts") > F.lit(watermark))
    pre = ids_and_shards(new_pages, n_shards)
    # committed docs only (segment < seg): a crashed attempt's orphan
    # doc_text partition must not mask its docs out of the redo batch.
    # Column-pruned read of the store — text chunks never touched.
    old_ids = (
        spark.read.schema(DOC_STORE_SCHEMA)
        .parquet(table_dir(out_dir, "doc_text", epoch))
        .filter(F.col("segment") < seg)
        .select("doc_id")
    )
    pre = pre.join(old_ids, "doc_id", "left_anti")
    # Shard-cluster the segment's raw pages (same single-exchange layout as
    # the fresh build): batch-internal duplicates co-locate with their
    # shard, so extract_documents_sharded's fused dedup+extract replaces
    # the former dropDuplicates exchange entirely.
    c = _commit_segment(
        spark,
        extract_documents_sharded(cluster_by_shard(pre, n_shards)),
        out_dir,
        n_shards,
        "refresh",
        epoch=epoch,
        segment=seg,
        base=(int(st["n_docs"]), int(st["total_tokens"]), watermark),
    )
    elapsed = time.time() - t0
    if c is None:
        return {"appended_docs": 0, "segment": None, "elapsed_sec": elapsed}
    return {
        "appended_docs": c["n_new"],
        "segment": seg,
        "n_docs": c["n_docs"],
        "avgdl": c["avgdl"],
        "elapsed_sec": elapsed,
        "phase_sec": c["phase_sec"],
        "docs_per_sec": c["n_new"] / elapsed if elapsed > 0 else 0.0,
    }


def compact_index(spark: SparkSession, out_dir: str) -> dict:
    """Merge all committed segments back into one (segment 0), each shard's
    blocks encoded at that shard's avgdl — the Lucene merge / Iceberg
    rewriteDataFiles analog.

    Postings are a pure function of doc_text, so compaction is a
    one-segment REBUILD through the build's own commit path: the committed
    doc_text rows (segment < n_segments — a crashed refresh's uncommitted
    segment is left out, exactly as readers leave it out) are clustered by
    shard and handed to ``_commit_segment`` as segment 0 of the next
    epoch, which writes them, encodes their postings, commits
    ``_stats.json`` and then rewrites the ``_build_state`` manifest for the
    compacted segment.
    No posting blob is decoded, and the result equals a fresh build of the
    same pages.

    Crash safety (versioned-root commit, the plain-parquet stand-in for an
    Iceberg RewriteFiles snapshot): the merged tables are written into the
    NEXT epoch's dirs (``<tbl>.v<N+1>``, see table_dir) while every reader
    keeps resolving the CURRENT epoch through ``_stats.json``; the single
    small commit-file replace — carrying the new epoch — is the commit
    point, after which old epochs are GC'd. A crash at any moment before the
    commit leaves the old epoch complete and visible (a rerun overwrites
    the orphan next-epoch dirs); a crash between commit and GC leaves
    stale old-epoch dirs that the next compaction or fresh build sweeps.

    Returns segment/file counts before and after so callers (and the
    bench) can verify the rewrite paid for itself, and ``phase_sec``: the
    commit's phases plus ``gc`` (the old-epoch sweep and the file count).
    """
    t0 = time.time()
    st = _read_stats(spark, out_dir)
    segments_before = int(st["n_segments"])
    if segments_before <= 1:
        return {"compacted": False, "elapsed_sec": time.time() - t0}
    n_shards = int(st["n_shards"])
    epoch = int(st["epoch"])
    new_epoch = epoch + 1
    files_before = _count_parquet_files(
        spark, table_dir(out_dir, "postings", epoch)
    )

    committed = (
        spark.read.schema(DOC_STORE_SCHEMA)
        .parquet(table_dir(out_dir, "doc_text", epoch))
        .filter(F.col("segment") < segments_before)
    )
    c = _commit_segment(
        spark, cluster_by_shard(committed, n_shards), out_dir, n_shards, "compact",
        epoch=new_epoch,
    )
    t_gc = time.time()

    # GC old epochs (post-commit; failures here leave garbage, never a
    # broken index — swept again by the next cycle). The epoch we just
    # replaced is KEPT one more cycle: readers bound to it (SearchEngine
    # pins its epoch at init) keep complete files for their lifetime.
    for tbl in ("postings", "doc_text"):
        _gc_epoch_dirs(spark, out_dir, tbl, keep_epochs={new_epoch, epoch})

    files_after = _count_parquet_files(
        spark, table_dir(out_dir, "postings", new_epoch)
    )
    phases = dict(c["phase_sec"], gc=round(time.time() - t_gc, 2))
    return {
        "compacted": True,
        "elapsed_sec": time.time() - t0,
        "epoch": new_epoch,
        "segments_before": segments_before,
        "segments_after": 1,
        "postings_files_before": files_before,
        "postings_files_after": files_after,
        "phase_sec": phases,
    }
