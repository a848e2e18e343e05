"""Distributed inverted-index build (the explicit version of what FTS5 does
behind the reference DDL at /root/reference/database/database.go:59-66, built
the Spark-first way — SURVEY.md §3.A).

Layout (partitioned Parquet warehouse; Iceberg would use the same schema):

  <out>/doc_text/     shard / full doc store: text + part + every metadata
                      column (snippet source; the build's later stages are
                      column-pruned reads of this table)
  <out>/postings/     shard / term, df, cf, blobs + block metadata
  <out>/stats/        n_docs, avgdl, total_tokens, n_terms
  <out>/_build_state/ per-shard manifest: lineage + build metrics

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

Postings are a pure function of ``doc_text``, and ONE writer produces them:
build, refresh and compaction all write doc_text through
``_write_doc_text`` and encode a segment's postings from it through
``_encode_postings``. Compaction is a one-segment rebuild from the
committed doc_text.

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
  manifest records completed shards + input fingerprint, and resume_build
  re-runs only missing shards (SURVEY.md §7.6).
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

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
INDEX_FORMAT = 6


def table_dir(out_dir: str, tbl: str, epoch: int = 0) -> str:
    """Physical dir of a logical index table at a given epoch.

    Epoch 0 is the unversioned layout a fresh build writes (``<out>/<tbl>``);
    compaction commits each full-table rewrite as epoch N+1
    (``<out>/<tbl>.v<N+1>``) and flips the epoch recorded in ``stats`` — a
    versioned-root commit that makes the swap crash-safe on plain parquet
    (the Iceberg-snapshot analog): readers resolve table paths through
    stats, so at every instant they see either the old complete epoch or
    the new complete epoch, never a half-swapped directory. Old epochs are
    GC'd only after the commit."""
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
        # avgdl at encode time: block max_impacts are valid WAND bounds only
        # for that avgdl; after refreshes shift the corpus avgdl, the query
        # side rescales the bound by max(1, avgdl_now/enc_avgdl) (scorer.py)
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


def cluster_by_shard(df: DataFrame, n_shards: int, n_parts: int | None = None) -> DataFrame:
    """Exchange that places shard s in partition s exactly (see
    shard_pkeys). ``n_parts`` >= n_shards spreads shards over more
    partitions 1:1 (the extras stay empty) for callers that size the
    exchange to cluster parallelism."""
    n_parts = n_parts or n_shards
    lut = F.array(*[F.lit(k) for k in shard_pkeys(n_parts)[:n_shards]])
    return (
        df.withColumn("_pkey", F.element_at(lut, F.col("shard") + 1).cast("int"))
        .repartition(n_parts, F.col("_pkey"))
        .drop("_pkey")
    )


# Build-input contract (input_hint): the columns the extractor consumes.
# Extra input columns (e.g. a pre-extracted cross-check ``text``) are
# pruned BEFORE the build's one full-payload exchange — they would
# otherwise ride the shuffle and every Arrow crossing for nothing.
PAGE_COLUMNS = ["url", "warc_ts", "html", "lang"]


@contextmanager
def _whole_file_scans(spark: SparkSession):
    """Scope file scans to ONE parquet file per task.

    The encode stage reads the shard-clustered doc store back and relies on
    partition == shard (one posting row per (segment, shard, term), and the
    per-task seen-state of the fused dedup). Spark's default bin-packing
    would coalesce many small shard files into one task (fine) but can also
    SPLIT a file across tasks at row-group boundaries (not fine). Setting
    openCostInBytes == maxPartitionBytes makes every file overflow a bin by
    itself: exactly one file per task, at any file size — the same knob a
    cluster deployment sets for this read. n_shards stays the contract that
    bounds one shard's rows to one task's memory."""
    mpb_key = "spark.sql.files.maxPartitionBytes"
    oc_key = "spark.sql.files.openCostInBytes"
    prev_mpb = spark.conf.get(mpb_key)
    prev_oc = spark.conf.get(oc_key)
    big = str(1 << 38)  # 256 GiB: above any shard file; never splits
    spark.conf.set(mpb_key, big)
    spark.conf.set(oc_key, big)
    try:
        yield
    finally:
        spark.conf.set(mpb_key, prev_mpb)
        spark.conf.set(oc_key, prev_oc)


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
    """Sums {shard: [sec, n_postings, n_terms, postings_bytes, pos_bytes]}."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            if k in a:
                a[k] = [x + y for x, y in zip(a[k], v)]
            else:
                a[k] = list(v)
        return a


def encode_docs_partitions(avgdl: float, metrics_acc=None, segment: int = 0):
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
    per-task state as the corpus grows.
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
            tok_lists = [tokenize(t) for t in g["text"]]
            counts = np.fromiter(
                (len(l) for l in tok_lists), np.int64, len(tok_lists)
            )
            keep = counts > 0
            if not keep.any():
                continue
            doc_ids_arr = g["doc_id"].to_numpy(np.int64)[keep]
            counts_k = counts[keep]
            all_toks = list(
                chain.from_iterable(l for l in tok_lists if l)
            )
            n_tok = int(counts_k.sum())
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
                metrics_acc.add(
                    {int(shard): [time.perf_counter() - t0, n_post, len(out), pbytes, qbytes]}
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
    spark: SparkSession, store: DataFrame, path: str, segment: int, avgdl: float
) -> dict:
    """Encode segment ``segment`` of the doc store into the postings table at
    ``path``, entirely map-side, with block bounds against ``avgdl``.

    A pruned (shard, doc_id, text) re-read of the shard-clustered ``store``,
    pinned to whole-file tasks so partition == shard exactly (one posting
    row per (segment, shard, term)); tokenize → aggregate → encode runs in a
    single mapInPandas (encode_docs_partitions), no shuffle, and the
    per-term payload never crosses an Arrow boundary. Returns the per-shard
    encode metrics ``{shard: [sec, n_postings, n_terms, postings_bytes,
    positions_bytes]}``, measured at the source by accumulator (task retries
    double-count; they are throughput evidence, not invariants)."""
    acc = spark.sparkContext.accumulator({}, _ShardMetricsParam())
    with _whole_file_scans(spark):
        (
            store.filter(F.col("segment") == segment)
            .select("shard", "doc_id", "text")
            .mapInPandas(
                encode_docs_partitions(avgdl, acc, segment), schema=POSTING_SCHEMA
            )
            .write.partitionBy("segment", "shard")
            .mode("overwrite")
            .parquet(path)
        )
    return dict(acc.value)


def _shard_lineage(store: DataFrame) -> dict:
    """Per-shard lineage of doc-store rows — doc count, input fingerprint
    (bit_xor of doc_ids: order-independent, cheap), token count, max
    warc_ts — in ONE pruned agg (no text or blob reads)."""
    return {
        r["shard"]: r
        for r in store.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr("bit_xor(doc_id)").alias("docs_fingerprint"),
            F.sum("dl").alias("n_tokens"),
            F.max("warc_ts").alias("watermark"),
        )
        .collect()
    }


def _write_manifest(
    spark: SparkSession,
    out_dir: str,
    shards: list[int],
    lineage: dict,
    shard_metrics: dict,
    mode: str,
) -> None:
    """Per-shard lineage + metrics manifest (``_build_state``; the north_rule
    checkpoint clause that resume_build reads): one ``complete`` row per
    written shard, joining its lineage with its encode metrics."""
    built_at = pd.Timestamp.utcnow().tz_localize(None)
    rows = []
    for s in shards:
        lin = lineage.get(s)
        n_docs = int(lin["n_docs"]) if lin else 0
        sec, n_post, n_terms, pbytes, qbytes = shard_metrics.get(s, [0.0, 0, 0, 0, 0])
        rows.append(
            {
                "shard": s,
                "status": "complete",
                "built_at": built_at,
                "n_docs": n_docs,
                "docs_fingerprint": int(lin["docs_fingerprint"]) if lin else 0,
                "n_tokens": int(lin["n_tokens"]) if lin else 0,
                "n_terms": int(n_terms),
                "n_postings": int(n_post),
                "postings_bytes": int(pbytes),
                "positions_bytes": int(qbytes),
                "encode_sec": float(sec),
                "docs_per_sec": n_docs / sec if sec > 0 else 0.0,
                "postings_per_sec": n_post / sec if sec > 0 else 0.0,
            }
        )
    spark.createDataFrame(pd.DataFrame(rows)).write.mode(mode).parquet(
        os.path.join(out_dir, "_build_state")
    )


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
    shards' doc_text/postings partitions; global stats re-derive from the
    now-complete doc_text store.
    """
    t0 = time.time()
    phases: dict[str, float] = {}
    _last = [t0]

    def _phase(name: str) -> None:
        now = time.time()
        phases[name] = round(now - _last[0], 2)
        _last[0] = now

    if only_shards is None:
        # Fresh build: clear prior table dirs. Dynamic partition overwrite
        # (needed for resume/refresh) only replaces partitions present in the
        # output, so a rebuild over an old dir would otherwise leave orphan
        # shard/segment partitions behind. documents/term_stats are the
        # tables a pre-format-6 index materialized; nothing reads them now.
        for sub in ("postings", "doc_text", "documents", "term_stats"):
            _hdfs_rm(spark, os.path.join(out_dir, sub))
            _gc_epoch_dirs(spark, out_dir, sub, keep_epochs=0)
    # ONE full-payload shuffle for the whole build, and it moves RAW pages:
    # the map side computes only (doc_id, shard) from url (a column-pruned
    # pandas UDF — html never enters Python pre-shuffle), rows move once
    # clustered by shard, and the heavy Python stage (dedup + extraction)
    # runs AFTER the exchange in a single Arrow pass. Because doc_id
    # determines shard, url-duplicates land in the same partition and dedup
    # is partition-local — no dropDuplicates shuffle by doc_id, duplicates
    # are never even extracted, and the doc_text write below needs no
    # repartition either (each task already holds exactly one shard → one
    # file per shard partition).
    pre = ids_and_shards(pages.select(*PAGE_COLUMNS), n_shards)
    if only_shards is not None:
        # per-partition checkpoint resume: completed shards are dropped
        # BEFORE the exchange — their pages are never shuffled or
        # re-extracted; their committed doc_text partitions feed the global
        # stats below unchanged.
        pre = pre.filter(F.col("shard").isin(only_shards))
    docs = extract_documents_sharded(cluster_by_shard(pre, n_shards))

    # The extraction has exactly ONE consumer action: the doc_text store
    # (text + every display/metadata field + dl), written shard-clustered
    # (~one zstd parquet file per shard). Every later stage is a
    # COLUMN-PRUNED read of this table rather than a pass over a cached
    # frame: the former MEMORY_AND_DISK serialized cache was deserialized
    # in full — text included — by three consumers (documents write, stats
    # agg, encode), and re-inflating text-heavy rows made GC + deserialize
    # time scale with thread count (profiled at 32 threads: the doc_text
    # pass spent 2-4x more task time in GC/deser than on CPU). Write-once /
    # read-pruned is also the only layout that still works when the corpus
    # does not fit cluster memory.
    doc_text_dir = os.path.join(out_dir, "doc_text")
    written = _write_doc_text(docs, doc_text_dir, 0)
    _phase("extract_and_doc_text_write")

    # ONE read handle (explicit schema, no inference probe) shared by every
    # downstream stage: its file listing is computed once and cached on the
    # DataFrame, instead of a fresh listing + footer job per consumer.
    store = spark.read.schema(DOC_STORE_SCHEMA).parquet(doc_text_dir)

    # Per-shard lineage feeds only the manifest at the very end of the
    # build, so on a fresh build — where the global N/avgdl/watermark (FTS5
    # includes zero-token docs in N and avgdl) already arrived via the write
    # observation — it runs as a CONCURRENT job overlapped with the postings
    # encode. On resume the written rows cover just the rebuilt shards, so
    # the lineage agg is the (serialized) source of the global stats: the
    # store read covers ALL shards by construction — completed shards'
    # partitions were already committed, the filtered rebuild just added
    # the missing ones.
    lineage: dict = {}
    lin_state: dict = {}

    def _lineage_agg() -> None:
        tw = time.time()
        try:
            lineage.update(_shard_lineage(store))
        except BaseException as exc:  # re-raised on join
            lin_state["exc"] = exc
        lin_state["sec"] = round(time.time() - tw, 2)

    lin_thread = None
    if only_shards is None:
        n_docs = int(written["n_docs"])
        total_tokens = int(written["n_tokens"] or 0)
        watermark = written["watermark"]
        lin_thread = threading.Thread(target=_lineage_agg, name="lineage_agg")
        lin_thread.start()
    else:
        _lineage_agg()
        if "exc" in lin_state:
            raise lin_state["exc"]
        n_docs = sum(r["n_docs"] for r in lineage.values())
        total_tokens = sum(r["n_tokens"] or 0 for r in lineage.values())
        wms = [
            r["watermark"] for r in lineage.values() if r["watermark"] is not None
        ]
        watermark = max(wms) if wms else None
    avgdl = total_tokens / n_docs if n_docs else 0.0
    _phase("stats_lineage_agg")

    rebuilt = (
        store if only_shards is None else store.filter(F.col("shard").isin(only_shards))
    )
    sm = _encode_postings(spark, rebuilt, os.path.join(out_dir, "postings"), 0, avgdl)
    _phase("postings_encode_write")

    if lin_thread is not None:
        lin_thread.join()
        if "exc" in lin_state:
            raise lin_state["exc"]
        # overlapped with the postings encode; own wall recorded
        phases["lineage_agg"] = lin_state.get("sec", 0.0)

    _write_stats(spark, out_dir, n_docs, avgdl, total_tokens, n_shards, 1, watermark)

    elapsed = time.time() - t0
    if only_shards is None:
        _write_manifest(spark, out_dir, list(range(n_shards)), lineage, sm, "overwrite")
    else:
        _write_manifest(spark, out_dir, only_shards, lineage, sm, "append")
    n_postings = int(sum(v[1] for v in sm.values()))

    return {
        "n_docs": int(n_docs),
        "avgdl": avgdl,
        "total_tokens": int(total_tokens),
        "n_postings": n_postings,
        "n_shards": n_shards,
        "elapsed_sec": elapsed,
        "phase_sec": phases,
        "docs_per_sec": int(n_docs) / elapsed if elapsed > 0 else 0.0,
        "postings_per_sec": n_postings / elapsed if elapsed > 0 else 0.0,
        "postings_bytes": int(sum(v[3] for v in sm.values())),
        "positions_bytes": int(sum(v[4] for v in sm.values())),
    }


def _hdfs_rm(spark: SparkSession, path: str) -> None:
    """Recursive delete through the Hadoop FS API (works for any scheme)."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
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
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path
    fs = jpath(out_dir).getFileSystem(sc._jsc.hadoopConfiguration())
    statuses = fs.globStatus(jpath(os.path.join(out_dir, f"{tbl}.v*")))
    for st in statuses or []:
        p = st.getPath()
        if p.getName() not in keep_names:
            fs.delete(p, True)
    if 0 not in keep:
        base = jpath(os.path.join(out_dir, tbl))
        if fs.exists(base):
            fs.delete(base, True)


def _count_parquet_files(spark: SparkSession, path: str) -> int:
    """Number of .parquet data files under `path` (recursive) — the
    small-files metric compaction exists to improve."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return 0
    it = fs.listFiles(jpath, True)
    n = 0
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            n += 1
    return n


def _write_stats(
    spark: SparkSession,
    out_dir: str,
    n_docs: int,
    avgdl: float,
    total_tokens: int,
    n_shards: int,
    n_segments: int,
    watermark,
    epoch: int = 0,
) -> None:
    spark.createDataFrame(
        [
            (
                int(n_docs),
                float(avgdl),
                int(total_tokens),
                int(n_shards),
                int(n_segments),
                int(INDEX_FORMAT),
                watermark,
                int(epoch),
            )
        ],
        schema=(
            "n_docs long, avgdl double, total_tokens long, n_shards int, "
            "n_segments int, format int, watermark timestamp, epoch int"
        ),
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "stats"))


def _read_stats(spark: SparkSession, out_dir: str) -> dict:
    """The committed ``stats`` row of an index, as a dict. Raises
    ``ValueError`` when the index was written in another on-disk format, so
    no reader or writer misreads (or restamps) an older index."""
    st = spark.read.parquet(os.path.join(out_dir, "stats")).collect()[0].asDict()
    fmt = st.get("format")
    if fmt != INDEX_FORMAT:
        raise ValueError(
            f"index format {fmt!r} != reader format {INDEX_FORMAT}; rebuild the index"
        )
    return st


def resume_build(
    spark: SparkSession, pages: DataFrame, out_dir: str, n_shards: int = SHARD_DEFAULT
) -> dict:
    """Complete a partial build: read the manifest, build only missing shards."""
    try:
        done = {
            r["shard"]
            for r in spark.read.parquet(os.path.join(out_dir, "_build_state"))
            .filter(F.col("status") == "complete")
            .collect()
        }
    except Exception:
        done = set()
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

    Crash safety: a refresh first deletes whatever an earlier crashed
    attempt left under the uncommitted ``segment=<n>``, then writes the
    segment's partitions, and the small ``stats`` file — carrying the
    watermark and segment count — is written LAST as the commit point. A
    rerun after any crash, with the same batch or another one (the
    streaming wrapper's next micro-batch), commits exactly its own docs.
    On Iceberg this whole function is one transaction; on plain parquet the
    ordering provides the same at-least-once-with-idempotence guarantee.

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
    doc_text_dir = table_dir(out_dir, "doc_text", epoch)
    # A crashed attempt may have left segment=<seg> partitions written from
    # ANOTHER batch; the writes below overwrite only the shards this batch
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
        .parquet(doc_text_dir)
        .filter(F.col("segment") < seg)
        .select("doc_id")
    )
    pre = pre.join(old_ids, "doc_id", "left_anti")
    # Shard-cluster the segment's raw pages (same single-exchange layout as
    # the fresh build): batch-internal duplicates co-locate with their
    # shard, so extract_documents_sharded's fused dedup+extract replaces
    # the former dropDuplicates exchange entirely.
    n_spread = max(n_shards, spark.sparkContext.defaultParallelism * 2)
    docs = extract_documents_sharded(cluster_by_shard(pre, n_shards, n_spread))

    # 1) the segment's doc_text partitions, with the segment's stats (doc
    #    count, token count, new watermark) observed on the write — like the
    #    fresh build, every later step is a column-pruned read of the new
    #    segment's partitions (an empty batch writes none, commits nothing)
    added = _write_doc_text(docs, doc_text_dir, seg)
    n_new = int(added["n_docs"] or 0)
    if n_new == 0:
        return {"appended_docs": 0, "segment": None, "elapsed_sec": time.time() - t0}
    n_docs2 = int(st["n_docs"]) + n_new
    total2 = int(st["total_tokens"]) + int(added["n_tokens"] or 0)
    avgdl2 = total2 / n_docs2 if n_docs2 else 0.0
    store = spark.read.schema(DOC_STORE_SCHEMA).parquet(doc_text_dir)

    # 2) postings for the new segment only, blocks encoded against the NEW
    #    avgdl (older segments' block bounds are rescaled at query time via
    #    enc_avgdl). Global df/cf stays derivable from the postings table
    #    (all segments), so a segment append costs O(batch), not O(vocab).
    sm = _encode_postings(
        spark, store, table_dir(out_dir, "postings", epoch), seg, avgdl2
    )

    # 3) per-shard lineage + metrics for the manifest (pruned store read)
    lineage = _shard_lineage(store.filter(F.col("segment") == seg))
    _write_manifest(spark, out_dir, sorted(lineage), lineage, sm, "append")

    # 4) COMMIT: stats last — new watermark + segment count become visible
    #    only once every data partition for the segment is in place.
    #    The watermark only ever advances (out-of-order batches must not
    #    regress it).
    new_wm = added["watermark"]
    if watermark is not None and (new_wm is None or new_wm < watermark):
        new_wm = watermark
    _write_stats(
        spark, out_dir, n_docs2, avgdl2, total2, n_shards, seg + 1, new_wm,
        epoch=epoch,
    )
    elapsed = time.time() - t0
    return {
        "appended_docs": n_new,
        "segment": seg,
        "n_docs": n_docs2,
        "avgdl": avgdl2,
        "elapsed_sec": elapsed,
        "docs_per_sec": n_new / elapsed if elapsed > 0 else 0.0,
    }


def compact_index(spark: SparkSession, out_dir: str) -> dict:
    """Merge all committed segments back into one (segment 0), with blocks
    encoded against the current avgdl — the Lucene merge / Iceberg
    rewriteDataFiles analog.

    Postings are a pure function of doc_text, so compaction is a
    one-segment REBUILD through the build's own writers: the committed
    doc_text rows (segment < n_segments — a crashed refresh's uncommitted
    segment is left out, exactly as readers leave it out) are clustered by
    shard and written as segment 0 of the next epoch, then that segment's
    postings are encoded from it at the committed avgdl. No posting blob
    is decoded, and the result equals a fresh build of the same pages.

    Crash safety (versioned-root commit, the plain-parquet stand-in for an
    Iceberg RewriteFiles snapshot): the merged tables are written into the
    NEXT epoch's dirs (``<tbl>.v<N+1>``, see table_dir) while every reader
    keeps resolving the CURRENT epoch through ``stats``; the single small
    ``stats`` rewrite — carrying the new epoch — is the commit point,
    after which old epochs are GC'd. A crash at any moment before the
    commit leaves the old epoch complete and visible (a rerun overwrites
    the orphan next-epoch dirs); a crash between commit and GC leaves
    stale old-epoch dirs that the next compaction or fresh build sweeps.

    Returns segment/file counts before and after so callers (and the
    bench) can verify the rewrite paid for itself.
    """
    t0 = time.time()
    st = _read_stats(spark, out_dir)
    segments_before = int(st["n_segments"])
    if segments_before <= 1:
        return {"compacted": False, "elapsed_sec": time.time() - t0}
    n_shards, avgdl = int(st["n_shards"]), float(st["avgdl"])
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
    doc_text_dir = table_dir(out_dir, "doc_text", new_epoch)
    _write_doc_text(cluster_by_shard(committed, n_shards), doc_text_dir, 0)
    _encode_postings(
        spark,
        spark.read.schema(DOC_STORE_SCHEMA).parquet(doc_text_dir),
        table_dir(out_dir, "postings", new_epoch),
        0,
        avgdl,
    )

    # COMMIT: flip the epoch in stats. Until this write lands, readers
    # resolve the old epoch's complete dirs.
    _write_stats(
        spark,
        out_dir,
        int(st["n_docs"]),
        avgdl,
        int(st["total_tokens"]),
        n_shards,
        1,
        st["watermark"],
        epoch=new_epoch,
    )

    # GC old epochs (post-commit; failures here leave garbage, never a
    # broken index — swept again by the next cycle). The epoch we just
    # replaced is KEPT one more cycle: readers bound to it (SearchEngine
    # pins its epoch at init) keep complete files for their lifetime.
    for tbl in ("postings", "doc_text"):
        _gc_epoch_dirs(spark, out_dir, tbl, keep_epochs={new_epoch, epoch})

    files_after = _count_parquet_files(
        spark, table_dir(out_dir, "postings", new_epoch)
    )
    return {
        "compacted": True,
        "elapsed_sec": time.time() - t0,
        "epoch": new_epoch,
        "segments_before": segments_before,
        "segments_after": 1,
        "postings_files_before": files_before,
        "postings_files_after": files_after,
    }
