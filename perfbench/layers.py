"""Driver-side per-layer probes: each layer's public functions called
directly, with no Spark scheduling in the timed region.

The scorer probes read shard postings with pyarrow and call the same
functions the engine's grouped-map UDF calls on the same rows — the "run the
UDF body on a local pandas frame" pattern, which separates kernel compute
from Arrow and job overhead.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.dataset as ds

from pdfsearch_spark.analyzer import tokenize, unicode61_tokens
from pdfsearch_spark.codec import (
    decode_dls,
    decode_doc_ids,
    decode_positions,
    decode_tfs,
    encode_shard_frame,
)
from pdfsearch_spark.corpus import gen_row
from pdfsearch_spark.extract import extract_text
from pdfsearch_spark.query.parser import parse_query
from pdfsearch_spark.query.scorer import bm25_scores, idf_of, score_shard, wand_shard_topk
from pdfsearch_spark.query.snippet import make_snippet, phrase_slot_table, snippet_plan
from pdfsearch_spark.search import tree_is_pure_and


def _timed(fn, *args, **kw):
    t = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t


def read_shards(postings_dir: str):
    """{shard: pandas postings rows} for every shard of every segment."""
    pdf = ds.dataset(postings_dir, format="parquet", partitioning="hive").to_table().to_pandas()
    return {int(s): g.reset_index(drop=True) for s, g in pdf.groupby("shard")}


def scorer_probe(shards, queries: list[str], n_docs: int, avgdl: float, k: int) -> dict:
    """WAND vs exhaustive top-k per shard for the pure conjunctions among
    ``queries``; exhaustive scoring follows the engine's non-WAND branch."""
    dfs: dict[str, int] = {}
    for rows in shards.values():
        for t, df in zip(rows["term"], rows["df"]):
            dfs[t] = dfs.get(t, 0) + int(df)
    wand_s = exh_s = 0.0
    calls = rows_read = n_queries = 0
    counters: dict = {}
    for q in queries:
        tree, phrases = parse_query(q, tokenize, unicode61_tokens)
        if tree is None or not tree_is_pure_and(tree) or any(
            len(p.terms) != 1 or p.prefix or p.anchored or p.col == "unindexed"
            for p in phrases
        ):
            continue
        terms = [p.terms[0] for p in phrases]
        idfs = np.array([idf_of(dfs.get(t, 0), n_docs) for t in terms])
        n_queries += 1
        for rows in shards.values():
            sub = rows[rows["term"].isin(terms)]
            rows_read += len(sub)
            if sub.empty:
                continue
            calls += 1
            _, dt = _timed(wand_shard_topk, sub, terms, idfs, avgdl, k, counters=counters)
            wand_s += dt
            t = time.perf_counter()
            res = score_shard(sub, tree, phrases, {}, n_docs, avgdl, None, k)
            if res is not None and len(res[0]):
                scores = bm25_scores(res[2], res[1], idfs, avgdl)
                np.lexsort((res[0], scores))[:k]  # the engine's (score, doc_id) truncation
            exh_s += time.perf_counter() - t
    total = counters.get("blocks_total", 0)
    return {
        "query.scorer.wand_ms_per_shard": 1e3 * wand_s / max(calls, 1),
        "query.scorer.exhaustive_ms_per_shard": 1e3 * exh_s / max(calls, 1),
        "query.scorer.wand_blocks_total": float(total),
        "query.scorer.wand_blocks_skipped_ratio": counters.get("blocks_skipped", 0) / max(total, 1),
        "query.scorer.postings_rows_per_query": rows_read / max(n_queries, 1),
    }


def codec_probe(rows) -> dict:
    """Decode every posting list of one shard's first segment, then
    re-encode them in the build's vectorized one-pass form."""
    rows = rows[rows["segment"] == rows["segment"].min()].sort_values("term")
    t = time.perf_counter()
    terms, doc_ids, tfs, dls, positions = [], [], [], [], []
    for r in rows.itertuples():
        d = decode_doc_ids(bytes(r.doc_blob), list(r.block_lens))
        doc_ids.append(d)
        tfs.append(decode_tfs(bytes(r.tf_blob)))
        dls.append(decode_dls(bytes(r.dl_blob)))
        positions.extend(decode_positions(bytes(r.pos_blob), len(d)))
        terms.append(np.full(len(d), r.term, dtype=object))
    dec_s = time.perf_counter() - t
    n = sum(len(d) for d in doc_ids)
    avgdl = float(rows["enc_avgdl"].iloc[0])
    _, enc_s = _timed(
        encode_shard_frame,
        np.concatenate(terms), np.concatenate(doc_ids), np.concatenate(tfs),
        np.concatenate(dls), positions, avgdl,
    )
    return {
        "codec.decode_postings_per_s": n / dec_s,
        "codec.encode_postings_per_s": n / enc_s,
    }


def text_probe(seed: int, n_docs: int, sample: int = 200) -> dict:
    """Extraction and analysis rates on a fixed sample of corpus documents."""
    step = max(1, n_docs // sample)
    htmls = [gen_row(i, seed)["html"] for i in range(0, step * sample, step)]
    texts, ext_s = _timed(lambda: [extract_text(h) for h in htmls])
    toks, tok_s = _timed(lambda: [tokenize(t) for t in texts])
    return {
        "extract.docs_per_s": len(htmls) / ext_s,
        "analyzer.tokens_per_s": sum(len(t) for t in toks) / tok_s,
    }


def parse_probe(queries: list[str], repeat: int = 20) -> dict:
    _, dt = _timed(
        lambda: [parse_query(q, tokenize, unicode61_tokens) for _ in range(repeat) for q in queries]
    )
    return {"query.parser.parse_us": 1e6 * dt / (repeat * len(queries))}


def snippet_probe(hits: list[tuple[str, list[str]]]) -> dict:
    """``hits``: (query, texts of its result docs). Times the per-doc
    snippet plan plus the title (16) and body (60) snippets."""
    n = 0
    t = time.perf_counter()
    for q, texts in hits:
        tree, phrases = parse_query(q, tokenize, unicode61_tokens)
        slots, anchored = phrase_slot_table(phrases, {})
        for text in texts:
            fs, fa, fi = snippet_plan(tree, slots, anchored, text)
            make_snippet(text, fs, fa, 16, per_phrase=fi)
            make_snippet(text, fs, fa, 60, per_phrase=fi)
            n += 1
    return {"query.snippet.ms_per_doc": 1e3 * (time.perf_counter() - t) / max(n, 1)}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs
    )


def count_parquet(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)
