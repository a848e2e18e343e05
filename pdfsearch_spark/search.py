"""Query-side engine: FTS5-grammar search over the sharded index.

Spark lifecycle (SURVEY.md §3.B): parse/plan on the driver → shard-pruned,
term-filtered parquet scan of ``postings`` (the ``term`` predicate is
pushed into the reader; terms are unsorted within a file, so it filters
rows rather than skipping row groups) → one exchange of the matching
posting rows into per-(segment, shard) applyInPandas groups that match
and score (all of a doc's postings are in its segment and its shard, so
no group needs another's rows) → per-query top-k merged on the driver
from ≤ segments×shards×k rows → point lookup into the doc store for
display fields → snippets over ≤ k rows.

``search`` (one query, then result assembly) and ``search_batch`` (many
queries, then rank numbers) run one executor, ``_execute``: one planner,
one shard function, one BM25 formula (``scorer.bm25_scores``) and one
top-k rule (``_topk``). Per query the planner only picks where idf comes
from:

- A PRIORI (every phrase a plain single term, no NEAR): dfs come from the
  postings table's own (term, df) columns before the scan, so each shard
  scores and emits only its top-k — block-max WAND for pure conjunctions,
  exhaustive scoring for OR/NOT trees.
- SENTINEL (phrase / prefix / NEAR / anchor): per-phrase df is only known
  after matching, so shards emit matched rows (doc_id, dl, visible-tf
  vector) plus one df-sentinel row. The driver sums the sentinels of the
  persisted output, then each partition scores its rows and keeps k per
  query — untruncated matches never reach the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .analyzer import tokenize, unicode61_tokens
from .index_build import _read_stats, shard_of, table_dir
from .query.parser import Node, Phrase, parse_query
from .query.scorer import bm25_scores, idf_of, score_shard, wand_shard_topk

RESULT_SCHEMA = (
    "doc_id long, part int, title string, text string, base_name string, score double"
)
BATCH_SCHEMA = "query_id int, doc_id long, score double, rank int"
# one shard-function row is a scored hit (score), a matched hit awaiting
# idf (dl, vis) or a df sentinel (dfs)
SHARD_SCHEMA = (
    "query_id int, doc_id long, score double, dl long, vis array<long>, dfs array<long>"
)
SCORED_SCHEMA = "query_id int, doc_id long, score double"


@dataclass
class _Query:
    """One plan entry. ``idfs`` is set iff the query's dfs are known a
    priori; ``None`` sends it down the df-sentinel path."""

    qid: int
    tree: Node
    phrases: list[Phrase]
    idfs: np.ndarray | None


def _topk(doc_ids: np.ndarray, scores: np.ndarray, k: int):
    """The one top-k rule: best k by (score asc = best BM25 first, doc_id
    asc). Shard-local, partition-local and driver-side truncation all use
    it, so every path keeps the same members of a score plateau crossing
    the k boundary (tests/test_boundary_ties.py)."""
    order = np.lexsort((doc_ids, scores))[:k]
    return doc_ids[order], scores[order]


def _frame(qid: int, doc_ids, scores=np.nan, dls=0, vis=None, dfs=None) -> pd.DataFrame:
    n = len(doc_ids)
    return pd.DataFrame(
        {
            "query_id": np.full(n, qid, dtype=np.int32),
            "doc_id": np.asarray(doc_ids, dtype=np.int64),
            "score": scores,
            "dl": dls,
            "vis": np.full(n, None) if vis is None else vis,
            "dfs": np.full(n, None) if dfs is None else dfs,
        }
    )


class SearchEngine:
    def __init__(self, spark: SparkSession, index_dir: str) -> None:
        self.spark = spark
        self.index_dir = index_dir
        st = _read_stats(spark, index_dir)
        self.n_docs = st["n_docs"]
        self.avgdl = st["avgdl"]
        self.n_shards = st["n_shards"]
        # table paths resolve through the stats epoch (compaction's
        # versioned-root commit): this engine is bound to one complete
        # epoch snapshot for its lifetime
        self.epoch = int(st["epoch"])
        # ... and to its committed segments: a crashed or in-flight refresh
        # leaves segment=n_segments on disk, whose postings would inflate df
        # while n_docs leaves its docs out (a free partition filter)
        self.n_segments = int(st["n_segments"])
        committed = F.col("segment") < self.n_segments
        self._postings = spark.read.parquet(
            table_dir(index_dir, "postings", self.epoch)
        ).filter(committed)
        # The term dictionary (df lookup) is the postings table's own
        # (term, df) columns, read column-pruned (blob chunks are never
        # read) — no global vocabulary table to build, ship or refresh.
        self._dict = self._postings.select("term", "df")
        self._doc_text = spark.read.parquet(
            table_dir(index_dir, "doc_text", self.epoch)
        ).filter(committed)
        # Driver-side df cache: an engine is bound to one snapshot, so
        # term→df never changes and repeated vocabulary skips the dictionary
        # job. Prefixes are never expanded driver-side: expansion happens
        # per shard against the pruned scan (scorer.score_shard).
        self._df_cache: dict[str, int] = {}

    def _dfs_of(self, terms: list[str]) -> dict[str, int]:
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            # pruned dictionary scan: ≤ shards×segments rows per term come
            # back; global df = their sum (one job, no shuffle — the groupBy
            # happens driver-side over a few hundred ints)
            found: dict[str, int] = {}
            for r in self._dict.filter(F.col("term").isin(missing)).collect():
                found[r["term"]] = found.get(r["term"], 0) + int(r["df"])
            for t in missing:
                self._df_cache[t] = found.get(t, 0)
        return {t: self._df_cache[t] for t in terms}

    # ---- planning -----------------------------------------------------

    def _plan(self, query: str):
        return parse_query(query, tokenize, unicode61_tokens)

    @staticmethod
    def _scan_predicate(phrases: list[Phrase]):
        """(exact terms, prefixes) → pushdown-able postings-scan filter.

        Prefix phrases push ``startswith(pref)`` into the scan itself, so
        no term list ever lands on the driver. Both predicates reach the
        parquet reader as pushed filters; terms are unsorted within a file
        (encoder first-appearance order), so row-group min/max stats rarely
        skip anything and the filter mostly drops rows as they are read."""
        exact: set[str] = set()
        prefixes: set[str] = set()
        for p in phrases:
            if p.col == "unindexed":
                continue
            if p.prefix:
                exact.update(p.terms[:-1])
                prefixes.add(p.terms[-1])
            else:
                exact.update(p.terms)
        if not exact and not prefixes:
            return None
        cond = F.col("term").isin(sorted(exact)) if exact else F.lit(False)
        for pref in sorted(prefixes):
            cond = cond | F.col("term").startswith(pref)
        return cond

    def _shard_pass(
        self,
        parsed: list[tuple[int, Node, list[Phrase]]],
        k: int,
        book_ids: list[int] | None = None,
    ) -> tuple[DataFrame | None, list[_Query]]:
        """Plan ``parsed`` (query_id, tree, phrases) triples and return the
        one shard-function DataFrame (SHARD_SCHEMA) with its plan, or
        (None, plan) when no query can touch postings.

        Per plan entry, each (segment, shard) group emits: for an a-priori
        pure conjunction, its block-max WAND top-k; for any other a-priori
        query, its exhaustively scored top-k; otherwise its matched
        (doc_id, dl, vis) rows plus one df-sentinel row. Segments partition
        the doc space, so the groups' top-k rows merge in ``_topk`` and
        their sentinels sum like the shards' do. ``book_ids`` (the Q6 doc
        subset) filters hits, never dfs."""
        cond = self._scan_predicate([p for _, _, ps in parsed for p in ps])
        # ONE dictionary lookup for every a-priori query's terms
        a_priori = [(qid, ps) for qid, tree, ps in parsed if _is_a_priori(tree, ps)]
        dfs = self._dfs_of(sorted({p.terms[0] for _, ps in a_priori for p in ps}))
        idfs = {
            qid: np.array([idf_of(dfs[p.terms[0]], self.n_docs) for p in ps])
            for qid, ps in a_priori
        }
        plan = [_Query(qid, tree, ps, idfs.get(qid)) for qid, tree, ps in parsed]
        if cond is None:
            return None, plan
        n_docs, avgdl = self.n_docs, self.avgdl
        books = np.array(sorted(book_ids), dtype=np.int64) if book_ids else None

        def shard_rows(pdf: pd.DataFrame, q: _Query):
            if q.idfs is not None and tree_is_pure_and(q.tree):
                res = wand_shard_topk(
                    pdf, [p.terms[0] for p in q.phrases], q.idfs, avgdl, k, books
                )
                if res is not None:
                    yield _frame(q.qid, res[0], scores=res[1])
                return
            res = score_shard(pdf, q.tree, q.phrases, {}, n_docs, avgdl, None, k)
            if res is None:
                return
            matched, mdl, mvis, local_dfs = res
            if books is not None:
                sel = np.isin(matched, books)
                matched, mdl, mvis = matched[sel], mdl[sel], mvis[sel]
            if q.idfs is None:
                yield _frame(q.qid, matched, dls=mdl, vis=list(mvis))
                dfs_row = [local_dfs.get(i, 0) for i in range(len(q.phrases))]
                yield _frame(q.qid, [0], dfs=[dfs_row])
            elif len(matched):
                ids, scores = _topk(matched, bm25_scores(mvis, mdl, q.idfs, avgdl), k)
                yield _frame(q.qid, ids, scores=scores)

        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            outs = [out for q in plan for out in shard_rows(pdf, q)]
            return pd.concat(outs, ignore_index=True) if outs else _frame(0, [])

        scored = self._postings.filter(cond).groupBy("segment", "shard").applyInPandas(
            fn, schema=SHARD_SCHEMA
        )
        return scored, plan

    # ---- execution ----------------------------------------------------

    def _execute(
        self,
        parsed: list[tuple[int, Node, list[Phrase]]],
        k: int,
        book_ids: list[int] | None = None,
    ) -> dict[int, tuple[np.ndarray, np.ndarray]]:
        """{query_id: (doc_ids, scores)} — each query's top-k ordered by
        (score asc, doc_id asc); queries without a hit are absent."""
        shard_out, plan = self._shard_pass(parsed, k, book_ids)
        if shard_out is None:
            return {}
        if all(q.idfs is not None for q in plan):
            # every shard already emitted scored top-k rows: one collect
            rows = shard_out.select("query_id", "doc_id", "score").collect()
        else:
            shard_out = shard_out.persist()
            try:
                rows = self._score_matches(shard_out, k).collect()
            finally:
                shard_out.unpersist()
        by_q: dict[int, tuple[list, list]] = {}
        for r in rows:
            ids, scores = by_q.setdefault(r["query_id"], ([], []))
            ids.append(r["doc_id"])
            scores.append(r["score"])
        return {
            qid: _topk(np.array(ids, dtype=np.int64), np.array(scores), k)
            for qid, (ids, scores) in by_q.items()
        }

    def _score_matches(self, shard_out: DataFrame, k: int) -> DataFrame:
        """Sentinel path over the persisted shard output: sum the df
        sentinels driver-side (≤ segments×shards×queries rows, no
        shuffle), then score each partition's matched rows and keep its
        top-k per query.
        Pre-scored a-priori rows pass through the same truncation."""
        dfs: dict[int, np.ndarray] = {}
        for r in shard_out.filter(F.col("dfs").isNotNull()).select("query_id", "dfs").collect():
            dfs[r["query_id"]] = dfs.get(r["query_id"], 0) + np.array(r["dfs"])
        idfs = {
            qid: np.array([idf_of(int(df), self.n_docs) for df in q_dfs])
            for qid, q_dfs in dfs.items()
        }
        avgdl = self.avgdl

        def fn(batches):
            best: dict[int, tuple[np.ndarray, np.ndarray]] = {}
            for pdf in batches:
                for qid, g in pdf.groupby("query_id", sort=False):
                    qid = int(qid)
                    ids = g["doc_id"].to_numpy()
                    if qid in idfs:
                        vis = np.stack(g["vis"].to_numpy())
                        scores = bm25_scores(vis, g["dl"].to_numpy(), idfs[qid], avgdl)
                    else:
                        scores = g["score"].to_numpy()
                    if qid in best:
                        ids = np.concatenate([best[qid][0], ids])
                        scores = np.concatenate([best[qid][1], scores])
                    best[qid] = _topk(ids, scores, k)
            for qid, (ids, scores) in best.items():
                yield pd.DataFrame(
                    {"query_id": np.int32(qid), "doc_id": ids, "score": scores}
                )

        return shard_out.filter(F.col("dfs").isNull()).mapInPandas(
            fn, schema=SCORED_SCHEMA
        )

    def search(
        self,
        query: str,
        k: int = 200,
        book_ids: list[int] | None = None,
        with_snippets: bool = True,
    ) -> DataFrame:
        """Reference /search semantics (database/database.go:179-204):
        raw grammar string; k = LIMIT (reference: 200); ``book_ids`` = the
        intended Q6 doc-subset filter. Raises QuerySyntaxError (→ HTTP 400 in
        the reference). Empty query → empty result (routes/routes.go:108-110).
        """
        spark = self.spark
        if not query or not query.strip():
            return spark.createDataFrame([], schema=RESULT_SCHEMA)
        tree, phrases = self._plan(query)
        hits = self._execute([(0, tree, phrases)], k, book_ids) if tree is not None else {}
        if 0 not in hits:
            return spark.createDataFrame([], schema=RESULT_SCHEMA)

        # Result assembly over ≤k rows in ONE point-lookup job. Literal id +
        # shard filters push down to parquet (partition pruning on shard,
        # row-group stats pruning on doc_id) — never a join whose OTHER side
        # is a full table scan, the plan that dies at 10^12 docs. doc_text
        # carries base_name so this stays one lookup; without snippets the
        # text chunks are pruned away.
        ids, scores = (a.tolist() for a in hits[0])
        shards = sorted({shard_of(i, self.n_shards) for i in ids})
        pruned = F.col("shard").isin(shards) & F.col("doc_id").isin(ids)
        cols = ["doc_id", "base_name"] + (["text"] if with_snippets else [])
        found = {
            int(r["doc_id"]): r
            for r in self._doc_text.filter(pruned).select(*cols).collect()
        }
        if with_snippets:
            # snippets are a ≤k-row presentation concern — driver-side, not
            # a cluster stage (reference computes them per emitted row too)
            titles, bodies = self._snippet_pair(
                [found[i]["text"] if i in found else "" for i in ids], tree, phrases
            )
        else:
            titles = bodies = [""] * len(ids)
        out_pdf = pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "part": np.int32(0),
                "title": titles,
                "text": bodies,
                "base_name": [found[i]["base_name"] if i in found else None for i in ids],
                "score": pd.Series(scores, dtype="float64"),
            }
        )
        return spark.createDataFrame(out_pdf, schema=RESULT_SCHEMA)

    def search_batch(self, queries: list[str], k: int = 10) -> DataFrame:
        """Evaluate MANY queries in ONE shard-scan job.

        Returns (query_id int, doc_id long, score double, rank int), rank
        1..k per query by (score asc = best BM25 first, doc_id asc) — the
        same per-query results as ``search`` (both run ``_execute``), but
        all driver-side planning collapses to one dictionary lookup and all
        matching/scoring to one pass over postings. Per-query latency on
        Spark is dominated by job-scheduling fixed costs; batching is how a
        query workload actually runs at cluster scale. Empty queries yield
        no rows; grammar errors raise (reference 400 behavior).
        """
        parsed = []
        for qid, q in enumerate(queries):
            if not q or not q.strip():
                continue
            tree, phrases = self._plan(q)
            if tree is not None:  # a query pruned to nothing ('""') has no rows
                parsed.append((qid, tree, phrases))
        rows = [
            (qid, d, s, rank)
            for qid, (ids, scores) in sorted(self._execute(parsed, k).items())
            for rank, (d, s) in enumerate(zip(ids.tolist(), scores.tolist()), start=1)
        ]
        # a local pandas frame (arrow): collecting it runs no Spark job
        pdf = pd.DataFrame(rows, columns=["query_id", "doc_id", "score", "rank"])
        return self.spark.createDataFrame(pdf, schema=BATCH_SCHEMA)

    # ---- snippets ------------------------------------------------------

    def _snippet_pair(
        self, texts: list[str], tree, phrases
    ) -> tuple[list[str], list[str]]:
        """FTS5 snippet(…,16) titles + snippet(…,60) bodies for ≤k texts,
        computed driver-side (Q7 runs only over emitted rows). Per doc, only
        VISIBLE phrases are highlighted — FTS5's snippet() skips phrases
        whose branch contributes nothing for that row (fuzz-found via
        '(a OR b) AND c OR d': a doc matching a∧d but not c highlights only
        d)."""
        from .query.snippet import phrase_slot_table, snippet_pair

        slots_list, anchored = phrase_slot_table(phrases, {})
        titles: list[str] = []
        bodies: list[str] = []
        for text in texts:
            title, body = snippet_pair(text or "", tree, slots_list, anchored)
            titles.append(title)
            bodies.append(body)
        return titles, bodies


def _is_a_priori(tree: Node, phrases: list[Phrase]) -> bool:
    """Every phrase is a plain single term and the tree has no NEAR: the
    query's dfs are dictionary lookups, known before the scan."""
    return tree_has_no_near(tree) and all(
        len(p.terms) == 1 and not p.prefix and not p.anchored and p.col != "unindexed"
        for p in phrases
    )


def tree_has_no_near(node: Node) -> bool:
    if node.op == "NEAR":
        return False
    return all(tree_has_no_near(c) for c in node.children)


def tree_is_pure_and(node: Node) -> bool:
    """True iff the tree is a conjunction of plain phrases (no OR/NOT/NEAR)."""
    if node.op == "PHRASE":
        return True
    if node.op == "AND":
        return all(tree_is_pure_and(c) for c in node.children)
    return False
