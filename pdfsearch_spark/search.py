"""Query-side engine: FTS5-grammar search over the sharded index.

Spark lifecycle (SURVEY.md §3.B): parse/plan on the driver → term-filtered
parquet scan of ``postings`` (the ``term`` predicate is pushed into the
reader; terms are unsorted within a file, so it filters rows rather than
skipping row groups) → one ``mapInPandas`` pass with no exchange: the scan
reads whole files, one (segment, shard) file per task, so each task groups
its rows by (segment, shard) locally and matches and scores each group on
its own (all of a doc's postings are in its segment and its shard, so no
group needs another's rows) → per-query top-k merged on the driver from
≤ segments×shards×k rows → point lookup into the doc store for display
fields → snippets over ≤ k rows.

``search`` (one query, then result assembly) and ``search_batch`` (many
queries, then rank numbers) run one executor, ``_execute``: one planner,
one kernel per (segment, shard) group (``scorer.score_shard``, which
matches; every hit is scored exhaustively, never pruned, as FTS5 does), one
BM25 formula (``scorer.bm25_scores``) and one top-k rule (``_topk_order``).
A group emits only matched rows (doc_id, dl, visible tf) and df rows; the
driver sums the df rows into the plan's idf map and scores every hit it
collects once (``_best_per_query``). Per query the planner only picks
where idf comes from:

- ONE PHRASE (the tree is a single phrase: a plain or column term, a
  multi-term phrase, a prefix, an anchor): FTS5 scores it as −idf·f(tf, dl)
  with idf > 0 (``idf_of`` clamps it to ≥ 1e-6), so a group's top-k by f
  is its top-k under the true idf. Each group emits those ≤ k matched rows
  plus one df row. No df lookup, one collect.
- A PRIORI (several phrases, every one a plain single term, no NEAR): dfs
  come from the postings table's own (term, df) columns before the scan, so
  each group cuts its top-k at the true idfs and emits no df row.
- SENTINEL (any other tree: NEAR, phrase AND phrase, …): per-phrase df is
  only known after matching and a group's ranking depends on the idfs, so
  groups emit every matched row plus one df-sentinel row. The driver sums
  the sentinels of the persisted output, then each partition keeps its
  top-k matched rows per query — untruncated matches never reach the
  driver.

The scan reads only the postings columns the groups decode
(``scorer.POSTING_COLUMNS``), through a projection built at open.

Driver work per call is a fixed number of JVM calls, whatever k or the hit
count: a Column literal costs ≥ 3 py4j round trips, so every predicate
built from a per-query list (dictionary terms, scan terms and prefixes,
the doc lookup's shards and ids) is one SQL string (``_sql_in``); the doc
lookup's projections are built once per engine (``_lookup``); and every
schema is a declared ``StructType``, never a DDL string for the JVM to
parse nor a ``DataFrame.columns`` call. ``SearchEngine.last_trace`` holds
the wall seconds of each step of the last call (parse, shard_pass, merge,
then for ``search`` doc_lookup and snippets, and assemble).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .analyzer import tokenize, unicode61_tokens
from .index_build import (
    DOC_STORE_SCHEMA,
    POSTING_SCHEMA,
    _read_stats,
    shard_of,
    table_dir,
    whole_file_session,
)
from .query.parser import Node, Phrase, parse_query
from .query.scorer import POSTING_COLUMNS, bm25_scores, idf_of, score_shard

# Declared, not DDL strings: a DDL string is parsed by the JVM at every use
RESULT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("part", IntegerType()),
        StructField("title", StringType()),
        StructField("text", StringType()),
        StructField("base_name", StringType()),
        StructField("score", DoubleType()),
    ]
)
BATCH_SCHEMA = StructType(
    [
        StructField("query_id", IntegerType()),
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
        StructField("rank", IntegerType()),
    ]
)
# one shard-function row is a matched hit awaiting idf (doc_id, dl, vis) or
# a df row (dfs)
SHARD_SCHEMA = StructType(
    [
        StructField("query_id", IntegerType()),
        StructField("doc_id", LongType()),
        StructField("dl", LongType()),
        StructField("vis", ArrayType(LongType())),
        StructField("dfs", ArrayType(LongType())),
    ]
)
# the idf of the one-phrase path's shard-side ranking: any positive idf
# orders a one-phrase query's docs alike
_UNIT_IDF = np.ones(1)


@dataclass
class _Query:
    """One plan entry. ``idfs`` is set iff the query's dfs are known a
    priori; a one-phrase query (``tree.op == "PHRASE"``) needs none before
    its groups cut their top-k; any other query takes the df-sentinel
    path."""

    qid: int
    tree: Node
    phrases: list[Phrase]
    idfs: np.ndarray | None

    @property
    def sentinel(self) -> bool:
        return self.idfs is None and self.tree.op != "PHRASE"


def _sql_literal(v) -> str:
    """One value as Spark SQL literal text: an int as a bigint (``<n>L``),
    a string single-quoted with ``\\`` and ``'`` escaped."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return f"{int(v)}L"


def _sql_in(col: str, values) -> str:
    """``col IN (v, …)`` as SQL text for ``DataFrame.filter(str)``: one JVM
    call however long the list, where ``F.col(col).isin(values)`` makes ≥ 3
    py4j round trips per value. ``IN ()`` does not parse, so an empty list
    is refused; callers never build one."""
    if not values:
        raise ValueError(f"empty IN list for column {col!r}")
    return f"`{col}` IN ({', '.join(map(_sql_literal, values))})"


class _Steps(dict):
    """{step: wall seconds} of one call, in step order: each ``step(name)``
    records the time since the previous one. ``perf_counter`` only (no job
    group, no JVM call), so it stays on."""

    def __init__(self) -> None:
        super().__init__()
        self._t = time.perf_counter()

    def step(self, name: str) -> None:
        now = time.perf_counter()
        self[name] = now - self._t
        self._t = now


def _topk_order(doc_ids: np.ndarray, scores: np.ndarray, k: int) -> np.ndarray:
    """The one top-k rule: indexes of the best k by (score asc = best BM25
    first, doc_id asc). Group-local, partition-local and driver-side
    truncation all use it, so every path keeps the same members of a score
    plateau crossing the k boundary (tests/test_boundary_ties.py)."""
    return np.lexsort((doc_ids, scores))[:k]


def _topk(doc_ids: np.ndarray, scores: np.ndarray, k: int):
    order = _topk_order(doc_ids, scores, k)
    return doc_ids[order], scores[order]


def _frame(qid: int, doc_ids, dls=0, vis=None, dfs=None) -> pd.DataFrame:
    n = len(doc_ids)
    return pd.DataFrame(
        {
            "query_id": np.full(n, qid, dtype=np.int32),
            "doc_id": np.asarray(doc_ids, dtype=np.int64),
            "dl": dls,
            "vis": np.full(n, None) if vis is None else vis,
            "dfs": np.full(n, None) if dfs is None else dfs,
        }
    )


def _best_per_query(batches, idfs: dict[int, np.ndarray], avgdl: float, k: int):
    """{query_id: (doc_ids, scores)}: each query's top-k over ``batches``
    of matched rows (doc_id, dl, vis; no df rows), every row scored here
    at its query's idfs."""
    best: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for pdf in batches:
        for qid, g in pdf.groupby("query_id", sort=False):
            qid = int(qid)
            ids = g["doc_id"].to_numpy(dtype=np.int64)
            vis = np.stack(g["vis"].to_numpy())
            scores = bm25_scores(vis, g["dl"].to_numpy(), idfs[qid], avgdl)
            if qid in best:
                ids = np.concatenate([best[qid][0], ids])
                scores = np.concatenate([best[qid][1], scores])
            best[qid] = _topk(ids, scores, k)
    return best


class SearchEngine:
    def __init__(self, spark: SparkSession, index_dir: str) -> None:
        self.spark = spark
        self.index_dir = index_dir
        st = _read_stats(spark, index_dir)
        self.n_docs = st["n_docs"]
        self.avgdl = st["avgdl"]
        self.n_shards = st["n_shards"]
        # table paths resolve through the committed epoch (compaction's
        # versioned-root commit): this engine is bound to one complete
        # epoch snapshot for its lifetime
        self.epoch = int(st["epoch"])
        # ... and to its committed segments: a crashed or in-flight refresh
        # leaves segment=n_segments on disk, whose postings would inflate df
        # while n_docs leaves its docs out (a free partition filter)
        self.n_segments = int(st["n_segments"])
        committed = F.col("segment") < self.n_segments
        # postings are read through a whole-file session: every scan task
        # holds whole (segment, shard) files, which the exchange-free shard
        # pass relies on, whatever split size the caller's session uses.
        # Both tables are read with their declared schemas: opening a
        # snapshot runs no schema-inference job.
        self._postings = (
            whole_file_session(spark)
            .read.schema(POSTING_SCHEMA)
            .parquet(table_dir(index_dir, "postings", self.epoch))
            .filter(committed)
        )
        # The term dictionary (df lookup) is the postings table's own
        # (term, df) columns, read column-pruned (blob chunks are never
        # read) — no global vocabulary table to build, ship or refresh.
        self._dict = self._postings.select("term", "df")
        # the shard pass's projection, built once: only the columns its
        # groups and PostingList decode are read (``_shard_pass``)
        self._scan = self._postings.select("segment", "shard", *POSTING_COLUMNS)
        self._doc_text = (
            spark.read.schema(DOC_STORE_SCHEMA)
            .parquet(table_dir(index_dir, "doc_text", self.epoch))
            .filter(committed)
        )
        # the doc lookup's two projections, built once: a query only adds
        # its (shard, doc_id) filter (``_lookup``)
        self._doc_fields = {
            False: self._doc_text.select("doc_id", "base_name"),
            True: self._doc_text.select("doc_id", "base_name", "text"),
        }
        # {step: wall seconds} of the last search or search_batch call
        self.last_trace: dict[str, float] = {}
        # Driver-side df cache: an engine is bound to one snapshot, so
        # term→df never changes and repeated vocabulary skips the dictionary
        # job. Prefixes are never expanded driver-side: expansion happens
        # per group against the pruned scan (scorer.phrase_hits).
        self._df_cache: dict[str, int] = {}

    def _dfs_of(self, terms: list[str]) -> dict[str, int]:
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            # pruned dictionary scan: ≤ shards×segments rows per term come
            # back; global df = their sum (one job, no shuffle — the groupBy
            # happens driver-side over a few hundred ints)
            found: dict[str, int] = {}
            for r in self._dict.filter(_sql_in("term", missing)).collect():
                found[r["term"]] = found.get(r["term"], 0) + int(r["df"])
            for t in missing:
                self._df_cache[t] = found.get(t, 0)
        return {t: self._df_cache[t] for t in terms}

    def _sentinel_idfs(self, rows) -> dict[int, np.ndarray]:
        """{query_id: idfs} from df rows (query_id, dfs): per query, the
        groups' per-phrase dfs summed into global dfs."""
        dfs: dict[int, np.ndarray] = {}
        for qid, q_dfs in rows:
            dfs[qid] = dfs.get(qid, 0) + np.array(q_dfs)
        return {
            qid: np.array([idf_of(int(df), self.n_docs) for df in q_dfs])
            for qid, q_dfs in dfs.items()
        }

    # ---- planning -----------------------------------------------------

    def _plan(self, query: str):
        return parse_query(query, tokenize, unicode61_tokens)

    @staticmethod
    def _scan_predicate(phrases: list[Phrase]):
        """(exact terms, prefixes) → pushdown-able postings-scan filter, as
        SQL text: ``term IN (…) OR startswith(term, '…') OR …``.

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
        conds = [_sql_in("term", sorted(exact))] if exact else []
        conds += [f"startswith(`term`, {_sql_literal(p)})" for p in sorted(prefixes)]
        return " OR ".join(conds) or None

    def _shard_pass(
        self,
        parsed: list[tuple[int, Node, list[Phrase]]],
        k: int,
        book_ids: list[int] | None = None,
    ) -> tuple[DataFrame | None, list[_Query]]:
        """Plan ``parsed`` (query_id, tree, phrases) triples and return the
        one shard-function DataFrame (SHARD_SCHEMA) with its plan, or
        (None, plan) when no query can touch postings.

        Every plan entry runs one kernel per (segment, shard) group: match
        with ``score_shard``, then emit matched (doc_id, dl, vis) rows. An
        a-priori query's group keeps its top-k by the true score (its idfs
        are known); a one-phrase query's keeps its top-k by the idf-free
        score and adds one df row; any other query's emits all its matched
        rows plus one df-sentinel row. Segments partition the doc space, so
        the groups' top-k rows merge in ``_topk_order`` and their df rows
        sum like the shards' do. ``book_ids`` (the Q6 doc subset) filters
        hits before any top-k cut, never dfs."""
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
            res = score_shard(pdf, q.tree, q.phrases, {}, n_docs, avgdl, None, k)
            if res is None:
                return
            matched, mdl, mvis, local_dfs = res
            if books is not None:
                sel = np.isin(matched, books)
                matched, mdl, mvis = matched[sel], mdl[sel], mvis[sel]
            if not q.sentinel:
                cut_idfs = _UNIT_IDF if q.idfs is None else q.idfs
                keep = _topk_order(matched, bm25_scores(mvis, mdl, cut_idfs, avgdl), k)
                matched, mdl, mvis = matched[keep], mdl[keep], mvis[keep]
            # no frame without a match: a task whose frames were all empty
            # would send a float ``vis`` column, which Arrow refuses
            if len(matched):
                yield _frame(q.qid, matched, dls=mdl, vis=list(mvis))
            if q.idfs is None:
                dfs_row = [local_dfs.get(i, 0) for i in range(len(q.phrases))]
                yield _frame(q.qid, [0], dfs=[dfs_row])

        def fn(batches):
            # whole-file scans: each (segment, shard) group lies whole in
            # this task's batches, so grouping here needs no exchange
            pdfs = list(batches)
            if not pdfs:
                return
            for _, group in pd.concat(pdfs).groupby(["segment", "shard"], sort=False):
                outs = [out for q in plan for out in shard_rows(group, q)]
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        return self._scan.filter(cond).mapInPandas(fn, schema=SHARD_SCHEMA), plan

    # ---- execution ----------------------------------------------------

    def _execute(
        self,
        parsed: list[tuple[int, Node, list[Phrase]]],
        k: int,
        trace: _Steps,
        book_ids: list[int] | None = None,
    ) -> dict[int, tuple[np.ndarray, np.ndarray]]:
        """{query_id: (doc_ids, scores)} — each query's top-k ordered by
        (score asc, doc_id asc); queries without a hit are absent. Records
        the ``shard_pass`` (planning, jobs, collect) and ``merge`` steps."""
        shard_out, plan = self._shard_pass(parsed, k, book_ids)
        if shard_out is None:
            return {}
        idfs = {q.qid: q.idfs for q in plan if q.idfs is not None}
        if any(q.sentinel for q in plan):
            shard_out = shard_out.persist()
            try:
                rows = self._partition_topk(shard_out, idfs, k).collect()
            finally:
                shard_out.unpersist()
        else:
            rows = shard_out.collect()
        trace.step("shard_pass")
        # ONE tail: sum the collected df rows into the plan's idf map, then
        # score every hit once
        pdf = pd.DataFrame.from_records(rows, columns=SHARD_SCHEMA.names)
        df_rows = pdf["dfs"].notna()
        idfs.update(
            self._sentinel_idfs(pdf.loc[df_rows, ["query_id", "dfs"]].itertuples(index=False))
        )
        best = _best_per_query([pdf[~df_rows]], idfs, self.avgdl, k)
        trace.step("merge")
        return best

    def _partition_topk(
        self, shard_out: DataFrame, idfs: dict[int, np.ndarray], k: int
    ) -> DataFrame:
        """Sentinel path over the persisted shard output (SHARD_SCHEMA in
        and out): sum its df rows driver-side (≤ segments×shards×queries
        rows, no shuffle) into ``idfs``, the plan's a-priori idf map, then
        each partition keeps its top-k matched rows per query at those
        idfs and passes its df rows on to the driver's tail."""
        idfs = {
            **idfs,
            **self._sentinel_idfs(
                shard_out.filter("dfs IS NOT NULL").select("query_id", "dfs").collect()
            ),
        }
        avgdl = self.avgdl

        def fn(batches):
            kept: list[pd.DataFrame] = []  # the top-k rows so far, per query
            for pdf in batches:
                df_rows = pdf["dfs"].notna()
                if df_rows.any():
                    yield pdf[df_rows]
                hits = pd.concat([*kept, pdf[~df_rows]])
                kept = [
                    hits[(hits["query_id"] == qid) & hits["doc_id"].isin(ids)]
                    for qid, (ids, _) in _best_per_query([hits], idfs, avgdl, k).items()
                ]
            yield from kept

        return shard_out.mapInPandas(fn, schema=SHARD_SCHEMA)

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
        self.last_trace = trace = _Steps()
        if not query or not query.strip():
            return _empty_frame(spark, RESULT_SCHEMA)
        tree, phrases = self._plan(query)
        trace.step("parse")
        hits = (
            self._execute([(0, tree, phrases)], k, trace, book_ids)
            if tree is not None
            else {}
        )
        if 0 not in hits:
            return _empty_frame(spark, RESULT_SCHEMA)

        # Result assembly over ≤k rows: ONE point-lookup job, then snippets
        # and a local frame. Every step makes the same number of JVM calls
        # whatever k or the hit count: the lookup's id and shard lists are
        # one SQL string on a projection built at open, and the result
        # frame has a declared schema.
        ids, scores = (a.tolist() for a in hits[0])
        found = {int(r["doc_id"]): r for r in self._lookup(ids, with_snippets).collect()}
        trace.step("doc_lookup")
        if with_snippets:
            # snippets are a ≤k-row presentation concern — driver-side, not
            # a cluster stage (reference computes them per emitted row too)
            titles, bodies = self._snippet_pair(
                [found[i]["text"] if i in found else "" for i in ids], tree, phrases
            )
        else:
            titles = bodies = [""] * len(ids)
        trace.step("snippets")
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
        out = spark.createDataFrame(out_pdf, schema=RESULT_SCHEMA)
        trace.step("assemble")
        return out

    def _lookup(self, ids: list[int], with_snippets: bool) -> DataFrame:
        """The doc lookup of ``ids`` (non-empty): (doc_id, base_name) and,
        with snippets, text. Literal shard and doc_id lists push down to
        parquet (partition pruning on shard, row-group stats pruning on
        doc_id) — never a join whose OTHER side is a full table scan, the
        plan that dies at 10^12 docs. doc_text carries base_name so this
        stays one lookup; without snippets no text column is read."""
        shards = sorted({shard_of(i, self.n_shards) for i in ids})
        return self._doc_fields[bool(with_snippets)].filter(
            f"{_sql_in('shard', shards)} AND {_sql_in('doc_id', ids)}"
        )

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
        self.last_trace = trace = _Steps()
        parsed = []
        for qid, q in enumerate(queries):
            if not q or not q.strip():
                continue
            tree, phrases = self._plan(q)
            if tree is not None:  # a query pruned to nothing ('""') has no rows
                parsed.append((qid, tree, phrases))
        trace.step("parse")
        rows = [
            (qid, d, s, rank)
            for qid, (ids, scores) in sorted(self._execute(parsed, k, trace).items())
            for rank, (d, s) in enumerate(zip(ids.tolist(), scores.tolist()), start=1)
        ]
        if not rows:
            return _empty_frame(self.spark, BATCH_SCHEMA)
        # a local pandas frame (arrow): collecting it runs no Spark job
        pdf = pd.DataFrame(rows, columns=BATCH_SCHEMA.names)
        out = self.spark.createDataFrame(pdf, schema=BATCH_SCHEMA)
        trace.step("assemble")
        return out

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


def _empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """An empty result that collects without a Spark job: the optimizer
    folds ``limit(0)`` into an empty local relation. An empty list or pandas
    frame alone becomes a parallelized scan, one job of empty Python tasks."""
    return spark.createDataFrame([], schema=schema).limit(0)


def _is_a_priori(tree: Node, phrases: list[Phrase]) -> bool:
    """More than one phrase, every one a plain single term, and no NEAR: the
    query's dfs are dictionary lookups, known before the scan. (A
    one-phrase tree needs no df before its groups cut their top-k.)"""
    return tree.op != "PHRASE" and tree_has_no_near(tree) and all(
        len(p.terms) == 1 and not p.prefix and not p.anchored and p.col != "unindexed"
        for p in phrases
    )


def tree_has_no_near(node: Node) -> bool:
    if node.op == "NEAR":
        return False
    return all(tree_has_no_near(c) for c in node.children)


def tree_is_pure_and(node: Node) -> bool:
    """True iff the tree is a conjunction of plain phrases (no OR/NOT/NEAR).
    The engine no longer calls it; it stays only for perfbench's scorer
    probe, which picks the pure conjunctions it times with it."""
    if node.op == "PHRASE":
        return True
    if node.op == "AND":
        return all(tree_is_pure_and(c) for c in node.children)
    return False
