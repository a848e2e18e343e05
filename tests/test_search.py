"""Search correctness: rank-identical to the FTS5 oracle (SURVEY.md §5.3-3).

For every query in the reference query set (corpus.reference_queries),
(doc_id list, score list) must equal the oracle's after (score, doc_id)
tie-sort, scores within 1e-9 — at k=200 (reference LIMIT,
/root/reference/database/database.go:184) and k=10 (latency metric).
Also covers: empty query -> [] (routes/routes.go:108-110), grammar errors ->
raise (mirrors HTTP 400, routes/routes.go:96-103), and the intended Q6
book-filter semantics (database/database.go:186-193)."""

from __future__ import annotations

import sqlite3
import time

import pytest

from pdfsearch_spark import corpus
from pdfsearch_spark.fnv import fnv1_64_signed
from pdfsearch_spark.query.parser import QuerySyntaxError

QUERIES = corpus.reference_queries()


def _engine_pairs(engine, q, k, book_ids=None):
    df = engine.search(q, k=k, book_ids=book_ids, with_snippets=False)
    rows = df.select("doc_id", "score").collect()
    return sorted([(r["doc_id"], r["score"]) for r in rows])


def _oracle_pairs(oracle, q, k, book_ids=None):
    return sorted([(r.doc_id, r.score) for r in oracle.search(q, k=k, book_ids=book_ids)])


def _assert_rank_identical(o_pairs, e_pairs, q):
    assert len(o_pairs) == len(e_pairs), (
        f"q={q!r}: oracle {len(o_pairs)} rows, engine {len(e_pairs)}"
    )
    for i, ((od, osc), (ed, esc)) in enumerate(zip(o_pairs, e_pairs)):
        assert od == ed, f"q={q!r} rank {i}: oracle doc {od} != engine doc {ed}"
        assert abs(osc - esc) < 1e-9, f"q={q!r} doc {od}: {osc} vs {esc}"


@pytest.mark.parametrize(
    "q", [x["query"] for x in QUERIES if not x["expect_error"]], ids=lambda q: repr(q)[:30]
)
def test_rank_identical_k200(engine, oracle, q):
    _assert_rank_identical(
        _oracle_pairs(oracle, q, 200), _engine_pairs(engine, q, 200), q
    )


@pytest.mark.parametrize(
    "q",
    [x["query"] for x in QUERIES if not x["expect_error"]][:8],
    ids=lambda q: repr(q)[:30],
)
def test_rank_identical_k10(engine, oracle, q):
    """k=10: score multisets must match exactly; doc membership must match
    for every score strictly better than the boundary score. (At an exact
    score tie ON the boundary, the reference's kept doc is nondeterministic
    insert order — SURVEY.md §2.5 Q2-note — so either member is legal.)"""
    o = _oracle_pairs(oracle, q, 10)
    e = _engine_pairs(engine, q, 10)
    assert len(o) == len(e), f"q={q!r}: oracle {len(o)} rows, engine {len(e)}"
    o_scores = sorted(s for _, s in o)
    e_scores = sorted(s for _, s in e)
    for a, b in zip(o_scores, e_scores):
        assert abs(a - b) < 1e-9, f"q={q!r}: score multiset differs: {a} vs {b}"
    if not o:
        return
    boundary = max(o_scores)  # worst kept score (ascending rank = best first)
    o_strict = {d for d, s in o if s < boundary - 1e-9}
    e_strict = {d for d, s in e if s < boundary - 1e-9}
    assert o_strict == e_strict, f"q={q!r}: non-boundary membership differs"


@pytest.mark.parametrize(
    "q", [x["query"] for x in QUERIES if x["expect_error"]], ids=lambda q: repr(q)[:30]
)
def test_syntax_errors_raise(engine, oracle, q):
    with pytest.raises(sqlite3.OperationalError):
        oracle.search(q)
    with pytest.raises(QuerySyntaxError):
        engine.search(q, with_snippets=False).collect()


def test_empty_query_empty_result(engine):
    assert engine.search("", with_snippets=False).count() == 0
    assert engine.search("   ", with_snippets=False).count() == 0


# r3 grammar completion: column sets over NEAR groups and parenthesized
# exprs (every form probe-verified against FTS5 in this session)
COLSET_GRAMMAR_QUERIES = [
    "text:NEAR(renal failure, 4)",
    "-text:NEAR(renal failure, 4)",
    "{text}:NEAR(renal failure, 4)",
    "-{text}:NEAR(renal failure, 4)",
    "file_id:NEAR(renal failure, 4)",
    "text:(renal OR failure)",
    "-text:(renal failure)",
    "text:(NEAR(renal failure, 3))",
    "file_id:(text:renal)",     # nested colsets INTERSECT -> matches nothing
    "text:(renal*)",
    "text:(^renal)",
    "text:NEAR(renal failure, 2) hypertension",  # NEAR juxtaposes after
    "renal NOT NEAR(renal failure, 3)",          # NEAR under NOT (rhs)
    "NEAR(renal failure, 3) NOT hypertension",   # NEAR under NOT (lhs)
]


@pytest.mark.parametrize("q", COLSET_GRAMMAR_QUERIES, ids=lambda q: repr(q)[:40])
def test_colset_groups_rank_identical(engine, oracle, q):
    _assert_rank_identical(
        _oracle_pairs(oracle, q, 200), _engine_pairs(engine, q, 200), q
    )


COLSET_GRAMMAR_ERRORS = [
    "NEAR(text:renal failure, 4)",   # colset inside NEAR
    "NEAR(^renal failure, 4)",       # anchor inside NEAR
    "^text:renal",                   # anchor BEFORE colset (legal: text:^a)
    "text:(renal) failure",          # colset-group cannot juxtapose (rhs)
    "renal text:(failure)",          # ... or follow a phrase (lhs)
    "text:(renal) NEAR(failure renal, 2)",
    "text:()",
    "text:(renal",
    "bogus:NEAR(renal failure, 2)",
]


@pytest.mark.parametrize("q", COLSET_GRAMMAR_ERRORS, ids=lambda q: repr(q)[:40])
def test_colset_group_errors_raise(engine, oracle, q):
    with pytest.raises(sqlite3.OperationalError):
        oracle.search(q)
    with pytest.raises(QuerySyntaxError):
        engine.search(q, with_snippets=False).collect()


@pytest.mark.parametrize(
    "q",
    [
        "renal failure",           # a-priori conjunction
        "hypertension",            # plain term
        "text:hypertension",       # column term
        '"renal failure"',         # phrase
        "data*",                   # prefix
        "^guation",                # anchor
        "NEAR(renal failure, 3)",  # a-priori NEAR
        '"renal failure" hypertension',  # df pass, which no book filter narrows
        "renal NOT failure OR study",
    ],
    ids=lambda q: repr(q)[:30],
)
def test_book_filter(engine, oracle, q):
    """Intended Q6 semantics: restrict scoring to the given doc ids. The
    ids are the unfiltered result's worst-ranked docs, so a filter applied
    after any group's top-k cut, rather than before it, would lose them."""
    ranked = sorted(_oracle_pairs(oracle, q, 200), key=lambda p: (p[1], p[0]))
    if len(ranked) < 4:
        pytest.skip("fixture too small for filter test")
    book_ids = [d for d, _ in ranked[-2:]]
    o = _oracle_pairs(oracle, q, 2, book_ids=book_ids)
    e = _engine_pairs(engine, q, 2, book_ids=book_ids)
    _assert_rank_identical(o, e, q)
    assert {d for d, _ in e} == set(book_ids)


def test_search_batch_matches_per_query(engine, oracle):
    """search_batch (one shard-scan job for ALL queries) must return the
    same per-query top-k as the sequential engine / the FTS5 oracle."""
    qs = [x["query"] for x in QUERIES if not x["expect_error"]]
    out = engine.search_batch(qs, k=10)
    by_q: dict[int, list] = {}
    for r in out.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in enumerate(qs):
        if not q.strip():
            assert qid not in by_q
            continue
        o = _oracle_pairs(oracle, q, 10)
        got = sorted((d, s) for _rk, d, s in by_q.get(qid, []))
        # same tie-tolerant contract as test_rank_identical_k10
        o_scores = sorted(s for _, s in o)
        g_scores = sorted(s for _, s in got)
        assert len(o) == len(got), f"q={q!r}: {len(o)} vs {len(got)}"
        for a, b in zip(o_scores, g_scores):
            assert abs(a - b) < 1e-9, f"q={q!r}"
        if o:
            boundary = max(o_scores)
            assert {d for d, s in o if s < boundary - 1e-9} == {
                d for d, s in got if s < boundary - 1e-9
            }, f"q={q!r}"


def test_search_batch_syntax_error_raises(engine):
    from pdfsearch_spark.query.parser import QuerySyntaxError

    with pytest.raises(QuerySyntaxError):
        engine.search_batch(["renal", 'bad"'], k=5)


def test_result_shape_and_join(engine, corpus_pdf):
    """Result schema matches SearchResult; base_name comes from the
    broadcast-joined documents table (Q4)."""
    df = engine.search("hypertension", k=10, with_snippets=False)
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "part", "title", "text", "base_name", "score",
    ]
    rows = df.collect()
    assert rows, "head term should hit"
    by_url = {fnv1_64_signed(u): u.rsplit("/", 1)[-1] for u in corpus_pdf["url"]}
    for r in rows:
        assert r["base_name"] == by_url[r["doc_id"]]
        assert r["part"] == 0


@pytest.mark.parametrize("q", ["b*", "s* OR r*", '"renal f*"', "NEAR(run d*, 5)"])
def test_high_fanout_prefix_rank_identical(engine, oracle, q):
    """Web-scale prefix shapes: single-letter prefixes expand to a large
    slice of the vocabulary. The engine must stay rank-identical WITHOUT any
    driver-side expansion — since round 2 the prefix predicate pushes into
    the postings scan (search.SearchEngine._scan_predicate) and expansion
    happens per shard (scorer.score_shard); there is no driver expansion
    path left (SearchEngine has no _expand_prefix / _prefix_cache)."""
    assert not hasattr(engine, "_expand_prefix")
    assert not hasattr(engine, "_prefix_cache")
    _assert_rank_identical(
        _oracle_pairs(oracle, q, 200), _engine_pairs(engine, q, 200), q
    )


@pytest.mark.parametrize(
    "values",
    [["a'b"], ["c\\d"], ["naïve"], ["漢字"], ["a'b", "c\\d", "naïve", "漢字"],
     [-(2**63)], [2**63 - 1], [-1], [0], [-(2**63), 2**63 - 1, -1, 0]],
    ids=repr,
)
def test_sql_in_selects_exactly_the_listed_rows(spark, values):
    """``search._sql_in`` renders each literal so that the filter keeps
    exactly the rows it lists: quotes and backslashes escaped, non-ASCII
    text verbatim, both ends of the bigint range."""
    from pdfsearch_spark.search import _sql_in

    if isinstance(values[0], str):
        col, ddl = "term", "term string"
        rows = ["a'b", "c\\d", "naïve", "漢字", "ab", "a", "c\\\\d", "naive", "漢"]
    else:
        col, ddl = "doc_id", "doc_id long"
        rows = [-(2**63), 2**63 - 1, -1, 0, 1, -(2**63) + 1, 2**63 - 2]
    df = spark.createDataFrame([(v,) for v in rows], ddl)
    got = sorted(r[0] for r in df.filter(_sql_in(col, values)).collect())
    assert got == sorted(values)


def test_engine_never_renders_an_empty_in_list(engine, monkeypatch):
    """``IN ()`` does not parse: ``_sql_in`` refuses an empty list, and no
    engine path builds one — prefix-only, zero-hit, cached-df, NEAR, batch
    and book-filtered queries included."""
    from pdfsearch_spark import search as search_mod

    with pytest.raises(ValueError):
        search_mod._sql_in("term", [])
    lists = []
    real = search_mod._sql_in

    def recording(col, values):
        lists.append((col, list(values)))
        return real(col, values)

    monkeypatch.setattr(search_mod, "_sql_in", recording)
    for q in ["data*", "qqzxjvvk", "renal failure", "renal failure", "NEAR(renal failure, 3)"]:
        engine.search(q, k=10).collect()
    books = engine.search("hypertension", k=3, with_snippets=False).collect()
    engine.search("renal", k=10, book_ids=[r["doc_id"] for r in books]).collect()
    engine.search_batch(["s* OR r*", "", "renal OR failure", "qqzxjvvk"], k=10).collect()
    assert lists and all(values for _, values in lists), lists


def test_last_trace_times_every_step(engine):
    """``SearchEngine.last_trace`` holds the wall seconds of each step of
    the last ``search``; the steps are consecutive, so they sum to no more
    than the call's wall time."""
    steps = ["parse", "shard_pass", "merge", "doc_lookup", "snippets", "assemble"]
    for q in ["hypertension", "NEAR(renal failure, 3)"]:
        for with_snippets in (True, False):
            t0 = time.perf_counter()
            engine.search(q, k=20, with_snippets=with_snippets)
            wall = time.perf_counter() - t0
            trace = engine.last_trace
            assert list(trace) == steps, (q, trace)
            assert all(s >= 0 for s in trace.values()), trace
            assert sum(trace.values()) <= wall, (trace, wall)
