"""FTS5 ``snippet()`` re-implementation, byte-identical to the oracle.

The reference calls snippet() twice per result row: N=16 -> title, N=60 ->
text (the reference's database/database.go:180-181). The algorithm below is
the documented SQLite fts5_aux.c snippet behavior (public SQLite source),
re-derived and golden-tested against the in-process FTS5 oracle:

1. Candidate windows: for every phrase-instance position ``io``, score the
   n-token window [io, io+n): the first in-window instance of each distinct
   phrase scores 1000, repeats 1. The window is then re-centered on its
   matches: start = iFirst - (n - (iLast-iFirst))/2, clamped to the document.
2. Sentence-boundary candidates: windows starting at a "sentence start" (token
   0, or a token whose preceding non-{space,tab,nl,cr} char is '.' or ':')
   get +100 (+120 at doc start) and are NOT re-centered.
3. Highest score wins (strictly-greater comparisons keep the earliest).
4. Rendering copies the ORIGINAL bytes from the start offset of the first
   window token; overlapping phrase instances are merged and wrapped in
   <b>...</b>; '...' is prepended when the window doesn't start at
   token 0 and appended unless the window reaches the last token, in which
   case the raw tail of the document (trailing separators included) is
   emitted instead.

``snippet_pair`` makes both snippets of one result doc in one pass, on the
driver, over the <= k emitted rows (search.SearchEngine._snippet_pair). It
tokenizes the doc once: ``str.translate`` maps it to a length-preserving
separator mask, ``re`` finds the token runs in the mask, and each run is
folded with the analyzer's unicode61 tables and stemmed through its memo,
so the token list is ``analyzer.tokenize``'s with char offsets. That one
token list and one sentence-start list feed the highlight plan and both
windows. ``snippet_plan`` and ``make_snippet`` are thin wrappers over the
same internals for callers that want the plan and each window separately.
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right

from ..analyzer import _stem_cached, _tables

TITLE_TOKENS = 16  # snippet(…, 16): the reference's title column
BODY_TOKENS = 60  # snippet(…, 60): the reference's text column

_TOKEN_RUN = re.compile(r"[^ ]+")
# '.' or ':' then at least one space/tab/newline/cr: a token that starts
# where such a gap ends starts a sentence (fts5SentenceFinderCb)
_SENTENCE_GAP = re.compile(r"[.:][ \t\n\r]+")


class _MaskMap(dict):
    """Lazy codepoint → one-char map for str.translate: separator → ' ',
    token char → 'x'. The fold map sends a char to 0 or 1 chars, so only
    this length-preserving mask locates the token runs in the original
    text. Misses consult the fold map once and are cached."""

    def __missing__(self, cp: int) -> str:
        v = " " if _tables()[cp] == " " else "x"
        self[cp] = v
        return v


_MASK = _MaskMap()


def tokenize_offsets(text: str) -> list[tuple[str, int, int]]:
    """(stemmed_term, start_char, end_char) per token: the sequence of
    ``analyzer.tokenize(text)``, each token with its span in ``text``."""
    fold = _tables()
    out: list[tuple[str, int, int]] = []
    for m in _TOKEN_RUN.finditer(text.translate(_MASK)):
        i, j = m.span()
        term = text[i:j].translate(fold)
        if term:  # a run whose chars all fold away is no token
            out.append((_stem_cached(term), i, j))
    return out


def find_phrase_instances(
    terms: list[str], phrase_slots: list[list[frozenset[str]]], anchored: list[bool]
) -> list[list[tuple[int, int]]]:
    """Per phrase: list of (start_tok, end_tok_exclusive) instances."""
    out: list[list[tuple[int, int]]] = []
    nt = len(terms)
    for slots, anc in zip(phrase_slots, anchored):
        first, rest = slots[0], list(enumerate(slots[1:], start=1))
        L = len(slots)
        starts = range(min(1, nt - L + 1)) if anc else range(nt - L + 1)
        out.append([
            (s, s + L)
            for s in starts
            if terms[s] in first and all(terms[s + j] in slot for j, slot in rest)
        ])
    return out


def _sentence_starts(text: str, toks: list[tuple[str, int, int]]) -> list[int]:
    """fts5SentenceFinderCb: token 0, plus tokens whose preceding
    non-{space,tab,newline,cr} char (with at least one such separator
    skipped) is '.' or ':'."""
    if not toks:
        return []
    gap_ends = {m.end() for m in _SENTENCE_GAP.finditer(text)}
    return [0] + [pos for pos in range(1, len(toks)) if toks[pos][1] in gap_ends]


def _trunc_div2(d: int) -> int:
    """C integer division by 2 (truncates toward zero)."""
    return d // 2 if d >= 0 else -((-d) // 2)


def _xinst(per_phrase: list[list[tuple[int, int]]]) -> list[tuple[int, int, int]]:
    """xInst order: (start, phrase_idx, end_excl) by position, phrase index
    as tiebreak."""
    return sorted((s, pi, e) for pi, inst in enumerate(per_phrase) for (s, e) in inst)


def _window_start(
    instances: list[tuple[int, int, int]], a_first: list[int], n: int, n_docsize: int
) -> int:
    """fts5SnippetFunction's choice of the first token of the n-token
    window: the best of every instance-centered window and every
    sentence-start window (fts5SnippetScore)."""
    ios = [io for io, _, _ in instances]

    def in_window(i_pos: int) -> list[tuple[int, int, int]]:
        # the instances with i_pos <= io < i_pos + n, in xInst order
        return instances[bisect_left(ios, i_pos) : bisect_left(ios, i_pos + n)]

    def score(win: list[tuple[int, int, int]]) -> int:
        # 1000 for each phrase's first instance, 1 for each repeat
        distinct = len({ip for _, ip, _ in win})
        return 999 * distinct + len(win)

    best_score = 0
    best_start = 0
    for io in ios:
        win = in_window(io)
        s = score(win)
        if s > best_score:
            i_first, i_last = win[0][0], win[-1][2]
            i_adj = i_first - _trunc_div2(n - (i_last - i_first))
            best_score, best_start = s, max(min(i_adj, n_docsize - n), 0)
        if n_docsize > n:
            first = a_first[bisect_right(a_first, io) - 1]  # last start <= io
            if first < io:
                s2 = score(in_window(first)) + (120 if first == 0 else 100)
                if s2 > best_score:
                    best_score, best_start = s2, first
    return best_start


def _render(
    text: str,
    toks: list[tuple[str, int, int]],
    instances: list[tuple[int, int, int]],
    i_range_start: int,
    n: int,
) -> str:
    n_docsize = len(toks)
    i_range_end = i_range_start + n - 1

    # CInstIter: merge instances overlapping in token space (inclusive ends)
    merged: list[list[int]] = []
    for io, _ip, ie in instances:
        e_incl = ie - 1
        if merged and io <= merged[-1][1]:
            if e_incl > merged[-1][1]:
                merged[-1][1] = e_incl
        else:
            merged.append([io, e_incl])
    # skip instances that ended before the range
    it = 0
    while it < len(merged) and merged[it][1] < i_range_start:
        it += 1

    out: list[str] = []
    if i_range_start > 0:
        out.append("...")
    i_off = toks[i_range_start][1] if i_range_start else 0
    for i_pos in range(i_range_start, min(i_range_end, n_docsize - 1) + 1):
        _t, c0, c1 = toks[i_pos]
        cur = merged[it] if it < len(merged) else (-1, -2)
        if i_pos == cur[0]:
            out.append(text[i_off:c0])
            out.append("<b>")
            i_off = c0
        if i_pos == cur[1]:
            if cur[0] < i_range_start:
                out.append("<b>")
            out.append(text[i_off:c1])
            out.append("</b>")
            i_off = c1
            it += 1
            cur = merged[it] if it < len(merged) else (-1, -2)
        if i_pos == i_range_end:
            out.append(text[i_off:c1])
            i_off = c1
            if cur[0] <= i_pos < cur[1]:
                out.append("</b>")
    if i_range_end >= n_docsize - 1:
        out.append(text[i_off:])
    else:
        out.append("...")
    return "".join(out)


def _snippet(
    text: str,
    toks: list[tuple[str, int, int]],
    a_first: list[int],
    instances: list[tuple[int, int, int]],
    n: int,
) -> str:
    return _render(text, toks, instances, _window_start(instances, a_first, n, len(toks)), n)


def make_snippet(
    text: str,
    phrase_slots: list[list[frozenset[str]]],
    anchored: list[bool],
    n: int,
    *,
    per_phrase: list[list[tuple[int, int]]],
) -> str:
    """FTS5 snippet(…, '<b>', '</b>', '...', n) of ``text`` around the
    phrase instances ``per_phrase`` (snippet_plan's visible instances).
    ``phrase_slots`` and ``anchored`` are not read; they stay only for
    perfbench's snippet probe, which passes them positionally."""
    toks = tokenize_offsets(text)
    return _snippet(text, toks, _sentence_starts(text, toks), _xinst(per_phrase), n)


class PrefixSet:
    """Set-like slot matcher for prefix phrases: contains every term starting
    with ``prefix``. Lets the snippet path highlight ``pref*`` matches in the
    ≤k emitted rows without anyone materializing the full vocabulary
    expansion (at web scale ``a*`` expands to millions of terms; the slot
    test only ever asks membership of the ≤dl tokens of one document)."""

    __slots__ = ("prefix",)

    def __init__(self, prefix: str) -> None:
        self.prefix = prefix

    def __contains__(self, term: object) -> bool:
        return isinstance(term, str) and term.startswith(self.prefix)


def phrase_slot_table(phrases, expansions) -> tuple[list, list]:
    """Per-slot allowed-term sets + anchored flags, aligned to phrase INDEX
    (an unindexed-column phrase gets an impossible slot so indexes line up).
    A prefix phrase without a driver-materialized expansion list gets a
    PrefixSet matcher instead."""
    slots_list: list[list[frozenset[str]]] = []
    anchored: list[bool] = []
    for p in sorted(phrases, key=lambda p: p.index):
        if p.col == "unindexed":
            slots_list.append([frozenset()])
            anchored.append(False)
            continue
        slots = [frozenset([t]) for t in p.terms]
        if p.prefix:
            exp = expansions.get(p.index)
            slots[-1] = frozenset(exp) if exp is not None else PrefixSet(p.terms[-1])
        slots_list.append(slots)
        anchored.append(p.anchored)
    return slots_list, anchored


def _visible_instances(
    tree, slots_list, anchored, terms: list[str]
) -> tuple[list[int], list[list[tuple[int, int]]]]:
    """The indexes of the phrases FTS5's snippet() highlights in this row,
    and every phrase's instances among ``terms`` (NEAR-filtered).

    Two FTS5 behaviors reproduced here (both fuzz-found):
    - a phrase is highlighted only when its subtree CONTRIBUTES under the
      boolean tree — same visibility rule the scorer applies to tf (an OR
      branch whose AND fails contributes nothing even if the term is
      present: '(a OR b) AND c OR d');
    - under NEAR, only PARTICIPATING instances are highlighted (an
      instance outside every valid near-combination is not marked).
    Reuses scorer.evaluate over a one-row frame and the scorer's
    near_surviving, so snippets can never drift from scoring semantics."""
    import numpy as np

    from .scorer import PhraseHits, evaluate, near_surviving

    per_phrase = find_phrase_instances(terms, slots_list, anchored)
    P = len(slots_list)
    cand = np.zeros(1, dtype=np.int64)
    tf_matrix = np.array([[len(inst) for inst in per_phrase]], dtype=np.int64)
    present = {pi: tf_matrix[0, pi:pi + 1] > 0 for pi in range(P)}
    # one doc, rank 0: each phrase's instance starts are its keys
    hits = {
        pi: PhraseHits(cand, tf_matrix[0, pi:pi + 1], cand,
                       np.array([s for s, _ in per_phrase[pi]], dtype=np.int64))
        for pi in range(P)
    }
    phrase_lens = {pi: len(slots_list[pi]) for pi in range(P)}
    mask, vis = evaluate(tree, hits, tf_matrix, present, phrase_lens)
    if not mask[0]:
        # shouldn't happen for a returned result row; highlight everything
        # as a conservative fallback
        visible = list(range(P))
    else:
        visible = [pi for pi in range(P) if vis[0, pi] > 0]

    # NEAR participation filter
    def walk(node):
        if node.op == "NEAR":
            pis = [c.phrase.index for c in node.children]
            if all(per_phrase[pi] for pi in pis):
                surv = near_surviving(
                    [hits[pi].starts for pi in pis], [phrase_lens[pi] for pi in pis], node.near_n
                )
                for j, pi in enumerate(pis):
                    per_phrase[pi] = [
                        inst for ok, inst in zip(surv[j].tolist(), per_phrase[pi]) if ok
                    ]
            return
        for c in node.children:
            walk(c)

    walk(tree)
    return visible, per_phrase


def snippet_plan(
    tree, slots_list, anchored, text: str
) -> tuple[list, list, list]:
    """Per-doc highlight plan: (slots, anchored, instances) for exactly the
    phrase instances FTS5's snippet() marks in THIS row (see
    ``_visible_instances``)."""
    keep, per_phrase = _visible_instances(
        tree, slots_list, anchored, [t for t, _, _ in tokenize_offsets(text)]
    )
    return (
        [slots_list[i] for i in keep],
        [anchored[i] for i in keep],
        [per_phrase[i] for i in keep],
    )


def snippet_pair(text: str, tree, slots_list, anchored) -> tuple[str, str]:
    """(title, body): FTS5 snippet(…, 16) and snippet(…, 60) of one result
    doc. One tokenization and one sentence-start list feed the highlight
    plan and both windows."""
    toks = tokenize_offsets(text)
    keep, per_phrase = _visible_instances(
        tree, slots_list, anchored, [t for t, _, _ in toks]
    )
    instances = _xinst([per_phrase[i] for i in keep])
    a_first = _sentence_starts(text, toks)
    return (
        _snippet(text, toks, a_first, instances, TITLE_TOKENS),
        _snippet(text, toks, a_first, instances, BODY_TOKENS),
    )
