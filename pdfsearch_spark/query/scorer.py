"""Per-(segment, shard) BM25 match + score engine (runs inside the query's
one exchange-free mapInPandas pass, search.SearchEngine._shard_pass).

Scoring model, probe-verified against FTS5 (scripts/dev_probe_fts5.py,
SURVEY.md §2.5 Q2):

  score(doc) = − Σ_phrases idf_p · tf_vis·(k1+1) / (tf_vis + k1·(1−b+b·dl/avgdl))
  idf_p = ln((N − df_p + 0.5)/(df_p + 0.5)), clamped to 1e-6 when ≤ 0
  k1 = 1.2, b = 0.75; N and avgdl include zero-token docs

- df_p is the phrase's GLOBAL, modifier-aware doc frequency: the plain terms
  of a several-term a-priori query use the postings-derived dictionary; any
  other phrase (a lone term included) counts docs with ≥1 instance of the
  phrase alone, independent of the boolean tree, summed over the groups.
- tf_vis = instances visible under the matched tree: an OR branch that
  doesn't match contributes 0; NOT-excluded branches contribute nothing;
  anchored phrases count only position-0 instances.

Execution: one (segment, shard) at a time — every term's postings for a
doc live in the segment it arrived in and in its shard, so boolean
evaluation completes there and one term never has two posting lists to
merge. ``score_shard`` matches every doc and never prunes: like FTS5, the
engine scores every hit (``bm25_scores``, vectorized over the group's
matches). When the dfs are known a priori the group keeps its top-k at the
true idfs; a one-phrase query's group keeps its top-k by the idf-free
score (bm25_scores at idf 1) and sends it with one df row; otherwise its
matched rows and one df sentinel row leave, and the matches are cut per
partition once the sentinels are summed. The driver scores the rows it
collects (search.SearchEngine._execute).

``wand_shard_topk`` (block-max WAND) is no longer on the engine's path: it
lost to the exhaustive scan in every measured shape and stays only for
perfbench's scorer probe.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..codec import (
    decode_block_doc_ids,
    decode_block_positions,
    decode_block_u64,
    decode_dls,
    decode_doc_ids,
    decode_tfs,
)
from .parser import Node, Phrase

K1 = 1.2
B = 0.75

# the postings columns PostingList reads: the engine's shard-pass scan
# selects only these (plus segment and shard)
POSTING_COLUMNS = (
    "term", "df", "block_lens", "doc_blob", "tf_blob", "dl_blob", "pos_blob", "pos_offs",
)


class PostingList:
    """One posting row — one term's postings in one (segment, shard) —
    read lazily from the codec's independently decodable 128-doc blocks
    (codec.py). Each read decodes only what it is asked for, once:
    ``whole()`` the full doc/tf/dl lists (the engine's matching),
    ``block(i)`` one block's (perfbench's block-max WAND probe only),
    ``positions(idxs)`` the position blocks holding the
    given list indexes (phrases, anchors, NEAR) — positions live in a
    separate stream so plain terms never pay their decode (SURVEY.md
    §7.8-4)."""

    __slots__ = ("row", "df", "n_blocks", "_ends", "_whole", "_blocks", "_pos")

    def __init__(self, row) -> None:
        self.row = row
        self.df = int(row.df)
        self.n_blocks = len(row.block_lens)
        self._ends: np.ndarray | None = None  # cumulative block lengths
        self._whole: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None
        self._blocks: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        self._pos: dict[int, list[np.ndarray]] = {}

    def whole(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(doc_ids, tfs, dls) of the whole list, doc ids sorted."""
        if self._whole is None:
            r = self.row
            self._whole = (
                decode_doc_ids(r.doc_blob, list(r.block_lens)),
                decode_tfs(r.tf_blob),
                decode_dls(r.dl_blob),
            )
        return self._whole

    def block(self, i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(doc_ids, tfs, dls) of block ``i`` alone."""
        b = self._blocks.get(i)
        if b is None:
            r, n = self.row, int(self.row.block_lens[i])
            b = self._blocks[i] = (
                decode_block_doc_ids(r.doc_blob, r.doc_offs[i], n),
                decode_block_u64(r.tf_blob, r.tf_offs[i], n),
                decode_block_u64(r.dl_blob, r.dl_offs[i], n),
            )
        return b

    def blocks_concat(self, j0: int, j1: int):
        parts = [self.block(j) for j in range(j0, j1)]
        if len(parts) == 1:
            return parts[0]
        return tuple(np.concatenate([p[c] for p in parts]) for c in range(3))

    def positions(self, idxs) -> list[np.ndarray]:
        """Token positions of the docs at list indexes ``idxs``."""
        r = self.row
        if self._ends is None:
            self._ends = np.cumsum(np.asarray(r.block_lens, dtype=np.int64))
        idxs = np.asarray(idxs, dtype=np.int64)
        blocks = np.searchsorted(self._ends, idxs, side="right")
        out: list[np.ndarray] = []
        for i, b in zip(idxs.tolist(), blocks.tolist()):
            blk = self._pos.get(b)
            if blk is None:
                offs = r.pos_offs
                end = offs[b + 1] if b + 1 < len(offs) else len(r.pos_blob)
                blk = self._pos[b] = decode_block_positions(
                    r.pos_blob, offs[b], end, int(r.block_lens[b])
                )
            block_start = int(self._ends[b]) - len(blk)
            out.append(blk[i - block_start])
        return out


def postings_by_term(rows) -> dict[str, PostingList]:
    """{term: PostingList} over the posting rows of ONE (segment, shard).
    A doc's postings all live in the segment it arrived in, so a query
    evaluates each segment on its own and never merges one term's lists;
    a repeated term means the rows span segments, and raises ValueError."""
    out: dict[str, PostingList] = {}
    for r in rows.itertuples():
        if r.term in out:
            raise ValueError(
                f"term {r.term!r} repeats: posting rows span more than one segment"
            )
        out[r.term] = PostingList(r)
    return out


@dataclass
class PhraseHits:
    """Per-(segment, shard) instance data for one phrase: sorted doc ids,
    visible instance counts, dl per doc, and (optional) instance start
    positions.
    ``lazy`` defers position decode for single-term phrases under NEAR —
    _near_eval fetches only the blocks of docs where every NEAR phrase is
    present."""

    doc_ids: np.ndarray
    counts: np.ndarray
    dls: np.ndarray
    positions: list[np.ndarray] | None  # start positions per doc
    lazy: PostingList | None = None

    @staticmethod
    def empty() -> "PhraseHits":
        z = np.zeros(0, dtype=np.int64)
        return PhraseHits(z, z.copy(), z.copy(), [])


def _union_positions(arrs: list[np.ndarray]) -> np.ndarray:
    if len(arrs) == 1:
        return arrs[0]
    return np.unique(np.concatenate(arrs))


def phrase_hits(
    lists: dict[str, PostingList], phrase: Phrase, need_positions: bool
) -> PhraseHits:
    """Instances of one phrase in one (segment, shard), modifier-aware and
    tree-independent. A prefix slot expands against the group's own posting
    lists: the postings scan already kept only exact and prefix-matching
    terms, so this is the expansion ∩ group, and the driver never
    materializes a web-scale-vocabulary expansion. ``need_positions``: the
    phrase sits under NEAR, which reads its instance positions."""
    if phrase.col == "unindexed":
        return PhraseHits.empty()

    # resolve postings, fail fast on missing exact terms; a prefix occupies
    # the LAST slot of the phrase, preceding terms are exact
    exact_terms = phrase.terms[:-1] if phrase.prefix else phrase.terms
    slots: list[PostingList | list[PostingList]] = []
    for t in exact_terms:
        pl = lists.get(t)
        if pl is None:
            return PhraseHits.empty()
        slots.append(pl)
    if phrase.prefix:
        pref = phrase.terms[-1]
        pls = [pl for t, pl in lists.items() if t.startswith(pref)]
        if not pls:
            return PhraseHits.empty()
        slots.append(pls)

    positional = len(slots) > 1 or phrase.anchored
    if not positional and not phrase.prefix:
        # positions deferred: only a NEAR evaluation consumes them, and it
        # knows the candidate set — let it fetch just those docs' blocks
        pl = slots[0]
        return PhraseHits(*pl.whole(), None, pl if need_positions else None)

    # Merge the prefix slot into a virtual term: union docs; per doc union
    # positions / sum tfs. Plain-term slots stay PostingLists so the
    # positional branch below fetches their position blocks for the
    # intersection docs only.
    def slot_data(slot):
        if isinstance(slot, PostingList):
            return (*slot.whole(), slot)
        all_docs = _union_positions([s.whole()[0] for s in slot])
        tfs = np.zeros(len(all_docs), dtype=np.int64)
        dls = np.zeros(len(all_docs), dtype=np.int64)
        pos = [[] for _ in range(len(all_docs))] if positional or need_positions else None
        for s in slot:
            s_docs, s_tfs, s_dls = s.whole()
            loc = np.searchsorted(all_docs, s_docs)
            tfs[loc] += s_tfs
            dls[loc] = s_dls
            if pos is not None:
                for j, arr in zip(loc, s.positions(range(len(s_docs)))):
                    pos[j].append(arr)
        merged_pos = None if pos is None else [_union_positions(p) for p in pos]
        return all_docs, tfs, dls, merged_pos

    slots_d = [slot_data(s) for s in slots]
    if not positional:
        return PhraseHits(*slots_d[0])

    # positional evaluation needed (multi-term adjacency and/or anchor):
    # positions are fetched ONLY for the doc-id intersection — block-lazy
    # for plain-term slots, so a phrase over two huge posting lists decodes
    # a handful of position blocks instead of both whole streams
    docs_common = slots_d[0][0]
    for s in slots_d[1:]:
        docs_common = np.intersect1d(docs_common, s[0], assume_unique=True)
    if len(docs_common) == 0:
        return PhraseHits.empty()

    locs = [np.searchsorted(s[0], docs_common) for s in slots_d]
    slot_pos: list[list[np.ndarray]] = []
    for si, s in enumerate(slots_d):
        prov = s[3]
        if isinstance(prov, PostingList):
            slot_pos.append(prov.positions(locs[si]))
        else:
            slot_pos.append([prov[j] for j in locs[si]])

    out_docs, out_counts, out_dls, out_pos = [], [], [], []
    for ci, doc in enumerate(docs_common):
        inter = slot_pos[0][ci]
        ok = True
        for si in range(1, len(slots_d)):
            p = slot_pos[si][ci]
            inter = np.intersect1d(inter, p - si, assume_unique=True)
            if len(inter) == 0:
                ok = False
                break
        if not ok:
            continue
        if phrase.anchored:
            inter = inter[inter == 0]
            if len(inter) == 0:
                continue
        out_docs.append(doc)
        out_counts.append(len(inter))
        out_dls.append(slots_d[0][2][locs[0][ci]])
        out_pos.append(inter)
    if not out_docs:
        return PhraseHits.empty()
    return PhraseHits(
        np.array(out_docs, dtype=np.int64),
        np.array(out_counts, dtype=np.int64),
        np.array(out_dls, dtype=np.int64),
        out_pos,
    )


def _near_eval(
    hits: list[PhraseHits],
    cand: np.ndarray,
    locs: list[np.ndarray],
    present: list[np.ndarray],
    phrase_lens: list[int],
    near_n: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-candidate NEAR evaluation.

    Probe-verified semantics (scripts/dev_probe_fts5.py + micro-probe): a doc
    matches if there exists one instance per phrase with ≤ near_n tokens
    between the two furthest-apart instances, and the visible tf of each
    phrase counts ONLY instances that participate in at least one valid
    combination. Exact pairwise rule for 2 phrases; bounded brute force for
    k>2 (falls back to all-instances when the combination count explodes —
    FTS5 queries with >2 NEAR phrases and huge tfs are pathological).

    Returns (mask, counts[len(cand) × n_phrases_in_near]).
    """
    k = len(hits)
    mask = np.zeros(len(cand), dtype=bool)
    counts = np.zeros((len(cand), k), dtype=np.int64)
    # prefetch deferred positions for the candidate rows only (docs where
    # EVERY NEAR phrase is present) — block-lazy decode, see PhraseHits.lazy
    all_present = np.logical_and.reduce(present) if present else np.zeros(0, bool)
    cand_rows = np.flatnonzero(all_present)
    pos_by_phrase: list[list] = []
    for j, h in enumerate(hits):
        if h.positions is None and h.lazy is not None:
            fetched = h.lazy.positions(locs[j][cand_rows])
            plist: list = [None] * (len(h.doc_ids) or 1)
            for r, arr in zip(locs[j][cand_rows], fetched):
                plist[r] = arr
            pos_by_phrase.append(plist)
        else:
            pos_by_phrase.append(h.positions)
    for i in range(len(cand)):
        if not all(p[i] for p in present):
            continue
        spans = []
        for j, h in enumerate(hits):
            starts = np.asarray(pos_by_phrase[j][locs[j][i]], dtype=np.int64)
            ends = starts + (phrase_lens[j] - 1)
            spans.append((starts, ends))
        surviving = near_surviving(spans, near_n)
        if any(s.any() for s in surviving):
            mask[i] = True
            for j in range(k):
                counts[i, j] = int(surviving[j].sum())
    return mask, counts


def near_surviving(
    spans: list[tuple[np.ndarray, np.ndarray]], near_n: int
) -> list[np.ndarray]:
    """Per phrase: boolean mask of instances participating in >=1 valid NEAR
    combination (the instances FTS5 counts for bm25 AND highlights in
    snippets). Exact pairwise rule for 2 phrases; bounded brute force for
    k>2, falling back to all-instances when the combination count explodes."""
    k = len(spans)
    sizes = [len(s[0]) for s in spans]
    if k == 2:
        s0, e0 = spans[0]
        s1, e1 = spans[1]
        # gap(a,b): tokens strictly between the two spans (0 if overlap)
        gap = np.where(
            s1[None, :] > e0[:, None],
            s1[None, :] - e0[:, None] - 1,
            np.where(s0[:, None] > e1[None, :], s0[:, None] - e1[None, :] - 1, 0),
        )
        ok_pairs = gap <= near_n
        return [ok_pairs.any(axis=1), ok_pairs.any(axis=0)]
    total = 1
    for s_ in sizes:
        total *= s_
    if total > 20000:
        return [np.ones(s_, dtype=bool) for s_ in sizes]
    import itertools

    surviving = [np.zeros(s_, dtype=bool) for s_ in sizes]
    for combo in itertools.product(*(range(s_) for s_ in sizes)):
        max_s = max(spans[j][0][c] for j, c in enumerate(combo))
        min_e = min(spans[j][1][c] for j, c in enumerate(combo))
        if max(0, max_s - min_e - 1) <= near_n:
            for j, c in enumerate(combo):
                surviving[j][c] = True
    return surviving


def evaluate(
    node: Node,
    hits_by_phrase: dict[int, PhraseHits],
    cand: np.ndarray,
    tf_matrix: np.ndarray,
    present: dict[int, np.ndarray],
    locs: dict[int, np.ndarray],
    phrase_lens: dict[int, int],
) -> tuple[np.ndarray, np.ndarray]:
    """Recursive tree eval over the candidate doc array.

    Returns (mask, vis) where vis is a (len(cand) × n_phrases) matrix of
    visible instance counts, already zeroed where invisible.
    """
    n = len(cand)
    P = tf_matrix.shape[1]
    if node.op == "PHRASE":
        pi = node.phrase.index
        mask = present[pi]
        vis = np.zeros((n, P), dtype=np.int64)
        vis[:, pi] = tf_matrix[:, pi]
        return mask, vis
    if node.op == "AND":
        m0, v0 = evaluate(node.children[0], hits_by_phrase, cand, tf_matrix, present, locs, phrase_lens)
        m1, v1 = evaluate(node.children[1], hits_by_phrase, cand, tf_matrix, present, locs, phrase_lens)
        mask = m0 & m1
        vis = (v0 + v1) * mask[:, None]
        return mask, vis
    if node.op == "OR":
        m0, v0 = evaluate(node.children[0], hits_by_phrase, cand, tf_matrix, present, locs, phrase_lens)
        m1, v1 = evaluate(node.children[1], hits_by_phrase, cand, tf_matrix, present, locs, phrase_lens)
        return m0 | m1, v0 + v1
    if node.op == "NOT":
        m0, v0 = evaluate(node.children[0], hits_by_phrase, cand, tf_matrix, present, locs, phrase_lens)
        m1, _ = evaluate(node.children[1], hits_by_phrase, cand, tf_matrix, present, locs, phrase_lens)
        mask = m0 & ~m1
        return mask, v0 * mask[:, None]
    if node.op == "NEAR":
        pis = [c.phrase.index for c in node.children]
        h = [hits_by_phrase[pi] for pi in pis]
        mask, counts = _near_eval(
            h,
            cand,
            [locs[pi] for pi in pis],
            [present[pi] for pi in pis],
            [phrase_lens[pi] for pi in pis],
            node.near_n,
        )
        vis = np.zeros((n, P), dtype=np.int64)
        for j, pi in enumerate(pis):
            vis[:, pi] = counts[:, j]
        return mask, vis
    raise ValueError(f"unknown node op {node.op}")


def score_shard(
    posting_rows,
    tree: Node,
    phrases: list[Phrase],
    expansions: dict[int, list[str]],
    n_docs: int,
    avgdl: float,
    dfs: dict[int, int] | None,
    k: int,
):
    """Match the query against one (segment, shard); never scores.

    Returns (matched_docs, dls, tf_vis_matrix, local_dfs), or None when no
    phrase has a hit there. ``local_dfs`` counts, per phrase index, the
    group's docs holding the phrase whatever the tree decides. The
    caller scores the matches with ``bm25_scores`` once idfs are known.
    ``expansions``, ``n_docs``, ``avgdl``, ``dfs`` and ``k`` are not read;
    they stay only for perfbench's scorer probe, which calls score_shard
    with them positionally. Raises ValueError when the rows span more than
    one segment.
    """
    lists = postings_by_term(posting_rows)
    near_pis = _near_phrase_indexes(tree)
    hits = {p.index: phrase_hits(lists, p, p.index in near_pis) for p in phrases}

    nonempty = [h for h in hits.values() if len(h.doc_ids)]
    if not nonempty:
        return None
    cand = _union_positions([h.doc_ids for h in nonempty])
    P = len(phrases)
    tf_matrix = np.zeros((len(cand), P), dtype=np.int64)
    dl = np.zeros(len(cand), dtype=np.int64)
    present: dict[int, np.ndarray] = {}
    locs: dict[int, np.ndarray] = {}
    for pi, h in hits.items():
        loc = np.searchsorted(cand, h.doc_ids)
        m = np.zeros(len(cand), dtype=bool)
        m[loc] = True
        tf_matrix[loc, pi] = h.counts
        dl[loc] = h.dls
        full_loc = np.zeros(len(cand), dtype=np.int64)
        full_loc[loc] = np.arange(len(h.doc_ids))
        present[pi] = m
        locs[pi] = full_loc
    phrase_lens = {p.index: len(p.terms) for p in phrases}

    mask, vis = evaluate(tree, hits, cand, tf_matrix, present, locs, phrase_lens)
    local_dfs = {pi: int(present[pi].sum()) for pi in hits}
    if not mask.any():
        # no whole-tree match in this shard, but per-phrase dfs still count
        # toward the global idf reduce
        z = np.zeros(0, dtype=np.int64)
        return z, z.copy(), np.zeros((0, P), dtype=np.int64), local_dfs

    matched = cand[mask]
    mdl = dl[mask]
    mvis = vis[mask]

    return matched, mdl, mvis, local_dfs


def _near_phrase_indexes(node: Node) -> set[int]:
    """Phrase indexes that appear under a NEAR node (their instance
    positions feed _near_eval even if the phrase itself is a single term)."""
    out: set[int] = set()
    if node.op == "NEAR":
        out.update(c.phrase.index for c in node.children)
    for c in node.children:
        out.update(_near_phrase_indexes(c))
    return out


def bm25_scores(
    vis: np.ndarray, dls: np.ndarray, idfs: np.ndarray, avgdl: float
) -> np.ndarray:
    """FTS5 bm25(): negative scores, idf-clamped, summed in phrase order."""
    denom_dl = K1 * (1.0 - B + B * (dls / max(avgdl, 1e-9)))
    total = np.zeros(len(dls), dtype=np.float64)
    for pi in range(vis.shape[1]):
        tf = vis[:, pi].astype(np.float64)
        contrib = idfs[pi] * tf * (K1 + 1.0) / (tf + denom_dl)
        np.add(total, np.where(tf > 0, contrib, 0.0), out=total)
    return -total


def idf_of(df: int, n_docs: int) -> float:
    import math

    v = math.log((n_docs - df + 0.5) / (df + 0.5))
    return 1e-6 if v <= 0 else v


# ---- block-max WAND (perfbench's scorer probe only) ---------------------


def wand_shard_topk(
    posting_rows,
    phrase_terms: list[str],
    idfs: np.ndarray,
    avgdl: float,
    k: int,
    books: np.ndarray | None = None,
    counters: dict | None = None,
):
    """Block-max WAND top-k for a pure conjunction of plain terms over one
    (segment, shard)'s posting rows (ValueError when they span segments).

    The rarest term drives iteration block by block; every other term
    contributes only the blocks overlapping the pivot block's doc-id
    range. A block is scored only if its upper bound — Σ_t weight_t ·
    block_max_impact_t over the overlapping range — can still beat the
    bounded min-heap's current k-th score; otherwise its bytes are never
    decoded (SURVEY.md §2.5 Q2, north_rule "block-max WAND pruning and a
    bounded min-heap per partition").

    The engine no longer calls it: the exhaustive scan (``score_shard`` +
    ``bm25_scores``) returned the same top-k faster in every measured
    shape. It stays only for perfbench's scorer probe.

    Returns (doc_ids, scores[negative bm25]) of the top-k, or None.
    IDENTICAL results to the exhaustive path by construction: survivors are
    scored through the same ``bm25_scores`` float path (elementwise, so
    per-doc values are bit-equal), and the skip test keeps a relative
    margin so float32 block bounds stay conservative (SURVEY.md §7.8-5).
    ``counters`` (optional) accrues blocks_total / blocks_skipped /
    blocks_dead evidence.
    """
    import heapq

    lists = postings_by_term(posting_rows)
    terms = sorted(set(phrase_terms))
    if any(t not in lists for t in terms):
        return None  # no doc here can hold the conjunction

    # per-distinct-term weight for the upper bound (phrases may repeat terms)
    w: dict[str, float] = {t: 0.0 for t in terms}
    for pi, t in enumerate(phrase_terms):
        w[t] += float(idfs[pi])
    # float32 on disk → widen; the skip test adds a relative margin that
    # more than covers the float32 rounding of the stored bound.
    # Bounds were computed against the avgdl at ENCODE time; if refreshes
    # have since raised the corpus avgdl, every doc's impact grew by at
    # most avgdl_now/enc_avgdl (sup over dl of the denominator ratio), so
    # scaling by max(1, that ratio) keeps the bound conservative.
    impacts: dict[str, np.ndarray] = {}
    for t in terms:
        row = lists[t].row
        enc_avgdl = float(getattr(row, "enc_avgdl", avgdl) or avgdl)
        scale = max(1.0, avgdl / enc_avgdl) if enc_avgdl > 0 else 1.0
        impacts[t] = np.asarray(row.max_impacts, dtype=np.float64) * scale

    pivot = min(terms, key=lambda t: lists[t].df)
    others = [t for t in terms if t != pivot]
    P = len(phrase_terms)
    piv = lists[pivot]
    first_docs = {t: np.asarray(lists[t].row.first_docs, dtype=np.int64) for t in terms}
    last_docs = {t: np.asarray(lists[t].row.last_docs, dtype=np.int64) for t in terms}

    heap: list[tuple[float, int]] = []  # (total, -doc_id) min-heap, size ≤ k
    n_skipped = n_dead = 0
    for i in range(piv.n_blocks):
        lo = first_docs[pivot][i]
        hi = last_docs[pivot][i]  # inclusive block doc range [lo, hi]
        ub = w[pivot] * float(impacts[pivot][i])
        ranges: list[tuple[str, int, int]] = []
        dead = False
        for t in others:
            # blocks of t overlapping [lo, hi]: last_doc ≥ lo ∧ first_doc ≤ hi
            j0 = int(np.searchsorted(last_docs[t], lo, side="left"))
            j1 = int(np.searchsorted(first_docs[t], hi, side="right"))
            if j1 <= j0:
                dead = True
                break
            ranges.append((t, j0, j1))
            ub += w[t] * float(impacts[t][j0:j1].max())
        if dead:
            n_dead += 1
            continue
        if len(heap) >= k and ub * (1.0 + 1e-6) + 1e-9 < heap[0][0]:
            n_skipped += 1
            continue

        docs, tfs, dls = piv.block(i)
        if books is not None:
            sel = np.isin(docs, books)
            if not sel.any():
                continue
            docs, tfs, dls = docs[sel], tfs[sel], dls[sel]
        term_tfs: dict[str, np.ndarray] = {pivot: tfs}
        alive = np.ones(len(docs), dtype=bool)
        for t, j0, j1 in ranges:
            odocs, otfs, _ = lists[t].blocks_concat(j0, j1)
            loc = np.searchsorted(odocs, docs)
            loc_c = np.minimum(loc, len(odocs) - 1)
            hit = odocs[loc_c] == docs
            alive &= hit
            if not alive.any():
                break
            term_tfs[t] = np.where(hit, otfs[loc_c], 0)
        if not alive.any():
            continue
        docs_a = docs[alive]
        vis = np.empty((len(docs_a), P), dtype=np.int64)
        for pi, t in enumerate(phrase_terms):
            vis[:, pi] = term_tfs[t][alive]
        totals = -bm25_scores(vis, dls[alive], np.asarray(idfs, dtype=np.float64), avgdl)
        for d, tot in zip(docs_a.tolist(), totals.tolist()):
            item = (tot, -d)
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)

    if counters is not None:
        counters["blocks_total"] = counters.get("blocks_total", 0) + piv.n_blocks
        counters["blocks_skipped"] = counters.get("blocks_skipped", 0) + n_skipped
        counters["blocks_dead"] = counters.get("blocks_dead", 0) + n_dead
    if not heap:
        return None
    doc_ids = np.array([-d for _, d in heap], dtype=np.int64)
    scores = np.array([-t for t, _ in heap], dtype=np.float64)
    return doc_ids, scores
