"""Per-(segment, shard) BM25 match + score engine (runs inside the query's
one exchange-free mapInPandas pass, search.SearchEngine._shard_pass).

Scoring model, probe-verified against FTS5 (scripts/dev_probe_fts5.py,
SURVEY.md §2.5 Q2):

  score(doc) = − Σ_phrases idf_p · tf_vis·(k1+1) / (tf_vis + k1·(1−b+b·dl/avgdl))
  idf_p = ln((N − df_p + 0.5)/(df_p + 0.5)), clamped to 1e-6 when ≤ 0
  k1 = 1.2, b = 0.75; N and avgdl include zero-token docs

- df_p is the phrase's GLOBAL, modifier-aware doc frequency: the docs with
  ≥1 instance of the phrase alone, independent of the boolean tree (NEAR
  included). The plain terms of a several-phrase query read it from the
  postings-derived dictionary; any other phrase's is counted per group
  (``score_shard``'s local dfs) and summed over the groups.
- tf_vis = instances visible under the matched tree: an OR branch that
  doesn't match contributes 0; NOT-excluded branches contribute nothing;
  anchored phrases count only position-0 instances.

Execution: one (segment, shard) at a time — every term's postings for a
doc live in the segment it arrived in and in its shard, so boolean
evaluation completes there and one term never has two posting lists to
merge. ``score_shard`` matches every doc and never prunes: like FTS5, the
engine scores every hit (``bm25_scores``, vectorized over the group's
matches). Every group keeps ≤ k hits per query: at the true idfs when they
are known before the scan (from the dictionary or a k=0 df pass), or, for a
one-phrase query, by the idf-free score (bm25_scores at idf 1), sent with
one df row. The driver scores the rows it collects
(search.SearchEngine._execute).

Positional matching has no per-doc loop. Phrases, anchors, prefixes and
NEAR all match on sorted int64 keys, (doc rank << 32) | position, a few
numpy calls per group: a phrase intersects its slots' keys, slot j shifted
by −j; an anchor keeps position 0; NEAR searches each instance's window
(``near_surviving``); counts are a unique or bincount of key >> 32.
Positions are decoded flat, and only from the 128-posting blocks that
hold the docs asked about (``PostingList.positions``).

``wand_shard_topk`` (block-max WAND) is no longer on the engine's path: it
lost to the exhaustive scan in every measured shape and stays only for
perfbench's scorer probe.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..codec import (
    BLOCK,
    decode_block_doc_ids,
    decode_block_u64,
    decode_dls,
    decode_doc_ids,
    decode_flat_positions,
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
    (codec.py). Each read decodes only what it is asked for:
    ``whole()`` the full doc/tf/dl lists, once (the engine's matching),
    ``block(i)`` one block's (perfbench's block-max WAND probe only),
    ``positions(idxs)`` the flat positions of the given postings, decoded
    from the position blocks that hold them alone (phrases, anchors,
    NEAR). Positions live in a separate stream so plain terms never pay
    their decode (SURVEY.md §7.8-4)."""

    __slots__ = ("row", "df", "n_blocks", "_whole", "_blocks")

    def __init__(self, row) -> None:
        self.row = row
        self.df = int(row.df)
        self.n_blocks = len(row.block_lens)
        self._whole: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None
        self._blocks: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}

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

    def positions(self, idxs: np.ndarray) -> np.ndarray:
        """Flat token positions of the postings at ascending list indexes
        ``idxs``, posting by posting: the byte slices of the blocks that
        hold them are joined and decoded once."""
        r = self.row
        blocks = np.unique(idxs // BLOCK)
        if len(blocks) == self.n_blocks:
            blob, posts = r.pos_blob, np.arange(self.df)
        else:
            offs = list(r.pos_offs) + [len(r.pos_blob)]
            mv = memoryview(r.pos_blob)
            blob = b"".join(mv[offs[b] : offs[b + 1]] for b in blocks.tolist())
            posts = (blocks[:, None] * BLOCK + np.arange(BLOCK)).ravel()
            posts = posts[posts < self.df]
        tfs = self.whole()[1][posts]
        take = np.zeros(len(posts), dtype=bool)
        take[np.searchsorted(posts, idxs)] = True
        return decode_flat_positions(blob, tfs)[np.repeat(take, tfs)]


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


# the position half of a key (doc rank << 32) | position, the rank a doc's
# index in the doc array at hand
POS_MASK = 0xFFFFFFFF


def _slot_docs(slot: list[PostingList]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, tfs, dls) of one phrase slot: one exact term's list, or a
    prefix's expansions in the group merged (union docs, summed tfs)."""
    if len(slot) == 1:
        return slot[0].whole()
    docs, tfs, dls = (np.concatenate([pl.whole()[c] for pl in slot]) for c in range(3))
    u, inv = np.unique(docs, return_inverse=True)
    out_dls = np.empty(len(u), dtype=np.int64)
    out_dls[inv] = dls
    return u, np.bincount(inv, weights=tfs, minlength=len(u)).astype(np.int64), out_dls


def _slot_keys(slot: list[PostingList], docs: np.ndarray) -> np.ndarray:
    """Sorted keys of every position of ``slot``'s terms in ``docs``
    (sorted doc ids), ranked by index in ``docs``; only the position
    blocks holding those docs are decoded."""
    parts = []
    for pl in slot:
        d, tfs, _ = pl.whole()
        loc = np.minimum(np.searchsorted(d, docs), len(d) - 1)
        hit = d[loc] == docs
        idxs = loc[hit]
        if len(idxs):
            ranks = np.repeat(np.flatnonzero(hit), tfs[idxs])
            parts.append((ranks << 32) | pl.positions(idxs))
    if len(parts) == 1:
        return parts[0]
    return np.sort(np.concatenate(parts)) if parts else np.zeros(0, dtype=np.int64)


@dataclass
class PhraseHits:
    """Per-(segment, shard) instances of one phrase: sorted doc ids, visible
    instance counts, dl per doc, and ``starts``: the instance starts, flat
    in doc order. For a lone unanchored term or prefix ``starts`` holds that
    slot's PostingLists instead, whose positions only a NEAR reads, and
    ``starts_in`` decodes them for the docs it asks about alone."""

    doc_ids: np.ndarray
    counts: np.ndarray
    dls: np.ndarray
    starts: np.ndarray | list[PostingList]

    @staticmethod
    def empty() -> "PhraseHits":
        z = np.zeros(0, dtype=np.int64)
        return PhraseHits(z, z.copy(), z.copy(), z.copy())

    def starts_in(self, sel: np.ndarray) -> np.ndarray:
        """Sorted keys of the instance starts of the docs at ascending rows
        ``sel``, ranked by index in ``sel``."""
        if isinstance(self.starts, list):
            return _slot_keys(self.starts, self.doc_ids[sel])
        starts = self.starts
        if len(sel) < len(self.doc_ids):
            take = np.zeros(len(self.doc_ids), dtype=bool)
            take[sel] = True
            starts = starts[np.repeat(take, self.counts)]
        ranks = np.repeat(np.arange(len(sel), dtype=np.int64), self.counts[sel])
        return (ranks << 32) | starts


def phrase_hits(lists: dict[str, PostingList], phrase: Phrase) -> PhraseHits:
    """Instances of one phrase in one (segment, shard), modifier-aware and
    tree-independent. A prefix slot expands against the group's own posting
    lists: the postings scan already kept only exact and prefix-matching
    terms, so this is the expansion ∩ group, and the driver never
    materializes a web-scale-vocabulary expansion."""
    if phrase.col == "unindexed":
        return PhraseHits.empty()
    # a prefix occupies the LAST slot of the phrase, preceding terms are exact
    exact = phrase.terms[:-1] if phrase.prefix else phrase.terms
    slots = [[lists[t]] if t in lists else [] for t in exact]
    if phrase.prefix:
        slots.append([pl for t, pl in lists.items() if t.startswith(phrase.terms[-1])])
    if not all(slots):
        return PhraseHits.empty()
    if len(slots) == 1 and not phrase.anchored:
        return PhraseHits(*_slot_docs(slots[0]), slots[0])

    # keys over the docs holding every slot; slot j's positions shift by -j
    merged = [_slot_docs(s) for s in slots]
    docs = merged[0][0]
    for m in merged[1:]:
        docs = np.intersect1d(docs, m[0], assume_unique=True)
    keys = _slot_keys(slots[0], docs)
    for j, slot in enumerate(slots[1:], start=1):
        if not len(keys):
            break
        k = _slot_keys(slot, docs)
        keys = np.intersect1d(keys, k[(k & POS_MASK) >= j] - j, assume_unique=True)
    if phrase.anchored:
        keys = keys[(keys & POS_MASK) == 0]
    ranks, counts = np.unique(keys >> 32, return_counts=True)
    dls = merged[0][2][np.searchsorted(merged[0][0], docs[ranks])]
    return PhraseHits(docs[ranks], counts, dls, keys & POS_MASK)


def near_surviving(
    keys: list[np.ndarray], phrase_lens: list[int], near_n: int
) -> list[np.ndarray]:
    """Per phrase: boolean mask over its instance-start ``keys`` (sorted,
    one rank space for all phrases) of the instances taking part in >= 1
    valid NEAR combination in their doc: the instances FTS5 counts for
    bm25 AND highlights in snippets. A combination is valid when <= near_n
    tokens lie between its two furthest-apart instances.

    Exact for any number of phrases: with m the smallest end in a
    combination, an instance (s, e) can join it iff s-n-1 <= m <= e, so an
    instance survives iff its [s-n-1, e] meets the points every phrase's
    union of such intervals covers. Two phrases reduce to a window search
    of the other phrase's starts."""
    if near_n < 0:
        return [np.zeros(len(k), dtype=bool) for k in keys]
    n = min(near_n, POS_MASK)
    if len(keys) == 2:
        # an instance (s, e) of A survives iff B starts in [s-n-len_B, e+n+1]

        def partnered(ka, kb, len_a, len_b):
            base = ka & ~POS_MASK
            lo = np.maximum(ka - (n + len_b), base)
            hi = np.minimum(ka + (len_a + n), base | POS_MASK)
            return np.searchsorted(kb, lo) < np.searchsorted(kb, hi, side="right")

        (ka, kb), (la, lb) = keys, phrase_lens
        return [partnered(ka, kb, la, lb), partnered(kb, ka, lb, la)]
    spans = [
        (np.maximum(k - (n + 1), k & ~POS_MASK), k + (ln - 1))
        for k, ln in zip(keys, phrase_lens)
    ]
    # each phrase's intervals merged (both ends ascend with the key), then
    # one sweep over their +1/-1 events finds the points all of them cover
    at, step = [], []
    for lo, hi in spans:
        first = np.ones(len(lo), dtype=bool)
        first[1:] = lo[1:] > hi[:-1]
        last = np.append(first[1:], True)
        at += [lo[first], hi[last] + 1]
        step += [np.ones(first.sum(), dtype=np.int64), -np.ones(last.sum(), dtype=np.int64)]
    at = np.concatenate(at)
    order = np.argsort(at, kind="stable")
    at, cover = at[order], np.cumsum(np.concatenate(step)[order])
    full = (cover[:-1] == len(keys)) & (at[1:] > at[:-1])
    f_lo, f_hi = at[:-1][full], at[1:][full] - 1
    if not len(f_lo):
        return [np.zeros(len(k), dtype=bool) for k in keys]
    out = []
    for lo, hi in spans:
        i = np.searchsorted(f_hi, lo)
        out.append((i < len(f_hi)) & (f_lo[np.minimum(i, len(f_lo) - 1)] <= hi))
    return out


def _near_eval(
    hits: list[PhraseHits],
    present: list[np.ndarray],
    phrase_lens: list[int],
    near_n: int,
) -> tuple[np.ndarray, np.ndarray]:
    """NEAR over the candidate docs (the rows of the ``present`` masks):
    keys only the docs holding every phrase, keeps the instances
    ``near_surviving`` keeps, and counts them.

    Probe-verified semantics (scripts/dev_probe_fts5.py + micro-probe): a doc
    matches if there exists one instance per phrase with ≤ near_n tokens
    between the two furthest-apart instances, and the visible tf of each
    phrase counts ONLY instances that participate in at least one valid
    combination.

    Returns (mask, counts[n_candidates × n_phrases_in_near]).
    """
    counts = np.zeros((len(present[0]), len(hits)), dtype=np.int64)
    rows = np.flatnonzero(np.logical_and.reduce(present))
    if len(rows):
        # a candidate's row in a phrase's hits: the present docs before it
        keys = [h.starts_in(np.cumsum(m)[rows] - 1) for h, m in zip(hits, present)]
        surv = near_surviving(keys, phrase_lens, near_n)
        for j, (k, s) in enumerate(zip(keys, surv)):
            counts[rows, j] = np.bincount(k[s] >> 32, minlength=len(rows))
    return counts.any(axis=1), counts


def evaluate(
    node: Node,
    hits_by_phrase: dict[int, PhraseHits],
    tf_matrix: np.ndarray,
    present: dict[int, np.ndarray],
    phrase_lens: dict[int, int],
) -> tuple[np.ndarray, np.ndarray]:
    """Recursive tree eval over the candidate docs, the rows of
    ``tf_matrix`` (n_candidates × n_phrases instance counts).

    Returns (mask, vis) where vis is an (n_candidates × n_phrases) matrix of
    visible instance counts, already zeroed where invisible.
    """
    n, P = tf_matrix.shape
    if node.op == "PHRASE":
        pi = node.phrase.index
        mask = present[pi]
        vis = np.zeros((n, P), dtype=np.int64)
        vis[:, pi] = tf_matrix[:, pi]
        return mask, vis
    if node.op == "NEAR":
        pis = [c.phrase.index for c in node.children]
        mask, counts = _near_eval(
            [hits_by_phrase[pi] for pi in pis],
            [present[pi] for pi in pis],
            [phrase_lens[pi] for pi in pis],
            node.near_n,
        )
        vis = np.zeros((n, P), dtype=np.int64)
        vis[:, pis] = counts
        return mask, vis
    m0, v0 = evaluate(node.children[0], hits_by_phrase, tf_matrix, present, phrase_lens)
    m1, v1 = evaluate(node.children[1], hits_by_phrase, tf_matrix, present, phrase_lens)
    if node.op == "AND":
        mask = m0 & m1
        return mask, (v0 + v1) * mask[:, None]
    if node.op == "OR":
        return m0 | m1, v0 + v1
    if node.op == "NOT":
        mask = m0 & ~m1
        return mask, v0 * mask[:, None]
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
    hits = {p.index: phrase_hits(lists, p) for p in phrases}
    nonempty = [h.doc_ids for h in hits.values() if len(h.doc_ids)]
    if not nonempty:
        return None
    cand = nonempty[0] if len(nonempty) == 1 else np.unique(np.concatenate(nonempty))
    P = len(phrases)
    tf_matrix = np.zeros((len(cand), P), dtype=np.int64)
    dl = np.zeros(len(cand), dtype=np.int64)
    present: dict[int, np.ndarray] = {}
    for pi, h in hits.items():
        loc = np.searchsorted(cand, h.doc_ids)
        present[pi] = np.zeros(len(cand), dtype=bool)
        present[pi][loc] = True
        tf_matrix[loc, pi] = h.counts
        dl[loc] = h.dls
    phrase_lens = {p.index: len(p.terms) for p in phrases}

    mask, vis = evaluate(tree, hits, tf_matrix, present, phrase_lens)
    # per-phrase dfs count toward the global idf reduce even when no doc
    # matches the whole tree here
    local_dfs = {pi: int(present[pi].sum()) for pi in hits}
    return cand[mask], dl[mask], vis[mask], local_dfs


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
