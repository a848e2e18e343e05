"""Posting codec round-trip + block-metadata consistency (SURVEY.md §5.3-5).

Property-style (seeded) over random posting lists: decode(encode(x)) == x and
every block's max_impact is a valid WAND upper bound."""

from __future__ import annotations

import numpy as np

from pdfsearch_spark.codec import (
    BLOCK,
    B,
    K1,
    decode_dls,
    decode_doc_ids,
    decode_positions,
    decode_tfs,
    encode_shard_frame,
    varint_decode,
    varint_encode,
)


def test_varint_roundtrip_edges():
    vals = np.array(
        [0, 1, 127, 128, 255, 300, 2**21, 2**35, 2**63 - 1, 2**64 - 1],
        dtype=np.uint64,
    )
    assert (varint_decode(varint_encode(vals), len(vals)) == vals).all()


def test_varint_roundtrip_random():
    rng = np.random.Generator(np.random.Philox(key=[7, 7]))
    for _ in range(20):
        n = int(rng.integers(1, 5000))
        bits = int(rng.integers(1, 64))
        vals = rng.integers(0, 2**bits, size=n, dtype=np.uint64)
        assert (varint_decode(varint_encode(vals), n) == vals).all()


def _random_posting(rng, n):
    doc_ids = rng.integers(-(2**62), 2**62, size=4 * n, dtype=np.int64)
    doc_ids = np.sort(np.unique(doc_ids))[:n]
    n = len(doc_ids)
    dls = rng.integers(1, 500, size=n, dtype=np.int64)
    positions = [
        np.sort(
            rng.choice(int(dl), size=int(min(int(rng.integers(1, 50)), int(dl))), replace=False)
        ).astype(np.int64)
        for dl in dls
    ]
    tfs = np.array([len(p) for p in positions], dtype=np.int64)
    return doc_ids, tfs, dls, positions


def _encode(doc_ids, tfs, dls, positions, avgdl):
    """One posting list (doc_ids ascending) through the build's shard
    encoder, as its one term row."""
    terms = np.full(len(doc_ids), "t", dtype=object)
    cols = encode_shard_frame(terms, doc_ids, tfs, dls, positions, avgdl)
    return {c: v[0] for c, v in cols.items()}


def test_postings_roundtrip_and_blockmeta():
    rng = np.random.Generator(np.random.Philox(key=[13, 42]))
    avgdl = 120.0
    for trial in range(8):
        n = int(rng.integers(1, 700))
        doc_ids, tfs, dls, positions = _random_posting(rng, n)
        enc = _encode(doc_ids, tfs, dls, positions, avgdl)

        assert enc["df"] == n
        assert enc["cf"] == int(tfs.sum())

        got_docs = decode_doc_ids(enc["doc_blob"], enc["block_lens"])
        assert (got_docs == doc_ids).all()

        assert (decode_tfs(enc["tf_blob"]) == tfs).all()
        assert (decode_dls(enc["dl_blob"]) == dls).all()

        got_pos = decode_positions(enc["pos_blob"], n)
        for want, got in zip(positions, got_pos):
            assert (np.asarray(got) == want).all()

        # block metadata: bounds + max_impact is a true upper bound
        n_blocks = (n + BLOCK - 1) // BLOCK
        assert len(enc["first_docs"]) == n_blocks
        impacts = tfs * (K1 + 1.0) / (tfs + K1 * (1 - B + B * dls / avgdl))
        for b in range(n_blocks):
            lo, hi = b * BLOCK, min((b + 1) * BLOCK, n)
            assert enc["first_docs"][b] == doc_ids[lo]
            assert enc["max_impacts"][b] >= impacts[lo:hi].max() - 1e-6


def test_block_positions_match_full_decode():
    """decode_block_positions over each block == decode_positions whole-list,
    and PostingList.positions decodes only the blocks holding requested docs."""
    import pandas as pd

    from pdfsearch_spark.codec import decode_block_positions
    from pdfsearch_spark.query.scorer import postings_by_term

    rng = np.random.Generator(np.random.Philox(key=[3, 99]))
    doc_ids, tfs, dls, positions = _random_posting(rng, 600)
    enc = _encode(doc_ids, tfs, dls, positions, 120.0)
    full = decode_positions(enc["pos_blob"], len(doc_ids))
    # per-block decode matches the whole-list decode
    offs, lens = enc["pos_offs"], enc["block_lens"]
    i = 0
    for b, n in enumerate(lens):
        end = offs[b + 1] if b + 1 < len(offs) else len(enc["pos_blob"])
        blk = decode_block_positions(enc["pos_blob"], offs[b], end, n)
        for j in range(n):
            assert (blk[j] == full[i + j]).all()
        i += n
    # lazy fetch: arbitrary subset, identical results, partial block decode
    pl = postings_by_term(pd.DataFrame([dict(enc, term="t")]))["t"]
    idxs = sorted(rng.choice(200, size=25, replace=False).tolist())  # blocks 0-1
    got = pl.positions(np.array(idxs))
    for x, i_ in zip(got, idxs):
        assert (x == full[i_]).all()
    assert len(pl._pos) <= 2  # blocks 2-4 never decoded
