"""Delta-gap + varint posting-list codec with per-block max-impact metadata.

The reference inherits FTS5's delta+varint doclist format behind its DDL
(`/root/reference/database/database.go:59-66`); we implement our own columnar
variant, numpy-vectorized on both encode and decode (Arrow batches in, numpy
out — no per-row Python in the hot path):

- doc ids: sorted int64; first value zigzag-varint, then unsigned varint gaps
- tfs: unsigned varint per doc
- positions: per doc ``varint(n)`` then delta-varint token positions — kept in
  a separate stream so term-only queries never decode them (SURVEY.md §7.8-4)
- blocks of 128 docs: per-block first doc id, byte offsets into each stream,
  and ``max_impact`` = max over docs of the BM25 tf/dl factor
  tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) — multiplied by idf at query time this
  is the block-max WAND upper bound (SURVEY.md §2.5 Q2)
"""

from __future__ import annotations

import numpy as np

BLOCK = 128
K1 = 1.2
B = 0.75


def unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


# LEB128 byte-length thresholds: value v needs 1 + (count of thresholds <= v)
# bytes; one searchsorted replaces a data-dependent shift loop
_VARINT_THRESHOLDS = np.uint64(1) << (
    np.uint64(7) * np.arange(1, 10, dtype=np.uint64)
)


def _varint_stream(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized LEB128 encode → (uint8 buffer, per-value byte offsets
    [len+1]). One call encodes any number of logical streams concatenated;
    callers slice blobs/blocks out of the offset array — this is what keeps
    posting encode at a handful of numpy ops per TERM instead of per block.

    Strategy: an (n, maxbytes) uint8 matrix of 7-bit groups (continuation
    bit pre-set on all), flattened row-major through a single j<nbytes
    boolean select — that order IS the LEB128 stream — then the final byte
    of each value gets its continuation bit cleared by one indexed pass.
    ~1.5x faster than a per-byte-position masked scatter and, more
    importantly for many concurrent workers, far fewer full-array passes
    (this is the build's memory-bandwidth hot spot)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    nbytes = np.searchsorted(_VARINT_THRESHOLDS, v, side="right").astype(
        np.int64
    )
    nbytes += 1
    offsets = np.empty(n + 1, dtype=np.int64)
    offsets[0] = 0
    np.cumsum(nbytes, out=offsets[1:])
    maxb = int(nbytes.max())
    mat = np.empty((n, maxb), dtype=np.uint8)
    w = v if maxb == 1 else v.copy()
    for j in range(maxb):
        mat[:, j] = w.astype(np.uint8)
        if j + 1 < maxb:
            w >>= np.uint64(7)
    mat &= np.uint8(0x7F)
    mat |= np.uint8(0x80)
    sel = np.arange(maxb, dtype=np.int64)[None, :] < nbytes[:, None]
    out = mat[sel]
    out[offsets[1:] - 1] &= np.uint8(0x7F)
    return out, offsets


def varint_encode(values: np.ndarray) -> bytes:
    """Vectorized LEB128 encode of a uint64 array."""
    buf, _ = _varint_stream(np.asarray(values))
    return buf.tobytes()


def varint_decode(buf: bytes | memoryview, count: int | None = None, offset: int = 0) -> np.ndarray:
    """Vectorized LEB128 decode → uint64 array. Decodes the whole buffer from
    ``offset`` (or the first ``count`` values)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if offset:
        b = b[offset:]
    if len(b) == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    if count is not None:
        ends = ends[:count]
        b = b[: ends[-1] + 1] if len(ends) else b[:0]
        is_last = is_last[: len(b)]
    starts = np.empty(len(ends), dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(len(ends), dtype=np.uint64)
    maxb = int(lengths.max()) if len(lengths) else 0
    for j in range(maxb):
        mask = lengths > j
        vals[mask] |= (b[starts[mask] + j] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(7 * j)
    return vals


def encode_shard_frame(
    terms: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions: list,
    avgdl: float,
) -> dict:
    """Encode ALL posting lists of one shard in one vectorized pass.

    Inputs must be sorted by (term, doc_id). One _varint_stream call and
    ~50 numpy ops encode the whole shard: no per-term Python. Returns a
    dict of column lists, one entry per term in sorted order (the postings
    table's blob and block-metadata columns, SURVEY.md §1.3).
    """
    n = len(doc_ids)
    if n == 0:
        return _EMPTY_FRAME()
    # term boundaries (terms sorted): ts = starts per term, len T+1
    uniq, ts0 = np.unique(terms, return_index=True)
    order_t = np.argsort(ts0)
    uniq, ts0 = uniq[order_t], ts0[order_t]
    ts = np.append(ts0, n)
    return encode_shard_frame_pre(
        list(uniq), ts, doc_ids, tfs, dls, positions, avgdl
    )


def _EMPTY_FRAME() -> dict:
    return {k: [] for k in (
        "term", "df", "cf", "dl_blob", "doc_blob", "tf_blob", "pos_blob",
        "first_docs", "last_docs", "doc_offs", "tf_offs", "pos_offs",
        "dl_offs", "block_lens", "max_impacts",
    )}


def encode_shard_frame_pre(
    uniq: list,
    ts: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions: list,
    avgdl: float,
) -> dict:
    """encode_shard_frame with term boundaries precomputed by the caller:
    ``uniq`` = term strings in stream order, ``ts`` = int64 posting-start
    offsets per term (len T+1, ts[0]=0, ts[T]=n). The build's hot path
    (index_build.encode_docs_partitions) tracks terms as integer ids, so it
    derives boundaries from a bincount over the sorted id stream — no
    object-dtype np.unique / lexsort over string arrays (pointer-chasing
    that dominates encode CPU and memory traffic)."""
    n = len(doc_ids)
    if n == 0:
        return _EMPTY_FRAME()
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    ts = np.ascontiguousarray(ts, dtype=np.int64)
    T = len(uniq)
    df = np.diff(ts)

    # global block starts: per term, every BLOCK postings
    nblocks = (df + BLOCK - 1) // BLOCK
    tb = np.repeat(np.arange(T), nblocks)  # owning term per block
    excl = np.zeros(T, dtype=np.int64)
    np.cumsum(nblocks[:-1], out=excl[1:])
    w = np.arange(nblocks.sum(), dtype=np.int64) - excl[tb]
    bs = ts[:-1][tb] + w * BLOCK  # global block start index
    be = np.minimum(bs + BLOCK, ts[1:][tb])

    # doc-id stream: zigzag first-in-block, plain gaps within block
    u = doc_ids.view(np.uint64)
    gaps = np.empty(n, dtype=np.uint64)
    if n > 1:
        gaps[1:] = u[1:] - u[:-1]
    gaps[bs] = (u[bs] << np.uint64(1)) ^ (doc_ids[bs] >> np.int64(63)).view(np.uint64)

    # position stream: per posting [count, p0, gaps...]. ``positions`` is
    # either a list of per-posting position sequences, or — fast path from
    # the packed shuffle payload — an already-flattened (flat, plens) tuple.
    if isinstance(positions, tuple):
        flat, plens = positions
        plens = np.ascontiguousarray(plens, dtype=np.int64)
        total_p = int(plens.sum())
        flat = (
            np.ascontiguousarray(flat, dtype=np.int64)
            if total_p
            else np.zeros(0, dtype=np.int64)
        )
    else:
        plens = np.fromiter((len(p) for p in positions), dtype=np.int64, count=n)
        total_p = int(plens.sum())
        flat = (
            np.concatenate(positions).astype(np.int64)
            if total_p
            else np.zeros(0, dtype=np.int64)
        )
    fstarts = np.zeros(n, dtype=np.int64)
    np.cumsum(plens[:-1], out=fstarts[1:])
    d = np.empty(total_p, dtype=np.int64)
    if total_p:
        d[1:] = flat[1:] - flat[:-1]
        nz = plens > 0
        d[fstarts[nz]] = flat[fstarts[nz]]
    total = total_p + n
    stream = np.empty(total, dtype=np.uint64)
    cidx = fstarts + np.arange(n, dtype=np.int64)
    stream[cidx] = plens.astype(np.uint64)
    mask = np.ones(total, dtype=bool)
    mask[cidx] = False
    stream[mask] = d.view(np.uint64)

    # ONE varint pass over [doc gaps | tfs | pos stream | dls] for the shard
    cat = np.concatenate([gaps, tfs.view(np.uint64), stream, dls.view(np.uint64)])
    buf, offs = _varint_stream(cat)
    b_tf, b_pos, b_dl = n, 2 * n, 2 * n + total

    impact = tfs * (K1 + 1.0) / (tfs + K1 * (1.0 - B + B * (dls / max(avgdl, 1e-9))))
    max_imp = np.maximum.reduceat(impact, bs)
    first_docs = doc_ids[bs]
    last_docs = doc_ids[be - 1]
    block_lens = (be - bs).astype(np.int64)

    # byte offsets, relative to each term's stream start
    doc_off_b = offs[bs] - offs[ts[:-1]][tb]
    tf_off_b = offs[b_tf + bs] - offs[b_tf + ts[:-1]][tb]
    pos_term_start = cidx[ts[:-1]]  # value idx of term's pos-stream start
    pos_off_b = offs[b_pos + cidx[bs]] - offs[b_pos + pos_term_start][tb]
    dl_off_b = offs[b_dl + bs] - offs[b_dl + ts[:-1]][tb]

    # split block-grained arrays by term
    cuts = np.cumsum(nblocks)[:-1]
    first_docs_l = np.split(first_docs, cuts)
    last_docs_l = np.split(last_docs, cuts)
    doc_offs_l = np.split(doc_off_b, cuts)
    tf_offs_l = np.split(tf_off_b, cuts)
    pos_offs_l = np.split(pos_off_b, cuts)
    dl_offs_l = np.split(dl_off_b, cuts)
    block_lens_l = np.split(block_lens, cuts)
    max_imp_l = np.split(max_imp.astype(np.float32), cuts)

    # blob slicing per term (byte boundaries from the same offset array)
    doc_b = offs[ts]
    tf_b = offs[b_tf + ts]
    pos_b = offs[b_pos + np.append(cidx[ts[:-1]], total)]
    dl_b = offs[b_dl + ts]
    mv = memoryview(buf.tobytes())
    cf = np.add.reduceat(tfs, ts[:-1])

    return {
        "term": list(uniq),
        "df": df.tolist(),
        "cf": cf.tolist(),
        "dl_blob": [bytes(mv[dl_b[t] : dl_b[t + 1]]) for t in range(T)],
        "doc_blob": [bytes(mv[doc_b[t] : doc_b[t + 1]]) for t in range(T)],
        "tf_blob": [bytes(mv[tf_b[t] : tf_b[t + 1]]) for t in range(T)],
        "pos_blob": [bytes(mv[pos_b[t] : pos_b[t + 1]]) for t in range(T)],
        "first_docs": [a.tolist() for a in first_docs_l],
        "last_docs": [a.tolist() for a in last_docs_l],
        "doc_offs": [a.tolist() for a in doc_offs_l],
        "tf_offs": [a.tolist() for a in tf_offs_l],
        "pos_offs": [a.tolist() for a in pos_offs_l],
        "dl_offs": [a.tolist() for a in dl_offs_l],
        "block_lens": [a.tolist() for a in block_lens_l],
        "max_impacts": [a.tolist() for a in max_imp_l],
    }


def decode_doc_ids(doc_blob: bytes, block_lens: list[int]) -> np.ndarray:
    """Decode the full doc-id stream (all blocks)."""
    gaps = varint_decode(doc_blob)
    out = np.empty(len(gaps), dtype=np.int64)
    i = 0
    for bl in block_lens:
        out[i] = unzigzag(int(gaps[i]))
        if bl > 1:
            out[i + 1 : i + bl] = out[i] + np.cumsum(gaps[i + 1 : i + bl].astype(np.int64))
        i += bl
    return out


def decode_tfs(tf_blob: bytes) -> np.ndarray:
    return varint_decode(tf_blob).astype(np.int64)


def decode_dls(dl_blob: bytes) -> np.ndarray:
    return varint_decode(dl_blob).astype(np.int64)


def decode_block_doc_ids(doc_blob: bytes, offset: int, count: int) -> np.ndarray:
    """Decode the doc ids of ONE block without touching the rest of the list
    (blocks are independently decodable: zigzag first value, plain gaps)."""
    gaps = varint_decode(doc_blob, count=count, offset=int(offset))
    out = np.empty(count, dtype=np.int64)
    out[0] = unzigzag(int(gaps[0]))
    if count > 1:
        out[1:] = out[0] + np.cumsum(gaps[1:].astype(np.int64))
    return out


def decode_block_u64(blob: bytes, offset: int, count: int) -> np.ndarray:
    """Decode ``count`` plain varints of ONE block (tf or dl stream)."""
    return varint_decode(blob, count=count, offset=int(offset)).astype(np.int64)


def decode_block_positions(
    pos_blob: bytes, offset: int, end: int, ndocs: int
) -> list[np.ndarray]:
    """Decode ONE block's slice of the position stream: ``ndocs`` entries of
    [count, delta positions...] between byte ``offset`` and ``end``."""
    flat = varint_decode(memoryview(pos_blob)[int(offset) : int(end)]).astype(np.int64)
    out: list[np.ndarray] = []
    i = 0
    for _ in range(ndocs):
        n = int(flat[i])
        i += 1
        p = flat[i : i + n]
        out.append(np.cumsum(p) if n else p)
        i += n
    return out


def decode_positions(pos_blob: bytes, df: int) -> list[np.ndarray]:
    """Decode per-doc position arrays (delta-decoded)."""
    flat = varint_decode(pos_blob).astype(np.int64)
    out: list[np.ndarray] = []
    i = 0
    for _ in range(df):
        n = int(flat[i])
        i += 1
        p = flat[i : i + n]
        out.append(np.cumsum(p) if n else p)
        i += n
    return out
