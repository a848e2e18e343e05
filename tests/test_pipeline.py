"""Training-data pipeline op unit tests (no Spark needed for the pure
kernels; the Spark↔DuckDB cross-engine checks run via __spark_entry__
oracles — scripts/dev_check_oracles.py and the driver's CORRECTNESS gate).

winnow_fingerprints is differential-tested against a direct transcription
of the winnowing definition (Schleimer et al., SIGMOD'03: k-gram polynomial
hashes, min per w-window, rightmost-min rule, consecutive dedup) — the
library implementation is fully vectorized and must match the naive loop
bit-for-bit."""

from __future__ import annotations

import random
import string

from pdfsearch_spark.pipeline.multimodal import _histogram
from pdfsearch_spark.pipeline.textstats import _B, _MOD, _winnow_one


def _winnow_naive(text: str, k: int, w: int) -> list[int]:
    cps = [ord(c) for c in text]
    n = len(cps)
    if n < k:
        return []
    hashes = []
    for i in range(n - k + 1):
        h = 0
        for j in range(k):
            h = (h * _B + cps[i + j]) % _MOD
        hashes.append(h)
    if len(hashes) <= w:
        return [min(hashes)]
    out: list[int] = []
    last = -1
    for i in range(len(hashes) - w + 1):
        win = hashes[i : i + w]
        mn = min(win)
        j = i + max(idx for idx, v in enumerate(win) if v == mn)
        if j != last:
            out.append(hashes[j])
            last = j
    return out


def test_winnow_matches_naive_random():
    rng = random.Random(7)
    alphabet = string.ascii_lowercase + " .0é世"
    for _ in range(400):
        n = rng.randint(0, 60)
        t = "".join(rng.choice(alphabet) for _ in range(n))
        assert _winnow_one(t, 8, 4) == _winnow_naive(t, 8, 4), repr(t)


def test_winnow_edges():
    assert _winnow_one("", 8, 4) == []
    assert _winnow_one("short", 8, 4) == []  # n < k
    # n == k: single hash, <= w  -> [min]
    t = "exactly8"
    assert _winnow_one(t, 8, 4) == _winnow_naive(t, 8, 4)
    # repeated text: consecutive-dedup collapses runs
    t = "abcabcabcabcabcabc"
    assert _winnow_one(t, 8, 4) == _winnow_naive(t, 8, 4)


def test_winnow_hash_fits_31_bits():
    # the packed (hash, pos) windowed-min key and the DuckDB oracle both
    # rely on hashes staying under 2^31
    assert _MOD < 1 << 31
    vals = _winnow_one("the quick brown fox jumps over the lazy dog" * 20, 8, 4)
    assert vals and all(0 <= v < _MOD for v in vals)


def test_histogram_shape_and_mass():
    h = _histogram(b"", 16)
    assert h == [0.0] * 16
    h = _histogram(bytes(range(256)) * 3, 16)
    assert len(h) == 16
    assert abs(sum(h) - 1.0) < 1e-12
    # byte 0x00-0x0f -> bin 0 etc.
    assert h[0] == 16 * 3 / 768


# ---- IVF ANN (Spark; uses the session fixture + sf0.001 embeddings) ----


def _emb_df(spark):
    from pyspark.sql import functions as F

    return (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias(
                "embedding"
            ),
        )
    )


def test_ivf_assign_covers_cells(spark):
    from pdfsearch_spark.pipeline import similarity as sim

    cells = sim.ivf_assign(_emb_df(spark))
    dist = {r["cell"]: r["n"] for r in cells.groupBy("cell").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert all(0 <= c < sim.N_LIST for c in dist)
    # seeded gaussian centroids over gaussian-ish embeddings: most cells used
    assert len(dist) >= sim.N_LIST // 2


def test_ivf_recall_vs_brute_force(spark):
    """nprobe=nlist must be EXACT (identical to cosine_topk); default nprobe
    keeps recall@10 reasonable on the 500-vector fixture."""
    from pyspark.sql import functions as F

    from pdfsearch_spark.pipeline import similarity as sim

    emb = _emb_df(spark)
    qv = emb.filter(F.col("vec_id") < 8)
    exact = sim.cosine_topk(emb, qv, k=10).collect()
    full = sim.ann_topk_ivf(emb, qv, k=10, nprobe=sim.N_LIST).collect()
    assert sorted((r["query_id"], r["vec_id"], r["rank"]) for r in full) == sorted(
        (r["query_id"], r["vec_id"], r["rank"]) for r in exact
    )

    approx = sim.ann_topk_ivf(emb, qv, k=10).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, recall


def test_kmeans_training_improves_partition(spark):
    from pdfsearch_spark.pipeline import similarity as sim

    emb = _emb_df(spark)
    seeded = sim.ivf_centroids()
    trained = sim.train_centroids_kmeans(emb, n_iter=3)
    assert len(trained) == sim.N_LIST and len(trained[0]) == sim.DIM
    # deterministic across invocations (partition-count-invariant init)
    again = sim.train_centroids_kmeans(emb.repartition(3), n_iter=3)
    assert trained == again
    # trained centroids fit the data better than the seeded literals
    assert sim.ivf_inertia(emb, trained) < sim.ivf_inertia(emb, seeded)


# ---- near-dup clustering (connected components over LSH pairs) ----


def _docs_neardup(spark):
    """sf0.001 documents + a near-duplicate of each (last word dropped) —
    the same augmentation __spark_entry__._docs_aug uses."""
    from pyspark.sql import functions as F

    from pdfsearch_spark.pipeline.dedup import NORM, WORDS

    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    mut = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr(
            f"CASE WHEN size({WORDS}) > 1 THEN "
            f"array_join(slice({WORDS}, 1, size({WORDS}) - 1), ' ') "
            f"ELSE {NORM} END"
        ).alias("text"),
    )
    return d.union(mut)


def test_neardup_clusters_match_union_find(spark):
    """Distributed min-label propagation must equal a driver-side union-find
    over the identical LSH pair set: same cluster_id (= component min),
    same sizes, same canonical flags, every input doc present exactly once."""
    from pdfsearch_spark.pipeline import dedup

    # one pair-less doc on top of the augmented corpus so the singleton
    # (left-anti) assembly path is exercised too
    lone = spark.createDataFrame(
        [(999999999, "zqxv kjwp mbfg hrtd nlcy unique singleton sentinel")],
        "doc_id long, text string",
    )
    docs = _docs_neardup(spark).union(lone)
    all_ids = [r["doc_id"] for r in docs.select("doc_id").distinct().collect()]
    pairs = dedup.minhash_lsh_pairs(docs).select("doc_a", "doc_b").collect()
    assert pairs, "augmented corpus must produce candidate pairs"

    parent = {i: i for i in all_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r["doc_a"]), find(r["doc_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    comp: dict[int, list[int]] = {}
    for i in all_ids:
        comp.setdefault(find(i), []).append(i)
    expect = {}
    for members in comp.values():
        cid = min(members)
        for m in members:
            expect[m] = (cid, len(members), m == cid)

    out = dedup.neardup_clusters(docs).collect()
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in out
    }
    assert len(out) == len(all_ids)  # exactly once per doc
    assert got == expect
    # there must be real multi-doc clusters for this test to mean anything,
    # and the sentinel must come out a singleton
    assert any(sz > 1 for _, sz, _ in got.values())
    assert got[999999999] == (999999999, 1, True)


# ---- repetition stats + corpus_clean composition ----


def test_repetition_stats_match_counter(spark):
    """Codegen max-run-over-sorted-array fold must equal a Python Counter
    recomputation of top word/bigram counts for every sf0.001 doc."""
    import collections

    from pdfsearch_spark.pipeline import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = {r["doc_id"]: r for r in textstats.repetition_stats(docs).collect()}
    rows = docs.select("doc_id", "text").collect()
    assert len(out) == len(rows)
    for r in rows:
        ws = (r["text"] or "").strip().lower().split(" ")
        bg = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        got = out[r["doc_id"]]
        assert got["n_words"] == len(ws)
        assert got["n_distinct_words"] == len(set(ws))
        assert got["top_word_count"] == max(collections.Counter(ws).values())
        assert got["top_bigram_count"] == (
            max(collections.Counter(bg).values()) if bg else 0
        )
        exp_twf = round(got["top_word_count"] / len(ws), 6)
        assert abs(got["top_word_frac"] - exp_twf) < 1e-9
        exp_rep = (
            got["top_word_frac"] > 0.2
            or got["top_bigram_frac"] > 0.18
            or got["distinct_word_ratio"] < 0.5
        )
        assert got["is_repetitive"] == exp_rep


def test_repetition_stats_shuffle_free(spark):
    """The 100-TB claim: repetition_stats must plan as a pure map — no
    Exchange anywhere (the codegen aggregate fold replaces explode+groupBy)."""
    from pdfsearch_spark.pipeline import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = textstats.repetition_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_repetition_single_word_and_empty(spark):
    from pdfsearch_spark.pipeline import textstats

    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, None), (4, "a a a a b")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in textstats.repetition_stats(docs).collect()}
    # single word: no bigrams, frac 0
    assert got[1]["n_words"] == 1 and got[1]["top_bigram_count"] == 0
    assert got[1]["top_bigram_frac"] == 0.0
    # empty/None normalize to [''] (1 "word"), consistent with token_counts
    for d in (2, 3):
        assert got[d]["n_words"] == 1 and got[d]["top_word_count"] == 1
    # 'a a a a b': top word 4/5, bigram 'a a' 3/4
    assert got[4]["top_word_count"] == 4 and got[4]["top_bigram_count"] == 3
    assert got[4]["is_repetitive"]


def test_corpus_clean_composition(spark):
    """corpus_clean must equal the verdict recomputed from its own primitive
    ops' outputs — one row per doc, gate order duplicate > quality > rep."""
    from pdfsearch_spark.pipeline import curate, dedup, textstats

    docs = _docs_neardup(spark)
    n_docs = docs.count()
    dd = {r["doc_id"]: r["is_canonical"] for r in dedup.exact_dedup(docs).collect()}
    q = {
        r["doc_id"]: (r["n_words"], r["quality_score"])
        for r in textstats.quality_scores(docs).collect()
    }
    rep = {
        r["doc_id"]: r["is_repetitive"]
        for r in textstats.repetition_stats(docs).collect()
    }
    out = curate.corpus_clean(docs).collect()
    assert len(out) == n_docs
    kept = 0
    for r in out:
        d = r["doc_id"]
        n_words, score = q[d]
        low_q = score < 0.7 or n_words < 10
        exp_keep = dd[d] and not low_q and not rep[d]
        if not dd[d]:
            exp_reason = "duplicate"
        elif low_q:
            exp_reason = "low_quality"
        elif rep[d]:
            exp_reason = "repetitive"
        else:
            exp_reason = None
        assert r["keep"] == exp_keep, (d, r)
        assert r["drop_reason"] == exp_reason, (d, r)
        kept += exp_keep
    assert 0 < kept < n_docs  # both outcomes exercised


# ---------------------------------------------------------------- multimodal


def test_resize_nearest_matches_naive():
    import numpy as np

    from pdfsearch_spark.pipeline.multimodal import resize_nearest

    rng = np.random.default_rng(3)
    for H, W, h, w in [(16, 16, 8, 8), (16, 16, 5, 7), (3, 9, 6, 2), (1, 1, 4, 4)]:
        img = rng.integers(0, 256, size=(H, W), dtype=np.uint8)
        out = resize_nearest(img, h, w)
        assert out.shape == (h, w)
        for r in range(h):
            for c in range(w):
                assert out[r, c] == img[(r * H) // h, (c * W) // w]


def test_resize_bilinear_matches_naive():
    import numpy as np

    from pdfsearch_spark.pipeline.multimodal import resize_bilinear

    def naive(img, h, w):
        H, W = img.shape
        src = img.astype(np.float64)
        out = np.empty((h, w))
        for r in range(h):
            for c in range(w):
                y = (r + 0.5) * H / h - 0.5
                x = (c + 0.5) * W / w - 0.5
                y0 = min(max(int(np.floor(y)), 0), H - 1)
                x0 = min(max(int(np.floor(x)), 0), W - 1)
                y1 = min(y0 + 1, H - 1)
                x1 = min(x0 + 1, W - 1)
                wy = min(max(y - y0, 0.0), 1.0)
                wx = min(max(x - x0, 0.0), 1.0)
                out[r, c] = (
                    src[y0, x0] * (1 - wy) * (1 - wx)
                    + src[y0, x1] * (1 - wy) * wx
                    + src[y1, x0] * wy * (1 - wx)
                    + src[y1, x1] * wy * wx
                )
        return out

    rng = np.random.default_rng(4)
    for H, W, h, w in [(16, 16, 8, 8), (16, 16, 32, 32), (4, 6, 3, 5)]:
        img = rng.integers(0, 256, size=(H, W), dtype=np.uint8)
        assert np.allclose(resize_bilinear(img, h, w), naive(img, h, w), atol=1e-9)


def test_decode_image_fake_tiles_and_zero_fills():
    import numpy as np

    from pdfsearch_spark.pipeline.multimodal import decode_image_fake

    img = decode_image_fake(b"abc", 2, 4)
    assert img.tolist() == [[97, 98, 99, 97], [98, 99, 97, 98]]
    assert decode_image_fake(b"", 2, 2).tolist() == [[0, 0], [0, 0]]
    assert img.dtype == np.uint8


def _png_gray_bytes(arr) -> bytes:
    """Minimal 8-bit grayscale PNG writer (pure stdlib) — a REAL codec
    fixture without requiring any image library to create it."""
    import struct
    import zlib

    h, w = arr.shape

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    raw = b"".join(b"\x00" + arr[r].tobytes() for r in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_decode_image_routing_and_fallback():
    """decode_image: real Pillow decode when the optional lib exists and the
    type declares an image; the deterministic fake in every other case
    (absent lib, non-image type, undecodable bytes) — never job-fatal."""
    import numpy as np
    import pytest

    from pdfsearch_spark.pipeline import multimodal as mm

    arr = (np.arange(48, dtype=np.uint8) * 5).reshape(6, 8)
    png = _png_gray_bytes(arr)

    # non-image type always takes the fake path, lib or no lib
    fake = mm.decode_image(png, "application/octet-stream")
    assert fake.tolist() == mm.decode_image_fake(png).tolist()

    if mm._image_lib() is None:
        # this container: decode_media raises (documented), decode_image
        # falls back to the fake even for a declared image
        with pytest.raises(NotImplementedError):
            mm.decode_media(png, "image/png")
        assert (
            mm.decode_image(png, "image/png").tolist()
            == mm.decode_image_fake(png).tolist()
        )
    else:
        # real decode: byte-exact round-trip of the grayscale PNG
        out = mm.decode_media(png, "image/png")
        assert out.tolist() == arr.tolist()
        assert mm.decode_image(png, "image/png").tolist() == arr.tolist()
        # garbage behind an image/* label: row-local fake, no raise
        junk = mm.decode_image(b"\x89PNG not really", "image/png")
        assert junk.shape == (mm.IMG_H, mm.IMG_W)


def _avi_rawvideo_bytes(frames) -> bytes:
    """Minimal uncompressed-RGB AVI writer (pure stdlib) — a REAL video
    container fixture without requiring any video library to create it.
    frames: list of (h, w) uint8 grayscale arrays, stored as bottom-up
    BGR24 DIB frames ('00db' chunks), biCompression=0 (BI_RGB)."""
    import struct

    h, w = frames[0].shape
    fps = 10

    def rgb_frame(arr) -> bytes:
        # bottom-up rows, B=G=R=v per pixel (so gray conversion returns v)
        rows = []
        for r in range(h - 1, -1, -1):
            row = bytearray()
            for v in arr[r]:
                row += bytes((int(v), int(v), int(v)))
            pad = (-len(row)) % 4
            rows.append(bytes(row) + b"\x00" * pad)
        return b"".join(rows)

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        if len(data) % 2:
            data += b"\x00"
        return fourcc + struct.pack("<I", len(data)) + data

    def lst(fourcc: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", fourcc + data)

    frame_size = (w * 3 + (-(w * 3)) % 4) * h
    avih = struct.pack(
        "<14I",
        1_000_000 // fps, frame_size * fps, 0, 0x10,  # us/frame, bytes/s, pad, HASINDEX
        len(frames), 0, 1, frame_size, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"DIB " + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps,
                                        0, len(frames), frame_size, 0, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_chunks = [chunk(b"00db", rgb_frame(f)) for f in frames]
    movi = lst(b"movi", b"".join(movi_chunks))
    # idx1: offsets are relative to the start of 'movi' fourcc
    idx = b""
    off = 4
    for c in movi_chunks:
        idx += b"00db" + struct.pack("<III", 0x10, off, len(c) - 8)
        off += len(c)
    body = b"AVI " + hdrl + movi + chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_video_routing_and_fallback():
    """decode_video_frames: real PyAV decode when the optional lib exists
    and the type declares video; NotImplementedError otherwise — and
    frame_sample_decoded's per-row fallback equals the codegen byte-frame
    math, so the op is total in lib-less environments."""
    import numpy as np
    import pytest

    from pdfsearch_spark.pipeline import multimodal as mm

    frames = [
        (np.full((8, 12), v, dtype=np.uint8)) for v in (0, 64, 128, 255)
    ]
    avi = _avi_rawvideo_bytes(frames)
    # the fixture is a well-formed RIFF/AVI container regardless of libs
    assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
    # RIFF size field covers everything after the 8-byte (fourcc+size) header
    assert len(avi) == 8 + int.from_bytes(avi[4:8], "little")

    # non-video type never reaches the video decoder
    with pytest.raises(NotImplementedError):
        mm.decode_video_frames(avi, "application/octet-stream")

    if mm._video_lib() is None:
        with pytest.raises(NotImplementedError):
            mm.decode_video_frames(avi, "video/x-msvideo")
        with pytest.raises(NotImplementedError):
            mm.decode_media(avi, "video/x-msvideo")
    else:
        got = mm.decode_video_frames(avi, "video/x-msvideo", stride=2)
        assert len(got) == 2 and got[0].shape == (8, 12)
        # gray conversion of an R=G=B frame returns the value (±1 for
        # fixed-point YUV rounding)
        assert abs(int(got[1][0, 0]) - 128) <= 1
        first = mm.decode_media(avi, "video/x-msvideo")
        assert first.shape == (8, 12) and abs(int(first[0, 0]) - 0) <= 1


def _wav_pcm16_bytes(samples, rate=16000, nch=1) -> bytes:
    """Stdlib RIFF/WAVE PCM16 writer (``wave`` module) — a REAL audio
    container fixture without any audio library. ``samples``: int16 list
    (interleaved when nch > 1)."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def test_decode_audio_samples_stdlib_wav():
    """The audio arm's REAL decode path works with zero third-party libs:
    stdlib ``wave`` round-trips PCM16 exactly (int16/32768), mono-averages
    stereo, and rejects non-audio types / undecodable bytes with
    NotImplementedError (never a job-fatal error class)."""
    import numpy as np
    import pytest

    from pdfsearch_spark.pipeline import multimodal as mm

    ints = [0, 16384, -16384, 32767, -32768, 1]
    wav = _wav_pcm16_bytes(ints, rate=22050)
    s, rate = mm.decode_audio_samples(wav, "audio/wav")
    assert rate == 22050
    assert s.tolist() == [v / 32768.0 for v in ints]

    # stereo: channel pairs mono-average in float, order preserved
    st = _wav_pcm16_bytes([100, 300, -200, -400], rate=8000, nch=2)
    s2, r2 = mm.decode_audio_samples(st, "audio/x-wav")
    assert r2 == 8000
    assert s2.tolist() == [200 / 32768.0, -300 / 32768.0]

    with pytest.raises(NotImplementedError):
        mm.decode_audio_samples(wav, "application/octet-stream")
    with pytest.raises(NotImplementedError):
        mm.decode_audio_samples(b"RIFF not really a wav", "audio/wav")

    if mm._audio_lib() is not None:
        # optional lib present: sample-exact agreement with the stdlib
        # path on PCM16 (both normalize int16 by 32768)
        got, grate = mm.decode_audio_samples(wav, "audio/wav")
        assert grate == 22050 and got.tolist() == s.tolist()


def test_audio_features_fake_math_and_decode_routing(spark):
    """audio_features: rows with a real WAV payload + audio/* type decode
    for real (decoded=True, features from the sample stream); every other
    row — octet-stream type, garbage behind an audio/* label — falls back
    row-locally to the byte fake, whose features match the exact integer
    definition the DuckDB oracle replays."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from pdfsearch_spark.pipeline import multimodal as mm

    wav = _wav_pcm16_bytes([0, 16384, -16384, 32767], rate=16000)
    rows = [
        (0, bytearray(wav), "audio/wav"),          # real decode
        (1, bytearray(b"abcABC"), "application/octet-stream"),  # fake
        (2, bytearray(b"junk"), "audio/wav"),      # bad bytes -> fake
        (3, bytearray(b""), "application/octet-stream"),        # empty
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, media binary, media_type string"
    )
    got = {r["doc_id"]: r for r in mm.audio_features(df).collect()}

    r0 = got[0]
    assert r0["decoded"] is True and r0["sample_rate"] == 16000
    s = np.array([0, 16384, -16384, 32767]) / 32768.0
    assert abs(r0["rms"] - float(np.sqrt(np.mean(s * s)))) < 1e-12
    assert abs(r0["peak"] - 32767 / 32768.0) < 1e-12
    assert r0["n_samples"] == 4
    # sign changes: 0->16384 (no: 0 is not negative), +->- , -> + = 2
    assert abs(r0["zcr"] - 2 / 3) < 1e-12

    for i, payload in ((1, b"abcABC"), (2, b"junk")):
        r = got[i]
        v = [b - 128 for b in payload]
        n = len(v)
        assert r["decoded"] is False and r["sample_rate"] == mm.FAKE_AUDIO_RATE
        assert r["n_samples"] == n
        assert r["rms"] == math.sqrt(sum(x * x for x in v) / n) / 128.0
        assert r["peak"] == max(abs(x) for x in v) / 128.0
        crossings = sum(1 for a, b in zip(v, v[1:]) if a * b < 0)
        assert r["zcr"] == crossings / (n - 1)

    r3 = got[3]
    assert (r3["n_samples"], r3["rms"], r3["peak"], r3["zcr"]) == (0, 0.0, 0.0, 0.0)


def test_audio_features_oracle_reads_utf8_bytes():
    """The DuckDB oracle of q_audio_features replays the byte fake over the
    text's UTF-8 BYTES (attach_media casts text to binary), not its
    codepoints: on non-ASCII text they differ in count and in value."""
    import math

    import duckdb

    from __spark_entry__ import _audio_features_sql
    from pdfsearch_spark.pipeline.multimodal import FAKE_AUDIO_RATE

    texts = {1: "Café au lait", 2: "naïve — 東京", 3: "plain ascii", 4: ""}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(texts.items()))
    got = {r[0]: r[1:] for r in con.execute(_audio_features_sql()).fetchall()}

    def ppm(x: float) -> int:  # SQL round(): half away from zero
        return math.floor(x * 1_000_000 + 0.5)

    for doc_id, text in texts.items():
        v = [b - 128 for b in text.encode("utf-8")]
        n = len(v)
        exp = (n, FAKE_AUDIO_RATE, 0, 0, 0)
        if n:
            crossings = sum(1 for a, b in zip(v, v[1:]) if a * b < 0)
            exp = (
                n,
                FAKE_AUDIO_RATE,
                ppm(math.sqrt(sum(x * x for x in v) / n) / 128.0),
                ppm(max(abs(x) for x in v) / 128.0),
                ppm(crossings / (n - 1)) if n > 1 else 0,
            )
        assert got[doc_id] == exp, (text, got[doc_id], exp)


def test_frame_sample_decoded_fallback_matches_codegen(spark):
    """In a lib-less container frame_sample(decode=True) must be
    row-for-row identical to the codegen frame_sample; rows with video/*
    type and undecodable bytes fall back row-locally (never job-fatal)."""
    from pyspark.sql import functions as F

    from pdfsearch_spark.pipeline import multimodal as mm

    texts = ["x" * 1000, "y" * 256, "", "w" * 300]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    media = mm.attach_media(docs).withColumn(
        # half the rows CLAIM to be video (bytes are not a real container):
        # the decode arm must fall back row-locally for them too
        "media_type",
        F.when(F.col("doc_id") % 2 == 0, F.lit("video/x-msvideo")).otherwise(
            F.col("media_type")
        ),
    )
    plain = {
        tuple(r) for r in mm.frame_sample(media, frame_bytes=256, stride=4).collect()
    }
    decoded = {
        tuple(r)
        for r in mm.frame_sample(
            media, frame_bytes=256, stride=4, decode=True
        ).collect()
    }
    if mm._video_lib() is None:
        assert decoded == plain
    else:
        # real lib present: the fake-bytes rows still fall back identically
        assert decoded == plain  # fixture bytes are undecodable either way


def test_frame_sample_spark_matches_hashlib(spark):
    import hashlib

    from pdfsearch_spark.pipeline.multimodal import attach_media, frame_sample

    texts = ["x" * 1000, "y" * 256, "z", "", "w" * 257]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = frame_sample(attach_media(docs), frame_bytes=256, stride=4).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in enumerate(texts):
        b = t.encode()
        n_frames = max((len(b) + 255) // 256, 1)
        want_idx = list(range(0, n_frames, 4))
        got = sorted(by_doc[i], key=lambda r: r["frame_idx"])
        assert [r["frame_idx"] for r in got] == want_idx
        assert all(r["n_frames"] == n_frames for r in got)
        for r in got:
            frame = b[r["frame_idx"] * 256 : r["frame_idx"] * 256 + 256]
            assert r["frame_md5"] == hashlib.md5(frame).hexdigest()


def test_resize_features_spark_matches_numpy(spark):
    import numpy as np

    from pdfsearch_spark.pipeline.multimodal import (
        attach_media,
        decode_image_fake,
        resize_features,
        resize_nearest,
    )

    texts = ["hello world", "", "a", "the quick brown fox " * 40]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r for r in resize_features(attach_media(docs)).collect()
    }
    for i, t in enumerate(texts):
        small = resize_nearest(decode_image_fake(t.encode()), 8, 8).ravel()
        r = rows[i]
        assert r["resized_fp"] == "_".join(str(int(v)) for v in small)
        assert abs(r["mean_px"] - round(float(small.mean()), 6)) < 1e-12
        assert (r["out_h"], r["out_w"]) == (8, 8)


def test_ngram_jaccard_verify_matches_exact_on_candidates(spark):
    """The scale composition (LSH candidates -> exact verify) returns exactly
    the exhaustive op's values restricted to the candidate pairs."""
    from pdfsearch_spark.pipeline import dedup

    texts = [
        "the quick brown fox jumps over the lazy dog tonight again",
        "the quick brown fox jumps over the lazy cat tonight again",
        "completely different text about spark engines and postings",
        "the quick brown fox jumps over the lazy dog tonight again",
        "one two",
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(docs).collect()
    }
    assert cand, "fixture must produce LSH candidates"
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    verify = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_verify(docs, threshold=0.3).collect()
    }
    assert verify == {k: v for k, v in exact.items() if k in cand}
    assert (0, 3) in verify and verify[(0, 3)] == 1.0


def test_ngram_jaccard_quadratic_guard_fires(spark):
    """The exact self-join's docs-per-shingle cap is ENFORCED: a shingle
    shared by more docs than the cap raises (pointing at the scale path)
    instead of launching the quadratic join; the same input passes with the
    cap lifted, and ngram_jaccard_verify handles it at any cap."""
    import pytest

    from pdfsearch_spark.pipeline import dedup

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(8)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="ngram_jaccard_verify"):
        dedup.ngram_jaccard_pairs(docs, max_docs_per_shingle=5)
    assert dedup.ngram_jaccard_pairs(docs, max_docs_per_shingle=None).count() == 28
    assert dedup.ngram_jaccard_pairs(docs, max_docs_per_shingle=8).count() == 28


def test_simhash_neardup_banding_lossless(spark):
    """The 4-chunk band-rotation blocking must recover EXACTLY the pairs a
    brute-force all-pairs hamming<=3 scan finds (pigeonhole: 3 flipped bits
    can dirty at most 3 of the 4 bytes), with correct hamming distances."""
    from pdfsearch_spark.pipeline import dedup

    docs = _docs_neardup(spark).filter("doc_id % 5 = 0")
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_signatures(docs).collect()
    }
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert brute, "fixture must contain hamming<=3 signature pairs"
    banded = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_neardup_pairs(docs).collect()
    }
    assert banded == brute


def test_source_cap_matches_bruteforce_skewed(spark):
    """source_cap's two-phase salted top-N must equal the naive global
    top-cap per source, on a skewed frame (one head source with 10x the
    docs of the others, sources under the cap, and n_chars ties resolved
    by doc_id)."""
    from pdfsearch_spark.pipeline.curate import source_cap

    rows = []
    did = 0
    for src, n in (("head", 200), ("mid", 40), ("tiny", 3)):
        for i in range(n):
            rows.append((did, src, (i * 37) % 50))  # many n_chars ties
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    cap, n_salts = 25, 8  # head source spans many salts and exceeds cap
    got = {
        (r["doc_id"], r["source"], r["n_chars"], r["source_rank"])
        for r in source_cap(docs, cap=cap, n_salts=n_salts).collect()
    }
    exp = set()
    for src in ("head", "mid", "tiny"):
        grp = sorted(
            (r for r in rows if r[1] == src), key=lambda r: (-r[2], r[0])
        )
        for rank, r in enumerate(grp[:cap], start=1):
            exp.add((r[0], src, r[2], rank))
    assert got == exp
    assert len([t for t in got if t[1] == "head"]) == cap
    assert len([t for t in got if t[1] == "tiny"]) == 3


def test_pii_scrub_sequential_semantics(spark):
    """Redaction + counts vs Python re, including the sequential-consumption
    case (an IP inside an email host must be consumed by the email rule)."""
    import re

    from pdfsearch_spark.pipeline.curate import PII_RULES, pii_scrub

    texts = [
        "reach admin@example.com or +123-456-7890 now",
        "host 10.0.0.37 and user.name+tag@sub.domain.org twice x@y.io",
        "ip inside email host user@192.168.1.1.com is consumed",
        "bare ip-domain user@192.168.1.1 is no email, ip survives",
        "phone 555 1234 5678 and 999.9999.1234 edge",
        "no pii here at all",
        "",
        None,
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    for i, t in enumerate(texts):
        cur = t or ""
        exp_counts = {}
        for name, pat, token in PII_RULES:
            exp_counts[f"n_{name}"] = len(re.findall(pat, cur))
            cur = re.sub(pat, token, cur)
        r = got[i]
        assert r["clean_text"] == cur, (i, r["clean_text"], cur)
        for k, v in exp_counts.items():
            assert r[k] == v, (i, k, r[k], v)
    # sequential consumption: the IP inside an email host is redacted by
    # the email rule and never counted as an IP...
    assert got[2]["n_email"] == 1 and got[2]["n_ipv4"] == 0
    # ...while an @ before a bare IP (not a valid email host — no letter
    # TLD) leaves the IP for the ipv4 rule
    assert got[3]["n_email"] == 0 and got[3]["n_ipv4"] == 1


def test_split_assign_matches_hashlib_and_is_stable(spark):
    """Bucket arithmetic vs hashlib; assignment is a pure function of
    (key, seed): a subset of the corpus gets identical assignments, and
    fractions roughly track the weights."""
    import hashlib

    from pdfsearch_spark.pipeline.curate import split_assign

    docs = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    got = {r["doc_id"]: r for r in split_assign(docs).collect()}
    assert len(got) == 2000
    for i in [0, 1, 7, 42, 1999]:
        exp_bucket = int(hashlib.md5(f"{i}:v1".encode()).hexdigest()[:8], 16)
        assert got[i]["bucket"] == exp_bucket, i
    # thresholds: 0.90 / 0.95 cumulative over [0, 2^32)
    for r in got.values():
        exp = (
            "train"
            if r["bucket"] < int(0.90 * 4294967296)
            else "val"
            if r["bucket"] < int(0.95 * 4294967296)
            else "test"
        )
        assert r["split"] == exp
    fracs = {s: sum(1 for r in got.values() if r["split"] == s) / 2000 for s in ("train", "val", "test")}
    assert abs(fracs["train"] - 0.90) < 0.03
    assert abs(fracs["val"] - 0.05) < 0.02
    assert abs(fracs["test"] - 0.05) < 0.02
    # subset invariance: appending/removing docs never reassigns survivors
    sub = spark.createDataFrame([(i,) for i in range(0, 2000, 7)], "doc_id long")
    for r in split_assign(sub).collect():
        assert r["split"] == got[r["doc_id"]]["split"]
    # a different seed re-rolls a meaningful share of assignments
    moved = sum(
        1
        for r in split_assign(docs, seed="v2").collect()
        if r["split"] != got[r["doc_id"]]["split"]
    )
    assert moved > 50


def test_split_assign_rejects_bad_weights(spark):
    import pytest

    from pdfsearch_spark.pipeline.curate import split_assign

    docs = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError):
        split_assign(docs, weights=(("train", 0.8), ("test", 0.1)))


def test_decontaminate_matches_naive(spark):
    """Hit counts vs a direct Python n-gram overlap count, including docs
    shorter than n (0 hits, still present) and multi-position hits."""
    from pdfsearch_spark.pipeline.curate import decontaminate

    eval_texts = ["the quick brown fox", "lorem ipsum dolor sit amet"]
    train_texts = [
        "we saw the quick brown fox jump over the quick brown fox again",
        "lorem ipsum dolor sit amet consectetur",
        "completely clean document with no overlap at all",
        "short",
        "",
        None,
        "The Quick Brown fox is case-normalized",
    ]
    n = 3
    ev = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(eval_texts)], "doc_id long, text string"
    )
    tr = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train_texts)], "doc_id long, text string"
    )

    def grams(t):
        ws = (t or "").strip().lower().split(" ")
        return [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]

    eval_set = {g for t in eval_texts for g in grams(t)}
    got = {r["doc_id"]: r for r in decontaminate(tr, ev, n=n).collect()}
    assert len(got) == len(train_texts)
    for i, t in enumerate(train_texts):
        exp = sum(1 for g in grams(t) if g in eval_set)
        assert got[i]["n_contaminated"] == exp, (i, got[i], exp)
        assert got[i]["contaminated"] == (exp >= 1)
    # four hit positions: "the quick brown" x2 + "quick brown fox" x2
    assert got[0]["n_contaminated"] == 4
    assert got[6]["contaminated"]  # case-normalized match


def test_rebalance_mix_exact_rates_and_stability(spark):
    """Binding stratum keeps rate 1.0; output mixture tracks targets;
    assignment is append-stable within a stratum at a fixed rate."""
    from pdfsearch_spark.pipeline.curate import rebalance_mix

    rows = (
        [(i, "en") for i in range(3000)]
        + [(10000 + i, "de") for i in range(600)]
        + [(20000 + i, "fr") for i in range(400)]
        + [(30000 + i, "xx") for i in range(50)]  # not targeted -> dropped
    )
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    targets = {"en": 0.6, "de": 0.3, "fr": 0.1}
    out = rebalance_mix(docs, targets).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(by_lang) == {"en", "de", "fr"}
    # binding stratum: de has count/target = 2000 (en 5000, fr 4000)
    assert all(r["rate"] == 1.0 and r["keep"] for r in by_lang["de"])
    assert abs(by_lang["en"][0]["rate"] - 1200 / 3000) < 1e-6
    assert abs(by_lang["fr"][0]["rate"] - 200 / 400) < 1e-6
    kept = {l: sum(1 for r in rs if r["keep"]) for l, rs in by_lang.items()}
    assert kept["de"] == 600
    assert abs(kept["en"] - 1200) < 120  # hash-threshold is approximate
    assert abs(kept["fr"] - 200) < 45
    # append stability: doubling fr doubles its rate but en's rate and
    # en's survivor set are unchanged only if en's rate is unchanged; here
    # keep the rates fixed instead — same docs, same seed => same verdicts
    again = {r["doc_id"]: r["keep"] for r in rebalance_mix(docs, targets).collect()}
    for r in out:
        assert again[r["doc_id"]] == r["keep"]

    import pytest

    with pytest.raises(ValueError):
        rebalance_mix(docs, {"en": 0.5, "de": 0.2})


# ------------------------------------------------ corpus-level statistics


def test_tfidf_topk_matches_naive(spark):
    """Scores, membership, and rank order vs a direct Python TF-IDF over a
    corpus engineered with rare terms (high idf), ubiquitous terms (low
    idf), ties, and an empty doc (emits no rows)."""
    import math

    from pdfsearch_spark.pipeline.corpusstats import tfidf_topk

    texts = [
        "apple apple apple banana common common",
        "banana cherry cherry common common common",
        "durian common apple",
        "common",
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    k = 3
    got = {}
    for r in tfidf_topk(docs, k=k).collect():
        got.setdefault(r["doc_id"], []).append(r)

    toks = [t.split() if t else [] for t in texts]
    n = len(texts)
    df = {}
    for ws in toks:
        for t in set(ws):
            df[t] = df.get(t, 0) + 1
    assert sorted(got) == [0, 1, 2, 3]  # doc 4 empty -> absent
    for i, ws in enumerate(toks):
        if not ws:
            continue
        exp = sorted(
            (
                (
                    -round(
                        ws.count(t) * (math.log((1 + n) / (1 + df[t])) + 1), 6
                    ),
                    t,
                )
                for t in set(ws)
            ),
        )[:k]
        rows = sorted(got[i], key=lambda r: r["term_rank"])
        assert [r["term"] for r in rows] == [t for _, t in exp], (i, rows)
        for r, (neg_s, _) in zip(rows, exp):
            assert abs(r["score"] - (-neg_s)) < 1e-9
            assert r["tf"] == toks[i].count(r["term"])
        assert [r["term_rank"] for r in rows] == list(
            range(1, len(rows) + 1)
        )


def test_unigram_logprob_matches_naive(spark):
    """Weighted mean token log-probability vs a direct Python computation;
    empty/null docs keep their row with n_tokens=0 and NULL score; rare-token
    docs score strictly lower than common-token docs."""
    import math

    from pdfsearch_spark.pipeline.corpusstats import unigram_logprob

    texts = [
        "the the the the cat",
        "the the cat cat sat",
        "zyzzyva qwerty",
        "",
        None,
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    assert len(got) == len(texts)

    toks = [(t or "").split() for t in texts]
    cnt = {}
    for ws in toks:
        for t in ws:
            cnt[t] = cnt.get(t, 0) + 1
    total = sum(cnt.values())
    for i, ws in enumerate(toks):
        assert got[i]["n_tokens"] == len(ws)
        if not ws:
            assert got[i]["mean_logprob"] is None
            continue
        exp = sum(math.log(cnt[t] / total) for t in ws) / len(ws)
        assert abs(got[i]["mean_logprob"] - round(exp, 6)) < 1e-6, (i, exp)
    assert got[2]["mean_logprob"] < got[0]["mean_logprob"]


def test_vocab_join_head_split_identical(spark):
    """The head_min skew decomposition (bounded broadcast of head terms +
    shuffle join of the tail) returns byte-identical results to the default
    whole-vocab broadcast for both corpusstats consumers, and its physical
    plan actually splits: one broadcast join (head) + one shuffle join
    (tail)."""
    from pdfsearch_spark.pipeline.corpusstats import (
        tfidf_topk,
        unigram_logprob,
    )

    texts = [
        "the the the the cat apple",
        "the the cat cat sat banana apple",
        "zyzzyva qwerty the",
        "apple banana cherry the the",
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    # head_min=3 puts 'the' (and any term with weight >= 3) on the broadcast
    # side and everything else through the shuffle join
    base = sorted(map(tuple, tfidf_topk(docs, k=3).collect()))
    split = tfidf_topk(docs, k=3, head_min=3)
    assert sorted(map(tuple, split.collect())) == base
    plan = split._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan

    base_u = sorted(map(tuple, unigram_logprob(docs).collect()))
    assert (
        sorted(map(tuple, unigram_logprob(docs, head_min=3).collect()))
        == base_u
    )
    # degenerate thresholds: everything-head and everything-tail both reduce
    # to the same answer
    assert sorted(map(tuple, tfidf_topk(docs, k=3, head_min=1).collect())) == base
    assert (
        sorted(map(tuple, tfidf_topk(docs, k=3, head_min=10**9).collect()))
        == base
    )


def test_length_profile_exact_and_approx(spark):
    """Exact percentiles vs numpy's linear-interpolation quantiles; the
    approx (GK sketch) path stays within a loose rank tolerance of exact."""
    import numpy as np

    from pdfsearch_spark.pipeline.corpusstats import length_profile

    rng = random.Random(7)
    rows = [(i, "en", rng.randrange(10, 5000)) for i in range(400)] + [
        (1000 + i, "de", rng.randrange(100, 800)) for i in range(57)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    out = {r["lang"]: r for r in length_profile(docs).collect()}
    by_lang = {"en": [], "de": []}
    for _, lang, c in rows:
        by_lang[lang].append(c)
    for lang, vals in by_lang.items():
        a = np.array(sorted(vals), dtype=float)
        r = out[lang]
        assert r["n_docs"] == len(vals)
        assert abs(r["mean_chars"] - round(float(a.mean()), 6)) < 1e-6
        for p in (50, 90, 99):
            exp = float(np.quantile(a, p / 100, method="linear"))
            assert abs(r[f"p{p}_chars"] - exp) < 1e-6, (lang, p, r, exp)
        assert r["min_chars"] == min(vals) and r["max_chars"] == max(vals)
    approx = {
        r["lang"]: r for r in length_profile(docs, exact=False).collect()
    }
    for lang, vals in by_lang.items():
        spread = max(vals) - min(vals)
        for p in (50, 90, 99):
            assert (
                abs(approx[lang][f"p{p}_chars"] - out[lang][f"p{p}_chars"])
                <= 0.1 * spread
            )


def test_line_dedup_boilerplate_removed_everywhere(spark):
    from pdfsearch_spark.pipeline.curate import line_dedup

    boiler = "all rights reserved worldwide"   # in 3 docs -> removed
    twice = "shared by exactly two documents"  # in 2 docs -> kept (<= max)
    docs = spark.createDataFrame(
        [
            (1, f"unique alpha line one\n{boiler}\nhi\nunique beta"),
            (2, f"{boiler}\n{twice}\nunique gamma content"),
            # boiler twice in ONE doc: counts as one distinct doc; trailing
            # newline -> trailing empty line survives reassembly
            (3, f"{boiler}\n{twice}\n{boiler}\n"),
            (4, None),
            (5, "hi\nhi\nhi\nhi"),  # short repeated line: ineligible, kept
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert out[1]["clean_text"] == "unique alpha line one\nhi\nunique beta"
    assert out[1]["n_lines"] == 4 and out[1]["n_dropped"] == 1
    assert out[2]["clean_text"] == f"{twice}\nunique gamma content"
    assert out[3]["clean_text"] == f"{twice}\n"
    assert out[3]["n_lines"] == 4 and out[3]["n_dropped"] == 2
    assert out[4]["clean_text"] == "" and out[4]["n_lines"] == 1
    assert out[5]["clean_text"] == "hi\nhi\nhi\nhi"
    assert out[5]["n_dropped"] == 0
    # whitespace variants match on the TRIMMED line but keep the original
    docs2 = spark.createDataFrame(
        [(1, f"  {boiler}\nx"), (2, f"{boiler}  \ny"), (3, f"{boiler}\nz")],
        "doc_id long, text string",
    )
    out2 = {r["doc_id"]: r for r in line_dedup(docs2).collect()}
    assert out2[1]["clean_text"] == "x"
    assert out2[2]["clean_text"] == "y"
    assert out2[3]["clean_text"] == "z"


def test_url_normalize_cases(spark):
    from pdfsearch_spark.pipeline.urlops import url_normalize

    cases = [
        # (raw, url_norm, host, apex)
        ("HTTP://WWW.Example.COM:80/Path/Is/Kept?A=1#Frag",
         "http://www.example.com/Path/Is/Kept?A=1",
         "www.example.com", "example.com"),
        ("https://Sub.News.CO.UK:443/x",
         "https://sub.news.co.uk/x", "sub.news.co.uk", "news.co.uk"),
        ("https://a.b.shop.com.au/y?utm_source=tw&q=2&utm_campaign=x",
         "https://a.b.shop.com.au/y?q=2",
         "a.b.shop.com.au", "shop.com.au"),
        ("http://example.org:8080/keep-port?utm_x=1",
         "http://example.org:8080/keep-port",
         "example.org", "example.org"),
        ("https://example.com/?fbclid=abc", "https://example.com/",
         "example.com", "example.com"),
        ("https://example.com/p?a=1&gclid=z&b=2",
         "https://example.com/p?a=1&b=2", "example.com", "example.com"),
        ("https://localhost/x", "https://localhost/x",
         "localhost", "localhost"),
        ("no-scheme.example.com/path", "no-scheme.example.com/path",
         "", ""),
        (None, "", "", ""),
        # Boundary anchoring: tracking tokens as SUBSTRINGS of legitimate
        # param names must survive (ADVICE r2: unanchored regex turned
        # '?notgclid=5' into '?not' and '?myfbclid=x&b=2' into '?myb=2')
        ("https://example.com/p?notgclid=5",
         "https://example.com/p?notgclid=5", "example.com", "example.com"),
        ("https://example.com/p?myfbclid=x&b=2",
         "https://example.com/p?myfbclid=x&b=2",
         "example.com", "example.com"),
        # tracking names in PATH text must survive ('&' and '=' are legal
        # path bytes; there is no preceding [?&] separator)
        ("https://example.com/gclid=1",
         "https://example.com/gclid=1", "example.com", "example.com"),
        # consecutive tracking params between real ones — single-pass run
        # strip, no '&&' residue
        ("https://example.com/p?a=1&utm_b=2&utm_c=3&d=4",
         "https://example.com/p?a=1&d=4", "example.com", "example.com"),
        # a literal '&&' the input already had is preserved, not collapsed
        ("https://example.com/a&&b?x=1",
         "https://example.com/a&&b?x=1", "example.com", "example.com"),
        # slash-less URL whose authority contains a tracking token: the
        # strip fires inside the authority (documented degenerate case)
        ("https://tracker-host.example&gclid=1",
         "https://tracker-host.example",
         "tracker-host.example", "tracker-host.example"),
    ]
    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(cases)], "doc_id long, url string"
    )
    got = {r["doc_id"]: r for r in url_normalize(df).collect()}
    for i, (_, norm, host, apex) in enumerate(cases):
        r = got[i]
        assert r["url_norm"] == norm, (i, r["url_norm"], norm)
        assert r["host"] == host, (i, r["host"], host)
        assert r["apex_domain"] == apex, (i, r["apex_domain"], apex)


def test_apex_domain_psl_reference_vectors(spark, tmp_path):
    """Full-PSL resolution (plain + '*.'-wildcard + '!'-exception rules)
    against the official publicsuffix.org test vectors for those rule
    shapes. Hosts that ARE entirely a public suffix resolve to themselves
    (the library's documented fallback where the reference algorithm says
    'undefined'), matching apex_domain_expr's behavior."""
    from pdfsearch_spark.pipeline.urlops import apex_domain_psl, load_psl_rules

    psl = tmp_path / "psl.dat"
    psl.write_text(
        "// ===BEGIN ICANN DOMAINS===\n"
        "com\n"
        "uk\n"
        "co.uk\n"
        "jp\n"
        "*.ck\n"
        "!www.ck\n"
        "// ===END ICANN DOMAINS===\n"
    )
    rules = load_psl_rules(spark, str(psl))
    got_rules = {
        (r["rule"], r["is_exception"], r["n_labels"]) for r in rules.collect()
    }
    assert ("*.ck", False, 2) in got_rules
    assert ("www.ck", True, 2) in got_rules
    assert ("co.uk", False, 2) in got_rules

    # (host, expected registrable) — wildcard/exception rows are the
    # publicsuffix.org test-data vectors; ps-only hosts expect themselves
    cases = [
        ("example.com", "example.com"),
        ("www.example.com", "example.com"),
        ("example.co.uk", "example.co.uk"),
        ("sub.example.co.uk", "example.co.uk"),
        ("co.uk", "co.uk"),                      # ps-only → fallback
        ("test.jp", "test.jp"),
        ("www.test.jp", "test.jp"),
        ("ck", "ck"),                            # ps-only (implicit *)
        ("test.ck", "test.ck"),                  # ps-only (*.ck)
        ("b.test.ck", "b.test.ck"),
        ("a.b.test.ck", "b.test.ck"),
        ("www.ck", "www.ck"),                    # !www.ck exception
        ("www.www.ck", "www.ck"),
        ("example.unknown", "example.unknown"),  # implicit * rule
        ("deep.example.unknown", "example.unknown"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "doc_id long, host string"
    )
    got = {r["host"]: r["apex_domain"] for r in apex_domain_psl(df, rules).collect()}
    for host, want in cases:
        assert got[host] == want, (host, got[host], want)


def test_domain_stats_counts(spark):
    from pdfsearch_spark.pipeline.urlops import domain_stats

    rows = [
        (1, "https://a.example.com/x?utm_source=1", 10),
        (2, "https://a.example.com/x", 20),          # same canonical as 1
        (3, "https://b.example.com/y", 30),
        (4, "https://news.co.uk/z", 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, n_chars long")
    out = {r["apex_domain"]: r for r in domain_stats(df).collect()}
    ex = out["example.com"]
    assert ex["n_docs"] == 3 and ex["n_hosts"] == 2
    assert ex["n_canonical_urls"] == 2 and ex["total_chars"] == 60
    assert out["news.co.uk"]["n_docs"] == 1


def _psl_vector_rules(spark, tmp_path):
    """The publicsuffix.org test-vector suffix set used by
    test_apex_domain_psl_reference_vectors, as a load_psl_rules frame."""
    from pdfsearch_spark.pipeline.urlops import load_psl_rules

    psl = tmp_path / "psl.dat"
    psl.write_text("com\nuk\nco.uk\njp\n*.ck\n!www.ck\n")
    return load_psl_rules(spark, str(psl))


def test_domain_stats_with_psl_rules(spark, tmp_path):
    """domain_stats(psl_rules=...) resolves apexes with the FULL PSL
    algorithm end-to-end: wildcard ('*.ck') and exception ('!www.ck')
    hosts — which the embedded 16-suffix heuristic mis-apexes — group
    under their correct registrable domain."""
    from pdfsearch_spark.pipeline.urlops import domain_stats

    rows = [
        (1, "https://a.b.test.ck/x", 10),   # *.ck → apex b.test.ck
        (2, "https://c.b.test.ck/y", 20),   # same apex, 2nd host
        (3, "https://www.www.ck/z", 5),     # !www.ck → apex www.ck
        (4, "https://sub.example.co.uk/w", 7),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, n_chars long")
    rules = _psl_vector_rules(spark, tmp_path)
    out = {r["apex_domain"]: r for r in domain_stats(df, psl_rules=rules).collect()}
    assert set(out) == {"b.test.ck", "www.ck", "example.co.uk"}
    bt = out["b.test.ck"]
    assert bt["n_docs"] == 2 and bt["n_hosts"] == 2 and bt["total_chars"] == 30
    assert out["www.ck"]["n_docs"] == 1
    # the heuristic default (no rules) mis-apexes the wildcard-suffix hosts
    # to the 2-label tail — the exact failure mode psl_rules closes
    heur = {r["apex_domain"] for r in domain_stats(df).collect()}
    assert "test.ck" in heur and "b.test.ck" not in heur


def test_host_graph_with_psl_rules(spark, tmp_path):
    """host_graph(psl_rules=...) collapses endpoints to FULL-PSL registrable
    domains: hosts of one wildcard-suffix site merge, cross-host edges
    inside one registrable domain become self-loops and are dropped, and
    the output still composes with pagerank/degree_stats column names."""
    from pdfsearch_spark.pipeline.linkgraph import host_graph

    pages = spark.createDataFrame(
        [
            # two hosts, same *.ck registrable domain b.test.ck: the edge
            # between them must vanish after apexing
            ("https://a.b.test.ck/p",
             '<a href="https://c.b.test.ck/x">i</a>'
             '<a href="https://example.com/y">o</a>'),
            ("https://c.b.test.ck/q",
             '<a href="https://example.com/y2">o</a>'),
            ("https://www.example.com/r",
             '<a href="https://a.b.test.ck/z">b</a>'),
        ],
        "url string, html string",
    )
    rules = _psl_vector_rules(spark, tmp_path)
    edges = {(r["src_host"], r["dst_host"]): r["weight"]
             for r in host_graph(pages, psl_rules=rules).collect()}
    assert edges == {
        ("b.test.ck", "example.com"): 2,
        ("example.com", "b.test.ck"): 1,
    }
    # without rules the heuristic keeps the raw hosts (no apexing)
    raw = {(r["src_host"], r["dst_host"]): r["weight"]
           for r in host_graph(pages).collect()}
    assert ("a.b.test.ck", "c.b.test.ck") in raw


def test_pq_encode_matches_numpy_argmin(spark):
    import numpy as np

    from pdfsearch_spark.pipeline import similarity as sim

    books = sim.pq_codebooks()
    rows = sim.pq_encode(_emb_df(spark)).select("vec_id", "embedding", "code").collect()
    assert rows
    dsub = sim.DIM // sim.M_SUB
    for r in rows[:50]:
        v = np.asarray(r["embedding"], dtype=np.float64)
        for mi in range(sim.M_SUB):
            sub = v[mi * dsub : (mi + 1) * dsub]
            dists = [
                round(round(sum(c * c for c in cb), 6) - 2.0 * float(np.dot(sub, cb)), 6)
                for cb in np.asarray(books[mi], dtype=np.float64)
            ]
            assert r["code"][mi] == dists.index(min(dists))
        assert all(0 <= c < sim.K_SUB for c in r["code"])


def test_pq_adc_equals_dot_of_reconstruction(spark):
    """ADC score must equal dot(query, decode(code)) — the defining PQ
    identity — up to the 6-dp rounding of each LUT entry."""
    import numpy as np
    from pyspark.sql import functions as F

    from pdfsearch_spark.pipeline import similarity as sim

    books = sim.pq_codebooks()
    emb = _emb_df(spark)
    qv = emb.filter(F.col("vec_id") < 3)
    out = sim.ann_topk_ivfpq(emb, qv, k=10, nprobe=sim.N_LIST).collect()
    assert out
    codes = {
        r["vec_id"]: r["code"] for r in sim.pq_encode(emb).collect()
    }
    queries = {r["vec_id"]: np.asarray(r["embedding"]) for r in qv.collect()}
    for r in out:
        q = queries[r["query_id"]]
        recon = np.concatenate(
            [np.asarray(books[mi][c]) for mi, c in enumerate(codes[r["vec_id"]])]
        )
        assert abs(r["score"] - float(np.dot(q, recon))) < sim.M_SUB * 1e-6 + 1e-6


def test_pq_adc_correlates_with_exact_dot(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from pdfsearch_spark.pipeline import similarity as sim

    emb = _emb_df(spark)
    qv = emb.filter(F.col("vec_id") == 0)
    adc = {
        r["vec_id"]: r["score"]
        for r in sim.ann_topk_ivfpq(emb, qv, k=400, nprobe=sim.N_LIST).collect()
    }
    vecs = {r["vec_id"]: np.asarray(r["embedding"]) for r in emb.collect()}
    q = vecs[0]
    pairs = [(adc[v], float(np.dot(q, vecs[v]))) for v in adc]
    a, b = zip(*pairs)
    corr = float(np.corrcoef(a, b)[0, 1])
    assert corr > 0.3, corr


def test_pq_training_improves_codebooks(spark):
    from pdfsearch_spark.pipeline import similarity as sim

    emb = _emb_df(spark)
    seeded = sim.pq_codebooks()
    trained = sim.train_pq_codebooks(emb, n_iter=3)
    assert len(trained) == sim.M_SUB
    assert all(len(b) == sim.K_SUB for b in trained)
    assert sim.pq_inertia(emb, trained) < sim.pq_inertia(emb, seeded)
    # deterministic: retraining reproduces the same books bit-exactly
    assert sim.train_pq_codebooks(emb, n_iter=3) == trained
    # trained books drop into the same encode/score machinery
    from pyspark.sql import functions as F
    qv = emb.filter(F.col("vec_id") < 2)
    out = sim.ann_topk_ivfpq(emb, qv, k=5, codebooks=trained).collect()
    assert {r["query_id"] for r in out} == {0, 1}


def test_global_offsets_matches_single_window(spark):
    """The two-phase distributed prefix sum must equal the single-reducer
    window bit-for-bit, including on sparse/clustered ids."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pdfsearch_spark.pipeline.pack import global_offsets

    rnd = random.Random(7)
    ids = rnd.sample(range(10**9), 400) + list(range(500, 700))  # clustered tail
    # full signed-64-bit hash ids: `key - min` overflows BIGINT, which the
    # double-space bucketing must dodge (order must still be exact)
    ids += [rnd.randrange(-(2**63), 2**63) for _ in range(200)]
    rows = [(i, rnd.randrange(1, 50)) for i in set(ids)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r["doc_id"]: r["offset"]
        for r in global_offsets(df, n_buckets=16).collect()
    }
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    exp = {
        r["doc_id"]: r["off"]
        for r in df.withColumn(
            "off", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        ).collect()
    }
    assert got == exp
    # deterministic across re-evaluation
    again = {
        r["doc_id"]: r["offset"]
        for r in global_offsets(df, n_buckets=16).collect()
    }
    assert again == got


def test_global_offsets_and_pack_empty_input(spark):
    """Empty corpus passes through as an empty frame with the columns added
    (ADVICE r2: agg(min,max).first() yields (None, None) and float(None)
    used to raise TypeError)."""
    from pdfsearch_spark.pipeline.pack import global_offsets, pack_sequences

    df = spark.createDataFrame([], "doc_id long, n_tokens long")
    out = global_offsets(df)
    assert out.columns == ["doc_id", "n_tokens", "offset"]
    assert out.count() == 0
    packed = pack_sequences(df)
    assert packed.count() == 0
    assert {"offset", "seq_id", "seq_pos"} <= set(packed.columns)


def test_pagerank_empty_edges(spark):
    """A crawl slice with no qualifying hrefs returns an empty (node, rank)
    frame (ADVICE r2: nodes.count() == 0 used to ZeroDivisionError)."""
    from pdfsearch_spark.pipeline.linkgraph import pagerank

    edges = spark.createDataFrame(
        [], "src_host string, dst_host string, weight long"
    )
    out = pagerank(edges)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_pack_sequences_boundaries(spark):
    from pdfsearch_spark.pipeline.pack import pack_sequences

    rows = [(1, 100), (2, 30), (3, 30), (4, 50), (5, 10)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = {r["doc_id"]: r for r in pack_sequences(df, seq_len=64).collect()}
    # offsets: 0, 100, 130, 160, 210 -> seqs 0, 1, 2, 2, 3
    assert [out[d]["offset"] for d in (1, 2, 3, 4, 5)] == [0, 100, 130, 160, 210]
    assert [out[d]["seq_id"] for d in (1, 2, 3, 4, 5)] == [0, 1, 2, 2, 3]
    assert out[3]["seq_pos"] == 130 % 64


def test_snapshot_diff_statuses(spark):
    from pdfsearch_spark.pipeline.curate import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "gone"), (5, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "did change"), (4, "brand new"), (5, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "added", 5: "unchanged"}
    # multi-column content identity: boundary-safe separator
    o2 = spark.createDataFrame([(1, "ab", "c")], "doc_id long, a string, b string")
    n2 = spark.createDataFrame([(1, "a", "bc")], "doc_id long, a string, b string")
    r = snapshot_diff(o2, n2, content_cols=("a", "b")).collect()[0]
    assert r["status"] == "changed"


def test_host_graph_canonicalizes_and_filters(spark):
    from pdfsearch_spark.pipeline.linkgraph import extract_links, host_graph

    pages = spark.createDataFrame(
        [
            ("https://a.com/p1",
             '<a href="https://B.com/x">1</a><a href="http://b.com:80/y">2</a>'
             '<a href="/rel">r</a><a href="mailto:z@b.com">m</a>'
             "<a href='https://c.com/sq'>sq</a>"),
            ("https://A.com:443/p2",
             '<a href="https://a.com/self">s</a><a href="https://b.com/z">3</a>'),
        ],
        "url string, html string",
    )
    links = extract_links(pages).collect()
    # relative, mailto, single-quoted all ignored
    assert sorted(r["dst_url"] for r in links) == [
        "http://b.com:80/y", "https://B.com/x", "https://a.com/self",
        "https://b.com/z",
    ]
    edges = {(r["src_host"], r["dst_host"]): r["weight"]
             for r in host_graph(pages).collect()}
    # case + default-port variants merge; the a.com self-loop is dropped
    assert edges == {("a.com", "b.com"): 3}


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from pdfsearch_spark.pipeline.linkgraph import pagerank

    edges = [
        ("a", "b", 2), ("a", "c", 1), ("b", "c", 1), ("c", "a", 1),
        ("d", "c", 5),  # d is a source-only node (rank stays at base)
    ]
    df = spark.createDataFrame(edges, "src_host string, dst_host string, weight long")
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=3).collect()}

    nodes = ["a", "b", "c", "d"]
    n = len(nodes)
    d = 0.85
    base = round((1 - d) / n, 8)
    out_w = {"a": 3.0, "b": 1.0, "c": 1.0, "d": 5.0}
    rank = {x: round(1.0 / n, 8) for x in nodes}
    for _ in range(3):
        s = {x: 0.0 for x in nodes}
        for src, dst, w in edges:
            s[dst] += rank[src] * w / out_w[src]
        rank = {x: np.round(base + d * s[x], 8) for x in nodes}
    for x in nodes:
        assert abs(got[x] - rank[x]) < 2e-8, (x, got[x], rank[x])
    assert got["d"] == base  # no in-edges


def test_chunk_documents_windows(spark):
    from pdfsearch_spark.pipeline.pack import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, words), (2, "a b"), (3, None), (4, " ".join(f"x{i}" for i in range(8)))],
        "doc_id long, text string",
    )
    out = {}
    for r in chunk_documents(docs, chunk_tokens=4, overlap=1).collect():
        out.setdefault(r["doc_id"], []).append(r)
    for chunks in out.values():
        chunks.sort(key=lambda r: r["chunk_id"])
    # doc 1: 10 tokens, stride 3 -> candidate starts 0,3,6,9; chunk [6:10)
    # already covers w9, so start 9 is pure repetition (9 < 10-1 is false)
    c1 = out[1]
    assert [r["start_tok"] for r in c1] == [0, 3, 6]
    assert [r["chunk_id"] for r in c1] == [0, 1, 2]
    assert c1[0]["chunk_text"] == "w0 w1 w2 w3"
    assert c1[1]["chunk_text"] == "w3 w4 w5 w6"   # 1-token overlap
    assert c1[2]["chunk_text"] == "w6 w7 w8 w9" and c1[2]["n_tokens"] == 4
    # doc 2: shorter than one chunk -> single chunk
    assert len(out[2]) == 1 and out[2][0]["chunk_text"] == "a b"
    assert out[2][0]["n_tokens"] == 2
    # doc 3: null text -> one empty chunk (split('') is [''])
    assert len(out[3]) == 1 and out[3][0]["chunk_text"] == ""
    # doc 4: 8 tokens, starts 0,3,6; start 6 < 8-1 kept; next start 9 > n-1
    assert [r["start_tok"] for r in out[4]] == [0, 3, 6]
    # pure-repetition tail dropped: 7 tokens, chunk 4, overlap 1 -> starts
    # 0,3,6; 6 < 7-1=6 is FALSE -> dropped
    d5 = spark.createDataFrame(
        [(5, " ".join(f"y{i}" for i in range(7)))], "doc_id long, text string"
    )
    s5 = sorted(r["start_tok"] for r in chunk_documents(d5, 4, 1).collect())
    assert s5 == [0, 3]


def test_chunk_documents_property_vs_naive(spark):
    """Property test vs a naive Python reference: window starts/sizes/texts
    agree, every token is covered, and consecutive chunks overlap by exactly
    `overlap` tokens (except the tail)."""
    import random

    from pdfsearch_spark.pipeline.pack import chunk_documents

    rnd = random.Random(99)
    docs = []
    for i in range(60):
        n = rnd.randrange(0, 40)
        docs.append((i, " ".join(f"t{i}x{j}" for j in range(n))))
    chunk, overlap = 7, 3
    stride = chunk - overlap
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {}
    for r in chunk_documents(df, chunk, overlap).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["start_tok"], r["n_tokens"], r["chunk_text"])
        )
    for doc_id, text in docs:
        ws = text.lower().strip().split(" ")  # split('') -> [''] like Spark
        exp = []
        s = 0
        while s == 0 or s < len(ws) - overlap:
            win = ws[s : s + chunk]
            exp.append((s, len(win), " ".join(win)))
            s += stride
        assert sorted(got[doc_id]) == sorted(exp), doc_id
        # coverage: the union of [start, start+n) is [0, len(ws))
        covered = set()
        for s0, n0, _ in exp:
            covered.update(range(s0, s0 + n0))
        assert covered == set(range(len(ws)))


def test_url_normalize_cross_engine_parity_random(spark, tmp_path):
    """500 seeded adversarial URLs: the Spark normalizer and the DuckDB
    oracle SQL must agree exactly — the regex-common-subset claim, tested
    beyond the driver fixture (multiple #/?, userinfo, empty/odd schemes,
    stacked tracking params, ports on scheme-less strings...)."""
    import random

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from __spark_entry__ import _urlops_norm_sql
    from pdfsearch_spark.pipeline.urlops import url_normalize

    rnd = random.Random(20260901)
    schemes = ["http", "HTTP", "https", "HTTPS", "ftp", "Ht1+x.y", ""]
    hosts = ["Example.COM", "news.co.uk", "a.b.c.shop.com.au", "localhost",
             "x", "", "user:pw@Host.ORG", "192.168.0.1",
             "tracker.example&gclid=1"]  # '&'/'=' legal in authority
    ports = ["", ":80", ":443", ":8080", ":x"]
    paths = ["", "/", "/A/B", "//double", "/p?inner", "/gclid=1", "/a&&b"]
    queries = ["", "?a=1", "?utm_a=1&utm_b=2&c=3", "?fbclid=x", "??",
               "?a=1&&b=2", "?utm_only=1", "?notgclid=5", "?myfbclid=x&b=2",
               "?a=1&utm_b=2&utm_c=3&d=4", "?gclid="]
    frags = ["", "#f", "#a#b", "#"]
    urls = []
    for i in range(500):
        s = rnd.choice(schemes)
        u = (s + "://" if s else "") + rnd.choice(hosts) + rnd.choice(ports)
        u += rnd.choice(paths) + rnd.choice(queries) + rnd.choice(frags)
        urls.append(u)
    urls += [None, "", "https://", "://", "#only", "?only"]
    p = str(tmp_path / "urls.parquet")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(urls)), pa.int64()),
            "url": pa.array(urls, pa.string()),
            "n_chars": pa.array([0] * len(urls), pa.int64()),
        }),
        p,
    )
    df = spark.read.parquet(p)
    got = {
        r["doc_id"]: (r["url_norm"], r["host"], r["apex_domain"])
        for r in url_normalize(df).collect()
    }
    exp = {
        r[0]: (r[2], r[3], r[4])
        for r in duckdb.sql(
            f"SELECT doc_id, n_chars, url_norm, host, apex_domain "
            f"FROM ({_urlops_norm_sql(p)})"
        ).fetchall()
    }
    assert len(got) == len(urls)
    mismatches = {k: (got[k], exp[k]) for k in got if got[k] != exp[k]}
    assert not mismatches, dict(list(mismatches.items())[:5])
