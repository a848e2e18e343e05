"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

Decode arms: image/* does a REAL Pillow decode and video/* a REAL PyAV
frame decode when those OPTIONAL libs are importable on the executor;
in this lib-less container both raise NotImplementedError and every
pipeline entry point falls back row-locally to a deterministic fake
(byte-tiling images, byte-frame video, byte-histogram features), so the
Spark-side plumbing — schema, partitioning, the mapInPandas batch shape —
is real and tested either way. Audio has a REAL decode arm even here:
decode_audio_samples prefers the optional soundfile lib but falls back to
the stdlib ``wave`` reader for RIFF/WAVE PCM16, with the byte fake as the
total-function floor (audio_features).

At 100 TB the shape matters more than the stub: media bytes travel as
parquet binary, never through the driver; feature extraction is Arrow-batched
mapInPandas over row groups; downstream ops (dedup on features, ANN) reuse
pipeline.similarity on the feature column unchanged.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

N_BINS = 16

MEDIA_SCHEMA = (
    "doc_id long, media binary, media_type string, n_bytes long, checksum string"
)


def attach_media(docs: DataFrame) -> DataFrame:
    """Synthesize an opaque media column from the text bytes (deterministic
    stand-in for stored image/audio payloads) + typed metadata."""
    bin_col = F.expr("cast(coalesce(text, '') as binary)")
    return docs.select(
        "doc_id",
        bin_col.alias("media"),
        F.lit("application/octet-stream").alias("media_type"),
        F.length(bin_col).alias("n_bytes"),
        F.md5(bin_col).alias("checksum"),
    )


def _image_lib():
    """PIL if importable (optional dependency), else None — resolved at call
    time inside each executor, so a cluster with Pillow installed gets real
    decodes with no code change."""
    try:
        from PIL import Image

        return Image
    except ImportError:
        return None


def _video_lib():
    """PyAV if importable (optional dependency), else None — resolved at
    call time inside each executor, like _image_lib."""
    try:
        import av

        return av
    except ImportError:
        return None


def decode_media(media: bytes, media_type: str) -> np.ndarray:
    """Real media decode → uint8 grayscale array, via OPTIONAL executor
    dependencies: Pillow for image/*, PyAV for video/* (first frame).
    Raises NotImplementedError when the needed lib is absent (this
    container has neither) or the media_type has no decoder — callers that
    need a total function use decode_image (fake fallback).

    Audio hangs off its own dispatch (decode_audio_samples: optional
    soundfile, stdlib ``wave`` for RIFF/WAVE PCM16) because its natural
    return type is a 1-D sample stream, not a grayscale raster."""
    mt = media_type or ""
    if mt.startswith("image/"):
        Image = _image_lib()
        if Image is None:
            raise NotImplementedError(
                "image decoding requires Pillow, not present in this "
                "container; decode_image falls back to the deterministic fake"
            )
        import io

        with Image.open(io.BytesIO(media)) as img:
            return np.asarray(img.convert("L"), dtype=np.uint8)
    if mt.startswith("video/"):
        return decode_video_frames(media, media_type, stride=1)[0]
    raise NotImplementedError(f"no decoder wired for {media_type!r}")


def decode_video_frames(
    media: bytes, media_type: str, stride: int = 1
) -> list[np.ndarray]:
    """Real video decode → every ``stride``-th frame as a uint8 grayscale
    array, via the OPTIONAL PyAV dependency (the executor-side lib a real
    cluster would ship for frame sampling). Raises NotImplementedError when
    PyAV is absent or the type isn't video/* — frame_sample(decode=True)
    catches that per row and falls back to the deterministic byte-frame
    sampler, so the pipeline output is total either way."""
    av = _video_lib()
    if av is None:
        raise NotImplementedError(
            "video decoding requires PyAV, not present in this container; "
            "frame_sample falls back to the deterministic byte-frame sampler"
        )
    if not (media_type or "").startswith("video/"):
        raise NotImplementedError(f"no video decoder for {media_type!r}")
    import io

    frames: list[np.ndarray] = []
    with av.open(io.BytesIO(media)) as container:
        for i, frame in enumerate(container.decode(video=0)):
            if i % stride == 0:
                frames.append(
                    frame.to_ndarray(format="gray").astype(np.uint8)
                )
    if not frames:
        raise NotImplementedError("container decoded to zero video frames")
    return frames


def decode_image(
    media: bytes, media_type: str = "application/octet-stream"
) -> np.ndarray:
    """Total decode: real Pillow decode when available AND the payload is a
    declared image; the deterministic fake otherwise. The fake keeps every
    downstream op (resize math, fingerprints, oracle entries) runnable and
    oracle-checkable in lib-less environments."""
    if media and (media_type or "").startswith("image/"):
        try:
            return decode_media(media, media_type)
        except NotImplementedError:
            pass
        except Exception:
            # undecodable bytes behind an image/* label: data loss must
            # stay row-local (fake features), never job-fatal
            pass
    return decode_image_fake(media if media else b"")


IMG_H = IMG_W = 16  # fake-decode frame geometry (deterministic test shape)


def decode_image_fake(media: bytes, h: int = IMG_H, w: int = IMG_W) -> np.ndarray:
    """Deterministic fake decode: bytes → h×w uint8 grayscale by tiling the
    payload (pixel[r,c] = media[(r*w+c) mod len]). Stands in for a real
    image codec (absent in this container — see decode_media); everything
    downstream of this call (resize math, batch shape, schema) is real."""
    if not media:
        return np.zeros((h, w), dtype=np.uint8)
    buf = np.frombuffer(media, dtype=np.uint8)
    idx = np.arange(h * w) % len(buf)
    return buf[idx].reshape(h, w)


def resize_nearest(img: np.ndarray, h: int, w: int) -> np.ndarray:
    """Nearest-neighbor resize (floor mapping src_r = r*H//h) — pure integer
    indexing, fully vectorized; the deterministic variant used by the
    cross-engine oracle."""
    H, W = img.shape
    return img[(np.arange(h) * H) // h][:, (np.arange(w) * W) // w]


def resize_bilinear(img: np.ndarray, h: int, w: int) -> np.ndarray:
    """Bilinear resize (align-corners=False convention, matching the common
    image-library default) — vectorized numpy; float64 out. The production
    resize path; tested against a straightforward per-pixel reference."""
    H, W = img.shape
    src = img.astype(np.float64)
    ys = (np.arange(h) + 0.5) * H / h - 0.5
    xs = (np.arange(w) + 0.5) * W / w - 0.5
    y0 = np.clip(np.floor(ys).astype(np.int64), 0, H - 1)
    x0 = np.clip(np.floor(xs).astype(np.int64), 0, W - 1)
    y1 = np.minimum(y0 + 1, H - 1)
    x1 = np.minimum(x0 + 1, W - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :]
    top = src[y0][:, x0] * (1 - wx) + src[y0][:, x1] * wx
    bot = src[y1][:, x0] * (1 - wx) + src[y1][:, x1] * wx
    return top * (1 - wy) + bot * wy


def resize_features(
    media_df: DataFrame, out_h: int = 8, out_w: int = 8
) -> DataFrame:
    """(doc_id, out_h, out_w, mean_px, resized_fp): decode each media
    payload to a grayscale frame (REAL Pillow decode when the optional lib
    is installed and media_type declares an image; the deterministic
    16×16 fake otherwise — decode_image), nearest-neighbor resize to
    out_h×out_w, emit the resized pixel grid as a '_'-joined fingerprint
    plus its mean — Arrow-batched mapInPandas."""
    has_type = "media_type" in media_df.columns
    cols = ["doc_id", "media"] + (["media_type"] if has_type else [])

    def fn(it):
        for pdf in it:
            fps, means = [], []
            types = (
                pdf["media_type"]
                if has_type
                else ["application/octet-stream"] * len(pdf)
            )
            for m, mt in zip(pdf["media"], types):
                img = decode_image(bytes(m) if m is not None else b"", mt)
                small = resize_nearest(img, out_h, out_w).ravel()
                fps.append("_".join(str(int(v)) for v in small))
                means.append(round(float(small.mean()), 6))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "out_h": np.int32(out_h),
                    "out_w": np.int32(out_w),
                    "mean_px": pd.Series(means, dtype="float64"),
                    "resized_fp": fps,
                }
            )

    return media_df.select(*cols).mapInPandas(
        fn,
        schema="doc_id long, out_h int, out_w int, mean_px double, resized_fp string",
    )


FRAME_BYTES = 256  # fake "video": fixed-size byte frames
FRAME_STRIDE = 4   # sample every 4th frame


def frame_sample(
    media_df: DataFrame,
    frame_bytes: int = FRAME_BYTES,
    stride: int = FRAME_STRIDE,
    decode: bool = False,
) -> DataFrame:
    """(doc_id, frame_idx, n_frames, frame_md5): treat each media payload as
    a video of fixed-size byte frames and sample every ``stride``-th one —
    entirely JVM-side codegen (sequence + explode + binary substring + md5),
    no Python in the path. Zero-length payloads yield one empty frame 0, so
    every doc appears in the output (a frame-sampler that silently drops
    undecodable docs hides data loss at scale).

    ``decode=True`` routes through the REAL container decoder instead
    (frame_sample_decoded: PyAV frames for video/* rows when the optional
    lib is present, per-row fallback to this byte-frame math otherwise)."""
    if decode:
        return frame_sample_decoded(media_df, frame_bytes, stride)
    n_frames = F.expr(
        f"greatest(cast((length(media) + {frame_bytes - 1}) div {frame_bytes} "
        "as int), 1)"
    )
    return (
        media_df.select("doc_id", "media", n_frames.alias("n_frames"))
        .select(
            "doc_id",
            "media",
            "n_frames",
            F.explode(
                F.expr(f"sequence(0, n_frames - 1, {stride})")
            ).alias("frame_idx"),
        )
        .select(
            "doc_id",
            F.col("frame_idx").cast("int").alias("frame_idx"),
            "n_frames",
            F.md5(
                F.expr(
                    f"substring(media, frame_idx * {frame_bytes} + 1, {frame_bytes})"
                )
            ).alias("frame_md5"),
        )
    )


def frame_sample_decoded(
    media_df: DataFrame,
    frame_bytes: int = FRAME_BYTES,
    stride: int = FRAME_STRIDE,
) -> DataFrame:
    """frame_sample's real-decode arm: Arrow-batched mapInPandas where each
    video/* row is decoded with PyAV (every ``stride``-th real frame,
    frame_md5 = md5 of the grayscale pixel buffer) and every other row —
    non-video type, absent lib, undecodable bytes — falls back to the SAME
    byte-frame math as the codegen frame_sample, row-locally and never
    job-fatally. In a lib-less environment the output is therefore
    bit-identical to frame_sample(decode=False)."""
    import hashlib

    has_type = "media_type" in media_df.columns
    cols = ["doc_id", "media"] + (["media_type"] if has_type else [])

    def fn(it):
        for pdf in it:
            ids, idxs, counts, md5s = [], [], [], []
            types = (
                pdf["media_type"]
                if has_type
                else ["application/octet-stream"] * len(pdf)
            )
            for doc_id, m, mt in zip(pdf["doc_id"], pdf["media"], types):
                buf = bytes(m) if m is not None else b""
                rows: list[tuple[int, int, str]] = []
                try:
                    frames = decode_video_frames(buf, mt, stride=1)
                    n = len(frames)
                    for i in range(0, n, stride):
                        rows.append(
                            (i, n, hashlib.md5(frames[i].tobytes()).hexdigest())
                        )
                except Exception:  # absent lib / non-video / broken bytes
                    n = max((len(buf) + frame_bytes - 1) // frame_bytes, 1)
                    for i in range(0, n, stride):
                        chunk = buf[i * frame_bytes : (i + 1) * frame_bytes]
                        rows.append((i, n, hashlib.md5(chunk).hexdigest()))
                for i, n, h in rows:
                    ids.append(doc_id)
                    idxs.append(i)
                    counts.append(n)
                    md5s.append(h)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "n_frames": pd.Series(counts, dtype="int32"),
                    "frame_md5": md5s,
                }
            )

    return media_df.select(*cols).mapInPandas(
        fn,
        schema="doc_id long, frame_idx int, n_frames int, frame_md5 string",
    )


def _histogram(buf: bytes, n_bins: int) -> list[float]:
    if not buf:
        return [0.0] * n_bins
    arr = np.frombuffer(buf, dtype=np.uint8)
    hist = np.bincount(arr >> 4 if n_bins == 16 else arr % n_bins, minlength=n_bins)
    # full-precision IEEE division (count/len): downstream consumers round at
    # their own precision; rounding here would make cross-engine comparison
    # depend on numpy's banker's rounding
    return (hist / len(arr)).astype(np.float64).tolist()


def byte_histogram_features(media_df: DataFrame, n_bins: int = N_BINS) -> DataFrame:
    """(doc_id, features array<double>): deterministic fake featurizer —
    normalized 16-bin byte histogram, Arrow-batched via mapInPandas. The
    batch shape and schema are exactly what a real decoder would use."""

    def fn(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "features": [
                        _histogram(m if m is not None else b"", n_bins)
                        for m in pdf["media"]
                    ],
                }
            )

    return media_df.select("doc_id", "media").mapInPandas(
        fn, schema="doc_id long, features array<double>"
    )


# ---------------------------------------------------------------- audio arm

FAKE_AUDIO_RATE = 8000


def _audio_lib():
    """soundfile if importable (optional dependency), else None — resolved
    at call time inside each executor, like _image_lib/_video_lib."""
    try:
        import soundfile

        return soundfile
    except ImportError:
        return None


def _wav_pcm16_samples(media: bytes) -> tuple[np.ndarray, int]:
    """Stdlib RIFF/WAVE PCM16 decode (``wave`` module — always available):
    float64 samples in [-1, 1) (int16 / 32768, channels mono-averaged) +
    sample rate. Raises on anything ``wave`` can't parse and on non-16-bit
    sample widths (the one PCM layout whose normalization soundfile and the
    stdlib agree on exactly)."""
    import io
    import wave

    with wave.open(io.BytesIO(media)) as w:
        sw, nch = w.getsampwidth(), w.getnchannels()
        rate = w.getframerate()
        raw = w.readframes(w.getnframes())
    if sw != 2:
        raise NotImplementedError(
            f"stdlib WAV path handles 16-bit PCM only (got {sw * 8}-bit)"
        )
    arr = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    if nch > 1:
        arr = arr[: (len(arr) // nch) * nch].reshape(-1, nch).mean(axis=1)
    return arr, rate


def decode_audio_samples(media: bytes, media_type: str) -> tuple[np.ndarray, int]:
    """REAL audio decode → (float64 mono samples in [-1, 1), sample rate).

    Dispatch mirrors decode_media's optional-dependency pattern
    (VERDICT r4 item 4): soundfile when importable (any format it knows);
    otherwise the stdlib ``wave`` reader for RIFF/WAVE PCM16 — so unlike
    the image/video arms this container exercises a REAL decode path with
    no third-party lib at all. Raises NotImplementedError for non-audio
    types and undecodable payloads — audio_features catches per row and
    falls back to the deterministic byte fake (total, never job-fatal).
    For 16-bit PCM WAV the two backends are sample-exact (soundfile also
    normalizes int16 by 32768), pinned by tests/test_pipeline.py."""
    if not (media_type or "").startswith("audio/"):
        raise NotImplementedError(f"no audio decoder for {media_type!r}")
    sf_lib = _audio_lib()
    if sf_lib is not None:
        import io

        try:
            data, rate = sf_lib.read(io.BytesIO(media), dtype="float64")
        except Exception as exc:
            raise NotImplementedError(f"soundfile failed: {exc}") from exc
        arr = np.asarray(data, dtype=np.float64)
        if arr.ndim > 1:
            arr = arr.mean(axis=1)
        return arr, int(rate)
    try:
        return _wav_pcm16_samples(media)
    except NotImplementedError:
        raise
    except Exception as exc:
        raise NotImplementedError(f"stdlib WAV decode failed: {exc}") from exc


def audio_features(media_df: DataFrame) -> DataFrame:
    """(doc_id, n_samples, sample_rate, rms, peak, zcr, decoded): per-row
    REAL decode for audio/* payloads (decode_audio_samples) with row-local
    fallback to the byte fake — same total-function contract as
    frame_sample_decoded. Features are emitted at full double precision
    (consumers round at their own precision; rounding here would pin the
    op to one engine's rounding mode):

    - rms  = sqrt(mean(s^2))        (0 when there are no samples)
    - peak = max(|s|)
    - zcr  = sign-change rate over consecutive sample pairs (n-1 pairs)

    On the fake path all three are computed from exact integer byte sums
    before the one float division/sqrt, so any engine replaying the same
    definition lands on bit-identical doubles."""
    import math

    has_type = "media_type" in media_df.columns
    cols = ["doc_id", "media"] + (["media_type"] if has_type else [])

    def _feats_int(v: np.ndarray) -> tuple[float, float, float]:
        # v: integer centered samples (byte - 128); exact integer reductions
        n = len(v)
        if n == 0:
            return 0.0, 0.0, 0.0
        ss = int(v @ v)
        rms = math.sqrt(ss / n) / 128.0
        peak = int(np.abs(v).max()) / 128.0
        zcr = (
            float(int(np.count_nonzero(v[:-1] * v[1:] < 0)) / (n - 1))
            if n > 1
            else 0.0
        )
        return rms, peak, zcr

    def _feats_float(s: np.ndarray) -> tuple[float, float, float]:
        n = len(s)
        if n == 0:
            return 0.0, 0.0, 0.0
        rms = float(np.sqrt(np.mean(s * s)))
        peak = float(np.abs(s).max())
        zcr = (
            float(np.count_nonzero(s[:-1] * s[1:] < 0) / (n - 1))
            if n > 1
            else 0.0
        )
        return rms, peak, zcr

    def fn(it):
        for pdf in it:
            types = (
                pdf["media_type"]
                if has_type
                else ["application/octet-stream"] * len(pdf)
            )
            out = {
                "doc_id": [], "n_samples": [], "sample_rate": [],
                "rms": [], "peak": [], "zcr": [], "decoded": [],
            }
            for doc_id, m, mt in zip(pdf["doc_id"], pdf["media"], types):
                buf = bytes(m) if m is not None else b""
                try:
                    s, rate = decode_audio_samples(buf, mt)
                    rms, peak, zcr = _feats_float(s)
                    n, dec = len(s), True
                except Exception:  # non-audio type / absent lib / bad bytes
                    # the byte fake: each byte one sample centered at 128,
                    # at the nominal FAKE_AUDIO_RATE (SQL-recomputable)
                    v = np.frombuffer(buf, dtype=np.uint8).astype(
                        np.int64
                    ) - 128
                    rms, peak, zcr = _feats_int(v)
                    n, rate, dec = len(v), FAKE_AUDIO_RATE, False
                out["doc_id"].append(doc_id)
                out["n_samples"].append(n)
                out["sample_rate"].append(rate)
                out["rms"].append(rms)
                out["peak"].append(peak)
                out["zcr"].append(zcr)
                out["decoded"].append(dec)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "n_samples": pd.Series(out["n_samples"], dtype="int64"),
                    "sample_rate": pd.Series(out["sample_rate"], dtype="int32"),
                    "rms": pd.Series(out["rms"], dtype="float64"),
                    "peak": pd.Series(out["peak"], dtype="float64"),
                    "zcr": pd.Series(out["zcr"], dtype="float64"),
                    "decoded": pd.Series(out["decoded"], dtype="bool"),
                }
            )

    return media_df.select(*cols).mapInPandas(
        fn,
        schema=(
            "doc_id long, n_samples long, sample_rate int, "
            "rms double, peak double, zcr double, decoded boolean"
        ),
    )
