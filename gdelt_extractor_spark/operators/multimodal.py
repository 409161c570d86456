"""Multimodal column plumbing (SURVEY.md §2c 35).

Images/audio/video ride as opaque ``binary`` columns + a typed
metadata struct; per-item work (decode, resize, frame-sample,
feature-extract) runs in Arrow-batched ``mapInPandas`` so each
executor processes its own partitions' bytes — the bytes never visit
the driver.

The decode libraries (PIL/ffmpeg/librosa) are NOT in this container:
``decode_image``'s real path raises NotImplementedError behind an
import-try, and tests exercise the deterministic fake decoder, which
keeps every piece of Spark plumbing (schema, batch iteration,
partitioning, output shape) real.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType()),
        T.StructField("meta", MEDIA_META_SCHEMA),
    ]
)

FEATURE_SCHEMA = (
    "media_id bigint, width int, height int, mean_intensity double, "
    "feature array<double>"
)

FRAME_SCHEMA = "media_id bigint, frame_idx int, frame_bytes binary"

RESIZE_SCHEMA = (
    "media_id bigint, width int, height int, pixels array<double>"
)

AUDIO_SCHEMA = (
    "media_id bigint, n_windows int, rms array<double>, "
    "zero_crossing_rate array<double>"
)


def attach_fake_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic synthetic media rows for plumbing tests: content
    = sha256 stream keyed by id, meta derived from id.  Stands in for
    ``spark.read.format('binaryFile')`` over an object store."""
    idc = F.col(id_col).cast("long")
    content = F.sha2(F.concat(F.lit("media:"), idc.cast("string")), 256).cast("binary")
    meta = F.struct(
        F.lit("fake/raw").alias("format"),
        (idc % 64 + 16).cast("int").alias("width"),
        (idc % 48 + 16).cast("int").alias("height"),
        (idc % 8 + 1).cast("int").alias("n_frames"),
        ((idc % 300) / 10.0).alias("duration_s"),
    )
    return df.select(idc.alias("media_id"), content.alias("content"), meta.alias("meta"))


def _fake_decode(content: bytes, width: int, height: int) -> list[float]:
    """Deterministic stand-in for a pixel decode: stretch the content
    hash into width*height 'pixels' in [0,1)."""
    out: list[float] = []
    seed = content or b""
    i = 0
    while len(out) < width * height:
        h = hashlib.sha256(seed + i.to_bytes(4, "big")).digest()
        out.extend(b / 255.0 for b in h)
        i += 1
    return out[: width * height]


def image_features(media: DataFrame, use_real_decoder: bool = False) -> DataFrame:
    """Per-image features via mapInPandas.

    Real path (PIL) is unavailable here → NotImplementedError; the
    fake decoder keeps the distributed plumbing exercised.
    """
    if use_real_decoder:
        try:
            import PIL  # noqa: F401
        except ImportError as exc:
            raise NotImplementedError(
                "real image decode needs PIL; not present in this "
                "environment — use the deterministic fake decoder"
            ) from exc

    src = media.select("media_id", "content", "meta.width", "meta.height")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content, w, h in zip(
                pdf["media_id"], pdf["content"], pdf["width"], pdf["height"]
            ):
                px = _fake_decode(bytes(content), int(w), int(h))
                mean = sum(px) / len(px) if px else 0.0
                rows.append((mid, int(w), int(h), mean, px[:8]))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "mean_intensity", "feature"],
            )

    return src.mapInPandas(run, FEATURE_SCHEMA)


def resize_images(media: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Resize every image to (target_w, target_h) via nearest-neighbor
    sampling — the resize math is REAL (vectorized numpy index grid);
    only the pixel source is the deterministic fake decode.  Output
    is the flattened pixel array, the shape an embedding model's
    preprocessor expects."""
    import numpy as np

    src = media.select("media_id", "content", "meta.width", "meta.height")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content, w, h in zip(
                pdf["media_id"], pdf["content"], pdf["width"], pdf["height"]
            ):
                w, h = int(w), int(h)
                px = np.asarray(_fake_decode(bytes(content), w, h)).reshape(h, w)
                ys = np.minimum((np.arange(target_h) * h) // target_h, h - 1)
                xs = np.minimum((np.arange(target_w) * w) // target_w, w - 1)
                resized = px[np.ix_(ys, xs)]
                rows.append((mid, target_w, target_h, resized.ravel().tolist()))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "pixels"]
            )

    return src.mapInPandas(run, RESIZE_SCHEMA)


def audio_features(media: DataFrame, window: int = 256) -> DataFrame:
    """Windowed audio features: RMS energy and zero-crossing rate per
    window — real vectorized DSP over a waveform whose decode
    (librosa/ffmpeg, absent here) is the deterministic fake.  The
    waveform length follows meta.duration_s so batch shapes vary as
    they would in production."""
    import numpy as np

    src = media.select("media_id", "content", "meta.duration_s")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content, dur in zip(
                pdf["media_id"], pdf["content"], pdf["duration_s"]
            ):
                n = max(window, int(float(dur) * 100) + window)
                raw = np.asarray(_fake_decode(bytes(content), n, 1))
                sig = raw * 2.0 - 1.0  # [0,1) → [-1,1) waveform
                nw = len(sig) // window
                frames = sig[: nw * window].reshape(nw, window)
                rms = np.sqrt((frames * frames).mean(axis=1))
                zcr = (np.diff(np.signbit(frames), axis=1) != 0).mean(axis=1)
                rows.append((mid, nw, rms.tolist(), zcr.tolist()))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_windows", "rms", "zero_crossing_rate"],
            )

    return src.mapInPandas(run, AUDIO_SCHEMA)


AHASH_SCHEMA = "media_id bigint, ahash bigint"


def image_ahash(media: DataFrame) -> DataFrame:
    """64-bit perceptual average-hash per image.

    Classic aHash: downsample to 8×8 (real nearest-neighbor
    resize, same index-grid math as ``resize_images``), threshold each
    cell at the mean, pack the bits.  Only the pixel source is the
    deterministic fake decode.  Output is one long per image — the
    join/bucket key for perceptual dedup.
    """
    import numpy as np

    src = media.select("media_id", "content", "meta.width", "meta.height")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content, w, h in zip(
                pdf["media_id"], pdf["content"], pdf["width"], pdf["height"]
            ):
                w, h = int(w), int(h)
                px = np.asarray(_fake_decode(bytes(content), w, h)).reshape(h, w)
                ys = np.minimum((np.arange(8) * h) // 8, h - 1)
                xs = np.minimum((np.arange(8) * w) // 8, w - 1)
                small = px[np.ix_(ys, xs)].ravel()
                bits = small > small.mean()
                val = np.packbits(bits, bitorder="little")[:8].view(np.int64)[0]
                rows.append((mid, int(val)))
            yield pd.DataFrame(rows, columns=["media_id", "ahash"])

    return src.mapInPandas(run, AHASH_SCHEMA)


def dedup_images(
    media: DataFrame, max_hamming: int = 3, method: str = "ahash"
) -> DataFrame:
    """Perceptual image near-dup pairs: aHash (fast pixel-mean) or
    pHash (DCT, brightness/blur robust) fingerprints, then the same
    pigeonhole hamming equi-join as text SimHash
    (``dedup.hamming_pairs``) — one Arrow decode pass over the bytes,
    one equi-join shuffle keyed on hash chunks, never all-pairs."""
    from .dedup import hamming_pairs

    if method == "phash":
        return hamming_pairs(image_phash(media), "media_id", "phash", max_hamming)
    fp = image_ahash(media)
    return hamming_pairs(fp, "media_id", "ahash", max_hamming)


def frame_sample(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Sample every Nth frame of 'video' media.

    Frame extraction itself is the stubbed decode (deterministic
    bytes per frame); the explode/partition shape is the real
    pipeline one: one output row per sampled frame, executor-local.
    """
    src = media.select("media_id", "content", "meta.n_frames")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content, n in zip(pdf["media_id"], pdf["content"], pdf["n_frames"]):
                for idx in range(0, int(n), every_n):
                    fb = hashlib.sha256(bytes(content) + idx.to_bytes(4, "big")).digest()
                    rows.append((mid, idx, fb))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_bytes"])

    return src.mapInPandas(run, FRAME_SCHEMA)


def _dct_matrix(n: int):
    """Orthonormal DCT-II basis (n×n) — plain numpy, no scipy."""
    import numpy as np

    k = np.arange(n)
    D = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    D[0, :] = np.sqrt(1.0 / n)
    return D


# pHash's DCT grid (pixels per side): the image is resized to it.
PHASH_DCT_SIZE = 32


def phash_bits(px) -> int:
    """64-bit pHash of a 2-D pixel array: downsample to
    ``PHASH_DCT_SIZE``² (same index-grid resize as aHash), 2-D DCT-II,
    keep the top-left 8×8 low-frequency block, DROP
    THE DC COEFFICIENT (this is what makes pHash invariant to
    uniform brightness shifts, unlike aHash), threshold the
    remaining 63 coefficients at their median, pack little-endian.
    Pure function — unit-testable without Spark."""
    import numpy as np

    h, w = px.shape
    n = PHASH_DCT_SIZE
    ys = np.minimum((np.arange(n) * h) // n, h - 1)
    xs = np.minimum((np.arange(n) * w) // n, w - 1)
    small = px[np.ix_(ys, xs)]
    D = _dct_matrix(n)
    dct = D @ small @ D.T
    block = dct[:8, :8].ravel()
    vals = block[1:]  # drop DC
    bits = vals > np.median(vals)
    padded = np.concatenate([bits, [False]])  # 63 → 64 bits
    return int(np.packbits(padded, bitorder="little")[:8].view(np.int64)[0])


PHASH_SCHEMA = "media_id bigint, phash bigint"


def image_phash(media: DataFrame) -> DataFrame:
    """64-bit perceptual DCT hash (pHash) per image — the robust
    sibling of ``image_ahash``: comparing low-frequency DCT signs
    instead of raw pixel means makes the fingerprint stable under
    brightness shifts, mild blur, and recompression, which is what
    near-dup image curation actually meets in the wild.  Same Arrow
    batch shape and downstream pigeonhole join as aHash; only the
    pixel source is the deterministic fake decode."""
    import numpy as np

    src = media.select("media_id", "content", "meta.width", "meta.height")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content, w, h in zip(
                pdf["media_id"], pdf["content"], pdf["width"], pdf["height"]
            ):
                w, h = int(w), int(h)
                px = np.asarray(_fake_decode(bytes(content), w, h)).reshape(h, w)
                rows.append((mid, phash_bits(px)))
            yield pd.DataFrame(rows, columns=["media_id", "phash"])

    return src.mapInPandas(run, PHASH_SCHEMA)


VIDEO_FP_SCHEMA = "media_id bigint, frame_idx int, fhash bigint"


# Decoded frame size (pixels) of ``video_fingerprint``.
FRAME_W = 32
FRAME_H = 32


def video_fingerprint(media: DataFrame) -> DataFrame:
    """Per-video ordered frame-hash sequence: every frame
    (``frame_sample``), aHash each ``FRAME_W``×``FRAME_H`` frame's pixels, assemble
    (media_id, frame_hashes array<long>) with
    sort_array(collect_list(struct)) so the sequence is deterministic
    under any partition order.  Only the frame decode is the fake;
    the hash math and the Spark shape (explode → Arrow hash pass →
    one media_id shuffle) are the production pipeline's."""
    import numpy as np

    frames = frame_sample(media, 1)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, idx, fb in zip(
                pdf["media_id"], pdf["frame_idx"], pdf["frame_bytes"]
            ):
                px = np.asarray(
                    _fake_decode(bytes(fb), FRAME_W, FRAME_H)
                ).reshape(FRAME_H, FRAME_W)
                ys = np.minimum((np.arange(8) * FRAME_H) // 8, FRAME_H - 1)
                xs = np.minimum((np.arange(8) * FRAME_W) // 8, FRAME_W - 1)
                small = px[np.ix_(ys, xs)].ravel()
                bits = small > small.mean()
                val = np.packbits(bits, bitorder="little")[:8].view(np.int64)[0]
                rows.append((mid, int(idx), int(val)))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "fhash"])

    fr = frames.mapInPandas(run, VIDEO_FP_SCHEMA)
    return fr.groupBy("media_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("frame_idx", "fhash"))),
            lambda s: s["fhash"],
        ).alias("frame_hashes")
    )


def dedup_videos(media: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Video near-dup pairs — trimmed / re-cut copy detection: two
    videos are candidates when they SHARE ANY frame hash (equi-join
    on the exploded hash — content-derived blocking, never
    all-pairs), verified by Jaccard over their distinct frame-hash
    sets.  A trimmed copy keeps most frames → high Jaccard; unrelated
    videos share no frames and never meet.  Same join discipline as
    the text shingle family, with frames as the shingles."""
    fp = video_fingerprint(media).localCheckpoint(eager=True)
    ex = fp.select(
        "media_id", F.explode(F.array_distinct("frame_hashes")).alias("fh")
    )
    a, b = ex.alias("a"), ex.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.fh") == F.col("b.fh"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"), F.col("b.media_id").alias("id_b")
        )
        .distinct()
    )
    fa = fp.select(
        F.col("media_id").alias("id_a"),
        F.array_distinct("frame_hashes").alias("_ha"),
    )
    fb = fp.select(
        F.col("media_id").alias("id_b"),
        F.array_distinct("frame_hashes").alias("_hb"),
    )
    return (
        cands.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("_ha", "_hb"))
                / F.size(F.array_union("_ha", "_hb")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


AUDIO_FP_SCHEMA = "media_id bigint, sub_fps array<bigint>"


def _decode_audio(content: bytes, duration_s: float, fmt: str, window: int):
    """Waveform from a media row: ``pcm/f64`` content is REAL
    little-endian float64 PCM (the already-decoded path — what an
    upstream ffmpeg/librosa stage would hand over, and what tests
    feed to exercise clip/pad semantics on actual signals); anything
    else goes through the deterministic fake decoder, matching
    ``audio_features``' convention."""
    import numpy as np

    if fmt == "pcm/f64":
        return np.frombuffer(bytes(content), dtype="<f8")
    n = max(window, int(float(duration_s) * 100) + window)
    raw = np.asarray(_fake_decode(bytes(content), n, 1))
    return raw * 2.0 - 1.0


def _band_edges(window: int, n_bands: int):
    """Log-spaced FFT-bin band edges (DC skipped), padded linearly if
    log spacing collapses adjacent edges at small windows — always
    exactly n_bands+1 strictly increasing edges."""
    import numpy as np

    n_bins = window // 2 + 1
    edges = np.unique(
        np.round(
            np.geomspace(1, n_bins - 1, n_bands + 1)
        ).astype(np.int64)
    )
    while len(edges) < n_bands + 1:  # collapsed log steps → densify
        gaps = np.diff(edges)
        i = int(np.argmax(gaps))
        edges = np.insert(edges, i + 1, edges[i] + gaps[i] // 2)
        edges = np.unique(edges)
    return edges[: n_bands + 1]


def audio_subfingerprints(sig, window: int = 256, hop: int = 128, n_bands: int = 33):
    """Haitsma-Kalker (2002) sub-fingerprints of one waveform: Hann
    windows ``hop`` apart → |rfft|² → ``n_bands`` log-spaced band
    energies E[n,m] → one (n_bands−1)-bit word per window from the
    sign of the band-difference's time derivative,
    bit(n,m) = [ (E[n,m]−E[n,m+1]) − (E[n−1,m]−E[n−1,m+1]) > 0 ].
    Real numpy DSP — only the decode is environment-gated.  Returns
    int64 values (n_bands=33 → 32-bit words); len = n_windows − 1
    (the first window has no predecessor), [] for signals shorter
    than two hops."""
    import numpy as np

    sig = np.asarray(sig, dtype=np.float64)
    if len(sig) < window:
        sig = np.pad(sig, (0, window - len(sig)))
    starts = np.arange(0, len(sig) - window + 1, hop)
    if len(starts) < 2:
        return []
    frames = np.stack([sig[s : s + window] for s in starts])
    frames = frames * np.hanning(window)
    spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    edges = _band_edges(window, n_bands)
    E = np.add.reduceat(spec, edges[:-1], axis=1)
    D = E[:, :-1] - E[:, 1:]
    B = (D[1:] - D[:-1]) > 0
    vals = []
    for row in B:
        v = 0
        for i, b in enumerate(row):
            if b:
                v |= 1 << i
        vals.append(int(v))
    return vals


# ``audio_subfingerprints``' window, hop (samples) and band count as
# the audio operators use them.
AUDIO_WINDOW = 256
AUDIO_HOP = 128
AUDIO_BANDS = 33


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """Per-audio ordered sub-fingerprint sequence: one Arrow pass
    over the bytes (decode + the full DSP per item, executor-side),
    one media_id shuffle to assemble — the audio sibling of
    ``video_fingerprint``.  Output (media_id, sub_fps array<bigint>),
    order deterministic under any partitioning."""
    src = media.select("media_id", "content", "meta.duration_s", "meta.format")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content, dur, fmt in zip(
                pdf["media_id"], pdf["content"], pdf["duration_s"], pdf["format"]
            ):
                sig = _decode_audio(content, dur, str(fmt), AUDIO_WINDOW)
                rows.append(
                    (
                        mid,
                        audio_subfingerprints(sig, AUDIO_WINDOW, AUDIO_HOP, AUDIO_BANDS),
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "sub_fps"])

    return src.mapInPandas(run, AUDIO_FP_SCHEMA)


def dedup_audio(
    media: DataFrame,
    threshold: float = 0.35,
) -> DataFrame:
    """Audio near-dup pairs — trimmed/padded copy detection: two
    clips are candidates when they SHARE ANY sub-fingerprint
    (equi-join on the exploded 32-bit words — content-derived
    blocking, never all-pairs), verified by Jaccard over their
    distinct sub-fingerprint sets.  An ``AUDIO_HOP``-aligned trim keeps the
    interior windows bit-identical → high Jaccard; unrelated audio
    shares no words and never meets.  Same join discipline as
    ``dedup_videos`` (frames→windows) and the text shingle family.

    Candidate-side skew: silence produces sub-fp 0 for every silent
    window; all-zero words are dropped from BLOCKING (silence must
    not join every clip to every clip) but kept in the Jaccard sets,
    so padding with silence still lowers similarity honestly."""
    fp = audio_fingerprint(media).localCheckpoint(eager=True)
    ex = fp.select(
        "media_id", F.explode(F.array_distinct("sub_fps")).alias("w")
    ).filter(F.col("w") != 0)
    a, b = ex.alias("a"), ex.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"), F.col("b.media_id").alias("id_b")
        )
        .distinct()
    )
    fa = fp.select(
        F.col("media_id").alias("id_a"), F.array_distinct("sub_fps").alias("_wa")
    )
    fb = fp.select(
        F.col("media_id").alias("id_b"), F.array_distinct("sub_fps").alias("_wb")
    )
    return (
        cands.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("_wa", "_wb"))
                / F.size(F.array_union("_wa", "_wb")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
