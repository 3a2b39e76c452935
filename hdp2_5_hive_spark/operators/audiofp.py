"""Audio fingerprinting and near-duplicate detection — the audio twin
of the pHash image stack (operators/phash.py).

Constellation fingerprints in the Shazam mold (Wang 2003, "An
Industrial-Strength Audio Search Algorithm", simplified to the part
worth proving distributed): frame the clip, FFT each frame, take the
DOMINANT frequency bin per frame (argmax of |X| over the non-DC
bins — amplitude-scale invariant by construction), then hash
overlapping triples of consecutive dominant bins into 64-bit
landmark grams. Two clips sharing ≥ ``min_shared`` landmark grams
are near-duplicates: volume-rescaled, re-encoded, or lightly noised
copies keep their dominant-bin track while unrelated audio shares
almost nothing.

Scale shape mirrors the text/image dedup stack: fingerprinting is
ONE Arrow-batched mapInPandas pass (vectorized rfft per clip, no
per-frame Python); the pair search is a hash-equality join on the
gram value — never clips × clips — then a keyed (id_a, id_b)
aggregate. Per clip the join sees O(n_frames) gram rows:
corpus-linear.

Reference parity: HDP 2.5 Hive has no audio functions — this is a
beyond-reference operator under the multimodal pipeline mandate
(SURVEY §6), built only on the public constellation recipe.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .multimodal import decode_wav_samples
from .util import materialize

AUDIO_FP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("gram_idx", LongType()),
        StructField("fp", LongType()),
    ]
)

_MASK64 = (1 << 64) - 1


def _landmarks(samples: np.ndarray, frame_len: int) -> np.ndarray:
    """Dominant non-DC bin per complete frame (ties → lowest bin,
    deterministic)."""
    n_frames = len(samples) // frame_len
    if n_frames == 0:
        return np.empty(0, dtype=np.int64)
    frames = (
        samples[: n_frames * frame_len]
        .astype(np.float64)
        .reshape(n_frames, frame_len)
    )
    mag = np.abs(np.fft.rfft(frames, axis=1))
    return mag[:, 1:].argmax(axis=1).astype(np.int64) + 1


def audio_fingerprints(
    media: DataFrame, *, frame_len: int = 32, gram: int = 3
) -> DataFrame:
    """(media_id, payload) → (media_id, gram_idx, fp): 64-bit hashes
    of ``gram`` consecutive dominant bins. One map-only pass."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, fps = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                _, samples = decode_wav_samples(bytes(payload))
                lm = _landmarks(samples, frame_len)
                for i in range(len(lm) - gram + 1):
                    h = 14695981039346656037  # FNV-1a offset basis
                    for b in lm[i : i + gram]:
                        h = ((h ^ int(b)) * 1099511628211) & _MASK64
                    ids.append(int(mid))
                    idxs.append(i)
                    fps.append(h - (1 << 64) if h >= 1 << 63 else h)
            yield pd.DataFrame(
                {"media_id": ids, "gram_idx": idxs, "fp": fps}
            )

    return media.select("media_id", "payload").mapInPandas(
        kernel, AUDIO_FP_SCHEMA
    )


def audio_near_dups(
    media: DataFrame,
    *,
    frame_len: int = 32,
    gram: int = 3,
    min_shared: int = 4,
) -> DataFrame:
    """Near-duplicate audio pairs: clips sharing ≥ ``min_shared``
    DISTINCT landmark grams. Hash-equality join on the gram value
    (AQE splits degenerate grams — e.g. silence — the same way it
    splits boilerplate text shingles), keyed aggregate, id_a < id_b.

    Output: (id_a, id_b, n_shared)."""
    # Persist the fingerprint table: it feeds both join sides, and
    # its lineage holds the WAV decode + FFT landmark pass (aliased
    # subtrees are not reused — the near_duplicate_pairs audit).
    fp = materialize(
        audio_fingerprints(media, frame_len=frame_len, gram=gram),
        "audiofp.fingerprints",
    )
    a = fp.select(F.col("media_id").alias("id_a"), "fp").distinct()
    b = fp.select(F.col("media_id").alias("id_b"), "fp").distinct()
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("fp").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def synthesize_tone_wavs(
    df: DataFrame,
    id_col: str,
    *,
    n_frames: int = 24,
    frame_len: int = 64,
    mod: int = 200,
) -> DataFrame:
    """Deterministic tone-sequence WAV per id: frame f carries a pure
    frame-aligned sinusoid — the dominant bin IS the planted bin —
    whose bin comes from an avalanche-mixed hash of (id%mod, f) over
    a ``frame_len/2 − 3``-value alphabet (a plain linear formula over
    a small alphabet left unrelated tracks sharing whole triples:
    measured over all 200·199/2 seed pairs, the mixed 29-value track
    shares at most 2 grams between unrelated seeds — under any
    sensible threshold — while ids equal mod ``mod`` share all).
    Amplitude varies by id (8000 + 137·(id mod 89)), so planted
    pairs are never byte-identical (amplitude-scale invariance is
    the point of landmark fingerprints, not a loophole)."""
    from .multimodal import MEDIA_PAYLOAD_SCHEMA, encode_wav

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t = np.arange(frame_len, dtype=np.float64)
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                seed = int(mid) % mod
                amp = 8000 + 137 * (int(mid) % 89)
                frames = []
                alpha = frame_len // 2 - 3
                for f in range(n_frames):
                    v = (seed * 73856093 + f * 19349663) & 0xFFFFFFFF
                    v = ((v ^ (v >> 7)) * 0x9E3779B1) & 0xFFFFFFFF
                    v ^= v >> 13
                    b = 2 + v % alpha
                    frames.append(
                        amp * np.sin(2 * np.pi * b * t / frame_len)
                    )
                samples = np.concatenate(frames).astype("<i2")
                payloads.append(encode_wav(samples))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    src = df.select(F.col(id_col).cast("long").alias("media_id"))
    return src.mapInPandas(kernel, MEDIA_PAYLOAD_SCHEMA)
