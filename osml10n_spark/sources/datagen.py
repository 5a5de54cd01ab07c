"""Deterministic synthetic image+caption table generator
(BASELINE.json input_hint shape; FIXTURES.md F-A).

Generation is DISTRIBUTED (mapInPandas over spark.range) and row-id
deterministic: every row is derived from ``rng(seed, id)`` so the table
is identical under any partitioning/parallelism — required for the
two-parallelism scaling-equivalence evidence and resume tests.

Placement mixes world-uniform points, clusters around the five
reference boundaries (so the PiP path is exercised), and one dense
urban cell (Tokyo) to create realistic cell skew for the salting/AQE
machinery.
"""
from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from ..imaging import encode_image, phash64

__all__ = ["generate_images", "caption_for",
           "visual_for_id", "videos_with_shared_frames", "audio_for_id",
           "IMAGES_DDL"]

IMAGES_DDL = ("image_id string, bytes binary, w int, h int, fmt string, "
              "caption string, phash long, lon double, lat double, "
              "tags map<string,string>")

# caption corpora per class --------------------------------------------------
_LATIN = ["Main Road", "Trafalgar Square", "Schillerstraße", "Kronenplatz",
          "Mulholland Drive", "Avenue de la Gare", "Sabin Place", "London",
          "Porto-Novo", "Lisboa", "Besançon", "München", "Oregon Expressway",
          "Curtiss Parkway", "North 50th Street", "Route de Marly",
          "Gottesauer Platz", "Promenade du Barrage"]
_CYR = ["улица Воздвиженка", "Невский проспект", "Москва́",
        "набережная реки Фонтанки", "вулиця Молока", "площа Ринок"]
_CJK = ["東京", "北京", "漢字 100 abc", "香港", "鳳凰徑第3段", "緑台中",
        "九龍", "澳門", "東京駅"]
_THAI = ["ห้องสมุดประชาชน", "ถนนข้าวสาร", "วัด", "ตลาด", "บ้าน"]
_BILINGUAL = [("Bolzano - Bozen", {"name:de": "Bozen", "name:it": "Bolzano"}),
              ("Bruxelles - Brussel", {"name:de": "Brüssel", "name:fr": "Bruxelles"}),
              ("Brixen - Bressanone", {"name:de": "Brixen", "name:it": "Bressanone"}),
              ("Meran - Merano", {"name:de": "Meran", "name:it": "Merano"})]

# (lon, lat, radius_deg) placement clusters
_CJK_CLUSTERS = [(139.7, 35.7, 0.5), (114.17, 22.30, 0.02), (113.56, 22.18, 0.01),
                 (121.0, 23.7, 0.5), (121.4, 31.2, 0.5), (100.5, 13.8, 0.5)]
_URBAN = (139.70, 35.68, 0.05)       # dense Tokyo cell → deliberate skew


def caption_for(rng: np.random.Generator) -> tuple[str, dict, float, float]:
    """Pick (caption, tags, lon, lat) for one row.

    80% of single-name captions get a unique numeric suffix (street
    numbers / plot ids) — realistic label cardinality, so per-row work
    can't be amortized away by caching alone."""
    u = rng.random()

    def uniq(cap: str) -> str:
        if rng.random() < 0.8:
            return f"{cap} {int(rng.integers(1, 1000000))}"
        return cap

    if u < 0.50:          # latin
        cap = uniq(_LATIN[rng.integers(len(_LATIN))])
        tags = {"name": cap}
        if rng.random() < 0.3:
            tags["name:de"] = cap
        lon, lat = _place_world(rng)
    elif u < 0.62:        # cyrillic
        cap = uniq(_CYR[rng.integers(len(_CYR))])
        tags = {"name": cap}
        lon, lat = _place_world(rng)
    elif u < 0.80:        # cjk near the boundary clusters
        cap = uniq(_CJK[rng.integers(len(_CJK))])
        tags = {"name": cap}
        cx, cy, r = _CJK_CLUSTERS[rng.integers(len(_CJK_CLUSTERS))]
        lon = cx + rng.normal(0, r)
        lat = cy + rng.normal(0, r)
    elif u < 0.87:        # thai
        cap = uniq(_THAI[rng.integers(len(_THAI))])
        tags = {"name": cap}
        lon = 100.5 + rng.normal(0, 0.8)
        lat = 14.0 + rng.normal(0, 0.8)
    else:                 # bilingual combined
        cap, extra = _BILINGUAL[rng.integers(len(_BILINGUAL))]
        tags = {"name": cap, **extra}
        lon, lat = _place_world(rng)
    return cap, tags, float(np.clip(lon, -180, 180)), float(np.clip(lat, -90, 90))


def _place_world(rng: np.random.Generator) -> tuple[float, float]:
    if rng.random() < 0.25:           # skewed urban cell
        cx, cy, r = _URBAN
        return cx + rng.normal(0, r), cy + rng.normal(0, r)
    return rng.uniform(-180, 180), rng.uniform(-60, 75)


_FMTS = ["bmp", "raw", "jpegq"]


def visual_for_id(seed: int, i: int,
                  near_dup_frac: float = 0.0) -> tuple[int, int, str, np.ndarray]:
    """(w, h, fmt, pixels) for row id ``i`` — REPLAYABLE from the id
    alone, which is what makes ``near_dup_frac`` partition-safe: a
    near-dup row reconstructs its base row's pixels by recursing on the
    base id (bases chain strictly downward, so recursion terminates)
    without ever seeing the base row.  With frac=0 the draw sequence is
    identical to the original generator, so existing datasets/goldens
    are byte-stable; with frac>0 the dup decision draws AFTER the row's
    own pixel draws, so non-dup rows keep frac=0 pixels too.

    A dup row copies a base image and perturbs 1–3 pixel channels by
    ≤7/255 — visually near-identical, so its mean-threshold phash lands
    within a few bits of the base (the image_dup_pairs test surface).
    The delta's sign flips instead of wrapping when a channel would
    overflow 255, so a near-255 channel moves by the same small
    magnitude rather than wrapping to ~0 (which would be a large visual
    jump contradicting the near-dup intent)."""
    rng = np.random.default_rng([seed, int(i)])
    caption_for(rng)                      # burn draws in generator order
    w = int(rng.integers(8, 25))
    h = int(rng.integers(8, 25))
    fmt = _FMTS[int(rng.integers(3))]
    pix = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    if near_dup_frac > 0 and int(i) > 0 and rng.random() < near_dup_frac:
        base = int(rng.integers(0, int(i)))
        w, h, fmt, pix = visual_for_id(seed, base, near_dup_frac)
        pix = pix.copy()
        for _ in range(int(rng.integers(1, 4))):
            y = int(rng.integers(h))
            x = int(rng.integers(w))
            ch = int(rng.integers(3))
            delta = int(rng.integers(1, 8))
            val = int(pix[y, x, ch])
            pix[y, x, ch] = np.uint8(val + delta if val + delta <= 255
                                     else val - delta)
    return w, h, fmt, pix


def videos_with_shared_frames(seed: int, n_videos: int = 15,
                              pool_size: int = 10, n_frames: int = 6
                              ) -> list[tuple[str, np.ndarray]]:
    """Deterministic test videos drawing frames from a shared pool with
    per-use pixel perturbations — frames repeat ACROSS videos, the
    ground truth for cross-video frame near-dup detection
    (q_frame_dups).  Fully replayable driver-side (per-video rng keyed
    [seed, video+1]; pool keyed [seed, 0]), so the oracle recomputes
    every sampled frame's phash without Spark."""
    rng = np.random.default_rng([seed, 0])
    pool = rng.integers(0, 256, (pool_size, 8, 8, 3), dtype=np.uint8)
    out = []
    for v in range(n_videos):
        rv = np.random.default_rng([seed, 1 + v])
        idx = rv.integers(0, pool_size, n_frames)
        frames = pool[idx].copy()
        for f in range(n_frames):
            # stronger deltas than visual_for_id: on an 8x8 frame each
            # pixel IS one phash block, so these flip 0-4 bits — the
            # hamming refine sees a real distance distribution, not
            # just exact phash collisions
            for _ in range(int(rv.integers(0, 4))):
                y = int(rv.integers(8))
                x = int(rv.integers(8))
                ch = int(rv.integers(3))
                frames[f, y, x, ch] = np.uint8(
                    (int(frames[f, y, x, ch]) + int(rv.integers(16, 97)))
                    % 256)
        out.append((f"vid_{v:04d}", frames))
    return out


def audio_for_id(seed: int, i: int,
                 near_dup_frac: float = 0.0, sr: int = 4000,
                 dur_s: float = 1.0) -> tuple[np.ndarray, int]:
    """((n,) int16 samples, sr) for clip id ``i`` — replayable from the
    id alone, same scheme as visual_for_id: a near-dup clip reconstructs
    its base by recursing on the base id, then overlays low-amplitude
    noise (≈ -40 dB vs signal), so its energy-delta fingerprint lands
    within a few bits of the base.  Clips are sine mixtures under a
    64-step random gain envelope — adjacent window energies differ
    decisively, which keeps the fingerprint stable under the dup noise
    yet discriminative across clips."""
    rng = np.random.default_rng([seed, int(i)])
    n = int(sr * dur_s)
    t = np.arange(n) / sr
    freqs = rng.uniform(80.0, 1200.0, 3)
    amps = rng.uniform(0.3, 1.0, 3)
    carrier = sum(a * np.sin(2 * np.pi * f * t)
                  for f, a in zip(freqs, amps))
    env = np.repeat(rng.uniform(0.15, 1.0, 64),
                    -(-n // 64))[:n]          # 64-step gain envelope
    sig = 8000.0 * env * carrier / np.abs(carrier).max()
    sig = sig + rng.normal(0, 40.0, n)        # clip-specific noise floor
    if near_dup_frac > 0 and int(i) > 0 and rng.random() < near_dup_frac:
        base_samples, _ = audio_for_id(seed, int(rng.integers(0, int(i))),
                                       near_dup_frac, sr, dur_s)
        sig = base_samples.astype(np.float64) + rng.normal(0, 60.0, n)
    return np.clip(sig, -32768, 32767).astype(np.int16), sr


def _gen_rows(ids: np.ndarray, seed: int, with_images: bool,
              near_dup_frac: float = 0.0,
              png_every: int | None = None,
              jpeg_every: int | None = None) -> pd.DataFrame:
    rows = []
    for i in ids:
        rng = np.random.default_rng([seed, int(i)])
        cap, tags, lon, lat = caption_for(rng)
        if with_images:
            w, h, fmt, pix = visual_for_id(seed, int(i), near_dup_frac)
            # png/jpeg re-encode keyed on the row ID, not an rng draw,
            # so the draw sequence (and every untouched row) stays
            # byte-identical to *_every=None datasets; the SOURCE
            # pixels (and hence the stored phash) are unchanged — only
            # the container is (jpeg wins an overlap; it is lossy, so
            # decoded pixels approximate the stored phash's source)
            if png_every and int(i) % png_every == 0:
                fmt = "png"
            if jpeg_every and int(i) % jpeg_every == 0:
                fmt = "jpeg"
            data = encode_image(pix, fmt)
            ph = phash64(pix)
        else:
            w = h = 0
            fmt = "none"
            data = b""
            ph = 0
        rows.append((f"img_{int(i):012d}", data, w, h, fmt, cap, ph, lon, lat, tags))
    return pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt",
                                       "caption", "phash", "lon", "lat", "tags"])


def generate_images(spark, n: int, seed: int = 42, with_images: bool = True,
                    partitions: int | None = None,
                    near_dup_frac: float = 0.0,
                    png_every: int | None = None,
                    jpeg_every: int | None = None):
    """Distributed deterministic generation of the input table.
    ``near_dup_frac`` > 0 makes that fraction of images slight
    perturbations of earlier images (see visual_for_id) for the
    near-duplicate-image detection surface.  ``png_every=k`` re-encodes
    every k-th row's pixels as real PNG (same pixels/phash, different
    container) — exercises the spec-conformant zlib codec path without
    perturbing any other row; ``jpeg_every=k`` likewise re-encodes as
    real baseline JFIF (lossy — stored phash still keyed to the source
    pixels; jpeg wins when both hooks hit one row)."""
    if partitions is None:
        partitions = max(int(spark.sparkContext.defaultParallelism), 4)
    rng_rows = spark.range(0, n, 1, partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _gen_rows(pdf["id"].to_numpy(), seed, with_images,
                            near_dup_frac, png_every, jpeg_every)

    return rng_rows.mapInPandas(gen, schema=IMAGES_DDL)
