"""Seeded synthetic country-boundary set for the benchmark.

Writes one GeoJSON ``FeatureCollection`` per country code (``hk jp mo
th tw``) in the layout ``spatial.boundaries.load_boundaries`` reads.
Each country is one MultiPolygon feature: a star-shaped mainland whose
exterior ring wobbles with seeded harmonics, holes punched into the
mainland, and islands off its coast.  Total vertex counts per country
(closing points included) are fixed and span 122 to 49,172, the range
of the reference boundary set; the seed moves every vertex.

The mainlands sit under the clusters ``sources.datagen`` places CJK
and Thai captions in, so the PiP path sees interior, boundary-cell and
outside points.
"""
from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np

__all__ = ["COUNTRIES", "write_boundaries", "fingerprint"]

# cc -> (centre lon, centre lat, mean radius deg, total vertices,
#        holes, islands)
COUNTRIES = {
    "hk": (114.16, 22.33, 0.16, 1_734, 1, 2),
    "jp": (138.60, 36.20, 3.10, 18_960, 2, 3),
    "mo": (113.56, 22.17, 0.06, 122, 1, 1),
    "th": (100.80, 14.60, 3.40, 49_172, 2, 3),
    "tw": (120.95, 23.70, 1.05, 5_210, 1, 2),
}


def _ring(rng, cx, cy, r, n_open):
    """Closed star-shaped ring of ``n_open + 1`` points (counter-
    clockwise), radius ``r`` modulated by a few seeded harmonics and
    small per-vertex jitter; always simple because the radius stays
    positive along a monotone angle sweep."""
    theta = np.linspace(0.0, 2.0 * math.pi, n_open, endpoint=False)
    rad = np.ones(n_open)
    for h in range(2, 7):
        rad += rng.uniform(0.01, 0.05) * np.sin(h * theta + rng.uniform(0, 2 * math.pi))
    rad += rng.uniform(-0.01, 0.01, n_open)
    rad *= r
    pts = np.stack([cx + rad * np.cos(theta), cy + rad * np.sin(theta)], axis=1)
    pts = np.round(pts, 7)
    return np.vstack([pts, pts[:1]]).tolist()


def _country(rng, cx, cy, r, total, n_holes, n_islands):
    # ring sizes: holes and islands take small fixed shares, the
    # mainland exterior takes the rest; every ring holds >= 4 points
    n_small = n_holes + n_islands
    small = max(4, min(total // (8 * n_small), 600))
    sizes_small = [small] * n_small
    main = total - sum(sizes_small)
    mainland = [_ring(rng, cx, cy, r, main - 1)]
    for i in range(n_holes):
        ang = 2.0 * math.pi * (i + rng.uniform(0.2, 0.8)) / n_holes
        d = r * rng.uniform(0.35, 0.55)
        mainland.append(_ring(rng, cx + d * math.cos(ang), cy + d * math.sin(ang),
                              r * 0.08, sizes_small[i] - 1)[::-1])
    polys = [mainland]
    for j in range(n_islands):
        ang = 2.0 * math.pi * (j + rng.uniform(0.2, 0.8)) / n_islands
        d = r * rng.uniform(1.45, 1.7)
        polys.append([_ring(rng, cx + d * math.cos(ang), cy + d * math.sin(ang),
                            r * 0.12, sizes_small[n_holes + j] - 1)])
    return polys


def write_boundaries(dirname: str, seed: int) -> dict:
    """Write ``<cc>.geojson`` for every country into ``dirname``;
    returns ``{cc: vertex count}``."""
    os.makedirs(dirname, exist_ok=True)
    counts = {}
    for k, (cc, (cx, cy, r, total, holes, islands)) in enumerate(sorted(COUNTRIES.items())):
        rng = np.random.default_rng([seed, 7919, k])
        polys = _country(rng, cx, cy, r, total, holes, islands)
        n = sum(len(ring) for poly in polys for ring in poly)
        if n != total:
            raise RuntimeError(f"{cc}: built {n} vertices, expected {total}")
        counts[cc] = n
        doc = {"type": "FeatureCollection", "features": [{
            "type": "Feature", "properties": {"cc": cc},
            "geometry": {"type": "MultiPolygon", "coordinates": polys}}]}
        with open(os.path.join(dirname, f"{cc}.geojson"), "w") as f:
            json.dump(doc, f, separators=(",", ":"))
    return counts


def fingerprint(dirname: str) -> str:
    """sha256 over the sorted GeoJSON files' names and bytes (first 16
    hex digits)."""
    h = hashlib.sha256()
    for fn in sorted(os.listdir(dirname)):
        if fn.endswith(".geojson"):
            h.update(fn.encode())
            with open(os.path.join(dirname, fn), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]
