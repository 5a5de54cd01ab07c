"""Spatial kernels: PiP parity with the reference daemon, cell-index
property tests (FIXTURES.md F-H), cover soundness, prepared-lookup
equivalence."""
import numpy as np
import pytest

from osml10n_spark.spatial.boundaries import load_boundaries
from osml10n_spark.spatial.cellindex import (
    cell_center,
    cell_children,
    cell_from_lonlat,
    cell_res,
    cell_to_parent,
    k_ring,
    polygon_cover,
    tile_from_lonlat,
    zorder_key,
)
from osml10n_spark.spatial.prepared import PreparedLookup


@pytest.fixture(scope="module")
def index():
    """The reference boundary set, loaded once for the tests that need
    it — a missing directory fails only those tests."""
    return load_boundaries()


# Parity: centroids of the reference test bboxes (runtests.lua:146-173)
# must resolve like geo-transcript-srv.py:211-221 did.
@pytest.mark.parametrize("lon,lat,cc", [
    ((138.79 + 139.51) / 2, (36.08 + 36.77) / 2, "jp"),
    ((113.05 + 115.73) / 2, (29.45 + 32.13) / 2, ""),      # China — not in set
    (-29.5, 49.5, ""),                                     # Atlantic
    (100.5, 14.5, "th"),
    ((113.54 + 113.58) / 2, (22.16 + 22.2) / 2, "mo"),
    ((114.15 + 114.2) / 2, (22.28 + 22.33) / 2, "hk"),
    (121.0, 23.7, "tw"),
    (0.0, 0.0, ""),
])
def test_pip_reference_points(index, lon, lat, cc):
    assert index.lookup_one(lon, lat) == cc


def test_prepared_lookup_matches_linear_scan(index):
    rng = np.random.default_rng(42)
    # points concentrated around the boundary bboxes plus world-uniform
    lons, lats = [], []
    for poly in index.polys:
        xmin, ymin, xmax, ymax = poly.bbox
        pad_x = (xmax - xmin) * 0.3 + 0.01
        pad_y = (ymax - ymin) * 0.3 + 0.01
        lons.append(rng.uniform(xmin - pad_x, xmax + pad_x, 400))
        lats.append(rng.uniform(ymin - pad_y, ymax + pad_y, 400))
    lons.append(rng.uniform(-180, 180, 500))
    lats.append(rng.uniform(-90, 90, 500))
    lon = np.concatenate(lons)
    lat = np.concatenate(lats)
    plain = index.lookup(lon, lat)
    prep = PreparedLookup(index, res=9).lookup(lon, lat)
    assert (plain == prep).all()


def test_cell_roundtrip_and_parent_containment():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-90, 90, 2000)
    for res in (7, 8, 9):
        cells = cell_from_lonlat(lon, lat, res)
        assert (cell_res(cells) == res).all()
        clon, clat = cell_center(cells)
        # center maps back to the same cell
        assert (cell_from_lonlat(clon, clat, res) == cells).all()
        # parent containment: the parent of my cell is the cell of my point
        # at the parent resolution
        parents = cell_to_parent(cells, res - 1)
        assert (parents == cell_from_lonlat(lon, lat, res - 1)).all()
        # children of parent include the cell
        kids = cell_children(parents)
        assert ((kids == cells[:, None]).any(axis=1)).all()


def test_k_ring_symmetry_and_size():
    c = int(cell_from_lonlat(np.array([10.3]), np.array([47.2]), 9)[0])
    ring1 = k_ring(c, 1)
    assert len(ring1) == 9 and c in ring1.tolist()
    # symmetry: if b in ring(a) then a in ring(b)
    for b in ring1.tolist():
        assert c in k_ring(int(b), 1).tolist()
    # lon wraparound at the antimeridian
    edge = int(cell_from_lonlat(np.array([179.99]), np.array([0.0]), 9)[0])
    assert len(k_ring(edge, 1)) == 9


def test_cover_soundness(index):
    # every point inside a polygon must fall in a cover cell
    rng = np.random.default_rng(3)
    for poly in index.polys:
        interior, boundary = polygon_cover(poly, res=9)
        cover = set(interior.tolist()) | set(boundary.tolist())
        xmin, ymin, xmax, ymax = poly.bbox
        lon = rng.uniform(xmin, xmax, 3000)
        lat = rng.uniform(ymin, ymax, 3000)
        inside = poly.contains(lon, lat)
        cells = cell_from_lonlat(lon[inside], lat[inside], 9)
        assert all(int(c) in cover for c in cells), poly.cc


def test_zorder_and_tiles():
    lon = np.array([-179.9, 0.0, 10.0, 179.9])
    lat = np.array([-89.9, 0.0, 50.0, 89.9])
    zk = zorder_key(lon, lat, 16)
    assert (zk >= 0).all()
    t8 = tile_from_lonlat(lon, lat, z=8, maxz=16)
    t8b = tile_from_lonlat(lon + 1e-9, lat, z=8, maxz=16)
    assert (t8 == t8b).all()          # stability under fp jitter
    # tile nesting: z8 tile id is the z16 zkey shifted
    t16 = tile_from_lonlat(lon, lat, z=16, maxz=16)
    assert ((np.asarray(t16).astype(np.uint64) & ((np.uint64(1) << np.uint64(58)) - np.uint64(1))) >> np.uint64(16)
            == (np.asarray(t8).astype(np.uint64) & ((np.uint64(1) << np.uint64(58)) - np.uint64(1)))).all()


def test_prepared_lookup_overlap_first_match_parity():
    """A point interior to a later-sorted polygon but inside an
    overlapping earlier-sorted polygon's boundary cell must resolve to
    the earlier cc — PreparedLookup == BoundaryIndex linear first-match
    for overlapping boundary sets."""
    from osml10n_spark.spatial.boundaries import BoundaryIndex
    from osml10n_spark.spatial.geometry import pack_polygon
    from osml10n_spark.spatial.prepared import PreparedLookup
    import numpy as np
    # 'aa' (sorted earlier) overlaps the middle of 'zz'; the probe point
    # sits deep inside 'zz' (interior cells at res 6) AND inside 'aa'
    zz = pack_polygon("zz", [[(0, 0), (40, 0), (40, 40), (0, 40), (0, 0)]])
    aa = pack_polygon("aa", [[(15, 15), (25, 15), (25, 25), (15, 25),
                              (15, 15)]])
    idx = BoundaryIndex([zz, aa])
    prep = PreparedLookup(idx, res=6)
    lons = np.array([20.0, 5.0, 50.0])
    lats = np.array([20.0, 5.0, 50.0])
    linear = idx.lookup(lons, lats)
    fast = prep.lookup(lons, lats)
    assert list(fast) == list(linear)
    assert fast[0] == "aa"     # overlap → earlier-sorted cc wins
    assert fast[1] == "zz"
    assert fast[2] == ""


def test_pack_polygon_degenerate_rings_is_empty():
    from osml10n_spark.spatial.geometry import pack_polygon
    import numpy as np
    p = pack_polygon("xx", [[(0, 0), (1, 1)], []])
    assert not p.contains(np.array([0.5]), np.array([0.5]))[0]
