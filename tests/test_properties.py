"""Property-based tests (hypothesis) for the from-scratch kernels whose
correctness SURVEY.md §7 flags as a hard part: the cell index bit-math
and the text kernels (pure numpy/python), and the kNN scale path
against brute force (on the session Spark fixture)."""
import numpy as np
from hypothesis import example, given, settings, strategies as st

from osml10n_spark.kernels.levenshtein import levenshtein_bytes
from osml10n_spark.kernels.unaccent import unaccent
from osml10n_spark.spatial.cellindex import (
    cell_center, cell_children, cell_from_lonlat, cell_res, cell_to_parent,
    k_ring, tile_from_lonlat, zorder_key,
)

lons = st.floats(min_value=-179.999, max_value=179.999,
                 allow_nan=False, allow_infinity=False)
lats = st.floats(min_value=-89.999, max_value=89.999,
                 allow_nan=False, allow_infinity=False)
resolutions = st.integers(min_value=1, max_value=12)


@settings(max_examples=200, deadline=None)
@given(lons, lats, resolutions)
def test_cell_roundtrip_contains_point(lon, lat, res):
    """The cell containing a point must have its center within half a
    cell of the point, and re-indexing the center gives the same cell."""
    cell = int(cell_from_lonlat(np.array([lon]), np.array([lat]), res)[0])
    assert cell_res(np.array([cell]))[0] == res
    clon, clat = cell_center(np.array([cell]))
    cell_w = 360.0 / (2 ** (res + 1))
    cell_h = 180.0 / (2 ** res)
    assert abs(clon[0] - lon) <= cell_w / 2 + 1e-9
    assert abs(clat[0] - lat) <= cell_h / 2 + 1e-9
    again = int(cell_from_lonlat(np.array([float(clon[0])]),
                                 np.array([float(clat[0])]), res)[0])
    assert again == cell


@settings(max_examples=200, deadline=None)
@given(lons, lats, resolutions)
def test_parent_child_containment(lon, lat, res):
    """parent(cell(p, res)) == cell(p, res-1); every cell is among its
    parent's children."""
    cell = int(cell_from_lonlat(np.array([lon]), np.array([lat]), res)[0])
    if res > 1:
        parent = int(cell_to_parent(np.array([cell]), res - 1)[0])
        direct = int(cell_from_lonlat(np.array([lon]), np.array([lat]),
                                      res - 1)[0])
        assert parent == direct
        kids = cell_children(np.array([parent]))
        assert cell in set(int(c) for c in kids.ravel())


@settings(max_examples=100, deadline=None)
@given(lons, lats, st.integers(min_value=1, max_value=3))
def test_k_ring_symmetry_and_membership(lon, lat, k):
    """The cell itself is in its k-ring; ring membership is symmetric
    (b in ring(a)  ⇒  a in ring(b)) away from the antimeridian wrap."""
    res = 6
    cell = int(cell_from_lonlat(np.array([lon]), np.array([lat]), res)[0])
    ring = [int(c) for c in k_ring(cell, k)]
    assert cell in ring
    assert len(ring) == len(set(ring))
    for other in ring[:5]:
        assert cell in {int(c) for c in k_ring(other, k)}


@settings(max_examples=200, deadline=None)
@given(lons, lats)
def test_tile_is_zorder_prefix(lon, lat):
    """tile_id at z is the morton prefix of the full-depth z-order key."""
    z, maxz = 8, 16
    tile = int(tile_from_lonlat(np.array([lon]), np.array([lat]), z, maxz)[0])
    zkey = int(zorder_key(np.array([lon]), np.array([lat]), maxz)[0])
    assert (tile & ((1 << 58) - 1)) == zkey >> (2 * (maxz - z))


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=60))
def test_unaccent_idempotent_and_latin_stable(s):
    once = unaccent(s)
    assert unaccent(once) == once
    # plain ASCII is a fixed point
    if s.isascii():
        assert once == s


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=30), st.text(max_size=30))
def test_levenshtein_metric_properties(a, b):
    d = levenshtein_bytes(a, b)
    assert d == levenshtein_bytes(b, a)
    assert (d == 0) == (a == b)
    # upper bound: byte length of the longer string
    assert d <= max(len(a.encode()), len(b.encode()))


# kNN: knn_cells against the knn_geo brute force.  Coordinates mix a
# world scatter, one-cell bands at ±180° lon and ±90° lat, a box a few
# res-6 cells wide (neighbours just outside a query's ring), a small
# integer grid (exact ties in dist2), and NULL/NaN positions.
_KNN_RES = 3                        # 22.5° cells; rings wrap the globe
_KNN_CELL = 180.0 / 2 ** _KNN_RES


def _deg(lo, hi):
    return st.floats(min_value=lo, max_value=hi, allow_nan=False,
                     allow_infinity=False)


_knn_point = st.one_of(
    st.tuples(_deg(-180, 180), _deg(-90, 90)),
    st.tuples(st.one_of(_deg(180 - _KNN_CELL, 180),
                        _deg(-180, -180 + _KNN_CELL)), _deg(-90, 90)),
    st.tuples(_deg(-180, 180), st.one_of(_deg(90 - _KNN_CELL, 90),
                                         _deg(-90, -90 + _KNN_CELL))),
    st.tuples(_deg(0, 8), _deg(0, 8)),
    st.tuples(st.integers(-3, 3).map(float), st.integers(-3, 3).map(float)),
    st.tuples(st.sampled_from([None, float("nan")]), _deg(-90, 90)),
    st.tuples(_deg(-180, 180), st.sampled_from([None, float("nan")])),
)


@settings(max_examples=12, deadline=None)
# res 6, ring 1: q sits at the left edge of its cell; the nearest item
# lies just outside q's ring, a farther one inside it — only the guard
# radius keeps the farther one from closing q in round 1
@example(items=[(-2.9, 1.0), (3.2, 1.0)], queries=[(0.1, 1.0)], dup_of=[],
         heavy=False, k=1, res=6)
@example(items=[], queries=[(0.0, 0.0)], dup_of=[], heavy=False, k=2, res=6)
@example(items=[(0.0, 0.0)], queries=[], dup_of=[], heavy=False, k=2, res=6)
@given(items=st.lists(_knn_point, max_size=25),
       queries=st.lists(_knn_point, max_size=8),
       dup_of=st.lists(st.integers(0, 24), max_size=4),
       heavy=st.booleans(), k=st.integers(1, 4),
       res=st.sampled_from([_KNN_RES, 6]))
def test_knn_cells_matches_bruteforce(spark, items, queries, dup_of, heavy,
                                      k, res):
    """knn_cells returns exactly knn_geo's (qid, rank) → (iid, dist2),
    including exact-duplicate items (ties at the k-th distance broken by
    iid), a heavy cell of 300 items inside ±0.05° (the corpus shape of
    test_operators' heavy-cell test), points next to the antimeridian
    and the poles, empty sides, and NULL/NaN coordinates."""
    from osml10n_spark.operators.spatial import knn_cells, knn_geo
    pts = list(items) + [items[i] for i in dup_of if i < len(items)]
    if heavy:
        rng = np.random.default_rng(len(pts))
        pts += [(float(10.0 + rng.uniform(-0.05, 0.05)),
                 float(50.0 + rng.uniform(-0.05, 0.05))) for _ in range(300)]
    item_df = spark.createDataFrame(
        [(f"i{j:03d}", lon, lat) for j, (lon, lat) in enumerate(pts)],
        "iid string, lon double, lat double")
    query_df = spark.createDataFrame(
        [(f"q{j}", lon, lat) for j, (lon, lat) in enumerate(queries)],
        "qid string, lon double, lat double")
    brute = {(r.qid, r.rank): (r.iid, r.dist2)
             for r in knn_geo(query_df, item_df, k).collect()}
    out = knn_cells(query_df, item_df, k, res=res)
    cells = {(r.qid, r.rank): (r.iid, r.dist2) for r in out.collect()}
    out.unpersist()
    assert cells == brute
