"""Cell index invariants: roundtrips, hierarchy, exact adjacency
(including across cube faces/corners), and the kNN ring lower bound
validated against the geodesic inverse kernel."""

import numpy as np

from geographiclib_go_spark.operators import cells
from geographiclib_go_spark.kernels import caps as C
from geographiclib_go_spark.kernels import inverse as kinverse
from geographiclib_go_spark.kernels.geodesic import wgs84_model

G = wgs84_model()
RNG = np.random.default_rng(21)


def _random_latlon(n):
    lat = np.degrees(np.arcsin(RNG.uniform(-1, 1, n)))
    lon = RNG.uniform(-180, 180, n)
    return lat, lon


def test_fij_roundtrip():
    res = 12
    n = 1 << res
    f = RNG.integers(0, 6, 5000)
    i = RNG.integers(0, n, 5000)
    j = RNG.integers(0, n, 5000)
    cell = cells.fij_to_cell(f, i, j, res)
    f2, i2, j2 = cells.cell_to_fij(cell, res)
    assert (f == f2).all() and (i == i2).all() and (j == j2).all()


def test_center_in_own_cell():
    for res in (4, 8, 14):
        lat, lon = _random_latlon(20000)
        cell = cells.cell_from_latlon(lat, lon, res)
        cla, clo = cells.cell_center(cell, res)
        cell2 = cells.cell_from_latlon(cla, clo, res)
        assert (cell == cell2).all()


def test_parent_contains_child():
    lat, lon = _random_latlon(20000)
    c10 = cells.cell_from_latlon(lat, lon, 10)
    c6 = cells.cell_from_latlon(lat, lon, 6)
    assert (cells.cell_parent(c10, 10, 6) == c6).all()


def test_neighbors_cover_nearby_points():
    """Any two points closer than ~half a cell width must index to
    cells within one ring of each other — exactness of adjacency at
    face edges and corners is what this catches."""
    res = 7
    w = cells.min_cell_width_rad(res)  # conservative (already halved)
    n = 50000
    lat1, lon1 = _random_latlon(n)
    # displace by < w/2 radians in a random direction
    ang = RNG.uniform(0, 2 * np.pi, n)
    d = RNG.uniform(0, 0.5 * w, n)
    lat2 = lat1 + np.degrees(d * np.cos(ang))
    lon2 = lon1 + np.degrees(d * np.sin(ang) /
                             np.maximum(0.05, np.cos(np.radians(lat1))))
    lat2 = np.clip(lat2, -90, 90)
    c1 = cells.cell_from_latlon(lat1, lon1, res)
    c2 = cells.cell_from_latlon(lat2, lon2, res)
    moved = c1 != c2
    # every moved pair must be in the 1-ring of its origin cell
    uniq = np.unique(c1[moved])
    ring = {}
    f, i, j = cells.cell_to_fij(uniq, res)
    for k, c in enumerate(uniq):
        ring[int(c)] = set(
            cells.neighbors(np.array([c]), res).tolist())
    bad = 0
    for a, b in zip(c1[moved].tolist(), c2[moved].tolist()):
        if b not in ring[int(a)]:
            bad += 1
    assert bad == 0, f"{bad} adjacency violations of {moved.sum()}"


def test_ring_bound_conservative_vs_geodesic():
    """The ring lower bound must never exceed the true WGS84 geodesic
    distance between points whose cells are outside r rings."""
    res = 6
    n = 20000
    lat1, lon1 = _random_latlon(n)
    lat2, lon2 = _random_latlon(n)
    c1 = cells.cell_from_latlon(lat1, lon1, res)
    c2 = cells.cell_from_latlon(lat2, lon2, res)
    inv = kinverse.inverse(G, lat1, lon1, lat2, lon2, C.DISTANCE)
    s12 = inv["s12"]
    # compute ring distance by expanding until c2 is inside
    for r in (1, 2, 3):
        bound = cells.ring_bound_m(res, r, G.b)
        # pairs whose target is NOT within r rings of source
        for k in range(200):  # sample
            a, b = c1[k], c2[k]
            covered = cells.ring_expand(np.array([a]), res, r)
            if b not in covered:
                assert s12[k] >= bound, (
                    f"r={r}: s12={s12[k]} < bound={bound}")


def test_pick_resolution():
    assert cells.pick_resolution(100e3) >= 7
    assert cells.pick_resolution(1000e3) < cells.pick_resolution(10e3)


def _full_set_bfs(cells_in, res, rings):
    """Reference ring expansion: re-expand the whole visited set on
    every step (no frontier bookkeeping)."""
    out = np.unique(np.asarray(cells_in, dtype=np.int64))
    for _ in range(rings):
        out = np.unique(np.concatenate(
            [out, cells._adjacent(out, res).ravel()]))
    return out


def _face_corner_cells(res):
    n = 1 << res
    f, i, j = np.meshgrid(np.arange(6), [0, n - 1], [0, n - 1],
                          indexing="ij")
    return cells.fij_to_cell(f.ravel(), i.ravel(), j.ravel(), res)


def test_batched_ring_covers_match_per_cell():
    """One batched frontier BFS over (owner, cell) pairs gives every
    owner exactly the cover a per-cell ring_expand gives, which in turn
    equals a full-set BFS — at several resolutions and ring counts,
    all 24 face-corner cells included."""
    for res, ring_counts in ((1, (0, 1, 3, 24)), (2, (1, 2, 5, 24)),
                             (4, (1, 3, 9, 24)), (6, (1, 3, 9))):
        corners = _face_corner_cells(res)
        assert corners.size == 24
        lat, lon = _random_latlon(12)
        base = np.unique(np.r_[cells.cell_from_latlon(lat, lon, res),
                               corners])
        owners = 1000 - 3 * np.arange(base.size)  # arbitrary, unsorted
        for rings in ring_counts:
            got_o, got_c = cells.ring_expand(base, res, rings,
                                             owners=owners)
            assert (np.diff(got_o) >= 0).all()
            for o, c in zip(owners.tolist(), base.tolist()):
                single = cells.ring_expand(np.array([c]), res, rings)
                np.testing.assert_array_equal(got_c[got_o == o], single)
                np.testing.assert_array_equal(
                    single, _full_set_bfs([c], res, rings))
            np.testing.assert_array_equal(
                cells.ring_expand(base, res, rings),
                _full_set_bfs(base, res, rings))


def test_batched_ring_covers_high_res_chunks():
    """At res 30 a packed (owner, cell) key holds one owner, so owners
    expand chunk by chunk; the covers must not change."""
    lat = np.array([10.0, 89.99, -45.0, 0.0])
    lon = np.array([20.0, 0.0, 45.0, 179.9999])
    for res in (20, 30):
        base = cells.cell_from_latlon(lat, lon, res)
        got_o, got_c = cells.ring_expand(base, res, 3,
                                         owners=np.arange(base.size))
        for k in range(base.size):
            np.testing.assert_array_equal(
                got_c[got_o == k], _full_set_bfs(base[k:k + 1], res, 3))
