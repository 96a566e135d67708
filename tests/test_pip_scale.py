"""Scale-robustness of the exact PIP kernels (VERDICT r2 #1):
memory-bounded chunking + row-banded edge lists must be bit-identical
to the unbounded dense kernel, and a high-vertex (coastline-class) polygon
must refine under a fixed memory budget instead of materializing
(points × all-segments) matrices.
"""

import tracemalloc

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from osm_spark.spatial import pip_index as P


def _star_ring(n, r0, r1, cx=0.0, cy=0.0):
    th = np.linspace(0, 2 * np.pi, n, endpoint=False)
    r = np.where(np.arange(n) % 2 == 0, r1, r0)
    xs = np.append(cx + r * np.cos(th), cx + r[0] * np.cos(th[0]))
    ys = np.append(cy + r * np.sin(th), cy + r[0] * np.sin(th[0]))
    return xs, ys


def _brute_contains(rings, lons, lats):
    """The round-1 unbounded dense kernel, kept verbatim as the oracle."""
    inside = np.zeros(len(lons), dtype=bool)
    on_edge = np.zeros(len(lons), dtype=bool)
    px, py = lons[:, None], lats[:, None]
    for ring_idx, (xs, ys) in enumerate(rings):
        x1, y1, x2, y2 = xs[:-1], ys[:-1], xs[1:], ys[1:]
        dx, dy = x2 - x1, y2 - y1
        cross = dx[None, :] * (py - y1[None, :]) - dy[None, :] * (px - x1[None, :])
        on = (
            (cross == 0.0)
            & (np.minimum(x1, x2)[None, :] <= px)
            & (px <= np.maximum(x1, x2)[None, :])
            & (np.minimum(y1, y2)[None, :] <= py)
            & (py <= np.maximum(y1, y2)[None, :])
        )
        on_edge |= on.any(axis=1)
        straddle = (y1[None, :] > py) != (y2[None, :] > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1[None, :] + (py - y1[None, :]) * dx[None, :] / dy[None, :]
        crossings = (straddle & (px < xint)).sum(axis=1)
        ring_inside = (crossings & 1).astype(bool)
        inside = ring_inside if ring_idx == 0 else inside & ~ring_inside
    return inside & ~on_edge


def _brute_dist(rings, lons, lats):
    best = np.full(len(lons), np.inf)
    px, py = lons[:, None], lats[:, None]
    for xs, ys in rings:
        x1, y1, x2, y2 = xs[:-1], ys[:-1], xs[1:], ys[1:]
        dx, dy = x2 - x1, y2 - y1
        seg2 = dx * dx + dy * dy
        seg2 = np.where(seg2 == 0.0, 1e-300, seg2)
        t = ((px - x1[None, :]) * dx[None, :] + (py - y1[None, :]) * dy[None, :]) / seg2[None, :]
        t = np.clip(t, 0.0, 1.0)
        cx = x1[None, :] + t * dx[None, :]
        cy = y1[None, :] + t * dy[None, :]
        d2 = (px - cx) ** 2 + (py - cy) ** 2
        best = np.minimum(best, np.sqrt(d2.min(axis=1)))
    return best


@pytest.fixture()
def star_index():
    rings = [_star_ring(401, 8.0, 10.0), _star_ring(101, 2.0, 3.0)]
    return P.PipIndex([], {}, {(1, 0): rings}), rings


def test_contains_and_distance_bit_identical(star_index):
    idx, rings = star_index
    rng = np.random.default_rng(7)
    lons = rng.uniform(-12, 12, 4000)
    lats = rng.uniform(-12, 12, 4000)
    np.testing.assert_array_equal(
        idx.contains(1, 0, lons, lats), _brute_contains(rings, lons, lats)
    )
    np.testing.assert_array_equal(
        idx.edge_distance(1, 0, lons, lats), _brute_dist(rings, lons, lats)
    )


def test_tiny_tile_budget_identical(star_index, monkeypatch):
    """Shrinking the element budget changes the tiling, never the rows."""
    idx, rings = star_index
    rng = np.random.default_rng(11)
    lons = rng.uniform(-12, 12, 1500)
    lats = rng.uniform(-12, 12, 1500)
    base_c = idx.contains(1, 0, lons, lats)
    base_d = idx.edge_distance(1, 0, lons, lats)
    monkeypatch.setattr(P, "TILE_ELEMS", 997)  # prime: ragged tiles
    idx2 = P.PipIndex([], {}, idx.geom)
    np.testing.assert_array_equal(idx2.contains(1, 0, lons, lats), base_c)
    np.testing.assert_array_equal(idx2.edge_distance(1, 0, lons, lats), base_d)


def test_high_vertex_polygon_memory_bound():
    """Coastline-class polygon (6×10^4 segments) × a full 10k-point
    batch through the batch refine: peak allocation stays
    ~TILE_ELEMS-scale, nowhere near the points×segments dense matrix
    (~5 GB per temporary here).
    """
    big = [_star_ring(60001, 9.0, 10.0)]
    idx = P.PipIndex([], {}, {(2, 0): big})
    rng = np.random.default_rng(3)
    n = 10_000
    lons = rng.uniform(-11, 11, n)
    lats = rng.uniform(-11, 11, n)
    idx._edges()  # build the per-process edge table outside the measurement
    tracemalloc.start()
    got = idx.refine(
        np.arange(n), np.full(n, 2), np.zeros(n, dtype=np.int64), lons, lats
    )
    d = idx.edge_distance(2, 0, lons[:200], lats[:200])
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    # The dense kernel's first temporary alone would be
    # 60000*10000*8 ≈ 4.8 GB; the chunked kernel stays ~TILE_ELEMS-sized.
    assert peak < 300e6, f"peak {peak/1e6:.0f} MB"
    # Spot-check correctness against the dense oracle on a slice.
    sel = np.arange(0, n, 50)
    np.testing.assert_array_equal(got[sel], _brute_contains(big, lons[sel], lats[sel]))
    np.testing.assert_array_equal(d, _brute_dist(big, lons[:200], lats[:200]))
    # A latitude band of points shares few edge-table rows: the
    # hot-path shape, where each candidate tests only its row's edges.
    band = np.abs(lats) < 0.02
    np.testing.assert_array_equal(got[band], _brute_contains(big, lons[band], lats[band]))


def test_missing_geometry_is_dropped_not_fatal(star_index):
    """Broadcast refinement mirrors the cogroup path's silent-drop
    semantics for candidates with no geometry entry (ADVICE r2)."""
    idx, _ = star_index
    lons = np.array([0.0, 1.0])
    lats = np.array([0.0, 1.0])
    assert not idx.contains(99, 7, lons, lats).any()
    assert np.isinf(idx.edge_distance(99, 7, lons, lats)).all()


def test_index_pickle_drops_segment_cache(star_index):
    import pickle

    idx, _ = star_index
    idx._edges()
    assert idx._table is not None
    clone = pickle.loads(pickle.dumps(idx))
    assert clone._table is None
    lons = np.array([0.0, 5.0, 11.0])
    lats = np.array([0.0, 5.0, 11.0])
    np.testing.assert_array_equal(
        clone.contains(1, 0, lons, lats), idx.contains(1, 0, lons, lats)
    )


@st.composite
def _refine_case(draw):
    """Polygons and candidates on a grid of half edge-table rows, so
    vertices, edges and points land exactly on row boundaries
    (lat = k·h − 90), on vertices and on edges, with horizontal edges,
    duplicate consecutive vertices, zero-area rings and holes."""
    level = draw(st.sampled_from([None, 6, 9, 12, 14]))
    u = 180.0 / (1 << (P.GEOMETRY_ROW_LEVEL if level is None else level)) / 2
    grid = st.integers(-6, 6).map(lambda j: j * u)
    free = st.floats(-7 * u, 7 * u, allow_nan=False)
    vertex = st.tuples(grid, grid)

    def ring():
        kind = draw(st.sampled_from(["open", "closed", "zero_area"]))
        vs = draw(st.lists(vertex, min_size=1, max_size=8))
        if kind == "zero_area":
            vs = vs + vs[-2::-1]
        elif kind == "closed":
            vs = vs + vs[:1]
        dup = draw(st.lists(st.integers(0, len(vs) - 1), max_size=2))
        for i in sorted(dup, reverse=True):
            vs.insert(i, vs[i])
        return np.array([v[0] for v in vs]), np.array([v[1] for v in vs])

    keys = draw(
        st.lists(st.tuples(st.integers(1, 3), st.integers(0, 1)),
                 min_size=1, max_size=3, unique=True)
    )
    geom = {k: [ring() for _ in range(draw(st.integers(1, 3)))] for k in keys}
    pts = []
    for _ in range(draw(st.integers(0, 30))):
        xs, ys = draw(st.sampled_from([r for rings in geom.values() for r in rings]))
        i = draw(st.integers(0, len(xs) - 1))
        j = min(i + 1, len(xs) - 1)
        pts.append(draw(st.sampled_from([
            (xs[i], ys[i]),  # a vertex
            ((xs[i] + xs[j]) / 2, (ys[i] + ys[j]) / 2),  # on an edge
            (draw(grid), draw(grid)),
            (draw(free), draw(free)),
        ])))
    lons = np.array([p[0] for p in pts], dtype=np.float64)
    lats = np.array([p[1] for p in pts], dtype=np.float64)
    pool = keys + [(9, 9)]  # (9, 9) has no geometry: dropped silently
    cand = draw(st.lists(
        st.tuples(st.integers(0, max(len(pts) - 1, 0)), st.sampled_from(pool)),
        max_size=60 if pts else 0,
    ))
    tile = draw(st.sampled_from([8, 997, P.TILE_ELEMS]))
    return level, geom, lons, lats, cand, tile


@settings(max_examples=300, deadline=None)
@given(case=_refine_case())
def test_refine_matches_brute_force(case):
    level, geom, lons, lats, cand, tile = case
    idx = P.PipIndex([] if level is None else [level], {}, geom)
    pt = np.array([c[0] for c in cand], dtype=np.int64)
    rel = np.array([c[1][0] for c in cand], dtype=np.int64)
    poly = np.array([c[1][1] for c in cand], dtype=np.int64)
    want = np.array([
        k in geom and bool(_brute_contains(geom[k], lons[[i]], lats[[i]])[0])
        for i, k in cand
    ], dtype=bool)
    saved = P.TILE_ELEMS
    P.TILE_ELEMS = tile
    try:
        got = idx.refine(pt, rel, poly, lons, lats)
    finally:
        P.TILE_ELEMS = saved
    np.testing.assert_array_equal(got, want)
