"""Brute-force twins the benchmark checks the program's outputs against.

Nothing here imports the program: the twins see only the admin
geometry (collected once, outside the timing) and the generator's own
coordinates.
"""

from __future__ import annotations

import numpy as np

# Level-8 cells are 360/256 x 180/256 degrees; a Chebyshev disk of
# radius 2 around the probe's cell contains every point closer than two
# cell heights, so any relation whose boundary lies that close must be
# a kNN candidate. Slightly below 2 * 180/256 to stay clear of rounding.
KNN_SURE_RADIUS = 1.40


def polygons(locations_rows) -> list[tuple[int, list, tuple]]:
    """(rel_id, rings, bbox) per polygon of ``locations`` rows
    (rel_id, shape). Rings are (xs, ys) float64 arrays, outer first."""
    out = []
    for row in locations_rows:
        for poly in row["shape"]:
            rings = [
                (
                    np.asarray([p[0] for p in ring], dtype=np.float64),
                    np.asarray([p[1] for p in ring], dtype=np.float64),
                )
                for ring in poly
            ]
            xs, ys = rings[0]
            out.append(
                (int(row["rel_id"]), rings, (xs.min(), ys.min(), xs.max(), ys.max()))
            )
    return out


def contains(rings, lons: np.ndarray, lats: np.ndarray) -> np.ndarray:
    """Dense crossing-number containment: points on any edge are
    outside, a point inside an odd ring count past the outer ring is in
    a hole (weak hole exclusion: each hole is tested on its own)."""
    inside = np.zeros(len(lons), dtype=bool)
    on_edge = np.zeros(len(lons), dtype=bool)
    px, py = lons[:, None], lats[:, None]
    for ring_idx, (xs, ys) in enumerate(rings):
        x1, y1, x2, y2 = xs[:-1], ys[:-1], xs[1:], ys[1:]
        dx, dy = x2 - x1, y2 - y1
        cross = dx * (py - y1) - dy * (px - x1)
        on_edge |= (
            (cross == 0.0)
            & (np.minimum(x1, x2) <= px)
            & (px <= np.maximum(x1, x2))
            & (np.minimum(y1, y2) <= py)
            & (py <= np.maximum(y1, y2))
        ).any(axis=1)
        straddle = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * dx / dy
        odd = ((straddle & (px < xint)).sum(axis=1) & 1).astype(bool)
        inside = odd if ring_idx == 0 else inside & ~odd
    return inside & ~on_edge


def expected_pairs(polys, keys, lons: np.ndarray, lats: np.ndarray) -> set:
    """{(key, rel_id)} for every polygon containing each point."""
    out = set()
    for rel, rings, (x0, y0, x1, y1) in polys:
        m = (lons >= x0) & (lons <= x1) & (lats >= y0) & (lats <= y1)
        if not m.any():
            continue
        idx = np.flatnonzero(m)
        hit = contains(rings, lons[idx], lats[idx])
        out.update((keys[i], rel) for i in idx[hit])
    return out


def edge_distance(rings, lons: np.ndarray, lats: np.ndarray) -> np.ndarray:
    """Planar min point-to-segment distance over all rings."""
    best = np.full(len(lons), np.inf)
    px, py = lons[:, None], lats[:, None]
    for xs, ys in rings:
        x1, y1, x2, y2 = xs[:-1], ys[:-1], xs[1:], ys[1:]
        dx, dy = x2 - x1, y2 - y1
        seg2 = np.where(dx * dx + dy * dy == 0.0, 1e-300, dx * dx + dy * dy)
        t = np.clip(((px - x1) * dx + (py - y1) * dy) / seg2, 0.0, 1.0)
        d2 = (px - (x1 + t * dx)) ** 2 + (py - (y1 + t * dy)) ** 2
        best = np.minimum(best, np.sqrt(d2.min(axis=1)))
    return best


def rel_distances(polys, lons: np.ndarray, lats: np.ndarray) -> dict:
    """rel_id -> per-point min edge distance over the relation's polygons."""
    out: dict = {}
    for rel, rings, _bbox in polys:
        d = edge_distance(rings, lons, lats)
        out[rel] = np.minimum(out[rel], d) if rel in out else d
    return out


def knn_mismatches(polys, probes, got: dict, k: int) -> list[str]:
    """Check kNN rows against min-edge-distance brute force.

    ``probes``: list of (point_id, lon, lat); ``got``: point_id ->
    [(rank, rel_id, dist)]. Within the sure-candidate radius each
    returned distance must equal the brute distance of its relation;
    ranks must follow (dist, rel_id); every relation closer than both
    that radius and the k-th returned distance must be returned.
    """
    lons = np.array([p[1] for p in probes])
    lats = np.array([p[2] for p in probes])
    dist = rel_distances(polys, lons, lats)
    bad = []
    for j, (pid, _lon, _lat) in enumerate(probes):
        rows = sorted(got.get(pid, []))
        if len(rows) > k:
            bad.append(f"{pid}: {len(rows)} rows > k")
            continue
        for _rank, rel, d in rows:
            # Beyond the sure radius only some of a relation's polygons
            # may be candidates, so its distance can only be larger.
            if rel not in dist:
                bad.append(f"{pid}: unknown rel {rel}")
            elif dist[rel][j] < KNN_SURE_RADIUS:
                if not np.isclose(d, dist[rel][j], rtol=1e-9, atol=1e-12):
                    bad.append(f"{pid}: rel {rel} dist {d} != {dist[rel][j]}")
            elif d < dist[rel][j] * (1 - 1e-9):
                bad.append(f"{pid}: rel {rel} dist {d} < {dist[rel][j]}")
        keys = [(d, rel) for _rank, rel, d in rows]
        if keys != sorted(keys):
            bad.append(f"{pid}: ranks out of order")
        limit = KNN_SURE_RADIUS
        if len(rows) == k:
            limit = min(limit, rows[-1][2])
        returned = {rel for _rank, rel, _d in rows}
        for rel, d in dist.items():
            if d[j] < limit * (1 - 1e-9) and rel not in returned:
                bad.append(f"{pid}: missing rel {rel} at {d[j]}")
    return bad
