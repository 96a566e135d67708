"""Radius distance join (spatial/knn_points.distance_join) vs the
naive all-pairs computation on the same int64 micro metric."""

from __future__ import annotations

import math
import numpy as np
import pytest

from osm_spark.spatial.knn_points import distance_join


@pytest.fixture(scope="module")
def spark():
    from osm_spark.session import get_spark

    s = get_spark(master="local[4]", shuffle_partitions=4)
    yield s


def _rand_points(seed, n, lon_span=(-179.9, 179.9), lat_span=(-89.9, 89.9)):
    rng = np.random.default_rng(seed)
    lon = np.round(rng.uniform(*lon_span, n), 6)
    lat = np.round(rng.uniform(*lat_span, n), 6)
    return lon, lat


def _df(spark, lon, lat, start_id=0):
    rows = [
        (start_id + i, float(a), float(b))
        for i, (a, b) in enumerate(zip(lon, lat))
    ]
    return spark.createDataFrame(rows, "id long, lon double, lat double")


def _twin(qlon, qlat, dlon, dlat, max_d, qid0=0, did0=0):
    qx = np.round(qlon * 1e6).astype(np.int64)
    qy = np.round(qlat * 1e6).astype(np.int64)
    dx = np.round(dlon * 1e6).astype(np.int64)
    dy = np.round(dlat * 1e6).astype(np.int64)
    d_u = int(round(max_d * 1e6))
    out = set()
    for i in range(len(qx)):
        d2 = (dx - qx[i]) ** 2 + (dy - qy[i]) ** 2
        for j in np.nonzero(d2 <= d_u * d_u)[0].tolist():
            out.add((qid0 + i, did0 + j, int(d2[j])))
    return out


def _got(spark, qlon, qlat, dlon, dlat, max_d, **kw):
    res = distance_join(
        _df(spark, qlon, qlat),
        _df(spark, dlon, dlat, start_id=10_000),
        max_d,
        query_id="id",
        data_id="id",
        **kw,
    ).collect()
    return {(r["query_id"], r["data_id"], r["d2_u"]) for r in res}


def test_differential_random(spark):
    qlon, qlat = _rand_points(3, 60)
    dlon, dlat = _rand_points(4, 400)
    for max_d in (0.5, 5.0, 30.0):
        got = _got(spark, qlon, qlat, dlon, dlat, max_d)
        exp = _twin(qlon, qlat, dlon, dlat, max_d, did0=10_000)
        assert got == exp, (max_d, len(got), len(exp))


def test_differential_clustered(spark):
    # Dense blob: many qualifying pairs, several per cell.
    rng = np.random.default_rng(9)
    lon = np.round(10.0 + rng.normal(0, 0.01, 300), 6)
    lat = np.round(45.0 + rng.normal(0, 0.01, 300), 6)
    got = _got(spark, lon, lat, lon, lat, 0.01)
    exp = _twin(lon, lat, lon, lat, 0.01, did0=10_000)
    assert got == exp and len(got) > 300  # includes self-pairs


def test_boundary_inclusive(spark):
    # d2 == d_u^2 exactly must be INCLUDED (<=, not <).
    qlon, qlat = np.array([0.0]), np.array([0.0])
    dlon, dlat = np.array([0.003, 0.003001]), np.array([0.0, 0.0])
    got = _got(spark, qlon, qlat, dlon, dlat, 0.003)
    assert got == {(0, 10_000, 3000 * 3000)}


def test_antimeridian_pairs(spark):
    qlon, qlat = np.array([-179.9995]), np.array([0.0])
    dlon, dlat = np.array([179.9995, 179.0]), np.array([0.0, 0.0])
    # planar metric: the wrap pair is 359.999 degrees apart — NOT a
    # neighbor under the planar contract (matches knn_points' planar
    # ranking pin), so nothing qualifies at max_d=0.01...
    assert _got(spark, qlon, qlat, dlon, dlat, 0.01) == set()
    # ...but the disk fan-out still wraps cells, so a HUGE max_d that
    # spans the planar gap finds both, with exact planar d2.
    got = _got(spark, qlon, qlat, dlon, dlat, 360.0)
    exp = _twin(qlon, qlat, dlon, dlat, 360.0, did0=10_000)
    assert got == exp and len(got) == 2


def test_broadcast_equals_shuffle_and_explicit_level(spark):
    qlon, qlat = _rand_points(5, 40)
    dlon, dlat = _rand_points(6, 200)
    a = _got(spark, qlon, qlat, dlon, dlat, 2.0, broadcast_data=True)
    b = _got(spark, qlon, qlat, dlon, dlat, 2.0, broadcast_data=False)
    c = _got(spark, qlon, qlat, dlon, dlat, 2.0, level=9)
    assert a == b == c == _twin(qlon, qlat, dlon, dlat, 2.0, did0=10_000)


def _twin_eq(qlon, qlat, dlon, dlat, max_d, qid0=0, did0=0):
    """Equirectangular twin: lon delta scaled by round(cos(qlat)*1024),
    applied as an int64 >> 10 — the exact engine contract."""
    qx = np.round(qlon * 1e6).astype(np.int64)
    qy = np.round(qlat * 1e6).astype(np.int64)
    dx = np.round(dlon * 1e6).astype(np.int64)
    dy = np.round(dlat * 1e6).astype(np.int64)
    d_u = int(round(max_d * 1e6))
    out = set()
    for i in range(len(qx)):
        cq = int(round(math.cos(math.radians(qlat[i])) * 1024))
        lon_term = (np.abs(dx - qx[i]) * cq) >> 10
        d2 = lon_term * lon_term + (dy - qy[i]) ** 2
        for j in np.nonzero(d2 <= d_u * d_u)[0].tolist():
            out.add((qid0 + i, did0 + j, int(d2[j])))
    return out


def test_equirectangular_differential(spark):
    qlon, qlat = _rand_points(13, 50)
    dlon, dlat = _rand_points(14, 300)
    for max_d in (1.0, 10.0):
        got = _got(
            spark, qlon, qlat, dlon, dlat, max_d, metric="equirectangular"
        )
        exp = _twin_eq(qlon, qlat, dlon, dlat, max_d, did0=10_000)
        assert got == exp, (max_d, len(got), len(exp))


def test_equirectangular_equals_planar_at_equator(spark):
    # cq = 1024 exactly at lat 0 → (|Δlon|·1024) >> 10 == |Δlon|.
    qlon, qlat = _rand_points(15, 30, lat_span=(0.0, 0.0))
    dlon, dlat = _rand_points(16, 200, lat_span=(0.0, 0.0))
    a = _got(spark, qlon, qlat, dlon, dlat, 3.0, metric="planar")
    b = _got(spark, qlon, qlat, dlon, dlat, 3.0, metric="equirectangular")
    assert a == b and a


def test_equirectangular_high_latitude_widens(spark):
    # At lat 80, cos ≈ 0.17: a point 0.05° east is ~0.0087° away in
    # the geodesic metric — inside max_d=0.01 — but 0.05° away in the
    # planar metric — outside.
    qlon, qlat = np.array([10.0]), np.array([80.0])
    dlon, dlat = np.array([10.05]), np.array([80.0])
    planar = _got(spark, qlon, qlat, dlon, dlat, 0.01, metric="planar")
    geo = _got(
        spark, qlon, qlat, dlon, dlat, 0.01, metric="equirectangular"
    )
    assert planar == set()
    assert geo == _twin_eq(qlon, qlat, dlon, dlat, 0.01, did0=10_000)
    assert len(geo) == 1


def test_equirectangular_pole_full_ring(spark):
    # cq = 0 at the pole: every lon at the same lat is at distance 0.
    qlon, qlat = np.array([0.0]), np.array([89.999])
    dlon = np.array([-170.0, 45.0, 170.0])
    dlat = np.array([89.999, 89.999, 89.999])
    got = _got(
        spark, qlon, qlat, dlon, dlat, 0.001, metric="equirectangular"
    )
    exp = _twin_eq(qlon, qlat, dlon, dlat, 0.001, did0=10_000)
    assert got == exp and len(got) == 3


def test_rejects_nonpositive_radius(spark):
    with pytest.raises(ValueError):
        distance_join(
            _df(spark, np.array([0.0]), np.array([0.0])),
            _df(spark, np.array([0.0]), np.array([0.0])),
            0.0,
            query_id="id",
            data_id="id",
        )


def _twin_hav(qlon, qlat, dlon, dlat, max_d, qid0=0, did0=0):
    """numpy twin of the haversine radius join: int64 chord² over
    1e-7-quantized sphere coords vs the arc-chord threshold."""
    s = 1e7

    def quant(lon, lat):
        rl, rp = np.radians(lon), np.radians(lat)
        return (
            np.round(np.cos(rp) * np.cos(rl) * s).astype(np.int64),
            np.round(np.cos(rp) * np.sin(rl) * s).astype(np.int64),
            np.round(np.sin(rp) * s).astype(np.int64),
        )

    qx, qy, qz = quant(qlon, qlat)
    dx, dy, dz = quant(dlon, dlat)
    d_rad = math.radians(max_d)
    t = 2.0 * s * math.sin(min(d_rad, math.pi) / 2.0) + 4.0
    t_u = int(math.floor(t * t))
    out = set()
    for i in range(len(qx)):
        d2 = (dx - qx[i]) ** 2 + (dy - qy[i]) ** 2 + (dz - qz[i]) ** 2
        for j in np.nonzero(d2 <= t_u)[0].tolist():
            out.add((qid0 + i, did0 + j, int(d2[j])))
    return out


def test_haversine_differential(spark):
    qlon, qlat = _rand_points(41, 60)
    dlon, dlat = _rand_points(42, 400)
    for max_d in (0.5, 5.0, 30.0):
        got = _got(
            spark, qlon, qlat, dlon, dlat, max_d, metric="haversine"
        )
        exp = _twin_hav(qlon, qlat, dlon, dlat, max_d, did0=10_000)
        assert got == exp, (max_d, len(got), len(exp))


def test_haversine_high_lat_differential(spark):
    """Polar cap corpus: the lon fan must go full-ring near the pole
    and the asin bounding-box law must cover trans-polar pairs."""
    rng = np.random.default_rng(43)
    qlon = np.round(rng.uniform(-180, 180, 30), 6)
    qlat = np.round(rng.uniform(80, 89.9, 30), 6)
    dlon = np.round(rng.uniform(-180, 180, 200), 6)
    dlat = np.round(rng.uniform(75, 89.99, 200), 6)
    for max_d in (2.0, 8.0):
        got = _got(
            spark, qlon, qlat, dlon, dlat, max_d, metric="haversine"
        )
        exp = _twin_hav(qlon, qlat, dlon, dlat, max_d, did0=10_000)
        assert got == exp, (max_d, len(got), len(exp))


def test_haversine_includes_transpolar_pair_equirect_misses_scale(spark):
    """From (85N, 0): (85N, 180) is 10 degrees of arc over the pole —
    inside a 12-degree haversine radius. The equirectangular metric
    calls the same pair cos(85)*180 ~ 15.7 degrees and excludes it."""
    got_h = _got(
        spark,
        np.array([0.0]), np.array([85.0]),
        np.array([180.0]), np.array([85.0]),
        12.0, metric="haversine",
    )
    got_e = _got(
        spark,
        np.array([0.0]), np.array([85.0]),
        np.array([180.0]), np.array([85.0]),
        12.0, metric="equirectangular",
    )
    assert len(got_h) == 1 and len(got_e) == 0


def test_haversine_radius_above_90_sparse(spark):
    """Sparse data, radius past 90 degrees of arc: any such cap holds a
    pole, so the lon fan-out must be the full ring. An equatorial query
    at a 120-degree radius must find the point 110 degrees east, which
    the unclamped asin law (a 60-degree fan) misses."""
    qlon, qlat = np.array([0.0, 0.0]), np.array([0.0, 45.0])
    dlon, dlat = np.array([110.0, -150.0, 30.0]), np.array([0.0, 10.0, -20.0])
    for max_d in (90.0, 120.0, 170.0):
        got = _got(
            spark, qlon, qlat, dlon, dlat, max_d, metric="haversine", level=4
        )
        exp = _twin_hav(qlon, qlat, dlon, dlat, max_d, did0=10_000)
        assert got == exp, (max_d, sorted(got ^ exp))
