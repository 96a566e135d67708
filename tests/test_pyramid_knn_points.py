"""Tile-pyramid rollup (X73) and grid point→point kNN join (X74)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_spark.kernels.cells import point_to_cell
from osm_spark.spatial.knn_points import knn_points_join
from osm_spark.spatial.pyramid import tile_pyramid


def _rand_points(seed: int, n: int, lon_span=(-179.9, 179.9), lat_span=(-89.9, 89.9)):
    rng = np.random.default_rng(seed)
    lon = np.round(rng.uniform(*lon_span, n), 6)
    lat = np.round(rng.uniform(*lat_span, n), 6)
    return lon, lat


@pytest.fixture(scope="module")
def pts_df(spark):
    lon, lat = _rand_points(7, 400)
    rows = [(i, float(lon[i]), float(lat[i])) for i in range(len(lon))]
    return (
        spark.createDataFrame(rows, "id long, lon double, lat double")
        .repartition(8)
        .persist()
    )


def _pyramid_twin(lon, lat, weights, min_level, max_level):
    exp = {}
    for lv in range(min_level, max_level + 1):
        cells = point_to_cell(lon, lat, lv)
        for c, w in zip(cells.tolist(), weights.tolist()):
            key = (lv, c)
            n, s = exp.get(key, (0, 0))
            exp[key] = (n + 1, s + w)
    return exp


def test_pyramid_matches_per_level_twin(spark, pts_df):
    rows = pts_df.select("lon", "lat", "id").collect()
    lon = np.array([r.lon for r in rows])
    lat = np.array([r.lat for r in rows])
    w = np.array([r.id for r in rows], dtype=np.int64)
    exp = _pyramid_twin(lon, lat, w, 0, 6)
    got = {
        (r.level, r.cell): (r.n_points, r.sum_id)
        for r in tile_pyramid(
            pts_df, max_level=6, min_level=0, sum_cols=("id",)
        ).collect()
    }
    assert got == exp


def test_pyramid_conservation_and_leaf_identity(spark, pts_df):
    pyr = tile_pyramid(pts_df, max_level=5, min_level=2).persist()
    totals = (
        pyr.groupBy("level").agg(F.sum("n_points").alias("t")).collect()
    )
    n = pts_df.count()
    assert {r.level for r in totals} == {2, 3, 4, 5}
    assert all(r.t == n for r in totals)
    # Leaf slice == a direct groupBy at max_level.
    from osm_spark.spatial.cells_sql import cell_expr

    direct = {
        (5, r.cell): r.n
        for r in pts_df.groupBy(
            cell_expr(F.col("lon"), F.col("lat"), 5).alias("cell")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    leaf = {
        (r.level, r.cell): r.n_points
        for r in pyr.where(F.col("level") == 5).collect()
    }
    assert leaf == direct
    pyr.unpersist()


def _brute_knn(qlon, qlat, qids, dlon, dlat, dids, k):
    """Exact planar int-micro-degree kNN with (d2, data_id) tie-break."""
    qlon_u = np.round(qlon * 1e6).astype(np.int64)
    qlat_u = np.round(qlat * 1e6).astype(np.int64)
    dlon_u = np.round(dlon * 1e6).astype(np.int64)
    dlat_u = np.round(dlat * 1e6).astype(np.int64)
    out = set()
    for qi, qx, qy in zip(qids, qlon_u, qlat_u):
        d2 = (dlon_u - qx) ** 2 + (dlat_u - qy) ** 2
        order = sorted(zip(d2.tolist(), dids.tolist()))[:k]
        for rank, (dd, di) in enumerate(order, 1):
            out.add((int(qi), int(di), int(dd), rank))
    return out


def test_knn_points_exact_matches_bruteforce(spark):
    dlon, dlat = _rand_points(11, 300)
    qlon, qlat = _rand_points(13, 40)
    dids = np.arange(300)
    qids = np.arange(40)
    data = spark.createDataFrame(
        [(int(i), float(dlon[i]), float(dlat[i])) for i in dids],
        "data_id long, lon double, lat double",
    ).repartition(8)
    queries = spark.createDataFrame(
        [(int(i), float(qlon[i]), float(qlat[i])) for i in qids],
        "query_id long, lon double, lat double",
    ).repartition(8)
    got = {
        (r.query_id, r.data_id, r.d2_u, r.rank)
        for r in knn_points_join(
            queries, data, k=3, level=6, radius=1, max_radius=1 << 6
        ).collect()
    }
    exp = _brute_knn(qlon, qlat, qids, dlon, dlat, dids, 3)
    assert got == exp


def test_knn_points_expansion_frontier(spark):
    # A lone far query forces the doubling loop: all data in one corner,
    # the query at the opposite corner — radius 1 finds nothing.
    data = spark.createDataFrame(
        [(i, -170.0 + i * 0.001, -80.0) for i in range(5)],
        "data_id long, lon double, lat double",
    )
    queries = spark.createDataFrame(
        [(0, 170.0, 80.0)], "query_id long, lon double, lat double"
    )
    res = knn_points_join(
        queries, data, k=2, level=5, radius=1, max_radius=1 << 5
    ).collect()
    assert len(res) == 2
    # Nearest two by planar distance are the two largest lons.
    assert {r.data_id for r in res} == {3, 4}
    assert [r.rank for r in sorted(res, key=lambda r: r.rank)] == [1, 2]
    assert res[0].d2_u > 0


def test_knn_points_lon_wrap_no_duplicates(spark):
    # Data hugging both sides of the antimeridian; huge radius clamps
    # the dx fan to each residue once — no duplicate pairs, and the
    # planar metric still ranks the NON-wrapped side nearest.
    data = spark.createDataFrame(
        [(1, 179.5, 0.0), (2, -179.5, 0.0), (3, 178.0, 0.0)],
        "data_id long, lon double, lat double",
    )
    queries = spark.createDataFrame(
        [(0, 179.0, 0.0)], "query_id long, lon double, lat double"
    )
    res = knn_points_join(
        queries, data, k=3, level=3, radius=50, max_radius=None
    ).collect()
    assert len(res) == 3  # each data point exactly once
    by_rank = [r.data_id for r in sorted(res, key=lambda r: r.rank)]
    assert by_rank == [1, 3, 2]  # planar: -179.5 is 358.5 degrees away


def _brute_knn_eq(qlon, qlat, qids, dlon, dlat, dids, k):
    """Equirectangular twin: lon delta × round(cos(qlat)·1024) >> 10."""
    import math

    qlon_u = np.round(qlon * 1e6).astype(np.int64)
    qlat_u = np.round(qlat * 1e6).astype(np.int64)
    dlon_u = np.round(dlon * 1e6).astype(np.int64)
    dlat_u = np.round(dlat * 1e6).astype(np.int64)
    out = set()
    for qi, qx, qy, ql in zip(qids, qlon_u, qlat_u, qlat):
        cq = int(round(math.cos(math.radians(ql)) * 1024))
        lt = (np.abs(dlon_u - qx) * cq) >> 10
        d2 = lt * lt + (dlat_u - qy) ** 2
        order = sorted(zip(d2.tolist(), dids.tolist()))[:k]
        for rank, (dd, di) in enumerate(order, 1):
            out.add((int(qi), int(di), int(dd), rank))
    return out


def test_knn_points_equirectangular_exact(spark):
    # Mixed latitudes incl. high-lat rows where the metrics disagree;
    # the frontier loop must stay exact under the scaled metric.
    dlon, dlat = _rand_points(21, 300)
    qlon, qlat = _rand_points(22, 40, lat_span=(-89.0, 89.0))
    dids = np.arange(300)
    qids = np.arange(40)
    data = spark.createDataFrame(
        [(int(i), float(dlon[i]), float(dlat[i])) for i in dids],
        "data_id long, lon double, lat double",
    ).repartition(8)
    queries = spark.createDataFrame(
        [(int(i), float(qlon[i]), float(qlat[i])) for i in qids],
        "query_id long, lon double, lat double",
    ).repartition(8)
    got = {
        (r.query_id, r.data_id, r.d2_u, r.rank)
        for r in knn_points_join(
            queries, data, k=3, level=6, radius=1, max_radius=1 << 6,
            metric="equirectangular",
        ).collect()
    }
    exp = _brute_knn_eq(qlon, qlat, qids, dlon, dlat, dids, 3)
    assert got == exp
    # And the metrics genuinely disagree somewhere on this corpus.
    planar = _brute_knn(qlon, qlat, qids, dlon, dlat, dids, 3)
    assert {(q, d) for q, d, _, _ in got} != {
        (q, d) for q, d, _, _ in planar
    }


def test_knn_points_equirectangular_high_lat_ranking(spark):
    # At lat 80 (cos≈0.17): 0.05° east is geodesically NEARER than
    # 0.02° north; planar says the opposite.
    data = spark.createDataFrame(
        [(1, 10.05, 80.0), (2, 10.0, 80.02)],
        "data_id long, lon double, lat double",
    )
    queries = spark.createDataFrame(
        [(0, 10.0, 80.0)], "query_id long, lon double, lat double"
    )
    planar = knn_points_join(
        queries, data, k=2, level=6, radius=1, max_radius=1 << 6
    ).collect()
    geo = knn_points_join(
        queries, data, k=2, level=6, radius=1, max_radius=1 << 6,
        metric="equirectangular",
    ).collect()
    p1 = [r.data_id for r in sorted(planar, key=lambda r: r.rank)]
    g1 = [r.data_id for r in sorted(geo, key=lambda r: r.rank)]
    assert p1 == [2, 1] and g1 == [1, 2]


def test_suggest_level_tracks_density(spark):
    from osm_spark.spatial.knn_points import suggest_level

    # Same n, two densities: clustered points need a FINER grid.
    lon_u, lat_u = _rand_points(23, 2000)
    lon_c, lat_c = _rand_points(23, 2000, (10.0, 10.1), (45.0, 45.1))
    uniform = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon_u, lat_u)],
        "lon double, lat double",
    )
    clustered = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon_c, lat_c)],
        "lon double, lat double",
    )
    lu = suggest_level(uniform)
    lc = suggest_level(clustered)
    assert lc > lu
    # And kNN at the suggested level stays exact (with the frontier
    # loop as the sparse-query guarantee).
    data = clustered.select(
        F.monotonically_increasing_id().alias("data_id"), "lon", "lat"
    ).persist()
    rows = data.collect()
    queries = data.limit(8).withColumnRenamed("data_id", "query_id")
    got = {
        (r.query_id, r.data_id, r.d2_u, r.rank)
        for r in knn_points_join(
            queries, data, k=3, level=lc, radius=1, max_radius=1 << lc
        ).collect()
    }
    dlon = np.array([r.lon for r in rows])
    dlat = np.array([r.lat for r in rows])
    dids = np.array([r.data_id for r in rows])
    qrows = queries.collect()
    exp = _brute_knn(
        np.array([r.lon for r in qrows]),
        np.array([r.lat for r in qrows]),
        np.array([r.query_id for r in qrows]),
        dlon, dlat, dids, 3,
    )
    data.unpersist()
    assert got == exp


def test_knn_points_shuffle_join_identical(spark):
    dlon, dlat = _rand_points(17, 120)
    qlon, qlat = _rand_points(19, 15)
    data = spark.createDataFrame(
        [(int(i), float(dlon[i]), float(dlat[i])) for i in range(120)],
        "data_id long, lon double, lat double",
    )
    queries = spark.createDataFrame(
        [(int(i), float(qlon[i]), float(qlat[i])) for i in range(15)],
        "query_id long, lon double, lat double",
    )
    a = knn_points_join(
        queries, data, k=4, level=5, radius=2, max_radius=64,
        broadcast_data=True,
    )
    b = knn_points_join(
        queries, data, k=4, level=5, radius=2, max_radius=64,
        broadcast_data=False,
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_space_time_cube_matches_twin(spark, pts_df):
    import datetime

    from osm_spark.spatial.pyramid import space_time_cube

    rows = pts_df.select("lon", "lat", "id").collect()
    base = datetime.datetime(2021, 3, 1, 12, 0, 0)
    tagged = [
        (r.id, r.lon, r.lat, base + datetime.timedelta(seconds=int(r.id) * 97))
        for r in rows
    ]
    df = spark.createDataFrame(
        tagged, "id long, lon double, lat double, ts timestamp"
    )
    got = {
        (r.level, r.cell, r.t_bucket): r.n_points
        for r in space_time_cube(
            df, "ts", max_level=5, min_level=2, bucket="minute"
        ).collect()
    }
    exp = {}
    lon = np.array([t[1] for t in tagged])
    lat = np.array([t[2] for t in tagged])
    mins = [t[3].replace(second=0, microsecond=0) for t in tagged]
    for lv in range(2, 6):
        cells = point_to_cell(lon, lat, lv)
        for c, m in zip(cells.tolist(), mins):
            for key in ((lv, c, m), (lv, c, None)):
                exp[key] = exp.get(key, 0) + 1
    assert got == exp
    # all-time slice equals the sum of its minute slices at every tile
    for (lv, c, m), n in got.items():
        if m is None:
            assert n == sum(
                v for (l2, c2, m2), v in got.items()
                if l2 == lv and c2 == c and m2 is not None
            )


def _sphere_quant(lon, lat):
    """numpy twin of knn_points._sphere_cols (SPHERE_SCALE=1e7)."""
    rl, rp = np.radians(lon), np.radians(lat)
    s = 1e7
    return (
        np.round(np.cos(rp) * np.cos(rl) * s).astype(np.int64),
        np.round(np.cos(rp) * np.sin(rl) * s).astype(np.int64),
        np.round(np.sin(rp) * s).astype(np.int64),
    )


def _brute_knn_hav(qlon, qlat, qids, dlon, dlat, dids, k):
    qx, qy, qz = _sphere_quant(qlon, qlat)
    dx, dy, dz = _sphere_quant(dlon, dlat)
    out = set()
    for i in range(len(qids)):
        d2 = (dx - qx[i]) ** 2 + (dy - qy[i]) ** 2 + (dz - qz[i]) ** 2
        order = sorted(zip(d2.tolist(), dids.tolist()))[:k]
        for r, (dd, j) in enumerate(order, 1):
            out.add((int(qids[i]), int(j), int(dd), r))
    return out


def test_knn_points_haversine_exact(spark):
    """Frontier-loop haversine kNN == the brute int64-chord² twin on a
    mixed-latitude corpus (VERDICT r4 next #5: true great-circle
    ranking, not the cos(query-lat) approximation)."""
    dlon, dlat = _rand_points(31, 300)
    qlon, qlat = _rand_points(32, 40, lat_span=(-89.0, 89.0))
    dids = np.arange(300)
    qids = np.arange(40)
    data = spark.createDataFrame(
        [(int(i), float(dlon[i]), float(dlat[i])) for i in dids],
        "data_id long, lon double, lat double",
    ).repartition(8)
    queries = spark.createDataFrame(
        [(int(i), float(qlon[i]), float(qlat[i])) for i in qids],
        "query_id long, lon double, lat double",
    ).repartition(8)
    got = {
        (r.query_id, r.data_id, r.d2_u, r.rank)
        for r in knn_points_join(
            queries, data, k=3, level=6, radius=1, max_radius=1 << 6,
            metric="haversine",
        ).collect()
    }
    exp = _brute_knn_hav(qlon, qlat, qids, dlon, dlat, dids, 3)
    assert got == exp


def test_knn_points_haversine_vs_equirect_ordering_differs(spark):
    """The cross-latitude corpus where the two geodesic metrics rank
    DIFFERENTLY: from (80N, 0), the trans-polar neighbor at (89N, 180)
    is 11 degrees of arc away — nearer than (80N, 70E) at ~11.4 — but
    equirectangular scales the 180-degree lon gap by cos(80) into a
    ~32-degree monster. Haversine must pick the trans-polar point."""
    data = spark.createDataFrame(
        [(1, 180.0, 89.0), (2, 70.0, 80.0)],
        "data_id long, lon double, lat double",
    )
    queries = spark.createDataFrame(
        [(0, 0.0, 80.0)], "query_id long, lon double, lat double"
    )
    kw = dict(k=2, level=6, radius=1, max_radius=1 << 6)
    eq = knn_points_join(
        queries, data, metric="equirectangular", **kw
    ).collect()
    hv = knn_points_join(queries, data, metric="haversine", **kw).collect()
    eq1 = [r.data_id for r in sorted(eq, key=lambda r: r.rank)]
    hv1 = [r.data_id for r in sorted(hv, key=lambda r: r.rank)]
    assert eq1 == [2, 1] and hv1 == [1, 2]


def test_knn_points_haversine_pole_and_wrap(spark):
    """Near-pole queries: every meridian converges, so the nearest
    point across the antimeridian must be found and ranked by true
    arc. Data point 3 sits across the wrap at the same latitude ring;
    point 4 is on the same meridian but farther in arc."""
    data = spark.createDataFrame(
        [(3, -179.5, 89.4), (4, 179.0, 88.0)],
        "data_id long, lon double, lat double",
    )
    queries = spark.createDataFrame(
        [(0, 179.5, 89.4)], "query_id long, lon double, lat double"
    )
    got = knn_points_join(
        queries, data, k=2, level=6, radius=1, max_radius=1 << 6,
        metric="haversine",
    ).collect()
    order = [r.data_id for r in sorted(got, key=lambda r: r.rank)]
    assert order == [3, 4]
    qlon = np.array([179.5]); qlat = np.array([89.4])
    dlon = np.array([-179.5, 179.0]); dlat = np.array([89.4, 88.0])
    exp = _brute_knn_hav(
        qlon, qlat, np.array([0]), dlon, dlat, np.array([3, 4]), 2
    )
    assert {(r.query_id, r.data_id, r.d2_u, r.rank) for r in got} == exp


def test_knn_points_haversine_sparse_huge_radius(spark):
    """Sparse data: the frontier loop must grow past a 90-degree cap
    (here r=12 and r=16 cells of 11.25 degrees) and still cover every
    longitude. The point 130 degrees east of the equatorial query is
    second nearest; an under-covering lon fan-out drops it."""
    qlon, qlat = np.array([0.0]), np.array([0.0])
    dlon, dlat = np.array([0.0, 130.0]), np.array([50.0, 0.0])
    data = spark.createDataFrame(
        [(i, float(dlon[i]), float(dlat[i])) for i in range(2)],
        "data_id long, lon double, lat double",
    )
    queries = spark.createDataFrame(
        [(0, 0.0, 0.0)], "query_id long, lon double, lat double"
    )
    got = {
        (r.query_id, r.data_id, r.d2_u, r.rank)
        for r in knn_points_join(
            queries, data, k=2, level=4, radius=3, max_radius=1 << 4,
            metric="haversine",
        ).collect()
    }
    exp = _brute_knn_hav(qlon, qlat, np.array([0]), dlon, dlat, np.arange(2), 2)
    assert got == exp
