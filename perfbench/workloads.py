"""The two workloads: set-up, one timed pass, its traced twin, and
the correctness check run after every pass outside the timing.

A pass returns a ``Pass``: the frames to unpersist afterwards, the pages
it assigned, the latency of each operation in it, and what the check
needs. Untraced passes call the program's pipeline entry points as a
user would; traced passes call the same public layer functions one by
one inside spans and materialize each layer's output, so that each
layer's Spark jobs land in that layer's job group.
"""

from __future__ import annotations

import os
import pickle
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import pagegen
import twins

SAMPLE = 2000  # points per pass checked against brute force
KNN_SAMPLE = 300  # probes per pass checked against brute-force kNN
GATHER_SAMPLE = 20_000  # points fed to PipIndex.candidates for domain counts
BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch in get_spark


@dataclass
class Pass:
    frames: list
    pages: int
    op_latencies: list
    out: dict = field(default_factory=dict)


def _persisted(df, rec=None):
    """Persist and count ``df``; record the count as the span's rows."""
    df = df.persist()
    n = df.count()
    if rec is not None:
        rec["rows"] = n
    return df


def _sample_points(n_pages, n_countries, seed, size, salt=0, start=0):
    """``size`` distinct page ids in [start, start + n_pages) with their
    coordinates in degrees, drawn from (seed, salt)."""
    rng = np.random.default_rng([seed, size, salt])
    ids = np.sort(rng.choice(n_pages, size=min(size, n_pages), replace=False)) + start
    lon_u, lat_u = pagegen.coords(ids, n_countries, seed)
    return ids, lon_u / 1e6, lat_u / 1e6


def _url_ids(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


def pip_mismatches(polys, tiles, tag, ids, lons, lats) -> list[str]:
    """Pipeline (url, rel_id) rows for the sampled pages vs brute force."""
    urls = [pagegen.url_prefix(tag) + str(i) for i in ids]
    want = twins.expected_pairs(polys, urls, lons, lats)
    got = {
        (r["url"], int(r["rel_id"]))
        for r in tiles.where(F.col("url").isin(urls)).select("url", "rel_id").collect()
    }
    if got == want:
        return []
    return [f"pip: {len(got - want)} extra, {len(want - got)} missing, e.g. "
            f"{sorted(got ^ want)[:3]}"]


def index_counts(index, n_countries: int, seed: int) -> dict:
    """Domain counts of a PipIndex on a seeded sample (single core)."""
    _ids, lons, lats = _sample_points(1 << 30, n_countries, seed, GATHER_SAMPLE)
    gather = []
    for _ in range(3):
        t0 = time.perf_counter()
        pt, rel, poly, interior, cell = index.candidates(lons, lats)
        gather.append(time.perf_counter() - t0)
    groups = 0
    for lo in range(0, len(lons), BATCH):
        m = ~interior & (pt >= lo) & (pt < lo + BATCH)
        groups += len(np.unique(np.stack([rel[m], poly[m], cell[m]]), axis=1)[0])
    boundary = int((~interior).sum())
    return {
        "index_bytes": len(pickle.dumps(index, protocol=pickle.HIGHEST_PROTOCOL)),
        "index_cells": sum(len(v[0]) for v in index.per_level.values()),
        "ring_points": sum(len(xs) for rings in index.geom.values() for xs, _ in rings),
        "candidates_per_point": len(pt) / len(lons),
        "interior_hit_frac": float(interior.mean()) if len(pt) else 0.0,
        "refine_groups": groups * BATCH / len(lons),
        "points_per_refine_group": boundary / groups if groups else 0.0,
        "gather_s": float(np.median(gather)),
    }


class Workload:
    name = ""
    world = None
    n_pages = 0

    def __init__(self, spark, seed: int, tracer, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.work_dir = work_dir
        self.index = None  # PipIndex the domain counts are read from

    def _world_tables(self):
        from osm_spark.data.worldgen import world_dataframes

        nodes, ways, rels, cfg = world_dataframes(self.spark, self.world)
        return nodes.persist(), ways.persist(), rels.persist(), cfg

    def _boundaries_traced(self, nodes, ways, rels, cfg):
        """run_boundaries_pipeline's operators, one span per layer."""
        from osm_spark.operators import (
            assemble_locations, build_boundaries, build_centroids, build_ways_geom,
            resolve_members, split_kept_relations,
        )

        with self.tracer.span("operators.ways") as rec:
            ways_geom = _persisted(build_ways_geom(nodes, ways), rec)
        with self.tracer.span("operators.filters") as rec:
            kept, _ = split_kept_relations(rels, cfg)
            kept = _persisted(kept, rec)
        with self.tracer.span("operators.assembly") as rec:
            members, _ = resolve_members(rels, kept, ways_geom, cfg)
            locations, _ = assemble_locations(members)
            locations = _persisted(locations, rec)
        with self.tracer.span("operators.centroids") as rec:
            centroids, _ = build_centroids(kept, locations, nodes)
            centroids = _persisted(centroids, rec)
        with self.tracer.span("operators.geojson") as rec:
            boundaries, _ = build_boundaries(kept, locations, centroids)
            boundaries = _persisted(boundaries, rec)
        return {"ways_geom": ways_geom, "kept": kept, "locations": locations,
                "centroids": centroids, "boundaries": boundaries}

    def _admin_set(self):
        """Boundary assembly of the fixed admin set (set-up); a traced
        run assembles it layer by layer."""
        from osm_spark.plans.pipeline import run_boundaries_pipeline

        nodes, ways, rels, cfg = self._world_tables()
        if self.tracer.enabled:
            out = self._boundaries_traced(nodes, ways, rels, cfg)
        else:
            out = run_boundaries_pipeline(self.spark, nodes, ways, rels, cfg)
        out["locations"].count()
        out["kept"].count()
        self.polys = twins.polygons(out["locations"].select("rel_id", "shape").collect())
        return out

    def _spatial_traced(self, pages, locations, kept):
        """run_spatial_pipeline's index route, one span per layer."""
        from osm_spark.spatial.covering import build_polygon_cells, polygon_geometry
        from osm_spark.spatial.geoparse import geoparse_pages
        from osm_spark.spatial.pip_index import (
            INDEX_MAX_BYTES, build_pip_index, estimate_index_bytes, pip_join_index,
        )
        from osm_spark.spatial.tiles import tile_assignments

        with self.tracer.span("spatial.geoparse") as rec:
            points = _persisted(
                geoparse_pages(pages)
                .withColumn("point_id", F.xxhash64("url"))
                .select("point_id", "url", "lon", "lat"),
                rec,
            )
        with self.tracer.span("spatial.covering") as rec:
            pcells = _persisted(build_polygon_cells(locations, 4, 12), rec)
        with self.tracer.span("spatial.pip_index.build") as rec:
            pgeom = polygon_geometry(locations)
            index = build_pip_index(pcells, pgeom)
            n_pts = sum(len(xs) for rings in index.geom.values() for xs, _ in rings)
            n_cells = sum(len(v[0]) for v in index.per_level.values())
            if estimate_index_bytes(n_cells, n_pts, len(index.geom)) > INDEX_MAX_BYTES:
                raise RuntimeError("auto mode would not pick the index route")
            bc = self.spark.sparkContext.broadcast(index)
            rec["rows"] = n_cells
        with self.tracer.span("spatial.pip_index.join") as rec:
            pip = _persisted(
                pip_join_index(points.select("point_id", "lon", "lat"), bc)
                .select("point_id", "rel_id"),
                rec,
            )
        with self.tracer.span("spatial.tiles") as rec:
            admin = kept.select(F.col("id").alias("rel_id"), "admin_level")
            tiles = _persisted(tile_assignments(pip, points, admin, 7), rec)
        self.index = index
        return {"points": points, "polygon_cells": pcells, "polygon_geometry": pgeom,
                "pip": pip, "tiles": tiles}


class CrawlAssign(Workload):
    name = "crawl_assign"
    nominal_pass_s = 4.0  # one pass at local[4] on a 4-core host
    n_pages = 150_000
    knn_every = 40  # kNN probes: pages whose point_id is 0 mod this

    def setup(self, admin=None) -> None:
        """Build the admin set and the pages; ``admin`` (from
        ``export_admin`` of another session) skips the build."""
        from osm_spark.data.worldgen import WorldSpec

        self.world = WorldSpec(n_countries=4, densify=6)
        if admin is None:
            self.admin = self._admin_set()
        else:
            rows, self.polys = admin
            self.admin = {k: _persisted(self.spark.createDataFrame(r, schema))
                          for k, (r, schema) in rows.items()}
        self.pages = _persisted(
            pagegen.pages_df(self.spark, 0, self.n_pages, 4, self.seed, "crawl")
        )

    def export_admin(self):
        """The admin set as driver-side rows, for ``setup`` elsewhere."""
        rows = {k: (self.admin[k].collect(), self.admin[k].schema)
                for k in ("locations", "kept")}
        return rows, self.polys

    def run_pass(self, traced: bool) -> Pass:
        from osm_spark.plans.spatial_pipeline import run_spatial_pipeline

        t0 = time.perf_counter()
        if traced:
            sp = self._spatial_traced(self.pages, self.admin["locations"], self.admin["kept"])
            tiles = sp["tiles"]
        else:
            sp = run_spatial_pipeline(
                self.spark, self.pages, self.admin["locations"], self.admin["kept"],
                mode="auto",
            )
            tiles = _persisted(sp["tiles"])
        wall = time.perf_counter() - t0
        frames = [sp["points"], sp["polygon_cells"], tiles] + ([sp["pip"]] if traced else [])
        return Pass(frames, self.n_pages, [wall], {"tiles": tiles})

    def check(self, p: Pass, pass_no: int) -> list[str]:
        ids, lons, lats = _sample_points(self.n_pages, 4, self.seed, SAMPLE, pass_no)
        return pip_mismatches(self.polys, p.out["tiles"], "crawl", ids, lons, lats)

    def knn_once(self) -> list[str]:
        """k=3 nearest boundaries of every ``knn_every``-th page, traced
        as the ``spatial.knn`` layer (once per traced run, outside the
        passes); returns the brute-force twin's disagreements."""
        from osm_spark.spatial.covering import build_polygon_cells, polygon_geometry
        from osm_spark.spatial.geoparse import geoparse_pages
        from osm_spark.spatial.knn import knn_boundaries

        locations = self.admin["locations"]
        pcells = _persisted(build_polygon_cells(locations, 4, 12))
        pgeom = _persisted(polygon_geometry(locations))
        probes = _persisted(
            geoparse_pages(self.pages)
            .withColumn("point_id", F.xxhash64("url"))
            .where(F.pmod("point_id", F.lit(self.knn_every)) == 0)
            .select("point_id", "url", "lon", "lat")
        )
        with self.tracer.span("spatial.knn") as rec:
            knn = _persisted(
                knn_boundaries(probes.select("point_id", "lon", "lat"), pcells, pgeom, k=3),
                rec,
            )
        rows = sorted(
            (r["point_id"], r["url"], r["lon"], r["lat"])
            for r in probes.collect()
        )
        self.n_probes = len(rows)
        rows = rows[:KNN_SAMPLE]
        bad = []
        lon_u, lat_u = pagegen.coords(np.array([_url_ids(u) for _, u, _, _ in rows]), 4, self.seed)
        if not (np.array_equal(lon_u / 1e6, [x for _, _, x, _ in rows])
                and np.array_equal(lat_u / 1e6, [y for _, _, _, y in rows])):
            bad.append("knn: probe coordinates differ from the generator's")
        got: dict = {}
        for r in knn.where(F.col("point_id").isin([pid for pid, _, _, _ in rows])).collect():
            got.setdefault(r["point_id"], []).append((r["rank"], r["rel_id"], r["dist"]))
        bad += twins.knn_mismatches(self.polys, [(pid, x, y) for pid, _, x, y in rows], got, 3)[:3]
        for df in (pcells, pgeom, probes, knn):
            df.unpersist()
        return bad

    def domain(self) -> dict:
        return index_counts(self.index, 4, self.seed) if self.index else {}


class AppendAssign(Workload):
    name = "append_assign"
    nominal_pass_s = 12.0  # one pass at local[4] on a 4-core host
    # Batch sizes of one pass, in a seeded order: the pass total is the
    # same for every seed, so seeds do not move the per-pass figures.
    batch_sizes = (10_000, 17_500, 25_000)
    appends_per_pass = len(batch_sizes)

    def setup(self) -> None:
        from osm_spark.data.worldgen import WorldSpec
        from osm_spark.sources.manifest_table import ManifestTable
        from osm_spark.spatial.covering import build_polygon_cells, polygon_geometry
        from osm_spark.spatial.pip_index import build_pip_index

        self.world = WorldSpec(n_countries=4, densify=6)
        admin = self._admin_set()
        self.locations = admin["locations"]
        pcells = build_polygon_cells(self.locations, 4, 12).persist()
        self.index = build_pip_index(pcells, polygon_geometry(self.locations))
        pcells.unpersist()
        self.index_bc = self.spark.sparkContext.broadcast(self.index)
        self.rng = np.random.default_rng([self.seed, 7])
        self.src = ManifestTable(self.spark, os.path.join(self.work_dir, "pages"))
        self.assign_path = os.path.join(self.work_dir, "assign")
        self.next_id = 0
        self.batches: list[tuple[int, int]] = []

    def _append(self, n: int):
        from osm_spark.plans.incremental import pip_increment

        start, self.next_id = self.next_id, self.next_id + n
        self.batches.append((start, n))
        t0 = time.perf_counter()
        with self.tracer.span("sources.manifest_table") as rec:
            self.src.write(
                pagegen.pages_df(self.spark, start, n, 4, self.seed, "append"),
                mode="append" if self.src.exists() else "overwrite",
            )
            rec["rows"] = n
        with self.tracer.span("plans.incremental") as rec:
            r = pip_increment(self.spark, self.src, self.assign_path, self.index_bc)
            rec["rows"] = r["total_rows"]
        return n, time.perf_counter() - t0, r

    def run_pass(self, traced: bool) -> Pass:
        pages, lat, results = 0, [], []
        for size in self.rng.permutation(self.batch_sizes):
            n, dt, r = self._append(int(size))
            pages += n
            lat.append(dt)
            results.append(r)
        return Pass([], pages, lat, {"results": results})

    def check(self, p: Pass, pass_no: int) -> list[str]:
        from osm_spark.sources.manifest_table import ManifestTable
        from osm_spark.spatial.geoparse import geoparse_pages
        from osm_spark.spatial.pip_index import pip_join_index

        got = ManifestTable(self.spark, self.assign_path).read().where(F.col("url") != "")
        full = pip_join_index(
            geoparse_pages(self.src.read()).withColumn("point_id", F.xxhash64("url"))
            .select("point_id", "lon", "lat", "url"),
            self.index_bc, keep=("url",),
        ).select("url", F.col("rel_id").cast("long"))
        bad = []
        n_got, h_got = _fingerprint(got)
        n_full, h_full = _fingerprint(full)
        last = p.out["results"][-1]
        if not (n_got == n_full == last["total_rows"]) or h_got != h_full:
            bad.append(f"append: {n_got} rows vs full recompute {n_full} "
                       f"(pip_increment reported {last['total_rows']}); "
                       f"content hashes {h_got} vs {h_full}")
        start, n = self.batches[-1]
        ids, lons, lats = _sample_points(n, 4, self.seed, SAMPLE, pass_no, start)
        bad += pip_mismatches(self.polys, got, "append", ids, lons, lats)
        return bad

    def domain(self) -> dict:
        return index_counts(self.index, 4, self.seed)


def _fingerprint(df) -> tuple[int, tuple[int, int]]:
    """(rows, order-insensitive hash) of a (url, rel_id) multiset."""
    r = df.agg(F.count("*").alias("n"),
               F.sum(F.pmod(F.xxhash64("url", "rel_id"), F.lit(1 << 40))).alias("s"),
               F.sum(F.pmod(F.xxhash64("rel_id", "url"), F.lit(1 << 40))).alias("t")).first()
    return int(r["n"]), (int(r["s"] or 0), int(r["t"] or 0))


WORKLOADS = {w.name: w for w in (CrawlAssign, AppendAssign)}
