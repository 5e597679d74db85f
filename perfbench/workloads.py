"""The three workloads.  Each has ``setup`` (untimed by the loop, counted
in ``setup_s``), ``op`` (one timed operation), ``check`` (output checks
run outside the timed region) and ``layer_metrics`` (traced run only).

Sizes were picked on a 4-core host so that each workload's operation is
dominated by the layers it is meant to exercise; see README.md for the
build path each size takes at that parallelism.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from geojson_vt_spark import TileOptions
from geojson_vt_spark.engine import SparkTileEngine
from geojson_vt_spark.pipeline import features_from_json_df
from geojson_vt_spark.sources.corpus import extract_geo_features_df, synth_pages_df

import oracle

PATH_CODES = {"loop": 1, "one_wave": 2, "forest": 3}


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _store_size(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for base, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(base, f))
            n_files += 1
    return n_bytes, n_files


def _lineage_counters(workdir: str) -> dict:
    """Build counters from the engine's own lineage.json."""
    with open(os.path.join(workdir, "lineage.json")) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    path = ("forest" if any(r.get("forest") for r in rows) else
            "one_wave" if any(r.get("one_wave") for r in rows) else "loop")
    tasks = task_sum = task_max = 0.0
    for r in rows:
        if "subtree_batch" not in r:
            continue
        steps = r.get("steps") or {}
        tasks += (r.get("n_tasks") or steps.get("n_tasks")
                  or steps.get("n_slots") or r.get("n_keys") or 0)
        task_sum += r.get("task_secs_sum") or steps.get("task_secs_sum") or 0.0
        top = r.get("top_tasks") or []
        task_max = max(task_max, steps.get("task_secs_max") or 0.0,
                       max((t[-1] for t in top), default=0.0))
    return {
        "engine.rounds": sum(1 for r in rows if "zoom" in r),
        "engine.path": PATH_CODES[path],
        "engine.round_wall_s_max": max(float(r.get("wall_sec") or 0.0) for r in rows),
        "engine.kernel_tasks": tasks,
        "engine.kernel_task_s_sum": task_sum,
        "engine.kernel_task_s_max": task_max,
    }


def _feature_rows(pages_df) -> list[tuple]:
    """Extracted (input_ord, gen_index, feature_json) rows, input order."""
    rows = extract_geo_features_df(pages_df).collect()
    return sorted(((r.input_ord, r.gen_index, r.feature_json) for r in rows),
                  key=lambda r: r[0])


def _ring_lonlat(feature_json: str) -> tuple[np.ndarray, np.ndarray]:
    ring = np.asarray(json.loads(feature_json)["geometry"]["coordinates"][0],
                      dtype=np.float64)
    return ring[:, 0], ring[:, 1]


class Workload:
    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.problems: list[str] = []
        self.failed_ops: set[int] = set()

    def fail(self, request: int, msg: str) -> None:
        self.failed_ops.add(request)
        if len(self.problems) < 20:
            self.problems.append(msg)


class PyramidBuild(Workload):
    """Corpus -> pyramid: extract, convert, build, tile_count."""

    PAGES = 13_000
    OPTS = TileOptions(index_max_zoom=7, index_max_points=1000)

    def setup(self) -> None:
        self.pages_path = os.path.join(self.work, "pages")
        synth_pages_df(self.spark, self.PAGES, seed=self.seed) \
            .write.parquet(self.pages_path)
        self.pages = self.spark.read.parquet(self.pages_path)
        self.results: list[tuple[int, int, str]] = []  # request, tiles, digest
        self.counters: list[dict] = []
        self.stores: list[tuple[int, int]] = []
        # the first build of a session pays JVM/codegen/worker warm-up
        # (about 3x a warm build); it belongs to set-up, not the loop
        with self.tracer.paused():
            self._build(-1)

    def _build(self, request: int):
        tr = self.tracer
        wd = os.path.join(self.work, f"build{request}")
        eng = SparkTileEngine(self.spark, self.OPTS, workdir=wd)
        ext = feats = None
        t0 = time.monotonic()
        with tr.span("op.build", request):
            pages = self.pages
            if tr.enabled:
                # materialize each stage so its time lands in its own span
                with tr.span("sources.extract", request):
                    ext = extract_geo_features_df(pages).persist()
                    ext.count()
                with tr.span("pipeline.convert", request):
                    feats = features_from_json_df(ext, self.OPTS).persist()
                    feats.count()
            else:
                feats = features_from_json_df(extract_geo_features_df(pages), self.OPTS)
            with tr.span("engine.build", request):
                eng.build_from_converted(feats, approx_rows=self.PAGES)
            with tr.span("engine.tile_count", request):
                n_tiles = eng.tile_count()
        wall = time.monotonic() - t0
        if ext is not None:
            feats.unpersist()
            ext.unpersist()
        return eng, wd, n_tiles, wall

    def op(self, request: int) -> tuple[float, int]:
        eng, wd, n_tiles, wall = self._build(request)
        rows = eng.tiles().select("z", "x", "y", "num_features").collect()
        self.results.append((request, n_tiles, oracle.tile_digest(rows)))
        if len(rows) != n_tiles:
            self.fail(request, f"build {request}: tile_count {n_tiles} != {len(rows)} tile rows")
        self.counters.append(_lineage_counters(wd))
        self.stores.append(_store_size(wd))
        shutil.rmtree(wd, ignore_errors=True)
        return wall, self.PAGES

    def check(self) -> None:
        """Every build must match the single-process kernel pyramid built
        on the driver from the same extracted rows."""
        from geojson_vt_spark.kernel.vec import convert_rows_to_records
        from geojson_vt_spark.pipeline import batch_split_subtree
        rows = _feature_rows(self.pages)
        t0 = time.monotonic()
        records = convert_rows_to_records(rows, self.OPTS)
        t1 = time.monotonic()
        tile_rows, _ = batch_split_subtree(records, 0, 0, 0, self.OPTS,
                                           root_forced_split=False)
        t2 = time.monotonic()
        self.kernel_times = (t1 - t0, t2 - t1)
        want = oracle.tile_digest((r["z"], r["x"], r["y"], r["num_features"])
                                  for r in tile_rows)
        for request, n, d in self.results:
            if n != len(tile_rows) or d != want:
                self.fail(request, f"build {request}: {n} tiles digest {d}, "
                          f"want {len(tile_rows)} tiles digest {want}")

    def layer_metrics(self) -> dict:
        tr = self.tracer
        out = {
            "sources.extract_s": _median(tr.durations("sources.extract")),
            "pipeline.convert_s": _median(tr.durations("pipeline.convert")),
            "engine.build_s": _median(tr.durations("engine.build")),
            "engine.tile_count_s": _median(tr.durations("engine.tile_count")),
            "kernel.convert_1core_s": self.kernel_times[0],
            "kernel.subtree_1core_s": self.kernel_times[1],
            "engine.store_bytes": _median([b for b, _ in self.stores]),
            "engine.store_files": _median([f for _, f in self.stores]),
        }
        for key in self.counters[0]:
            out[key] = _median([c[key] for c in self.counters])
        return out


class TileServe(Workload):
    """Map viewports against a prebuilt pyramid through get_tiles."""

    PAGES = 3_000
    OPTS = TileOptions(index_max_zoom=6, index_max_points=1000)
    # zoom mix: z<=6 mostly answered from the stores, deeper zooms fall
    # below the built leaves and drill down
    ZOOMS = (3, 4, 5, 6, 7, 8, 9)
    ZOOM_P = (0.10, 0.15, 0.20, 0.20, 0.15, 0.10, 0.10)
    OCEAN_P = 0.15          # share of viewports centred uniformly at random
    VIEW_W, VIEW_H = 4, 3   # tiles per viewport
    CHECK_EVERY = 4         # every 4th viewport is checked after the run

    def setup(self) -> None:
        spark = self.spark
        self.rows = _feature_rows(synth_pages_df(spark, self.PAGES, seed=self.seed))
        self.centres = np.array([(lon[:-1].mean(), lat[:-1].mean()) for lon, lat in
                                 (_ring_lonlat(r[2]) for r in self.rows)])
        self.serve_wd = os.path.join(self.work, "pyramid")
        src = spark.createDataFrame(
            self.rows, "input_ord long, gen_index long, feature_json string")
        SparkTileEngine(spark, self.OPTS, workdir=self.serve_wd).build_from_converted(
            features_from_json_df(src, self.OPTS), approx_rows=self.PAGES)
        self.viewports = self._viewports(np.random.default_rng(self.seed), 4000)
        # warm the read path (first get_tiles jobs of a session) on a
        # throwaway engine with viewports from another stream
        probe = SparkTileEngine(spark, self.OPTS, workdir=self.serve_wd)
        probe.warm()
        for vp in self._viewports(np.random.default_rng(self.seed + 1_000_003), 2):
            probe.get_tiles(vp)
        self.built = set(probe.tile_coords())
        t0 = time.monotonic()
        with self.tracer.span("engine.warm"):
            self.eng = SparkTileEngine(spark, self.OPTS, workdir=self.serve_wd)
            self.eng.warm()
        self.warm_s = time.monotonic() - t0
        self.kinds: list[str] = []
        self.walls: list[float] = []
        self.requested = self.from_store = 0
        self.samples: list[tuple[int, list, dict]] = []

    def _viewports(self, rng, n: int) -> list[list[tuple[int, int, int]]]:
        """Blocks of VIEW_W x VIEW_H tiles at one zoom, centred on the
        data (metro-skewed, like the pages) or, for OCEAN_P of them,
        anywhere."""
        centres = self.centres
        out = []
        for _ in range(n):
            if rng.random() < self.OCEAN_P:
                lon, lat = rng.uniform(-180.0, 180.0), rng.uniform(-75.0, 75.0)
            else:
                lon, lat = centres[rng.integers(len(centres))] + rng.normal(0.0, 0.5, 2)
            z = int(rng.choice(self.ZOOMS, p=self.ZOOM_P))
            n_tiles = 1 << z
            px, py = oracle.project(np.array([lon]), np.array([lat]))
            cx = min(int(px[0] * n_tiles), n_tiles - 1)
            cy = min(int(py[0] * n_tiles), n_tiles - 1)
            out.append([(z, (cx + dx) % n_tiles, cy + dy)
                        for dy in range(-1, self.VIEW_H - 1)
                        for dx in range(-1, self.VIEW_W - 1)
                        if 0 <= cy + dy < n_tiles])
        return out

    def op(self, request: int) -> tuple[float, int]:
        vp = self.viewports[request % len(self.viewports)]
        t0 = time.monotonic()
        with self.tracer.span("op.viewport", request):
            with self.tracer.span("engine.get_tiles", request):
                res = self.eng.get_tiles(vp)
        wall = time.monotonic() - t0
        served = [c for c in vp if res.get(c) is not None]
        stored = sum(1 for c in served if c in self.built)
        self.requested += len(vp)
        self.from_store += stored
        self.kinds.append("hit" if stored == len(served) else "drill")
        self.walls.append(wall)
        if request % self.CHECK_EVERY == 0:
            self.samples.append((request, vp, {c: res.get(c) for c in vp}))
        return wall, len(served)

    def check(self) -> None:
        """Sampled viewports must equal the single-process reference
        index (kernel.index.LocalTileIndex) over the same features,
        drill-downs included."""
        from geojson_vt_spark.kernel import LocalTileIndex
        self.drill_tiles = len(self.eng.tile_coords()) - len(self.built)
        data = {"type": "FeatureCollection",
                "features": [json.loads(r[2]) for r in self.rows]}
        ref = LocalTileIndex(data, self.OPTS)
        for request, vp, got in self.samples:
            for c in vp:
                want = ref.get_tile(*c)
                have = got[c]
                if (want is None) != (have is None) or (
                        want is not None and want["features"] != have["features"]):
                    self.fail(request, f"viewport {request}: tile {c} differs from reference")

    def layer_metrics(self) -> dict:
        hit = [w for w, k in zip(self.walls, self.kinds) if k == "hit"]
        drill = [w for w, k in zip(self.walls, self.kinds) if k == "drill"]
        b, f = _store_size(self.serve_wd)
        return {
            "engine.warm_s": self.warm_s,
            "engine.hit_viewport_ms": 1000 * _median(hit),
            "engine.drill_viewport_ms": 1000 * _median(drill),
            "engine.store_bytes": b,
            "engine.store_files": f,
            "serve.store_hit_ratio": self.from_store / max(self.requested, 1),
            "serve.drill_tiles": self.drill_tiles,
        }


class SpatialJoin(Workload):
    """Point-in-polygon join plus kNN over a seeded point cloud."""

    POLY_PAGES = 200
    POINTS = 1_000_000
    METRO_SHARE = 0.2       # the rest is a uniform background
    METRO_SIGMA = 2.0       # degrees around a page polygon centre
    QUERIES = 300
    K = 5
    PIP_RES = 9
    KNN_RES = 8
    SALT = 4
    KNN_CHECKED = 40        # queries checked against brute force

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        spark = self.spark
        rng = np.random.default_rng(self.seed)
        rows = _feature_rows(synth_pages_df(spark, self.POLY_PAGES, seed=self.seed))
        self.poly_ids = np.array([r[0] for r in rows], dtype=np.int64)
        self.rings = []
        centres = []
        for r in rows:
            lon, lat = _ring_lonlat(r[2])
            self.rings.append(oracle.project(lon, lat))
            centres.append((lon[:-1].mean(), lat[:-1].mean()))
        centres = np.asarray(centres)
        self.polys_path = os.path.join(self.work, "polys")
        os.makedirs(self.polys_path)
        pq.write_table(pa.table({
            "poly_id": self.poly_ids,
            "pxs": [xs.tolist() for xs, _ in self.rings],
            "pys": [ys.tolist() for _, ys in self.rings]}),
            os.path.join(self.polys_path, "part-0.parquet"))

        # metro points cluster around page polygons; the background is
        # uniform in projected space, so every grid cell holds about the
        # same number of background points and a kNN query anywhere
        # settles within the same number of ring expansions
        n_metro = int(self.POINTS * self.METRO_SHARE)
        pick = centres[rng.integers(len(centres), size=n_metro)]
        bg_x = rng.uniform(0.0, 1.0, self.POINTS - n_metro)
        bg_y = rng.uniform(0.05, 0.95, self.POINTS - n_metro)
        lon = np.concatenate([pick[:, 0] + rng.normal(0.0, self.METRO_SIGMA, n_metro),
                              (bg_x - 0.5) * 360.0])
        lat = np.concatenate([pick[:, 1] + rng.normal(0.0, self.METRO_SIGMA, n_metro),
                              np.degrees(np.arctan(np.sinh(math.pi * (1.0 - 2.0 * bg_y))))])
        lon = np.clip(lon, -179.999, 179.999)
        lat = np.clip(lat, -84.0, 84.0)
        self.point_ids = rng.permutation(self.POINTS).astype(np.int64)
        self.lon, self.lat = lon, lat
        self.points_path = os.path.join(self.work, "points")
        os.makedirs(self.points_path)
        # row groups small enough that the scan splits across all cores
        pq.write_table(pa.table({"point_id": self.point_ids, "lon": lon, "lat": lat}),
                       os.path.join(self.points_path, "part-0.parquet"),
                       row_group_size=1 << 17)
        q = rng.choice(self.POINTS, size=self.QUERIES, replace=False)
        self.q_ids = np.arange(self.QUERIES, dtype=np.int64)
        self.q_lon, self.q_lat = lon[q], lat[q]
        self.queries_path = os.path.join(self.work, "queries")
        os.makedirs(self.queries_path)
        pq.write_table(pa.table({"query_id": self.q_ids, "lon": self.q_lon,
                                 "lat": self.q_lat}),
                       os.path.join(self.queries_path, "part-0.parquet"))
        self.pip_results: list[tuple[int, tuple]] = []
        self.knn_results: list[tuple[int, list]] = []
        self.pip_s: list[float] = []
        self.knn_s: list[float] = []
        self.cell_s: list[float] = []
        self.points = spark.read.parquet(self.points_path)
        self.polys = spark.read.parquet(self.polys_path)
        self.queries = spark.read.parquet(self.queries_path)
        # the first join of a session pays JVM and Python-worker warm-up
        # (about 3x a warm one)
        with self.tracer.paused():
            self._join(-1)

    def _join(self, request: int) -> float:
        from geojson_vt_spark.operators import knn_join, point_in_polygon_join
        tr, pts = self.tracer, self.points
        t0 = time.monotonic()
        with tr.span("op.join", request):
            with tr.span("operators.pip", request):
                t = time.monotonic()
                pairs = point_in_polygon_join(pts, self.polys, res=self.PIP_RES, salt_n=self.SALT)
                agg = pairs.agg(
                    F.count(F.lit(1)).alias("pairs"),
                    F.sum("point_id").alias("sum_point"),
                    F.sum("poly_id").alias("sum_poly"),
                    F.sum((F.col("point_id") * 1_000_003 + F.col("poly_id"))
                          % oracle.MIX_MOD).alias("sum_mix")).first()
                pip_s = time.monotonic() - t
            with tr.span("operators.knn", request):
                t = time.monotonic()
                knn = [tuple(r) for r in knn_join(pts, self.queries, k=self.K, res=self.KNN_RES)
                       .select("query_id", "point_id", "dist", "rank").collect()]
                knn_s = time.monotonic() - t
        wall = time.monotonic() - t0
        if request >= 0:
            self.pip_s.append(pip_s)
            self.knn_s.append(knn_s)
            self.pip_results.append((request, tuple(int(agg[k] or 0) for k in
                                                    ("pairs", "sum_point", "sum_poly", "sum_mix"))))
            self.knn_results.append((request, sorted(knn)))
            if tr.enabled:
                from geojson_vt_spark.functions import cell_col
                t = time.monotonic()
                with tr.span("functions.cell_assign", request):
                    pts.agg(F.sum(cell_col(F.col("lon"), F.col("lat"),
                                           self.PIP_RES))).first()
                self.cell_s.append(time.monotonic() - t)
        return wall

    def op(self, request: int) -> tuple[float, int]:
        return self._join(request), self.POINTS

    def check(self) -> None:
        want = oracle.pip_digest(self.point_ids, *oracle.project(self.lon, self.lat),
                                 self.poly_ids, self.rings)
        want_t = (want["pairs"], want["sum_point"], want["sum_poly"], want["sum_mix"])
        for request, got in self.pip_results:
            if got != want_t:
                self.fail(request, f"pip call {request}: {got} != {want_t}")
        # every kNN call must return the same rows; the first is checked
        # against brute force on a sample of the queries
        first_req, first = self.knn_results[0]
        for request, got in self.knn_results[1:]:
            if got != first:
                self.fail(request, f"knn call {request}: rows differ from call {first_req}")
        if len(first) != self.QUERIES * self.K:
            self.fail(first_req, f"knn: {len(first)} rows, want {self.QUERIES * self.K}")
        px, py = oracle.project(self.lon, self.lat)
        qx, qy = oracle.project(self.q_lon, self.q_lat)
        sel = np.random.default_rng(self.seed).choice(self.QUERIES, self.KNN_CHECKED,
                                                      replace=False)
        for p in oracle.knn_check(first, self.K, self.q_ids[sel],
                                  qx[sel], qy[sel], self.point_ids, px, py):
            self.fail(first_req, f"knn: {p}")
        self.n_pairs = want["pairs"]

    def layer_metrics(self) -> dict:
        return {
            "operators.pip_s": _median(self.pip_s),
            "operators.pip_pairs": self.n_pairs,
            "operators.knn_s": _median(self.knn_s),
            "operators.knn_rows": len(self.knn_results[0][1]),
            "functions.cell_assign_s": _median(self.cell_s),
        }


WORKLOADS = {
    "pyramid_build": PyramidBuild,
    "tile_serve": TileServe,
    "spatial_join": SpatialJoin,
}
