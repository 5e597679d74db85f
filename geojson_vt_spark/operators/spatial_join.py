"""Distributed spatial joins over the quadtree cell grid.

The reference has no joins (single-dataset pipeline); the north_rule
adds a cell-indexed spatial-join suite.  Design (SURVEY.md §2.8):

1. assign each geometry a set of grid cells (Web-Mercator quadtree
   tiles at a chosen resolution — JVM-side arithmetic, see
   functions/geo.py; the plans here are SQL text, so building one
   costs a handful of Py4J calls);
2. equi-join on cell id — Catalyst picks broadcast vs sort-merge, AQE
   handles runtime skew; an explicit salt is available for known-hot
   cells (dense metros);
3. drop candidates outside their polygon's bbox (exact, see
   ``_BBOX_PREFILTER``), then refine exactly in a vectorized numpy
   kernel (ray-cast point-in-ring) over the surviving pairs only.

At 1000-executor scale the cell join is the only shuffle; its key space
(cells) is dense and uniform at adequate resolution, and `salt_n`
splits any residual hot cell across reducers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .._worker import _worker_prep
from ..functions.geo import (_bbox_cells_sql, _project_x_sql, _project_y_sql,
                             _tile_coord_sql, _tile_id_sql, tile_id_col)
from ..pipeline import _dbl


def points_in_ring(px: np.ndarray, py: np.ndarray,
                   xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast: which of the points fall inside the
    ring (xs, ys)?  O(ring_vertices) numpy passes over all points."""
    inside = np.zeros(px.shape[0], dtype=bool)
    n = xs.shape[0]
    j = n - 1
    for i in range(n):
        yi, yj = ys[i], ys[j]
        xi, xj = xs[i], xs[j]
        denom = yj - yi
        if denom != 0:
            cross = (yi > py) != (yj > py)
            with np.errstate(invalid="ignore"):
                xint = (xj - xi) * (py - yi) / denom + xi
            inside ^= cross & (px < xint)
        j = i
    return inside


def _poly_bbox_cells(polys: DataFrame, res: int) -> DataFrame:
    """Explode polygons (poly_id, pxs, pys in projected space) into
    (poly_id, pxs, pys, minx, miny, maxx, maxy, cell) build rows."""
    return (polys
            .selectExpr("poly_id", "pxs", "pys",
                        "array_min(pxs) AS minx", "array_min(pys) AS miny",
                        "array_max(pxs) AS maxx", "array_max(pys) AS maxy")
            .selectExpr("*", "explode(%s) AS cell" % _bbox_cells_sql(
                "minx", "miny", "maxx", "maxy", res)))


def _projected(df: DataFrame, key: str, x: str, y: str) -> DataFrame:
    """(key, x, y): a (lon, lat) frame in projected space."""
    return df.selectExpr(key, f"{_project_x_sql('lon')} AS {x}",
                         f"{_project_y_sql('lat')} AS {y}")


# A candidate outside its polygon's bbox cannot pass the ray cast:
# - below miny or above maxy no edge has (yi > py) != (yj > py);
# - left of minx every crossing edge counts, and a closed ring has an
#   even number of crossing edges;
# - right of maxx no crossing edge has px < xint.
# The 1e-9 margin on x dwarfs the few-ulp rounding of xint in the unit
# square, so the filter drops no pair the refine would keep.
_BBOX_PREFILTER = (f"py >= miny AND py <= maxy "
                   f"AND px >= minx - {_dbl(1e-9)} AND px <= maxx + {_dbl(1e-9)}")


def point_in_polygon_join(points: DataFrame, polys: DataFrame, res: int = 7,
                          salt_n: int = 0,
                          broadcast_polys: bool | None = None,
                          poly_count_hint: int | None = None,
                          poly_vertex_hint: int | None = None) -> DataFrame:
    """points(point_id, lon, lat) ⨝ polys(poly_id, pxs, pys projected)
    → (point_id, poly_id) pairs with the point inside the polygon ring.

    salt_n > 0 replicates build rows across salt buckets so one hot
    cell spreads over salt_n reducers.

    ``poly_count_hint`` / ``poly_vertex_hint``: caller-known (row
    count, total vertex count) of the polygon side.  When
    ``broadcast_polys`` is None the auto-broadcast decision normally
    runs one ``limit().collect()`` probe job per call; a caller that
    joins the same dim table repeatedly can supply the hints and the
    probe job is skipped entirely (the decision uses the hints, and
    the ring broadcast — when chosen — collects once as its payload,
    which it must do regardless)."""
    pts = _projected(points, "point_id", "px", "py").selectExpr(
        "point_id", "px", "py",
        "%s AS cell" % _tile_id_sql(res, _tile_coord_sql("px", res),
                                    _tile_coord_sql("py", res)))

    build = _poly_bbox_cells(polys, res)

    poly_rows = None
    if broadcast_polys is None and poly_count_hint is not None:
        broadcast_polys = (poly_count_hint <= 100_000 and
                           (poly_vertex_hint if poly_vertex_hint is not None
                            else poly_count_hint * 50) <= 5_000_000)
    if broadcast_polys is None:
        # a small polygon side should broadcast: the probe side (the
        # corpus-scale one) then never shuffles at all and the join +
        # refine fuse into one map stage.  Catalyst can't see the
        # post-explode size, so decide with ONE probe job that also
        # yields the ring table when it fits — gated on both row count
        # and total vertex bytes (a few huge rings shouldn't broadcast).
        rows = polys.select("poly_id", "pxs", "pys").limit(100_001).collect()
        n_verts = sum(len(r["pxs"]) for r in rows)
        broadcast_polys = len(rows) <= 100_000 and n_verts <= 5_000_000
        if broadcast_polys:
            poly_rows = rows

    if salt_n > 0 and not broadcast_polys:
        # salting is only needed when the join actually shuffles
        build = build.selectExpr(
            "*", f"explode(sequence(0, {salt_n - 1})) AS salt")
        pts = pts.selectExpr("*", f"pmod(xxhash64(point_id), {salt_n}) AS salt")
        keys = ["cell", "salt"]
    else:
        keys = ["cell"]

    ring_bc = None
    if broadcast_polys:
        # ship the (small) ring table once per EXECUTOR via a Spark
        # broadcast (not once per task through the pickled closure)
        # instead of duplicating pxs/pys onto every candidate row — the
        # refine's Arrow traffic shrinks to 4 scalars per candidate
        if poly_rows is None:
            poly_rows = polys.select("poly_id", "pxs", "pys").collect()
        ring_lookup = {
            int(r["poly_id"]): (np.asarray(r["pxs"], dtype=np.float64),
                                np.asarray(r["pys"], dtype=np.float64))
            for r in poly_rows}
        ring_bc = points.sparkSession.sparkContext.broadcast(ring_lookup)
        del ring_lookup, poly_rows
        build = F.broadcast(build.drop("pxs", "pys"))
    cand = pts.join(build, keys).where(_BBOX_PREFILTER)

    def refine(batches):
        _worker_prep()
        ring_lookup = ring_bc.value if ring_bc is not None else None
        for pdf in batches:
            if not len(pdf):
                continue
            pid = pdf["point_id"].to_numpy(dtype=np.int64)
            pol = pdf["poly_id"].to_numpy(dtype=np.int64)
            px = pdf["px"].to_numpy(dtype=np.float64)
            py = pdf["py"].to_numpy(dtype=np.float64)
            # group candidates by polygon via one argsort; each ring
            # then scans its points in a single vectorized pass — no
            # pandas groupby, no Python-list materialization
            order = np.argsort(pol, kind="stable")
            pols = pol[order]
            brk = np.concatenate(([0], np.nonzero(pols[1:] != pols[:-1])[0] + 1,
                                  [len(pols)]))
            keep = np.zeros(len(pols), dtype=bool)
            for gi in range(len(brk) - 1):
                lo, hi = int(brk[gi]), int(brk[gi + 1])
                poly_id = int(pols[lo])
                if ring_lookup is not None:
                    xs, ys = ring_lookup[poly_id]
                else:
                    first = int(order[lo])
                    xs = np.asarray(pdf["pxs"].iloc[first], dtype=np.float64)
                    ys = np.asarray(pdf["pys"].iloc[first], dtype=np.float64)
                sel = order[lo:hi]
                keep[lo:hi] = points_in_ring(px[sel], py[sel], xs, ys)
            sel = order[keep]
            yield pd.DataFrame({"point_id": pid[sel], "poly_id": pol[sel]})

    refine_cols = ["point_id", "poly_id", "px", "py"]
    if ring_bc is None:
        refine_cols += ["pxs", "pys"]
    # no dedupe pass needed: a point carries exactly one cell and the
    # bbox explode emits each polygon once per distinct cell, so every
    # (point, polygon) candidate pair occurs exactly once
    return (cand.select(*refine_cols)
            .mapInPandas(refine, "point_id long, poly_id long"))


def knn_join(points: DataFrame, queries: DataFrame, k: int, res: int = 6,
             max_ring: int | None = None) -> DataFrame:
    """For each query(query_id, lon, lat), the k nearest
    points(point_id, lon, lat) by planar distance in projected space.

    Iterative cell-ring expansion: search the (2r+1)² cell block around
    each query, keep queries whose kth hit is provably closer than any
    unexplored cell (Chebyshev bound r·cellsize), double r for the rest.
    A round that settles every remaining query (one count proves it)
    ends the search with its checkpointed top-k.
    Output: (query_id, point_id, dist, rank), deterministic tie-break on
    point_id.  A query with a NULL lon or lat gets no rows.
    """
    n = 1 << res
    cell_size = 1.0 / n
    if max_ring is None:
        max_ring = n

    def with_cells(df: DataFrame, x: str, y: str) -> DataFrame:
        return df.selectExpr("*", f"{_tile_coord_sql(x, res)} AS cx",
                             f"{_tile_coord_sql(y, res)} AS cy")

    pxy = with_cells(_projected(points, "point_id", "px", "py"), "px", "py")
    # a query with a NULL coordinate has no place and so no neighbour;
    # it leaves before the search and gets no rows.  Kept in, greatest()
    # skips the NULL and projects it onto a map edge (NULL lat) or
    # gives it NULL distances that never settle (NULL lon), and either
    # way it drives ring doublings up to max_ring
    remaining = with_cells(
        _projected(queries.where("lon IS NOT NULL AND lat IS NOT NULL"),
                   "query_id", "qx", "qy"), "qx", "qy")
    # a round's top-k holds at most one rank-k row per remaining query
    # id, so a settled count equal to this row count (kept an upper
    # bound across rounds) proves that every remaining query settled
    n_remaining = remaining.count()

    results_parts: list[DataFrame] = []
    carried: DataFrame | None = None  # unsettled queries' top-k so far
    r, prev = 1, -1
    while True:
        # candidate cells: only the Chebyshev ANNULUS prev < max(|dx|,
        # |dy|) <= r — cells scanned in earlier rounds are never
        # re-joined or re-scored; their contribution rides in `carried`
        # (the provisional top-k dominates every candidate it dropped,
        # so re-ranking carried ∪ annulus equals ranking the full block)
        qcells = (remaining
                  .selectExpr("*", f"explode(sequence({-r}, {r})) AS dx")
                  .selectExpr("*", f"explode(sequence({-r}, {r})) AS dy")
                  .where(f"greatest(abs(dx), abs(dy)) > {prev}")
                  .selectExpr("query_id", "qx", "qy",
                              "cx + dx AS cx", "cy + dy AS cy")
                  .where(f"cx >= 0 AND cx < {n} AND cy >= 0 AND cy < {n}"))

        cand = qcells.join(pxy, ["cx", "cy"]).selectExpr(
            "query_id", "point_id",
            "sqrt(pow(px - qx, 2) + pow(py - qy, 2)) AS dist")
        if carried is not None:
            # a point lives in exactly one cell, so carried rows and
            # annulus candidates never duplicate
            cand = cand.unionByName(carried.drop("rank"))
        # ONE checkpoint per round: everything downstream (settled,
        # carried, remaining) derives from this materialized top-k, so
        # the plan depth stays O(1) across rounds and the ranking job
        # runs once instead of once per consumer
        topk = (cand.selectExpr(
                    "*", "row_number() OVER (PARTITION BY query_id "
                         "ORDER BY dist, point_id) AS rank")
                .where(f"rank <= {k}")
                .localCheckpoint())
        if r >= max_ring:
            # the ring spans the grid: every top-k is final
            results_parts.append(topk)
            break

        # a query is settled if it has k hits and the kth is inside the
        # guaranteed-complete radius.  Both facts are visible in the
        # top-k rows themselves — a query with fewer than k hits has no
        # rank-k row.  One count decides the round: when every remaining
        # query settled, the top-k is the rest of the answer and the
        # done-id join, anti-join and isEmpty job are not needed
        settled = f"rank = {k} AND dist < {_dbl(r * cell_size)}"
        n_settled = topk.where(settled).count()
        if n_settled == n_remaining:
            results_parts.append(topk)
            break
        done_ids = topk.where(settled).select("query_id")
        results_parts.append(topk.join(done_ids, "query_id"))

        # remaining/carried derive from the round's CHECKPOINTED top-k,
        # so their lineage stays shallow (one slim anti-join per round,
        # bounded by log2(max_ring) rounds) without a second eager job
        remaining = remaining.join(done_ids, "query_id", "left_anti")
        if remaining.isEmpty():
            break
        carried = topk.join(done_ids, "query_id", "left_anti")
        n_remaining -= n_settled
        prev, r = r, r * 2

    out = results_parts[0]
    for part in results_parts[1:]:
        out = out.unionByName(part)
    return out


def bbox_overlap_join(boxes_a: DataFrame, boxes_b: DataFrame | None = None,
                      cell: float = 4.0) -> DataFrame:
    """Rectangle-overlap range join: all pairs of boxes
    ``(id, xmin, ymin, xmax, ymax)`` whose closed bboxes intersect,
    with the intersection area.  ``boxes_b=None`` self-joins
    (``id_a < id_b``).

    This is the partition-based spatial-merge (PBSM) shape: each box
    explodes to the grid cells it covers (bounded fan-out — pick
    ``cell`` ≳ the typical box so it's ≤ 2×2 cells), the only shuffle
    is the slim (cx, cy) equi-join, and a pair spanning several shared
    cells is emitted exactly once WITHOUT a distinct pass: it reports
    only from the canonical cell — the one containing the
    intersection's lower-left corner, which both boxes provably cover.
    Hot cells (dense metros) can be handled by lowering ``cell``; the
    fan-out grows but each cell's candidate set shrinks quadratically.

    The DuckDB oracle twin is the plain O(n²) inequality join — the
    grid is internal, so no cross-engine float parity is needed beyond
    the final area rounding."""
    def cells(df, tag):
        c = F.lit(float(cell))
        return (df.select(
            F.col("id").alias(f"id_{tag}"),
            F.col("xmin").alias(f"xmin_{tag}"),
            F.col("ymin").alias(f"ymin_{tag}"),
            F.col("xmax").alias(f"xmax_{tag}"),
            F.col("ymax").alias(f"ymax_{tag}"))
            .withColumn("cx", F.explode(F.sequence(
                F.floor(F.col(f"xmin_{tag}") / c),
                F.floor(F.col(f"xmax_{tag}") / c))))
            .withColumn("cy", F.explode(F.sequence(
                F.floor(F.col(f"ymin_{tag}") / c),
                F.floor(F.col(f"ymax_{tag}") / c)))))

    a = cells(boxes_a, "a")
    b = cells(boxes_b if boxes_b is not None else boxes_a, "b")
    c = F.lit(float(cell))
    ix0 = F.greatest("xmin_a", "xmin_b")
    iy0 = F.greatest("ymin_a", "ymin_b")
    overlap = ((ix0 <= F.least("xmax_a", "xmax_b")) &
               (iy0 <= F.least("ymax_a", "ymax_b")))
    canonical = ((F.col("cx") == F.floor(ix0 / c)) &
                 (F.col("cy") == F.floor(iy0 / c)))
    pair_pred = (F.col("id_a") < F.col("id_b")) if boxes_b is None \
        else (F.lit(True))
    area = F.round((F.least("xmax_a", "xmax_b") - ix0) *
                   (F.least("ymax_a", "ymax_b") - iy0), 6)
    return (a.join(b, ["cx", "cy"])
            .where(pair_pred & overlap & canonical)
            .select("id_a", "id_b", area.alias("inter_area")))


def raster_vector_overlay(raster: DataFrame, vectors: DataFrame,
                          res: int) -> DataFrame:
    """Raster-tile ↔ vector overlay: join a raster grid (z=res, x, y,
    plus value columns) against vector features' cell assignments —
    the tiling pyramid reused as the join index.

    vectors: (vec_id, pxs, pys) projected rings → bbox cell cover.
    Returns one row per (raster tile, vector) intersection candidate."""
    vcells = (_poly_bbox_cells(
        vectors.select(F.col("vec_id").alias("poly_id"), "pxs", "pys"), res)
        .select(F.col("poly_id").alias("vec_id"), "cell"))
    rast = raster.withColumn(
        "cell", tile_id_col(res, F.col("x").cast("long"), F.col("y").cast("long")))
    return rast.join(vcells, "cell").drop("cell")
