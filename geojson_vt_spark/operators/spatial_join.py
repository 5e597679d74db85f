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
   ``_BBOX_PREFILTER``), then refine exactly in one vectorized numpy
   kernel (``points_in_rings``: an even-odd ray cast of every candidate
   against its own ring) over the surviving pairs only.

At 1000-executor scale the cell join is the only shuffle; its key space
(cells) is dense and uniform at adequate resolution, and `salt_n`
splits any residual hot cell across reducers.

A small polygon side is broadcast, and preparing it (the size probe,
the ring table's broadcast, the cell cover) is kept per polygon input
in a bounded driver cache (``_PreparedSides``), so repeated joins
against the same file-backed polygon table skip that work.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from typing import NamedTuple
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from .._worker import _worker_prep
from ..functions.geo import (_bbox_cells_sql, _project_x_sql, _project_y_sql,
                             _tile_coord_sql, _tile_id_sql, tile_id_col)
from ..pipeline import _dbl


def points_in_ring(px: np.ndarray, py: np.ndarray,
                   xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast: which of the points fall inside the
    ring (xs, ys)?  O(ring_vertices) numpy passes over all points.
    The scalar-ring oracle of ``points_in_rings``."""
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


def points_in_rings(px: np.ndarray, py: np.ndarray, start: np.ndarray,
                    nv: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of each point k against its own ring
    ``xs/ys[start[k]:start[k] + nv[k]]``; a ring with nv 0 holds no point.

    Bit-identical to ``points_in_ring`` point by point: the same edge
    order (vertex i against the previous vertex j, wrapping) and the
    same float expression.  The points are sorted by ring length, so at
    vertex step i the points whose ring has more than i vertices form a
    prefix and one numpy pass covers them all: a batch takes as many
    passes as its longest ring has vertices.  xint is evaluated only
    where the edge crosses the point's row; an edge with yi == yj never
    crosses, which is ``points_in_ring``'s ``denom != 0`` skip."""
    n = px.shape[0]
    inside = np.zeros(n, dtype=bool)
    if n == 0:
        return inside
    order = np.argsort(-nv, kind="stable")          # longest ring first
    nv = nv[order]
    start, px, py = start[order], px[order], py[order]
    steps = int(nv[0])
    if steps == 0:
        return inside
    # prefix length at step i: the points with nv > i
    m = np.searchsorted(-nv, -np.arange(steps), side="left")
    last = start[:m[0]] + nv[:m[0]] - 1
    xj, yj = xs[last], ys[last]
    above_j = yj > py[:m[0]]
    hit = np.zeros(n, dtype=bool)
    for i in range(steps):
        k = int(m[i])
        vi = start[:k] + i
        xi, yi = xs[vi], ys[vi]
        above_i = yi > py[:k]
        c = np.flatnonzero(above_i != above_j[:k])
        if c.size:
            yic, xic = yi[c], xi[c]
            with np.errstate(invalid="ignore"):
                xint = (xj[c] - xic) * (py[c] - yic) / (yj[c] - yic) + xic
            hit[c] ^= px[c] < xint
        xj, yj, above_j = xi, yi, above_i
    inside[order] = hit
    return inside


class _RingTable(NamedTuple):
    """Polygon rings in CSR form: ring k, of polygon ``ids[k]`` (ids
    ascending and unique), is ``xs/ys[off[k]:off[k + 1]]``."""
    ids: np.ndarray
    off: np.ndarray
    xs: np.ndarray
    ys: np.ndarray

    @classmethod
    def from_arrow(cls, poly_id: np.ndarray, pxs: pa.Array,
                   pys: pa.Array) -> "_RingTable":
        """The table of polygon rows (poly_id, pxs, pys list arrays); a
        polygon id's first row wins.  A NULL or empty ring, or one whose
        pxs and pys differ in length, is left out: no point is inside
        it."""
        ids, first = np.unique(poly_id, return_index=True)
        pxs, pys = pxs.take(first), pys.take(first)
        nx = pc.fill_null(pc.list_value_length(pxs), 0).to_numpy()
        ny = pc.fill_null(pc.list_value_length(pys), 0).to_numpy()
        keep = (nx > 0) & (nx == ny)
        if not keep.all():
            mask = pa.array(keep)
            ids, nx = ids[keep], nx[keep]
            pxs, pys = pxs.filter(mask), pys.filter(mask)
        off = np.zeros(len(ids) + 1, dtype=np.int64)
        np.cumsum(nx, out=off[1:])

        def flat(col):
            return np.asarray(pc.list_flatten(col).to_numpy(zero_copy_only=False),
                              dtype=np.float64)
        return cls(ids.astype(np.int64), off, flat(pxs), flat(pys))

    def contains(self, poly_id: np.ndarray, px: np.ndarray,
                 py: np.ndarray) -> np.ndarray:
        """inside[k]: is (px[k], py[k]) inside polygon poly_id[k]'s ring?
        An id the table lacks holds no point."""
        if not len(self.ids):
            return np.zeros(len(poly_id), dtype=bool)
        k = np.minimum(np.searchsorted(self.ids, poly_id), len(self.ids) - 1)
        start = self.off[k]
        nv = np.where(self.ids[k] == poly_id, self.off[k + 1] - start, 0)
        return points_in_rings(px, py, start, nv, self.xs, self.ys)


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


def _point_cells(points: DataFrame, res: int) -> DataFrame:
    """(point_id, px, py, cell): each point's projected position and its
    one cell at ``res``."""
    return _projected(points, "point_id", "px", "py").selectExpr(
        "point_id", "px", "py",
        "%s AS cell" % _tile_id_sql(res, _tile_coord_sql("px", res),
                                    _tile_coord_sql("py", res)))


# A candidate outside its polygon's bbox cannot pass the ray cast:
# - below miny or above maxy no edge has (yi > py) != (yj > py);
# - left of minx every crossing edge counts, and a closed ring has an
#   even number of crossing edges;
# - right of maxx no crossing edge has px < xint.
# The 1e-9 margin on x dwarfs the few-ulp rounding of xint in the unit
# square, so the filter drops no pair the refine would keep.
_BBOX_PREFILTER = (f"py >= miny AND py <= maxy "
                   f"AND px >= minx - {_dbl(1e-9)} AND px <= maxx + {_dbl(1e-9)}")


class _Prepared(NamedTuple):
    """A broadcast polygon side: the ring table's broadcast and the cell
    cover (build rows without their rings) that feeds ``F.broadcast``.
    ``frame`` and ``stamps`` are what the entry was prepared from."""
    ring_bc: object
    cover: DataFrame
    frame: DataFrame | None = None
    stamps: tuple = ()


class _PreparedSides:
    """A bounded LRU of prepared broadcast polygon sides, one per
    (application id, res, polygon plan) and validated by the plan's
    input files' sizes and modification times.

    Only a deterministic plan whose every leaf is a file relation gets
    an entry, and only when every input file can be stat'ed locally: a
    ``createDataFrame``/RDD leaf, a frame with no input files or a file
    on another file system prepares afresh on every call.  An entry's
    cover is persisted, so Spark's cache manager would serve it to any
    equal plan: an entry whose files changed is therefore evicted
    before its plan is prepared again.  Eviction unpersists the
    broadcast and the cover but never destroys them, so a frame
    returned before the eviction still runs (it re-fetches the rings
    and recomputes the cover)."""

    max_entries = 8

    def __init__(self):
        self.lock = threading.Lock()
        self._entries: OrderedDict[tuple, _Prepared] = OrderedDict()

    def __len__(self) -> int:
        return len(self._entries)

    @staticmethod
    def key(polys: DataFrame, res: int) -> tuple[tuple, tuple] | None:
        """(key, stamps) of a cacheable polygon frame, else None."""
        plan = polys._jdf.queryExecution().analyzed()
        if not plan.deterministic():
            return None
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if (leaf.getClass().getSimpleName() != "LogicalRelation" or
                    leaf.relation().getClass().getSimpleName()
                    != "HadoopFsRelation"):
                return None
        files = polys.inputFiles()
        if not files:
            return None
        stamps = []
        for uri in sorted(files):
            url = urlparse(uri)
            if url.scheme != "file":
                return None
            try:
                st = os.stat(unquote(url.path))
            except OSError:
                return None
            stamps.append((uri, st.st_size, st.st_mtime_ns))
        app = polys.sparkSession.sparkContext.applicationId
        return (app, res, polys.semanticHash()), tuple(stamps)

    def get(self, key: tuple, stamps: tuple, polys: DataFrame) -> _Prepared | None:
        """The live entry for (key, stamps); call under ``lock``.  A
        stale entry of the key is evicted, and entries of another
        application (a stopped context) are dropped unreleased."""
        for k in [k for k in self._entries if k[0] != key[0]]:
            del self._entries[k]
        entry = self._entries.get(key)
        if entry is None:
            return None
        if entry.stamps == stamps and polys.sameSemantics(entry.frame):
            self._entries.move_to_end(key)
            return entry
        self._evict(key)
        return None

    def put(self, key: tuple, entry: _Prepared) -> None:
        """Add an entry, evicting the least recently used beyond the
        bound; call under ``lock``."""
        self._entries[key] = entry
        while len(self._entries) > self.max_entries:
            self._evict(next(iter(self._entries)))

    def _evict(self, key: tuple) -> None:
        entry = self._entries.pop(key)
        entry.ring_bc.unpersist()
        entry.cover.unpersist()


_PREPARED = _PreparedSides()


def _prepare_side(polys: DataFrame, res: int, broadcast_polys: bool | None,
                  poly_count_hint: int | None,
                  poly_vertex_hint: int | None,
                  persist: bool) -> _Prepared | None:
    """Decide broadcast vs shuffle and, for a broadcast, prepare the
    side; None means the shuffle path."""
    if broadcast_polys is None and poly_count_hint is not None:
        broadcast_polys = (poly_count_hint <= 100_000 and
                           (poly_vertex_hint if poly_vertex_hint is not None
                            else poly_count_hint * 50) <= 5_000_000)
    rings = polys.select("poly_id", "pxs", "pys")
    table = None
    if broadcast_polys is None:
        # a small polygon side should broadcast: the probe side (the
        # corpus-scale one) then never shuffles at all and the join +
        # refine fuse into one map stage.  Catalyst can't see the
        # post-explode size, so decide with ONE probe job that also
        # yields the ring table when it fits — gated on both row count
        # and total vertex bytes (a few huge rings shouldn't broadcast).
        table = rings.limit(100_001).toArrow()
        n_verts = pc.sum(pc.list_value_length(table.column("pxs"))).as_py() or 0
        broadcast_polys = table.num_rows <= 100_000 and n_verts <= 5_000_000
    if not broadcast_polys:
        return None
    if table is None:
        table = rings.toArrow()
    # ship the (small) ring table once per EXECUTOR via a Spark
    # broadcast (not once per task through the pickled closure)
    # instead of duplicating pxs/pys onto every candidate row — the
    # refine's Arrow traffic shrinks to 4 scalars per candidate
    ring_table = _RingTable.from_arrow(
        table.column("poly_id").to_numpy(),
        table.column("pxs").combine_chunks(), table.column("pys").combine_chunks())
    ring_bc = polys.sparkSession.sparkContext.broadcast(ring_table)
    cover = _poly_bbox_cells(polys, res).drop("pxs", "pys")
    return _Prepared(ring_bc, cover.persist() if persist else cover)


def _broadcast_side(polys: DataFrame, res: int, broadcast_polys: bool | None,
                    poly_count_hint: int | None,
                    poly_vertex_hint: int | None) -> _Prepared | None:
    """The prepared broadcast side of ``polys`` from ``_PREPARED`` or
    freshly made (and kept when the frame is cacheable); None means
    the shuffle path."""
    if broadcast_polys is False:
        return None
    keyed = _PREPARED.key(polys, res)
    if keyed is None:
        return _prepare_side(polys, res, broadcast_polys, poly_count_hint,
                             poly_vertex_hint, persist=False)
    key, stamps = keyed
    with _PREPARED.lock:
        entry = _PREPARED.get(key, stamps, polys)
        if entry is None:
            entry = _prepare_side(polys, res, broadcast_polys, poly_count_hint,
                                  poly_vertex_hint, persist=True)
            if entry is not None:
                entry = entry._replace(frame=polys, stamps=stamps)
                _PREPARED.put(key, entry)
        return entry


def point_in_polygon_join(points: DataFrame, polys: DataFrame, res: int = 7,
                          salt_n: int = 0,
                          broadcast_polys: bool | None = None,
                          poly_count_hint: int | None = None,
                          poly_vertex_hint: int | None = None) -> DataFrame:
    """points(point_id, lon, lat) ⨝ polys(poly_id, pxs, pys projected)
    → (point_id, poly_id) pairs with the point inside the polygon ring.
    A NULL or empty ring, one whose pxs and pys differ in length, or a
    row with a NULL poly_id holds no point.

    salt_n > 0 replicates build rows across salt buckets so one hot
    cell spreads over salt_n reducers (shuffle path only).

    A broadcast polygon side is prepared once per polygon input and
    kept in a bounded driver cache (see ``_PreparedSides``): building a
    repeated join against the same unchanged, file-backed polygon table
    runs no job.  ``poly_count_hint`` / ``poly_vertex_hint``
    (caller-known row and total vertex counts) matter only on a cache
    miss: when ``broadcast_polys`` is None the auto-broadcast decision
    then runs one ``limit()`` probe job, which the hints skip (the
    decision uses them, and the ring broadcast — when chosen — collects
    once as its payload, which it must do regardless)."""
    pts = _point_cells(points, res)
    polys = polys.where(F.col("poly_id").isNotNull())
    side = _broadcast_side(polys, res, broadcast_polys, poly_count_hint,
                           poly_vertex_hint)
    if side is not None:
        ring_bc = side.ring_bc
        cand = pts.join(F.broadcast(side.cover), "cell")
    else:
        ring_bc = None
        build = _poly_bbox_cells(polys, res)
        keys = ["cell"]
        if salt_n > 0:
            # salting is only needed when the join actually shuffles
            build = build.selectExpr(
                "*", f"explode(sequence(0, {salt_n - 1})) AS salt")
            pts = pts.selectExpr("*", f"pmod(xxhash64(point_id), {salt_n}) AS salt")
            keys.append("salt")
        cand = pts.join(build, keys)

    def refine(batches):
        _worker_prep()
        table = ring_bc.value if ring_bc is not None else None
        for batch in batches:
            if not batch.num_rows:
                continue
            pid = batch.column("point_id").to_numpy().astype(np.int64, copy=False)
            pol = batch.column("poly_id").to_numpy().astype(np.int64, copy=False)
            rings = table if table is not None else _RingTable.from_arrow(
                pol, batch.column("pxs"), batch.column("pys"))
            inside = rings.contains(pol, batch.column("px").to_numpy(),
                                    batch.column("py").to_numpy())
            yield pa.RecordBatch.from_arrays(
                [pa.array(pid[inside]), pa.array(pol[inside])],
                names=["point_id", "poly_id"])

    refine_cols = ["point_id", "poly_id", "px", "py"]
    if ring_bc is None:
        refine_cols += ["pxs", "pys"]
    # no dedupe pass needed: a point carries exactly one cell and the
    # bbox explode emits each polygon once per distinct cell, so every
    # (point, polygon) candidate pair occurs exactly once
    return (cand.where(_BBOX_PREFILTER).select(*refine_cols)
            .mapInArrow(refine, "point_id long, poly_id long"))


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
