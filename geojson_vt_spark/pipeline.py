"""Distributed DataFrame stages of the tile pyramid.

Spark-first design (SURVEY.md §7): geojson-vt's recursive splitTile
(src/index.js:66-156) becomes a quadtree CUT of the tile tree built from
the z0 frontier in a few jobs (engine._build_forest):

- ingest: ONE Arrow-in, Arrow-out stage (features_from_json_df, fused
  with the corpus extract when fed an extract frame) that converts each
  batch and wraps it at the dateline (wrap_table: only rows near a
  world edge are clipped), so its output is the z0 frontier;
- clip: ONE path from a cell's ancestor down to the cell — _clip_chain
  (batch_clip on x then y per level, windows from _cell_window) between
  one Arrow ingress (_arrow_state) and one Arrow egress
  (_clip_out_geometry_arrays).  The leaf wave (_wave_cell_kernel) and
  the internal walk (clip_table_to_cell) run it; the wrap runs the same
  boundary around a single x clip per world;
- cut: slim SQL-text mass aggregations per quadtree cell
  (forest_gate_df, forest_vertex_probe_df) — the stop rule's numPoints
  is ``sum(size(coords)/3)`` (src/index.js:107), so Catalyst runs them
  with map-side partial aggregation;
- render: ONE narrow mapInArrow job (internal_tree_direct) renders
  every tilefeat tile — the z0 tile as the root of an in-task walk down
  the internal cells — with no per-tile funnel;
- leaves: routed rows (forest_route_df) tagged with their cell's
  driver-packed bin, which is the wave's partition id; each cell's
  pyramid is built in-task (forest_slot_wave_df → batch_split_subtree)
  and written as tile rows plus its leaves' retained sources, the
  sources as TILED rows (z/x/y + FEATURE columns) through the same
  egress;
- drill: the engine's getTile drill-down runs the same
  batch_split_subtree on the driver, with splitTile's drill stop rule
  (``target``), over a retained source read back as kernel state by
  _arrow_state, whether it is a stored leaf source, a drill-overlay
  source or the z0 frontier.
"""

from __future__ import annotations

import json
import os
import time

from .kernel.fastjson import dumps as _jdumps, loads as _jloads

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from ._worker import _worker_prep
from .model import FEATURE_COLUMNS, FEATURE_SCHEMA, TILED_COLUMNS
from .options import TileOptions

# parquet codec of the task-side store writes (_write_part)
_CODEC = "zstd"

# ---------------------------------------------------------------- ingest


def features_from_json_df(df: DataFrame, options: TileOptions) -> DataFrame:
    """Distributed ingest stage: rows of (input_ord, gen_index,
    feature_json) → the z0 frontier's FEATURE_SCHEMA rows, ord_path =
    [world, input_ord, convert_ord, slice].  One Arrow batch in and one
    FEATURE table out per input batch: the convert
    (convert_rows_to_table), then the dateline wrap on the same table
    (wrap_table).

    feature_json is a single GeoJSON Feature (or bare geometry wrapped as
    {"geometry": ...}); gen_index feeds generateId (null for non-collection
    inputs, matching /root/reference/src/convert.js:11,15,19).

    A frame that ``extract_geo_features_df`` returned, used as it is
    (not cached, not derived), is fused with its extract: the result is
    ONE mapInArrow over the pages' (url, text) that hands each page's
    parsed feature dict straight to the convert, with no GeoJSON text
    in between and one Python worker per task instead of two.  Any
    other frame — a cached extract included — is converted from its
    feature_json text.  Both give the same rows.
    """
    from .sources.corpus import extracted_pages, page_features

    def ingest(rows):
        return wrap_table(convert_rows_to_table(rows, options),
                          options).to_batches()

    def run(batches):
        _worker_prep()
        for rb in batches:
            yield from ingest(zip(rb.column("input_ord").to_pylist(),
                                  rb.column("gen_index").to_pylist(),
                                  rb.column("feature_json").to_pylist()))

    def fused(batches):
        _worker_prep()
        for rb in batches:
            yield from ingest((o, o, feature) for o, feature in page_features(
                rb.column("url").to_pylist(), rb.column("text").to_pylist()))

    pages = extracted_pages(df)
    if pages is not None:
        return pages.select("url", "text").mapInArrow(fused, FEATURE_SCHEMA)
    return df.mapInArrow(run, FEATURE_SCHEMA)


def convert_rows_to_table(rows, options):
    """Ingest rows → one FEATURE_COLUMNS Arrow table, built straight
    from the batch convert's rags (kernel.vec.convert_rows) through
    the clips' geometry egress (_clip_out_geometry_arrays): the Arrow
    twin of ``convert_rows_to_records``, column for column.  A batch
    whose every row drops gives a typed zero-row table."""
    import pyarrow as pa

    from .kernel.vec import convert_rows
    ords, gcodes, fids, tagss, rags, bbox = convert_rows(rows, options)
    geo = _clip_out_geometry_arrays(rags, gcodes, bbox)
    return pa.Table.from_arrays(
        [_ord_list(np.asarray(ords, dtype=np.int64).reshape(-1, 2)),
         pa.array(fids, pa.string()), pa.array(tagss, pa.string())]
        + [geo[c] for c in FEATURE_COLUMNS[3:]],
        names=FEATURE_COLUMNS)


def _ord_list(ords):
    """The ord_path list column of an (n, w) int matrix: row i's w
    values are feature i's ord_path."""
    import pyarrow as pa

    n, w = ords.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, w * n + 1, w, dtype=np.int32)),
        pa.array(ords.reshape(-1), pa.int64()))


def convert_single(feature_dict, options, gen_index):
    """Convert one pre-split GeoJSON feature via the kernel."""
    from .kernel.convert import _convert_feature
    out = []
    _convert_feature(out, feature_dict, options, gen_index)
    return out


def geojson_to_input_rows(data: dict):
    """Split a top-level GeoJSON document into per-feature ingest rows
    (input_ord, gen_index, feature_json) mirroring convert()'s dispatch."""
    t = data.get("type")
    if t == "FeatureCollection":
        return [(i, i, json.dumps(f)) for i, f in enumerate(data["features"])]
    if t == "Feature":
        return [(0, None, json.dumps(data))]
    return [(0, None, json.dumps({"geometry": data}))]


# ---------------------------------------------------------------- wrap

def wrap_table(tbl, options: TileOptions):
    """Dateline wrap (src/wrap.js:5-19) of one convert table: its
    features as z0 frontier rows, ord_path [world, *ord, slice] with
    world 0/1/2 = left/centre/right, so ord order is the reference's
    left ++ centre ++ right concat.

    Only a candidate — a row whose bbox reaches x ≤ b or x ≥ 1 - b —
    can leave the centre window [-b, 1 + b] or enter a side window
    [-1 - b, b] or [1 - b, 2 + b].  Every other row is the centre world
    as it is: it keeps its geometry and gains only [1, *ord, 0], so a
    batch without a candidate costs one ord_path rebuild.  The
    candidates go through batch_clip once per window (its trivial
    accept minx ≥ k1 and maxx < k2, and reject maxx < k1 or minx ≥ k2,
    are the window tests) and the side copies shift by ±1 world
    (src/wrap.js:21-68; a constant add commutes with min and max, so
    the bbox shifts exactly).

    The reference decides for the whole input: with no feature in a
    side window it keeps every feature unclipped.  A row that yields a
    side copy or that the centre clip alters is a candidate, so the
    per-row wrap differs only for a feature lying wholly outside
    [-1 - b, 2 + b], which it drops."""
    import pyarrow as pa

    from .kernel.vec import batch_clip
    b = options.buffer / options.extent
    mnx, mxx = (tbl.column(c).to_numpy(zero_copy_only=False)
                for c in ("minx", "maxx"))
    cand = (mnx <= b) | (mxx >= 1 - b)
    rest = np.nonzero(~cand)[0]
    slice0 = np.zeros((len(rest), 1), dtype=np.int64)
    if len(rest) == tbl.num_rows:
        return tbl.set_column(0, "ord_path", _ord_append(
            tbl.column("ord_path"), rest, slice0, head=slice0 + 1))
    parts = [_feature_table(tbl, rest, slice0, head=slice0 + 1)]
    sub = tbl.take(pa.array(np.nonzero(cand)[0]))
    state = _arrow_state(sub, sort=False, strings=False)[:6]
    m = sub.num_rows
    for world in (0, 1, 2):
        res = batch_clip(*state, np.full(m, world - 1 - b),
                         np.full(m, world + b), 0, options.line_metrics)
        if not res.n_feats:
            continue
        if world != 1:
            shift = 1.0 - world
            res.rags.xs = res.rags.xs + shift
            res.minx, res.maxx = res.minx + shift, res.maxx + shift
        geo = _clip_out_geometry_arrays(res.rags, res.gcodes, res.bbox)
        parts.append(_feature_table(
            sub, res.src, res.sub_ord[:, None], geo,
            head=np.full((res.n_feats, 1), world, dtype=np.int64)))
    return pa.concat_tables(parts)


def _ord_append(ords, rows, tail, head=None):
    """The ord_path list column at ``rows`` with row i of the int matrix
    ``tail`` appended to row i, and row i of ``head`` (when given)
    prepended, built through the list offsets (so any ord width, fixed
    or mixed, takes the same path)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .kernel.vec import ragged_arange
    lens = pc.list_value_length(ords).to_numpy(
        zero_copy_only=False).astype(np.int64)
    flat = pc.list_flatten(ords).to_numpy(zero_copy_only=False)
    ioff = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=ioff[1:])
    k, w = tail.shape
    h = 0 if head is None else head.shape[1]
    rows = np.asarray(rows, dtype=np.int64)
    olen = lens[rows]
    ooff = np.zeros(k + 1, dtype=np.int64)
    np.cumsum(h + olen + w, out=ooff[1:])
    out = np.empty(int(ooff[-1]), dtype=np.int64)
    if h:
        out[ooff[:-1, None] + np.arange(h)] = head
    row = np.repeat(np.arange(k), olen)
    rel = ragged_arange(olen)
    out[ooff[row] + h + rel] = flat[ioff[rows][row] + rel]
    out[(ooff[:-1] + h + olen)[:, None] + np.arange(w)] = tail
    return pa.ListArray.from_arrays(
        pa.array(ooff.astype(np.int32), pa.int32()),
        pa.array(out, pa.int64()))


def _feature_table(tbl, rows, tail, geo=None, head=None):
    """FEATURE_COLUMNS of ``tbl`` at ``rows`` as one Arrow table:
    ord_path gains ``head`` and ``tail`` (_ord_append), fid/tags are
    taken, and the geometry columns are ``geo`` (a clip's
    _clip_out_geometry_arrays) or, when None, the rows' own."""
    import pyarrow as pa

    idx = pa.array(np.asarray(rows, dtype=np.int64))
    geo = geo or {}
    return pa.Table.from_arrays(
        [_ord_append(tbl.column("ord_path"), rows, tail, head)]
        + [geo[c] if c in geo else tbl.column(c).take(idx)
           for c in FEATURE_COLUMNS[1:]],
        names=FEATURE_COLUMNS)


def _clip_out_geometry_arrays(rg, gcodes, bbox) -> dict:
    """Rags, their per-feature gtype codes and (minx, miny, maxx, maxy)
    → Arrow arrays for the FEATURE geometry columns
    (gtype/coords/ring_lens/poly_lens/ring metrics/bbox), built
    straight from the rag flats with ``pa.ListArray.from_arrays`` —
    the one Arrow egress of every clip and of the convert, with zero
    per-feature object boxing.  poly_lens regrouping is a flat bincount
    over global (feature, poly) ids instead of the per-MultiPolygon
    loop."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .kernel.vec import GT_MPOLY, GTYPES, rags_to_feature_arrays
    n = rg.n_feats
    f_roff, xyz = rags_to_feature_arrays(rg)

    def _list(offs, values):
        return pa.ListArray.from_arrays(
            pa.array(offs.astype(np.int32, copy=False), pa.int32()),
            values)

    f_roff32 = f_roff
    coords = _list(3 * rg.roff[f_roff], pa.array(xyz, pa.float64()))
    lens3 = (rg.ring_lens() * 3).astype(np.int32)
    ring_lens = _list(f_roff32, pa.array(lens3, pa.int32()))
    ring_size = _list(f_roff32, pa.array(rg.rsize, pa.float64()))
    ring_start = _list(f_roff32, pa.array(rg.rstart, pa.float64()))
    ring_end = _list(f_roff32, pa.array(rg.rend, pa.float64()))

    gcodes = np.asarray(gcodes, dtype=np.int64)
    mp = gcodes == GT_MPOLY
    nr_f = f_roff[1:] - f_roff[:-1]
    npoly = np.zeros(n, dtype=np.int64)
    hasr = mp & (nr_f > 0)
    if hasr.any():
        # rpoly is 0-based and monotone within a feature: the last
        # ring's poly index + 1 is the feature's polygon count
        npoly[hasr] = rg.rpoly[f_roff[1:][hasr] - 1] + 1
    poff = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(npoly, out=poff[1:])
    if poff[-1]:
        valid = mp[rg.rfeat]
        gid = (poff[rg.rfeat] + rg.rpoly)[valid]
        pl_flat = np.bincount(gid, minlength=int(poff[-1])).astype(
            np.int32)
    else:
        pl_flat = np.empty(0, dtype=np.int32)
    poly_lens = pa.ListArray.from_arrays(
        pa.array(poff.astype(np.int32),
                 mask=np.concatenate([~mp, [False]])),
        pa.array(pl_flat, pa.int32()))

    gtype = pc.take(pa.array(list(GTYPES), pa.string()),
                    pa.array(gcodes))
    minx, miny, maxx, maxy = bbox
    return {
        "gtype": gtype, "coords": coords, "ring_lens": ring_lens,
        "poly_lens": poly_lens, "ring_size": ring_size,
        "ring_start": ring_start, "ring_end": ring_end,
        "minx": pa.array(minx, pa.float64()),
        "miny": pa.array(miny, pa.float64()),
        "maxx": pa.array(maxx, pa.float64()),
        "maxy": pa.array(maxy, pa.float64()),
    }


# ---------------------------------------------------------------- assembly

def _line_metrics_tags(tagss, fis, rags) -> list:
    """lineMetrics (src/tile.js addFeature): the tags JSON of each
    LineString feature ``fi`` in ``fis`` with mapbox_clip_start/_end
    added, its ring's clipped start and end over the ring's size."""
    out = []
    for fi, r in zip(fis, np.searchsorted(rags.rfeat, fis, "left")):
        tags = _jloads(tagss[fi]) if tagss[fi] else {}
        size = float(rags.rsize[r])
        tags["mapbox_clip_start"] = float(rags.rstart[r]) / size
        tags["mapbox_clip_end"] = float(rags.rend[r]) / size
        out.append(_jdumps(tags))
    return out


def _render_batch(tbl, options: TileOptions):
    """Render one Arrow table of TILED rows (z/x/y + FEATURE columns)
    to a RecordBatch of per-feature tilefeat rows (tile assembly and
    transform, src/tile.js and src/transform.js): the kernel body of
    internal_tree_direct's in-task walk.  addFeature is per-feature and
    the tile stats are sums, so a tile's rows may be rendered in any
    number of batches and tasks; readers order them by ord_path."""
    import pyarrow as pa

    from .kernel.vec import GT_LINE, batch_assemble
    lm = options.line_metrics
    (rags, gcodes, mnx, mny, mxx, mxy,
     _f, tagss) = _arrow_state(tbl, sort=False, strings=lm)
    tbl = tbl.combine_chunks()
    col = {nm: tbl.column(nm).chunk(0) if tbl.num_rows else
           pa.array([], tbl.schema.field(nm).type)
           for nm in ("z", "x", "y", "ord_path",
                      "tags_json", "fid_json")}
    tz = col["z"].to_numpy(zero_copy_only=False).astype(np.int64)
    tx = col["x"].to_numpy(zero_copy_only=False).astype(np.int64)
    ty = col["y"].to_numpy(zero_copy_only=False).astype(np.int64)
    geom, n_pts, n_sim = batch_assemble(rags, gcodes, tz, tx, ty,
                                        options)
    fb, pb = geom.feature_offsets()
    flat = geom.pairs.reshape(-1).astype(np.int32)
    rl32 = geom.r_len.astype(np.int32)
    # rendered geometry leaves the task as flat Arrow list
    # buffers — no per-row numpy slicing, no object columns
    coords_arr = pa.ListArray.from_arrays(
        pa.array((2 * pb).astype(np.int32), pa.int32()),
        pa.array(flat, pa.int32()))
    rlens_arr = pa.ListArray.from_arrays(
        pa.array(fb.astype(np.int32), pa.int32()),
        pa.array(rl32, pa.int32()))
    tags_arr = col["tags_json"]
    hit = np.nonzero((geom.ftype > 0) & (gcodes == GT_LINE))[0] if lm else []
    if len(hit):
        tags_col = tagss.copy()
        tags_col[hit] = _line_metrics_tags(tagss, hit, rags)
        tags_arr = pa.array(tags_col, type=pa.string())
    return pa.RecordBatch.from_arrays([
        col["z"], col["x"], col["y"], col["ord_path"],
        pa.array(geom.ftype.astype(np.int32), pa.int32()),
        coords_arr, rlens_arr, tags_arr, col["fid_json"],
        pa.array(n_pts.astype(np.int64), pa.int64()),
        pa.array(n_sim.astype(np.int64), pa.int64()),
        pa.array(mnx, pa.float64()), pa.array(mny, pa.float64()),
        pa.array(mxx, pa.float64()), pa.array(mxy, pa.float64()),
    ], names=["z", "x", "y", "ord_path", "gtype", "coords",
              "rlens", "tags_json", "fid_json", "n_points",
              "n_simplified", "minx", "miny", "maxx", "maxy"])


# ---------------------------------------------------------------- subtree

SUBTREE_SCHEMA = T.StructType([
    T.StructField("z", T.IntegerType(), False),
    T.StructField("x", T.IntegerType(), False),
    T.StructField("y", T.IntegerType(), False),
    T.StructField("tile_id", T.LongType(), True),
    T.StructField("num_features", T.LongType(), True),
    T.StructField("num_points", T.LongType(), True),
    T.StructField("num_simplified", T.LongType(), True),
    # tile feature pack: per emitted feature a type code, ring count,
    # per-ring pair counts, flat int pairs, tags/fid JSON — the read
    # side materializes objects from these (no build-time JSON)
    T.StructField("ftypes", T.ArrayType(T.IntegerType()), True),
    T.StructField("fnrings", T.ArrayType(T.IntegerType()), True),
    T.StructField("frlens", T.ArrayType(T.IntegerType()), True),
    T.StructField("fcoords", T.ArrayType(T.IntegerType()), True),
    T.StructField("ftags", T.ArrayType(T.StringType(), True), True),
    T.StructField("ffids", T.ArrayType(T.StringType(), True), True),
    T.StructField("is_split", T.BooleanType(), True),
    T.StructField("has_source", T.BooleanType(), True),
    T.StructField("minx", T.DoubleType(), True),
    T.StructField("miny", T.DoubleType(), True),
    T.StructField("maxx", T.DoubleType(), True),
    T.StructField("maxy", T.DoubleType(), True),
])


def batch_split_subtree(records, z0: int, x0: int, y0: int,
                        options: TileOptions, state=None,
                        root_forced_split: bool = True, *, target=None):
    """Vectorized subtree build: one batch_clip / batch_assemble pass per
    LEVEL covering every tile at that level at once — the per-feature
    clip windows come from each feature's tile assignment, so the whole
    level's 4-way split costs six flat-numpy clips regardless of tile
    count.  Output semantics are splitTile's (src/index.js 66-156):
    its first-pass stop rules, or with ``target=(cz, cx, cy)`` its
    drill-down rules (getTile, src/index.js:158-199) — a tile splits
    iff it has features, is above max_zoom and cz, and lies on the path
    to the target; the rows then come in splitTile's creation order.

    ``root_forced_split=True``: the root is taken as already classified
    as splitting, so the root level only fans out and its own tile row
    is not emitted.  With ``False`` (the forest's leaf cells, a whole
    pyramid from z0, a drill) the root is classified by the normal rule
    and its tile row (and leaf source, when it stops) IS emitted.

    ``state`` is _arrow_state's kernel state, or None to build it from
    FEATURE ``records``.  Returns (tile_rows, sources): tile_rows are
    SUBTREE_SCHEMA dicts, and sources is one Arrow table of TILED rows,
    every retained source feature of every leaf tile (z/x/y is the
    leaf, ord_path [k] the feature's order in that source), built per
    level by take_features and the clip egress
    _clip_out_geometry_arrays; _cell_tables splits it by leaf and
    _arrow_state reads a leaf's rows back as kernel state.
    """
    import pyarrow as pa

    from .kernel.index import to_id
    from .kernel.vec import (GT_LINE, batch_assemble, batch_clip,
                             concat_rags, ragged_arange, records_to_rags,
                             take_features)

    if state is not None:
        rags, gcodes, fminx, fminy, fmaxx, fmaxy, fids, tagss = state
    else:
        rags, gcodes, fminx, fminy, fmaxx, fmaxy = records_to_rags(records)
        fids = [r["fid_json"] for r in records]
        tagss = [r["tags_json"] for r in records]
    # object arrays: the per-level fid/tag re-gathers become C-speed
    # fancy indexing instead of Python list comprehensions (measured
    # ~0.6 s of the 30k-page single-core split)
    fids = np.asarray(fids, dtype=object)
    tagss = np.asarray(tagss, dtype=object)
    n = rags.n_feats
    tilex = np.full(n, x0, dtype=np.int64)
    tiley = np.full(n, y0, dtype=np.int64)

    win = _window_consts(options)
    lm = options.line_metrics

    tile_rows = []
    sources = []
    pending = [(x0, y0)]  # tiles existing at the current level
    z = z0

    while pending:
        geom, n_pts, n_simpl = batch_assemble(
            rags, gcodes, np.full(len(gcodes), z), tilex, tiley, options)
        fb, pb = geom.feature_offsets()
        rl32 = geom.r_len.astype(np.int32)
        flat32 = geom.pairs.reshape(-1).astype(np.int32)

        # stable grouping by tile (original feature order kept within
        # each tile) — one lexsort instead of a per-feature Python loop
        nfe = len(gcodes)
        perm = np.lexsort((tiley, tilex)) if nfe else \
            np.empty(0, dtype=np.int64)
        ptx_ = tilex[perm]
        pty_ = tiley[perm]
        if nfe:
            gcut = np.nonzero((ptx_[1:] != ptx_[:-1]) |
                              (pty_[1:] != pty_[:-1]))[0] + 1
            gstart = np.concatenate(([0], gcut))
            gend = np.concatenate((gcut, [nfe]))
            span = {(int(ptx_[s]), int(pty_[s])): (int(s), int(e))
                    for s, e in zip(gstart, gend)}
        else:
            span = {}

        split_keys = []
        if z == z0 and root_forced_split:
            # root level: exactly one pending tile, classified upstream,
            # never re-emitted (index.js skips the root in splitTile)
            split_keys = [(x0, y0)]
        else:
            # ---- per-GROUP aggregates + ONE global emitted-feature
            # table for the whole level: a deep build emits 4^z tiles,
            # so per-tile numpy calls (the previous shape) became the
            # measured straggler term — here every array op runs once
            # per level and tiles take slices of the shared tables
            if nfe:
                g_npts = np.add.reduceat(n_pts[perm], gstart).astype(np.int64)
                g_nsim = np.add.reduceat(n_simpl[perm], gstart).astype(np.int64)
                g_minx = np.minimum.reduceat(fminx[perm], gstart)
                g_miny = np.minimum.reduceat(fminy[perm], gstart)
                g_maxx = np.maximum.reduceat(fmaxx[perm], gstart)
                g_maxy = np.maximum.reduceat(fmaxy[perm], gstart)
                g_cnt = gend - gstart
                g_index = {(int(ptx_[s]), int(pty_[s])): gi
                           for gi, s in enumerate(gstart)}
                em_mask = geom.ftype[perm] > 0
                em = perm[em_mask]
                ecnt = np.add.reduceat(em_mask.astype(np.int64), gstart)
                e_off = np.concatenate(([0], np.cumsum(ecnt)))
                fnr_all = (fb[em + 1] - fb[em]).astype(np.int64)
                rsrc_all = np.repeat(fb[em], fnr_all) + ragged_arange(fnr_all)
                plen2_all = 2 * (pb[em + 1] - pb[em]).astype(np.int64)
                csrc_all = np.repeat(2 * pb[em], plen2_all) \
                    + ragged_arange(plen2_all)
                ftypes_all = geom.ftype[em].astype(np.int32)
                fnr32_all = fnr_all.astype(np.int32)
                frlens_all = rl32[rsrc_all]
                fcoords_all = flat32[csrc_all]
                ftags_all = tagss[em]  # fancy index copies — safe to edit
                ffids_all = fids[em]
                roff_em = np.concatenate(([0], np.cumsum(fnr_all)))
                coff_em = np.concatenate(([0], np.cumsum(plen2_all)))
                hit = (np.nonzero((ftypes_all == 2)
                                  & (gcodes[em] == GT_LINE))[0]
                       if lm else [])
                if len(hit):
                    ftags_all[hit] = _line_metrics_tags(tagss, em[hit],
                                                        rags)
            else:
                g_index = {}
            _empty32 = np.empty(0, dtype=np.int32)
            leaf_gis = []
            for (gx, gy) in pending:
                gi = g_index.get((gx, gy))
                if gi is None:
                    npts = nsim = cnt = 0
                    bb = (2.0, 1.0, -1.0, 0.0)
                else:
                    npts = int(g_npts[gi])
                    nsim = int(g_nsim[gi])
                    cnt = int(g_cnt[gi])
                    bb = (float(g_minx[gi]), float(g_miny[gi]),
                          float(g_maxx[gi]), float(g_maxy[gi]))
                if target is None:
                    splits = not (z == options.index_max_zoom or
                                  npts <= options.index_max_points)
                else:
                    cz, cx, cy = target
                    splits = (gi is not None and z != options.max_zoom
                              and z != cz and gx == cx >> (cz - z)
                              and gy == cy >> (cz - z))
                if gi is None:
                    ftypes = fnr32 = frlens = fcoords = _empty32
                    ftags = ffids = []
                else:
                    e0, e1 = int(e_off[gi]), int(e_off[gi + 1])
                    r0_, r1_ = int(roff_em[e0]), int(roff_em[e1])
                    c0_, c1_ = int(coff_em[e0]), int(coff_em[e1])
                    ftypes = ftypes_all[e0:e1]
                    fnr32 = fnr32_all[e0:e1]
                    frlens = frlens_all[r0_:r1_]
                    fcoords = fcoords_all[c0_:c1_]
                    ftags = ftags_all[e0:e1].tolist()
                    ffids = ffids_all[e0:e1].tolist()
                tile_rows.append({
                    "z": z, "x": gx, "y": gy,
                    "tile_id": to_id(z, gx, gy),
                    "num_features": cnt,
                    "num_points": npts, "num_simplified": nsim,
                    "ftypes": ftypes, "fnrings": fnr32,
                    "frlens": frlens, "fcoords": fcoords,
                    "ftags": ftags, "ffids": ffids,
                    "is_split": splits, "has_source": not splits,
                    "minx": bb[0], "miny": bb[1],
                    "maxx": bb[2], "maxy": bb[3],
                })
                if splits:
                    split_keys.append((gx, gy))
                elif gi is not None:
                    leaf_gis.append(gi)
            if leaf_gis:
                # every feature of the level's leaf tiles, k its place
                # in its tile (perm keeps the tile's feature order)
                is_leaf = np.zeros(len(gstart), dtype=bool)
                is_leaf[leaf_gis] = True
                at = np.repeat(is_leaf, g_cnt)
                sel, k = perm[at], ragged_arange(g_cnt)[at]
                order = np.argsort(sel)
                sources.append(_source_table(
                    (rags, gcodes, fminx, fminy, fmaxx, fmaxy, fids, tagss),
                    z, tilex, tiley, sel[order], k[order]))

        if not split_keys:
            break

        skeys = np.sort(np.asarray([(gx << 32) | gy
                                    for gx, gy in split_keys],
                                   dtype=np.int64))
        fkeys = (tilex << 32) | tiley
        pos = np.searchsorted(skeys, fkeys)
        pos[pos == len(skeys)] = 0
        sel = np.nonzero(skeys[pos] == fkeys)[0].astype(np.int64)
        next_pending = [(2 * gx + dx, 2 * gy + dy)
                        for gx, gy in split_keys
                        for dx, dy in ((0, 0), (0, 1), (1, 0), (1, 1))]

        out_states = []
        if len(sel):
            s_rags = take_features(rags, sel)
            s_g = gcodes[sel]
            s_mnx, s_mny = fminx[sel], fminy[sel]
            s_mxx, s_mxy = fmaxx[sel], fmaxy[sel]
            s_fids = fids[sel]
            s_tags = tagss[sel]
            s_tx = tilex[sel]
            s_ty = tiley[sel]

            for dx in (0, 1):
                xk1, xk2 = _cell_window(z + 1, 2 * s_tx + dx, *win)
                side = batch_clip(s_rags, s_g, s_mnx, s_mny, s_mxx, s_mxy,
                                  xk1, xk2, 0, lm)
                if side.n_feats == 0:
                    continue
                side_tx = s_tx[side.src]
                side_ty = s_ty[side.src]
                side_fids = s_fids[side.src]
                side_tags = s_tags[side.src]
                for dy in (0, 1):
                    yk1, yk2 = _cell_window(z + 1, 2 * side_ty + dy, *win)
                    q = batch_clip(side.rags, side.gcodes, side.minx,
                                   side.miny, side.maxx, side.maxy,
                                   yk1, yk2, 1, lm)
                    if q.n_feats == 0:
                        continue
                    out_states.append((
                        q,
                        side_fids[q.src],
                        side_tags[q.src],
                        side_tx[q.src] * 2 + dx,
                        side_ty[q.src] * 2 + dy,
                    ))

        pending = next_pending
        z += 1
        if not out_states:
            rags, gcodes = records_to_rags([])[:2]
            fids = tagss = np.empty(0, dtype=object)
            fminx = fminy = fmaxx = fmaxy = np.empty(0)
            tilex = tiley = np.empty(0, dtype=np.int64)
            continue
        rags = concat_rags([q.rags for q, *_ in out_states])
        gcodes = np.concatenate([q.gcodes for q, *_ in out_states])
        fminx = np.concatenate([q.minx for q, *_ in out_states])
        fminy = np.concatenate([q.miny for q, *_ in out_states])
        fmaxx = np.concatenate([q.maxx for q, *_ in out_states])
        fmaxy = np.concatenate([q.maxy for q, *_ in out_states])
        fids = np.concatenate([fd for _, fd, _, _, _ in out_states])
        tagss = np.concatenate([tg for _, _, tg, _, _ in out_states])
        tilex = np.concatenate([tx for *_, tx, _ in out_states])
        tiley = np.concatenate([ty for *_, ty in out_states])

    if target is not None:
        # splitTile's stack pops children br, tr, bl, tl (ranks 0-3), so
        # it creates tiles in pre-order over those ranks
        tile_rows.sort(key=lambda r: [
            3 - 2 * ((r["x"] >> (r["z"] - lvl)) & 1)
            - ((r["y"] >> (r["z"] - lvl)) & 1)
            for lvl in range(z0 + 1, r["z"] + 1)])
    if not sources:
        none = np.empty(0, dtype=np.int64)
        sources.append(_source_table(
            (rags, gcodes, fminx, fminy, fmaxx, fmaxy, fids, tagss),
            z, tilex, tiley, none, none))
    return tile_rows, pa.concat_tables(sources)


def _source_table(state, z: int, tilex, tiley, sel, k):
    """TILED rows of the features ``sel`` (sorted) of kernel ``state``
    in tiles (z, tilex, tiley), ord_path [k]: the retained-source
    egress of batch_split_subtree, through take_features and
    _clip_out_geometry_arrays like every clip's output."""
    import pyarrow as pa

    from .kernel.vec import take_features
    rags, gcodes, mnx, mny, mxx, mxy, fids, tagss = state
    geo = _clip_out_geometry_arrays(
        take_features(rags, sel), gcodes[sel],
        (mnx[sel], mny[sel], mxx[sel], mxy[sel]))
    return pa.Table.from_arrays(
        [pa.array(np.full(len(sel), z, dtype=np.int32)),
         pa.array(tilex[sel].astype(np.int32)),
         pa.array(tiley[sel].astype(np.int32)), _ord_list(k[:, None]),
         pa.array(fids[sel], pa.string()), pa.array(tagss[sel], pa.string())]
        + [geo[c] for c in FEATURE_COLUMNS[3:]], names=TILED_COLUMNS)


def _subtree_table(tile_rows):
    """batch_split_subtree's tile rows → one SUBTREE_SCHEMA Arrow
    table."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.Table.from_pylist(tile_rows,
                                schema=to_arrow_schema(SUBTREE_SCHEMA))


SUBTREE_ACK_SCHEMA = ("z int, x int, y int, n long, "
                      "n_cand long, secs double")


def _write_part(tbl, out_dir: str, name: str) -> None:
    """Write one Arrow table as the parquet part ``out_dir/name``
    straight from the task, atomically (tmp + rename; a task retry
    overwrites the same deterministic name, so duplicate attempts
    cannot double rows).  Every task-side store write goes through
    here: the leaf wave's subtree and sources parts and the render
    walk's tilefeat parts.

    Rationale (measured, 30k-page wave): returning the rows through
    the Arrow pipe and letting Spark's writer persist them costs ~1 s
    of boxing tax per wave, vs ~0.2 s writing the same bytes
    task-side — the stores are engine-private, their _SUCCESS markers
    are written by the driver after the job, and the lineage row
    remains the real commit point.  On object storage the per-file
    rename becomes a single PUT, the same direct-write pattern cloud
    committers use."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, name)
    pq.write_table(tbl, path + ".inprogress", compression=_CODEC)
    os.replace(path + ".inprogress", path)


# --------------------------------------------------------------- wave

def _arrow_state(tbl, sort=True, strings=True):
    """One Arrow table → kernel state (ord-sorted when ``sort``), zero
    pandas boxing: list columns flatten to their backing buffers
    (pyarrow list_flatten / list_value_length are C++), the ord sort is
    one np.lexsort over the reshaped fixed-width ord_path matrix, and
    the rags build goes through the shared flats_to_rags constructor.
    With ``strings=False`` the fid/tags object arrays are skipped (the
    caller passes the Arrow columns through unchanged).  The pandas
    map paths paid ~60 µs/feature in Arrow→object-column conversion +
    tuple sorts — ~70% of a dense handoff task's wall at 2M pages
    (measured round 4; the kernel itself was the other 30%)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from .kernel.vec import GT_CODE, flats_to_rags
    tbl = tbl.combine_chunks()
    n = tbl.num_rows

    def _flat(name, dtype):
        return pc.list_flatten(tbl.column(name)).to_numpy(
            zero_copy_only=False).astype(dtype, copy=False)

    def _lens(name):
        # null lists (e.g. poly_lens on non-MultiPolygon rows) count 0,
        # matching the pandas path where they are simply never touched
        return pc.fill_null(
            pc.list_value_length(tbl.column(name)), 0).to_numpy(
            zero_copy_only=False).astype(np.int64, copy=False)

    if sort and n:
        ord_lens = _lens("ord_path")
        ord_vals = _flat("ord_path", np.int64)
        if ord_lens.min() == ord_lens.max():
            mat = ord_vals.reshape(n, int(ord_lens[0]))
            order = np.lexsort(mat.T[::-1])
        else:  # mixed-depth groups (never produced by one build)
            offs = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(ord_lens, out=offs[1:])
            ords = [tuple(ord_vals[offs[i]:offs[i + 1]])
                    for i in range(n)]
            order = np.asarray(
                sorted(range(n), key=ords.__getitem__), dtype=np.int64)
        if not np.array_equal(order, np.arange(n)):
            tbl = tbl.take(pa.array(order)).combine_chunks()

    gt = tbl.column("gtype")
    if isinstance(gt, pa.ChunkedArray):
        gt = (gt.chunk(0) if gt.num_chunks == 1
              else pa.concat_arrays(
                  [c.cast(gt.type) for c in gt.chunks])
              if gt.num_chunks else pa.array([], gt.type))
    enc = gt.dictionary_encode()
    code_map = np.asarray([GT_CODE[s] for s in enc.dictionary.to_pylist()],
                          dtype=np.int64)
    gcodes = (code_map[enc.indices.to_numpy(zero_copy_only=False)]
              if n else np.empty(0, dtype=np.int64))

    nr = _lens("ring_lens")
    pl_lens = _lens("poly_lens")
    pl_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(pl_lens, out=pl_off[1:])
    pl_flat = _flat("poly_lens", np.int64)

    rags = flats_to_rags(
        _flat("coords", np.float64), nr, _flat("ring_lens", np.int64),
        _flat("ring_size", np.float64), _flat("ring_start", np.float64),
        _flat("ring_end", np.float64), gcodes,
        lambda fi: pl_flat[pl_off[fi]:pl_off[fi + 1]])

    def _np(name):
        return tbl.column(name).to_numpy(zero_copy_only=False)

    return (rags, gcodes,
            _np("minx").astype(np.float64, copy=False),
            _np("miny").astype(np.float64, copy=False),
            _np("maxx").astype(np.float64, copy=False),
            _np("maxy").astype(np.float64, copy=False),
            _np("fid_json") if strings else None,
            _np("tags_json") if strings else None)


def _window_consts(options: TileOptions) -> tuple:
    """(k1, k2, k3, k4) of splitTile (src/index.js) in tile units: the buffered child windows are [x - k1, x + k3] (left) and
    [x + k2, x + k4] (right) around parent coordinate x."""
    k1c = 0.5 * options.buffer / options.extent
    return k1c, 0.5 - k1c, 0.5 + k1c, 1 + k1c


def _cell_window(lvl: int, c, k1c: float, k2c: float,
                 k3c: float, k4c: float) -> tuple:
    """Python/numpy twin of _cell_window_sql: the exact (parent +
    const) / 2^(lvl-1) float pair the kernel clips cell ``c`` at zoom
    ``lvl`` against.  ``c`` is one cell (the bounds are floats) or an
    int64 array of cells (the bounds are arrays)."""
    z2l = float(1 << (lvl - 1))
    par, odd = np.right_shift(c, 1), np.bitwise_and(c, 1) == 1
    lo = (par + np.where(odd, k2c, -k1c)) / z2l
    hi = (par + np.where(odd, k4c, k3c)) / z2l
    return (lo, hi) if np.ndim(c) else (float(lo), float(hi))


def _clip_chain(state, cz: int, cx: int, cy: int, options: TileOptions,
                from_zoom: int = 0):
    """Clip kernel state (rags, gcodes, minx, miny, maxx, maxy) whose
    features sit in the ``from_zoom`` ancestor of cell (cz, cx, cy)
    down to that cell: per level, batch_clip on x and then on y against
    the ancestor's window (_cell_window) — the x-then-y clip sequence
    of splitTile (src/index.js:134-147), so the result is bit-identical
    to the recursion's clip-of-clip.  Returns (res, src, subs): the
    last ClipResult (its rags, gcodes and bboxes are the cell's
    features), each output feature's input index, and the (n, 2·levels)
    matrix of its x and y clip sub-ordinals per level."""
    from .kernel.vec import ClipResult, batch_clip

    k = _window_consts(options)
    lm = options.line_metrics
    rags, gcodes, mnx, mny, mxx, mxy = state
    n = len(gcodes)
    res = ClipResult(rags, gcodes, np.arange(n), np.zeros(n, np.int64),
                     mnx, mny, mxx, mxy)
    src = np.arange(n)
    subs = np.zeros((n, 0), dtype=np.int64)
    for lvl in range(from_zoom + 1, cz + 1):
        lo, hi = _cell_window(lvl, cx >> (cz - lvl), *k)
        n = res.n_feats
        side = batch_clip(res.rags, res.gcodes, res.minx, res.miny,
                          res.maxx, res.maxy, np.full(n, lo),
                          np.full(n, hi), 0, lm)
        lo, hi = _cell_window(lvl, cy >> (cz - lvl), *k)
        m = side.n_feats
        res = batch_clip(side.rags, side.gcodes, side.minx, side.miny,
                         side.maxx, side.maxy, np.full(m, lo),
                         np.full(m, hi), 1, lm)
        sel = side.src[res.src]
        src = src[sel]
        subs = np.column_stack(
            [subs[sel], side.sub_ord[res.src], res.sub_ord]).astype(
            np.int64, copy=False)
    return res, src, subs


def _cell_tables(tbl) -> dict:
    """(z, x, y) → that cell's rows of an Arrow table with z/x/y
    columns (zero-copy slices of the table sorted by cell)."""
    import pyarrow.compute as pc

    if not tbl.num_rows:
        return {}
    tbl = tbl.take(pc.sort_indices(
        tbl, sort_keys=[("z", "ascending"), ("x", "ascending"),
                        ("y", "ascending")])).combine_chunks()
    zs, xs, ys = (tbl.column(c).to_numpy(zero_copy_only=False).astype(
        np.int64) for c in ("z", "x", "y"))
    starts = np.concatenate(([0], np.flatnonzero(
        np.diff((zs << 50) | (xs << 25) | ys)) + 1, [len(zs)]))
    return {(int(zs[s]), int(xs[s]), int(ys[s])): tbl.slice(s, e - s)
            for s, e in zip(starts[:-1], starts[1:])}


def _wave_cell_kernel(tbl, cz: int, cx: int, cy: int,
                      options: TileOptions, tile_dir: str,
                      source_dir: str) -> int:
    """The per-CELL body of the forest's slot wave
    (forest_slot_wave_df): clip the z0 candidate rows down to the cell
    through _clip_chain (routing is a superset by original bbox;
    trivially-rejected features emit nothing), then build the whole
    descendant pyramid in-task and write the cell's part of the subtree
    store (tile rows) and, when a leaf keeps features, of the sources
    store (TILED rows).  Returns the rows written."""
    (rags, gcodes, mnx, mny, mxx, mxy,
     fids, tagss) = _arrow_state(tbl)
    res, src, _ = _clip_chain((rags, gcodes, mnx, mny, mxx, mxy),
                              cz, cx, cy, options)
    state = (res.rags, res.gcodes, res.minx, res.miny, res.maxx, res.maxy,
             fids[src], tagss[src])
    tile_rows, sources = batch_split_subtree(
        None, cz, cx, cy, options, state=state, root_forced_split=False)
    name = f"part-z{cz}-x{cx}-y{cy}.parquet"
    _write_part(_subtree_table(tile_rows), tile_dir, name)
    if sources.num_rows:
        _write_part(sources, source_dir, name)
    return len(tile_rows) + sources.num_rows


def forest_slot_wave_df(candidates: DataFrame, options: TileOptions,
                        tile_dir: str, source_dir: str,
                        n_bins: int) -> DataFrame:
    """Driver-packed leaf wave: candidates carry a ``bin`` column
    (forest_route_df), the LPT bin 0..n_bins-1 the DRIVER packed their
    cell into.  One task = one bin of cut cells; inside the task the
    rows are sliced per cell (_cell_tables) and each cell runs the
    per-cell kernel (_wave_cell_kernel: clip-from-z0 chain, descendant
    pyramid, per-cell part writes into ``tile_dir`` and
    ``source_dir``), emitting one ack row per cell.  Why bins and not
    groupBy(z,x,y): see SparkTileEngine._forest_leaf_wave.  Part names
    are per CELL and deterministic, so a task retry overwrites rather
    than duplicates.

    ``repartitionById(n_bins, "bin")`` makes the bin the partition id,
    so bin b is task b: the partition count is part of the plan, so
    the session's shuffle-partition setting and AQE coalescing leave
    it alone, and no session conf is touched.  A plain mapInArrow runs
    the bins; the grouped applyInArrow runner adds a per-partition sort
    and leaked ~0.6 MB of JVM Arrow memory per task (Spark 4.1, measured
    on a 337-task wave), enough to exhaust a long-lived session's direct
    memory."""
    def run(batches):
        _worker_prep()
        import pyarrow as pa

        acks = {"z": [], "x": [], "y": [], "n": [], "n_cand": [],
                "secs": []}
        parts = list(batches)
        cells = _cell_tables(pa.Table.from_batches(parts)) if parts else {}
        for (cz, cx, cy), sub in cells.items():
            t0 = time.monotonic()
            n_out = _wave_cell_kernel(sub, cz, cx, cy, options, tile_dir,
                                      source_dir)
            for k, v in zip(acks, (cz, cx, cy, n_out, sub.num_rows,
                                   time.monotonic() - t0)):
                acks[k].append(v)
        yield from pa.table(
            acks,
            schema=pa.schema([("z", pa.int32()), ("x", pa.int32()),
                              ("y", pa.int32()), ("n", pa.int64()),
                              ("n_cand", pa.int64()),
                              ("secs", pa.float64())])).to_batches()

    return candidates.repartitionById(n_bins, "bin").mapInArrow(
        run, SUBTREE_ACK_SCHEMA)


# ---------------------------------------------------------------- forest wave

def _dbl(v: float) -> str:
    """SQL text of a DOUBLE literal.  A bare ``0.5`` parses as DECIMAL;
    the ``D`` suffix keeps every window bound on the same IEEE double
    sequence the kernel computes, and ``repr`` round-trips the exact
    value."""
    return f"({float(v)!r}D)"


def _cell_window_sql(lvl: str, c: str, k1c: float, k2c: float,
                     k3c: float, k4c: float) -> tuple[str, str]:
    """Exact buffered-window bounds for cell coordinate ``c`` at zoom
    ``lvl`` (SQL expressions over those columns) — the SAME float
    sequence the kernel clips against: (parent + const) / z2l with
    z2l = 2^(lvl-1) (an exact power of two, so the division is exact in
    IEEE double and the add is the only rounding step, identical to the
    scalar Python/numpy computation, _cell_window).  Built as SQL text
    so a plan costs one parse, not one JVM call per expression node."""
    z2l = f"POWER(2.0D, CAST({lvl} - 1 AS DOUBLE))"
    par = f"CAST(FLOOR({c} / 2) AS DOUBLE)"
    odd = f"{c} % 2 = 1"
    lo = (f"(({par} + CASE WHEN {odd} THEN {_dbl(k2c)} "
          f"ELSE {_dbl(-k1c)} END) / {z2l})")
    hi = (f"(({par} + CASE WHEN {odd} THEN {_dbl(k4c)} "
          f"ELSE {_dbl(k3c)} END) / {z2l})")
    return lo, hi


def _cand_range_sql(lo: str, hi: str, lvl: str, b: float) -> str:
    """Tight arithmetic candidate-cell range for the buffered windows
    (SQL expression): cell c's exact window is [(c-b)/2^l, (c+1+b)/2^l]
    up to the ≤2-ulp rounding of the (parent + const)/z2l float
    sequence, so the cells a bbox [lo,hi] is not trivially rejected
    from lie in floor(lo·u - b - eps) .. floor(hi·u + b + eps) — eps
    absorbs the window rounding (|err| ≤ ulp((c+1+b))·u ≈ 1e-14 for
    l ≤ 7).  The former whole-cell slack (±(1+b)·cell per side)
    tripled the explode volume per axis for point-sized inputs;
    downstream the exact float window filter keeps the emitted row set
    identical.  Degenerate clamped ranges (multi-world copies far
    outside [0,1]) collapse to ONE bogus candidate via greatest() —
    branch-free, and the exact filter drops it — instead of a
    descending sequence() blow-up."""
    eps = 1e-9
    u = f"POWER(2.0D, CAST({lvl} AS DOUBLE))"
    first = (f"GREATEST(CAST(0 AS BIGINT), "
             f"CAST(FLOOR({lo} * {u} - {_dbl(b + eps)}) AS BIGINT))")
    last = (f"LEAST(CAST({u} AS BIGINT) - 1, "
            f"CAST(FLOOR({hi} * {u} + {_dbl(b + eps)}) AS BIGINT))")
    return f"sequence({first}, GREATEST({first}, {last}))"


def _window_preds(options: TileOptions, x: str, y: str, lvl: str):
    """(reject, inside) SQL predicates of the bbox columns against the
    buffered window of cell (``x``, ``y``) at zoom ``lvl`` — the
    trivial-reject test of clip.js:18-19 and its fully-inside twin."""
    k = _window_consts(options)
    xlo, xhi = _cell_window_sql(lvl, x, *k)
    ylo, yhi = _cell_window_sql(lvl, y, *k)
    rej = (f"(maxx < {xlo} OR minx >= {xhi} "
           f"OR maxy < {ylo} OR miny >= {yhi})")
    inside = (f"(minx >= {xlo} AND maxx <= {xhi} "
              f"AND miny >= {ylo} AND maxy <= {yhi})")
    return rej, inside


_NV_SQL = "CAST(size(coords) / 3 AS BIGINT)"


def forest_gate_df(frontier0: DataFrame, options: TileOptions,
                   max_level: int) -> DataFrame:
    """Per-cell candidate + guaranteed-inside vertex masses for EVERY
    quadtree cell at zooms 1..max_level, in one slim job: arithmetic
    candidate rectangles (tight bbox × 2^lvl ranges, _cand_range_sql)
    are explode()d, then filtered with the cell's EXACT window floats,
    and a partial-agg groupBy collapses to ≤4^lvl rows per level before
    the exchange.  Output: (lvl, x, y, m, i) — m is the mass the cell's
    wave task would receive (bbox-overlap superset, the same row set
    forest_route_df emits), i is the mass of features whose bbox lies
    FULLY INSIDE the window (an exact lower bound on post-clip
    num_points: such features survive the clip intact, so
    i > index_max_points proves the stop rule splits the cell)."""
    b = options.buffer / options.extent
    levels = ", ".join(str(z) for z in range(1, max_level + 1))
    rej, inside = _window_preds(options, "_cx", "_cy", "_lvl")
    return (frontier0
            .selectExpr("minx", "miny", "maxx", "maxy", f"{_NV_SQL} AS _nv",
                        f"explode(array({levels})) AS _lvl")
            .selectExpr("*", "explode("
                        f"{_cand_range_sql('minx', 'maxx', '_lvl', b)}) AS _cx")
            .selectExpr("*", "explode("
                        f"{_cand_range_sql('miny', 'maxy', '_lvl', b)}) AS _cy")
            .where(f"NOT {rej}")
            .selectExpr("_lvl AS lvl", "_cx AS x", "_cy AS y", "_nv",
                        f"CASE WHEN {inside} THEN _nv "
                        "ELSE CAST(0 AS BIGINT) END AS _in")
            .groupBy("lvl", "x", "y")
            .agg(F.expr("sum(_nv) AS m"), F.expr("sum(_in) AS i")))


def forest_vertex_probe_df(frontier0: DataFrame, options: TileOptions,
                           roots: list, levels: list) -> DataFrame:
    """Vertex-survival masses for the forest cut where the bbox
    gate's fully-inside proof goes blind: for every quadtree cell at
    the given ``levels``, count the frontier VERTICES strictly inside
    the cell's buffered clip window, over only the features whose
    bbox overlaps one of the ``roots``' windows.

    A vertex strictly inside the window survives the axis-aligned
    clip for every geometry type (points are kept inclusively,
    /root/reference/src/clip.js:88-96; line/ring slicing keeps
    interior vertices and only replaces boundary crossings with
    intersection points, clip.js:110-164), and the reference's stop
    rule counts every stored vertex of the clipped tile
    (src/tile.js numPoints, including rings later dropped by the
    tolerance filter) — so the strict-inside count is an exact lower
    bound on the cell tile's post-clip num_points, and
    count > index_max_points PROVES the stop rule splits the cell
    (src/index.js:105-107).  The bbox gate's ``i`` (fully-inside
    bboxes, forest_gate_df) proves nothing for a dense cluster
    STRADDLING a cell edge — every bbox crosses the boundary, i == 0,
    yet millions of vertices sit inside; this probe closes exactly
    that gap (the measured round-4/5 forest skew: twin over-budget
    boundary cells with identical duplicated candidate mass).

    Child windows are contained in their parents' (the forest-wave
    routing invariant), so restricting to bbox-overlap of the ROOT
    windows loses no vertex of any descendant cell: the returned
    (lvl, x, y, v) counts are exact for every cell under a root.
    Rows without a vertex are dropped before the vertex explode: an
    empty ``coords`` has no vertex to count, and sequence(0, -1) would
    index it out of bounds (an error under ANSI mode).

    100-TB posture: one narrow job — SQL bbox prefilter at the scan,
    JVM-side vertex explode (no Python), arithmetic candidate cells
    per vertex, exact strict window filter, partial-agg groupBy
    collapsing to ≤4^lvl rows per level before the only exchange."""
    k = _window_consts(options)
    b = 2 * k[0]

    overlap = [f"NOT {_window_preds(options, str(rx), str(ry), str(rl))[0]}"
               for rl, rx, ry in roots]
    xlo, xhi = _cell_window_sql("_lvl", "_cx", *k)
    ylo, yhi = _cell_window_sql("_lvl", "_cy", *k)
    lvls = ", ".join(str(int(z)) for z in sorted(levels))
    return (frontier0
            .where(f"size(coords) >= 3 AND "
                   f"({' OR '.join(overlap) or 'false'})")
            .selectExpr(
                "explode(transform(sequence(0, "
                "CAST(size(coords) / 3 AS INT) - 1), "
                "k -> struct(coords[3 * k] AS vx, coords[3 * k + 1] AS vy)"
                ")) AS _v")
            .selectExpr("_v.vx AS vx", "_v.vy AS vy",
                        f"explode(array({lvls})) AS _lvl")
            .selectExpr("*", "explode("
                        f"{_cand_range_sql('vx', 'vx', '_lvl', b)}) AS _cx")
            .selectExpr("*", "explode("
                        f"{_cand_range_sql('vy', 'vy', '_lvl', b)}) AS _cy")
            .where(f"vx > {xlo} AND vx < {xhi} AND vy > {ylo} AND vy < {yhi}")
            .groupBy(F.col("_lvl").alias("lvl"),
                     F.col("_cx").alias("x"), F.col("_cy").alias("y"))
            .agg(F.expr("count(1) AS v")))


def forest_route_df(frontier0: DataFrame, options: TileOptions,
                    bins: dict) -> DataFrame:
    """Route z0 frontier rows to every cut cell they overlap, in one
    pass: explode the levels present in the cut, explode the
    arithmetic candidate rectangle per level, filter with the exact
    window floats, keep only cells in the cut, then look the (z, x, y)
    cell's wave bin up in ONE map literal ``bins`` over packed int keys
    (a per-cell struct router would blow up codegen).  The cut test is
    an IN list (a hash set to Catalyst) because a map lookup scans its
    entries: looking up every candidate row made the route of a
    1,360-leaf cut 1.5x slower.  Emits z, x, y, ``bin`` and the feature
    columns; the row sets match the level-by-level reroute exactly
    (child windows are contained in their parents')."""
    b = options.buffer / options.extent
    levels = ", ".join(str(z) for z in sorted({z for z, _, _ in bins}))
    packed = {(int(z) << 50) | (int(x) << 25) | int(y): int(v)
              for (z, x, y), v in bins.items()}
    pairs = ", ".join(f"{k}L, {v}" for k, v in packed.items())
    key = ("(CAST(_lvl AS BIGINT) * 1125899906842624L "
           "+ _cx * 33554432L + _cy)")
    rej, _ = _window_preds(options, "_cx", "_cy", "_lvl")
    return (frontier0
            .selectExpr("*", f"explode(array({levels})) AS _lvl")
            .selectExpr("*", "explode("
                        f"{_cand_range_sql('minx', 'maxx', '_lvl', b)}) AS _cx")
            .selectExpr("*", "explode("
                        f"{_cand_range_sql('miny', 'maxy', '_lvl', b)}) AS _cy")
            .where(f"NOT {rej} AND {key} IN "
                   f"({', '.join(f'{k}L' for k in packed)})")
            .selectExpr("_lvl AS z", "CAST(_cx AS INT) AS x",
                        "CAST(_cy AS INT) AS y", f"map({pairs})[{key}] AS bin",
                        *FEATURE_COLUMNS))


def clip_table_to_cell(tbl, cz: int, cx: int, cy: int,
                       options: TileOptions, from_zoom: int = 0):
    """Clip TILED rows (z/x/y = the from_zoom ancestor of the target
    cell) down to (cz, cx, cy): the cell tile's features after
    cz - from_zoom splitTile levels, as TILED rows of that cell (row
    order unspecified; readers order by ord_path).

    One bbox test against the target window first.  Child windows lie
    inside their parents', so a row the target window trivially accepts
    was accepted at every level: it passes through untouched and its
    ord_path gains [0, 0] per level.  A row the target window rejects
    is dropped.  The rest go _arrow_state → _clip_chain →
    _clip_out_geometry_arrays, and their ord_path gains the chain's
    sub-ordinals."""
    import pyarrow as pa

    tbl = tbl.select(TILED_COLUMNS).combine_chunks()
    k = _window_consts(options)
    xlo, xhi = _cell_window(cz, cx, *k)
    ylo, yhi = _cell_window(cz, cy, *k)
    mnx, mny, mxx, mxy = (tbl.column(c).to_numpy(zero_copy_only=False)
                          for c in ("minx", "miny", "maxx", "maxy"))
    inside = (mnx >= xlo) & (mxx < xhi) & (mny >= ylo) & (mxy < yhi)
    outside = (mxx < xlo) | (mnx >= xhi) | (mxy < ylo) | (mny >= yhi)
    keep = np.nonzero(inside)[0]
    cross = np.nonzero(~inside & ~outside)[0]
    parts = []
    if len(keep):
        parts.append(_feature_table(
            tbl, keep, np.zeros((len(keep), 2 * (cz - from_zoom)),
                                dtype=np.int64)))
    if len(cross):
        state = _arrow_state(tbl.take(pa.array(cross)), sort=False,
                             strings=False)[:6]
        res, src, subs = _clip_chain(state, cz, cx, cy, options, from_zoom)
        if res.n_feats:
            parts.append(_feature_table(tbl, cross[src], subs,
                                        _clip_out_geometry_arrays(
                                            res.rags, res.gcodes, res.bbox)))
    if not parts:
        return tbl.slice(0, 0)
    feats = pa.concat_tables(parts)
    n = feats.num_rows
    return pa.Table.from_arrays(
        [pa.array(np.full(n, v, dtype=np.int32), pa.int32())
         for v in (cz, cx, cy)] + feats.columns, names=TILED_COLUMNS)


FOREST_ACK_SCHEMA = ("z int, x int, y int, n_feats long, n_points long, "
                     "n_sim long, minx double, miny double, "
                     "maxx double, maxy double")

def internal_tree_direct(fr0: DataFrame, internals: list,
                         options: TileOptions, tilefeat_root: str) -> list:
    """Single-job render of every tilefeat tile: the z0 tile and the
    forest cut's INTERNAL cells.  Each mapInArrow task renders its
    partition of the z0 frontier as the root node (0, 0, 0), batch by
    batch, and walks it down the internal-cell tree IN-TASK — clip ONE
    level from the parent state per node (clip_table_to_cell: trivial
    accept passes through, crossing rows run the clip chain), render the
    node through the shared kernel, recurse into its internal children
    on the shrinking clipped state.  With no internal cells the task
    renders z0 alone and keeps no batch after rendering it.  No shuffle,
    no inter-level job barrier: the level-chained form re-introduced a
    5-round spine (~8-10 s of fixed job latency per level on the 4x8
    grid, 53 s of a 67 s wall at 2M pages), and the clip-from-z0 form
    before it re-clipped every cell from the root (68 s).  A tile's
    features stay spread across scan partitions (no per-tile funnel,
    not even for the z0 tile that holds the whole corpus); tilefeat
    parts are written task-side (_write_part, deterministic per-task
    names) and per-(task, tile) stat partials come back as the job's
    only output."""
    kids: dict = {}
    for z, x, y in internals:
        kids.setdefault((z - 1, x >> 1, y >> 1), []).append((z, x, y))
    opts = options

    def run(batches):
        _worker_prep()
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        rendered: dict = {}
        acks: list = []

        def render(z, x, y, tbl):
            rend = _render_batch(tbl, opts)
            nvs = pc.divide(pc.list_value_length(tbl.column("coords")), 3)
            # a non-empty batch's real bbox, NOT the empty-tile sentinel
            # [2,1,-1,0]: the driver merges partials by min/max, and the
            # sentinel would clamp bboxes that legitimately leave [0,1]
            # (multi-world x shifts project past the unit square)
            acks.append((z, x, y, tbl.num_rows,
                         int(pc.sum(nvs).as_py() or 0),
                         int(pc.sum(rend.column("n_simplified")).as_py()
                             or 0),
                         *(agg(tbl.column(c)).as_py() for agg, c in (
                             (pc.min, "minx"), (pc.min, "miny"),
                             (pc.max, "maxx"), (pc.max, "maxy")))))
            rendered.setdefault(z, []).append(
                pa.Table.from_batches([rend]).drop_columns(["z"]))

        roots = []
        for rb in batches:
            if rb.num_rows:
                tbl = pa.Table.from_batches([rb])
                render(0, 0, 0, tbl)
                if (0, 0, 0) in kids:
                    roots.append(tbl)
        stack = ([(0, 0, 0, pa.concat_tables(roots).combine_chunks())]
                 if roots else [])
        while stack:
            z, x, y, tbl = stack.pop()
            for cz, cx, cy in kids.get((z, x, y), []):
                clipped = clip_table_to_cell(tbl, cz, cx, cy, opts,
                                             from_zoom=z)
                if clipped.num_rows:
                    render(cz, cx, cy, clipped)
                    stack.append((cz, cx, cy, clipped))
        pid = TaskContext.get().partitionId()
        for z, tables in rendered.items():
            _write_part(pa.concat_tables(tables).combine_chunks(),
                        os.path.join(tilefeat_root, f"z={z}"),
                        f"part-i{pid:05d}.parquet")
        types = [pa.int32()] * 3 + [pa.int64()] * 3 + [pa.float64()] * 4
        yield pa.RecordBatch.from_arrays(
            [pa.array([r[i] for r in acks], t) for i, t in enumerate(types)],
            names=["z", "x", "y", "n_feats", "n_points", "n_sim",
                   "minx", "miny", "maxx", "maxy"])

    return fr0.mapInArrow(run, FOREST_ACK_SCHEMA).collect()
