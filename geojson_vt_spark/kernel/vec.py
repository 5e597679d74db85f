"""Batch-vectorized geometry kernel (SoA across features).

The object kernel (convert.py / clip.py / tile.py) mirrors the
reference 1:1 and serves as the parity oracle; this module re-expresses
the same semantics over *ragged batches* — every vertex of every
feature in one flat numpy array with ring/feature offset tables — so
the per-call numpy overhead that dominates tiny geometries (web-corpus
polygons are ~7 vertices) disappears.  This is the execution kernel the
Spark stages and subtree tasks run on; single-digit-million vertices
per Arrow batch stay in C the whole way.

Float parity rules (see SURVEY.md §7 "hard parts"):
- projections go through the fdlibm-exact js_sin/js_log, elementwise —
  batched calls produce bit-identical values to per-feature calls;
- per-ring running sums (shoelace area, polyline length) use
  ``np.cumsum`` on the ring's slice — the same strictly-sequential
  accumulation order as the reference's ``+=`` loop.  ``reduceat`` is
  NOT order-safe (numpy pairwise summation) and is used only for
  order-free reductions (min/max/integer counts);
- Douglas-Peucker pivot selection compares float64s exactly; spans
  where the max distance occurs more than once fall back to a scalar
  tie-break replicating simplify.js:22-31 in raw-offset space.

Layout
------
``Rags``: vertex arrays xs/ys/zs (float64, length V), ring offset table
``roff`` (int64, R+1), per-ring feature index ``rfeat``, per-ring
metrics size/start/end, per-ring ``rpoly`` (polygon ordinal within the
feature, -1 for line/point rings) — rings of one feature are contiguous
and ordered.
"""

from __future__ import annotations

import json

from .fastjson import dumps as _jdumps, loads as _jloads

import numpy as np

from .jsmath import js_log, js_sin

_BIG = np.int64(1 << 62)


class Rags:
    """Ragged ring batch: flat vertex SoA + ring/feature index tables."""
    __slots__ = ("xs", "ys", "zs", "roff", "rfeat", "rsize", "rstart",
                 "rend", "rpoly", "router", "n_feats")

    def __init__(self, xs, ys, zs, roff, rfeat, rsize, rstart, rend,
                 rpoly, n_feats):
        self.xs = xs
        self.ys = ys
        self.zs = zs
        self.roff = roff
        self.rfeat = rfeat
        self.rsize = rsize
        self.rstart = rstart
        self.rend = rend
        self.rpoly = rpoly
        self.n_feats = n_feats

    @property
    def n_rings(self) -> int:
        return len(self.rfeat)

    @property
    def n_vertices(self) -> int:
        return len(self.xs)

    def ring_lens(self) -> np.ndarray:
        return self.roff[1:] - self.roff[:-1]


def ragged_arange(counts: np.ndarray) -> np.ndarray:
    """[0..c0), [0..c1), ... concatenated (standard cumsum trick)."""
    counts = np.asarray(counts, dtype=np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    return np.arange(total, dtype=np.int64) - np.repeat(starts, counts)


def seg_first_true(mask: np.ndarray, starts: np.ndarray,
                   idx: np.ndarray) -> np.ndarray:
    """Per segment, the smallest idx where mask holds (BIG if none)."""
    vals = np.where(mask, idx, _BIG)
    return np.minimum.reduceat(vals, starts)


# ---------------------------------------------------------------- project

def project_x_arr(lon: np.ndarray) -> np.ndarray:
    return lon / 360 + 0.5


def project_y_arr(lat: np.ndarray) -> np.ndarray:
    s = js_sin(lat * np.pi / 180)
    with np.errstate(divide="ignore", invalid="ignore"):
        y = 0.5 - 0.25 * js_log((1 + s) / (1 - s)) / np.pi
    return np.where(y < 0, 0.0, np.where(y > 1, 1.0, y))


# ---------------------------------------------------------------- simplify

def batch_simplify(xs, ys, zs, first_v, last_v, sq_tolerance: float) -> None:
    """Wave-parallel Douglas-Peucker importance scoring, in place.

    first_v/last_v: per-ring global vertex indices of ring start/end.
    Reproduces simplify.js exactly: each wave evaluates every active
    span's interior point→segment distances at once; spans split at
    their pivot and re-enter the next wave.  Max depth ~ log(ring len)
    for real data; every wave is O(total interior vertices) in C.
    """
    first = np.asarray(first_v, dtype=np.int64)
    last = np.asarray(last_v, dtype=np.int64)
    keep = last - first >= 2  # interior vertex exists
    first, last = first[keep], last[keep]

    while len(first):
        counts = last - first - 1
        starts = np.zeros(len(counts), dtype=np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        idx = np.repeat(first + 1, counts) + ragged_arange(counts)

        px, py = xs[idx], ys[idx]
        ax = np.repeat(xs[first], counts)
        ay = np.repeat(ys[first], counts)
        bx = np.repeat(xs[last], counts)
        by = np.repeat(ys[last], counts)

        dx = bx - ax
        dy = by - ay
        denom = dx * dx + dy * dy
        degen = denom == 0
        with np.errstate(divide="ignore", invalid="ignore"):
            t = ((px - ax) * dx + (py - ay) * dy) / denom
        qx = np.where(t > 1, bx, np.where(t > 0, ax + dx * t, ax))
        qy = np.where(t > 1, by, np.where(t > 0, ay + dy * t, ay))
        qx = np.where(degen, ax, qx)
        qy = np.where(degen, ay, qy)
        ddx = px - qx
        ddy = py - qy
        d = ddx * ddx + ddy * ddy

        dmax = np.maximum.reduceat(d, starts)
        active = dmax > sq_tolerance
        if not active.any():
            return

        dmax_rep = np.repeat(dmax, counts)
        is_max = d == dmax_rep
        pivot = seg_first_true(is_max, starts, idx)
        # exactly one max occurrence per span (the overwhelmingly common
        # case) needs no tie machinery at all
        if int(np.count_nonzero(is_max)) == len(counts):
            multi = np.zeros(0, dtype=bool)
        else:
            n_occ = np.add.reduceat(is_max.astype(np.int64), starts)
            multi = active & (n_occ > 1)
        if multi.any():
            # faithful scalar walk of simplify.js:3-31 for tie spans: a
            # unique max is history-free (the '>' branch wins last), but
            # with repeated maxima the reference's minPosToMid carries
            # over from ties hit at LOWER running maxima (including
            # d === sqTolerance, since maxSqDist starts there), so the
            # whole span must be replayed sequentially — cheap, ties on
            # bit-equal squared distances are rare degenerate inputs
            ends = np.concatenate((starts[1:], [len(d)]))
            for s in np.nonzero(multi)[0]:
                lo, hi = int(starts[s]), int(ends[s])
                raw = idx[lo:hi] * 3
                f_raw = first[s] * 3
                l_raw = last[s] * 3
                mid = f_raw + ((l_raw - f_raw) >> 1)
                maxd = sq_tolerance
                minpos = l_raw - f_raw
                index = -1
                for j in range(hi - lo):
                    dj = d[lo + j]
                    if dj > maxd:
                        index = raw[j]
                        maxd = dj
                    elif dj == maxd:
                        pos = abs(raw[j] - mid)
                        if pos < minpos:
                            index = raw[j]
                            minpos = pos
                pivot[s] = index // 3

        piv = pivot[active]
        zs[piv] = dmax[active]

        f_act, l_act = first[active], last[active]
        lefts = piv - f_act > 1
        rights = l_act - piv > 1
        first = np.concatenate((f_act[lefts], piv[rights]))
        last = np.concatenate((piv[lefts], l_act[rights]))


# ---------------------------------------------------------------- convert

GTYPES = ("Point", "MultiPoint", "LineString", "MultiLineString",
          "Polygon", "MultiPolygon")
GT_POINT, GT_MPOINT, GT_LINE, GT_MLINE, GT_POLY, GT_MPOLY = range(6)
GT_CODE = {name: code for code, name in enumerate(GTYPES)}

INVALID_GEOJSON_MSG = "Input data is not a valid GeoJSON object."


def parse_feature_rows(rows, options):
    """Python-side parse/dispatch of (input_ord, gen_index, feature)
    rows (convert.js:7-39): id promotion/generation, null-geometry and
    empty-coordinate drops, GeometryCollection recursion, invalid-type
    raise, lineMetrics MultiLineString explosion.  A row's feature is
    its GeoJSON text or the already-parsed dict.

    Returns parallel lists: ord_path tuples, gtype codes, fid_json,
    tags_json, and per-feature raw lon/lat ring lists (list of (poly_idx,
    [[lon,lat],...]) with poly_idx = -1 for non-polygon rings).
    """
    ords, gcodes, fids, tagss, ringss = [], [], [], [], []

    def emit(ordv, ci, gtype, fid, props, coords):
        # rings reference the freshly-parsed coordinate lists directly —
        # build_rags only reads them, never mutates
        if gtype == "Point":
            rings = [(-1, False, [coords])]
        elif gtype == "MultiPoint":
            if not coords:
                return ci
            rings = [(-1, False, coords)]
        elif gtype == "LineString":
            rings = [(-1, False, coords)]
        elif gtype == "MultiLineString":
            if options.line_metrics:
                for line in coords:
                    ci = emit(ordv, ci, "LineString", fid, props, line)
                return ci
            rings = [(-1, False, line) for line in coords]
        elif gtype == "Polygon":
            rings = [(0, ri == 0, r) for ri, r in enumerate(coords)]
        elif gtype == "MultiPolygon":
            rings = [(pi, ri == 0, r)
                     for pi, poly in enumerate(coords)
                     for ri, r in enumerate(poly)]
        else:
            raise ValueError(INVALID_GEOJSON_MSG)
        ords.append((ordv, ci))
        gcodes.append(GT_CODE[gtype])
        fids.append(None if fid is None else _jdumps(fid))
        tagss.append(None if props is None else _jdumps(props))
        ringss.append(rings)
        return ci + 1

    def one(ordv, ci, geojson, gen_index):
        geometry = geojson.get("geometry")
        if not geometry:
            return ci  # drop null-geometry features (convert.js:26)
        coords = geometry.get("coordinates")
        if coords is not None and len(coords) == 0:
            return ci  # drop empty-coordinate features (convert.js:29)
        fid = geojson.get("id")
        if options.promote_id:
            fid = (geojson.get("properties") or {}).get(options.promote_id)
        elif options.generate_id:
            fid = gen_index if gen_index else 0  # quirk: `id = index || 0`
        gtype = geometry.get("type")
        if gtype == "GeometryCollection":
            for single in geometry["geometries"]:
                ci = one(ordv, ci, {"id": fid, "geometry": single,
                                    "properties": geojson.get("properties")},
                         gen_index)
            return ci
        return emit(ordv, ci, gtype, fid, geojson.get("properties"), coords)

    for input_ord, gen_index, feature in rows:
        one(int(input_ord), 0,
            feature if isinstance(feature, dict) else _jloads(feature),
            gen_index)
    return ords, gcodes, fids, tagss, ringss


def build_rags(gcodes, ringss, options) -> Rags:
    """Project + metrics + DP importances for parsed features, batched
    (convert.js:92-121 semantics across the whole batch at once)."""
    rfeat, rpoly, router, rlens, flat = [], [], [], [], []
    for fi, rings in enumerate(ringss):
        for pi, outer, ring in rings:
            rfeat.append(fi)
            rpoly.append(pi)
            router.append(outer)
            rlens.append(len(ring))
            flat.extend(ring)

    rfeat = np.asarray(rfeat, dtype=np.int64)
    rpoly = np.asarray(rpoly, dtype=np.int64)
    router = np.asarray(router, dtype=bool)
    rlens = np.asarray(rlens, dtype=np.int64)
    roff = np.zeros(len(rlens) + 1, dtype=np.int64)
    np.cumsum(rlens, out=roff[1:])

    # GeoJSON positions may carry a third (elevation) component; keep
    # only lon/lat like convert.js (ring[j][0]/[1]) and kernel/convert.py
    if flat:
        try:
            pts = np.asarray(flat, dtype=np.float64)[:, :2]
        except ValueError:  # ragged batch mixing 2- and 3-element positions
            pts = np.array([[p[0], p[1]] for p in flat], dtype=np.float64)
    else:
        pts = np.empty((0, 2))
    xs = project_x_arr(pts[:, 0])
    ys = project_y_arr(pts[:, 1])
    zs = np.zeros(len(xs))

    gcodes = np.asarray(gcodes, dtype=np.int64)
    is_line_or_poly = gcodes[rfeat] >= GT_LINE if len(rfeat) else \
        np.zeros(0, dtype=bool)
    is_poly_ring = rpoly >= 0

    # per-ring size metric.  The reference accumulates sequentially
    # (JS += loop), so the fold ORDER within a ring is part of float
    # parity — reduceat/pairwise would change it.  Instead of a Python
    # loop per ring, do a WAVE fold: compute every segment term
    # globally, then add term k of every still-active ring at once —
    # a strict left fold per ring, bit-identical to the scalar loop,
    # in O(max_ring_len) vector ops instead of O(n_rings) Python turns.
    rsize = np.zeros(len(rlens))
    mrings = np.nonzero(is_line_or_poly & (rlens > 1))[0]
    if len(mrings):
        mlens = rlens[mrings] - 1              # segment counts
        mstart = roff[mrings]
        seg = np.repeat(mstart, mlens) + ragged_arange(mlens)
        x0, y0 = xs[seg], ys[seg]
        x1, y1 = xs[seg + 1], ys[seg + 1]
        poly_m = np.repeat(is_poly_ring[mrings], mlens)
        terms = np.where(poly_m,
                         (x0 * y1 - x1 * y0) / 2,
                         np.sqrt((x1 - x0) ** 2 + (y1 - y0) ** 2))
        toff = np.zeros(len(mrings), dtype=np.int64)
        np.cumsum(mlens[:-1], out=toff[1:])
        acc = np.zeros(len(mrings))
        alive = np.arange(len(mrings))
        k = 0
        while len(alive):
            acc[alive] = acc[alive] + terms[toff[alive] + k]
            k += 1
            alive = alive[mlens[alive] > k]
        rsize[mrings] = np.abs(acc)

    # DP importances for line/polygon rings; endpoints forced to 1
    line_rings = np.nonzero(is_line_or_poly & (rlens > 0))[0]
    if len(line_rings):
        first_v = roff[line_rings]
        last_v = roff[line_rings + 1] - 1
        sq_tol = (options.tolerance /
                  ((1 << options.max_zoom) * options.extent)) ** 2
        batch_simplify(xs, ys, zs, first_v, last_v, sq_tol)
        zs[first_v] = 1.0
        zs[last_v] = 1.0

    # point rings carry no metrics (Ring(size=None) in the object path,
    # no .size in the reference) — NaN is the record encoding of None
    if len(rfeat):
        point_rings = ~is_line_or_poly
        rsize[point_rings] = np.nan
    rstart = np.where(np.isnan(rsize), np.nan, 0.0)
    rend = rsize.copy()
    rags = Rags(xs, ys, zs, roff, rfeat, rsize, rstart, rend, rpoly,
                len(ringss))
    rags_router = router
    rags.router = rags_router
    return rags


def ring_reduce_minmax(rags: Rags, nonempty: np.ndarray):
    """Exact per-ring min/max of xs/ys over the selected nonempty rings.

    Uses reduceat over interleaved [start, end) boundaries: even output
    positions reduce exactly one ring's slice, odd positions cover the
    (possibly empty) gaps and are discarded.  Every vertex belongs to a
    ring and empty rings contribute none, so the final nonempty ring
    always ends at the array end — the trailing end index is dropped to
    keep all reduceat indices in-bounds (its segment runs to the end,
    which is exactly that ring)."""
    starts = rags.roff[:-1][nonempty]
    ends = rags.roff[1:][nonempty]
    bounds = np.empty(2 * len(starts), dtype=np.int64)
    bounds[0::2] = starts
    bounds[1::2] = ends
    if bounds[-1] == len(rags.xs):
        bounds = bounds[:-1]
    rminx = np.minimum.reduceat(rags.xs, bounds)[0::2]
    rminy = np.minimum.reduceat(rags.ys, bounds)[0::2]
    rmaxx = np.maximum.reduceat(rags.xs, bounds)[0::2]
    rmaxy = np.maximum.reduceat(rags.ys, bounds)[0::2]
    return rminx, rminy, rmaxx, rmaxy


def feature_bboxes(rags: Rags, gcodes: np.ndarray):
    """Per-feature bbox; (Multi)Polygon uses outer rings only
    (feature.js:17-30).  min/max are order-free -> reduceat is safe."""
    n = rags.n_feats
    minx = np.full(n, np.inf)
    miny = np.full(n, np.inf)
    maxx = np.full(n, -np.inf)
    maxy = np.full(n, -np.inf)
    lens = rags.ring_lens()
    nonempty = lens > 0
    if nonempty.any():
        rminx, rminy, rmaxx, rmaxy = ring_reduce_minmax(rags, nonempty)
        feat = rags.rfeat[nonempty]
        use = (gcodes[feat] < GT_POLY) | rags.router[nonempty]
        feat = feat[use]
        np.minimum.at(minx, feat, rminx[use])
        np.minimum.at(miny, feat, rminy[use])
        np.maximum.at(maxx, feat, rmaxx[use])
        np.maximum.at(maxy, feat, rmaxy[use])
    return minx, miny, maxx, maxy


# ---------------------------------------------------------------- clip

class ClipResult:
    """Batched clip output: a Rags plus per-output-feature metadata."""
    __slots__ = ("rags", "gcodes", "src", "sub_ord",
                 "minx", "miny", "maxx", "maxy")

    def __init__(self, rags, gcodes, src, sub_ord, minx, miny, maxx, maxy):
        self.rags = rags
        self.gcodes = gcodes
        self.src = src          # input feature index per output feature
        self.sub_ord = sub_ord  # ordinal among the input feature's outputs
        self.minx = minx
        self.miny = miny
        self.maxx = maxx
        self.maxy = maxy

    @property
    def n_feats(self) -> int:
        return len(self.gcodes)

    @property
    def bbox(self) -> tuple:
        return self.minx, self.miny, self.maxx, self.maxy


class ClipRuns:
    """Flat run table from the stripe-clip walk: one row per emitted
    slice (ring fragment), vertices in one closed fx/fy/fz block."""
    __slots__ = ("rid", "poly", "off", "fx", "fy", "fz",
                 "size", "start", "end")

    def __init__(self, rid, poly, off, fx, fy, fz, size, start, end):
        self.rid = rid        # global input ring id per run
        self.poly = poly      # ring belongs to a polygon-type feature
        self.off = off        # n_runs+1 offsets into fx/fy/fz
        self.fx = fx
        self.fy = fy
        self.fz = fz
        self.size = size      # carried ring size metric
        self.start = start    # (lm) slice start metric
        self.end = end        # (lm) slice end metric

    @property
    def n(self) -> int:
        return len(self.rid)


_EMPTY_RUNS = ClipRuns(
    np.empty(0, dtype=np.int64), np.empty(0, dtype=bool),
    np.zeros(1, dtype=np.int64), np.empty(0), np.empty(0), np.empty(0),
    np.empty(0), np.empty(0), np.empty(0))


class AssembleResult:
    """Flat transformed-geometry table from ``batch_assemble``: per-
    feature type codes (0 = dropped) plus a surviving-ring table over
    one integer pair matrix.  JSON/object rendering happens at READ
    time (`feature_obj`), never inside the build."""
    __slots__ = ("ftype", "r_feat", "r_len", "r_off", "pairs")

    def __init__(self, ftype, r_feat, r_len, r_off, pairs):
        self.ftype = ftype    # int64[n_feats]: 0 dropped, 1/2/3 emitted
        self.r_feat = r_feat  # int64[n_rings_out] feature per ring
        self.r_len = r_len    # int64[n_rings_out] pair count per ring
        self.r_off = r_off    # int64[n_rings_out+1] offsets into pairs
        self.pairs = pairs    # int64[K,2] transformed, rewind applied

    def feature_offsets(self):
        """(ring-count offsets fb[n+1], pair offsets pb[n+1]) per
        feature — both derived, rings are feature-contiguous."""
        n = len(self.ftype)
        cnt = np.bincount(self.r_feat, minlength=n).astype(np.int64)
        fb = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(cnt, out=fb[1:])
        return fb, self.r_off[fb]


def geometry_obj(type_code: int, flat_pairs, rlens) -> list:
    """(type code, flat [x0,y0,x1,y1,...], per-ring pair counts) → the
    nested-int-list geometry identical to json.loads of the old render."""
    pr = np.asarray(flat_pairs, dtype=np.int64).reshape(-1, 2)
    if type_code == 1:
        return pr.tolist()
    out = []
    at = 0
    for ln in rlens:
        ln = int(ln)
        out.append(pr[at:at + ln].tolist())
        at += ln
    return out


def feature_obj(type_code: int, flat_pairs, rlens, tags_json,
                fid_json) -> dict:
    """Read-time feature materialization — byte-equivalent (post-parse)
    to the old per-feature JSON render."""
    d = {"geometry": geometry_obj(type_code, flat_pairs, rlens),
         "type": int(type_code),
         "tags": _jloads(tags_json) if tags_json else None}
    if fid_json is not None:
        d["id"] = _jloads(fid_json)
    return d


def batch_clip(rags: Rags, gcodes, fminx, fminy, fmaxx, fmaxy,
               k1f, k2f, axis: int, line_metrics: bool) -> ClipResult:
    """Vectorized axis stripe clip of a whole feature batch
    (clip.js:14-200 semantics, including trivial accept/reject,
    interpolated crossings with importance 1, line slicing on exit,
    polygon re-closing, type demotion and metrics tracking).

    k1f/k2f are PER-FEATURE window bounds (already divided by scale) so
    one call serves many tiles at once.  All per-vertex work happens in
    flat numpy; only the per-output-feature regrouping is Python.
    """
    gcodes = np.asarray(gcodes, dtype=np.int64)
    k1f = np.asarray(k1f, dtype=np.float64)
    k2f = np.asarray(k2f, dtype=np.float64)
    fmin = fminx if axis == 0 else fminy
    fmax = fmaxx if axis == 0 else fmaxy

    ta = (fmin >= k1f) & (fmax < k2f)          # trivial accept
    tr = (fmax < k1f) | (fmin >= k2f)          # trivial reject
    cross = ~(ta | tr)

    n_in = len(gcodes)
    f_nrings = (np.bincount(rags.rfeat, minlength=n_in).astype(np.int64)
                if rags.n_rings else np.zeros(n_in, dtype=np.int64))
    f_roff = np.zeros(n_in + 1, dtype=np.int64)
    np.cumsum(f_nrings, out=f_roff[1:])
    lens_all = rags.ring_lens()

    # ---- trivially accepted features: pass through unchanged
    ta_idx = np.nonzero(ta)[0]

    # ---- crossing features (boolean lookups per ring, never np.isin —
    # the sort inside isin dominates at 100k+ rings)
    cr_idx = np.nonzero(cross)[0]
    cr_set_rings = cross[rags.rfeat] if len(cr_idx) else \
        np.zeros(rags.n_rings, dtype=bool)

    coord = rags.xs if axis == 0 else rags.ys

    # ======== point-type features (clip.js:88-96: inclusive both ends)
    # one compact kept-vertex block, one output ring per point feature
    pt_feats = cr_idx[gcodes[cr_idx] <= GT_MPOINT] if len(cr_idx) else \
        np.empty(0, dtype=np.int64)
    pt_fi = np.empty(0, dtype=np.int64)
    pt_cnt = np.empty(0, dtype=np.int64)
    pt_off = np.zeros(1, dtype=np.int64)
    ptx = pty = ptz = np.empty(0)
    if len(pt_feats):
        is_pt_cr = cross & (gcodes <= GT_MPOINT)
        pt_rings = np.nonzero(is_pt_cr[rags.rfeat])[0]
        plens = lens_all[pt_rings]
        g = np.repeat(rags.roff[pt_rings], plens) + ragged_arange(plens)
        vfi = np.repeat(rags.rfeat[pt_rings], plens)
        a = coord[g]
        keepm = (a >= k1f[vfi]) & (a <= k2f[vfi])
        ring_of = np.repeat(np.arange(len(pt_rings)), plens)
        cnts = (np.bincount(ring_of[keepm], minlength=len(pt_rings))
                .astype(np.int64))
        sel = g[keepm]
        ptx, pty, ptz = rags.xs[sel], rags.ys[sel], rags.zs[sel]
        nz = cnts > 0
        pt_fi = rags.rfeat[pt_rings[nz]]
        pt_cnt = cnts[nz]
        pt_off = np.zeros(len(pt_fi) + 1, dtype=np.int64)
        np.cumsum(pt_cnt, out=pt_off[1:])

    # ======== line/polygon rings of crossing features → flat run table
    lp_rings = np.nonzero(cr_set_rings & (rags.rpoly >= -1) &
                          (cross & (gcodes >= GT_LINE))[rags.rfeat]
                          )[0] if len(cr_idx) else np.empty(0, dtype=np.int64)
    runs = (_clip_line_rings(rags, gcodes, lp_rings, k1f, k2f,
                             axis, line_metrics, coord)
            if len(lp_rings) else _EMPTY_RUNS)

    # ======== output assembly, fully vectorized ========
    # runs arrive ordered by (feature, ring, slice); every output table
    # below is built by counting + scatter, no per-feature Python
    run_rid = runs.rid
    n_runs = len(run_rid)
    run_fi = (rags.rfeat[run_rid] if n_runs
              else np.empty(0, dtype=np.int64))
    nruns_f = (np.bincount(run_fi, minlength=n_in).astype(np.int64)
               if n_runs else np.zeros(n_in, dtype=np.int64))
    first_run = np.zeros(n_in, dtype=np.int64)
    np.cumsum(nruns_f[:-1], out=first_run[1:])
    run_local = (np.arange(n_runs, dtype=np.int64) - first_run[run_fi]
                 if n_runs else np.empty(0, dtype=np.int64))

    # per-input-feature output counts (clip.js emission rules)
    lml = (cross & (gcodes == GT_LINE)) if line_metrics else \
        np.zeros(n_in, dtype=bool)
    other = cross & (gcodes >= GT_LINE) & ~lml
    counts = np.zeros(n_in, dtype=np.int64)
    counts[ta] = 1
    counts[pt_fi] = 1
    counts[lml] = nruns_f[lml]          # one output per slice
    counts[other] = nruns_f[other] > 0  # one output if any slice
    out_roff = np.zeros(n_in + 1, dtype=np.int64)
    np.cumsum(counts, out=out_roff[1:])
    n_out = int(out_roff[-1])

    o_gcodes = np.zeros(n_out, dtype=np.int64)
    o_src = np.zeros(n_out, dtype=np.int64)
    o_sub = np.zeros(n_out, dtype=np.int64)
    if len(ta_idx):
        pos = out_roff[ta_idx]
        o_gcodes[pos] = gcodes[ta_idx]
        o_src[pos] = ta_idx
    if len(pt_fi):
        pos = out_roff[pt_fi]
        o_gcodes[pos] = np.where(pt_cnt == 1, GT_POINT, GT_MPOINT)
        o_src[pos] = pt_fi
    run_is_lm = lml[run_fi] if n_runs else np.empty(0, dtype=bool)
    if n_runs and run_is_lm.any():
        sel = np.nonzero(run_is_lm)[0]
        pos = out_roff[run_fi[sel]] + run_local[sel]
        o_gcodes[pos] = GT_LINE
        o_src[pos] = run_fi[sel]
        o_sub[pos] = run_local[sel]
    osel = np.nonzero(other & (nruns_f > 0))[0]
    if len(osel):
        pos = out_roff[osel]
        gc = gcodes[osel]
        o_gcodes[pos] = np.where(
            gc >= GT_POLY, gc,
            np.where(nruns_f[osel] == 1, GT_LINE, GT_MLINE))
        o_src[pos] = osel

    # run rpoly/router (GT_POLY: single output polygon; GT_MPOLY: a new
    # output polygon starts at the first slice of each input polygon —
    # clip.js newGeometry grouping — and its first ring is the outer)
    run_rpoly = np.full(n_runs, -1, dtype=np.int64)
    run_router = np.zeros(n_runs, dtype=bool)
    if n_runs:
        gfr = gcodes[run_fi]
        p1 = gfr == GT_POLY
        run_rpoly[p1] = 0
        run_router[p1] = run_local[p1] == 0
        mp = gfr == GT_MPOLY
        if mp.any():
            in_pi = rags.rpoly[run_rid]
            newgrp = np.empty(n_runs, dtype=bool)
            newgrp[0] = True
            newgrp[1:] = ((run_fi[1:] != run_fi[:-1]) |
                          (in_pi[1:] != in_pi[:-1]))
            grp = np.cumsum(newgrp.astype(np.int64))
            out_pi = grp - grp[first_run[run_fi]]
            run_rpoly[mp] = out_pi[mp]
            run_router[mp] = newgrp[mp]

    # ---- merged output-ring table, ordered by (out feature, ring seq)
    ta_rc = f_nrings[ta_idx]
    ta_rings = np.repeat(f_roff[ta_idx], ta_rc) + ragged_arange(ta_rc)
    run_out = (out_roff[run_fi] + np.where(run_is_lm, run_local, 0)
               if n_runs else np.empty(0, dtype=np.int64))
    run_seq = (np.where(run_is_lm, 0, run_local)
               if n_runs else np.empty(0, dtype=np.int64))
    kind = np.concatenate((
        np.zeros(len(ta_rings), dtype=np.int64),
        np.ones(len(pt_fi), dtype=np.int64),
        np.full(n_runs, 2, dtype=np.int64)))
    srcidx = np.concatenate((
        ta_rings, np.arange(len(pt_fi), dtype=np.int64),
        np.arange(n_runs, dtype=np.int64)))
    e_out = np.concatenate((
        np.repeat(out_roff[ta_idx], ta_rc),
        out_roff[pt_fi] if len(pt_fi) else np.empty(0, dtype=np.int64),
        run_out))
    e_seq = np.concatenate((
        ragged_arange(ta_rc),
        np.zeros(len(pt_fi), dtype=np.int64),
        run_seq))
    order = np.lexsort((e_seq, e_out))
    kind = kind[order]
    srcidx = srcidx[order]
    e_out = e_out[order]

    n_ring_out = len(kind)
    vlen = np.empty(n_ring_out, dtype=np.int64)
    rpoly_new = np.empty(n_ring_out, dtype=np.int64)
    router_new = np.zeros(n_ring_out, dtype=bool)
    rsize_new = np.empty(n_ring_out)
    rstart_new = np.empty(n_ring_out)
    rend_new = np.empty(n_ring_out)
    mta = kind == 0
    mpt = kind == 1
    mrun = kind == 2
    r_ta = srcidx[mta]
    vlen[mta] = lens_all[r_ta]
    rpoly_new[mta] = rags.rpoly[r_ta]
    router_new[mta] = rags.router[r_ta]
    rsize_new[mta] = rags.rsize[r_ta]
    rstart_new[mta] = rags.rstart[r_ta]
    rend_new[mta] = rags.rend[r_ta]
    i_pt = srcidx[mpt]
    vlen[mpt] = pt_cnt[i_pt]
    rpoly_new[mpt] = -1
    rsize_new[mpt] = np.nan
    rstart_new[mpt] = np.nan
    rend_new[mpt] = np.nan
    i_run = srcidx[mrun]
    vlen[mrun] = (runs.off[1:] - runs.off[:-1])[i_run]
    rpoly_new[mrun] = run_rpoly[i_run]
    router_new[mrun] = run_router[i_run]
    rsize_new[mrun] = runs.size[i_run]
    rstart_new[mrun] = runs.start[i_run]
    rend_new[mrun] = runs.end[i_run]

    # ---- one gather pass per vertex source
    roff_new = np.zeros(n_ring_out + 1, dtype=np.int64)
    np.cumsum(vlen, out=roff_new[1:])
    total_v = int(roff_new[-1])
    xs_new = np.empty(total_v)
    ys_new = np.empty(total_v)
    zs_new = np.empty(total_v)
    dst_starts = roff_new[:-1]
    if mta.any():
        lv = vlen[mta]
        dst = np.repeat(dst_starts[mta], lv) + ragged_arange(lv)
        src = np.repeat(rags.roff[:-1][r_ta], lv) + ragged_arange(lv)
        xs_new[dst] = rags.xs[src]
        ys_new[dst] = rags.ys[src]
        zs_new[dst] = rags.zs[src]
    if mpt.any():
        lv = vlen[mpt]
        dst = np.repeat(dst_starts[mpt], lv) + ragged_arange(lv)
        src = np.repeat(pt_off[:-1][i_pt], lv) + ragged_arange(lv)
        xs_new[dst] = ptx[src]
        ys_new[dst] = pty[src]
        zs_new[dst] = ptz[src]
    if mrun.any():
        lv = vlen[mrun]
        dst = np.repeat(dst_starts[mrun], lv) + ragged_arange(lv)
        src = np.repeat(runs.off[:-1][i_run], lv) + ragged_arange(lv)
        xs_new[dst] = runs.fx[src]
        ys_new[dst] = runs.fy[src]
        zs_new[dst] = runs.fz[src]

    new = Rags(xs_new, ys_new, zs_new, roff_new, e_out, rsize_new,
               rstart_new, rend_new, rpoly_new, n_out)
    new.router = router_new
    minx, miny, maxx, maxy = feature_bboxes(new, o_gcodes)
    return ClipResult(new, o_gcodes, o_src, o_sub, minx, miny, maxx, maxy)


def _clip_line_rings(rags, gcodes, lp_rings, k1f, k2f, axis,
                     line_metrics, coord):
    """Vectorized Sutherland walk over the selected rings.

    Returns {ring index: [slice dict, …]} where each slice dict has
    xs/ys/zs arrays and size/start/end metrics, in emission order."""
    roff = rags.roff
    xs, ys, zs = rags.xs, rags.ys, rags.zs

    lens = (roff[1:] - roff[:-1])[lp_rings]
    nz = lens > 0
    lp_rings = lp_rings[nz]
    lens = lens[nz]
    if len(lp_rings) == 0:
        return {}

    starts = roff[lp_rings]
    n_v = int(lens.sum())
    # gather the selected rings' vertices into a compact block
    g = np.repeat(starts, lens) + ragged_arange(lens)
    cxs, cys, czs = xs[g], ys[g], zs[g]
    ca = coord[g]
    c_roff = np.zeros(len(lp_rings) + 1, dtype=np.int64)
    np.cumsum(lens, out=c_roff[1:])

    rfi = rags.rfeat[lp_rings]
    k1r = k1f[rfi]
    k2r = k2f[rfi]
    k1v = np.repeat(k1r, lens)
    k2v = np.repeat(k2r, lens)

    is_poly_ring = (gcodes[rfi] >= GT_POLY)
    poly_v = np.repeat(is_poly_ring, lens)
    if line_metrics:
        track_ring = gcodes[rfi] == GT_LINE
    else:
        track_ring = np.zeros(len(lp_rings), dtype=bool)

    low = ca < k1v
    high = ca > k2v
    inside = ~(low | high)

    is_last = np.zeros(n_v, dtype=bool)
    is_last[c_roff[1:] - 1] = True
    is_seg = ~is_last  # vertex starts a segment

    # neighbor (b) values for segment starts
    nxt = np.arange(1, n_v + 1)
    b_a = np.empty(n_v)
    b_a[:-1] = ca[1:]
    b_a[-1] = ca[-1]
    b_low = np.empty(n_v, dtype=bool)
    b_high = np.empty(n_v, dtype=bool)
    b_low[:-1] = low[1:]
    b_high[:-1] = high[1:]
    b_low[-1] = b_high[-1] = False

    enter_lo = is_seg & low & (b_a > k1v)
    enter_hi = is_seg & high & (b_a < k2v)
    enter = enter_lo | enter_hi
    exit_lo = is_seg & b_low & ~low
    exit_hi = is_seg & b_high & ~high
    exit_ = exit_lo | exit_hi

    emit_v = (is_seg & inside) | (is_last & inside)
    cnt = emit_v.astype(np.int64) + enter + exit_
    epos = np.zeros(n_v, dtype=np.int64)
    np.cumsum(cnt[:-1], out=epos[1:])
    n_e = int(cnt.sum())

    ox = np.empty(n_e)
    oy = np.empty(n_e)
    oz = np.empty(n_e)

    vsel = np.nonzero(emit_v)[0]
    vpos = epos[vsel]
    ox[vpos] = cxs[vsel]
    oy[vpos] = cys[vsel]
    oz[vpos] = czs[vsel]

    # crossing interpolation (clip.js:190-200): importance forced to 1
    def cross_pts(sel, k_at):
        ax_, ay_ = cxs[sel], cys[sel]
        bx_, by_ = cxs[sel + 1], cys[sel + 1]
        k = k_at
        if axis == 0:
            t = (k - ax_) / (bx_ - ax_)
            px, py = k, ay_ + (by_ - ay_) * t
        else:
            t = (k - ay_) / (by_ - ay_)
            px, py = ax_ + (bx_ - ax_) * t, k
        return t, px, py

    en_sel = np.nonzero(enter)[0]
    t_en = np.empty(0)
    if len(en_sel):
        k_at = np.where(enter_lo[en_sel], k1v[en_sel], k2v[en_sel])
        t_en, pxe, pye = cross_pts(en_sel, k_at)
        pe = epos[en_sel] + emit_v[en_sel]
        ox[pe] = np.broadcast_to(pxe, pe.shape)
        oy[pe] = np.broadcast_to(pye, pe.shape)
        oz[pe] = 1.0

    ex_sel = np.nonzero(exit_)[0]
    t_ex = np.empty(0)
    if len(ex_sel):
        k_at = np.where(exit_lo[ex_sel], k1v[ex_sel], k2v[ex_sel])
        t_ex, pxx, pyx = cross_pts(ex_sel, k_at)
        px_ = epos[ex_sel] + emit_v[ex_sel] + enter[ex_sel]
        ox[px_] = np.broadcast_to(pxx, px_.shape)
        oy[px_] = np.broadcast_to(pyx, px_.shape)
        oz[px_] = 1.0

    # slice ids: lines flush after each exit; polygons never flush
    flush = exit_ & ~poly_v
    cumflush = np.cumsum(flush.astype(np.int64))
    ring_flush_base = np.zeros(n_v, dtype=np.int64)
    ring_flush_base = np.repeat(
        np.concatenate(([0], cumflush[c_roff[1:] - 1][:-1])), lens)
    exits_before = cumflush - flush.astype(np.int64) - ring_flush_base

    # per-emission slice ordinal within its ring
    slice_of_v = np.empty(n_e, dtype=np.int64)
    slice_of_v[vpos] = exits_before[vsel]
    if len(en_sel):
        slice_of_v[epos[en_sel] + emit_v[en_sel]] = exits_before[en_sel]
    if len(ex_sel):
        slice_of_v[epos[ex_sel] + emit_v[ex_sel] + enter[ex_sel]] = \
            exits_before[ex_sel]

    # ring id per emission
    ring_of_e = np.empty(n_e, dtype=np.int64)
    e_ring_start = epos[c_roff[:-1]]
    seg_bounds = np.concatenate((e_ring_start, [n_e]))
    ring_of_e_counts = seg_bounds[1:] - seg_bounds[:-1]
    ring_of_e = np.repeat(np.arange(len(lp_rings)), ring_of_e_counts)

    # metrics: cumulative lengths must accumulate per ring in the exact
    # sequential order of the reference's += loop (clip.js:103,115,149),
    # so track rings get their own np.cumsum over [start, seg_len...]
    # ---- split emissions into (ring, slice) runs — one global change-
    # point scan (runs are contiguous by construction: emissions are in
    # ring order, and slice ids never decrease within a ring), then one
    # global scatter that also inserts polygon closing points.  Output
    # is a flat run table (no per-run Python objects).
    n_e_total = len(ox)
    if n_e_total == 0:
        return _EMPTY_RUNS
    ring_of_e_b = ring_of_e  # compact ring index per emission
    chg = np.nonzero((ring_of_e_b[1:] != ring_of_e_b[:-1]) |
                     (slice_of_v[1:] != slice_of_v[:-1]))[0] + 1
    run_start = np.concatenate(([0], chg)).astype(np.int64)
    run_end = np.concatenate((chg, [n_e_total])).astype(np.int64)
    run_ring = ring_of_e_b[run_start]          # compact index
    run_len = run_end - run_start

    # polygon closing: append the first point when endpoints diverged
    run_poly = is_poly_ring[run_ring]
    close = (run_poly & (run_len >= 2) &
             ((ox[run_end - 1] != ox[run_start]) |
              (oy[run_end - 1] != oy[run_start])))
    new_len = run_len + close
    new_off = np.zeros(len(run_len) + 1, dtype=np.int64)
    np.cumsum(new_len, out=new_off[1:])
    fx = np.empty(int(new_off[-1]))
    fy = np.empty(int(new_off[-1]))
    fz = np.empty(int(new_off[-1]))
    dest = np.repeat(new_off[:-1], run_len) + ragged_arange(run_len)
    fx[dest] = ox
    fy[dest] = oy
    fz[dest] = oz
    cl = np.nonzero(close)[0]
    if len(cl):
        cpos = new_off[cl] + run_len[cl]
        fx[cpos] = ox[run_start[cl]]
        fy[cpos] = oy[run_start[cl]]
        fz[cpos] = oz[run_start[cl]]

    run_rid = lp_rings[run_ring]
    run_size = rags.rsize[run_rid]
    run_st = rags.rstart[run_rid].copy()
    run_en = rags.rend[run_rid].copy()

    # metrics: cumulative lengths must accumulate per ring in the exact
    # sequential order of the reference's += loop (clip.js:103,115,149),
    # so track rings get their own np.cumsum over [start, seg_len...];
    # the per-slice start/end overrides scatter straight into the run
    # table (each line slice has at most one enter and one exit)
    if track_ring.any():
        seg_len = np.zeros(n_v)
        cum_v = np.zeros(n_v)
        for ci in np.nonzero(track_ring)[0]:
            lo, hi = int(c_roff[ci]), int(c_roff[ci + 1])
            if hi - lo < 2:
                continue
            ddx = cxs[lo:hi - 1] - cxs[lo + 1:hi]
            ddy = cys[lo:hi - 1] - cys[lo + 1:hi]
            sl = np.sqrt(ddx * ddx + ddy * ddy)
            seg_len[lo:hi - 1] = sl
            cum_v[lo:hi] = np.cumsum(
                np.concatenate(([rags.rstart[lp_rings[ci]]], sl)))

        track_v = np.repeat(track_ring, lens)
        if len(en_sel):
            m = track_v[en_sel]
            v = en_sel[m]
            if len(v):
                ridx = np.searchsorted(run_start,
                                       epos[v] + emit_v[v], "right") - 1
                run_st[ridx] = cum_v[v] + seg_len[v] * t_en[m]
        if len(ex_sel):
            m = track_v[ex_sel]
            v = ex_sel[m]
            if len(v):
                ridx = np.searchsorted(
                    run_start, epos[v] + emit_v[v] + enter[v], "right") - 1
                run_en[ridx] = cum_v[v] + seg_len[v] * t_ex[m]

    return ClipRuns(run_rid, run_poly, new_off, fx, fy, fz,
                    run_size, run_st, run_en)


# ---------------------------------------------------------------- records

def records_to_rags(recs):
    """FEATURE_SCHEMA record dicts → (Rags, gcodes, minx, miny, maxx,
    maxy): the records' flat columns concatenated into flats_to_rags."""
    def cat(name, dtype):
        return np.concatenate(
            [np.asarray(r[name], dtype=dtype) for r in recs]
            + [np.empty(0, dtype=dtype)])

    gcodes = np.asarray([GT_CODE[r["gtype"]] for r in recs], dtype=np.int64)
    rags = flats_to_rags(
        cat("coords", np.float64),
        np.asarray([len(r["ring_lens"]) for r in recs], dtype=np.int64),
        cat("ring_lens", np.int64), cat("ring_size", np.float64),
        cat("ring_start", np.float64), cat("ring_end", np.float64), gcodes,
        lambda fi: recs[fi]["poly_lens"])
    return (rags, gcodes, *(np.asarray([r[c] for r in recs], dtype=np.float64)
                            for c in ("minx", "miny", "maxx", "maxy")))


def rags_to_feature_arrays(rags: Rags):
    """Per-feature slicing helpers: returns (f_roff over rings, xyz3)."""
    n_feats = rags.n_feats
    f_nrings = (np.bincount(rags.rfeat, minlength=n_feats).astype(np.int64)
                if rags.n_rings else np.zeros(n_feats, dtype=np.int64))
    f_roff = np.zeros(n_feats + 1, dtype=np.int64)
    np.cumsum(f_nrings, out=f_roff[1:])
    xyz = np.empty(3 * rags.n_vertices)
    xyz[0::3] = rags.xs
    xyz[1::3] = rags.ys
    xyz[2::3] = rags.zs
    return f_roff, xyz


def take_features(rags: Rags, sel: np.ndarray) -> Rags:
    """New Rags containing only features ``sel`` (sorted), renumbered —
    pure index arithmetic, no per-feature Python."""
    sel = np.asarray(sel, dtype=np.int64)
    in_sel = np.zeros(rags.n_feats, dtype=bool)
    in_sel[sel] = True
    rmask = in_sel[rags.rfeat] if rags.n_rings else \
        np.zeros(0, dtype=bool)
    rsel = np.nonzero(rmask)[0]
    lens = rags.ring_lens()[rsel]
    starts = rags.roff[rsel]
    g = (np.repeat(starts, lens) + ragged_arange(lens)
         if len(rsel) else np.empty(0, dtype=np.int64))
    roff = np.zeros(len(rsel) + 1, dtype=np.int64)
    np.cumsum(lens, out=roff[1:])
    out = Rags(rags.xs[g], rags.ys[g], rags.zs[g], roff,
               np.searchsorted(sel, rags.rfeat[rsel]),
               rags.rsize[rsel], rags.rstart[rsel], rags.rend[rsel],
               rags.rpoly[rsel], len(sel))
    out.router = rags.router[rsel]
    return out


def concat_rags(parts: list[Rags]) -> Rags:
    """Concatenate feature batches (features renumbered sequentially)."""
    if len(parts) == 1:
        return parts[0]
    xs = np.concatenate([p.xs for p in parts])
    ys = np.concatenate([p.ys for p in parts])
    zs = np.concatenate([p.zs for p in parts])
    lens = np.concatenate([p.ring_lens() for p in parts])
    roff = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=roff[1:])
    fbase = np.cumsum([0] + [p.n_feats for p in parts])
    rfeat = np.concatenate([p.rfeat + fbase[i]
                            for i, p in enumerate(parts)])
    out = Rags(xs, ys, zs, roff, rfeat,
               np.concatenate([p.rsize for p in parts]),
               np.concatenate([p.rstart for p in parts]),
               np.concatenate([p.rend for p in parts]),
               np.concatenate([p.rpoly for p in parts]),
               int(fbase[-1]))
    out.router = np.concatenate([p.router for p in parts])
    return out


def flats_to_rags(xyz, nr, rlens3, rsize, rstart, rend, gcodes,
                  poly_lens_for):
    """Flat ragged buffers → Rags: the zero-boxing constructor behind
    the Arrow ingress (pipeline._arrow_state).

    xyz: all coords concatenated; nr: rings per feature; rlens3:
    concatenated ring lens (×3); rsize/rstart/rend: concatenated ring
    metrics; poly_lens_for(fi): per-feature poly_lens accessor (only
    called for MultiPolygon features)."""
    n = len(gcodes)
    gcodes = np.asarray(gcodes, dtype=np.int64)
    R = int(nr.sum())
    rlens = (np.asarray(rlens3, dtype=np.int64) // 3
             if R else np.empty(0, dtype=np.int64))
    xs = np.ascontiguousarray(xyz[0::3])
    ys = np.ascontiguousarray(xyz[1::3])
    zs = np.ascontiguousarray(xyz[2::3])
    roff = np.zeros(R + 1, dtype=np.int64)
    np.cumsum(rlens, out=roff[1:])
    rfeat = np.repeat(np.arange(n, dtype=np.int64), nr)

    ring_in_feat = ragged_arange(nr)
    code_r = gcodes[rfeat] if R else np.empty(0, dtype=np.int64)
    rpoly = np.where(code_r >= GT_POLY, 0, -1).astype(np.int64)
    router = (code_r >= GT_POLY) & (ring_in_feat == 0)
    mp = np.nonzero(gcodes == GT_MPOLY)[0]
    if len(mp):
        f_roff = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(nr, out=f_roff[1:])
        for fi in mp:
            pl = poly_lens_for(fi)
            at = int(f_roff[fi])
            for pi, cnt in enumerate(pl):
                rpoly[at] = pi
                router[at] = True
                for k in range(1, int(cnt)):
                    rpoly[at + k] = pi
                    router[at + k] = False
                at += int(cnt)
    rags = Rags(xs, ys, zs, roff, rfeat,
                np.asarray(rsize, dtype=np.float64),
                np.asarray(rstart, dtype=np.float64),
                np.asarray(rend, dtype=np.float64), rpoly, n)
    rags.router = router
    return rags


# ---------------------------------------------------------------- assemble

def batch_assemble(rags: Rags, gcodes, tz, tx, ty, options):
    """Per-feature tile assembly + transform + JSON render, batched
    (tile.js addFeature + transform.js, identical to the object path).

    tz/tx/ty: per-feature tile coordinates (arrays).  Returns
    (fjsons list[str|None], n_points int64[], n_simplified int64[]) —
    the caller groups by tile and joins in feature order.

    All vertex math (tolerance masks, integer transform) is flat numpy;
    the per-ring rewind uses a sequential per-ring cumsum for exact sign
    parity; rendering is Python string work per surviving ring.
    """
    gcodes = np.asarray(gcodes, dtype=np.int64)
    tz = np.asarray(tz, dtype=np.int64)
    tx = np.asarray(tx, dtype=np.int64)
    ty = np.asarray(ty, dtype=np.int64)
    extent = options.extent

    n_feats = rags.n_feats
    z2f = np.left_shift(np.int64(1), tz)
    tolf = np.where(tz == options.max_zoom, 0.0,
                    options.tolerance / (z2f * extent))
    sqtolf = tolf * tolf

    lens = rags.ring_lens()
    rf = rags.rfeat
    r_is_lp = gcodes[rf] >= GT_LINE if len(rf) else np.zeros(0, dtype=bool)
    r_is_poly = gcodes[rf] >= GT_POLY if len(rf) else np.zeros(0, dtype=bool)
    r_tol = tolf[rf]
    r_sqtol = sqtolf[rf]
    threshold = np.where(r_is_poly, r_sqtol, r_tol)
    drop_tiny = r_is_lp & (r_tol > 0) & (rags.rsize < threshold)

    # fused per-ring keep threshold: -inf keeps every vertex (point
    # rings, tolerance 0), +inf keeps none (dropped tiny rings), else
    # the squared tolerance — ONE repeat + compare instead of four
    # (identical truth table to the reference's three conditions)
    pt_ring = ~r_is_lp
    ring_thresh = np.where(drop_tiny, np.inf,
                           np.where(pt_ring | (r_tol <= 0),
                                    -np.inf, r_sqtol))
    keep_v = rags.zs > np.repeat(ring_thresh, lens)

    kept_per_ring = np.zeros(rags.n_rings, dtype=np.int64)
    if rags.n_vertices:
        nonempty = lens > 0
        starts = rags.roff[:-1][nonempty]
        ends = rags.roff[1:][nonempty]
        bounds = np.empty(2 * len(starts), dtype=np.int64)
        bounds[0::2] = starts
        bounds[1::2] = ends
        if len(bounds) and bounds[-1] == rags.n_vertices:
            bounds = bounds[:-1]
        kept_per_ring[nonempty] = np.add.reduceat(
            keep_v.astype(np.int64), bounds)[0::2]

    n_points = (np.bincount(rf, weights=lens, minlength=n_feats)
                .astype(np.int64) if rags.n_rings else
                np.zeros(n_feats, dtype=np.int64))
    simpl_rings = np.where(drop_tiny, 0, kept_per_ring)
    n_simplified = (np.bincount(rf, weights=simpl_rings, minlength=n_feats)
                    .astype(np.int64) if rags.n_rings else
                    np.zeros(n_feats, dtype=np.int64))

    # kept-vertex index set, shared by the rewind pass and the geometry
    # output: ring id per kept vertex comes from a repeat over KEPT
    # counts (kept vertices are already ordered by ring), never a
    # full-length per-vertex repeat + gather
    kept_idx = np.nonzero(keep_v)[0]
    kring = np.repeat(np.arange(rags.n_rings), kept_per_ring)

    # ---- rewind decisions, globally vectorized: signed area of every
    # kept polygon-ring vertex run in one pass.  The reduceat (pairwise)
    # sum can differ from the reference's sequential sum by ~n·eps·|term|
    # ≲ 1e-11, which only matters for near-degenerate areas — those few
    # rings are recomputed with the exact sequential cumsum.
    reverse_ring = np.zeros(rags.n_rings, dtype=bool)
    rw_rings = np.nonzero(r_is_poly & ~drop_tiny & (kept_per_ring > 0))[0] \
        if rags.n_rings else np.empty(0, dtype=np.int64)
    if len(rw_rings):
        klens = kept_per_ring[rw_rings]
        in_rw = np.zeros(rags.n_rings, dtype=bool)
        in_rw[rw_rings] = True
        kv = kept_idx[in_rw[kring]]
        run_starts = np.zeros(len(rw_rings), dtype=np.int64)
        np.cumsum(klens[:-1], out=run_starts[1:])
        fx = rags.xs[kv]
        fy = rags.ys[kv]
        # prev index within each run, wrapping to the run's last element
        prev = np.arange(len(kv)) - 1
        run_ends = run_starts + klens - 1
        prev[run_starts] = run_ends
        terms = (fx - fx[prev]) * (fy + fy[prev])
        areas = np.add.reduceat(terms, run_starts)
        # threshold scales with run length: pairwise error is bounded by
        # ~eps·log2(n)·n·max|term| ≈ 3e-14·n, far under 1e-12·n
        near0 = np.abs(areas) < 1e-12 * np.maximum(klens, 64)
        if near0.any():
            for j in np.nonzero(near0)[0]:
                lo = int(run_starts[j])
                hi = lo + int(klens[j])
                areas[j] = float(np.cumsum(terms[lo:hi])[-1])
        reverse_ring[rw_rings] = (areas > 0) == rags.router[rw_rings]

    # ---- geometry output: one global kept-pair matrix, one surviving-
    # ring table, one gather (reversal folded into the gather indices).
    # NO per-feature Python and NO JSON — serialization is deferred to
    # read time (the reference never renders JSON during its build
    # either; tiles hold integer arrays)
    f_nrings = (np.bincount(rf, minlength=n_feats).astype(np.int64)
                if rags.n_rings else np.zeros(n_feats, dtype=np.int64))
    f_roff = np.zeros(n_feats + 1, dtype=np.int64)
    np.cumsum(f_nrings, out=f_roff[1:])

    # integer tile transform on KEPT vertices only (JS Math.round ==
    # floor(v + 0.5)); per-vertex z2/tx/ty come through the kept ring ids
    kfeat = rf[kring] if rags.n_rings else np.zeros(0, dtype=np.int64)
    z2v = z2f[kfeat].astype(np.float64)
    txv = tx[kfeat].astype(np.float64)
    tyv = ty[kfeat].astype(np.float64)
    pairs_all = np.empty((len(kept_idx), 2), dtype=np.int64)
    pairs_all[:, 0] = np.floor(
        extent * (rags.xs[kept_idx] * z2v - txv) + 0.5).astype(np.int64)
    pairs_all[:, 1] = np.floor(
        extent * (rags.ys[kept_idx] * z2v - tyv) + 0.5).astype(np.int64)
    koff = np.zeros(rags.n_rings + 1, dtype=np.int64)
    np.cumsum(kept_per_ring, out=koff[1:])

    f_kept = koff[f_roff[1:]] - koff[f_roff[:-1]]   # kept pairs per feature
    is_pt_f = gcodes <= GT_MPOINT
    surv_ring = (r_is_lp & ~drop_tiny if rags.n_rings
                 else np.zeros(0, dtype=bool))
    surv_per_feat = (np.bincount(rf[surv_ring], minlength=n_feats)
                     if rags.n_rings else np.zeros(n_feats, dtype=np.int64))
    ftype = np.zeros(n_feats, dtype=np.int64)
    ftype[is_pt_f & (f_kept > 0)] = 1
    lp_emit = ~is_pt_f & (surv_per_feat > 0)
    ftype[lp_emit] = np.where(gcodes[lp_emit] >= GT_POLY, 3, 2)

    # merged surviving-ring table: a point feature contributes ONE ring
    # (its flat kept-pair list, possibly spanning multiple input rings);
    # an emitted line/poly feature contributes its non-tiny rings (an
    # empty simplified ring still renders as [] — tile.js keeps it)
    ptf = np.nonzero(ftype == 1)[0]
    lpr = np.nonzero(surv_ring)[0]
    e_feat = np.concatenate((ptf, rf[lpr]))
    e_len = np.concatenate((f_kept[ptf], kept_per_ring[lpr]))
    e_src = np.concatenate((koff[f_roff[ptf]], koff[lpr]))
    e_rev = np.concatenate((np.zeros(len(ptf), dtype=bool),
                            reverse_ring[lpr]))
    order = np.argsort(e_feat, kind="stable")
    e_feat = e_feat[order]
    e_len = e_len[order]
    e_src = e_src[order]
    e_rev = e_rev[order]

    r_off = np.zeros(len(e_feat) + 1, dtype=np.int64)
    np.cumsum(e_len, out=r_off[1:])
    j = ragged_arange(e_len)
    rev_rep = np.repeat(e_rev, e_len)
    src = np.repeat(e_src, e_len) + np.where(
        rev_rep, np.repeat(e_len - 1, e_len) - j, j)
    geom = AssembleResult(ftype, e_feat, e_len, r_off, pairs_all[src])
    return geom, n_points, n_simplified


def convert_rows(rows, options):
    """parse → rags → bbox, the batch convert of ingest rows shared by
    convert_rows_to_records and the Arrow egress
    (pipeline.convert_rows_to_table): (ords, gcodes, fid_json,
    tags_json, rags, (minx, miny, maxx, maxy))."""
    ords, gcodes, fids, tagss, ringss = parse_feature_rows(rows, options)
    gcodes = np.asarray(gcodes, dtype=np.int64)
    rags = build_rags(gcodes, ringss, options)
    return ords, gcodes, fids, tagss, rags, feature_bboxes(rags, gcodes)


def convert_rows_to_records(rows, options) -> list[dict]:
    """Full batch convert: ingest rows → FEATURE_SCHEMA record dicts
    (the batched equivalent of kernel.convert + model.feature_to_record,
    bit-identical output)."""
    ords, gcodes, fids, tagss, rags, bbox = convert_rows(rows, options)
    minx, miny, maxx, maxy = bbox
    f_roff, xyz = rags_to_feature_arrays(rags)
    rlens = rags.ring_lens()

    records = []
    for fi in range(rags.n_feats):
        r0, r1 = int(f_roff[fi]), int(f_roff[fi + 1])
        v0, v1 = int(rags.roff[r0]), int(rags.roff[r1])
        code = int(gcodes[fi])
        poly_lens = None
        if code == GT_MPOLY:
            poly_lens = np.bincount(rags.rpoly[r0:r1]).astype(np.int32)
        records.append({
            "ord_path": [int(v) for v in ords[fi]],
            "fid_json": fids[fi],
            "tags_json": tagss[fi],
            "gtype": GTYPES[code],
            "coords": xyz[3 * v0:3 * v1],
            "ring_lens": (rlens[r0:r1] * 3).astype(np.int32),
            "poly_lens": poly_lens,
            "ring_size": rags.rsize[r0:r1],
            "ring_start": rags.rstart[r0:r1],
            "ring_end": rags.rend[r0:r1],
            "minx": float(minx[fi]), "miny": float(miny[fi]),
            "maxx": float(maxx[fi]), "maxy": float(maxy[fi]),
        })
    return records

