"""Differential tests: the batch SoA kernel (kernel/vec.py) must be
bit-identical to the per-feature object kernel (the reference-parity
oracle) on fixtures and randomized geometry."""

import json
import os

import numpy as np
import pytest

from geojson_vt_spark import TileOptions
from geojson_vt_spark.kernel.clip import clip_feature
from geojson_vt_spark.kernel.vec import (batch_clip, convert_rows_to_records,
                                         records_to_rags)
from geojson_vt_spark.model import feature_to_record, record_to_feature
from geojson_vt_spark.pipeline import (_clip_out_geometry_arrays,
                                       convert_single, geojson_to_input_rows)

FIXTURES = "/root/reference/test/fixtures"


def object_convert_records(rows, options):
    recs = []
    for ordv, gi, fjson in rows:
        for ci, f in enumerate(convert_single(json.loads(fjson), options, gi)):
            recs.append(feature_to_record((int(ordv), ci), f))
    return recs


def assert_records_equal(a, b, ctx=""):
    assert len(a) == len(b), f"{ctx}: count {len(a)} vs {len(b)}"
    for i, (ra, rb) in enumerate(zip(a, b)):
        for k in ("gtype", "fid_json", "tags_json"):
            assert ra.get(k) == rb.get(k), f"{ctx} f{i} {k}"
        for k in ("coords", "ring_lens", "poly_lens", "ring_size",
                  "ring_start", "ring_end"):
            va, vb = ra[k], rb[k]
            if va is None and vb is None:
                continue
            va = np.asarray(va, dtype=np.float64)
            vb = np.asarray(vb, dtype=np.float64)
            assert va.shape == vb.shape, f"{ctx} f{i} {k} shape"
            nan = np.isnan(va) & np.isnan(vb)
            assert np.all((va == vb) | nan), f"{ctx} f{i} {k} values"
        for k in ("minx", "miny", "maxx", "maxy"):
            assert ra[k] == rb[k] or (
                np.isnan(ra[k]) and np.isnan(rb[k])), f"{ctx} f{i} {k}"


@pytest.mark.parametrize("fixture", [
    "feature.json", "collection.json", "single-geom.json",
    "us-states.json", "dateline.json", "ids.json"])
@pytest.mark.parametrize("opts", [
    TileOptions(), TileOptions(tolerance=5, max_zoom=9),
    TileOptions(line_metrics=True), TileOptions(generate_id=True)])
def test_batch_convert_matches_object_kernel(fixture, opts):
    data = json.load(open(os.path.join(FIXTURES, fixture)))
    rows = geojson_to_input_rows(data)
    assert_records_equal(object_convert_records(rows, opts),
                         convert_rows_to_records(rows, opts), fixture)


def rand_geojson(rng, n):
    feats = []
    for i in range(n):
        t = int(rng.integers(0, 6))

        def pt():
            return [float(rng.uniform(-190, 190)),
                    float(rng.uniform(-85, 85))]

        def line(m):
            return [pt() for _ in range(m)]

        def ring(m):
            r = [pt() for _ in range(m)]
            r.append(r[0])
            return r

        if t == 0:
            g = {"type": "Point", "coordinates": pt()}
        elif t == 1:
            g = {"type": "MultiPoint",
                 "coordinates": line(int(rng.integers(1, 6)))}
        elif t == 2:
            g = {"type": "LineString",
                 "coordinates": line(int(rng.integers(2, 12)))}
        elif t == 3:
            g = {"type": "MultiLineString",
                 "coordinates": [line(int(rng.integers(2, 8)))
                                 for _ in range(int(rng.integers(1, 4)))]}
        elif t == 4:
            g = {"type": "Polygon",
                 "coordinates": [ring(int(rng.integers(3, 10)))
                                 for _ in range(int(rng.integers(1, 3)))]}
        else:
            g = {"type": "MultiPolygon",
                 "coordinates": [[ring(int(rng.integers(3, 8)))
                                  for _ in range(int(rng.integers(1, 3)))]
                                 for _ in range(int(rng.integers(1, 3)))]}
        feats.append({"type": "Feature", "id": i, "properties": {"p": i},
                     "geometry": g})
    return {"type": "FeatureCollection", "features": feats}


def object_clip_records(recs, k1, k2, axis, lm):
    out = []
    for fi, rec in enumerate(recs):
        _, f = record_to_feature({**rec, "ord_path": [0]})
        for si, nf in enumerate(clip_feature(f, k1, k2, axis, lm)):
            r = feature_to_record((0,), nf)
            r["_src"] = fi
            r["_sub"] = si
            out.append(r)
    return out


def batch_clip_records(recs, k1, k2, axis, lm):
    rags, gcodes, mnx, mny, mxx, mxy = records_to_rags(recs)
    res = batch_clip(rags, gcodes, mnx, mny, mxx, mxy,
                     np.full(len(recs), k1), np.full(len(recs), k2),
                     axis, lm)
    geo = {c: a.to_pylist()
           for c, a in _clip_out_geometry_arrays(
               res.rags, res.gcodes, res.bbox).items()}
    out = []
    for oi in range(res.n_feats):
        src = recs[int(res.src[oi])]
        out.append({
            "fid_json": src["fid_json"], "tags_json": src["tags_json"],
            **{c: v[oi] for c, v in geo.items()},
            "_src": int(res.src[oi]), "_sub": int(res.sub_ord[oi]),
        })
    return out


@pytest.mark.parametrize("lm", [False, True])
@pytest.mark.parametrize("window", [(0.2, 0.7), (0.45, 0.55),
                                    (-0.1, 0.3), (0.0, 1.0)])
def test_batch_clip_matches_object_kernel(lm, window):
    rng = np.random.default_rng(11)
    opts = TileOptions(line_metrics=lm)
    for trial in range(4):
        data = rand_geojson(rng, 30)
        rows = [(i, i, json.dumps(f))
                for i, f in enumerate(data["features"])]
        recs = convert_rows_to_records(rows, opts)
        for axis in (0, 1):
            a = object_clip_records(recs, window[0], window[1], axis, lm)
            b = batch_clip_records(recs, window[0], window[1], axis, lm)
            assert len(a) == len(b)
            for ra, rb in zip(a, b):
                assert ra["_src"] == rb["_src"] and ra["_sub"] == rb["_sub"]
            assert_records_equal(a, b, f"lm={lm} ax={axis} w={window}")


def test_batch_convert_elevation_positions():
    """Valid GeoJSON positions may carry a third (elevation) element;
    the batch kernel must ignore it like convert.js reads only
    ring[j][0]/[1] — including batches that mix 2- and 3-element
    positions (ragged)."""
    poly3 = {"type": "Feature", "properties": {},
             "geometry": {"type": "Polygon", "coordinates": [[
                 [0.0, 0.0, 10.0], [10.0, 0.0, 20.0], [10.0, 10.0, 30.0],
                 [0.0, 10.0, 40.0], [0.0, 0.0, 10.0]]]}}
    line2 = {"type": "Feature", "properties": {},
             "geometry": {"type": "LineString", "coordinates": [
                 [-20.0, 5.0], [25.0, -8.0], [40.0, 12.0]]}}
    pt_mixed = {"type": "Feature", "properties": {},
                "geometry": {"type": "MultiPoint", "coordinates": [
                    [1.0, 2.0, 3.0], [4.0, 5.0]]}}
    for feats in ([poly3], [poly3, line2, pt_mixed], [pt_mixed]):
        rows = [(i, i, json.dumps(f)) for i, f in enumerate(feats)]
        opts = TileOptions()
        assert_records_equal(
            object_convert_records(rows, opts),
            convert_rows_to_records(rows, opts),
            ctx=f"elevation n={len(feats)}")
