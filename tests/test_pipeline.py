"""Seeded differential: the Spark engine against the kernel
LocalTileIndex — itself pinned to the live reference by
test_property_parity — tile for tile, on random GeoJSON mixing every
geometry kind, id shape and dateline-wrapping (±180/±540) coordinates,
across every cut shape: empty input, root-only (index_max_zoom 0, or
n ≤ index_max_points), depth-1 (index_max_zoom 1, stats-proven) and
gated cuts, with and without lineMetrics and world copies, and with
promoteId / generateId.  The multi-level Arrow clip of the internal
walk (clip_table_to_cell) is pinned against the scalar clip kernel
without Spark."""

import json
import random

import numpy as np
import pytest

from geojson_vt_spark import TileOptions
from geojson_vt_spark.engine import SparkTileEngine
from geojson_vt_spark.kernel import LocalTileIndex

from .test_property_parity import _rand_geometry
from .test_vec_kernel import assert_records_equal
from .util_fixtures import (assert_engine_matches_index,
                            assert_source_matches, checkpoint_worlds)


def _squeeze(geom):
    """The same geometry with every longitude divided by 4: nothing
    near the dateline, so no world copies."""
    if geom["type"] == "GeometryCollection":
        return {**geom, "geometries": [_squeeze(g) for g in geom["geometries"]]}

    def walk(c):
        if isinstance(c[0], (int, float)):
            return [round(c[0] / 4, 6), c[1]]
        return [walk(v) for v in c]
    return {**geom, "coordinates": walk(geom["coordinates"])}


def _mixed_collection(seed: int, n: int, wrap: bool = True) -> dict:
    rng = random.Random(seed)
    feats = []
    for i in range(n):
        geom = _rand_geometry(rng)
        f = {"type": "Feature",
             "properties": {"p": rng.randint(0, 9), "prop0": f"v{i}"},
             "geometry": geom if wrap else _squeeze(geom)}
        fid = rng.choice([None, i, str(i), f"id-{i}"])
        if fid is not None:
            f["id"] = fid
        feats.append(f)
    return {"type": "FeatureCollection", "features": feats}


# (seed, features, options, forest task budget or None, world copies,
#  the cut shape the build must take)
CASES = [
    (1, 40, dict(index_max_zoom=0, index_max_points=100000,
                 promote_id="prop0"), None, True, "root"),
    (2, 40, dict(index_max_zoom=0, index_max_points=5, line_metrics=True),
     None, True, "root"),
    (3, 40, dict(index_max_zoom=1, index_max_points=20), None, True,
     "depth1"),
    (4, 40, dict(index_max_zoom=2, index_max_points=30), None, True,
     "depth1"),
    (5, 60, dict(index_max_zoom=3, index_max_points=30), 300, True, "gated"),
    (6, 30, dict(index_max_zoom=3, generate_id=True), None, True, "root"),
    (7, 50, dict(index_max_zoom=3, index_max_points=20,
                 line_metrics=True), None, True, "depth1"),
    (8, 50, dict(index_max_zoom=2, index_max_points=20,
                 line_metrics=True), 200, True, "gated"),
    (9, 40, dict(index_max_zoom=3, index_max_points=25), None, False,
     "depth1"),
    (10, 40, dict(index_max_zoom=3, index_max_points=25), 200, False,
     "gated"),
    (11, 0, dict(index_max_zoom=3, index_max_points=25), None, True,
     "empty"),
    (12, 60, dict(index_max_zoom=4, index_max_points=10, tolerance=1,
                  buffer=128), 150, True, "gated"),
]


def _cut_shape(eng) -> str:
    lin = eng._read_lineage()
    if not lin[0]["n_tiles"]:
        return "empty"
    steps = [r for r in lin if "subtree_batch" in r][0]["steps"]
    if not lin[0]["n_split"]:
        return "root"
    return "depth1" if steps["gate"] is None else "gated"


@pytest.mark.parametrize("seed,n,opts,budget,wrap,shape", CASES,
                         ids=[f"seed{c[0]}" for c in CASES])
def test_engine_matches_local_index(spark, tmp_path, seed, n, opts,
                                    budget, wrap, shape):
    data = _mixed_collection(seed, n, wrap)
    options = TileOptions(max_zoom=8, **opts)
    eng = SparkTileEngine(spark, options, workdir=str(tmp_path))
    if budget is not None:
        eng._KERNEL_PTS_PER_TASK = budget
    eng.build_from_geojson(data)
    idx = LocalTileIndex(data, options)
    assert _cut_shape(eng) == shape

    # the features checkpoint is the z0 frontier, world copies included:
    # no frontier store, and world-0/2 rows iff the input wraps
    assert not (tmp_path / "frontier").exists()
    worlds = checkpoint_worlds(eng)
    assert bool(worlds - {1}) == (wrap and n > 0), worlds

    rng = random.Random(seed)
    leaves = sorted((t.z, t.x, t.y) for t in idx.tiles.values()
                    if t.source)
    probes = [(21, rng.randrange(1 << 21), rng.randrange(1 << 21))]
    for z, x, y in rng.sample(leaves, min(2, len(leaves))):
        probes.append((z + 2, 4 * x + rng.randrange(4),
                       4 * y + rng.randrange(4)))
    assert_engine_matches_index(eng, idx, probes)


def _tiled_table(data, opts):
    """Converted features of ``data`` as one Arrow table of z0 TILED
    rows (the frontier's Arrow shape), plus the same features as scalar
    kernel objects, both in ord order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from geojson_vt_spark.kernel.vec import convert_rows_to_records
    from geojson_vt_spark.model import FEATURE_SCHEMA, record_to_feature

    rows = [(i, i, json.dumps(f)) for i, f in enumerate(data["features"])]
    recs = convert_rows_to_records(rows, opts)
    schema = to_arrow_schema(FEATURE_SCHEMA)
    cols = [pa.array(np.zeros(len(recs), dtype=np.int32)) for _ in "zxy"]
    cols += [pa.array([r[f.name] for r in recs], f.type) for f in schema]
    tbl = pa.Table.from_arrays(cols, names=["z", "x", "y", *schema.names])
    return tbl, [record_to_feature(r)[1] for r in recs]


def _scalar_chain(feats, cz, cx, cy, opts):
    """The reference's x-then-y clip per splitTile level from z0
    (src/index.js:134-147) through the scalar kernel's clip_features."""
    from geojson_vt_spark.kernel.clip import clip_features

    k1 = 0.5 * opts.buffer / opts.extent
    k2, k3, k4 = 0.5 - k1, 0.5 + k1, 1 + k1
    for lvl in range(1, cz + 1):
        for axis, c in ((0, cx >> (cz - lvl)), (1, cy >> (cz - lvl))):
            lo, hi = (c >> 1) + (k2 if c & 1 else -k1), (c >> 1) + (
                k4 if c & 1 else k3)
            mins = [f.minx if axis == 0 else f.miny for f in feats]
            maxs = [f.maxx if axis == 0 else f.maxy for f in feats]
            feats = clip_features(feats, 1 << (lvl - 1), lo, hi, axis,
                                  min(mins, default=0.0),
                                  max(maxs, default=0.0),
                                  opts.line_metrics) or []
    return feats


@pytest.mark.parametrize("lm", [False, True])
def test_clip_table_to_cell_matches_scalar_chain(lm):
    """clip_table_to_cell, from z0 and from the target's parent, keeps
    the same features in ord order, with the same ids, tags and
    geometry, as the scalar kernel's level-by-level clip."""
    from geojson_vt_spark.model import feature_to_record
    from geojson_vt_spark.pipeline import clip_table_to_cell

    rng = random.Random(41 + lm)
    n_rows = 0
    for trial in range(6):
        opts = TileOptions(line_metrics=lm,
                           buffer=rng.choice([0, 64, 128, 512]))
        tbl, feats = _tiled_table(
            _mixed_collection(500 + trial, 40, wrap=trial % 2 == 0), opts)
        for _ in range(10):
            cz = rng.randint(1, 5)
            cx, cy = rng.randrange(1 << cz), rng.randrange(1 << cz)
            want = [feature_to_record((), f)
                    for f in _scalar_chain(feats, cz, cx, cy, opts)]
            parent = clip_table_to_cell(tbl, cz - 1, cx >> 1, cy >> 1,
                                        opts) if cz > 1 else tbl
            for got_tbl in (clip_table_to_cell(tbl, cz, cx, cy, opts),
                            clip_table_to_cell(parent, cz, cx, cy, opts,
                                               from_zoom=cz - 1)):
                got = sorted(got_tbl.to_pylist(),
                             key=lambda r: r["ord_path"])
                assert all((r["z"], r["x"], r["y"]) == (cz, cx, cy)
                           for r in got)
                # ord paths: the input's plus two sub-ordinals per level
                assert all(len(r["ord_path"]) == 2 + 2 * cz for r in got)
                assert_records_equal(want, got, f"z{cz}/{cx}/{cy}")
            n_rows += len(want)
    assert n_rows > 100


@pytest.mark.parametrize("lm", [False, True])
def test_drill_split_matches_local_index(lm):
    """batch_split_subtree with a target is getTile's drill-down: from a
    tile's retained source it makes the same new tiles as
    LocalTileIndex.split_tile with cz/cx/cy, in the same creation
    order, with the same features, num_points and retained sources.
    Each retained source (its FEATURE rows in the returned sources
    table) equals LocalTileIndex's tile.source as records, and reads
    back through _arrow_state as the kernel state built from those
    records.
    The drills run in sequence, as getTile's do, so later roots include
    earlier drills' off-path tiles and targets, some at max_zoom; some
    targets lie past max_zoom."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from geojson_vt_spark.kernel.transform import transform_tile
    from geojson_vt_spark.model import FEATURE_SCHEMA, feature_to_record
    from geojson_vt_spark.pipeline import (_arrow_state, _cell_tables,
                                           batch_split_subtree)

    schema = to_arrow_schema(FEATURE_SCHEMA)
    rng = random.Random(61 + lm)
    n_drills = n_new = at_max = past_max = 0
    for trial in range(8):
        opts = TileOptions(line_metrics=lm, buffer=(0, 64, 512)[trial % 3],
                           max_zoom=rng.choice([3, 5]),
                           index_max_zoom=rng.choice([1, 2]),
                           index_max_points=rng.choice([10, 40]))
        data = _mixed_collection(900 + trial, 40, wrap=trial % 2 == 0)
        idx = LocalTileIndex(data, opts)
        for _ in range(13):
            root = rng.choice([t for t in idx.tiles.values() if t.source])
            rz, rx, ry = root.z, root.x, root.y
            d = rng.randint(1, 4)
            cz, cx, cy = (rz + d, (rx << d) + rng.randrange(1 << d),
                          (ry << d) + rng.randrange(1 << d))
            src = root.source
            state = _arrow_state(pa.Table.from_pylist(
                [feature_to_record((i,), f) for i, f in enumerate(src)],
                schema=schema))
            rows, sources = batch_split_subtree(
                None, rz, rx, ry, opts, state=state,
                root_forced_split=False, target=(cz, cx, cy))
            sources = _cell_tables(sources)
            before = len(idx.tile_coords)
            idx.split_tile(src, rz, rx, ry, cz, cx, cy)

            ctx = f"trial {trial} z{rz}/{rx}/{ry} -> z{cz}/{cx}/{cy}"
            assert (rows[0]["z"], rows[0]["x"], rows[0]["y"]) == \
                (rz, rx, ry), ctx
            assert rows[0]["is_split"] == (root.source is None), ctx
            assert [(r["z"], r["x"], r["y"]) for r in rows[1:]] == \
                idx.tile_coords[before:], ctx
            for r in rows[1:]:
                key = (r["z"], r["x"], r["y"])
                t = idx.tiles[r["tile_id"]]
                assert r["num_points"] == t.num_points, (ctx, key)
                assert SparkTileEngine._unpack_tile_features(r) == \
                    transform_tile(t, opts.extent)["features"], (ctx, key)
                if t.source:
                    assert_source_matches(sources[key], t.source,
                                          f"{ctx} {key}")
                else:
                    assert key not in sources, (ctx, key)
            n_drills += 1
            n_new += len(rows) - 1
            at_max += rz == opts.max_zoom
            past_max += cz > opts.max_zoom
    assert n_drills >= 100 and n_new > 300 and at_max and past_max, (
        n_drills, n_new, at_max, past_max)


# ---------------------------------------------------------------- ingest

def _assert_table_matches_records(tbl, recs, ctx):
    """The convert's Arrow table equals convert_rows_to_records column
    for column: FEATURE_SCHEMA's Arrow types, ord paths, ids, tags,
    geometry, metrics and bboxes, bit for bit."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from geojson_vt_spark.model import FEATURE_SCHEMA
    schema = to_arrow_schema(FEATURE_SCHEMA)
    assert tbl.column_names == schema.names, ctx
    assert [f.type for f in tbl.schema] == [f.type for f in schema], ctx
    got = tbl.to_pylist()
    assert [r["ord_path"] for r in got] == [r["ord_path"] for r in recs], ctx
    assert [r["poly_lens"] is None for r in got] == [
        r["poly_lens"] is None for r in recs], ctx
    assert_records_equal(recs, got, ctx)


_EDGE_ROWS = [
    (0, None, json.dumps({"type": "Feature", "id": "mp", "properties": {"a": 1},
                          "geometry": {"type": "MultiPolygon", "coordinates": [
                              [[[0, 0], [10, 0], [10, 10], [0, 0]],
                               [[2, 2], [3, 2], [3, 3], [2, 2]]],
                              [],
                              [[[20, 20], [30, 20], [30, 30], [20, 20]]]]}})),
    (1, 1, json.dumps({"type": "Feature", "properties": {"prop0": "p1"},
                       "geometry": {"type": "Polygon", "coordinates": [
                           [[-5, -5], [5, -5], [5, 5], [-5, -5]]]}})),
    (2, 0, json.dumps({"type": "Feature", "id": 7, "properties": None,
                       "geometry": {"type": "GeometryCollection", "geometries": [
                           {"type": "Point", "coordinates": [1, 2]},
                           {"type": "MultiLineString", "coordinates": [
                               [[0, 0], [1, 1], [2, 0]], [[5, 5], [6, 7]]]},
                           {"type": "MultiPolygon", "coordinates": [
                               [[[40, 40], [41, 40], [41, 41], [40, 40]]]]}]}})),
    (3, None, json.dumps({"type": "Feature", "properties": {"prop0": 3},
                          "geometry": {"type": "LineString", "coordinates": [
                              [170, 10], [-170, 12], [0, 0, 99]]}})),
    (4, 4, json.dumps({"type": "Feature", "geometry": None})),
    (5, 5, json.dumps({"geometry": {"type": "MultiPoint", "coordinates": []}})),
    (6, None, json.dumps({"geometry": {"type": "MultiPoint",
                                       "coordinates": [[1, 1], [2, 3]]}})),
]


@pytest.mark.parametrize("opts", [
    dict(), dict(line_metrics=True), dict(promote_id="prop0"),
    dict(generate_id=True), dict(tolerance=0, max_zoom=4)],
    ids=["default", "line_metrics", "promote_id", "generate_id", "tol0"])
def test_convert_table_matches_records(opts):
    """convert_rows_to_table (the convert stage's Arrow egress) equals
    convert_rows_to_records on mixed collections, on MultiPolygons next
    to other types (poly_lens set / null), GeometryCollections, NULL
    gen_index, dropped rows, and parsed dicts in place of text."""
    from geojson_vt_spark.kernel.vec import convert_rows_to_records
    from geojson_vt_spark.pipeline import convert_rows_to_table

    options = TileOptions(**opts)
    for seed in range(4):
        data = _mixed_collection(seed, 30, wrap=seed % 2 == 0)
        rows = [(i, i, json.dumps(f)) for i, f in enumerate(data["features"])]
        recs = convert_rows_to_records(rows, options)
        _assert_table_matches_records(
            convert_rows_to_table(rows, options), recs, f"mixed {seed}")
        # the fused ingest hands over parsed dicts, not text
        parsed = [(o, g, json.loads(f)) for o, g, f in rows]
        _assert_table_matches_records(
            convert_rows_to_table(parsed, options), recs, f"dicts {seed}")
    recs = convert_rows_to_records(_EDGE_ROWS, options)
    assert any(r["poly_lens"] is not None for r in recs)
    assert any(r["poly_lens"] is None for r in recs)
    _assert_table_matches_records(
        convert_rows_to_table(_EDGE_ROWS, options), recs, "edge rows")


def _wrap_edge_features(b: float) -> list:
    """Features whose bbox ends exactly at x = b or x = 1 - b, the
    thresholds of a side copy (lon ∓(0.5 - b)·360 projects exactly)."""
    lon = (0.5 - b) * 360
    return [{"type": "Feature", "properties": {"edge": i}, "geometry": g}
            for i, g in enumerate((
                {"type": "Point", "coordinates": [-lon, 10]},
                {"type": "Point", "coordinates": [lon, -10]},
                {"type": "LineString", "coordinates": [[-lon, 0],
                                                       [20 - lon, 5]]},
                {"type": "LineString", "coordinates": [[lon - 20, 0],
                                                       [lon, 5]]}))]


@pytest.mark.parametrize("lm", [False, True])
def test_wrap_table_matches_scalar_wrap(lm):
    """wrap_table over convert_rows_to_table (the ingest stage's batch
    body) equals the scalar kernel's wrap over the scalar convert,
    feature for feature in ord_path order: geometry, bbox, ring
    size/start/end, ids and tags.  ord_path is [world, *ord, slice].
    The wrap is per row, so the batches may split the input anywhere.
    Each collection also holds features ending exactly on a side-copy
    threshold."""
    from geojson_vt_spark.kernel.convert import convert
    from geojson_vt_spark.kernel.wrap import wrap
    from geojson_vt_spark.model import feature_to_record
    from geojson_vt_spark.pipeline import convert_rows_to_table, wrap_table

    def wrapped(rows, options):
        return wrap_table(convert_rows_to_table(rows, options),
                          options).to_pylist()

    worlds = set()
    for seed in range(8):
        options = TileOptions(line_metrics=lm,
                              buffer=(64, 0, 512)[seed % 3])
        data = _mixed_collection(700 + seed, 40)
        data["features"] += _wrap_edge_features(
            options.buffer / options.extent)
        rows = [(i, i, json.dumps(f)) for i, f in enumerate(data["features"])]
        want = [feature_to_record((), f)
                for f in wrap(convert(data, options), options)]
        for cut in (len(rows), 13):
            got = sorted(wrapped(rows[:cut], options)
                         + wrapped(rows[cut:], options),
                         key=lambda r: r["ord_path"])
            assert all(len(r["ord_path"]) == 4 for r in got)
            assert_records_equal(want, got, f"seed {seed} cut {cut}")
        worlds |= {r["ord_path"][0] for r in got}
    assert worlds == {0, 1, 2}


def test_convert_table_all_rows_dropped_is_typed_and_empty():
    """A batch whose every row drops (null geometry, empty coordinates)
    gives a zero-row table with the FEATURE types, as does no row."""
    from geojson_vt_spark.pipeline import convert_rows_to_table

    for rows in (_EDGE_ROWS[4:6], []):
        tbl = convert_rows_to_table(rows, TileOptions())
        assert tbl.num_rows == 0
        _assert_table_matches_records(tbl, [], "dropped")


def _python_maps(df) -> int:
    """Python map nodes (MapInPandas / MapInArrow) in the physical plan,
    a cached frame's plan included."""
    import re
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bMapIn(?:Pandas|Arrow)\b", plan))


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()), key=lambda r: r[0])


def test_extract_convert_fuse_into_one_python_stage(spark, tmp_path):
    """features_from_json_df(extract_geo_features_df(pages)) is one
    Python stage over the pages' url and text; a derived or a persisted
    extract frame keeps both stages.  All three give the same rows."""
    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    path = str(tmp_path / "pages")
    synth_pages_df(spark, 400, seed=5).write.parquet(path)
    pages = spark.read.parquet(path)
    opts = TileOptions(index_max_zoom=3)

    fused = features_from_json_df(extract_geo_features_df(pages), opts)
    assert _python_maps(fused) == 1
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<url:string,text:string>" in plan, plan
    want = _sorted_rows(fused)
    assert len(want) == 400

    derived = features_from_json_df(
        extract_geo_features_df(pages).where("input_ord >= 0"), opts)
    assert _python_maps(derived) == 2
    assert _sorted_rows(derived) == want

    ext = extract_geo_features_df(pages).persist()
    try:
        staged = features_from_json_df(ext, opts)
        assert _python_maps(staged) == 2
        assert _sorted_rows(staged) == want
    finally:
        ext.unpersist()
