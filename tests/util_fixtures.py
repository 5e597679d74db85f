"""Shared fixture helpers: reference test harness ported to the kernel.

``gen_tiles`` mirrors /root/reference/test/test-full.js:49-64 — build the
index, then enumerate every generated tile through get_tile and key the
transformed feature lists by 'z{z}-{x}-{y}'.
"""

from __future__ import annotations

import json
import os
import uuid

from geojson_vt_spark import TileOptions
from geojson_vt_spark.engine import SparkTileEngine
from geojson_vt_spark.kernel import LocalTileIndex

FIXTURE_DIR = "/root/reference/test/fixtures"


def load_fixture(name: str):
    with open(os.path.join(FIXTURE_DIR, name)) as f:
        return json.load(f)


def gen_tiles(data, **opts):
    merged = {"index_max_zoom": 0, "index_max_points": 10000}
    merged.update(opts)
    index = LocalTileIndex(data, TileOptions(**merged))
    out = {}
    for tile in index.tiles.values():
        key = f"z{tile.z}-{tile.x}-{tile.y}"
        out[key] = index.get_tile(tile.z, tile.x, tile.y)["features"]
    return out


def assert_engine_matches_index(eng, idx, probes=()):
    """A built SparkTileEngine must equal the kernel LocalTileIndex over
    the same input: the same tiles with the same features and stats,
    tileCoords order, and tile count; then each drill probe on both
    sides, and tileCoords again with the drilled tiles appended.
    Last, a fresh engine over the same workdir serves one get_tiles
    batch — every built tile, the probes and an out-of-range key —
    without a Spark job, equal to LocalTileIndex."""
    want_stats = {(t.z, t.x, t.y): (
        t.num_features, t.num_points, t.num_simplified,
        t.minx, t.miny, t.maxx, t.maxy, t.source is None)
        for t in idx.tiles.values()}
    want = {f"z{z}-{x}-{y}": idx.get_tile(z, x, y)["features"]
            for z, x, y in want_stats}
    got = eng.enumerate_tiles()
    assert set(got) == set(want), sorted(set(got) ^ set(want))[:5]
    bad = [k for k in want if got[k] != want[k]]
    assert not bad, bad[:5]
    got_stats = {(r["z"], r["x"], r["y"]): (
        r["num_features"], r["num_points"], r["num_simplified"],
        r["minx"], r["miny"], r["maxx"], r["maxy"], r["is_split"])
        for r in eng.tiles().collect()}
    assert got_stats == want_stats
    assert eng.tile_count() == len(want)
    assert eng.tile_coords() == idx.tile_coords
    for zxy in probes:
        a, b = eng.get_tile(*zxy), idx.get_tile(*zxy)
        assert (a is None) == (b is None), zxy
        if a is not None:
            assert a["features"] == b["features"], zxy
    assert eng.tile_coords() == idx.tile_coords

    fresh = SparkTileEngine(eng.spark, eng.options, workdir=eng.workdir)
    batch = [*want_stats, *probes, (25, 0, 0)]
    sc = eng.spark.sparkContext
    group = f"gvt-batch-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one get_tiles batch")
    try:
        got = fresh.get_tiles(batch)
    finally:
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(None, None)
    assert n_jobs == 0, f"get_tiles batch ran {n_jobs} Spark jobs"
    for zxy in batch:
        a, b = got[zxy], idx.get_tile(*zxy)
        assert (a is None) == (b is None), zxy
        if a is not None:
            assert a["features"] == b["features"], zxy
    assert fresh.tile_coords() == idx.tile_coords
