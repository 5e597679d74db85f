"""Shared fixture helpers: reference test harness ported to the kernel.

``gen_tiles`` mirrors /root/reference/test/test-full.js:49-64 — build the
index, then enumerate every generated tile through get_tile and key the
transformed feature lists by 'z{z}-{x}-{y}'.
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

from geojson_vt_spark import TileOptions
from geojson_vt_spark.engine import SparkTileEngine
from geojson_vt_spark.kernel import LocalTileIndex
from geojson_vt_spark.pipeline import _arrow_state, _cell_tables

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


def checkpoint_worlds(eng) -> set:
    """The worlds (ord_path[0]: 0 left, 1 centre, 2 right) of the rows
    in an engine's features checkpoint, read without a Spark job."""
    tbl = eng._table("features", ["ord_path"])
    return set() if tbl is None else {
        o[0] for o in tbl.column("ord_path").to_pylist()}


def assert_source_matches(part, source, ctx="", state=None):
    """One retained source as the engine keeps it — a tile's FEATURE
    rows, ord_path [k] — equals a LocalTileIndex ``tile.source``: as
    feature_to_record records, and as kernel state (``state``, or the
    rows' own _arrow_state) equal to the records' _arrow_state."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from geojson_vt_spark.model import FEATURE_SCHEMA, feature_to_record

    from .test_vec_kernel import assert_records_equal

    schema = to_arrow_schema(FEATURE_SCHEMA)
    want = [feature_to_record((i,), f) for i, f in enumerate(source)]
    got = sorted(part.select(schema.names).to_pylist(),
                 key=lambda r: r["ord_path"])
    assert [r["ord_path"] for r in got] == [[i] for i in range(len(want))], \
        ctx
    assert_records_equal(want, got, ctx)
    got_st = _arrow_state(part) if state is None else state
    want_st = _arrow_state(pa.Table.from_pylist(want, schema=schema))
    for name in ("xs", "ys", "zs", "roff", "rfeat", "rsize", "rstart",
                 "rend", "rpoly", "router", "n_feats"):
        assert np.array_equal(getattr(got_st[0], name),
                              getattr(want_st[0], name),
                              equal_nan=True), (ctx, name)
    for i in range(1, 6):
        assert np.array_equal(got_st[i], want_st[i]), (ctx, i)
    for i in (6, 7):
        assert list(got_st[i]) == list(want_st[i]), (ctx, i)


def assert_engine_matches_index(eng, idx, probes=()):
    """A built SparkTileEngine must equal the kernel LocalTileIndex over
    the same input: the same tiles with the same features and stats,
    tileCoords order, tile count and stored leaf sources
    (assert_source_matches); then each drill probe on both
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
    # every leaf source the build stored (a root-only z0 keeps its
    # source in the z0 frontier), read back both directly and through
    # the engine's own reader
    want_src = {(t.z, t.x, t.y): t.source for t in idx.tiles.values()
                if t.source and t.z}
    path = os.path.join(eng.workdir, "sources")
    stored = (_cell_tables(ds.dataset(path, partitioning="hive").to_table())
              if os.path.isdir(path) else {})
    states = eng._stored_sources(set(want_src))
    assert set(stored) == set(states) == set(want_src), \
        sorted(set(stored) ^ set(want_src))[:5]
    for key, part in stored.items():
        assert_source_matches(part, want_src[key], key, states[key])
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
