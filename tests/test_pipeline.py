"""Seeded differential: the Spark engine against the kernel
LocalTileIndex — itself pinned to the live reference by
test_property_parity — tile for tile, on random GeoJSON mixing every
geometry kind, id shape and dateline-wrapping (±180/±540) coordinates,
across every cut shape: empty input, root-only (index_max_zoom 0, or
n ≤ index_max_points), depth-1 (index_max_zoom 1, stats-proven) and
gated cuts, with and without lineMetrics and world copies, and with
promoteId / generateId."""

import random

import pytest

from geojson_vt_spark import TileOptions
from geojson_vt_spark.engine import SparkTileEngine
from geojson_vt_spark.kernel import LocalTileIndex

from .test_property_parity import _rand_geometry
from .util_fixtures import assert_engine_matches_index


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

    # world copies are written once as the z0 frontier; without them
    # the frontier is a view over the features checkpoint
    assert (tmp_path / "frontier" / "z=0").exists() == (wrap and n > 0)

    rng = random.Random(seed)
    leaves = sorted((t.z, t.x, t.y) for t in idx.tiles.values()
                    if t.source)
    probes = [(21, rng.randrange(1 << 21), rng.randrange(1 << 21))]
    for z, x, y in rng.sample(leaves, min(2, len(leaves))):
        probes.append((z + 2, 4 * x + rng.randrange(4),
                       4 * y + rng.randrange(4)))
    assert_engine_matches_index(eng, idx, probes)
