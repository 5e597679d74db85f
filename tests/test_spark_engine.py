"""Distributed engine parity: the Spark pyramid must reproduce the
reference goldens tile-for-tile, byte-identically."""

import pytest

from geojson_vt_spark import TileOptions
from geojson_vt_spark.engine import SparkTileEngine

from .util_fixtures import load_fixture


def _gen_tiles_spark(spark, tmp_path, data, **opts):
    merged = {"index_max_zoom": 0, "index_max_points": 10000}
    merged.update(opts)
    eng = SparkTileEngine(spark, TileOptions(**merged), workdir=str(tmp_path))
    eng.build_from_geojson(data)
    return eng


def _loop_engine(spark, opts, workdir):
    """An engine that always takes the per-zoom loop: a zero forest
    task budget makes no cut feasible (the loop never reads it)."""
    eng = SparkTileEngine(spark, opts, workdir=workdir)
    eng._KERNEL_PTS_PER_TASK = 0
    return eng


@pytest.mark.parametrize("input_file,expected_file,opts", [
    ("feature.json", "feature-tiles.json", {}),
    ("collection.json", "collection-tiles.json", {}),
    ("single-geom.json", "single-geom-tiles.json", {}),
    ("dateline.json", "dateline-metrics-tiles.json", {"line_metrics": True}),
    ("ids.json", "ids-promote-id-tiles.json", {"promote_id": "prop0"}),
])
def test_spark_full_tiling_small(spark, tmp_path, input_file, expected_file, opts):
    eng = _gen_tiles_spark(spark, tmp_path, load_fixture(input_file), **opts)
    assert eng.enumerate_tiles() == load_fixture(expected_file)


@pytest.mark.slow
def test_spark_full_tiling_us_states(spark, tmp_path):
    eng = _gen_tiles_spark(spark, tmp_path, load_fixture("us-states.json"),
                           index_max_zoom=7, index_max_points=200)
    assert eng.enumerate_tiles() == load_fixture("us-states-tiles.json")


def test_spark_get_tile_drilldown(spark, tmp_path):
    eng = SparkTileEngine(spark, TileOptions(), workdir=str(tmp_path))
    eng.build_from_geojson(load_fixture("us-states.json"))

    expected = load_fixture("us-states-z7-37-48.json")
    assert eng.get_tile(7, 37, 48)["features"] == expected
    assert eng.get_tile("7", "37", "48")["features"] == expected

    square = [{
        "geometry": [[[-64, 4160], [-64, -64], [4160, -64],
                      [4160, 4160], [-64, 4160]]],
        "type": 3,
        "tags": {"name": "Pennsylvania", "density": 284.3},
        "id": "42",
    }]
    assert eng.get_tile(9, 148, 192)["features"] == square

    assert eng.get_tile(11, 800, 400) is None
    assert eng.get_tile(-5, 123, 400) is None
    assert eng.get_tile(25, 200, 200) is None

    assert eng.total_tiles() == 37


def test_spark_resume_mid_pyramid(spark, tmp_path):
    """Kill-and-resume: lineage checkpoints let a new engine continue
    without recomputing finished zooms (north_rule requirement)."""
    from geojson_vt_spark.pipeline import (features_from_json_df,
                                           geojson_to_input_rows, wrap_df)
    data = load_fixture("us-states.json")
    opts = TileOptions(index_max_zoom=4, index_max_points=200)

    full = SparkTileEngine(spark, opts, workdir=str(tmp_path / "full"))
    full.build_from_geojson(data)

    # simulate a killed run: copy checkpoints of zooms 0..2 only
    import json as _json
    import shutil
    part_dir = tmp_path / "part"
    for sub in ("frontier", "tiles", "tilefeat", "sources"):
        for zdir in sorted((tmp_path / "full" / sub).glob("z=*")):
            zv = int(zdir.name.split("=")[1])
            if zv <= 3 if sub == "frontier" else zv <= 2:
                shutil.copytree(zdir, part_dir / sub / zdir.name)
    lines = [_json.loads(ln) for ln in
             (tmp_path / "full" / "lineage.json").read_text().splitlines()]
    (part_dir / "lineage.json").write_text(
        "\n".join(_json.dumps(r) for r in lines if r.get("zoom", 99) <= 2) + "\n")

    resumed = SparkTileEngine(spark, opts, workdir=str(part_dir))
    df = features_from_json_df(
        spark.createDataFrame(geojson_to_input_rows(data),
                              "input_ord long, gen_index long, feature_json string"),
        opts)
    resumed.build(wrap_df(df, opts), resume=True)

    assert resumed.enumerate_tiles() == full.enumerate_tiles()


def test_spark_get_tiles_batch(spark, tmp_path):
    """get_tiles resolves a mixed batch (hits, drill-downs, misses)
    identically to per-request get_tile."""
    eng = SparkTileEngine(spark, TileOptions(), workdir=str(tmp_path))
    eng.build_from_geojson(load_fixture("us-states.json"))

    coords = [(0, 0, 0), (7, 37, 48), (9, 148, 192), (11, 800, 400),
              (25, 200, 200)]
    batch = eng.get_tiles(coords)

    ref = SparkTileEngine(spark, TileOptions(), workdir=str(tmp_path / "b"))
    ref.build_from_geojson(load_fixture("us-states.json"))
    for c in coords:
        one = ref.get_tile(*c)
        if one is None:
            assert batch[c] is None
        else:
            assert batch[c]["features"] == one["features"]


def test_spark_tile_coords_matches_reference_order(spark, tmp_path):
    """SparkTileEngine.tile_coords() must enumerate in the reference's
    insertion order (index.js tileCoords) — pinned by the kernel index,
    which is itself fixture-verified against the live reference —
    including tiles appended by drill-down getTile calls."""
    from geojson_vt_spark.kernel import LocalTileIndex

    data = load_fixture("us-states.json")
    opts = TileOptions(index_max_zoom=4, index_max_points=500)
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path))
    eng.build_from_geojson(data)
    ref = LocalTileIndex(data, opts)
    assert eng.tile_coords() == ref.tile_coords

    for c in [(7, 37, 48), (9, 148, 192), (6, 20, 30)]:
        eng.get_tile(*c)
        ref.get_tile(*c)
    assert eng.tile_coords() == ref.tile_coords


def test_spark_get_tiles_all_hit_two_jobs(spark, tmp_path):
    """An all-hit batch (distributed + subtree tiles, several zooms)
    must resolve in at most 2 Spark jobs (VERDICT r1 #7)."""
    eng = SparkTileEngine(spark, TileOptions(index_max_zoom=3,
                                             index_max_points=200),
                          workdir=str(tmp_path))
    eng.build_from_geojson(load_fixture("us-states.json"))

    coords = [(z, x, y) for (z, x, y) in eng.tile_coords()][:12]
    assert len(coords) >= 6
    eng.warm()  # open the stores once, like a serving process would

    sc = spark.sparkContext
    sc.setJobGroup("gvt-batch-hit", "all-hit batch")
    batch = eng.get_tiles(coords)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("gvt-batch-hit"))
    sc.setJobGroup(None, None)
    assert n_jobs <= 2, f"all-hit batch ran {n_jobs} Spark jobs"
    for c in coords:
        one = eng.get_tile(*c)
        assert batch[c]["features"] == one["features"]


def test_spark_batch_deep_drill_bounded_jobs(spark, tmp_path):
    """A get_tiles batch of 100+ drill-down descendants of one retained
    source must resolve in a BOUNDED number of Spark jobs (existence
    fetch + the 2-job drill prefetch — VERDICT r2 #8), with outputs
    identical to the reference kernel per-call path."""
    from geojson_vt_spark.kernel import LocalTileIndex

    data = load_fixture("us-states.json")
    opts = TileOptions(index_max_zoom=3, index_max_points=200)
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path))
    eng.build_from_geojson(data)
    eng.warm()

    # pick a built leaf that retains a source, then enumerate its
    # descendants three levels down (4^3 = 64 per leaf; two leaves
    # give 128 requests)
    leaves = [r for r in eng.tiles()
              .where("has_source AND num_features > 0")
              .select("z", "x", "y").collect()][:2]
    assert len(leaves) == 2
    coords = []
    for r in leaves:
        dz = 3
        for dx in range(1 << dz):
            for dy in range(1 << dz):
                coords.append((r["z"] + dz, (r["x"] << dz) + dx,
                               (r["y"] << dz) + dy))
    assert len(coords) >= 100

    sc = spark.sparkContext
    sc.setJobGroup("gvt-batch-drill", "deep drill batch")
    batch = eng.get_tiles(coords)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("gvt-batch-drill"))
    sc.setJobGroup(None, None)
    assert n_jobs <= 4, f"deep-drill batch ran {n_jobs} Spark jobs"

    ref = LocalTileIndex(data, opts)
    for c in coords:
        want = ref.get_tile(*c)
        if want is None:
            assert batch[c] is None, c
        else:
            assert batch[c]["features"] == want["features"], c


def test_spark_resume_view_mode_corpus(spark, tmp_path):
    """Kill-and-resume through build_from_converted's no-wrap fast path,
    where the z0 frontier is a VIEW over the features checkpoint (no
    frontier/z=0 directory exists on disk)."""
    import json as _json
    import shutil

    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    opts = TileOptions(index_max_zoom=4, index_max_points=200)
    pages = synth_pages_df(spark, 2000, seed=5)
    feats = features_from_json_df(extract_geo_features_df(pages), opts)

    full = SparkTileEngine(spark, opts, workdir=str(tmp_path / "full"),
                           subtree_max_points=500)
    full.build_from_converted(feats)
    assert not (tmp_path / "full" / "frontier" / "z=0").exists(), \
        "no-wrap corpus build must use the z0 view"

    # simulate a kill after zoom 1: features + early checkpoints only
    part = tmp_path / "part"
    shutil.copytree(tmp_path / "full" / "features", part / "features")
    for sub in ("frontier", "tiles", "tilefeat", "sources"):
        src = tmp_path / "full" / sub
        if not src.exists():
            continue
        for zdir in sorted(src.glob("z=*")):
            zv = int(zdir.name.split("=")[1])
            if (zv <= 2 if sub == "frontier" else zv <= 1):
                shutil.copytree(zdir, part / sub / zdir.name)
    lines = [_json.loads(ln) for ln in
             (tmp_path / "full" / "lineage.json").read_text().splitlines()]
    (part / "lineage.json").write_text(
        "\n".join(_json.dumps(r) for r in lines
                  if r.get("zoom", 99) <= 1) + "\n")

    resumed = SparkTileEngine(spark, opts, workdir=str(part),
                              subtree_max_points=500)
    resumed.build_from_converted(feats, resume=True)
    assert resumed.enumerate_tiles() == full.enumerate_tiles()


def test_depth1_forest_matches_loop_layout(spark, tmp_path):
    """A small corpus on a default engine takes the forest with the
    stats-proven depth-1 cut (four z1 leaf tasks, no gate job, no
    per-zoom rounds) and must produce byte-identical tiles, stats,
    insertion order and drill-down behavior to the distributed loop on
    the same corpus — including z1 roots classified by the in-kernel
    stop rule and the split root's empty children."""
    import json as _json

    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    opts = TileOptions(index_max_zoom=6, index_max_points=500)
    pages = synth_pages_df(spark, 2500, seed=11)
    feats = features_from_json_df(extract_geo_features_df(pages), opts)

    wave = SparkTileEngine(spark, opts, workdir=str(tmp_path / "w"))
    # approx_rows is still accepted, and ignored
    wave.build_from_converted(feats, approx_rows=2500)
    loop = _loop_engine(spark, opts, str(tmp_path / "l"))
    loop.build_from_converted(feats)

    lin = [_json.loads(ln) for ln in open(tmp_path / "w" / "lineage.json")]
    st = [r for r in lin if r.get("subtree_batch")][0]
    assert st.get("forest") and st["steps"]["gate"] is None, st
    assert st["steps"]["n_leaves"] == 4 and st["steps"]["n_internal"] == 0
    # the wave layout really is one wave (no z1 frontier, no z1 render)
    assert not (tmp_path / "w" / "frontier").exists()
    assert not (tmp_path / "w" / "tilefeat" / "z=1").exists()
    assert (tmp_path / "l" / "frontier" / "z=1").exists()

    a, b = wave.enumerate_tiles(), loop.enumerate_tiles()
    assert set(a) == set(b)
    assert not [k for k in a if a[k] != b[k]]
    assert wave.tile_coords() == loop.tile_coords()
    ra = {(r["z"], r["x"], r["y"]): r for r in wave.tiles().collect()}
    rb = {(r["z"], r["x"], r["y"]): r for r in loop.tiles().collect()}
    assert ra == rb
    for zxy in [(0, 0, 0), (1, 0, 0), (1, 1, 1), (4, 3, 7),
                (9, 137, 190), (12, 1100, 1500)]:
        ta, tb = wave.get_tile(*zxy), loop.get_tile(*zxy)
        assert (ta is None) == (tb is None), zxy
        if ta is not None:
            assert ta["features"] == tb["features"], zxy
    assert wave.verify_snapshot() == []


def test_depth1_forest_resume_rebuilds_missing_wave(spark, tmp_path):
    """Kill-and-resume on the depth-1 forest path: a missing subtree
    batch is re-run from the durable features checkpoint (there is no
    z1 frontier store to replay), and a completed build resumes as a
    no-op."""
    import json as _json
    import shutil

    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    opts = TileOptions(index_max_zoom=5, index_max_points=300)
    pages = synth_pages_df(spark, 1500, seed=23)
    feats = features_from_json_df(extract_geo_features_df(pages), opts)

    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path / "e"))
    eng.build_from_converted(feats)
    want = eng.enumerate_tiles()
    lin = [_json.loads(ln) for ln in open(tmp_path / "e" / "lineage.json")]
    st = [r for r in lin if r.get("subtree_batch")][0]
    assert st.get("forest") and st["steps"]["gate"] is None, st

    # no-op resume: nothing to redo
    again = SparkTileEngine(spark, opts, workdir=str(tmp_path / "e"))
    again.build_from_converted(feats, resume=True)
    assert again.enumerate_tiles() == want

    # killed mid-wave: subtree batch gone, lineage intact → the resume
    # path re-runs the leaf wave from the features checkpoint
    shutil.rmtree(tmp_path / "e" / "subtree")
    resumed = SparkTileEngine(spark, opts, workdir=str(tmp_path / "e"))
    resumed.build_from_converted(feats, resume=True)
    assert resumed.enumerate_tiles() == want


def test_forest_wave_matches_loop_layout(spark, tmp_path):
    """Forest wave (bounded quadtree cut: leaf subtree tasks + narrow
    distributed renders of internal cells + driver empty back-fill)
    must be indistinguishable from the per-zoom loop: same tiles,
    stats, insertion order, drill-downs.  _KERNEL_PTS_PER_TASK is
    shrunk so the stats cannot prove a depth-1 cut and the cut recurses
    deep."""
    import json as _json
    import shutil as _sh

    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    opts = TileOptions(index_max_zoom=6, index_max_points=100)
    pages = synth_pages_df(spark, 2500, seed=11)
    feats = features_from_json_df(extract_geo_features_df(pages), opts)

    forest = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    forest._KERNEL_PTS_PER_TASK = 2000
    forest.build_from_converted(feats)
    lin = [_json.loads(ln)
           for ln in open(tmp_path / "f" / "lineage.json")]
    assert any(r.get("forest") for r in lin), lin
    st = [r for r in lin if r.get("subtree_batch")][0]["steps"]
    assert st["n_leaves"] and st["n_internal"], st

    loop = _loop_engine(spark, opts, str(tmp_path / "l"))
    loop.build_from_converted(feats)

    a, b = forest.enumerate_tiles(), loop.enumerate_tiles()
    assert set(a) == set(b)
    assert not [k for k in a if a[k] != b[k]]
    assert forest.tile_coords() == loop.tile_coords()
    ra = {(r["z"], r["x"], r["y"]): r for r in forest.tiles().collect()}
    rb = {(r["z"], r["x"], r["y"]): r for r in loop.tiles().collect()}
    assert ra == rb
    for zxy in [(0, 0, 0), (1, 0, 0), (2, 1, 2), (4, 3, 7),
                (9, 137, 190), (12, 1100, 1500)]:
        ta, tb = forest.get_tile(*zxy), loop.get_tile(*zxy)
        assert (ta is None) == (tb is None), zxy
        if ta is not None:
            assert ta["features"] == tb["features"], zxy
    assert forest.verify_snapshot() == []

    # kill-and-resume: no lineage → clean rebuild from the checkpoint
    _sh.rmtree(tmp_path / "f" / "subtree")
    (tmp_path / "f" / "lineage.json").unlink()
    resumed = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    resumed._KERNEL_PTS_PER_TASK = 2000
    resumed.build_from_converted(feats, resume=True)
    assert resumed.enumerate_tiles() == a


def test_forest_wave_line_metrics_parity(spark, tmp_path):
    """Forest parity on the lineMetrics + nondefault tolerance/buffer
    surface (the clip-start/end tag injection rides the shared render
    kernel inside the narrow internal-cell render)."""
    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    opts = TileOptions(index_max_zoom=5, index_max_points=60,
                       line_metrics=True, tolerance=2, buffer=96)
    pages = synth_pages_df(spark, 1500, seed=23)
    feats = features_from_json_df(extract_geo_features_df(pages), opts)
    forest = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    forest._KERNEL_PTS_PER_TASK = 1500
    forest.build_from_converted(feats)
    loop = _loop_engine(spark, opts, str(tmp_path / "l"))
    loop.build_from_converted(feats)
    a, b = forest.enumerate_tiles(), loop.enumerate_tiles()
    assert set(a) == set(b)
    assert not [k for k in a if a[k] != b[k]]
    ra = {(r["z"], r["x"], r["y"]): r for r in forest.tiles().collect()}
    rb = {(r["z"], r["x"], r["y"]): r for r in loop.tiles().collect()}
    assert ra == rb
    assert forest.tile_coords() == loop.tile_coords()


def test_tile_count_matches_tiles_count(spark, tmp_path):
    """tile_count() (parquet-footer metadata, no Spark job) must equal
    tiles().count() on every build layout: loop, depth-1 forest (the
    default at this size) and a forest with internal cells."""
    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    opts = TileOptions(index_max_zoom=6, index_max_points=100)
    pages = synth_pages_df(spark, 2500, seed=11)
    feats = features_from_json_df(extract_geo_features_df(pages), opts)

    wave = SparkTileEngine(spark, opts, workdir=str(tmp_path / "w"))
    wave.build_from_converted(feats)
    assert wave.tile_count() == wave.tiles().count()

    loop = _loop_engine(spark, opts, str(tmp_path / "l"))
    loop.build_from_converted(feats)
    assert loop.tile_count() == loop.tiles().count()

    forest = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    forest._KERNEL_PTS_PER_TASK = 2000
    forest.build_from_converted(feats)
    assert forest.tile_count() == forest.tiles().count()


def test_forest_straggler_matches_loop_layout(spark, tmp_path):
    """Forest wave with STRAGGLER leaves: a giant boundary-crossing
    polygon gives cut cells huge candidate mass with zero
    guaranteed-inside mass, so the subdivision-soundness rule cannot
    split them.  The probe + partition-spread render path (round-5)
    must make them bit-identical to the per-zoom loop — tiles, stats,
    insertion order, and drill-down THROUGH a straggler stop tile's
    task-written per-feature source parts."""
    import json as _json
    import math as _math

    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    opts = TileOptions(index_max_zoom=6, index_max_points=100)
    pages = synth_pages_df(spark, 2500, seed=11)
    ring = [(60.0 * _math.cos(2 * _math.pi * i / 2000),
             60.0 * _math.sin(2 * _math.pi * i / 2000))
            for i in range(2000)]
    ring.append(ring[0])
    giant = _json.dumps({
        "type": "Feature", "id": 999999,
        "properties": {"url": "https://example.test/giant"},
        "geometry": {"type": "Polygon",
                     "coordinates": [[[round(x, 6), round(y, 6)]
                                      for x, y in ring]]},
    }, separators=(",", ":"))
    ingest = extract_geo_features_df(pages).unionByName(
        spark.createDataFrame(
            [(999999, 999999, giant)],
            "input_ord long, gen_index long, feature_json string"))
    feats = features_from_json_df(ingest, opts)

    forest = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    forest._KERNEL_PTS_PER_TASK = 2000
    forest.build_from_converted(feats)
    lin = [_json.loads(ln) for ln in open(tmp_path / "f" / "lineage.json")]
    assert any(r.get("forest") for r in lin), lin
    st = [r for r in lin if r.get("subtree_batch")][0]["steps"]
    assert st.get("n_stragglers", 0) >= 1, st
    assert st.get("n_stops", 0) >= 1, st

    loop = _loop_engine(spark, opts, str(tmp_path / "l"))
    loop.build_from_converted(feats)

    a, b = forest.enumerate_tiles(), loop.enumerate_tiles()
    assert set(a) == set(b)
    assert not [k for k in a if a[k] != b[k]]
    assert forest.tile_coords() == loop.tile_coords()
    ra = {(r["z"], r["x"], r["y"]): r for r in forest.tiles().collect()}
    rb = {(r["z"], r["x"], r["y"]): r for r in loop.tiles().collect()}
    assert ra == rb
    # drill through the straggler region (stop-tile sources) and beyond
    stops = sorted(k for k, r in ra.items()
                   if r["has_source"] and not r["is_split"]
                   and r["num_points"] > 0)
    deep = []
    for z, x, y in stops[:3] + stops[-3:]:
        deep.append((z + 2, 4 * x + 1, 4 * y + 2))
        deep.append((z + 3, 8 * x + 3, 8 * y + 5))
    for zxy in deep + [(0, 0, 0), (9, 255, 255), (12, 2047, 2047)]:
        ta, tb = forest.get_tile(*zxy), loop.get_tile(*zxy)
        assert (ta is None) == (tb is None), zxy
        if ta is not None:
            assert ta["features"] == tb["features"], zxy


def test_forest_kill_resume_into_loop_leaves_no_phantoms(spark, tmp_path):
    """A kill mid-forest-wave leaves partial TASK-side store parts
    (subtree b=1, tilefeat z=N) with no lineage.  If the resume then
    runs the per-zoom LOOP (different handoff/render levels), the
    stale parts must not surface as phantom/duplicate tiles — resume
    with zero complete lineage rows performs the fresh-build store
    cleanup."""
    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    opts = TileOptions(index_max_zoom=6, index_max_points=100)
    pages = synth_pages_df(spark, 2500, seed=11)
    feats = features_from_json_df(extract_geo_features_df(pages), opts)

    # loop-only oracle in a separate workdir
    loop = _loop_engine(spark, opts, str(tmp_path / "l"))
    loop.build_from_converted(feats)
    want = loop.enumerate_tiles()

    # forest build, then simulate the kill: all stores on disk but the
    # lineage (which the forest writes LAST) never landed
    forest = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    forest._KERNEL_PTS_PER_TASK = 2000
    forest.build_from_converted(feats)
    (tmp_path / "f" / "lineage.json").unlink()
    assert (tmp_path / "f" / "subtree" / "b=1").exists()

    # resume through the LOOP path on the same workdir
    resumed = _loop_engine(spark, opts, str(tmp_path / "f"))
    resumed.build_from_converted(feats, resume=True)
    got = resumed.enumerate_tiles()
    assert set(got) == set(want)
    assert not [k for k in got if got[k] != want[k]]
    assert resumed.tile_coords() == loop.tile_coords()


def test_forest_resume_recreates_lost_subtree_store(spark, tmp_path):
    """A completed forest build whose subtree store is lost (deleted /
    disk swap) must re-create it on resume from the leaf cut keys
    recorded in the forest lineage row — not silently return 'build
    already finished' with most tiles missing."""
    import json as _json
    import shutil as _sh

    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    opts = TileOptions(index_max_zoom=6, index_max_points=100)
    pages = synth_pages_df(spark, 2500, seed=11)
    feats = features_from_json_df(extract_geo_features_df(pages), opts)

    forest = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    forest._KERNEL_PTS_PER_TASK = 2000
    forest.build_from_converted(feats)
    want = forest.enumerate_tiles()
    lin = [_json.loads(ln) for ln in open(tmp_path / "f" / "lineage.json")]
    final = [r for r in lin if r.get("final")][0]
    assert final.get("forest") and final.get("handoff"), final

    _sh.rmtree(tmp_path / "f" / "subtree")
    resumed = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    resumed._KERNEL_PTS_PER_TASK = 2000
    resumed.build_from_converted(feats, resume=True)
    got = resumed.enumerate_tiles()
    assert set(got) == set(want)
    assert not [k for k in got if got[k] != want[k]]


def test_full_kill_resume_reenters_forest_path(spark, tmp_path):
    """A crash-resume with nothing durable except the features
    checkpoint must re-enter the same build path the original attempt
    took: the resume agg re-derives the z0 classification stats in the
    same pass as the wrap counts, so a forest-eligible corpus rebuilds
    through the forest wave, not the per-zoom loop."""
    import json as _json
    import shutil as _sh

    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    opts = TileOptions(index_max_zoom=6, index_max_points=100)
    pages = synth_pages_df(spark, 2500, seed=11)
    feats = features_from_json_df(extract_geo_features_df(pages), opts)

    forest = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    forest._KERNEL_PTS_PER_TASK = 2000
    forest.build_from_converted(feats)
    want = forest.enumerate_tiles()

    # kill everything but the features checkpoint
    for store in ("tiles", "tilefeat", "subtree", "sources", "frontier"):
        p = tmp_path / "f" / store
        if p.exists():
            _sh.rmtree(p)
    (tmp_path / "f" / "lineage.json").unlink()

    resumed = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    resumed._KERNEL_PTS_PER_TASK = 2000
    resumed.build_from_converted(feats, resume=True)
    lin = [_json.loads(ln) for ln in open(tmp_path / "f" / "lineage.json")]
    assert any(r.get("forest") for r in lin), lin  # same path, not loop
    got = resumed.enumerate_tiles()
    assert set(got) == set(want)
    assert not [k for k in got if got[k] != want[k]]


def test_vertex_probe_proves_boundary_cluster_split(spark, tmp_path):
    """A dense cluster STRADDLING a cell edge defeats the bbox gate's
    fully-inside proof (every bbox crosses the boundary, i == 0) but
    not the vertex-survival prover: strictly-inside vertices survive
    the clip, so their per-cell count is an exact lower bound on
    post-clip num_points.  The cut must subdivide the boundary cells
    (internal, no funneled mega-task), the probe counts must equal a
    driver-side recount with the same window floats, and the forest
    output must stay loop-identical."""
    import json as _json
    import math

    from geojson_vt_spark.pipeline import (features_from_json_df,
                                           forest_vertex_probe_df)

    # 300 hexagons crossing the x=0.5 meridian line, each wider than
    # 2x the buffer margin so NO z1 buffered window fully contains it
    rows = []
    for i in range(300):
        cx_lon = (0.47 + (i % 60) * 0.001 - 0.5 + 0.03) * 360.0
        cy_lat = (i % 7 - 3) * 2.0
        ring = []
        for k in range(6):
            a = 2 * math.pi * k / 6
            ring.append([round(cx_lon + 11.0 * math.cos(a), 5),
                         round(cy_lat + 5.0 * math.sin(a), 5)])
        ring.append(ring[0])
        fj = ('{"type":"Feature","properties":{},"geometry":'
              '{"type":"Polygon","coordinates":[' +
              _json.dumps(ring) + ']}}')
        rows.append((i, None, fj))
    src = spark.createDataFrame(
        rows, "input_ord long, gen_index long, feature_json string")

    opts = TileOptions(index_max_zoom=5, index_max_points=100)
    feats = features_from_json_df(src, opts)

    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    eng._KERNEL_PTS_PER_TASK = 500
    fr0 = eng._frontier0_view(feats)

    # exact-count check: probe == driver-side recount on the same
    # strict window floats
    roots = [(1, 0, 0), (1, 1, 0), (1, 0, 1), (1, 1, 1)]
    got = {(r["lvl"], r["x"], r["y"]): r["v"]
           for r in forest_vertex_probe_df(fr0, opts, roots,
                                           [1, 2]).collect()}
    k1c = 0.5 * opts.buffer / opts.extent
    k2c, k3c, k4c = 0.5 - k1c, 0.5 + k1c, 1 + k1c

    def window(lvl, c):
        z2l = float(1 << (lvl - 1))
        par = float(c >> 1)
        if c & 1:
            return (par + k2c) / z2l, (par + k4c) / z2l
        return (par - k1c) / z2l, (par + k3c) / z2l

    want = {}
    for row in fr0.select("coords").collect():
        cs = row["coords"]
        for j in range(0, len(cs), 3):
            vx, vy = cs[j], cs[j + 1]
            for lvl in (1, 2):
                for cx in range(1 << lvl):
                    xlo, xhi = window(lvl, cx)
                    if not (xlo < vx < xhi):
                        continue
                    for cy in range(1 << lvl):
                        ylo, yhi = window(lvl, cy)
                        if ylo < vy < yhi:
                            k = (lvl, cx, cy)
                            want[k] = want.get(k, 0) + 1
    assert got == want

    # the bbox gate alone cannot prove the straddling cells split
    from geojson_vt_spark.pipeline import forest_gate_df
    gate = forest_gate_df(fr0, opts, eng._FOREST_MAX_LEVEL).collect()
    z1 = {(r["lvl"], r["x"], r["y"]): (r["m"], r["i"])
          for r in gate if r["lvl"] == 1}
    budget = eng._KERNEL_PTS_PER_TASK
    imz = opts.index_max_zoom
    blind = [k for k, (m, i) in z1.items()
             if m * (imz - 1) > budget and i <= opts.index_max_points]
    assert blind, z1  # the scenario really is i-blind

    # full build: the cut must subdivide (vprobe ran, internals exist)
    eng.build_from_converted(feats)
    lin = [_json.loads(ln) for ln in open(tmp_path / "f" / "lineage.json")]
    st = [r for r in lin if r.get("subtree_batch")][0]["steps"]
    assert st.get("vprobe") is not None, st
    assert st["n_internal"] >= 1, st

    loop = _loop_engine(spark, opts, str(tmp_path / "l"))
    loop.build_from_converted(feats)
    a, b = eng.enumerate_tiles(), loop.enumerate_tiles()
    assert set(a) == set(b)
    assert not [k for k in a if a[k] != b[k]]
    assert eng.tile_coords() == loop.tile_coords()


def test_slot_wave_matches_group_wave(spark, tmp_path):
    """_slot_values pins the driver-packed slot wave's placement: the
    driver's chosen ints must hash onto distinct shuffle buckets (a
    bijection onto 0..g-1), so each LPT bin is exactly one task."""
    from pyspark.sql import functions as F

    eng = SparkTileEngine(spark, TileOptions(), workdir=str(tmp_path))
    vals = eng._slot_values(13)
    got = (spark.createDataFrame([(v,) for v in vals], "v int")
           .select(F.pmod(F.hash("v"), F.lit(13)).alias("b")).collect())
    assert sorted(r["b"] for r in got) == list(range(13))


def _window_fn(opts):
    """Scalar buffered window of cell ``c`` at zoom ``lvl`` — the float
    sequence the kernel clips against."""
    from geojson_vt_spark.pipeline import _cell_window
    k1c = 0.5 * opts.buffer / opts.extent
    k = (k1c, 0.5 - k1c, 0.5 + k1c, 1 + k1c)
    return lambda lvl, c: _cell_window(lvl, c, *k)


def _strict_vertex_recount(rows, opts, roots, levels):
    """Driver recount of forest_vertex_probe_df: vertices strictly
    inside each cell window, over rows whose bbox overlaps a root."""
    window = _window_fn(opts)

    def overlaps(r, lvl, x, y):
        xlo, xhi = window(lvl, x)
        ylo, yhi = window(lvl, y)
        return not (r["maxx"] < xlo or r["minx"] >= xhi
                    or r["maxy"] < ylo or r["miny"] >= yhi)

    want = {}
    for r in rows:
        if not any(overlaps(r, *root) for root in roots):
            continue
        cs = r["coords"]
        for j in range(0, len(cs), 3):
            vx, vy = cs[j], cs[j + 1]
            for lvl in levels:
                for cx in range(1 << lvl):
                    xlo, xhi = window(lvl, cx)
                    if not (xlo < vx < xhi):
                        continue
                    for cy in range(1 << lvl):
                        ylo, yhi = window(lvl, cy)
                        if ylo < vy < yhi:
                            k = (lvl, cx, cy)
                            want[k] = want.get(k, 0) + 1
    return want


def test_vertex_probe_skips_empty_coords_row(spark, tmp_path):
    """A frontier row with an EMPTY coords array (and a bbox over the
    probed roots) must not fail the vertex probe under ANSI mode —
    sequence(0, -1) would index the empty array — and contributes no
    vertex: counts equal the driver recount."""
    import json as _json
    import math

    from pyspark.sql import functions as F

    from geojson_vt_spark.pipeline import (features_from_json_df,
                                           forest_vertex_probe_df)

    rows = []
    for i in range(60):
        cx_lon = (0.47 + (i % 30) * 0.001 - 0.5 + 0.03) * 360.0
        ring = [[round(cx_lon + 11.0 * math.cos(2 * math.pi * k / 6), 5),
                 round((i % 7 - 3) * 2.0
                       + 5.0 * math.sin(2 * math.pi * k / 6), 5)]
                for k in range(6)]
        ring.append(ring[0])
        rows.append((i, None, '{"type":"Feature","properties":{},'
                     '"geometry":{"type":"Polygon","coordinates":['
                     + _json.dumps(ring) + ']}}'))
    opts = TileOptions(index_max_zoom=5, index_max_points=100)
    feats = features_from_json_df(spark.createDataFrame(
        rows, "input_ord long, gen_index long, feature_json string"), opts)
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    fr0 = eng._frontier0_view(feats)
    empty = fr0.limit(1).withColumn(
        "coords", F.expr("CAST(array() AS array<double>)"))
    fr0 = fr0.unionByName(empty)
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"

    roots = [(1, 0, 0), (1, 1, 0), (1, 0, 1), (1, 1, 1)]
    got = {(r["lvl"], r["x"], r["y"]): r["v"]
           for r in forest_vertex_probe_df(fr0, opts, roots,
                                           [1, 2]).collect()}
    frows = fr0.select("coords", "minx", "miny", "maxx", "maxy").collect()
    assert any(len(r["coords"]) == 0 for r in frows)
    assert got == _strict_vertex_recount(frows, opts, roots, [1, 2])


def test_sql_window_builders_match_recount_on_window_edges(spark, tmp_path):
    """The SQL-text gate, router and vertex probe must reproduce the
    scalar window floats exactly: bboxes and
    vertices placed ON window edges (and one ulp either side), with a
    non-power-of-two extent so the window constants are not dyadic,
    agree with a driver recount from pipeline._cell_window."""
    import math

    from geojson_vt_spark.model import FEATURE_SCHEMA
    from geojson_vt_spark.pipeline import (forest_gate_df, forest_route_df,
                                           forest_vertex_probe_df)

    opts = TileOptions(index_max_zoom=6, index_max_points=100,
                       extent=4000, buffer=100)
    window = _window_fn(opts)
    levels = (1, 2, 3)

    def variants(lo, hi):
        dn, up = math.nextafter(lo, -2.0), math.nextafter(hi, 2.0)
        return [(hi, hi), (lo, lo), (lo, hi), (dn, hi), (lo, up), (dn, dn),
                (math.nextafter(hi, -2.0), up)]

    # the forest only sees unwrapped features: bboxes inside [0, 1]
    boxes = []
    for lvl in levels:
        for c in range(1 << lvl):
            xs = variants(*window(lvl, c))
            ys = variants(*window(lvl, (c + 1) % (1 << lvl)))
            for i, (x0, x1) in enumerate(xs):
                for j in (i, (i + 3) % len(ys)):
                    box = (x0, ys[j][0], x1, ys[j][1])
                    if all(0.0 <= v <= 1.0 for v in box):
                        boxes.append(box)
    src = spark.createDataFrame(
        [([i], None, None, "LineString", [x0, y0, 0.0, x1, y1, 0.0], [2],
          None, [0.0], [0.0], [0.0], x0, y0, x1, y1)
         for i, (x0, y0, x1, y1) in enumerate(boxes)], FEATURE_SCHEMA)
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path / "e"))
    fr0 = eng._frontier0_view(src)

    def cells_of(box, lvl):
        x0, y0, x1, y1 = box
        for cx in range(1 << lvl):
            xlo, xhi = window(lvl, cx)
            for cy in range(1 << lvl):
                ylo, yhi = window(lvl, cy)
                if not (x1 < xlo or x0 >= xhi or y1 < ylo or y0 >= yhi):
                    yield cx, cy, (x0 >= xlo and x1 <= xhi
                                   and y0 >= ylo and y1 <= yhi)

    # gate: candidate + fully-inside masses per cell
    want_gate = {}
    for box in boxes:
        for lvl in levels:
            for cx, cy, inside in cells_of(box, lvl):
                m, i = want_gate.get((lvl, cx, cy), (0, 0))
                want_gate[(lvl, cx, cy)] = (m + 2, i + 2 * inside)
    got_gate = {(r["lvl"], r["x"], r["y"]): (r["m"], r["i"])
                for r in forest_gate_df(fr0, opts, max(levels)).collect()}
    assert got_gate == want_gate

    # router: every (row, cut cell) pair, for a cut of half the cells
    cut = {(lvl, x, y) for lvl in levels
           for x in range(1 << lvl) for y in range(1 << lvl)
           if (x + y) % 2 == 0}
    want_route = {(n, lvl, cx, cy)
                  for n, box in enumerate(boxes) for lvl in levels
                  for cx, cy, _ in cells_of(box, lvl)
                  if (lvl, cx, cy) in cut}
    got_route = {(r["ord_path"][1], r["z"], r["x"], r["y"])
                 for r in forest_route_df(fr0, opts, cut).collect()}
    assert got_route == want_route

    # vertex probe: strict inside, vertices on the edges
    roots = [(1, 0, 0), (1, 1, 0), (1, 0, 1), (1, 1, 1)]
    got_v = {(r["lvl"], r["x"], r["y"]): r["v"]
             for r in forest_vertex_probe_df(fr0, opts, roots,
                                             list(levels)).collect()}
    frows = fr0.select("coords", "minx", "miny", "maxx", "maxy").collect()
    assert got_v == _strict_vertex_recount(frows, opts, roots, levels)


def test_forest_straggler_factor_read_at_cut_time(spark, tmp_path):
    """The straggler factor is read from the engine when the cut runs:
    a z1 cell at 3 task budgets with no split proof is a straggler
    under the default factor of 2 and a plain leaf once the factor
    admits 3 budgets."""
    opts = TileOptions(index_max_zoom=6, index_max_points=100)
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path / "s"))
    budget = eng._KERNEL_PTS_PER_TASK
    # one z1 cell at 3 task budgets of work, no split proof (i == 0)
    gate = [{"lvl": 1, "x": 0, "y": 0,
             "m": 3 * budget // (opts.index_max_zoom - 1), "i": 0}]
    leaves, _, _, stragglers = eng._forest_cut(gate)
    assert stragglers == [(1, 0, 0)] and not leaves
    eng._FOREST_STRAGGLER = 3
    leaves, _, _, stragglers = eng._forest_cut(gate)
    assert leaves == [(1, 0, 0)] and not stragglers


def test_forest_gate_failure_awaits_z0_render(spark, tmp_path, monkeypatch):
    """The z0 render starts before the forest gate; when the gate
    raises, the build must wait for the render before propagating —
    the render has finished (its store is committed) and no Spark job
    of the failed build is still running."""
    import geojson_vt_spark.engine as engine_mod
    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    opts = TileOptions(index_max_zoom=6, index_max_points=100)
    feats = features_from_json_df(
        extract_geo_features_df(synth_pages_df(spark, 2500, seed=11)), opts)

    def boom(*_a, **_k):
        raise RuntimeError("gate failed")

    monkeypatch.setattr(engine_mod, "forest_gate_df", boom)
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    eng._KERNEL_PTS_PER_TASK = 2000  # forest path, cut not stats-proven
    with pytest.raises(RuntimeError, match="gate failed"):
        eng.build_from_converted(feats)
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert (tmp_path / "f" / "tilefeat" / "z=0" / "_SUCCESS").exists()


def _clustered_collection(seed: int, n: int) -> dict:
    """Polygons, lines and points around a few metro centres plus a
    uniform background — no feature near the dateline (no wrap)."""
    import math
    import random

    rng = random.Random(seed)
    metros = [(-74.0, 40.7), (2.35, 48.85), (139.7, 35.7), (-46.6, -23.5)]
    feats = []
    for i in range(n):
        if rng.random() < 0.8:
            mx, my = rng.choice(metros)
            cx, cy = rng.gauss(mx, 2.0), rng.gauss(my, 2.0)
        else:
            cx, cy = rng.uniform(-160, 160), rng.uniform(-70, 70)
        kind = rng.random()
        if kind < 0.6:
            k, r = rng.randint(5, 12), rng.uniform(0.05, 1.5)
            ring = [[round(cx + r * math.cos(2 * math.pi * j / k), 6),
                     round(cy + r * math.sin(2 * math.pi * j / k), 6)]
                    for j in range(k)]
            geom = {"type": "Polygon", "coordinates": [ring + [ring[0]]]}
        elif kind < 0.85:
            pts = [[round(cx + rng.uniform(-1, 1), 6),
                    round(cy + rng.uniform(-1, 1), 6)]
                   for _ in range(rng.randint(2, 9))]
            geom = {"type": "LineString", "coordinates": pts}
        else:
            geom = {"type": "Point",
                    "coordinates": [round(cx, 6), round(cy, 6)]}
        feats.append({"type": "Feature", "id": i,
                      "properties": {"n": i % 5}, "geometry": geom})
    return {"type": "FeatureCollection", "features": feats}


def test_forest_stats_proven_cut_skips_gate(spark, tmp_path, monkeypatch):
    """When the z0 stats prove the cut is the four z1 leaves
    (num_points × (imz - 1) ≤ the task budget), the forest build runs
    no gate job: lineage records forest with gate null, and the
    pyramid equals the in-process kernel index tile for tile."""
    import json as _json

    import geojson_vt_spark.engine as engine_mod
    from geojson_vt_spark.kernel import LocalTileIndex
    from geojson_vt_spark.kernel.index import to_id

    data = _clustered_collection(5, 400)
    opts = TileOptions(index_max_zoom=5, index_max_points=50)
    idx = LocalTileIndex(data, opts)
    n_points = idx.tiles[to_id(0, 0, 0)].num_points

    def no_gate(*_a, **_k):
        raise AssertionError("gate job ran")

    monkeypatch.setattr(engine_mod, "forest_gate_df", no_gate)
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    # the smallest budget that still proves the depth-1 cut
    eng._KERNEL_PTS_PER_TASK = n_points * (opts.index_max_zoom - 1)
    eng.build_from_geojson(data)

    lin = [_json.loads(ln) for ln in open(tmp_path / "f" / "lineage.json")]
    assert lin[0]["n_points"] == n_points
    st = [r for r in lin if r.get("subtree_batch")][0]
    assert st.get("forest") and st["steps"]["gate"] is None, st
    assert st["steps"]["n_leaves"] == 4 and st["steps"]["n_internal"] == 0

    want = {f"z{t.z}-{t.x}-{t.y}": idx.get_tile(t.z, t.x, t.y)["features"]
            for t in list(idx.tiles.values())}
    got = eng.enumerate_tiles()
    assert set(got) == set(want)
    assert not [k for k in want if got[k] != want[k]]
    assert eng.tile_coords() == idx.tile_coords
    for zxy in [(6, 37, 24), (7, 75, 48), (8, 220, 101)]:
        a, b = eng.get_tile(*zxy), idx.get_tile(*zxy)
        assert (a is None) == (b is None), zxy
        if a is not None:
            assert a["features"] == b["features"], zxy


def test_forest_blind_leaves_backfilled(spark, tmp_path):
    """Children of a proven internal cell at _FOREST_MAX_LEVEL join the
    cut as BLIND leaves (no gate row).  Those that receive no candidate
    rows produce no wave ack and no subtree part; the build must
    back-fill them as sentinel rows in the tiles store, and the pyramid
    must equal the in-process kernel index tile for tile."""
    import json as _json

    import pyarrow.parquet as pq

    from geojson_vt_spark.kernel import LocalTileIndex

    data = _clustered_collection(5, 200)
    opts = TileOptions(index_max_zoom=8, index_max_points=5)
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    eng._KERNEL_PTS_PER_TASK = 40  # the cut recurses to the gate depth
    eng.build_from_geojson(data)

    lvl = eng._FOREST_MAX_LEVEL
    lin = [_json.loads(ln) for ln in open(tmp_path / "f" / "lineage.json")]
    final = [r for r in lin if r.get("final")][0]
    assert final.get("forest"), final
    blind = {tuple(c) for c in final["handoff"] if c[0] == lvl + 1}
    assert blind, final["handoff"]
    parts = {p for p in (tmp_path / "f" / "subtree" / "b=1").iterdir()}
    acked = {c for c in blind
             if tmp_path / "f" / "subtree" / "b=1" /
             f"part-z{c[0]}-x{c[1]}-y{c[2]}.parquet" in parts}
    empty = blind - acked
    assert acked and empty, (len(acked), len(empty))

    rows = pq.read_table(
        str(tmp_path / "f" / "tiles" / f"z={lvl + 1}")).to_pylist()
    sentinel = {(lvl + 1, r["x"], r["y"]) for r in rows
                if r["num_features"] == 0 and r["num_points"] == 0
                and (r["minx"], r["miny"], r["maxx"], r["maxy"])
                == (2.0, 1.0, -1.0, 0.0)
                and r["has_source"] and not r["is_split"]}
    assert empty <= sentinel, sorted(empty - sentinel)

    idx = LocalTileIndex(data, opts)
    want = {f"z{t.z}-{t.x}-{t.y}": idx.get_tile(t.z, t.x, t.y)["features"]
            for t in list(idx.tiles.values())}
    got = eng.enumerate_tiles()
    assert set(got) == set(want)
    assert not [k for k in want if got[k] != want[k]]
    assert eng.tile_coords() == idx.tile_coords
