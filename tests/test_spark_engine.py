"""Distributed engine parity: the Spark pyramid must reproduce the
reference goldens and the kernel LocalTileIndex tile-for-tile,
byte-identically, on every cut shape, and survive kill-and-resume."""

import json

import pytest

from geojson_vt_spark import TileOptions
from geojson_vt_spark.engine import SparkTileEngine
from geojson_vt_spark.kernel import LocalTileIndex

from .util_fixtures import (assert_engine_matches_index, checkpoint_worlds,
                            load_fixture)


def _gen_tiles_spark(spark, tmp_path, data, **opts):
    merged = {"index_max_zoom": 0, "index_max_points": 10000}
    merged.update(opts)
    eng = SparkTileEngine(spark, TileOptions(**merged), workdir=str(tmp_path))
    eng.build_from_geojson(data)
    return eng


def _corpus(spark, n_pages, seed, opts, extra=()):
    """Converted synthetic-corpus features, plus the same extracted
    features (and ``extra`` ingest rows) as a GeoJSON FeatureCollection
    in input order, for LocalTileIndex."""
    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    ingest = extract_geo_features_df(synth_pages_df(spark, n_pages,
                                                    seed=seed))
    if extra:
        ingest = ingest.unionByName(spark.createDataFrame(
            list(extra), "input_ord long, gen_index long, "
            "feature_json string"))
    rows = sorted(ingest.collect(), key=lambda r: r.input_ord)
    data = {"type": "FeatureCollection",
            "features": [json.loads(r.feature_json) for r in rows]}
    return features_from_json_df(ingest, opts), data


def _lineage(workdir) -> list:
    with open(f"{workdir}/lineage.json") as fh:
        return [json.loads(ln) for ln in fh]


def _steps(workdir) -> dict:
    return [r for r in _lineage(workdir) if r.get("subtree_batch")][0]["steps"]


# drill probes under the synthetic corpus' metros and off the map
_PROBES = [(0, 0, 0), (1, 0, 0), (2, 1, 2), (4, 3, 7), (9, 137, 190),
           (12, 1100, 1500)]


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


def _feats(spark, data, opts):
    from geojson_vt_spark.pipeline import (features_from_json_df,
                                           geojson_to_input_rows)
    return features_from_json_df(spark.createDataFrame(
        geojson_to_input_rows(data),
        "input_ord long, gen_index long, feature_json string"), opts)


def test_wrap_build_kill_resume(spark, tmp_path):
    """Kill-and-resume of a dateline-wrapping build, whose world copies
    live in the features checkpoint, the z0 frontier.  A kill before
    the final lineage row (part of the leaf wave lost, lineage cut
    after its first row) restarts the build from the checkpoint; a
    finished build whose subtree store is lost re-runs the leaf wave
    from the checkpoint on disk.  Both end equal to LocalTileIndex."""
    import shutil

    from .test_pipeline import _mixed_collection

    data = _mixed_collection(21, 60)
    opts = TileOptions(max_zoom=8, index_max_zoom=4, index_max_points=20)
    wd = tmp_path / "w"
    feats = _feats(spark, data, opts)
    eng = SparkTileEngine(spark, opts, workdir=str(wd))
    eng._KERNEL_PTS_PER_TASK = 400  # a gated cut: internals + leaves
    eng.build_from_converted(feats)
    assert not (wd / "frontier").exists()
    assert checkpoint_worlds(eng) == {0, 1, 2}
    st = _steps(wd)
    assert st["n_leaves"] and st["n_internal"], st
    idx = LocalTileIndex(data, opts)
    want = eng.enumerate_tiles()
    assert_engine_matches_index(eng, idx)

    # killed mid-wave: half the leaf parts gone, lineage cut short
    lin = _lineage(wd)
    (wd / "lineage.json").write_text(json.dumps(lin[0]) + "\n")
    parts = sorted((wd / "subtree" / "b=1").glob("part-*.parquet"))
    for f in parts[::2]:
        f.unlink()
    (wd / "subtree" / "b=1" / "_SUCCESS").unlink()
    resumed = SparkTileEngine(spark, opts, workdir=str(wd))
    resumed._KERNEL_PTS_PER_TASK = 400
    resumed.build_from_converted(feats, resume=True)
    assert resumed.enumerate_tiles() == want

    # a finished build that lost its subtree store
    shutil.rmtree(wd / "subtree")
    again = SparkTileEngine(spark, opts, workdir=str(wd))
    again.build_from_converted(feats, resume=True)
    assert again.enumerate_tiles() == want
    assert again.tile_coords() == idx.tile_coords


def test_wrap_build_runs_no_extra_job(spark, tmp_path):
    """The dateline wrap rides the ingest stage: a wrapping build runs
    exactly as many Spark jobs as its non-wrapping twin with the same
    cut shape, render-walk thread included."""
    from .test_pipeline import _mixed_collection

    opts = TileOptions(max_zoom=8, index_max_zoom=4, index_max_points=20)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    jobs, shapes = {}, {}
    for wrap in (True, False):
        wd = tmp_path / f"wrap{wrap}"
        feats = _feats(spark, _mixed_collection(21, 60, wrap), opts)
        eng = SparkTileEngine(spark, opts, workdir=str(wd))
        j0 = sched.nextJobId()
        eng.build_from_converted(feats)
        jobs[wrap] = sched.nextJobId() - j0
        st = _steps(wd)
        shapes[wrap] = (st["gate"] is None, st["n_leaves"],
                        st["n_internal"])
        assert bool(checkpoint_worlds(eng) - {1}) == wrap
    assert shapes[True] == shapes[False], shapes
    assert jobs[True] == jobs[False], jobs


def test_root_only_build_kill_resume(spark, tmp_path):
    """A root-only build (the z0 tile stops) renders z0 and keeps no
    copy of its source: drills read the z0 frontier, a view over the
    features checkpoint, so the workdir holds no sources, subtree or
    frontier store; no other tile exists.  A kill before the final
    lineage row, with the z0 render lost, restarts cleanly, and the
    resumed pyramid — drill-downs through the z0 source included —
    equals LocalTileIndex."""
    import shutil

    data = _clustered_collection(7, 150)
    opts = TileOptions(index_max_zoom=5, index_max_points=100_000)
    wd = tmp_path / "r"
    feats = _feats(spark, data, opts)
    eng = SparkTileEngine(spark, opts, workdir=str(wd))
    eng.build_from_converted(feats)
    rows = eng.tiles().collect()
    assert [(r["z"], r["is_split"], r["has_source"]) for r in rows] == \
        [(0, False, True)]
    assert sorted(p.name for p in wd.iterdir() if p.is_dir()) == \
        ["features", "snapshots", "tilefeat", "tiles"]

    lin = _lineage(wd)
    (wd / "lineage.json").write_text(json.dumps(lin[0]) + "\n")
    shutil.rmtree(wd / "tilefeat")
    resumed = SparkTileEngine(spark, opts, workdir=str(wd))
    resumed.build_from_converted(feats, resume=True)
    assert_engine_matches_index(resumed, LocalTileIndex(data, opts),
                                [(3, 2, 3), (6, 18, 24), (9, 150, 192)])


def test_resume_of_finished_build_runs_no_job(spark, tmp_path):
    """build_from_converted(resume=True) on a finished build reads the
    lineage first and returns without a Spark job: it does not
    re-aggregate the features checkpoint."""
    from .test_pipeline import _mixed_collection

    data = _mixed_collection(9, 40)
    opts = TileOptions(max_zoom=8, index_max_zoom=3, index_max_points=20)
    feats = _feats(spark, data, opts)
    SparkTileEngine(spark, opts, workdir=str(tmp_path)).build_from_converted(
        feats)
    resumed = SparkTileEngine(spark, opts, workdir=str(tmp_path))
    sc = spark.sparkContext
    sc.setJobGroup("gvt-resume-finished", "resume a finished build")
    try:
        resumed.build_from_converted(feats, resume=True)
    finally:
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(
            "gvt-resume-finished"))
        sc.setJobGroup(None, None)
    assert n_jobs == 0, f"no-op resume ran {n_jobs} Spark jobs"
    assert_engine_matches_index(resumed, LocalTileIndex(data, opts))


def test_concurrent_get_tile_waits_for_drill(spark, tmp_path, monkeypatch):
    """Two clients of one engine: while the first drills the z0 source,
    a second request under that source waits for the drill.  Without
    the engine lock it walked past the consumed source, before the
    drill had written the children that now hold it, and answered None
    for a tile that exists.  Then more clients than cores drill one
    fresh engine with frequent thread switches; every answer equals
    LocalTileIndex."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from geojson_vt_spark import engine as engine_mod

    data = _clustered_collection(7, 150)
    opts = TileOptions(index_max_zoom=5, index_max_points=100_000)
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path))
    eng.build_from_converted(_feats(spark, data, opts))
    eng.warm()
    idx = LocalTileIndex(data, opts)
    # two z3 tiles that exist, in different z1 quadrants
    pick = LocalTileIndex(data, opts)
    first, second = [next(c for c in sorted(
        (3, x, y) for x in range(8) for y in range(8)
        if x >> 2 == qx and y >> 2 == qy) if pick.get_tile(*c))
        for qx, qy in ((0, 0), (1, 0))]

    real = engine_mod.batch_split_subtree
    started, release = threading.Event(), threading.Event()

    def paused(*args, **kwargs):
        if not started.is_set():
            started.set()
            release.wait(timeout=30)
        return real(*args, **kwargs)

    monkeypatch.setattr(engine_mod, "batch_split_subtree", paused)
    got: dict = {}

    def client(c):
        got[c] = eng.get_tile(*c)

    a = threading.Thread(target=client, args=(first,))
    a.start()
    assert started.wait(timeout=60)
    b = threading.Thread(target=client, args=(second,))
    b.start()
    b.join(timeout=2)  # unguarded, the second client answers here
    release.set()
    a.join(timeout=60)
    b.join(timeout=60)
    assert not a.is_alive() and not b.is_alive()
    for c in (first, second):
        assert got[c] is not None, c
        assert got[c]["features"] == idx.get_tile(*c)["features"], c

    fresh = SparkTileEngine(spark, opts, workdir=str(tmp_path))
    coords = [(z, x, y) for z in (2, 4, 5) for x in range(0, 1 << z, 3)
              for y in range(1 << z >> 2, 1 << z >> 1)][:48]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=12) as pool:
            futs = [pool.submit(fresh.get_tile, *c) for c in coords]
            answers = [f.result(timeout=120) for f in futs]
    finally:
        sys.setswitchinterval(interval)
    for c, a in zip(coords, answers):
        want = idx.get_tile(*c)
        assert (a is None) == (want is None), c
        if a is not None:
            assert a["features"] == want["features"], c


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
    runs no Spark job: the stores are read on the driver."""
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
    assert n_jobs == 0, f"all-hit batch ran {n_jobs} Spark jobs"
    for c in coords:
        one = eng.get_tile(*c)
        assert batch[c]["features"] == one["features"]


def test_spark_batch_deep_drill_bounded_jobs(spark, tmp_path):
    """A get_tiles batch of 100+ drill-down descendants of two retained
    sources runs no Spark job (the hit, meta and source reads are
    driver-side), with outputs identical to the reference kernel
    per-call path."""
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
    assert n_jobs == 0, f"deep-drill batch ran {n_jobs} Spark jobs"

    ref = LocalTileIndex(data, opts)
    for c in coords:
        want = ref.get_tile(*c)
        if want is None:
            assert batch[c] is None, c
        else:
            assert batch[c]["features"] == want["features"], c


def _gated_clustered_engine(spark, tmp_path):
    """A gated build over _clustered_collection (internal cells in the
    tiles store, leaves in the subtree store) and its LocalTileIndex,
    needing no reference fixture."""
    data = _clustered_collection(7, 400)
    opts = TileOptions(index_max_zoom=4, index_max_points=50)
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path))
    eng._KERNEL_PTS_PER_TASK = 2000  # a gated cut: internals + leaves
    eng.build_from_geojson(data)
    st = _steps(tmp_path)
    assert st["n_internal"] and st["n_leaves"], st
    return eng, LocalTileIndex(data, opts)


def test_spark_get_tiles_all_hit_no_jobs_gated(spark, tmp_path):
    """Fixture-free twin of test_spark_get_tiles_all_hit_two_jobs: an
    all-hit batch over internal (tilefeat) and subtree tiles of a gated
    build, several zooms, runs no Spark job and equals LocalTileIndex."""
    eng, idx = _gated_clustered_engine(spark, tmp_path)
    coords = eng.tile_coords()[::3]
    stats = eng._stats()
    assert any(c in stats and c[0] > 0 for c in coords)
    assert any(c not in stats for c in coords)
    eng.warm()

    sc = spark.sparkContext
    sc.setJobGroup("gvt-batch-hit-gated", "all-hit batch")
    batch = eng.get_tiles(coords)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("gvt-batch-hit-gated"))
    sc.setJobGroup(None, None)
    assert n_jobs == 0, f"all-hit batch ran {n_jobs} Spark jobs"
    for c in coords:
        assert batch[c]["features"] == idx.get_tile(*c)["features"], c


def test_spark_batch_deep_drill_no_jobs_gated(spark, tmp_path):
    """Fixture-free twin of test_spark_batch_deep_drill_bounded_jobs: a
    get_tiles batch of 128 descendants, three levels under two subtree
    leaves of a gated build, drills from the leaves' stored sources
    and then from the drill overlay's sources, runs no Spark job, and
    equals LocalTileIndex."""
    eng, idx = _gated_clustered_engine(spark, tmp_path)
    eng.warm()
    stats = eng._stats()
    leaves = [(r["z"], r["x"], r["y"]) for r in eng.tiles()
              .where("has_source AND num_features > 0")
              .select("z", "x", "y").collect()
              if (r["z"], r["x"], r["y"]) not in stats][:2]
    assert len(leaves) == 2
    dz = 3
    coords = [(z + dz, (x << dz) + dx, (y << dz) + dy)
              for z, x, y in leaves
              for dx in range(1 << dz) for dy in range(1 << dz)]

    sc = spark.sparkContext
    sc.setJobGroup("gvt-batch-drill-gated", "deep drill batch")
    batch = eng.get_tiles(coords)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(
        "gvt-batch-drill-gated"))
    sc.setJobGroup(None, None)
    assert n_jobs == 0, f"deep-drill batch ran {n_jobs} Spark jobs"
    assert len(eng._drill_tiles) > len(leaves)
    for c in coords:
        want = idx.get_tile(*c)
        if want is None:
            assert batch[c] is None, c
        else:
            assert batch[c]["features"] == want["features"], c
    assert eng.tile_coords() == idx.tile_coords


def test_rebuild_drops_drill_overlay(spark, tmp_path):
    """A rebuild of one engine serves the new input only: the tiles and
    sources an earlier drill left in the overlay belong to the old
    pyramid and must go with it.  Kept, they answered a drilled key
    with the old input's tile and appended it to tile_coords()."""
    from .test_pipeline import _mixed_collection

    opts = TileOptions(index_max_zoom=2, index_max_points=100)
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path))
    old = _mixed_collection(5, 300)
    eng.build_from_geojson(old)
    assert (eng.get_tile(6, 0, 1)["features"]
            == LocalTileIndex(old, opts).get_tile(6, 0, 1)["features"])
    assert eng._drill_tiles

    data = _mixed_collection(7, 300)
    eng.build_from_geojson(data)
    assert_engine_matches_index(eng, LocalTileIndex(data, opts),
                                [(6, 0, 1), (5, 3, 9)])


def test_spark_resume_view_mode_corpus(spark, tmp_path):
    """Kill-and-resume of a corpus build, whose z0 frontier is a VIEW
    over the features checkpoint (the corpus never wraps, so the
    checkpoint holds only centre-world rows): a kill after the first
    lineage row, with only the low-zoom stores on disk, restarts the
    build from the checkpoint and ends equal to the full build."""
    import shutil

    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    opts = TileOptions(index_max_zoom=4, index_max_points=200)
    pages = synth_pages_df(spark, 2000, seed=5)
    feats = features_from_json_df(extract_geo_features_df(pages), opts)

    full = SparkTileEngine(spark, opts, workdir=str(tmp_path / "full"))
    full._KERNEL_PTS_PER_TASK = 2000  # a gated cut with internal zooms
    full.build_from_converted(feats)
    assert not (tmp_path / "full" / "frontier").exists()
    assert checkpoint_worlds(full) == {1}

    # simulate a kill after the first lineage row: features + early
    # stores only
    part = tmp_path / "part"
    shutil.copytree(tmp_path / "full" / "features", part / "features")
    for sub in ("tiles", "tilefeat"):
        for zdir in sorted((tmp_path / "full" / sub).glob("z=*")):
            if int(zdir.name.split("=")[1]) <= 1:
                shutil.copytree(zdir, part / sub / zdir.name)
    lines = _lineage(tmp_path / "full")
    (part / "lineage.json").write_text(json.dumps(lines[0]) + "\n")

    resumed = SparkTileEngine(spark, opts, workdir=str(part))
    resumed._KERNEL_PTS_PER_TASK = 2000
    resumed.build_from_converted(feats, resume=True)
    assert resumed.enumerate_tiles() == full.enumerate_tiles()


def test_depth1_forest_matches_loop_layout(spark, tmp_path):
    """A small corpus on a default engine takes the forest with the
    stats-proven depth-1 cut (four z1 leaf tasks, no gate job) and must
    equal LocalTileIndex: tiles, stats, insertion order and drill-downs
    — including z1 roots classified by the in-kernel stop rule and the
    split root's empty children."""
    opts = TileOptions(index_max_zoom=6, index_max_points=500)
    feats, data = _corpus(spark, 2500, 11, opts)

    wave = SparkTileEngine(spark, opts, workdir=str(tmp_path / "w"))
    # approx_rows is still accepted, and ignored
    wave.build_from_converted(feats, approx_rows=2500)

    st = [r for r in _lineage(tmp_path / "w") if r.get("subtree_batch")][0]
    assert st.get("forest") and st["steps"]["gate"] is None, st
    assert st["steps"]["n_leaves"] == 4 and st["steps"]["n_internal"] == 0
    # the wave layout really is one wave (no z1 render) over the
    # checkpoint as the z0 frontier
    assert sorted(p.name for p in (tmp_path / "w").iterdir()
                  if p.is_dir()) == ["features", "snapshots", "sources",
                                     "subtree", "tilefeat", "tiles"]
    assert not (tmp_path / "w" / "tilefeat" / "z=1").exists()
    assert_engine_matches_index(wave, LocalTileIndex(data, opts), _PROBES)
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
    """Forest wave with a gated cut (leaf subtree tasks + narrow renders
    of internal cells + driver empty back-fill) must equal
    LocalTileIndex: same tiles, stats, insertion order, drill-downs.
    _KERNEL_PTS_PER_TASK is shrunk so the stats cannot prove a depth-1
    cut and the cut recurses deep."""
    import shutil as _sh

    opts = TileOptions(index_max_zoom=6, index_max_points=100)
    feats, data = _corpus(spark, 2500, 11, opts)

    forest = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    forest._KERNEL_PTS_PER_TASK = 2000
    forest.build_from_converted(feats)
    assert any(r.get("forest") for r in _lineage(tmp_path / "f"))
    st = _steps(tmp_path / "f")
    assert st["n_leaves"] and st["n_internal"], st
    want = forest.enumerate_tiles()
    assert_engine_matches_index(forest, LocalTileIndex(data, opts), _PROBES)
    assert forest.verify_snapshot() == []

    # kill-and-resume: no lineage → clean rebuild from the checkpoint
    _sh.rmtree(tmp_path / "f" / "subtree")
    (tmp_path / "f" / "lineage.json").unlink()
    resumed = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    resumed._KERNEL_PTS_PER_TASK = 2000
    resumed.build_from_converted(feats, resume=True)
    assert resumed.enumerate_tiles() == want


def test_forest_wave_line_metrics_parity(spark, tmp_path):
    """Forest parity on the lineMetrics + nondefault tolerance/buffer
    surface (the clip-start/end tag injection rides the shared render
    kernel inside the narrow internal-cell render)."""
    opts = TileOptions(index_max_zoom=5, index_max_points=60,
                       line_metrics=True, tolerance=2, buffer=96)
    feats, data = _corpus(spark, 1500, 23, opts)
    forest = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    forest._KERNEL_PTS_PER_TASK = 1500
    forest.build_from_converted(feats)
    assert _steps(tmp_path / "f")["n_internal"]
    assert_engine_matches_index(forest, LocalTileIndex(data, opts))


def test_tile_count_matches_tiles_count(spark, tmp_path):
    """tile_count() (parquet-footer metadata, no Spark job) must equal
    tiles().count() on every cut shape: root-only, depth-1 (the default
    at this size) and a gated cut with internal cells."""
    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    ingest = extract_geo_features_df(synth_pages_df(spark, 2500, seed=11))
    for name, opts, budget in (
            ("r", TileOptions(index_max_zoom=6,
                              index_max_points=10**6), None),
            ("w", TileOptions(index_max_zoom=6, index_max_points=100), None),
            ("f", TileOptions(index_max_zoom=6, index_max_points=100), 2000)):
        eng = SparkTileEngine(spark, opts, workdir=str(tmp_path / name))
        if budget is not None:
            eng._KERNEL_PTS_PER_TASK = budget
        eng.build_from_converted(features_from_json_df(ingest, opts))
        assert eng.tile_count() == eng.tiles().count(), name


def test_forest_unprovable_cells_are_leaves(spark, tmp_path):
    """A giant boundary-crossing polygon gives cut cells huge candidate
    mass with zero guaranteed-inside mass, so no prover can split them.
    Such a cell is a plain leaf of the slot wave, even far over the
    task budget: the lineage records no probe step, the leaves' sources
    live only in the wave's sources/b=1 store, and the pyramid, drills
    through those sources and tileCoords order equal LocalTileIndex."""
    import math as _math

    opts = TileOptions(index_max_zoom=6, index_max_points=100)
    ring = [(60.0 * _math.cos(2 * _math.pi * i / 2000),
             60.0 * _math.sin(2 * _math.pi * i / 2000))
            for i in range(2000)]
    ring.append(ring[0])
    giant = json.dumps({
        "type": "Feature", "id": 999999,
        "properties": {"url": "https://example.test/giant"},
        "geometry": {"type": "Polygon",
                     "coordinates": [[[round(x, 6), round(y, 6)]
                                      for x, y in ring]]},
    }, separators=(",", ":"))
    feats, data = _corpus(spark, 2500, 11, opts,
                          extra=[(999999, 999999, giant)])

    forest = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    forest._KERNEL_PTS_PER_TASK = 2000
    forest.build_from_converted(feats)
    st = _steps(tmp_path / "f")
    assert "probe" not in st and "n_stragglers" not in st, st
    assert st["n_internal"], st
    assert [p.name for p in (tmp_path / "f" / "sources").iterdir()] == \
        ["b=1"]
    # leaves far over the budget (the unprovable ring cells) are in the
    # wave's handoff like any other leaf
    handoff = {tuple(c) for c in _lineage(tmp_path / "f")[-1]["handoff"]}
    over = {c for c, w in forest._forest_leaf_work.items()
            if w > 2 * forest._KERNEL_PTS_PER_TASK}
    assert over and over <= handoff, (over, handoff)

    # drill through retained leaf sources and beyond
    leaves = sorted((r["z"], r["x"], r["y"]) for r in forest.tiles()
                    .where("has_source AND NOT is_split AND num_points > 0")
                    .collect())
    deep = []
    for z, x, y in leaves[:3] + leaves[-3:]:
        deep.append((z + 2, 4 * x + 1, 4 * y + 2))
        deep.append((z + 3, 8 * x + 3, 8 * y + 5))
    assert_engine_matches_index(
        forest, LocalTileIndex(data, opts),
        deep + [(0, 0, 0), (9, 255, 255), (12, 2047, 2047)])


def test_forest_kill_resume_into_loop_leaves_no_phantoms(spark, tmp_path):
    """A kill mid-forest-wave leaves partial TASK-side store parts
    (subtree b=1, tilefeat z=N) with no lineage.  If the resume then
    takes a cut of another shape (the default budget's depth-1 cut
    instead of the gated one, so other handoff and render levels), the
    stale parts must not surface as phantom or duplicate tiles: a
    resume without the final lineage row performs the fresh-build store
    cleanup."""
    opts = TileOptions(index_max_zoom=6, index_max_points=100)
    feats, data = _corpus(spark, 2500, 11, opts)

    # forest build, then simulate the kill: all stores on disk but the
    # lineage (which the forest writes LAST) never landed
    forest = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    forest._KERNEL_PTS_PER_TASK = 2000
    forest.build_from_converted(feats)
    assert _steps(tmp_path / "f")["n_internal"]
    (tmp_path / "f" / "lineage.json").unlink()
    assert (tmp_path / "f" / "subtree" / "b=1").exists()
    assert (tmp_path / "f" / "tilefeat" / "z=2").exists()

    # resume on the same workdir with a cut of another shape
    resumed = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    resumed.build_from_converted(feats, resume=True)
    assert _steps(tmp_path / "f")["n_internal"] == 0
    assert_engine_matches_index(resumed, LocalTileIndex(data, opts))


def test_forest_resume_recreates_lost_subtree_store(spark, tmp_path):
    """A completed forest build whose subtree or sources store is lost
    (deleted / disk swap) must re-create it on resume from the leaf cut
    keys recorded in the forest lineage row — not silently return
    'build already finished' with most tiles or leaf sources
    missing."""
    import json as _json
    import shutil as _sh

    opts = TileOptions(index_max_zoom=6, index_max_points=100)
    feats, data = _corpus(spark, 2500, 11, opts)

    forest = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    forest._KERNEL_PTS_PER_TASK = 2000
    forest.build_from_converted(feats)
    want = forest.enumerate_tiles()
    lin = [_json.loads(ln) for ln in open(tmp_path / "f" / "lineage.json")]
    final = [r for r in lin if r.get("final")][0]
    assert final.get("forest") and final.get("handoff"), final

    for store in ("subtree", "sources"):
        _sh.rmtree(tmp_path / "f" / store)
        resumed = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
        resumed._KERNEL_PTS_PER_TASK = 2000
        resumed.build_from_converted(feats, resume=True)
        assert (tmp_path / "f" / store / "b=1" / "_SUCCESS").exists()
        got = resumed.enumerate_tiles()
        assert set(got) == set(want), store
        assert not [k for k in got if got[k] != want[k]], store
        assert resumed.verify_snapshot() == [], store
    assert_engine_matches_index(resumed, LocalTileIndex(data, opts))


def test_full_kill_resume_reenters_forest_path(spark, tmp_path):
    """A crash-resume with nothing durable except the features
    checkpoint must rebuild the same cut the original attempt took: the
    resume agg re-derives the z0 classification stats from it."""
    import shutil as _sh

    from geojson_vt_spark.engine import _STORES
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
    cut = _steps(tmp_path / "f")

    # kill everything but the features checkpoint
    for store in _STORES:
        p = tmp_path / "f" / store
        if p.exists():
            _sh.rmtree(p)
    (tmp_path / "f" / "lineage.json").unlink()

    resumed = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    resumed._KERNEL_PTS_PER_TASK = 2000
    resumed.build_from_converted(feats, resume=True)
    got_cut = _steps(tmp_path / "f")
    assert [got_cut[k] for k in ("n_leaves", "n_internal", "n_empty")] == \
        [cut[k] for k in ("n_leaves", "n_internal", "n_empty")]
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
    output must equal LocalTileIndex."""
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

    data = {"type": "FeatureCollection",
            "features": [_json.loads(fj) for _, _, fj in rows]}
    assert_engine_matches_index(eng, LocalTileIndex(data, opts))


def test_slot_wave_matches_group_wave(spark, tmp_path):
    """The driver-packed slot wave's placement: rows tagged with LPT
    bins 0..12 land in partition ``bin`` of the wave's exchange under
    the session's AQE, although 13 bins are more than the session's
    shuffle partitions, so each bin is exactly one task.  A build whose
    leaves are packed into more bins than cells per bin must equal
    LocalTileIndex."""
    from pyspark.sql import functions as F

    rows = spark.createDataFrame(
        [(i, i % 13) for i in range(13 * 5)], "id long, bin int")
    got = (rows.repartitionById(13, "bin")
           .select("bin", F.spark_partition_id().alias("pid")).collect())
    assert {(r["bin"], r["pid"]) for r in got} == {
        (b, b) for b in range(13)}

    data = _clustered_collection(3, 300)
    opts = TileOptions(index_max_zoom=5, index_max_points=40)
    wave = SparkTileEngine(spark, opts, workdir=str(tmp_path / "w"))
    wave._KERNEL_PTS_PER_TASK = 300
    wave.build_from_geojson(data)
    st = _steps(tmp_path / "w")
    assert st["n_slots"] > 1 and st["n_leaves"] > st["n_slots"], st
    assert_engine_matches_index(wave, LocalTileIndex(data, opts))


def test_leaf_wave_releases_jvm_arrow_memory(spark, tmp_path):
    """A build's leaf wave hands no JVM Arrow memory to the session for
    good: the allocation of the session's Arrow root allocator is no
    higher after a many-slot build than before it.  A grouped
    applyInArrow wave kept about 0.6 MB per task, which a long-lived
    session (a server, this test suite) eventually runs out of."""
    alloc = spark._jvm.org.apache.spark.sql.util.ArrowUtils.rootAllocator()
    data = _clustered_collection(3, 300)
    opts = TileOptions(index_max_zoom=5, index_max_points=40)
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path))
    eng._KERNEL_PTS_PER_TASK = 300
    before = alloc.getAllocatedMemory()
    eng.build_from_geojson(data)
    assert _steps(tmp_path)["n_slots"] > 4
    assert alloc.getAllocatedMemory() <= before


def test_leaf_wave_leaves_session_conf_alone(spark, tmp_path, monkeypatch):
    """The leaf wave sets no session conf, so a query running beside a
    build sees the session's own settings: inside forest_slot_wave_df
    the shuffle-partition count and AQE partition coalescing read as
    the session's values, and the wave's stage still runs exactly one
    task per LPT bin."""
    import uuid

    import geojson_vt_spark.engine as engine_mod

    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled")
    session = {k: spark.conf.get(k) for k in keys}
    seen = []
    real = engine_mod.forest_slot_wave_df

    def spy(*a, **k):
        seen.append({key: spark.conf.get(key) for key in keys})
        return real(*a, **k)

    monkeypatch.setattr(engine_mod, "forest_slot_wave_df", spy)
    data = _clustered_collection(3, 300)
    opts = TileOptions(index_max_zoom=5, index_max_points=40)
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path))
    eng._KERNEL_PTS_PER_TASK = 300
    sc = spark.sparkContext
    group = f"gvt-wave-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "a many-slot build")
    try:
        eng.build_from_geojson(data)
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        sc.setJobGroup(None, None)
    assert seen == [session]
    n_bins = eng._forest_slot_bins
    assert n_bins > int(session["spark.sql.shuffle.partitions"])
    tracker = sc.statusTracker()
    stages = [tracker.getStageInfo(sid) for j in jobs
              for sid in tracker.getJobInfo(j).stageIds]
    assert n_bins in [st.numTasks for st in stages if st is not None]
    assert_engine_matches_index(eng, LocalTileIndex(data, opts))


def _window_fn(opts):
    """Scalar buffered window of cell ``c`` at zoom ``lvl`` — the float
    sequence the kernel clips against."""
    from geojson_vt_spark.pipeline import _cell_window, _window_consts
    k = _window_consts(opts)
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
    bins = {c: n % 5 for n, c in enumerate(sorted(cut))}
    routed = forest_route_df(fr0, opts, bins).collect()
    got_route = {(r["ord_path"][0], r["z"], r["x"], r["y"])
                 for r in routed}
    assert got_route == want_route
    assert all(r["bin"] == bins[(r["z"], r["x"], r["y"])] for r in routed)

    # vertex probe: strict inside, vertices on the edges
    roots = [(1, 0, 0), (1, 1, 0), (1, 0, 1), (1, 1, 1)]
    got_v = {(r["lvl"], r["x"], r["y"]): r["v"]
             for r in forest_vertex_probe_df(fr0, opts, roots,
                                             list(levels)).collect()}
    frows = fr0.select("coords", "minx", "miny", "maxx", "maxy").collect()
    assert got_v == _strict_vertex_recount(frows, opts, roots, levels)


def test_forest_gate_failure_awaits_z0_render(spark, tmp_path, monkeypatch):
    """The render walk, z0 included, starts once the cut is known; when
    the forest gate raises, the build propagates the error with no
    Spark job of the failed build still running and no z0 tile
    written."""
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
    assert not (tmp_path / "f" / "tilefeat" / "z=0").exists()


def test_failed_build_awaits_every_stage(spark, tmp_path, monkeypatch):
    """A gated build whose leaf wave fails must still await its render
    walk (z0 and the internal cells) before it raises: no stage of the
    failed build is left running, and the pool is shut down."""
    import threading
    import time

    import geojson_vt_spark.engine as engine_mod

    from .test_pipeline import _mixed_collection

    done = threading.Event()

    def wave_boom(*_a, **_k):
        raise RuntimeError("leaf wave failed")

    def slow_walk(*_a, **_k):
        time.sleep(1.5)
        done.set()
        return []

    monkeypatch.setattr(engine_mod, "internal_tree_direct", slow_walk)
    monkeypatch.setattr(SparkTileEngine, "_forest_leaf_wave", wave_boom)
    opts = TileOptions(max_zoom=8, index_max_zoom=4, index_max_points=20)
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path / "w"))
    eng._KERNEL_PTS_PER_TASK = 400  # a gated cut: internals + leaves
    with pytest.raises(RuntimeError) as err:
        eng.build_from_geojson(_mixed_collection(21, 60, wrap=False))
    assert done.is_set()
    assert str(err.value) == "leaf wave failed"


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


def test_forest_blind_leaf_over_budget_is_leaf(spark, tmp_path):
    """A BLIND child (below a proven internal at _FOREST_MAX_LEVEL, no
    gate row) is estimated at a quarter of its parent's mass over the
    imz - l levels its subtree renders.  However far that estimate lies
    over the task budget, the child is a leaf in the wave's handoff,
    and the pyramid still equals LocalTileIndex."""
    data = _clustered_collection(5, 800)
    opts = TileOptions(index_max_zoom=8, index_max_points=5)
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path / "f"))
    eng._KERNEL_PTS_PER_TASK = 40  # the cut recurses to the gate depth
    eng.build_from_geojson(data)

    lvl = eng._FOREST_MAX_LEVEL
    blind = {c for c, w in eng._forest_leaf_work.items()
             if c[0] == lvl + 1 and w > 2 * eng._KERNEL_PTS_PER_TASK}
    assert blind, eng._forest_leaf_work
    handoff = {tuple(c) for c in _lineage(tmp_path / "f")[-1]["handoff"]}
    assert blind <= handoff
    assert "n_stragglers" not in _steps(tmp_path / "f")
    assert_engine_matches_index(eng, LocalTileIndex(data, opts))
