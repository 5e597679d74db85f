"""Iceberg-style snapshot metadata: per-commit file manifests + an
atomically advanced VERSION pointer over the plain-parquet stores."""

import json
import os

from geojson_vt_spark import TileOptions
from geojson_vt_spark.engine import SparkTileEngine

from .util_fixtures import load_fixture


def _build(spark, tmp_path):
    # a small task budget gives a gated cut, so the history holds zoom
    # commits over internal-cell stores plus the leaf batch
    eng = SparkTileEngine(spark, TileOptions(index_max_zoom=3,
                                             index_max_points=200),
                          workdir=str(tmp_path))
    eng._KERNEL_PTS_PER_TASK = 500
    eng.build_from_geojson(load_fixture("us-states.json"))
    return eng


def test_snapshot_chain_and_version(spark, tmp_path):
    eng = _build(spark, tmp_path)
    snaps = eng.snapshots()
    assert len(snaps) >= 3
    # contiguous chain, parent links, VERSION points at the head
    ids = [s["snapshot_id"] for s in snaps]
    assert ids == list(range(1, len(snaps) + 1))
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur["parent_id"] == prev["snapshot_id"]
    assert eng.current_snapshot_id() == ids[-1]
    # zoom commits land in zoom order (the resume contract), and the
    # final zoom commit is marked final
    zoom_snaps = [s for s in snaps if s["operation"] == "append-zoom"]
    zooms = [s["commit"]["zoom"] for s in zoom_snaps]
    assert zooms == sorted(zooms)
    assert zoom_snaps[-1]["commit"]["final"] is True
    # every manifest entry exists with the recorded byte size
    assert eng.verify_snapshot() == []


def test_snapshot_verify_catches_corruption(spark, tmp_path):
    eng = _build(spark, tmp_path)
    assert eng.verify_snapshot() == []
    # delete one data file from a committed store
    victim_store = None
    for snap in eng.snapshots():
        for store, files in snap["manifests"].items():
            data = [f for f in files if f["name"].endswith(".parquet")]
            if data:
                victim_store, victim = store, data[0]
                break
        if victim_store:
            break
    assert victim_store is not None
    os.remove(os.path.join(str(tmp_path), *victim_store.split("/"),
                           victim["name"]))
    problems = eng.verify_snapshot()
    assert any("missing" in p for p in problems), problems


def test_snapshot_history_resets_on_fresh_build(spark, tmp_path):
    eng = _build(spark, tmp_path)
    first = eng.current_snapshot_id()
    assert first >= 3
    # rebuilding the same workdir from scratch restarts the history
    eng2 = SparkTileEngine(spark, TileOptions(index_max_zoom=2,
                                              index_max_points=200),
                           workdir=str(tmp_path))
    eng2.build_from_geojson(load_fixture("us-states.json"))
    snaps = eng2.snapshots()
    assert snaps[0]["snapshot_id"] == 1
    assert eng2.verify_snapshot() == []


def test_snapshot_version_pointer_is_atomic_json(spark, tmp_path):
    eng = _build(spark, tmp_path)
    with open(os.path.join(str(tmp_path), "VERSION.json")) as fh:
        v = json.load(fh)
    assert v["snapshot_id"] == eng.current_snapshot_id()
    assert not os.path.exists(os.path.join(str(tmp_path),
                                           "VERSION.json.tmp"))


def test_snapshot_manifests_every_internal_level(spark, tmp_path):
    """A gated build stores internal zooms in tiles/z=N and
    tilefeat/z=N for 0 < N < max zoom; the final commit must manifest
    them, so a deleted tilefeat/z=1 part is reported missing."""
    from .test_pipeline import _mixed_collection

    opts = TileOptions(max_zoom=8, index_max_zoom=4, index_max_points=20)
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path))
    eng._KERNEL_PTS_PER_TASK = 400  # a gated cut: internals + leaves
    eng.build_from_geojson(_mixed_collection(21, 60, wrap=False))
    assert eng.verify_snapshot() == []
    parts = sorted((tmp_path / "tilefeat" / "z=1").glob("part-*.parquet"))
    assert parts
    parts[0].unlink()
    problems = eng.verify_snapshot()
    assert f"tilefeat/z=1/{parts[0].name}: missing" in problems, problems


# Fixture-free twins of the four us-states tests above: the same
# checks over a gated build of a generated collection.

def _build_mixed(spark, tmp_path, index_max_zoom=4):
    from .test_pipeline import _mixed_collection

    eng = SparkTileEngine(spark, TileOptions(max_zoom=8,
                                             index_max_zoom=index_max_zoom,
                                             index_max_points=20),
                          workdir=str(tmp_path))
    eng._KERNEL_PTS_PER_TASK = 400  # a gated cut: internals + leaves
    eng.build_from_geojson(_mixed_collection(21, 60, wrap=False))
    return eng


def test_snapshot_chain_and_version_mixed(spark, tmp_path):
    eng = _build_mixed(spark, tmp_path)
    snaps = eng.snapshots()
    assert len(snaps) >= 3
    ids = [s["snapshot_id"] for s in snaps]
    assert ids == list(range(1, len(snaps) + 1))
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur["parent_id"] == prev["snapshot_id"]
    assert eng.current_snapshot_id() == ids[-1]
    zoom_snaps = [s for s in snaps if s["operation"] == "append-zoom"]
    zooms = [s["commit"]["zoom"] for s in zoom_snaps]
    assert zooms == sorted(zooms)
    assert zoom_snaps[-1]["commit"]["final"] is True
    # the final manifest covers the internal levels and the leaf store
    stores = set(snaps[-1]["manifests"])
    assert {"tiles/z=1", "tilefeat/z=1", "subtree/b=1",
            "sources/b=1"} <= stores, stores
    assert eng.verify_snapshot() == []


def test_snapshot_verify_catches_corruption_mixed(spark, tmp_path):
    eng = _build_mixed(spark, tmp_path)
    assert eng.verify_snapshot() == []
    final = eng.snapshots()[-1]["manifests"]
    victim = next(f for f in final["subtree/b=1"]
                  if f["name"].endswith(".parquet"))
    path = tmp_path / "subtree" / "b=1" / victim["name"]
    path.write_bytes(path.read_bytes()[:-1])
    problems = eng.verify_snapshot()
    assert any(p.startswith(f"subtree/b=1/{victim['name']}: size")
               for p in problems), problems
    path.unlink()
    problems = eng.verify_snapshot()
    assert f"subtree/b=1/{victim['name']}: missing" in problems, problems
    # a deleted leaf-source part
    source = next(f for f in final["sources/b=1"]
                  if f["name"].endswith(".parquet"))
    (tmp_path / "sources" / "b=1" / source["name"]).unlink()
    problems = eng.verify_snapshot()
    assert f"sources/b=1/{source['name']}: missing" in problems, problems


def test_snapshot_history_resets_on_fresh_build_mixed(spark, tmp_path):
    eng = _build_mixed(spark, tmp_path)
    assert eng.current_snapshot_id() >= 3
    eng2 = _build_mixed(spark, tmp_path, index_max_zoom=2)
    snaps = eng2.snapshots()
    assert snaps[0]["snapshot_id"] == 1
    # one commit per lineage row of the new build, none of the old one
    assert eng2.current_snapshot_id() == len(snaps) == \
        len(eng2._read_lineage())
    assert eng2.verify_snapshot() == []


def test_snapshot_version_pointer_is_atomic_json_mixed(spark, tmp_path):
    eng = _build_mixed(spark, tmp_path)
    with open(os.path.join(str(tmp_path), "VERSION.json")) as fh:
        v = json.load(fh)
    assert v["snapshot_id"] == eng.current_snapshot_id()
    assert not os.path.exists(os.path.join(str(tmp_path),
                                           "VERSION.json.tmp"))
