"""File-based GeoJSON source (S1): spark.read path must yield the same
pyramid as the in-memory dict path."""

import json

from geojson_vt_spark import TileOptions
from geojson_vt_spark.engine import SparkTileEngine
from geojson_vt_spark.pipeline import features_from_json_df
from geojson_vt_spark.sources import read_geojson

from .util_fixtures import FIXTURE_DIR, load_fixture


def _build_from_file(spark, tmp_path, name, opts):
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path))
    df = read_geojson(spark, f"{FIXTURE_DIR}/{name}")
    eng.build_from_converted(features_from_json_df(df, opts))
    return eng


def test_read_geojson_feature_collection(spark, tmp_path):
    opts = TileOptions(index_max_zoom=0, index_max_points=10000)
    eng = _build_from_file(spark, tmp_path, "collection.json", opts)
    assert eng.enumerate_tiles() == load_fixture("collection-tiles.json")


def test_read_geojson_single_feature(spark, tmp_path):
    opts = TileOptions(index_max_zoom=0, index_max_points=10000)
    eng = _build_from_file(spark, tmp_path, "feature.json", opts)
    assert eng.enumerate_tiles() == load_fixture("feature-tiles.json")


def test_read_geojson_bare_geometry(spark, tmp_path):
    opts = TileOptions(index_max_zoom=0, index_max_points=10000)
    eng = _build_from_file(spark, tmp_path, "single-geom.json", opts)
    assert eng.enumerate_tiles() == load_fixture("single-geom-tiles.json")


def test_read_geojson_preserves_ids_ordinals(spark):
    rows = read_geojson(spark, f"{FIXTURE_DIR}/us-states.json").collect()
    assert len(rows) == 52
    assert [r.input_ord for r in rows] == list(range(52))
    assert json.loads(rows[0].feature_json)["id"] == "01"
