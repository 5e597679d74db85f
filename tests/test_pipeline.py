"""Distributed split-path differential: the per-zoom loop (whose
crossing features run the Arrow-native split kernel in
pipeline.split_children_df) must match the object kernel — itself
pinned to the live reference by test_property_parity — on corpora
mixing every geometry kind, id shape, and lineMetrics, with a tiny
handoff budget so splits happen at every zoom instead of fusing into
one wave."""

import random

from geojson_vt_spark import TileOptions
from geojson_vt_spark.engine import SparkTileEngine
from geojson_vt_spark.kernel import LocalTileIndex

from .test_property_parity import _rand_geometry


def _mixed_collection(seed: int, n: int) -> dict:
    rng = random.Random(seed)
    feats = []
    for i in range(n):
        f = {"type": "Feature",
             "properties": {"p": rng.randint(0, 9), "prop0": f"v{i}"},
             "geometry": _rand_geometry(rng)}
        fid = rng.choice([None, i, str(i), f"id-{i}"])
        if fid is not None:
            f["id"] = fid
        feats.append(f)
    return {"type": "FeatureCollection", "features": feats}


def test_split_files_direct_matches_dataframe_split(spark, tmp_path):
    """The direct per-file split (task-side pyarrow I/O, no JVM
    geometry crossing) must emit the exact row multiset of the
    declarative split_children_df path, and its ack-aggregated stats
    must equal the blocking groupBy."""
    import os

    from pyspark.sql import functions as F

    from geojson_vt_spark.engine import SparkTileEngine, _pack_xy
    from geojson_vt_spark.pipeline import (split_children_df,
                                           split_files_direct)

    data = _mixed_collection(123, 60)
    opts = TileOptions(max_zoom=5, index_max_zoom=4, index_max_points=4,
                       tolerance=1, buffer=64, line_metrics=True)
    eng = SparkTileEngine(spark, opts, workdir=str(tmp_path / "wd"),
                          subtree_max_points=30)
    eng.build_from_geojson(data)
    lineage = eng._read_lineage()
    z = 1
    heavy = [tuple(k) for r in lineage
             if r.get("zoom") == z and "heavy" in r
             for k in r["heavy"]]
    assert heavy, "fixture produced no heavy z1 tiles"
    in_dir = os.path.join(str(tmp_path / "wd"), "frontier", f"z={z}")
    assert os.path.isdir(in_dir)

    stats, acks = split_files_direct(
        spark, z, heavy, opts, in_dir, str(tmp_path / "direct_out"))
    got = spark.read.parquet(str(tmp_path / "direct_out")).drop("n_verts")

    fr = spark.read.parquet(in_dir)
    hp = [_pack_xy(x, y) for x, y in heavy]
    pack = (F.shiftleft(F.col("x").cast("long"), 25)
            + F.col("y").cast("long"))
    fr_heavy = fr.where(
        F.col("x").isin([int(x) for x, _ in heavy]) &
        F.col("y").isin([int(y) for _, y in heavy]) & pack.isin(hp))
    want = split_children_df(fr_heavy, z, opts)

    def canon(df):
        rows = [tuple(repr(v) for v in r) for r in
                df.select(*sorted(df.columns)).collect()]
        return sorted(rows)

    assert canon(got) == canon(want)

    agg = {(r["x"], r["y"]): r for r in
           (want.groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("nf"),
                 (F.sum(F.size("coords")) / 3).cast("long").alias("np"),
                 F.min("minx").alias("minx"), F.min("miny").alias("miny"),
                 F.max("maxx").alias("maxx"), F.max("maxy").alias("maxy"))
            .collect())}
    assert {(s["x"], s["y"]) for s in stats} == set(agg)
    for s in stats:
        w = agg[(s["x"], s["y"])]
        assert (s["num_features"], s["num_points"]) == (w["nf"], w["np"])
        assert (s["minx"], s["miny"], s["maxx"], s["maxy"]) == \
            (w["minx"], w["miny"], w["maxx"], w["maxy"]), s


def test_split_arrow_loop_matches_object_kernel(spark, tmp_path):
    data = _mixed_collection(77, 48)
    for lm in (False, True):
        opts = TileOptions(max_zoom=5, index_max_zoom=3,
                           index_max_points=8, tolerance=1, buffer=64,
                           line_metrics=lm)
        eng = SparkTileEngine(spark, opts,
                              workdir=str(tmp_path / f"lm{int(lm)}"),
                              subtree_max_points=40)
        eng.build_from_geojson(data)
        idx = LocalTileIndex(data, opts)
        expected = {}
        for t in list(idx.tiles.values()):
            expected[f"z{t.z}-{t.x}-{t.y}"] = \
                idx.get_tile(t.z, t.x, t.y)["features"]
        got = eng.enumerate_tiles()
        assert set(got) == set(expected), lm
        bad = [k for k in expected if got[k] != expected[k]]
        assert not bad, (lm, bad[:5])
        # drill past the built pyramid on both sides
        for zxy in [(5, 15, 15), (4, 7, 8), (5, 0, 17)]:
            a = eng.get_tile(*zxy)
            b = idx.get_tile(*zxy)
            assert (a is None) == (b is None), zxy
            if a is not None:
                assert a["features"] == b["features"], zxy
