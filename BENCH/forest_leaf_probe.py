#!/usr/bin/env python
"""Diagnose the forest wave's hottest LEAF task at 2M pages.

Build/extract the 2M-page z0 frontier once to
/dev/shm/gvt_probe_frontier.parquet (reused across runs), run the
forest gate and the engine's cut (SparkTileEngine._forest_cut), print
the heaviest cut leaves with (m, i, est-work), then run the leaf wave
(SparkTileEngine._forest_leaf_wave), print the parts and bytes it wrote
to its two stores (subtree/b=1 tile rows, sources/b=1 leaf sources as
FEATURE rows) and the top-10 per-cell acks (secs, n_cand; n counts the
tile and source rows a cell wrote).  BENCH/forest_task_decomp.py
decomposes one cell's task into phases.

    SPARK_GRAFT_CPUS=32 python BENCH/forest_leaf_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FRONTIER = "/dev/shm/gvt_probe_frontier.parquet"
PAGES = int(os.environ.get("SPARK_GRAFT_PAGES", "2000000"))


def main() -> None:
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.driver.memory", "48g")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.parquet.compression.codec", "zstd")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from geojson_vt_spark import TileOptions
    from geojson_vt_spark.engine import SparkTileEngine
    from geojson_vt_spark.pipeline import (features_from_json_df,
                                           forest_gate_df)
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    opts = TileOptions(index_max_zoom=7, index_max_points=1000)
    if not os.path.isdir(FRONTIER):
        t0 = time.monotonic()
        ext = "/dev/shm/gvt_probe_extracted.parquet"
        if not os.path.isdir(ext):
            extract_geo_features_df(
                synth_pages_df(spark, PAGES, seed=42)).write.parquet(ext)
        rows = spark.read.parquet(ext)
        conv = features_from_json_df(rows, opts)
        conv.write.parquet(FRONTIER)
        print(f"features built in {time.monotonic()-t0:.1f}s",
              file=sys.stderr)

    import tempfile
    wd = tempfile.mkdtemp(prefix="gvt_probe_")
    eng = SparkTileEngine(spark, opts, workdir=wd)
    # the ingest stage's rows are the z0 frontier: this view is the
    # shape _read_frontier0() serves from the features checkpoint
    fr0 = eng._frontier0_view(spark.read.parquet(FRONTIER))

    t0 = time.monotonic()
    gate = forest_gate_df(fr0, opts, eng._FOREST_MAX_LEVEL).collect()
    print(f"gate: {time.monotonic()-t0:.2f}s, {len(gate)} cells",
          file=sys.stderr)
    cells = {(r["lvl"], r["x"], r["y"]): (r["m"], r["i"]) for r in gate}

    # the engine's own cut (provers, vertex probe, blind leaves); its
    # per-leaf work estimates are the slot wave's LPT weights
    cut, internals, empties = eng._forest_cut(gate, fr0=fr0)
    est = eng._forest_leaf_work
    print(f"cut: {len(cut)} leaves, {len(internals)} internal, "
          f"{len(empties)} empty; vprobe {eng._forest_vprobe_sec}s",
          file=sys.stderr)
    print("top cut leaves by est work (l,x,y,m,i,work):")
    for c in sorted(cut, key=lambda c: -est[c])[:15]:
        print("  ", (*c, *cells.get(c, (None, None)), est[c]))

    # leaf wave with per-cell acks: the engine's LPT-packed slot wave
    # (pipeline.forest_slot_wave_df) over this cut
    t0 = time.monotonic()
    acks = eng._forest_leaf_wave(cut, fr0)
    wall = time.monotonic() - t0
    acks = sorted(acks, key=lambda r: -r["secs"])
    print(f"leaf wave: {wall:.2f}s, {len(acks)} tasks, "
          f"sum {sum(r['secs'] for r in acks):.1f}s")
    for store in ("subtree", "sources"):
        parts = [os.path.join(wd, store, "b=1", f)
                 for f in os.listdir(os.path.join(wd, store, "b=1"))
                 if f.endswith(".parquet")]
        print(f"  {store}/b=1: {len(parts)} parts, "
              f"{sum(map(os.path.getsize, parts)) / 1e6:.1f} MB")
    print("top-10 acks (z,x,y,n_cand,secs):")
    for r in acks[:10]:
        k = (r["z"], r["x"], r["y"])
        print(f"   z{r['z']} ({r['x']},{r['y']}) n_cand={r['n_cand']} "
              f"secs={r['secs']:.2f} est_work={est.get(k)}")
    with open("/tmp/leaf_probe_acks.json", "w") as f:
        json.dump([{k: r[k] for k in ("z", "x", "y", "n", "n_cand",
                                      "secs")} for r in acks], f)
    import shutil
    shutil.rmtree(wd, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
