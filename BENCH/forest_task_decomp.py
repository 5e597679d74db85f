#!/usr/bin/env python
"""Phase-level decomposition of ONE hot forest leaf task, isolated.

Pulls the routed candidate rows for a named cut cell out of the cached
2M-page frontier (built by forest_leaf_probe.py), then runs the wave
kernel body (pipeline._wave_cell_kernel) single-threaded with
per-phase timers: Arrow ingress with its ord sort, z0->cell clip
chain, subtree descent + render + leaf-source egress, tile-row table,
and the two part writes (subtree tile rows, leaf sources as FEATURE
rows) under /dev/shm/gvt_dec_out.

    python BENCH/forest_task_decomp.py 5 9 18
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FRONTIER = "/dev/shm/gvt_probe_frontier.parquet"


def main() -> None:
    cz, cx, cy = (int(a) for a in sys.argv[1:4])

    from pyspark.sql import SparkSession, functions as F

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.driver.memory", "24g")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from geojson_vt_spark import TileOptions
    from geojson_vt_spark.engine import SparkTileEngine
    from geojson_vt_spark.pipeline import forest_route_df

    opts = TileOptions(index_max_zoom=7, index_max_points=1000)
    import tempfile
    eng = SparkTileEngine(spark, opts,
                          workdir=tempfile.mkdtemp(prefix="gvt_dec_"))
    fr0 = eng._frontier0_view(spark.read.parquet(FRONTIER))
    routed = forest_route_df(fr0, opts, {(cz, cx, cy): 0})
    t0 = time.monotonic()
    tbl = (routed.where((F.col("z") == cz) & (F.col("x") == cx)
                        & (F.col("y") == cy))
           .drop("z", "x", "y", "bin").toArrow())
    print(f"collect candidates: {time.monotonic()-t0:.2f}s "
          f"rows={tbl.num_rows}")
    spark.stop()
    import shutil
    shutil.rmtree(eng.workdir, ignore_errors=True)

    # ---- task body, single-threaded, no Spark ----
    from geojson_vt_spark.pipeline import (_arrow_state, _clip_chain,
                                           _subtree_table, _write_part,
                                           batch_split_subtree)

    t = {}
    t0 = time.monotonic()
    rags, gcodes, mnx, mny, mxx, mxy, fids, tagss = _arrow_state(tbl)
    t["arrow_state"] = time.monotonic() - t0

    t0 = time.monotonic()
    res, src, _ = _clip_chain((rags, gcodes, mnx, mny, mxx, mxy),
                              cz, cx, cy, opts)
    t["clip_chain"] = time.monotonic() - t0
    print(f"  clipped to the cell: feats={res.n_feats}")

    t0 = time.monotonic()
    state = (res.rags, res.gcodes, res.minx, res.miny, res.maxx, res.maxy,
             fids[src], tagss[src])
    tile_rows, sources = batch_split_subtree(None, cz, cx, cy, opts,
                                             state=state,
                                             root_forced_split=False)
    t["subtree"] = time.monotonic() - t0

    t0 = time.monotonic()
    tiles = _subtree_table(tile_rows)
    t["tile_table"] = time.monotonic() - t0

    t0 = time.monotonic()
    name = f"part-z{cz}-x{cx}-y{cy}.parquet"
    _write_part(tiles, "/dev/shm/gvt_dec_out/subtree", name)
    _write_part(sources, "/dev/shm/gvt_dec_out/sources", name)
    t["write"] = time.monotonic() - t0

    print(f"cell z{cz} ({cx},{cy}) tiles={len(tile_rows)} "
          f"source_rows={sources.num_rows}")
    for k, v in t.items():
        print(f"  {k:12s} {v:7.2f}s")
    print(f"  total        {sum(t.values()):7.2f}s")


if __name__ == "__main__":
    main()
