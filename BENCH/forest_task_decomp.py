#!/usr/bin/env python
"""Phase-level decomposition of ONE hot forest leaf task, isolated.

Pulls the routed candidate rows for a named cut cell out of the cached
2M-page frontier (built by forest_leaf_probe.py), then runs the wave
kernel body single-threaded with per-phase timers: arrow->state
materialization, ord sort, z0->cell clip chain, subtree descent +
render, out-pdf pack, parquet write.

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

    # ---- task body, single-threaded, no Spark ----
    import numpy as np
    import pyarrow as pa

    from geojson_vt_spark.pipeline import (_arrow_state, _subtree_out_pdf,
                                           _write_subtree_part,
                                           batch_split_subtree)
    from geojson_vt_spark.kernel.vec import batch_clip

    t = {}
    t0 = time.monotonic()
    ords = tbl.column("ord_path").to_pylist()
    order = sorted(range(len(ords)), key=ords.__getitem__)
    tbl2 = tbl.take(pa.array(order, pa.int64())).combine_chunks()
    t["ord_sort"] = time.monotonic() - t0

    t0 = time.monotonic()
    rags, gcodes, mnx, mny, mxx, mxy, fids, tagss = _arrow_state(tbl2)
    t["arrow_state"] = time.monotonic() - t0

    k1c = 0.5 * opts.buffer / opts.extent
    k2c, k3c, k4c = 0.5 - k1c, 0.5 + k1c, 1 + k1c
    lm = opts.line_metrics
    fids = np.asarray(fids, dtype=object)
    tagss = np.asarray(tagss, dtype=object)
    t0 = time.monotonic()
    for lvl in range(1, cz + 1):
        z2l = 1 << (lvl - 1)
        axl, ayl = cx >> (cz - lvl), cy >> (cz - lvl)
        pxl, pyl = axl >> 1, ayl >> 1
        n = rags.n_feats
        xk1 = np.full(n, (pxl + (k2c if axl & 1 else -k1c)) / z2l)
        xk2 = np.full(n, (pxl + (k4c if axl & 1 else k3c)) / z2l)
        side = batch_clip(rags, gcodes, mnx, mny, mxx, mxy,
                          xk1, xk2, 0, lm)
        fid_s = fids[side.src]
        tag_s = tagss[side.src]
        m = side.n_feats
        yk1 = np.full(m, (pyl + (k2c if ayl & 1 else -k1c)) / z2l)
        yk2 = np.full(m, (pyl + (k4c if ayl & 1 else k3c)) / z2l)
        q = batch_clip(side.rags, side.gcodes, side.minx, side.miny,
                       side.maxx, side.maxy, yk1, yk2, 1, lm)
        rags, gcodes = q.rags, q.gcodes
        mnx, mny, mxx, mxy = q.minx, q.miny, q.maxx, q.maxy
        fids, tagss = fid_s[q.src], tag_s[q.src]
        print(f"  clip lvl {lvl}: feats={rags.n_feats}")
    t["clip_chain"] = time.monotonic() - t0

    t0 = time.monotonic()
    state = (rags, gcodes, mnx, mny, mxx, mxy, fids, tagss)
    tile_rows, sources = batch_split_subtree(None, cz, cx, cy, opts,
                                             state=state)
    t["subtree"] = time.monotonic() - t0

    t0 = time.monotonic()
    out = _subtree_out_pdf(tile_rows, sources)
    t["out_pdf"] = time.monotonic() - t0

    t0 = time.monotonic()
    _write_subtree_part(out, "/dev/shm/gvt_dec_out", cz, cx, cy)
    t["write"] = time.monotonic() - t0

    print(f"cell z{cz} ({cx},{cy}) tiles={len(tile_rows)} "
          f"rows_out={len(out)}")
    for k, v in t.items():
        print(f"  {k:12s} {v:7.2f}s")
    print(f"  total        {sum(t.values()):7.2f}s")


if __name__ == "__main__":
    main()
