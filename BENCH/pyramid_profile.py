#!/usr/bin/env python
"""Per-stage pyramid profile on the standalone grid (or local[]).

Builds the bench pyramid once with a KEPT workdir and prints every
lineage row (the forest's wall_sec + steps breakdown: gate, vertex
probe, z0 render, internal walk, leaf-wave walls) as JSON — the
stage-by-stage decomposition of the build's critical path.

Launch (grid up, gvt.zip built — see BENCH/SCALING.md):

    TMPDIR=/dev/shm SPARK_GRAFT_PAGES=2000000 \
    /opt/spark/bin/spark-submit --master spark://127.0.0.1:7077 \
        --py-files /tmp/gvt.zip --conf spark.cores.max=8  \
        BENCH/pyramid_profile.py
    ... same with spark.cores.max=32

Local proxy:  SPARK_GRAFT_CPUS=8 python BENCH/pyramid_profile.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    builder = (SparkSession.builder.appName("gvt-pyramid-profile")
               # GVT_EXEC_CORES: small-executor topology probe (e.g. 2
               # -> cores.max=2 vs 8 is a true 1-executor vs
               # 4-executor comparison inside the sandbox host's
               # productive-thread envelope)
               .config("spark.executor.cores",
                       os.environ.get("GVT_EXEC_CORES", "8"))
               .config("spark.executor.memory",
                       os.environ.get("GVT_EXEC_MEM", "20g"))
               .config("spark.sql.adaptive.enabled", "true")
               .config("spark.sql.adaptive.coalescePartitions.enabled",
                       "true")
               .config("spark.scheduler.mode", "FAIR")
               .config("spark.sql.execution.arrow.pyspark.enabled", "true")
               .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                       "20000")
               .config("spark.sql.parquet.compression.codec", "zstd")
               .config("spark.ui.enabled", "false"))
    if cpus:
        builder = (builder.master(f"local[{cpus}]")
                   .config("spark.driver.memory",
                           os.environ.get("GVT_DRIVER_MEM", "48g")))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    deadline = time.time() + 60
    want = int(spark.conf.get("spark.cores.max", "0") or 0)
    while want and time.time() < deadline:
        if sc.defaultParallelism >= want:
            break
        time.sleep(0.5)
    cores = sc.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(cores))

    from geojson_vt_spark import TileOptions
    from geojson_vt_spark.engine import SparkTileEngine
    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    n_pages = int(os.environ.get("SPARK_GRAFT_PAGES", "2000000"))
    opts = TileOptions(index_max_zoom=7, index_max_points=1000)
    wd = tempfile.mkdtemp(prefix="gvt_prof_")

    # warmup (same as bench_pyramid)
    warm_wd = tempfile.mkdtemp(prefix="gvt_warm_")
    warm = SparkTileEngine(spark, opts, workdir=warm_wd)
    warm.build_from_converted(features_from_json_df(
        extract_geo_features_df(synth_pages_df(spark, 2000, seed=7)), opts))
    import shutil
    shutil.rmtree(warm_wd, ignore_errors=True)

    ext = os.path.join(wd, "_extracted")
    extract_geo_features_df(
        synth_pages_df(spark, n_pages, seed=42)).write.parquet(ext)
    rows = spark.read.parquet(ext)

    eng = SparkTileEngine(spark, opts, workdir=wd)
    t0 = time.monotonic()
    eng.build_from_converted(features_from_json_df(rows, opts))
    n_tiles = eng.tiles().count()
    dt = time.monotonic() - t0

    lineage = eng._read_lineage()
    print(json.dumps({
        "cores": cores, "pages": n_pages, "wall": round(dt, 2),
        "tiles": n_tiles, "workdir": wd, "lineage": lineage}))
    if os.environ.get("GVT_PROF_KEEP", "0") != "1":
        shutil.rmtree(wd, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
