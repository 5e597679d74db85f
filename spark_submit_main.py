#!/usr/bin/env python
"""spark-submit entry point (north_rule launch surface).

    spark-submit --master local[32] \
        --py-files geojson_vt_spark.zip spark_submit_main.py \
        --pages 30000 --index-max-zoom 7 --workdir /tmp/gvt_out

Builds the full corpus→pyramid index with checkpointed lineage and
prints the lineage rows + totals.  Re-running with --resume and the same
--workdir skips a finished build (re-running only a lost leaf wave) and
restarts an unfinished one from the features checkpoint (kill-safe).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=10000)
    ap.add_argument("--index-max-zoom", type=int, default=6)
    ap.add_argument("--index-max-points", type=int, default=1000)
    ap.add_argument("--workdir", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from geojson_vt_spark import TileOptions
    from geojson_vt_spark.engine import SparkTileEngine
    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    spark = (SparkSession.builder.appName("geojson-vt-spark")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.scheduler.mode", "FAIR")
             .getOrCreate())

    opts = TileOptions(index_max_zoom=args.index_max_zoom,
                       index_max_points=args.index_max_points)
    eng = SparkTileEngine(spark, opts, workdir=args.workdir)

    pages = synth_pages_df(spark, args.pages, seed=args.seed)
    feats = features_from_json_df(extract_geo_features_df(pages), opts)
    eng.build_from_converted(feats, resume=args.resume)

    lineage = eng._read_lineage()
    print(json.dumps({"workdir": eng.workdir,
                      "zooms": lineage,
                      "total_tiles": eng.total_tiles()}))
    spark.stop()


if __name__ == "__main__":
    main()
