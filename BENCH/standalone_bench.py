#!/usr/bin/env python
"""Standalone-mode scaling probe (north_rule deployment shape).

Runs the bench pyramid + PIP join against a real Spark standalone
cluster (master + separate worker JVMs on localhost) instead of the
local[] proxy, so the N -> 4N comparison measures the actual claimed
topology: one executor JVM (8 cores) vs four executor JVMs (8 cores
each), each with its own Python-worker Arrow pipe.

Launch (master + 4 workers already running, see BENCH/SCALING.md):

    cd /root/repo && zip -qr /tmp/gvt.zip geojson_vt_spark
    spark-submit --master spark://127.0.0.1:7077 \
        --py-files /tmp/gvt.zip \
        --conf spark.cores.max=8   BENCH/standalone_bench.py   # N
    spark-submit --master spark://127.0.0.1:7077 \
        --py-files /tmp/gvt.zip \
        --conf spark.cores.max=32  BENCH/standalone_bench.py   # 4N

Prints one JSON line {"cores": C, "executors": E, "queries": {...}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
os.environ.setdefault("SPARK_GRAFT_PAGES", "120000")
os.environ.setdefault("SPARK_GRAFT_PIP_POINTS", "3000000")


def main() -> None:
    from pyspark.sql import SparkSession

    builder = (SparkSession.builder.appName("gvt-standalone-scaling")
               .config("spark.executor.cores", "8")
               .config("spark.executor.memory", "20g")
               .config("spark.sql.adaptive.enabled", "true")
               .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
               .config("spark.scheduler.mode", "FAIR")
               .config("spark.sql.execution.arrow.pyspark.enabled", "true")
               .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
               # zstd for the per-zoom stores: ~16% fewer bytes and a
               # faster decode than snappy (measured on the frontier
               # store) — the build is store-I/O-heavy at scale
               .config("spark.sql.parquet.compression.codec", "zstd")
               .config("spark.ui.enabled", "false"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # wait until every granted executor has registered, so the first
    # timed job doesn't run on a partial fleet
    deadline = time.time() + 60
    want = int(spark.conf.get("spark.cores.max", "32"))
    sc = spark.sparkContext
    while time.time() < deadline:
        if sc.defaultParallelism >= want:
            break
        time.sleep(0.5)
    n_exec = want // 8
    cores = sc.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(cores))

    import bench

    queries, throughput = {}, {}
    for name in ("pyramid", "pip_join"):
        dt, extra = bench.BENCHES[name](spark)
        queries[name] = round(dt, 3)
        for k, v in extra.items():
            throughput[f"{name}.{k}"] = (round(v, 2)
                                         if isinstance(v, float) else v)
    print(json.dumps({
        "mode": "standalone", "cores": cores, "executors": n_exec,
        "queries": queries, "throughput": throughput,
        "pages": int(os.environ["SPARK_GRAFT_PAGES"]),
        "pip_points": int(os.environ["SPARK_GRAFT_PIP_POINTS"]),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
